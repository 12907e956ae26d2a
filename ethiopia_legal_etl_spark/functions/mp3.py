"""Dependency-free MPEG-1 Audio Layer III (MP3) frame-syntax codec
(ISO/IEC 11172-3 §2.4.1.7 / §2.4.2.7).

What IS here — every Layer III stage that has an in-container exact
ground truth, implemented from the public spec with a mirror encoder
so tests verify field-for-field round trips plus analytic bit-length
identities (part2 = 11·slen1 + 10·slen2 for granule 0, the closed
form from the slen table):

- header: the 32-bit MPEG audio header with Layer III slot arithmetic
  (frame bytes = 144 * bitrate / fs + padding);
- side info (17 bytes mono): main_data_begin, scfsi, and per-granule
  part2_3_length, big_values, global_gain, scalefac_compress,
  window_switching_flag, table_select, region counts, preflag,
  scalefac_scale, count1table_select — the full §2.4.1.7 field walk;
- the BIT RESERVOIR: main data is a continuous stream across frames'
  main-data slots, located via the 9-bit backwards byte pointer
  main_data_begin — the writer genuinely packs across frame
  boundaries and the parser genuinely re-assembles (underrun rejects);
- scalefactor decode: slen1/slen2 from the 16-entry scalefac_compress
  table, 21 long-block bands, with scfsi group reuse between
  granule 0 and granule 1 (§2.4.2.7 scfsi semantics).

What is NOT here, and why — the documented blocker, now narrowed to
one spec table: the spectral Huffman stage (big_values / count1
regions) requires ISO 11172-3 Annex B Table B.7 — 34 empirically
optimized code tables (~2000 codeword entries) with NO generative
formula. A transcription error in any entry is INVISIBLE to a
mirror-encoder round trip (both sides would share the bad table), and
this container has no independent decoder (no libmad/minimp3/ffmpeg)
and no ISO 11172-4 compliance bitstreams to differ against. Layer
I/II avoided this because their tables are closed-form-checkable
(scalefactor[i] = 2·2^(-i/3); allocation tables are small arithmetic
ladders). Frames carrying spectral data (part2_3_length > part2, or
big_values > 0) therefore REJECT with ValueError naming the table —
a pipeline must reject what it cannot exactly decode, not mis-decode
it (the functions/g711.py contract). Streams with silent granules
(big_values = 0, no count1 codes) are fully valid Layer III and are
decoded end-to-end, reservoir and all.

Scope: MPEG-1, mono, no CRC, long blocks (window_switching_flag = 0);
everything else rejects with ValueError.
"""

from __future__ import annotations

from ethiopia_legal_etl_spark.functions.mpeg1 import (
    SAMPLE_RATES,
    _BitReader,
    _BitWriter,
)

BITRATES_L3 = [
    None, 32000, 40000, 48000, 56000, 64000, 80000, 96000,
    112000, 128000, 160000, 192000, 224000, 256000, 320000,
]

# ISO 11172-3 §2.4.2.7: scalefac_compress -> (slen1, slen2); slen1
# covers scalefactor bands 0-10, slen2 bands 11-20 (long blocks).
SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]

# scfsi band groups (long blocks): group g covers bands [lo, hi)
SCFSI_BANDS = [(0, 6), (6, 11), (11, 16), (16, 21)]

N_BANDS = 21  # long-block scalefactor bands 0..20
SIDE_INFO_BYTES_MONO = 17
MAX_MAIN_DATA_BEGIN = 511  # 9-bit pointer


def layer3_frame_bytes(bitrate: int, sample_rate: int, padding: int = 0) -> int:
    """Layer III slot arithmetic: one slot = 1 byte (ISO §2.4.2.3)."""
    return 144 * bitrate // sample_rate + padding


def _granule_part2_bits(scalefac_compress: int, scfsi: int, gr: int) -> int:
    """Exact scalefactor bit count (part2) for a granule: granule 0
    always transmits all 21 bands; granule 1 skips scfsi-reused
    groups."""
    slen1, slen2 = SLEN[scalefac_compress]
    bits = 0
    for g, (lo, hi) in enumerate(SCFSI_BANDS):
        if gr == 1 and (scfsi >> (3 - g)) & 1:
            continue  # reused from granule 0, not retransmitted
        for b in range(lo, hi):
            bits += slen1 if b < 11 else slen2
    return bits


def write_layer3_stream(
    frame_specs: list[dict],
    bitrate_index: int = 9,
    sample_rate_index: int = 0,
    use_reservoir: bool = False,
) -> bytes:
    """Encode mono Layer III frames with silent granules (big_values =
    0, no count1 codes): valid, decodable MP3 syntax exercising every
    side-info field, the scalefactor stage, and (optionally) the bit
    reservoir. Each frame spec:
        {"scfsi": 0..15, "granules": [g0, g1]} where each granule is
        {"global_gain": 0..255, "scalefac_compress": 0..15,
         "preflag": 0|1, "scalefac_scale": 0|1,
         "scalefactors": 21 ints, each < 2^slen for its band}.
    Granule 1 scalefactors in scfsi-reused groups are taken from
    granule 0 (per the spec they are not retransmitted)."""
    if not frame_specs:
        raise ValueError("need at least one frame")
    if not 1 <= bitrate_index <= 14 or not 0 <= sample_rate_index <= 2:
        raise ValueError("bad bitrate/sample-rate index")
    bitrate = BITRATES_L3[bitrate_index]
    fs = SAMPLE_RATES[sample_rate_index]
    nbytes = layer3_frame_bytes(bitrate, fs)
    slot_cap = nbytes - 4 - SIDE_INFO_BYTES_MONO
    if slot_cap <= 0:
        raise ValueError("frame too small for side info")

    # Pass 1: build each frame's main-data block (byte-aligned; the
    # spec's stuffing bits make byte alignment legal) and record the
    # exact part2_3_length per granule.
    blocks: list[bytes] = []
    p23: list[tuple[int, int]] = []
    for spec in frame_specs:
        scfsi = spec["scfsi"]
        if not 0 <= scfsi <= 15:
            raise ValueError("scfsi out of range")
        grs = spec["granules"]
        if len(grs) != 2:
            raise ValueError("MPEG-1 Layer III has 2 granules per frame")
        w = _BitWriter()
        lens = []
        for gr, g in enumerate(grs):
            sfc = g["scalefac_compress"]
            if not 0 <= sfc <= 15:
                raise ValueError("scalefac_compress out of range")
            slen1, slen2 = SLEN[sfc]
            sfs = g["scalefactors"]
            if len(sfs) != N_BANDS:
                raise ValueError(f"need {N_BANDS} scalefactors")
            start = len(w._bits)
            for b in range(N_BANDS):
                grp = next(
                    i for i, (lo, hi) in enumerate(SCFSI_BANDS) if lo <= b < hi
                )
                if gr == 1 and (scfsi >> (3 - grp)) & 1:
                    continue  # reused from granule 0
                slen = slen1 if b < 11 else slen2
                if sfs[b] >> slen:
                    raise ValueError(
                        f"scalefactor {sfs[b]} does not fit slen {slen}"
                    )
                if slen:
                    w.write(sfs[b], slen)
            lens.append(len(w._bits) - start)
        blocks.append(w.to_bytes())
        p23.append((lens[0], lens[1]))

    # Pass 2: place blocks into the continuous main-data slot stream.
    # cursor = byte offset in concatenated slot space where the next
    # block starts. Without the reservoir each block starts exactly at
    # its own slot (main_data_begin = 0); with it, blocks pack
    # back-to-back so later frames' main data begins in EARLIER slots.
    md = bytearray()
    begins: list[int] = []
    for i, block in enumerate(blocks):
        slot_start = i * slot_cap
        if not use_reservoir:
            if len(md) < slot_start:
                md.extend(b"\x00" * (slot_start - len(md)))  # stuffing
        begin = slot_start - len(md)
        if begin < 0:
            raise ValueError("main data overruns its frame slot")
        if begin > MAX_MAIN_DATA_BEGIN:
            # pointer only reaches back 511 bytes; re-anchor with
            # stuffing so the stream stays decodable
            md.extend(b"\x00" * (begin - MAX_MAIN_DATA_BEGIN))
            begin = MAX_MAIN_DATA_BEGIN
        begins.append(begin)
        md.extend(block)
        if len(md) > slot_start + slot_cap:
            raise ValueError(
                f"frame {i}: main data does not fit by the end of its slot"
            )
    md.extend(b"\x00" * (len(frame_specs) * slot_cap - len(md)))

    # Pass 3: emit header + side info + this frame's slot bytes.
    out = bytearray()
    for i, spec in enumerate(frame_specs):
        w = _BitWriter()
        w.write(0xFFF, 12)              # syncword
        w.write(1, 1)                   # ID: MPEG-1
        w.write(0b01, 2)                # layer III
        w.write(1, 1)                   # protection: no CRC
        w.write(bitrate_index, 4)
        w.write(sample_rate_index, 2)
        w.write(0, 1)                   # padding
        w.write(0, 1)                   # private
        w.write(0b11, 2)                # mode: single_channel
        w.write(0, 2)                   # mode extension
        w.write(0, 1)                   # copyright
        w.write(0, 1)                   # original
        w.write(0, 2)                   # emphasis: none
        # ---- side info (§2.4.1.7, mono = 17 bytes / 136 bits)
        w.write(begins[i], 9)           # main_data_begin
        w.write(0, 5)                   # private_bits (mono)
        w.write(spec["scfsi"], 4)
        for gr, g in enumerate(spec["granules"]):
            w.write(p23[i][gr], 12)     # part2_3_length (scalefacs only)
            w.write(0, 9)               # big_values = 0 (silent granule)
            w.write(g["global_gain"], 8)
            w.write(g["scalefac_compress"], 4)
            w.write(0, 1)               # window_switching_flag: long blocks
            for _ in range(3):
                w.write(0, 5)           # table_select (unused: no spectrum)
            w.write(0, 4)               # region0_count
            w.write(0, 3)               # region1_count
            w.write(g.get("preflag", 0), 1)
            w.write(g.get("scalefac_scale", 0), 1)
            w.write(0, 1)               # count1table_select
        hdr_side = w.to_bytes(pad_to=4 + SIDE_INFO_BYTES_MONO)
        out += hdr_side
        out += md[i * slot_cap : (i + 1) * slot_cap]
    return bytes(out)


def parse_layer3(payload: bytes) -> list[dict]:
    """Parse consecutive mono Layer III frames -> one dict per frame:
    bitrate, sample_rate, frame_bytes, main_data_begin, scfsi, and per
    granule the full side info plus the 21 decoded scalefactors
    (granule 1's scfsi-reused groups resolved from granule 0, per
    §2.4.2.7). Rejects with ValueError anything outside the exactly-
    decodable subset — including frames carrying spectral Huffman data
    (no in-container ground truth for ISO 11172-3 Table B.7)."""
    frames: list[dict] = []
    sides: list[dict] = []
    slot_stream = bytearray()
    slot_starts: list[int] = []
    pos = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated header")
        h = int.from_bytes(payload[pos : pos + 4], "big")
        if h >> 20 != 0xFFF:
            raise ValueError(f"bad syncword at byte {pos}")
        if not (h >> 19) & 1:
            raise ValueError("MPEG-2 (ID=0) not supported")
        if (h >> 17) & 0b11 != 0b01:
            raise ValueError("not Layer III")
        if not (h >> 16) & 1:
            raise ValueError("CRC-protected frames not supported")
        bitrate_index = (h >> 12) & 0xF
        sr_index = (h >> 10) & 0b11
        padding = (h >> 9) & 1
        mode = (h >> 6) & 0b11
        if bitrate_index in (0, 15):
            raise ValueError(f"bitrate index {bitrate_index} unsupported")
        if sr_index == 3:
            raise ValueError("reserved sampling frequency")
        if mode != 0b11:
            raise ValueError("only single_channel supported")
        bitrate = BITRATES_L3[bitrate_index]
        fs = SAMPLE_RATES[sr_index]
        nbytes = layer3_frame_bytes(bitrate, fs, padding)
        if pos + nbytes > len(payload):
            raise ValueError("truncated frame body")
        if nbytes < 4 + SIDE_INFO_BYTES_MONO:
            raise ValueError("frame too small for side info")
        r = _BitReader(payload[pos + 4 : pos + 4 + SIDE_INFO_BYTES_MONO])
        side: dict = {
            "bitrate": bitrate,
            "sample_rate": fs,
            "frame_bytes": nbytes,
            "main_data_begin": r.read(9),
        }
        r.read(5)  # private_bits
        side["scfsi"] = r.read(4)
        grs = []
        for _gr in range(2):
            g = {
                "part2_3_length": r.read(12),
                "big_values": r.read(9),
                "global_gain": r.read(8),
                "scalefac_compress": r.read(4),
            }
            if r.read(1):  # window_switching_flag
                raise ValueError(
                    "short/mixed blocks (window_switching_flag=1) "
                    "not supported"
                )
            g["table_select"] = [r.read(5) for _ in range(3)]
            g["region0_count"] = r.read(4)
            g["region1_count"] = r.read(3)
            g["preflag"] = r.read(1)
            g["scalefac_scale"] = r.read(1)
            g["count1table_select"] = r.read(1)
            if g["big_values"]:
                raise ValueError(
                    "spectral Huffman data (big_values > 0) has no "
                    "in-container exact ground truth — ISO 11172-3 "
                    "Table B.7 code tables cannot be independently "
                    "verified here; rejecting rather than mis-decoding"
                )
            grs.append(g)
        side["granules"] = grs
        sides.append(side)
        slot_starts.append(len(slot_stream))
        slot_stream += payload[pos + 4 + SIDE_INFO_BYTES_MONO : pos + nbytes]
        pos += nbytes
    if not sides:
        raise ValueError("no frames")

    # Second pass: locate each frame's main data in the continuous
    # slot stream via main_data_begin (the bit reservoir) and decode
    # scalefactors.
    for i, side in enumerate(sides):
        begin = side["main_data_begin"]
        start = slot_starts[i] - begin
        if start < 0:
            raise ValueError(
                f"frame {i}: bit-reservoir underrun "
                f"(main_data_begin {begin} reaches before the stream)"
            )
        r = _BitReader(bytes(slot_stream[start:]))
        gr0_sfs: list[int] = []
        for gr, g in enumerate(side["granules"]):
            slen1, slen2 = SLEN[g["scalefac_compress"]]
            g["slen1"], g["slen2"] = slen1, slen2
            bits_before = r._pos
            sfs = []
            for b in range(N_BANDS):
                grp = next(
                    j for j, (lo, hi) in enumerate(SCFSI_BANDS) if lo <= b < hi
                )
                if gr == 1 and (side["scfsi"] >> (3 - grp)) & 1:
                    sfs.append(gr0_sfs[b])  # scfsi: reuse granule 0
                    continue
                slen = slen1 if b < 11 else slen2
                sfs.append(r.read(slen) if slen else 0)
            part2 = r._pos - bits_before
            if part2 != g["part2_3_length"]:
                if g["part2_3_length"] > part2:
                    raise ValueError(
                        "granule carries count1 spectral codes "
                        f"(part2_3_length {g['part2_3_length']} > "
                        f"scalefactor bits {part2}) — ISO 11172-3 "
                        "Table B.7 ground truth unavailable; rejecting"
                    )
                raise ValueError(
                    f"part2_3_length {g['part2_3_length']} shorter than "
                    f"the scalefactor field width {part2}"
                )
            g["scalefactors"] = sfs
            if gr == 0:
                gr0_sfs = sfs
        frames.append(side)
    return frames
