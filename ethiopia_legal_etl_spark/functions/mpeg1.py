"""Dependency-free MPEG-1 Audio Layer I frame codec (ISO/IEC 11172-3).

Closes the perceptual-codec gap left by the MP3 stub:
full MP3 (Layer III) decode has no in-container-constructible exact
ground truth (Huffman + hybrid filterbank + encoder-dependent
reservoir), but Layer I — the same standard, the same frame/header
syntax family — IS spec-decodable from scratch to exact values:

- header: the real 32-bit MPEG audio header (syncword, ID, layer,
  bitrate index, sampling-frequency index, mode) with the real
  Layer I slot arithmetic (frame bytes = 4 * (12 * bitrate / fs));
- side info: 4-bit bit-allocation per subband, 6-bit scalefactor
  index per allocated subband;
- payload: 12 granules x one code of (allocation+1) bits per
  allocated subband, MSB-first across byte boundaries;
- requantization (ISO 11172-3 §2.4.3.2): with nb-bit code c,
      s'' = (2*c + 2 - 2^nb) / (2^nb - 1)
  (the closed form of s''' = c/2^(nb-1) - 1 followed by the
  (s''' + 2^(1-nb)) * 2^nb/(2^nb - 1) dequant step), then
      s = scalefactor[idx] * s''  with scalefactor[idx] = 2^(1-idx/3)
  (ISO Table B.1: 2.0, 1.587..., 1.259..., 1.0, ...).

Scope: single_channel (mono) frames, no CRC — out-of-scope headers
reject with ValueError (a pipeline must reject what it cannot decode,
not mis-decode it — same contract as functions/g711.py). The
polyphase SYNTHESIS filterbank (subband -> PCM) is intentionally NOT
here: requantized subband values are the last stage with an exact
cross-engine ground truth; the 512-tap windowed synthesis is a fixed
linear map that adds no parsing or quantization semantics.

Integer/float exactness: for scalefactor indices that are multiples
of 3 the scalefactor is an exact power of two, so every decoded value
is sf * m / d with integer m, odd d = 2^nb - 1 — one IEEE division,
bit-identical in any engine that evaluates the same expression. The
registry oracle exploits exactly this.
"""

from __future__ import annotations

BITRATES_L1 = [
    None, 32000, 64000, 96000, 128000, 160000, 192000, 224000,
    256000, 288000, 320000, 352000, 384000, 416000, 448000,
]
SAMPLE_RATES = [44100, 48000, 32000]

# ISO 11172-3 Table B.1: scalefactor[idx] = 2.0 * 2^(-idx/3), idx 0..62
# (index 63 is forbidden). Multiples of 3 give exact powers of two.
SCALEFACTORS = [2.0 * 2.0 ** (-i / 3.0) for i in range(63)]


class _BitWriter:
    def __init__(self) -> None:
        self._bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        if value < 0 or value >= (1 << n):
            raise ValueError(f"value {value} does not fit in {n} bits")
        for i in range(n - 1, -1, -1):
            self._bits.append((value >> i) & 1)

    def to_bytes(self, pad_to: int | None = None) -> bytes:
        bits = self._bits[:]
        if pad_to is not None:
            if len(bits) > pad_to * 8:
                raise ValueError(
                    f"content {len(bits)} bits exceeds frame of {pad_to} bytes"
                )
            bits += [0] * (pad_to * 8 - len(bits))
        elif len(bits) % 8:
            bits += [0] * (8 - len(bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0  # bit position

    def read(self, n: int) -> int:
        if self._pos + n > len(self._data) * 8:
            raise ValueError("bitstream truncated")
        v = 0
        for _ in range(n):
            byte = self._data[self._pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self._pos & 7))) & 1)
            self._pos += 1
        return v


def layer1_frame_bytes(bitrate: int, sample_rate: int, padding: int = 0) -> int:
    """Layer I slot arithmetic: one slot = 4 bytes (ISO 11172-3 §2.4.2.3)."""
    return 4 * (12 * bitrate // sample_rate + padding)


def write_layer1_frame(
    allocations: list[int],
    scf_indices: list[int],
    samples: list[list[int]],
    bitrate_index: int = 14,
    sample_rate_index: int = 2,
) -> bytes:
    """Encode one mono Layer I frame. `allocations` is 32 allocation
    CODES (0 = subband off, 1..14 = (code+1)-bit samples; 15 is
    forbidden by the spec). `scf_indices` / `samples` are per-ACTIVE
    subband in ascending subband order; each sample list holds the 12
    granule codes."""
    if len(allocations) != 32:
        raise ValueError("need 32 allocation codes")
    if not 1 <= bitrate_index <= 14 or not 0 <= sample_rate_index <= 2:
        raise ValueError("bad bitrate/sample-rate index")
    active = [sb for sb, a in enumerate(allocations) if a]
    if len(scf_indices) != len(active) or len(samples) != len(active):
        raise ValueError("scf/sample lists must match active subbands")
    w = _BitWriter()
    w.write(0xFFF, 12)        # syncword
    w.write(1, 1)             # ID: MPEG-1
    w.write(0b11, 2)          # layer I
    w.write(1, 1)             # protection_bit: no CRC
    w.write(bitrate_index, 4)
    w.write(sample_rate_index, 2)
    w.write(0, 1)             # padding_bit
    w.write(0, 1)             # private_bit
    w.write(0b11, 2)          # mode: single_channel
    w.write(0, 2)             # mode_extension
    w.write(0, 1)             # copyright
    w.write(1, 1)             # original
    w.write(0, 2)             # emphasis: none
    for a in allocations:
        if a == 15:
            raise ValueError("allocation code 15 is forbidden")
        w.write(a, 4)
    for idx in scf_indices:
        if not 0 <= idx <= 62:
            raise ValueError(f"scalefactor index {idx} out of range")
        w.write(idx, 6)
    for t in range(12):  # granule-major, subband-minor (spec order)
        for pos, sb in enumerate(active):
            nb = allocations[sb] + 1
            c = samples[pos][t]
            if not 0 <= c <= (1 << nb) - 2:
                raise ValueError(
                    f"code {c} out of range for {nb}-bit subband {sb}"
                )
            w.write(c, nb)
    return w.to_bytes(
        pad_to=layer1_frame_bytes(
            BITRATES_L1[bitrate_index], SAMPLE_RATES[sample_rate_index]
        )
    )


def requantize(code: int, nb: int, scf_index: int) -> float:
    """ISO 11172-3 Layer I/II requantization, closed form. Exactness:
    sf * m with m = 2c + 2 - 2^nb is exact (sf a table double, m a
    small int), the single division by the odd 2^nb - 1 rounds once."""
    return SCALEFACTORS[scf_index] * (2 * code + 2 - (1 << nb)) / ((1 << nb) - 1)


def parse_layer1(payload: bytes) -> list[dict]:
    """Parse consecutive mono Layer I frames -> one dict per frame:
    sample_rate, bitrate, frame_bytes, allocations (32 codes), and
    per active subband: subband, nb, scf_index, codes[12], values[12]
    (requantized). Rejects anything that is not a clean mono
    no-CRC MPEG-1 Layer I stream with ValueError."""
    frames = []
    pos = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated header")
        h = int.from_bytes(payload[pos : pos + 4], "big")
        if h >> 20 != 0xFFF:
            raise ValueError(f"bad syncword at byte {pos}")
        if not (h >> 19) & 1:
            raise ValueError("MPEG-2 (ID=0) not supported")
        if (h >> 17) & 0b11 != 0b11:
            raise ValueError("not Layer I")
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
        bitrate = BITRATES_L1[bitrate_index]
        sample_rate = SAMPLE_RATES[sr_index]
        nbytes = layer1_frame_bytes(bitrate, sample_rate, padding)
        if pos + nbytes > len(payload):
            raise ValueError("truncated frame body")
        r = _BitReader(payload[pos : pos + nbytes])
        r.read(32)  # header, already decoded above
        allocations = []
        for _ in range(32):
            a = r.read(4)
            if a == 15:
                raise ValueError("allocation code 15 is forbidden")
            allocations.append(a)
        active = [sb for sb, a in enumerate(allocations) if a]
        scf = []
        for _ in active:
            idx = r.read(6)
            if idx == 63:
                raise ValueError("scalefactor index 63 is forbidden")
            scf.append(idx)
        codes = [[0] * 12 for _ in active]
        for t in range(12):
            for i, sb in enumerate(active):
                codes[i][t] = r.read(allocations[sb] + 1)
        subbands = []
        for i, sb in enumerate(active):
            nb = allocations[sb] + 1
            subbands.append(
                {
                    "subband": sb,
                    "nb": nb,
                    "scf_index": scf[i],
                    "codes": codes[i],
                    "values": [requantize(c, nb, scf[i]) for c in codes[i]],
                }
            )
        frames.append(
            {
                "sample_rate": sample_rate,
                "bitrate": bitrate,
                "frame_bytes": nbytes,
                "allocations": allocations,
                "subbands": subbands,
            }
        )
        pos += nbytes
    return frames


# ---------------------------------------------------------------------
# MPEG-1 Audio Layer II (ISO/IEC 11172-3 §2.4.1.6 / §2.4.2.4 /
# §2.4.3.2) — same standard and header family as Layer I above, with
# Layer II's table-driven bit allocation, scfsi scalefactor sharing,
# and grouped (3-samples-per-codeword) quantizers.
#
# Requantization exactness: every Layer II quantizer has an ODD number
# of levels L, and the spec's C/D dequant constants (Table B.4) reduce
# algebraically to the uniform midtread closed form
#     s'' = (2*c - (L - 1)) / L
# (verified against the published C/D pairs for L = 3, 5, 7, 9, 15,
# 31: e.g. L=5 -> C=8/5, D=1/2, nb=3: 8/5*(c/4 - 1 + 1/4) = (2c-4)/5).
# With scalefactor indices that are multiples of 3 (exact powers of
# two), a decoded value is again sf * m / L with integer m and odd L —
# ONE IEEE division, bit-identical cross-engine, so the registry
# oracle can recompute raw doubles.
#
# Scope: mono, no CRC, and ONLY bitrate/sample-rate combinations that
# select allocation Table B.2a (48 kHz at 56..192 kbps mono — the
# broadcast-standard combination); everything else rejects with
# ValueError (same reject-don't-misdecode contract as parse_layer1).
# ---------------------------------------------------------------------

BITRATES_L2 = [
    None, 32000, 48000, 56000, 64000, 80000, 96000, 112000,
    128000, 160000, 192000, 224000, 256000, 320000, 384000,
]

# Table B.2a quantizer catalogs: allocation index (1-based; 0 = off)
# -> number of quantization levels, per subband class.
_B2A_HIGH = [3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
             8191, 16383, 32767, 65535]                    # sb 0..2,  nbal 4
_B2A_MID = [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023,
            2047, 4095, 8191, 65535]                       # sb 3..10, nbal 4
_B2A_LOW = [3, 5, 7, 9, 15, 31, 65535]                     # sb 11..22, nbal 3
_B2A_VLOW = [3, 5, 65535]                                  # sb 23..26, nbal 2
B2A_SBLIMIT = 27

# grouped quantizers: levels -> codeword bits for THREE samples
_L2_GROUP_BITS = {3: 5, 5: 7, 9: 10}


def b2a_class(sb: int) -> tuple[int, list[int]]:
    """(nbal, levels catalog) for a Table B.2a subband."""
    if sb < 0 or sb >= B2A_SBLIMIT:
        raise ValueError(f"subband {sb} outside Table B.2a sblimit")
    if sb <= 2:
        return 4, _B2A_HIGH
    if sb <= 10:
        return 4, _B2A_MID
    if sb <= 22:
        return 3, _B2A_LOW
    return 2, _B2A_VLOW


def l2_sample_bits(levels: int) -> int:
    """Bits for one NON-grouped sample: levels is 2^nb - 1."""
    nb = (levels + 1).bit_length() - 1
    if (1 << nb) - 1 != levels:
        raise ValueError(f"{levels} is not a non-grouped level count")
    return nb


def expand_scalefactors(scfsi: int, transmitted: list[int]) -> list[int]:
    """scfsi sharing (§2.4.2.4): expand the transmitted scalefactor
    indices to one index per 12-sample part [p0, p1, p2]."""
    if scfsi == 0:
        if len(transmitted) != 3:
            raise ValueError("scfsi 0 transmits 3 scalefactors")
        return list(transmitted)
    if scfsi == 1:
        if len(transmitted) != 2:
            raise ValueError("scfsi 1 transmits 2 scalefactors")
        return [transmitted[0], transmitted[0], transmitted[1]]
    if scfsi == 2:
        if len(transmitted) != 1:
            raise ValueError("scfsi 2 transmits 1 scalefactor")
        return [transmitted[0]] * 3
    if scfsi == 3:
        if len(transmitted) != 2:
            raise ValueError("scfsi 3 transmits 2 scalefactors")
        return [transmitted[0], transmitted[1], transmitted[1]]
    raise ValueError(f"scfsi {scfsi} out of range")


def requantize_l2(code: int, levels: int, scf_index: int) -> float:
    """Layer II uniform midtread dequant, closed form (see module
    comment): sf * (2c - (L-1)) / L — one IEEE division, odd L."""
    if not 0 <= code < levels:
        raise ValueError(f"code {code} out of range for {levels} levels")
    return SCALEFACTORS[scf_index] * (2 * code - (levels - 1)) / levels


def layer2_frame_bytes(bitrate: int, sample_rate: int, padding: int = 0) -> int:
    """Layer II slot arithmetic: one slot = 1 byte, 1152 samples."""
    return 144 * bitrate // sample_rate + padding


def _check_b2a_combo(bitrate: int, sample_rate: int) -> None:
    if sample_rate != 48000 or not 56000 <= bitrate <= 192000:
        raise ValueError(
            "only Table B.2a combinations supported "
            "(48 kHz mono at 56..192 kbps)"
        )


def write_layer2_frame(
    alloc_indices: list[int],
    scfsi_list: list[int],
    scf_transmitted: list[list[int]],
    samples: list[list[int]],
    bitrate_index: int = 10,
    sample_rate_index: int = 1,
) -> bytes:
    """Encode one mono Layer II frame (Table B.2a). `alloc_indices`
    is 27 catalog indices (0 = subband off); `scfsi_list` /
    `scf_transmitted` / `samples` are per ACTIVE subband in ascending
    order — `samples[i]` holds the 36 sample codes (granule t = 3*gr+j,
    part = t // 12)."""
    if len(alloc_indices) != B2A_SBLIMIT:
        raise ValueError(f"need {B2A_SBLIMIT} allocation indices")
    if not 1 <= bitrate_index <= 14 or not 0 <= sample_rate_index <= 2:
        raise ValueError("bad bitrate/sample-rate index")
    bitrate = BITRATES_L2[bitrate_index]
    sample_rate = SAMPLE_RATES[sample_rate_index]
    _check_b2a_combo(bitrate, sample_rate)
    active = [sb for sb, a in enumerate(alloc_indices) if a]
    if not (len(scfsi_list) == len(scf_transmitted) == len(samples) == len(active)):
        raise ValueError("per-active-subband lists must match active subbands")
    w = _BitWriter()
    w.write(0xFFF, 12)        # syncword
    w.write(1, 1)             # ID: MPEG-1
    w.write(0b10, 2)          # layer II
    w.write(1, 1)             # protection_bit: no CRC
    w.write(bitrate_index, 4)
    w.write(sample_rate_index, 2)
    w.write(0, 1)             # padding_bit
    w.write(0, 1)             # private_bit
    w.write(0b11, 2)          # mode: single_channel
    w.write(0, 2)             # mode_extension
    w.write(0, 1)             # copyright
    w.write(1, 1)             # original
    w.write(0, 2)             # emphasis: none
    for sb, a in enumerate(alloc_indices):
        nbal, catalog = b2a_class(sb)
        if a < 0 or a > len(catalog):
            raise ValueError(
                f"allocation index {a} out of range for subband {sb}"
            )
        w.write(a, nbal)
    for s in scfsi_list:
        if not 0 <= s <= 3:
            raise ValueError(f"scfsi {s} out of range")
        w.write(s, 2)
    for i, _sb in enumerate(active):
        for idx in scf_transmitted[i]:
            if not 0 <= idx <= 62:
                raise ValueError(f"scalefactor index {idx} out of range")
        # length-vs-scfsi consistency enforced by expand:
        expand_scalefactors(scfsi_list[i], scf_transmitted[i])
        for idx in scf_transmitted[i]:
            w.write(idx, 6)
    for gr in range(12):
        for i, sb in enumerate(active):
            _nbal, catalog = b2a_class(sb)
            levels = catalog[alloc_indices[sb] - 1]
            triplet = samples[i][3 * gr : 3 * gr + 3]
            for c in triplet:
                if not 0 <= c < levels:
                    raise ValueError(
                        f"code {c} out of range for {levels}-level subband {sb}"
                    )
            if levels in _L2_GROUP_BITS:
                # c = s0 + L*s1 + L^2*s2 (first-in-time lowest digit)
                cw = (
                    triplet[0]
                    + levels * triplet[1]
                    + levels * levels * triplet[2]
                )
                w.write(cw, _L2_GROUP_BITS[levels])
            else:
                nb = l2_sample_bits(levels)
                for c in triplet:
                    w.write(c, nb)
    return w.to_bytes(pad_to=layer2_frame_bytes(bitrate, sample_rate))


def parse_layer2(payload: bytes) -> list[dict]:
    """Parse consecutive mono Layer II frames (Table B.2a) -> one dict
    per frame: sample_rate, bitrate, frame_bytes, alloc_indices, and
    per active subband: subband, levels, scfsi, scf_parts (3 expanded
    indices), codes[36], values[36] (requantized with the part's
    scalefactor). Rejects anything that is not a clean mono no-CRC
    MPEG-1 Layer II / Table B.2a stream with ValueError."""
    frames = []
    pos = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated header")
        h = int.from_bytes(payload[pos : pos + 4], "big")
        if h >> 20 != 0xFFF:
            raise ValueError(f"bad syncword at byte {pos}")
        if not (h >> 19) & 1:
            raise ValueError("MPEG-2 (ID=0) not supported")
        if (h >> 17) & 0b11 != 0b10:
            raise ValueError("not Layer II")
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
        bitrate = BITRATES_L2[bitrate_index]
        sample_rate = SAMPLE_RATES[sr_index]
        _check_b2a_combo(bitrate, sample_rate)
        nbytes = layer2_frame_bytes(bitrate, sample_rate, padding)
        if pos + nbytes > len(payload):
            raise ValueError("truncated frame body")
        r = _BitReader(payload[pos : pos + nbytes])
        r.read(32)
        alloc_indices = []
        for sb in range(B2A_SBLIMIT):
            nbal, catalog = b2a_class(sb)
            a = r.read(nbal)
            if a > len(catalog):
                raise ValueError(
                    f"allocation index {a} out of range for subband {sb}"
                )
            alloc_indices.append(a)
        active = [sb for sb, a in enumerate(alloc_indices) if a]
        scfsi_list = [r.read(2) for _ in active]
        scf_parts = []
        for s in scfsi_list:
            n_tx = {0: 3, 1: 2, 2: 1, 3: 2}[s]
            tx = [r.read(6) for _ in range(n_tx)]
            if any(idx == 63 for idx in tx):
                raise ValueError("scalefactor index 63 is forbidden")
            scf_parts.append(expand_scalefactors(s, tx))
        codes = [[0] * 36 for _ in active]
        for gr in range(12):
            for i, sb in enumerate(active):
                _nbal, catalog = b2a_class(sb)
                levels = catalog[alloc_indices[sb] - 1]
                if levels in _L2_GROUP_BITS:
                    cw = r.read(_L2_GROUP_BITS[levels])
                    if cw >= levels ** 3:
                        raise ValueError(
                            f"grouped codeword {cw} out of range for "
                            f"{levels} levels"
                        )
                    for j in range(3):
                        codes[i][3 * gr + j] = cw % levels
                        cw //= levels
                else:
                    nb = l2_sample_bits(levels)
                    for j in range(3):
                        c = r.read(nb)
                        if c >= levels:
                            raise ValueError(
                                f"code {c} out of range for {levels} levels"
                            )
                        codes[i][3 * gr + j] = c
        subbands = []
        for i, sb in enumerate(active):
            _nbal, catalog = b2a_class(sb)
            levels = catalog[alloc_indices[sb] - 1]
            subbands.append(
                {
                    "subband": sb,
                    "levels": levels,
                    "scfsi": scfsi_list[i],
                    "scf_parts": scf_parts[i],
                    "codes": codes[i],
                    "values": [
                        requantize_l2(c, levels, scf_parts[i][t // 12])
                        for t, c in enumerate(codes[i])
                    ],
                }
            )
        frames.append(
            {
                "sample_rate": sample_rate,
                "bitrate": bitrate,
                "frame_bytes": nbytes,
                "alloc_indices": alloc_indices,
                "subbands": subbands,
            }
        )
        pos += nbytes
    return frames
