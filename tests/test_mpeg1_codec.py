"""MPEG-1 Audio Layer I codec (functions/mpeg1.py): encode/parse
round-trip identity, requantization values against hand-computed ISO
11172-3 cases, header/slot arithmetic, and reject-with-ValueError
contracts for malformed or out-of-scope streams."""

from __future__ import annotations

import pytest

from ethiopia_legal_etl_spark.functions.mpeg1 import (
    BITRATES_L1,
    SAMPLE_RATES,
    SCALEFACTORS,
    layer1_frame_bytes,
    parse_layer1,
    requantize,
    write_layer1_frame,
)


def _synth_frame_inputs(seed: int):
    allocations = [0] * 32
    active = [sb for sb in range(32) if (3 * sb + seed) % 4 == 0]
    scf, samples = [], []
    for sb in active:
        nb = 2 + (seed + sb) % 14  # 2..15 bits
        allocations[sb] = nb - 1
        scf.append(3 * ((seed + 2 * sb) % 21))
        samples.append(
            [(seed * 5 + sb * 3 + t * 11) % ((1 << nb) - 1) for t in range(12)]
        )
    return allocations, scf, samples


def test_scalefactor_table_matches_iso_b1():
    assert SCALEFACTORS[0] == 2.0
    assert SCALEFACTORS[3] == 1.0
    assert SCALEFACTORS[6] == 0.5
    assert abs(SCALEFACTORS[1] - 1.58740105196820) < 1e-12
    assert abs(SCALEFACTORS[2] - 1.25992104989487) < 1e-12
    assert len(SCALEFACTORS) == 63  # index 63 forbidden


def test_requantize_hand_computed():
    # nb=2, sf index 3 (sf=1.0): codes 0,1,2 -> -(2/3), 0, +(2/3)
    assert requantize(1, 2, 3) == 0.0
    assert requantize(0, 2, 3) == -2.0 / 3.0
    assert requantize(2, 2, 3) == 2.0 / 3.0
    # nb=3: s'' = (2c + 2 - 8)/7
    assert requantize(3, 3, 3) == 0.0
    assert requantize(6, 3, 3) == 6.0 / 7.0
    # scalefactor scales linearly
    assert requantize(6, 3, 0) == 2.0 * (6.0 / 7.0)
    # full-scale magnitudes stay inside (-1, 1) before scalefactor
    for nb in range(2, 16):
        lo = requantize(0, nb, 3)
        hi = requantize((1 << nb) - 2, nb, 3)
        assert -1.0 < lo < 0.0 < hi < 1.0
        assert lo == -hi  # symmetric code space


def test_frame_slot_arithmetic():
    # ISO: Layer I slot = 4 bytes, N = 12 * bitrate / fs
    assert layer1_frame_bytes(448000, 32000) == 672
    assert layer1_frame_bytes(32000, 44100) == 4 * (12 * 32000 // 44100)
    assert layer1_frame_bytes(448000, 32000, padding=1) == 676


def test_round_trip_identity_all_fields():
    for seed in (0, 1, 7, 40, 123):
        allocations, scf, samples = _synth_frame_inputs(seed)
        frame = write_layer1_frame(allocations, scf, samples)
        assert len(frame) == 672
        (f,) = parse_layer1(frame)
        assert f["sample_rate"] == 32000
        assert f["bitrate"] == 448000
        assert f["frame_bytes"] == 672
        assert f["allocations"] == allocations
        got_active = [s["subband"] for s in f["subbands"]]
        want_active = [sb for sb, a in enumerate(allocations) if a]
        assert got_active == want_active
        for i, s in enumerate(f["subbands"]):
            assert s["scf_index"] == scf[i]
            assert s["codes"] == samples[i]
            for c, v in zip(s["codes"], s["values"]):
                assert v == requantize(c, s["nb"], s["scf_index"])


def test_multi_frame_stream_parses_in_order():
    a0, s0, x0 = _synth_frame_inputs(3)
    a1, s1, x1 = _synth_frame_inputs(8)
    stream = write_layer1_frame(a0, s0, x0) + write_layer1_frame(a1, s1, x1)
    f0, f1 = parse_layer1(stream)
    assert f0["allocations"] == a0 and f1["allocations"] == a1


def test_rejects_malformed():
    allocations, scf, samples = _synth_frame_inputs(5)
    good = write_layer1_frame(allocations, scf, samples)
    with pytest.raises(ValueError, match="syncword"):
        parse_layer1(b"\x00\x00" + good)
    with pytest.raises(ValueError, match="truncated"):
        parse_layer1(good[:-10])
    with pytest.raises(ValueError, match="truncated header"):
        parse_layer1(good + b"\xff\xfe")
    # Layer II header (layer bits '10') rejected, not mis-decoded
    l2 = bytes([good[0], (good[1] & ~0b110) | 0b100]) + good[2:]
    with pytest.raises(ValueError, match="Layer I"):
        parse_layer1(l2)
    # stereo mode rejected (mono-only scope)
    st = bytearray(good)
    st[3] &= ~0b11000000  # mode '00' = stereo
    with pytest.raises(ValueError, match="single_channel"):
        parse_layer1(bytes(st))
    # free-format bitrate (index 0) rejected
    fr = bytearray(good)
    fr[2] &= 0x0F
    with pytest.raises(ValueError, match="bitrate"):
        parse_layer1(bytes(fr))
    # allocation code 15 rejected (spec-forbidden)
    bad = bytearray(good)
    bad[4] |= 0xF0  # first allocation nibble -> 15
    with pytest.raises(ValueError, match="allocation"):
        parse_layer1(bytes(bad))


def test_encoder_validates_inputs():
    allocations, scf, samples = _synth_frame_inputs(2)
    with pytest.raises(ValueError, match="32 allocation"):
        write_layer1_frame([0] * 31, scf, samples)
    with pytest.raises(ValueError, match="match active"):
        write_layer1_frame(allocations, scf[:-1], samples)
    # code 2^nb - 1 (all ones) is not a valid quantization level
    bad = [list(s) for s in samples]
    nb = allocations[[sb for sb, a in enumerate(allocations) if a][0]] + 1
    bad[0][0] = (1 << nb) - 1
    with pytest.raises(ValueError, match="out of range"):
        write_layer1_frame(allocations, scf, bad)


def test_bitrate_and_rate_tables():
    assert BITRATES_L1[14] == 448000 and BITRATES_L1[1] == 32000
    assert SAMPLE_RATES == [44100, 48000, 32000]


# ---------------------------------------------------------- hypothesis fuzz

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def frame_inputs(draw):
    n_active = draw(st.integers(1, 8))
    subbands = sorted(draw(st.sets(st.integers(0, 31), min_size=n_active,
                                   max_size=n_active)))
    allocations = [0] * 32
    scf, samples = [], []
    for sb in subbands:
        nb = draw(st.integers(2, 15))
        allocations[sb] = nb - 1
        scf.append(draw(st.integers(0, 62)))
        samples.append(
            [draw(st.integers(0, (1 << nb) - 2)) for _ in range(12)]
        )
    return allocations, scf, samples


@settings(max_examples=60, deadline=None)
@given(frame_inputs())
def test_fuzz_round_trip_identity(inputs):
    """Any spec-valid frame content round-trips bit-exactly through
    encode -> real bitstream -> parse, arbitrary allocations and
    scalefactors included (not just the registry's formula shapes)."""
    allocations, scf, samples = inputs
    (f,) = parse_layer1(write_layer1_frame(allocations, scf, samples))
    assert f["allocations"] == allocations
    assert [s["scf_index"] for s in f["subbands"]] == scf
    assert [s["codes"] for s in f["subbands"]] == samples


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=800))
def test_fuzz_arbitrary_bytes_reject_cleanly(payload):
    """Hostile input contract: arbitrary bytes either parse (only if
    they really are a valid stream) or raise ValueError — never hang,
    never leak struct/index errors past the isolation boundary."""
    try:
        parse_layer1(payload)
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200), st.integers(0, 671))
def test_fuzz_corrupted_valid_frame_rejects_or_parses(noise, cut):
    """Splicing noise into a valid frame must never escape the
    ValueError contract (the negative-Content-Length class of bug the
    WARC parser once shipped, found by exactly this shape of
    fuzz)."""
    allocations, scf, samples = _synth_frame_inputs(9)
    good = write_layer1_frame(allocations, scf, samples)
    mutated = good[:cut] + noise + good[cut + len(noise):]
    try:
        parse_layer1(mutated)
    except ValueError:
        pass


# ---------------------------------------------------------------------
# Layer II
# ---------------------------------------------------------------------

from ethiopia_legal_etl_spark.functions.mpeg1 import (  # noqa: E402
    B2A_SBLIMIT,
    b2a_class,
    expand_scalefactors,
    l2_sample_bits,
    layer2_frame_bytes,
    parse_layer2,
    requantize_l2,
    write_layer2_frame,
)


def _synth_l2_inputs(seed: int):
    """Formula-driven valid Layer II frame content covering grouped
    and non-grouped quantizers and all four scfsi patterns."""
    alloc = [0] * B2A_SBLIMIT
    scfsi_list, scf_tx, samples = [], [], []
    for sb in range(B2A_SBLIMIT):
        if (3 * sb + seed) % 4:
            continue
        _nbal, catalog = b2a_class(sb)
        a = 1 + (seed + sb) % len(catalog)
        alloc[sb] = a
        levels = catalog[a - 1]
        scfsi = (seed + sb) % 4
        f = [(seed + 2 * sb + 5 * p) % 21 * 3 for p in range(3)]
        scf_tx.append(
            {0: [f[0], f[1], f[2]], 1: [f[0], f[2]],
             2: [f[0]], 3: [f[0], f[1]]}[scfsi]
        )
        scfsi_list.append(scfsi)
        samples.append([(seed * 7 + sb * 5 + t * 11) % levels for t in range(36)])
    return alloc, scfsi_list, scf_tx, samples


def test_l2_requantize_hand_computed_iso_values():
    # 3-level quantizer (C=4/3, D=1/2 in Table B.4) at sf index 3
    # (sf = 1.0): exact midtread {-2/3, 0, 2/3}
    assert [requantize_l2(c, 3, 3) for c in (0, 1, 2)] == [
        -2.0 / 3.0, 0.0, 2.0 / 3.0]
    # 5-level (C=8/5, D=1/2): {-0.8,-0.4,0,0.4,0.8}
    assert [requantize_l2(c, 5, 3) for c in range(5)] == [
        -0.8, -0.4, 0.0, 0.4, 0.8]
    # 15-level matches the Layer I closed form (2c+2-16)/15
    from ethiopia_legal_etl_spark.functions.mpeg1 import requantize

    for c in range(15):
        assert requantize_l2(c, 15, 6) == requantize(c, 4, 6)
    # scalefactor scaling: index 0 -> sf=2.0
    assert requantize_l2(2, 3, 0) == 2.0 * (2.0 / 3.0)


def test_l2_frame_slot_arithmetic():
    assert layer2_frame_bytes(192000, 48000) == 576
    assert layer2_frame_bytes(96000, 48000) == 288
    assert layer2_frame_bytes(96000, 48000, padding=1) == 289


def test_l2_b2a_table_shapes():
    assert b2a_class(0) == (4, b2a_class(2)[1])
    assert len(b2a_class(0)[1]) == 15 and b2a_class(0)[1][0] == 3
    assert len(b2a_class(3)[1]) == 15 and b2a_class(3)[1][1] == 5
    assert b2a_class(11) == (3, b2a_class(22)[1])
    assert b2a_class(23) == (2, [3, 5, 65535])
    with pytest.raises(ValueError):
        b2a_class(27)
    assert l2_sample_bits(7) == 3 and l2_sample_bits(65535) == 16
    with pytest.raises(ValueError):
        l2_sample_bits(9)  # grouped, not a 2^nb - 1 count


def test_l2_scfsi_expansion_all_patterns():
    assert expand_scalefactors(0, [1, 2, 3]) == [1, 2, 3]
    assert expand_scalefactors(1, [4, 5]) == [4, 4, 5]
    assert expand_scalefactors(2, [6]) == [6, 6, 6]
    assert expand_scalefactors(3, [7, 8]) == [7, 8, 8]
    for s, bad in ((0, [1]), (1, [1]), (2, [1, 2]), (3, [1, 2, 3])):
        with pytest.raises(ValueError):
            expand_scalefactors(s, bad)


def test_l2_round_trip_identity_all_fields():
    for seed in (0, 1, 2, 3, 9, 17):
        alloc, scfsi_list, scf_tx, samples = _synth_l2_inputs(seed)
        frame = write_layer2_frame(alloc, scfsi_list, scf_tx, samples)
        assert len(frame) == 576
        (f,) = parse_layer2(frame)
        assert f["alloc_indices"] == alloc
        assert [s["scfsi"] for s in f["subbands"]] == scfsi_list
        assert [s["codes"] for s in f["subbands"]] == samples
        for i, s in enumerate(f["subbands"]):
            assert s["scf_parts"] == expand_scalefactors(
                scfsi_list[i], scf_tx[i]
            )
            for t, c in enumerate(s["codes"]):
                assert s["values"][t] == requantize_l2(
                    c, s["levels"], s["scf_parts"][t // 12]
                )


def test_l2_grouped_codeword_packing_order():
    """c = s0 + L*s1 + L^2*s2: first-in-time sample is the lowest
    digit — pinned via a single 3-level subband with known codes."""
    alloc = [0] * B2A_SBLIMIT
    alloc[23] = 1  # vlow class, index 1 -> 3 levels (grouped, 5 bits)
    codes = ([0, 1, 2] * 12)[:36]
    frame = write_layer2_frame(alloc, [0], [[0, 0, 0]], [codes])
    (f,) = parse_layer2(frame)
    assert f["subbands"][0]["codes"] == codes
    # the raw 5-bit codeword for (0,1,2) is 0 + 3*1 + 9*2 = 21
    # header(32) + alloc bits (3*4 + 8*4 + 12*3 + 4*2 = 88) + scfsi(2)
    # + scf(18) = 140 bits; the first codeword starts at bit 140
    bits = "".join(f"{b:08b}" for b in frame)
    assert int(bits[140:145], 2) == 21


def test_l2_rejects_malformed():
    alloc, scfsi_list, scf_tx, samples = _synth_l2_inputs(2)
    good = write_layer2_frame(alloc, scfsi_list, scf_tx, samples)
    with pytest.raises(ValueError):  # Layer I header into layer2 parser
        parse_layer2(write_layer1_frame([0] * 32, [], []))
    with pytest.raises(ValueError):  # truncated body
        parse_layer2(good[:100])
    with pytest.raises(ValueError):  # bad syncword
        parse_layer2(b"\x00" + good[1:])
    bad_mode = bytearray(good)
    bad_mode[3] = (bad_mode[3] & 0b00111111) | (0b00 << 6)  # stereo
    with pytest.raises(ValueError):
        parse_layer2(bytes(bad_mode))
    crc = bytearray(good)
    crc[1] &= 0b11111110  # protection_bit 0 -> CRC present
    with pytest.raises(ValueError):
        parse_layer2(bytes(crc))
    off_table = bytearray(good)
    off_table[2] = (off_table[2] & 0x0F) | (14 << 4)  # 384 kbps: not B.2a
    with pytest.raises(ValueError):
        parse_layer2(bytes(off_table))


def test_l2_encoder_validates_inputs():
    alloc = [0] * B2A_SBLIMIT
    alloc[0] = 1  # 3 levels
    with pytest.raises(ValueError):  # code out of range for 3 levels
        write_layer2_frame(alloc, [0], [[0, 0, 0]], [[3] * 36])
    with pytest.raises(ValueError):  # scf index out of range
        write_layer2_frame(alloc, [0], [[0, 0, 63]], [[0] * 36])
    with pytest.raises(ValueError):  # scfsi/transmitted-count mismatch
        write_layer2_frame(alloc, [2], [[0, 0]], [[0] * 36])
    with pytest.raises(ValueError):  # alloc index beyond catalog
        bad = list(alloc)
        bad[23] = 4
        write_layer2_frame(bad, [0, 0], [[0, 0, 0], [0, 0, 0]],
                           [[0] * 36, [0] * 36])
    with pytest.raises(ValueError):  # non-B.2a combination (44.1 kHz)
        write_layer2_frame(alloc, [0], [[0, 0, 0]], [[0] * 36],
                           sample_rate_index=0)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200), st.integers(0, 575))
def test_l2_fuzz_corrupted_valid_frame_rejects_or_parses(noise, cut):
    alloc, scfsi_list, scf_tx, samples = _synth_l2_inputs(5)
    good = write_layer2_frame(alloc, scfsi_list, scf_tx, samples)
    mutated = good[:cut] + noise + good[cut + len(noise):]
    try:
        parse_layer2(mutated)
    except ValueError:
        pass
