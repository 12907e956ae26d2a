"""Dependency-free media codecs (functions/media.py): encoder/decoder
roundtrip, canonical sizes, malformed-input contract; plus the
distributed real-decode operator's plan shape."""

from __future__ import annotations

import pytest

from ethiopia_legal_etl_spark.functions.media import (
    decode_bmp,
    decode_wav,
    synth_bmp,
    synth_wav,
)


def test_wav_roundtrip_and_canonical_header():
    for doc_id in (0, 1, 7, 49, 123456):
        b = synth_wav(doc_id)
        m = decode_wav(b)
        rate = 8000 * (1 + doc_id % 3)
        n = 100 + doc_id % 50
        assert m["sample_rate"] == rate
        assert m["n_samples"] == n
        assert m["n_channels"] == 1 and m["bits"] == 16
        assert m["byte_len"] == 44 + 2 * n  # canonical stdlib header
        assert m["duration_us"] == n * 1_000_000 // rate


def test_bmp_roundtrip_with_row_padding():
    for doc_id in (0, 3, 11, 31, 222):
        b = synth_bmp(doc_id)
        m = decode_bmp(b)
        w = 4 + doc_id % 32
        h = 4 + (doc_id // 7) % 32
        row = (w * 3 + 3) & ~3
        assert (m["width"], m["height"], m["bpp"]) == (w, h, 24)
        assert m["byte_len"] == 54 + row * h == len(b)


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"RIFFxxxx",
        b"not media at all",
        b"BM",
        b"RIFF1234WAVE",
        # truncated fmt chunk: header claims 16 bytes, payload ends
        b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00",
        # degenerate fmt: zero channels/rate/bits, then a data chunk
        b"RIFF\x28\x00\x00\x00WAVEfmt \x10\x00\x00\x00"
        + b"\x00" * 16
        + b"data\x00\x00\x00\x00",
    ],
)
def test_decoders_raise_valueerror_on_malformed(payload):
    with pytest.raises(ValueError):
        decode_wav(payload)
    with pytest.raises(ValueError):
        decode_bmp(payload)


def test_decoders_reject_cross_format():
    with pytest.raises(ValueError):
        decode_wav(synth_bmp(5))
    with pytest.raises(ValueError):
        decode_bmp(synth_wav(5))


def test_real_decode_operator_single_parallelism_shuffle(spark, sf_dir):
    """Exactly ONE exchange — the deliberate doc_id repartition that
    spreads the synth+decode stage across all cores. Without it a
    single-file documents scan yields one partition and decode runs
    serially (measured 50.7 s -> 3.1 s for the JPEG entry at sf0.1);
    more than one exchange would mean an accidental extra shuffle."""
    from ethiopia_legal_etl_spark.operators.multimodal import (
        multimodal_decode_real,
    )
    from ethiopia_legal_etl_spark.plans.explain import (
        count_data_shuffles,
        formatted_plan,
    )

    df = multimodal_decode_real(spark, sf_dir)
    assert count_data_shuffles(formatted_plan(df)) == 1
    sample = {r["media_type"] for r in df.limit(10).collect()}
    assert sample <= {"audio", "image"}


def test_wav_rejects_non_byte_aligned_bits():
    """12-bit PCM: bits%8 != 0 would make bytes-per-frame silently
    wrong; the fmt guard must reject it like bits<8."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 12)
    payload = (
        b"RIFF\x30\x00\x00\x00WAVEfmt \x10\x00\x00\x00"
        + fmt
        + b"data\x04\x00\x00\x00\x00\x00\x00\x00"
    )
    with pytest.raises(ValueError):
        decode_wav(payload)
