"""Tests for the compressed audio/video codecs (functions/g711.py,
functions/avi.py): G.711 mu-law, IMA ADPCM, and the MJPEG AVI
container. Correctness strategy mirrors test_jpeg_codec.py — verify
against ANALYTIC expectations and INDEPENDENT re-implementations (a
second IMA decoder written from the RFC pseudocode; the mu-law SQL
closed form run in DuckDB), never only against our own encoder."""

from __future__ import annotations

import math
import struct

import duckdb
import pytest

from ethiopia_legal_etl_spark.functions.avi import (
    parse_avi,
    sample_frames,
    write_mjpeg_avi,
)
from ethiopia_legal_etl_spark.functions.g711 import (
    IMA_INDEX_TABLE,
    IMA_STEP_TABLE,
    MULAW_DECODE_SQL,
    decode_compressed_wav,
    ima_decode_block,
    ima_encode_block,
    mulaw_decode,
    mulaw_encode,
    write_ima_wav,
    write_mulaw_wav,
)
from ethiopia_legal_etl_spark.functions.jpeg import (
    decode_jpeg,
    encode_baseline_jpeg,
)

# ------------------------------------------------------------- G.711 mu-law


def test_mulaw_encode_decode_identity_all_bytes():
    # every wire byte round-trips through decode->encode, except 0x7F
    # (negative zero decodes to 0, which re-encodes as positive zero
    # 0xFF — the documented two-codes-for-zero property of G.711)
    for u in range(256):
        expected = 0xFF if u == 0x7F else u
        assert mulaw_encode(mulaw_decode(u)) == expected


def test_mulaw_quantization_error_bounded_by_segment():
    # log-PCM: the widest segment (exp 7) has quantization step
    # 2^(7+3) = 1024, so |decode(encode(s)) - s| < 1024 everywhere and
    # < 2^(e+3) within each segment; spot the global bound densely
    for s in range(-32635, 32636, 13):
        assert abs(mulaw_decode(mulaw_encode(s)) - s) < 1024


def test_mulaw_decode_monotonic_in_magnitude():
    # complemented code order = magnitude order within each sign
    pos = [mulaw_decode(u) for u in range(0xFF, 0x7F, -1)]  # +0 .. +max
    assert pos == sorted(pos) and pos[0] == 0
    neg = [mulaw_decode(u) for u in range(0x7F, -1, -1)]  # -0 .. -max
    assert neg == sorted(neg, reverse=True) and neg[0] == 0


def test_mulaw_sql_closed_form_matches_python_all_bytes():
    # the DuckDB oracle recomputes decode in SQL; pin the formula
    # against the Python implementation for the full byte domain
    rows = duckdb.sql(
        "SELECT b, "
        + MULAW_DECODE_SQL.format(b="b")
        + " AS v FROM (SELECT unnest(range(256)) AS b) ORDER BY b"
    ).fetchall()
    assert [v for _, v in rows] == [mulaw_decode(b) for b in range(256)]


def test_mulaw_wav_round_trip():
    enc = bytes((i * 7 + 13) % 256 for i in range(301))
    meta = decode_compressed_wav(write_mulaw_wav(enc, 16000))
    assert meta["codec"] == "g711-mulaw"
    assert meta["sample_rate"] == 16000
    assert meta["n_samples"] == 301
    assert meta["samples"] == [mulaw_decode(b) for b in enc]


# -------------------------------------------------------------- IMA ADPCM


def _ima_reference_decode(block: bytes) -> list[int]:
    """Independent IMA decoder, written directly from the RFC 3551 /
    IMA-spec pseudocode shape (explicit difference accumulation with
    a trailing half-step term) rather than the bit-test loop the
    production code uses."""
    predicted, index, _ = struct.unpack("<hBB", block[:4])
    out = [predicted]
    nibbles = []
    for byte in block[4:]:
        nibbles += [byte & 0x0F, byte >> 4]
    for code in nibbles:
        step = IMA_STEP_TABLE[index]
        diffq = step >> 3
        if code & 4:
            diffq += step
        if code & 2:
            diffq += step >> 1
        if code & 1:
            diffq += step >> 2
        predicted = predicted - diffq if code & 8 else predicted + diffq
        predicted = max(-32768, min(32767, predicted))
        index = max(0, min(88, index + IMA_INDEX_TABLE[code]))
        out.append(predicted)
    return out


def test_ima_decode_matches_independent_reference():
    # drive both decoders over a pseudorandom nibble stream covering
    # all 16 codes and a wide predictor/index trajectory
    payload = struct.pack("<hBB", -1234, 0, 0) + bytes(
        (i * 37 + 11) % 256 for i in range(252)
    )
    assert ima_decode_block(payload) == _ima_reference_decode(payload)


def test_ima_constant_signal_decodes_exact():
    # diff 0 -> nibble 0 -> reconstruction delta step>>3 = 0 at step 7:
    # a DC signal survives the codec exactly (predictor seeded from the
    # block header) — the property the registry oracle leans on
    spb = 1 + (64 - 4) * 2
    for c in (-50, 0, 77):
        blk = ima_encode_block([c] * spb, 64)
        assert ima_decode_block(blk) == [c] * spb


def test_ima_slow_ramp_tracks_within_adapted_step():
    # slope 3/sample is within the codec's tracking range once the
    # step adapts; error stays small (no slope overload)
    spb = 1 + (256 - 4) * 2
    ramp = [min(32767, i * 3 - 600) for i in range(spb)]
    dec = ima_decode_block(ima_encode_block(ramp, 256))
    assert max(abs(a - b) for a, b in zip(ramp, dec)) <= 16


def test_ima_slope_overload_recovers():
    # a 12000-amplitude sine from a cold step-7 start overloads the
    # slope briefly (genuine ADPCM behavior); after the step table
    # warms up the tracking error must fall under one max step
    spb = 1 + (256 - 4) * 2
    sine = [int(12000 * math.sin(i / 10)) for i in range(spb)]
    dec = ima_decode_block(ima_encode_block(sine, 256))
    tail_err = max(abs(a - b) for a, b in zip(sine[60:], dec[60:]))
    assert tail_err < IMA_STEP_TABLE[-1] // 8


def test_ima_wav_multi_block_decodes_block_parallel():
    # the WAV decode of N blocks equals the concatenation of per-block
    # decodes — the self-contained-block property that makes 100 TB
    # audio decode embarrassingly parallel
    spb = 1 + (64 - 4) * 2
    blocks = [
        ima_encode_block([(b * 31 + i * 7) % 2001 - 1000 for i in range(spb)], 64)
        for b in range(3)
    ]
    meta = decode_compressed_wav(write_ima_wav(blocks, 8000, 64))
    assert meta["codec"] == "ima-adpcm"
    assert meta["n_samples"] == 3 * spb
    flat = [s for blk in blocks for s in ima_decode_block(blk)]
    assert meta["samples"] == flat


def test_ima_rejects_malformed():
    with pytest.raises(ValueError):
        ima_decode_block(b"\x00\x00")  # shorter than header
    with pytest.raises(ValueError):
        ima_decode_block(struct.pack("<hBB", 0, 89, 0))  # index > 88
    with pytest.raises(ValueError):
        ima_encode_block([0] * 10, 64)  # wrong sample count


def test_compressed_wav_rejects_foreign_payloads():
    with pytest.raises(ValueError):
        decode_compressed_wav(b"not a wav at all")
    # well-formed WAV with an unsupported format tag (PCM=1) must be
    # rejected, not silently mis-decoded
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    pcm_wav = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="format tag"):
        decode_compressed_wav(pcm_wav)
    # stereo mu-law rejected (mono-only scope)
    fmt2 = struct.pack("<HHIIHHH", 7, 2, 8000, 16000, 2, 8, 0)
    body2 = b"WAVE" + b"fmt " + struct.pack("<I", 18) + fmt2
    body2 += b"data" + struct.pack("<I", 4) + b"\xff" * 4
    with pytest.raises(ValueError, match="mono"):
        decode_compressed_wav(b"RIFF" + struct.pack("<I", len(body2)) + body2)
    # fmt chunk shorter than 16 bytes: must raise ValueError (the
    # pipeline's isolation contract), not leak struct.error
    body3 = b"WAVE" + b"fmt " + struct.pack("<I", 8) + b"\x00" * 8
    body3 += b"data" + struct.pack("<I", 2) + b"\xff\xff"
    with pytest.raises(ValueError, match="short fmt"):
        decode_compressed_wav(b"RIFF" + struct.pack("<I", len(body3)) + body3)


# ------------------------------------------------------------- MJPEG AVI


def _flat_frame(val: int) -> bytes:
    return encode_baseline_jpeg([[val % 256] * 8 for _ in range(8)], quant=1)


def test_avi_round_trip_preserves_frames_and_metadata():
    frames = [_flat_frame(40 * k) for k in range(5)]
    meta = parse_avi(write_mjpeg_avi(frames, 8, 8, fps=25))
    assert (meta["width"], meta["height"], meta["fps"]) == (8, 8, 25)
    assert meta["n_frames"] == 5
    assert meta["frames"] == frames  # byte-exact container round trip


def test_avi_frame_sampling_then_jpeg_decode_value_exact():
    # the full video path: container parse -> stride sample -> real
    # JPEG decode; flat q=1 frames decode value-exact
    frames = [_flat_frame(10 * k) for k in range(7)]
    meta = parse_avi(write_mjpeg_avi(frames, 8, 8))
    sampled = sample_frames(meta["frames"], 3)
    assert len(sampled) == 3  # frames 0, 3, 6
    vals = [decode_jpeg(f)["pixels"][0][0] for f in sampled]
    assert vals == [0, 30, 60]


def test_avi_rejects_malformed():
    frames = [_flat_frame(1)]
    good = write_mjpeg_avi(frames, 8, 8)
    with pytest.raises(ValueError):
        parse_avi(b"RIFF....AVI ")  # truncated
    with pytest.raises(ValueError):
        parse_avi(b"\x89PNG" + good[4:])  # wrong magic
    # non-MJPEG stream handler rejected, not mis-decoded
    with pytest.raises(ValueError, match="MJPEG"):
        parse_avi(good.replace(b"vidsMJPG", b"vidsH264"))
    # avih chunk shorter than its 56-byte struct: ValueError, not
    # struct.error, so except-ValueError isolation catches it
    start = good.find(b"avih")
    short = good[:start] + b"avih" + struct.pack("<I", 8) + good[start + 8:]
    with pytest.raises(ValueError, match="short avih"):
        parse_avi(short)
    # frame-count mismatch between avih and movi detected: find the
    # avih payload and corrupt dwTotalFrames
    i = good.index(b"avih") + 8
    bad = bytearray(good)
    bad[i + 16 : i + 20] = struct.pack("<I", 99)
    with pytest.raises(ValueError, match="declares"):
        parse_avi(bytes(bad))
    with pytest.raises(ValueError):
        sample_frames(frames, 0)


def test_avi_deep_list_nesting_rejected_not_recursion_error():
    # crafted 100-deep LIST nest: must raise the parser's ValueError,
    # not blow the Python recursion limit inside an executor
    inner = b"JUNK"
    for _ in range(100):
        body = b"hdrl" + inner
        inner = b"LIST" + struct.pack("<I", len(body)) + body
    payload = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    with pytest.raises(ValueError, match="nesting"):
        parse_avi(payload)
