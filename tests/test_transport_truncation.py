"""Corruption axis 9: binary payloads cut mid-stream.

A failed object-store GET / partial multipart upload is as routine at
100 TB as a failed fetch. Two contracts, each pinned here:

1. DECODER TOTALITY — every from-scratch decoder, fed a valid payload
   truncated at EVERY byte offset, raises ValueError (the documented
   decode-error contract) or returns a complete parse of the bytes
   that are actually there; never IndexError / struct.error /
   KeyError / a hang / silently-wrong metadata. Sentinels pin the
   decoder hardening (decode_bmp used to report declared-size metadata
   for missing pixel bytes).

2. ENTRY-LEVEL ERROR ISOLATION — with the conf-gated transport model
   on (functions/transport.py, spark.ethiopia_legal_etl
   .corruptTransport=0.1), every media entry runs end-to-end over
   sf0.001 with ~10% of payloads deterministically cut anywhere
   (mid-magic, mid-header, mid-frame) and accounts each corrupt
   object as an ERROR ROW (doc_id + all-NULL metadata) instead of
   crashing an executor; with the conf off, output is byte-identical
   to a never-confed run (the clean path carries no behavior change,
   which is why the driver's oracle gate is untouched by this axis).

Why the nulls mirror (tools/mirrors.py) doesn't carry this axis: the
engine's media payloads are synthesized executor-side as deterministic
functions of doc_id — the driver testdata has no binary column to
corrupt — so the cut is applied at the one place the bytes cross a
transport boundary, the synth stage, gated by a session conf that
defaults off.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from ethiopia_legal_etl_spark.functions.transport import (
    TRANSPORT_TRUNC_CONF,
    maybe_truncate,
    row_or_nulls,
)


# ---------------------------------------------------------------- #
# payload builders: the ENTRIES' OWN module-level synthesis functions
# (operators/multimodal.py, operators/webarchive.py), imported — not
# copied — so the fuzz can never drift from the byte layouts
# production emits (r11 self-review finding).
# ---------------------------------------------------------------- #

from ethiopia_legal_etl_spark.operators.multimodal import (  # noqa: E402
    synth_flat_jpeg,
    synth_ima_wav,
    synth_l1_frame,
    synth_l2_frame,
    synth_mjpeg_avi,
    synth_mp3_stream,
    synth_mu_wav,
    synth_png_gray,
    synth_png_rgb,
)
from ethiopia_legal_etl_spark.operators.webarchive import (  # noqa: E402
    synth_warc_archive,
)


def _decoders():
    """(name, payloads, decode) triples covering every codec module."""
    from ethiopia_legal_etl_spark.functions import jpeg, media, mp3, mpeg1
    from ethiopia_legal_etl_spark.functions.avi import parse_avi
    from ethiopia_legal_etl_spark.functions.g711 import decode_compressed_wav
    from ethiopia_legal_etl_spark.functions.png import decode_png
    from ethiopia_legal_etl_spark.operators.multimodal import decode_stub

    return [
        ("decode_stub", [bytes(range(256))], decode_stub),
        ("decode_wav", [media.synth_wav(i) for i in (0, 7, 13)],
         media.decode_wav),
        ("decode_bmp", [media.synth_bmp(i) for i in (1, 8, 15)],
         media.decode_bmp),
        ("decode_compressed_wav", [synth_mu_wav(5), synth_ima_wav(6)],
         decode_compressed_wav),
        ("decode_jpeg", [jpeg.synth_jpeg(3), synth_flat_jpeg(7)],
         jpeg.decode_jpeg),
        ("decode_png", [synth_png_rgb(4), synth_png_gray(9)], decode_png),
        ("parse_avi", [synth_mjpeg_avi(2)], parse_avi),
        ("parse_layer1", [synth_l1_frame(4) + synth_l1_frame(5)], mpeg1.parse_layer1),
        ("parse_layer2", [synth_l2_frame(3) + synth_l2_frame(8)], mpeg1.parse_layer2),
        ("parse_layer3", [synth_mp3_stream(6) + synth_mp3_stream(9)], mp3.parse_layer3),
    ]


def test_decoder_totality_under_truncation():
    """Contract 1: every decoder, every cut offset, ValueError or a
    valid parse — no other exception type ever escapes (row_or_nulls
    deliberately catches ONLY ValueError, so anything else would crash
    an executor)."""
    for name, payloads, decode in _decoders():
        for payload in payloads:
            for k in range(len(payload)):
                try:
                    decode(payload[:k])
                except ValueError:
                    pass  # the documented decode-error contract
                except Exception as e:  # pragma: no cover - failure path
                    pytest.fail(
                        f"{name} cut at {k}/{len(payload)}: "
                        f"{type(e).__name__}: {e}"
                    )


def test_truncation_sentinels():
    """Pinned error behaviors for specific cuts — the r11 hardening
    and one representative per codec family, so a refactor that
    silently relaxes a truncation check fails loudly."""
    from ethiopia_legal_etl_spark.functions.g711 import decode_compressed_wav
    from ethiopia_legal_etl_spark.functions.media import (
        decode_bmp,
        decode_wav,
        synth_bmp,
        synth_wav,
    )
    from ethiopia_legal_etl_spark.functions.mpeg1 import parse_layer1

    wav = synth_wav(7)
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        decode_wav(wav[:8])  # cut mid-magic
    with pytest.raises(ValueError, match="truncated data chunk"):
        decode_wav(wav[:-1])  # one byte short of the last sample

    bmp = synth_bmp(8)
    # r11 hardening: decode_bmp used to accept this cut and report
    # declared-size metadata for pixel bytes that are not there
    with pytest.raises(ValueError, match="truncated BMP"):
        decode_bmp(bmp[:-1])
    assert decode_bmp(bmp)["byte_len"] == len(bmp)  # intact still parses

    mu = synth_mu_wav(5)
    with pytest.raises(ValueError, match="missing fmt or data chunk"):
        decode_compressed_wav(mu[: len(mu) // 2])  # cut inside data
    # mu's data chunk is 55 bytes (odd -> 1 alignment pad): cutting
    # only the pad still parses completely; cutting into the data
    # itself must reject
    assert decode_compressed_wav(mu[:-1])["n_samples"] == 55
    with pytest.raises(ValueError, match="truncated chunk"):
        decode_compressed_wav(mu[:-2])  # declared size overruns payload

    l1 = synth_l1_frame(4)
    with pytest.raises(ValueError, match="truncated frame body"):
        parse_layer1(l1[:-1])
    with pytest.raises(ValueError, match="truncated header"):
        parse_layer1(l1[:2])


def test_warc_parser_totality_under_truncation():
    """The one binary FILE format the engine reads (ISO 28500 WARC,
    plain and per-record-gzipped): every cut offset either raises
    ValueError or parses the complete records that are actually there
    (a cut at a gzip member boundary legitimately yields the earlier
    records; a cut at offset ~0 yields an EMPTY archive, which the
    warc_ingest_extract entry maps to an error row itself)."""
    from ethiopia_legal_etl_spark.sources.warc import parse_warc, write_warc

    recs = [
        {"type": "response", "uri": f"http://ex.com/{i}",
         "date": "2026-01-01T00:00:00Z",
         "payload": (f"<html>doc {i} " + "x" * (40 + i * 7)).encode(),
         "record_id": f"0000-{i}"}
        for i in range(3)
    ]
    for compress in (False, True):
        payload = write_warc(recs, compress=compress)
        full = parse_warc(payload)
        assert len(full) == 3
        for k in range(len(payload)):
            try:
                got = parse_warc(payload[:k])
            except ValueError:
                continue
            # a successful parse of a prefix must be a PREFIX of the
            # full record list — never invented or reordered records
            assert [r["record_id"] for r in got] == [
                r["record_id"] for r in full[: len(got)]
            ]


def test_maybe_truncate_deterministic_fraction():
    """The transport model itself: deterministic, ~frac of keys cut,
    cut offsets strictly inside [0, len), frac=0 is the identity,
    distinct salts decorrelate columns."""
    payload = bytes(range(200))
    cut0 = {k for k in range(2000)
            if maybe_truncate(payload, k, 0.1) != payload}
    # deterministic
    assert cut0 == {k for k in range(2000)
                    if maybe_truncate(payload, k, 0.1) != payload}
    assert 0.05 < len(cut0) / 2000 < 0.15  # ~10%
    for k in list(cut0)[:50]:
        t = maybe_truncate(payload, k, 0.1)
        assert 0 <= len(t) < len(payload)
    # identity cases
    assert maybe_truncate(payload, 3, 0.0) is payload
    assert maybe_truncate(None, 3, 0.5) is None
    # salts decorrelate: the two columns' corrupt key sets differ
    cut1 = {k for k in range(2000)
            if maybe_truncate(payload, k, 0.1, salt=1) != payload}
    assert cut0 != cut1 and 0.05 < len(cut1) / 2000 < 0.15


def test_row_or_nulls_contract():
    assert row_or_nulls(7, 3, lambda: (1, 2, 3)) == (7, 1, 2, 3)
    assert row_or_nulls(7, 3, lambda: (_ for _ in ()).throw(
        ValueError("truncated"))) == (7, None, None, None)
    with pytest.raises(KeyError):  # decoder BUGS still propagate
        row_or_nulls(7, 3, lambda: {}["missing"])


def _stub_synth(i: int) -> bytes:
    return bytes([i % 256]) * (1 + i % 3)


def _stub_decode(i: int, a: bytes, b: bytes):
    """One row per payload byte; a doc_id divisible by 5 yields its
    rows and THEN raises, like a frame that is corrupt past its first
    subbands."""
    for k in range(len(a)):
        yield (k, a[k] + b[k])
    if i % 5 == 0:
        raise ValueError("corrupt past the first rows")


def _buggy_decode(i: int, a: bytes) -> list[tuple]:
    return [({}["missing"],)]


def test_synth_decode_error_rule(spark, sf_dir):
    """synth_decode's contract: rows carry doc_id first, a ValueError
    from a multi-row decode leaves exactly ONE all-NULL row for that
    doc (no partial rows), and any other exception fails the job."""
    from collections import defaultdict

    from ethiopia_legal_etl_spark.operators.multimodal import synth_decode
    from ethiopia_legal_etl_spark.sources.tables import load_table

    rows = synth_decode(
        spark, sf_dir, [_stub_synth, _stub_synth], _stub_decode,
        "doc_id long, k long, v long",
    ).collect()
    assert list(rows[0].asDict()) == ["doc_id", "k", "v"]
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(tuple(r))
    ids = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    assert set(by_doc) == ids
    assert any(d % 5 == 0 for d in ids) and any(d % 5 for d in ids)
    for d, got in by_doc.items():
        if d % 5 == 0:
            assert got == [(d, None, None)]
        else:
            assert sorted(got) == [
                (d, k, 2 * (d % 256)) for k in range(1 + d % 3)
            ]

    with pytest.raises(Exception, match="KeyError"):
        synth_decode(
            spark, sf_dir, [_stub_synth], _buggy_decode, "doc_id long, x long"
        ).collect()


# ---------------------------------------------------------------- #
# Contract 2: entry-level sweep
# ---------------------------------------------------------------- #

MEDIA_ENTRIES = [
    "multimodal_decode_real",
    "multimodal_decode_jpeg",
    "multimodal_decode_audio_compressed",
    "multimodal_video_frame_sample",
    "multimodal_decode_png",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "multimodal_decode_mpeg1",
    "multimodal_decode_mpeg1_l2",
    "multimodal_mp3_sideinfo",
    # the WARC container entry that models archives at rest (its
    # sibling warc_to_text_pipeline merges synth+parse in one closure
    # — no store boundary to cut at; see its docstring)
    "warc_ingest_extract",
]


def _collect(spark, sf_dir, name):
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    return all_queries()[name].builder(spark, sf_dir).collect()


@pytest.mark.parametrize("name", MEDIA_ENTRIES)
def test_media_entry_survives_truncated_payloads(spark, sf_dir, name):
    """Every media entry, ~10% of payloads cut anywhere: completes,
    keeps every doc_id (error rows, not dropped rows), marks corrupt
    objects as all-NULL metadata, decodes the rest exactly as the
    clean run does."""
    clean = _collect(spark, sf_dir, name)
    spark.conf.set(TRANSPORT_TRUNC_CONF, "0.1")
    try:
        rows = _collect(spark, sf_dir, name)
    finally:
        spark.conf.unset(TRANSPORT_TRUNC_CONF)

    meta_cols = [c for c in rows[0].asDict() if c != "doc_id"]
    err_ids = {
        r["doc_id"] for r in rows
        if all(r[c] is None for c in meta_cols)
    }
    ok_rows = sorted(
        (tuple(r) for r in rows if r["doc_id"] not in err_ids)
    )
    # the cut fraction shows up as error rows (sf0.001 = 500 docs;
    # entries with 2 payload columns corrupt up to ~2x the per-column
    # fraction, hence the loose upper bound)
    n_docs = len({r["doc_id"] for r in rows})
    assert 0.03 < len(err_ids) / n_docs < 0.25, (
        f"{name}: {len(err_ids)}/{n_docs} error docs"
    )
    # every doc_id still accounted for
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in clean}
    # a corrupt object is exactly ONE row: no partial subband or
    # granule rows survive a corrupt frame
    n_rows = Counter(r["doc_id"] for r in rows)
    assert all(n_rows[d] == 1 for d in err_ids), (
        f"{name}: error docs with extra rows"
    )
    # healthy rows are byte-identical to the clean run's rows
    clean_ok = sorted(
        tuple(r) for r in clean if r["doc_id"] not in err_ids
    )
    assert ok_rows == clean_ok, f"{name}: healthy rows drifted"
    # and with the conf off again, the entry is exactly its clean self
    again = sorted(map(tuple, _collect(spark, sf_dir, name)))
    assert again == sorted(map(tuple, clean))


def test_truncated_fraction_matches_formula(spark, sf_dir):
    """The set of error doc_ids is exactly the set maybe_truncate's
    hash formula predicts — the corruption is deterministic, so a
    rerun (or a 1000-executor run) corrupts the same objects."""
    name = "multimodal_audio_features"
    spark.conf.set(TRANSPORT_TRUNC_CONF, "0.1")
    try:
        rows = _collect(spark, sf_dir, name)
    finally:
        spark.conf.unset(TRANSPORT_TRUNC_CONF)
    err_ids = {
        r["doc_id"] for r in rows if r["n_samples"] is None
    }
    from ethiopia_legal_etl_spark.functions.g711 import decode_compressed_wav

    predicted = set()
    for i in {r["doc_id"] for r in rows}:
        p = synth_mu_wav(i)
        t = maybe_truncate(p, i, 0.1)
        if t != p:
            # a cut payload yields an error row iff the decoder rejects
            # it — a cut that removes ONLY the RIFF alignment pad byte
            # still parses completely (doc 295 at sf0.001 does exactly
            # this), which is correct: the data bytes are all there
            try:
                decode_compressed_wav(t)
            except ValueError:
                predicted.add(i)
    assert err_ids == predicted
    assert math.isclose(len(err_ids) / 500, 0.1, abs_tol=0.05)
