"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched pandas UDFs (driver
mandate; generalizes the reference's binary PDF handling, A-9/A-11).

The container has no codec libraries, so decode comes in two honesty
tiers: REAL from-scratch decoders — WAV/BMP (functions/media.py),
baseline JPEG (functions/jpeg.py, T.81 subset incl. Huffman entropy
decode and IDCT), compressed audio (functions/g711.py: G.711 mu-law +
IMA ADPCM), and MJPEG-AVI video frame sampling (functions/avi.py over
the JPEG codec) — and a clearly-marked deterministic fake
(decode_stub) standing in for the PERCEPTUAL codecs (MP3/H.264),
which have no in-container-constructible exact ground truth and are
swapped for ffmpeg on a real cluster. The Spark-side plumbing
(schema, mapInPandas batch shape, partitioning) is identical and
tested across all tiers.

Scale: binary payloads ride in the dataframe as BinaryType — at
100 TB, write the table partitioned so decode stages scan only needed
partitions; mapInPandas streams Arrow batches (maxRecordsPerBatch
bounds executor memory per batch regardless of payload count).
"""

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

MEDIA_SCHEMA = (
    "doc_id long, media_type string, byte_len long, width int, height int, "
    "n_frames int, sample_rate int"
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic fake decoder. REAL decode is NOT implemented in
    this container (no PIL/ffmpeg) — this derives plausible metadata
    purely from the bytes so plumbing is testable. Replace with a real
    codec on deployment."""
    n = len(payload)
    head = payload[:8]
    checksum = sum(head) if head else 0
    return {
        "byte_len": n,
        "width": 16 + (checksum % 64) * 16,
        "height": 16 + ((checksum >> 2) % 64) * 16,
        "n_frames": 1 + (n % 24),
        "sample_rate": 8000 + (n % 5) * 8000,
    }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a multimodal table: text docs with an opaque binary payload
    column + media_type, standing in for image/audio blobs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("media_type"),
    )


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas decode stage: Arrow batches in, typed metadata out."""
    import pandas as pd

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL payload (failed fetch/extraction — routine at
            # corpus scale) decodes to all-null metadata, never crashes
            # the executor
            metas = [
                dict.fromkeys(
                    ("byte_len", "width", "height", "n_frames", "sample_rate")
                )
                if p is None
                else decode_stub(bytes(p))
                for p in pdf["payload"]
            ]
            out = pd.DataFrame(metas)
            out.insert(0, "media_type", pdf["media_type"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(decode_batches, schema=MEDIA_SCHEMA)


@register(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           OCTET_LENGTH(CAST(text AS BLOB))  AS byte_len,
           SHA256(text)                      AS payload_sha,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END             AS media_type
    FROM documents
    """,
    doc="binary-column plumbing: payload length + digest + typed media "
    "routing (pure column expressions — oracle-checkable)",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return m.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("byte_len"),
        F.sha2("payload", 256).alias("payload_sha"),
        "media_type",
    )


@register(
    "multimodal_decode_stub",
    oracle=None,  # decode is a stub; plumbing checked rows-only + unit tests
    doc="mapInPandas decode stage over binary payloads (STUBBED decode; "
    "real Arrow batch plumbing) + per-media-type aggregate. The stub's "
    "remaining scope has narrowed over time: WAV/BMP, JPEG/PNG/"
    "MJPEG-AVI/G.711/IMA, MPEG-1 audio Layer I+II, and MP3 "
    "Layer III frame syntax + reservoir + scalefactors ("
    "multimodal_mp3_sideinfo) are all REAL decoders now. FINAL scope: "
    "the two remaining decodes — MP3 spectral "
    "Huffman (ISO 11172-3 Table B.7, ~2000 entries) and H.264 — stay "
    "stubbed PERMANENTLY as a measured rejection, not a TODO: the "
    "container has no ground truth (no compliance bitstream, no "
    "independent decoder), structural self-checks (prefix-freedom, "
    "Kraft equality) cannot catch a wrong-but-valid transcription, "
    "and a mirror-encoder round trip is self-consistent with ANY "
    "prefix-free table — so a from-memory transcription could ship "
    "silently wrong values, which this registry's value-exact "
    "discipline exists to prevent. Frames carrying spectral data "
    "reject with a ValueError naming the table."
    " Rows-only verdict: NOT convertible — the entry's content "
    "is the Arrow batch plumbing around a DOCUMENTED stub tier (MP3 "
    "spectral/H.264); the ten real codecs beside it carry value-exact "
    "oracles. Ground truth: plumbing unit tests + truncation-totality "
    "fuzz.",
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = extract_media_metadata(media_table(spark, sf_dir))
    return meta.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("byte_len").alias("total_bytes"),
        F.round(F.avg("width"), 2).alias("avg_width"),
        F.round(F.avg("n_frames"), 2).alias("avg_frames"),
    )


@register(
    "multimodal_fake_embed",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             hex(encode(text)) AS hx
      FROM documents
    ),
    counts AS (
      -- byte value % 8 = low-nibble % 8, and byte i's low nibble is
      -- hex char 2*i (1-based): the 8-bucket histogram falls out of
      -- the hex string without materializing byte arrays
      SELECT doc_id, media_type,
             LEN(hx) // 2 AS total,
             list_transform(range(0, 8),
               k -> LEN(list_filter(range(1, LEN(hx) // 2 + 1),
                    i -> (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) % 8 = k)))
               AS hist
      FROM m
    ),
    l2 AS (
      SELECT media_type,
             CASE WHEN total = 0 THEN 0.0
                  ELSE SQRT(list_reduce(
                         list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(hist, c -> CAST(c AS DOUBLE) / CAST(total AS DOUBLE))),
                         (a, x) -> a + x * x))
             END AS l2
      FROM counts
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(AVG(l2), 4) AS avg_emb_norm
    FROM l2 GROUP BY media_type
    """,
    doc="vectorized pandas-UDF feature extractor: binary payload → "
    "8-dim fake embedding (deterministic; stands in for a real "
    "image/audio encoder), then norm stats per media type. "
    "ORACLE-CHECKED — the 'fake' "
    "featurizer was deterministic by design (8-bucket byte histogram, "
    "normalized), so DuckDB recomputes every embedding from the "
    "payload bytes (low-nibble bucketing over hex(encode(text))), "
    "mirrors the UDF's exact left-to-right a+x*x fold and sqrt, and "
    "checks the per-type norm stats; round(avg,4) is the standing "
    "cross-row float policy.",
)
def multimodal_fake_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def fake_embed(payloads: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for p in payloads:
            if p is None:
                # NULL payload -> NULL embedding (the aggregate's avg
                # skips it — mirrored by the oracle's NULL l2)
                out.append(None)
                continue
            b = np.frombuffer(bytes(p), dtype=np.uint8)
            if len(b) == 0:
                out.append([0.0] * 8)
                continue
            # deterministic 8-bucket byte histogram, normalized
            hist = np.bincount(b % 8, minlength=8).astype("float64")
            out.append((hist / hist.sum()).tolist())
        return pd.Series(out)

    m = media_table(spark, sf_dir).withColumn("emb", fake_embed(F.col("payload")))
    l2 = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.avg(l2), 4).alias("avg_emb_norm"),
    )


# ------------------------------------------------------------------ #
# Per-entry payload-synthesis formulas, module-level so the axis-9
# fuzz (tests/test_transport_truncation.py) fuzzes EXACTLY the byte
# layouts the entries emit — an inline-closure copy in the test would
# silently drift when a formula changes (self-review). Codec
# imports stay inside the functions, executor-side, like the entry
# closures they serve. Each function is deterministic in doc_id.
# ------------------------------------------------------------------ #


def synth_mu_wav(i: int) -> bytes:
    """The G.711 mu-law object: encoded bytes follow the doc_id
    formula the audio_compressed oracle re-expands in SQL."""
    from ethiopia_legal_etl_spark.functions.g711 import write_mulaw_wav

    enc = bytes((i * 13 + j * 7) % 256 for j in range(50 + i % 40))
    return write_mulaw_wav(enc, 8000 * (1 + i % 2))


def synth_ima_wav(i: int) -> bytes:
    """The IMA ADPCM object: constant signal, 64-byte blocks."""
    from ethiopia_legal_etl_spark.functions.g711 import (
        ima_encode_block,
        write_ima_wav,
    )

    c, spb = i % 100 - 50, 1 + (64 - 4) * 2
    blocks = [ima_encode_block([c] * spb, 64) for _ in range(1 + i % 3)]
    return write_ima_wav(blocks, 8000, 64)


def synth_l1_frame(i: int) -> bytes:
    """The MPEG-1 Layer I frame the decode_mpeg1 oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.mpeg1 import write_layer1_frame

    allocations = [0] * 32
    scf, samples = [], []
    for sb in range(32):
        if (3 * sb + i) % 4:
            continue
        nb = 2 + (i + sb) % 14
        allocations[sb] = nb - 1
        scf.append(3 * ((i + 2 * sb) % 21))
        samples.append(
            [(i * 5 + sb * 3 + t * 11) % ((1 << nb) - 1) for t in range(12)]
        )
    return write_layer1_frame(allocations, scf, samples)


def synth_l2_frame(i: int) -> bytes:
    """The MPEG-1 Layer II frame the decode_mpeg1_l2 oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.mpeg1 import (
        B2A_SBLIMIT,
        b2a_class,
        write_layer2_frame,
    )

    alloc = [0] * B2A_SBLIMIT
    scfsi_list, scf_tx, samples = [], [], []
    for sb in range(B2A_SBLIMIT):
        if (3 * sb + i) % 4:
            continue
        _nbal, catalog = b2a_class(sb)
        a = 1 + (i + sb) % len(catalog)
        alloc[sb] = a
        levels = catalog[a - 1]
        scfsi = (i + sb) % 4
        f = [(i + 2 * sb + 5 * p) % 21 * 3 for p in range(3)]
        tx = {
            0: [f[0], f[1], f[2]],
            1: [f[0], f[2]],
            2: [f[0]],
            3: [f[0], f[1]],
        }[scfsi]
        scfsi_list.append(scfsi)
        scf_tx.append(tx)
        samples.append([(i * 7 + sb * 5 + t * 11) % levels for t in range(36)])
    return write_layer2_frame(alloc, scfsi_list, scf_tx, samples)


def mp3_frame_spec(i: int) -> dict:
    """The Layer III side-info spec the mp3_sideinfo oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.mp3 import SLEN

    granules = []
    for gr in range(2):
        sfc = i % 16 if gr == 0 else (i * 3 + 1) % 16
        slen1, slen2 = SLEN[sfc]
        sfs = []
        for b in range(21):
            slen = slen1 if b < 11 else slen2
            raw = (i + b) if gr == 0 else (i + 2 * b + 1)
            sfs.append(raw % (1 << slen) if slen else 0)
        granules.append(
            {
                "global_gain": (i * 7) % 256 if gr == 0 else (i * 11 + 5) % 256,
                "scalefac_compress": sfc,
                "preflag": (i + gr) % 2,
                "scalefac_scale": (i // 2 + gr) % 2,
                "scalefactors": sfs,
            }
        )
    return {"scfsi": (i * 5) % 16, "granules": granules}


def synth_mp3_stream(i: int) -> bytes:
    from ethiopia_legal_etl_spark.functions.mp3 import write_layer3_stream

    return write_layer3_stream([mp3_frame_spec(i)])


def synth_mjpeg_avi(i: int) -> bytes:
    """The MJPEG AVI container (flat q=1 JPEG frames) the
    video_frame_sample oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.avi import write_mjpeg_avi
    from ethiopia_legal_etl_spark.functions.jpeg import encode_baseline_jpeg

    frames = [
        encode_baseline_jpeg(
            [[(i * 11 + k * 17) % 256] * 8 for _ in range(8)], quant=1
        )
        for k in range(3 + i % 6)
    ]
    return write_mjpeg_avi(frames, 8, 8, fps=5 + i % 10)


def synth_png_rgb(i: int) -> bytes:
    """The RGB PNG the decode_png oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.png import encode_png

    w, h = 5 + i % 12, 6 + (i // 3) % 10
    return encode_png(
        [
            [
                (
                    (i * 7 + x * 11 + y * 3) % 256,
                    (x + y * 5 + i) % 256,
                    (x * y + i * 13) % 256,
                )
                for x in range(w)
            ]
            for y in range(h)
        ]
    )


def synth_png_gray(i: int) -> bytes:
    """The grayscale PNG the image_resize oracle re-derives."""
    from ethiopia_legal_etl_spark.functions.png import encode_png

    w, h = 5 + i % 12, 6 + (i // 3) % 10
    return encode_png(
        [
            [(i * 7 + x * 11 + y * 3) % 256 for x in range(w)]
            for y in range(h)
        ],
        grayscale=True,
    )


def synth_flat_jpeg(i: int) -> bytes:
    """The flat q=1 JPEG (value-exact decode) of decode_jpeg's `flat`."""
    from ethiopia_legal_etl_spark.functions.jpeg import encode_baseline_jpeg

    return encode_baseline_jpeg([[i % 256] * 8 for _ in range(8)], quant=1)


def _media_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input pipeline for the synth-media entries
    (multimodal_decode_real used to re-implement this inline, so a
    partitioning/filtering change here could silently diverge from
    the fused path — now both consume the same helper).

    One shuffle of bare 8-byte doc_id rows buys full decode
    parallelism: without it a single-file documents scan yields ONE
    partition and the whole synth+decode pipeline runs serially on
    one core (measured: JPEG 50.7 s -> 3.1 s at sf0.1 on local[32]).
    At 100 TB decode cost/byte dwarfs shuffle cost/byte by orders of
    magnitude, so redistributing ids before the payload stage is the
    scale-correct trade everywhere, not a local workaround."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def synth_media_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media payloads, synthesized distributed: even doc_ids get a
    genuine PCM WAV, odd doc_ids a genuine 24-bit BMP (functions/
    media.py — dependency-free encoders). mapInPandas so the bytes are
    built executor-side, never on the driver."""
    from ethiopia_legal_etl_spark.functions.transport import trunc_fraction

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    # model object-store partial reads; 0 (default) = byte-identical
    frac = trunc_fraction(spark)
    return docs.mapInPandas(
        _synth_media_fn(frac),
        schema="doc_id long, media_type string, payload binary",
    )


def _synth_media_fn(frac: float):
    """The WAV/BMP synth batch generator behind synth_media_real,
    exposed so multimodal_decode_real can FUSE it with its decode
    stage in one mapInPandas."""
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.media import synth_bmp, synth_wav
    from ethiopia_legal_etl_spark.functions.transport import maybe_truncate

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_type": [
                        "audio" if i % 2 == 0 else "image" for i in ids
                    ],
                    "payload": [
                        maybe_truncate(
                            synth_wav(i) if i % 2 == 0 else synth_bmp(i),
                            i,
                            frac,
                        )
                        for i in ids
                    ],
                }
            )

    return synth


@register(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END
             AS media_type,
           CASE WHEN doc_id % 2 = 0
                THEN 44 + 2 * (100 + doc_id % 50)
                ELSE 54 + (((4 + doc_id % 32) * 3 + 3) // 4) * 4
                       * (4 + (doc_id // 7) % 32)
           END AS byte_len,
           CASE WHEN doc_id % 2 = 0
                THEN 8000 * (1 + doc_id % 3) END AS sample_rate,
           CASE WHEN doc_id % 2 = 0
                THEN 100 + doc_id % 50 END AS n_samples,
           CASE WHEN doc_id % 2 = 0
                THEN (100 + doc_id % 50) * 1000000
                       // (8000 * (1 + doc_id % 3)) END AS duration_us,
           CASE WHEN doc_id % 2 = 1
                THEN 4 + doc_id % 32 END AS width,
           CASE WHEN doc_id % 2 = 1
                THEN 4 + (doc_id // 7) % 32 END AS height
    FROM documents
    """,
    doc="REAL multimodal decode, executed in-container: genuine PCM WAV "
    "and 24-bit BMP payloads are synthesized executor-side, then parsed "
    "back by dependency-free byte-format decoders (functions/media.py: "
    "RIFF chunk walk, BITMAPINFOHEADER). The oracle derives every "
    "metadata field from the doc_id formulas, so the hash match proves "
    "the decoder exactly inverts the encoder — including canonical "
    "file sizes (44-byte WAV header; BMP 4-byte row padding). "
    "Compressed-codec decode: JPEG is REAL (from-scratch "
    "baseline codec, multimodal_decode_jpeg), and MPEG-1 Audio "
    "Layer I is REAL (multimodal_decode_mpeg1, "
    "functions/mpeg1.py); MP3 (Layer III) remains stubbed "
    "(multimodal_decode_stub) pending ffmpeg on deployment — a "
    "perceptual Huffman/hybrid-filterbank codec has no in-container "
    "exact ground truth, but its frame/header family is now "
    "exercised for real by the Layer I decoder. "
    "One deliberate parallelism shuffle (doc_id repartition; see the "
    "comment at the scan), then synth -> decode in back-to-back "
    "Arrow-batched mapInPandas stages.",
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.media import decode_bmp, decode_wav
    from ethiopia_legal_etl_spark.functions.transport import (
        row_or_nulls,
        trunc_fraction,
    )

    # same input pipeline + synth generator as synth_media_real
    # (shared helpers); decode is fused below
    docs = _media_doc_ids(spark, sf_dir)
    synth = _synth_media_fn(trunc_fraction(spark))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                b = bytes(payload)

                def one() -> tuple:
                    if mt == "audio":
                        m = decode_wav(b)
                        return (mt, m["byte_len"], m["sample_rate"],
                                m["n_samples"], m["duration_us"], None,
                                None)
                    m = decode_bmp(b)
                    return (mt, m["byte_len"], None, None, None,
                            m["width"], m["height"])

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 7, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "byte_len", "sample_rate",
                    "n_samples", "duration_us", "width", "height",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, media_type string, byte_len long, "
            "sample_rate long, n_samples long, duration_us long, "
            "width long, height long"
        ),
    )


@register(
    "multimodal_decode_jpeg",
    oracle="""
    SELECT doc_id,
           'image/jpeg' AS media_type,
           9 + doc_id % 23 AS width,
           10 + (doc_id // 5) % 19 AS height,
           (9 + doc_id % 23) * (10 + (doc_id // 5) % 19) AS n_pixels,
           1 AS n_components,
           doc_id % 256 AS flat_val
    FROM documents
    """,
    doc="REAL compressed-codec decode, executed in-container (closes "
    "the earlier 'JPEG stubbed pending PIL' gap the way pdftext.py closed "
    "PDF extraction): functions/jpeg.py is a from-scratch baseline "
    "JPEG codec — markers, canonical Huffman, entropy decode with "
    "byte unstuffing, DC prediction, AC RLE/ZRL/EOB, dequant, "
    "de-zigzag, float IDCT. Each doc synthesizes TWO genuine JPEGs "
    "executor-side: a gradient image (non-multiple-of-8 dims, "
    "exercising pad+crop and the AC path) whose decoded "
    "width/height/pixel-count must match the doc_id formulas, and a "
    "flat image whose decoded pixel VALUE must equal doc_id % 256 "
    "exactly (DC-only reconstruction error < 0.5 -> rounds exact). "
    "General pixel correctness at q>1 is pinned by an independent "
    "numpy DCT-model differential in tests/test_jpeg_codec.py. "
    "Unsupported JPEG features (progressive, color, restart "
    "markers) raise ValueError — rejected, not mis-decoded. "
    "One parallelism shuffle (doc_id repartition), then a synth -> "
    "decode mapInPandas pipeline.",
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.jpeg import (
        decode_jpeg,
        synth_jpeg,
    )
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    # shared input pipeline (parallelism shuffle rationale at the
    # helper's docstring)
    docs = _media_doc_ids(spark, sf_dir)

    # axis 9 (functions/transport.py): conf-gated deterministic cuts;
    # the two payload columns fail independently (distinct salts)
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "grad": [
                        maybe_truncate(synth_jpeg(i), i, frac) for i in ids
                    ],
                    "flat": [
                        maybe_truncate(synth_flat_jpeg(i), i, frac, salt=1)
                        for i in ids
                    ],
                }
            )


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, grad, flat in zip(
                pdf["doc_id"], pdf["grad"], pdf["flat"]
            ):

                def one(grad=grad, flat=flat) -> tuple:
                    g = decode_jpeg(bytes(grad))
                    f = decode_jpeg(bytes(flat))
                    return (
                        "image/jpeg",
                        g["width"],
                        g["height"],
                        g["width"] * g["height"],
                        g["n_components"],
                        f["pixels"][0][0],
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 6, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "width", "height",
                    "n_pixels", "n_components", "flat_val",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, media_type string, width long, height long, "
            "n_pixels long, n_components int, flat_val long"
        ),
    )


@register(
    "multimodal_decode_audio_compressed",
    oracle="""
    SELECT d.doc_id,
           'g711-mulaw' AS mu_codec,
           8000 * (1 + d.doc_id % 2) AS mu_rate,
           50 + d.doc_id % 40 AS mu_n,
           CAST(SUM(
             (CASE WHEN ((255 - ((d.doc_id * 13 + t.i * 7) % 256)) & 128) <> 0
                   THEN -1 ELSE 1 END)
             * ((((((255 - ((d.doc_id * 13 + t.i * 7) % 256)) & 15) * 8) + 132)
                 << (((255 - ((d.doc_id * 13 + t.i * 7) % 256)) >> 4) & 7))
                - 132)
           ) AS BIGINT) AS mu_sum,
           (CASE WHEN ((255 - ((d.doc_id * 13) % 256)) & 128) <> 0
                 THEN -1 ELSE 1 END)
           * ((((((255 - ((d.doc_id * 13) % 256)) & 15) * 8) + 132)
               << (((255 - ((d.doc_id * 13) % 256)) >> 4) & 7)) - 132)
             AS mu_first,
           'ima-adpcm' AS ima_codec,
           121 * (1 + d.doc_id % 3) AS ima_n,
           (d.doc_id % 100 - 50) * 121 * (1 + d.doc_id % 3) AS ima_sum
    FROM documents d
    JOIN (SELECT unnest(range(90)) AS i) t
      ON t.i < 50 + d.doc_id % 40
    GROUP BY d.doc_id
    """,
    doc="REAL compressed-AUDIO decode, executed in-container "
    "(functions/g711.py; closes the earlier 'compressed audio pending "
    "ffmpeg' gap for the two exactly-specified public codecs). Each "
    "doc synthesizes TWO genuine compressed WAVs executor-side: a "
    "G.711 mu-law stream whose encoded bytes follow a doc_id formula "
    "— and because mu-law expansion is a closed-form integer formula, "
    "the DuckDB oracle recomputes the DECODED PCM VALUES themselves "
    "in SQL (bit ops over LATERAL range), making this a value-exact "
    "cross-engine decode parity check — and an IMA ADPCM stream "
    "(stateful adaptive-differential codec, 4-byte block headers, "
    "nibble codes) carrying a constant signal, which the codec "
    "provably preserves exactly (diff 0 -> nibble 0 -> delta 0), so "
    "sum = c * n is oracle-checkable. General IMA waveform "
    "correctness is pinned by an independent RFC-pseudocode decoder "
    "differential in tests/test_av_codecs.py. Unsupported formats "
    "(PCM tag via this path, stereo, foreign tags) raise ValueError. "
    "One parallelism shuffle (doc_id repartition), then synth -> "
    "decode mapInPandas; IMA blocks "
    "are self-contained (header restates predictor), so a 100 TB "
    "audio corpus decodes block-parallel with no cross-block state. "
    "Partition sizing (measured, 3 runs): decode "
    "runs at ~1-2 MB/s/core of compressed payload with a ~0.3-0.5 s "
    "per-stage floor, so target 16-32 MB of payload per partition "
    "(10-35 s tasks) via maxPartitionBytes or the post-scan "
    "repartition count - see SCALING.md codec-volume section.",
)
def multimodal_decode_audio_compressed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.g711 import decode_compressed_wav
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    # shared input pipeline (parallelism shuffle rationale at the
    # helper's docstring)
    docs = _media_doc_ids(spark, sf_dir)

    # axis 9 (functions/transport.py): conf-gated deterministic cuts;
    # the two audio objects fail independently (distinct salts)
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "mu": [
                        maybe_truncate(synth_mu_wav(i), i, frac)
                        for i in ids
                    ],
                    "ima": [
                        maybe_truncate(synth_ima_wav(i), i, frac, salt=1)
                        for i in ids
                    ],
                }
            )


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mu, ima in zip(pdf["doc_id"], pdf["mu"], pdf["ima"]):

                def one(mu=mu, ima=ima) -> tuple:
                    m = decode_compressed_wav(bytes(mu))
                    a = decode_compressed_wav(bytes(ima))
                    return (
                        m["codec"],
                        m["sample_rate"],
                        m["n_samples"],
                        sum(m["samples"]),
                        m["samples"][0],
                        a["codec"],
                        a["n_samples"],
                        sum(a["samples"]),
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 8, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "mu_codec", "mu_rate", "mu_n", "mu_sum",
                    "mu_first", "ima_codec", "ima_n", "ima_sum",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, mu_codec string, mu_rate long, mu_n long, "
            "mu_sum long, mu_first long, ima_codec string, ima_n long, "
            "ima_sum long"
        ),
    )


@register(
    "multimodal_video_frame_sample",
    oracle="""
    SELECT d.doc_id,
           3 + d.doc_id % 6 AS n_frames,
           8 AS width, 8 AS height,
           5 + d.doc_id % 10 AS fps,
           (3 + d.doc_id % 6 + 1) // 2 AS n_sampled,
           CAST(SUM((d.doc_id * 11 + t.k * 17) % 256) AS BIGINT)
             AS sampled_val_sum
    FROM documents d
    JOIN (SELECT unnest(range(9)) AS k) t
      ON t.k < 3 + d.doc_id % 6 AND t.k % 2 = 0
    GROUP BY d.doc_id
    """,
    doc="REAL VIDEO frame sampling, executed in-container: each doc "
    "synthesizes a genuine playable MJPEG AVI executor-side "
    "(functions/avi.py writes the public RIFF layout: hdrl/avih/strl/"
    "strh/strf + movi 00dc chunks + idx1), whose frames are real "
    "baseline JPEGs from functions/jpeg.py. Decode parses the "
    "container (cross-checking avih dwTotalFrames against the movi "
    "chunk count), frame-samples every 2nd frame, and runs the REAL "
    "JPEG decoder on each sampled frame; flat q=1 frames decode "
    "value-exact, so the oracle recomputes the sampled-frame pixel "
    "sum from the doc_id formulas (LATERAL stride-2 range). "
    "Non-MJPEG streams and malformed containers raise ValueError — "
    "rejected, not mis-decoded. One parallelism shuffle (doc_id "
    "repartition), then synth -> decode mapInPandas; MJPEG frames "
    "are independently decodable "
    "(intra-only), so 100 TB of video frame-extracts with no "
    "inter-frame state — the video analogue of IMA's "
    "self-contained audio blocks.",
)
def multimodal_video_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.avi import parse_avi, sample_frames
    from ethiopia_legal_etl_spark.functions.jpeg import decode_jpeg
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    # shared input pipeline (parallelism shuffle rationale at the
    # helper's docstring)
    docs = _media_doc_ids(spark, sf_dir)

    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            avis = [
                maybe_truncate(synth_mjpeg_avi(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "avi": avis})


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, avi in zip(pdf["doc_id"], pdf["avi"]):

                def one(avi=avi) -> tuple:
                    m = parse_avi(bytes(avi))
                    sampled = sample_frames(m["frames"], 2)
                    val_sum = sum(
                        decode_jpeg(f)["pixels"][0][0] for f in sampled
                    )
                    return (
                        m["n_frames"], m["width"], m["height"],
                        m["fps"], len(sampled), val_sum,
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 6, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "width", "height", "fps",
                    "n_sampled", "sampled_val_sum",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, n_frames long, width long, height long, "
            "fps long, n_sampled long, sampled_val_sum long"
        ),
    )


@register(
    "multimodal_decode_png",
    oracle="""
    SELECT d.doc_id,
           5 + d.doc_id % 12 AS width,
           6 + (d.doc_id // 3) % 10 AS height,
           (5 + d.doc_id % 12) * (6 + (d.doc_id // 3) % 10) AS n_pixels,
           3 AS n_channels,
           CAST(SUM((d.doc_id * 7 + tx.x * 11 + ty.y * 3) % 256) AS BIGINT)
             AS r_sum,
           CAST(SUM((tx.x + ty.y * 5 + d.doc_id) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((tx.x * ty.y + d.doc_id * 13) % 256) AS BIGINT) AS b_sum
    FROM documents d
    JOIN (SELECT unnest(range(17)) AS x) tx ON tx.x < 5 + d.doc_id % 12
    JOIN (SELECT unnest(range(16)) AS y) ty
      ON ty.y < 6 + (d.doc_id // 3) % 10
    GROUP BY d.doc_id
    """,
    doc="REAL LOSSLESS compressed-image decode (functions/png.py: "
    "RFC 2083 PNG over stdlib zlib's genuine DEFLATE — chunk walk "
    "with CRC verification, all five scanline filters, 8-bit "
    "gray/RGB). Because PNG is lossless, this oracle is VALUE-EXACT "
    "over arbitrary images: each doc synthesizes a gradient RGB "
    "image executor-side (encoder cycles filters None/Sub/Up/"
    "Average/Paeth row-by-row, so every filter path runs on every "
    "payload) and the DuckDB side recomputes the full per-channel "
    "pixel sums from the synth formulas — a stronger check than "
    "baseline JPEG's flat-block exactness. Palette/alpha/16-bit/"
    "interlaced PNGs raise ValueError — rejected, not mis-decoded. "
    "One parallelism shuffle (doc_id repartition), then a synth -> "
    "decode mapInPandas pipeline.",
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.png import decode_png
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    # shared input pipeline (parallelism shuffle rationale at the
    # helper's docstring)
    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            pngs = [
                maybe_truncate(synth_png_rgb(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "png": pngs})


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, png in zip(pdf["doc_id"], pdf["png"]):

                def one(png=png) -> tuple:
                    m = decode_png(bytes(png))
                    sums = [0, 0, 0]
                    for row in m["pixels"]:
                        for px in row:
                            sums[0] += px[0]
                            sums[1] += px[1]
                            sums[2] += px[2]
                    return (
                        m["width"], m["height"],
                        m["width"] * m["height"], m["n_channels"],
                        sums[0], sums[1], sums[2],
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 7, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_pixels",
                    "n_channels", "r_sum", "g_sum", "b_sum",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, width long, height long, n_pixels long, "
            "n_channels long, r_sum long, g_sum long, b_sum long"
        ),
    )


@register(
    "multimodal_image_resize",
    oracle="""
    SELECT d.doc_id,
           5 + d.doc_id % 12 AS in_w,
           6 + (d.doc_id // 3) % 10 AS in_h,
           8 AS out_w, 8 AS out_h,
           CAST(SUM((d.doc_id * 7
                + ((tx.x * (5 + d.doc_id % 12)) // 8) * 11
                + ((ty.y * (6 + (d.doc_id // 3) % 10)) // 8) * 3) % 256)
             AS BIGINT) AS resized_sum
    FROM documents d
    CROSS JOIN (SELECT unnest(range(8)) AS x) tx
    CROSS JOIN (SELECT unnest(range(8)) AS y) ty
    GROUP BY d.doc_id
    """,
    doc="REAL image RESIZE over REAL decoded pixels (the multimodal "
    "mandate's resize verb, on data produced by the from-scratch PNG "
    "codec, not stub metadata): each doc synthesizes a grayscale "
    "gradient PNG, decodes it (functions/png.py), and resizes to 8x8 "
    "with functions/imageops.resize_nearest — the floor source-index "
    "map src = dst*in//out is pure integer arithmetic, so the DuckDB "
    "oracle recomputes EVERY output pixel and the check is "
    "value-exact end-to-end through encode -> DEFLATE -> decode -> "
    "resize. The bilinear variant (8-bit fixed-point weights) is "
    "exercised on the same decoded pixels and pinned against an "
    "independent numpy float model in tests/test_imageops.py. One "
    "parallelism shuffle, then synth -> decode+resize mapInPandas.",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.imageops import (
        resize_bilinear,
        resize_nearest,
    )
    from ethiopia_legal_etl_spark.functions.png import decode_png
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            pngs = [
                maybe_truncate(synth_png_gray(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "png": pngs})


    def decode_resize(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, png in zip(pdf["doc_id"], pdf["png"]):

                def one(png=png) -> tuple:
                    m = decode_png(bytes(png))
                    near = resize_nearest(m["pixels"], 8, 8)
                    # bilinear runs on the same real pixels (tested vs
                    # an independent numpy model); only nearest is
                    # emitted because only it is integer-exact for the
                    # oracle
                    resize_bilinear(m["pixels"], 8, 8)
                    return (
                        m["width"], m["height"], 8, 8,
                        sum(v for row in near for v in row),
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 5, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "in_w", "in_h", "out_w", "out_h",
                    "resized_sum",
                ],
            )

    # ONE fused mapInPandas stage: payloads
    # built and decoded in the same Python worker — no Arrow round
    # trip of the PNG bytes (guide §4.1).
    return docs.mapInPandas(
        lambda it: decode_resize(synth(it)),
        schema=(
            "doc_id long, in_w long, in_h long, out_w long, out_h long, "
            "resized_sum long"
        ),
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, t.i,
             (CASE WHEN ((255 - ((d.doc_id * 13 + t.i * 7) % 256)) & 128)
                        <> 0 THEN -1 ELSE 1 END)
             * ((((((255 - ((d.doc_id * 13 + t.i * 7) % 256)) & 15) * 8)
                  + 132)
                 << (((255 - ((d.doc_id * 13 + t.i * 7) % 256)) >> 4) & 7))
                - 132) AS v
      FROM documents d
      JOIN (SELECT unnest(range(90)) AS i) t ON t.i < 50 + d.doc_id % 40
    ),
    w AS (
      SELECT doc_id, v,
             LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
      FROM s
    )
    SELECT doc_id,
           COUNT(*) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (v < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           MAX(ABS(v)) AS peak
    FROM w
    GROUP BY doc_id
    """,
    doc="REAL audio FEATURE EXTRACTION over REAL decoded samples (the "
    "multimodal mandate's feature-extract verb on codec output): each "
    "doc synthesizes a G.711 mu-law WAV, decodes it to PCM16 "
    "(functions/g711.py), and extracts integer DSP features — energy "
    "(sum of squares), strict sign-change zero crossings, peak "
    "|sample| (functions/imageops.audio_features). Because mu-law "
    "expansion is a closed-form integer formula, the DuckDB oracle "
    "recomputes every decoded sample in SQL and re-derives all three "
    "features (LAG window for crossings) — value-exact end-to-end "
    "through encode -> container -> decode -> feature extraction. "
    "One parallelism shuffle, then synth -> decode mapInPandas.",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.g711 import decode_compressed_wav
    from ethiopia_legal_etl_spark.functions.imageops import audio_features
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        row_or_nulls,
        trunc_fraction,
    )

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            # same mu-law object formula as audio_compressed — shared
            # module-level synth, so the fuzz covers both entries
            wavs = [maybe_truncate(synth_mu_wav(i), i, frac) for i in ids]
            yield pd.DataFrame({"doc_id": ids, "wav": wavs})


    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):

                def one(wav=wav) -> tuple:
                    m = decode_compressed_wav(bytes(wav))
                    f = audio_features(m["samples"])
                    return (
                        m["n_samples"], f["energy"],
                        f["zero_crossings"], f["peak"],
                    )

                # truncated payload (axis 9) -> error row, never a crash
                rows.append(row_or_nulls(doc_id, 4, one))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "energy",
                    "zero_crossings", "peak",
                ],
            )

    # ONE fused mapInPandas stage: payloads
    # built and decoded in the same Python worker — no Arrow round
    # trip of the WAV bytes (guide §4.1).
    return docs.mapInPandas(
        lambda it: features(synth(it)),
        schema=(
            "doc_id long, n_samples long, energy long, "
            "zero_crossings long, peak long"
        ),
    )


@register(
    "multimodal_decode_mpeg1",
    oracle="""
    WITH grid AS (
      SELECT d.doc_id, sb.sb,
             2 + (d.doc_id + sb.sb) % 14 AS nb,
             (d.doc_id + 2 * sb.sb) % 21 AS k,
             t.t
      FROM documents d
      CROSS JOIN (SELECT unnest(range(32)) AS sb) sb
      CROSS JOIN (SELECT unnest(range(12)) AS t) t
      WHERE (3 * sb.sb + d.doc_id) % 4 = 0
    ),
    vals AS (
      SELECT doc_id, sb, nb, k, t,
             (doc_id * 5 + sb * 3 + t * 11) % ((1::BIGINT << nb) - 1) AS c
      FROM grid
    ),
    vv AS (
      SELECT doc_id, sb, nb, k, c, t,
             (2.0 / CAST((1::BIGINT << k) AS DOUBLE))
               * CAST(2 * c + 2 - (1::BIGINT << nb) AS DOUBLE)
               / CAST((1::BIGINT << nb) - 1 AS DOUBLE) AS v
      FROM vals
    )
    SELECT doc_id,
           sb AS subband,
           CAST(MAX(nb) AS BIGINT) AS nb,
           CAST(3 * MAX(k) AS BIGINT) AS scf_index,
           CAST(SUM(c) AS BIGINT) AS code_sum,
           MAX(CASE WHEN t = 0 THEN v END) AS v_first,
           MIN(v) AS v_min,
           MAX(v) AS v_max
    FROM vv
    GROUP BY doc_id, sb
    """,
    doc="REAL MPEG-1 Audio Layer I decode (ISO/IEC 11172-3) — the "
    "perceptual-codec family's spec-decodable member, closing the gap "
    "the MP3 stub documents (full Layer III has no in-container exact "
    "ground truth; Layer I shares the same header/frame syntax family "
    "and decodes to exact values). Per doc the executor synthesizes a "
    "genuine 672-byte 448 kbps/32 kHz mono frame (formula-derived bit "
    "allocations, scalefactor indices, and sample codes), bit-packs it "
    "through the real frame syntax, re-parses the bitstream, and "
    "requantizes: v = sf * (2c + 2 - 2^nb) / (2^nb - 1). The oracle "
    "recomputes every decoded value FROM THE FORMULAS, never touching "
    "the bitstream, so parity proves header arithmetic + bit-level "
    "pack/parse + requantization end-to-end. Scalefactor indices are "
    "multiples of 3, making each sf an exact power of two; each "
    "decoded value is then sf*m/d with odd d = 2^nb - 1 — ONE IEEE "
    "division, bit-identical across engines, so v_first/v_min/v_max "
    "compare as raw doubles with no rounding policy needed. Plan: one "
    "parallelism shuffle of bare doc_ids (the measured single-file "
    "trap fix), then synth -> parse in Arrow-batched mapInPandas; "
    "per-(doc,subband) output, no further shuffle (groupBy is "
    "Python-side within the already-grouped frame).",
)
def multimodal_decode_mpeg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.mpeg1 import parse_layer1
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        trunc_fraction,
    )

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            frames = [
                maybe_truncate(synth_l1_frame(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "frame": frames})


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, frame in zip(pdf["doc_id"], pdf["frame"]):
                # truncated frame (axis 9) -> ONE error row for the
                # whole object (its subband rows are unrecoverable),
                # never an executor crash
                try:
                    (f,) = parse_layer1(bytes(frame))
                except ValueError:
                    rows.append((doc_id,) + (None,) * 7)
                    continue
                for s in f["subbands"]:
                    rows.append(
                        (
                            doc_id,
                            s["subband"],
                            s["nb"],
                            s["scf_index"],
                            sum(s["codes"]),
                            s["values"][0],
                            min(s["values"]),
                            max(s["values"]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "subband", "nb", "scf_index",
                    "code_sum", "v_first", "v_min", "v_max",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, subband long, nb long, scf_index long, "
            "code_sum long, v_first double, v_min double, v_max double"
        ),
    )


@register(
    "multimodal_decode_mpeg1_l2",
    oracle="""
    WITH grid AS (
      SELECT d.doc_id, sb.sb,
             CASE WHEN sb.sb <= 2 THEN 15
                  WHEN sb.sb <= 10 THEN 15
                  WHEN sb.sb <= 22 THEN 7
                  ELSE 3 END AS cat_len,
             t.t
      FROM documents d
      CROSS JOIN (SELECT unnest(range(27)) AS sb) sb
      CROSS JOIN (SELECT unnest(range(36)) AS t) t
      WHERE (3 * sb.sb + d.doc_id) % 4 = 0
    ),
    lvl AS (
      SELECT doc_id, sb, t,
             1 + (doc_id + sb) % cat_len AS a,
             (doc_id + sb) % 4 AS scfsi
      FROM grid
    ),
    lv2 AS (
      SELECT doc_id, sb, t, a, scfsi,
             CASE WHEN sb <= 2 THEN
               ([3,7,15,31,63,127,255,511,1023,2047,4095,8191,16383,
                 32767,65535])[a]
             WHEN sb <= 10 THEN
               ([3,5,7,9,15,31,63,127,255,511,1023,2047,4095,8191,
                 65535])[a]
             WHEN sb <= 22 THEN ([3,5,7,9,15,31,65535])[a]
             ELSE ([3,5,65535])[a] END AS levels
      FROM lvl
    ),
    scf AS (
      SELECT doc_id, sb, t, a, scfsi, levels,
             CASE WHEN scfsi = 0 THEN (doc_id + 2*sb + 5*(t // 12)) % 21
                  WHEN scfsi = 1 THEN CASE WHEN t // 12 <= 1
                       THEN (doc_id + 2*sb) % 21
                       ELSE (doc_id + 2*sb + 10) % 21 END
                  WHEN scfsi = 2 THEN (doc_id + 2*sb) % 21
                  ELSE CASE WHEN t // 12 = 0
                       THEN (doc_id + 2*sb) % 21
                       ELSE (doc_id + 2*sb + 5) % 21 END
             END AS k
      FROM lv2
    ),
    vv AS (
      SELECT doc_id, sb, a, scfsi, levels, t,
             (doc_id * 7 + sb * 5 + t * 11) % levels AS c,
             k
      FROM scf
    ),
    vals AS (
      SELECT doc_id, sb, a, scfsi, levels, t, c,
             (2.0 / CAST((1::BIGINT << k) AS DOUBLE))
               * CAST(2 * c - (levels - 1) AS DOUBLE)
               / CAST(levels AS DOUBLE) AS v
      FROM vv
    )
    SELECT doc_id,
           sb AS subband,
           CAST(MAX(levels) AS BIGINT) AS levels,
           CAST(MAX(scfsi) AS BIGINT) AS scfsi,
           CAST(SUM(c) AS BIGINT) AS code_sum,
           MAX(CASE WHEN t = 0 THEN v END) AS v_first,
           MIN(v) AS v_min,
           MAX(v) AS v_max
    FROM vals
    GROUP BY doc_id, sb
    """,
    doc="REAL MPEG-1 Audio Layer II decode (ISO/IEC 11172-3) — "
    "extends the Layer I decoder with Layer II's actual "
    "machinery: Table B.2a class-dependent bit allocation (4/4/3/2 "
    "nbal bits across the 27-subband limit), scfsi scalefactor "
    "sharing across the three 12-sample parts (all four patterns "
    "exercised via a doc_id formula), and GROUPED quantizers (3/5/9 "
    "levels pack three samples into one 5/7/10-bit codeword). Per "
    "doc the executor synthesizes a genuine 576-byte 192 kbps/48 kHz "
    "mono frame from formulas, bit-packs it through the real frame "
    "syntax, re-parses, degroups, and requantizes with the uniform "
    "closed form sf*(2c-(L-1))/L that the spec's Table B.4 C/D "
    "constants reduce to (derivation in functions/mpeg1.py). The "
    "oracle recomputes every value FROM THE FORMULAS, never touching "
    "the bitstream — parity proves slot arithmetic, table-driven "
    "allocation widths, scfsi expansion, grouped-codeword packing, "
    "and dequant end-to-end. Scalefactor indices are multiples of 3 "
    "(exact power-of-two sf), L is always odd: one IEEE division per "
    "value, raw-double parity, no rounding policy. Plan: parallelism "
    "repartition of bare doc_ids, then synth -> parse mapInPandas.",
)
def multimodal_decode_mpeg1_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.mpeg1 import parse_layer2
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        trunc_fraction,
    )

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            frames = [
                maybe_truncate(synth_l2_frame(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "frame": frames})


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, frame in zip(pdf["doc_id"], pdf["frame"]):
                # truncated frame (axis 9) -> ONE error row for the
                # whole object, never an executor crash
                try:
                    (f,) = parse_layer2(bytes(frame))
                except ValueError:
                    rows.append((doc_id,) + (None,) * 7)
                    continue
                for s in f["subbands"]:
                    rows.append(
                        (
                            doc_id,
                            s["subband"],
                            s["levels"],
                            s["scfsi"],
                            sum(s["codes"]),
                            s["values"][0],
                            min(s["values"]),
                            max(s["values"]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "subband", "levels", "scfsi",
                    "code_sum", "v_first", "v_min", "v_max",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, subband long, levels long, scfsi long, "
            "code_sum long, v_first double, v_min double, v_max double"
        ),
    )


@register(
    "multimodal_mp3_sideinfo",
    oracle="""
    WITH g AS (
      SELECT d.doc_id, gr.gr,
             CASE WHEN gr.gr = 0 THEN d.doc_id % 16
                  ELSE (d.doc_id * 3 + 1) % 16 END AS sfc,
             (d.doc_id * 5) % 16 AS scfsi
      FROM documents d
      CROSS JOIN (SELECT unnest(range(2)) AS gr) gr
    ),
    s AS (
      SELECT doc_id, gr, sfc, scfsi,
             CASE sfc WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 0
                      WHEN 3 THEN 0 WHEN 4 THEN 3 WHEN 5 THEN 1
                      WHEN 6 THEN 1 WHEN 7 THEN 1 WHEN 8 THEN 2
                      WHEN 9 THEN 2 WHEN 10 THEN 2 WHEN 11 THEN 3
                      WHEN 12 THEN 3 WHEN 13 THEN 3 WHEN 14 THEN 4
                      WHEN 15 THEN 4 END AS slen1,
             CASE sfc WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                      WHEN 3 THEN 3 WHEN 4 THEN 0 WHEN 5 THEN 1
                      WHEN 6 THEN 2 WHEN 7 THEN 3 WHEN 8 THEN 1
                      WHEN 9 THEN 2 WHEN 10 THEN 3 WHEN 11 THEN 1
                      WHEN 12 THEN 2 WHEN 13 THEN 3 WHEN 14 THEN 2
                      WHEN 15 THEN 3 END AS slen2
      FROM g
    ),
    bands AS (
      SELECT s.*, b.b,
             CASE WHEN b.b < 11 THEN slen1 ELSE slen2 END AS slen,
             CASE WHEN b.b < 6 THEN 0 WHEN b.b < 11 THEN 1
                  WHEN b.b < 16 THEN 2 ELSE 3 END AS grp
      FROM s CROSS JOIN (SELECT unnest(range(21)) AS b) b
    ),
    vals AS (
      SELECT doc_id, gr, sfc, scfsi, b, grp, slen,
             (gr = 1 AND ((scfsi >> (3 - grp)) & 1) = 1) AS reused,
             CASE WHEN gr = 1 AND ((scfsi >> (3 - grp)) & 1) = 1
                  -- scfsi: granule 1 reuses granule 0's value, which
                  -- uses GRANULE 0's slen for this band
                  THEN (doc_id + b) % (1 << (
                    CASE WHEN b < 11 THEN
                      CASE doc_id % 16 WHEN 0 THEN 0 WHEN 1 THEN 0
                        WHEN 2 THEN 0 WHEN 3 THEN 0 WHEN 4 THEN 3
                        WHEN 5 THEN 1 WHEN 6 THEN 1 WHEN 7 THEN 1
                        WHEN 8 THEN 2 WHEN 9 THEN 2 WHEN 10 THEN 2
                        WHEN 11 THEN 3 WHEN 12 THEN 3 WHEN 13 THEN 3
                        WHEN 14 THEN 4 WHEN 15 THEN 4 END
                    ELSE
                      CASE doc_id % 16 WHEN 0 THEN 0 WHEN 1 THEN 1
                        WHEN 2 THEN 2 WHEN 3 THEN 3 WHEN 4 THEN 0
                        WHEN 5 THEN 1 WHEN 6 THEN 2 WHEN 7 THEN 3
                        WHEN 8 THEN 1 WHEN 9 THEN 2 WHEN 10 THEN 3
                        WHEN 11 THEN 1 WHEN 12 THEN 2 WHEN 13 THEN 3
                        WHEN 14 THEN 2 WHEN 15 THEN 3 END
                    END))
                  WHEN gr = 0 THEN (doc_id + b) % (1 << slen)
                  ELSE (doc_id + 2 * b + 1) % (1 << slen)
             END AS sf
      FROM bands
    )
    SELECT doc_id, gr,
           CAST(MAX(CASE WHEN gr = 0 THEN (doc_id * 7) % 256
                         ELSE (doc_id * 11 + 5) % 256 END) AS BIGINT)
             AS global_gain,
           CAST(MAX(sfc) AS BIGINT) AS scalefac_compress,
           CAST(MAX(CASE WHEN b < 11 THEN slen END) AS BIGINT) AS slen1,
           CAST(MAX(CASE WHEN b >= 11 THEN slen END) AS BIGINT) AS slen2,
           CAST(SUM(CASE WHEN reused THEN 0 ELSE slen END) AS BIGINT)
             AS part2_3_length,
           CAST(MAX((doc_id + gr) % 2) AS BIGINT) AS preflag,
           CAST(MAX((doc_id // 2 + gr) % 2) AS BIGINT) AS scalefac_scale,
           CAST(SUM(sf) AS BIGINT) AS sf_sum,
           CAST(MIN(sf) AS BIGINT) AS sf_min,
           CAST(MAX(sf) AS BIGINT) AS sf_max
    FROM vals
    GROUP BY doc_id, gr
    """,
    doc="REAL MPEG-1 Audio Layer III (MP3) frame-syntax decode "
    "(ISO/IEC 11172-3 §2.4.1.7/§2.4.2.7; functions/mp3.py): per doc "
    "the executor synthesizes a genuine mono Layer "
    "III frame from formula-derived side-info fields and "
    "scalefactors, bit-packs it through the real header + 17-byte "
    "side-info + main-data syntax, re-parses, and emits every "
    "granule's fields including the scfsi-RESOLVED 21 scalefactors "
    "(granule 1 reuses granule 0's values in scfsi-flagged groups — "
    "the oracle models the reuse, including the subtle point that a "
    "reused band keeps GRANULE 0's slen). part2_3_length cross-checks "
    "the closed-form bit count 11*slen1 + 10*slen2 minus reused "
    "groups. The oracle recomputes everything FROM THE FORMULAS, "
    "never touching the bitstream, so parity proves the field walk, "
    "the slen table, and the scalefactor stage bit-for-bit. The "
    "spectral Huffman stage (Table B.7) stays rejected-not-mis-"
    "decoded (see functions/mp3.py module doc); the bit RESERVOIR "
    "(main_data_begin packing) is pinned by tests/test_mp3_sideinfo "
    "round trips — this oracle entry writes reservoir-free frames so "
    "every output column is formula-derivable. Plan: one parallelism "
    "shuffle of bare doc_ids, then synth -> parse in Arrow-batched "
    "mapInPandas; two rows per doc, no further shuffle.",
)
def multimodal_mp3_sideinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.mp3 import parse_layer3
    from ethiopia_legal_etl_spark.functions.transport import (
        maybe_truncate,
        trunc_fraction,
    )

    docs = _media_doc_ids(spark, sf_dir)
    # axis 9 (functions/transport.py): conf-gated deterministic cuts
    frac = trunc_fraction(spark)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            streams = [
                maybe_truncate(synth_mp3_stream(i), i, frac) for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "mp3": streams})


    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mp3 in zip(pdf["doc_id"], pdf["mp3"]):
                # truncated stream (axis 9) -> ONE error row for the
                # whole object, never an executor crash
                try:
                    (f,) = parse_layer3(bytes(mp3))
                except ValueError:
                    rows.append((doc_id,) + (None,) * 11)
                    continue
                for gr, g in enumerate(f["granules"]):
                    sfs = g["scalefactors"]
                    rows.append(
                        (
                            doc_id, gr, g["global_gain"],
                            g["scalefac_compress"], g["slen1"], g["slen2"],
                            g["part2_3_length"], g["preflag"],
                            g["scalefac_scale"], sum(sfs), min(sfs), max(sfs),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "gr", "global_gain", "scalefac_compress",
                    "slen1", "slen2", "part2_3_length", "preflag",
                    "scalefac_scale", "sf_sum", "sf_min", "sf_max",
                ],
            )

    # ONE fused mapInPandas stage: the
    # synthesized payloads are built and decoded inside the same
    # Python worker, so the binary bytes never cross the Arrow
    # boundary (guide §4.1; the warc_to_text precedent — fusion
    # measured 1.06→0.71 s on decode_mpeg1 at sf0.1). The FILE-based
    # decode path, where payloads genuinely arrive as column bytes,
    # stays exercised by multimodal_decode_stub / binary_meta.
    return docs.mapInPandas(
        lambda it: decode(synth(it)),
        schema=(
            "doc_id long, gr long, global_gain long, "
            "scalefac_compress long, slen1 long, slen2 long, "
            "part2_3_length long, preflag long, scalefac_scale long, "
            "sf_sum long, sf_min long, sf_max long"
        ),
    )
