"""Scale probe: measure how the engine behaves as data grows beyond
sf0.1.

The default run times the registry queries in SWEEP on key-consistent
replicas of sf0.1 (tools/make_sf_replica.py) at each of --factors
(default 1×/10×/30×, 600k → 18M lineitem rows), then a manufactured
hot-key skew-join stress with AQE on vs off. Each `--<probe>` flag
(one per PROBES entry) adds one experiment. Every timing goes through
bench.run_query; all times are build+write seconds of one run after a
discarded warm run unless a probe says otherwise.

Writes derived data to a scratch dir (never touches /root/testdata)
and prints one JSON line per record. Results are summarized in
SCALING.md.

Usage: python tools/scale_probe.py [--factors 1,10,30] [--keep] [--<probe> ...]
"""

from __future__ import annotations

import argparse
import itertools
import json
import multiprocessing
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import run_query  # noqa: E402
from ethiopia_legal_etl_spark.session import get_spark  # noqa: E402
from tools.make_sf_replica import (  # noqa: E402
    replicate_sf,
    union_copies,
    write_copies,
)

SF_DIR = "/root/testdata/sf0.1"

# Registry entries the default run times at every --factors point: the
# scan aggregate, the join, the per-key window and the hash dedup.
SWEEP = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_rank_orders",
    "dedup_exact_hash",
)

# AQE skew-join settings: SMALL_SKEW scales the split threshold down so
# a local hot partition (tens of MB) exercises the skew-split path;
# DEFAULT_SKEW restores Spark's cluster-sized defaults.
SMALL_SKEW = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
}
DEFAULT_SKEW = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def aqe(on: str) -> dict[str, str]:
    return {
        "spark.sql.adaptive.enabled": on,
        "spark.sql.adaptive.skewJoin.enabled": on,
    }


def set_confs(spark, confs: dict[str, str]) -> None:
    for k, v in confs.items():
        spark.conf.set(k, v)


def sec(spark, name: str, build=None, sf_dir: str | None = None,
        warm: bool = True) -> float:
    """Build+write seconds of one bench.run_query run of `name` (a
    registry entry over `sf_dir`, or the zero-argument `build`), after
    one discarded warm run unless `warm` is False."""
    if warm:
        run_query(spark, name, sf_dir, True, build)
    return round(run_query(spark, name, sf_dir, True, build), 3)


def eager(fn, *args, **kw):
    """A zero-argument build for a driver-side step that returns no
    DataFrame: run_query then times the step itself."""
    def build() -> None:
        fn(*args, **kw)
    return build


def shift(col: str, step: int):
    """Copy function: copy i adds i×step to `col`."""
    return lambda df, i: df.withColumn(col, F.col(col) + F.lit(i * step))


def prefix_tokens(df, i: int):
    """Tag every token of copy i with `c{i}_`, so cross-copy Jaccard
    is 0 and the distinct content grows with the copies."""
    return df.withColumn(
        "text",
        F.concat(F.lit(f"c{i}_"), F.regexp_replace("text", " ", f" c{i}_")),
    )


def sweep(spark, scratch: str, factors: list[int]):
    for factor in factors:
        d = SF_DIR if factor == 1 else replicate_sf(
            spark, SF_DIR, f"{scratch}/x{factor}", factor
        )
        for name in SWEEP:
            yield {"exp": name, "factor": factor, "sec": sec(spark, name, sf_dir=d)}


def skew_stress(spark, scratch: str):
    """Hot-key join: 50% of a 6M-row fact hits ONE key. Compare AQE
    skew-join on vs off."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    fact = li.withColumn(
        "k",
        F.when(F.rand(42) < 0.5, F.lit(0)).otherwise(
            (F.rand(43) * 100000).cast("long")
        ),
    ).select("k", "l_quantity")
    fact = fact.unionByName(fact).unionByName(fact)  # ~1.8M rows @ sf0.1 x3
    dim = spark.range(100001).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    fact.write.mode("overwrite").parquet(f"{scratch}/skew_fact.parquet")
    dim.write.mode("overwrite").parquet(f"{scratch}/skew_dim.parquet")
    f_ = spark.read.parquet(f"{scratch}/skew_fact.parquet")
    d_ = spark.read.parquet(f"{scratch}/skew_dim.parquet")

    def join():
        return (
            f_.join(d_.hint("merge"), "k")  # force SMJ so skew matters
            .groupBy("grp")
            .agg(F.sum("l_quantity").alias("s"))
        )

    times = {}
    for on in ("true", "false"):
        set_confs(spark, {**aqe(on), **(SMALL_SKEW if on == "true" else {})})
        times[f"aqe_{on}"] = sec(spark, "skew_join", join)
    set_confs(spark, {**aqe("true"), **DEFAULT_SKEW})
    yield {"exp": "skew_join", **times}


def big_skew(spark, scratch: str):
    """60M-row hot-key AQE skew-split experiment (~5 min).

    50% of the fact on ONE key (~480 MB hot partition — above the
    DEFAULT 256 MB AQE skew threshold). SMJ + groupBy, AQE on vs off.
    Measured 2026-08-13: aqe_true 6.3s vs aqe_false 13.7s (2.2×), with
    `skew=true` on the join in the executed adaptive plan."""
    fact = spark.range(60_000_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1_000_000)
        .alias("k"),
        (F.rand(7) * 100).alias("v"),
    )
    fact.write.mode("overwrite").parquet(f"{scratch}/bigfact")
    dim = spark.range(1_000_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    dim.write.mode("overwrite").parquet(f"{scratch}/bigdim")
    f_ = spark.read.parquet(f"{scratch}/bigfact")
    d_ = spark.read.parquet(f"{scratch}/bigdim")

    def join():
        return f_.join(d_.hint("merge"), "k").groupBy("grp").agg(F.sum("v").alias("s"))

    res = {}
    for on in ("true", "false"):
        set_confs(spark, aqe(on))
        res[f"aqe_{on}"] = sec(spark, "big_skew", join)
    set_confs(spark, aqe("true"))
    joined = f_.join(d_.hint("merge"), "k").select("grp", "v")
    joined.foreach(lambda r: None)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    res["skew_marker"] = "skew=true" in plan
    yield {"exp": "big_skew", **res}


def bloom_probe(spark, scratch: str):
    """Runtime Bloom-filter join-pruning experiment (~3 min).

    A 60M-row fact joins a dimension filtered to ~1% selectivity on a
    forced shuffle join. Broadcast is disabled (the 100 TB regime), so
    without the runtime filter every fact row shuffles; with it,
    might_contain() drops ~99% before the exchange. Reports wall time
    with the filter on vs off."""
    fact = spark.range(60_000_000).select(
        (F.col("id") % 6_000_000).alias("k"), (F.rand(11) * 100).alias("v")
    )
    fact.write.mode("overwrite").parquet(f"{scratch}/bloomfact")
    dim = spark.range(6_000_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("bucket"),
        (F.col("id") % 7).alias("grp"),
    )
    dim.write.mode("overwrite").parquet(f"{scratch}/bloomdim")
    f_ = spark.read.parquet(f"{scratch}/bloomfact")
    d_ = spark.read.parquet(f"{scratch}/bloomdim").where(F.col("bucket") == 0)  # 1%

    def join():
        return f_.join(d_, "k").groupBy("grp").agg(F.sum("v").alias("s"))

    res = {}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    # the creation side is a FILTERED scan: Catalyst's size estimate for
    # it is the unfiltered file size (no column stats), which exceeds
    # the 10MB default gate — raise it so estimate-vs-actual mismatch
    # doesn't silently disable the filter (on a real warehouse, ANALYZE
    # TABLE column stats make the default gate work as intended)
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "200MB"
    )
    for bloom in ("true", "false"):
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", bloom)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0" if bloom == "true" else "10GB",
        )
        res[f"bloom_{bloom}"] = sec(spark, "bloom_prune", join)
    # plan marker: the injected filter is visible in the optimized plan
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    res["bloom_marker"] = "might_contain" in (
        join()._jdf.queryExecution().optimizedPlan().toString()
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    yield {"exp": "bloom_prune", **res}


def gapfill_probe(spark, scratch: str):
    """LOCF gap-fill spine-join vs segment-explode (~2 min).

    100k users x 365-day span, ~3M observed daily rows densified to
    36.5M. The textbook plan (dense spine LEFT JOIN daily + last_value
    IGNORE NULLS window) shuffles the 36.5M-row spine for the join AND
    again for the window; the segment-explode plan (lead() + one
    explode of per-observation (day,value) runs,
    operators/analytics.py) never joins and shuffles the 3M observed
    rows once. Same output rows, verified."""
    from pyspark.sql import Window

    n_users, n_days, obs = 100_000, 365, 30
    (
        spark.range(n_users * obs)
        .select(
            (F.col("id") % n_users).alias("user_id"),
            F.expr(
                f"date_add(DATE'2024-01-01',"
                f" CAST((id * 2654435761) % {n_days} AS INT))"
            ).alias("day"),
            (F.rand(5) * 100).cast("decimal(14,2)").alias("v"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("v").alias("day_value"))
        .write.mode("overwrite")
        .parquet(f"{scratch}/gap_daily")
    )
    daily = spark.read.parquet(f"{scratch}/gap_daily")

    def join_variant():
        bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        spine = (
            daily.select("user_id")
            .distinct()
            .crossJoin(F.broadcast(bounds))
            .select(
                "user_id",
                F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
            )
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return spine.join(daily, ["user_id", "day"], "left").select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("locf_value"),
        )

    def segment_variant():
        bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        w = Window.partitionBy("user_id").orderBy("day")
        segs = daily.crossJoin(F.broadcast(bounds)).select(
            "user_id", "day", "day_value", "lo", "hi",
            F.lead("day").over(w).alias("day_next"),
            F.row_number().over(w).alias("rn"),
        )
        run = F.expr(
            """
            concat(
              CASE WHEN rn = 1 AND day > lo
                   THEN transform(sequence(lo, date_sub(day, 1), interval 1 day),
                                  d -> struct(d AS day,
                                              CAST(NULL AS DECIMAL(24,2)) AS v))
                   ELSE array() END,
              transform(sequence(day, coalesce(date_sub(day_next, 1), hi),
                                 interval 1 day),
                        d -> struct(d AS day, day_value AS v)))
            """
        )
        return segs.select("user_id", F.explode(run).alias("s")).select(
            "user_id",
            F.col("s.day").alias("day"),
            F.col("s.v").cast("double").alias("locf_value"),
        )

    res = {
        name: sec(spark, f"gapfill_{name}", fn)
        for name, fn in (("spine_join", join_variant), ("segment_explode", segment_variant))
    }
    res["rows_equal"] = join_variant().count() == segment_variant().count()
    yield {"exp": "gapfill", **res}


def analytics_probe(spark, scratch: str):
    """Funnel/retention/transition scaling to 10M events (~3 min).

    Replicated events at 1× / 10× / 100× (100k → 10M rows). user_id and
    event_id shift per copy, so USER cardinality scales with the data
    while the 30-day window stays fixed — the realistic growth axis for
    a behavioral pipeline (more users, same horizon). Every stage
    shuffles on user_id, so this measures whether the per-user
    reduction keeps the joins dimension-sized as users grow.
    """
    entries = {
        "funnel": "funnel_signup_purchase_7d",
        "retention": "retention_cohort_weekly",
        "transitions": "event_transition_matrix",
    }
    for factor in (1, 10, 100):
        d = SF_DIR if factor == 1 else replicate_sf(
            spark, SF_DIR, f"{scratch}/ev_x{factor}", factor, ("events",)
        )
        for label, name in entries.items():
            yield {
                "exp": f"analytics_{label}",
                "factor": factor,
                "rows": 100_000 * factor,
                "sec": sec(spark, name, sf_dir=d),
            }


def neardup_probe(spark, scratch: str):
    """Banded MinHash vs all-pairs near-dup scaling to 32k docs (~3 min).

    The corpus grows 1× / 4× / 16× (2k → 32k docs). Each replica's
    tokens get a copy-specific prefix, so cross-copy Jaccard is 0 and
    the TRUE near-dup structure scales linearly — the honest regime for
    comparing candidate-generation cost: banding's candidates grow
    ~linearly (bucket collisions), all-pairs grows n²/|blocks|
    regardless of how many true pairs exist. The all-pairs arm is
    skipped at 16× (projected ≫ the probe budget — that is the
    point)."""
    from ethiopia_legal_etl_spark.operators.dedup import (
        allpairs_jaccard_blocked,
        banded_jaccard_pairs,
    )

    base_n = 2000
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < base_n)
        .select("doc_id", "text", "lang")
    )
    for factor in (1, 4, 16):
        path = f"{scratch}/docs_x{factor}"
        write_copies(
            base, factor,
            lambda df, i: prefix_tokens(shift("doc_id", base_n)(df, i), i), path,
        )
        docs = spark.read.parquet(path)
        n_banded = banded_jaccard_pairs(docs).count()  # warm + pair count
        yield {
            "exp": "neardup_banded",
            "factor": factor,
            "docs": base_n * factor,
            "sec": sec(spark, "neardup_banded",
                       lambda: banded_jaccard_pairs(docs), warm=False),
            # pairs the banded generator DETECTS at >=0.5 (banding
            # recall < 1 at the threshold; not ground truth)
            "detected_pairs": n_banded,
        }
        if factor <= 4:
            yield {
                "exp": "neardup_allpairs",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec(spark, "neardup_allpairs",
                           lambda: allpairs_jaccard_blocked(docs, "lang")),
            }


def ingest_probe(spark, scratch: str):
    """Serial reference-style loop vs partitioned ingest pipeline (~1 min).

    The reference's architecture (one serial per-record Python loop,
    fetch_legal_docs.py:32-96) vs the engine's partitioned mapInPandas
    pipeline — with IDENTICAL injected fetch/extract stubs in both
    arms, so the measured difference is the execution architecture,
    not the I/O. The stub models a 4 ms network RTT and a
    zlib-decompress extraction cost per document."""
    import time
    import zlib

    from ethiopia_legal_etl_spark.operators.ingest import ingest_pipeline

    n_serial, n_spark = 2000, 8000
    payload = zlib.compress(("word " * 400).encode())

    def fake_fetch(url: str):
        time.sleep(0.004)  # simulated network RTT
        return 200, "application/pdf", payload

    def fake_extract(body: bytes):
        words = zlib.decompress(bytes(body)).decode().split(" ")
        return [" ".join(words[i::7]) for i in range(7)]

    # arm 1: the reference's shape — serial loop, one record at a time.
    # Its rate is constant in n (no fixed overhead to amortize), so a
    # 2k-doc run measures the steady-state docs/sec exactly.
    serial_docs = []

    def serial() -> None:
        for url in (f"https://example.test/vol{i:05d}.pdf" for i in range(n_serial)):
            status, ctype, body = fake_fetch(url)
            if "application/pdf" not in ctype:
                continue
            pages = fake_extract(body)
            content = "\n".join(p for p in pages if p)
            if not content.strip():
                continue
            serial_docs.append((url, content))

    serial_sec = run_query(spark, "ingest_serial", build=serial, include_build=True)
    serial_rate = len(serial_docs) / serial_sec

    # arm 2: the engine — same stubs through the partitioned pipeline,
    # at 8k docs so the ~2 s fixed job overhead amortizes (the regime
    # any real backfill runs in).
    links_df = spark.createDataFrame(
        [(f"https://example.test/vol{i:05d}.pdf",) for i in range(n_spark)],
        "url string",
    )
    done = spark.createDataFrame([], "base_name string")

    def pipeline():
        docs, _rejects = ingest_pipeline(
            links_df,
            done,
            fetcher=fake_fetch,
            extractor=fake_extract,
            ingest_date="2026-01-01",
            fetch_partitions=32,
        )
        return docs

    # the warm run ships the package zip and starts python workers
    spark_sec = sec(spark, "ingest_pipeline", pipeline)
    spark_rate = n_spark / spark_sec
    yield {
        "exp": "ingest_throughput",
        "serial_docs": n_serial,
        "serial_sec": round(serial_sec, 2),
        "serial_docs_per_sec": round(serial_rate, 1),
        "spark_docs": n_spark,
        "spark_sec": spark_sec,
        "spark_docs_per_sec": round(spark_rate, 1),
        "rate_ratio": round(spark_rate / serial_rate, 1),
    }


def guards_probe(spark, scratch: str):
    """Contamination + chunk-boilerplate guard scaling to 30x docs (~3 min).

    Corpus-guard scaling (VERDICT r3 #6): the one operator family
    whose cost is an exploded n-gram/chunk stream shuffle.

    - contamination_ngram_overlap runs on PLAIN replication (same text,
      doc_ids shifted by a MULTIPLE OF 97 — the operator selects its
      benchmark docs by doc_id % 97 == 0, so a 97-aligned shift keeps
      every copy's benchmark docs the same residue class and the same
      texts): the benchmark's distinct trigram set stays constant (the
      realistic regime — benchmarks don't grow with the corpus) while
      the corpus-side trigram stream grows linearly; the broadcast of
      the bench set must stay flat.
    - dedup_chunk_boilerplate runs on COPY-PREFIXED replication (each
      replica's tokens carry a copy tag): the distinct-chunk frequency
      table grows linearly WITH the corpus — the honest stress for the
      'deliberately never broadcast' shuffle join on chunk hash.
    """
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    # 97-aligned shift: keeps doc_id % 97 stable across copies, so the
    # contamination benchmark (doc_id % 97 == 0) selects the SAME texts
    # in every replica
    plain = shift("doc_id", ((base_n + 96) // 97) * 97)
    for factor in (1, 10, 30):
        plain_d = f"{scratch}/guards_plain_x{factor}"
        pfx_d = f"{scratch}/guards_pfx_x{factor}"
        write_copies(base, factor, plain, f"{plain_d}/documents.parquet")
        write_copies(
            base, factor, lambda df, i: prefix_tokens(plain(df, i), i),
            f"{pfx_d}/documents.parquet",
        )
        for exp, name, d in (
            ("guard_contamination", "contamination_ngram_overlap", plain_d),
            ("guard_boilerplate", "dedup_chunk_boilerplate", pfx_d),
        ):
            yield {
                "exp": exp,
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec(spark, name, sf_dir=d),
            }


# Module-level so tests/test_bench_contract.py can import the exact
# list instead of regex-scraping the source (ADVICE r12 #3: the old
# `entries = \[` regex matched the FIRST such literal in the file and
# would silently gate the wrong list if another was added above it).
CODEC_PROBE_ENTRIES = (
    "multimodal_decode_jpeg",
    "multimodal_decode_audio_compressed",
    "multimodal_video_frame_sample",
    "multimodal_decode_png",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "multimodal_decode_mpeg1",
    "warc_ingest_extract",
    "warc_to_text_pipeline",
    "html_main_text",
)


def codecs_probe(spark, scratch: str):
    """Compressed-codec decode scaling (JPEG/audio/AVI/PNG) to 30x docs (~3 min).

    The codec registry entries (CODEC_PROBE_ENTRIES) are shuffle-free
    synth -> decode mapInPandas pipelines, so wall time should track
    document count ~linearly — no shuffle, no skew-shaped hazard,
    per-payload work fixed by the doc_id formulas. A super-linear
    reading here would mean Arrow batch overheads or per-task fixed
    costs dominate; linear confirms the decode family is
    embarrassingly parallel, which is the 100 TB design claim
    (self-contained payloads/blocks/frames)."""
    base_n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    for factor in (1, 10, 30):
        d = SF_DIR if factor == 1 else replicate_sf(
            spark, SF_DIR, f"{scratch}/codecs_x{factor}", factor, ("documents",)
        )
        for name in CODEC_PROBE_ENTRIES:
            yield {"exp": "codec_decode", "entry": name, "factor": factor,
                   "docs": base_n * factor, "sec": sec(spark, name, sf_dir=d)}


def codec_volume_probe(spark, scratch: str):
    """Decode bytes-per-doc scaling (audio 1x/10x/50x, MPEG-1 1x/4x); rows/sec/core + MB/sec/core for partition sizing (~2 min).

    Payload-VOLUME scaling for the audio decode path (VERDICT r11 #5):
    codecs_probe above scales document COUNT at fixed bytes/doc; this
    scales BYTES PER DOCUMENT at fixed count, because decode cost is
    bytes-proportional CPU — the same class that grew 8.2x at 30x in
    the dedup_hash probe. Reports rows/sec/core and MB/sec/core for the
    decode stage alone (synth cost measured separately and
    subtracted), which is what partition sizing needs: a partition of
    B MB of compressed audio takes B / (MB/s/core) seconds on one core,
    so the maxPartitionBytes / repartition choice follows directly.
    Results pinned in SCALING.md §codec-volume."""
    import pandas as pd

    from ethiopia_legal_etl_spark.functions.g711 import (
        decode_compressed_wav,
        ima_encode_block,
        write_ima_wav,
        write_mulaw_wav,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n_docs = docs.count()
    cores = spark.sparkContext.defaultParallelism

    # 4 runs, median of last 3 (bench.py methodology): the first
    # Python-stage run of a session pays daemon spawn + module import
    # across all workers, and a single warm run does not reliably
    # absorb it (observed: a 6.5 s vol=1 reading vs 1.6 s at vol=10
    # before this was median-ized).
    def med(name: str, df) -> float:
        runs = [sec(spark, name, lambda: df, warm=False) for _ in range(4)]
        return sorted(runs[1:])[1]

    def record(exp: str, vol: int, n: int, media, decoded, mb: float) -> dict:
        synth_sec = med(f"{exp}_synth", media)
        full_sec = med(exp, decoded)
        dec_sec = max(full_sec - synth_sec, 1e-3)
        return {
            "exp": exp,
            "volume": vol,
            "docs": n,
            "payload_mb": round(mb, 1),
            "synth_sec": synth_sec,
            "full_sec": full_sec,
            "decode_sec": dec_sec,
            "rows_per_sec_core": round(n / dec_sec / cores, 1),
            "mb_per_sec_core": round(mb / dec_sec / cores, 3),
        }

    # 1x sits in the per-task-overhead regime (decode wall ~= Arrow +
    # scheduling floor); 10x/50x reach the bytes-proportional regime
    # the partition-sizing guidance is derived from
    for vol in (1, 10, 50):
        def synth(batches, vol=vol):
            for pdf in batches:
                ids = pdf["doc_id"].tolist()
                mu, ima = [], []
                for i in ids:
                    enc = bytes(
                        (i * 13 + j * 7) % 256
                        for j in range(vol * (50 + i % 40))
                    )
                    mu.append(write_mulaw_wav(enc, 8000 * (1 + i % 2)))
                    c, spb = i % 100 - 50, 1 + (64 - 4) * 2
                    blocks = [
                        ima_encode_block([c] * spb, 64)
                        for _ in range(vol * (1 + i % 3))
                    ]
                    ima.append(write_ima_wav(blocks, 8000, 64))
                yield pd.DataFrame(
                    {"doc_id": ids, "mu": mu, "ima": ima}
                )

        media = docs.mapInPandas(
            synth, schema="doc_id long, mu binary, ima binary"
        )

        def decode(batches):
            for pdf in batches:
                rows = []
                for doc_id, mu, ima in zip(
                    pdf["doc_id"], pdf["mu"], pdf["ima"]
                ):
                    m = decode_compressed_wav(bytes(mu))
                    a = decode_compressed_wav(bytes(ima))
                    rows.append(
                        (doc_id, sum(m["samples"]), sum(a["samples"]))
                    )
                yield pd.DataFrame(
                    rows, columns=["doc_id", "mu_sum", "ima_sum"]
                )

        decoded = media.mapInPandas(
            decode, schema="doc_id long, mu_sum long, ima_sum long"
        )
        payload_mb = (
            media.select(
                (F.length("mu") + F.length("ima")).alias("b")
            ).agg(F.sum("b")).collect()[0][0] / 1e6
        )
        yield record("codec_volume", vol, n_docs, media, decoded, payload_mb)

    # Same experiment for the heaviest Python-stage decoder: MPEG-1
    # Layer I (parse_layer1 walks a self-delimiting frame stream, so
    # volume = frames per doc). 1000-doc subset: the full 5000-doc
    # entry runs ~10 s and 16 measured runs would dominate the probe;
    # per-byte throughput is doc-count-independent (map-only stage).
    from ethiopia_legal_etl_spark.functions.mpeg1 import parse_layer1
    from ethiopia_legal_etl_spark.operators.multimodal import synth_l1_frame

    mdocs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .where(F.col("doc_id") < 1000)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    m_n = mdocs.count()
    for vol in (1, 4):
        def msynth(batches, vol=vol):
            for pdf in batches:
                ids = pdf["doc_id"].tolist()
                frames = [
                    b"".join(
                        synth_l1_frame(i + j * 7919) for j in range(vol)
                    )
                    for i in ids
                ]
                yield pd.DataFrame({"doc_id": ids, "frame": frames})

        mmedia = mdocs.mapInPandas(
            msynth, schema="doc_id long, frame binary"
        )

        def mdecode(batches):
            for pdf in batches:
                rows = []
                for doc_id, frame in zip(pdf["doc_id"], pdf["frame"]):
                    tot = 0
                    for f in parse_layer1(bytes(frame)):
                        for s in f["subbands"]:
                            tot += sum(s["codes"])
                    rows.append((doc_id, tot))
                yield pd.DataFrame(rows, columns=["doc_id", "code_sum"])

        mdecoded = mmedia.mapInPandas(
            mdecode, schema="doc_id long, code_sum long"
        )
        m_mb = (
            mmedia.select(F.length("frame").alias("b"))
            .agg(F.sum("b")).collect()[0][0] / 1e6
        )
        yield record("codec_volume_mpeg1", vol, m_n, mmedia, mdecoded, m_mb)


def corpusops_probe(spark, scratch: str):
    """Paragraph-dedup scaling, distinct vs duplicate-heavy corpora to 30x (~3 min).

    Paragraph dedup in its two real-world regimes:

    - COPY-PREFIXED replication (distinct corpus growth): the block
      stream AND the distinct-block key space grow linearly — the
      window's per-key group stays ~constant, so wall time should
      track the shuffle volume ~linearly.
    - PLAIN replication (duplicate-heavy growth, the regime the
      operator exists for): the block stream grows linearly but the
      distinct-key space stays FIXED, so every block value's window
      group grows ×factor. Keep-first only ever emits one winner per
      value, so reducer output stays bounded; this arm checks that
      per-key group growth (the skew-shaped hazard) doesn't go
      super-linear thanks to AQE and the rank's early truncation.

    Then the composed curation pipeline, BPE training on the corpus
    and vocab axes, and the stateless quality scorer.
    """
    from ethiopia_legal_etl_spark.operators.corpusops import (
        bpe_train_list,
        bpe_train_merges,
        paragraph_dedup,
    )
    from ethiopia_legal_etl_spark.operators.quality import (
        score_documents_stateless,
    )

    full = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = full.select("doc_id", "text")
    base_n = base.count()
    ids = shift("doc_id", base_n)
    for factor in (1, 10, 30):
        for regime, copy in (
            ("prefixed", lambda df, i: prefix_tokens(ids(df, i), i)),
            ("plain", ids),
        ):
            path = f"{scratch}/para_{regime}_x{factor}"
            write_copies(base, factor, copy, path)
            docs = spark.read.parquet(path)
            yield {
                "exp": f"paragraph_dedup_{regime}",
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec(spark, f"paragraph_dedup_{regime}",
                           lambda: paragraph_dedup(docs)),
            }
    # composed curation pipeline on copy-prefixed replicas (needs the
    # full documents schema on disk: lang/source drive the cap strata)
    for factor in (1, 10, 30):
        d = f"{scratch}/cur_x{factor}"
        write_copies(
            full, factor,
            lambda df, i: prefix_tokens(ids(df, i), i) if i else df,
            f"{d}/documents.parquet",
        )
        yield {
            "exp": "curation_pipeline",
            "factor": factor,
            "docs": base_n * factor,
            "sec": sec(spark, "corpus_curation_pipeline", sf_dir=d),
        }
    # BPE training, corpus axis: corpus grows, the word-frequency table
    # it trains on is Zipf-bounded — the driver merge loop's cost stays
    # ~flat; only the one corpus shuffle that builds the table scales.
    # Plain replication (same vocabulary at every factor = the honest
    # regime: natural-language vocab grows ~log n, not ~n) — NOT the
    # prefixed curation replicas (cur_x*): prefixes inflate vocab
    # linearly. Single timed run, no warm run.
    plain_dirs = {
        factor: SF_DIR if factor == 1 else replicate_sf(
            spark, SF_DIR, f"{scratch}/bpe_x{factor}", factor, ("documents",)
        )
        for factor in (1, 10, 30)
    }
    for factor, d in plain_dirs.items():
        merges: list[int] = []
        yield {
            "exp": "bpe_train_6_merges",
            "factor": factor,
            "docs": base_n * factor,
            "sec": sec(
                spark, "bpe_train_6_merges",
                lambda: merges.append(bpe_train_merges(spark, d, 6).count()),
                warm=False,
            ),
            "merges": merges[0],
        }
    # Quality-model scorer (r5): stateless zero-shuffle row expression
    # — wall must track the scan (~linear in docs, no shuffle knee).
    # Reuses the plain bpe_x replicas (same text, shifted ids).
    for factor, d in plain_dirs.items():
        docs = spark.read.parquet(f"{d}/documents.parquet")
        yield {
            "exp": "quality_score_stateless",
            "factor": factor,
            "docs": base_n * factor,
            "sec": sec(spark, "quality_score_stateless",
                       lambda: score_documents_stateless(docs)),
        }
    # BPE training, VOCAB axis (r5): fixed corpus, growing merge count.
    # The r4 design ran 2 Spark jobs per merge (linear driver traffic);
    # the r5 trainer collects once and iterates driver-side, so wall
    # time must grow far sublinearly in merges (the Spark part is
    # constant; only the in-memory merge loop grows). The sf corpus has
    # only 31 distinct tokens (~138 possible merges), so this axis gets
    # a synthetic rich-vocabulary corpus: 4000 distinct seeded-random
    # words — enough structure for 1024 real merges. Single timed run.
    import random as _rnd

    rng = _rnd.Random(0x5EED)
    vocab = sorted(
        {
            "".join(
                rng.choice("abcdefghijklmnopqrst")
                for _ in range(rng.randint(4, 14))
            )
            for _ in range(4000)
        }
    )
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(40)))
        for i in range(2000)
    ]
    rich = f"{scratch}/bpe_rich"
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        8
    ).write.mode("overwrite").parquet(f"{rich}/documents.parquet")
    for n_merges in (8, 64, 256, 1024):
        got: list = []
        yield {
            "exp": "bpe_train_vocab_axis",
            "factor": 1,
            "n_merges": n_merges,
            "sec": sec(
                spark, "bpe_train_vocab_axis",
                lambda: got.extend(bpe_train_list(spark, rich, n_merges)),
                warm=False,
            ),
            "merges_learned": len(got),
        }


def selection_probe(spark, scratch: str):
    """DSIR/snapshot-dedup/shard/PQ data-selection scaling to 30x docs (~3 min).

    Data-selection operator scaling (operators/selection.py): DSIR
    two-pass scoring, snapshot anti-join dedup, hash shard export, and
    PQ encode+ADC+re-rank at 1x/10x/30x. Documents replicate
    copy-prefixed (distinct content growth — the regime where the
    anti-join and the weight table actually work); embeddings
    replicate with a deterministic per-copy perturbation so vectors
    are not bit-identical. PQ codebooks train ONCE on the base corpus
    (the bounded-sample regime a 100 TB deployment uses) and the probe
    times the encode+query path only."""
    import ethiopia_legal_etl_spark.operators.selection as sel_mod

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    emb_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb_n = emb_base.count()
    books = sel_mod.train_pq_codebooks(spark, emb_base)

    def doc_copy(df, i):
        df = shift("doc_id", base_n)(df, i)
        return prefix_tokens(df, i) if i else df

    def emb_copy(df, i):
        df = shift("vec_id", emb_n)(df, i)
        if not i:
            return df
        return df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x: (x + F.lit(float(i) * 1e-3)).cast("float"),
            ),
        )

    for factor in (1, 10, 30):
        d = f"{scratch}/selection_x{factor}"
        write_copies(base, factor, doc_copy, f"{d}/documents.parquet")
        write_copies(emb_base, factor, emb_copy, f"{d}/embeddings.parquet")
        for name in (
            "dsir_importance_select",
            "dedup_incremental_snapshot",
            "shard_export_balance",
        ):
            yield {
                "exp": name,
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec(spark, name, sf_dir=d),
            }
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        yield {
            "exp": "pq_encode_query",
            "factor": factor,
            "vecs": emb_n * factor,
            "sec": sec(spark, "pq_encode_query",
                       lambda: sel_mod.pq_query(spark, emb, books)),
        }


def _prefixed_doc_dirs(spark, scratch: str, tag: str, factors):
    """Per factor, a dir whose documents are `factor` copies of sf0.1's
    (doc_id shifted, tokens of copies after the first prefixed);
    yields (factor, dir, docs)."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_n = base.count()
    for factor in factors:
        d = f"{scratch}/{tag}_x{factor}"
        write_copies(
            base, factor,
            lambda df, i: prefix_tokens(shift("doc_id", base_n)(df, i), i)
            if i else df,
            f"{d}/documents.parquet",
        )
        yield factor, d, base_n * factor


def tokenizer_probe(spark, scratch: str):
    """Unigram-LM train/encode scaling to 30x docs, distinct-word growth (~3 min).

    Full train (seed + 2 EM iterations) and Viterbi encode
    (operators/unigram.py) at 1x/10x/30x document replicas. Copies are
    copy-prefixed per word, so the DISTINCT-word table — the E-step's
    actual input — grows with the factor (the axis the mapInPandas
    E-step parallelizes over), not just the row count; the vocabulary
    broadcast stays V-bounded throughout."""
    from ethiopia_legal_etl_spark.operators import unigram as uni_mod

    for factor, d, n_docs in _prefixed_doc_dirs(
        spark, scratch, "tokenizer", (1, 10, 30)
    ):
        for exp, name, build in (
            ("unigram_train", "unigram_train",
             eager(uni_mod.unigram_train_table, spark, d)),
            ("unigram_encode", "unigram_encode_tokens", None),
        ):
            yield {
                "exp": exp,
                "factor": factor,
                "docs": n_docs,
                "sec": sec(spark, name, build, sf_dir=d),
            }


def emvocab_probe(spark, scratch: str):
    """Unigram EM loop crossed 10x-vocab x 10x-corpus; proves the driver collects stay vocab-bounded (~3 min).

    Unigram EM loop, BOTH axes crossed (VERDICT r10 #5): corpus {1x,
    10x copy-prefixed replicas — distinct words grow with the factor}
    x vocab {1x = seed 64/vocab 48, 10x = seed 640/vocab 480}, with the
    trainer's `stats` instrumentation recording per-EM-round wall
    seconds AND the driver-collected row counts at each of the three
    collect sites (operators/unigram.py). The claim under test: every
    collect is vocab-bounded (<= alphabet + seed_size), FLAT in corpus
    size — the property that lets the loop run against 100 TB with a
    driver that only ever holds the model."""
    from ethiopia_legal_etl_spark.operators import unigram as uni_mod

    for factor, d, n_docs in _prefixed_doc_dirs(
        spark, scratch, "emvocab", (1, 10)
    ):
        for vfactor, seed_size, vocab_size in ((1, 64, 48), (10, 640, 480)):
            kw = dict(seed_size=seed_size, vocab_size=vocab_size)
            uni_mod.unigram_train_table(spark, d, **kw)  # warm
            stats: dict = {}
            t = sec(
                spark, "unigram_em_vocab",
                eager(uni_mod.unigram_train_table, spark, d, stats=stats, **kw),
                warm=False,
            )
            yield {
                "exp": "unigram_em_vocab",
                "corpus_factor": factor,
                "vocab_factor": vfactor,
                "docs": n_docs,
                "seed_size": seed_size,
                "sec": t,
                "seed_sec": stats["seed_sec"],
                "seed_rows": stats["seed_rows"],
                "alphabet": stats["alphabet"],
                "em_rounds": stats["em_rounds"],
                "collect_bound": stats["alphabet"] + seed_size,
                "bound_holds": all(
                    r["collect_rows"] <= stats["alphabet"] + seed_size
                    for r in stats["em_rounds"]
                ),
            }


def textir_probe(spark, scratch: str):
    """BM25/PMI/backoff-LM/winnowing scaling to 30x docs (~3 min).

    r6-late text/IR operator scaling at 1x/10x/30x document replicas
    (same text, new doc_ids — the corpus-growth axis). The claim under
    test: corpus cost grows ~linearly while every intermediate the
    driver/broadcast path touches stays VOCAB-bounded (uni/bi tables,
    df stats, query set) or row-local (winnowing)."""
    base_n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    entries = {
        "bm25_topk": "retrieval_bm25_topk",
        "pmi_bigrams": "cooccurrence_pmi_bigrams",
        "lm_stupid_backoff": "lm_stupid_backoff",
        "winnowing": "winnowing_fingerprints",
    }
    for factor in (1, 10, 30):
        d = replicate_sf(
            spark, SF_DIR, f"{scratch}/textir_x{factor}", factor, ("documents",)
        )
        for exp, name in entries.items():
            yield {
                "exp": exp,
                "factor": factor,
                "docs": base_n * factor,
                "sec": sec(spark, name, sf_dir=d),
            }


def substr_volume_probe(spark, scratch: str, volumes=(1, 10, 40)):
    """ExactSubstr bytes-per-doc scaling 1x/10x/40x at fixed doc count; MB/s/core + Mgrams/s/core for partition sizing (~7 min).

    Document-LENGTH scaling for the ExactSubstr accounting
    (dedup_substring_fraction; VERDICT r12 #2) — the complement of
    substr_skew_probe below (key distribution) and of the r8 doc-count
    probes: here bytes PER DOCUMENT scale (1, 10, 40)x at fixed doc
    count; 50x pushed the 4-runs-per-point
    sweep past a 10-minute budget and 10x already sits in the linear
    regime (9.1x wall for 10x bytes, first measurement), so 40x is the
    plateau confirmation — because every stage of the pipeline is
    grams-proportional (gram-gen codegen, the 8-byte-digest shuffle,
    the count groupBy, the join back — ~(tokens-7) grams per doc).
    NOTE the cost class:
    unlike the codec probes this path has NO Python stage — the whole
    pipeline is JVM codegen + two digest-keyed shuffles — so the
    MB/s/core here prices codegen + shuffle, not pandas decode.

    Synthesis keeps the work profile honest: repeat r of a doc's
    token stream gets a per-repeat suffix (tok -> tok~r), so distinct
    grams scale ~volume (the count table grows with the corpus, as a
    real longer corpus's would) while cross-doc duplicate structure is
    preserved per repeat (docs sharing grams at 1x share the suffixed
    grams in every repeat). Repeating text verbatim instead would make
    every interior gram a within-doc duplicate and hold the count
    table at 1x — a cheaper shuffle profile than real data.

    Output per volume: corpus MB, gram count, wall sec (median of 3
    after a warm run), MB/s/core and Mgrams/s/core for partition
    sizing: a partition of B MB of text costs B / (MB/s/core) seconds
    on one core at the large-volume plateau. Results pinned in
    SCALING.md §substr-volume.

    Generator (yields per volume): the 40x point alone runs several
    minutes, so callers can stream partial results / split volumes
    across invocations instead of losing everything to a timeout."""
    cores = spark.sparkContext.defaultParallelism
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = base.count()
    for vol in volumes:
        d = f"{scratch}/substr_vol_x{vol}"
        # alias the split into a real column FIRST: an inline
        # F.split(...) referenced from inside the outer transform
        # lambda re-evaluates once per repeat r in the interpreted-HOF
        # path — the exact shape the r13 operator fix removed
        # (ADVICE r13 #2); tools/ sits outside the static plan gate,
        # so keep the probe consistent with the operators by hand.
        scaled = base.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        ).select(
            "doc_id",
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(vol)),
                        lambda r: F.transform(
                            F.col("toks"),
                            lambda t: F.concat(t, F.lit("~"), r),
                        ),
                    )
                ),
            ).alias("text"),
        )
        scaled.repartition(32).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        sdf = spark.read.parquet(f"{d}/documents.parquet")
        stats = (
            sdf.select(
                F.length("text").alias("b"),
                F.size(F.split(F.col("text"), " ")).alias("nt"),
            )
            .agg(
                F.sum("b").alias("b"),
                F.sum(
                    F.when(F.col("nt") >= 8, F.col("nt") - 7).otherwise(0)
                ).alias("grams"),
            )
            .collect()[0]
        )
        mb, grams = stats["b"] / 1e6, stats["grams"]
        name = "dedup_substring_fraction"
        run_query(spark, name, d, True)  # warm
        runs = sorted(
            sec(spark, name, sf_dir=d, warm=False) for _ in range(3)
        )
        yield {
            "exp": "substr_volume",
            "volume": vol,
            "docs": n_docs,
            "corpus_mb": round(mb, 1),
            "grams": grams,
            "sec_runs": runs,
            "sec": runs[1],
            "mb_per_sec_core": round(mb / runs[1] / cores, 3),
            "mgrams_per_sec_core": round(grams / 1e6 / runs[1] / cores, 3),
        }


def substr_skew_probe(spark, scratch: str):
    """Planted gram-skew ExactSubstr probe: digest vs string keys, AQE skew on/off (~2 min).

    Planted gram-key skew for the ExactSubstr accounting
    (dedup_substring_fraction; VERDICT r7 #5): a fixed 16-token
    boilerplate sentence is embedded in HALF of 200k docs, so each of
    its 9 8-token windows is a hot key carrying 100k positions. The
    probe measures the two scale claims in the operator's docstring:
    (1) digest-keyed shuffles (8-byte xxhash64) vs the naive
    string-keyed shape, and (2) the AQE skew join splitting the hot
    SMJ partitions at runtime vs AQE off. The join is hinted to SMJ
    because at 100 TB the gram-count side is far beyond broadcast."""
    k = 8
    n_docs = 200_000
    boiler = " ".join(f"boil{j}" for j in range(16))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit(boiler + " "),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(23)),
                        lambda j: F.concat(
                            F.lit("u"), F.col("id"), F.lit("x"), j
                        ),
                    ),
                ),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(39)),
                    lambda j: F.concat(F.lit("v"), F.col("id"), F.lit("x"), j),
                ),
            )
        )
        .alias("text"),
    )
    path = f"{scratch}/substr_skew.parquet"
    docs.repartition(32).write.mode("overwrite").parquet(path)
    d = spark.read.parquet(path)

    def frac(use_digest: bool):
        toks = F.split(F.col("text"), " ")

        def gram(i):
            s = F.concat_ws(" ", F.slice(toks, i, k))
            return F.xxhash64(s) if use_digest else s

        grams = d.where(F.size(toks) >= k).select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size(toks) - (k - 1)), gram)
            ).alias("g"),
        )
        cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        return (
            grams.join(cnt.hint("merge"), "g")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias(
                    "n_dup"
                ),
            )
        )

    # correctness spot-check on the planted corpus: every even doc has
    # exactly the 9 boilerplate windows duplicated, odd docs none
    got = {r["doc_id"]: r for r in frac(True).where(F.col("doc_id") < 4).collect()}
    assert got[0]["n_dup"] == k + 1 and got[1]["n_dup"] == 0, got

    for on in ("true", "false"):
        set_confs(spark, {**aqe(on), **(SMALL_SKEW if on == "true" else {})})
        for use_digest in (True, False):
            yield {
                "exp": "substr_gram_skew",
                "keys": "digest8B" if use_digest else "string",
                "aqe_skew": on,
                "sec": sec(spark, "substr_gram_skew", lambda: frac(use_digest)),
            }
    set_confs(spark, {**aqe("true"), **DEFAULT_SKEW})


def stats_probe(spark, scratch: str):
    """Theil-Sen day-range (full vs trailing-90) + silhouette label-count scaling (~4 min).

    VERDICT r8 #5: scale evidence for the r8 statistical additions.

    (a) trend_theil_sen_slope at growing DAY ranges. The O(days²) pair
    join runs on the per-day aggregate, so the growth axis that
    matters is history length, not raw row count: events replicate in
    TIME (copy i shifts ts by i*30 days) to 30 → 300 → 3000 days, and
    the full-history pair join (5 types × C(D,2) slopes: 2.2k → 224k →
    22.5M pairs) races the trailing_days=90 variant, whose pair join
    is bounded at 5 × C(90,2) ≈ 20k regardless of D.

    (b) embedding_silhouette_labels at growing LABEL counts. The
    exact-moment trick makes cost n_points × n_labels (the broadcast
    pt stage), so labels are the quadratic-risk axis: 20k points
    (10× replicated vectors) scored against 10 → 100 → 1000 relabeled
    clusters (pmod(vec_id, L)); the moment table stays 64×L BIGINTs,
    broadcast-sized even at L=1000.
    """
    import ethiopia_legal_etl_spark.operators.anomaly as an

    # (a) Theil-Sen: time-replicated events
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for factor in (1, 10, 100):
        d = SF_DIR
        if factor > 1:
            d = f"{scratch}/ts_x{factor}"
            write_copies(
                ev, factor,
                lambda df, i: df.withColumn(
                    "ts", F.col("ts") + F.make_dt_interval(F.lit(30 * i))
                ),
                f"{d}/events.parquet", n_files=max(8, factor),
            )
        for label, kw in (("full", {}), ("trail90", {"trailing_days": 90})):
            yield {
                "exp": f"theil_sen_{label}",
                "days": 30 * factor,
                "sec": sec(spark, f"theil_sen_{label}",
                           lambda: an.trend_theil_sen_slope(spark, d, **kw)),
            }

    # (b) silhouette: replicated vectors, relabeled to L clusters
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_vec = emb.count()
    big = union_copies(emb, 10, shift("vec_id", 100_000))
    for n_labels in (10, 100, 1000):
        d = f"{scratch}/sil_L{n_labels}"
        big.withColumn(
            "label", F.pmod(F.col("vec_id"), F.lit(n_labels)).cast("int")
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        yield {
            "exp": "silhouette_labels",
            "points": n_vec * 10,
            "labels": n_labels,
            "sec": sec(spark, "embedding_silhouette_labels", sf_dir=d),
        }


def fixpoint_probe(spark, scratch: str):
    """Connected-components fixpoint probe: planted worst-case chains, rounds-to-fixpoint + per-round rate at 1x/10x nodes and 8/512/4096 diameter (~4 min).

    VERDICT r13 #5: volume-probe the ITERATIVE FIXPOINT path the way
    ExactSubstr was volume-probed — its cost axis is rounds-to-fixpoint
    x per-round cost, a different axis from bytes/doc or doc count.

    Graph: planted chains (the worst case for label propagation — a
    path graph maximizes diameter per edge). Two axes:
    - size at fixed diameter 7 (the shallow near-dup regime): 30k ->
      300k nodes, 1x/10x. Rounds must stay FLAT (~log2(7)+verify);
      wall scales with edges -> per-round rate is the partition-sizing
      number.
    - diameter at fixed 300k nodes: chains of length 8 / 512 / 4096.
      With the r14 pointer-jumping step rounds grow as ~log2(d)
      (5 -> 11 -> 14), all far under the production max_iter=20 cap —
      the pre-r14 plain propagation would have needed d rounds and
      SILENTLY stopped at 20 (diameter 511/4095 cases non-converged).

    The probe asserts convergence (component count == planted chain
    count) so a future regression to a bounded propagation cannot
    produce a fast-but-wrong reading. Rounds-bound and per-round rate
    pinned in SCALING.md §fixpoint."""
    from ethiopia_legal_etl_spark.operators.dedup import connected_components

    for n_nodes, chain_len, tag in (
        (30_000, 8, "size_1x_d7"),
        (300_000, 8, "size_10x_d7"),
        (300_000, 512, "diam_511"),
        (300_000, 4096, "diam_4095"),
    ):
        # consecutive blocks of chain_len nodes; edge (i, i+1) except
        # across block boundaries -> n_nodes/chain_len chains
        edges = (
            spark.range(n_nodes)
            .where((F.col("id") + 1) % chain_len != 0)
            .where(F.col("id") + 1 < n_nodes)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
            .repartition(32)
            .localCheckpoint()
        )
        n_edges = edges.count()
        rounds: list[int] = []

        def run() -> None:
            rounds.clear()
            comp = connected_components(edges, rounds_out=rounds)
            n_comp = comp.select("component").distinct().count()
            expected = -(-n_nodes // chain_len)  # ceil
            assert n_comp == expected, (tag, n_comp, expected)

        t = sec(spark, f"cc_fixpoint_{tag}", run)
        yield {
            "exp": "cc_fixpoint",
            "tag": tag,
            "nodes": n_nodes,
            "edges": n_edges,
            "diameter": chain_len - 1,
            "rounds": rounds[-1],
            "sec": t,
            "sec_per_round": round(t / rounds[-1], 3),
        }


def graph_probe(spark, scratch: str):
    """Fixed-point graph ops (PageRank unrolled / k-core checkpointed) at 1x/10x/100x hosts+edges (~3 min).

    VERDICT r9 #5: scale evidence for the two fixed-point graph
    entries. Both derive their host graph from doc_id formulas, so the
    honest growth knob is the probe-only `n_hosts` parameter: hosts
    AND edges scale together (edges ~3·n_hosts by construction),
    50 → 500 → 5000 = 1×/10×/100× on both axes at sf0.1 docs.

    What each measures:
    - host_rank_fixed_point: 3 power-iteration rounds UNROLLED INTO
      ONE PLAN (no checkpoint, no driver loop) — cost is 3× the
      per-round broadcast-join+groupBy, and the rank table stays the
      broadcast side at every probed size.
    - graph_kcore_hosts: 6 peeling rounds EACH materialized through
      localCheckpoint — cost includes 6 round-trips of eager
      checkpoint jobs, i.e. the per-round floor a 1000-executor
      deployment would pay per peel (where reliable checkpoint()
      replaces it, SCALING.md r10).

    Iteration counts are fixed constants in both entries (3 and 6);
    the growth axis under test is per-round cost, not round count —
    PageRank's round count is a convergence choice, and peeling's is
    graph-dependent (fixpoint at round 4 on the default graph).

    1000× tier: the doc_id formulas cap edges at ~3·n_hosts and
    n_hosts at |docs|, so the big point replicates documents 100×
    (shifted doc_ids) and widens to 50k hosts / ~150k edges — enough
    data that the per-round joins stop being pure overhead.
    """
    from ethiopia_legal_etl_spark.operators import webarchive as wa

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    d_big = f"{scratch}/graph_docs_x100"
    write_copies(
        docs, 100, shift("doc_id", docs.count()), f"{d_big}/documents.parquet",
        n_files=32,
    )
    for d, n_hosts in ((SF_DIR, 50), (SF_DIR, 500), (SF_DIR, 5000), (d_big, 50_000)):
        for exp, fn in (
            ("host_rank_unrolled", wa.host_rank_fixed_point),
            ("kcore_checkpointed", wa.graph_kcore_hosts),
        ):
            yield {"exp": exp, "n_hosts": n_hosts,
                   "sec": sec(spark, exp, lambda: fn(spark, d, n_hosts=n_hosts))}


def _scanfidelity_run(conn, cores: int, d: str, mode: str) -> None:
    """One scanfidelity measurement in a fresh local[cores] session
    (run in a spawned process, so each gets its own JVM): 4 write-only
    runs of `mode` over lineitem in `d`, sent back through `conn` as
    (runs, None), or (None, traceback) on failure."""
    try:
        spark = get_spark(
            app_name="scanfid-worker",
            master=f"local[{cores}]",
            # emulate the 100 TB condition where every parquet file
            # meets or exceeds the split size (there: >=128m files
            # under the default maxPartitionBytes): the probe's 90x
            # table is ~2GB in 32 x ~60MB files, which the default 128m
            # split would PACK into fewer tasks (openCost 4m) and the
            # cores axis would saturate for packing reasons, not plan
            # reasons (measured r15 at 30x: ~7 splits).
            extra_conf={
                "spark.sql.files.maxPartitionBytes": "16m",
                "spark.sql.files.openCostInBytes": "0",
            },
        )

        # cpu mode: a compute-dominated aggregate over the same scan
        # (one sha2 per row) — separates task-fan-out capacity from
        # q1's memory-bandwidth-bound decode+sum
        def sha2_control():
            li = spark.read.parquet(f"{d}/lineitem.parquet")
            return (
                li.select(F.sha2(F.concat_ws(
                    "|", "l_orderkey", "l_linenumber", "l_shipdate"), 256).alias("h"))
                .groupBy((F.crc32(F.col("h")) % 7).alias("b")).count()
            )

        name, build = (
            ("q1_pricing_summary", None) if mode == "q1"
            else ("scanfidelity_cpu", sha2_control)
        )
        conn.send(([round(run_query(spark, name, d, build=build), 3)
                    for _ in range(4)], None))
    except BaseException:
        conn.send((None, traceback.format_exc()))
        raise


def scanfidelity_probe(spark, scratch: str):
    """Core-scaling of q1's aggregate on splittable (32-file) vs single-file 90x lineitem, fresh local[8]/local[32] sessions (~4 min).

    Scan-parallelism fidelity (VERDICT r14 #6): every bench base
    table is ONE single-row-group parquet file, so each scan stage is
    ONE task regardless of core count and the TPC-H heads read
    core-count-flat in the driver's c8/c32 block — a testdata-layout
    artifact, not a plan property. This probe rewrites a 90x lineitem
    into (a) a single file (the testdata layout) and (b) 32 files (a
    real table's splittable layout) and runs the REGISTERED
    q1_pricing_summary in FRESH spawned-process sessions at local[8]
    and local[32] against each. Fidelity claim: on the splittable
    layout the 8->32 speedup is >= 0.5 x the cores ratio; on the
    single-file layout it stays ~flat. Curves pinned in SCALING.md
    §scanfidelity.
    """
    # 90x (54M rows): measured r15 — at 10x the whole aggregate is ~4
    # core-seconds and saturates by 8 cores on any layout; at 30x the
    # c8 split run is ~0.9 s, of which ~0.5 s is fixed multi-stage/AQE
    # floor, so the cores axis still reads ~1.1x. 90x puts ~2.5 s of
    # work at c8 so the compute term dominates the floor.
    base = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    big = base.crossJoin(spark.range(90).select(F.col("id").alias("_dup"))).drop(
        "_dup"
    )
    layouts = {
        "single_file": (f"{scratch}/scanfid_1", 1),
        "split_32": (f"{scratch}/scanfid_32", 32),
    }
    for d, n in layouts.values():
        big.repartition(n).write.mode("overwrite").parquet(
            f"{d}/lineitem.parquet"
        )
    ctx = multiprocessing.get_context("spawn")
    meds: dict[tuple[str, str, int], float] = {}
    jobs = [("q1", layout) for layout in layouts] + [("cpu", "split_32")]
    for mode, layout in jobs:
        for cores in (8, 32):
            recv, send = ctx.Pipe(duplex=False)
            p = ctx.Process(
                target=_scanfidelity_run,
                args=(send, cores, layouts[layout][0], mode),
            )
            p.start()
            send.close()  # the child now holds the only write end
            try:
                runs, err = (
                    recv.recv() if recv.poll(900) else (None, "no result in 900 s")
                )
            except EOFError:  # the child died before sending
                runs, err = None, None
            p.join(60)
            if p.is_alive():
                p.kill()
                p.join()
            if runs is None or p.exitcode != 0:
                raise RuntimeError(
                    f"scanfidelity worker {mode}/{layout}/local[{cores}] "
                    f"failed (exit {p.exitcode}):\n{(err or '')[-2000:]}"
                )
            meds[(mode, layout, cores)] = sorted(runs[1:])[1]
            yield {
                "exp": f"scanfidelity_{mode}",
                "layout": layout,
                "cores": cores,
                "runs": runs,
                "median": meds[(mode, layout, cores)],
            }
    for mode, layout in jobs:
        c8 = meds[(mode, layout, 8)]
        c32 = meds[(mode, layout, 32)]
        yield {
            "exp": f"scanfidelity_{mode}_ratio",
            "layout": layout,
            "speedup_8_to_32": round(c8 / c32, 2) if c32 else None,
            "cores_ratio": 4.0,
        }


# `--<name>` flag -> probe; drives both the argument parser (help text
# is the probe's docstring summary line) and the run loop, in this order.
PROBES = {
    "big-skew": big_skew,
    "bloom": bloom_probe,
    "gapfill": gapfill_probe,
    "analytics": analytics_probe,
    "neardup": neardup_probe,
    "ingest": ingest_probe,
    "guards": guards_probe,
    "codecs": codecs_probe,
    "codec-volume": codec_volume_probe,
    "corpusops": corpusops_probe,
    "selection": selection_probe,
    "tokenizer": tokenizer_probe,
    "emvocab": emvocab_probe,
    "textir": textir_probe,
    "substr-volume": substr_volume_probe,
    "substr-skew": substr_skew_probe,
    "stats": stats_probe,
    "fixpoint": fixpoint_probe,
    "graph": graph_probe,
    "scanfidelity": scanfidelity_probe,
}


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--factors", default="1,10,30")
    ap.add_argument("--keep", action="store_true")
    for name, probe in PROBES.items():
        ap.add_argument(f"--{name}", action="store_true",
                        help=probe.__doc__.split("\n")[0])
    return ap


def main() -> None:
    args = parser().parse_args()
    factors = [int(x) for x in args.factors.split(",")]
    chosen = [p for n, p in PROBES.items() if getattr(args, n.replace("-", "_"))]
    spark = get_spark(app_name="scale-probe")
    scratch = tempfile.mkdtemp(prefix="elel_scale_")
    try:
        for rec in itertools.chain(
            sweep(spark, scratch, factors),
            skew_stress(spark, scratch),
            *(probe(spark, scratch) for probe in chosen),
        ):
            print(json.dumps(rec), flush=True)
    finally:
        if not args.keep:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
