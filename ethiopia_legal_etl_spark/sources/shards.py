"""Sharded training-corpus layout: the write path a tokenize-and-pack
job runs after curation (dedup/guards/mixture), producing the on-disk
shape data loaders actually consume — N hash-balanced shard
directories, each internally in a deterministic pseudo-random order,
plus a driver-side manifest bounded by the shard count.

Why this layout at 100 TB:
- shard = xxhash64(doc_id) % n_shards is content-independent and
  reproducible: re-running the job after adding documents moves no
  existing document between shards, so incremental rebuilds only
  rewrite shards whose membership changed.
- within-shard order = xxhash64(doc_id, salt+1): a deterministic
  corpus-wide "shuffle" (training wants decorrelated document order,
  but a literal random shuffle is neither reproducible nor resumable).
  Two writes of the same corpus produce byte-identical shard contents.
- `partitionBy("shard")` + repartition on the shard key gives one
  writer task per shard (no small-file explosion) and lets readers
  prune to a shard subset at the scan (`PartitionFilters`), which is
  how a 1000-GPU job assigns shard ranges to workers without reading
  the rest.
- the manifest aggregates per shard BEFORE collecting: n_shards rows
  cross the driver, never the corpus.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.sources.compact import _fs

_SALT = 0x5EED


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem Spark
    actually uses (same `_fs` seam as sources/compact.py), so the
    manifest lands next to the shards on HDFS/S3A — a local
    pathlib write would target a bogus local path for any
    non-local URI."""
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str:
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def assign_shard(n_shards: int):
    """Deterministic shard id column for a doc_id column."""
    return F.pmod(F.xxhash64(F.col("doc_id"), F.lit(_SALT)), F.lit(n_shards))


def write_corpus_sharded(
    docs: DataFrame, path: str, n_shards: int = 32
) -> dict:
    """Write (doc_id, text, ...) as `shard=K/` parquet directories in
    deterministic pseudo-random within-shard order; returns the
    manifest (also written to `<path>/_manifest.json`).

    Reference parity note: the reference's closest analog is its flat
    one-JSON-per-document output directory (fetch_legal_docs.py:88);
    this is that sink rebuilt for a cluster — bounded file counts,
    balanced writers, prunable reads.
    """
    shard = assign_shard(n_shards)
    order = F.xxhash64(F.col("doc_id"), F.lit(_SALT + 1))
    out = (
        docs.withColumn("shard", shard)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order, "doc_id")
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(path)

    stats = (
        docs.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
        .orderBy("shard")
        .collect()  # bounded: n_shards rows
    )
    manifest = {
        "n_shards": n_shards,
        "salt": _SALT,
        "shards": [
            {
                "shard": r["shard"],
                "n_docs": r["n_docs"],
                "n_tokens": r["n_tokens"],
            }
            for r in stats
        ],
    }
    _write_text(
        docs.sparkSession,
        path.rstrip("/") + "/_manifest.json",
        json.dumps(manifest, indent=2),
    )
    return manifest


def read_corpus_shards(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> DataFrame:
    """Read the sharded corpus back; `shards` restricts to a subset and
    prunes at the scan (partition directories never opened — the worker
    assignment path of a distributed training reader)."""
    df = spark.read.parquet(path)
    if shards is not None:
        df = df.where(F.col("shard").isin(shards))
    return df


def read_manifest(path: str, spark: SparkSession | None = None) -> dict:
    """Read the shard manifest via the Hadoop FS API (pass `spark`;
    defaults to the active session so existing one-arg callers keep
    working on local paths and clusters alike)."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("read_manifest needs an active SparkSession")
    return json.loads(
        _read_text(spark, path.rstrip("/") + "/_manifest.json")
    )
