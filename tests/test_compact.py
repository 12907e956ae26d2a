"""Small-file compaction (sources/compact.py): file-count reduction,
content preservation, idempotence, clustering-preserving mode."""

from __future__ import annotations

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.sources.compact import (
    compact_parquet_dir,
    parquet_file_stats,
)
from ethiopia_legal_etl_spark.sources.tables import load_table


def _fragmented(spark, sf_dir, tmp_path, n_files=40):
    path = str(tmp_path / "frag")
    load_table(spark, sf_dir, "orders").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_compact_reduces_files_and_preserves_content(spark, sf_dir, tmp_path):
    path = _fragmented(spark, sf_dir, tmp_path)
    before_rows = sorted(
        map(tuple, spark.read.parquet(path).collect())
    )
    n_before, total = parquet_file_stats(spark, path)
    assert n_before == 40
    # target = half the data per file -> 2 files
    res = compact_parquet_dir(spark, path, target_file_bytes=(total // 2) + 1)
    assert res["compacted"] and res["files_before"] == 40
    assert res["files_after"] <= 3  # ~2 files (+rounding)
    assert res["files_after"] < res["files_before"]
    after_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after_rows == before_rows


def test_compact_converges_to_fixed_point(spark, sf_dir, tmp_path):
    """Repeated compaction reaches a no-op fixed point quickly (the
    consolidated files compress better, so the first pass can shrink
    total bytes below the target and legitimately merit ONE more merge
    — after that every call must be a no-op)."""
    path = _fragmented(spark, sf_dir, tmp_path)
    _, total = parquet_file_stats(spark, path)
    target = (total // 2) + 1
    first = compact_parquet_dir(spark, path, target_file_bytes=target)
    assert first["compacted"]
    results = [first]
    for _ in range(3):
        results.append(compact_parquet_dir(spark, path, target_file_bytes=target))
        if not results[-1]["compacted"]:
            break
    assert len(results) <= 3 and not results[-1]["compacted"]
    # once a no-op, always a no-op at the same target
    again = compact_parquet_dir(spark, path, target_file_bytes=target)
    assert not again["compacted"]
    assert again["files_after"] == results[-1]["files_after"]


def test_compact_no_temp_debris(spark, sf_dir, tmp_path):
    path = _fragmented(spark, sf_dir, tmp_path)
    _, total = parquet_file_stats(spark, path)
    compact_parquet_dir(spark, path, target_file_bytes=(total // 2) + 1)
    leftovers = [
        p.name for p in tmp_path.iterdir() if "__compact" in p.name
    ]
    assert leftovers == []


def test_compact_sorted_mode_preserves_pruning(spark, sf_dir, tmp_path):
    """Range-partitioned compaction keeps per-file min/max disjoint on
    the sort key, so footer pruning survives the rewrite."""
    path = _fragmented(spark, sf_dir, tmp_path)
    _, total = parquet_file_stats(spark, path)
    res = compact_parquet_dir(
        spark,
        path,
        target_file_bytes=(total // 4) + 1,
        sort_col="o_orderkey",
    )
    assert res["compacted"] and res["files_after"] >= 2
    # per-file key ranges must not overlap
    files = spark.read.parquet(path).withColumn(
        "f", F.input_file_name()
    )
    ranges = (
        files.groupBy("f")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_compact_clears_stale_swap_artifacts(spark, sf_dir, tmp_path):
    """A crashed prior run leaves .__compact_bak/.__compact_tmp behind;
    the next compaction must clear them and still succeed — a stale bak
    would otherwise fail (or nest) the rename swap."""
    from pathlib import Path

    path = _fragmented(spark, sf_dir, tmp_path, n_files=10)
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))
    # simulate crash debris
    bak = Path(path + ".__compact_bak")
    tmp = Path(path + ".__compact_tmp")
    bak.mkdir()
    (bak / "junk.parquet").write_bytes(b"stale")
    tmp.mkdir()
    (tmp / "junk.parquet").write_bytes(b"stale")
    _n, total = parquet_file_stats(spark, path)
    res = compact_parquet_dir(spark, path, target_file_bytes=(total // 2) + 1)
    assert res["compacted"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before_rows
    assert not bak.exists() and not tmp.exists()
