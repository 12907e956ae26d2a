"""functions/money.py equivalence pins (r14 optimization round).

The TPC-H money respell (exact LONG micros instead of DECIMAL agg
buffers) is only legal because money_micro() reproduces the decimal
cast EXACTLY. These tests pin that claim:

1. money_micro(x) == unscaled(CAST(x AS DECIMAL(12,2))) for doubles of
   both signs, including exact .5 ties (HALF_UP = half away from
   zero), NULLs, and a dense random sweep.
2. micro_to_double reproduces CAST(decimal AS DOUBLE) on the summed
   totals (the q1 cell-exactness already verified against the DuckDB
   oracle at sf0.001/0.01/0.1; this is the unit-level pin).
3. q1's two-level spark_partition_id() aggregation is partition-count
   invariant (the overflow-bounding level must never change values).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.money import (
    micro_to_double,
    money_micro,
)


def _compare(spark, values: list[float | None]) -> None:
    df = spark.createDataFrame([(v,) for v in values], "x double")
    rows = df.select(
        money_micro(F.col("x")).alias("micro"),
        (F.col("x").cast("decimal(12,2)") * 100).cast("long").alias("dec_unscaled"),
    ).collect()
    for v, r in zip(values, rows):
        assert r["micro"] == r["dec_unscaled"], (
            f"x={v!r}: micro={r['micro']} != decimal unscaled={r['dec_unscaled']}"
        )


def test_money_micro_matches_decimal_cast_edges(spark):
    # exact binary .5 ties (x*100 lands exactly on k+0.5): HALF_UP
    # rounds away from zero on BOTH paths
    edges = [
        0.125, -0.125, 0.375, -0.375, 2.005, -2.005,
        0.0, -0.0, 1.0, -1.0, 0.01, -0.01, 0.005, -0.005,
        104949.5, 0.004999999, 0.0050000001, 999999.99, -999999.99,
        None,
    ]
    _compare(spark, edges)


def test_money_micro_matches_decimal_cast_random(spark):
    rng = random.Random(14)
    vals = [round(rng.uniform(-110000, 110000), 2) for _ in range(2000)]
    vals += [rng.uniform(-110000, 110000) for _ in range(2000)]
    _compare(spark, vals)


def test_money_micro_exhaustive_2dp_domain(spark):
    # The engine's money columns carry EXACT-2dp doubles (written from
    # 2dp decimals), so the live domain of money_micro is k/100 for
    # integer k. Pin it EXHAUSTIVELY for every cent value in
    # [-110000.00, +110000.00] — 22M values, one Spark job, no collect.
    df = spark.range(-11_000_000, 11_000_001).select(
        (F.col("id") / 100).alias("x")
    )
    mism = (
        df.select(
            money_micro(F.col("x")).alias("m"),
            (F.col("x").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("d"),
        )
        .where("m != d")
        .count()
    )
    assert mism == 0


def test_money_micro_known_divergences_outside_domain(spark):
    # A directed fuzz around the x.xx5 tie
    # neighborhoods FOUND divergences there — proof the
    # docstring's domain restriction is load-bearing, pinned here as
    # documentation instead of asserted away. Neither value is an
    # exact-2dp double, so neither can reach the engine's money
    # columns (the exhaustive 2dp sweep above pins the live domain):
    # - 37478.825 (3dp tie): repr ends in 5 so the decimal cast rounds
    #   UP to 3747883, but fl(x*100) lands one ulp BELOW 3747882.5 so
    #   the float path floors to 3747882.
    # - nextafter(56720.035, 0) (repr ...034999999996): the decimal
    #   cast rounds DOWN to 5672003, but fl(x*100) still lands exactly
    #   on 5672003.5 so the float path rounds UP to 5672004.
    import math

    cases = [
        (37478.825, 3747882, 3747883),
        (math.nextafter(56720.035, 0.0), 5672004, 5672003),
    ]
    df = spark.createDataFrame([(x,) for x, _, _ in cases], "x double")
    rows = df.select(
        money_micro(F.col("x")).alias("micro"),
        (F.col("x").cast("decimal(12,2)") * 100).cast("long").alias("dec"),
    ).collect()
    for (x, want_micro, want_dec), r in zip(cases, rows):
        assert (r["micro"], r["dec"]) == (want_micro, want_dec), (x, r)


def test_money_micro_large_magnitude_divergence_pinned(spark):
    # A boundary case at the magnitude limit.
    # The r15 sweep near 2**53/scale found the identity does NOT hold
    # for arbitrary doubles there (doubles are spaced ~0.0156 apart at
    # 9e13, so +0.5 stops being a faithful HALF_UP) — pinned as a
    # counterexample: money_micro is only for genuine money columns,
    # whose magnitudes sit ~9 orders below this.
    x = 90071375405933.25
    df = spark.createDataFrame([(x,)], "x double")
    r = df.select(
        money_micro(F.col("x")).alias("micro"),
        (F.col("x").cast("decimal(22,2)") * 100).cast("long").alias("dec"),
    ).collect()[0]
    assert r["micro"] == 9007137540593326 and r["dec"] == 9007137540593325, r


def test_micro_to_double_matches_decimal_cast(spark):
    rng = random.Random(41)
    micros = [rng.randrange(-(10**15), 10**15) for _ in range(500)]
    df = spark.createDataFrame([(m,) for m in micros], "m long")
    rows = df.select(
        micro_to_double(F.col("m"), 10_000).alias("d"),
        (F.col("m").cast("decimal(38,4)") / 10_000)
        .cast("decimal(38,4)")
        .cast("double")
        .alias("ref"),
    ).collect()
    for m, r in zip(micros, rows):
        assert repr(r["d"]) == repr(r["ref"]), (m, r["d"], r["ref"])


def test_q1_partition_count_invariant(spark, sf_dir):
    from ethiopia_legal_etl_spark.operators.tpch import q1_pricing_summary

    base = [
        tuple(r)
        for r in q1_pricing_summary(spark, sf_dir)
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "5"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            again = [
                tuple(r)
                for r in q1_pricing_summary(spark, sf_dir)
                .orderBy("l_returnflag", "l_linestatus")
                .collect()
            ]
            assert repr(again) == repr(base), f"drift at {n} shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
