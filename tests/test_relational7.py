"""Wave 7 property tests: gap-fill density/LOCF semantics, stratified
sampling binomial bounds, CMS error envelope. The oracle-checked
queries (gapfill, regr, median/bool, fuzzy) additionally go through
tools/check_oracle.py; these tests pin the semantics the hash compare
can't see (spine density, sample determinism, sketch guarantees).
"""

import math

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.aggregates import (
    heavy_hitters_cms,
    stratified_sample_orders,
)
from ethiopia_legal_etl_spark.operators.analytics import timeseries_gapfill_locf
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_gapfill_spine_is_dense_and_locf_fills(spark, sf_dir):
    out = timeseries_gapfill_locf(spark, sf_dir).cache()
    try:
        n_users = out.select("user_id").distinct().count()
        days = out.select("day").distinct()
        n_days = days.count()
        # dense cross product: every user has every day exactly once
        assert out.count() == n_users * n_days
        lo, hi = days.agg(F.min("day"), F.max("day")).first()
        assert n_days == (hi - lo).days + 1  # no calendar gaps

        # LOCF: nulls only before a user's first observed day
        w_rows = out.where(F.col("locf_value").isNull())
        first_obs = (
            load_table(spark, sf_dir, "events")
            .where(F.col("user_id") < 20)
            .groupBy("user_id")
            .agg(F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day"))
        )
        bad = w_rows.join(first_obs, "user_id").where(
            F.col("day") >= F.col("first_day")
        )
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_stratified_sample_within_binomial_bounds(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    totals = {
        r["o_orderstatus"]: r["n"]
        for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["o_orderstatus"]: r["n_sampled"]
        for r in stratified_sample_orders(spark, sf_dir).collect()
    }
    fracs = {"O": 0.1, "F": 0.2, "P": 0.5}
    for status, frac in fracs.items():
        n = totals[status]
        mean, sd = n * frac, math.sqrt(n * frac * (1 - frac))
        assert abs(got.get(status, 0) - mean) <= 6 * sd + 1, (status, got, mean)
    # seeded: a second draw is identical
    again = {
        r["o_orderstatus"]: r["n_sampled"]
        for r in stratified_sample_orders(spark, sf_dir).collect()
    }
    assert got == again


def test_cms_estimates_bound_true_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    total = sum(exact.values())
    est = {
        r["event_type"]: r["est_count"]
        for r in heavy_hitters_cms(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert est[t] >= n  # CMS never under-counts
        assert est[t] <= n + 0.001 * total + 1  # eps * N envelope


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    stats = {
        (r["layout"], r["col"]): (r["files_total"], r["files_hit"])
        for r in __import__(
            "ethiopia_legal_etl_spark.operators.sql_surface", fromlist=["x"]
        ).zorder_pruning_stats(spark, sf_dir).collect()
    }
    # hash layout: every file spans the whole domain, nothing prunes
    assert stats[("hash", "l_partkey")][1] == 16
    assert stats[("hash", "l_suppkey")][1] == 16
    # single-column range: perfect on the sort column, blind on the other
    assert stats[("single", "l_partkey")][1] <= 5
    assert stats[("single", "l_suppkey")][1] == 16
    # z-order: meaningful pruning on BOTH columns
    assert stats[("zorder", "l_partkey")][1] <= 10
    assert stats[("zorder", "l_suppkey")][1] <= 10


def test_wave8_shapes(spark, sf_dir):
    """Wave 8 smoke in pytest (values are oracle-gated): recursion depth
    equals the calendar span, transpose flips 5 regions x 3 metrics,
    scripting returns the last SELECT, arrow path equals the SQL twin."""
    from ethiopia_legal_etl_spark.operators import sql_surface as r8

    spine = r8.recursive_monthly_spine(spark, sf_dir)
    assert spine.count() == 80  # 1995-01 .. 2001-08 inclusive
    assert spine.columns == ["month", "n_orders", "revenue"]

    t = r8.transpose_nation_metrics(spark, sf_dir)
    assert t.count() == 3
    assert set(t.columns) == {"key", "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"}

    s = r8.scripting_above_avg_orders(spark, sf_dir)
    assert s.columns == ["o_orderpriority", "n_above_avg", "min_price"]

    arrow = r8.arrow_token_count(spark, sf_dir)
    from pyspark.sql import functions as FF
    sql_twin = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            (
                FF.length("text")
                - FF.length(FF.regexp_replace("text", " ", ""))
                + 1
            ).cast("long").alias("n_tokens_ws"),
        )
    )
    assert arrow.exceptAll(sql_twin).count() == 0


def test_cache_reuse_appears_in_plan(spark, sf_dir):
    """df.persist() materializes a reused subplan once: dependent plans
    read InMemoryTableScan instead of re-scanning parquet. The
    cache-the-dim pattern for iterative/multi-query sessions."""
    from ethiopia_legal_etl_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dim.persist()
    try:
        dim.count()  # materialize
        plan = dim.groupBy("c_nationkey").count()._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        dim.unpersist()


def test_heavy_hitters_cms_high_ndv_guard(spark):
    """A high-NDV key must fail fast instead of collecting every
    distinct value to the driver."""
    import pytest

    from ethiopia_legal_etl_spark.operators.aggregates import _heavy_hitters_cms

    wide = spark.range(1000).selectExpr("CAST(id AS STRING) AS k")
    with pytest.raises(ValueError, match="exceeds the driver-probe bound"):
        _heavy_hitters_cms(spark, wide, "k", max_ndv=100)


class TestMisraGries:
    def test_superset_guarantee_random_streams(self):
        from hypothesis import given, settings
        from hypothesis import strategies as hst

        from ethiopia_legal_etl_spark.operators.aggregates import mg_summary_stream

        @settings(max_examples=200, deadline=None)
        @given(
            hst.lists(hst.integers(0, 20), min_size=1, max_size=400),
            hst.integers(2, 10),
        )
        def inner(vals, k):
            from collections import Counter

            summary = mg_summary_stream(vals, k)
            assert len(summary) <= k - 1
            true = Counter(vals)
            n = len(vals)
            for item, c in true.items():
                if c * k > n:  # freq > n/k MUST be tracked
                    assert item in summary
            # counts never overestimate
            for item, c in summary.items():
                assert 0 < c <= true[item]

        inner()

    def test_merge_preserves_guarantee(self):
        import random
        from collections import Counter

        from ethiopia_legal_etl_spark.operators.aggregates import (
            mg_merge,
            mg_summary_stream,
        )

        rng = random.Random(11)
        # skewed stream: two heavy items + uniform tail
        vals = (
            ["hot1"] * 3000 + ["hot2"] * 2500
            + [f"t{rng.randrange(500)}" for _ in range(4000)]
        )
        rng.shuffle(vals)
        k = 8
        parts = [vals[i::5] for i in range(5)]
        merged = mg_merge([mg_summary_stream(p, k) for p in parts], k)
        assert len(merged) <= k - 1
        true = Counter(vals)
        n = len(vals)
        for item, c in true.items():
            if c * k > n:
                assert item in merged
        for item, c in merged.items():
            assert c <= true[item]

    def test_registry_entry_exact_heavy_set(self, spark, sf_dir):
        from ethiopia_legal_etl_spark.operators.aggregates import heavy_hitters_mg

        rows = {
            r["event_type"]: r["n_events"]
            for r in heavy_hitters_mg(spark, sf_dir).collect()
        }
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = ev.count()
        from pyspark.sql import functions as F

        true = {
            r["event_type"]: r["c"]
            for r in ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
            if r["c"] * 8 > n
        }
        assert rows == true and len(rows) > 0
