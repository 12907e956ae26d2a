"""Wave-2 operator tests: sampling bounds, pivot completeness,
argmax tie preservation, SQL-surface round trips."""

from __future__ import annotations

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.aggregates import (
    argmax_customer_per_nation,
    pivot_status_by_priority,
    sample_lineitem_fraction,
)
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_sample_fraction_within_binomial_bounds(spark, sf_dir):
    n = load_table(spark, sf_dir, "lineitem").count()
    got = sample_lineitem_fraction(spark, sf_dir).count()
    # Bernoulli(0.1): mean n/10, sd ~ sqrt(n*0.09); allow 5 sd
    mean, sd = n * 0.1, (n * 0.1 * 0.9) ** 0.5
    assert abs(got - mean) < 5 * sd

    # seeded → deterministic across runs
    again = sample_lineitem_fraction(spark, sf_dir).count()
    assert got == again


def test_pivot_counts_sum_to_group_totals(spark, sf_dir):
    piv = {r["o_orderstatus"]: r for r in pivot_status_by_priority(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    want = {
        (r["o_orderstatus"], r["o_orderpriority"]): r["cnt"]
        for r in orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for status, row in piv.items():
        assert row["urgent"] == want.get((status, "1-URGENT"), 0)
        assert row["medium"] == want.get((status, "3-MEDIUM"), 0)
        assert row["low"] == want.get((status, "5-LOW"), 0)


def test_argmax_preserves_ties_and_is_max(spark, sf_dir):
    rows = argmax_customer_per_nation(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer")
    max_by_nation = {
        r["c_nationkey"]: r["mx"]
        for r in cust.groupBy("c_nationkey").agg(F.max("c_acctbal").alias("mx")).collect()
    }
    seen_nations = set()
    for r in rows:
        assert r["acctbal"] == round(max_by_nation[r["nationkey"]], 2)
        seen_nations.add(r["nationkey"])
    assert seen_nations == set(max_by_nation)
