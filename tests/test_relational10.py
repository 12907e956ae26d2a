"""Wave 10 semantics tests: collation genuinely merges case variants,
try_* nulls land exactly where the guards say, grouping-sets markers
partition the output. Value correctness is the oracle's job; these pin
the semantics the hash compare can't see.
"""

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.aggregates import (
    collation_ci_priority_counts,
    df_groupingsets_region_nation,
)
from ethiopia_legal_etl_spark.operators.sql_surface import try_arithmetic_orders
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_collation_merges_case_variants(spark, sf_dir):
    out = collation_ci_priority_counts(spark, sf_dir)
    rows = out.collect()
    # 5 priorities, each split into two casings upstream -> collation
    # must fold them back to exactly the 5 canonical groups
    assert len(rows) == 5
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["cnt"] for r in rows) == n_orders


def test_try_arithmetic_null_placement(spark, sf_dir):
    out = try_arithmetic_orders(spark, sf_dir).cache()
    try:
        # division NULL iff custkey % 7 == 0, overflow NULL iff key > 7
        # (keys 0..7 can survive, so at most 8 non-null sums)
        assert out.where(F.col("safe_ratio").isNull()).count() > 0
        assert out.where(F.col("safe_sum").isNotNull()).count() <= 8
        assert (
            out.where(F.col("safe_sum").isNotNull() & (F.col("o_orderkey") > 7))
            .count()
            == 0
        )
        assert (
            out.where(
                F.col("safe_int").isNull() & (F.col("o_orderkey") % 3 != 0)
            ).count()
            == 0
        )
    finally:
        out.unpersist()


def test_groupingsets_marker_partition(spark, sf_dir):
    out = df_groupingsets_region_nation(spark, sf_dir).cache()
    try:
        total = out.where((F.col("g_region") == 1) & (F.col("g_nation") == 1))
        assert total.count() == 1  # exactly one grand-total row
        n_sup = load_table(spark, sf_dir, "supplier").count()
        assert total.first()["n_suppliers"] == n_sup
        # region subtotals sum to the grand total
        sub = out.where((F.col("g_region") == 0) & (F.col("g_nation") == 1))
        assert (
            sub.agg(F.sum("n_suppliers")).first()[0] == n_sup
        )
    finally:
        out.unpersist()
