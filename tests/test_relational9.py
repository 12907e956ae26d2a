"""Wave 9 semantics tests: cogrouped as-of LEFT null behavior, null-safe
join keeps the NULL key, union-by-name fills the missing column. The
oracle hash compare covers values; these pin the semantics that make
each operator distinct from its plain-join sibling.
"""

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.joins import (
    asof_merge_cogrouped,
    join_nullsafe_eq,
    union_by_name_evolution,
)
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_asof_cogrouped_left_semantics(spark, sf_dir):
    out = asof_merge_cogrouped(spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events")
        n_err = ev.where(F.col("event_type") == "error").count()
        # LEFT: every error survives, exactly once
        assert out.count() == n_err
        assert out.select("event_id").distinct().count() == n_err
        # matched rows point at a purchase at-or-before the error
        joined = (
            out.where(F.col("prev_purchase_id").isNotNull())
            .join(
                ev.select(
                    F.col("event_id").alias("e_id"), F.col("ts").alias("err_ts")
                ),
                F.col("event_id") == F.col("e_id"),
            )
            .join(
                ev.select(
                    F.col("event_id").alias("p_id"),
                    F.col("ts").alias("p_ts"),
                    F.col("event_type").alias("p_type"),
                ),
                F.col("prev_purchase_id") == F.col("p_id"),
            )
        )
        bad = joined.where(
            (F.col("p_type") != "purchase") | (F.col("p_ts") > F.col("err_ts"))
        )
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_nullsafe_join_keeps_null_key(spark, sf_dir):
    out = join_nullsafe_eq(spark, sf_dir).collect()
    grades = {r["grade"] for r in out}
    # events.value has nulls at every SF -> the NULL grade bucket must
    # survive the join (a plain equi-join would drop it)
    assert None in grades
    assert all(r["purchase_cnt"] > 0 and r["click_cnt"] > 0 for r in out)


def test_union_by_name_fills_missing_column(spark, sf_dir):
    out = union_by_name_evolution(spark, sf_dir).cache()
    try:
        assert set(out.columns) == {"o_orderkey", "total_price", "priority"}
        orders = load_table(spark, sf_dir, "orders")
        n_v1 = orders.where(F.col("o_custkey") < 100).count()
        # v1 rows (no priority column in source) carry NULL after union
        assert out.where(F.col("priority").isNull()).count() == n_v1
    finally:
        out.unpersist()
