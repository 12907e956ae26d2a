"""TPC-H query shapes over the synthetic star schema: Q1-Q3, Q5-Q22,
and the selective-probe join that Spark's runtime Bloom-filter pruning
targets at cluster scale (``bloom_pruned_join``; plan evidence in
tests/test_plans.py::test_bloom_runtime_filter_injection). Q6 goes
through the SQL surface (``sql_q6_forecast_revenue``: spark.sql over a
temp view). Q4's correlated EXISTS is ``exists_late_shipment_orders``
in joins.py.

The schema has no partsupp table (TESTDATA.md). The five shapes whose
canonical form needs it use ``lineitem`` as the part↔supplier bridge,
so the *query pattern* is preserved exactly even though the bridge
relation differs:

- Q2  min-cost supplier: correlated-min subquery (window-min spelling)
  over a derived offer table, dims broadcast, deterministic top-100;
- Q9  product-type profit: 5-way join with a LIKE-filtered part dim,
  profit = revenue − cost proxy, grouped by nation × year;
- Q11 important stock: group totals filtered against a scalar-subquery
  fraction of the global total;
- Q16 supplier counts: COUNT(DISTINCT) per attribute triple with a
  NOT-IN anti-subquery on the supplier dim;
- Q20 excess-share suppliers: nested semi chain — per (part, supplier)
  share against the per-part total, then DISTINCT suppliers.

Money math follows the registry float policy (registry.py module doc):
exact DECIMAL(12,2) arithmetic (``_dec``, ``_volume``) or its exact
long-micro twin (``_mvolume``, functions/money.py), CAST AS DOUBLE at
the end; averages are decimal-sum-double / count so both engines
divide identical values.

Scale notes are per query; the common theme: nation/region/part/
supplier are broadcast dims, lineitem⋈orders shuffles once on
orderkey, and every date filter reaches the parquet scan for row-group
pruning. The part-bridge shapes' only large shuffles are the lineitem
aggregations keyed on (l_partkey[, l_suppkey]) — dense, high-NDV keys
with no skew hazard; Q2/Q20's per-part window/self-join runs on the
already-aggregated offer table (≪ lineitem).

Reference anchor: the reference evaluates row predicates one document
at a time inside its fetch loop (fetch_legal_docs.py:32, import
requests.py:120-121); these queries express filter/join/aggregate
semantics declaratively so Catalyst can push, prune and reorder them.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.money import (
    micro_sum_to_double,
    micro_to_double,
    money_micro,
)
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


def _dec(col: str):
    return F.col(col).cast("decimal(12,2)")


def _volume():
    return _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(12,2)"
    )


def _mvolume():
    """_volume() as its exact 4-dp integer micro (functions/money.py)."""
    return money_micro(F.col("l_extendedprice")) * money_micro(
        F.lit(1) - F.col("l_discount")
    )


# --------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape — the flagship scan+filter+agg.
# Scale: single shuffle on a 2-value x 2-value grouping key; partial
# aggregation (map-side combine) reduces 100 TB of lineitem to a few
# rows per partition before the exchange. No skew risk (bounded keys).
# --------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)           AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)      AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)     AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))
                    * CAST(1 + l_tax AS DECIMAL(12,2))) AS DOUBLE)          AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary over lineitem",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money sums aggregate EXACT integer micros of the 2-dp decimals
    # (products are exact ≤6-dp micros — no fp summation-order drift,
    # no round-tie mismatches vs the oracle), then one decimal→double
    # conversion per output cell. Identical values to the DECIMAL-sum
    # formulation (probed cell-exact at sf0.1 and partition-count
    # invariant), ~2.5x faster: a SUM over DECIMAL(12,2) carries a
    # precision-22 buffer that leaves the compact-long path and
    # serializes a BigDecimal per update (functions/money.py;
    # optimization guide §1.2 per-task work).
    #
    # Two-level aggregation (guide §2.5): the grouping key has only 4
    # values, so a single-level long sum would overflow 2^63 around
    # 8e7 rows/group; level 1 adds spark_partition_id() — the long
    # sums are then bounded by rows-per-scan-partition (~60x margin at
    # 1 GB splits) — and level 2 re-aggregates the tiny 4x|partitions|
    # table in DECIMAL(38,0). The extra exchange carries ≤ 4 rows per
    # upstream partition.
    li = load_table(spark, sf_dir, "lineitem")
    mq = money_micro(F.col("l_quantity"))
    mp = money_micro(F.col("l_extendedprice"))
    mdisc = money_micro(F.lit(1) - F.col("l_discount"))
    mtax = money_micro(F.lit(1) + F.col("l_tax"))
    md = money_micro(F.col("l_discount"))
    lvl1 = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.spark_partition_id().alias("_pid"),
            mq.alias("mq"),
            mp.alias("mp"),
            (mp * mdisc).alias("mpd"),
            (mp * mdisc * mtax).alias("mpdt"),
            md.alias("md"),
        )
        .groupBy("l_returnflag", "l_linestatus", "_pid")
        .agg(
            F.sum("mq").alias("sq"),
            F.sum("mp").alias("sp"),
            F.sum("mpd").alias("spd"),
            F.sum("mpdt").alias("spdt"),
            F.sum("md").alias("sd"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    sum_qty = micro_sum_to_double(F.col("sq"), 100)
    sum_price = micro_sum_to_double(F.col("sp"), 100)
    return lvl1.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        micro_sum_to_double(F.col("spd"), 10_000).alias("sum_disc_price"),
        micro_sum_to_double(F.col("spdt"), 1_000_000).alias("sum_charge"),
        # avgs as exact-sum-double / count: identical doubles on both
        # engines, no round-tie exposure (see registry.py)
        (sum_qty / F.sum("c")).alias("avg_qty"),
        (sum_price / F.sum("c")).alias("avg_price"),
        (micro_sum_to_double(F.col("sd"), 100) / F.sum("c")).alias("avg_disc"),
        F.sum("c").alias("count_order"),
    )


# --------------------------------------------------------------------
# 3-way equi-join + agg + top-k (TPC-H Q3 shape).
# Scale: orders⋈lineitem is the big shuffle join on l_orderkey/
# o_orderkey; customer side is filtered then joined — at 100 TB,
# customer-after-filter is small enough that AQE converts it to a
# broadcast. Filters sit before joins so pushdown reaches the scans.
# --------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shipping priority: customer⋈orders⋈lineitem top-10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # Revenue summed as exact 4-dp integer micros (functions/money.py;
    # value-identical to the decimal formulation, no BigDecimal agg
    # buffer). Single-level is overflow-safe here by structure: the
    # group key is l_orderkey and an order has a bounded lineitem
    # count, so the per-group micro total stays ~1e10 ≪ 2^63 at any
    # corpus size (ANSI throws if that ever breaks).
    mrev = money_micro(F.col("l_extendedprice")) * money_micro(
        F.lit(1) - F.col("l_discount")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(micro_to_double(F.sum(mrev), 10_000).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# --------------------------------------------------------------------
# 6-way star join with explicit broadcast of the dimension chain
# (TPC-H Q5 shape). Scale: region(5)⋈nation(25)⋈supplier(small) are
# broadcast — zero shuffle for the dim side; the only exchanges are
# on the fact keys. This is the canonical "broadcast the small dims"
# pattern from SURVEY.md §4.
# --------------------------------------------------------------------
@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey   = c_custkey
      JOIN lineitem ON l_orderkey  = o_orderkey
      JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 local supplier volume: star join w/ broadcast dims",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        # exact 4-dp micro revenue, two-level (25 nation groups are
        # unbounded per group → level 1 adds spark_partition_id() so
        # the long sums stay partition-bounded; level 2 re-sums the
        # tiny table in DECIMAL(38,0) — functions/money.py, guide §2.5)
        .select(
            "n_name",
            F.spark_partition_id().alias("_pid"),
            (
                money_micro(F.col("l_extendedprice"))
                * money_micro(F.lit(1) - F.col("l_discount"))
            ).alias("mrev"),
        )
        .groupBy("n_name", "_pid")
        .agg(F.sum("mrev").alias("srev"))
        .groupBy("n_name")
        .agg(micro_sum_to_double(F.col("srev"), 10_000).alias("revenue"))
    )


# --------------------------------------------------------------------
# TPC-H Q6: forecast revenue — the simplest pushdown showcase, written
# through the SQL surface (spark.sql over a temp view).
# --------------------------------------------------------------------
@register(
    "sql_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 via the SQL-string surface; every predicate pushed "
    "to the parquet scan",
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_q6")
    # Deliberately KEPT on decimal sums: the
    # long-micro two-level respell (functions/money.py) was tried here
    # and measured SLOWER in the interleaved A/B (1.16-1.29x) — the
    # shipdate+discount+quantity filters are selective enough that the
    # surviving rows' decimal cost is smaller than one extra
    # aggregation stage. Single global group, so single-level longs
    # would overflow near 9e9 rows; decimal is the right buffer here.
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM v_lineitem_q6
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        """
    )


# --------------------------------------------------------------------
# TPC-H Q13 shape: distribution of customers by order count
# (left join + two-level aggregation).
# --------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT order_cnt, COUNT(*) AS n_customers
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    GROUP BY order_cnt
    """,
    doc="TPC-H Q13: customer distribution by order count",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )
    return per_cust.groupBy("order_cnt").agg(F.count(F.lit(1)).alias("n_customers"))


# --------------------------------------------------------------------
# TPC-H Q18 shape: large orders (HAVING over a join, then re-join for
# detail). Scale: the qualifying-key set is tiny → AQE broadcasts it.
# --------------------------------------------------------------------
@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
    )
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price, big.total_qty
    FROM orders JOIN big ON o_orderkey = big.l_orderkey
    """,
    doc="TPC-H Q18: orders whose total quantity exceeds a threshold",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # exact 2-dp micro quantity sum (functions/money.py): per-order
    # totals are structurally bounded (lineitems per order), so a
    # single-level long sum can't overflow; the HAVING threshold
    # compares the same exact value as micros (150 -> 15000).
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money_micro(F.col("l_quantity"))).alias("qty_micro"))
        .where(F.col("qty_micro") > 15_000)
        .select(
            "l_orderkey",
            micro_to_double(F.col("qty_micro"), 100).alias("total_qty"),
        )
    )
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "total_qty",
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs disjunctive predicate across the "
    "join. Catalyst extracts the common p_size>=1 conjunct and the "
    "brand IN-list toward the part scan; part stays broadcast-side. "
    "At 100 TB the lineitem quantity bands still prune via min/max "
    "row-group statistics because each disjunct bounds l_quantity.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    # Deliberately KEPT on decimal sums: the
    # long-micro two-level respell (functions/money.py) was tried here
    # and measured SLOWER in the interleaved A/B (1.18-1.23x) — the
    # disjunctive brand/size/quantity bands are selective enough that
    # the surviving rows' decimal cost is smaller than one extra
    # aggregation stage. Single global group, so single-level longs
    # would overflow near 9e9 rows; decimal is the right buffer here.
    return j.where(band).agg(
        F.sum(
            _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(1 - l_discount AS DECIMAL(12,2))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
    doc="TPC-H Q15: revenue view + scalar-subquery max. The max is an "
    "exact DECIMAL so the equality is engine-portable. Spark computes "
    "the scalar via a broadcast cross-join of a 1-row aggregate — the "
    "same plan Catalyst produces for an uncorrelated scalar subquery; "
    "the revenue view is computed once and reused (no re-scan).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
            ).alias("total_rev")
        )
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    top = revenue.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
    return (
        F.broadcast(supplier)
        .join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q21_sole_return_supplier",
    oracle="""
    SELECT s_suppkey, s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_suppkey, s_name
    """,
    doc="TPC-H Q21 shape: correlated EXISTS + NOT EXISTS on the same "
    "fact table. Spark expresses them as a left-semi and a left-anti "
    "join keyed on l_orderkey — both shuffle on the SAME key as the "
    "orders join, so at 100 TB all three hash-joins reuse one "
    "exchange of lineitem (co-partitioned), and supplier broadcasts.",
)
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")

    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    finished = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = l1.join(finished, l1.l_orderkey == finished.o_orderkey).drop("o_orderkey")

    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    exists_other = l1.join(
        others,
        (l1.l_orderkey == others.o_key) & (l1.l_suppkey != others.o_supp),
        "left_semi",
    )
    other_returns = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_key"), F.col("l_suppkey").alias("r_supp")
    )
    sole = exists_other.join(
        other_returns,
        (exists_other.l_orderkey == F.col("r_key"))
        & (exists_other.l_suppkey != F.col("r_supp")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(supplier), sole.l_suppkey == supplier.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "bloom_pruned_join",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    doc="Selective-probe join: a filtered dimension prunes a large "
    "fact. At test scale the urgent-orders side broadcasts (optimal). "
    "At 100 TB orders exceeds the broadcast threshold and the join "
    "shuffles — there Spark injects a runtime Bloom filter built from "
    "o_orderkey on the creation side and applies might_contain() at "
    "the lineitem scan, cutting shuffle input by the selectivity of "
    "the priority filter. Injection is proven under shuffle-join "
    "conditions in tests/test_plans.py::"
    "test_bloom_runtime_filter_injection.",
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # exact 2-dp micro gross, two-level over spark_partition_id()
    #: the URGENT filter keeps ~1/5 of the fact rows, enough for
    # the DECIMAL(22,2) buffer to show; groups (3 returnflags) are
    # unbounded per group so level 1 long sums stay partition-bounded
    # and level 2 re-sums in DECIMAL(38,0). Interleaved same-session
    # probe at sf0.1: decimal 0.70/0.56/0.41 s vs micro
    # 0.70/0.42/0.42 s per aligned run, rows identical.
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    lvl1 = (
        j.select(
            "l_returnflag",
            F.spark_partition_id().alias("_pid"),
            money_micro(F.col("l_extendedprice")).alias("m"),
        )
        .groupBy("l_returnflag", "_pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("m").alias("sm"))
    )
    return lvl1.groupBy("l_returnflag").agg(
        F.sum("cnt").alias("n_lines"),
        micro_sum_to_double(F.col("sm"), 100).alias("gross"),
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT supp_nation, cust_nation, ship_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS ship_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2)) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
    )
    GROUP BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7: cross-nation shipping volume. The two nation "
    "lookups broadcast; the nation-name disjunction is applied AFTER "
    "both joins but Catalyst infers nationkey IN-lists onto the "
    "supplier/customer scans. lineitem⋈orders is the only shuffle.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    # Micro respell tried and REVERTED (measured): the two-level
    # long-micro pattern (q8's) read 1.3-1.46x SLOWER here across two
    # interleaved cur-vs-ref microbench rounds at sf0.1 (0.86/0.83 s
    # vs 0.65/0.57 s medians) — the nation-pair predicate is selective
    # enough that the surviving rows' decimal cost is below one extra
    # aggregation stage, the same shape that rejected q6/q19.
    # Groups are unbounded per group, so a single-level long sum is
    # not provably overflow-safe and two-level is the only micro
    # option. Decimal kept.
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
            _volume().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT ship_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS ship_year,
             n1.n_name AS supp_nation,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2)) AS volume
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region    ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'AFRICA' AND p_type = 'PROMO'
    )
    GROUP BY ship_year
    """,
    doc="TPC-H Q8: a nation's market share of PROMO volume among "
    "AFRICA customers by order year. Six broadcast dims around one "
    "lineitem⋈orders shuffle; the share is a ratio of two exact "
    "decimal sums divided as doubles (policy: identical dividend and "
    "divisor on both engines, division last).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == region.r_regionkey)
    )
    # exact 4-dp micro volume, two-level over spark_partition_id()
    # (few year groups, unbounded rows → partition-bounded long sums;
    # functions/money.py, guide §2.5). The share divides the SAME
    # exact dividend/divisor doubles as the decimal formulation.
    vol = j.select(
        F.year("o_orderdate").alias("ship_year"),
        "supp_nation",
        F.spark_partition_id().alias("_pid"),
        _mvolume().alias("mvol"),
    )
    lvl1 = vol.groupBy("ship_year", "_pid").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_1", F.col("mvol")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("snat"),
        F.sum("mvol").alias("sall"),
    )
    return lvl1.groupBy("ship_year").agg(
        (
            micro_sum_to_double(F.col("snat"), 10_000)
            / micro_sum_to_double(F.col("sall"), 10_000)
        ).alias("mkt_share")
    )


@register(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(1 - l_discount AS DECIMAL(12,2))) DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10: top-20 customers by returned-item revenue in a "
    "quarter-pair. The ORDER BY ranks on the EXACT decimal sum (not "
    "the double) with a custkey tie-break, so the LIMIT cut is "
    "deterministic and engine-portable. Spark plans the cut as "
    "TakeOrderedAndProject — no global sort of the aggregate.",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    # exact 4-dp micro revenue per customer (functions/money.py):
    # single-level long sum, overflow-safe by structure (a customer's
    # returned lineitems in one quarter-pair; bound ~8.8e9 rows per
    # customer, ANSI throws beyond). The top-20 cut orders by the
    # EXACT micro total — the same order as the exact decimal sum.
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_mvolume()).alias("rev_micro")
    )
    return (
        agg.orderBy(F.desc("rev_micro"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            micro_to_double(F.col("rev_micro"), 10_000).alias("revenue"),
        )
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT CAST(100 AS DOUBLE)
           * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN volume
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS promo_revenue_pct
    FROM (
      SELECT p_type,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2)) AS volume
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-02-01'
    )
    """,
    doc="TPC-H Q14: PROMO revenue share for one month. part "
    "broadcasts; the month filter prunes lineitem row groups at the "
    "scan; ratio-of-exact-decimals divided as doubles (policy).",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    zero = F.lit(0).cast("decimal(12,2)")
    return j.select("p_type", _volume().alias("volume")).agg(
        (
            F.lit(100).cast("double")
            * F.sum(F.when(F.col("p_type") == "PROMO", F.col("volume")).otherwise(zero))
            .cast("double")
            / F.sum("volume").cast("double")
        ).alias("promo_revenue_pct")
    )


@register(
    "q17_small_quantity_loss",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS avg_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0 AS avg_yearly_loss
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN per_part ON avg_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
    doc="TPC-H Q17: revenue loss from below-average-quantity lines. "
    "The correlated AVG subquery becomes a self-aggregate joined back "
    "on partkey — both sides shuffle on l_partkey so the join is "
    "co-partitioned; avg is decimal-sum-double / count (policy) so "
    "the 0.2*avg threshold compares identically in both engines.",
)
def q17_small_quantity_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    # Per-part quantity sums as exact 2-dp micros: the avg
    # subquery scans ALL of lineitem, so its DECIMAL(22,2) buffer was
    # this query's q1-class cost. Single-level long sum, overflow-safe
    # by structure: quantity <= ~1e2 -> micro <= ~1e4, bound ~9e14
    # rows per part (ANSI throws beyond). micro_to_double emits the
    # same exact-sum double the decimal cast did, so the 0.2*avg
    # threshold compares identically. Measured at sf0.1 (two
    # interleaved cur-vs-ref microbench rounds): 0.82/0.81 s ->
    # 0.43/0.42 s medians.
    per_part = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (
            micro_to_double(F.sum(money_micro(F.col("l_quantity"))), 100)
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("avg_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly_loss"
            )
        )
    )


@register(
    "q22_idle_balances",
    oracle="""
    WITH cutoff AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey, cutoff
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
    doc="TPC-H Q22 (phone-prefix predicate replaced by the nation "
    "dim this schema carries; 'no orders' tightened to 'dormant "
    "since 2000' because the synthetic data gives every customer at "
    "least one order): rich customers gone quiet. The global-average "
    "scalar broadcasts; NOT EXISTS is a left-anti join on custkey "
    "against the date-filtered orders; balances sum as exact "
    "decimals.",
)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    cutoff = customer.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich = customer.join(F.broadcast(cutoff)).where(F.col("c_acctbal") > F.col("avg_bal"))
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(recent, rich.c_custkey == F.col("o_custkey"), "left_anti")
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape (shipmode→linestatus, commit/receipt lag → "
    "ship-after-order lag; the synthetic schema carries no "
    "l_shipmode/l_commitdate): late shipments bucketed by order "
    "priority via conditional aggregation. The interval predicate is "
    "a join residual (compares columns of both sides), evaluated "
    "post-join but before the aggregate — one shuffle total.",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------
# Q2 shape: minimum-cost supplier per part (correlated min subquery).
# Offer table = MIN(l_extendedprice) per (part, supplier) — exact 2dp
# decimal, so the min-equality join cannot suffer float divergence.
# --------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost,
             MIN(cost) OVER (PARTITION BY p_partkey) AS min_cost
      FROM offers
      JOIN part     ON p_partkey   = l_partkey
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        AND r_name = 'AFRICA'
    )
    SELECT ROUND(s_acctbal, 2) AS acctbal, s_name, n_name,
           p_partkey, p_name, CAST(cost AS DOUBLE) AS supply_cost
    FROM ranked WHERE cost = min_cost
    ORDER BY acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (partsupp→lineitem bridge): correlated min "
    "per part via window-min over the aggregated offer table; all "
    "four dims broadcast; LIMIT boundary made deterministic by the "
    "full tiebreaker chain.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")

    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec("l_extendedprice")).alias("cost")
    )
    joined = (
        offers.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_cost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------
# Q9 shape: profit by nation × order-year for a product family.
# p_retailprice stands in for ps_supplycost (no partsupp table).
# --------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation, order_year,
           CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name, EXTRACT(year FROM o_orderdate) AS order_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2))
             - CAST(p_retailprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      FROM lineitem
      JOIN part     ON p_partkey   = l_partkey
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN orders   ON o_orderkey  = l_orderkey
      WHERE p_name LIKE '%bolt%'
    )
    GROUP BY nation, order_year
    """,
    doc="TPC-H Q9 shape: 5-way join, part filtered by name LIKE "
    "(broadcast, so the filter prunes lineitem at the join instead "
    "of a partkey IN-list scan), profit in exact decimals. One "
    "lineitem⋈orders shuffle; everything else broadcasts.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    # profit as an exact 4-dp integer micro: (price·(1−disc)) −
    # (retail·qty), both 2dp×2dp products — value-identical to the
    # decimal formulation, no BigDecimal agg buffer
    # (functions/money.py). Two-level over spark_partition_id(): the
    # (nation, year) groups are unbounded per group, so level 1 keeps
    # the long sums partition-bounded and level 2 re-sums the tiny
    # table in DECIMAL(38,0) (guide §2.5).
    amount = money_micro(F.col("l_extendedprice")) * money_micro(
        F.lit(1) - F.col("l_discount")
    ) - money_micro(F.col("p_retailprice")) * money_micro(F.col("l_quantity"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.spark_partition_id().alias("_pid"),
        )
        .agg(F.sum(amount).alias("sprofit"))
        .groupBy("nation", "order_year")
        .agg(micro_sum_to_double(F.col("sprofit"), 10_000).alias("sum_profit"))
    )


# --------------------------------------------------------------------
# Q11 shape: parts whose value exceeds a fraction of the global total
# (scalar subquery over the same aggregate).
# --------------------------------------------------------------------
@register(
    "q11_important_parts",
    oracle="""
    WITH v AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
      FROM lineitem
      JOIN supplier ON s_suppkey   = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE r_name = 'AFRICA'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS part_value
    FROM v
    WHERE CAST(val AS DOUBLE) >
          (SELECT CAST(SUM(val) AS DOUBLE) * 0.0005 FROM v)
    """,
    doc="TPC-H Q11 shape: per-part value vs a scalar-subquery "
    "fraction of the total. The per-part aggregate is computed once "
    "and reused for both sides (self-referencing CTE); Spark side "
    "caches nothing — the total is a 1-row broadcast cross join, so "
    "the big aggregation runs once per branch but AQE reuses the "
    "shuffle output (ReusedExchange) for the second read.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    # Per-part price sums as exact 2-dp micro longs: the
    # per-part aggregate runs over the region-filtered bulk of
    # lineitem, so the DECIMAL(22,2) buffer was the dominant per-row
    # cost. Single-level is overflow-safe by structure: price micro
    # <= ~1e7, bound ~9e11 rows per part (ANSI throws beyond). The
    # threshold re-sums the per-part micro subtotals in DECIMAL(38,0)
    # (vocab-bounded rows), and both sides of the comparison convert
    # through the SAME exact-rational-to-double rounding the decimal
    # formulation used. Measured at sf0.1 (two interleaved cur-vs-ref
    # microbench rounds): 0.80/0.59 s -> 0.57/0.53 s medians.
    v = (
        li.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("l_partkey")
        .agg(F.sum(money_micro(F.col("l_extendedprice"))).alias("vmicro"))
    )
    total = v.agg(
        (micro_sum_to_double(F.col("vmicro"), 100) * F.lit(0.0005)).alias(
            "threshold"
        )
    )
    return (
        v.join(F.broadcast(total))
        .where(micro_to_double(F.col("vmicro"), 100) > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"),
            micro_to_double(F.col("vmicro"), 100).alias("part_value"),
        )
    )


# --------------------------------------------------------------------
# Q16 shape: distinct supplier counts per part-attribute triple with a
# NOT IN anti-subquery excluding "complaint" suppliers.
# --------------------------------------------------------------------
@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: NOT IN over a non-null key → planned as a "
    "broadcast left-anti join (100-row dim); part filter broadcast; "
    "COUNT(DISTINCT) is a two-phase partial-distinct aggregate, one "
    "shuffle on the group keys.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    complainers = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    return (
        li.join(
            F.broadcast(complainers),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------
# Q20 shape: suppliers holding an excess share of some part's shipped
# volume (nested aggregate threshold + semi chain + DISTINCT).
# --------------------------------------------------------------------
@register(
    "q20_excess_share_suppliers",
    oracle="""
    WITH pq AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1996-01-01'
      GROUP BY l_partkey, l_suppkey
    ), pt AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM pq GROUP BY l_partkey
    )
    SELECT DISTINCT s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM pq
    JOIN pt USING (l_partkey)
    JOIN supplier ON s_suppkey   = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = 'AFRICA'
      AND CAST(qty AS DOUBLE) > 0.5 * CAST(total_qty AS DOUBLE)
    """,
    doc="TPC-H Q20 shape: per-(part,supplier) 1995 shipped quantity "
    "vs half the per-part total. The total is a window-sum over the "
    "already-reduced offer table (|parts|×|suppliers| rows) instead "
    "of a second aggregate joined back — one repartition on partkey "
    "replaces the agg+join's two exchanges plus re-sorts (plan "
    "evidence: 5 data shuffles → 3, PLANS.md); region-filtered "
    "supplier dim broadcast; final DISTINCT dedups multi-part "
    "winners. Oracle keeps the self-join CTE spelling — identical "
    "results, independently derived.",
)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")

    pq = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
    )
    per_part = Window.partitionBy("l_partkey")
    return (
        pq.withColumn("total_qty", F.sum("qty").over(per_part))
        .where(
            F.col("qty").cast("double")
            > F.lit(0.5) * F.col("total_qty").cast("double")
        )
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .distinct()
    )
