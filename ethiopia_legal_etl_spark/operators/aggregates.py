"""Aggregates and statistics: distinct/approximate counts, HAVING,
argmax-per-group, GROUPING SETS / ROLLUP / CUBE (SQL and DataFrame
API), GROUP BY ALL, pivot/unpivot, collation-aware grouping, exact and
approximate percentiles, mode/any_value, LISTAGG, bitwise and bitmap
aggregates, moments (skewness/kurtosis, correlation, regression),
crosstab, sampling, mergeable sketches (HLL, count-min, Misra-Gries),
incremental aggregate merges and A/B-experiment statistics (CUPED,
two-proportion z-test, Welch).

Float policy per the registry docstring: exact decimal sums cast to
double; averages are decimal-sum-double / count; irrational outputs
(regression slope/intercept, moments, test statistics) are rounded at
4-6dp with ``+ 0`` canonicalizing IEEE -0.0. Where a dialect lacks a
function (width_bucket, Spark's population-moment skewness/kurtosis,
DuckDB's GROUPING_ID) the oracle spells the exact formula rather than
weakening the check. Sketch and sampling entries are rows-only: their
binary images and RNG streams are engine-specific, so tests bound them
against exact answers instead.

Reference anchor: the group-aggregates generalize the link count
(scrape_pdf_links.py:20, SURVEY.md A-5).
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.measures import (
    EVENTS_FINITE_SQL,
    clean_measures,
)
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------
# Distinct aggregates. approx_count_distinct is registered rows-only
# (HLL estimates differ between engines by design) with the exact
# count as its oracle-checked twin.
# --------------------------------------------------------------------
@register(
    "agg_distinct_customers",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS uniq_customers,
           COUNT(*)                  AS orders_cnt
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="COUNT(DISTINCT) per group",
)
def agg_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_customers"),
            F.count(F.lit(1)).alias("orders_cnt"),
        )
    )


@register(
    "agg_approx_distinct_customers",
    oracle=None,  # HLL sketch: estimate is engine-specific -> rows-only
    doc="approx_count_distinct (HyperLogLog) per group — the 100 TB path "
    "where exact distinct would shuffle every key. "
    "Rows-only verdict (r12): NOT convertible — Spark's HLL++ "
    "register layout and bias correction are implementation-specific; "
    "DuckDB's approx_count_distinct is a different HLL, so estimates "
    "differ legitimately. Ground truth: relative-error envelope vs "
    "exact distinct (property test).",
)
def agg_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_uniq_customers"))
    )


@register(
    "agg_collect_concat",
    oracle="""
    SELECT o_custkey,
           ARRAY_TO_STRING(LIST(DISTINCT o_orderstatus ORDER BY o_orderstatus), ',') AS statuses,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    doc="collect_set + concat_ws (A-11 page-concat generalized)",
)
def agg_collect_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------
# Grouping sets / rollup / cube.
# --------------------------------------------------------------------
@register(
    "rollup_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*)                  AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP over (returnflag, linestatus)",
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "cube_orders_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           COUNT(*)                    AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority)",
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


# --------------------------------------------------------------------
# HAVING + aggregate filter
# --------------------------------------------------------------------
@register(
    "having_active_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
    doc="HAVING: customers with >= 12 orders",
)
def having_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("spend"),
        )
        .where(F.col("n_orders") >= 12)
    )


# --------------------------------------------------------------------
# Argmax per group without a window: join back on the per-group max.
# Ties keep ALL argmax rows (deterministic on both engines, unlike
# max_by/arg_max which break ties arbitrarily).
# --------------------------------------------------------------------
@register(
    "argmax_customer_per_nation",
    oracle="""
    SELECT c.c_nationkey AS nationkey, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN (SELECT c_nationkey, MAX(c_acctbal) AS mx
          FROM customer GROUP BY c_nationkey) m
      ON c.c_nationkey = m.c_nationkey AND c.c_acctbal = m.mx
    """,
    doc="argmax per group via agg + re-join (tie-preserving)",
)
def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    mx = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.max("c_acctbal").alias("mx")
    )
    return cust.join(
        F.broadcast(mx),
        (cust.c_nationkey == mx.nk) & (cust.c_acctbal == mx.mx),
    ).select(
        F.col("c_nationkey").alias("nationkey"),
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
    )


# --------------------------------------------------------------------
# Pivot: order counts status × priority. Oracle = CASE aggregation
# (engine-portable formulation of PIVOT).
# --------------------------------------------------------------------
@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW')    AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="pivot (groupBy().pivot()) to fixed priority columns",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "3-MEDIUM", "5-LOW"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderstatus",
        F.coalesce(F.col("1-URGENT"), F.lit(0)).alias("urgent"),
        F.coalesce(F.col("3-MEDIUM"), F.lit(0)).alias("medium"),
        F.coalesce(F.col("5-LOW"), F.lit(0)).alias("low"),
    )


# --------------------------------------------------------------------
# Exact percentiles (sort-based; both engines interpolate identically
# on identical doubles). approx_percentile stays rows-only by design.
# --------------------------------------------------------------------
@register(
    "percentile_order_price",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5)  AS p50,
           quantile_cont(o_totalprice, 0.9)  AS p90,
           MIN(o_totalprice)                 AS min_price,
           MAX(o_totalprice)                 AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="exact interpolated percentiles per group",
)
def percentile_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("p50"),
            F.percentile("o_totalprice", 0.9).alias("p90"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "approx_percentile_price",
    # ORACLE-CHECKED: the GK sketch
    # (Greenwald-Khanna, SIGMOD 2001) retains EVERY sample while
    # n_group <= ~accuracy/2, so at accuracy=1e6 the estimate IS the
    # exact rank-ceil(p*n) element at all test scales (verified
    # empirically vs DuckDB percentile_disc at sf0.001/0.01/0.1 —
    # identical in every group) and the oracle checks the end-to-end
    # value. At 100 TB n_group >> accuracy and the SAME code path
    # degrades gracefully to a bounded-memory (O(accuracy) retained
    # samples; ~tens of MB/group at 1e6 counting per-sample g/Δ
    # stats — set accuracy back down for many-group aggregations)
    # approximate answer — the sketch story is the accuracy knob,
    # not a different operator.
    oracle="""
    SELECT o_orderstatus,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
             AS approx_p50
    FROM orders GROUP BY o_orderstatus
    """,
    doc="approx_percentile — the 100 TB path (bounded-memory sketch "
    "instead of a full sort). Oracle-checked since r12: exact at "
    "n_group <= ~accuracy/2 (all test SFs), approximate beyond — see "
    "the register() comment for the convertibility argument. Margin "
    ": max per-group count at sf0.1 is 50,189 orders "
    "('P'), ~10x under the accuracy/2 = 500,000 exactness bound; the "
    "bound is crossed near sf~0.7 (orders/3 groups), so an SF bump "
    "past that would hash-mismatch — "
    "tests/test_percentile_margin.py fails loudly with the reason "
    "before the driver ever sees an opaque mismatch",
)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.approx_percentile("o_totalprice", 0.5, 1000000).alias(
                "approx_p50"
            ),
        )
    )


# --------------------------------------------------------------------
# SQL surface: GROUPING SETS + GROUPING() marker.
# --------------------------------------------------------------------
@register(
    "sql_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           GROUPING(l_returnflag)  AS g_flag,
           GROUPING(l_linestatus)  AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="SQL GROUPING SETS with GROUPING() markers via spark.sql",
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt,
               CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT)  AS g_status
        FROM v_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# --------------------------------------------------------------------
# Deterministic-seed sampling — engine-specific row pick -> rows-only;
# property: sample size within binomial bounds (asserted in tests).
# --------------------------------------------------------------------
@register(
    "sample_lineitem_fraction",
    oracle=None,
    doc="seeded Bernoulli sample (TABLESAMPLE analog); row membership "
    "is engine-specific, size/bounds property-tested. "
    "Rows-only verdict (r12): NOT convertible — membership comes from "
    "Spark's per-partition XORShiftRandom stream, not a re-derivable "
    "hash; deterministic-hash sampling IS oracle-checked via "
    "corpus_stratified_sample. Ground truth: binomial size bounds + "
    "determinism-for-fixed-layout properties.",
)
def sample_lineitem_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .sample(fraction=0.1, seed=42)
        .select("l_orderkey", "l_linenumber")
    )


@register(
    "unpivot_stack_metrics",
    oracle="""
    SELECT c_custkey, metric, ROUND(value, 2) AS value
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    WHERE value IS NOT NULL
    """,
    doc="unpivot via stack(): wide columns → (metric, value) long form",
)
def unpivot_stack_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) "
        "AS (metric, value)",
    ).where(F.col("value").isNotNull()).select(
        "c_custkey", "metric", F.round("value", 2).alias("value")
    )


@register(
    "stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) + 0              AS qty_stddev,
           ROUND(VAR_SAMP(l_discount), 6) + 0                 AS disc_var,
           ROUND(CORR(l_quantity, l_extendedprice), 6) + 0    AS qty_price_corr,
           ROUND(COVAR_SAMP(l_discount, l_tax), 6) + 0        AS disc_tax_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="statistical aggregates: stddev/variance/correlation/covariance",
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # `+ 0` canonicalizes IEEE negative zero (-0.0 + 0.0 == +0.0):
    # a rounded covariance of -0.0 must hash identically to 0.0.
    # corr() zero-variance guard (r13 constant-corpus sweep): Spark's
    # Corr final expression is ck/sqrt(xMk*yMk) with NO zero guard, so
    # a constant column makes the built-in THROW under ANSI while
    # DuckDB CORR returns NULL. A CaseWhen over the aggregate does NOT
    # protect it (codegen subexpression elimination evaluates the
    # branch eagerly — verified), so corr is spelled as try_divide
    # over its exact co-moment relatives: covar_pop/(sx_pop*sy_pop) ==
    # ck/sqrt(xMk*yMk) mathematically, NULL on a zero divisor, and
    # round(6) absorbs the last-bit path difference exactly as it
    # already did between the two engines' corr accumulations.
    # stddev/var/covar need no guard: their n==1/n==0 paths return
    # NaN/NULL without dividing.
    #
    # PAIRWISE-complete stddev factors (the nulls mirror checks
    # this): corr
    # is defined over rows where BOTH columns are non-null, and
    # covar_pop already aggregates exactly those rows — but a bare
    # stddev_pop(x) also counts rows where the OTHER column is NULL,
    # so under the 10%-nulls mirror the respelled ratio drifted ~7e-5
    # from both engines' true corr (clean data can't see it: the
    # builds' sweeps all passed, the interrupted r14 build never
    # re-ran the nulls gate). when(other IS NOT NULL, x) restricts
    # each stddev to the pairwise-complete set; on null-free data the
    # expression is bit-identical to the r13 form. Regression test:
    # tests/test_degenerate_stats.py::test_corr_pairwise_complete_under_nulls.
    q_pair = F.when(F.col("l_extendedprice").isNotNull(), F.col("l_quantity"))
    p_pair = F.when(F.col("l_quantity").isNotNull(), F.col("l_extendedprice"))
    return li.groupBy("l_returnflag").agg(
        (F.round(F.stddev_samp("l_quantity"), 4) + F.lit(0.0)).alias("qty_stddev"),
        (F.round(F.var_samp("l_discount"), 6) + F.lit(0.0)).alias("disc_var"),
        (
            F.round(
                F.try_divide(
                    F.covar_pop("l_quantity", "l_extendedprice"),
                    F.stddev_pop(q_pair) * F.stddev_pop(p_pair),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("qty_price_corr"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
            "disc_tax_covar"
        ),
    )


@register(
    "skew_salted_aggregate",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="two-phase salted aggregation: groupBy (key, salt) partial agg "
    "→ re-agg by key. The explicit skew-mitigation pattern for hot "
    "keys at 100 TB (here l_returnflag has 3 values → every row is a "
    "hot key); result provably identical to the direct groupBy via "
    "the oracle. AQE skew handling covers joins; salting covers aggs "
    "whose key cardinality is below the cluster's parallelism.",
)
def skew_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", (F.crc32(F.col("l_orderkey").cast("string")) % 16))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_part"),
        F.count(F.lit(1)).alias("cnt_part"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("qty_part").cast("double").alias("sum_qty"),
        F.sum("cnt_part").alias("cnt"),
    )


@register(
    "groupbyall_status_yearly",
    oracle="""
    SELECT o_orderstatus, EXTRACT(year FROM o_orderdate) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ALL
    """,
    doc="GROUP BY ALL sugar (every non-aggregate select item becomes "
    "a key) — identical plan to the explicit GROUP BY; both engines "
    "support the same spelling.",
)
def groupbyall_status_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, EXTRACT(year FROM o_orderdate) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM v_gba_orders
        GROUP BY ALL
        """
    )


@register(
    "listagg_nation_suppliers",
    oracle="""
    SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           COUNT(*) AS n_suppliers
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
    doc="ordered string aggregation: Spark 4 LISTAGG ... WITHIN GROUP "
    "(ORDER BY) == DuckDB string_agg ORDER BY. The ORDER BY inside "
    "the aggregate makes the result deterministic under shuffle "
    "reordering — the only safe way to emit concatenated strings "
    "from a distributed engine.",
)
def listagg_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_la_supplier")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_la_nation")
    return spark.sql(
        """
        SELECT n_name,
               listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS suppliers,
               COUNT(*) AS n_suppliers
        FROM v_la_supplier JOIN v_la_nation ON n_nationkey = s_nationkey
        GROUP BY n_name
        """
    )


@register(
    "sketch_hll_daily_users",
    oracle=None,  # sketch binary format is engine-specific -> rows-only
    doc="mergeable-sketch pattern: per-day HLL sketches of user_id "
    "(DataSketches, hll_sketch_agg), then hll_union_agg across days "
    "and a final estimate. THE incremental-analytics shape at 100 TB: "
    "daily partitions aggregate once into kilobyte sketches; any "
    "date-range distinct-count is a sketch merge, never a re-scan of "
    "raw events. Property-tested against the exact distinct count "
    "(tests/test_relational2.py shape: bounded relative error)."
    " Rows-only verdict (r12): NOT convertible — DataSketches HLL "
    "binary images and union are engine-specific. Ground truth: "
    "bounded relative error vs exact distinct counts (property test).",
)
def sketch_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_users"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("n_events"),
    )


@register(
    "regr_quantity_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) + 0 AS price_qty_slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) + 0
             AS price_qty_intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) + 0 AS price_qty_r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="linear-regression aggregates (OLS slope/intercept/R² of "
    "extendedprice on quantity per return flag) — single-pass "
    "distributed moments, no ML library. Map-side partial aggregation "
    "applies as with any declarative agg; one shuffle on the group key.",
)
def regr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        (F.round(F.regr_slope(y, x), 4) + F.lit(0.0)).alias("price_qty_slope"),
        (F.round(F.regr_intercept(y, x), 4) + F.lit(0.0)).alias(
            "price_qty_intercept"
        ),
        (F.round(F.regr_r2(y, x), 6) + F.lit(0.0)).alias("price_qty_r2"),
        F.regr_count(y, x).alias("n_pairs"),
    )


@register(
    "median_bool_flags",
    oracle="""
    SELECT l_linestatus,
           median(l_quantity) AS median_qty,
           bool_and(l_discount <= 0.1) AS all_low_discount,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(count_if(l_returnflag = 'R') AS BIGINT) AS n_returned
    FROM lineitem
    GROUP BY l_linestatus
    """,
    doc="exact median + boolean/conditional aggregates. median on a "
    "DOUBLE column interpolates the middle pair in BOTH engines (DuckDB "
    "median = quantile_cont(0.5) on floats; discrete on DECIMAL — the "
    "column being double is load-bearing for parity).",
)
def median_bool_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.median("l_quantity").alias("median_qty"),
        F.bool_and(F.col("l_discount") <= 0.1).alias("all_low_discount"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
    )


@register(
    "stratified_sample_orders",
    oracle=None,  # seeded Bernoulli draws are engine-specific -> rows-only
    doc="stratified sampling: df.sampleBy draws a different Bernoulli "
    "fraction per o_orderstatus stratum (seeded, deterministic for a "
    "fixed input layout), then counts per stratum. The train/eval-split "
    "and class-rebalancing primitive; property test bounds each "
    "stratum's count by binomial tails (tests/test_relational7.py)."
    " Rows-only verdict (r12): NOT convertible — sampleBy membership "
    "rides the same engine RNG stream as sample_lineitem_fraction. "
    "Ground truth: per-stratum binomial-tail bounds "
    "(tests/test_relational7.py).",
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sampled = orders.sampleBy(
        "o_orderstatus", fractions={"O": 0.1, "F": 0.2, "P": 0.5}, seed=7
    )
    return sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "heavy_hitters_cms",
    oracle=None,  # sketch estimates are engine-specific -> rows-only
    doc="count-min-sketch heavy hitters: a single distributed "
    "count_min_sketch aggregate (eps=1e-3, conf=0.99 -> w=2719, d=5, "
    "~53 KB regardless of input size) builds a mergeable frequency "
    "sketch of event_type; the driver deserializes the sketch "
    "(org.apache.spark.util.sketch.CountMinSketch) and reports the "
    "estimate for each distinct type. Same incremental-analytics story "
    "as sketch_hll_daily_users: per-partition sketches merge "
    "associatively, so 100 TB of events reduces to kilobytes before "
    "any frequency question is asked. CMS guarantees est >= true and "
    "est <= true + eps*N w.p. conf (property-tested)."
    " Rows-only verdict (r12): NOT convertible — "
    "org.apache.spark.util.sketch.CountMinSketch's hash family is "
    "JVM-internal, so collision noise is engine-specific; the Misra- "
    "Gries twin heavy_hitters_mg IS oracle-checked. Ground truth: CMS "
    "overestimate-only + eps*N error envelope properties.",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _heavy_hitters_cms(spark, ev, "event_type")


def _heavy_hitters_cms(
    spark: SparkSession, ev: DataFrame, key: str, max_ndv: int = 10_000
) -> DataFrame:
    # CMS probing is inherently driver-side (the sketch answers point
    # queries); bound the distinct-key collect so a high-NDV column
    # fails fast instead of OOMing the driver. approx_count_distinct
    # is one pass, no shuffle of raw keys.
    ndv = ev.agg(F.approx_count_distinct(key).alias("ndv")).head()["ndv"]
    if ndv > max_ndv:
        raise ValueError(
            f"heavy_hitters_cms: ~{ndv} distinct values of {key!r} exceeds "
            f"the driver-probe bound ({max_ndv}); probe an explicit "
            "candidate list (e.g. a frequent-items pre-pass) instead of "
            "collecting all distinct keys"
        )
    raw = bytes(
        ev.agg(
            F.count_min_sketch(
                key, F.lit(0.001), F.lit(0.99), F.lit(42)
            ).alias("sk")
        ).head()["sk"]
    )
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    # the aggregate hashes the UTF8String payload, i.e. the raw UTF-8
    # bytes -> query with byte[] (estimateCount(String) hashes the same
    # bytes; both spellings verified equal in tests)
    # the aggregate skips nulls; a null key cannot be queried either
    collected = (
        ev.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .limit(max_ndv + 1)
        .collect()
    )
    if len(collected) > max_ndv:
        # the approx guard (default ~5% rsd) underestimated; never
        # probe a silently truncated, nondeterministic key subset
        raise ValueError(
            f"heavy_hitters_cms: >{max_ndv} distinct values of {key!r} "
            "(approx guard underestimated); probe an explicit candidate "
            "list instead"
        )
    types = sorted(r[0] for r in collected)
    rows = [(t, int(cms.estimateCount(bytearray(t.encode())))) for t in types]
    return spark.createDataFrame(rows, "event_type string, est_count long")


def mg_summary_stream(values, k: int) -> dict:
    """Misra-Gries k-1-counter summary of one value stream (Misra &
    Gries 1982): increment a tracked item, open a counter if fewer
    than k-1 are live, else decrement ALL live counters (dropping
    zeros). Invariant: any item with true frequency > n/k is ALWAYS
    live at the end — deterministic, no hash, no probability."""
    counters: dict = {}
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < k - 1:
            counters[v] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def mg_merge(partials: list[dict], k: int) -> dict:
    """Associative merge (Agarwal et al., PODS 2012): sum counters,
    then subtract the k-th largest count so at most k-1 survive —
    preserves the superset guarantee across partitions."""
    merged: dict = {}
    for p in partials:
        for item, c in p.items():
            merged[item] = merged.get(item, 0) + int(c)
    if len(merged) >= k:
        kth = sorted(merged.values(), reverse=True)[k - 1]
        merged = {i: c - kth for i, c in merged.items() if c - kth > 0}
    return merged


@register(
    "heavy_hitters_mg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    HAVING COUNT(*) * 8 > (SELECT COUNT(*) FROM events)
    """,
    doc="Misra-Gries heavy hitters with an exact verification pass — "
    "the DETERMINISTIC counterpart of heavy_hitters_cms (CMS bounds "
    "hold with probability; the MG summary provably contains EVERY "
    "item with frequency > n/k, no coin flips). Distributed shape: "
    "one mapInPandas pass builds a <= k-1-counter summary per "
    "partition (bounded rows, never data), the driver merges "
    "associatively (sum, then subtract the k-th largest — the "
    "mergeable-summaries construction), and a second pass counts the "
    "<= k-1 candidates EXACTLY with a pushed isin filter. Because "
    "candidates form a guaranteed superset of the true heavy "
    "hitters, filtering the exact counts by count*k > n yields "
    "precisely the true heavy-hitter set — which is why this sketch "
    "entry is DuckDB-oracle-checkable while CMS is rows-only. At "
    "100 TB the full groupBy this replaces would shuffle every "
    "distinct key; this shuffles only the candidate-filtered rows.",
)
def heavy_hitters_mg(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("event_type")

    def part(batches):
        counters: dict = {}
        for pdf in batches:
            for v in pdf["event_type"]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k - 1:
                    counters[v] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "cnt": list(counters.values())}
            )

    partials = ev.mapInPandas(part, "item string, cnt long").collect()
    by_part: dict = {}
    for r in partials:
        by_part[r["item"]] = by_part.get(r["item"], 0) + int(r["cnt"])
    merged = mg_merge([by_part], k)
    candidates = sorted(merged)  # <= k-1 items, deterministic order
    n_total = ev.count()
    return (
        ev.where(F.col("event_type").isin(candidates))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") * k > F.lit(n_total))
    )


@register(
    "crosstab_returnflag_linestatus",
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_F,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_O
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
    GROUP BY 1
    """,
    doc="df.stat.crosstab contingency table: returnflag x linestatus "
    "counts, linestatus values pivoted into columns. NULLs excluded on "
    "both sides up front — crosstab would stringify them into a "
    "literal 'null' bucket, which is a display artifact, not a key. "
    "Scale: one partial-aggregated shuffle on the pair (same plan "
    "family as pivot_status_by_priority); the column set is the col2 "
    "domain, so crosstab is only for low-cardinality pairs — "
    "high-cardinality contingency stays in groupBy form.",
)
def crosstab_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isNotNull() & F.col("l_linestatus").isNotNull()
    )
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    cols = set(ct.columns)
    out = ct.select(
        F.col("l_returnflag_l_linestatus").alias("flag"),
        *[
            (F.col(status) if status in cols else F.lit(0).cast("long")).alias(
                f"cnt_{status}"
            )
            for status in ("F", "O")
        ],
    )
    return out


# --------------------------------------------------------------------
# Spark 4 collation: case-insensitive grouping without lower() rewrite.
# --------------------------------------------------------------------
@register(
    "collation_ci_priority_counts",
    oracle="""
    SELECT lower(CASE WHEN o_orderkey % 2 = 0 THEN lower(o_orderpriority)
                      ELSE o_orderpriority END) AS priority_ci,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY 1
    """,
    doc="Spark 4 collation surface: half the keys are lower-cased, then "
    "grouped under COLLATE UTF8_LCASE so differently-cased spellings "
    "land in ONE group; the output canonicalizes with lower() because "
    "the group representative is whichever casing a partition saw "
    "first. DuckDB oracle groups by lower() directly. Scale: collation "
    "pushes case-insensitivity into the hash of the exchange itself — "
    "one shuffle, no double-aggregation, and (unlike lower() rewrites) "
    "it survives into joins/sorts as a column property.",
)
def collation_ci_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    mixed = F.when(
        F.col("o_orderkey") % 2 == 0, F.lower("o_orderpriority")
    ).otherwise(F.col("o_orderpriority"))
    return (
        orders.groupBy(F.collate(mixed, "UTF8_LCASE").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lower("k").alias("priority_ci"), "cnt")
    )


# --------------------------------------------------------------------
# mode() / any_value(): most-frequent-value and arbitrary-pick aggs.
# --------------------------------------------------------------------
@register(
    "mode_any_value_linestatus",
    oracle="""
    SELECT l_returnflag AS flag,
           mode(l_linestatus) AS mode_status,
           upper(l_returnflag) AS flag_upper,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="mode() most-frequent aggregate + any_value() arbitrary pick "
    "(deterministic here because the picked expression is constant per "
    "group; mode is tie-free on this data at every SF — verified "
    "0.001/0.01/0.1). any_value is the cheap escape hatch for "
    "functionally-dependent columns that would otherwise force a "
    "redundant GROUP BY key. Scale: both are single-pass hash "
    "aggregates with map-side partials; mode keeps a per-key frequency "
    "map, so high-cardinality value domains belong in groupBy form.",
)
def mode_any_value_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.mode("l_linestatus").alias("mode_status"),
        F.any_value(F.upper("l_returnflag")).alias("flag_upper"),
        F.count(F.lit(1)).alias("cnt"),
    )


# --------------------------------------------------------------------
# Higher central moments: skewness / kurtosis.
# --------------------------------------------------------------------
@register(
    "stats_skew_kurtosis",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag, AVG(CAST(l_quantity AS DOUBLE)) AS mu
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT l.l_returnflag AS flag,
             AVG(POW(CAST(l.l_quantity AS DOUBLE) - m.mu, 2)) AS m2,
             AVG(POW(CAST(l.l_quantity AS DOUBLE) - m.mu, 3)) AS m3,
             AVG(POW(CAST(l.l_quantity AS DOUBLE) - m.mu, 4)) AS m4
      -- null-SAFE join: a NULL returnflag is a GROUP (Spark's groupBy
      -- keeps it); an equi-join here would silently drop it (caught
      -- by the r9 full null-mirror sweep)
      FROM lineitem l JOIN m ON l.l_returnflag IS NOT DISTINCT FROM m.flag
      GROUP BY 1
    )
    SELECT flag,
           ROUND(m3 / POW(m2, 1.5), 4) + 0 AS skew_qty,
           ROUND(m4 / (m2 * m2) - 3, 4) + 0 AS kurt_qty
    FROM c
    """,
    doc="skewness/kurtosis aggregates (population central-moment form: "
    "g1 = m3/m2^1.5, excess g2 = m4/m2^2 - 3). DuckDB's builtins use "
    "the SAMPLE-corrected estimators, so the oracle spells Spark's "
    "definition via explicit moments instead — two-pass AVG(POW(x-mu)) "
    "vs Spark's single-pass streaming moments agree to ~1e-12, "
    "absorbed by ROUND(4); `+ 0` canonicalizes IEEE -0.0. Scale: "
    "Spark's implementation is one partial-aggregable pass (merged "
    "moment sketches per partition) — strictly better than the "
    "oracle's two-scan join, which is why the engine side is the "
    "builtin, not the formula.",
)
def stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        (F.round(F.skewness(F.col("l_quantity").cast("double")), 4) + F.lit(0)).alias(
            "skew_qty"
        ),
        (F.round(F.kurtosis(F.col("l_quantity").cast("double")), 4) + F.lit(0)).alias(
            "kurt_qty"
        ),
    )


# --------------------------------------------------------------------
# width_bucket histogram binning.
# --------------------------------------------------------------------
@register(
    "width_bucket_price_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 8
                ELSE CAST(FLOOR((o_totalprice - 0.0) / ((600000.0 - 0.0) / 7))
                          AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS cnt,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi_price
    FROM orders
    GROUP BY 1
    """,
    doc="width_bucket equi-width histogram: order prices into 7 "
    "buckets over [0, 600000) with under/overflow buckets 0 and 8. "
    "DuckDB has no width_bucket, so the oracle spells Spark's exact "
    "formula (floor((v-lo)/((hi-lo)/n))+1 — verified 0 mismatches "
    "against the builtin on real data; n=7 keeps bucket edges "
    "non-terminating so no 2-decimal price can sit on a boundary). "
    "Scale: a histogram is the projection every profiler/optimizer "
    "wants — single map-side-combined shuffle of ≤n+2 groups, and the "
    "bucket expression vectorizes in whole-stage codegen.",
)
def width_bucket_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.width_bucket(
                "o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(7)
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").cast("double").alias("lo_price"),
            F.max("o_totalprice").cast("double").alias("hi_price"),
        )
    )


# --------------------------------------------------------------------
# Exact distinct counting via bitmap aggregates (mergeable).
# --------------------------------------------------------------------
@register(
    "bitmap_distinct_users_daily",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(DISTINCT user_id) AS distinct_users
    FROM events
    GROUP BY 1
    """,
    doc="EXACT distinct counting with bitmap aggregates: user ids are "
    "bucketed (bitmap_bucket_number), each (day, bucket) builds a "
    "fixed-width bitmap (bitmap_construct_agg of bit positions), and "
    "per-day distinct = SUM of per-bucket bitmap_count. The exact "
    "complement to the HLL sketch rollup (sketch_hll_daily_users): "
    "same mergeable-partial shape — bitmaps OR-combine map-side, so "
    "the shuffle carries one ≤4KB bitmap per (day,bucket), not one "
    "row per user — but with zero error. At 100 TB this is the "
    "pattern for exact COUNT(DISTINCT) over billions of int keys "
    "without expand-based multi-phase distinct aggregation.",
)
def bitmap_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    ).groupBy("day", "bucket").agg(
        F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("bucket_cnt")
    )
    return per_bucket.groupBy("day").agg(
        F.sum("bucket_cnt").alias("distinct_users")
    )


# --------------------------------------------------------------------
# percentile_cont / percentile_disc WITHIN GROUP.
# --------------------------------------------------------------------
@register(
    "percentile_within_group_prices",
    oracle="""
    SELECT o_orderpriority AS priority,
           ROUND(percentile_cont(0.25) WITHIN GROUP
                 (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p25,
           ROUND(percentile_cont(0.50) WITHIN GROUP
                 (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p50,
           ROUND(percentile_cont(0.75) WITHIN GROUP
                 (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p75,
           CAST(percentile_disc(0.50) WITHIN GROUP
                (ORDER BY CAST(o_totalprice AS DOUBLE)) AS DOUBLE) AS p50_disc
    FROM orders
    GROUP BY 1
    """,
    doc="ANSI ordered-set aggregates: interpolated quartiles "
    "(percentile_cont) and the actual-row median (percentile_disc) "
    "per priority — identical WITHIN GROUP syntax on both engines. "
    "Interpolation of 2-decimal prices at quartile fractions has ≤4 "
    "exact decimals, so ROUND(4) is tie-free (float policy). Exact "
    "percentiles need the group's values together — one shuffle, "
    "per-group sort; at scale prefer approx_percentile (see "
    "approx_percentile_price) unless exactness is contractual.",
)
def percentile_within_group_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("v_orders_pct")
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               ROUND(percentile_cont(0.25) WITHIN GROUP
                     (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p25,
               ROUND(percentile_cont(0.50) WITHIN GROUP
                     (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p50,
               ROUND(percentile_cont(0.75) WITHIN GROUP
                     (ORDER BY CAST(o_totalprice AS DOUBLE)), 4) AS p75,
               CAST(percentile_disc(0.50) WITHIN GROUP
                    (ORDER BY CAST(o_totalprice AS DOUBLE)) AS DOUBLE)
                 AS p50_disc
        FROM v_orders_pct
        GROUP BY o_orderpriority
        """
    )


# --------------------------------------------------------------------
# DataFrame.groupingSets API (Spark 4) — the typed twin of the SQL form.
# --------------------------------------------------------------------
@register(
    "df_groupingsets_region_nation",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acctbal,
           GROUPING(r_name) AS g_region,
           GROUPING(n_name) AS g_nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
    doc="DataFrame.groupingSets (Spark 4): region+nation detail, "
    "region subtotal, and grand total in ONE aggregation pass over "
    "the broadcast-enriched supplier table — the typed-API twin of "
    "sql_grouping_sets, with grouping() markers disambiguating real "
    "NULL keys from subtotal rows. Scale: grouping sets expand rows "
    "by |sets| BEFORE the exchange but partials still combine "
    "map-side; for high-cardinality set lists prefer unioned "
    "aggregations over one mega-expand.",
)
def df_groupingsets_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    enriched = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return enriched.groupingSets(
        [["r_name", "n_name"], ["r_name"], []], "r_name", "n_name"
    ).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(12,2)"))
        .cast("double")
        .alias("acctbal"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
    )


@register(
    "median_ci_order_stats",
    oracle=f"""
    WITH v AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
    ),
    ranks AS (
      SELECT event_type, value, rk, n,
             CAST(FLOOR((n - 1.959964 * SQRT(CAST(n AS DOUBLE))) / 2)
               AS BIGINT) AS k_lo
      FROM v
    )
    SELECT event_type,
           MAX(n) AS n,
           MAX(k_lo) AS k_lo,
           MAX(n) + 1 - MAX(k_lo) AS k_hi,
           MAX(CASE WHEN rk = k_lo THEN value END) AS ci_lo,
           MAX(CASE WHEN rk = n + 1 - k_lo THEN value END) AS ci_hi,
           MEDIAN(value) AS med
    FROM ranks GROUP BY event_type
    """,
    doc="DISTRIBUTION-FREE 95% CONFIDENCE INTERVAL FOR THE MEDIAN via "
    "order statistics (the binomial/sign-test interval, normal "
    "approximation k = floor((n - z*sqrt(n))/2), z = 1.959964; "
    "Conover, Practical Nonparametric Statistics): the CI endpoints "
    "are the k-th and (n+1-k)-th ORDER STATISTICS per event_type — "
    "no distributional assumption, no bootstrap RNG, and therefore "
    "exactly reproducible cross-engine: the rank k is one "
    "deterministic IEEE expression of the exact BIGINT n (sqrt is "
    "correctly-rounded everywhere), the endpoints are exact selected "
    "values, and the point estimate reuses the engines' agreeing "
    "interpolated MEDIAN on DOUBLE (median_bool_flags parity note). "
    "Completes the inference family: stats_chi2_independence "
    "(association), drift_ks_two_sample (distribution equality), "
    "retention_kaplan_meier (survival) — this is interval estimation. "
    "Scale: one partitioned rank window per group (the grouped-rank "
    "shape); nothing global.",
)
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    ).where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k_lo = F.floor(
        (F.col("n") - 1.959964 * F.sqrt(F.col("n").cast("double"))) / 2
    ).cast("long")
    ranks = v.withColumn("k_lo", k_lo)
    return ranks.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k_lo").alias("k_lo"),
        (F.max("n") + 1 - F.max("k_lo")).alias("k_hi"),
        F.max(F.when(F.col("rk") == F.col("k_lo"), F.col("value"))).alias(
            "ci_lo"
        ),
        F.max(
            F.when(F.col("rk") == F.col("n") + 1 - F.col("k_lo"), F.col("value"))
        ).alias("ci_hi"),
        F.median("value").alias("med"),
    )


# --------------------------------------------------------------------
# Bitwise aggregates under CUBE with grouping_id.
# --------------------------------------------------------------------
@register(
    "bit_cube_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
             AS grouping_lvl,
           bit_and(l_suppkey) AS and_supp,
           bit_or(l_suppkey)  AS or_supp,
           bit_xor(l_suppkey) AS xor_supp,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="bit_and / bit_or / bit_xor under a two-column CUBE with "
    "grouping_id() (DuckDB spelling: 2*GROUPING(a)+GROUPING(b) — the "
    "same bit encoding). The CUBE runs as one Expand + one shuffle; "
    "bitwise aggregates combine associatively, so partial aggregation "
    "applies map-side like any sum.",
)
def bit_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("grouping_lvl"),
        F.bit_and("l_suppkey").alias("and_supp"),
        F.bit_or("l_suppkey").alias("or_supp"),
        F.bit_xor("l_suppkey").alias("xor_supp"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "pivot_unpivot_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderstatus IN ('O', 'F', 'P')
    GROUP BY o_orderpriority, o_orderstatus
    """,
    doc="PIVOT -> UNPIVOT round trip via the DataFrame.unpivot API "
    "(the registry's unpivot_stack_metrics covers only the SQL "
    "stack() spelling): order counts pivoted wide by status "
    "(explicit value list, so the plan needs no extra pass to "
    "discover columns), then unpivoted back to long form — provably "
    "equal to the plain GROUP BY the oracle runs (null cells from "
    "absent combinations are dropped, matching GROUP BY's omission), "
    "an inverse-composition identity a single query's hash can't "
    "state. Pivot runs on the post-aggregate frame: one shuffle to "
    "|priorities| rows, then a |statuses|-wide projection.",
)
def pivot_unpivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.where(F.col("o_orderstatus").isin("O", "F", "P"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ["o_orderpriority"], ["O", "F", "P"], "o_orderstatus", "n_orders"
    )
    return long.where(F.col("n_orders").isNotNull())


@register(
    "stats_corr_exact_moments",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(38,0)) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(38,0)) AS y
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           -- zero-variance -> NULL (Spark side guarded identically;
           -- r13 constant-corpus sweep)
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                ELSE NULL END AS corr_qty_price,
           CASE WHEN n > 1
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE)
                ELSE NULL END AS covar_samp_cents
    FROM m
    """,
    doc="Pearson correlation + sample covariance from EXACT DECIMAL "
    "moments: quantity and cents-quantized price accumulate as "
    "DECIMAL(38,0) sums (order-independent, engine-exact), then corr "
    "= (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)) is ONE "
    "fixed IEEE expression over exactly-agreed operands — raw-double "
    "identical, where the built-in corr()/covar_samp() accumulate "
    "floats in partition order and legitimately differ in the last "
    "bits across engines (the same exactness discipline as "
    "anomaly_rolling_zscore and the Gini entry; regr_quantity_price "
    "covers the BUILT-IN regr_* family under the round(4-6) policy — "
    "this entry is the exactness alternative). One shuffle, "
    "map-side partial decimal sums.",
)
def stats_corr_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(38,0)")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("decimal(38,0)")
    m = li.select("l_returnflag", x.alias("x"), y.alias("y")).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    # Zero-variance / single-row guards (r13 constant-corpus sweep):
    # a constant column makes vx (or vy) exactly 0 and a 1-row group
    # makes n*(n-1) = 0 — both divisions THROW under Spark ANSI.
    # Pearson r is undefined there: NULL, mirrored CASE-for-CASE in
    # the oracle (DuckDB's double division would yield Inf/NaN, not
    # an error, so the guard also keeps the engines value-identical).
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy)).alias(
            "corr_qty_price"
        ),
        F.when(
            n > 1, num / (n * (n - F.lit(1))).cast("double")
        ).alias("covar_samp_cents"),
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="INCREMENTAL VIEW MAINTENANCE via partial-aggregate merge: the "
    "'historical' partition (orders before 1997) is aggregated once, "
    "the 'new arrivals' (1997 onward) separately, and the two partial "
    "states merge by summing — never re-scanning history. The oracle "
    "runs the full recompute; equality IS the maintenance-correctness "
    "claim, and it holds exactly because count and exact-DECIMAL sums "
    "are commutative monoids (a float sum would NOT merge exactly — "
    "accumulation order differs between the incremental and full "
    "paths). The daily-rollup pattern at 100 TB: yesterday's state is "
    "a tiny aggregate table, only the new partition is scanned; "
    "merge cost is |groups|, independent of history size.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_part"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias(
                "price_part"
            ),
        )

    hist = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    return (
        hist.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_part").alias("n_orders"),
            F.sum("price_part").cast("double").alias("total_price"),
        )
    )


@register(
    "experiment_cuped_adjust",
    oracle=f"""
    WITH q AS (
      SELECT user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             ts < TIMESTAMP '2024-01-16 00:00:00' AS pre
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CASE WHEN pre THEN c ELSE 0 END)
               AS DECIMAL(38,0)) AS x,
             CAST(SUM(CASE WHEN NOT pre THEN c ELSE 0 END)
               AS DECIMAL(38,0)) AS y
      FROM q GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy,
             SUM(y * y) AS syy
      FROM u
    ),
    g AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             SUM(x) AS gx, SUM(y) AS gy
      FROM u GROUP BY variant
    )
    SELECT g.variant,
           g.n_users,
           CAST(g.gy AS DOUBLE) / g.n_users / 100 AS mean_y,
           -- var(x) = 0 (no pre-period signal, e.g. a degenerate
           -- clock putting every event post-period) -> CUPED
           -- undefined -> NULL, matching Spark's try_divide
           CASE WHEN p.n * p.sxx - p.sx * p.sx = 0 THEN NULL
                ELSE (CAST(g.gy AS DOUBLE) / g.n_users
                      - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                         / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
                        * (CAST(g.gx AS DOUBLE) / g.n_users
                           - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE)))
                     / 100
           END AS mean_y_cuped,
           CASE WHEN p.n * p.sxx - p.sx * p.sx = 0 THEN NULL
                ELSE CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                     / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
           END AS theta,
           CASE WHEN (p.n * p.sxx - p.sx * p.sx = 0)
                  OR (p.n * p.syy - p.sy * p.sy = 0) THEN NULL
                ELSE (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                      * CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE))
                     / (CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
                        * CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE))
           END AS rho2
    FROM g CROSS JOIN pooled p
    """,
    doc="CUPED VARIANCE-REDUCED EXPERIMENT READOUT (Deng et al. WSDM "
    "2013 — the industry-standard A/B variance-reduction): per "
    "variant (user_id parity), the post-period mean revenue and its "
    "CUPED adjustment mean(y) - theta*(mean_g(x) - mean(x)), where x "
    "is each user's PRE-period (Jan 1-15) revenue and theta = "
    "cov(x,y)/var(x) pooled over all users. The naive formulation "
    "computes y_adj per user and float-averages it — an "
    "accumulation-order-dependent sum; here the estimator is reduced "
    "ALGEBRAICALLY to group means, so every input is an exact "
    "DECIMAL(38,0) moment of cents (stats_corr_exact_moments "
    "discipline) and the whole readout is fixed IEEE expressions "
    "over exactly-agreed operands — raw-double identical, no "
    "rounding policy. rho2 (= the variance-reduction factor 1-rho2's "
    "complement) rides along from the same moments. Degenerate "
    "covariate: var(x) = 0 — e.g. a degenerate clock that lands "
    "every event in the post-period, so no user has pre-period "
    "revenue — makes theta 0/0; CUPED is undefined without "
    "pre-period signal, so theta/mean_y_cuped/rho2 are NULL on both "
    "engines (try_divide / CASE WHEN) and mean_y still reads out. "
    "Scale: one "
    "groupBy(user) + two tiny aggregates; the pooled 1-row frame "
    "broadcasts.",
)
def experiment_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    q = ev.where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias(
            "pre"
        ),
    )
    u = q.groupBy("user_id").agg(
        F.sum(F.when(F.col("pre"), F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("x"),
        F.sum(F.when(~F.col("pre"), F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("y"),
    ).withColumn("variant", F.col("user_id") % 2)
    pooled = u.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    g = u.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").cast("decimal(38,0)").alias("gx"),
        F.sum("y").cast("decimal(38,0)").alias("gy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov_num = (n * F.col("sxy") - sx * sy).cast("double")
    var_x = (n * F.col("sxx") - sx * sx).cast("double")
    var_y = (n * F.col("syy") - sy * sy).cast("double")
    # try_divide: a degenerate CLOCK (every event in the post-period —
    # e.g. the whole shard timestamped in one microsecond, r14
    # constant_ts sweep) zeroes every user's pre-period covariate, so
    # var(x) = 0 and theta is 0/0 — CUPED is undefined without
    # pre-period signal, so theta / mean_y_cuped / rho2 are NULL
    # (never an ANSI DIVIDE_BY_ZERO job kill); mean_y is unaffected.
    theta = F.try_divide(cov_num, var_x)
    mean_y = F.col("gy").cast("double") / F.col("n_users")
    mean_x_g = F.col("gx").cast("double") / F.col("n_users")
    mean_x_all = sx.cast("double") / n.cast("double")
    return g.crossJoin(F.broadcast(pooled)).select(
        "variant",
        "n_users",
        (mean_y / 100).alias("mean_y"),
        (
            (mean_y - theta * (mean_x_g - mean_x_all)) / 100
        ).alias("mean_y_cuped"),
        theta.alias("theta"),
        F.try_divide(cov_num * cov_num, var_x * var_y).alias("rho2"),
    )


@register(
    "experiment_proportion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS x
      FROM u WHERE variant IS NOT NULL GROUP BY variant
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        MAX(CASE WHEN variant = 0 THEN x END) AS x0,
        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        MAX(CASE WHEN variant = 1 THEN x END) AS x1
      FROM g
    )
    SELECT n0, x0, n1, x1,
           CAST(x0 AS DOUBLE) / n0 AS p0,
           CAST(x1 AS DOUBLE) / n1 AS p1,
           (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
             / NULLIF(
                 SQRT((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (CAST(1 AS DOUBLE) / n0
                         + CAST(1 AS DOUBLE) / n1)), 0.0)
             AS z_stat
    FROM wide
    """,
    doc="TWO-PROPORTION Z-TEST between experiment variants (user_id "
    "parity): converted = user made >= 14 purchases (every user here "
    "purchases at least once, which would saturate p_pool = 1 and "
    "zero the denominator — guarded with NULLIF anyway); z = "
    "(p1 - p0) / sqrt(p_pool (1 - p_pool)(1/n0 + 1/n1)) — the "
    "standard A/B significance readout next to "
    "experiment_cuped_adjust (which reduces the VARIANCE; this "
    "tests the DIFFERENCE). Counts are exact BIGINTs from one "
    "groupBy(user) + a 2-row pivot; the statistic is one fixed IEEE "
    "expression over agreed integers — raw-double identical. "
    "NULL-variant users (null-mirror user_ids) are excluded "
    "explicitly on both engines. Scale: one user shuffle, then "
    "2-row frames.",
)
def experiment_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        )
        .cast("int")
        .alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    g = (
        u.where(F.col("variant").isNotNull())
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x"))
    )
    wide = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (p1 - p0) / F.nullif(
        F.sqrt(
            pp
            * (1 - pp)
            * (
                F.lit(1).cast("double") / F.col("n0")
                + F.lit(1).cast("double") / F.col("n1")
            )
        ),
        F.lit(0.0),
    )
    return wide.select(
        "n0", "x0", "n1", "x1", p0.alias("p0"), p1.alias("p1"), z.alias("z_stat")
    )


@register(
    "experiment_welch_effect",
    oracle=f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
               AS DECIMAL(38,0)) AS y
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
      GROUP BY user_id
    ),
    g AS (
      SELECT variant,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(y) AS sy, SUM(y * y) AS syy
      FROM u WHERE variant IS NOT NULL GROUP BY variant
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        MAX(CASE WHEN variant = 0 THEN sy END) AS sy0,
        MAX(CASE WHEN variant = 0 THEN syy END) AS syy0,
        MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        MAX(CASE WHEN variant = 1 THEN sy END) AS sy1,
        MAX(CASE WHEN variant = 1 THEN syy END) AS syy1
      FROM g
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100
             AS mean_diff,
           (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / SQRT(CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE)
                    / CAST(n0 * (n0 - 1) AS DOUBLE) / CAST(n0 AS DOUBLE)
                  + CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)
                    / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE))
             AS welch_t,
           (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / SQRT((CAST(n0 * syy0 - sy0 * sy0 AS DOUBLE)
                     / CAST(n0 AS DOUBLE)
                   + CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE))
                  / CAST(n0 + n1 - 2 AS DOUBLE))
             AS cohens_d,
           (CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
           * (CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
           / (CAST(n0 + n1 AS DOUBLE) / 2)
           + (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
             * (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2)
             / (CAST(n0 + n1 AS DOUBLE) / 2) AS srm_chi2
    FROM wide
    """,
    doc="WELCH T-STATISTIC + COHEN'S D + SAMPLE-RATIO-MISMATCH check "
    "for the continuous experiment metric (per-user total revenue, "
    "variant = user parity) — the readout panel next to "
    "experiment_proportion_ztest (binary metric) and "
    "experiment_cuped_adjust (variance reduction): Welch 1947's "
    "unequal-variance t, Cohen 1988's standardized effect size, and "
    "the 50/50 chi-square SRM guardrail (Fabijan et al. 2019 — a "
    "skewed assignment invalidates the test before any p-value is "
    "read). Every moment is an exact DECIMAL(38,0) sum of cents; "
    "variances use the n*Syy - Sy^2 clearing "
    "(stats_corr_exact_moments discipline); all three statistics are "
    "fixed IEEE expressions over the six agreed totals — raw-double "
    "identical. One user shuffle, then a 2-row pivot.",
)
def experiment_welch_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    u = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("decimal(38,0)")
            .alias("y")
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    g = (
        u.where(F.col("variant").isNotNull())
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("y").cast("decimal(38,0)").alias("sy"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        )
    )
    wide = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("sy"))).alias("sy0"),
        F.max(F.when(F.col("variant") == 0, F.col("syy"))).alias("syy0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("sy"))).alias("sy1"),
        F.max(F.when(F.col("variant") == 1, F.col("syy"))).alias("syy1"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    m0 = F.col("sy0").cast("double") / n0d
    m1 = F.col("sy1").cast("double") / n1d
    v0 = (F.col("n0") * F.col("syy0") - F.col("sy0") * F.col("sy0")).cast(
        "double"
    ) / (F.col("n0") * (F.col("n0") - 1)).cast("double")
    v1 = (F.col("n1") * F.col("syy1") - F.col("sy1") * F.col("sy1")).cast(
        "double"
    ) / (F.col("n1") * (F.col("n1") - 1)).cast("double")
    diff = m1 - m0
    welch = diff / F.sqrt(v0 / n0d + v1 / n1d)
    pooled_num = (
        (F.col("n0") * F.col("syy0") - F.col("sy0") * F.col("sy0")).cast(
            "double"
        )
        / n0d
        + (F.col("n1") * F.col("syy1") - F.col("sy1") * F.col("sy1")).cast(
            "double"
        )
        / n1d
    )
    cohens = diff / F.sqrt(
        pooled_num / (F.col("n0") + F.col("n1") - 2).cast("double")
    )
    half = (F.col("n0") + F.col("n1")).cast("double") / 2
    srm = (n0d - half) * (n0d - half) / half + (n1d - half) * (
        n1d - half
    ) / half
    return wide.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (diff / 100).alias("mean_diff"),
        welch.alias("welch_t"),
        cohens.alias("cohens_d"),
        srm.alias("srm_chi2"),
    )
