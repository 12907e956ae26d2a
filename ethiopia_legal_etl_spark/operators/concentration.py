"""Concentration and distribution-shape analytics: Benford first-digit
conformance, the Gini coefficient, ABC/Pareto classification, and
trimmed robust means.

These are the auditor's toolbox over a fact table — is the money
column organic (Benford, Nigrini 1996), how concentrated is revenue
(Gini; Pareto ABC classes), what's the mean once the tails are
clipped (trimmed mean). Each one is written so the heavy math happens
in exact arithmetic:

- Benford: observed digit counts are exact BIGINTs; expected shares
  log10(1+1/d) enter as nine LITERAL double constants (identical
  tokens on both engines), so the chi-square statistic is a fixed
  IEEE expression over exactly-agreed operands.
- Gini: the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
  values sorted ascending — Σ(i·xᵢ) and Σx are exact DECIMAL sums
  (cents-quantized inputs), so G is a few divisions of agreed values.
- ABC: cumulative revenue share per part, classified A/B/C at 70%/90%
  — the comparison `cum·100 < total·70` runs in exact DECIMAL, never
  on a rounded share, so class boundaries cannot flap cross-engine.
- Trimmed mean: drop the exact k = ⌊n·5%⌋ rows from each tail by
  row_number over a canonical (value, id) order, then an exact
  decimal sum / count — no percentile interpolation involved.

Scale notes: Benford/trimmed are single-scan aggregates (+ one ordered
window for the trim, partitionable by group in the grouped variant);
Gini and ABC need a global order over the aggregated entity table
(customers/parts — entity-bounded, orders of magnitude smaller than
facts), which Spark executes as a range-partitioned sort, not a
single-node sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

# Benford expected first-digit shares as literal constants — both
# engines parse the SAME decimal token, so n*p_d is bit-identical.
_BENFORD = {d: round(math.log10(1 + 1 / d), 12) for d in range(1, 10)}


@register(
    "stats_benford_digits",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_d
      FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM obs)
    SELECT o.d, o.n_d,
           CAST(o.n_d AS DOUBLE) / t.n AS observed_p,
           CASE o.d {' '.join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items())}
           END AS benford_p,
           (CAST(o.n_d AS DOUBLE)
            - t.n * CASE o.d {' '.join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items())} END)
           * (CAST(o.n_d AS DOUBLE)
              - t.n * CASE o.d {' '.join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items())} END)
           / (t.n * CASE o.d {' '.join(f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items())} END)
             AS chi2_term
    FROM obs o CROSS JOIN tot t
    """,
    doc="Benford first-significant-digit conformance (Nigrini 1996 "
    "fraud-audit test) over order totals: per digit 1-9, the exact "
    "observed count, observed share, the Benford expectation "
    "log10(1+1/d) as a LITERAL constant (identical token both "
    "engines), and the per-digit chi-square term (o-e)^2/e as a fixed "
    "IEEE expression over exactly-agreed operands — so even the test "
    "statistic hash-checks. First digit taken from the cents-quantized "
    "integer's decimal rendering (no float log in the digit path); the "
    "quantization is FLOOR(x*100 + 0.5) on BOTH engines — an explicit "
    "half-up round, because a bare int cast truncates in Spark but "
    "rounds in DuckDB, and only cents-quantized inputs hide that "
    "divergence. Single scan + 9-row aggregate.",
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.substring(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
        1, 1,
    ).cast("long")
    obs = (
        orders.where(F.col("o_totalprice") > 0)
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    tot = obs.agg(F.sum("n_d").alias("n"))
    benford_p = F.lit(None).cast("double")
    expr = None
    for dig, p in _BENFORD.items():
        expr = (
            F.when(F.col("d") == dig, F.lit(p))
            if expr is None
            else expr.when(F.col("d") == dig, F.lit(p))
        )
    benford_p = expr
    e = F.col("n") * benford_p
    dev = F.col("n_d").cast("double") - e
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        "n_d",
        (F.col("n_d").cast("double") / F.col("n")).alias("observed_p"),
        benford_p.alias("benford_p"),
        (dev * dev / e).alias("chi2_term"),
    )


@register(
    "gini_revenue_concentration",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev,
             CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i
      FROM cust
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rev) AS DECIMAL(24,2)) AS total,
             CAST(SUM(i * rev) AS DECIMAL(30,2)) AS weighted
      FROM ranked
    )
    SELECT n,
           CAST(total AS DOUBLE) AS total_revenue,
           2.0 * CAST(weighted AS DOUBLE) / (n * CAST(total AS DOUBLE))
             - CAST(n + 1 AS DOUBLE) / n AS gini
    FROM agg
    """,
    doc="Gini coefficient of revenue concentration across customers "
    "via the rank-sum identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over "
    "ascending-sorted per-customer revenue. Both Σx and Σ(i·xᵢ) are "
    "EXACT DECIMAL sums of cents-exact inputs (canonical (rev, key) "
    "sort order so tied revenues rank identically cross-engine); the "
    "final G is a fixed expression over the two agreed sums. The sort "
    "runs over the customer-grain aggregate (entity-bounded), range-"
    "partitioned at scale — never over raw orders.",
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev")
    )
    # global-sort: Gini needs one total ranking by construction; it runs
    # over the customer-grain AGGREGATE (not raw orders). At 100 TB the
    # scale path is a range-partitioned sort + per-partition offsets;
    # the single-partition window is the exact-oracle form at gate
    # scales.
    w = Window.orderBy("rev", "o_custkey")
    ranked = cust.select(
        "rev", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast("decimal(24,2)").alias("total"),
        F.sum(F.col("i") * F.col("rev")).cast("decimal(30,2)").alias("weighted"),
    )
    n = F.col("n")
    total_d = F.col("total").cast("double")
    return agg.select(
        n.alias("n"),
        total_d.alias("total_revenue"),
        (
            F.lit(2.0) * F.col("weighted").cast("double") / (n * total_d)
            - (n + 1).cast("double") / n
        ).alias("gini"),
    )


@register(
    "abc_classification_parts",
    oracle="""
    WITH part_rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(rev) AS DECIMAL(24,2)) AS total FROM part_rev),
    cum AS (
      SELECT l_partkey, rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey)
                  AS DECIMAL(24,2)) AS cum_rev
      FROM part_rev
    ),
    classed AS (
      SELECT c.l_partkey, c.rev, c.cum_rev,
             CASE WHEN c.cum_rev * 100 <= t.total * 70 THEN 'A'
                  WHEN c.cum_rev * 100 <= t.total * 90 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM cum c CROSS JOIN tot t
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue,
           CAST(MIN(rev) AS DOUBLE) AS min_part_revenue,
           CAST(MAX(rev) AS DOUBLE) AS max_part_revenue
    FROM classed GROUP BY abc_class
    """,
    doc="ABC / Pareto classification of parts by revenue: parts sorted "
    "by revenue descending, class A = parts inside the first 70% of "
    "cumulative revenue, B to 90%, C the tail. The class boundary "
    "comparison cum·100 ≤ total·70 runs in EXACT DECIMAL (never on a "
    "rounded share), so boundary parts cannot flap between classes "
    "cross-engine; canonical (rev DESC, key) order fixes ties. The "
    "sort is over the part-grain aggregate (entity-bounded). Output "
    "is the 3-class summary.",
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("rev")
    )
    tot = part_rev.agg(F.sum("rev").cast("decimal(24,2)").alias("total"))
    # global-sort: ABC classes need one total revenue ranking by
    # construction; runs over the part-grain AGGREGATE (|parts| rows,
    # not raw lineitems). Scale path: range-partitioned sort + offsets.
    w = Window.orderBy(F.desc("rev"), "l_partkey")
    cum = part_rev.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(w).cast("decimal(24,2)").alias("cum_rev"),
    )
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "rev",
        F.when(F.col("cum_rev") * 100 <= F.col("total") * 70, "A")
        .when(F.col("cum_rev") * 100 <= F.col("total") * 90, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
        F.min("rev").cast("double").alias("min_part_revenue"),
        F.max("rev").cast("double").alias("max_part_revenue"),
    )


@register(
    "robust_trimmed_mean",
    oracle="""
    WITH v AS (
      -- null totalprices are not subjects of a trimmed MEAN, and
      -- leaving them in diverges the trim positions (Spark sorts
      -- NULLS FIRST, DuckDB NULLS LAST — full null-mirror sweep):
      -- excluded explicitly on BOTH sides
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(14,2)) AS x,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(n) - 2 * (MAX(n) // 20) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20
                    THEN x END) AS DOUBLE)
             / (MAX(n) - 2 * (MAX(n) // 20)) AS trimmed_mean,
           CAST(SUM(x) AS DOUBLE) / MAX(n) AS plain_mean
    FROM v GROUP BY o_orderpriority
    """,
    doc="5%-trimmed mean of order totals per priority class (robust "
    "location estimate; Tukey): drop exactly k = ⌊n/20⌋ rows from "
    "each tail by row_number over the canonical (value, key) order, "
    "then an exact DECIMAL sum over the kept rows divided by the "
    "integer kept-count — no percentile interpolation, no float "
    "accumulation, so the robust mean hash-checks exactly. Plain mean "
    "rides along to show the outlier pull. One window per group "
    "(partitionable), one aggregate.",
)
def robust_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null totalprices excluded on both sides: they are not subjects
    # of the mean, and Spark (NULLS FIRST) vs DuckDB (NULLS LAST)
    # would otherwise disagree on which rows the trim drops
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    v = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(14,2)").alias("x"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    k = F.floor(F.col("n") / 20)
    kept = F.when((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k), F.col("x"))
    g = v.groupBy("o_orderpriority").agg(
        F.max("n").alias("n"),
        (F.max("n") - 2 * F.floor(F.max("n") / 20)).alias("n_kept"),
        F.sum(kept).alias("kept_sum"),
        F.sum("x").alias("all_sum"),
    )
    return g.select(
        "o_orderpriority",
        "n",
        "n_kept",
        (F.col("kept_sum").cast("double") / F.col("n_kept")).alias(
            "trimmed_mean"
        ),
        (F.col("all_sum").cast("double") / F.col("n")).alias("plain_mean"),
    )
