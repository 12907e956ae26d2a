"""Approximate query processing (AQP) over deterministic hash samples —
the BlinkDB family (Agarwal et al., EuroSys 2013 "BlinkDB: queries with
bounded errors and bounded response times on very large data"; Olken's
sampling-from-databases line; Hellerstein et al.'s online aggregation).

The 100 TB story AQP answers: a 10% (or 0.1%) sample answers a revenue
aggregate in 1/10th (1/1000th) the scan cost with a KNOWN confidence
interval — the sample is chosen by a deterministic multiplicative hash
of the row key, so it is reproducible across runs, engines, and
incremental loads (the property random() sampling lacks: a re-run
re-selects the SAME rows, so estimates are stable and auditable).

Estimator notes (what makes this exactly cross-engine-checkable):
- Bernoulli-by-hash sampling with known inclusion probability f:
  Horvitz-Thompson sum estimate = sample_sum / f — computed in EXACT
  DECIMAL (f = 1/10 makes /f a *10), no float sum order anywhere.
- HT variance estimator for Bernoulli sampling:
  V = sum_{i in S} x_i^2 * (1-f)/f^2 — again exact decimal (the
  factor (1-0.1)/0.01 = 90 is an integer). The ONLY floating-point
  steps are one sqrt of an exactly-agreed double and the +-1.96*se
  interval arithmetic — so the whole error-bar machinery, not just
  the point estimate, is oracle-hash-checkable. (A stddev_samp-based
  formulation would expose engine variance-algorithm differences;
  the sum-of-squares HT form avoids the issue by construction.)

The exact aggregate rides along as in-result accuracy evidence; a
production deployment at 100 TB drops it — that's the point of AQP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.corpusops import _KNUTH, knuth_bucket
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table

_F_PCT = 100000  # bucket cutoff of 1,000,000 -> f = 0.1

# stratified tiers (BlinkDB columnsets): rare strata keep MORE of their
# rows so per-group error bars stay tight. Cutoffs are chosen so 1/f
# and (1-f)/f² are INTEGERS ({10, 90}, {2, 2}, {1, 0}) — the whole HT
# estimator stays exact-decimal in every tier.
_TIER_BIG = 10_000  # N_g >= this -> f = 0.1
_TIER_MID = 2_000  # N_g >= this -> f = 0.5; below -> keep all (f = 1)


@register(
    "aqp_sampled_revenue",
    oracle=f"""
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rev,
             ((l_orderkey * 10 + l_linenumber) % 1000000007)
               * {_KNUTH} % 1000000 AS bucket
      FROM lineitem
    ),
    samp AS (
      SELECT l_returnflag,
             COUNT(*) AS n_sample,
             SUM(CAST(rev AS DECIMAL(18,4))) AS s,
             -- DECIMAL(19,4) on one side forces DuckDB's int128 path:
             -- the (18,4)x(18,4) form hits its int64 fast path and
             -- overflows on squares near 1e18; value is identical
             SUM(CAST(rev AS DECIMAL(19,4))
                 * CAST(rev AS DECIMAL(18,4))) AS ss
      FROM base WHERE bucket < {_F_PCT}
      GROUP BY l_returnflag
    ),
    exact AS (
      SELECT l_returnflag,
             SUM(CAST(rev AS DECIMAL(18,4))) AS exact_s
      FROM base GROUP BY l_returnflag
    )
    SELECT s.l_returnflag,
           CAST(s.n_sample AS BIGINT) AS n_sample,
           CAST(s.s * 10 AS DOUBLE) AS est_sum,
           ROUND(1.96 * SQRT(CAST(ss * 90 AS DOUBLE)), 2) AS ci_half,
           ROUND(CAST(s.s * 10 AS DOUBLE)
                 - 1.96 * SQRT(CAST(ss * 90 AS DOUBLE)), 2) AS ci_lo,
           ROUND(CAST(s.s * 10 AS DOUBLE)
                 + 1.96 * SQRT(CAST(ss * 90 AS DOUBLE)), 2) AS ci_hi,
           CAST(e.exact_s AS DOUBLE) AS exact_sum,
           CAST(e.exact_s AS DOUBLE)
             BETWEEN ROUND(CAST(s.s * 10 AS DOUBLE)
                           - 1.96 * SQRT(CAST(ss * 90 AS DOUBLE)), 2)
                 AND ROUND(CAST(s.s * 10 AS DOUBLE)
                           + 1.96 * SQRT(CAST(ss * 90 AS DOUBLE)), 2)
             AS ci_covers
    FROM samp s JOIN exact e USING (l_returnflag)
    """,
    doc="BlinkDB-family approximate aggregation (Agarwal et al. "
    "EuroSys'13): revenue per returnflag from a DETERMINISTIC 10% "
    "Knuth-hash Bernoulli sample with Horvitz-Thompson estimate and "
    "a 95% CLT confidence interval. Every arithmetic step up to the "
    "single sqrt is EXACT DECIMAL (HT sum = s*10, HT variance = "
    "sum-of-squares * 90 — integers, no stddev algorithm in sight), "
    "so the full error-bar pipeline is oracle-hash-checked, not just "
    "the point estimate. Exact sums ride along as evidence plus a "
    "ci_covers bit. At 100 TB the sample predicate pushes to the "
    "scan's hash of key columns (1/10th the I/O), the exact branch "
    "disappears, and stratified per-group samples (BlinkDB's "
    "columnsets) replace the uniform one for rare groups.",
)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("decimal(18,4)")
    bucket = knuth_bucket(
        F.col("l_orderkey") * 10 + F.col("l_linenumber"), 1000000
    )
    base = li.select(
        "l_returnflag", rev.alias("rev"), bucket.alias("bucket")
    )
    samp = (
        base.where(F.col("bucket") < _F_PCT)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("rev").alias("s"),
            F.sum(F.col("rev") * F.col("rev")).alias("ss"),
        )
    )
    exact = base.groupBy("l_returnflag").agg(F.sum("rev").alias("exact_s"))
    est = (F.col("s") * 10).cast("double")
    half = F.lit(1.96) * F.sqrt((F.col("ss") * 90).cast("double"))
    lo, hi = F.round(est - half, 2), F.round(est + half, 2)
    return samp.join(exact, "l_returnflag").select(
        "l_returnflag",
        F.col("n_sample").cast("long").alias("n_sample"),
        est.alias("est_sum"),
        F.round(half, 2).alias("ci_half"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        F.col("exact_s").cast("double").alias("exact_sum"),
        F.col("exact_s")
        .cast("double")
        .between(lo, hi)
        .alias("ci_covers"),
    )


@register(
    "aqp_stratified_revenue",
    oracle=f"""
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(12,2)))
                  AS DECIMAL(18,4)) AS rev,
             ((l_orderkey * 10 + l_linenumber) % 1000000007)
               * {_KNUTH} % 1000000 AS bucket
      FROM lineitem
    ),
    sizes AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CASE WHEN COUNT(*) >= {_TIER_BIG} THEN {_F_PCT}
                  WHEN COUNT(*) >= {_TIER_MID} THEN 500000
                  ELSE 1000000 END AS cutoff
      FROM base GROUP BY l_returnflag, l_linestatus
    ),
    samp AS (
      SELECT b.l_returnflag, b.l_linestatus, z.n_g, z.cutoff,
             CAST(COUNT(*) AS BIGINT) AS n_sample,
             SUM(b.rev) AS s,
             SUM(CAST(b.rev AS DECIMAL(19,4))
                 * CAST(b.rev AS DECIMAL(18,4))) AS ss
      FROM base b
      JOIN sizes z USING (l_returnflag, l_linestatus)
      WHERE b.bucket < z.cutoff
      GROUP BY b.l_returnflag, b.l_linestatus, z.n_g, z.cutoff
    ),
    exact AS (
      SELECT l_returnflag, l_linestatus, SUM(rev) AS exact_s
      FROM base GROUP BY l_returnflag, l_linestatus
    ),
    est AS (
      SELECT s.l_returnflag, s.l_linestatus, s.n_g, s.n_sample,
             CAST(s.cutoff AS BIGINT) AS cutoff,
             CAST(CASE WHEN s.cutoff = {_F_PCT} THEN s.s * 10
                       WHEN s.cutoff = 500000 THEN s.s * 2
                       ELSE s.s END AS DOUBLE) AS est_sum,
             ROUND(1.96 * SQRT(CAST(
               CASE WHEN s.cutoff = {_F_PCT} THEN s.ss * 90
                    WHEN s.cutoff = 500000 THEN s.ss * 2
                    ELSE s.ss * 0 END AS DOUBLE)), 2) AS ci_half,
             CAST(e.exact_s AS DOUBLE) AS exact_sum
      FROM samp s
      JOIN exact e USING (l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus, n_g, n_sample, cutoff,
           est_sum, ci_half,
           exact_sum BETWEEN est_sum - ci_half AND est_sum + ci_half
             AS ci_covers,
           exact_sum
    FROM est
    """,
    doc="BlinkDB STRATIFIED sample (the columnset mechanism, Agarwal "
    "et al. EuroSys'13 §4): per (returnflag, linestatus) stratum the "
    "sampling rate adapts to stratum size — f = 0.1 for strata with "
    ">=10k rows, 0.5 for >=2k, keep-everything below — so rare groups "
    "retain tight error bars instead of vanishing from a uniform "
    "sample. The tiers are chosen so 1/f and (1-f)/f^2 are integers "
    "({10,90}, {2,2}, {1,0}): the Horvitz-Thompson estimate and "
    "variance stay EXACT DECIMAL in every tier and the whole "
    "stratified error-bar table is oracle-hash-checked. Different SFs "
    "land in different tiers, so the tier logic itself is exercised "
    "cross-scale. Two passes over lineitem (stratum sizes, then "
    "sampled aggregate); size table is 6 rows, broadcast.",
)
def aqp_stratified_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    strata = ["l_returnflag", "l_linestatus"]
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
    ).cast("decimal(18,4)")
    bucket = knuth_bucket(
        F.col("l_orderkey") * 10 + F.col("l_linenumber"), 1000000
    )
    base = li.select(*strata, rev.alias("rev"), bucket.alias("bucket"))
    sizes = base.groupBy(*strata).agg(
        F.count(F.lit(1)).alias("n_g"),
        F.when(F.count(F.lit(1)) >= _TIER_BIG, F.lit(_F_PCT))
        .when(F.count(F.lit(1)) >= _TIER_MID, F.lit(500000))
        .otherwise(F.lit(1000000))
        .alias("cutoff"),
    )
    samp = (
        base.join(F.broadcast(sizes), strata)
        .where(F.col("bucket") < F.col("cutoff"))
        .groupBy(*strata, "n_g", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.sum("rev").alias("s"),
            F.sum(F.col("rev") * F.col("rev")).alias("ss"),
        )
    )
    exact = base.groupBy(*strata).agg(F.sum("rev").alias("exact_s"))
    est_sum = (
        F.when(F.col("cutoff") == _F_PCT, F.col("s") * 10)
        .when(F.col("cutoff") == 500000, F.col("s") * 2)
        .otherwise(F.col("s"))
    ).cast("double")
    var_term = (
        F.when(F.col("cutoff") == _F_PCT, F.col("ss") * 90)
        .when(F.col("cutoff") == 500000, F.col("ss") * 2)
        .otherwise(F.col("ss") * 0)
    ).cast("double")
    ci_half = F.round(F.lit(1.96) * F.sqrt(var_term), 2)
    exact_sum = F.col("exact_s").cast("double")
    return (
        samp.join(exact, strata)
        .select(
            *strata,
            "n_g",
            F.col("n_sample").cast("long").alias("n_sample"),
            F.col("cutoff").cast("long").alias("cutoff"),
            est_sum.alias("est_sum"),
            ci_half.alias("ci_half"),
            exact_sum.between(
                est_sum - ci_half, est_sum + ci_half
            ).alias("ci_covers"),
            exact_sum.alias("exact_sum"),
        )
    )
