"""Distribution-drift monitoring: the checks a training-data pipeline
runs when a new data drop arrives — "does this week's distribution
still look like last week's?" — in the repo's exactness discipline.

- Two-sample Kolmogorov-Smirnov: KS = max |ECDF_a - ECDF_b|. The ECDF
  difference at a point is i_a/n_a - i_b/n_b; comparing those
  fractions via the integer cross-product |i_a*n_b - i_b*n_a| makes
  the argmax and the statistic's numerator EXACT BIGINT — the final
  statistic is one IEEE division of two exactly-agreed integers, so
  it hash-matches raw (a float-ECDF max would tie-break differently
  across engines at near-equal steps).
- Population Stability Index over decile bins: PSI = sum over bins of
  (p_a - p_b) * ln(p_a / p_b), the standard model-monitoring drift
  score. Bin populations are exact integers from quantile-free
  fixed-width bins (data-derived global min/max); the log expression
  is a fixed float formula over exact counts, round(6).

Split under test: each event stream's EARLY half vs LATE half by
event time (median event_id as the deterministic pivot), per
event_type — the natural "previous batch vs new batch" shape.

Reference parity note: the reference computes none of these
(SURVEY.md §2.A "explicitly absent"); LLM-pipeline layer.

Scale notes: KS sorts within (event_type) partitions only — the
window is partitioned, never global; at 100 TB the per-type ECDF is
the range-partitioned two-pass sort, the same shape as any grouped
rank. PSI is two aggregate-join-aggregate passes over exact counts.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.functions.measures import EVENTS_FINITE_BARE, EVENTS_FINITE_SQL, clean_measures
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "drift_ks_two_sample",
    oracle=f"""
    WITH tagged AS (
      -- ECDF is over OBSERVED values: null AND non-finite
      -- measurements are excluded explicitly (engines also disagree
      -- on null sort placement, and both sort NaN greatest — a NaN
      -- reading would silently become the top ECDF step)
      SELECT event_type, value,
             CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
    ),
    n AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM tagged GROUP BY event_type
    ),
    vals AS (
      -- one row per DISTINCT value: the ECDF is only defined at value
      -- boundaries, and mid-run prefix states under duplicate values
      -- would depend on the a/b interleaving order
      SELECT event_type, value,
             SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS d_a,
             SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS d_b
      FROM tagged GROUP BY event_type, value
    ),
    steps AS (
      SELECT event_type, value,
             SUM(d_a) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS i_a,
             SUM(d_b) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS i_b
      FROM vals
    )
    SELECT s.event_type, n.n_a, n.n_b,
           CAST(MAX(ABS(s.i_a * n.n_b - s.i_b * n.n_a)) AS BIGINT)
             AS ks_num,
           CAST(MAX(ABS(s.i_a * n.n_b - s.i_b * n.n_a)) AS DOUBLE)
             / (n.n_a * n.n_b) AS ks_stat
    FROM steps s JOIN n ON s.event_type = n.event_type
    GROUP BY s.event_type, n.n_a, n.n_b
    """,
    doc="EXACT two-sample Kolmogorov-Smirnov drift statistic per "
    "event_type (even event_ids vs odd — the deterministic A/B "
    "split): KS = max |ECDF_a - ECDF_b| with the max taken over the "
    "INTEGER cross-product |i_a*n_b - i_b*n_a| (every prefix count "
    "is exact, so argmax and numerator are BIGINT-exact). The ECDF "
    "is evaluated only at DISTINCT value boundaries — a per-value "
    "pre-aggregate, because mid-run prefix states under duplicate "
    "values depend on a/b interleaving order (caught by the sf0.01 "
    "gate during construction: ks_num 46594 vs 46588). "
    "The statistic is one IEEE division of two agreed integers — "
    "raw-double identical, no rounding policy. Plan: one window "
    "partitioned by event_type (never global), one aggregate.",
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed readings (NULL or non-finite) are not ECDF observations:
    # both engines sort NaN greatest, so an un-cleaned NaN would
    # silently become the top step on BOTH sides — consistent but
    # biased. clean_measures -> NULL -> the NOT NULL
    # filter drops it, matching the oracle's isfinite REPLACE.
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    tagged = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        F.when(F.col("event_id") % 2 == 0, "a").otherwise("b").alias("side"),
    )
    n = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("n_b"),
    )
    vals = tagged.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("d_a"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("d_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    steps = vals.select(
        "event_type",
        F.sum("d_a").over(w).alias("i_a"),
        F.sum("d_b").over(w).alias("i_b"),
    )
    diff = F.abs(F.col("i_a") * F.col("n_b") - F.col("i_b") * F.col("n_a"))
    # Enforce the BIGINT no-overflow bound (the anomaly_rolling_zscore
    # discipline): |i*n| <= n_a*n_b must stay under 2^63, i.e.
    # n_a*n_b < 9.2e18 (~3e9 rows per side per type). Checked in
    # double space BEFORE the integer product can wrap.
    guard = F.when(
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
        >= F.lit(float(2**63)),
        F.raise_error(
            F.concat(
                F.lit("drift_ks_two_sample: n_a*n_b would overflow the "
                      "BIGINT cross-product for event_type="),
                F.col("event_type"),
            )
        ).cast("long"),
    ).otherwise(F.col("n_a"))
    return (
        steps.join(n, "event_type")
        .withColumn("n_a", guard)
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            F.max(diff).alias("ks_num"),
            (
                F.max(diff).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_stat"),
        )
    )


@register(
    "drift_psi_decile_bins",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM {EVENTS_FINITE_SQL} GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             LEAST(CAST(FLOOR((e.value - b.lo) / (b.hi - b.lo) * 10)
                        AS BIGINT), 9) AS bin,
             CASE WHEN e.event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side
      FROM {EVENTS_FINITE_BARE} e JOIN bounds b ON e.event_type = b.event_type
      WHERE b.hi > b.lo AND e.value IS NOT NULL
    ),
    counts AS (
      SELECT event_type, bin,
             CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_a,
             CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_b
      FROM binned GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type,
             SUM(c_a) AS t_a, SUM(c_b) AS t_b
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type, c.bin,
             (CAST(c.c_a AS DOUBLE) / t.t_a - CAST(c.c_b AS DOUBLE) / t.t_b)
             * LN((CAST(c.c_a AS DOUBLE) / t.t_a)
                  / (CAST(c.c_b AS DOUBLE) / t.t_b)) AS term
      FROM counts c JOIN tot t ON c.event_type = t.event_type
      WHERE c.c_a > 0 AND c.c_b > 0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           -- ORDERED left fold (bin order, 0.0 seed): the sum is
           -- reassociation-free, so the value cannot depend on either
           -- engine's partial-aggregation grouping
           ROUND(list_reduce(
             list_prepend(0.0, list_transform(
               list_sort(LIST({{'bin': bin, 'term': term}})),
               x -> x.term)),
             (acc, x) -> acc + x), 6) + 0 AS psi
    FROM terms GROUP BY event_type
    """,
    doc="Population Stability Index per event_type over 10 fixed-width "
    "bins (the standard model-monitoring drift score; PSI < 0.1 "
    "stable, > 0.25 action): bins from the data-derived exact "
    "min/max (features_histogram_values's binning), populations are "
    "exact integers, PSI = sum (p_a - p_b) ln(p_a/p_b) over bins "
    "populated on BOTH sides (the standard zero-cell exclusion), "
    "round(6) + 0 for the irrational-log policy. The per-type term "
    "sum is an ORDERED LEFT FOLD over the bin-sorted terms (the "
    "ewma_user_value discipline) — a plain SUM of doubles would "
    "depend on partial-aggregation grouping and hence on the "
    "caller's shuffle-partition count. Plan: two "
    "aggregate-join-aggregate passes, no window at all.",
)
def drift_psi_decile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    # NULL values are EXCLUDED, mirroring drift_ks_two_sample: without
    # the filter FLOOR(NULL - lo ...) is NULL and the NULL-skipping
    # least()/LEAST of both engines lands every missing measurement in
    # bin 9, inflating the top decile on both sides
    binned = (
        ev.where(F.col("value").isNotNull())
        .join(bounds, "event_type")
        .where(F.col("hi") > F.col("lo"))
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 10
                ).cast("long"),
                F.lit(9).cast("long"),
            ).alias("bin"),
            F.when(F.col("event_id") % 2 == 0, "a").otherwise("b").alias(
                "side"
            ),
        )
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("c_b"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c_a").alias("t_a"), F.sum("c_b").alias("t_b")
    )
    p_a = F.col("c_a").cast("double") / F.col("t_a")
    p_b = F.col("c_b").cast("double") / F.col("t_b")
    term = (p_a - p_b) * F.log(p_a / p_b)
    # ordered left fold over (bin, term) structs — a plain SUM of the
    # <= 10 double terms would depend on partial-aggregation grouping
    # (and hence on the caller's shuffle-partition count); the fold is
    # reassociation-free in both engines
    folded = F.aggregate(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("bin"), term.alias("term")))
            ),
            lambda x: x["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        counts.join(tot, "event_type")
        .where((F.col("c_a") > 0) & (F.col("c_b") > 0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            (F.round(folded, 6) + 0).alias("psi"),
        )
    )


@register(
    "stats_chi2_independence",
    oracle=f"""
    WITH cells AS (
      -- fixed-edge value bins (drift_psi discipline): NULL
      -- measurements are excluded, not binned
      SELECT event_type,
             LEAST(CAST(FLOOR(value / 125) AS BIGINT), 3) AS bin,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
      GROUP BY event_type, bin
    ),
    m AS (
      SELECT event_type, bin, o,
             CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY bin) AS BIGINT) AS c,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT bin) AS BIGINT) AS nc
      FROM cells
    ),
    terms AS (
      -- (O - E)^2 / E == (O*n - r*c)^2 / (r*c*n); the difference
      -- O*n - r*c is an exact BIGINT (|.| <= n^2), squared in DOUBLE
      -- because BIGINT d*d overflows at scale
      SELECT event_type, bin, n,
             (CAST(o * n - r * c AS DOUBLE)
              * CAST(o * n - r * c AS DOUBLE))
             / CAST(r * c * n AS DOUBLE) AS term
      FROM m
    ),
    folded AS (
      SELECT MAX(n) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             list_reduce(
               list_prepend(0.0, list_transform(
                 list_sort(LIST({{'event_type': event_type,
                                 'bin': bin, 'term': term}})),
                 x -> x.term)),
               (acc, x) -> acc + x) AS chi2_raw
      FROM terms
    )
    SELECT f.n,
           f.n_cells,
           (d.nr - 1) * (d.nc - 1) AS dof,
           ROUND(f.chi2_raw, 6) + 0 AS chi2,
           -- NULL for a 1 x k table (V undefined; Spark side guarded
           -- identically — r13 constant-corpus sweep)
           CASE WHEN LEAST(d.nr - 1, d.nc - 1) > 0
                THEN ROUND(SQRT(f.chi2_raw
                           / CAST(f.n * LEAST(d.nr - 1, d.nc - 1)
                                  AS DOUBLE)),
                      6) + 0
                ELSE NULL END AS cramers_v
    FROM folded f CROSS JOIN dims d
    """,
    doc="PEARSON CHI-SQUARE TEST OF INDEPENDENCE (event_type x "
    "fixed-edge value quartile-bin contingency table) plus Cramer's "
    "V effect size — the categorical-association check a pipeline "
    "runs to ask 'is the feature distribution independent of the "
    "event class, or did a data drop skew one class?'. Exactness: "
    "each cell's (O-E)^2/E is rewritten (O*n - r*c)^2/(r*c*n) so the "
    "numerator difference is an exact BIGINT before ONE double "
    "square and ONE division (d*d stays in DOUBLE because BIGINT "
    "d^2 overflows at n >= ~55k); the <= |types|x4 cell terms fold "
    "in (event_type, bin) order, reassociation-free (the PSI "
    "discipline, drift_psi_decile_bins); Cramer's V adds one "
    "IEEE-exact SQRT of the raw (pre-round) statistic. Scale: the "
    "data pass is one map-side-combined groupBy; every window runs "
    "over the tiny cell frame. Sibling: drift_ks_two_sample "
    "(continuous two-sample); this is the categorical independence "
    "test. Chi-square: Pearson 1900; Cramer's V: Cramer 1946.",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    cells = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.least(F.floor(F.col("value") / 125), F.lit(3))
            .cast("long")
            .alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # bounded: every window below runs over the <= |event_type| x 4
    # aggregated cell frame (~20 rows), never the raw events
    m = cells.select(
        "event_type",
        "bin",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("bin")).alias("c"),
        # bounded: global window over the <= |types| x 4 cell frame
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    d = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    term = (d * d) / (F.col("r") * F.col("c") * F.col("n")).cast("double")
    terms = m.select(
        "event_type", "bin", F.col("n"), term.alias("term")
    )
    folded = terms.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("event_type"), F.col("bin"), F.col("term")
                        )
                    )
                ),
                lambda x: x["term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("chi2_raw"),
    )
    dims = cells.agg(
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("bin").alias("nc"),
    )
    mindim = F.least(F.col("nr") - 1, F.col("nc") - 1)
    # Degenerate-table guard (r13 constant-corpus sweep): a 1 x k (or
    # k x 1) contingency table makes min(nr-1, nc-1) = 0 and Cramer's
    # V divides by zero — Spark ANSI THROWS for double division (a
    # constant `value` column collapses every row into one bin, so
    # this is reachable on real data shapes). V is undefined for a
    # one-dimensional table: emit NULL, mirrored in the oracle.
    return folded.crossJoin(F.broadcast(dims)).select(
        "n",
        "n_cells",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        (F.round(F.col("chi2_raw"), 6) + 0).alias("chi2"),
        F.when(
            mindim > 0,
            F.round(
                F.sqrt(
                    F.col("chi2_raw") / (F.col("n") * mindim).cast("double")
                ),
                6,
            )
            + 0,
        ).alias("cramers_v"),
    )


@register(
    "changepoint_cusum_events",
    oracle=f"""
    WITH q AS (
      -- one-time cent quantization (anomaly_rolling_zscore policy):
      -- a single deterministic IEEE multiply+floor per row, then
      -- everything downstream is exact BIGINT
      SELECT event_type, ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
    ),
    c AS (
      SELECT event_type, ts,
             CAST(SUM(v) OVER (
               PARTITION BY event_type ORDER BY ts, v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS s_k,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ts, v
             ) AS BIGINT) AS k,
             CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS s_n,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM q
    ),
    d AS (
      -- CUSUM deviation cleared of denominators: the max of
      -- |S_k - (k/n)*S_n| over k has the same argmax as
      -- |n*S_k - k*S_n| (exact BIGINT)
      SELECT event_type, ts, k, n,
             ABS(n * s_k - k * s_n) AS dev_num
      FROM c
    ),
    best AS (
      SELECT event_type, ts, k, n, dev_num,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY dev_num DESC, k
             ) AS rk
      FROM d
    )
    SELECT event_type, n,
           k AS argmax_k,
           STRFTIME(CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP),
                    '%Y-%m-%d') AS change_day,
           dev_num,
           CAST(dev_num AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS cusum_stat
    FROM best WHERE rk = 1
    """,
    doc="CUSUM CHANGE-POINT DETECTION per event_type (Page 1954 / the "
    "ECP-family offline statistic): the k maximizing |S_k - (k/n)S_n| "
    "over the time-ordered cent-quantized values — where the "
    "cumulative sum deviates most from the no-change diagonal — "
    "located EXACTLY by clearing denominators: argmax of "
    "|n*S_k - k*S_n| over BIGINTs (the float form's near-tie argmax "
    "can flip cross-engine; the integer form cannot; magnitudes "
    "n*S_k <= n^2*max_v ~ 1e14 at sf0.1, within int64). The reported "
    "statistic normalizes by n^2 in ONE IEEE division at the end. "
    "Deterministic tiebreaks: (ts, v) within the ordered scan, "
    "smallest k among equal deviations. Completes the drift family: "
    "KS (two-sample), PSI (binned populations), chi-square "
    "(association) — CUSUM answers WHEN the shift happened. Scale: "
    "one hash shuffle on event_type + per-type ordered windows (the "
    "grouped-rank shape); the argmax is a 1-row-per-type "
    "TakeOrdered-style window over the same partitioning.",
)
def changepoint_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    q = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "v")
    w_all = Window.partitionBy("event_type")
    c = q.select(
        "event_type",
        "ts",
        F.sum("v")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s_k"),
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.sum("v").over(w_all).alias("s_n"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    d = c.select(
        "event_type",
        "ts",
        "k",
        "n",
        F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n")).alias(
            "dev_num"
        ),
    )
    best = d.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("dev_num").desc(), "k"
            )
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        "event_type",
        "n",
        F.col("k").alias("argmax_k"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
            "change_day"
        ),
        "dev_num",
        (
            F.col("dev_num").cast("double")
            / (F.col("n").cast("double") * F.col("n"))
        ).alias("cusum_stat"),
    )


@register(
    "proportion_wilson_ci",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= 250 THEN 1 ELSE 0 END)
               AS BIGINT) AS x
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n, x,
           CAST(x AS DOUBLE) / n AS p_hat,
           (CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
            - 1.959964 * SQRT((CAST(x AS DOUBLE) / n
                               * (1 - CAST(x AS DOUBLE) / n)
                               + 1.959964 * 1.959964 / (4.0 * n * n)) / n))
           / (1 + 1.959964 * 1.959964 / n) AS wilson_lo,
           (CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
            + 1.959964 * SQRT((CAST(x AS DOUBLE) / n
                               * (1 - CAST(x AS DOUBLE) / n)
                               + 1.959964 * 1.959964 / (4.0 * n * n)) / n))
           / (1 + 1.959964 * 1.959964 / n) AS wilson_hi
    FROM g
    """,
    doc="WILSON SCORE 95% CONFIDENCE INTERVAL for a proportion per "
    "event_type (Wilson 1927; the interval Brown-Cai-DasGupta 2001 "
    "recommends over the Wald interval, whose coverage collapses "
    "near 0/1 and small n): here the share of high-value events "
    "(value >= 250). Counts are exact BIGINTs from one "
    "map-side-combined groupBy; lo/hi are fixed IEEE expressions "
    "over the agreed (n, x) pair — written with the IDENTICAL op "
    "tree in both engines, so the doubles hash raw. Completes "
    "interval estimation alongside median_ci_order_stats "
    "(distribution-free median CI): that one selects order "
    "statistics, this one inverts the score test. Scale: one "
    "aggregate, |event_type| output rows, nothing else.",
)
def proportion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed readings out: NaN/Inf pass `value IS NOT
    # NULL` and both engines treat them as >= 250 (NaN/Inf sort
    # greatest), silently counting failed readings as successes —
    # consistent cross-engine but biased. clean_measures -> NULL ->
    # excluded from n and x, matching the oracle's isfinite REPLACE.
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    g = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("value") >= 250, 1).otherwise(0)
            ).alias("x"),
        )
    )
    z = F.lit(1.959964)
    n = F.col("n")
    p = F.col("x").cast("double") / n
    center = p + z * z / (2 * n)
    halfw = z * F.sqrt((p * (1 - p) + z * z / (4.0 * n * n)) / n)
    denom = 1 + z * z / n
    return g.select(
        "event_type",
        "n",
        "x",
        p.alias("p_hat"),
        ((center - halfw) / denom).alias("wilson_lo"),
        ((center + halfw) / denom).alias("wilson_hi"),
    )
