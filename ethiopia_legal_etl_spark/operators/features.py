"""ML feature-engineering operators: the tabular-preparation steps a
training pipeline runs between raw facts and model input, each in the
repo's exactness discipline (integer/decimal moments or probed
bit-identical builtins; floats only in row-local or fixed-shape
expressions both engines evaluate identically).

- winsorization: clamp a feature at its per-group p5/p95 — the
  standard outlier guard before scaling. Percentile interpolation is
  bit-identical cross-engine (probed in percentile_order_price's family), and
  the clamp is row-local, so every output value hash-matches raw.
- leave-one-out target encoding: encode a categorical by the mean of
  the target over the OTHER rows of its group — the leakage-safe
  variant (own row excluded, so the encoding of a row never contains
  its own target). Exact integer sums make the LOO mean one IEEE
  division.
- equi-width histogram: 10 exact integer bins per group from the
  group's own min/max — bin indexes are a fixed float expression over
  exactly-agreed endpoints, floor'd identically in both engines.

Reference parity note: the reference computes none of these
(SURVEY.md §2.A "explicitly absent"); LLM-pipeline layer.

Scale notes: winsorize needs per-group percentiles — one aggregate to
|groups| rows joined back on the group key (broadcast under AQE);
LOO encoding is one aggregate + one equi-join on the category key,
both partial-aggregated map-side; the histogram is the same
aggregate-join-aggregate sandwich. No data-sized window, no
cross joins, no Python.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.functions.measures import EVENTS_FINITE_BARE, EVENTS_FINITE_SQL, clean_measures
from ethiopia_legal_etl_spark.sources.tables import load_table


@register(
    "features_winsorize_events",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM {EVENTS_FINITE_SQL} GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           LEAST(GREATEST(e.value, b.p05), b.p95) AS value_wins,
           e.value < b.p05 AS clamped_low,
           e.value > b.p95 AS clamped_high
    FROM {EVENTS_FINITE_BARE} e JOIN bounds b ON e.event_type = b.event_type
    WHERE e.value IS NOT NULL
    """,
    doc="per-group WINSORIZATION at p5/p95 (the standard outlier "
    "clamp before feature scaling): bounds from the bit-identical "
    "interpolated percentile (same estimator both engines — the "
    "percentile_order_price family), then a row-local LEAST/GREATEST clamp, "
    "so every output double hash-matches raw. Plan: one aggregate to "
    "|event_types| rows, joined back on the group key (AQE "
    "broadcasts it), zero data-sized windows.",
)
def features_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL measurements are EXCLUDED: both engines'
    # NULL-skipping least/greatest would otherwise fabricate
    # value_wins = p05 for a missing value. The percentile bounds are
    # NULL-skipping in both engines already, so only the row set
    # changes.
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
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    return ev.join(bounds, "event_type").select(
        "event_id",
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "value_wins"
        ),
        (F.col("value") < F.col("p05")).alias("clamped_low"),
        (F.col("value") > F.col("p95")).alias("clamped_high"),
    )


@register(
    "features_target_encode_loo",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS s_cents
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(g.s_cents - CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                 AS DECIMAL(38,0)) AS DOUBLE)
             / (100.0 * (g.n - 1)) AS prio_price_loo
    FROM orders o JOIN g ON o.o_orderpriority = g.o_orderpriority
    WHERE g.n > 1
    """,
    doc="LEAVE-ONE-OUT target encoding (the leakage-safe categorical "
    "encoder: a row's encoding is the target mean over the OTHER "
    "rows of its category, so no row sees its own label): "
    "enc_i = (S_group - y_i) / (n - 1) with S and y in exact "
    "cents-integer arithmetic (DECIMAL(38,0) — order-independent), "
    "then ONE IEEE division back to currency — raw-double identical "
    "cross-engine. Singleton categories are excluded (n-1 = 0). "
    "Plan: one aggregate to |categories| rows + one equi-join back; "
    "both map-side partial, no window, no cross join.",
)
def features_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("decimal(38,0)")
    g = orders.select("o_orderpriority", cents.alias("c")).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s_cents"),
    )
    return (
        orders.join(g, "o_orderpriority")
        .where(F.col("n") > 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                (F.col("s_cents") - cents).cast("double")
                / (F.lit(100.0) * (F.col("n") - 1))
            ).alias("prio_price_loo"),
        )
    )


@register(
    "features_histogram_values",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM {EVENTS_FINITE_SQL} GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             LEAST(CAST(FLOOR((e.value - b.lo) / (b.hi - b.lo) * 10)
                        AS BIGINT), 9) AS bin
      FROM {EVENTS_FINITE_BARE} e JOIN bounds b ON e.event_type = b.event_type
      WHERE b.hi > b.lo AND e.value IS NOT NULL
    )
    SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
    FROM binned GROUP BY event_type, bin
    """,
    doc="EQUI-WIDTH histogram (10 bins) of event values per type, "
    "from the group's own exact min/max: the bin index is the fixed "
    "expression floor((v - lo)/(hi - lo) * 10) over exactly-agreed "
    "endpoints (min/max of doubles are exact picks), with the v = hi "
    "edge clamped into the last bin — identical arithmetic both "
    "engines, exact integer counts out (width_bucket_price_histogram "
    "is the fixed-literal-bounds sibling; this one derives bounds "
    "from each group's own data). Degenerate groups (hi == lo) "
    "are excluded rather than divided by zero. Plan: aggregate to "
    "|types| rows, join back, one count aggregate — the "
    "aggregate-join-aggregate sandwich, all map-side partial.",
)
def features_histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # NULLs excluded, mirroring drift_psi_decile_bins:
    # the NULL-skipping least() would otherwise drop every NULL value
    # into bin 9
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
        )
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
