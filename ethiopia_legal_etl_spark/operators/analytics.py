"""Windows, time series and event analytics: top-k, ranking/analytic/
frame windows (ROWS, interval RANGE, IGNORE NULLS, ntile/percent_rank),
windows over aggregates, keyset and OFFSET pagination, LOCF gap-fill,
EWMA, sessionization, funnels, cohort retention, event-transition
matrices, pattern funnels and linear attribution over the ``events``
table.

Reference anchor: top-k generalizes the 50-line log tail
(deploy-gh-pages.yml:19-20, SURVEY.md A-16).

Cross-engine precision rules (see sources/tables.py): events.ts is
TIMESTAMP(NANOS) in parquet — Spark floors to µs, DuckDB keeps ns, so
no query emits raw ts. Interval comparisons (e.g. the funnel's 7-day
window) agree across engines only because the generator emits whole-µs
timestamps: a ts with sub-µs residue landing inside (boundary,
boundary+1µs) would pass Spark's floored comparison and fail DuckDB's
ns one. The guarantee is conditional on generator granularity, not
unconditional. The event windows order by ``event_id``, which is
verified monotone with ts per user (ingestion order), so both engines
sort identically with no ns-tie hazard.

Scale notes: windows shuffle once on their partition key; the event
analytics shuffle on ``user_id`` — uniform, high-NDV, no skew — and
reduce per user before any join, so funnel/cohort joins move |users|
rows, not |events|. No driver-side collection.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.measures import (
    EVENTS_FINITE_SQL,
    clean_measures,
)
from ethiopia_legal_etl_spark.functions.money import micro_to_double, money_micro
from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------
# Sort / top-k — generalization of the 50-line log tail (A-16).
# Scale: orderBy().limit(k) compiles to TakeOrderedAndProject — each
# partition keeps a k-heap, only k rows per partition reach the driver
# stage. No global sort of 100 TB.
# --------------------------------------------------------------------
@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="top-k by sort key with deterministic tiebreak (A-16 shape)",
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# --------------------------------------------------------------------
# Window functions: ranking / analytic / frames.
# Scale: one shuffle on the partition key each; running frames are
# computed streaming within partition (no buffering beyond the frame).
# --------------------------------------------------------------------
@register(
    "window_rank_orders",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             RANK()       OVER (PARTITION BY o_custkey
                                ORDER BY o_orderstatus) AS status_rank
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="ranking window: top-3 orders per customer",
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("status_rank"),
        )
        .where("rn <= 3")
    )


@register(
    "window_running_user_value",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS running_value,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3
    FROM events
    """,
    doc="frame windows: running sum + 3-row moving average per user",
)
def window_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_mov = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w_run), 2).alias("running_value"),
        F.round(F.avg("value").over(w_mov), 4).alias("moving_avg3"),
    )


@register(
    "window_lag_lead_delta",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta_prev,
           ROUND(LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)         AS next_value,
           ROUND(FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 2)                    AS first_value
    FROM events
    """,
    doc="analytic windows: lag/lead/first_value per user timeline",
)
def window_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_first = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w), 2).alias("next_value"),
        F.round(F.first("value").over(w_first), 2).alias("first_value"),
    )


# --------------------------------------------------------------------
# Window over an aggregate: monthly revenue + month-over-month delta.
# --------------------------------------------------------------------
@register(
    "monthly_revenue_mom",
    oracle="""
    WITH monthly AS (
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta
    FROM monthly
    """,
    doc="window over aggregate: month-over-month revenue delta. The "
    "unpartitioned window is safe ONLY because it sits above a "
    "bounded-cardinality aggregate (one row per month); never put a "
    "global-order window over raw fact rows at scale.",
)
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("revenue")
    )
    # bounded: |months| rows (monthly post-aggregate frame), not raw orders
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("mom_delta"),
    )


@register(
    "window_ntile_percent_rank",
    oracle="""
    SELECT o_orderkey,
           NTILE(4)       OVER (ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey) AS price_quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey), 6) AS pct_rank,
           ROUND(CUME_DIST()    OVER (ORDER BY o_totalprice ASC NULLS FIRST, o_orderkey), 6) AS cume
    FROM orders
    WHERE o_custkey < 50
    """,
    doc="distribution windows: ntile / percent_rank / cume_dist over a "
    "bounded subset — a global-order window single-partitions its "
    "input, so at 100 TB these run per-partition-key or over "
    "pre-aggregated data (see monthly_revenue_mom), never raw facts.",
)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    # explicit null placement: Spark defaults ASC NULLS FIRST, DuckDB
    # NULLS LAST — pin it so both engines rank null prices identically
    # bounded: o_custkey < 50 filter caps the frame (demo of the op;
    # real ntile runs partitioned or over pre-aggregated data, see doc)
    w = Window.orderBy(F.col("o_totalprice").asc_nulls_first(), "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "window_range_7day_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_7d_spend
    FROM orders
    """,
    doc="RANGE window frame over event time: per-customer rolling "
    "7-day spend. A RANGE frame is peer-aware (same-timestamp rows "
    "share a frame) so the result is deterministic under shuffle "
    "reordering, unlike a ROWS frame over ties. Partitioned by "
    "customer — no global window, scales with the key count.",
)
def window_range_7day_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    # exact 2-dp micro window sum (functions/money.py): the running
    # LONG frame total replaces a DECIMAL(22,2) frame buffer; one
    # decimal→double conversion per output row. A frame total
    # overflows only past ~1.5e11 rows per 7-day-per-customer frame
    # (ANSI throws if ever hit). Values identical.
    return orders.select(
        "o_orderkey",
        "o_custkey",
        micro_to_double(
            F.sum(money_micro(F.col("o_totalprice"))).over(w), 100
        ).alias("rolling_7d_spend"),
    )


@register(
    "timeseries_gapfill_locf",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(14,2))) AS day_value
      FROM {EVENTS_FINITE_SQL} WHERE user_id < 20 AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (
      SELECT u.user_id,
             CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds b
    )
    SELECT s.user_id, s.day,
           CAST(last_value(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS locf_value
    FROM spine s
    LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
    doc="time-series gap-fill: missing days filled by last observation "
    "carried forward, the TimescaleDB locf()/time_bucket_gapfill shape "
    "(oracle spells it the textbook way: dense spine LEFT JOIN + "
    "last_value IGNORE NULLS). The Spark plan is join-free segment "
    "explosion instead: lead(day) finds each observation's successor "
    "and ONE explode expands, per observation, the (day,value) struct "
    "run [day, next-1] — the LOCF fill IS the segment — prefixed for "
    "each user's first row (rn=1) by a null-valued head run from the "
    "global lo bound, so no spine join and no second pass. ONE "
    "exchange on the event data: repartition(user_id) feeds both the "
    "(user_id, day) aggregate (hash(user_id) clusters every (user_id, "
    "day) group) and the lead/row_number window; bounds are a 1-row "
    "broadcast agg straight off the scan. The naive spine-join plan "
    "costs 5 exchanges including a |users×days| join — measured, then "
    "replaced (same oracle hash).",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # null-valued events are NOT observations: the oracle's IGNORE
    # NULLS skips them, so a day whose values are all null must be a
    # GAP (filled from the previous day), not an observed null
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    ).where(
        (F.col("user_id") < 20) & F.col("value").isNotNull()
    )
    day_expr = F.to_date(F.date_trunc("day", "ts"))
    bounds = ev.agg(
        F.min(day_expr).alias("lo"), F.max(day_expr).alias("hi")
    )
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", day_expr.alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("day_value"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    segs = daily.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "day",
        "day_value",
        "lo",
        "hi",
        F.lead("day").over(w).alias("day_next"),
        F.row_number().over(w).alias("rn"),
    )
    run = F.expr(
        """
        concat(
          CASE WHEN rn = 1 AND day > lo
               THEN transform(sequence(lo, date_sub(day, 1), interval 1 day),
                              d -> struct(d AS day,
                                          CAST(NULL AS DECIMAL(24,2)) AS v))
               ELSE array() END,
          transform(sequence(day, coalesce(date_sub(day_next, 1), hi),
                             interval 1 day),
                    d -> struct(d AS day, day_value AS v)))
        """
    )
    return segs.select("user_id", F.explode(run).alias("s")).select(
        "user_id",
        F.col("s.day").alias("day"),
        F.col("s.v").cast("double").alias("locf_value"),
    )


_PAGINATION_SQL = """
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
"""


@register(
    "pagination_offset_orders",
    oracle=_PAGINATION_SQL,
    doc="keyset-free pagination: ORDER BY ... LIMIT 20 OFFSET 40 (page "
    "3 of the priciest orders), identical SQL text on both engines. "
    "The total order (price DESC, then key) makes the page "
    "deterministic. Scale note: OFFSET still sorts/skips the head on "
    "the driver side of the limit — fine for report pages; deep "
    "pagination at 100 TB should switch to keyset predicates "
    "(WHERE (price, key) < last_seen ORDER BY ... LIMIT k), which "
    "pushes into the scan.",
)
def pagination_offset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_PAGINATION_SQL)


@register(
    "pagination_keyset_orders",
    oracle="""
    WITH ls AS (
      SELECT o_totalprice AS ls_price, o_orderkey AS ls_key
      FROM orders ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 1 OFFSET 39
    )
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders, ls
    WHERE o_totalprice < ls_price
       OR (o_totalprice = ls_price AND o_orderkey > ls_key)
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="keyset (seek-method) pagination — the 100 TB-safe twin of "
    "pagination_offset_orders: the client passes the last-seen "
    "(o_totalprice, o_orderkey) as literals, so the page predicate "
    "`price < p OR (price = p AND key > k)` is PUSHED INTO THE SCAN "
    "(PushedFilters; plan-asserted in tests/test_plans.py) and the "
    "prefix is never re-read, unlike OFFSET which sorts/skips the "
    "head at every depth. Returns the same page 3 as the OFFSET "
    "query. The one-row boundary fetch is TakeOrderedAndProject "
    "(top-40 heap, no global sort).",
)
def pagination_keyset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # boundary = last row of page 2 (row 40 of the total order); in a
    # real API the client sends these two scalars back — fetching them
    # here keeps the query self-contained and deterministic
    head = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(40)
        .collect()
    )
    if len(head) < 40:  # fewer than 2 full pages -> page 3 is empty
        return (
            orders.limit(0)
            .select(
                "o_orderkey",
                F.col("o_totalprice").cast("double").alias("total_price"),
            )
        )
    ls_price, ls_key = head[-1]["o_totalprice"], head[-1]["o_orderkey"]
    return (
        orders.where(
            (F.col("o_totalprice") < F.lit(ls_price))
            | (
                (F.col("o_totalprice") == F.lit(ls_price))
                & (F.col("o_orderkey") > F.lit(ls_key))
            )
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
    )


# --------------------------------------------------------------------
# Window navigation with IGNORE NULLS + cume_dist.
# --------------------------------------------------------------------
@register(
    "window_ignore_nulls_last_purchase",
    oracle="""
    SELECT event_id, user_id,
           last_value(pv IGNORE NULLS) OVER w AS last_purchase_value,
           first_value(pv IGNORE NULLS) OVER w AS first_purchase_value,
           ROUND(cume_dist() OVER (PARTITION BY user_id ORDER BY event_id), 6)
             AS pos_frac
    FROM (SELECT event_id, user_id,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="IGNORE NULLS navigation: per user, the most recent and the "
    "earliest purchase value seen so far (non-purchase rows are NULL "
    "and skipped, the LOCF shape without a join), plus cume_dist "
    "position. Ordering is by event_id, not ts — the engine stores "
    "events at µs while DuckDB keeps ns, so a ts ORDER BY could tie "
    "differently across engines (SURVEY §2.C trap). Scale: one "
    "shuffle on user_id, sort within partitions; frames are "
    "running-accumulator, no O(n²) re-scan.",
)
def window_ignore_nulls_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    base = ev.select("event_id", "user_id", pv.alias("pv"))
    base.createOrReplaceTempView("v_events_ign")
    return spark.sql(
        """
        SELECT event_id, user_id,
               last_value(pv) IGNORE NULLS OVER w AS last_purchase_value,
               first_value(pv) IGNORE NULLS OVER w AS first_purchase_value,
               ROUND(cume_dist() OVER (PARTITION BY user_id ORDER BY event_id), 6)
                 AS pos_frac
        FROM v_events_ign
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    )


# --------------------------------------------------------------------
# Funnel: signup → purchase within 7 days, by signup-day cohort.
# --------------------------------------------------------------------
@register(
    "funnel_signup_purchase_7d",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT user_id, MIN(ts) AS purchase_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT CAST(DATE_TRUNC('day', signup_ts) AS DATE) AS signup_date,
           COUNT(*) AS n_signups,
           CAST(SUM(CASE WHEN purchase_ts >= signup_ts
                     AND purchase_ts <= signup_ts + INTERVAL 7 DAY
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(CASE WHEN purchase_ts >= signup_ts
                     AND purchase_ts <= signup_ts + INTERVAL 7 DAY
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
             AS conv_rate
    FROM s LEFT JOIN p USING (user_id)
    GROUP BY signup_date
    """,
    doc="two-stage funnel: first signup vs first purchase per user, "
    "7-day conversion window, grouped by signup day. Both stage "
    "aggregates reduce to |users| rows before the join, so the join "
    "input is dimension-sized regardless of event volume; one "
    "user_id shuffle feeds both branches (ReusedExchange).",
)
def funnel_signup_purchase_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    converted = (
        F.col("purchase_ts").isNotNull()
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS"))
    ).cast("long")
    return (
        signups.join(purchases, "user_id", "left")
        .groupBy(
            F.date_trunc("day", "signup_ts").cast("date").alias("signup_date")
        )
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum(converted).alias("n_converted"),
            F.round(
                F.sum(converted).cast("double") / F.count(F.lit(1)), 4
            ).alias("conv_rate"),
        )
    )


# --------------------------------------------------------------------
# Weekly cohort retention matrix: users by first-activity week ×
# weeks-since-cohort offset.
# --------------------------------------------------------------------
@register(
    "retention_cohort_weekly",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id,
             CAST(DATE_TRUNC('week', ts) AS DATE) AS activity_week
      FROM events
    )
    SELECT cohort_week,
           DATEDIFF('day', cohort_week, activity_week) // 7 AS week_offset,
           COUNT(*) AS active_users
    FROM activity JOIN cohort USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
    doc="cohort retention: first-event week per user joined back to "
    "per-week activity, counting distinct users per (cohort, offset) "
    "cell. The DISTINCT reduces activity to |users|×|weeks| before "
    "the join; both sides shuffle on user_id once. week_offset is an "
    "exact multiple of 7 days by construction (both sides "
    "week-truncated), so the integer division is engine-stable.",
)
def retention_cohort_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("activity_week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff("activity_week", "cohort_week") / F.lit(7)
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# --------------------------------------------------------------------
# Event-transition matrix: (event_type → next event_type) counts and
# per-source transition probabilities.
# --------------------------------------------------------------------
@register(
    "event_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type AS from_event,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
               AS to_event
      FROM events
    ), cnts AS (
      SELECT from_event, to_event, COUNT(*) AS transitions
      FROM nxt WHERE to_event IS NOT NULL
      GROUP BY from_event, to_event
    )
    SELECT from_event, to_event, transitions,
           ROUND(CAST(transitions AS DOUBLE) /
                 SUM(transitions) OVER (PARTITION BY from_event), 4) AS prob
    FROM cnts
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences: lead() ordered by event_id (verified monotone with "
    "ts per user — identical ordering on both engines, immune to the "
    "ns/µs truncation), then a window-over-aggregate normalizes "
    "counts to probabilities. One user_id shuffle for the sequence "
    "window; the 25-cell aggregate output makes the second window "
    "free.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_event"),
        F.lead("event_type").over(seq).alias("to_event"),
    ).where(F.col("to_event").isNotNull())
    cnts = nxt.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("transitions")
    )
    per_src = Window.partitionBy("from_event")
    return cnts.select(
        "from_event",
        "to_event",
        "transitions",
        F.round(
            F.col("transitions").cast("double")
            / F.sum("transitions").over(per_src),
            4,
        ).alias("prob"),
    )


@register(
    "event_pattern_funnels",
    oracle="""
    WITH g AS (
      -- COALESCE: a group whose event_types are ALL NULL must yield
      -- seq = '' like Spark's array_join (which skips null letters),
      -- not STRING_AGG's NULL (r9 full null-mirror sweep); both
      -- engines skip individual null letters identically
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COALESCE(
               STRING_AGG(left(event_type, 1), '' ORDER BY ts, event_id),
               '') AS seq,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day, n_events, seq,
           CAST(LEN(regexp_extract_all(seq, 's[vc]*p')) AS BIGINT)
             AS n_funnels,
           CAST(COALESCE(list_max(list_transform(
                  regexp_extract_all(seq, 's[vc]*p'),
                  m -> LENGTH(m))), 0) AS BIGINT) AS longest_funnel
    FROM g
    """,
    doc="MATCH_RECOGNIZE-style event-sequence pattern matching (the "
    "CEP / funnel-with-ordering class — SQL:2016 row pattern "
    "recognition, Flink CEP's bread and butter): per (user, day), "
    "events become a letter sequence in strict (ts, event_id) order "
    "(every event_type has a distinct initial; ties impossible at "
    "sub-day granularity — measured min inter-event gap 58 ms ≫ the "
    "µs-vs-ns engine precision gap), then the pattern "
    "signup (view|click)* purchase runs as the regex 's[vc]*p' — "
    "leftmost non-overlapping greedy matching is identical in Java "
    "and DuckDB's RE2 for this pattern class. Spark shape: ONE "
    "(user, day) aggregate; per-group sequences are day-bounded (the "
    "sessionization trick that keeps collect_list safe at 100 TB — "
    "never an unbounded per-user collect), then pure string "
    "expressions. n_funnels = completed funnels; longest_funnel = "
    "max matched span.",
)
def event_pattern_funnels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("l"),
        ).alias("s"),
    )
    seq = g.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list("s")), lambda s: s["l"]),
            "",
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    matches = F.expr("regexp_extract_all(seq, 's[vc]*p', 0)")
    return seq.select(
        "user_id",
        "day",
        "n_events",
        "seq",
        F.size(matches).cast("long").alias("n_funnels"),
        F.coalesce(
            F.array_max(F.transform(matches, lambda m: F.length(m))),
            F.lit(0),
        )
        .cast("long")
        .alias("longest_funnel"),
    )


@register(
    "ewma_user_value",
    oracle=f"""
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(list_transform(list_sort(vals),
                                      x -> CAST(x.v AS DOUBLE)),
                       (acc, x) -> x * 0.5 + acc * 0.5) AS ewma
    FROM (
      SELECT user_id,
             LIST({{'ts': ts, 'event_id': event_id, 'v': value}}) AS vals
      FROM {EVENTS_FINITE_SQL} GROUP BY user_id
    )
    """,
    doc="exponentially weighted moving average (alpha = 0.5, "
    "initialized at the first observation) of each user's event "
    "values, computed as an ORDERED LEFT FOLD over "
    "sort_array(collect_list(struct(ts, event_id, v))) — exactly the "
    "fold DuckDB spells list_reduce(list_sort(...)). Both engines "
    "execute the identical IEEE sequence (x*0.5 + acc*0.5 per step, "
    "ts-then-event_id tie-broken ordering), so the doubles are "
    "BIT-IDENTICAL with no rounding policy — EWMA's recursive "
    "definition makes it inexpressible as a window aggregate, and a "
    "naive per-engine implementation would diverge through "
    "accumulation order. One shuffle (user hash); per-key state is "
    "O(events-per-user) — the applyInPandasWithState streaming-twin "
    "shape shared with anomaly_rolling_zscore.",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # failed readings -> NULL at the scan: an un-cleaned
    # NaN would otherwise flow arithmetic-poison through the rest of
    # the user's fold. The fold's NULL semantics (a NULL observation
    # NULLs the accumulator from that step on — the ewma is marked
    # unavailable, the r9-mirror-proven behavior) now covers NaN/Inf
    # readings identically on both engines.
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value").select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "v")))
    per_user = ev.groupBy("user_id").agg(arr.alias("arr"))
    fold = F.aggregate(
        F.slice(F.col("arr"), 2, F.size("arr") - 1),
        F.element_at(F.col("arr"), 1)["v"],
        lambda acc, x: x["v"] * F.lit(0.5) + acc * F.lit(0.5),
    )
    return per_user.select(
        "user_id",
        F.size("arr").cast("long").alias("n_events"),
        fold.alias("ewma"),
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    ),
    stages AS (
      SELECT 1 AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, CAST(COUNT(*) AS BIGINT) FROM p
    )
    SELECT stage, n_users,
           CASE WHEN stage = 1 THEN 1.0
                WHEN LAG(n_users, 1) OVER (ORDER BY stage) > 0
                THEN CAST(n_users AS DOUBLE)
                     / LAG(n_users, 1) OVER (ORDER BY stage)
                ELSE NULL END AS conversion_from_prev
    FROM stages
    """,
    doc="ORDERED-SEQUENCE funnel (view -> later click -> later "
    "purchase): stage k is reached iff the user performed the stage-k "
    "event STRICTLY AFTER their stage-(k-1) entry time — the "
    "time-ordering constraint that distinguishes a funnel from three "
    "independent filters — completing the funnel family: "
    "funnel_signup_purchase_7d is the 2-stage windowed variant, "
    "event_pattern_funnels the regex-CEP variant, this the k-stage "
    "chained-conversion report (a user who purchased before ever viewing "
    "does not convert). Three chained conditional-min aggregates, "
    "each joined on user_id; timestamps never leave the plan (engines "
    "disagree on raw ts rendering, not ordering), only exact stage "
    "counts and their pairwise conversion ratios (one IEEE division "
    "each) are emitted. Plan: all three aggregates shuffle on the "
    "same user_id key, so at 100 TB one repartition(user_id) is "
    "reused across every stage with zero re-shuffles (co-partitioned "
    "joins); the final 3-row frame is driver-trivial. "
    "# bounded: 3-row stage frame for the LAG window.",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("stage"), "n_users"
        )
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage"), "n_users"
            )
        )
    )
    # bounded: 3-row stage frame
    # conversion is 1.0 at stage 1 by definition, NULL when the prior
    # stage is empty (0/0 must NOT read as 100% conversion, and a
    # blanket coalesce would also have masked the divide-by-zero NULL
    # divergence vs the oracle)
    w = Window.orderBy("stage")
    prev = F.lag("n_users", 1, None).over(w)
    return stages.select(
        "stage",
        "n_users",
        F.when(F.col("stage") == 1, F.lit(1.0))
        .when(prev > 0, F.col("n_users").cast("double") / prev.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("conversion_from_prev"),
    )


@register(
    "sessionize_gap30_events",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM {EVENTS_FINITE_SQL}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_seq
      FROM flagged
    )
    SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sess_seq
    """,
    doc="batch SESSIONIZATION with row-level session IDs: a new "
    "session starts when the gap to the previous event exceeds 30 "
    "minutes (first event of a user starts session 1 — the NULL lag "
    "falls through the CASE to 1 in both engines); session ids are "
    "the running sum of the new-session flags. This ASSIGNS an id to "
    "every row — the thing stream_session_window's aggregate-only "
    "session_window() cannot do — which is what joining other tables "
    "back to sessions requires. Timestamps never leave the plan "
    "(engines agree on ordering and interval comparison, not ts "
    "rendering). One shuffle (user hash) reused by both windows and "
    "the final aggregate — zero extra exchanges at any scale.",
)
def sessionize_gap30_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = F.col("ts") - F.lag("ts").over(w) <= F.expr("INTERVAL 30 MINUTE")
    flagged = ev.withColumn(
        "new_sess", F.when(gap_ok, 0).otherwise(1)
    )
    sess = flagged.withColumn(
        "sess_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "sess_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias(
            "total_value"
        ),
    )


@register(
    "attribution_linear_credit",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * 1000 AS v_mc
      FROM {EVENTS_FINITE_SQL}
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND ts IS NOT NULL
    ),
    t AS (
      SELECT p.pid, p.v_mc, c.event_type AS channel,
             c.ts AS c_ts, c.event_id AS c_id
      FROM p
      LEFT JOIN (SELECT * FROM {EVENTS_FINITE_SQL}
                 WHERE event_type IN ('view', 'click')
                   AND ts IS NOT NULL) c
        ON c.user_id = p.user_id
       AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    ),
    r AS (
      SELECT pid, v_mc, channel,
             CAST(COUNT(channel) OVER (PARTITION BY pid) AS BIGINT) AS k,
             ROW_NUMBER() OVER (
               PARTITION BY pid ORDER BY c_ts DESC, c_id DESC
             ) AS rk
      FROM t
    ),
    credits AS (
      SELECT COALESCE(channel, 'unattributed') AS channel,
             CASE
               WHEN channel IS NULL THEN v_mc
               ELSE v_mc // k + CASE WHEN rk = 1 THEN v_mc % k ELSE 0 END
             END AS credit_mc
      FROM r
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit_mc) AS BIGINT) AS credit_mc,
           CAST(SUM(credit_mc) AS DOUBLE) / 100000 AS credit_usd
    FROM credits GROUP BY channel
    """,
    doc="LINEAR MULTI-TOUCH ATTRIBUTION with EXACT INTEGER credit "
    "conservation: each purchase's value is split across the user's "
    "view/click touches in the preceding 30 minutes — v_millicents "
    "DIV k per touch, REMAINDER to the most recent touch (the "
    "Hamilton-apportionment trick from sample_quota_apportion) — so "
    "sum(credit) == sum(purchase value) EXACTLY, the invariant "
    "float-fraction attribution (v/k summed per channel) violates "
    "through both rounding drift and accumulation order. Zero-touch "
    "purchases flow whole into an 'unattributed' bucket instead of "
    "vanishing (a LEFT interval join, the "
    "stream_stream_interval_join shape at 30 min). Everything is "
    "BIGINT until one display division. Scale: one user-keyed "
    "interval join + one per-purchase window (purchases are the "
    "natural partition key); channel aggregate is map-side-combined. "
    "Conservation is property-tested.",
)
def attribution_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    p = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        (F.floor(F.col("value") * 100 + 0.5).cast("long") * 1000).alias(
            "v_mc"
        ),
    )
    c = ev.where(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    ).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        F.col("event_type").alias("channel"),
    )
    t = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    w_pid = Window.partitionBy("pid")
    r = t.select(
        "pid",
        "v_mc",
        "channel",
        F.count("channel").over(w_pid).alias("k"),
        F.row_number()
        .over(w_pid.orderBy(F.col("c_ts").desc(), F.col("c_id").desc()))
        .alias("rk"),
    )
    credit = F.when(F.col("channel").isNull(), F.col("v_mc")).otherwise(
        F.expr("v_mc DIV k")
        + F.when(F.col("rk") == 1, F.col("v_mc") % F.col("k")).otherwise(0)
    )
    credits = r.select(
        F.coalesce("channel", F.lit("unattributed")).alias("channel"),
        credit.alias("credit_mc"),
    )
    return credits.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_mc").alias("credit_mc"),
        (F.sum("credit_mc").cast("double") / 100000).alias("credit_usd"),
    )
