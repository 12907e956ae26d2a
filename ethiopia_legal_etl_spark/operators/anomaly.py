"""Streaming-shaped anomaly detection: rolling z-score outliers over
per-user event streams, with the flag decision in EXACT INTEGER
arithmetic (no float threshold anywhere).

The standard telemetry operator — "flag an event whose value sits more
than 3σ from the trailing-window mean" — normally leaks float
nondeterminism through the running sums (a window SUM over DOUBLE is
accumulation-order-dependent, so two engines legitimately disagree in
the last bits, and a value sitting exactly near the 3σ edge flips).
This implementation quantizes once (v = FLOOR(value·100), a single
deterministic IEEE multiply+floor) and then clears ALL denominators
from the z² > 9 test:

    z² = (v·n − s)²(n−1) / (n·(n·ss − s²))   >   9
  ⟺ (v·n − s)²·(n−1)  >  9·n·(n·ss − s²)      — pure BIGINT.

So the anomaly set is bit-reproducible across engines, runs, and
partitionings; z² is additionally emitted as one division of the two
exactly-agreed integers. Magnitude audit: with |v| ≤ B and window
n ≤ 10, |s| ≤ 10B, |v·n − s| ≤ 20B, so the largest term
(v·n−s)²·(n−1) ≤ 3600·B² — below 2⁶³ for B ≤ 5·10⁷ (values up to
$500k in cents). The bound is ENFORCED, not assumed:
any |v| > _V_BOUND raises at runtime rather than letting Spark
silently wrap int64 where DuckDB would raise — keeping the
"bit-reproducible" claim honest on arbitrary inputs.

Scale notes: one shuffle (hash on user_id for the per-user ordered
window); trailing ROWS frames stream in Structured Streaming as
`applyInPandasWithState` per-key deques — the batch twin here pins
the semantics. 100 TB: users are the natural partition key; skewed
power-users fall under AQE skew handling, and the frame is O(10) rows
of state per key regardless of history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.functions.measures import EVENTS_FINITE_SQL, clean_measures
from ethiopia_legal_etl_spark.sources.tables import load_table

_WIN = 10  # trailing-window length (rows), excludes the current row
_ZSQ = 9  # flag |z| > 3  ⇔  z² > 9
# |v| bound keeping every BIGINT term of the z² test under 2^63
# (3600·B² < 2^63 ⇔ B ≤ 5·10⁷ cents = $500k); enforced via raise_error.
_V_BOUND = 50_000_000


@register(
    "anomaly_rolling_zscore",
    oracle=f"""
    WITH q AS (
      SELECT event_id, user_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS v,
             ts
      FROM {EVENTS_FINITE_SQL}
    ),
    w AS (
      SELECT event_id, user_id, v,
             CAST(COUNT(v) OVER win AS BIGINT) AS n_prev,
             CAST(COALESCE(SUM(v) OVER win, 0) AS BIGINT) AS s,
             CAST(COALESCE(SUM(v * v) OVER win, 0) AS BIGINT) AS ss
      FROM q
      WINDOW win AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN {_WIN} PRECEDING AND 1 PRECEDING
      )
    )
    SELECT event_id, user_id, v, n_prev,
           (v * n_prev - s) * (v * n_prev - s) * (n_prev - 1) AS zsq_num,
           {_ZSQ} * n_prev * (n_prev * ss - s * s) AS zsq_thresh9,
           CAST((v * n_prev - s) * (v * n_prev - s) * (n_prev - 1)
                AS DOUBLE)
             / CAST(n_prev * (n_prev * ss - s * s) AS DOUBLE) AS zsq,
           v * n_prev > s AS spike_up
    FROM w
    WHERE n_prev = {_WIN}
      AND n_prev * ss > s * s
      AND (v * n_prev - s) * (v * n_prev - s) * (n_prev - 1)
          > {_ZSQ} * n_prev * (n_prev * ss - s * s)
    """,
    doc="Rolling z-score anomaly detection over per-user event streams "
    "(trailing 10-event frame, flag |z| > 3) with the flag decision in "
    "EXACT INTEGER arithmetic: values quantized once to cents, then "
    "(v·n−s)²(n−1) > 9·n(n·ss−s²) — all BIGINT, so the anomaly set is "
    "bit-reproducible (a float window-sum formulation is accumulation-"
    "order-dependent and engine-divergent at the 3σ edge). z² emitted "
    "as one division of the two agreed integers. One shuffle (user "
    "hash); O(frame) state per key — the applyInPandasWithState "
    "streaming twin shape.",
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    v_raw = F.floor(F.col("value") * 100).cast("long")
    # Enforce the documented no-overflow bound: fail loudly instead of
    # wrapping int64 (DuckDB raises on BIGINT overflow; Spark wraps —
    # an unguarded overflow would silently diverge cross-engine).
    v = F.when(
        F.abs(v_raw) > _V_BOUND,
        F.raise_error(
            F.concat(
                F.lit(f"anomaly_rolling_zscore: |v| exceeds {_V_BOUND} "
                      "(cents) — BIGINT z² test would overflow; value="),
                F.col("value").cast("string"),
            )
        ).cast("long"),
    ).otherwise(v_raw)
    q = ev.select(
        "event_id",
        "user_id",
        v.alias("v"),
        "ts",
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_WIN, -1)
    )
    w = q.select(
        "event_id",
        "user_id",
        "v",
        F.count("v").over(win).alias("n_prev"),
        F.coalesce(F.sum("v").over(win), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("v") * F.col("v")).over(win), F.lit(0)).alias(
            "ss"
        ),
    )
    dev = F.col("v") * F.col("n_prev") - F.col("s")
    var_num = F.col("n_prev") * F.col("ss") - F.col("s") * F.col("s")
    zsq_num = dev * dev * (F.col("n_prev") - 1)
    zsq_thresh = F.lit(_ZSQ) * F.col("n_prev") * var_num
    return (
        w.where(
            (F.col("n_prev") == _WIN)
            & (var_num > 0)
            & (zsq_num > zsq_thresh)
        )
        .select(
            "event_id",
            "user_id",
            "v",
            "n_prev",
            zsq_num.alias("zsq_num"),
            zsq_thresh.alias("zsq_thresh9"),
            (
                zsq_num.cast("double")
                / (F.col("n_prev") * var_num).cast("double")
            ).alias("zsq"),
            (dev > 0).alias("spike_up"),
        )
    )


@register(
    "forecast_seasonal_naive_eval",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(14,2))) AS rev
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
      GROUP BY event_type, day
    ),
    ev AS (
      SELECT c.event_type,
             ABS(c.rev - p1.rev) AS ae1,
             ABS(c.rev - p7.rev) AS ae7,
             (c.rev - p1.rev) * (c.rev - p1.rev) AS se1
      FROM daily c
      JOIN daily p1 ON p1.event_type = c.event_type
                   AND p1.day = c.day - INTERVAL 1 DAY
      JOIN daily p7 ON p7.event_type = c.event_type
                   AND p7.day = c.day - INTERVAL 7 DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ae1) AS DOUBLE) / COUNT(*) AS mae,
           SQRT(CAST(SUM(se1) AS DOUBLE) / COUNT(*)) AS rmse,
           CAST(SUM(ae1) AS DOUBLE)
             / NULLIF(CAST(SUM(ae7) AS DOUBLE), 0.0) AS mase
    FROM ev GROUP BY event_type
    """,
    doc="FORECAST-ACCURACY EVALUATION per event_type: the naive-1 "
    "forecast (yesterday's daily revenue predicts today's) scored "
    "with MAE, RMSE, and MASE (Hyndman & Koehler 2006 — absolute "
    "error scaled by the SEASONAL-naive m=7 error, so mase < 1 means "
    "'beats predicting last week's same weekday'). The eval window "
    "is days where BOTH the 1-day and 7-day lags exist, via CALENDAR "
    "self-joins on (event_type, day - 1/7) rather than positional "
    "LAGs — a missing day must shrink the eval set, not silently "
    "shift the forecast horizon. Exactness: daily revenue and every "
    "|e| / e^2 term are exact DECIMALs (order-free sums, no fold "
    "needed); mae/rmse/mase are single IEEE expressions of the "
    "exactly-agreed decimal totals; zero seasonal denominator emits "
    "NULL mase. Completes the time-series family: gapfill (LOCF), "
    "ewma_user_value (smoothing), monthly_revenue_mom (growth), "
    "anomaly_rolling_zscore (outliers) — this is the eval harness "
    "for the forecasts those feed. Scale: one map-side-combined "
    "groupBy to |types| x |days| rows; the self-joins run on the "
    "tiny aggregate.",
)
def forecast_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("rev"))
    )
    c = daily.select(
        "event_type", "day", F.col("rev").alias("rev_c")
    )
    p1 = daily.select(
        "event_type",
        F.date_add("day", 1).alias("day"),
        F.col("rev").alias("rev_p1"),
    )
    p7 = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("rev").alias("rev_p7"),
    )
    e1 = F.col("rev_c") - F.col("rev_p1")
    evd = (
        c.join(p1, ["event_type", "day"])
        .join(p7, ["event_type", "day"])
        .select(
            "event_type",
            F.abs(e1).alias("ae1"),
            F.abs(F.col("rev_c") - F.col("rev_p7")).alias("ae7"),
            (e1 * e1).alias("se1"),
        )
    )
    return evd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("ae1").cast("double") / F.count(F.lit(1))).alias("mae"),
        F.sqrt(F.sum("se1").cast("double") / F.count(F.lit(1))).alias("rmse"),
        (
            F.sum("ae1").cast("double")
            / F.nullif(F.sum("ae7").cast("double"), F.lit(0.0))
        ).alias("mase"),
    )


@register(
    "retention_kaplan_meier",
    oracle="""
    WITH horizon AS (
      SELECT MAX(ts) AS t_max FROM events
    ),
    subj AS (
      -- subject = each NON-purchase interaction; "death" = the same
      -- user\'s next purchase at or after it; no later purchase ->
      -- right-censored at the corpus horizon
      SELECT e.event_id,
             MIN(p.ts) AS np
      FROM (SELECT * FROM events WHERE event_type != \'purchase\') e
      LEFT JOIN (SELECT user_id, ts FROM events
                 WHERE event_type = \'purchase\') p
        ON p.user_id = e.user_id AND p.ts >= e.ts
      GROUP BY e.event_id
    ),
    durs AS (
      SELECT date_diff(\'day\', e.ts,
                       COALESCE(s.np, h.t_max)) AS dur,
             CASE WHEN s.np IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM events e
      JOIN subj s ON s.event_id = e.event_id
      CROSS JOIN horizon h
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subj FROM durs),
    at_t AS (
      SELECT dur AS t,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM durs GROUP BY dur
    ),
    risk AS (
      SELECT t, d,
             CAST(tot.n_subj
                  - COALESCE(SUM(leaving) OVER (
                      ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n_risk
      FROM at_t CROSS JOIN tot
    ),
    surv AS (
      SELECT risk.t AS t, risk.d AS d, risk.n_risk AS n_risk,
             ROUND(list_reduce(
               list_prepend(1.0, list_transform(
                 list_sort(LIST({\'t\': s.t,
                                 \'f\': CAST(s.n_risk - s.d AS DOUBLE)
                                      / s.n_risk})
                           FILTER (s.d > 0 AND s.t <= risk.t)),
                 x -> x.f)),
               (acc, x) -> acc * x), 6) + 0 AS survival
      FROM risk, risk s
      GROUP BY risk.t, risk.d, risk.n_risk
    )
    SELECT t, d, n_risk, survival FROM surv WHERE d > 0
    """,
    doc="KAPLAN-MEIER TIME-TO-CONVERSION with right-censoring (Kaplan "
    "& Meier 1958): subjects are non-purchase interactions, the "
    "event is the same user\'s next purchase at-or-after them, and "
    "interactions after the user\'s last purchase are CENSORED at "
    "the corpus horizon — they leave the risk set without counting "
    "as a conversion, which is exactly what a naive \'conversion "
    "within the observation window\' rate gets wrong (it counts the "
    "truncated tail as failures, biasing conversion down). "
    "S(t) = prod over death times t_i <= t of (1 - d_i/n_i). "
    "Exactness: day durations, death counts and risk sets are exact "
    "BIGINTs (risk set = one prefix-sum window over the per-duration "
    "aggregate); each KM factor is ONE IEEE division; the product "
    "folds in DEATH-TIME ORDER on both engines (multiplication is as "
    "reassociation-sensitive as addition), round(6) once at the end. "
    "Sibling: retention_cohort_weekly (calendar cohorts, no "
    "censoring); asof_error_prev_purchase is the backward as-of twin "
    "of the forward next-purchase lookup here. Scale: the "
    "next-purchase lookup is a per-user window (one hash shuffle on "
    "user_id, the natural key); everything after runs on the "
    "<= |distinct day durations| frame.",
)
def retention_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("t_max"))
    # forward-looking running min over the user\'s own stream: the
    # next purchase ts at or after each event (purchases themselves
    # are excluded as subjects below)
    # RANGE frame, not ROWS: the oracle's predicate is p.ts >= e.ts,
    # and a rows-frame would exclude a same-microsecond purchase that
    # happens to sort before the event on the tiebreak column
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    np_ = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w_fwd)
    durs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("np", np_)
        .where(F.col("event_type") != "purchase")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(
                F.coalesce(F.col("np"), F.col("t_max")), F.col("ts")
            )
            .cast("long")
            .alias("dur"),
            F.when(F.col("np").isNotNull(), 1).otherwise(0).alias("died"),
        )
    )
    at_t = durs.groupBy(F.col("dur").alias("t")).agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    tot = durs.agg(F.count(F.lit(1)).alias("n_subj"))
    # bounded: windows over the <= |distinct day durations| frame
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = at_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n_subj")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    factor = F.when(
        F.col("d") > 0,
        (F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk"),
    ).otherwise(F.lit(1.0))
    km = risk.select("t", "d", "n_risk", factor.alias("f"))
    # prefix products over the tiny per-duration frame: join each
    # death time to all factors at <= t, fold in death-time order
    folded = F.aggregate(
        F.transform(
            F.filter(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("t2").alias("t"), F.col("f2").alias("f")
                        )
                    )
                ),
                lambda x: x["f"] != 1.0,
            ),
            lambda x: x["f"],
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    pairs = km.select(F.col("t").alias("t_out"), "d", "n_risk").join(
        km.select(F.col("t").alias("t2"), F.col("f").alias("f2")),
        F.col("t2") <= F.col("t_out"),
    )
    return (
        pairs.groupBy("t_out", "d", "n_risk")
        .agg((F.round(folded, 6) + 0).alias("survival"))
        .where(F.col("d") > 0)
        .select(F.col("t_out").alias("t"), "d", "n_risk", "survival")
    )


@register(
    "trend_theil_sen_slope",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01',
                       CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE))
               AS x,
             SUM(CAST(value AS DECIMAL(14,2))) AS y
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL
      GROUP BY event_type, x
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MEDIAN(slope) AS ts_slope
    FROM slopes GROUP BY event_type
    """,
    doc="THEIL-SEN ROBUST TREND SLOPE per event_type (Theil 1950 / "
    "Sen 1968): the MEDIAN of all pairwise slopes of the daily "
    "revenue series — 29.3% breakdown point, so a corrupted day "
    "cannot swing the trend estimate the way it swings OLS "
    "(regr_quantity_price is the OLS sibling). Exactness: x is an "
    "integer day index, y an exact DECIMAL daily sum; each slope is "
    "ONE IEEE division of a decimal-exact numerator by an integer "
    "gap (identical op tree both engines), and MEDIAN over a DOUBLE "
    "column interpolates identically cross-engine "
    "(median_bool_flags parity note) — raw-double hash, no rounding "
    "policy. Scale: the O(days^2) pair join runs on the per-day "
    "AGGREGATE (|days| rows per type, equi-keyed on event_type), "
    "never on raw events; at 100 TB with long histories pass "
    "trailing_days (e.g. 90): the series is clipped to the last N "
    "days per type BEFORE the pair join, bounding it at N^2/2 pairs "
    "per type regardless of history length (measured in SCALING.md; "
    "the registry entry keeps the full series so the "
    "oracle stays parameter-free).",
)
def trend_theil_sen_slope(
    spark: SparkSession, sf_dir: str, trailing_days: int | None = None
) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    daily = (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01")
            ).alias("x"),
        )
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("y"))
    )
    if trailing_days is not None:
        # clip each type's series to its trailing window on the per-day
        # AGGREGATE: per-type max is a tiny broadcast back — the pair
        # join below then costs <= trailing_days^2/2 pairs per type no
        # matter how long the raw history grows
        last = daily.groupBy("event_type").agg(F.max("x").alias("x_max"))
        daily = (
            daily.join(F.broadcast(last), "event_type")
            .where(F.col("x") > F.col("x_max") - trailing_days)
            .drop("x_max")
        )
    a = daily.select(
        "event_type", F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        "event_type", F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = a.join(b, "event_type").where(F.col("x1") < F.col("x2")).select(
        "event_type",
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1"))
        ).alias("slope"),
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.median("slope").alias("ts_slope"),
    )


@register(
    "twap_event_type",
    oracle=f"""
    WITH o AS (
      SELECT event_type, ts, event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_c,
             LEAD(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS nxt
      FROM {EVENTS_FINITE_SQL} WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    w AS (
      SELECT event_type, v_c,
             CAST(epoch_us(nxt) - epoch_us(ts) AS BIGINT) AS w_us
      FROM o WHERE nxt IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CAST(w_us AS DECIMAL(38,0))) AS BIGINT) AS span_us,
           CASE WHEN SUM(CAST(w_us AS DECIMAL(38,0))) = 0 THEN NULL
                ELSE CAST(SUM(CAST(w_us AS DECIMAL(38,0))
                              * CAST(v_c AS DECIMAL(38,0))) AS DOUBLE)
                     / CAST(SUM(CAST(w_us AS DECIMAL(38,0))) AS DOUBLE)
                     / 100
           END AS twap
    FROM w GROUP BY event_type
    """,
    doc="TIME-WEIGHTED AVERAGE VALUE per event_type (the TWAP / "
    "telemetry-gauge aggregation): each observation holds until the "
    "next one, so its weight is the microsecond gap to the successor "
    "— the correct average for irregularly-sampled gauges, where the "
    "plain mean over-weights bursts (a burst of 100 readings in one "
    "second should not dominate an hour of steady state). Exactness: "
    "cents x microsecond-gap products are exact DECIMAL(38,0) terms "
    "(<= 1.3e14/row, order-free sums), the TWAP is two IEEE "
    "divisions of agreed totals; both engines compute epoch "
    "microseconds from the same µs-precision timestamps and order by "
    "(ts, event_id) so tied timestamps weight identically. The final "
    "open-ended observation has no successor and carries zero weight "
    "(excluded on both sides). Degenerate clock: when every event in "
    "a group shares one microsecond (a same-us burst — plausible for "
    "a rare event_type at 100 TB), every gap weight is 0 and the "
    "span is zero-length, so the TWAP is undefined -> NULL on both "
    "engines (try_divide / CASE WHEN), never an ANSI DIVIDE_BY_ZERO "
    "job kill. Scale: one hash shuffle on event_type "
    "+ a per-type LEAD window (the grouped-rank shape), then a "
    "map-side-combined aggregate. Sibling: ewma_user_value "
    "(exponential decay by COUNT), this weights by WALL TIME.",
)
def twap_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    o = ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull()).select(
        "event_type",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v_c"),
        F.lead("ts")
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    w = o.where(F.col("nxt").isNotNull()).select(
        "event_type",
        "v_c",
        # ts loads as TIMESTAMP_NTZ; session tz is pinned UTC, so the
        # NTZ->LTZ cast is exact and unix_micros matches epoch_us
        (
            F.unix_micros(F.col("nxt").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("w_us"),
    )
    wd = F.col("w_us").cast("decimal(38,0)")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(wd).cast("long").alias("span_us"),
        # try_divide: a same-microsecond burst (every event in a group
        # sharing one ts) makes every gap weight 0 while the rows
        # still survive the nxt-IS-NOT-NULL filter, so sum(wd) = 0 —
        # the TWAP is undefined over a zero-length span and must be
        # NULL, not a job-killing ANSI DIVIDE_BY_ZERO (the
        # degenerate-clock class; oracle mirrors with CASE WHEN).
        (
            F.try_divide(
                F.sum(wd * F.col("v_c").cast("decimal(38,0)")).cast(
                    "double"
                ),
                F.sum(wd).cast("double"),
            )
            / 100
        ).alias("twap"),
    )
