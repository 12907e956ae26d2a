"""Streaming operators — batch-first (oracle-checkable) windowed
aggregations plus true Structured Streaming variants.

The reference's only stream is the append-only, 50-line-capped
status.log (deploy-gh-pages.yml:19-20; SURVEY.md §1.1) — here
generalized to event-time windowing over `events`.

Batch window()/session_window() share semantics with their streaming
twins, so the DuckDB oracle validates the windowing logic once; the
streaming functions reuse the same transformations over readStream
(tested with file sources + availableNow trigger in tests/).

Timestamp precision: events.ts is ns in parquet; Spark truncates to
µs. Window membership is unaffected (floor within the same µs can't
cross a second-aligned boundary), and outputs expose only
second-truncated strings — never raw ts (see operators/etl.py note).

Scale: windowed aggs shuffle on (window, key) — bounded cardinality;
watermarks bound state for the streaming variants. Session windows
use Spark's native session_window (state merges server-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.registry import register
from ethiopia_legal_etl_spark.functions.measures import clean_measures
from ethiopia_legal_etl_spark.sources.tables import load_table

TS_FMT = "yyyy-MM-dd HH:mm:ss"


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL 10 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*)              AS cnt,
           ROUND(SUM(value), 2)  AS sum_value
    FROM events
    GROUP BY time_bucket(INTERVAL 10 MINUTE, ts), event_type
    """,
    doc="tumbling 10-min event-time window (batch twin of the streaming "
    "groupBy(window(ts,'10 minutes')))",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, value FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) FROM events) events
      UNION ALL
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE, value FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) FROM events) events
    )
    SELECT STRFTIME(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*)             AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM assigned
    GROUP BY window_start
    """,
    doc="sliding window 10-min / hop 5-min (each event lands in 2 windows)",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    return (
        # avg via exact decimal sum / count: both engines divide the
        # SAME double by the same int — bitwise-identical result, no
        # round-tie risk (value is a 2-dp quantity)
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "cnt",
            "avg_value",
        )
    )


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           STRFTIME(DATE_TRUNC('second', MIN(ts)), '%Y-%m-%d %H:%M:%S')
             AS session_start,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    doc="session windows, 5-min gap, per user (session_window; oracle = "
    "gaps-and-islands SQL)",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.date_trunc("second", "w.start"), TS_FMT).alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


@register(
    "hypertable_rollup",
    oracle="""
    WITH base AS (
      SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS minute_b,
             time_bucket(INTERVAL 1 HOUR, ts)   AS hour_b,
             CAST(DATE_TRUNC('day', ts) AS DATE) AS day_b,
             event_type, value
      FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) FROM events) events
    )
    SELECT
      CASE WHEN GROUPING(minute_b) = 0 THEN 'minute'
           WHEN GROUPING(hour_b)   = 0 THEN 'hour'
           ELSE 'day' END AS resolution,
      STRFTIME(COALESCE(minute_b, hour_b, CAST(day_b AS TIMESTAMP)),
               '%Y-%m-%d %H:%M:%S') AS bucket_start,
      event_type,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM base
    GROUP BY GROUPING SETS (
      (minute_b, event_type), (hour_b, event_type), (day_b, event_type)
    )
    """,
    doc="hypertable-style continuous-aggregate rollup: one pass emits "
    "minute+hour+day resolutions via GROUPING SETS over time buckets "
    "(the partial-agg tree a time-series store maintains, expressed "
    "as a single shuffle with grouping-set expansion)",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    ev.select(
        F.date_trunc("minute", "ts").alias("minute_b"),
        F.date_trunc("hour", "ts").alias("hour_b"),
        F.date_trunc("day", "ts").alias("day_b"),
        "event_type",
        "value",
    ).createOrReplaceTempView("v_events_rollup")
    return spark.sql(
        """
        SELECT
          CASE WHEN GROUPING(minute_b) = 0 THEN 'minute'
               WHEN GROUPING(hour_b)   = 0 THEN 'hour'
               ELSE 'day' END AS resolution,
          DATE_FORMAT(COALESCE(minute_b, hour_b, day_b),
                      'yyyy-MM-dd HH:mm:ss') AS bucket_start,
          event_type,
          COUNT(*) AS cnt,
          CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        FROM v_events_rollup
        GROUP BY GROUPING SETS (
          (minute_b, event_type), (hour_b, event_type), (day_b, event_type)
        )
        """
    )


@register(
    "stream_static_enrich",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             CASE WHEN SUM(value) >= 100 THEN 'high' ELSE 'low' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT STRFTIME(time_bucket(INTERVAL 10 MINUTE, e.ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           d.tier,
           COUNT(*)             AS cnt,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN dim d USING (user_id)
    GROUP BY time_bucket(INTERVAL 10 MINUTE, e.ts), d.tier
    """,
    doc="stream-static enrichment join, batch twin: events joined to a "
    "static per-user tier dimension (derived once from history), then "
    "tumbling 10-min counts per tier. The streaming variant "
    "(streaming_enriched_counts) broadcast-joins the SAME dim to each "
    "micro-batch — the standard enrichment pattern where only the "
    "stream shuffles (on the window/tier agg key) and the dim never "
    "does.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim = user_tier_dim(ev)
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "tier")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "tier",
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_dedup_twin",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) FROM events) events
    GROUP BY event_type
    """,
    doc="stateful streaming dedup, batch twin: the input stream is "
    "doubled (every event delivered twice — the at-least-once "
    "redelivery regime dropDuplicatesWithinWatermark exists for), "
    "deduped to exactly one row per event_id, then aggregated per "
    "event_type. The oracle is the UN-doubled corpus aggregate, so "
    "the check proves the dedup removed exactly the redeliveries and "
    "nothing else. The true-stream variant "
    "(streaming_dedup_within_watermark) holds only a watermark-"
    "bounded event_id state window — the 100 TB story: state is "
    "|ids in horizon|, not |history|. Batch side shuffles once on "
    "event_id (dedup) and once on the tiny event_type key.",
)
def stream_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(load_table(spark, sf_dir, "events"), "value")
    doubled = ev.unionByName(ev)
    deduped = doubled.dropDuplicates(["event_id"])
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(c.event_id) AS n_clicks,
           CAST(COALESCE(SUM(c.event_id), 0) AS BIGINT) AS click_id_sum
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    GROUP BY p.event_id
    """,
    doc="stream-stream interval join, batch twin: each purchase joined "
    "to the same user's clicks in the preceding hour (click-to-buy "
    "attribution), LEFT so zero-click purchases stay visible. The true "
    "stream-stream variant (streaming_purchase_click_join) runs the "
    "SAME condition as a watermarked Structured Streaming join: both "
    "sides keyed on user_id, and the time-range predicate lets Spark "
    "bound join state — a purchase is evicted once the watermark "
    "passes its ts (no future click can precede it), a click once the "
    "watermark passes ts + 1h. The 100 TB story: state is the 1-hour "
    "horizon per side, not stream history, and the batch plan is a "
    "plain user_id equi-join (one shuffle) with the range as a "
    "residual filter — never a cartesian. Both engines compare ts at "
    "identical µs precision, and click_id_sum is cast BIGINT (DuckDB "
    "SUM(BIGINT) promotes to the driver-unsafe HUGEINT).",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("click_id").alias("n_clicks"),
        F.coalesce(F.sum("click_id"), F.lit(0))
        .cast("bigint")
        .alias("click_id_sum"),
    )


def user_tier_dim(events: DataFrame) -> DataFrame:
    """Static per-user tier dimension: total historical value >= 100 →
    'high', else 'low'. Built once from a batch read; at 100 TB this is
    the precomputed dim table the stream enriches against."""
    return events.groupBy("user_id").agg(
        F.when(F.sum("value") >= 100, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("tier")
    )


# ---------------------------------------------------------------------
# True Structured Streaming variants (exercised in tests/ via file
# sources with availableNow; not oracle-checkable -> not registered).
# ---------------------------------------------------------------------


def as_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local time
    zone) so `withWatermark` accepts it.

    The driver testdata's events.ts loads as TIMESTAMP_NTZ, and Spark 4
    raises [EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] when a watermark is
    applied to NTZ. The session time zone is pinned UTC
    (session.RUNTIME_CONFS), so NTZ -> LTZ is value-identical; on an
    already-LTZ column the cast is a no-op."""
    return df.withColumn(col, F.col(col).cast("timestamp_ltz"))


def streaming_tumbling_counts(events_stream: DataFrame) -> DataFrame:
    """readStream twin of stream_tumbling_window with a 10-min
    watermark: late events beyond the watermark are dropped, state is
    bounded. Append-mode compatible (aggregation keyed on the window)."""
    return (
        as_event_time(events_stream).withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value"
        )
    )


def streaming_enriched_counts(
    events_stream: DataFrame, user_dim: DataFrame
) -> DataFrame:
    """readStream twin of stream_static_enrich: stream-STATIC join —
    each micro-batch broadcast-joins the static per-user dim (no
    watermark needed on the static side, no join state kept; the only
    stateful op is the windowed agg). The dim is re-resolved per
    micro-batch, so a dim refresh (rewritten table) is picked up
    without restarting the query."""
    return (
        as_event_time(events_stream)
        .withWatermark("ts", "10 minutes")
        .join(F.broadcast(user_dim), "user_id")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "tier")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "tier", "cnt", "sum_value"
        )
    )


def streaming_sliding_counts(events_stream: DataFrame) -> DataFrame:
    """readStream twin of stream_sliding_window (10-min window, 5-min
    hop — each event lands in 2 windows) with a 10-min watermark."""
    return (
        as_event_time(events_stream)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "cnt", "avg_value")
    )


def streaming_session_counts(events_stream: DataFrame) -> DataFrame:
    """readStream twin of stream_session_window: native session_window
    with a 10-min watermark — state merges sessions server-side and
    closes them once the watermark passes the gap, so state is bounded
    by |open sessions|, not history. Append-mode compatible."""
    return (
        as_event_time(events_stream)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_trunc("second", "w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup_within_watermark(events_stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup: drop duplicate event_ids arriving
    within the watermark horizon (exactly-once-per-event_id analog of
    the reference's incremental skip, A-6)."""
    return (
        as_event_time(events_stream)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def streaming_purchase_click_join(
    purchases_stream: DataFrame,
    clicks_stream: DataFrame,
    join_type: str = "inner",
) -> DataFrame:
    """True stream-stream join twin of stream_stream_interval_join:
    purchases x clicks on user_id within a 1-hour lookback, both sides
    watermarked (10 min) so Spark derives state-eviction bounds from
    the range condition — purchase state drops once the watermark
    passes p_ts, click state once it passes c_ts + 1h. Inner matches
    emit eagerly; with join_type='leftouter' the null-augmented rows
    for never-matched purchases emit only after their state is evicted
    (the watermark-delayed outer-join semantics Structured Streaming
    documents). State is bounded by the 1-hour horizon per side."""
    p = (
        as_event_time(purchases_stream)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    c = (
        as_event_time(clicks_stream)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    return p.join(
        c,
        F.expr(
            "p_user = c_user"
            " AND c_ts >= p_ts - INTERVAL 1 HOUR"
            " AND c_ts <= p_ts"
        ),
        join_type,
    ).select("purchase_id", "click_id", "p_ts", "c_ts")


def streaming_user_running_state(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value sum emitted on every batch — the
    applyInPandasWithState carrier from SURVEY.md §2.B."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _make_running_totals_processor():
    """Build the RunningTotals StatefulProcessor class. Module-level
    factory (not nested in streaming_user_state_tws) so the batch
    differential test can drive handleInputRows with a fake ValueState
    even where the TWS protobuf state channel is unavailable — the
    processor LOGIC stays exercised while the channel test skips
   . The base-class import is protobuf-free; only the
    runtime state server needs the wheel."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, total = self._totals.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return RunningTotals


def streaming_user_state_tws(events_stream: DataFrame) -> DataFrame:
    """Same running totals via transformWithStateInPandas — Spark 4's
    next-gen arbitrary-state API (typed state handles, timers, TTL).
    Requires the RocksDB state store provider (set in the test) and
    the protobuf wheel (absent in this container; the test skips; the
    API itself is standard Spark 4 and runs on any cluster image); at
    cluster scale RocksDB keeps per-key state off-heap and incrementally
    checkpoints, so state size is bounded by disk, not executor heap —
    the 100 TB answer to unbounded key cardinality."""
    RunningTotals = _make_running_totals_processor()

    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def streaming_sessionize_gap(events_stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """True-stream twin of sessionize_gap30_events (operators/
    analytics.py): per-user row-level session-ID assignment via
    applyInPandasWithState. State per user is (last event-time in µs,
    current session seq) — O(1) per key regardless of history, the
    100 TB contract. Each micro-batch's rows are sorted (ts, event_id)
    inside the update function; across batches correctness relies on
    per-user event-time-ordered arrival (guaranteed by a watermarked
    upstream or, in tests, time-ordered micro-batches) — the same
    assumption every gap-based streaming sessionizer makes.
    Emits (user_id, event_id, sess_seq) once per input row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, event_id long, sess_seq long"
    state_schema = "last_us long, seq long"
    gap_us = gap_minutes * 60 * 1_000_000

    def assign(key, pdf_iter, state: GroupState):
        last_us, seq = state.get if state.exists else (-1, 0)
        frames = list(pdf_iter)
        if not frames:
            return
        pdf = pd.concat(frames).sort_values(["ts", "event_id"])
        out_ids, out_seqs = [], []
        for ts, eid in zip(pdf["ts"], pdf["event_id"]):
            us = int(pd.Timestamp(ts).value // 1000)
            if last_us < 0 or us - last_us > gap_us:
                seq += 1
            last_us = us
            out_ids.append(int(eid))
            out_seqs.append(seq)
        state.update((int(last_us), int(seq)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_ids),
                "event_id": out_ids,
                "sess_seq": out_seqs,
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        assign,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------- streaming drift monitor (PSI vs a static reference) ----------

def drift_bin(col: str = "value"):
    """Fixed-edge decile bin over [0, 500): width-50 bins, top-clamped.

    FIXED edges, not data-derived min/max (drift_psi_decile_bins'
    binning) — a streaming monitor cannot compute a global min/max
    before the stream starts, so production drift monitors pin the
    edges when the reference window is frozen."""
    return F.least(F.floor(F.col(col) / 50), F.lit(9)).cast("long")


def psi_from_bin_counts(cur: DataFrame, ref: DataFrame) -> DataFrame:
    """Shared PSI finalizer over per-window bin counts.

    cur: (w: struct<start,end>, bin, cur_c) — one row per populated
    bin per window (the stateful half, batch or streaming);
    ref: (bin, ref_c, ref_n) — the frozen reference distribution.
    Emits (day, n_bins, psi) with the ordered-fold float discipline
    (drift_psi_decile_bins): the <= 10 PSI terms fold in bin order,
    so the sum is reassociation-free on any partitioning. Bins
    missing from either side are excluded (standard zero-cell rule).

    cur_n comes from a window over the SAME frame, not a
    groupBy+self-join: a self-join on a watermark-tagged memory-sink
    view trips Catalyst's conflicting-reference check
    ([INTERNAL_ERROR] on `w#N-T...ms`), and the window also saves a
    join — one w-partitioned exchange feeds both the total and the
    final per-window fold.
    """
    from pyspark.sql import Window

    cur = cur.withColumn(
        "cur_n", F.sum("cur_c").over(Window.partitionBy("w"))
    )
    p_c = F.col("cur_c").cast("double") / F.col("cur_n")
    p_r = F.col("ref_c").cast("double") / F.col("ref_n")
    term = (p_c - p_r) * F.log(p_c / p_r)
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
        cur.join(F.broadcast(ref), "bin")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            (F.round(folded, 6) + 0).alias("psi"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "n_bins",
            "psi",
        )
    )


def reference_bin_distribution(events: DataFrame) -> DataFrame:
    """Frozen reference: global fixed-edge bin counts + total.

    In production this is computed ONCE from the reference window and
    broadcast into every microbatch (a static DataFrame in a
    stream-static join)."""
    from pyspark.sql import Window

    ref = (
        events.where(F.col("value").isNotNull())
        .groupBy(drift_bin().alias("bin"))
        .agg(F.count(F.lit(1)).alias("ref_c"))
    )
    # bounded: <=10-row bin frame (fixed-edge deciles), global window
    # is over the tiny aggregate, never the data
    return ref.withColumn(
        "ref_n", F.sum("ref_c").over(Window.partitionBy())
    )


def streaming_drift_bin_counts(events_stream: DataFrame) -> DataFrame:
    """Stateful half of the streaming drift monitor: per-day tumbling
    event-time window x fixed-edge bin counts, watermark-bounded
    state. The PSI fold itself is stateless per closed window and
    runs downstream (psi_from_bin_counts over the sink — the
    gold-table pattern), keeping the streaming query a single
    windowed aggregation in append mode."""
    return (
        as_event_time(events_stream)
        .where(F.col("value").isNotNull())
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), drift_bin().alias("bin"))
        .agg(F.count(F.lit(1)).alias("cur_c"))
    )


@register(
    "stream_drift_psi_twin",
    oracle="""
    WITH base AS (
      SELECT LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bin,
             time_bucket(INTERVAL 1 DAY, ts) AS day
      FROM (SELECT * REPLACE (CASE WHEN isfinite(value) THEN value END AS value) FROM events) events WHERE value IS NOT NULL
    ),
    ref AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS ref_c FROM base GROUP BY bin
    ),
    reft AS (SELECT CAST(SUM(ref_c) AS BIGINT) AS ref_n FROM ref),
    cur AS (
      SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS cur_c
      FROM base GROUP BY day, bin
    ),
    curt AS (
      SELECT day, CAST(SUM(cur_c) AS BIGINT) AS cur_n
      FROM cur GROUP BY day
    ),
    terms AS (
      SELECT c.day, c.bin,
             (CAST(c.cur_c AS DOUBLE) / t.cur_n
              - CAST(r.ref_c AS DOUBLE) / s.ref_n)
             * LN((CAST(c.cur_c AS DOUBLE) / t.cur_n)
                  / (CAST(r.ref_c AS DOUBLE) / s.ref_n)) AS term
      FROM cur c
      JOIN curt t ON c.day = t.day
      JOIN ref r ON c.bin = r.bin
      CROSS JOIN reft s
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(list_reduce(
             list_prepend(0.0, list_transform(
               list_sort(LIST({'bin': bin, 'term': term})),
               x -> x.term)),
             (acc, x) -> acc + x), 6) + 0 AS psi
    FROM terms GROUP BY day
    """,
    doc="STREAMING DRIFT MONITOR, batch twin: per-day PSI of each "
    "tumbling window's value distribution against the frozen "
    "corpus-wide reference — the production shape for catching "
    "feature drift in a live event stream (reference frozen at "
    "deploy, fixed bin edges because a stream can't see a global "
    "min/max, per-window PSI as each watermark closes a day). "
    "Composition: the stateful half is ONE windowed aggregation "
    "(streaming_drift_bin_counts — append-mode, watermark-bounded "
    "state of |open windows| x 10 bins); the PSI fold is stateless "
    "per closed window (psi_from_bin_counts, shared verbatim between "
    "this batch twin and the true-stream test) with the "
    "drift_psi_decile_bins ordered-fold float discipline. The "
    "reference is a broadcast 10-row static frame — a stream-static "
    "join at 100 TB. True-stream equivalence is pinned by "
    "tests/test_streaming.py (availableNow drain == this twin).",
)
def stream_drift_psi_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = clean_measures(
        # raw-column null prefilter keeps IsNotNull(value) PUSHED to
        # the scan (the entry drops null measures anyway); the
        # cleaned non-finites become NULL and fall to the same filter
        load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        ),
        "value",
    )
    ref = reference_bin_distribution(ev)
    cur = (
        ev.where(F.col("value").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("w"), drift_bin().alias("bin"))
        .agg(F.count(F.lit(1)).alias("cur_c"))
    )
    return psi_from_bin_counts(cur, ref)
