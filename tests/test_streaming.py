"""True Structured Streaming tests: file source + availableNow trigger,
asserting the streaming results match the batch twins (which are
DuckDB-oracle-checked) — plus stateful dedup and custom state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.sources.tables import load_table
from ethiopia_legal_etl_spark.streaming.windows import (
    streaming_dedup_within_watermark,
    streaming_tumbling_counts,
    streaming_user_running_state,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a parquet directory a stream can read
    (testdata itself is a single file; streams want a directory)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(out)
    return out


def read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def run_to_memory(spark, sdf, name: str, output_mode: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_dir):
    stream = read_stream(spark, events_stream_dir)
    got = run_to_memory(
        spark, streaming_tumbling_counts(stream), "t_tumbling", "append"
    ).collect()
    from ethiopia_legal_etl_spark.streaming.windows import stream_tumbling_window

    want = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in stream_tumbling_window(spark, sf_dir).collect()
    }
    got_map = {
        (r["window_start"].strftime("%Y-%m-%d %H:%M:%S"), r["event_type"]): (
            r["cnt"],
            r["sum_value"],
        )
        for r in got
    }
    # every emitted window matches the batch twin exactly
    assert got_map.items() <= want.items()
    # append mode correctly withholds only windows still open at the
    # final watermark (nothing after them advances event time)
    missing = sorted(set(want) - set(got_map))
    max_start = max(k[0] for k in want)
    assert all(k[0] >= max_start for k in missing) and len(missing) <= 2


def test_streaming_stream_static_join_matches_batch(
    spark, sf_dir, events_stream_dir
):
    """Stream-static enrichment: the streaming variant broadcast-joins
    a static per-user dim into each micro-batch; results must match
    the oracle-checked batch twin (modulo windows still open at the
    final watermark, which append mode withholds)."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        stream_static_enrich,
        streaming_enriched_counts,
        user_tier_dim,
    )

    dim = user_tier_dim(spark.read.parquet(events_stream_dir))
    stream = read_stream(spark, events_stream_dir)
    got = run_to_memory(
        spark, streaming_enriched_counts(stream, dim), "t_enrich", "append"
    ).collect()
    want = {
        (r["window_start"], r["tier"]): (r["cnt"], r["sum_value"])
        for r in stream_static_enrich(spark, sf_dir).collect()
    }
    got_map = {
        (r["window_start"].strftime("%Y-%m-%d %H:%M:%S"), r["tier"]): (
            r["cnt"],
            r["sum_value"],
        )
        for r in got
    }
    assert got_map.items() <= want.items()
    missing = sorted(set(want) - set(got_map))
    max_start = max(k[0] for k in want)
    assert all(k[0] >= max_start for k in missing) and len(missing) <= 2


def test_streaming_dedup_within_watermark(spark, events_stream_dir):
    stream = read_stream(spark, events_stream_dir)
    doubled = stream.union(stream)  # duplicate every event
    deduped = streaming_dedup_within_watermark(doubled)
    got = run_to_memory(spark, deduped, "t_dedup", "append")
    n_src = spark.read.parquet(events_stream_dir).count()
    assert got.count() == n_src  # exactly one row per event_id


def test_streaming_dedup_matches_batch_twin(spark, sf_dir, events_stream_dir):
    """The true stream's post-dedup aggregate equals the oracle-checked
    batch twin (stream_dedup_twin): redeliveries removed, nothing else."""
    from ethiopia_legal_etl_spark.streaming.windows import stream_dedup_twin

    stream = read_stream(spark, events_stream_dir)
    deduped = streaming_dedup_within_watermark(stream.union(stream))
    got = run_to_memory(spark, deduped, "t_dedup_agg", "append")
    agg = {
        r["event_type"]: (r["n"], r["s"])
        for r in got.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    }
    want = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in stream_dedup_twin(spark, sf_dir).collect()
    }
    assert agg == want


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Two runs against one checkpoint: run 2 carries an event OLDER
    than the checkpointed watermark from run 1 → it must be dropped
    from the (already emitted) 10:00 window."""
    import datetime as dt

    d = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "ckpt")
    cols = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    on_time = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 11, 0, 0), 1, "a", 1.0, "{}"),  # watermark → 10:50
    ]
    late = [
        (3, dt.datetime(2024, 1, 1, 10, 1, 0), 1, "a", 1.0, "{}"),  # < watermark: late
        (4, dt.datetime(2024, 1, 1, 11, 30, 0), 1, "a", 1.0, "{}"),
    ]
    spark.createDataFrame(on_time, cols).coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema

    sink = str(tmp_path / "sink")

    def run_once() -> dict:
        stream = spark.readStream.schema(schema).parquet(d)
        q = (
            streaming_tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["window_start"].strftime("%H:%M"): r["cnt"]
            for r in spark.read.parquet(sink).collect()
        }

    first = run_once()
    assert first.get("10:00") == 1  # emitted once watermark (10:50) passed 10:10

    spark.createDataFrame(late, cols).coalesce(1).write.mode("append").parquet(d)
    second = run_once()  # same checkpoint: watermark recovered
    # late event 3 (10:01 < checkpointed watermark) silently dropped:
    # the 10:00 window keeps count 1 and no new 10:00 row appears
    assert second.get("10:00") == 1
    # on-time event 4 lands in state (11:30 window still open, withheld)
    assert "11:30" not in second


def test_stream_stream_interval_join(spark, events_stream_dir):
    """Stream-stream inner join with watermarks + an event-time range
    condition: each error joined to purchases of the same user within
    the preceding hour. Verified against the identical batch join."""
    # ts loads as TIMESTAMP_NTZ from the testdata parquet; watermarks
    # need LTZ (session tz is UTC, so the cast is value-identical)
    base = read_stream(spark, events_stream_dir)
    err = (
        base.where("event_type = 'error'")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").cast("timestamp_ltz").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    pur = (
        read_stream(spark, events_stream_dir)
        .where("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp_ltz").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    cond = (
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts"))
    )
    got = run_to_memory(
        spark, err.join(pur, cond).select("e_id", "p_id"), "t_ssj", "append"
    )
    got_pairs = {(r["e_id"], r["p_id"]) for r in got.collect()}

    ev = spark.read.parquet(events_stream_dir)
    be = ev.where("event_type = 'error'").select(
        F.col("event_id").alias("e_id"), F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    bp = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    want_pairs = {
        (r["e_id"], r["p_id"])
        for r in be.join(bp, cond).select("e_id", "p_id").collect()
    }
    assert got_pairs == want_pairs
    assert len(want_pairs) > 0


def test_streaming_foreach_batch_sink(spark, events_stream_dir, tmp_path):
    """foreachBatch: arbitrary batch-side sink logic (upsert-style) —
    each micro-batch lands as a parquet append with its batch id."""
    stream = read_stream(spark, events_stream_dir)
    out = str(tmp_path / "fb_out")

    def sink(batch_df, batch_id: int):
        (
            batch_df.groupBy("event_type")
            .count()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: r["total"]
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.sum("count").alias("total"))
        .collect()
    }
    want = {
        r["event_type"]: r["cnt"]
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_streaming_foreach_batch_restart_exactly_once(spark, sf_dir, tmp_path):
    """Restart recovery for the foreachBatch sink: the
    query is killed AFTER a batch's output is written but BEFORE its
    checkpoint commit — the worst-case window. On restart from the
    same checkpoint that batch is re-delivered; the batch-id-keyed
    overwrite sink makes the redelivery idempotent, so the final
    output holds every source row exactly once (the exactly-once
    recipe: replayable source + checkpoint + idempotent sink)."""
    src = str(tmp_path / "eo_src")
    ckpt = str(tmp_path / "eo_ckpt")
    out = str(tmp_path / "eo_out")

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    crash = {"armed": True, "batches_before_crash": 0}

    def sink(batch_df, batch_id: int):
        # idempotent: keyed by batch id, overwrite on redelivery
        batch_df.write.mode("overwrite").parquet(f"{out}/bid={batch_id}")
        if crash["armed"] and batch_id >= 1:
            crash["armed"] = False
            raise RuntimeError("injected crash after write, before commit")
        crash["batches_before_crash"] += 1

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
            return None
        except Exception as exc:  # StreamingQueryException wraps the sink error
            return exc

    first_err = run()
    assert first_err is not None and "injected crash" in str(first_err)
    assert crash["batches_before_crash"] >= 1  # some batches committed pre-crash

    second_err = run()  # same checkpoint; crash disarmed
    assert second_err is None

    got = spark.read.parquet(out)
    n_src = events.count()
    # exactly once: every source row present, no row duplicated by the
    # redelivered batch (an append sink would have double-counted it)
    assert got.count() == n_src
    assert got.select("event_id").distinct().count() == n_src
    assert got.select(F.sum("value")).first()[0] == pytest.approx(
        events.select(F.sum("value")).first()[0]
    )
    # the redelivered batch really ran twice: restart reprocessed it
    bids = {r["bid"] for r in got.select("bid").distinct().collect()}
    assert len(bids) >= 2  # multiple micro-batches actually happened


def test_streaming_custom_state_running_totals(spark, events_stream_dir):
    stream = read_stream(spark, events_stream_dir)
    got = run_to_memory(
        spark, streaming_user_running_state(stream), "t_state", "update"
    )
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
    )
    want = {r["user_id"]: (r["n"], round(r["tv"], 2)) for r in batch.collect()}
    # final state per user (availableNow processes everything in order;
    # take the max-count row per user as the last emission)
    rows = got.collect()
    final: dict = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], round(r["total_value"], 2))
    assert final == want


def test_streaming_transform_with_state(spark, events_stream_dir):
    """transformWithStateInPandas (Spark 4 state API v2) produces the
    same final per-user totals as the batch aggregate. Needs the
    RocksDB state store provider — set for this query only.

    Env gate: the TWS state server speaks protobuf between the Python
    worker and the JVM; this container ships pyspark without the
    protobuf wheel, so the test skips where protobuf is absent (the
    operator itself is plain Spark 4 API and runs on any standard
    cluster image). Retried r7, r8, r9, r10 — still absent; installs
    prohibited in this environment."""
    pytest.importorskip("google.protobuf")
    from ethiopia_legal_etl_spark.streaming.windows import streaming_user_state_tws

    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_stream(spark, events_stream_dir)
        got = run_to_memory(spark, streaming_user_state_tws(stream), "t_tws", "update")
        batch = (
            spark.read.parquet(events_stream_dir)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        )
        want = {r["user_id"]: (r["n"], round(r["tv"], 2)) for r in batch.collect()}
        final: dict = {}
        for r in got.collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], round(r["total_value"], 2))
        assert final == want
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_tws_processor_logic_matches_batch_aggregate(spark, events_stream_dir):
    """Pure-batch differential for the RunningTotals processor:
    the TWS state CHANNEL needs the absent protobuf
    wheel, but the processor's handleInputRows logic is plain Python
    over pandas batches — drive it directly with a fake ValueState,
    replaying each user's rows split across multiple micro-batch
    calls, and require the final emitted totals to equal the batch
    aggregate."""
    import pandas as pd

    from ethiopia_legal_etl_spark.streaming.windows import (
        _make_running_totals_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeValueState()

    RunningTotals = _make_running_totals_processor()
    pdf = spark.read.parquet(events_stream_dir).select("user_id", "value").toPandas()
    final: dict = {}
    for uid, grp in pdf.groupby("user_id"):
        proc = RunningTotals()
        proc.init(FakeHandle())
        # split the user's rows into 3 calls (micro-batches), each with
        # the rows iterable further split into 2 pandas chunks — state
        # must carry across calls and chunks
        parts = [grp.iloc[i::3] for i in range(3)]
        for part in parts:
            if part.empty:
                continue
            half = len(part) // 2
            chunks = [c for c in (part.iloc[:half], part.iloc[half:]) if not c.empty]
            out = list(proc.handleInputRows((uid,), iter(chunks), None))
            assert len(out) == 1
        proc.close()
        last = out[0].iloc[0]
        final[uid] = (int(last["n_events"]), round(float(last["total_value"]), 2))

    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
    )
    want = {r["user_id"]: (r["n"], round(r["tv"], 2)) for r in batch.collect()}
    assert final == want


def test_streaming_session_window_matches_batch(spark, sf_dir, events_stream_dir):
    """Native session_window under a real stream: every session emitted
    in append mode must equal its batch twin exactly; only sessions
    still open at the final watermark may be withheld."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        stream_session_window,
        streaming_session_counts,
    )

    stream = read_stream(spark, events_stream_dir)
    got = run_to_memory(
        spark, streaming_session_counts(stream), "t_session", "append"
    ).collect()
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in stream_session_window(spark, sf_dir).collect()
    }
    got_map = {
        (r["user_id"], r["session_start"].strftime("%Y-%m-%d %H:%M:%S")): (
            r["n_events"],
            r["sum_value"],
        )
        for r in got
    }
    assert got_map.items() <= want.items()
    # append mode may withhold only sessions still open at the final
    # watermark: every missing session must START within the last
    # (watermark 10 min + gap 5 min) of event time
    missing = set(want) - set(got_map)
    if missing:
        import datetime as dt

        fmt = "%Y-%m-%d %H:%M:%S"
        horizon = dt.datetime.strptime(
            max(k[1] for k in want), fmt
        ) - dt.timedelta(minutes=15)
        late_only = all(
            dt.datetime.strptime(k[1], fmt) >= horizon for k in missing
        )
        assert late_only, sorted(missing)[:5]
        assert len(missing) <= len(want) * 0.1


def test_streaming_sliding_window_matches_batch(spark, sf_dir, events_stream_dir):
    """Sliding windows under a real stream: every emitted (window, cnt,
    avg) must equal the oracle-checked batch twin; append mode may
    withhold only windows still open at the final watermark."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        stream_sliding_window,
        streaming_sliding_counts,
    )

    stream = read_stream(spark, events_stream_dir)
    got = run_to_memory(
        spark, streaming_sliding_counts(stream), "t_sliding", "append"
    ).collect()
    want = {
        r["window_start"]: (r["cnt"], round(r["avg_value"], 6))
        for r in stream_sliding_window(spark, sf_dir).collect()
    }
    got_map = {
        r["window_start"].strftime("%Y-%m-%d %H:%M:%S"): (
            r["cnt"],
            round(r["avg_value"], 6),
        )
        for r in got
    }
    assert got_map.items() <= want.items()
    missing = sorted(set(want) - set(got_map))
    # hop=5min: at most the last few windows (those overlapping the
    # final watermark horizon) may be withheld
    assert len(missing) <= 3
    if missing:
        assert min(missing) >= sorted(want)[-4]


def test_streaming_quality_scores_match_batch(spark, sf_dir, tmp_path):
    """Stateless streaming quality gate: scoring a document stream in
    append mode must produce PER-DOCUMENT equality with the batch
    scorer (no watermark slack to allow — there is no state)."""
    from ethiopia_legal_etl_spark.operators.quality import (
        score_documents,
        streaming_quality_scores,
    )

    docs_dir = str(tmp_path / "docs_stream")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).coalesce(2).write.mode("overwrite").parquet(docs_dir)
    stream = read_stream(spark, docs_dir)
    got = {
        r["doc_id"]: (r["n_tokens"], r["score"], bool(r["is_quality"]))
        for r in run_to_memory(
            spark, streaming_quality_scores(stream), "t_quality", "append"
        ).collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["score"], bool(r["is_quality"]))
        for r in score_documents(
            spark.read.parquet(docs_dir)
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_html_strip_matches_batch(spark, sf_dir, tmp_path):
    """Stateless streaming markup strip: the shared strip_html JVM
    expression chain (html_main_text / warc_to_text_pipeline) runs
    unchanged over readStream in append mode — per-document equality
    of the EXTRACTED TEXT with the batch run proves the WARC->WET
    text stage works in both execution modes with one definition."""
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.functions.text import strip_html

    pages_dir = str(tmp_path / "pages_stream")
    load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<html><body><script>x=1;</script><p>"),
            F.col("text"),
            F.lit(" &amp; tail</p></body></html>"),
        ).alias("html"),
    ).coalesce(2).write.mode("overwrite").parquet(pages_dir)

    def project(df):
        return df.select(
            "doc_id", strip_html(F.col("html")).alias("main_text")
        )

    got = {
        r["doc_id"]: r["main_text"]
        for r in run_to_memory(
            spark, project(read_stream(spark, pages_dir)),
            "t_html_strip", "append",
        ).collect()
    }
    want = {
        r["doc_id"]: r["main_text"]
        for r in project(spark.read.parquet(pages_dir)).collect()
    }
    assert got == want and len(got) > 0
    assert all("<" not in t and "&amp;" not in t for t in got.values())


@pytest.fixture(scope="module")
def time_ordered_events(spark, sf_dir, tmp_path_factory):
    """Events as 4 time-ordered parquet files with increasing mtimes:
    maxFilesPerTrigger=1 then yields 4 micro-batches in event-time
    order, so the watermark genuinely ADVANCES between batches — the
    regime needed to observe outer-join null emission and join-state
    eviction (a single availableNow batch never moves the watermark
    mid-run). Test-scale collect: 1k rows."""
    import glob as g
    import os
    import shutil

    out = str(tmp_path_factory.mktemp("ordered_events"))
    ev = load_table(spark, sf_dir, "events")
    rows = sorted(ev.collect(), key=lambda r: r["ts"])
    n = len(rows)
    tmp = out + "_tmp"
    for i in range(4):
        chunk = rows[i * n // 4 : (i + 1) * n // 4]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        dst = os.path.join(out, f"{i:02d}.parquet")
        shutil.copyfile(g.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    return out


def _ordered_stream(spark, path, etype):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .where(F.col("event_type") == etype)
    )


def _batch_purchase_click(spark, path):
    ev = spark.read.parquet(path)
    p = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p, c, cond


def test_stream_stream_inner_join_multibatch(spark, time_ordered_events):
    """Inner stream-stream join across 4 watermark-advancing
    micro-batches equals the batch join exactly: time-ordered input
    means no late rows, and state eviction (purchases once the
    watermark passes p_ts, clicks once it passes c_ts + 1h) never
    evicts a row that could still match."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        streaming_purchase_click_join,
    )

    got = run_to_memory(
        spark,
        streaming_purchase_click_join(
            _ordered_stream(spark, time_ordered_events, "purchase"),
            _ordered_stream(spark, time_ordered_events, "click"),
            "inner",
        ),
        "t_ssj_inner_mb",
        "append",
    ).collect()
    got_pairs = {(r["purchase_id"], r["click_id"]) for r in got}

    p, c, cond = _batch_purchase_click(spark, time_ordered_events)
    want_pairs = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(c, cond).select("purchase_id", "click_id").collect()
    }
    assert got_pairs == want_pairs
    assert len(want_pairs) > 0


def test_stream_stream_leftouter_join_emits_unmatched(
    spark, time_ordered_events
):
    """LEFT OUTER stream-stream join: matched pairs emit eagerly and
    equal the batch join's matches; null-augmented rows for
    never-matched purchases emit only once the watermark evicts their
    state — so the emitted-unmatched set is a nonempty subset of the
    batch unmatched set (the final batches' purchases stay withheld at
    termination), and no purchase is both matched and null-emitted."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        streaming_purchase_click_join,
    )

    got = run_to_memory(
        spark,
        streaming_purchase_click_join(
            _ordered_stream(spark, time_ordered_events, "purchase"),
            _ordered_stream(spark, time_ordered_events, "click"),
            "leftouter",
        ),
        "t_ssj_louter_mb",
        "append",
    ).collect()
    got_matched = {
        (r["purchase_id"], r["click_id"])
        for r in got
        if r["click_id"] is not None
    }
    got_unmatched = {r["purchase_id"] for r in got if r["click_id"] is None}

    p, c, cond = _batch_purchase_click(spark, time_ordered_events)
    batch = p.join(c, cond, "left").select("purchase_id", "click_id").collect()
    want_matched = {
        (r["purchase_id"], r["click_id"])
        for r in batch
        if r["click_id"] is not None
    }
    want_unmatched = {
        r["purchase_id"] for r in batch if r["click_id"] is None
    }

    assert got_matched == want_matched
    assert got_unmatched <= want_unmatched
    assert len(got_unmatched) > 0
    assert not (got_unmatched & {pid for pid, _ in got_matched})


def test_streaming_sessionize_matches_batch(spark, time_ordered_events):
    """The applyInPandasWithState sessionizer must assign the SAME
    session structure as the batch window formulation when events
    arrive in time order across 4 micro-batches — i.e., per-user
    (session -> event count) multisets agree, and the 30-min gap
    state genuinely survives batch boundaries."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        streaming_sessionize_gap,
    )

    schema = spark.read.parquet(time_ordered_events).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(time_ordered_events)
    )
    got_rows = run_to_memory(
        spark, streaming_sessionize_gap(stream), "t_sessionize", "update"
    ).collect()
    # update mode emits each event exactly once (we emit only the
    # batch's own rows)
    assert len({r["event_id"] for r in got_rows}) == len(got_rows)
    stream_sessions: dict = {}
    for r in got_rows:
        stream_sessions.setdefault((r["user_id"], r["sess_seq"]), 0)
        stream_sessions[(r["user_id"], r["sess_seq"])] += 1

    batch = {
        (r["user_id"], r["sess_seq"]): r["n_events"]
        for r in _batch_sessionize(spark, time_ordered_events).collect()
    }
    assert stream_sessions == batch


def _batch_sessionize(spark, events_dir):
    """Batch sessionizer over an arbitrary events directory (the
    registry entry reads <sf_dir>/events.parquet; this mirrors its
    exact logic over the fixture dir)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = F.col("ts") - F.lag("ts").over(w) <= F.expr("INTERVAL 30 MINUTE")
    flagged = ev.withColumn("new_sess", F.when(gap_ok, 0).otherwise(1))
    sess = flagged.withColumn(
        "sess_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "sess_seq").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def test_streaming_sessionize_state_survives_restart(
    spark, time_ordered_events, tmp_path
):
    """applyInPandasWithState state recovery for the sessionizer: run
    the 4 time-ordered micro-batches as TWO separate queries sharing
    one checkpoint (stop after the first, start a fresh query for the
    rest). The per-user (last_ts, sess_seq) state must be restored
    from the state store, so sessions spanning the restart boundary
    keep their IDs — the combined output equals the batch form."""
    import glob
    import os
    import shutil

    from ethiopia_legal_etl_spark.streaming.windows import (
        streaming_sessionize_gap,
    )

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    out = str(tmp_path / "sess_out")
    os.makedirs(src)

    schema = spark.read.parquet(time_ordered_events).schema
    files = sorted(glob.glob(f"{time_ordered_events}/*.parquet"))
    assert len(files) == 4

    def run_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        def sink(batch_df, batch_id: int):
            # idempotent batch-id-keyed sink (update-mode operator
            # cannot drive the append-only parquet sink directly)
            batch_df.write.mode("overwrite").parquet(f"{out}/bid={batch_id}")

        q = (
            streaming_sessionize_gap(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # phase 1: first two chunks, then the query STOPS. copy2 keeps
    # the fixture's increasing mtimes — the file source orders
    # micro-batches by mtime, and a plain copy() would let chunk 03
    # beat chunk 02 into batch order (out-of-order event time).
    for f in files[:2]:
        shutil.copy2(f, src)
    run_query()
    # phase 2: remaining chunks arrive; a NEW query resumes from the
    # same checkpoint and must restore every user's session state
    for f in files[2:]:
        shutil.copy2(f, src)
    run_query()

    got_rows = spark.read.parquet(out).collect()
    assert len({r["event_id"] for r in got_rows}) == len(got_rows)
    stream_sessions: dict = {}
    for r in got_rows:
        k = (r["user_id"], r["sess_seq"])
        stream_sessions[k] = stream_sessions.get(k, 0) + 1
    batch = {
        (r["user_id"], r["sess_seq"]): r["n_events"]
        for r in _batch_sessionize(spark, time_ordered_events).collect()
    }
    assert stream_sessions == batch


def test_streaming_drift_psi_matches_batch_twin(spark, sf_dir, events_stream_dir):
    """The true stream's windowed bin counts (append mode, watermark-
    closed windows), finalized by the SAME psi_from_bin_counts the
    batch twin uses against the SAME frozen reference, must equal the
    oracle-checked stream_drift_psi_twin exactly — per-day PSI
    included, because the fold is reassociation-free."""
    from ethiopia_legal_etl_spark.streaming.windows import (
        reference_bin_distribution,
        psi_from_bin_counts,
        stream_drift_psi_twin,
        streaming_drift_bin_counts,
    )

    stream = read_stream(spark, events_stream_dir)
    counts = streaming_drift_bin_counts(stream)
    sunk = run_to_memory(spark, counts, "t_drift_bins", "append")
    ref = reference_bin_distribution(spark.read.parquet(events_stream_dir))
    got = {
        r["day"]: (r["n_bins"], r["psi"])
        for r in psi_from_bin_counts(sunk, ref).collect()
    }
    want = {
        r["day"]: (r["n_bins"], r["psi"])
        for r in stream_drift_psi_twin(spark, sf_dir).collect()
    }
    # every watermark-closed window's PSI matches the batch twin
    # bit-for-bit (the fold is reassociation-free); append mode
    # withholds only the trailing windows still open at the final
    # watermark (suite-wide pattern for windowed append twins)
    assert got.items() <= want.items()
    missing = sorted(set(want) - set(got))
    max_emitted = max(got) if got else ""
    assert all(d > max_emitted for d in missing) and len(missing) <= 2
    assert len(got) >= 28  # a month of daily windows closed
    assert all(p >= 0 for _, p in want.values())  # PSI is non-negative
