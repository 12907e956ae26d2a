"""Association rules (operators/basket.py) and exact-integer rolling
z-score anomalies (operators/anomaly.py): semantics pinned against
independent computations on the fixed corpus."""

from __future__ import annotations

import pyspark.sql.functions as F

from ethiopia_legal_etl_spark.operators.anomaly import anomaly_rolling_zscore
from ethiopia_legal_etl_spark.operators.basket import assoc_rules_brand_pairs


def test_assoc_rules_counts_and_metrics(spark, sf_dir):
    rules = assoc_rules_brand_pairs(spark, sf_dir).collect()
    assert rules, "the synthetic corpus must yield at least one rule"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_baskets = items.select("okey").distinct().count()
    # spot-check the first rule's counts against direct filters
    r = rules[0]
    assert r["brand_a"] < r["brand_b"], "pairs must be unordered (a < b)"
    a_orders = {x["okey"] for x in items.where(F.col("brand") == r["brand_a"]).collect()}
    b_orders = {x["okey"] for x in items.where(F.col("brand") == r["brand_b"]).collect()}
    assert r["n_a"] == len(a_orders)
    assert r["n_b"] == len(b_orders)
    assert r["n_both"] == len(a_orders & b_orders)
    assert r["n_baskets"] == n_baskets
    for r in rules:
        assert r["support"] == r["n_both"] / r["n_baskets"]
        assert r["confidence_a_b"] == r["n_both"] / r["n_a"]
        assert r["lift"] == (r["n_both"] * r["n_baskets"]) / (r["n_a"] * r["n_b"])
        assert r["n_both"] * 1000 >= r["n_baskets"], "min-support filter"


def test_anomaly_flags_match_python_replay(spark, sf_dir):
    import math
    from collections import defaultdict, deque

    flagged = {
        r["event_id"]: r for r in anomaly_rolling_zscore(spark, sf_dir).collect()
    }
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    expect = {}
    streams = defaultdict(list)
    for r in ev:
        streams[r["user_id"]].append(r)
    for uid, rows in streams.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        win: deque[int] = deque(maxlen=10)
        for r in rows:
            v = math.floor(r["value"] * 100)
            if len(win) == 10:
                s, ss, n = sum(win), sum(x * x for x in win), 10
                dev = v * n - s
                if n * ss > s * s and dev * dev * (n - 1) > 9 * n * (n * ss - s * s):
                    expect[r["event_id"]] = (uid, v, dev > 0)
            win.append(v)
    assert set(flagged) == set(expect), (
        len(flagged),
        len(expect),
        set(flagged) ^ set(expect),
    )
    for eid, (uid, v, up) in expect.items():
        f = flagged[eid]
        assert (f["user_id"], f["v"], f["spike_up"]) == (uid, v, up)
        assert f["zsq"] > 9.0
        assert f["zsq_num"] > f["zsq_thresh9"]
    assert expect, "fixed corpus must contain at least one 3-sigma event"


def test_anomaly_overflow_bound_enforced(spark, tmp_path):
    """r6 ADVICE: the BIGINT no-overflow audit must be ENFORCED, not
    assumed — a value past the documented bound fails the job loudly
    instead of silently wrapping int64 where DuckDB would raise."""
    import pytest

    from ethiopia_legal_etl_spark.operators.anomaly import _V_BOUND

    rows = [
        (i, 1, f"2024-01-01 00:00:{i:02d}", "view", float(i), "{}")
        for i in range(12)
    ]
    # one event far past the bound ($500k in cents)
    rows.append(
        (99, 1, "2024-01-01 00:01:00", "view", (_V_BOUND + 100) / 100.0, "{}")
    )
    df = spark.createDataFrame(
        rows,
        "event_id: long, user_id: long, ts: string, event_type: string, "
        "value: double, props: string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(Exception) as exc:
        anomaly_rolling_zscore(spark, str(tmp_path)).collect()
    assert "overflow" in str(exc.value) or "exceeds" in str(exc.value)


def test_kaplan_meier_survival_properties(spark, sf_dir):
    """KM invariants: survival is non-increasing in t, within (0, 1],
    equals the running product of (1 - d/n_risk) computed driver-side,
    and risk sets strictly decrease."""
    from ethiopia_legal_etl_spark.operators.anomaly import (
        retention_kaplan_meier,
    )

    rows = sorted(
        retention_kaplan_meier(spark, sf_dir).collect(), key=lambda r: r["t"]
    )
    assert rows
    prev_s, prev_n = 1.0, None
    run = 1.0
    for r in rows:
        # S reaches exactly 0 when the final risk set all convert
        assert 0 <= r["survival"] <= prev_s
        assert r["d"] >= 1 and r["n_risk"] >= r["d"]
        if prev_n is not None:
            assert r["n_risk"] < prev_n
        run *= (r["n_risk"] - r["d"]) / r["n_risk"]
        assert abs(r["survival"] - run) < 5e-6  # round(6) at the end
        prev_s, prev_n = r["survival"], r["n_risk"]


def test_theil_sen_trailing_window_bounds_pairs(spark, monkeypatch):
    """trailing_days clips the per-type series BEFORE
    the pair join — a 200-day history at trailing_days=90 must cost
    exactly C(90,2) pairs per type, and the slope must reflect only
    the trailing segment (here: the late-regime slope, not a blend)."""
    import datetime

    import ethiopia_legal_etl_spark.operators.anomaly as an

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for d in range(200):
        # piecewise trend: flat for days 0..109, slope +2.0/day after
        v = 100.0 if d < 110 else 100.0 + 2.0 * (d - 110)
        rows.append(("click", base + datetime.timedelta(days=d, hours=1), v))
    ev = spark.createDataFrame(rows, "event_type: string, ts: timestamp, value: double")
    monkeypatch.setattr(an, "load_table", lambda *_: ev)

    full = an.trend_theil_sen_slope(spark, "unused").collect()
    assert full[0]["n_pairs"] == 200 * 199 // 2

    t90 = an.trend_theil_sen_slope(spark, "unused", trailing_days=90).collect()
    assert t90[0]["n_pairs"] == 90 * 89 // 2
    # last 90 days (days 110..199) are entirely in the +2.0 regime
    assert abs(t90[0]["ts_slope"] - 2.0) < 1e-9
