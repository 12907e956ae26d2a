"""Wave 14 semantics tests: invariants the order-insensitive oracle
hash can't see — recursion shape, lateral top-k ordering, pivot/
unpivot inverse, EWMA fold semantics. Value correctness stays the
oracle's job (tools/check_oracle.py + the full-registry gate).
"""

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.aggregates import pivot_unpivot_orders
from ethiopia_legal_etl_spark.operators.analytics import ewma_user_value
from ethiopia_legal_etl_spark.operators.sql_surface import recursive_cte_walk


def test_recursive_walk_shape_and_step_function(spark, sf_dir):
    rows = recursive_cte_walk(spark, sf_dir).collect()
    # 25 seeds x depths 0..7, frontier never expands (out-degree 1)
    by_seed: dict[int, dict[int, int]] = {}
    for r in rows:
        by_seed.setdefault(r["seed"], {})[r["depth"]] = r["node"]
    assert len(by_seed) == 25
    for seed, walk in by_seed.items():
        assert sorted(walk) == list(range(8))
        assert walk[0] == seed
        for d in range(7):
            assert walk[d + 1] == (walk[d] * 7 + 13) % 50


def test_pivot_unpivot_is_identity_on_groupby(spark, sf_dir):
    long = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["n_orders"]
        for r in pivot_unpivot_orders(spark, sf_dir).collect()
    }
    base = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert long == base


def test_ewma_matches_python_replay_exactly(spark, sf_dir):
    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_user_value(spark, sf_dir).collect()
    }
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    streams: dict[int, list] = {}
    for r in ev:
        streams.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], float(r["value"]))
        )
    for uid, rows in streams.items():
        rows.sort()
        e = rows[0][2]
        for _, _, v in rows[1:]:
            e = v * 0.5 + e * 0.5  # the exact fold expression
        n, ewma = got[uid]
        assert n == len(rows)
        assert ewma == e, (uid, ewma, e)  # BIT-exact, not approximately


def test_funnel_ordering_constraint_enforced(spark, tmp_path):
    """A user whose purchase precedes their first view must NOT count
    as converted; a properly ordered user passes all three stages."""
    import pyspark.sql.functions as F

    from ethiopia_legal_etl_spark.operators.analytics import funnel_view_click_purchase

    rows = [
        # user 1: view < click < purchase  -> reaches stage 3
        (1, 1, "2024-01-01 00:00:01", "view", 1.0, "{}"),
        (2, 1, "2024-01-01 00:00:02", "click", 1.0, "{}"),
        (3, 1, "2024-01-01 00:00:03", "purchase", 1.0, "{}"),
        # user 2: purchase BEFORE view -> stops at stage 2
        (4, 2, "2024-01-01 00:00:01", "purchase", 1.0, "{}"),
        (5, 2, "2024-01-01 00:00:02", "view", 1.0, "{}"),
        (6, 2, "2024-01-01 00:00:03", "click", 1.0, "{}"),
        # user 3: view only -> stage 1
        (7, 3, "2024-01-01 00:00:01", "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id: long, user_id: long, ts: string, event_type: string, "
        "value: double, props: string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_view_click_purchase(spark, str(tmp_path)).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_sessionize_gap_boundary_semantics(spark, tmp_path):
    """Events exactly 30 min apart stay in ONE session (<=); 30 min +
    1 s starts a new one. First event of each user opens session 1."""
    import pyspark.sql.functions as F

    from ethiopia_legal_etl_spark.operators.analytics import sessionize_gap30_events

    rows = [
        (1, 1, "2024-01-01 00:00:00", "view", 1.0, "{}"),
        (2, 1, "2024-01-01 00:30:00", "click", 2.0, "{}"),  # == 30 min: same
        (3, 1, "2024-01-01 01:00:01", "purchase", 3.0, "{}"),  # > 30 min: new
        (4, 2, "2024-01-01 05:00:00", "view", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id: long, user_id: long, ts: string, event_type: string, "
        "value: double, props: string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["user_id"], r["sess_seq"]): (r["n_events"], r["n_purchases"])
        for r in sessionize_gap30_events(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 1): (2, 0), (1, 2): (1, 1), (2, 1): (1, 0)}


def test_corr_exact_moments_matches_python(spark, sf_dir):
    import math

    from ethiopia_legal_etl_spark.operators.aggregates import stats_corr_exact_moments

    got = {
        r["l_returnflag"]: (r["n_rows"], r["corr_qty_price"])
        for r in stats_corr_exact_moments(spark, sf_dir).collect()
    }
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (int(r["l_quantity"]), math.floor(r["l_extendedprice"] * 100 + 0.5))
        )
    for flag, pts in groups.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        corr = float(n * sxy - sx * sy) / math.sqrt(
            float(n * sxx - sx * sx) * float(n * syy - sy * sy)
        )
        assert got[flag][0] == n
        assert got[flag][1] == corr, flag  # exact-moments => bit equal
        assert -1.0 <= corr <= 1.0


def test_attribution_conserves_total_purchase_value(spark, sf_dir):
    """Exact credit conservation: sum of all channel credits equals the
    total purchase value in millicents, to the last integer."""
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.operators.analytics import attribution_linear_credit
    from ethiopia_legal_etl_spark.sources.tables import load_table

    rows = attribution_linear_credit(spark, sf_dir).collect()
    credited = sum(r["credit_mc"] for r in rows)
    total = (
        load_table(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            (F.floor(F.col("value") * 100 + 0.5).cast("long") * 1000).alias(
                "mc"
            )
        )
        .agg(F.sum("mc"))
        .collect()[0][0]
    )
    assert credited == total
    assert {r["channel"] for r in rows} <= {"view", "click", "unattributed"}


def test_cuped_reduces_to_plain_mean_when_theta_applied_to_pooled(spark, sf_dir):
    """CUPED sanity: the user-count-weighted average of the adjusted
    means equals the weighted average of the raw means (the adjustment
    is mean-preserving because sum_g n_g*(mean_g(x) - mean(x)) = 0),
    and rho2 is in [0, 1]."""
    from ethiopia_legal_etl_spark.operators.aggregates import experiment_cuped_adjust

    rows = experiment_cuped_adjust(spark, sf_dir).collect()
    n = sum(r["n_users"] for r in rows)
    raw = sum(r["mean_y"] * r["n_users"] for r in rows) / n
    adj = sum(r["mean_y_cuped"] * r["n_users"] for r in rows) / n
    assert abs(raw - adj) < 1e-9
    for r in rows:
        assert 0.0 <= r["rho2"] <= 1.0
        assert r["theta"] == rows[0]["theta"]  # pooled, same every row
