"""Regression tests for the r13 constant-corpus sweep findings
(tools/degenerate_mirror.py): statistics whose denominators collapse
to zero on a zero-variance / one-bin input must yield NULL for the
undefined quantity — never a Spark-ANSI DIVIDE_BY_ZERO that kills the
whole job. Each fixture is the minimal degenerate shape; assertions
materialize EVERY column (collect), since column pruning is exactly
what let these throws stay latent."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def const_dir(spark, tmp_path_factory):
    """Tiny constant-valued tables: zero variance everywhere."""
    d = str(tmp_path_factory.mktemp("const"))
    spark.createDataFrame(
        [(i, "N", "O", 10.0, 100.0, 0.05, 0.02) for i in range(6)],
        "l_orderkey long, l_returnflag string, l_linestatus string, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(i, i % 2, "click", 5.0) for i in range(8)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("event_id"))
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_chi2_cramers_v_null_on_one_bin_table(spark, const_dir):
    from ethiopia_legal_etl_spark.operators.drift import (
        stats_chi2_independence,
    )

    rows = stats_chi2_independence(spark, const_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    # constant value -> one bin -> dof 0, chi2 0, V undefined -> NULL
    assert r["dof"] == 0
    assert r["chi2"] == 0.0
    assert r["cramers_v"] is None


def test_builtin_corr_null_on_zero_variance(spark, const_dir):
    from ethiopia_legal_etl_spark.operators.aggregates import stats_aggregates

    rows = stats_aggregates(spark, const_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["qty_stddev"] == 0.0
    assert r["disc_var"] == 0.0
    assert r["qty_price_corr"] is None  # undefined, not a throw
    assert r["disc_tax_covar"] == 0.0


def test_exact_moments_corr_null_on_zero_variance_and_single_row(
    spark, const_dir, tmp_path
):
    from ethiopia_legal_etl_spark.operators.aggregates import stats_corr_exact_moments

    rows = stats_corr_exact_moments(spark, const_dir).collect()
    assert rows[0]["corr_qty_price"] is None
    assert rows[0]["covar_samp_cents"] == 0.0

    # single-row group: covar_samp denominator n*(n-1) = 0 -> NULL
    d = str(tmp_path / "single")
    spark.createDataFrame(
        [(1, "A", 3.0, 7.0)],
        "l_orderkey long, l_returnflag string, l_quantity double, "
        "l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    r = stats_corr_exact_moments(spark, d).collect()[0]
    assert r["n_rows"] == 1
    assert r["corr_qty_price"] is None
    assert r["covar_samp_cents"] is None


def test_lsh_tuned_survives_identical_embeddings(spark, tmp_path):
    from ethiopia_legal_etl_spark.operators.similarity import (
        similarity_lsh_tuned,
    )

    d = str(tmp_path / "constemb")
    spark.createDataFrame(
        [(i, [0.5] * 64) for i in range(30)],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    # calibrated radius is 0.0 here; the epsilon floor must keep the
    # LSH fit valid and return the exact-duplicate neighbors
    rows = similarity_lsh_tuned(spark, d).collect()
    assert rows, "identical vectors are mutual neighbors at dist 0"
    assert all(r["l2_dist"] == 0.0 for r in rows)


def test_twap_null_on_same_microsecond_burst(spark, tmp_path):
    """r13 verdict's reproduced defect: a group whose events all share
    ONE timestamp (same-us burst) makes every LEAD gap weight 0; the
    rows survive the nxt-IS-NOT-NULL filter, sum(w_us) = 0, and the
    TWAP division threw ANSI DIVIDE_BY_ZERO. Undefined span -> NULL."""
    from ethiopia_legal_etl_spark.operators.anomaly import (
        twap_event_type,
    )

    d = str(tmp_path / "burst")
    spark.createDataFrame(
        # 'burst': 4 events in the SAME microsecond
        # 'steady': normal 1s-spaced gauge (TWAP well-defined)
        [(i, 0, "burst", 5.0 + i) for i in range(4)]
        + [(10 + i, 0, "steady", 10.0 * (i + 1)) for i in range(3)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1700000000)
            + F.when(F.col("event_type") == "steady", F.col("event_id") - 10)
            .otherwise(F.lit(0))
        ),
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    rows = {r["event_type"]: r for r in twap_event_type(spark, d).collect()}
    b = rows["burst"]
    assert b["n_intervals"] == 3  # rows DO survive the lead filter
    assert b["span_us"] == 0
    assert b["twap"] is None  # undefined over a zero-length span
    s = rows["steady"]
    assert s["span_us"] == 2_000_000
    # (10*1s + 20*1s) / 2s = 15
    assert s["twap"] == pytest.approx(15.0)


def test_cuped_null_on_empty_pre_period(spark, tmp_path):
    """r14 constant_ts sweep find: a degenerate clock that lands EVERY
    event in the post-period zeroes every user's pre-period covariate
    x, so pooled var(x) = 0 and theta = cov/var was an ANSI
    DIVIDE_BY_ZERO. CUPED without pre-period signal is undefined ->
    theta/mean_y_cuped/rho2 NULL; mean_y must still read out."""
    from ethiopia_legal_etl_spark.operators.aggregates import experiment_cuped_adjust

    d = str(tmp_path / "allpost")
    spark.createDataFrame(
        [(i, i % 4, "click", 2.0 * (i + 1)) for i in range(8)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn(
        # 2024-03-01 > the Jan-16 pre/post boundary: pre is empty
        "ts", F.lit("2024-03-01 12:00:00").cast("timestamp")
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")

    rows = {r["variant"]: r for r in experiment_cuped_adjust(spark, d).collect()}
    assert set(rows) == {0, 1}
    for r in rows.values():
        assert r["mean_y"] is not None  # the plain readout survives
        assert r["theta"] is None
        assert r["mean_y_cuped"] is None
        assert r["rho2"] is None


def test_profile_completeness_null_on_empty_table(spark, tmp_path):
    """r14 empty-axis sweep find: a zero-row documents table still
    produces one global-agg row per profiled column, so completeness
    = count(col)/count(*) was 0/0 -> ANSI DIVIDE_BY_ZERO. Undefined
    over an empty shard -> NULL; counts stay 0, min/max NULL."""
    from ethiopia_legal_etl_spark.operators.profiling import (
        profile_table_stats,
    )

    d = str(tmp_path / "emptydocs")
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    rows = profile_table_stats(spark, d).collect()
    assert len(rows) == 5  # one profile row per column survives
    for r in rows:
        assert r["n_rows"] == 0
        assert r["n_null"] == 0
        assert r["n_distinct"] == 0
        assert r["completeness"] is None
        assert r["min_repr"] is None and r["max_repr"] is None


def test_corr_pairwise_complete_under_nulls(spark, tmp_path):
    """r14 optimization round's nulls-mirror close gate: the r13 corr
    respell try_divide(covar_pop(x,y), stddev_pop(x)*stddev_pop(y))
    drifted from true Pearson r under NULLs, because covar_pop is
    pairwise-complete while a bare stddev_pop(x) also counts rows
    whose OTHER column is NULL (clean data can't distinguish them).
    The stddev factors must be restricted to the pairwise-complete
    set; pin against the exact Pearson r of the complete pairs."""
    import math

    from ethiopia_legal_etl_spark.operators.aggregates import stats_aggregates

    d = str(tmp_path / "nulled")
    rows = []
    # one group, 40 rows; every 4th price NULL, every 7th qty NULL —
    # pairwise-complete set differs from each column's non-null set
    for i in range(40):
        qty = None if i % 7 == 0 else float(1 + (i * 3) % 11)
        price = None if i % 4 == 0 else float(100 + (i * 17) % 50)
        rows.append(("A", qty, price, 0.05, 0.02))
    spark.createDataFrame(
        rows,
        "l_returnflag string, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")

    got = {r["l_returnflag"]: r for r in stats_aggregates(spark, d).collect()}

    pairs = [
        (q, p)
        for _, q, p, _, _ in rows
        if q is not None and p is not None
    ]
    n = len(pairs)
    mx = sum(q for q, _ in pairs) / n
    my = sum(p for _, p in pairs) / n
    cov = sum((q - mx) * (p - my) for q, p in pairs) / n
    sx = math.sqrt(sum((q - mx) ** 2 for q, _ in pairs) / n)
    sy = math.sqrt(sum((p - my) ** 2 for _, p in pairs) / n)
    expected = round(cov / (sx * sy), 6)
    assert got["A"]["qty_price_corr"] == pytest.approx(expected, abs=1e-6)
