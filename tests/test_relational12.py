"""Wave 12 semantics tests: invariants of the product-analytics shapes
the order-insensitive oracle hash can't express — funnel monotonicity,
retention diagonal, Markov row-stochasticity.
"""

import math

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.analytics import (
    event_transition_matrix,
    funnel_signup_purchase_7d,
    retention_cohort_weekly,
)
from ethiopia_legal_etl_spark.sources.tables import load_table


def test_funnel_converted_bounded_by_signups(spark, sf_dir):
    rows = funnel_signup_purchase_7d(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_converted"] <= r["n_signups"]
        assert abs(r["conv_rate"] - round(r["n_converted"] / r["n_signups"], 4)) < 1e-9


def test_retention_week_zero_equals_cohort_size(spark, sf_dir):
    out = retention_cohort_weekly(spark, sf_dir)
    # offset 0 row per cohort counts every cohort member (each user is
    # active in their own first week by definition)
    zero = {r["cohort_week"]: r["active_users"] for r in out.where("week_offset = 0").collect()}
    ev = load_table(spark, sf_dir, "events")
    cohorts = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cw"))
        .groupBy("cw")
        .count()
        .collect()
    )
    assert zero == {r["cw"]: r["count"] for r in cohorts}
    assert out.where("week_offset < 0").count() == 0


def test_transition_probs_row_stochastic(spark, sf_dir):
    rows = event_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_src: dict[str, float] = {}
    for r in rows:
        assert r["transitions"] > 0
        by_src[r["from_event"]] = by_src.get(r["from_event"], 0.0) + r["prob"]
    for src, total in by_src.items():
        # rounded 4dp probabilities still sum to 1 within rounding slack
        assert math.isclose(total, 1.0, abs_tol=0.002), (src, total)
