"""Model-based quality classifier (operators/quality.py): held-out
garbage separation, model/featurizer agreement with the offline
trainer, and the 100 TB plan shape."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.quality import (
    BIAS,
    WEIGHTS,
    score_documents,
    text_quality_model_score,
)

_spec = importlib.util.spec_from_file_location(
    "train_quality_weights",
    Path(__file__).resolve().parent.parent
    / "tools"
    / "train_quality_weights.py",
)
_trainer = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_trainer)


def test_garbage_scores_below_curated(spark, sf_dir):
    """The quality model's acceptance property, on HELD-OUT garbage
    (fresh seed, never seen in training): garbage documents must score
    below curated documents, and the is_quality gate must separate
    them with high accuracy."""
    import random

    garbage = _trainer.garbage_docs(200, random.Random(0xBAD5EED))
    gdf = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(garbage)],
        "doc_id long, text string",
    )
    g = score_documents(gdf).collect()
    c = text_quality_model_score(spark, sf_dir).collect()
    g_scores = [r["score"] for r in g]
    c_scores = [r["score"] for r in c]
    assert sum(g_scores) / len(g_scores) < 0.5 < sum(c_scores) / len(c_scores)
    g_acc = sum(not r["is_quality"] for r in g) / len(g)
    c_acc = sum(bool(r["is_quality"]) for r in c) / len(c)
    # offline held-out accuracy was 0.96; allow slack for the fresh
    # garbage draw but require real separation
    assert g_acc >= 0.85, g_acc
    assert c_acc >= 0.85, c_acc


def test_scores_match_offline_featurizer(spark, sf_dir):
    """Differential vs the trainer's own numpy featurizer + sigmoid:
    the Spark column-expression scorer and the offline model must
    agree per document (same md5 bucketing, same frozen weights)."""
    import math

    from ethiopia_legal_etl_spark.sources.tables import load_table

    w = [float(x) for x in WEIGHTS]
    b = float(BIAS)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expect = {}
    for r in docs.collect():
        x = _trainer.featurize(r["text"])
        z = sum(xi * wi for xi, wi in zip(x, w)) + b
        expect[r["doc_id"]] = (
            round(1.0 / (1.0 + math.exp(-z)), 6),
            z > 0,
        )
    got = {
        r["doc_id"]: (r["score"], bool(r["is_quality"]))
        for r in text_quality_model_score(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert got[k][1] == expect[k][1], k
        assert abs(got[k][0] - expect[k][0]) <= 1e-6, k


def test_quality_plan_shape(spark, sf_dir):
    """100 TB shape: ZERO shuffles (r5 stateless row-expression path),
    zero Python stages, no joins — the whole model is a literal array
    evaluated inside the scan's span."""
    from ethiopia_legal_etl_spark.plans.explain import (
        count_data_shuffles,
        formatted_plan,
    )

    plan = formatted_plan(text_quality_model_score(spark, sf_dir))
    assert count_data_shuffles(plan) == 0
    assert "Python" not in plan
    assert "Join" not in plan


def test_empty_and_whitespace_docs_dropped(spark):
    """No-token documents have nothing to featurize and are dropped —
    same inner-unnest semantics as the oracle."""
    df = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "real words here")],
        "doc_id long, text string",
    )
    out = score_documents(df).collect()
    assert [r["doc_id"] for r in out] == [3]
    assert out[0]["n_tokens"] == 3


def test_stateless_scorer_equals_aggregation_scorer(spark, sf_dir):
    """The zero-shuffle row-expression scorer must produce EXACTLY the
    aggregation path's output (same exact-decimal sums → same score,
    same gate) on curated docs AND on held-out garbage."""
    import random

    from ethiopia_legal_etl_spark.operators.quality import (
        score_documents_stateless,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    garbage = _trainer.garbage_docs(60, random.Random(0xFEED))
    gdf = spark.createDataFrame(
        [(50_000 + i, t) for i, t in enumerate(garbage)],
        "doc_id long, text string",
    )
    for df in (docs, gdf):
        agg = {
            r["doc_id"]: (r["n_tokens"], r["score"], bool(r["is_quality"]))
            for r in score_documents(df).collect()
        }
        row = {
            r["doc_id"]: (r["n_tokens"], r["score"], bool(r["is_quality"]))
            for r in score_documents_stateless(df).collect()
        }
        assert row == agg


def test_stateless_scorer_plan_is_shuffle_free(spark, sf_dir):
    from ethiopia_legal_etl_spark.operators.quality import (
        score_documents_stateless,
    )
    from ethiopia_legal_etl_spark.plans.explain import (
        count_data_shuffles,
        formatted_plan,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(score_documents_stateless(docs))
    assert count_data_shuffles(plan) == 0
    assert "Python" not in plan
