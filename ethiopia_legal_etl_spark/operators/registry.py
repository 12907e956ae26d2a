"""Query registry: name -> (Spark builder, optional DuckDB oracle SQL).

Contract (driver harness, __spark_entry__.py):
- builder(spark, sf_dir) -> DataFrame, every computed column aliased;
- oracle: equivalent ANSI SQL over the same parquet tables, aliases
  matching the Spark output EXACTLY (the driver sorts columns by name
  and hashes values);
- oracle=None for non-SQL-expressible ops (LSH, binary plumbing,
  stateful streaming) -> driver records a rows-only check.

Float policy (keeps results raw-repr-identical across engines, not
just normalized-hash-equal — verified by check_oracle's strict check):
- money/product aggregates: exact DECIMAL(12,2) casts, summed exactly,
  CAST AS DOUBLE at the end (no rounding step at all);
- averages: decimal-exact sum cast to double, divided by the count —
  both engines divide the same double by the same int;
- per-row products of 2dp inputs: ROUND at 4dp (the exact value has
  ≤4 decimals, so no round-tie exists);
- irrational outputs (cosine, ln, sqrt, stddev): ROUND at 4-6dp, tie
  probability ~1e-11/row; signed statistics add `+ 0` to canonicalize
  IEEE -0.0 (DuckDB emits -0.0 for rounded covariances).
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None = None  # None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a builder to the global registry.

    Builders are wrapped so the engine's runtime confs (UTC session
    timezone, ns-parquet handling, AQE, Arrow) are applied to WHATEVER
    SparkSession the caller passes — the driver harness constructs its
    own session without our builder defaults.
    """

    def wrap(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        import functools

        @functools.wraps(fn)
        def confed(spark: SparkSession, sf_dir: str) -> DataFrame:
            from ethiopia_legal_etl_spark.session import ensure_session_confs

            return fn(ensure_session_confs(spark), sf_dir)

        REGISTRY[name] = Query(name=name, builder=confed, oracle=oracle, doc=doc)
        return fn

    return wrap


# DRIVER_WINDOW: the 50 entries the driver's correctness harness audits.
# The harness checks the FIRST 50 registry entries, and all_queries()
# returns these names first, so this tuple is that window. It holds at
# least one representative per SURVEY.md §2 row (reference-parity ETL,
# every relational class, dedup/similarity/text/multimodal/pipeline,
# streaming batch twins, the UDF surface). Entries rotated out of the
# window stay oracle-gated by tests/test_full_registry_gate.py; the
# rotation history lives in COVERAGE.md and git.
DRIVER_WINDOW: tuple[str, ...] = (
    "doc_record_projection",
    "incremental_skip_docs",
    "log_tail_events",
    "q1_pricing_summary",
    "interval_join_error_purchase",
    "window_range_7day_frame",
    "scalar_json_events",
    "multimodal_decode_audio_compressed",
    "warc_to_text_pipeline",
    "stream_session_window",
    "sql_udf_year_extract",
    "corpus_quality_curation",
    "fuzzy_vocab_damerau",
    "stats_chi2_independence",
    "approx_percentile_price",
    "source_roundtrip_formats",
    "multimodal_decode_jpeg",
    "robots_crawl_gate",
    "url_canonical_dedup",
    "timeseries_gapfill_locf",
    "q9_product_profit",
    "funnel_signup_purchase_7d",
    "retention_cohort_weekly",
    "stream_sliding_window",
    "privacy_k_anonymity",
    "hypertable_rollup",
    "q10_returned_revenue",
    "q7_nation_volume",
    "skew_salted_aggregate",
    "bloom_pruned_join",
    "window_ignore_nulls_last_purchase",
    "html_main_text",
    "text_bpe_token_count",
    "dedup_chunk_boilerplate",
    "embedding_int8_quantize",
    "dsir_importance_select",
    "stream_static_enrich",
    "model_ece_calibration",
    "stats_aggregates",
    "try_arithmetic_orders",
    "q8_market_share",
    "q2_min_cost_supplier",
    "q21_sole_return_supplier",
    "recursive_monthly_spine",
    "pivot_status_by_priority",
    "window_ntile_percent_rank",
    "applyinpandas_user_gap_stats",
    "text_repetition_filter",
    "embedding_random_projection",
    "dedup_incremental_snapshot",
)


def all_queries() -> dict[str, Query]:
    """Import every module under operators/ and streaming/ (side effect:
    registration) and return the merged registry, DRIVER_WINDOW entries
    first."""
    import ethiopia_legal_etl_spark.operators as operators
    import ethiopia_legal_etl_spark.streaming as streaming

    for pkg in (operators, streaming):
        for mod in pkgutil.iter_modules(pkg.__path__, f"{pkg.__name__}."):
            importlib.import_module(mod.name)

    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"DRIVER_WINDOW names not registered: {missing}"
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
