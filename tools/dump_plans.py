"""Plan evidence, two ways.

Without --out: generate PLANS.md, physical-plan summaries for the
showcase queries at sf0.01 (pushed filters, pruned read schemas, join
strategies, codegen) so the scale claims are inspectable without
running anything.

With --out DIR: write the full `.explain('formatted')` of each query
(default: bench.py's HEADLINE + SECONDARY) at sf0.1 to
DIR/<query>_<TAG>.txt — a change's before/after plan evidence
(spark_optimization_guide.md §1: capture plan shape — Exchange count,
join strategy, PushedFilters/ReadSchema, codegen spans, Python-eval
nodes — before touching anything).

Usage: python tools/dump_plans.py > PLANS.md
       python tools/dump_plans.py --out DIR TAG [query ...]
         TAG = "before" | "after"
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ethiopia_legal_etl_spark.operators.registry import all_queries  # noqa: E402
from ethiopia_legal_etl_spark.plans.explain import formatted_plan  # noqa: E402
from ethiopia_legal_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
BENCH_SF_DIR = str(Path(SF_DIR).with_name("sf0.1"))  # bench.py's default

SHOWCASE = [
    "q1_pricing_summary",
    "sql_q6_forecast_revenue",
    "q5_region_revenue",
    "topk_orders_by_price",
    "asof_error_prev_purchase",
    "dedup_exact_hash",
    "similarity_cosine_topk",
    "semi_customers_with_orders",
    "q8_market_share",
    "q10_returned_revenue",
    "q21_sole_return_supplier",
    "window_range_7day_frame",
    "pipeline_training_corpus",
    "timeseries_gapfill_locf",
    "recursive_monthly_spine",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q16_supplier_part_counts",
    "q20_excess_share_suppliers",
    "funnel_signup_purchase_7d",
    "retention_cohort_weekly",
    "event_transition_matrix",
    "pagination_keyset_orders",
    "dedup_ngram_jaccard",
    "text_pii_scrub",
    "text_repetition_filter",
    "contamination_ngram_overlap",
    "text_unigram_logprob",
    "dedup_paragraph_exact",
    "corpus_host_cap",
    "chunk_overlap_windows",
    "text_token_entropy",
    "corpus_curation_pipeline",
    "multimodal_decode_real",
    "corpus_vocab_oov",
    "embedding_random_projection",
    "text_unicode_nfc",
    "text_quality_model_score",
    "bpe_encode_ids",
    "corpus_quality_curation",
    "pack_token_sequences",
    "similarity_lsh_tuned",
    "stream_quality_twin",
    "multimodal_decode_jpeg",
    "multimodal_decode_audio_compressed",
    "multimodal_video_frame_sample",
    "multimodal_decode_png",
    "warc_ingest_extract",
    "multimodal_image_resize",
    "multimodal_audio_features",
    "html_main_text",
    "warc_to_text_pipeline",
    "robots_crawl_gate",
    "url_canonical_dedup",
    "multimodal_decode_mpeg1",
    "sitemap_url_extract",
    "dsir_importance_select",
    "dedup_incremental_snapshot",
    "shard_export_balance",
    "similarity_pq_adc",
    "stream_stream_interval_join",
    "corpus_unimax_budget",
    "text_mojibake_repair",
    "frontier_bloom_seen",
    "unigram_encode_tokens",
    "multimodal_decode_mpeg1_l2",
    "cooccurrence_pmi_bigrams",
    "dedup_cluster_jaccard",
    "lm_stupid_backoff",
    "retrieval_bm25_topk",
    "winnowing_fingerprints",
    "graph_triangle_count",
    "event_pattern_funnels",
    "sketch_kmv_cooccurrence",
    "aqp_sampled_revenue",
    # r7 additions
    "multimodal_mp3_sideinfo",
    "dedup_substring_fraction",
    "embedding_mutual_nn",
    "retrieval_mmr_rerank",
    "preference_pairs_quality",
    "features_winsorize_events",
    "features_target_encode_loo",
    "ewma_user_value",
    "sessionize_gap30_events",
    "funnel_view_click_purchase",
    "stats_corr_exact_moments",
    "recursive_cte_walk",
    "incremental_agg_merge",
    "graph_kcore_hosts",
    "drift_ks_two_sample",
    "drift_psi_decile_bins",
    # r9: restructured / rows-only→oracle conversions + rotated-in stats
    "batch_padding_waste",
    "dedup_minhash_lsh",
    "dedup_simhash_band",
    "dedup_cluster_components",
    "similarity_ivf_by_label",
    "multimodal_fake_embed",
    "trend_theil_sen_slope",
    "fuzzy_vocab_jaro_winkler",
    "retrieval_rank_metrics",
    "retention_kaplan_meier",
    "stats_chi2_independence",
    "experiment_welch_effect",
    "attribution_linear_credit",
    # r12: newly driver-windowed entries not already above, so the
    # in-window plan audit has evidence for every fresh entry
    "experiment_proportion_ztest",
    "anomaly_rolling_zscore",
    "gini_revenue_concentration",
    "aqp_stratified_revenue",
    "dedup_semantic_keep",
    "corpus_stratified_sample",
    # r13: newly driver-windowed entries not already above
    "approx_percentile_price",
    "source_roundtrip_formats",
    "stream_sliding_window",
    "privacy_k_anonymity",
    "hypertable_rollup",
    # r14: newly driver-windowed entries not already above
    "q7_nation_volume",
    "skew_salted_aggregate",
    "bloom_pruned_join",
    "window_ignore_nulls_last_purchase",
    "text_bpe_token_count",
    "dedup_chunk_boilerplate",
    "embedding_int8_quantize",
    "stream_static_enrich",
    "model_ece_calibration",
]

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)


def summarize(plan: str) -> list[str]:
    out = []
    for node in JOIN_NODES:
        n = len(re.findall(rf"\({{0,1}}\d*\){{0,1}} {node}|^{node}", plan, re.M)) or plan.count(f" {node} ")
        c = plan.count(node)
        if c:
            out.append(f"- join strategy: `{node}` (x{c // 2 or 1})")
            break
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.append(f"- pushed filters: `{m.group(1)[:140]}`")
            break
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    if m:
        out.append(f"- read schema (pruned): `{m.group(1)[:160]}`")
    if "TakeOrderedAndProject" in plan:
        out.append("- top-k: `TakeOrderedAndProject` (per-partition heaps, no global sort)")
    if "LeftSemi" in plan:
        out.append("- semi join: right payload never materialized")
    # single source of the counting convention: plans/explain.py
    from ethiopia_legal_etl_spark.plans.explain import count_data_shuffles

    from ethiopia_legal_etl_spark.plans.explain import (
        count_single_partition_exchanges,
    )

    n_bcast = plan.count("BroadcastExchange") // 2
    n_shuf = count_data_shuffles(plan)
    out.append(f"- data shuffles (hash/range Exchange): {n_shuf}")
    if n_bcast:
        out.append(f"- broadcast exchanges (dim distribution, no shuffle): {n_bcast}")
    n_sp = count_single_partition_exchanges(plan)
    if n_sp:
        out.append(
            f"- single-partition exchanges: {n_sp} (bounded input, pinned "
            "in tests/test_plans.py::SP_BUDGET)"
        )
    return out


def dump_round(out_dir: Path, tag: str, names: list[str]) -> None:
    """Write `<query>_<tag>.txt` full plans at sf0.1 into `out_dir`."""
    from bench import HEADLINE, SECONDARY

    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    qs = all_queries()
    for name in names or HEADLINE + SECONDARY:
        try:
            plan = formatted_plan(qs[name].builder(spark, BENCH_SF_DIR))
        except Exception as e:  # eager builders that fail mid-dump
            plan = f"PLAN DUMP FAILED: {type(e).__name__}: {e}"
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", type=Path)
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.out:
        dump_round(args.out, args.tag, args.queries)
        return
    spark = get_spark(app_name="plans-dump")
    qs = all_queries()
    print("# PLANS — physical-plan evidence (generated by tools/dump_plans.py)")
    print()
    print(
        "Plan summaries at sf0.01; full `explain('formatted')` output can be\n"
        "regenerated with the tool. What to look for per SCALING.md: filters\n"
        "reach the scan, scans prune columns, dims broadcast, top-k avoids a\n"
        "global sort, shuffle counts stay minimal.\n"
    )
    for name in SHOWCASE:
        plan = formatted_plan(qs[name].builder(spark, SF_DIR))
        print(f"## {name}")
        print()
        for line in summarize(plan):
            print(line)
        print()


if __name__ == "__main__":
    main()
