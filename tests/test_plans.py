"""Physical-plan assertions — the 100 TB design checks from BASELINE.md:
filters reach the parquet scan, small dims broadcast, top-k avoids a
global sort, and equi-joins never degrade to cartesian products."""

from __future__ import annotations

from ethiopia_legal_etl_spark.operators.analytics import topk_orders_by_price
from ethiopia_legal_etl_spark.operators.joins import semi_customers_with_orders
from ethiopia_legal_etl_spark.operators.tpch import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)
from ethiopia_legal_etl_spark.plans.explain import (
    assert_in_plan,
    assert_not_in_plan,
    formatted_plan,
)


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # partial aggregation before the exchange (map-side combine)
    assert "HashAggregate" in plan


def test_q1_column_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    plan = formatted_plan(df)
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema  # unused column not read


def test_q5_broadcasts_dimensions(spark, sf_dir):
    df = q5_region_revenue(spark, sf_dir)
    assert_in_plan(df, "BroadcastHashJoin")
    assert_not_in_plan(df, "CartesianProduct")


def test_q3_no_cartesian(spark, sf_dir):
    assert_not_in_plan(
        q3_shipping_priority(spark, sf_dir), "CartesianProduct", "BroadcastNestedLoopJoin"
    )


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    df = topk_orders_by_price(spark, sf_dir)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_semi_join_planned_as_semi(spark, sf_dir):
    df = semi_customers_with_orders(spark, sf_dir)
    assert "LeftSemi" in formatted_plan(df)


def test_pair_scoring_similarity_has_no_exists_scan(spark, sf_dir):
    """r11 perf pin: the pair-scoring cosine entries
    derive encoder-guard finiteness from the precomputed L2-norm
    column (with_norm), NOT a per-element exists(isnan|isinf) HOF
    conjunct — the exists form cost similarity_cosine_topk a measured
    1.6x by duplicating the scan into both join sides. A regression
    reintroducing the HOF (directly or via an emb_ok() call on these
    entries) re-fails here, not in a bench dispute two rounds later."""
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    qs = all_queries()
    for name in (
        "similarity_cosine_topk",
        "embedding_near_dup_cosine",
        "embedding_mutual_nn",
        "retrieval_mmr_rerank",
        "similarity_ivf_by_label",
        "dedup_semantic_keep",
        "embedding_matryoshka_overlap",
    ):
        plan = formatted_plan(qs[name].builder(spark, sf_dir))
        assert "exists(" not in plan and "ArrayExists" not in plan, (
            f"{name}: per-element exists scan is back in the plan"
        )


# Queries where a nested-loop join IS the intended plan (tiny broadcast
# side or genuine theta join) — everywhere else it's a planning bug.
BNLJ_ALLOWED = {
    "similarity_cosine_topk",   # 5-row query side broadcast × corpus
    "similarity_ivf_by_label",  # centroid probe: queries × 10 centroids
    "similarity_ivf_kmeans",    # centroid probe: 5 queries × 8 KMeans cells
    "theta_nation_pairs",       # pure non-equi join, 25×25
    "scalar_subquery_above_avg",  # scalar agg joined into the filter
    "q22_idle_balances",        # 1-row avg-balance cutoff broadcast
    "q11_important_parts",      # 1-row value-threshold broadcast crossJoin
    "text_tfidf_top_terms",     # 1-row corpus-size aggregate broadcast
    "fuzzy_pairs_levenshtein",  # genuine non-equi edit-distance join (doc'd)
    "timeseries_gapfill_locf",  # 1-row date-bounds broadcast crossJoin
    "text_unigram_logprob",     # 1-row token-total broadcast crossJoin
    "corpus_perplexity_buckets",  # 1-row corpus-total broadcast crossJoin
    "embedding_matryoshka_overlap",  # 5-row query side broadcast × corpus
    "similarity_pq_adc",        # query × codebook LUT: 5 × 128 rows, both broadcast
    "cooccurrence_pmi_bigrams",  # 1-row (N, M) totals broadcast crossJoin
    "lm_stupid_backoff",        # 1-row token-total broadcast crossJoin
    "retrieval_bm25_topk",      # 1-row (N, avgdl) broadcast crossJoin
    "sketch_kmv_cooccurrence",  # 5-row token pair/isin joins, both broadcast
    "abc_classification_parts",  # 1-row broadcast grand-total crossJoin
    "stats_benford_digits",     # 1-row broadcast digit-count total crossJoin
    "assoc_rules_brand_pairs",  # 1-row broadcast basket-count total crossJoin
    "embedding_mutual_nn",      # bounded two-cell cross product, target side broadcast
    "contrastive_negative_sample",  # 1-row corpus-count broadcast crossJoin
    "stats_chi2_independence",  # 1-row (R, C) dims broadcast crossJoin
    "lm_kneser_ney_bigrams",    # 1-row (n1, n2, types) discount broadcast crossJoin
    "fuzzy_vocab_damerau",      # Heaps-bounded vocab x vocab non-equi pairs (doc'd)
    "fuzzy_vocab_jaro_winkler",  # Heaps-bounded vocab x vocab non-equi pairs (doc'd)
    "retention_kaplan_meier",   # prefix-product pairs over the tiny duration frame
    "experiment_cuped_adjust",  # 1-row pooled-moments broadcast crossJoin
    "embedding_silhouette_labels",  # |labels|-row moment frame broadcast crossJoin
}


# Plan-level successor to the '# bounded:' comment convention (the
# "single-partition-window blind spot"): every Exchange
# SinglePartition in a registered plan is a one-reducer funnel, so
# each one is audited and pinned here. Every pinned count below is a
# BOUNDED input by construction — one of:
#   (a) a 1-row global total / scalar subquery (global sum, AUC rank
#       total, pooled moments, corpus N for idf, threshold scan);
#   (b) an ordered prefix/frame over a POST-AGGREGATE table whose row
#       count is data-bounded (distinct months/days/durations/lengths,
#       quantile buckets, per-column profile stats, vocab tables,
#       shard tables, Lorenz/ABC curves over entity aggregates);
#   (c) a bounded diagnostic readout (expectations_check's per-rule
#       1-row asserts, profile_table_stats' per-column stats).
# A NEW entry that plans a SinglePartition exchange fails the sweep
# until its bounded-input story is reviewed and pinned here.
SP_BUDGET = {
    # (a) 1-row totals / scalar subqueries
    "scalar_subquery_above_avg": 1,
    "sql_q6_forecast_revenue": 1,
    "q11_important_parts": 1,
    "q14_promo_share": 1,
    "q15_top_supplier": 1,
    "q17_small_quantity_loss": 1,
    "q19_disjunctive_revenue": 1,
    "q22_idle_balances": 1,
    "sketch_hll_daily_users": 1,
    "model_auc_exact": 1,
    "experiment_welch_effect": 1,
    "experiment_cuped_adjust": 1,
    "experiment_proportion_ztest": 1,
    "stats_benford_digits": 1,
    "stats_chi2_independence": 2,
    "agreement_cohen_kappa": 1,
    "assoc_rules_brand_pairs": 1,
    "text_unigram_logprob": 1,
    "text_tfidf_top_terms": 1,
    "dsir_importance_select": 1,
    "corpus_dsir_pipeline": 1,
    "frontier_bloom_seen": 1,
    "contrastive_negative_sample": 1,
    "cooccurrence_pmi_bigrams": 2,
    "retrieval_bm25_topk": 2,
    "lm_stupid_backoff": 1,
    "lm_kneser_ney_bigrams": 1,
    # (b) bounded post-aggregate ordered frames
    "gini_revenue_concentration": 1,   # Lorenz prefix over customer agg
    "abc_classification_parts": 2,     # cumulative share over part agg
    "monthly_revenue_mom": 1,          # |months| rows
    "window_ntile_percent_rank": 1,    # orders of o_custkey < 50 (~500)
    "timeseries_gapfill_locf": 1,      # day-spine sequence
    "batch_padding_waste": 1,          # per-length count table prefix
    "retention_kaplan_meier": 8,       # distinct-duration frames (prefix
    #   products + risk sets over |durations| rows, built stepwise)
    "funnel_view_click_purchase": 3,   # per-stage bounded totals
    "sample_quota_apportion": 1,       # |strata| rows
    "shard_export_balance": 1,         # |shards| rows
    "corpus_mixture_weights": 1,       # |sources| rows
    "corpus_unimax_budget": 1,         # |langs| rows
    "corpus_perplexity_buckets": 1,    # |buckets| rows
    "model_confusion_threshold": 1,    # |thresholds| rows
    "model_ece_calibration": 1,        # |bins| rows
    "privacy_k_anonymity": 1,          # |quasi-identifier classes| rows
    "stream_drift_psi_twin": 1,        # |bins| reference frame
    # (c) bounded diagnostics
    "profile_table_stats": 5,          # per-column 1-row stats
    "expectations_check": 7,           # per-rule 1-row asserts
}


def test_all_plans_free_of_cartesians_and_slow_udfs(spark, sf_dir):
    """Global invariant sweep over every registered query:
    - no CartesianProduct, ever
    - BroadcastNestedLoopJoin only where a broadcast-NL plan is the
      design (BNLJ_ALLOWED)
    - no row-at-a-time Python UDFs (BatchEvalPython) — Python stages
      must be Arrow-vectorized (ArrowEvalPython / MapInPandas /
      FlatMapGroupsInPandas)
    - no Exchange SinglePartition beyond the audited SP_BUDGET pins
      (each a bounded post-aggregate/1-row input, never corpus-grain)
    """
    from ethiopia_legal_etl_spark.operators.registry import all_queries
    from ethiopia_legal_etl_spark.plans.explain import (
        count_single_partition_exchanges,
    )

    offenders: list[str] = []
    for name, q in sorted(all_queries().items()):
        if name == "source_roundtrip_formats":
            continue  # materializes scratch files; not a single plan
        plan = formatted_plan(q.builder(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            offenders.append(f"{name}: row-at-a-time Python UDF")
        spc = count_single_partition_exchanges(plan)
        if spc > SP_BUDGET.get(name, 0):
            offenders.append(
                f"{name}: {spc} SinglePartition exchanges > "
                f"budget {SP_BUDGET.get(name, 0)}"
            )
    assert not offenders, offenders


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE wraps the plan before execution, hiding codegen subtrees from
    # explain; disable it for this one plan to inspect codegen directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q1_pricing_summary(spark, sf_dir)
        codegen = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        assert "WholeStageCodegen" in codegen
        assert "Found 0 WholeStageCodegen" not in codegen
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q21_semi_anti_no_cartesian(spark, sf_dir):
    """Q21 shape: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, and the
    non-equi suppkey inequality stays a join residual (never a BNLJ —
    the orderkey equi-key carries the join)."""
    from ethiopia_legal_etl_spark.operators.tpch import q21_sole_return_supplier

    plan = formatted_plan(q21_sole_return_supplier(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_part_filters_pushed(spark, sf_dir):
    """Q19's disjunctive predicate: Catalyst extracts brand/size
    conjuncts toward the part scan as pushed filters."""
    from ethiopia_legal_etl_spark.operators.tpch import q19_disjunctive_revenue

    plan = formatted_plan(q19_disjunctive_revenue(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_runtime_filter_injection(spark, sf_dir):
    """The 100 TB path of bloom_pruned_join: when the filtered orders
    side is too big to broadcast (forced here via thresholds), Spark
    injects a runtime Bloom filter — bloom_filter_agg on the creation
    side, might_contain() applied at the lineitem scan."""
    from ethiopia_legal_etl_spark.operators.tpch import bloom_pruned_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = bloom_pruned_join(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
        # and the pruned result is still correct
        rows = {r["l_returnflag"]: r["n_lines"] for r in df.collect()}
        assert set(rows) == {"A", "N", "R"} and all(v > 0 for v in rows.values())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_frame_window_partitioned(spark, sf_dir):
    """The 7-day RANGE frame runs per-customer — the plan must show a
    partitioned Window (no single-partition global window warning)."""
    from ethiopia_legal_etl_spark.operators.analytics import window_range_7day_frame

    plan = formatted_plan(window_range_7day_frame(spark, sf_dir))
    assert "Window" in plan
    assert "o_custkey" in plan.split("Window")[1][:400]


def test_batch_padding_waste_no_corpus_single_partition_window(spark, sf_dir):
    """batch_padding_waste decomposes its global
    (n_tok, doc_id) rank as bounded-prefix + within-length rank, so
    the CORPUS rows must flow through a Window PARTITIONED by n_tok;
    the only SinglePartition exchange allowed is the one feeding the
    per-length count table (one row per distinct length)."""
    import re

    from ethiopia_legal_etl_spark.operators.corpusops import batch_padding_waste

    plan = formatted_plan(batch_padding_waste(spark, sf_dir))
    # the row_number window (corpus grain) carries a partition spec
    # windowspecdefinition(<partition cols>, <sort cols>, frame): the
    # corpus rank must open with the n_tok partition key
    rn = re.search(
        r"row_number\(\) windowspecdefinition\(n_tok#\d+L, doc_id#\d+L ASC", plan
    )
    assert rn, f"corpus row_number window not partitioned by n_tok:\n{plan}"
    # every SinglePartition exchange's input is the 2-col count table
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    for b in blocks:
        if "SinglePartition" in b and b.lstrip().startswith("("):
            assert "cnt#" in b, f"corpus-grain SinglePartition exchange:\n{b}"


def test_pipeline_single_shuffle(spark, sf_dir):
    """The composed training-corpus pipeline must keep exactly ONE
    Exchange (the digest-keyed dedup): every filter/score stage fuses
    map-side into the scan stage."""
    from ethiopia_legal_etl_spark.operators.pipeline import pipeline_training_corpus

    plan = formatted_plan(pipeline_training_corpus(spark, sf_dir))
    # formatted output lists each node once in the tree and once in
    # the detail section -> a single Exchange appears exactly twice
    assert plan.count("Exchange") == 2, plan


def test_observed_pipeline_metrics(spark, sf_dir):
    """df.observe() counters computed in-flight equal the counts a
    separate pass would produce — metrics without a re-scan."""
    from ethiopia_legal_etl_spark.operators.pipeline import (
        observed_training_corpus,
        pipeline_training_corpus,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table

    result, obs_in, obs_out = observed_training_corpus(spark, sf_dir)
    survivors = result.count()  # the action that populates both observations
    docs = load_table(spark, sf_dir, "documents")
    assert obs_in.get["n_docs"] == docs.count()
    assert obs_in.get["n_empty"] == docs.where("length(text) = 0").count()
    assert obs_out.get["n_survivors"] == survivors
    assert survivors == pipeline_training_corpus(spark, sf_dir).count()


def test_shuffled_hash_join_strategy_available(spark, sf_dir):
    """Join-strategy coverage: the SHUFFLE_HASH hint plans a
    ShuffledHashJoin — the strategy of choice when one side is much
    smaller but too big to broadcast (no sort, per-partition hash
    map). Config-only selection (preferSortMergeJoin=false) is gated
    on plan-size estimates smaller than partitions×broadcast
    threshold, so the hint is the reliable spelling at scale."""
    from ethiopia_legal_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    df = (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_keyset_pagination_filter_pushed(spark, sf_dir):
    """Keyset pagination's literal boundary predicate reaches the scan
    (the whole point vs OFFSET: no prefix re-read at depth)."""
    from ethiopia_legal_etl_spark.operators.analytics import pagination_keyset_orders

    plan = formatted_plan(pagination_keyset_orders(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:300]
    # page fetch is a bounded heap, not a global sort
    assert "TakeOrderedAndProject" in plan


# Shuffle budgets for every bench headline query: the number of real
# (hash/range) Exchanges each plan is ALLOWED — pinned at the audited
# round-3 values so a refactor that silently adds a shuffle fails CI.
# Broadcast distribution is excluded (dim-sized, not data-sized).
SHUFFLE_BUDGET = {
    # +1 in the r14 optimization round for q1/q5/q8/q9: the
    # money sums moved from DECIMAL(22,2)+ agg buffers (BigDecimal per
    # update; measured ~0.85 s of q1's 1.1 s at sf0.1) to exact LONG
    # micros summed two-level over (keys..., spark_partition_id())
    # (functions/money.py; guide §2.5). The added exchange carries
    # ≤ |groups| rows per upstream partition — bytes-negligible; the
    # data-sized exchange count is unchanged.
    "q1_pricing_summary": 2,
    "q3_shipping_priority": 1,
    "q5_region_revenue": 2,
    "sql_q6_forecast_revenue": 1,
    "q8_market_share": 2,
    "q9_product_profit": 2,
    "q10_returned_revenue": 1,
    "q18_large_orders": 1,
    "q19_disjunctive_revenue": 1,
    "q21_sole_return_supplier": 1,
    "window_running_user_value": 1,
    "window_range_7day_frame": 1,
    "topk_orders_by_price": 0,
    "asof_error_prev_purchase": 2,
    "interval_join_error_purchase": 0,
    "dedup_exact_hash": 1,
    "dedup_ngram_jaccard": 1,
    "dedup_simhash_band": 1,
    "text_term_frequency": 1,
    "text_tfidf_top_terms": 5,
    "similarity_cosine_topk": 1,
    "timeseries_gapfill_locf": 2,
    "stream_tumbling_window": 1,
    "stream_session_window": 1,
    "doc_record_projection": 0,
    "multimodal_decode_stub": 1,
    "pipeline_training_corpus": 1,
    # corpus-construction ops (not in bench HEADLINE, same guard)
    "dedup_paragraph_exact": 2,
    "corpus_host_cap": 1,
    "chunk_overlap_windows": 0,
    # +1 each in r8: the count-of-counts regroup for the
    # reassociation-free entropy fold — the extra
    # exchange carries (doc, c, m) tuples, sqrt(n_tokens) rows/doc,
    # negligible next to the (doc, token) shuffle it follows
    "text_token_entropy": 3,
    "corpus_curation_pipeline": 7,
    "corpus_vocab_oov": 3,
    "embedding_random_projection": 0,
    "embedding_int8_quantize": 0,
    "stream_dedup_twin": 2,
    "multimodal_decode_real": 1,
    "text_unicode_nfc": 0,
    "text_quality_model_score": 0,
    "bpe_encode_ids": 0,
    "corpus_quality_curation": 5,
    "pack_token_sequences": 2,
    "stream_quality_twin": 1,
    "multimodal_decode_jpeg": 1,
    "multimodal_decode_audio_compressed": 1,
    "multimodal_video_frame_sample": 1,
    "multimodal_decode_png": 1,
    "warc_ingest_extract": 1,
    "warc_ingest_rejects": 1,
    "multimodal_image_resize": 1,
    "multimodal_audio_features": 1,
    "html_main_text": 0,
    "warc_to_text_pipeline": 2,
    "robots_crawl_gate": 1,
    "url_canonical_dedup": 1,
    "sitemap_url_extract": 0,
    # r6 late additions
    "stream_stream_interval_join": 1,  # user-key join; agg reuses it
    "corpus_unimax_budget": 2,  # corpus groupBy + bounded-frame window
    "text_mojibake_repair": 0,  # map-only repair stage
    "frontier_bloom_seen": 2,  # persisted bit-table distinct + 1-row agg
    "unigram_encode_tokens": 0,  # broadcast-vocab map-only apply
    "unigram_train_vocab": 0,  # result is the V-bounded local table
    "sketch_kll_order_prices": 0,  # partials built map-only pre-plan
    "multimodal_decode_mpeg1": 1,  # parallelism repartition
    "multimodal_decode_mpeg1_l2": 1,  # parallelism repartition
    "anchor_text_profile": 2,  # host groupBy + count_distinct expand
    "heavy_hitters_mg": 1,  # exact pass over MG candidates only
    "cooccurrence_pmi_bigrams": 4,  # uni+bi vocab aggs + 2 1-row totals
    "dedup_cluster_jaccard": 1,  # final cluster agg; rounds checkpointed
    "lm_stupid_backoff": 4,  # uni+bi vocab aggs, 1-row total, doc agg
    # tf/dl/df aggs, 2 1-row globals, score agg, window, + re-key of the
    # query-FILTERED tf side to doc_id for the dl join (tiny by then)
    "retrieval_bm25_topk": 8,
    "winnowing_fingerprints": 0,  # pure per-row array expressions
    "graph_triangle_count": 6,  # und distinct, path joins, per-host+deg aggs
    "event_pattern_funnels": 1,  # single (user, day) aggregate
    "sketch_kmv_cooccurrence": 5,  # mem distinct, sketch window, merge agg, pair window reuse, exact gate
    "aqp_sampled_revenue": 2,  # sampled agg + exact-evidence agg (3-row join)
    # entries converted to oracle-checked or prefix-offset shapes
    "batch_padding_waste": 4,  # 1 corpus n_tok window + 3 bounded
    #   (map-side per-length counts, SinglePartition prefix, batch agg)
    "dedup_minhash_lsh": 1,  # banded candidate equi-join
    "dedup_simhash_band": 1,  # band-key candidate equi-join
    "dedup_cluster_components": 1,  # final cluster agg; rounds checkpointed
    "similarity_ivf_by_label": 3,  # centroid agg x2 reassembly + probe agg
    "multimodal_fake_embed": 1,  # per-media-type norm agg
    "trend_theil_sen_slope": 3,  # daily agg, per-type pair join, median agg
}


def test_count_single_partition_exchanges_convention(spark, sf_dir):
    """Pin the structural detection behind the global-window budget:
    a Window.orderBy with no partition key plans Exchange
    SinglePartition (counted), a partitioned window plans a hash
    exchange (not counted), and a global orderBy plans
    rangepartitioning (not counted — range shuffles scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ethiopia_legal_etl_spark.plans.explain import (
        count_single_partition_exchanges,
        formatted_plan,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    glob = nation.select(
        "n_name", F.row_number().over(Window.orderBy("n_name")).alias("r")
    )
    assert count_single_partition_exchanges(formatted_plan(glob)) == 1

    part = nation.select(
        "n_name",
        F.row_number()
        .over(Window.partitionBy("n_regionkey").orderBy("n_name"))
        .alias("r"),
    )
    assert count_single_partition_exchanges(formatted_plan(part)) == 0

    rng = nation.orderBy("n_name")
    plan = formatted_plan(rng)
    assert "rangepartitioning" in plan
    assert count_single_partition_exchanges(plan) == 0


def test_count_single_partition_regex_edge_cases():
    """Pin the two under-count modes of the SP gate
    (both would let a one-reducer funnel pass silently): (a) a detail
    block that terminates the plan string with NO trailing blank
    line; (b) a ReusedExchange whose target is a SinglePartition
    exchange (its own detail block never prints the partitioning)."""
    from ethiopia_legal_etl_spark.plans.explain import (
        count_single_partition_exchanges,
    )

    # (a) SP Exchange block at end-of-string, no trailing blank line
    plan_a = (
        "(1) Scan parquet\n"
        "Output [1]: [x#1]\n"
        "\n"
        "(2) Exchange\n"
        "Input [1]: [x#1]\n"
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]"
    )
    assert count_single_partition_exchanges(plan_a) == 1

    # (b) ReusedExchange pointing at an SP exchange counts as a second
    # consumer of the same funnel
    plan_b = (
        "(2) Exchange\n"
        "Input [1]: [x#1]\n"
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "\n"
        "(5) ReusedExchange [Reuses operator id: 2]\n"
        "Output [1]: [x#1]\n"
    )
    assert count_single_partition_exchanges(plan_b) == 2

    # a ReusedExchange over a HASH exchange stays uncounted
    plan_c = (
        "(2) Exchange\n"
        "Input [1]: [x#1]\n"
        "Arguments: hashpartitioning(x#1, 32), ENSURE_REQUIREMENTS\n"
        "\n"
        "(5) ReusedExchange [Reuses operator id: 2]\n"
        "Output [1]: [x#1]\n"
    )
    assert count_single_partition_exchanges(plan_c) == 0


def test_count_data_shuffles_structural_convention(spark, sf_dir):
    """Pin the formatted-plan assumptions behind count_data_shuffles:
    node headers '(N) Exchange' are counted once per node id, so the
    count survives tree-vs-details repetition, AQE wrappers, and an
    executed plan's 'Initial Plan' section (where node ids repeat)."""
    from ethiopia_legal_etl_spark.plans.explain import (
        _EXCHANGE_HEADER,
        count_data_shuffles,
        formatted_plan,
    )
    from ethiopia_legal_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    agg = nation.groupBy("n_regionkey").count()
    plan = formatted_plan(agg)
    assert "AdaptiveSparkPlan" in plan  # AQE is on in the session
    assert count_data_shuffles(plan) == 1
    # the raw substring appears more than once (tree + details) — the
    # structural header count is what keeps the convention honest
    assert plan.count("Exchange") > 1

    bcast = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    bplan = formatted_plan(bcast)
    kinds = [k for _, k in _EXCHANGE_HEADER.findall(bplan)]
    assert "BroadcastExchange" in kinds
    assert count_data_shuffles(bplan) == 0

    # executed AQE plan: isFinalPlan=true prints final + Initial Plan
    # sections with repeated node ids; dedup must not double count
    agg.collect()
    eplan = formatted_plan(agg)
    assert "isFinalPlan=true" in eplan
    assert count_data_shuffles(eplan) == 1

    # executed plan with a scalar subquery: one '== Initial Plan =='
    # section PER AdaptiveSparkPlan (main + each subquery subtree) —
    # every one must be excluded, not just the first
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    q = all_queries()["scalar_subquery_above_avg"].builder(spark, sf_dir)
    before = count_data_shuffles(formatted_plan(q))
    q.collect()
    splan = formatted_plan(q)
    assert splan.count("== Initial Plan ==") >= 2  # main + subquery AQE trees
    assert count_data_shuffles(splan) == before, "executed count must not inflate"


def test_headline_shuffle_budgets(spark, sf_dir):
    """A 100 TB regression guard: every headline plan stays within its
    audited shuffle budget."""
    from ethiopia_legal_etl_spark.operators.registry import all_queries
    from ethiopia_legal_etl_spark.plans.explain import count_data_shuffles

    qs = all_queries()
    over = []
    for name, budget in SHUFFLE_BUDGET.items():
        got = count_data_shuffles(formatted_plan(qs[name].builder(spark, sf_dir)))
        if got > budget:
            over.append(f"{name}: {got} > budget {budget}")
    assert not over, over


def test_nfc_single_arrow_eval(spark, sf_dir):
    """text_unicode_nfc normalizes each document exactly ONCE: the
    norm_text column feeds len_after/norm_text/changed, and Catalyst's
    Python-UDF extraction must collapse that into a single
    ArrowEvalPython node. Pinned so a plan-extraction change can never
    silently run the normalizer 3x over the corpus."""
    from ethiopia_legal_etl_spark.operators.registry import all_queries

    df = all_queries()["text_unicode_nfc"].builder(spark, sf_dir)
    plan = formatted_plan(df)
    n_nodes = len(
        [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and ln.strip().startswith("(")]
    )
    assert n_nodes == 1, f"expected exactly 1 ArrowEvalPython node, got {n_nodes}\n{plan}"
    # and within that node, the UDF is invoked once, not three times
    assert plan.count("nfc(") <= 2, plan  # header line + details line


def test_no_unannotated_global_windows():
    """r6 VERDICT #8: every global window (Window.orderBy(...) with no
    partition key, or Window.partitionBy() with no args) moves ALL rows
    to one partition — each site must carry an adjacent justification:
    '# bounded:' (post-aggregate frame, size-bounded by construction)
    or '# global-sort:' (a total ranking is the operator's semantics,
    with the documented scale path). Grep-assertable, per the audit."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "ethiopia_legal_etl_spark"
    pattern = re.compile(r"Window\.orderBy\(|Window\.partitionBy\(\)")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not pattern.search(line):
                continue
            window = lines[max(0, i - 6) : i + 1]
            if not any("# bounded:" in l or "# global-sort:" in l for l in window):
                offenders.append(f"{path.name}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "global windows without a '# bounded:' / '# global-sort:' "
        f"annotation: {offenders}"
    )
