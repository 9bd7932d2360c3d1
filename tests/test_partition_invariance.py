"""Partition-count invariance (SURVEY.md §5; VERDICT r1 §Missing #2).

The reference proves its output is independent of worker/reducer count
by diffing runs at different parallelism (main/test-mr.sh:147-198).
The Spark translation: a representative query slice must produce the
identical canonical row multiset at shuffle.partitions 1 vs 32 — one
reducer vs many. Covers each shuffle-bearing operator family: agg
(wordcount), join, window, set-op, LSH pair discovery, top-k.
"""

from __future__ import annotations

import pytest

from tda596_lab02mapreduce_spark import registry
from tests.oracle import value_hash

SLICE = [
    "wordcount",
    "join_sortmerge_revenue",
    "window_running_sum",
    "set_except_all",
    "dedup_minhash_lsh",
    "topk_orders",
    # round-2 additions: iterative fixpoint, spine+ffill, full-outer merge
    "union_find_components",
    "timeseries_gapfill",
    "upsert_customer_batch",
    # training-pipeline additions: windowed numbering, shingle join,
    # hash split, end-to-end clean pipeline
    "sessionize_events",
    "decontaminate_train_split",
    "split_train_valid_test",
    "corpus_clean_pipeline",
    # round-5 additions: in-plan recursion, custom-sink roundtrip,
    # bitwise-aggregate algebra, sketch top-k, audio framing
    "graph_reach_recursive",
    "sink_python_textkv_roundtrip",
    "agg_bitwise_ops",
    "approx_topk_tokens",
    "multimodal_audio_energy",
    # round-6 additions: md5-family simhash banding, star alternation,
    # containment pairs, histogram+window order statistics
    "dedup_simhash",
    "dedup_cluster_star",
    "dedup_containment",
    "stats_exact_quantiles",
    # round-6 training-prep band: rank-on-rounded-score retrieval cut,
    # per-shard packing window, top-K vocab + regroup encode, md5-rank
    # stratified cut, LM model rollup + probe join, BPE global top-k,
    # cosine-vote classification
    "bm25_topk_retrieval",
    "seq_pack_concat_chunks",
    "vocab_encode_topk",
    "sample_stratified_exact",
    "lm_bigram_score",
    "bpe_top_merges",
    "knn_label_classify",
    # round-6 late additions: band-join + integer credit split, SCD2
    # interval lookup, multi-rule audit union
    "attribution_linear_touch",
    "scd2_point_in_time",
    "data_quality_audit",
    # round-6 analytics band: collect_set pair generation (sorted-array
    # determinism), double-rank tie correction, 9-lag window chain,
    # corpus-total broadcasts, hash-draw sampling
    "copurchase_brand_pairs",
    "spearman_value_vs_hour",
    "ewma_dyadic_user_value",
    "collocation_lift_bigrams",
    "contrastive_negative_pairs",
    # round-6 late additions: session-path assembly (sorted structs),
    # keyed-ntile segmentation, min_by/max_by reduction, bounded-frame
    # order statistics, unrolled greedy over checkpointed candidates
    "session_path_trigrams",
    "rfm_customer_segments",
    "timeseries_ohlc_hourly",
    "window_rolling_median",
    "similarity_mmr_rerank",
    "anomaly_mad_events",
    # weighted cumulative-window order statistic; sorted-fold float sum
    "weighted_median_price",
    "stats_chi2_type_hour",
    # dominance windows; gaps-and-islands run detection
    "skyline_price_quantity",
    "user_activity_streaks",
    # decay-weight credit split; digit-count literal join; month-series lag
    "attribution_decay_touch",
    "benford_first_digit",
    "revenue_monthly_yoy",
    # round-7 TPC-H band: decorrelated min-join-back, one-shuffle
    # multi-broadcast joins, conditional-ratio aggregates, semi/anti
    # pairs, windowed two-grain rollup
    "tpch_q2_min_price_supplier",
    "tpch_q4_priority_late_ship",
    "tpch_q7_nation_trade_volume",
    "tpch_q8_market_share",
    "tpch_q10_returned_revenue",
    "tpch_q16_supplier_count",
    "tpch_q20_half_quantity_suppliers",
    "tpch_q21_sole_supplier_lines",
    # round-7 drift/stats band: exact-decimal term sums, reference
    # quantile edges, running-max interval unions, recursion, bitmaps
    "psi_value_drift",
    "psi_value_drift_qbins",
    "ks_value_drift",
    "cusum_changepoint_daily",
    "markov_event_transitions",
    "mutual_information_type_hour",
    "acf_daily_events",
    "zipf_token_fit",
    "token_entropy_by_source",
    "pareto_revenue_concentration",
    "gini_revenue_concentration",
    "ab_test_conversion_z",
    "holt_forecast_daily",
    "twap_user_value",
    "debounce_events_1h",
    "funnel_time_to_convert",
    "fk_integrity_audit",
    "dedup_passage_exact",
    "sample_weighted_reservoir",
    "embedding_centroid_outliers",
    "bitmap_distinct_rollup",
    "sliding_distinct_users_7d",
    "window_session_dynamic_gap",
    "keyset_pagination_orders",
    "sampled_sum_estimate",
    "rollup_share_of_parent",
    "snapshot_diff_cdf",
    "join_asof_anti_cold_purchases",
    "sink_versioned_time_travel",
    "source_partition_layout_evolution",
    "pandas_api_groupby",
    "stream_psi_monitor",
    # round-8: distributed-rank rewires (exactness must hold at any
    # range-partition count — the whole point of the helper), the
    # integer-unit PageRank, the GEMM per-batch candidate cut (batch
    # boundaries move with parallelism; the top-k must not), and the
    # equi-depth histogram's distributed ntile
    "histogram_equidepth_price",
    "window_distribution",
    "pagerank_neardup_hubs",
    "similarity_topk_gemm",
    # round-8 second wave: the SIGNED cumsum (sweep-line concurrency —
    # the max_by totals fix must hold at any partition count), the
    # threshold-scan cumsums, the positional-filtered PPJoin, the
    # span-merge islands, the cogroup UDF (group assembly moves with
    # parallelism), the md5-weight bootstrap, the bin-decomposed
    # interval join, and the sink vacuum's manifest arithmetic
    "concurrency_peak_daily",
    "decision_split_gain",
    "tree_depth2_priority",
    "pr_curve_thresholds",
    "dedup_substring_spans",
    "dedup_ppjoin_pairs",
    "udf_cogroup_asof",
    "bootstrap_mean_ci",
    "join_interval_overlap",
    "regr_multi_ols",
    "seasonal_decompose_daily",
    "text_ngram_novelty",
    "topk_keywords_per_doc",
    "quantile_transform_value",
    "anomaly_burstiness_users",
    "sink_versioned_vacuum",
    "timeseries_interpolate_linear",
    "privacy_l_diversity",
    "stats_covariance_matrix",
    # the fixed-round graph loops
    # (pagerank_neardup_hubs is above; kcore is in SLICE_CORRECTNESS)
    "community_label_propagation",
    "hits_copurchase_bipartite",
    "ppr_seeded_related_parts",
    "graph_bfs_hops",
    "graph_weighted_cheapest",
]


# Empty at the smoke scale, so checked on the correctness fixture:
# k=25 peels every node of the sf0.001 purchase graph.
SLICE_CORRECTNESS = ["kcore_peel_bipartite"]


def _assert_invariant(spark, sf_dir, name):
    fn = registry.get(name).spark_fn
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    hashes = {}
    try:
        for n in (1, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            df = fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            assert rows, f"{name} returned no rows at partitions={n}"
            hashes[n] = value_hash(rows, df.columns)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert hashes[1] == hashes[32], (
        f"{name}: result depends on shuffle partition count"
    )


@pytest.mark.parametrize("name", SLICE)
def test_result_invariant_under_shuffle_partition_count(spark, sf_smoke, name):
    _assert_invariant(spark, sf_smoke, name)


@pytest.mark.parametrize("name", SLICE_CORRECTNESS)
def test_result_invariant_at_correctness_scale(spark, sf_correctness, name):
    _assert_invariant(spark, sf_correctness, name)
