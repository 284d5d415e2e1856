"""Query registry: the engine's public operator inventory.

Each operator from SURVEY.md §2 registers a named query callable
``(spark, sf_dir) -> DataFrame`` and, where the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string computing the same
result. The driver hash-compares the two at sf0.01 — so every
computed column is aliased identically on both sides, and all float
aggregates are computed through exact decimal arithmetic (see
``functions/exact.py``) to keep values bit-identical across engines
and across partition orderings.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPERATOR_MODULES = (
    "watermill_kinesis_spark.operators.messages",
    "watermill_kinesis_spark.operators.custom_source",
    "watermill_kinesis_spark.operators.relational",
    "watermill_kinesis_spark.operators.windows",
    "watermill_kinesis_spark.operators.udf",
    "watermill_kinesis_spark.operators.formats",
    "watermill_kinesis_spark.operators.dedup",
    "watermill_kinesis_spark.operators.similarity",
    "watermill_kinesis_spark.operators.graph",
    "watermill_kinesis_spark.operators.text",
    "watermill_kinesis_spark.operators.multimodal",
    "watermill_kinesis_spark.operators.pipeline",
    "watermill_kinesis_spark.operators.sqltext",
    "watermill_kinesis_spark.operators.modern",
    "watermill_kinesis_spark.operators.governance",
    "watermill_kinesis_spark.operators.frequency",
    "watermill_kinesis_spark.operators.clustering",
    "watermill_kinesis_spark.operators.streaming_batch",
    "watermill_kinesis_spark.operators.tokenizer",
    "watermill_kinesis_spark.operators.evaluation",
    "watermill_kinesis_spark.operators.retrieval",
)


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

#: Inventory presentation order. Verification harnesses (the driver's
#: correctness gate among them) may sample a PREFIX of the inventory
#: under a budget, so the order is chosen to make every prefix a
#: representative cross-section of the whole operator surface: Layer-A
#: codec/transport first, then one block per category — scans, aggs,
#: joins (incl. as-of/range), TPC-H shapes, subqueries, windows, set
#: ops, scalars, event-time, UDF/UDTF, file formats, and the
#: LLM-pipeline families (dedup, similarity, text, multimodal,
#: sampling). Queries not listed here follow in registration order;
#: nothing is hidden — ``all_specs`` always returns the full registry.
_PRIORITY: tuple[str, ...] = (
    # ---- Rotation: STALENESS ordering, regenerated by
    # tools/gen_rotation.py from the CORRECTNESS_r*.json records
    # (last-green full-pass run per oracle-backed entry; see that
    # script's docstring for the policy: changed entries first, then
    # stalest-first with ties keeping prior relative order, then
    # rows-only entries at the back in prior order). Regenerate
    # after each verification run:
    #   python tools/gen_rotation.py --patch --changed <names...>
    # ---- ROTATION BODY START (gen_rotation.py) ----
    "approx_distinct",
    "cramers_v_exact",
    "similarity_topk",
    "join_skew_salted",
    "binaryfile_ingest",
    "sql_recursive_cte",
    "lagged_cross_correlation",
    "approx_quantile_audit",
    "kcenter_diversity_audit",
    "dedup_containment_capped",
    "ab_test_report",
    "vocab_growth_curve",
    "udf_apply_in_arrow",
    "udf_scalar_arrow_optimized",
    "watermark_droprate_table",
    "split_leakage_audit",
    "multimodal_pixel_decode_formats",
    "winnowing_fingerprints",
    "chunk_cdc_rolling",
    "ngram_novelty_score",
    "length_trim_percentile",
    "vocab_coverage_topk",
    "shard_balance_audit",
    "multimodal_wav_decode",
    "multimodal_mp4_probe",
    "multimodal_exif_orientation",
    "reservoir_sample_per_source",
    "packing_next_fit",
    "dedup_exact_substring",
    "bitmap_distinct_agg",
    "sql_lateral_join",
    "seasonal_naive_error",
    "graph_jaccard_neighbors",
    "multi_touch_attribution_linear",
    "auc_roc_exact",
    "ks_drift_matrix",
    "gini_corpus_inequality",
    "chi2_statistic_exact",
    "calibration_bins_exact",
    "kfold_assign_balance",
    "content_addressed_ids",
    "linreg_closed_form",
    "multimodal_gif_animation_probe",
    "multimodal_png_text_probe",
    "hybrid_rank_fusion_rrf",
    "confusion_matrix_exact",
    "cohens_kappa_exact",
    "quantile_normalization",
    "cumulative_gains_deciles",
    "spearman_rank_corr_exact",
    "hhi_concentration",
    "runs_test_shuffle_audit",
    "distinct_on_latest",
    "cusum_changepoint",
    "arrival_inversions",
    "revenue_waterfall_decomposition",
    "multimodal_id3_tag_probe",
    "format_fixedwidth_parse",
    "ttl_retention_sweep",
    "join_null_safe_eq",
    "sequence_gap_audit",
    "embedding_matryoshka_audit",
    "stupid_backoff_score",
    "template_skeleton_dedup",
    "embedding_normalize",
    "aws_transport_roundtrip",
    "text_normalize",
    "train_test_split_mod",
    "sample_weighted",
    "mann_kendall_trend",
    "theil_sen_slope_exact",
    "iqr_outlier_fences",
    "winsorized_mean_exact",
    "feature_extract_census_audit",
    "frame_sample_census_audit",
    "simhash_recall_audit",
    "isotonic_pav_audit",
    "pagerank_mass_audit",
    "pca_projection_audit",
    "semdedup_invariant_audit",
    "bpe_roundtrip_audit",
    "codec_roundtrip_audit",
    "kmeans_assignment_audit",
    "multivector_maxsim_topk",
    "bloom_fpp_audit",
    "precision_recall_at_k",
    "mrr_at_k_exact",
    "gopher_quality_rules",
    "kendall_tau_exact",
    "sql_group_by_all",
    "embedding_int8_quant_audit",
    "ann_lsh_recall_audit",
    "ann_ivf_recall_audit",
    "ann_pq_recall_audit",
    "hll_merge_accuracy_audit",
    "cube_agg",
    "join_left",
    "window_running",
    "topk_per_group",
    "set_union",
    "set_intersect",
    "case_when_bucketing",
    "scan_parquet",
    "scalar_subquery_above_avg",
    "having_filter",
    "q12_shipmode_case",
    "q14_promo_effect",
    "q18_large_orders",
    "q19_disjunctive_pushdown",
    "q22_global_filter",
    "cross_join_small",
    "distinct_rows",
    "scalar_array_map",
    "explode_unnest",
    "q7_nation_pair_volume",
    "q8_market_share",
    "q9_product_profit",
    "rank_biased_overlap_exact",
    "benford_first_digit_audit",
    "funnel_conversion_windows",
    "chunk_documents_stride",
    "hll_sketch_native",
    "interval_coalesce_islands",
    "knn_mutual_label_blocked",
    "cusum_changepoint_days",
    "sql_grouping_sets",
    "l_diversity_audit",
    "approx_percentile_rank_audit",
    "bm25_topk",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "envelope_encode",
    "envelope_decode",
    "corrupt_skip",
    "envelope_binary_roundtrip",
    "custom_source_roundtrip",
    "partition_key_group",
    "project_filter",
    "q1_pricing_summary",
    "agg_hash",
    "agg_distinct",
    "rollup_agg",
    "pivot_agg",
    "percentile_agg",
    "stats_moments",
    "join_inner",
    "join_semi",
    "join_anti",
    "join_broadcast",
    "range_join_events",
    "join_asof_events",
    "q2_min_value_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q4_order_priority",
    "window_rank",
    "window_analytics",
    "sort_limit_topk",
    "set_except",
    "scalar_string_date_math",
    "json_extract_props",
    "stream_tumbling_window",
    "timeseries_gapfill",
    "anomaly_zscore",
    "udf_scalar_pandas",
    "skipgram_cooccurrence",
    "welch_ttest_lengths",
    "simpson_diversity_tokens",
    "t_closeness_audit",
    "kneser_ney_continuation",
    "wilson_lower_bound_rank",
    "vocab_jaccard_sources",
    "chao1_vocab_richness",
    "good_turing_discounts",
    "token_dispersion_stats",
    "expected_reciprocal_rank",
    "envelope_proto_roundtrip",
    "ann_model_save_load_audit",
    "dedup_substring_excise",
    "dedup_substring_excise_text",
    "heavy_hitters_audit",
    "udtf_token_ngrams",
    "partitioned_write_prune",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    "dedup_embedding_cosine",
    "similarity_label_centroids",
    "text_stats",
    "lang_id_stopword",
    "doc_fingerprint",
    "multimodal_binary_stats",
    "multimodal_meta_rollup",
    "sample_stratified_mod",
    "embedding_avg_pool",
    "multimodal_image_decode",
    "graph_triangle_count",
    "interval_overlap_join",
    "bpe_pair_counts",
    "session_path_analysis",
    "span_corruption_masks",
    "udaf_grouped_pandas",
    "udf_grouped_map_pandas",
    "url_canonicalize_dedup",
    "token_length_histogram_log2",
    "join_asof_nearest",
    "lang_id_confusion",
    "embedding_drift_dims",
    "basket_lift_pairs",
    "event_lateness_profile",
    "agg_skew_kurt",
    "agg_argmax",
    "sax_symbolic_daily",
    "kaplan_meier_hazard",
    "delta_of_delta_encoding_census",
    "graph_bfs_hops",
    "map_at_k_exact",
    "mcc_threshold_sweep",
    "negative_sampling_power75",
    "feature_hashing_counts",
    "acf_daily_lags",
    "lincoln_petersen_distinct",
    "hilbert_curve_layout",
    "kmv_distinct_audit",
    "theta_sketch_pair_audit",
    "binary_quant_hamming_topk",
    "cochran_armitage_trend",
    "mcnemar_paired_returns",
    "ndcg_at_k",
    "kruskal_wallis_lengths",
    "levene_brown_forsythe",
    "ansari_bradley_dispersion",
    "sql_named_window",
    "dow_uniformity_audit",
    "cramer_von_mises_lengths",
    "mood_median_test_langs",
    "referential_integrity_audit",
    "ingest_dedup_delta",
    "yule_sichel_richness",
    "token_burstiness_topk",
    "unigram_tvd_sources",
    "mann_whitney_u_lengths",
    "dedup_token_savings",
    "user_cadence_regularity",
    "brier_decomposition_exact",
    "mode_agg",
    "agg_bitwise_bool",
    "grouping_sets_agg",
    "profile_columns",
    "histogram_fixed_width",
    "crosstab_expected",
    "corr_matrix_exact",
    "observe_metrics_audit",
    "heavy_hitters",
    "quantile_sketch_mergeable",
    "q11_important_stock",
    "q16_supplier_cnt",
    "q17_small_quantity_avg",
    "q20_nested_in",
    "q21_late_sole_supplier",
    "join_full_outer",
    "bucketed_join_colocated",
    "blocking_quality_audit",
    "cliffs_delta_lengths",
    "herfindahl_concentration",
    "goodman_kruskal_gamma",
    "odds_ratio_returns",
    "join_asof_tolerance",
    "join_asof_forward",
    "window_count_distinct",
    "window_percentile_dist",
    "ewma_halflife",
    "string_agg_sorted",
    "unpivot_melt",
    "union_by_name_evolution",
    "scalar_map_funcs",
    "variant_shred",
    "xml_shred",
    "collation_group",
    "sessionize_batch",
    "window_range_frame",
    "stream_sliding_window",
    "stream_session_window",
    "changelog_compact",
    "merge_upsert_state",
    "interval_consolidate",
    "funnel_analysis",
    "retention_cohort",
    "time_weighted_avg",
    "scd2_intervals",
    "event_transition_matrix",
    "table_diff_reconcile",
    "forward_fill_locf",
    "period_over_period",
    "rollup_incremental",
    "format_json_roundtrip",
    "format_csv_roundtrip",
    "format_parquet_roundtrip",
    "format_orc_roundtrip",
    "zorder_layout",
    "dedup_paragraph",
    "dedup_levenshtein",
    "dedup_prefix_containment",
    "dedup_containment_ngram",
    "dedup_exact_hashkey",
    "hard_negative_mining",
    "graph_degree_histogram",
    "inverted_index",
    "token_count_regex",
    "lang_filter",
    "text_quality_score",
    "repetition_ratio",
    "vocab_induction",
    "unigram_freq_score",
    "ngram_lm_counts",
    "tfidf_top_terms",
    "bm25_components",
    "collocation_pmi",
    "decontaminate_bloom",
    "decontaminate_ngram",
    "corpus_shuffle_hash",
    "domain_mix_weights",
    "domain_mix_temperature",
    "token_budget_allocation",
    "pack_concat_offsets",
    "chunk_documents",
    "pii_redact",
    "quality_filter_pipeline",
    "rtbf_cascade_delete",
    "kanonymity_audit",
    "multimodal_audio_energy",
    "sql_text_interface",
    "sql_text_subqueries",
    "multimodal_pixel_stats",
    "pareto_frontier",
    "udf_map_in_arrow",
    "sql_pipe_interface",
    "domain_blocklist_filter",
    "minhash_signature_merge",
    "ohlc_resample",
    "hll_accuracy_audit",
    "count_min_accuracy_audit",
    "format_json_corrupt_modes",
    "weblog_parse_agg",
    "mad_robust_stats",
    "benford_first_digit",
    "cross_source_duplication",
    "pandas_api_interface",
    "dataset_card_report",
    "boilerplate_ngrams",
    "session_window_dynamic_gap",
    "quantile_bucket_stats",
    "dup_cluster_size_histogram",
    "sliding_distinct_users",
    "peak_concurrency",
    "lsh_recall_audit",
    "seed_label_closure",
    "training_shard_manifest",
    "rfm_features",
    "compression_ratio_filter",
    "stream_left_outer_join",
    "statestore_reader_audit",
    "bpe_train_merges",
    "bpe_apply_segment",
    "semdedup_centroid_prune",
    "stream_update_mode_counts",
    "stream_complete_mode_topk",
    "pagerank_bipartite",
    "similarity_ann_pq",
    "custom_source_stream",
    "udf_custom_codec",
    "dedup_fuzzy_minhash",
    "dedup_simhash",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "sketch_distinct_mergeable",
    "cluster_kmeans_embeddings",
    "embedding_pca_project",
    "stream_roundtrip_counts",
    "stream_dedup_uuid",
    "watermark_late_drop",
    "stream_stateful_accounting",
    "stream_static_join",
    "stream_stream_join",
    "stream_transform_with_state",
    # ---- ROTATION BODY END ----
)

#: Names listed in ``_PRIORITY`` unconditionally but REGISTERED only
#: when an optional runtime dependency is importable — absent from
#: ``all_specs()`` in environments lacking the gate, present (and
#: prioritized) everywhere else. The registry/priority bijection test
#: tolerates exactly these when they are gated-absent.
_GATED: tuple[str, ...] = (
    "stream_transform_with_state",  # needs google.protobuf (transformWithState)
)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an operator query; ``oracle=None`` ⇒ rows-only check
    (genuinely non-SQL-expressible semantics)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


def _load_all() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_specs() -> dict[str, QuerySpec]:
    """Full registry, presentation-ordered: ``_PRIORITY`` names first,
    then everything else in registration order."""
    _load_all()
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
