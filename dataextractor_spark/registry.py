"""Central query registry — the bridge to the driver contract.

Every operator the engine implements registers here as a named
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus
(where SQL-expressible) the equivalent ANSI SQL that DuckDB runs as the
correctness oracle. ``__spark_entry__.py`` exposes the registry to the
driver verbatim.

Conventions (enforced by tests/test_correctness.py):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double-typed aggregates are rounded (2 dp for sums, 6 dp for
  rates/averages) on BOTH sides so order-of-accumulation float noise
  can't flip the driver's value hash;
- results are small (aggregated / top-k), never unbounded row dumps.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


#: Explicit registry emission order. Downstream consumers (including
#: the external correctness runner) may evaluate a PREFIX of the
#: registry per run, so the order is a deliberate verification
#: schedule, not an accident of import statements: queries whose plans
#: changed this round, brand-new queries, and queries that have never
#: had an external-oracle row come FIRST; families re-verified most
#: recently go LAST. Every registered query MUST appear here exactly
#: once (load_all asserts both directions), so adding a query without
#: scheduling it is an error, and reordering is a one-list edit.
PRIORITY_ORDER: tuple[str, ...] = (
    # ================= round-14 prefix (50 slots) =================
    # Generated by tools/rotate_priority_order.py from the
    # CORRECTNESS_r01..r13 ledgers: changed-first entries (if
    # any), then oldest-driver-evidence-first, stable within a
    # round. Tail stays sorted so future windows are pre-staged
    # (CI: tests/test_plans.py
    # test_priority_order_follows_rotation_policy).
    "rest_publicmatches_pipeline",  # changed-first (rule 1)
    "etl_epoch_roundtrip",  # changed-first (rule 1)
    "time_tumbling_window",  # changed-first (rule 1)
    "agg_regression_trend",  # changed-first (rule 1)
    "streaming_watermark_frontier",  # changed-first (rule 1)
    "streaming_dedup_replay_audit",  # changed-first (rule 1)
    "text_winnow_fingerprint",  # changed-first (rule 1)
    "time_autocorrelation",  # changed-first (rule 1)
    "join_asof_latest_order",  # changed-first (rule 1)
    "join_salted_skew",  # changed-first (rule 1)
    "time_session_window",  # changed-first (rule 1)
    "funnel_step_latency",  # changed-first (rule 1)
    "time_dormancy_reactivation",  # changed-first (rule 1)
    "join_cdc_apply",  # changed-first (rule 1)
    "join_asof_nearest",  # changed-first (rule 1)
    "join_asof_next_purchase",  # changed-first (rule 1)
    "join_scd2_point_in_time",  # changed-first (rule 1)
    "sample_temporal_split_embargo",  # changed-first (rule 1)
    "streaming_session_state_audit",  # changed-first (rule 1)
    "time_interevent_gaps",  # changed-first (rule 1)
    "time_scd2_versions",  # changed-first (rule 1)
    # -- latest driver row r7 --
    "agg_mcnemar_paired",
    "agg_capture_recapture",
    "stats_cochran_q",
    "etl_calendar_coverage_audit",
    # -- latest driver row r8 --
    "dedup_span_extract",
    "udtf_bigram_explode",
    "subquery_scalar_correlated",
    "source_corrupt_records",
    "multimodal_jpeg_codec",
    "dedup_exact",
    "dedup_canonical_pick",
    "dedup_jaccard_pairs",
    "dedup_shingle_jaccard",
    "dedup_components",
    "dedup_simhash",
    "dedup_incremental_ingest",
    "join_star_revenue",
    "join_broadcast_dim",
    "join_semi_customers_with_orders",
    "join_anti_customers_without_orders",
    "join_theta_size_bands",
    "join_full_outer_daily_activity",
    "join_right_outer_order_counts",
    "join_cross_grid_revenue",
    "join_selfpair_parts",
    "join_interval_overlap_activity",
    "join_literal_map_dim",
    "profile_constraint_checks",
    "rest_paged_scan",
    "join_bucketed_colocated",
    "text_chunk_documents",
    "sample_uniform_k",
    "sample_split_groupsafe",
    "text_bpe_pretokenize",
    "text_pii_redact",
    "text_gopher_filters",
    "graph_pagerank",
    "sample_mixture_weights",
    "text_unigram_logprob",
    "sample_shard_shuffle",
    "etl_zorder_layout",
    "text_collapse_repeats",
    "agg_bloom_filter_audit",
    "sample_weighted_ares",
    "text_entropy_kl",
    "join_range_bucketed",
    "sort_limit_topk",
    # -- latest driver row r9 --
    "profile_drift_psi",
    "agg_grouping_sets",
    "etl_partitioned_sink",
    "source_json_roundtrip",
    "source_csv_roundtrip",
    "etl_schema_evolution",
    "union_except_intersect",
    "sample_stratified",
    "profile_table",
    "agg_bitmap_distinct",
    "time_downsample_ohlc",
    "dedup_fuzzy_names",
    "agg_ks_drift",
    "text_source_vocab_overlap",
    "agg_weighted_median",
    "text_bm25_search",
    "scalar_bitwise_funcs",
    "window_value_range_frame",
    "multimodal_audio_features",
    "etl_incremental_agg_merge",
    "etl_flatten_array",
    "etl_dict_unpivot",
    "etl_epoch_tz",
    "etl_json_normalize",
    "agg_stats",
    "agg_percentiles",
    "agg_count_distinct",
    "agg_approx_distinct",
    "agg_rollup",
    "agg_cube",
    "agg_heatmap_bins",
    "agg_having",
    "agg_histogram",
    "agg_mode_median",
    "funnel_view_click_purchase",
    "agg_conditional_filter",
    "agg_string_listagg",
    "agg_corr_covar",
    "scalar_map_funcs",
    "point_lookup_by_key",
    "join_stream_dim_enrich",
    "embedding_normalize",
    "curation_pipeline",
    "flagship_pricing_summary",
    "filter_predicates",
    "sim_topk_cosine",
    "sim_knn_batch",
    "sim_neardup_pairs",
    # -- latest driver row r10 --
    "sql_shipping_priority",
    "subquery_exists_correlated",
    "subquery_not_in_null_semantics",
    "sql_recursive_months",
    "sql_pipe_syntax",
    "sql_lateral_topn",
    "sim_ann_lsh",
    "sim_label_centroids",
    "text_zipf_slope",
    "window_first_last_nth",
    "rest_datasource_scan",
    "scalar_json_funcs",
    "multimodal_resize",
    "sim_ann_ivf",
    "text_token_stats",
    "text_quality_score",
    "text_langid_heuristic",
    "text_fingerprint",
    "text_bigram_top20",
    "text_tfidf_top_terms",
    "text_pack_sequences",
    "window_rank_topn",
    "window_running_sum",
    "window_moving_avg",
    "window_percent_rank_cume",
    "time_sliding_window",
    "time_user_activity",
    "time_gapfill_locf",
    "time_trailing_week_revenue",
    "time_cohort_retention",
    "pivot_unpivot_roundtrip",
    "udf_zscore_median",
    "scalar_string_funcs",
    "scalar_date_funcs",
    "scalar_math_funcs",
    "scalar_array_funcs",
    "multimodal_features",
    "multimodal_framesample",
    "agg_chi_square_independence",
    "agg_gini_concentration",
    "agg_survival_km",
    "agg_rfm_segments",
    "agg_benford_digit_audit",
    "window_pctrank_cumedist",
    "funnel_conversion",
    # -- latest driver row r11 --
    "source_orc_roundtrip",
    "sim_recall_eval",
    "time_changepoint_cusum",
    "time_markov_transitions",
    "agg_argmax_minby",
    "agg_mutual_information",
    "etl_compaction_binpack",
    "etl_merge_upsert",
    "pretrain_corpus_recipe",
    "agg_approx_percentile",
    "time_interpolate_linear",
    "dedup_shingle_containment",
    "time_sliding_distinct_users",
    "time_ewma_smooth",
    "agg_countmin_heavyhitters",
    "etl_snapshot_diff",
    "text_url_canonicalize",
    "time_session_paths",
    "agg_histogram_quantile_sketch",
    "set_ops_all_multiplicity",
    "join_null_safe_eq",
    "agg_winsorize_stats",
    "time_calendar_dim_join",
    "agg_higher_moments",
    "scalar_conditional_funcs",
    "text_hashed_linear_score",
    "dedup_minhash_lsh",
    "agg_hll_sketch_merge",
    "agg_frequent_items",
    "multimodal_phash_neardup",
    "agg_hll_intersection",
    "time_sliding_distinct_hll",
    "sim_mmr_diversify",
    "multimodal_png_codec",
    "streaming_late_discard_audit",
    "streaming_join_state_audit",
    # -- latest driver row r12 --
    "etl_partition_skew_audit",
    "sql_udf_scalar_tvf",
    "source_xml_roundtrip",
    "source_binaryfile_scan",
    "source_warc_scan",
    "graph_link_prediction",
    "ab_cuped_adjustment",
    "stats_anova_oneway",
    "text_dsir_importance",
    "sim_embedding_drift",
    "text_quality_threshold_sweep",
    "graph_kcore_decomposition",
    "attr_position_weighted",
    "time_concurrency_peak",
    "sample_bootstrap_ci",
    "agg_hhi_concentration",
    "time_seasonal_anomaly",
    "time_interval_coverage",
    "graph_degree_distribution",
    "etl_vacuum_retention_plan",
    "agg_permutation_test",
    "agg_tail_cvar",
    "agg_skyline_pareto",
    "time_burstiness",
    "graph_bfs_levels",
    "time_lag_xcorr",
    "agg_mode_deterministic",
    "agg_grouping_id_rollup",
    "time_yoy_growth",
    "time_cohort_ltv",
    "attr_last_touch",
    "sample_balanced_downsample",
    "time_peak_detection",
    "agg_share_of_parent",
    "agg_pareto_8020",
    "udf_grouped_minmax_norm",
    "time_forecast_backtest",
    "agg_fulfillment_latency",
    "agg_seasonality_strength",
    "join_basket_affinity",
    "time_new_vs_returning",
    "agg_reorder_rate",
    "time_active_streaks",
    "stats_ttest_welch",
    "stats_mann_whitney_u",
    "stats_spearman_corr",
    "scalar_variant_funcs",
    # -- latest driver row r13 --
    "stats_runs_test",
    "time_rolling_median",
    "sql_parameterized_args",
    "source_text_lines_scan",
    "sim_semantic_dedup",
    "sim_ann_ivf_kmeans",
    "sim_ivfpq_search",
    "sim_pq_compress",
    "sim_pq_adc_search",
    "text_bigram_lm_ppl",
    "text_pmi_bigrams",
    "text_decontaminate",
    "agg_anomaly_mad",
    "sim_matryoshka_recall",
    "graph_triangle_count",
    "graph_local_clustering",
    "graph_label_propagation",
    "agg_theil_sen_trend",
    "window_deciles",
    "ab_srm_guardrail",
    "text_readability",
    "etl_zonemap_prune_audit",
    "text_ngram_novelty",
    "graph_assortativity",
    "agg_ols_two_features",
    "stats_proportion_ztest",
    "ab_delta_method_ratio",
    "multimodal_gif_codec",
    "time_max_drawdown",
    "ab_funnel_lift",
    "sample_neyman_allocation",
    "time_interrupted_series",
    "text_source_similarity",
    "text_compression_quality",
    "sample_ht_estimator",
    "sim_centroid_classify_eval",
    "stats_kendall_tau",
    "agg_chi2_cell_residuals",
    "etl_delete_rewrite_plan",
    "ml_calibration_error",
    "ab_power_mde",
    "multimodal_pixel_histogram",
    "graph_hits_scores",
    "stats_brown_forsythe",
    "udf_arrow_map_tokencount",
    "sql_observe_metrics",
    "text_vocab_growth",
    "stats_wilcoxon_signed_rank",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registration) and
    return the registry ordered by ``PRIORITY_ORDER`` — the explicit
    verification schedule (see its comment). Import order is NOT
    semantically load-bearing; the assert keeps the schedule and the
    registrations in lockstep."""
    # Imports live here (not module top) so importing the registry stays
    # cheap and cycles are impossible.
    from dataextractor_spark.operators import aggregates  # noqa: F401
    from dataextractor_spark.operators import behavior  # noqa: F401
    from dataextractor_spark.operators import dedup  # noqa: F401
    from dataextractor_spark.operators import enrichment  # noqa: F401
    from dataextractor_spark.operators import etl_parity  # noqa: F401
    from dataextractor_spark.operators import graph_ops  # noqa: F401
    from dataextractor_spark.operators import joins  # noqa: F401
    from dataextractor_spark.operators import multimodal  # noqa: F401
    from dataextractor_spark.operators import relational  # noqa: F401
    from dataextractor_spark.operators import rest_source  # noqa: F401
    from dataextractor_spark.operators import sampling  # noqa: F401
    from dataextractor_spark.operators import scalars  # noqa: F401
    from dataextractor_spark.operators import similarity  # noqa: F401
    from dataextractor_spark.operators import sql_surface  # noqa: F401
    from dataextractor_spark.operators import statistics  # noqa: F401
    from dataextractor_spark.operators import streaming_audit  # noqa: F401
    from dataextractor_spark.operators import text  # noqa: F401
    from dataextractor_spark.operators import windows  # noqa: F401
    from dataextractor_spark.operators import windows_time  # noqa: F401

    missing = set(PRIORITY_ORDER) - set(_REGISTRY)
    unscheduled = set(_REGISTRY) - set(PRIORITY_ORDER)
    assert not missing and not unscheduled, (
        f"PRIORITY_ORDER out of sync: missing={sorted(missing)} "
        f"unscheduled={sorted(unscheduled)}"
    )
    return {name: _REGISTRY[name] for name in PRIORITY_ORDER}
