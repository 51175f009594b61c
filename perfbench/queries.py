"""The fixed query subsets the query workloads run.

They are copied here, not imported from the repo's other harnesses, so
that editing those cannot change what this benchmark measures.

OLAP_SF01 is a stratified subset of the 198-query headline: 23 of its 26
family prefixes, each by its cheapest member on 4 cores, a second or
third member in the three largest families (agg, time, text), and
``join_salted_skew`` so that a ``functions`` kernel runs. 11 of the 29
fire Spark jobs while their DataFrame is being built (the headline's
share is 72 of 198), and every result is small enough to collect. The
extra members sit in the middle of the op-time distribution: with one
member per family the median fell in a gap between 0.6 s and 0.8 s and
moved by up to 19 % between runs of the same code. The ``graph``,
``ml`` and ``pretrain`` families are left out: their cheapest members
take 1.5 s to 3.8 s each on 4 cores, and with them a run no longer fits
the measurement round's time budget. Measured build + execute on 4 cores: 0.2 s to
2.5 s per query, about 22 s for the whole list.
"""

OLAP_SF01 = (
    "flagship_pricing_summary",
    "join_semi_customers_with_orders",
    "join_salted_skew",
    "agg_higher_moments",
    "agg_mutual_information",
    "agg_seasonality_strength",
    "window_rank_topn",
    "time_tumbling_window",
    "time_forecast_backtest",
    "time_burstiness",
    "funnel_conversion",
    "scalar_conditional_funcs",
    "etl_flatten_array",
    "rest_paged_scan",
    "dedup_exact",
    "sim_topk_cosine",
    "curation_pipeline",
    "text_chunk_documents",
    "text_pii_redact",
    "multimodal_png_codec",
    "udf_grouped_minmax_norm",
    "sql_observe_metrics",
    "profile_drift_psi",
    "sample_weighted_ares",
    "source_text_lines_scan",
    "attr_last_touch",
    "streaming_watermark_frontier",
    "ab_power_mde",
    "stats_ttest_welch",
)

#: scale-path queries with small results, for the 8x replica
SCALED_8X = (
    "flagship_pricing_summary",
    "join_star_revenue",
    "join_semi_customers_with_orders",
    "window_rank_topn",
    "dedup_exact",
    "text_token_stats",
    "sim_topk_cosine",
)

#: run once per set-up, outside the measured lists
WARMUP = "agg_rollup"
