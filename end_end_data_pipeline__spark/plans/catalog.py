"""Query catalog — the single registry behind ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers one named query
here: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus the
equivalent DuckDB oracle SQL, which registration requires (a query
with no oracle would be checked for nothing but not crashing).
The driver runs both sides at sf0.01 and compares row-count + schema +
order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates go through an exact-decimal accumulation
  (``dec_sum`` in ``plans.sqlgen``) so Spark's partition-order double
  summation and DuckDB's sequential summation produce bit-identical
  results.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL the result must match
    survey_ids: tuple[str, ...] = ()  # SURVEY.md §2 operator ids covered
    bench: bool = False  # include in bench.py headline set
    doc: str = field(default="")
    # True for queries whose FIXTURE can only live in one JVM: the live
    # embedded-Derby round-trips (Spark ships derby.jar only — no
    # derbynet/derbyclient, so the network server that would let
    # executor JVMs share the database cannot start in this container).
    # On a real cluster S1/S8 point at a networked RDBMS URL and the
    # same code paths run unmodified; multi-JVM sweeps skip these three
    # with an explicit marker instead of a misleading ERR.
    single_jvm: bool = False


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str = "",
    survey_ids: tuple[str, ...] = (),
    bench: bool = False,
    single_jvm: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry.  ``oracle`` is required."""
    if not oracle:
        raise ValueError(f"catalog query {name!r} needs a DuckDB oracle")

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            survey_ids=survey_ids,
            bench=bench,
            doc=(fn.__doc__ or "").strip(),
            single_jvm=single_jvm,
        )
        return fn

    return deco


# Deterministic presentation order for the registry.  The driver
# records correctness rows for only the FIRST 50 ``load_all()``
# entries, so the order is a rotating evidence window.  Since r08 the
# window runs ROLLING RE-VERIFICATION (VERDICT r07 task 3): each round
# points at the 50 queries whose newest green driver row is OLDEST, so
# no row's external verification ages past ~4 rounds even though the
# code under it keeps evolving.  The whole catalog — window and all —
# is additionally swept against the driver-identical sf0.01 DuckDB
# gate each round (scripts/driver_gate.py --all → GATE_r{N}.json), the
# gate's freshness is asserted by tests/test_gate_freshness.py, and
# r08 added multi-JVM sweeps (CLUSTER_r08*.json).  Names not listed
# here sort after the listed ones in registration order.
_PRIORITY: tuple[str, ...] = (
    # --- r13 window: the 50 STALEST driver rows after the r12
    # refresh — the 37 remaining r08-vintage rows plus the 13 oldest
    # r09 rows (VERDICT r12 task 8; staleness ledger = per-query max
    # green round over CORRECTNESS_r01..r12; zero overlap with the r12
    # window).  After this window every driver row is r09+.  Ties
    # within a round keep their previous presentation order.
    "tpch_q8_national_market_share",
    "tpch_q15_top_supplier",
    "tpch_q21_waiting_supplier",
    "scd2_order_history",
    "transfer_network_components",
    "skew_salted_join_segment_counts",
    "skew_salted_two_phase_agg",
    "nested_address_country_rollup",
    "curation_pipeline_end_to_end",
    "embedding_neardup_pairs",
    "text_winnow_fingerprints",
    "corpus_shard_packing",
    "corpus_vocabulary_topk",
    "corpus_stratified_sample",
    "cdc_topic_routing",
    "connector_config_surface",
    "quality_constraint_audit",
    "sort_events_user_sequence",
    "stream_static_enrichment",
    "stream_watermark_late_drop",
    "stream_dedup_within_watermark",
    "stream_stateful_user_stats",
    "stream_stream_click_purchase",
    "pandas_grouped_minmax_scale",
    "pandas_grouped_agg_money_sum",
    "join_order_lineitem_detail",
    "join_geo_rollup",
    "dedup_ngram_jaccard_pairs",
    "dedup_simhash_neardup",
    "embedding_cosine_topk",
    "tpch_q6_forecast_revenue",
    "tpch_q12_late_shipment_priority",
    "tpch_q9_product_type_profit",
    "tpch_q20_potential_part_promotion",
    "banking_generator_fanout",
    "multimodal_phash_neardup",
    "multimodal_audio_fingerprint_neardup",
    "corpus_chunk_documents",
    "stream_custom_sessionize",
    "multimodal_resize_batch",
    "multimodal_frame_sample",
    "multimodal_feature_extract",
    "embedding_ann_ivf_topk",
    "embedding_ann_lsh_topk",
    "text_exact_dedup",
    "stream_daily_event_agg",
    "asof_click_before_purchase",
    "window_running_total_per_user",
    "filter_time_range_flagged",
    "semi_customers_with_open_orders",
    # --- window boundary (50) ---
    # --- fresher rows (r09-r12), previous presentation order; all
    # re-swept every round by scripts/driver_gate.py --all ---
    "stream_hll_incremental",
    "fuzzy_deletion_pairs",
    "stats_mannwhitney_auc",
    "ml_decile_lift",
    "interval_peak_concurrency",
    "forecast_seasonal_naive_error",
    "timeseries_acf_lags",
    "text_pmi_collocations",
    "search_reciprocal_rank_fusion",
    "sketch_kmv_jaccard",
    "control_chart_xmr_signals",
    "embedding_centroid_classifier_eval",
    "streaks_longest_active_run",
    "timeseries_rolling_median_7d",
    "features_hashing_trick",
    "features_target_encoding_loo",
    "corpus_groupwise_split",
    "interval_overlap_concurrent_shipments",
    "interval_union_coverage_days",
    "ml_conformal_threshold",
    "robust_weighted_median_value",
    "growth_mom_yoy_revenue",
    "corpus_vocab_growth_curve",
    "privacy_k_anonymity_audit",
    "graph_link_prediction_jaccard",
    "text_rake_keyphrases",
    "cohort_ltv_curve",
    "behavior_interarrival_burstiness",
    "multimodal_video_shot_boundaries",
    "flagship_monthly_segment_volume",
    "histogram_equidepth_order_value",
    "agg_pricing_summary",
    "dedup_minhash_lsh_pairs",
    "dedup_canonical_corpus",
    "dedup_incremental_batch",
    "heavy_hitters_brand_lineitems",
    "tpch_q18_large_volume_customers",
    "functions_string_battery",
    "functions_datetime_battery",
    "cdc_roundtrip_latest_state",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_discounted_revenue",
    "tpch_q22_global_sales_opportunity",
    "embedding_mmr_rerank",
    "governance_masked_customers",
    "integrity_table_checksums",
    "retention_dau_wau_stickiness",
    "setop_except_all_multiset",
    "join_null_safe_equality",
    "multimodal_augment_images",
    "currency_asof_conversion",
    "fulfillment_latency_percentiles",
    "quality_event_disorder_rate",
    "fraud_benford_digit_audit",
    "market_hhi_concentration",
    "timeseries_seasonal_decompose",
    "timeseries_cusum_changepoint",
    "text_token_frequency_quality",
    "assoc_rules_brand_confidence",
    "robust_median_mad_by_priority",
    "inequality_gini_by_nation",
    "robust_trimmed_mean_order_value",
    "robust_iqr_fence_outliers",
    "corpus_weighted_sample_priority",
    "integrity_sequence_gaps",
    "fraud_duplicate_payments",
    "fraud_round_number_bias",
    "text_bpe_tokenize_stats",
    "supplier_lead_time_stats",
    "clv_by_segment",
    "attribution_linear_credit",
    "supplier_return_rate",
    "stats_linear_trend_by_segment",
    "market_basket_brand_pairs",
    "graph_bfs_transfer_hops",
    "timeseries_ewma_daily_volume",
    "embedding_covariance_matrix",
    "pareto_abc_revenue",
    "embedding_dim_feature_stats",
    "corpus_source_lang_chisq",
    "ab_conversion_ztest",
    "maintenance_truncate_reset",
    "skyline_part_price_size",
    "sketch_countmin_user_counts",
    "embedding_pq_adc_topk",
    "text_bigram_lm_quality",
    "sketch_bloom_membership",
    "sketch_hll_distinct_by_type",
    "graph_cheapest_transfer_4hop",
    "stats_bootstrap_ci_order_value",
    "sketch_hll_rolling_distinct",
    "stats_ks_two_sample",
    "corpus_per_source_sample",
    "multimodal_phash256_neardup",
    "unpivot_priority_metrics",
    "versioned_merge_time_travel",
    "jdbc_roundtrip_live",
    "approx_distinct_users_daily",
    "gold_marts_build",
    "multimodal_decode_image_stats",
    "multimodal_audio_stats",
    "corpus_decontaminate",
    "stream_cdc_upsert_pipeline",
    "versioned_stats_skipping",
    "corpus_semantic_dedup",
    "timeseries_gap_fill_daily",
    "versioned_merge_into_upsert",
    "sketch_rollup_distinct_users",
    "stream_jdbc_upsert_live",
    "corpus_sequence_packing",
    "graph_pagerank_transfers",
    "versioned_zorder_skipping",
    "text_tfidf_top_terms",
    "versioned_change_feed",
    "versioned_incremental_mart",
    "corpus_source_drift",
    "multimodal_video_decode_stats",
    "cohort_weekly_retention",
    "funnel_view_click_purchase",
    "rfm_customer_segments",
    "profile_orders_columns",
    "timeseries_zscore_anomalies",
    "text_duplicate_spans",
    "fuzzy_name_best_match",
    "versioned_dml_delete_update_restore",
    "embedding_kmeans_clusters",
    "format_roundtrip_multi",
    "graph_triangle_count",
    "text_bm25_search",
    "spatial_radius_neighbors",
    "asof_forward_click_after_purchase",
    "hierarchy_flatten_paths",
    "stream_stream_left_outer",
    "behavior_event_transitions",
    "text_bpe_learn_merges",
    "pyds_generator_source",
    "pyds_stream_source_replay",
    "pyds_writer_sink_roundtrip",
    "lateral_top2_orders_per_customer",
    "udtf_props_fanout",
    "scd2_point_in_time_join",
    "approx_percentile_error_bound",
    "federated_jdbc_parquet_join",
    "anti_customers_without_orders",
    "selfjoin_same_day_order_pairs",
    "range_join_price_band",
    "rollup_status_priority",
    "cube_returnflag_linestatus",
    "count_distinct_parts_per_supplier",
    "conditional_status_share",
    "daily_event_volume",
    "percentile_order_value",
    "histogram_order_value",
    "topk_expensive_orders",
    "topk_orders_per_segment",
    "setop_priority_slices_union",
    "setop_except_customers",
    "setop_intersect_customers",
    "dedup_replayed_events",
    "pivot_status_by_segment",
    "grouping_sets_priority_status",
    "window_percentile_standing",
    "window_lag_event_gap",
    "window_moving_avg_7d",
    "window_rank_customers_in_segment",
    "window_last_purchase_value",
    "functions_math_json_battery",
    "functions_array_battery",
    "window_tumbling_daily",
    "window_sliding_10m_5m",
    "window_session_30m",
    "text_token_stats",
    "text_quality_language",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_count",
    "text_pii_redaction",
    "text_repetition_stats",
    "corpus_train_val_split",
    "embedding_quantize_int8",
)


def load_all() -> dict[str, Query]:
    """Import every plans module so registrations run; return the
    registry in :data:`_PRIORITY` order (unlisted names follow in
    registration order)."""
    from end_end_data_pipeline__spark.plans import (  # noqa: F401
        queries_relational,
        queries_windows,
        queries_functions,
        queries_streaming,
        queries_llm,
        queries_pipeline,
        queries_tpch,
        queries_analytics,
        queries_stats,
        queries_audit,
    )

    rank = {name: i for i, name in enumerate(_PRIORITY)}
    ordered = sorted(
        enumerate(QUERIES.items()),
        key=lambda pair: (rank.get(pair[1][0], len(rank)), pair[0]),
    )
    return {name: q for _, (name, q) in ordered}
