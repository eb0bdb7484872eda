"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Queries live in streaming_data_pipeline_spark/plans/*; each plans module
exposes a QUERIES dict (Spark callables) and an ORACLE dict (DuckDB SQL
twins). This file only merges them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Full ETL chain (parse -> validate -> enrich -> quality-filter) feeding
    the A1 event-type rollup — the reference's core end-to-end path.
    """
    from streaming_data_pipeline_spark.plans.reference_queries import event_type_rollup

    return event_type_rollup(spark, SF_SMOKE_DIR)


# The driver sweeps queries() in dict (insertion) order with a 50-query
# budget per round. This explicit priority list rotates coverage:
# queries that were red last round, never-driver-checked queries, and
# queries whose implementing code changed since their last green row
# (per tools/evidence_age.py fingerprints) come first, then the tranche
# whose last green row is oldest. More names than the 50 budget:
# overflow rolls to the next round's window (the marker-delimited queue
# section below is regenerated from the tool each round and CI-locked).
_SWEEP_PRIORITY = [
    # ---- round-13 window (sweep budget: first 50) -------------------
    # Rotation per the armed tripwire (test_sweep_head_not_already_
    # stamped went red when CORRECTNESS_r12.json landed, as designed):
    # promote the staged round-13 queue head — the 50 stalest verified
    # rows after the r12 stamp (the last r7 tranche leads), zero overlap
    # with the r11/r12 windows — and demote the 50 r12-stamped names to
    # the tail. Locked by tests/test_round10_hardening.py::test_r13_
    # window_is_the_stalest_50_as_of_r12 (content+position) and
    # ::test_sweep_head_not_already_stamped (head(50) must never appear
    # in the two most recent committed CORRECTNESS files).

    "dedup_exact_text",
    "dedup_keep_canonical",
    "dedup_minhash_estimate_error",
    "dedup_near_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_token_set",
    "distinct_mktsegments",
    "doc_fingerprints",
    "doc_quality_by_source",
    "embedding_random_projection",
    "gopher_rules_filter",
    "heavy_hitter_bigrams",
    "image_phash_near_dup",
    "lang_id_heuristic",
    "linear_model_quality_gate",
    "pmi_collocations",
    "pysource_batch_rollup",
    "pysource_pushdown_purchases",
    "pysource_stream_rollup",
    "semantic_dedup_keep_canonical",
    "simhash_near_dup",
    "simhash_signatures",
    "similarity_ann_lsh",
    "similarity_int8_rerank",
    "similarity_multiprobe_lsh",
    "similarity_multitable_lsh",
    "similarity_pq_adc",
    "similarity_topk_bruteforce",
    "skew_salted_join",
    "small_file_compaction",
    "sql_cte_priority_revenue",
    "streaming_quality_gate",
    "text_stats_by_lang",
    "token_counts_by_source",
    "tpch_q12_late_shipment_priority",
    "tpch_q13_customer_order_histogram",
    "tpch_q16_supplier_count_by_part",
    "tpch_q19_or_predicate_revenue",
    "tpch_q20_promotion_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q9_product_profit",
    "udaf_median_mad_by_type",
    "windowed_counts_60s",
    "within_doc_dedup",
    "collect_sources_per_lang",
    "csv_export_roundtrip",
    "cube_returnflag_status",
    "customer_balance_quartiles",
    "customers_with_orders",
    "customers_without_orders",

    # ---- round-13 queue (regenerated by tools/evidence_age.py) ------
    # Mechanical stalest-first ordering of everything behind the
    # round-13 window: the queue of compute(assume_round=12), window names
    # excluded. tests/test_round7_hardening.py::test_r13_queue_is_the_
    # evidence_tool_output asserts this section matches the tool EXACTLY
    # and that the recorded fingerprint baseline still matches the code.

    "embedding_near_dup_pairs",
    "etl_enrich_events",
    "event_type_rollup",
    "global_mean",
    "grouping_sets_revenue",
    "health_check",
    "hour_buckets",
    "image_phash_star_dedup",
    "json_export_roundtrip",
    "json_props_extract",
    "monthly_revenue_momentum",
    "multimodal_decode_fake",
    "multimodal_frame_sample",
    "multimodal_resize_plan",
    "nation_key_set_ops",
    "order_price_percentiles",
    "partitioned_sink_pruning",
    "pivot_priority_by_status",
    "quality_score_distribution",
    "range_join_promo_windows",
    "recent_count",
    "revenue_by_region",
    "rolling_weekly_revenue",
    "rollup_order_status",
    "schema_introspection",
    "sessionize_events_batch",
    "simhash128_near_dup",
    "similarity_ivf",
    "top_order_per_customer",
    "tpch_q10_returned_items",
    "tpch_q11_part_value_concentration",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q1_pricing_summary",
    "tpch_q22_idle_customers",
    "tpch_q2_cheapest_part_per_brand",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "ab_test_chi_square",
    "approx_distinct_users",
    "approx_quantiles_check",
    "approx_topk_mergeable_tokens",
    "backfill_dynamic_overwrite",
    "bloom_filter_join_pruning",
    "bucketed_colocated_join",
    "cdc_chunk_dedup",
    "corpus_curation_end_to_end",
    "domain_blocklist_filter",
    "dq_constraint_report",
    "embedding_centroids_by_label",
    "embedding_quantize_int8",
    "etl_dead_letter_routing",
    "event_funnel_conversion",
    "full_outer_activity_join",
    "hll_mergeable_sketch_union",
    "kmeans_lloyd_iterations",
    "pii_redaction_stats",
    "quality_repetition_metrics",
    "retention_cohorts",
    "retention_expire_partitions",
    "scd2_user_state",
    "schema_evolution_merge_read",
    "shard_manifest_checksums",
    "smoke_count",
    "snapshot_time_travel",
    "streaming_dedup_user_event",
    "streaming_etl_file_roundtrip",
    "streaming_foreach_batch_upsert",
    "streaming_rate_source_etl",
    "streaming_session_append",
    "streaming_sliding_counts",
    "streaming_state_inspection",
    "streaming_stateful_user_totals",
    "streaming_static_enrich_join",
    "streaming_stream_stream_full_join",
    "streaming_stream_stream_join",
    "streaming_stream_stream_left_join",
    "streaming_user_sessions",
    "streaming_windowed_append",
    "streaming_windowed_counts",
    "tfidf_top_terms",
    "theta_sketch_audience_overlap",
    "udtf_chunk_split",
    "unpivot_order_metrics",
    "user_event_transitions",
    "value_counts",
    "variant_nested_extract",
    "xml_export_roundtrip",
    "audio_energy_windows",
    "bigram_lm_surprisal",
    "bpe_apply_compression",
    "char_diversity_by_source",
    "chunk_dup_stats",
    "cms_token_frequency",
    "contamination_ngram_overlap",
    "cross_source_dup_matrix",
    "curriculum_mix_schedule",
    "daily_distribution_drift",
    "dedup_containment_pairs",
    "dedup_incremental_ingest",
    "dedup_unicode_normalized",
    "doc_length_log_histogram",
    "epoch_shuffle_shards",
    "file_metadata_audit",
    "graph_triangle_counts",
    "grouped_leakage_free_split",
    "hourly_dense_locf",
    "incremental_join_maintenance",
    "incremental_rollup_maintenance",
    "inverted_index_postings",
    "join_skew_diagnostics",
    "kll_quantile_sketch_check",
    "map_column_roundtrip",
    "null_safe_join_counts",
    "orc_export_roundtrip",
    "order_rank_profile",
    "pack_training_sequences",
    "pagerank_event_transitions",
    "recursive_cte_user_hierarchy",
    "running_user_value",
    "snapshot_incremental_changes",
    "sql_table_function_calendar",
    "sql_udf_quality_score",
    "stratified_sample_docs",
    "streaming_approx_users_per_window",
    "streaming_chained_window_rollup",
    "streaming_multimodal_phash_rollup",
    "streaming_scd2_asof_enrich",
    "streaming_update_mode_changelog",
    "tokenizer_bpe_pair_counts",
    "top_bigrams_by_lang",
    "train_val_test_split",
    "unigram_surprisal_by_doc",
    "user_value_trend",
    "value_histogram_equiwidth",
    "vocab_richness_by_source",
    "zipf_token_rank",
    "zorder_locality_buckets",
    "acf_lag_profile",
    "asof_last_login_value",
    "basket_lift_pairs",
    "benford_first_digit_audit",
    "boilerplate_chunk_removal",
    "bpe_train_merges",
    "cumulative_unique_users_by_day",
    "cusum_changepoint",
    "daily_volume_anomaly",
    "dataset_datasheet",
    "dedup_cluster_components",
    "dedup_edit_distance_pairs",
    "dedup_keep_best_quality",
    "dup_cluster_size_histogram",
    "ewma_user_value",
    "first_touch_attribution",
    "interarrival_gap_stats",
    "k_anonymity_audit",
    "k_core_peel_rounds",
    "kaplan_meier_table",
    "ks_two_sample",
    "langid_confusion_metrics",
    "lorenz_curve_deciles",
    "mann_kendall_trend",
    "mann_whitney_u",
    "max_concurrent_shipments",
    "median_imputation_audit",
    "multimodal_jpeg_decode",
    "multimodal_png_decode",
    "multimodal_png_resize",
    "multimodal_wav_decode",
    "neyman_allocation_sample",
    "pca_power_iteration",
    "permutation_test_mean_diff",
    "poisson_bootstrap_ci",
    "range_join_binned_incidents",
    "repeated_passage_coverage",
    "revenue_gini",
    "seasonal_residual_anomaly",
    "similarity_recall_at_k",
    "sparse_dot_topk_pairs",
    "spearman_rank_correlation",
    "theil_sen_slope",
    "token_budget_selection",
    "top5_latest",
    "top_event_paths",
    "value_histogram_equidepth",
    "weighted_sample_docs",
    "winsorized_price_stats",
    "wire_sink_roundtrip",
    # ---- end round-13 queue ----
]


def _plan_modules():
    mods = []
    for name in (
        "analytics_queries",
        "curation_queries",
        "training_queries",
        "llm_queries",
        "streaming_queries",
        "pysource_queries",
        "scale_queries",
        "sql_surface_queries",
        "reference_queries",
        "tpch_queries",
        "tpch_extra_queries",
        "tpch_wide_queries",
    ):
        try:
            mods.append(
                __import__(
                    f"streaming_data_pipeline_spark.plans.{name}",
                    fromlist=[name],
                )
            )
        except ImportError:
            pass
    return mods


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, reordered
    so the driver's 50-query budget lands on the stalest evidence."""
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _plan_modules():
        merged.update(getattr(mod, "QUERIES", {}))
    out = {n: merged[n] for n in _SWEEP_PRIORITY if n in merged}
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin per query (omitted for the few
    genuinely non-SQL-expressible ops -> driver does rows-only check)."""
    out: dict[str, str] = {}
    for mod in _plan_modules():
        out.update(getattr(mod, "ORACLE", {}))
    return out
