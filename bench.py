"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
result as one JSON line {"metric": "headline_total", "value": N,
"unit": "sec", "sf": ..., "queries": {...}, "cold_queries": {...},
"cold_total": N}.

Execution is forced with the `noop` sink (full pipeline runs, nothing is
collected to the driver), so timings measure scan -> shuffle -> agg work,
not result serialization. One tiny warm-up query amortizes JVM/codegen
startup out of the per-query numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per major surface — full ETL chain, the reference's
# analytical queries, TPC-H joins/aggs, window functions, LLM data ops,
# near-dup curation, sketches, custom sources and sinks.
HEADLINE = [
    "etl_enrich_events",
    "event_type_rollup",
    "health_check",
    "windowed_counts_60s",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "revenue_by_region",
    "top_order_per_customer",
    "monthly_revenue_momentum",
    "asof_last_login_value",
    "dedup_exact_text",
    "dedup_near_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash_near_dup",
    "similarity_topk_bruteforce",
    "similarity_ivf",
    "text_stats_by_lang",
    "rolling_weekly_revenue",
    "grouping_sets_revenue",
    "tpch_q9_product_profit",
    "tpch_q13_customer_order_histogram",
    "tpch_q21_waiting_suppliers",
    "sessionize_events_batch",
    "embedding_centroids_by_label",
    "multimodal_frame_sample",
    "dedup_cluster_components",
    "similarity_multiprobe_lsh",
    "similarity_multitable_lsh",
    "contamination_ngram_overlap",
    "chunk_dup_stats",
    "embedding_random_projection",
    "udtf_chunk_split",
    "event_funnel_conversion",
    "retention_cohorts",
    "user_event_transitions",
    "user_value_trend",
    "heavy_hitter_bigrams",
    "cdc_chunk_dedup",
    "pysource_batch_rollup",
    "hll_mergeable_sketch_union",
    "backfill_dynamic_overwrite",
    "wire_sink_roundtrip",
    "udaf_median_mad_by_type",
    "bloom_filter_join_pruning",
    "hourly_dense_locf",
    "incremental_rollup_maintenance",
    "tokenizer_bpe_pair_counts",
    "kmeans_lloyd_iterations",
    "theta_sketch_audience_overlap",
    "image_phash_near_dup",
    "similarity_int8_rerank",
    "semantic_dedup_keep_canonical",
    "dedup_minhash_estimate_error",
    "streaming_scd2_asof_enrich",
    "streaming_multimodal_phash_rollup",
    "dedup_keep_best_quality",
    "streaming_approx_users_per_window",
    "dedup_incremental_ingest",
    "range_join_binned_incidents",
    "dedup_unicode_normalized",
    "dedup_edit_distance_pairs",
    "similarity_pq_adc",
    "cms_token_frequency",
    "epoch_shuffle_shards",
    "curriculum_mix_schedule",
    "graph_triangle_counts",
    "value_histogram_equidepth",
    "join_skew_diagnostics",
    "incremental_join_maintenance",
    "char_diversity_by_source",
    "inverted_index_postings",
    "dedup_containment_pairs",
    "gopher_rules_filter",
    "weighted_sample_docs",
    "max_concurrent_shipments",
    "bigram_lm_surprisal",
    "bpe_train_merges",
    "repeated_passage_coverage",
    "token_budget_selection",
    "k_core_peel_rounds",
    "ewma_user_value",
    "k_anonymity_audit",
    "streaming_quality_gate",
    "audio_energy_windows",
    "cumulative_unique_users_by_day",
    "first_touch_attribution",
    "sparse_dot_topk_pairs",
    "pmi_collocations",
    "neyman_allocation_sample",
    "langid_confusion_metrics",
    "dataset_datasheet",
    "within_doc_dedup",
    "winsorized_price_stats",
    "basket_lift_pairs",
    "bpe_apply_compression",
    "interarrival_gap_stats",
    "dup_cluster_size_histogram",
    "seasonal_residual_anomaly",
    "top_event_paths",
    "grouped_leakage_free_split",
    "pca_power_iteration",
    "median_imputation_audit",
    "cross_source_dup_matrix",
    "mann_kendall_trend",
    "revenue_gini",
    "lorenz_curve_deciles",
    "theil_sen_slope",
    "ks_two_sample",
    "poisson_bootstrap_ci",
    "cusum_changepoint",
    "permutation_test_mean_diff",
    "benford_first_digit_audit",
    "mann_whitney_u",
    "acf_lag_profile",
    "linear_model_quality_gate",
    "spearman_rank_correlation",
    "kaplan_meier_table",
    "multimodal_jpeg_decode",
    "simhash128_near_dup",
    "image_phash_star_dedup",
]

# Run once before the timed passes to spin the JVM, codegen, and the
# parquet footer cache.
WARMUP = "event_type_rollup"


def _force(df) -> None:
    """Fully execute a plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()


def run_passes(
    run: Callable[[str], float], names: list[str]
) -> tuple[dict[str, float], dict[str, float]]:
    """Time ``names`` with ``run(name) -> seconds``; return (steady, cold).

    The first execution of each query is timed as its cold run: it pays
    the one-time whole-stage-codegen / janino compile for that query's
    stage shapes (measured at ~7 s extra on the near-dup plans). The
    warm-up query is left out of ``cold``: it has already run, so its
    first timed run is steady, and counting it would deflate cold_total.

    Then two steady passes, each over the WHOLE set, and each query's
    steady time is the min of its two samples. min-of-2 because this
    host shows multi-x run-to-run noise (virtualized CPU steal), and the
    min is the steal-robust estimator. The passes are interleaved, not
    back-to-back per query: a query's two samples sit a full pass
    (~minutes) apart, so a noise burst that lands on its slot in pass 1
    has decorrelated by its slot in pass 2. Same run count, a better
    per-query estimator on a shared host.
    """
    cold: dict[str, float] = {}
    for name in names:
        dt = run(name)
        if name != WARMUP:
            cold[name] = round(dt, 3)
    steady: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            steady[name] = min(steady.get(name, float("inf")), run(name))
    return {name: round(steady[name], 3) for name in names}, cold


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from streaming_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        _force(qs[name](spark, sf_dir))
        dt = time.perf_counter() - t0
        # Operators that cache intermediates (near-dup group tables)
        # must not carry their storage into the next run's timing.
        spark.catalog.clearCache()
        return dt

    run(WARMUP)
    timings, cold = run_passes(run, [n for n in HEADLINE if n in qs])

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": sf_val,
                "queries": timings,
                "cold_queries": cold,
                "cold_total": round(sum(cold.values()), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
