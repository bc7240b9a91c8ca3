"""Benchmark entry point (driver contract: ONE JSON line on stdout).

Times the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.  Each query is forced end-to-end with
the noop datasource (``count()`` alone would let Catalyst prune every
computed column).  One warm-up pass of the flagship query absorbs
JIT/codegen compilation so the reported numbers are steady-state —
the regime that matters at 100 TB.

Usage: python bench.py            # prints {"metric": ...} as the
                                  # LAST stdout line
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: the relational flagship + one per operator family,
# weighted toward the scale-critical paths (dedup, similarity, text)
BENCH_QUERIES = [
    "flagship_revenue_by_nation",
    "sql_q5_local_supplier",
    "aggregate_q1",
    "aggregate_median",
    "join_details",
    "salted_join",
    "asof_join",
    "rank_in_group",
    "top_k",
    "filter_by_predicate",
    "tumbling_window",
    "sessionize",
    "exact_dedup",
    "docs_prep_pipeline",
    "minhash_dedup_pairs",
    "simhash_dedup_pairs",
    "ngram_jaccard_unigram",
    "prefix_jaccard_docs",
    "containment_pairs_docs",
    "token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "tf_idf",
    "term_doc_freq",
    "embedding_dup_pairs_lsh",
    "cosine_topk",
    "cosine_topk_lsh",
    "cosine_topk_ivf_probed",
    # round-2 additions: reshape/rollup/SCD2, text cleaning, sketches,
    # and the streaming twin driven end-to-end
    "unpivot_lineitem",
    "range_join_price_tiers",
    "time_bucket_rollup",
    "zscore_by_segment",
    "scd2_merge",
    "pii_mask",
    "repetition_ratio",
    "paragraph_dedup",
    "heavy_hitters",
    "approx_quantile_bounds",
    "stream_tumbling_window",
    "decontaminate",
    "pack_sequences",
    "training_set_pipeline",
    # round-3 additions: LM perplexity (full-corpus model train +
    # score), blocklist filtering, the streaming prep pipeline, and
    # the real raster decode path
    "unigram_perplexity",
    "domain_filter",
    "stream_docs_pipeline",
    "image_pixel_stats",
    # round-4 additions: SemDeDup clustered near-dup on the planted
    # corpus (the scale path: sqrt-n clusters, map-only assignment),
    # perceptual image dedup, PQ compressed-domain ANN, the TPC-H
    # classics, and the streaming histogram-quantile pipeline
    "semantic_dup_pairs_planted",
    "image_phash_planted_recall",
    "cosine_topk_pq_selfmatch",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_orders",
    "stream_quantile_window",
    "funnel_view_click_purchase",
    "retention_cohorts",
    "image_feature_dup_planted",
    "video_dup_planted",
    "audio_stats_wav",
    "zorder_cluster_roundtrip",
    "interval_join_events",
    "resample_hourly_ffill",
    "moving_sum_1h",
    "train_test_split_docs",
    "temporal_split_events",
    "frequent_sequences_events",
    "cramers_v_events",
    "pareto_front_orders",
    "classification_report_orders",
    "retrieval_metrics_events",
    "bootstrap_ci_events_value",
    "mann_whitney_events",
    "kruskal_wallis_events",
    "effect_size_purchase_vs_view",
    "brown_forsythe_events",
    "paired_t_events_purchase_click",
    "bootstrap_ci_by_type",
    "trimmed_mean_events_value",
    "trimmed_mean_by_priority",
    "concentration_orders_by_priority",
    "stream_funnel",
    "html_to_text",
    "dedup_against_index_planted",
    "admit_and_extend_planted",
    "warc_pipeline_splittable",
    "row_group_stats_documents",
    "canonicalize_url",
    "script_profile",
    "linear_score_quality",
    "tpch_q7_volume_shipping",
    "tpch_q14_promo_effect",
    "tpch_q19_disjunctive_revenue",
    # the TPC-H tail (q2/q11/q20 run against a supplier-part table
    # DERIVED from lineitem since the testdata ships no partsupp; all
    # others run directly, adapted where a column is absent — see
    # __spark_entry__.py docstrings)
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q17_small_quantity_revenue",
    "tpch_q20_dominant_supplier",
    "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
    "dsir_logratio",
    "remove_boilerplate_lines",
    "gopher_rules",
    # round-5 additions: drift monitoring (exact quantile ranks, PSI
    # grid, range-partitioned KS), approximate string linkage, and
    # window attribution
    "winsorize_prices",
    "mad_outlier_events",
    "psi_events_value",
    "ks_events_value",
    "fuzzy_join_customer_names",
    "attribution_first_touch",
    "attribution_linear",
    "auc_events_value",
    "calibration_events",
    "winsorize_by_priority",
    "attribution_time_decay",
    "stream_psi_window",
    "rollup_upsert_events",
    "attribution_u_shaped",
    "quantile_normalize_orders",
    "psi_docs_lang",
    "resolve_entities_customers",
    "key_profile_orders",
    "integrity_orders_customer",
    "k_anonymity_customer",
    "suppress_small_groups_customer",
    "rolling_features_events",
    "cohens_kappa_orders",
    "transition_matrix_events",
    "seasonal_anomalies_events",
    "mixture_plan_docs",
    "top_paths_events",
    "changepoint_events_value",
    "kmeans_planted_blobs",
    "bpe_train_planted",
    "stream_seasonal_gate",
    "bm25_hits_docs",
    "frequent_pairs_lineitem",
    "association_rules_lineitem",
    "triangle_count_copurchase",
    "pagerank_supplier_part",
    "woe_iv_events_purchase",
    "inverted_index_docs",
    "decompose_events_value",
    "target_encode_events",
    "chi_square_events",
    "collocations_docs",
    "hits_supplier_part",
    "benford_orders_totalprice",
    "twap_events_user",
    "conversion_latency_events",
    "schema_drift_orders",
    "asof_nearest_events",
    "coalesce_intervals_events",
    "balance_classes_docs",
    "gap_report_events",
    "stream_gap_report",
    "pagerank_weighted_supplier_part",
    "pit_join_orders_segment",
    "cdc_column_diff_orders",
    "one_hot_events_type",
    "top_values_orders_priority",
    "gains_table_events",
    "reading_level_docs",
    "pseudonymize_customer",
    "surrogate_key_orders",
    "rfm_segments_events",
    "lorenz_orders_totalprice",
    "km_risk_table_events",
    "join_cardinality_lineitem_partkey",
    "ab_test_events_purchase",
    "cumulative_distinct_events",
    "grid_distance_pairs_customer",
    "ewma_events_value",
    "expectations_customer",
    "holt_forecast_events",
    "linear_trend_user_daily",
    "qq_purchase_vs_click",
    "group_quantiles_events",
    "acf_events_value",
    "cuped_events",
    "link_scores_copurchase",
    "stratified_sample_n_orders",
    "top_terms_docs",
    "robust_scale_orders",
    "xcf_click_purchase",
    "lookup_with_default_customer",
    "orc_roundtrip_orders",
    "growth_accounting_weekly",
    "embedding_centroids_by_label",
    "decomposition_strength_events",
    "pipeline_spec_orders",
    "scd2_snapshot_orders",
    "mix_shift_events_value",
    "gini_by_priority",
    "date_dimension_2024",
    "id_gaps_orders",
    "golden_record_customers",
    "rate_confidence_events",
    "negative_samples_orders",
    "stream_rate_monitor",
    "bounded_stock_events",
    "freshness_events_by_type",
    "stream_ewma",
    "keep_latest_orders",
    "rolling_corr_supplier",
    "histogram2d_events",
    "abc_parts_revenue",
    "weighted_median_lineitem",
    "group_mode_events",
    "calendar_features_events",
    "new_vs_returning_daily",
    "churn_weekly_users",
    "stickiness_weekly",
    "segment_overlap_event_types",
    "welch_t_purchase_vs_view",
    "anova_value_by_type",
    "mi_lang_source",
    "minmax_scale_events",
    "theil_sen_daily_revenue",
    "wow_revenue_orders",
    "shipments_in_transit",
    "dwell_events_by_type",
    "debounce_events_user",
    "cohort_ltv_orders",
    "fifo_match_events",
    "rolling_wau_events",
    "haversine_pairs_customer",
    # round-9 additions
    "nelson_aalen_events",
    "mann_kendall_daily_revenue",
    "snapshot_restore_orders",
    "uplift_curve_events",
    "weighted_p90_lineitem",
    "cochran_armitage_orders",
    "spearman_by_returnflag",
    "spearman_lineitem_qty_price",
    "fdr_bh_customers",
    "fdr_holm_customers",
    "conformal_events_value",
    "conformal_by_segment_events",
    "divergence_purchase_vs_click",
    "stream_divergence_window",
    # round-10 additions
    "mcnemar_events",
    "cochran_q_events",
    "kendall_tau_daily_revenue",
    "srm_orders_priority",
    "dunn_events_value",
    "stream_srm_window",
    "fleiss_kappa_events",
    "vocab_richness_docs",
    "capture_recapture_orders",
    "diversity_docs_by_source",
    "friedman_events_spend",
    # round-11 additions
    "cusum_daily_revenue",
    "stream_cusum_window",
    "mood_median_events",
    "jonckheere_orders_priority",
    "krippendorff_events",
    "distinctive_terms_src1",
    "log_rank_events_parity",
    "wilcoxon_events_purchase_click",
    "pettitt_events_value",
    "mantel_haenszel_events",
    "runs_test_events_value",
    "durbin_watson_events_value",
    "anderson_darling_events",
    "smd_balance_orders",
    "cliffs_delta_events",
    "ansari_bradley_events",
    "stream_pettitt_window",
    "compression_ratio_docs",
    "brunner_munzel_events",
    "page_trend_events_spend",
    # round-12 additions
    "compression_ratio_planted",
    "isotonic_calibration_events",
    "brier_events_purchase",
    "hosmer_lemeshow_events",
    "cronbach_events_spend",
    "lepage_events_view_signup",
]


def main() -> int:
    import __spark_entry__ as entrymod
    from bubbles_spark.session import get_spark

    # stderr keeps only real warnings: no progress bars, and the
    # benchmark's log4j2 config drops the benign late-heartbeat
    # accumulator traces
    here = os.path.dirname(os.path.abspath(__file__))
    log4j = os.path.join(here, "perfbench", "log4j2.properties")
    spark = get_spark(
        "bubbles_spark_bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Dlog4j2.configurationFile=file:{log4j}",
        },
    )
    qs = entrymod.queries()

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # warm-up: JIT + parquet footer cache + codegen compile
    run("flagship_revenue_by_nation")

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        if name not in qs:
            print(f"# skip {name}: not registered", file=sys.stderr)
            continue
        # one failing query must not void the whole timing vector
        # (a CC non-convergence at sf0.1 once killed the entire run
        # and the driver recorded nothing)
        try:
            cold = run(name)
            # report the SECOND run: per-query codegen/JIT compiles on
            # the first execution and is a one-time cost a long-lived
            # cluster never pays again — steady-state is the 100 TB
            # regime
            times[name] = round(run(name), 3)
            print(f"# {name}: {times[name]}s (cold {cold:.1f}s)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(times.values()), 3)

    # The driver keeps only a ~2 KB TAIL of this process's output, and
    # the full per-query dict serializes past that — r4/r5 lost ~20 of
    # ~80 timings to a truncated JSON line ("parsed": null).  So: the
    # COMPLETE timing vector goes to bench_results.json (committed with
    # the round artifacts), and the stdout line carries as many of the
    # slowest (= most informative) queries as fit its tail budget plus
    # a pointer to the file.
    full = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if errors:
        full["errors"] = errors
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_results.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    by_cost = sorted(times, key=times.get, reverse=True)
    line = dict(full, queries={}, n_queries=len(times),
                queries_file="bench_results.json")
    for name in by_cost:
        trial = dict(line, queries=dict(line["queries"], **{name: times[name]}))
        if len(json.dumps(trial, separators=(",", ":"))) > 1800:
            break
        line = trial
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
