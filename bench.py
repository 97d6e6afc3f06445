"""Benchmark harness — runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the `noop` sink (full execution,
no collect/IO overhead on the measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_energy_tracker_spark.queries import catalog  # noqa: E402
from etl_energy_tracker_spark.session import get_spark  # noqa: E402

# Heavy-path subset: core TPC-H shapes, the big shuffles (dedup, agg,
# windows), and the LLM-pipeline operators. Cheap parse/filter queries
# are correctness-only — benching them would measure session overhead.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "dup_row_aggregation",
    "keep_last_dedup",
    "session_differencing",
    "rolling_avg_24",
    "hourly_rollup",
    "topk_per_group",
    "linking_hash_match",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "text_fingerprint",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "minhash_lsh_pairs",
    "simhash_fingerprint",
    "streaming_hourly_agg",
    "sessionization",
    "asof_join_last_click",
    "pipeline_esios_e2e",
    "pipeline_omie_e2e",
    "stateful_user_totals",
    "embedding_near_dup_pairs",
    "multimodal_features",
]

# Round-4 additions, timed and reported separately: NOT in the
# headline total so `value` stays comparable to the BASELINE.md
# 30-query figure across rounds. Their own baseline is their first
# recorded figure (BASELINE.md r4 section).
EXTRA = [
    "ngram_lm_score",
    "dup_window_spans",
    "bloom_decontaminate",
    "cms_token_counts",
    "pagerank_bipartite",
    "funnel_conversion",
    "scd2_point_in_time_join",
    "inverted_index_postings",
    "gopher_quality_report",
    "url_canonicalize_dedup",
    "perplexity_tertile_split",
    "random_projection_reduce",
    "stream_topk_trending",
    "histogram_quantile_estimate",
    "value_outlier_mad",
    "bpe_train_merges",
    "hybrid_rrf_fusion",
    "event_pattern_match",
    "incremental_minhash_dedup",
    "seasonal_naive_backtest",
    "ewma_anomaly",
    "content_defined_chunks",
    "triangle_count",
    "hard_negative_mining",
    "entity_resolution_golden",
    "vocab_oov_coverage",
    "collocation_lift_topk",
    "span_corruption_pairs",
    "grid_gap_interpolation",
    "lsh_recall_eval",
    # r5: the remaining continuation ops that had no recorded figure —
    # with these, every late-round catalog addition has a baseline.
    "attribution_u_shaped",
    "chat_turns_assemble",
    "dataset_snapshot_diff",
    "dq_expectations_report",
    "event_transition_matrix",
    "hopping_window_agg",
    "normalized_exact_dedup",
    "pareto_frontier",
    "phrase_match_count",
    "rfm_segmentation",
    "sequence_support_topk",
    "stream_ewma_anomaly",
    "temperature_mixture_sample",
    "time_to_convert_cohorts",
    "semdedup_prune",
    # r5 additions
    "jaccard_knn_topk",
    "dedup_cluster_report",
    "time_weighted_average",
    "delta_encode_postings",
    "ngram_novelty_score",
    "reservoir_group_sample",
    "winsorized_robust_stats",
    "embedding_centroid_shift",
    "bucketed_join_noshuffle",
    "concurrent_intervals_peak",
    "key_skew_report",
    "bpe_encode_corpus",
    "kcore_decomposition",
    "prefix_filter_jaccard_join",
    "priority_sample_weighted",
    "greedy_max_coverage",
    "ohlc_bars_hourly",
    "table_checksum_diff",
    "cusum_changepoint",
    "ann_recall_mrr_eval",
    "stream_cusum_alarm",
    # r6 additions
    "boilerplate_line_removal",
    "lsh_edit_distance_verify",
    "leakage_safe_split",
    "hashed_linear_classifier",
    "pq_quantize_stats",
    "image_bucket_batching",
    "k_anonymity_report",
    "seasonal_decompose_ma",
    "tokenizer_fertility_report",
    "stream_scd1_upsert",
    "dsir_importance_weights",
    "late_arrival_audit",
    "ann_pq_adc_topk",
    "quality_keeper_selection",
    "dataset_card_report",
    "exact_substring_trim",
    "source_overlap_matrix",
    "domain_blocklist_filter",
    # r6 evaluation-layer additions (evalops.py)
    "badword_filter_report",
    "classifier_auc_eval",
    "autocorrelation_lags",
    "nb_lang_confusion",
    "label_centroid_similarity",
    "nb_crossval_accuracy",
    "chi2_feature_terms",
    "minhash_estimate_error",
    "khop_reachability",
    "twopass_exact_median",
    "distribution_drift_chi2",
    "neyman_allocation_sample",
    "bloom_join_prefilter",
    "ks_drift_stat",
    "lexical_diversity_report",
    "cohens_kappa_agreement",
    "gini_token_concentration",
    "benford_first_digit",
    "spearman_rank_corr",
    "zonemap_prune_audit",
    "l_diversity_report",
    "zipf_octave_profile",
    "pca_power_iteration",
    "skipgram_negative_samples",
    "analyze_column_stats",
    "preference_pairs_assemble",
    "fk_integrity_audit",
    "copurchase_item_similarity",
    "dow_hour_heatmap",
    "asof_join_next_purchase",
    "order_total_reconciliation",
    "graph_modularity_score",
    "brand_month_movers",
    "grouping_sets_report",
    "markov_steady_state",
    "ab_test_zscore",
    "cohort_ltv_curve",
    "dict_encoding_audit",
    "weighted_percentile_exact",
    "conformal_prediction_interval",
    "activity_streaks",
    "stream_conformal_alarm",
    "bitmap_intersection_audit",
    "hll_daily_series",
    # r7 additions
    "t_closeness_report",
    "calibration_ece_report",
    "interleave_mixture_shards",
    "markov_attribution_removal",
    "ivf_incremental_assign",
    "source_lexical_distance",
    "kcenter_coreset_sample",
    "blocking_strategy_eval",
    "token_budget_waterfill",
    "join_cardinality_audit",
    # r8 additions
    "misra_gries_heavy_hitters",
    "sorted_neighborhood_pairs",
    "doremi_domain_weights",
    "lsh_parameter_plan",
    "kmv_theta_setops",
    "rendezvous_shard_rebalance",
    "fim_transform_spans",
    "pass_at_k_eval",
    "nl_avg_daily_price",
    "nl_avg_volume_latest_day",
    "nl_price_volume_join",
    "ndcg_at_k_eval",
    "burst_detection_viterbi",
    "asof_join_feature_staleness",
    "vopt_histogram_boundaries",
    "nl_total_volume_by_market",
    "salt_plan_report",
    "shuffle_partition_advisor",
    "sequential_sprt_monitor",
    "hourly_trend_regression",
    # round-9 additions
    "facility_location_select",
    "mmr_diverse_rank",
    "mann_whitney_u_test",
    "logistic_regression_gd",
    "contrastive_hard_negatives",
    "kmeans_lloyd_refine",
    "poisson_bootstrap_ci",
    "isotonic_calibration_pav",
    "permutation_test_fdr",
    "cuped_variance_reduction",
    "bradley_terry_mm",
    "best_of_n_curve",
    "matryoshka_dim_recall",
    "shapley_channel_attribution",
    "classifier_fairness_audit",
    "nelson_aalen_hazard",
    "delta_method_ratio_ci",
    "difference_in_differences",
    "stream_session_window",
    "loo_source_influence",
    "post_stratified_effect",
    "nb_learning_curve",
    "brier_decomposition",
    "power_analysis_sample_size",
    "srm_check",
    # round-10 additions
    "stream_session_window_append",
    "grpo_advantage",
    "length_controlled_win_rate",
    "mcnemar_paired_test",
    "cluster_purity_nmi",
    "edge_triangle_support",
    "chunk_overlap_stitch",
    "nucleus_topp_cutoff",
    "greedy_unigram_acceptance",
    "krippendorff_alpha",
    "stream_stream_left_outer",
    "stream_hourly_agg_append",
    "stream_dedup_within_watermark",
    "dup_substring_maxlen",
    "hilbert_layout_stats",
    "preference_cycle_audit",
    "psi_drift_report",
    "readability_index_report",
    "weighted_jaccard_pairs",
    "stream_full_outer_join",
    # round-11 additions
    "ktruss_decomposition",
    "icws_weighted_lsh_pairs",
    "stream_full_outer_asym_wm",
    "dpo_pair_loss_stats",
    "lrs_cross_doc_exact",
    "lm_bigram_perplexity",
    "bloom_prune_audit",
    "mlm_masking_plan",
    "hill_tail_index",
    "label_propagation_cc",
    "cem_matching_att",
    "qte_median",
    "stream_rate_limit_window",
    "offpolicy_ips_snips",
    "eb_rate_shrinkage",
    "bigram_entropy_rate",
    "quantile_norm_map",
    "degree_assortativity",
    "successive_halving_suppliers",
    # round-12 additions
    "icws_weighted_lsh_pairs_prod",
    "nl_rolling_avg_price_24",
    "nl_top_markets_by_volume",
    "exact_substring_remove",
    "vinculacion_monitor_e2e",
    "lm_stupid_backoff_perplexity",
    "fellegi_sunter_linkage",
    "maxsim_multivector_topk",
    "holt_linear_forecast",
    "stream_visit_ttl_timeout",
    "winnowing_fingerprints",
    "stream_chained_window_rollup",
    "incremental_join_maintenance",
    "louvain_one_pass",
]


def select_headline_pass(
    controls1: tuple[float, float], controls2: tuple[float, float], baseline: float
) -> tuple[int, str]:
    """Which of two headline passes to report, and why: the one whose
    worse bracket control (start or end) is closer to the control
    baseline, i.e. the cleaner host window. The lower total is not the
    rule, since on a contaminated host it favors whichever pass drew
    the luckier noise. A tie keeps pass 1."""
    worse = (max(controls1), max(controls2))
    pick = 2 if abs(worse[1] - baseline) < abs(worse[0] - baseline) else 1
    return pick, (
        f"worse bracket control {worse[pick - 1]:.3f} s vs "
        f"{worse[2 - pick]:.3f} s is closer to the {baseline} s baseline"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = catalog.queries()

    # warm the JVM + parquet footers once so per-query numbers measure
    # execution, not first-touch session costs.
    qs["q6_forecast_revenue"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    # best-of-N per query: the host is shared and shows up to 4x
    # neighbor-load variance (BASELINE.md), so single-shot timings are
    # unreliable; min-of-runs reports the machine's capability.
    # Extras: two runs baseline, a third only when the first two
    # disagree by >1.5x — bounded extra wall time, spent exactly where
    # variance was observed. HEADLINE queries: unconditional
    # best-of-3 (VERDICT r11 task 4 — the r11 full-bench spread was
    # 21.1->18.2 s with no code change; three pinned runs tighten the
    # gate the conditional third left loose).
    def time_query(fn, n: int = 2, always: bool = False) -> float:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        if not always and max(runs) > 1.5 * min(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    # in-window drift control (the r10 adjudication method, pinned
    # into every headline run): q6_forecast_revenue is byte-identical
    # TPC-H code since round 1 (r1 baseline 0.23 s at sf0.1), so its
    # best-of-3 at the start and end of the headline window measures
    # pure host state. Read any headline drift AGAINST these — a
    # total at or below the control's ratio is host noise, only a
    # total well above it is a candidate regression.
    def run_headline_pass() -> tuple[float, dict[str, float], float]:
        ctl_s = time_query(qs["q6_forecast_revenue"], 3, always=True)
        t: dict[str, float] = {}
        for name in HEADLINE:
            t[name] = time_query(qs[name], 3, always=True)
        ctl_e = time_query(qs["q6_forecast_revenue"], 3, always=True)
        return ctl_s, t, ctl_e

    # Load-aware rerun rule (VERDICT r12 item 1): the r12 driver window
    # opened with control_start = 1.872 s (8x the 0.23 s baseline) and
    # every headline figure was unusable noise. If either bracket
    # control reads degraded (>1.5x baseline), cool down once and
    # re-run the whole headline block; report the pass with the cleaner
    # brackets (select_headline_pass) and stamp BOTH passes' controls so
    # the contamination (and the recourse taken) is on the record.
    # Bounded: at most one rerun.
    CTL_BASELINE = 0.23
    ctl_start, timings, ctl_end = run_headline_pass()
    rerun_info = None
    if max(ctl_start, ctl_end) > 1.5 * CTL_BASELINE:
        time.sleep(30)  # cool-down: let a transient neighbor burst drain
        ctl_start2, timings2, ctl_end2 = run_headline_pass()
        pass1 = {"control_start": ctl_start, "control_end": ctl_end,
                 "total": round(sum(timings.values()), 3)}
        pass2 = {"control_start": ctl_start2, "control_end": ctl_end2,
                 "total": round(sum(timings2.values()), 3)}
        reported, reason = select_headline_pass(
            (ctl_start, ctl_end), (ctl_start2, ctl_end2), CTL_BASELINE
        )
        if reported == 2:
            ctl_start, timings, ctl_end = ctl_start2, timings2, ctl_end2
        rerun_info = {"reported": reported, "reason": reason,
                      "pass1": pass1, "pass2": pass2}

    total = sum(timings.values())

    extra = {name: time_query(qs[name]) for name in EXTRA}

    payload = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "sf": sf,
        "protocol": {
            "headline_runs": 3,
            "control": "q6_forecast_revenue",
            "control_r1_baseline": CTL_BASELINE,
            "control_start": ctl_start,
            "control_end": ctl_end,
        },
    }
    if rerun_info is not None:
        payload["protocol"]["load_rerun"] = rerun_info
    # Full payload (headline + extras) goes to a file; stdout carries a
    # COMPACT final line. The driver keeps only the last 2000 chars of
    # stdout and json-parses the final line from that window — round 5's
    # line, with ~70 extra_queries inline, exceeded 2000 chars and the
    # driver recorded "parsed": null. The compact line (~1.1 kB for 30
    # headline queries) must stay under that budget; extras live in
    # bench_extra.json (committed per round) instead.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_extra.json"), "w") as f:
        json.dump(payload, f, indent=1)
    compact = dict(payload)
    del compact["extra_queries"]
    compact["extra_queries_file"] = "bench_extra.json"
    line = json.dumps(compact)
    if len(line) >= 1900 and "load_rerun" in compact.get("protocol", {}):
        # keep the compact stdout line inside the driver's 2000-char
        # window; the full rerun record stays in bench_extra.json.
        compact["protocol"] = dict(compact["protocol"])
        compact["protocol"]["load_rerun"] = {
            k: rerun_info[k] for k in ("reported", "reason")}
        line = json.dumps(compact)
    assert len(line) < 1900, f"bench JSON line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
