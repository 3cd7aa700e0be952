"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed once after a warmup pass of q1 (JVM/codegen
warm), timed wall-clock to a count()/collect() materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q18_large_orders",
    "cdc_apply",
    "cdc_snapshot",
    "events_sessionize",
    "asof_join",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "text_quality_score",
    "doc_fingerprint",
    "multimodal_image_decode",
    # round-2 additions — first bench run records their floor
    "events_gap_fill",
    "grouping_sets_agg",
    "range_band_join",
    "tfidf_top_terms",
    "text_unigram_logprob",
    "embedding_centroids",
    "dedup_components",
    "multimodal_video_decode",
    # round-4 additions — first bench run records their floor
    "dedup_ngram_containment",
    "ann_knn_graph",
    "ann_hnsw_topk",
    "orders_stl_decompose",
    "lineitem_did_estimator",
    "events_theta_sketch_ops",
    "events_transfer_entropy",
    "embedding_kcenter_coreset",
    "embedding_mmr_diversity",
    "orders_panel_fixed_effects",
    "embedding_dbscan",
    "nations_gravity_model",
    "text_burrows_delta",
    "orders_kruskal_wallis",
    "events_mcnemar_test",
    "lineitem_levene_test",
    "orders_expected_shortfall",
    "customers_negbin_fit",
    "lineitem_hill_tail",
    "text_js_divergence",
    "events_downtime_report",
    "events_seasonality_strength",
    "orders_dupe_invoice_audit",
    "parts_price_dispersion",
    "events_roc_auc",
    "orders_bass_diffusion",
    "cdc_merge_into",
    "events_changepoint",
    "corpus_dsir_select",
    "tokenizer_bpe_pairs",
    # round-4 late additions — first bench run records their floor
    "lineitem_winsorized_stats",
    "customers_rfm_segmentation",
    "graph_triangle_count",
    "parts_fuzzy_match",
    "corpus_perplexity_filter",
    "multimodal_phash_dedup",
    "bucketed_colocated_join",
    "graph_reachability_bfs",
    "events_ks_test",
    "corpus_ccnet_funnel",
    "events_active_users_rolling",
    # round-5 additions — floors recorded from interleaved min-of-3
    "graph_triangle_count_approx",
    "dedup_incremental_probe",
    "cdc_incremental_snapshot",
    "tokenizer_bpe_apply",
    "events_mann_kendall",
    "customers_survival_km",
    "orders_seasonal_decompose",
    "debezium_mongo_parse",
    "orders_runs_test",
    "corpus_dedup_survivorship",
    "orders_zorder_layout",
    "nations_revenue_decomposition",
    "customers_value_migration",
    "events_cep_pattern",
    "table_checksum_ranges",
    "lineitem_mannwhitney_u",
    "orders_priority_kendall_taub",
    "events_session_window_native",
    "suppliers_similar_portfolios",
    "events_extreme_value_gumbel",
    "multimodal_silence_trim",
    "corpus_bloom_prefilter",
    "events_bot_screen",
    "events_snaive_mase",
    "parts_promo_did",
    "nations_return_rate_wilson",
    "lineitem_anova_f",
    "parts_price_index_fisher",
    "graph_assortativity",
    "orders_simpson_audit",
    "events_window_funnel",
    "lineitem_theil_decomposition",
    "cdc_bootstrap_reconcile",
    "sink_vacuum_retention",
    "events_cms_heavy_hitters",
    "cdc_outbox_route",
    "jdbc_incremental_pull",
    "multimodal_edge_energy",
    "events_shapley_attribution",
    "orders_wasserstein_drift",
    "parts_croston_forecast",
    "dedup_minhash_eval",
    "cdc_pk_change_apply",
    "cdc_malformed_envelope_audit",
    "cdc_table_diff",
    "orders_cusum_control",
    "graph_link_prediction",
    "text_bm25_search",
    "events_periodogram",
    "parts_abc_xyz_matrix",
    "embedding_intrinsic_dim",
    "graph_kcore_peel",
    "events_watermark_lateness",
    # round-5 session-3 additions — floors from interleaved min-of-3
    "cdc_txn_boundary_apply",
    "cdc_column_masking",
    "lineitem_welch_ttest",
    "customers_spearman",
    "orders_little_law",
    "orders_theil_sen",
    "orders_isotonic_fit",
    "graph_adamic_adar",
    "graph_label_propagation",
    "events_hurst_exponent",
    "text_collocations_llr",
    "text_mattr_diversity",
    "text_naive_bayes",
    "embedding_random_projection",
    "multimodal_hist_equalization",
    "corpus_curriculum_schedule",
    "orders_peak_wip",
    "lineitem_price_elasticity",
    "parts_newsvendor_stock",
    "text_word_burstiness",
    "orders_ar2_forecast",
    "multimodal_spectral_centroid",
    "embedding_kmeans_convergence",
    "orders_bootstrap_ci",
    "text_textrank_keywords",
    "events_sax_motifs",
    "events_burst_viterbi",
    "orders_holt_winters",
    "graph_hits_authorities",
    "lineitem_em_mixture",
    "corpus_mixing_temperature",
    "corpus_span_corruption_plan",
    "events_poisson_rate_test",
    "embedding_power_iteration",
    "orders_forecast_backtest",
    "events_esd_outliers",
    "lineitem_neyman_allocation",
    "orders_running_median",
    "events_bottomk_sketch",
    "events_odds_ratio",
    "corpus_contrastive_pairs",
    "cdc_crdt_counter",
    "events_cuped_adjustment",
    "orders_xbar_r_chart",
    "customers_decile_lift",
    "events_gini_stump",
    "nations_atkinson_index",
    "suppliers_topsis_scorecard",
    "orders_weibull_fit",
    "customers_srm_check",
    "lineitem_conformal_interval",
    "events_pelt_segmentation",
    "text_good_turing",
    "events_eb_shrinkage",
    "events_kpss_stationarity",
    "events_dwell_semi_markov",
    "orders_dtw_yearly_shape",
    "lineitem_post_stratification",
    "orders_capture_recapture",
    "cdc_type_widening_ingest",
    "orders_pinball_eval",
    "events_recurrence_quantification",
    "graph_rich_club",
    "graph_boruvka_msf",
    # round-6 additions — floors from interleaved min-of-3
    "sink_erase_predicate",
    "sink_shallow_clone",
    "events_hll_distinct",
    "events_matrix_profile",
    "events_lag_mutual_information",
    "text_kneser_ney",
    "corpus_soft_dedup_weight",
    "cdc_ddl_schema_timeline",
    "multimodal_dct_energy",
    "embedding_silhouette",
    "customers_mahalanobis_outliers",
    "events_granger_causality",
    "jdbc_partition_bounds",
    "cdc_format_autodetect",
    "cdc_savepoint_resume",
    "events_circular_stats",
    "events_allan_variance",
    "events_entropy_rate",
    "graph_pagerank",
    "graph_closeness_sample",
    "text_quality_calibration",
    "corpus_validation_leakage",
    "embedding_drift_psi",
    "text_ndcg_eval",
    "events_page_hinkley",
    "orders_seasonal_mann_kendall",
    "orders_interrupted_time_series",
    "orders_cohens_kappa",
    "events_k_anonymity",
    "text_rake_keywords",
    "embedding_anisotropy",
    "cdc_sync_throughput_report",
    "cdc_tombstone_gc_plan",
    "events_burstiness_memory",
    "nations_rca_matrix",
    "corpus_length_bias_audit",
    "embedding_hubness_audit",
    "tokenizer_vocab_pruning",
    # round-9 additions — floors from the r9-open quiet-box min-of-3
    "ann_incremental_index",
    "text_readability",
    "text_tokenizer_fertility",
    "corpus_boilerplate_spans",
    "embedding_lof",
    "events_stickiness_ratio",
    "events_absorption_profile",
    "events_ewma_chart",
    "events_fdr_screen",
    "lineitem_tail_dependence",
    "cdc_checksum_repair_plan",
    "events_peak_concurrency",
    "lineitem_rdd_discount",
    "cdc_watermark_alignment",
    "tokenizer_unigram_train",
    "events_sprt_monitor",
    "graph_betweenness_sample",
    "text_yule_k",
    "events_p_chart",
    "events_sample_entropy",
    "graph_modularity",
    "ann_filtered_topk",
    "embedding_triplet_eval",
    "events_ams_f2_sketch",
    "dedup_lsh_tuning",
    "events_dfa_exponent",
    "cdc_op_sequence_audit",
    "multimodal_rle_compressibility",
    "corpus_mix_waterfill",
    "orders_theta_forecast",
    "events_hawkes_declustering",
    "events_western_electric_rules",
    "cdc_partition_skew_report",
    "parts_experience_curve",
    "parts_demand_classification",
    "text_char_entropy",
    "graph_powerlaw_fit",
    "ann_radius_search",
    "customers_nelson_aalen",
    "lineitem_iv_regression",
    "orders_cochran_armitage",
    "events_markov_attribution",
    "orders_adstock_regression",
    "cdc_consumer_rebalance_plan",
    "graph_conductance",
    "parts_price_stickiness",
    "multimodal_audio_zcr",
    "embedding_ari_partition_agreement",
    "events_adwin_drift",
    "text_trending_terms",
    "cdc_schema_compat_check",
    "orders_hierarchical_forecast",
    "nations_matched_did",
    "customers_competing_risks",
    "embedding_mmd_test",
    "parts_eoq_policy",
    "orders_bullwhip_effect",
    "nations_complexity_proximity",
    "multimodal_image_ssim",
    "text_source_vocab_overlap",
    "lineitem_clustered_se",
    # round-10 additions — floors from interleaved min-of-3
    "events_ddsketch_quantiles",
    "orders_friedman_test",
    "cdc_heartbeat_monitor",
    "events_spectral_entropy",
    "events_wavelet_haar",
    "orders_kalman_level",
    "tokenizer_wordpiece_train",
    "events_cointegration_test",
    "orders_erlang_staffing",
    "graph_scc",
    "cdc_dead_letter_replay",
    "multimodal_hu_moments",
    "lineitem_oaxaca_blinder",
    "graph_effective_diameter",
    "embedding_energy_distance",
    "corpus_rejection_sampling",
    "multimodal_audio_onsets",
    "streaming_ddsketch_rollup",
    "orders_shift_share",
    "lineitem_tukey_hsd",
    "orders_vintage_analysis",
    "nations_meta_analysis",
    "customers_cox_regression",
    "multimodal_blockiness",
    "events_poisson_regression",
    "lineitem_partial_correlation",
    "multimodal_audio_clipping",
    "cdc_slot_retention_forecast",
    "lineitem_heteroskedasticity_bp",
    "corpus_dedup_cluster_sizes",
    "cdc_transaction_size_distribution",
    "lineitem_cusum_of_squares",
    "corpus_context_length_budget",
    "cdc_ordering_violation_detector",
    "orders_price_heaping_audit",
    "multimodal_stereo_balance",
    "cdc_compaction_ratio_report",
    "lineitem_twoway_anova",
    "text_ocr_artifact_screen",
    "orders_wilcoxon_signed_rank",
    "orders_lognormal_fit",
    "text_unicode_hygiene_screen",
    "lineitem_intraclass_correlation",
    "events_harmonic_regression",
    "multimodal_caption_consistency",
    "corpus_source_leakage_matrix",
    "events_bimodality_coefficient",
    "lineitem_taguchi_sn",
    "orders_quantile_treatment_effect",
    "events_pot_gpd_tail",
    "multimodal_av_sync_check",
    "lineitem_fwl_partialled_regression",
    "multimodal_image_palette_audit",
    "corpus_pack_contamination_audit",
    "events_anderson_darling",
    "orders_ljung_box",
    "multimodal_thumbnail_integrity",
    "events_mean_residual_life",
    "corpus_vocab_coverage_curve",
    "orders_durbin_watson",
    "events_jarque_bera",
    "embedding_cka",
    "customers_log_rank_test",
    "events_permutation_entropy",
    "multimodal_aspect_ratio_bucketing",
    "corpus_epoch_repetition_plan",
    "text_mrr_eval",
    "orders_variance_ratio_test",
    "orders_newey_west",
    "graph_bipartite_projection",
    "embedding_label_knn_purity",
    "cdc_batch_coalescing_report",
    "embedding_label_centroid_confusion",
    "orders_median_polish",
    "lineitem_benford_second_digit",
    "events_kde_modes",
    "embedding_sq8_distortion",
    "customers_interpurchase_cv",
    "tokenizer_oov_rate_matrix",
    "nations_correspondence_analysis",
    "cdc_gtid_gap_audit",
    "events_extremal_index",
    "multimodal_image_exposure_audit",
    "lineitem_quantile_regression_profile",
    "dedup_survivor_quality_audit",
    "nations_product_diversity",
    "cdc_dedup_window_advisor",
    "multimodal_audio_dynamic_range",
    "graph_spectral_bisection",
    "embedding_binary_sign_recall",
    "orders_fano_factor_profile",
    "corpus_cluster_aware_split",
    "customers_dormancy_reactivation",
    "orders_gini_yearly_trend",
    "nations_dissimilarity_index",
    "embedding_participation_ratio",
    "orders_diebold_mariano",
    "events_pacf_levinson",
    "graph_random_walk_restart",
    "embedding_hbos_outliers",
    "multimodal_image_sharpness",
    "corpus_sampling_ess_audit",
    "orders_crps_seasonal_eval",
    "cdc_snapshot_chunk_planner",
    "events_cramers_v_matrix",
    "multimodal_loudness_gate",
    "graph_square_count",
    "nations_trade_reciprocity",
    "lineitem_price_volume_bridge",
    "orders_net_revenue_retention",
    "events_greenwood_uniformity",
    "embedding_csls_rerank_eval",
    "orders_trading_day_adjustment",
    "embedding_ood_mahalanobis",
    "multimodal_image_noise_estimate",
    "corpus_chunk_boundary_audit",
    "orders_otif_rate",
    "graph_bowtie_decomposition",
    "events_load_duration_curve",
    "lineitem_shipment_consolidation",
]


from bireme_spark.util import timed_run  # noqa: E402

# Soft wall budget: once the harness itself has been running this
# long (external load, slower box), degrade to min-of-1 with no
# retries so the run COMPLETES and prints its JSON — a completed
# noisy measurement beats a timeout with none (BENCH_r10 rc 124).
SOFT_BUDGET_S = 1200.0
# Global retry budget: floors are SINGLE-query quiet-session mins,
# and a 401-query marathon session runs ~2x above them (JVM/GC
# state — measured r11 open, load ~0; the old per-query retry
# policy of up to +4 reps then multiplied the whole wall by ~5
# and is what actually blew the r10 driver budget, not the query
# costs). A bounded pool keeps retries for the few genuinely
# flagged queries without letting them own the wall.
RETRY_POOL = 60


def _baseline_floors() -> dict[str, float]:
    """Per-query floors from BASELINE.md's markdown table."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md")
    floors: dict[str, float] = {}
    try:
        with open(path, encoding="utf-8") as f:
            for line in f:
                parts = [p.strip() for p in line.strip().strip("|").split("|")]
                if len(parts) == 2 and parts[0] in set(HEADLINE):
                    try:
                        floors[parts[0]] = float(parts[1])
                    except ValueError:
                        pass
    except OSError:
        pass
    return floors


def _emit(timings: dict[str, float], sf_dir: str, cpus: str, partial: bool) -> None:
    """Print the result JSON and write BENCH_FULL.json.

    Two stdout lines, full-then-compact (r11): the driver's capture
    holds only a ~2000-char TAIL of the output, which a 401-entry
    per-query map cannot fit (the r5 lesson — BENCH_r05 lost the
    headline total when the big line outgrew the tail). The FULL
    contract line (with ``queries``) goes out first for any consumer
    that reads the whole stream; the compact line goes out LAST so
    the tail always ends with a parseable summary. Methodology
    (min-of-N wall to .count()) is unchanged.
    """
    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    floors = _baseline_floors()
    # Floors were measured at 32 cores on a quiet box; at any other
    # core count every query legitimately reads above them (the r10
    # 8-core run flagged 21 false "regressions") — suppress the flags
    # rather than scale them (scaling exponents are query-dependent).
    flag_floors = int(cpus) == 32
    regressions = {
        name: {"now": t, "floor": floors[name]}
        for name, t in timings.items()
        if flag_floors and name in floors and t > 2.0 * floors[name]
    }
    for name, r in regressions.items():
        print(f"# REGRESSION {name}: {r['now']}s > 2x floor {r['floor']}s", file=sys.stderr)
    full = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(cpus),
        "regressions": regressions,
    }
    compact = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": full["sf"],
        "cpus": int(cpus),
        "regressions": regressions,
        "queries_file": "BENCH_FULL.json",
    }
    if partial:
        full["partial"] = compact["partial"] = True
    if not flag_floors:
        compact["floor_flags_suppressed"] = "floors are 32-core values"
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: keep the line output
        print(f"# BENCH_FULL.json not written: {exc}", file=sys.stderr)
    print(json.dumps(full))
    print(json.dumps(compact))
    sys.stdout.flush()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from bireme_spark import registry
    from bireme_spark.session import get_spark

    spark = get_spark(
        "bireme-bench",
        # keep stderr clean for the driver's tail capture — progress
        # bars were most of the captured BENCH_r10 output
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    timings: dict[str, float] = {}

    # If the driver's budget expires it SIGTERMs us: flush whatever
    # completed as a partial result instead of dying silently
    # (BENCH_r10: rc 124, parsed null, nothing usable).
    import signal

    def _flush(signum, frame):  # pragma: no cover - driver-timeout path
        _emit(timings, sf_dir, cpus, partial=True)
        raise SystemExit(124)

    signal.signal(signal.SIGTERM, _flush)

    # warmup (codegen, parquet footer cache)
    qs["q1_pricing_summary"](spark, sf_dir).count()

    floors = _baseline_floors()
    # Repeat budget (r11): the 401-query HEADLINE x min-of-3 no longer
    # fits the driver's 32-core budget (BENCH_r10 rc 124). Floors are
    # quiet-box mins, so a run that already lands within 30% of its
    # floor cannot improve meaningfully — stop repeating it; queries
    # with no floor yet (or at non-32-core counts, where floors don't
    # apply) keep the old min-of-3. Floor sessions use
    # scripts/measure.py, not this harness.
    floors_apply = int(cpus) == 32
    retry_pool = RETRY_POOL
    t_start = time.perf_counter()
    for name in HEADLINE:
        fn = qs[name]
        over_budget = time.perf_counter() - t_start > SOFT_BUDGET_S
        floor = floors.get(name) if floors_apply else None
        if over_budget:
            reps = 1
        elif floor is None:
            reps = 3
        else:
            # min-of-2: rep 1 pays per-query codegen (cold), rep 2 is
            # the honest warm number; more reps only help under noise
            # bursts, which the bounded retry pool below covers
            reps = 2
        best = None
        n = -1
        for _ in range(reps):
            dt, n = timed_run(spark, fn, sf_dir)[:2]
            best = dt if best is None else min(best, dt)
            if floor is not None and best <= 1.3 * floor:
                break  # already at the quiet-box floor; a repeat is noise
        # min over repeats: the box is shared, so single runs carry
        # multi-second external noise; the min is the real cost.
        # Adaptive retry: a floor-flagged query gets up to 2 extra
        # attempts from the shared pool — a real regression stays
        # flagged, a noise burst (observed 2-4x with no code change)
        # usually clears.
        max_extra = 0 if over_budget else 2
        extra = 0
        while (
            floor is not None
            and best > 2.0 * floor
            and extra < max_extra
            and retry_pool > 0
        ):
            best = min(best, timed_run(spark, fn, sf_dir)[0])
            extra += 1
            retry_pool -= 1
        timings[name] = round(best, 3)
        print(
            f"# {name}: {timings[name]}s ({n} rows)"
            f" [wall {round(time.perf_counter() - t_start, 1)}]",
            file=sys.stderr,
        )

    _emit(timings, sf_dir, cpus, partial=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
