#!/usr/bin/env python
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON line (suite total + top-10 slowest queries) as the
LAST stdout line — the driver captures only a stdout tail, and the r2
full 60-query line outgrew it (BENCH_r02.json parsed: null). Full
per-query detail goes to BENCH_DETAIL.json at the repo root.

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect), so timings reflect the distributed plan, not
driver-side transfer. Per query: one untimed warmup, then min of
$SPARK_GRAFT_BENCH_RUNS (default 2) timed runs — the steady-state time.

``session`` and ``time_query`` are the one measurement path: the tools
in scripts/ import them, so every timing shares bench's session confs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402
from aws_healthcare_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative, scale-sensitive subset of the registry: the reference
# pipeline, heavy aggregation, star joins, windows, as-of, streaming,
# and the LLM-data operators.
HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q3_shipping_priority",
    "join_brand_supplier_volume",
    "left_join_order_counts",
    "agg_distinct_suppliers_per_flag",
    "window_lag_order_deltas",
    "window_running_supplier_revenue",
    "window_topk_parts_per_brand",
    "asof_purchase_last_click",
    "sessionize_user_events",
    "streaming_hourly_counts",
    "json_events_props",
    "ref_ingest_roundtrip",
    "text_fingerprint_clusters",
    "text_quality_scores",
    "dedup_minhash_lsh_pairs",
    "sim_bruteforce_topk",
    "q6_forecast_revenue",
    "pipeline_training_data_prep",
    "q7_nation_trade_pairs",
    "grouping_sets_explicit",
    "sim_ivf_ann_topk",
    "dedup_ngram_jaccard_pairs",
    "text_contamination_check",
    "dedup_passage_level",
    "scd2_customer_balance_history",
    "q18_large_volume_customers",
    "pipeline_ffd_packing",
    "events_cohort_retention",
    "text_pmi_bigrams",
    "fuzzy_name_matches",
    "graph_pagerank_nations",
    "money_allocation_largest_remainder",
    "pipeline_token_budget_selection",
    "top_event_paths",
    "anomaly_rolling_zscore",
    "q21_sole_late_supplier",
    "sim_pq_adc_topk",
    "text_pii_redaction",
    "layout_zorder_box_query",
    "q20_shaped_dominant_supplier",
    "customer_purchase_streaks",
    "streaming_scd2_upsert",
    "attribution_linear_multitouch",
    "graph_triangle_count",
    "pipeline_document_chunking",
    "sampling_weighted_reservoir",
    "text_gopher_filters",
    "events_time_weighted_value",
    "concurrency_sweepline_daily",
    "agg_bitmap_distinct",
    "exact_median_selection",
    "basket_association_rules",
    "events_growth_accounting",
    "interval_join_campaign_orders",
    "audit_distribution_drift",
    "approx_theta_set_algebra",
    "pipeline_training_export_e2e",
    "multimodal_chunk_dedup",
    # round 3 additions
    "search_bm25_topk",
    "pipeline_source_mixing_weights",
    "events_ewma_daily_value",
    "pipeline_length_bucket_padding",
    "sim_sq_int8_topk",
    "orders_running_total_distributed",
    "pipeline_incremental_dedup",
    "format_fixed_width_ingest",
    "pipeline_corpus_card",
    "token_simpson_diversity_by_lang",
    # round 4 additions: the heavy/iterative wave 30-37 queries
    "emb_knn_label_accuracy",
    "graph_kcore_rounds",
    "sql_recursive_month_spine",
    "sql_lateral_topn_per_nation",
    "orders_cohort_ltv_triangle",
    "dedup_method_agreement",
    "text_vocab_growth_curve",
    "events_burstiness_index",
    # round 5 additions: wave 40
    "emb_kmeans_lloyd_rounds",
    "text_bpe_merge_rounds",
    "multimodal_phash_dedup",
    "join_salted_skew_equivalence",
    "events_autocorrelation_daily",
    "trend_mann_kendall_monthly",
    "privacy_k_anonymity_audit",
    "sql_pivot_quarterly_revenue",
    "orders_cum_distinct_customers",
    # round 5 additions: wave 41
    "stat_ks_two_sample",
    "emb_triplet_margin_audit",
    "text_rake_keyphrases",
    "multimodal_audio_frame_energy",
    # round 5 additions: wave 42
    "search_trigram_fuzzy_parts",
    "orders_backlog_daily",
    "emb_cosine_pair_histogram",
    "join_bucketed_colocated",
    "text_hashing_trick_collisions",
    # round 5 additions: wave 44
    "pipeline_bpe_tokenize_apply",
    "events_watermark_lateness_profile",
    "streaming_token_bucket_quota",
    # round 5 additions: wave 45
    "format_csv_dialect_battery",
    "dedup_minhash_estimator_error",
    "lakehouse_time_travel_merge",
    "lakehouse_cdc_changefeed",
    "dedup_threshold_yield_curve",
    # round 5 additions: wave 48
    "sql_nulls_ordering_battery",
    "agg_mode_deterministic",
    "format_csv_malformed_modes",
    # round 5 additions: wave 49
    "scd2_point_in_time_join",
    "emb_mips_vs_cosine_divergence",
    "text_stopword_discovery",
    # round 5 additions: wave 50
    "graph_clustering_coefficient",
    "multimodal_frame_dedup",
    # round 5 additions: wave 51
    "text_ngram_novelty_rate",
    "time_fiscal_calendar_rollup",
"graph_bfs_reachability_khop",
    "geo_grid_radius_join",
    "events_cusum_changepoint",
    "time_business_day_sla",
    "search_phrase_positions",
    "privacy_dp_geometric_counts",
    "inventory_capped_running_balance",
    "pipeline_dataset_shard_manifest",
    "emb_mmr_diversified_topk",
    "privacy_t_closeness_emd",
    "view_incremental_join_maintenance",
    "fairness_selection_rate_audit",
    "revenue_recognition_schedule",
    "fd_discovery_audit",
    "layout_zonemap_skipping_audit",
    "sim_ndcg_retrieval_eval",
    "survival_km_hazard_table",
    "basket_apriori_triples",
    "inventory_fifo_lot_valuation",
    "forecast_conformal_interval_audit",
    "finance_price_volume_mix",
    "slo_error_budget_burn",
    "trend_theil_sen_slope",
    "corpus_drift_idf_shift",
    "scheduling_weighted_interval_dp",
    "text_hapax_ratio_by_lang",
    "text_encoding_byte_audit",
    "sampling_neyman_allocation",
    "graph_katz_centrality_integer",
    "multimodal_audio_zero_crossings",
    "timeseries_haar_wavelet_energy",
    "selection_greedy_max_coverage",
    "stats_simpsons_paradox_scan",
    "stats_exact_raw_moments",
    "audit_merkle_month_digests",
    "isotonic_regression_exact",
    "layout_prefix_compression_audit",
    "cache_lru_hit_rate",
    "quality_expectation_suite",
    "cdc_log_compaction",
    "attribution_shapley_exact",
    "events_weekday_hour_heatmap",
    "approx_f2_moment_sketch",
    "audit_join_fanout_estimates",
    "serving_hierarchical_range_sums",
    "orders_priority_mix_shift",
    "graph_mst_boruvka",
    "dist_consistent_hash_rebalance",
    "dist_rendezvous_hash_rebalance",
    "stat_kruskal_wallis_ranksums",
    "market_concentration_cr4",
    "timeseries_sax_motifs",
    "search_postings_gap_stats",
    "pipeline_filter_attrition_funnel",
    "events_repeat_rate_7d",
    "ml_auc_feature_screen",
    "ml_target_encoding_loo",
    "sim_matryoshka_prefix_recall",
    "graph_modularity_nations",
    "experiment_sprt_daily_replay",
    "ml_calibration_reliability_bins",
    "ml_negative_sampling_audit",
    "audit_price_round_number_bias",
    "text_skipgram_pairs",
    "anomaly_hampel_filter_daily",
    "bandit_epsilon_greedy_replay",
    "compression_rle_economics",
    "geo_dbscan_grid_clusters",
    "timeseries_rolling_correlation",
    "alloc_maxmin_fair_share",
    "layout_hilbert_vs_zorder_locality",
    "regression_ransac_deterministic",
    "layout_dictionary_encoding_economics",
    "encoding_huffman_5symbol_exact",
    "eval_topk_stability_splithalf",
    "attribution_position_based",
    "emb_nearest_centroid_accuracy",
    "alert_hysteresis_daily",
    "ml_gain_chart_deciles",
    "forecast_backtest_naive_vs_seasonal",
    "stat_quantile_mapping_transfer",
    "search_autocomplete_prefix_topk",
    "privacy_l_diversity_audit",
    "repair_mode_imputation_accuracy",
    "multimodal_video_scene_cuts",
    "ml_annotator_agreement_kappa",
    "dedup_cross_source_matrix",
    "graph_sssp_khop_cheapest",
    "audience_overlap_matrix",
    "supply_bullwhip_variance_ratio",
    "queueing_littles_law_audit",
    "inventory_reorder_point_replay",
    "auction_second_price_clearing",
    "scheduling_knapsack_exact",
    "emb_knn_distance_outliers",
    "ml_model_scorecard",
    "pipeline_refinery_capstone_v2",
    "asof_nearest_purchase_click",
    "multimodal_audio_vad_segments",
    "audit_duplicate_invoice_candidates",
    "emb_fisher_separation_ratio",
    "fd_inclusion_dependency_discovery",
    "forecast_croston_intermittent",
    "stat_runs_test_daily",
    "dq_freshness_staleness_audit",
    "timeseries_best_split_changepoint",
    "sampling_design_error_comparison",
    "events_circular_hour_stats",
    "graph_degree_assortativity",
    "approx_cms_count_estimates",
    "stats_ndv_correlation_audit",
    "experiment_cuped_variance_reduction",
    "geo_point_in_polygon_winding",
    "ml_gini_stump_induction",
    "stats_benjamini_hochberg_fdr",
    "stats_bootstrap_ci_deterministic",
    "ml_qini_uplift_deciles",
    "dedup_containment_asymmetric",
    "ml_permutation_feature_importance",
    "graph_betweenness_nations",
    "forecast_pinball_loss_eval",
    "privacy_randomized_response_estimate",
    "stats_histogram_selectivity_audit",
    "events_peak_prominence_daily",
    "events_heavy_hitters_mg_replay",
    "forecast_holt_linear_replay",
    "experiment_ipw_confounder_correction",
    "timeseries_dtw_monthly",
    "layout_delta_varint_economics",
    "ml_roc_threshold_sweep",
    "inventory_eoq_batch_sizing",
    "stat_mood_dispersion_test",
    "ops_erlang_b_blocking",
    "multimodal_audio_pitch_autocorr",
    "pipeline_dataloader_shuffle_audit",
    "linkage_fellegi_sunter_scores",
    "events_markov_stationary_power",
    "stat_exact_permutation_pvalue",
    "text_burrows_delta_stylometry",
    "quality_shewhart_control_chart",
    "graph_eccentricity_diameter",
    "inventory_newsvendor_quantile",
    "experiment_srm_guardrail",
    "stats_jackknife_ratio_variance",
    "ml_evalset_sizing_curve",
    "ml_average_precision_exact",
    "ops_cron_schedule_expansion",
    "ml_mcnemar_paired_classifiers",
    "serving_decayed_leaderboard",
    "timeseries_kadane_extremes",
    "orders_abc_xyz_classification",
    "graph_jaccard_link_prediction",
    "events_poisson_dispersion_test",
    "streaming_windowed_topk_types",
    "ops_kingman_vut_approximation",
    "optimizer_join_order_cost_audit",
    "customer_value_tier_migration",
    "emb_jl_projection_distortion",
    "ops_incident_mttr_stats",
    "stat_spearman_rank_correlation",
    "sql_not_in_null_trap_battery",
    "finance_net_dollar_retention",
    "stats_cusum_arl_calibration",
    "ml_kfold_cv_accuracy",
    "graph_personalized_pagerank",
    "finance_arc_price_elasticity",
    "geo_getis_ord_hotspots",
    "ml_brier_murphy_decomposition",
    "slo_multiwindow_burn_alerts",
    "search_rrf_rank_fusion",
    "layout_sort_order_rle_bakeoff",
    "dq_primary_key_violation_audit",
    "sql_integer_division_semantics_battery",
    "approx_hdr_histogram_quantile_audit",
    "search_rbo_rank_overlap",
    "experiment_mde_power_analysis",
    "layout_codec_chooser",
    "fairness_equalized_odds_audit",
    "dedup_shard_strategy_audit",
    "ml_cost_optimal_threshold",
    "events_session_type_lift",
    "survival_logrank_test",
    "interval_allen_census",
    "alloc_apportionment_methods",
    "graph_dag_critical_path",
    "attribution_markov_removal",
    "layout_learned_index_epsilon",
    "cf_item_item_topk",
    "ml_naive_bayes_exact_argmax",
    "data_shapley_knn_exact",
    "rank_kendall_tau_nations",
    "causal_diff_in_differences",
    "linkage_phonetic_blocking",
    "match_stable_assignment",
    "dq_luhn_check_digit_audit",
    "sql_relational_division",
    "time_iso_week_battery",
    "dq_foreign_key_inference",
    "causal_coarsened_exact_matching",
    "graph_functional_cycle_structure",
    "regression_ols_exact",
    "search_prf_query_expansion",
    "cf_recommendation_coverage",
    "ops_littles_law_identity",
    "stats_ipf_raking",
    "process_trace_variants_conformance",
    "queue_lindley_wait_replay",
    "routing_tsp_nn_2opt",
    "finance_fx_triangulation_audit",
    "election_irv_rounds",
    "election_voting_rules_compared",
    "ml_capstone_nb_threshold_fairness",
    "layout_range_partition_balance",
    "optimizer_independence_qerror",
    "geo_closest_pair_pernation",
    "changepoint_two_segment_sse",
    "inequality_gini_lorenz",
    "text_kwic_concordance",
    "graph_hits_bipartite_counts",
    "sampling_neyman_sd_allocation",
    "seq_lis_per_customer",
    "rank_wilson_lower_bound",
    "ml_adaboost_two_round_stumps",
    "time_t2_settlement_battery",
    "approx_hll_register_audit",
    "layout_compaction_coalesce_plan",
    "text_zipf_bigram_buckets",
    "finance_vwap_divergence",
    "dq_constraint_mining_audit",
    "stats_median_of_means",
    "sql_null_ordering_battery",
    "sec_impossible_travel_audit",
    "scd_aswas_vs_asis_revenue",
    "events_dau_mau_stickiness",
    "lakehouse_snapshot_diff_audit",
    "emb_int8_quantization_error",
    "finance_price_volume_bridge",
    "search_phrase_positional_index",
    "storage_delta_of_delta_gorilla",
    "ops_otif_fill_rate",
    "causal_rdd_quantity_cutoff",
    "time_fiscal_445_calendar",
    "graph_two_hop_reach_panel",
    "finance_rounding_mode_battery",
    "sampling_systematic_vs_hash",
    "events_markov_homogeneity",
    "sql_decorrelation_equivalence",
    "emb_fisher_label_separation",
    "audit_event_hash_chain",
    "ml_nb_learning_curve",
    "audit_duplicate_payment_detector",
    "privacy_generalization_ladder",
    "sql_range_vs_rows_frames",
    "mdm_survivorship_policy_battery",
    "ops_backoff_conformance_audit",
    "stats_effective_sample_size",
    "inventory_intermittency_quadrants",
    "graph_friendship_paradox",
    "sql_null_semantics_battery",
    "election_kemeny_rank_4",
    "opt_knapsack_density_gap",
    "risk_cvar_tail_concentration",
    "graph_rich_club_permille",
    "optimizer_predicate_order_cost",
    "inequality_hoover_index",
    "privacy_fpe_mask_audit",
    "audit_tv_distance_drift",
    "text_good_turing_mass",
    "finance_npv_irr_rate_grid",
    "sched_smith_rule_wspt",
    "dedup_shingle_size_sensitivity",
    "emb_triangle_inequality_audit",
    "supply_bullwhip_ratio",
    "privacy_erasure_blast_radius",
    "stats_grain_fallacy_audit",
    "sql_window_frame_default_trap",
    "finance_stepdown_allocation",
    "experiment_icc_design_effect",
    "inventory_demand_quantiles_counting",
    "sql_explode_outer_battery",
    "graph_triangle_sample_estimator",
    "dq_semantic_type_inference",
    "inventory_leadtime_demand_convolution",
    "finance_max_drawdown_underwater",
    "stats_median_ci_orderstat",
    "ops_incident_cooccurrence_lift",
    "time_add_months_eom_battery",
    "dq_correlation_matrix",
    "brand_rank_momentum",
    "pipeline_release_scorecard_capstone",
    "risk_block_maxima_return_level",
    "hash_truncation_collision_audit",
    "sql_full_outer_rewrite_equivalence",
    "dq_ingestion_gap_detector",
    "ml_leakage_detector_audit",
    "sales_quarter_hockey_stick",
    "ops_sla_credit_calculation",
    "supplier_composite_scorecard",
    "stats_cramer_von_mises_exact",
    "causal_quantile_treatment_effect",
    "anomaly_mahalanobis_diag_topk",
    "graph_health_card",
    "finance_order_total_reconciliation",
    "inventory_dead_stock_audit",
    "assortment_coverage_gaps",
    # round 6 additions: wave 210
    "approx_countmin_sketch_audit",
    "sketch_bloom_fpr_audit",
    "dedup_lsh_band_row_tradeoff",
    "inventory_wac_moving_average",
    "finance_amortization_schedule",
    "finance_day_count_conventions",
    "window_ntile_remainder_semantics",
    "sql_qualify_window_filter",
    "sql_grouping_id_rollup_decode",
    "pipeline_curriculum_stage_budgets",
    "pipeline_temperature_sampling_weights",
    "web_url_canonical_dedup",
    "text_boilerplate_line_removal",
    "events_sliding_window_rate_limit",
    "agg_approx_percentile_rank_guarantee",
    "emb_power_iteration_top_eigen",
    "graph_avg_neighbor_degree",
    "join_hot_cold_split_equivalence",
    "multimodal_audio_gain_normalize",
    # round 7 additions: wave 211
    "join_bloom_prefilter_equivalence",
    "approx_count_sketch_signed",
    "anomaly_hbos_bincount_topk",
    "window_ignore_nulls_battery",
    "window_percent_rank_cume_battery",
    "stat_wilcoxon_signed_rank",
    "finance_progressive_tax_brackets",
    "sched_edf_feasibility_audit",
    "dist_two_choice_load_audit",
    "eval_pass_at_k_estimator",
    "graph_resource_allocation_linkpred",
    "dq_missingness_pattern_mining",
    "seq_viterbi_integer_decode",
    "inventory_ss_policy_replay",
    "seq_lcs_monthly_baskets",
    "rank_elo_lut_replay",
    "text_textrank_keywords",
    # wave 212 (round 8)
    "election_banzhaf_power_index",
    "graph_max_clique_enumeration",
    "graph_mincut_subset_enumeration",
    "inventory_wagner_whitin_lotsize",
    "opt_secretary_rule_replay",
    "sched_wfq_virtual_finish",
    "auction_uniform_price_clearing",
    "alloc_airport_game_shapley",
    "optimizer_agm_bound_audit",
    "timeseries_sad_matrix_profile",
    "actuarial_chain_ladder_projection",
    "finance_price_index_lpf",
    "net_longest_prefix_match",
    "layout_lsm_writeamp_economics",
    "text_integer_surprisal_scores",
    "privacy_unicity_two_points",
    "search_wand_pruning_economics",
    "text_mattr_lexical_diversity",
    # wave 213 (round 9): infra components as driver-checkable outcomes
    "ref_streaming_ingest_exactly_once",
    "ref_catalog_partition_recovery",
    "ref_glob_guard_ingest_audit",
    # wave 213 (round 9): new analytics
    "text_source_divergence_chi2",
    "sched_johnson_two_machine_makespan",
    "storage_for_bitpacking_economics",
    "stat_wasserstein_1d_exact",
    "sql_skyline_pareto_frontier",
    "interval_union_coverage",
    "stats_theil_u_forecast_eval",
    "sql_percentile_cont_disc_battery",
    "alloc_water_filling_levels",
    "inventory_lifo_vs_fifo_valuation",
    "sql_arrays_zip_semantics_battery",
    "finance_wash_sale_detector",
    # wave 213b (round 9, part 3)
    "dedup_cluster_survivor_accounting",
    "net_cidr_supernet_aggregation",
    "sql_agg_filter_clause_battery",
    "text_vocab_coverage_oov",
    "search_err_cascade_metric",
    # wave-214 (round 10)
    "ref_partition_pruning_audit",
    "stats_brown_forsythe_variance",
    "forecast_holt_winters_additive",
    "quality_drift_triangular_divergence",
    "sched_interval_partitioning_depth",
    "pipeline_span_corruption_accounting",
    "sql_recursive_bom_cost_rollup",
    "stats_energy_distance_exact",
    "stat_mann_whitney_cliffs_delta",
    "stats_friedman_blocked_ranks",
    # wave-215 (round 11)
    "sched_lpt_makespan_bound",
    "stat_page_trend_test",
    "stat_cochran_q_test",
    "alloc_talmud_bankruptcy",
    "graph_harmonic_centrality",
    "stat_jonckheere_terpstra",
    "graph_bridge_edges",
    "time_easter_computus",
    "events_allan_variance",
    "dq_hamming74_ecc_audit",
]

# The 50 heaviest headline queries from the last full BENCH_DETAIL
# (round 10 close, sf0.1) — all guaranteed a warm steady-state
# measurement every round. Cold-tier timings are deflated x0.5 before
# ranking (single cold runs measure ~2-3x their steady state — the
# r9 verdict's approx_hdr 7.4 in-suite vs 2.0-2.5 isolated). Regen:
# sorted(queries, key=-time*(0.5 if tier in cold else 1))[:50].
_HOT_GUARANTEED = [
    "dedup_method_agreement",
    "graph_sssp_khop_cheapest",
    "sim_pq_adc_topk",
    "dedup_cluster_survivor_accounting",
    "pipeline_refinery_capstone_v2",
    "graph_mst_boruvka",
    "timeseries_dtw_monthly",
    "graph_clustering_coefficient",
    "basket_apriori_triples",
    "graph_dag_critical_path",
    "approx_count_sketch_signed",
    "graph_functional_cycle_structure",
    "dedup_containment_asymmetric",
    "search_prf_query_expansion",
    "emb_knn_distance_outliers",
    "dedup_minhash_lsh_pairs",
    "cache_lru_hit_rate",
    "scheduling_knapsack_exact",
    "graph_triangle_count",
    "dq_foreign_key_inference",
    "ml_capstone_nb_threshold_fairness",
    "multimodal_audio_pitch_autocorr",
    "emb_knn_label_accuracy",
    "graph_kcore_rounds",
    "layout_sort_order_rle_bakeoff",
    "revenue_recognition_schedule",
    "dedup_ngram_jaccard_pairs",
    "join_bucketed_colocated",
    "fuzzy_name_matches",
    "streaming_scd2_upsert",
    "events_markov_stationary_power",
    "dedup_threshold_yield_curve",
    "stat_mood_dispersion_test",
    "encoding_huffman_5symbol_exact",
    "dedup_cross_source_matrix",
    "stat_kruskal_wallis_ranksums",
    "graph_betweenness_nations",
    "events_heavy_hitters_mg_replay",
    "graph_eccentricity_diameter",
    "graph_personalized_pagerank",
    "ml_roc_threshold_sweep",
    "sim_ivf_ann_topk",
    "stats_histogram_selectivity_audit",
    "q1_pricing_summary",
    "streaming_token_bucket_quota",
    "approx_hdr_histogram_quantile_audit",
    "cf_recommendation_coverage",
    "dedup_shingle_size_sensitivity",
    "emb_mmr_diversified_topk",
    "ml_model_scorecard",
]


# Rotating warm core: a deterministic _CORE_SIZE-query window over
# HEADLINE, advanced by bumping _CORE_ROTATION each round, so every
# headline query gets a warm min-of-2 measurement every ~5 rounds
# without the full suite ever exceeding the wall budget.
_CORE_SIZE = 70
_CORE_ROTATION = 11  # bump per round

# Always-warm CANARY set (round 7): a FIXED, stratified 27-query panel
# (equi/bucketed/interval/fuzzy joins, windows, exact+fuzzy dedup,
# brute/IVF/PQ ANN, iterative graph, stateful streaming, wide agg,
# multi-stage capstones) that runs FIRST every round with warmup +
# min-of-N regardless of the rotation, tagged "canary" in BENCH_DETAIL
# tiers. Canaries are EXEMPT from the 80%-budget forced-cold guard
# (r8: they used to be protected only by running first; any overage
# is now counted in the summary as canary_over_budget, never silently
# degraded). This is the only set whose round-over-round per-query
# deltas are tier-stable by construction — compare r(N) vs r(N-1)
# within this tier; everything else compares within-tier only. Do NOT
# rotate or resort this list: its value is that membership never
# changes.
_CANARY = [
    "q1_pricing_summary",
    "left_join_order_counts",
    "join_brand_supplier_volume",
    "join_bucketed_colocated",
    "interval_join_campaign_orders",
    "fuzzy_name_matches",
    "top_event_paths",
    "events_ewma_daily_value",
    "window_ntile_remainder_semantics",
    "dedup_passage_level",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_method_agreement",
    "sim_bruteforce_topk",
    "sim_ivf_ann_topk",
    "sim_pq_adc_topk",
    "emb_knn_distance_outliers",
    "graph_sssp_khop_cheapest",
    "graph_mst_boruvka",
    "graph_pagerank_nations",
    "streaming_token_bucket_quota",
    "streaming_scd2_upsert",
    "dq_correlation_matrix",
    "basket_apriori_triples",
    "pipeline_refinery_capstone_v2",
    "timeseries_dtw_monthly",
    "scheduling_knapsack_exact",
]


# FIXED comparison cohort (round 12, r11 verdict item 5): the canary
# panel plus the round-10 top-10-slowest-warm set, emitted as its own
# summary key every round. The driver's prev/now comparison joins the
# top-10-slowest window, which has survivorship bias built in — a
# query that gets FASTER leaves the window and reads as churn. This
# cohort never changes membership, is always warm-measured (every
# member is in _CANARY or _HOT_GUARANTEED), and gives any round-over-
# round comparison a stable >=20-query join. Additions-only: existing
# summary keys are untouched. Do NOT rotate this list.
_COHORT = _CANARY + [
    q for q in _HOT_GUARANTEED[:10] if q not in set(_CANARY)
]


def _calibration_sec(spark, runs: int) -> tuple[float, list[float]]:
    """Host-speed probe (round 9): a FIXED synthetic shuffle-agg that
    touches no repo data — ``spark.range(3e8)`` hashed to 1M keys,
    partial-agg'd, shuffled, noop-sunk. Runs FIRST in every bench pass
    (one untimed warmup, then min-of-``runs``), so cross-round ratios
    can be normalized by relative host speed instead of requiring the
    round-8-style forensic adjudication of uniform environmental
    shifts. The workload is pinned: changing it invalidates the
    normalization, so treat this body as frozen.
    """
    from pyspark.sql import functions as F

    def build():
        return (
            spark.range(300_000_000)
            .select(
                (F.col("id") % 1_000_000).alias("k"),
                ((F.col("id") * 2654435761) % 2147483647).alias("v"),
            )
            .groupBy("k")
            .agg(
                F.sum("v").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.max("v").alias("m"),
            )
        )

    build().write.format("noop").mode("overwrite").save()  # warmup
    raw: list[float] = []
    for _ in range(max(2, runs)):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        raw.append(round(time.perf_counter() - t0, 3))
    return min(raw), raw


def session(app_name: str):
    """The one measurement session: every tool that times a query
    builds it here, so their numbers compare with bench's.

    sf0.1 parquet files are ~1-25 MB — at the default 128 MB split
    size every scan is 1 task. Small splits give the 32 local cores
    work; on a real cluster at 100 TB the default (set in session.py)
    is correct and this override would be dropped. r11 re-tuned the
    value 4 MB -> 16 MB with a measured A/B over scan-bound, CPU-
    bound (dedup/minhash — whose compute parallelism comes from
    operators/parallelism.widen, not scan splits) and multimodal
    queries: per-task overhead is ~20 ms on this host, so 4 MB
    splits taxed every scan ~-12% net; 32 MB over-coarsens
    (q5/emb_knn/audio regress). See OPTIMIZATION_r11.md.
    """
    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            # progress bars shared the driver's captured output window in
            # r2 and crowded out the result line — keep them off here
            "spark.ui.showConsoleProgress": "false",
        },
    )
    # Bounded-spine windows legitimately run unpartitioned (see
    # SCALE.md) and each emits a "WindowExec: No Partition Defined"
    # WARN — ~10 lines of noise that ate 80% of the driver's captured
    # stdout tail in r3. They carry no signal here; errors still show.
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session (JVM + parquet footer reads) outside timed region
    spark.range(1).count()
    return spark


def time_query(
    spark, name: str, sf_dir: str, runs: int, warmup: bool = True
) -> tuple[float, list[float], int]:
    """One untimed warmup (codegen + parquet footer/IO cache), then
    ``runs`` timed noop-sink runs: full materialization, no driver
    collect. Returns (min, every timed run, jobs of the min run); each
    run's jobs are counted through its own job group."""
    fn = REGISTRY[name].fn
    sc = spark.sparkContext
    if warmup:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    raw: list[float] = []
    jobs: list[int] = []
    for _ in range(runs):
        group = f"time_query:{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            raw.append(round(time.perf_counter() - t0, 3))
        finally:
            sc._jsc.clearJobGroup()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    best = min(raw)
    return best, raw, jobs[raw.index(best)]


def main() -> None:
    spark = session("bench")

    # TIERED protocol (round 6). With 400+ headline queries, warmup +
    # min-of-2 for everything (~3 executions/query) cannot fit any
    # plausible harness timeout — in round 5 a naive halfway degrade
    # left 325/419 queries measured cold, including the heavy queries
    # whose round-over-round deltas the per-round comparison actually
    # reads. Now the WARM tier — the statically-pinned 50 heaviest
    # from the last full detail file, plus a rotating core of
    # _CORE_SIZE queries so every headline query gets a steady-state
    # measurement every few rounds — runs FIRST with one untimed
    # warmup (codegen compilation + parquet footer/IO cache) then
    # SPARK_GRAFT_BENCH_RUNS timed runs (default 2, report the MIN:
    # back-to-back runs vary up to 3x on a shared box from
    # GC/scheduling noise; min-of-2 removes the one-off noise while
    # staying honest — it is a time the plan actually achieved). The
    # COLD tier (everything else) runs once, unwarmed, by design —
    # recorded per query in BENCH_DETAIL.json "tiers", never silent.
    # SPARK_GRAFT_BENCH_WARMUP=0 forces everything cold.
    #
    # Wall-clock budget: default 1200 s (raised from 900 at r10 —
    # 658+ queries put the r9 warm tier at ~670 s of executions, so
    # the 720 s guard line forced 10 warm-set queries cold and their
    # single-run times polluted the headline; the r9 run's total wall
    # was already ~1200 s and completed fine under the harness). The
    # absolute guard below degrades ANY remaining warm query to cold
    # once 80% of the budget is spent (counted as budget_forced in
    # the summary), so the run always terminates inside the budget
    # regardless of mis-estimation.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1200")
    )
    n = len(HEADLINE)
    core_lo = (_CORE_ROTATION * _CORE_SIZE) % n
    rotating = {
        HEADLINE[(core_lo + i) % n] for i in range(min(_CORE_SIZE, n))
    }
    canaries = [q for q in _CANARY if q in set(HEADLINE)]
    warm_set = (
        (set(_HOT_GUARANTEED) | rotating | set(canaries)) & set(HEADLINE)
        if warmup
        else set()
    )
    # warm tier first: if the budget guard ever fires, it sheds the
    # cold tier's single runs, not the steady-state measurements
    # canaries first (never budget-degraded), then the rest of the warm
    # tier, then the cold tier
    canary_set = set(canaries) if warmup else set()
    ordered = (
        canaries * (1 if warmup else 0)
        + [q for q in HEADLINE if q in warm_set and q not in canary_set]
        + [q for q in HEADLINE if q not in warm_set]
    )
    calibration, calibration_raw = _calibration_sec(spark, runs)
    print(f"# calibration: {calibration:.2f}s {calibration_raw}", file=sys.stderr)
    bench_t0 = time.perf_counter()
    single_run_tail = 0
    budget_forced = 0
    canary_over_budget = 0
    tiers: dict[str, str] = {}
    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    for name in ordered:
        over = (time.perf_counter() - bench_t0) > budget * 0.8
        # Canaries are EXEMPT from the forced-cold guard: the panel
        # exists for within-tier round-over-round comparison, so a
        # silently degraded canary would poison exactly the signal it
        # provides. They run first (bounded, ~27 queries), so the
        # exemption costs nothing in normal runs; under a pathological
        # tiny budget the overage is counted, never hidden.
        forced = over and name not in canary_set
        if over and name in canary_set:
            canary_over_budget += 1
        warm_q = name in warm_set and not forced
        if not warm_q:
            single_run_tail += 1
            if forced and name in warm_set:
                budget_forced += 1
        # "forced_cold" means a WARM-SET query was degraded by the budget
        # guard; by-design cold-tier queries stay "cold" regardless of
        # elapsed time (they ran exactly as planned).
        tiers[name] = (
            ("canary" if name in canary_set else "warm")
            if warm_q
            else ("forced_cold" if (forced and name in warm_set) else "cold")
        )
        timings[name], raw_runs[name], _ = time_query(
            spark, name, SF_DIR, runs if warm_q else 1, warmup=warm_q
        )
        print(f"# {name}: {timings[name]:.2f}s [{tiers[name]}]", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tiers": tiers,
        "canary": {q: timings[q] for q in canaries if q in timings},
        # every timed run (not just the min): makes in-suite noise —
        # observed up to 2-3x on this shared box — diagnosable post hoc
        "raw_runs": raw_runs,
        "calibration_sec": calibration,
        "calibration_raw": calibration_raw,
        "sf": sf_val,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # SHORT summary line, printed LAST: total + the 10 slowest queries.
    # The driver tail-captures stdout; r2's full 60-query line was too
    # long to survive the window, so the machine-readable line must be
    # compact and final.
    #
    # r9 verdict #3: the headline top-10 is WARM-MEASURED ONLY
    # (canary/warm tiers — steady-state, comparable round-over-round).
    # Cold single runs measure ~2-3x steady state and masquerade as
    # regressions if ranked alongside; they get their own annotated
    # key so nothing is hidden, just never conflated.
    warm_measured = {
        k: v for k, v in timings.items() if tiers[k] in ("canary", "warm")
    }
    cold_measured = {
        k: v for k, v in timings.items() if k not in warm_measured
    }
    top10 = dict(
        sorted(warm_measured.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    cold_top5 = {
        f"{k} [{tiers[k]}]": v
        for k, v in sorted(
            cold_measured.items(), key=lambda kv: kv[1], reverse=True
        )[:5]
    }
    summary = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": top10,
        "queries_tier": "warm-measured only (canary+warm); cold singles below",
        "cold_top5": cold_top5,
        # fixed-membership, always-warm comparison cohort (see _COHORT)
        "cohort": {q: timings[q] for q in _COHORT if q in timings},
        "sf": sf_val,
        "n_queries": len(timings),
        "warm_tier": len(timings) - single_run_tail,
        "single_run_tail": single_run_tail,
        "budget_forced": budget_forced,
        "calibration_sec": calibration,
        "canary_over_budget": canary_over_budget,
        "canary_n": len([q for q in canaries if q in timings]),
        "detail": "BENCH_DETAIL.json",
    }
    sys.stdout.flush()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
