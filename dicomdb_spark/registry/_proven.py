"""Driver-proven ledger + ordered_queries (window curation) — tail of the monolithic registry.py (round-10 split)."""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from dicomdb_spark.functions import scalars, text, vectors  # noqa: F401 (vectors used via llm)
from dicomdb_spark.io import load_table
from dicomdb_spark.llm import dedup as ldedup
from dicomdb_spark.llm import corpus as lcorpus
from dicomdb_spark.llm import rerank as lrerank
from dicomdb_spark.llm import similarity as lsim
from dicomdb_spark.operators import aggregates as agg
from dicomdb_spark.operators import joins as oj
from dicomdb_spark.operators import windows as ow
from dicomdb_spark.session import local_fanout
from dicomdb_spark.registry._core import QUERIES


# ---------------------------------------------------------------------------
# Driver-window ordering
# ---------------------------------------------------------------------------
# The per-round correctness checker may cap how many queries() entries it
# verifies (round 1 checked exactly the first 50 of 78).  Queries that
# already earned a green driver row in CORRECTNESS_r01.json keep that
# evidence forever, so the window is spent on entries WITHOUT a prior
# driver row: ordered_queries() lists those first (newly registered
# queries land there automatically), then the round-1-proven set in its
# original registration order.

R1_DRIVER_PROVEN: tuple[str, ...] = (
    "a1_dup_customer_day", "a1_dup_events_minute", "a2_dup_representative",
    "a3_group_counts", "a4_min_max_by", "a5_distinct", "a6_year_histogram",
    "a9_completeness_audit", "w1_order_duration", "w2_keep_latest",
    "w5_adjacent_diff", "o3_top1_per_type", "j1_exam_series_revenue",
    # j2_orphans intentionally absent: re-instantiated non-vacuously in
    # round 2, so its round-1 row no longer evidences current behavior
    "j3_time_proximity", "j4_pairwise_doubles",
    "j8_full_outer_diff", "j10_processed_anti", "s7_merge_classify",
    "p3_composite_key", "p4_float_tolerance", "f1_sanitize",
    "f2_prefix_code", "f5_ta_parse", "f4_time_arithmetic", "f8_classify",
    "t2_content_hash", "dedup_exact", "text_stats", "text_fingerprint",
    "ann_bruteforce_topk", "f6_coalesce_chain", "f3_concat_builders",
    "o1_order_limit1", "j5_fk_semi", "j6_two_key_lookup", "j7_db_fs_anti",
    "p6_like_family", "p9_guard_filter", "t3_intra_stack_dups",
    "w4_sequence_audit", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_fingerprint", "text_lang_id", "text_quality",
    "text_token_counts",
)

# Round-2 driver rows (CORRECTNESS_r02.json): 44 hash-green plus the 5
# rows-only queries (no_oracle is their best-possible check, so a window
# slot is wasted on them).  corpus_pack was red in round 2 (HUGEINT
# fetchdf coercion, fixed) and is deliberately absent so it re-enters
# the window for a fresh row.
R2_DRIVER_PROVEN: tuple[str, ...] = (
    "w3_sessionize", "w6_sessionize_gap", "j2_orphans", "t1_group_stacks",
    "dedup_components", "dedup_simhash_near", "text_bpe_tokens",
    "text_repetition", "corpus_mix", "text_pii_redact", "text_c4_clean",
    "corpus_chunk", "corpus_decontaminate", "corpus_clean",
    "ann_lsh_buckets", "ann_lsh_topk", "ann_rerank_topk",
    "r1_dup_resolution", "r6_billing_dedup", "p7_derived_filter",
    "f4_datetime_parse", "f2_eid_facturable", "o2_topk",
    "a2_seqname_catalog", "ann_ivf_topk", "dedup_embedding_cosine",
    "ann_ivf_trained_topk", "dedup_semantic_kmeans", "a_quantiles",
    "a_pivot_counts", "a_rollup_counts", "p3_machine_dispatch",
    "r2_dup_guarded", "j11_asof_join", "r10_review_flag_update",
    "scd2_history", "text_lang_id_ngram", "text_rolling_hash",
    "tpch_q1_shape", "tpch_q3_shape", "w_running_totals",
    "a_count_distinct", "t4_set_ops", "f9_json_extract",
    # s3_header_parse, u3_stack_assembly, and multimodal_decode
    # deliberately absent: upgraded from rows-only to spec oracles in
    # round 3, so they re-enter the checked window; multimodal_ann and
    # multimodal_features likewise upgraded in round 4
)

# Round-3 driver rows (CORRECTNESS_r03.json): 50/50 hash-green — the
# entire round-3 window converted.
R3_DRIVER_PROVEN: tuple[str, ...] = (
    "ann_ivf_pq_topk", "corpus_bpe_train", "corpus_dedup_pipeline",
    "sketch_hll_merge", "sketch_kmv_set_ops", "ann_mips_topk",
    "text_gopher_rules", "corpus_mv_incremental", "cdc_last_writer_state",
    "w_ema_halflife", "w_rolling_range_sum", "a_mad_outliers",
    "j14_interval_overlap", "sketch_cms_merge", "dedup_band_tuning",
    "sketch_join_size", "w_markov_transitions", "graph_triangles",
    "er_phonetic_pairs", "a_benford_audit", "sql_dialect_portable",
    "corpus_semantic_dedup_pipeline", "w_time_weighted_avg",
    "w_concurrency_peak", "graph_kcore", "a_constraint_audit",
    "text_inverted_index", "emb_int8_quantize", "j16_asof_forward",
    "a_ab_test_zscore", "emb_top_pc_power", "w_cusum_drift",
    "graph_bfs_hops", "ann_recall_eval", "emb_random_projection_jl",
    "graph_modularity", "a_abtest_cuped", "corpus_span_corruption",
    "w_window_funnel", "er_transitive_merge", "dedup_lsh_recall_eval",
    "a_corr_matrix", "w_autocorrelation", "w_weighted_median",
    "a_market_basket", "j17_nearest_event", "graph_link_predict_ra",
    "w_max_drawdown", "sketch_hll_rolling", "dedup_snapshot_delta",
)

# Round-4 driver rows (CORRECTNESS_r04.json): 50/50 hash-green — the
# entire round-4 window converted, including the six re-windowed
# spec-oracle upgrades (corpus_pack, s3_header_parse, u3_stack_assembly,
# multimodal_*) and the e1_import_pipeline composition.
R4_DRIVER_PROVEN: tuple[str, ...] = (
    "corpus_pack", "s3_header_parse", "u3_stack_assembly",
    "multimodal_decode", "multimodal_features", "multimodal_ann",
    "e1_import_pipeline", "dedup_dup_spans", "dedup_edit_distance",
    "dedup_ngram_containment", "dedup_url_domain", "ann_pq_topk",
    "corpus_dsir_sample", "text_bigram_lm_score", "graph_pagerank",
    "w_anomaly_zscore", "sketch_kmv_distinct", "sketch_hll_distinct",
    "sketch_count_min", "sketch_bloom_join", "sketch_hist_quantiles",
    "text_bm25_topk", "j12_range_join", "j13_skew_salted_join",
    "scd_point_in_time", "w_funnel_conversion", "a_cohort_retention",
    "w_rank_family", "w_forward_fill", "a_string_agg",
    "a_grouping_sets", "a_cube_counts", "a_unpivot",
    "dedup_prefix_jaccard", "dedup_prefix_containment",
    "corpus_weighted_sample", "a_salted_hot_agg", "w_retention_cohorts",
    "layout_zorder_key", "w_session_paths", "corpus_quality_funnel",
    "a_decile_lift", "a_kanonymity_risk", "w_seasonal_dow_index",
    "o6_hypothetical_rank", "w_ratio_to_report", "w_funnel_ttc",
    "text_simpson_diversity", "dedup_cross_source_matrix",
    "text_vocab_coverage",
)

# Round-5 driver rows (CORRECTNESS_r05.json): 50/50 hash-green — the
# entire round-5 window converted (all 20 remaining TPC-H shapes, the
# two VERDICT-named stragglers, and 28 beyond-reference analytics).
R5_DRIVER_PROVEN: tuple[str, ...] = (
    "tpch_q2_shape", "tpch_q4_shape", "tpch_q5_shape", "tpch_q6_shape",
    "tpch_q7_shape", "tpch_q8_shape", "tpch_q9_shape", "tpch_q10_shape",
    "tpch_q11_shape", "tpch_q12_shape", "tpch_q13_shape", "tpch_q14_shape",
    "tpch_q15_shape", "tpch_q16_shape", "tpch_q17_shape", "tpch_q18_shape",
    "tpch_q19_shape", "tpch_q20_shape", "tpch_q21_shape", "tpch_q22_shape",
    "dedup_prefix_hash", "ann_lsh_multiprobe_topk", "w_gap_islands",
    "a_mode_per_group", "o5_keyset_pagination", "w_attribution_linear",
    "text_ccnet_buckets", "corpus_shuffle_batches", "a_key_skew_profile",
    "layout_compaction_bins", "w_ohlc_bars", "graph_cooccurrence",
    "a_profile_columns", "text_ngram_topk", "corpus_split_hash",
    "emb_dim_stats", "text_tfidf_topterms", "text_boilerplate_ngrams",
    "emb_covariance_topk", "corpus_length_batching", "w_interval_union",
    "a_sla_percentiles", "a_gini_skew", "sketch_cms_error_audit",
    "corpus_mix_rebalance", "scd_bitemporal_asof", "w_hopping_windows",
    "er_blocking_recall", "corpus_dataset_card", "a_mannwhitney_u",
)

# Round-7 driver rows (CORRECTNESS_r07.json): 50/50 hash-green — the
# entire round-7 window converted (the 3 post-r6 unproven flagships
# plus 47 round-7 first-session registrations).
R7_DRIVER_PROVEN: tuple[str, ...] = (
    "layout_hilbert_key",
    # dedup_sorted_neighbor_lcp deliberately absent: its Spark plan was
    # rewritten after the r7 hash proof was recorded (85a93ab,
    # quantile_range_bucket over 7-byte prefixes), so the r7 row no
    # longer evidences HEAD code — it re-enters the window for a fresh
    # driver row (round-9 ADVICE item).
    "w_interarrival_stats", "a_kendall_tau_b", "a_spearman_rho",
    "a_cohens_d", "a_poisson_dispersion", "a_jarque_bera",
    "a_grubbs_outlier", "a_odds_ratio", "a_bootstrap_ci_mean",
    "ml_roc_auc", "ml_calibration_bins", "ml_confusion_metrics",
    "w_vwap_daily", "w_rsi_simple", "w_stochastic_k",
    "w_donchian_breakout", "w_obv_flow", "w_rolling_corr",
    "w_sharpe_sortino", "w_ulcer_index", "w_change_point_mean_shift",
    "w_watermark_late_audit", "graph_katz_bounded",
    "graph_hits_unrolled", "graph_type_overlap", "graph_truss_support",
    "text_hapax_ratio", "text_zipf_topk_ratio", "text_sentence_stats",
    "text_vocab_jaccard_sources", "text_kwic_window",
    "text_char_trigram_profile", "corpus_curriculum_phases",
    "corpus_dup_cluster_sizes", "corpus_oversample_plan",
    "ml_naive_bayes_tokens", "sketch_bloom_fpr_audit",
    "emb_norm_outliers", "emb_centroid_shift", "emb_cosine_hist",
    "emb_triplet_margin", "layout_skipping_sim", "a_freshness_lag",
    "a_segment_share_drift", "cdc_tombstone_compaction",
    "ml_birch_microclusters", "ml_kmeans_farthest_seeds",
    "ml_perceptron_batch",
)

# Round-6 driver rows (CORRECTNESS_r06.json): 50/50 hash-green — the
# entire round-6 window converted (the 29-query never-windowed backlog
# plus the 21 round-6 registrations).
R6_DRIVER_PROVEN: tuple[str, ...] = (
    "s1_scan_roundtrip", "s2_incremental_scan", "s4_xlsx_roundtrip",
    "s5_list_roundtrip", "s6_upsert_render", "s10_cfind_reconcile",
    "s11_results_harvest_roundtrip", "s12_nifti_roundtrip",
    "s13_tar_roundtrip", "u4_bvec_rotation", "graph_assortativity",
    "a_ks_test", "a_permutation_test", "a_survival_hazard",
    "ml_decision_stump", "ml_knn_classify", "graph_ppr_seeds",
    "corpus_split_leakage", "a_ab_srm_check", "w_rolling_median",
    "a_winsorized_mean", "w_streak_longest", "corpus_temperature_mix",
    "graph_edge_jaccard", "a_revenue_calendarized", "a_pareto_8020",
    "a_cohort_stickiness", "j21_best_match_join", "a_skew_kurtosis",
    "a_chi_square", "a_welch_ttest", "w_bollinger_bands",
    "w_kadane_max_subarray", "a_hhi_concentration", "sketch_ams_f2",
    "graph_degree_ccdf", "a_runs_test", "emb_mahalanobis_diag",
    "ml_rocchio_classify", "corpus_tokenizer_fertility",
    "text_rake_keywords", "o7_stratified_sample", "a_sequential_rules",
    "a_waterfall_contribution", "w_true_range_atr",
    "multimodal_frame_sample", "a_price_elasticity_ols",
    "w_zscore_peer_loo", "corpus_dedup_survivorship",
    "a_calendar_gap_fill",
)

# Round-8 driver rows (CORRECTNESS_r08.json): 50/50 hash-green — the
# entire round-8 window converted (round-7 second-session continuation
# queries, batches A–K).
R8_DRIVER_PROVEN: tuple[str, ...] = (
    "a_nps_score", "a_log2_histogram", "w_aroon",
    "sketch_tdigest_quantiles", "o8_uniform_sample_audit",
    "a_ols_two_feature", "sketch_hll_intersection", "graph_ktruss_peel",
    "w_paa_sax", "a_interarrival_mixture_mom", "a_anova_oneway",
    "a_cramers_v", "a_theil_sen_daily", "a_hodges_lehmann",
    "a_capture_recapture", "a_spc_control_chart", "a_mcnemar_test",
    "w_williams_r", "w_mfi_money_flow", "w_stochastic_d",
    "w_pivot_points", "w_overnight_gap", "w_cci",
    "w_seasonal_naive_mape", "text_readability_fk",
    "text_numeric_density", "text_ngram_novelty",
    "corpus_language_balance_t2", "corpus_chunk_overlap_audit",
    "text_term_burstiness", "graph_lcc", "emb_quantile_clip",
    "layout_range_partition_plan", "ops_slo_burn_rate",
    "ml_ridge_closed_form", "w_seasonal_decompose", "a_rfm_segmentation",
    "a_power_analysis", "w_underwater_duration", "w_volume_profile",
    "sketch_tdigest_merge", "text_source_cosine", "ops_capacity_forecast",
    "text_textrank_keywords", "a_cohort_ltv_curve",
    "dedup_minhash_jaccard_est", "a_lorenz_curve_points",
    "a_weekend_effect", "er_threshold_sweep", "a_growth_accounting",
)

# Round-9 driver rows (CORRECTNESS_r09.json): 50/50 hash-green.
# THREE of those 50 are intentionally NOT promoted, because their
# plans change in round 10 (round-9 ADVICE) and the repo's discipline
# is to re-prove any rewritten query through the driver window:
#   w_variance_ratio      — dy²/s5² sums floor-scaled to int64 (dsum)
#   graph_ktruss_fixpoint — self-certifying `converged` column added
#   w_dtw_distance        — degenerate <2-event-type guard added
R9_DRIVER_PROVEN: tuple[str, ...] = (
    "dedup_sorted_neighbor_lcp", "multimodal_payload_near_dup",
    "w_event_study", "a_did_estimator", "ml_kfold_assignment",
    "a_simpson_paradox_audit", "w_cpk_process_capability",
    "a_queueing_mm1_metrics", "dedup_lsh_s_curve",
    "graph_two_hop_reach", "scd_history_compaction",
    "w_seasonality_strength", "a_price_index_laspeyres",
    "a_abc_classification", "a_segment_migration_matrix", "a_wilson_ci",
    "graph_rich_club", "w_m4_downsample", "ops_incident_mttr",
    "a_concentration_cr4", "w_hampel_filter", "a_isotonic_pava",
    "w_page_hinkley_drift", "a_cochran_q", "a_friedman_test",
    "a_kruskal_wallis", "layout_skipping_sim_2d",
    "graph_harmonic_centrality", "sketch_dgim_window_count",
    "w_holt_linear_forecast",
    "text_textrank_weighted", "a_cliff_delta", "a_mood_median",
    "a_brown_forsythe", "a_ansari_bradley", "a_jonckheere_terpstra",
    "a_bh_step_up", "graph_local_clustering",
    "graph_transitivity_ratio", "a_tukey_fences",
    "ops_error_budget_burndown", "a_wilcoxon_signed_rank",
    "w_pacf_lag2", "ml_matthews_corr", "corpus_vocab_growth",
    "w_rescaled_range", "graph_bipartite_projection",
)

# Round-10 driver rows (CORRECTNESS_r10.json): 50/50 hash-green — the
# entire round-10 window converted (the 31 r9-wave backlog entries, the
# 3 ADVICE-driven rewrites re-proven, and the 14 round-10 flagships +
# jain/fano).
R10_DRIVER_PROVEN: tuple[str, ...] = (
    "multimodal_decode_real", "a_hoeffding_d", "sketch_kll_quantiles",
    "sketch_misra_gries", "dedup_osa_distance", "text_lcs_length",
    "multimodal_audio_meta", "graph_eccentricity", "w_renko_bricks",
    "w_zigzag_pivots", "a_benjamini_yekutieli", "a_ljung_box",
    "s14_orc_roundtrip", "a_cucconi_test", "graph_ktruss_fixpoint",
    "w_dtw_distance", "w_variance_ratio", "w_theil_u2",
    "a_gamma_somers", "text_yule_k", "w_mean_crossings",
    "ml_cohens_kappa", "a_cramer_von_mises", "dedup_bbit_minhash_audit",
    "w_dtw_banded", "ops_apdex_score", "a_mann_kendall",
    "a_durbin_watson", "w_runs_up_down", "a_median_polish",
    "o9_systematic_sample", "a_trimmed_mean", "a_bowley_skew",
    "w_ichimoku_lines", "multimodal_container_stats", "w_kaplan_meier",
    "a_l_diversity", "text_sentence_dedup", "a_negbin_overdispersion",
    "a_log_rank_test", "w_nelson_aalen", "a_cochran_armitage",
    "ann_metric_agreement", "a_fleiss_kappa", "a_weighted_kappa",
    "w_madogram", "a_sign_test", "a_dixon_q", "a_jains_fairness",
    "a_fano_factor",
)

# Round-11 driver rows (CORRECTNESS_r11.json): 50/50 hash-green — the
# entire round-11 window converted (the 27 round-10 late-batch backlog
# entries, plus the 7 round-11 registrations; the other 16 slots were
# flagship re-proves already in earlier ledgers).  With this promotion
# the cumulative driver-proven ledger is CLOSED at 521/521 distinct
# queries — zero all-time-red survivors.
R11_DRIVER_PROVEN: tuple[str, ...] = (
    "w_chande_momentum", "w_vortex_indicator", "w_ultimate_oscillator",
    "a_qn_scale", "a_chao1_richness", "a_page_trend_test",
    "text_coleman_liau", "text_gunning_fog", "a_hartley_fmax",
    "a_kendall_w", "a_cochran_c", "a_gwet_ac1", "a_cronbach_alpha",
    "a_stuart_maxwell", "a_icc_oneway", "text_chi2_keyness",
    "w_pettitt_test", "ml_average_precision", "a_partial_corr",
    "a_quade_test", "a_gini_mean_difference", "a_robust_location",
    "a_forecast_mase", "a_bartels_rank_test", "a_hl_shift",
    "graph_degree_gini", "ml_diagnostic_ratios",
    "multimodal_decode_tiff_webp", "multimodal_flac_meta",
    "multimodal_resize_audit", "text_lz76_complexity",
    "sketch_p2_quantile", "a_siegel_tukey", "a_generalized_esd",
)

DRIVER_PROVEN: tuple[str, ...] = (
    R1_DRIVER_PROVEN + R2_DRIVER_PROVEN + R3_DRIVER_PROVEN
    + R4_DRIVER_PROVEN + R5_DRIVER_PROVEN + R6_DRIVER_PROVEN
    + R7_DRIVER_PROVEN + R8_DRIVER_PROVEN + R9_DRIVER_PROVEN
    + R10_DRIVER_PROVEN + R11_DRIVER_PROVEN
)


# Unproven entries that should claim driver-window slots FIRST.
# Round-12 curation: after promoting the 34 round-11 greens to
# R11_DRIVER_PROVEN the unproven backlog is EMPTY (ledger closed at
# 521/521).  Any round-12 registrations are absent from DRIVER_PROVEN
# and therefore lead ordered_queries() automatically in registration
# order; remaining window slots fall to the proven set as flagship
# re-proves.
UNPROVEN_PRIORITY: tuple[str, ...] = ()


# Queries whose CODE changed after their latest driver CORRECTNESS row
# — "ever driver-proven" is not "proven at this HEAD" (VERDICT r12
# "What's wrong" #2), so these claim window slots ahead of the proven
# fall-through until the next driver round re-proves them.  Derived
# mechanically: `python tools_modified_queries.py <last-proven-round
# commit>` diffs the registry chunks and maps changed lines to their
# enclosing @register bodies (engine-module changes mapped by grep);
# entries that already re-proved AT the post-fix HEAD in that round's
# own window (r12: dedup_fingerprint, f5_ta_parse, text_fingerprint)
# are excluded.  Current content = the r12 adversarial-sweep guard
# fixes (diff 826252e..383649a) + the r13 mean-shift retrofits and
# ADVICE fixes; clear (or re-derive) after CORRECTNESS_r13 lands.
# Commit whose code state the most recent driver CORRECTNESS window
# proved (currently: the final round-12 engine commit, which
# CORRECTNESS_r12.json ran against).  Update this hash when promoting a
# round's driver rows into an R{N}_DRIVER_PROVEN tuple — and at the
# same time clear MODIFIED_SINCE_PROVEN / ENGINE_MODULES_ACK if every
# listed name converted.  The invariant is ENFORCED:
# tests/test_contract.py::test_modified_since_proven_fronted derives
# registry-body edits since this commit from git (working tree
# included) and fails if any touched proven query is not fronted here.
PROVEN_AT_COMMIT = "3ca1b008fc9ccbf47d3d806b1b164e1277a96017"

# Engine-module edits (llm/, functions/, operators/, sources/, ...)
# cannot be mapped to query names mechanically; acknowledge each module
# changed since PROVEN_AT_COMMIT here with fronted representative
# queries that exercise it.  The invariant test requires every changed
# dicomdb_spark/ module outside registry/q*.py (and outside this
# bookkeeping file) to appear as a key, and each listed query to be
# fronted or unproven.
ENGINE_MODULES_ACK: dict[str, tuple[str, ...]] = {
    # r13: assign_clusters now requires tagged (cid, vector) centroids;
    # r13 optimization: fused assign+norm kernel + coalesce(cid, -1)
    # non-null join key (kills the §4.4 UDF re-evaluation)
    "dicomdb_spark/llm/clustering.py": (
        "dedup_semantic_kmeans", "corpus_semantic_dedup_pipeline",
        "ann_ivf_trained_topk",
    ),
    # r13 optimization: bloom_probe is now a 1-row bitset-array
    # broadcast membership test (no explode / semi-join / join-back)
    "dicomdb_spark/functions/sketches.py": (
        "sketch_bloom_join", "sketch_bloom_fpr_audit",
    ),
    # r13 optimization: iterrows -> column zip in the zscore/cusum
    # stateful folds (guide §4.2); no registry query consumes this
    # module — covered by the streaming equivalence tests
    "dicomdb_spark/streaming/stateful.py": (),
    # r13 null-probe: min_by/max_by now skip NULL observations
    # (DuckDB arg_min/arg_max semantics)
    "dicomdb_spark/operators/aggregates.py": ("a4_min_max_by",),
    # r13 null-probe: salted_agg count supports "*" = count(*) rows
    "dicomdb_spark/operators/skew.py": ("a_salted_hot_agg",),
    # r13 null-probe: binarize/_containerize drop NULL-text docs (no
    # content -> no payload row; oracles filter identically)
    "dicomdb_spark/llm/multimodal.py": (
        "multimodal_decode", "multimodal_decode_real",
        "multimodal_audio_meta", "multimodal_frame_sample",
        "multimodal_resize_audit",
    ),
    # r13 null-probe: weighted_sample drops NULL-weight rows
    "dicomdb_spark/llm/corpus.py": ("corpus_weighted_sample",),
    # r13 null-probe: drop_null_vectors at every public entry +
    # NULL-propagating dot/norm batch UDFs; r13 optimization: fused
    # seed_cell_norm_corpus IVF coarse quantizer (one scan/Arrow hop);
    # r14: valid.all() fast path in dot/norm kernels (r13 VERDICT #3)
    # + bucket_pair_dots per-bucket pair kernel (r13 VERDICT #1)
    "dicomdb_spark/llm/similarity.py": (
        "ann_bruteforce_topk", "ann_lsh_topk", "ann_lsh_buckets",
        "ann_mips_topk", "dedup_embedding_cosine", "ann_recall_eval",
        "ann_metric_agreement", "ann_ivf_topk", "ann_ivf_pq_topk",
    ),
    # r13 null-probe: _explode_subspaces drops NULL vectors
    "dicomdb_spark/llm/pq.py": ("ann_pq_topk", "ann_ivf_pq_topk"),
    # r13 optimization: hashed posting key + in-plan pair enumeration
    # in _df_capped_pair_scores; localCheckpoint lineage truncation in
    # min_label_components; session 4: prefix-filter rank via window
    # df + persisted prefix table + hashed pair-join keys
    "dicomdb_spark/llm/dedup.py": (
        "dedup_ngram_jaccard", "dedup_ngram_containment",
        "dedup_components", "corpus_dedup_pipeline",
        "corpus_dedup_survivorship", "corpus_dup_cluster_sizes",
        "graph_modularity",
        "dedup_prefix_jaccard", "dedup_prefix_containment",
    ),
    # r14: centralizes the lineage cut — localCheckpoint by default,
    # SPARK_GRAFT_CHECKPOINT_DIR-gated reliable checkpoint() for
    # cluster deploys (r13 VERDICT #9); every former localCheckpoint
    # site now routes through transform(cut_lineage)
    "dicomdb_spark/operators/lineage.py": (
        "graph_bfs_hops", "er_transitive_merge", "graph_kcore",
        "graph_hits_unrolled", "a_rfm_segmentation",
    ),
    # r13 optimization: localCheckpoint lineage truncation in the
    # three PageRank variants' iteration loops
    "dicomdb_spark/operators/graph.py": (
        "graph_pagerank", "graph_ppr_seeds", "text_textrank_weighted",
    ),
    # r13 optimization: assemble_stacks vectorized — same key exchange
    # + in-partition sort, but ONE mapInPandas segment kernel per
    # partition instead of one Python call per stack (guide §4.2);
    # the kernel now also emits the exam linkage (EUID,
    # AcquisitionDate, first_acq_seconds) when its input carries the
    # exam key columns — six-column callers keep STACK_SCHEMA
    "dicomdb_spark/operators/stacks.py": (
        "u3_stack_assembly", "e1_import_pipeline",
    ),
    # build_serie_frame reads the linkage from the assembly kernel
    # (no min_by link aggregate, no join): one parse per consumer;
    # NULL stack keys dropped by an explicit filter before the exchange
    "dicomdb_spark/pipeline.py": ("e1_import_pipeline",),
    # registers its closures for by-value pickling (upsert writers
    # run in workers without the package on their path); no registry
    # query calls it — covered by the JDBC round-trip tests
    "dicomdb_spark/sources/jdbc.py": (),
    # same by-value registration for the xlsx reader's pandas UDF
    "dicomdb_spark/sources/xlsx.py": ("s4_xlsx_roundtrip",),
    # Python worker daemon of local sessions (stat-checked zip cache);
    # no query calls it and no plan changes
    "dicomdb_spark/worker_daemon.py": (),
    # the oracle-parity harness (DuckDB views, canons, hostile corpora)
    # that selfcheck, the sweep and the parity tests share; no registry
    # query imports it
    "dicomdb_spark/parity.py": (),
    # local[N]/shuffle-partition fallback is the process's CPU count
    # when SPARK_GRAFT_CPUS is unset; local masters select the worker
    # daemon; reliable checkpoints are cleaned; query semantics unchanged
    "dicomdb_spark/session.py": (),
    # r13 optimization: repetition_stats arrays materialized once in a
    # stacked projection (interpreted HOFs get no CSE; each dup
    # fraction re-built its shingle array per reference); lang_id /
    # lang_id_ngram winner folds rebuilt as array argmax (interpreted
    # CASE chains re-evaluated earlier levels exponentially)
    "dicomdb_spark/functions/text.py": (
        "text_repetition", "text_lang_id", "text_lang_id_ngram",
    ),
}

MODIFIED_SINCE_PROVEN: tuple[str, ...] = (
    # r13 retrofits / guard fixes first (newest code states)
    "a_skew_kurtosis", "a_jarque_bera", "w_interarrival_stats",
    "a_interarrival_mixture_mom", "w_cpk_process_capability",
    "w_seasonality_strength",
    # r12 adversarial-sweep fixes without a post-fix driver row
    "a_ab_test_zscore", "a_cochran_armitage", "a_corr_matrix",
    "a_generalized_esd", "a_grubbs_outlier", "a_odds_ratio",
    "a_price_elasticity_ols", "a_runs_test", "a_siegel_tukey",
    "a_spc_control_chart", "a_weekend_effect", "a_wilson_ci",
    "ann_ivf_topk", "ann_ivf_trained_topk", "ann_lsh_multiprobe_topk",
    "ann_lsh_topk", "ann_recall_eval", "ann_rerank_topk",
    "cdc_last_writer_state", "corpus_semantic_dedup_pipeline",
    "dedup_embedding_cosine", "dedup_semantic_kmeans",
    "emb_cosine_hist", "emb_norm_outliers", "emb_random_projection_jl",
    "graph_assortativity", "graph_transitivity_ratio",
    "ml_knn_classify", "multimodal_frame_sample",
    "multimodal_resize_audit", "ops_capacity_forecast",
    "sketch_p2_quantile", "text_c4_clean", "text_lz76_complexity",
    "tpch_q2_shape", "w_autocorrelation", "w_holt_linear_forecast",
    "w_paa_sax", "w_pacf_lag2", "w_sharpe_sortino", "w_ulcer_index",
    "w_zscore_peer_loo",
    # r13 NULL-probe fixes (appended AFTER the VERDICT-mandated set so
    # those keep the 50 window slots; these 13 spill into the r14
    # window, tracked here until each earns a post-fix driver row)
    # (a_siegel_tukey / sketch_p2_quantile / w_holt_linear_forecast
    # were also null-probe-fixed but already fronted above)
    "a4_min_max_by", "f5_ta_parse", "a_salted_hot_agg", "a_mad_outliers",
    "a_winsorized_mean", "sketch_tdigest_quantiles", "a_bh_step_up",
    "a_median_polish", "a_benjamini_yekutieli", "a_bartels_rank_test",
    # conservative span attribution: _median_polish_oracle() (edited
    # for the null fix) sits inside w_runs_up_down's derivation span
    "w_runs_up_down",
    # r13 null-probe, documents table (NULL text/lang/n_chars rows)
    "text_fingerprint", "dedup_fingerprint", "text_lang_id",
    "text_lang_id_ngram", "text_repetition", "multimodal_decode",
    "multimodal_ann", "multimodal_features", "multimodal_decode_real",
    "multimodal_audio_meta", "multimodal_decode_tiff_webp",
    "multimodal_flac_meta", "corpus_weighted_sample",
    "ml_decision_stump", "corpus_curriculum_phases",
    "dedup_osa_distance", "text_lcs_length",
    # conservative span attribution: oracle-helper edits land in the
    # preceding @register's derivation span
    "scd2_history", "tpch_q20_shape",
    # r13 null-probe, embeddings table (NULL embedding / NULL label);
    # bruteforce/mips fronted because similarity.py changed under them
    "ann_lsh_buckets", "ann_pq_topk", "ann_ivf_pq_topk",
    "ann_metric_agreement", "ml_roc_auc", "ml_average_precision",
    "ann_bruteforce_topk", "ann_mips_topk",
    # multimodal_container_stats oracle filter + dedup_dup_spans
    # (conservative span: shares the _SQL_DOCS2 helper block)
    "multimodal_container_stats", "dedup_dup_spans",
    # r13 optimization round: lineage truncation (localCheckpoint) in
    # the BFS / transitive-closure / label-propagation / PageRank
    # loops, and the hashed-posting-key pair enumeration in the
    # df-capped n-gram core — results oracle-rechecked at sf0.01 when
    # landed, fronted here for driver re-proof
    "graph_bfs_hops", "er_transitive_merge",
    "dedup_ngram_jaccard", "dedup_ngram_containment",
    "dedup_components", "corpus_dedup_pipeline",
    "corpus_dedup_survivorship", "corpus_dup_cluster_sizes",
    "graph_modularity",
    "graph_pagerank", "graph_ppr_seeds", "text_textrank_weighted",
    # r13 optimization round, second batch: fused IVF coarse quantizer,
    # fused assign+norm semantic dedup, in-plan basket pair
    # enumeration, 1-row-bitset bloom probe — all oracle-rechecked at
    # sf0.01 when landed, fronted here for driver re-proof
    "a_market_basket", "sketch_bloom_join", "sketch_bloom_fpr_audit",
    # r13 optimization round, third batch (session 3): vectorized U3
    # stack assembly — oracle-rechecked at sf0.01 when landed
    "u3_stack_assembly", "e1_import_pipeline",
    # session 3: HITS half-round localCheckpoint lineage truncation
    "graph_hits_unrolled",
    # session 3: pairwise-median numpy selection kernels (day grain)
    "a_theil_sen_daily", "a_hodges_lehmann",
    # session 3: per-pass localCheckpoint in the three quintile passes
    "a_rfm_segmentation",
    # session 3: block-tiled brute-force cosine; argmax lang folds;
    # in-plan posting pairs for the s-curve audit
    "dedup_lsh_s_curve",
    # session 4: prefix-filter rank via window df + persisted prefix +
    # hashed pair keys — oracle-rechecked at sf0.01 when landed
    "dedup_prefix_jaccard", "dedup_prefix_containment",
    # session 4: row-local array_intersect verify over semi-reduced
    # per-doc shingle arrays — oracle-rechecked at sf0.01 when landed
    "er_threshold_sweep", "dedup_bbit_minhash_audit",
    # session 4: multi-consumer persists in the RAKE phrase pipeline;
    # boilerplate df via per-doc-distinct explode + plain count
    "text_rake_keywords", "text_boilerplate_ngrams",
    # session 4: same row-local verify retrofit as er_threshold_sweep
    "dedup_minhash_jaccard_est",
    # session 3: localCheckpoint lineage truncation (per-round /
    # per-pass state) in four more multi-reference pipelines
    "graph_harmonic_centrality", "graph_degree_ccdf",
    "a_segment_migration_matrix", "graph_katz_bounded",
    # session 3: same fix for the k-core peel and the power iteration
    "graph_kcore", "emb_top_pc_power",
    # r14 optimization round: ann_lsh_topk pair scoring moved into the
    # per-bucket numpy kernel (bucket_pair_dots, in-kernel exact top-3
    # prune) — oracle-rechecked at sf0.01 + embeddings sweep 37/37
    # when landed; the remaining names are the cut_lineage mechanical
    # refactor (localCheckpoint → transform(cut_lineage), identical
    # default behaviour, reliable-checkpoint switch added)
    "a_weighted_kappa", "graph_eccentricity",
    "graph_ktruss_fixpoint", "graph_ktruss_peel",
    # r14: persist the multi-consumer scored table in the CCNet
    # tercile split (4 consumers re-ran the bigram LM pipeline) —
    # oracle-rechecked at sf0.01 when landed
    "text_ccnet_buckets",
    # sources/xlsx.py registers for by-value UDF pickling
    "s4_xlsx_roundtrip",
)


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES ordered for driver-window curation: never-proven
    entries first (UNPROVEN_PRIORITY flagships leading), then
    MODIFIED_SINCE_PROVEN (proven at an older code state — front them
    so the next window re-proves the current HEAD), then the proven
    set as flagship re-proves."""
    proven = set(DRIVER_PROVEN)
    out = {n: QUERIES[n] for n in UNPROVEN_PRIORITY if n in QUERIES and n not in proven}
    out.update({n: f for n, f in QUERIES.items() if n not in proven})
    out.update(
        {n: QUERIES[n] for n in MODIFIED_SINCE_PROVEN if n in QUERIES}
    )
    out.update({n: QUERIES[n] for n in DRIVER_PROVEN if n in QUERIES})
    return out
