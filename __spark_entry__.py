"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual engine lives in ``dicomdb_spark/``; this module only
exposes its query registry (dicomdb_spark/registry/).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dicomdb_spark.registry import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = duplicate detection with deterministic representative
    rows (SURVEY.md §7 Phase 0: A1+A2, the reference's core audit).
    """
    return QUERIES["a2_dup_representative"](spark, "/root/testdata/sf0.001")


# Queries whose code changed after their last CORRECTNESS_r{N}.json
# row.  A correctness round checks only the first 50 entries of
# ``queries()``, so these lead.  A change to a query body, or to an engine
# module a query runs, puts the query's name at the head; a name leaves
# once a newer CORRECTNESS_r{N}.json row shows it matching.
FRONT: tuple[str, ...] = (
    # oracle SQL rewritten (results unchanged): the fixed-point dot,
    # norm and squared distance as a list lambda (registry._core
    # ._sql_dot/_sql_norm/_sql_dist2) ...
    "ann_bruteforce_topk", "ann_lsh_buckets", "ann_lsh_topk",
    "ann_rerank_topk", "ann_ivf_topk", "dedup_embedding_cosine",
    "ann_ivf_trained_topk", "dedup_semantic_kmeans", "ann_pq_topk",
    "ann_mips_topk", "ann_ivf_pq_topk", "ann_lsh_multiprobe_topk",
    "corpus_semantic_dedup_pipeline", "ann_recall_eval",
    "emb_random_projection_jl", "ml_knn_classify", "ann_metric_agreement",
    # ... and the unrolled chains through registry._core._chain
    "dedup_components", "corpus_dedup_pipeline", "graph_kcore",
    "graph_bfs_hops", "er_transitive_merge", "emb_top_pc_power",
    "graph_modularity", "corpus_dedup_survivorship", "layout_hilbert_key",
    "corpus_dup_cluster_sizes", "layout_skipping_sim", "graph_ktruss_peel",
    "layout_skipping_sim_2d", "graph_harmonic_centrality",
    "graph_ktruss_fixpoint", "graph_eccentricity",
    # one fixed-point kernel (llm/similarity.fixed_sum) under every
    # dot/norm/distance UDF: the other query that reaches it
    "multimodal_ann",
    # serie-frame exam linkage in the stack kernel; by-value xlsx UDF
    "u3_stack_assembly", "e1_import_pipeline", "s4_xlsx_roundtrip",
    # NULL-row guards, lineage cuts and kernel/persist rewrites that
    # the r13/r14 rounds (first 50 of the older order) did not reach
    "a_salted_hot_agg", "a_mad_outliers", "a_winsorized_mean",
    "sketch_tdigest_quantiles", "a_bh_step_up", "a_median_polish",
    "a_benjamini_yekutieli", "a_bartels_rank_test", "w_runs_up_down",
    "text_fingerprint", "dedup_fingerprint", "text_lang_id",
    "text_lang_id_ngram", "text_repetition", "multimodal_decode",
    "multimodal_features", "multimodal_decode_real",
    "multimodal_audio_meta", "multimodal_decode_tiff_webp",
    "multimodal_flac_meta", "corpus_weighted_sample", "ml_decision_stump",
    "corpus_curriculum_phases", "dedup_osa_distance", "text_lcs_length",
    "scd2_history", "tpch_q20_shape", "ml_roc_auc", "ml_average_precision",
    "multimodal_container_stats", "dedup_dup_spans", "dedup_ngram_jaccard",
    "dedup_ngram_containment", "graph_pagerank", "graph_ppr_seeds",
    "text_textrank_weighted", "a_market_basket", "sketch_bloom_join",
    "sketch_bloom_fpr_audit", "graph_hits_unrolled", "a_theil_sen_daily",
    "a_hodges_lehmann", "a_rfm_segmentation", "dedup_lsh_s_curve",
    "dedup_prefix_jaccard", "dedup_prefix_containment",
    "er_threshold_sweep", "dedup_bbit_minhash_audit", "text_rake_keywords",
    "text_boilerplate_ngrams", "dedup_minhash_jaccard_est",
    "graph_degree_ccdf", "a_segment_migration_matrix", "graph_katz_bounded",
    "a_weighted_kappa", "text_ccnet_buckets",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2: ``FRONT``
    first, then the rest in registration order (registry/q01's
    reference-operator surface leading)."""
    out = {n: QUERIES[n] for n in FRONT}
    out.update(QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; keys missing here get a weaker rows-only check."""
    return dict(ORACLES)
