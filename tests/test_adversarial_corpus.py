"""Hostile-corpus parity regressions.

Natural corpora mask engine-divergence bug classes behind uniform row
shapes.  These tests pin the queries REPAIRED by the hostile-corpus
sweeps; ``adversarial_check.py`` at the repo root runs every query of
each corpus.  The corpora (``dicomdb_spark.parity.CORPORA``) document
the bug classes they exposed; each is written into a temp sf-dir, so
both engines read identical bytes through the real table-load path.

Documents-corpus repairs:

- text_lz76_complexity: DuckDB 1.0.0 list_reduce mis-binds lambda
  outer-column references when list lengths are ragged in a vector
  (covered in depth by test_round11_ops adversarial test).
- text_fingerprint / dedup_fingerprint / text_c4_clean: DuckDB
  array_to_string([]) is NULL while Spark array_join([]) is '' —
  token-less / zero-kept-line documents diverged.
- multimodal_frame_sample: engine slices BYTES, oracle slices CHARS;
  now self-guarding (octet_length == length filter in both engines).
- graph_assortativity / graph_transitivity_ratio: ANSI Spark threw
  DIVIDE_BY_ZERO on degenerate (zero-variance / wedge-free) graphs
  where DuckDB x/0.0 is NULL; denominators now nullif'd identically.
"""
from __future__ import annotations

import pytest

from dicomdb_spark.parity import CORPORA, canon_rows, oracle_con
from dicomdb_spark.registry._core import ORACLES, QUERIES

REPAIRED = [
    "text_fingerprint",
    "dedup_fingerprint",
    "text_c4_clean",
    "multimodal_frame_sample",
    "graph_assortativity",
    "graph_transitivity_ratio",
    "text_lz76_complexity",
    # r13 null-probe fixes (NULL text/lang/n_chars rows): symmetric
    # exclusion/propagation in both engines
    "text_lang_id", "text_lang_id_ngram", "text_repetition",
    "multimodal_decode", "multimodal_decode_real",
    "multimodal_audio_meta", "multimodal_flac_meta",
    "multimodal_container_stats", "corpus_weighted_sample",
    "ml_decision_stump", "corpus_curriculum_phases",
    "dedup_osa_distance", "text_lcs_length",
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """``corpus(name, ...)`` -> (sf_dir, oracle connection) holding those
    corpora, written once per module."""
    made = {}

    def get(*names):
        if names not in made:
            sf_dir = str(tmp_path_factory.mktemp("_".join(names)))
            tables = [t for n in names for t in CORPORA[n](sf_dir)]
            made[names] = (sf_dir, oracle_con(sf_dir, tables))
        return made[names]

    return get


def _check(spark, sf_dir, con, name):
    sdf = QUERIES[name](spark, sf_dir)
    s = canon_rows([tuple(r) for r in sdf.collect()], sdf.columns)
    res = con.execute(ORACLES[name])
    d = canon_rows(res.fetchall(), [c[0] for c in res.description])
    assert s == d, f"{name}: {len(s)} spark rows vs {len(d)} oracle rows"
    return s


@pytest.mark.parametrize("name", REPAIRED)
def test_adversarial_parity(spark, corpus, name):
    s = _check(spark, *corpus("documents"), name)
    assert len(s) > 0 or name in ("dedup_fingerprint",)


# ---------------------------------------------------------------------------
# Events-corpus repairs: missing event-type filter, negative-residue
# round trip, DECIMAL 1-ULP drift, ANSI divide-by-zero on degenerate
# groups, int64-headroom moment kernels and NULL ordering.
# ---------------------------------------------------------------------------

EVENTS_REPAIRED = [
    "cdc_last_writer_state",   # missing event-type filter in the plan
    "f5_ta_parse",             # negative-residue duration round trip
    "a_wilson_ci",             # DECIMAL z*z 1-ULP drift in the oracle
    "a_ab_test_zscore", "a_corr_matrix", "w_autocorrelation",
    "a_runs_test", "w_zscore_peer_loo", "a_grubbs_outlier",
    "a_odds_ratio", "w_sharpe_sortino", "w_ulcer_index", "w_paa_sax",
    "a_spc_control_chart", "ops_capacity_forecast", "a_weekend_effect",
    "w_seasonality_strength", "w_pacf_lag2", "a_cochran_armitage",
    "w_cpk_process_capability", "w_holt_linear_forecast",
    # r13 mean-shift retrofits: the four former int64-headroom
    # carve-outs — a single |value| ~ 1e5 row (the 'extreme' series)
    # used to overflow the raw power sums; they now compute exactly on
    # this corpus and must stay row-identical to their oracles
    "a_skew_kurtosis", "a_jarque_bera", "w_interarrival_stats",
    "a_interarrival_mixture_mom",
    # r13 null-probe fixes: NULL values in the nullmix series used to
    # shift rank/median/bucket selections (Spark ASC = NULLS FIRST vs
    # DuckDB ASC = NULLS LAST), leak 'null' text through
    # format_string, diverge count(*) vs count(col), and crash the P2
    # fold — each now excludes/propagates NULL identically
    "a4_min_max_by", "a_salted_hot_agg", "a_mad_outliers",
    "a_winsorized_mean", "sketch_tdigest_quantiles", "a_bh_step_up",
    "a_median_polish", "a_benjamini_yekutieli", "a_bartels_rank_test",
    "a_siegel_tukey", "sketch_p2_quantile",
]


@pytest.mark.parametrize("name", EVENTS_REPAIRED)
def test_adversarial_events_parity(spark, corpus, name):
    _check(spark, *corpus("events"), name)


# ---------------------------------------------------------------------------
# Embeddings-corpus repairs: duplicate k-means SEEDS (vec_id < 8 holds
# identical pairs, so round-0 clusters empty — the case that exposed
# cid renumbering) plus zero-norm vectors for every cosine path.
# ---------------------------------------------------------------------------

EMB_REPAIRED = [
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk",
    "dedup_embedding_cosine", "ann_ivf_trained_topk",
    "dedup_semantic_kmeans", "ann_lsh_multiprobe_topk",
    "corpus_semantic_dedup_pipeline", "ann_recall_eval",
    "emb_random_projection_jl", "emb_norm_outliers", "emb_cosine_hist",
    "ann_metric_agreement",
    # r13 null-probe fixes (NULL embedding / NULL label rows)
    "ann_lsh_buckets", "ann_pq_topk", "ann_ivf_pq_topk",
    "ann_mips_topk", "ml_roc_auc", "ml_average_precision",
]


@pytest.mark.parametrize("name", EMB_REPAIRED)
def test_adversarial_embeddings_parity(spark, corpus, name):
    _check(spark, *corpus("embeddings"), name)


# TPC-H-corpus repairs: zero-quantity lineitems divided by l_quantity.
@pytest.mark.parametrize("name", ["tpch_q2_shape", "a_price_elasticity_ols"])
def test_adversarial_tpch_parity(spark, corpus, name):
    _check(spark, *corpus("tpch"), name)


# Cross-family (documents + embeddings) — completes adversarial
# coverage of all 521 registry queries across the four corpora.
@pytest.mark.parametrize("name", ["ann_rerank_topk", "ml_knn_classify"])
def test_adversarial_cross_parity(spark, corpus, name):
    _check(spark, *corpus("documents", "embeddings"), name)
