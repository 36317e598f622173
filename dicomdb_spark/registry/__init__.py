"""Query registry: every SURVEY.md §2 operator as a named, oracle-checked query.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) ->
DataFrame`` with an ANSI-SQL twin that DuckDB runs over the same
parquet tables.  The driver hash-compares the two at sf0.01
(row-count + schema + order-insensitive value hash) — so every query
here is written for *bitwise* determinism:

* double sums go through DECIMAL casts (see ``aggregates.dsum``),
* rankings always carry a unique tiebreak column,
* timestamps are TIMESTAMP_NTZ micros on both engines (io.py),
* double→int conversions use explicit ``floor`` (Spark casts truncate,
  DuckDB casts round — never rely on the implicit behavior).

This package is the mechanical split of the former 31k-line
registry.py monolith.  Chunks q01..q10 hold the @register bodies in
their original order; _core holds the shared QUERIES/ORACLES dicts and
helpers.  The loop below re-exports every module-level name so
``dicomdb_spark.registry`` presents the namespace the monolith did.
``QUERIES`` is in registration order: q01 first, q10 last.
``__spark_entry__.queries()`` puts its ``FRONT`` names first, then
this order.

Module map (position-based names; which families live where — the
split preserved the monolith's registration order, so modules group
by round, not by topic.  Counts are ``len`` of each chunk's share of
``QUERIES``, 521 in all):

* ``q01`` (107) — the SURVEY §2 reference surface: A/J/W/O/P/F/T/S/U/R
  rows (a1..t4), the source/sink roundtrips (s1..s13), plus the
  round-1 LLM flagships (dedup_*, ann_*, text_*, corpus_*,
  multimodal_*).  ``a1_dup_customer_day`` .. ``t4_set_ops``.
* ``q02`` (80) — all 20 tpch_qN_shape, the round-3/4 sketch family
  (kmv/hll/cms/bloom), dedup/corpus wave 2, f9/j12/j13/j14, scd/cdc.
  ``f9_json_extract`` .. ``w_markov_transitions``.
* ``q03`` (61) — graph wave 1 (triangles..modularity), emb_* family,
  er_*, window analytics wave (w_ema..w_window_funnel).
  ``graph_triangles`` .. ``er_blocking_recall``.
* ``q04`` (54) — corpus/dataset ops, e1_import_pipeline, the round-5/6
  exact-stats wave 1 (a_mannwhitney..a_bootstrap_ci_mean), ml wave 1.
  ``corpus_dataset_card`` .. ``a_bootstrap_ci_mean``.
* ``q05`` (63) — ml metrics (roc/calibration/confusion), financial-TA
  windows wave (w_vwap..w_seasonal_naive_mape), round-7 stats.
  ``ml_roc_auc`` .. ``w_seasonal_naive_mape``.
* ``q06`` (51) — text readability/burstiness, ops_* SLO family,
  round-8/9 stats wave (a_anova..a_kruskal_wallis).
  ``text_readability_fk`` .. ``a_kruskal_wallis``.
* ``q07`` (45) — layout/graph wave 2, survival (kaplan_meier,
  nelson_aalen, log_rank), agreement stats (fleiss/weighted kappa).
  ``layout_skipping_sim_2d`` .. ``text_sentence_dedup``.
* ``q08`` (10) — round-9 tail: overdispersion, cochran_armitage,
  ann_metric_agreement, madogram, sign/dixon.
  ``a_negbin_overdispersion`` .. ``a_dixon_q``.
* ``q09`` (43) — round-10 additions: real multimodal decode
  (PNG/GIF/BMP/JPEG/WAV), KLL/Misra-Gries, OSA/LCS, eccentricity,
  s14_orc, round-10 stats batches F-K.
  ``multimodal_decode_real`` .. ``ml_diagnostic_ratios``.
* ``q10`` (7) — round-11 additions: real TIFF/WebP decode, LZ76
  complexity, Siegel-Tukey, generalized ESD.
  ``multimodal_decode_tiff_webp`` .. ``a_generalized_esd``.
"""
from dicomdb_spark.registry import _core
from dicomdb_spark.registry import q01
from dicomdb_spark.registry import q02
from dicomdb_spark.registry import q03
from dicomdb_spark.registry import q04
from dicomdb_spark.registry import q05
from dicomdb_spark.registry import q06
from dicomdb_spark.registry import q07
from dicomdb_spark.registry import q08
from dicomdb_spark.registry import q09
from dicomdb_spark.registry import q10

for _m in (_core, q01, q02, q03, q04, q05, q06, q07, q08, q09, q10):
    globals().update(
        {k: v for k, v in vars(_m).items() if not k.startswith('__')}
    )
del _m
