#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Usage: python bench.py [QUERY ...]

With no names, prints ONE JSON line last:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

With names, times only those queries (same ``run_query``: min-of-3
noop writes, plus plan-build and rep-1 cold seconds) and prints one
line per query (plus the classes it compiled); no idle guard,
headline or scale tiers.

Execution is measured with the noop sink (full plan runs distributed,
no driver-side collect cost).  Queries chosen to span the engine's
plan shapes: scan+agg, multi-join, window, band self-join, LSH dedup,
vector top-k, per-row text scoring.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dicomdb_spark.plans.introspection import codegen_counters  # noqa: E402
from dicomdb_spark.registry import QUERIES  # noqa: E402
from dicomdb_spark.session import get_spark  # noqa: E402


def _stray_java_pids() -> list[int]:
    """PIDs of java processes NOT descended from this bench process.
    Called before get_spark(), so normally ANY java process is stray
    (our own JVM doesn't exist yet); the parent-chain walk keeps the
    check correct if the guard is ever re-invoked mid-run."""
    me = os.getpid()

    def ppid_of(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                parts = fh.read().rsplit(b")", 1)[-1].split()
            return int(parts[1])
        except OSError:
            return 0

    strays = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm != "java":
            continue
        p, ours = pid, False
        for _ in range(16):  # bounded ancestor walk
            p = ppid_of(p)
            if p == me:
                ours = True
                break
            if p <= 1:
                break
        if not ours:
            strays.append(pid)
    return strays


def idle_guard(max_wait_s: float = 180.0) -> dict:
    """Refuse-to-measure-under-load guard (round-10 VERDICT #3: the
    official BENCH artifact must record the IDLE number — r10 recorded
    6.80 s under ambient load vs 6.12 s idle on identical code).

    Waits up to max_wait_s for (a) zero java processes other than our
    own descendants and (b) 1-min loadavg below a threshold, then
    proceeds either way and RECORDS what it saw, so a loaded
    measurement is at least machine-flagged in the artifact."""
    # r13 VERDICT #4/#5: 8.0 let a load1-7.38 host stamp idle:true and
    # produce a phantom 41 % regression on unchanged code; 4.0 makes
    # "idle" mean idle on this 32-core box.
    thresh = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD1", "4.0"))
    if os.environ.get("SPARK_GRAFT_IDLE_GUARD", "1") == "0":
        return {"enabled": False}
    t0 = time.monotonic()
    while True:
        load1 = os.getloadavg()[0]
        strays = _stray_java_pids()
        idle = load1 < thresh and not strays
        waited = time.monotonic() - t0
        if idle or waited >= max_wait_s:
            return {
                "enabled": True,
                "idle": idle,
                "load1": round(load1, 2),
                "stray_java": len(strays),
                "waited_s": round(waited, 1),
            }
        time.sleep(5.0)

def cpu_probe() -> float:
    """Fixed-work single-core speed probe (r13 VERDICT #5): 2M chained
    md5 hashes, seconds.  Stamped into every artifact so cross-round
    comparisons can be load/host-normalized — r13's 0.71 phantom
    geomean would have been machine-explainable with this one number
    (the r13 builder measured 1.43 s / 1.82 s on its two hosts)."""
    import hashlib

    t0 = time.perf_counter()
    h = b"seed"
    for _ in range(2_000_000):
        h = hashlib.md5(h).digest()
    return round(time.perf_counter() - t0, 3)


HEADLINE = [
    "a1_dup_customer_day",
    "a2_dup_representative",
    "a3_group_counts",
    "j1_exam_series_revenue",
    "j3_time_proximity",
    "j4_pairwise_doubles",
    "w1_order_duration",
    "w2_keep_latest",
    "a9_completeness_audit",
    "s7_merge_classify",
    "t2_content_hash",
    "text_stats",
    "ann_bruteforce_topk",
    "r1_dup_resolution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "tpch_q1_shape",
    "tpch_q3_shape",
]


def run_query(
    spark, name: str, sf_dir: str, reps: int = 3, detail: dict | None = None
) -> float:
    """min-of-N execution time: the first run pays per-query codegen
    (a fixed cost irrelevant at real scale), min strips that plus GC
    noise so round-over-round numbers are comparable.  reps=3: for
    codegen-heavy plans (the 16-min-agg minhash signature) rep 2 still
    carries residual JIT — measured 4.8 / 1.3 / 1.0 s — so min-of-2
    overstates steady state by ~30 % exactly on the plans where it
    matters most.  That first-run cost is paid once per JVM only while
    the generated classes stay cached: under Spark's default 100-entry
    codegen cache a session that ran other queries in between evicted
    and recompiled them on every repeat (``session.CODEGEN_CACHE_ENTRIES``
    and PERFORMANCE.md note 5); ``detail``'s ``codegen_compiles`` /
    ``codegen_ms`` show what a query still compiles.

    Measurement-contract fix (r13 VERDICT #3, additions only): the
    DataFrame CONSTRUCTION below runs outside the write timer, and the
    checkpoint-bearing iterative queries materialize real work at
    plan-build — so when ``detail`` is passed, build time and the
    rep-1 (cold — includes any per-query persist materialization)
    write time are recorded alongside, keeping those queries
    regression-detectable.  The returned min-of-N and the headline
    "queries"/"value" definitions are UNCHANGED from r01..r13."""
    compiles0, compile_ms0 = codegen_counters(spark)
    t_build0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    build_s = time.perf_counter() - t_build0
    best = float("inf")
    cold = None
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if cold is None:
            cold = dt
        best = min(best, dt)
    if detail is not None:
        detail["build"] = round(build_s, 4)
        detail["cold"] = round(cold if cold is not None else -1.0, 4)
        compiles1, compile_ms1 = codegen_counters(spark)
        detail["codegen_compiles"] = compiles1 - compiles0
        detail["codegen_ms"] = round(compile_ms1 - compile_ms0, 1)
    # drop this query's persisted datasets before the next one: leaked
    # cache blocks from earlier queries squeeze executor storage memory
    # and fake 2-3× regressions on later CPU-bound entries (measured:
    # dedup_dup_spans 3.5 s inside a full bench run vs 1.9 s clean)
    from dicomdb_spark.llm.dedup import release_pair_caches

    release_pair_caches()
    spark.catalog.clearCache()
    return best


# scale-ratio guard: queries re-run against a key-offset replica of the
# fact tables; a wall-time ratio beyond the replica factor means the
# plan degrades super-linearly and must be fixed before it meets real
# growth.  Subset chosen to cover the shuffle shapes (agg, broadcast
# join, band self-join, window, LSH dedup, scan+agg).
SCALE_QUERIES = [
    "a1_dup_customer_day",
    "j1_exam_series_revenue",
    "j3_time_proximity",
    "w2_keep_latest",
    "dedup_minhash_lsh",
    # df-capped inverted index: replication multiplies every shingle's
    # document frequency by the factor, so the ratio proves the cap
    # bounds bucket growth (the uncapped join would scale ~factor²)
    "dedup_ngram_jaccard",
    "tpch_q1_shape",
]
SCALE_FACTOR = 5
# second tier: 10× of sf0.1 ≈ sf1 (6M-row lineitem) — large enough that
# sf0.1's single-row-group artifacts (the min_parallelism family)
# vanish, making ratios transferable to real multi-file scans
SF1_FACTOR = 10
# third tier (round 10, VERDICT r9 #3): the five WORST sf1 scalers
# re-measured at a 20× replica (≈ sf2, 12M-row lineitem).  The signal
# is the sf2/sf1 step — a 2× data step at the top tier: a plan-linear
# query steps ~2× in wall; a query whose OUTPUT grows (band self-join
# hit counts, LSH candidate pairs over replicated identical texts)
# steps more, and rows_ratio says exactly how much of the step is the
# answer growing vs the plan degrading.
SF2_FACTOR = 20
WORST_SF1_SCALERS = [
    "j3_time_proximity",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "a1_dup_customer_day",
    "j4_pairwise_doubles",
    # round-11 (VERDICT r10 #4): the remaining LLM flagships, so
    # bucket-occupancy growth — the only quadratic term in the LSH
    # plans — is measured at the top tier, not argued.  Replicated
    # identical documents make every SimHash pigeonhole block grow by
    # the factor (candidate pairs ~factor² of a small base); text_stats
    # is the pure map-side yardstick (must step ≈ the data step).
    "dedup_simhash_near",
    "text_stats",
]


def _scaled_dir(sf_dir: str, factor: int) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.environ.get(
        f"SPARK_GRAFT_SCALE_DIR_X{factor}",
        f"/tmp/dicomdb_spark_scale/{tag}_x{factor}",
    )


def scale_ratios(
    spark, sf_dir: str, factor: int
) -> tuple[dict[str, float], dict[str, dict]] | None:
    """1× vs factor× wall ratios plus per-query OUTPUT row counts, or
    None when the tier fails.

    rows_out makes output-quadratic artifacts machine-distinguishable
    from genuinely super-linear compute: a band self-join over a
    key-dense replica (j3) grows its RESULT quadratically, so its wall
    ratio legitimately exceeds the replication factor — the tell is
    rows_ratio tracking the wall ratio.  A query whose wall ratio
    exceeds factor while rows_ratio stays ≈ factor is the real
    scale-design bug."""
    try:
        from dicomdb_spark.fixtures import replicate_scaled

        scaled = _scaled_dir(sf_dir, factor)
        if not os.path.isdir(scaled):
            replicate_scaled(spark, sf_dir, scaled, factor=factor)
        ratios = {}
        rows_out: dict[str, dict] = {}
        for name in SCALE_QUERIES:
            # min-of-3: the ratio divides two small wall times, so one
            # GC pause or page-cache miss can fake a super-linear scaling
            # signal (observed: a 1.7 true ratio measured as 8.2 at
            # min-of-2 under ambient load)
            base = run_query(spark, name, sf_dir, reps=3)
            big = run_query(spark, name, scaled, reps=3)
            ratios[name] = round(big / base, 2) if base > 0 else -1.0
            nb = QUERIES[name](spark, sf_dir).count()
            ng = QUERIES[name](spark, scaled).count()
            rows_out[name] = {
                "rows_base": nb,
                "rows_scaled": ng,
                "rows_ratio": round(ng / nb, 2) if nb > 0 else -1.0,
            }
            spark.catalog.clearCache()
        return ratios, rows_out
    except Exception:  # the guard must never break the headline metric
        return None


def time_queries(names: list[str], sf_dir: str) -> None:
    """One line per named query: min-of-3 noop seconds, build, cold, and
    the classes it compiled (with their compile milliseconds)."""
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"not registered: {' '.join(unknown)}")
    spark = get_spark(app_name="dicomdb_spark_bench")
    for name in names:
        d: dict = {}
        best = run_query(spark, name, sf_dir, detail=d)
        print(
            f"{name:34s} min={best:.3f}  build={d['build']:.3f}  cold={d['cold']:.3f}"
            f"  codegen_compiles={d['codegen_compiles']}  codegen_ms={d['codegen_ms']:.1f}"
        )


def main(names: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if names:
        time_queries(names, sf_dir)
        return
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:  # non-sfN.N dir names (e.g. the 5× replicas)
        sf = -1.0
    guard = idle_guard()
    probe_s = cpu_probe()
    spark = get_spark(app_name="dicomdb_spark_bench")

    # one warm-up pass of the first query amortizes JVM/codegen startup
    run_query(spark, HEADLINE[0], sf_dir)

    per_query: dict[str, float] = {}
    per_query_extra: dict[str, dict] = {}
    total = 0.0
    build_total = 0.0
    cold_total = 0.0
    compiles_total = 0
    for name in HEADLINE:
        d: dict = {}
        dt = run_query(spark, name, sf_dir, detail=d)
        per_query[name] = round(dt, 4)
        per_query_extra[name] = d
        total += dt
        build_total += d.get("build", 0.0)
        cold_total += d.get("cold", 0.0)
        compiles_total += d["codegen_compiles"]

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "idle_guard": guard,
        "cpu_probe_s": probe_s,
        # additive honesty totals (r13 VERDICT #3): plan-build work
        # (incl. eager checkpoints) + rep-1 cold writes (incl. persist
        # materialization).  "value"/"queries" keep the r01 definition.
        "build_s": round(build_total, 4),
        "cold_s": round(cold_total, 4),
        # classes the 19 headline queries compiled after the warm-up; a
        # codegen-cache thrash shows here without a re-run
        "codegen_compiles": compiles_total,
    }
    # round-2+ operators, timed separately so "value" keeps the same
    # 19-query definition as the round-1 baseline
    extended = {}
    for name in (
        "j11_asof_join",
        "j12_range_join",
        "dedup_simhash_near",
        "dedup_ngram_containment",
        "dedup_semantic_kmeans",
        "ann_ivf_trained_topk",
        "s3_header_parse",
        "tpch_q5_shape",
        "tpch_q18_shape",
        "dedup_dup_spans",
        "text_bpe_tokens",
        "ann_rerank_topk",
        "corpus_clean",
        "corpus_pack",
        "tpch_q21_shape",
        "dedup_edit_distance",
        "text_pii_redact",
        "text_c4_clean",
        "corpus_chunk",
        "w_funnel_conversion",
        # round-3 operators
        "ann_pq_topk",
        "corpus_dsir_sample",
        "text_bigram_lm_score",
        "dedup_url_domain",
        "tpch_q8_shape",
        "tpch_q13_shape",
        "tpch_q17_shape",
        "tpch_q19_shape",
        "graph_pagerank",
        "w_anomaly_zscore",
        "sketch_kmv_distinct",
        "sketch_count_min",
        "sketch_bloom_join",
        "sketch_hist_quantiles",
        "text_bm25_topk",
        # round-5 operators
        "corpus_bpe_train",
        "corpus_dedup_pipeline",
        "sketch_hll_rolling",
        "sketch_kmv_set_ops",
        "text_gopher_rules",
        "w_attribution_linear",
        "ann_mips_topk",
        "a_mad_outliers",
        "j14_interval_overlap",
        "text_ccnet_buckets",
        "corpus_shuffle_batches",
        "ann_ivf_pq_topk",
        "a_benford_audit",
        "a_key_skew_profile",
        "layout_compaction_bins",
        "ann_lsh_multiprobe_topk",
        "sketch_cms_merge",
        "dedup_band_tuning",
        "sketch_join_size",
        "w_markov_transitions",
        "graph_triangles",
        "er_phonetic_pairs",
        "sql_dialect_portable",
        "corpus_semantic_dedup_pipeline",
        # round-6 operators
        "w_ohlc_bars",
        "w_time_weighted_avg",
        "w_concurrency_peak",
        "graph_kcore",
        "graph_cooccurrence",
        "a_profile_columns",
        "a_constraint_audit",
        "text_ngram_topk",
        "text_inverted_index",
        "corpus_split_hash",
        "emb_dim_stats",
        "emb_int8_quantize",
        # round-7 operators
        "a_corr_matrix",
        "w_cusum_drift",
        "j17_nearest_event",
        "a_market_basket",
        "text_tfidf_topterms",
        "graph_bfs_hops",
        "ann_recall_eval",
        "er_transitive_merge",
        "emb_top_pc_power",
        "emb_covariance_topk",
        "corpus_length_batching",
        "w_window_funnel",
        "w_interval_union",
        "dedup_prefix_hash",
        "a_sla_percentiles",
        "graph_modularity",
        "a_gini_skew",
        "sketch_cms_error_audit",
        "corpus_mix_rebalance",
        "text_boilerplate_ngrams",
        # round-4 operators
        "e1_import_pipeline",
        # round-5 operators
        "u4_bvec_rotation",
        "dedup_ngram_jaccard",
        # round-6 operators
        "a_chi_square",
        "w_bollinger_bands",
        "w_kadane_max_subarray",
        "text_rake_keywords",
        "ml_rocchio_classify",
        "corpus_dedup_survivorship",
        "emb_mahalanobis_diag",
        "multimodal_frame_sample",
        "a_calendar_gap_fill",
        "a_price_elasticity_ols",
        # round-10/11 real-decode + text-complexity operators
        "multimodal_decode_real",
        "multimodal_audio_meta",
        "multimodal_decode_tiff_webp",
        "multimodal_flac_meta",
        "text_lz76_complexity",
    ):
        if name in QUERIES:
            try:
                extended[name] = round(run_query(spark, name, sf_dir), 4)
            except Exception:
                extended[name] = -1.0

    # Per-query extended timings and per-query scale ratios are LARGE;
    # the driver's artifact keeps only the last 2000 bytes of stdout, so
    # they go on their OWN earlier line (round 3 lost its official
    # headline record because the single output line overflowed the
    # tail capture).  The FINAL line is the compact headline JSON and
    # must stay well under 2000 bytes.
    detail: dict = {
        "detail": "extended",
        "extended_queries": extended,
        # per-query build (DataFrame construction, incl. eager
        # checkpoint materialization), rep-1 cold write seconds (r13
        # VERDICT #3) and codegen_compiles / codegen_ms for the 19
        # headline queries
        "headline_build_cold": per_query_extra,
    }
    scale = scale_ratios(spark, sf_dir, SCALE_FACTOR)
    if scale is not None:
        ratios, rows_out = scale
        out["scale_factor"] = SCALE_FACTOR
        out["scale_max_ratio"] = max(ratios.values())
        detail["scale_ratios"] = ratios
        detail["scale_rows_out"] = rows_out
    sf1 = scale_ratios(spark, sf_dir, SF1_FACTOR)
    if sf1 is not None:
        sf1_ratios, sf1_rows = sf1
        out["sf1_factor"] = SF1_FACTOR
        out["sf1_max_ratio"] = max(sf1_ratios.values())
        detail["sf1_ratios"] = sf1_ratios
        detail["sf1_rows_out"] = sf1_rows
    # absolute sf1 tier: the full 19-query headline against the 10×
    # replica (≈ sf1 — 6M-row lineitem).  At sf0.1 the 8-second total
    # drowns round-over-round deltas in noise; the sf1 wall is the
    # number cross-round comparisons should use.  Per-query times ride
    # the detail line; only the one-number total joins the (size-
    # capped) final headline line.
    scaled = _scaled_dir(sf_dir, SF1_FACTOR)
    if os.path.isdir(scaled):
        # Per-tier idle guard (round-11 VERDICT #1): the r11
        # artifact recorded sf1 23.29 s vs 14.13 s idle on
        # identical code because the single guard ran tens of
        # minutes before this tier under ambient load.  Re-check
        # here and stamp the state (plus load1 AFTER the tier) so
        # a loaded sf1 number is machine-flagged in the artifact.
        out["idle_guard_sf1"] = idle_guard(max_wait_s=120.0)
        sf1_q: dict[str, float] = {}
        # best-of-2 passes: a transient load spike mid-pass taxes
        # several queries at once; the cross-pass per-query min
        # keeps one clean measurement each
        for _ in range(2):
            for name in HEADLINE:
                try:
                    t = run_query(spark, name, scaled, reps=2)
                    prev = sf1_q.get(name, float("inf"))
                    if prev < 0:  # failed pass 1, succeeded pass 2
                        prev = float("inf")
                    sf1_q[name] = round(min(prev, t), 4)
                except Exception:
                    sf1_q.setdefault(name, -1.0)
        out["idle_guard_sf1"]["load1_after"] = round(
            os.getloadavg()[0], 2
        )
        detail["sf1_queries"] = sf1_q
        out["sf1_value"] = round(
            sum(t for t in sf1_q.values() if t > 0), 4
        )
    # sf2 tier: worst-scaler step ratios between the 10× and 20×
    # replicas, with output rows at both tiers (growth attribution)
    try:
        from dicomdb_spark.fixtures import replicate_scaled

        d10 = _scaled_dir(sf_dir, SF1_FACTOR)
        d20 = _scaled_dir(sf_dir, SF2_FACTOR)
        if not os.path.isdir(d20):
            replicate_scaled(spark, sf_dir, d20, factor=SF2_FACTOR)
        # per-tier idle guard, same rationale as the sf1 tier
        out["idle_guard_sf2"] = idle_guard(max_wait_s=120.0)
        sf2_detail: dict[str, dict] = {}
        worst_step = 0.0
        for name in WORST_SF1_SCALERS:
            t10 = run_query(spark, name, d10, reps=2)
            t20 = run_query(spark, name, d20, reps=2)
            r10 = QUERIES[name](spark, d10).count()
            r20 = QUERIES[name](spark, d20).count()
            step = round(t20 / t10, 2) if t10 > 0 else -1.0
            worst_step = max(worst_step, step)
            sf2_detail[name] = {
                "wall_x10": round(t10, 4),
                "wall_x20": round(t20, 4),
                "wall_step": step,
                "rows_x10": r10,
                "rows_x20": r20,
                "rows_step": round(r20 / r10, 2) if r10 > 0 else -1.0,
            }
            spark.catalog.clearCache()
        out["idle_guard_sf2"]["load1_after"] = round(
            os.getloadavg()[0], 2
        )
        detail["sf2_worst_scalers"] = sf2_detail
        out["sf2_factor"] = SF2_FACTOR
        out["sf2_max_step"] = worst_step
    except Exception:  # never break the headline metric
        pass
    print(json.dumps(detail))
    line = json.dumps(out)
    assert len(line) < 1900, f"headline line too long ({len(line)} bytes)"
    print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
