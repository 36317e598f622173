"""Plan-shape regression tests: the performance contract of key queries.

These assert the *plan*, not the timing — broadcast where expected,
columns pruned, predicates pushed, no accidental cartesian products.
"""

from __future__ import annotations

import pytest

from dicomdb_spark.plans import introspection as pi
from dicomdb_spark.registry import QUERIES

SF = "/root/testdata/sf0.01"


def test_j1_broadcasts_all_dimensions(spark):
    df = QUERIES["j1_exam_series_revenue"](spark, SF)
    assert pi.count_broadcast_joins(df) == 3  # orders, customer, nation
    assert not pi.has_sort_merge_join(df)
    # lineitem scan must be pruned to the 3 referenced columns
    schemas = pi.scan_read_schemas(df)
    li = [s for s in schemas if "l_orderkey" in s][0]
    assert li.count(":") == 3, li


def test_serie_frame_parses_each_file_once(spark, tmp_path):
    # the exam linkage rides in the stack-assembly kernel: one scan,
    # one parse, one exchange — a second parse branch joined back
    # onto the stacks would double the Arrow traffic of the import
    from dicomdb_spark import pipeline as P
    from dicomdb_spark.sources.dicom import encode_minimal_dicom

    d = tmp_path / "PROTO_A" / "subj01" / "S01_mprage"
    d.mkdir(parents=True)
    for i in range(3):
        (d / f"im{i}.dic").write_bytes(
            encode_minimal_dicom(
                {
                    "SeriesInstanceUID": "1.2.3",
                    "StudyInstanceUID": "1.2",
                    "SeriesNumber": "1",
                    "InstanceNumber": str(i + 1),
                    "EchoTime": "2.5",
                    "AcquisitionDate": "20240101",
                    "AcquisitionTimeRaw": f"0900{i:02d}.000000",
                }
            )
        )
    df = P.build_serie_frame(P.extract_headers(spark, str(tmp_path)))
    plan = pi.simple_plan(df)
    assert plan.count("FileScan binaryFile") == 1, plan
    assert plan.count("MapInPandas run(") == 1, plan
    assert "Join" not in plan, plan
    assert pi.count_shuffles(df) == 1, plan


def test_p3_filters_push_into_scan(spark):
    df = QUERIES["p3_composite_key"](spark, SF)
    pushed = " ".join(pi.pushed_filters(df))
    assert "EqualTo(o_orderstatus,F)" in pushed
    assert "StringStartsWith(o_orderpriority,1)" in pushed
    # 3 projected + 3 filter columns; anything more means pruning broke
    pi.assert_max_scan_columns(df, 6)


def test_band_joins_are_not_nested_loops(spark):
    for name in (
        "j3_time_proximity",
        "j4_pairwise_doubles",
        "r6_billing_dedup",
        "dedup_simhash_near",
        "dedup_semantic_kmeans",
        "j12_range_join",
        "dedup_prefix_jaccard",
    ):
        pi.assert_no_cartesian(QUERIES[name](spark, SF))


def test_ann_topk_is_single_shuffle(spark):
    # broadcast(queries) × corpus + one shuffle for the per-query
    # window, plus the explicit min_parallelism corpus repartition
    # (local small-file fan-out) — but never a sort-merge join
    df = QUERIES["ann_bruteforce_topk"](spark, SF)
    assert pi.count_shuffles(df) <= 1, pi.simple_plan(df)
    # non-equi (query_id != neighbor_id) broadcast is a nested-loop
    # over the broadcast QUERY side — corpus side never shuffles for it
    assert "BroadcastNestedLoopJoin" in pi.formatted_plan(df)
    assert not pi.has_sort_merge_join(df)


def test_asof_join_is_single_shuffle(spark):
    # union-and-carry-forward: ONE exchange (the per-key window), no
    # join operator at all in the plan
    df = QUERIES["j11_asof_join"](spark, SF)
    plan = pi.formatted_plan(df)
    assert pi.count_shuffles(df) == 1, pi.simple_plan(df)
    assert "Join" not in plan


def test_range_join_is_equi_join(spark):
    # bucketized range join must plan as a hash equi-join, never BNLJ
    df = QUERIES["j12_range_join"](spark, SF)
    plan = pi.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_scan_only_queries_have_no_shuffle(spark):
    for name in ("t2_content_hash", "text_stats", "f1_sanitize", "p6_like_family"):
        df = QUERIES[name](spark, SF)
        assert pi.count_shuffles(df) == 0, f"{name} shuffles unexpectedly"


def test_dup_detection_single_shuffle(spark):
    # A1: one exchange for the groupBy, nothing else
    df = QUERIES["a1_dup_customer_day"](spark, SF)
    assert pi.count_shuffles(df) <= 1


def test_partitioned_write_prunes_directories(spark, tmp_path):
    # hive-partitioned layout: a partition-key filter must reach the
    # scan as a PartitionFilter (directory pruning), not a data filter
    from pyspark.sql import functions as F

    from dicomdb_spark.io import load_table, write_partitioned

    ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "events_by_day")
    write_partitioned(ev, out, ["day"], sort_cols=["user_id"])
    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = pi.formatted_plan(back)
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:80]
    n_days = ev.select("day").distinct().count()
    # pruned scan must read exactly the one matching partition
    assert back.count() == ev.filter(F.col("day") == "2024-01-05").count() > 0
    files = {r["file"] for r in
             back.withColumn("file", F.input_file_name()).select("file").collect()}
    assert all("day=2024-01-05" in f for f in files)
    assert n_days > 1


def test_rerank_payload_gather_is_broadcast(spark):
    """Stage-2 payload joins broadcast the pruned candidate set at
    this SF — but since round 6 the candidate-side hints are GONE
    (``rerank_topk(broadcast_candidates=False)`` default): a pinned
    candidate broadcast is linear in the query-workload size and OOMs
    an offline million-query rerank.  Only the bounded q-side bucket
    hint may remain pinned; the payload joins are AQE-chosen and must
    still broadcast at runtime here."""
    df = QUERIES["ann_rerank_topk"](spark, SF)
    pi.assert_no_cartesian(df)
    assert pi.pinned_hint_count(df) <= 1, pi.simple_plan(df)
    plan = pi.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, pi.simple_plan(df)
    assert "SortMergeJoin" not in pi.aqe_final_plan(df)


def test_pq_scoring_is_broadcast_no_cartesian(spark):
    """PQ ADC: the LUT must broadcast onto the code table and nothing
    may cross-join — the scale contract of llm/pq.py (the corpus side
    only ever hash-joins a constant-size table and aggregates)."""
    df = QUERIES["ann_pq_topk"](spark, SF)
    pi.assert_no_cartesian(df)
    assert pi.count_broadcast_joins(df) >= 1, pi.simple_plan(df)
    assert not pi.has_sort_merge_join(df)


def test_dsir_ratio_table_broadcasts(spark):
    """DSIR: the 64-row ratio table joins the token stream as a
    broadcast; a sort-merge join here would shuffle the whole token
    explode at corpus scale."""
    df = QUERIES["corpus_dsir_sample"](spark, SF)
    assert pi.count_broadcast_joins(df) >= 1, pi.simple_plan(df)
    assert not pi.has_sort_merge_join(df)


def test_domain_cap_single_window_shuffle(spark):
    """domain_cap is one regexp projection + one per-domain window:
    exactly one exchange (hash by domain), no join at all."""
    df = QUERIES["dedup_url_domain"](spark, SF)
    assert pi.count_shuffles(df) == 1, pi.simple_plan(df)


def test_q6_all_predicates_reach_scan(spark):
    """Q6 is the pushdown litmus: ship-date range, discount band, and
    quantity cap must all appear as pushed parquet filters, and the
    scan reads only the four referenced columns."""
    df = QUERIES["tpch_q6_shape"](spark, SF)
    pushed = " ".join(pi.pushed_filters(df))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed
    pi.assert_max_scan_columns(df, 4)
    assert pi.count_shuffles(df) <= 1


def test_q8_fact_meets_only_orders(spark):
    """Q8's 8-table tree: constant dims broadcast statically; the
    SF-scaling sides (orders↔derived-customer) are AQE-chosen — the
    STATIC plan may conservatively sort-merge them (join-output size
    estimates compound), but the runtime final plan must upgrade to
    broadcast-hash at this SF.  At 100× the same query keeps the
    shuffled join — which is the point of de-pinning."""
    df = QUERIES["tpch_q8_shape"](spark, SF)
    assert pi.count_broadcast_joins(df) >= 4, pi.simple_plan(df)
    assert "SortMergeJoin" not in pi.aqe_final_plan(df)


def test_q9_q20_broadcast_dims(spark):
    for name in ("tpch_q9_shape", "tpch_q20_shape", "tpch_q14_shape",
                 "tpch_q17_shape", "tpch_q19_shape"):
        df = QUERIES[name](spark, SF)
        assert pi.count_broadcast_joins(df) >= 1, (name, pi.simple_plan(df))
        # strategy for SF-scaling sides is AQE-chosen: assert the
        # RUNTIME plan broadcasts at this SF (static plan may SMJ)
        assert "SortMergeJoin" not in pi.aqe_final_plan(df), name


def test_bloom_probe_broadcasts_bits(spark):
    """The bloom membership test must stay a map-side broadcast: the
    bit table collapses to ONE array row that rides a broadcast
    nested-loop join (r13 optimization — the old shape exploded every
    probe ×k, semi-joined the bit rows, re-aggregated and joined the
    flags back).  A sort-merge membership join would shuffle the probe
    stream and defeat the pre-filter's purpose."""
    df = QUERIES["sketch_bloom_join"](spark, SF)
    plan = pi.formatted_plan(df)
    # the single-row bitset broadcast (BNLJ) + the truth-side equi-join
    assert "BroadcastNestedLoopJoin" in plan, pi.simple_plan(df)
    assert pi.count_broadcast_joins(df) >= 1, pi.simple_plan(df)
    assert not pi.has_sort_merge_join(df)
    # the probe path computes membership as an array_contains
    # projection (no per-probe explode/semi-join/count round trip)
    assert "array_contains" in plan, pi.simple_plan(df)


def test_round5_joins_are_not_nested_loops(spark):
    """New bucket-grid joins must stay equi-joins: attribution's range
    join, the interval-overlap grid, multiprobe LSH, snapshot-delta
    anti-join, and the composed dedup pipeline."""
    for name in (
        "w_attribution_linear",
        "j14_interval_overlap",
        "ann_lsh_multiprobe_topk",
        "dedup_snapshot_delta",
        "corpus_dedup_pipeline",
    ):
        pi.assert_no_cartesian(QUERIES[name](spark, SF))


def test_mips_corpus_never_shuffles(spark):
    """MIPS mirrors the cosine baseline contract: broadcast queries,
    one window shuffle, no sort-merge join."""
    df = QUERIES["ann_mips_topk"](spark, SF)
    assert pi.count_shuffles(df) <= 1, pi.simple_plan(df)
    assert "BroadcastNestedLoopJoin" in pi.formatted_plan(df)
    assert not pi.has_sort_merge_join(df)


def test_hll_merge_register_rollup_is_small(spark):
    """The region rollup joins only broadcast dims (nation both
    times); no sort-merge join anywhere in the sketch path."""
    df = QUERIES["sketch_hll_merge"](spark, SF)
    assert not pi.has_sort_merge_join(df)
    assert pi.count_broadcast_joins(df) >= 2


def test_keyset_pagination_pushes_cursor(spark):
    """The tuple-compare cursor must reach the parquet scan as
    pushable filters (the whole point of keyset over OFFSET)."""
    df = QUERIES["o5_keyset_pagination"](spark, SF)
    pushed = " ".join(pi.pushed_filters(df))
    assert "o_orderdate" in pushed, pushed


def test_bpe_round_state_is_vocab_sized(spark):
    """BPE training never explodes the corpus after round 0: each
    round's chosen merge reaches the rewrite as a BROADCAST 1-row
    side (a broadcast nested-loop cross of exactly one row — the
    declarative argmax), and nothing sort-merge joins."""
    df = QUERIES["corpus_bpe_train"](spark, SF)
    plan = pi.formatted_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # one per rewrite
    assert not pi.has_sort_merge_join(df)


def test_ivf_pq_adc_is_broadcast_join(spark):
    """IVF-PQ scoring must join the code table against a BROADCAST
    LUT (the cell key folded into the equi-join) and never build a
    cartesian candidate set.  (The cell/code weld joins ARE shuffled
    — they are corpus-sized on both sides, which is correct.)"""
    df = QUERIES["ann_ivf_pq_topk"](spark, SF)
    assert pi.count_broadcast_joins(df) >= 1
    # the only nested-loop joins allowed are the constant-sized
    # broadcast centroid crosses (8 rows each): coarse assignment is
    # re-derived on the code and LUT branches (2) and PQ training
    # scores against broadcast codebook seeds (2) — all bounded sides
    assert pi.formatted_plan(df).count("BroadcastNestedLoopJoin") <= 4


def test_market_basket_pair_join_no_cartesian(spark):
    """The within-basket pair join is an equi-join on orderkey; the
    only nested-loop join allowed is the 1-row basket-total cross."""
    df = QUERIES["a_market_basket"](spark, SF)
    assert pi.count_nested_loop_joins(df) <= 1
    assert pi.count_broadcast_joins(df) >= 2  # both item-count sides


def test_nearest_event_single_sort_per_direction(spark):
    """The tag-union nearest join must never self-join events: no
    nested loops, and the two direction windows share the (user, t)
    sort — plan has no join at all beyond window exchanges."""
    df = QUERIES["j17_nearest_event"](spark, SF)
    assert pi.count_nested_loop_joins(df) == 0
    assert not pi.has_sort_merge_join(df)
    assert pi.count_shuffles(df) <= 2, pi.simple_plan(df)


def test_tfidf_df_table_broadcasts(spark):
    """The vocabulary-sized df table and the 1-row N both broadcast
    back onto tf — the fact-side (doc, term) rows never reshuffle for
    the joins."""
    df = QUERIES["text_tfidf_topterms"](spark, SF)
    assert pi.count_broadcast_joins(df) >= 1
    assert pi.count_nested_loop_joins(df) <= 1


def test_power_iteration_bounded_nested_loops(spark):
    """Each of the 4 power-iteration rounds crosses only the 1-row
    ∞-norm; the direction vector itself broadcasts every round."""
    # start from a cache-free catalog: cached lineage from a prior test
    # renders through InMemoryTableScan branches and doubles the
    # rendered join count, making the assertion order-dependent
    spark.catalog.clearCache()
    df = QUERIES["emb_top_pc_power"](spark, SF)
    # r13 optimization: each round localCheckpoints its 64-row state,
    # so the per-round 1-row ∞-norm crosses execute at plan build and
    # the CONSUMER plan is a flat scan of the final direction — zero
    # rendered joins and zero exchanges (lineage truncated).  The
    # 1-row crosses still run (one per round) inside the build jobs.
    assert pi.count_nested_loop_joins(df) == 0
    assert pi.count_shuffles(df) == 0


def test_link_predict_wedge_is_equi_join(spark):
    """The 2-hop candidate generator joins on the shared endpoint —
    never a cartesian — and the degree table broadcasts."""
    df = QUERIES["graph_link_predict_ra"](spark, SF)
    assert pi.count_nested_loop_joins(df) == 0


def test_min_label_components_labels_never_broadcast(spark):
    """Scale contract: the per-vertex label table must SHUFFLE-join
    the edge list by default — broadcasting a vertex-sized table caps
    the operator at driver memory on a 100×-vertex graph.  Built on a
    tiny in-memory pair list so the loop's plan (not a cached replay)
    is what renders."""
    spark.catalog.clearCache()
    from dicomdb_spark.llm import dedup as ldedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    comp = ldedup.min_label_components(pairs, iters=2, persist_edges=False)
    # per-round label join must be a shuffle join (sort-merge or
    # shuffled-hash), never a broadcast of the label side
    assert pi.count_broadcast_joins(comp) == 0, pi.simple_plan(comp)
    assert pi.count_nested_loop_joins(comp) == 0


def test_scaling_tables_carry_no_pinned_broadcast(spark):
    """Round-5 scale fix: every F.broadcast on an SF-scaling side
    (orders/customer/supplier/part and derived subsets) was removed in
    favor of stats+AQE selection.  The budget below is the number of
    hints each query may still pin — exclusively on provably bounded
    relations (nation=25/region=5 rows, single-row aggregates,
    fixed-size query batches).  A budget regression here means someone
    re-pinned a fact-sized broadcast that OOMs at 100×."""
    budgets = {
        "j1_exam_series_revenue": 1,   # nation
        "tpch_q3_shape": 0,
        "tpch_q18_shape": 0,
        "tpch_q5_shape": 2,            # nation, region
        "tpch_q7_shape": 2,            # n1, n2
        "tpch_q10_shape": 1,           # nation
        "tpch_q16_shape": 0,
        "tpch_q21_shape": 0,
        "tpch_q22_shape": 1,           # 1-row avg-balance threshold
        "tpch_q14_shape": 0,
        "tpch_q15_shape": 1,           # 1-row max-revenue agg
        "tpch_q17_shape": 0,
        "tpch_q19_shape": 0,
        # re-referenced lineage renders shared subtree hints twice:
        # q2's eu (nation+region) feeds both best and the final join
        "tpch_q2_shape": 4,            # nation×2, region×2 (shared eu)
        "tpch_q8_shape": 3,            # nation ×2, region
        "tpch_q9_shape": 1,            # nation
        "tpch_q11_shape": 3,           # nation×2 (shared val), 1-row total
        "tpch_q20_shape": 1,           # nation
        "a_cohort_retention": 0,
        "sketch_bloom_join": 1,  # 4096-bit bloom register row (bounded)
        # round-6 de-pins: part (SF-scaling) and deg (vertex-sized)
        # hints dropped; remaining allowances are bounded only
        "a_market_basket": 3,          # ac×2 (|brands| rows), nb (1 row)
        "graph_link_predict_ra": 0,
    }
    for name, budget in budgets.items():
        df = QUERIES[name](spark, SF)
        n = pi.pinned_hint_count(df)
        assert n <= budget, (name, n, budget)


def test_round6_depins_upgrade_at_runtime(spark):
    """Round-6 de-pins: a_market_basket's part join and
    graph_link_predict_ra's deg join lost their pinned broadcasts
    (part is SF-scaling, deg is vertex-sized).  At this SF the runtime
    plan must still broadcast them — AQE measures the build side small
    — proving the de-pin costs nothing locally while removing the
    100×-OOM hint."""
    for name in ("a_market_basket", "graph_link_predict_ra"):
        df = QUERIES[name](spark, SF)
        assert "SortMergeJoin" not in pi.aqe_final_plan(df), name


# ---------------------------------------------------------------------------
# Registry-wide guards (round 7): every query — present AND future — is
# covered by default, instead of a named subset.
# ---------------------------------------------------------------------------

# Global-order window allowlist: (file suffix, enclosing function) → why
# the single-partition sort is bounded by construction.  ANY other
# `Window.orderBy(...)` without a partitionBy, or empty
# `Window.partitionBy()`, anywhere in dicomdb_spark/ fails the lint —
# new queries must either use ow.bucketed_running / orderBy().limit()
# or consciously add an entry here with a boundedness argument.
_GLOBAL_WINDOW_ALLOWLIST = {
    # the one remaining global sort inside the distributed-rank helper
    # itself: the per-bucket offsets table, one row per bucket
    ("operators/windows.py", "bucketed_running"): "offsets table ≤ n_buckets rows",
    ("registry.py", "sketch_hist_quantiles"): "cumsum over the 128-bin histogram",
    ("registry.py", "a_decile_lift"): "cum_conv over the 10-row decile table",
    ("registry.py", "a_survival_hazard"): "reverse cumsum over the day grain (bounded calendar)",
    ("registry.py", "a_chi_square"): "margin windows over the |types|·7 contingency frame",
    ("registry.py", "dedup_sorted_neighbor_lcp"): "boundary exchange over per-range-bucket firsts (≤ 64 buckets)",
    ("registry.py", "graph_pagerank"): "pos over a LIMIT(20) result",
    ("registry.py", "graph_ppr_seeds"): "pos over a LIMIT(20) result",
    ("registry.py", "graph_katz_bounded"): "pos over a LIMIT(20) result",
    ("registry.py", "text_zipf_topk_ratio"): "rank over a LIMIT(50) result",
    ("registry.py", "layout_range_partition_plan"): "cumsum over the fixed 128-bin histogram",
    ("registry.py", "text_textrank_keywords"): "pos over a LIMIT(20) result",
    ("registry.py", "text_textrank_weighted"): "pos over a LIMIT(20) result",
    ("registry.py", "a_lorenz_curve_points"): "cumsum over the 10-row decile table",
    ("registry.py", "ops_slo_burn_rate"): "7-day rolling sums over the bounded calendar day grain",
    ("registry.py", "ops_incident_mttr"): "ranks/lag over the bounded calendar day grain and per-incident table",
    ("registry.py", "a_mcnemar_test"): "day-rank over the bounded calendar dimension (≤ |days| rows)",
    ("registry.py", "a_bh_step_up"): "p-value rank over the bounded |types|·7 cell frame",
    ("registry.py", "a_benjamini_yekutieli"): "p-value rank over the bounded |types|·7 cell frame",
    ("registry.py", "w_runs_up_down"): "move index over the bounded calendar day grain (≤ |days| rows)",
}


def test_no_unbounded_global_windows_in_source():
    """Scale lint (VERDICT r6 #1/#5): `Window.orderBy` with no
    partitionBy executes the whole input as ONE task — a 100×-scale
    killer unless the input is provably bounded.  Round 7 rewrote all
    13 entity-grain offenders onto ow.bucketed_running /
    orderBy().limit(); this lint pins the invariant for every future
    query."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "dicomdb_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        # the registry package is the round-10 mechanical split of the
        # former registry.py monolith; allowlist entries key on the
        # (unique) enclosing function name, so all chunks normalize to
        # the historical file key rather than pinning chunk filenames
        if rel.startswith("registry/"):
            rel = "registry.py"
        lines = path.read_text().splitlines()
        defs = [
            (i + 1, m.group(1))
            for i, l in enumerate(lines)
            if (m := re.match(r"def\s+(\w+)", l))  # top-level defs only
        ]
        for i, line in enumerate(lines, 1):
            code = line.split("#", 1)[0]
            if "Window.orderBy" not in code and "Window.partitionBy()" not in code:
                continue
            fn = next((n for ln, n in reversed(defs) if ln <= i), "<module>")
            if (rel, fn) not in _GLOBAL_WINDOW_ALLOWLIST:
                offenders.append((rel, i, fn, line.strip()))
    assert not offenders, (
        "unallowlisted global-order windows (single-partition sorts):\n"
        + "\n".join(f"{r}:{i} in {f}(): {t}" for r, i, f, t in offenders)
    )


def test_all_registry_queries_within_hint_budget(spark):
    """Every registry entry's pinned-broadcast count is bounded by the
    recorded budget (tests/hint_budgets.json, measured when each query
    was verified bounded-only).  A NEW query defaults to budget 0 —
    pinning any broadcast requires a conscious fixture entry, the same
    discipline test_scaling_tables_carry_no_pinned_broadcast applies
    to its curated subset."""
    import json
    from pathlib import Path

    budgets = json.loads(
        (Path(__file__).resolve().parent / "hint_budgets.json").read_text()
    )
    sf = "/root/testdata/sf0.001"
    from dicomdb_spark.llm.dedup import release_pair_caches

    over = []
    for name, fn in QUERIES.items():
        n = pi.pinned_hint_count(fn(spark, sf))
        if n > budgets.get(name, 0):
            over.append((name, n, budgets.get(name, 0)))
        release_pair_caches()
    assert not over, f"hint budget exceeded: {over}"


def test_bfs_hops_plan_is_lineage_truncated(spark):
    """graph_bfs_hops round state is localCheckpointed: the returned
    plan must be a scan of the final round's materialized RDD (plus
    projection), NOT a nested InMemoryRelation/persist chain whose
    planning cost grows with rounds and whose eviction under storage
    pressure silently replays every round inside the consumer."""
    df = QUERIES["graph_bfs_hops"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    # the whole consumer plan is project-over-scan: a handful of nodes
    assert plan.count("\n") < 12, plan


# More than 100 distinct generated classes (Spark's default codegen cache
# size) on sf0.001, all from plans AQE settles on the same way every
# run.  dedup_ngram_jaccard is left out: which of its joins AQE
# broadcasts depends on which stage finishes first, so a late pass can
# still meet (and compile) a new variant.
_CODEGEN_MIX = (
    "ann_bruteforce_topk",
    "dedup_minhash_lsh",
    "dedup_simhash_near",
    "ann_lsh_topk",
    "ann_pq_topk",
)


def test_repeated_query_mix_compiles_nothing_once_warm(spark):
    """The JVM's codegen cache holds a repeated mix's classes: a third
    pass compiles none.  With a 100-entry cache the mix evicts its own
    classes, and every pass recompiles (and re-JITs) them."""
    from dicomdb_spark.parity import SF_SMOKE, release

    compiled = []
    for _ in range(3):
        before, _ms = pi.codegen_counters(spark)
        for name in _CODEGEN_MIX:
            QUERIES[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        release(spark)
        compiled.append(pi.codegen_counters(spark)[0] - before)
    assert compiled[2] == 0, compiled
