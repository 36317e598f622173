"""registry chunk 7/8 — mechanical split of the monolithic registry.py (round 10); original lines 25654-29894.  Registration order preserved."""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from dicomdb_spark.operators.lineage import cut_lineage
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
from dicomdb_spark.registry._core import _chain, register
from dicomdb_spark.registry.q01 import (
    _SQL_DOCS2,
    _SQL_TOKS,
    _docs_with_dupes,
    _minhash_pairs_cte,
)
from dicomdb_spark.registry.q03 import _sql_hex_int
from dicomdb_spark.registry.q04 import (
    _HILBERT_CHAIN,
    _HILBERT_LAST,
    _SQL_NORMSQ,
    _hilbert_spark,
    _normsq_col,
)
from dicomdb_spark.registry.q05 import _SQL_BARS, _bars, _ktruss_ctes
from dicomdb_spark.registry.q06 import _SQL_DAYSERIES, _dayseries_rk


@register(
    "layout_skipping_sim_2d",
    f"""
    WITH l0 AS (SELECT event_id,
                       CAST(user_id % 256 AS BIGINT) AS gx,
                       CAST((event_id // 7) % 256 AS BIGINT) AS gy,
                       CAST(user_id % 256 AS BIGINT) AS x,
                       CAST((event_id // 7) % 256 AS BIGINT) AS y,
                       CAST(0 AS BIGINT) AS d
                FROM events),
    {_HILBERT_CHAIN},
    keyed AS (
      SELECT 'a_natural' AS layout, CAST(event_id AS BIGINT) AS key, gx, gy
      FROM {_HILBERT_LAST}
      UNION ALL
      SELECT 'b_dim_sorted', CAST(gx AS BIGINT), gx, gy FROM {_HILBERT_LAST}
      UNION ALL
      SELECT 'c_hilbert', CAST(d AS BIGINT), gx, gy FROM {_HILBERT_LAST}),
    st AS (SELECT layout, CAST(min(key) AS BIGINT) AS mn,
                  CAST(max(key) AS BIGINT) AS mx
           FROM keyed GROUP BY 1),
    fb AS (SELECT k.layout, k.gx, k.gy,
                  CASE WHEN st.mx = st.mn THEN 0
                       ELSE least(CAST(floor(CAST(k.key - st.mn AS DOUBLE) * 32
                                  / CAST(st.mx - st.mn AS DOUBLE)) AS BIGINT),
                                  31) END AS f
           FROM keyed k JOIN st USING (layout)),
    files AS (SELECT layout, f, CAST(count(*) AS BIGINT) AS n,
                     CAST(min(gx) AS BIGINT) AS xmn,
                     CAST(max(gx) AS BIGINT) AS xmx,
                     CAST(min(gy) AS BIGINT) AS ymn,
                     CAST(max(gy) AS BIGINT) AS ymx,
                     CAST(SUM(CASE WHEN gx BETWEEN 100 AND 120
                                    AND gy BETWEEN 40 AND 60
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_match
              FROM fb GROUP BY 1, 2)
    SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN xmx >= 100 AND xmn <= 120
                          AND ymx >= 40 AND ymn <= 60
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
           CAST(SUM(CASE WHEN xmx >= 100 AND xmn <= 120
                          AND ymx >= 40 AND ymn <= 60
                    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched
    FROM files GROUP BY 1
    """,
)
def layout_skipping_sim_2d(spark, sf_dir):
    """The 2-DIMENSIONAL companion of layout_skipping_sim: the same
    three layouts (arrival order, 1-D sort on gx, Hilbert on
    (gx, gy)) pruned by a CONJUNCTIVE box predicate
    gx∈[100,120] AND gy∈[40,60] against per-file min/max of BOTH
    dimensions.  This is where the curve earns its keep: the 1-D
    sort prunes gx perfectly but every surviving file spans all of
    gy (rows_scanned ≈ the full gx stripe), while Hilbert's
    locality keeps both footers tight — the quantified case for a
    space-filling cluster key once the workload filters on more
    than one column.  Same map-only CASE-arithmetic walk and one
    aggregate as the 1-D sim; zero extra shuffles."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("gx"),
        ((F.col("event_id") / 7).cast("long") % 256).cast("long").alias("gy"),
    )
    out = _hilbert_spark(base).select(
        "event_id", "gx", "gy", F.col("d").cast("long").alias("hd")
    )
    keyed = (
        out.select(
            F.lit("a_natural").alias("layout"),
            F.col("event_id").cast("long").alias("key"),
            "gx", "gy",
        )
        .unionAll(
            out.select(
                F.lit("b_dim_sorted").alias("layout"),
                F.col("gx").cast("long").alias("key"),
                "gx", "gy",
            )
        )
        .unionAll(
            out.select(
                F.lit("c_hilbert").alias("layout"),
                F.col("hd").cast("long").alias("key"),
                "gx", "gy",
            )
        )
    )
    st = keyed.groupBy("layout").agg(
        F.min("key").cast("long").alias("mn"),
        F.max("key").cast("long").alias("mx"),
    )
    fcol = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("key") - F.col("mn")).cast("double")
                * 32
                / (F.col("mx") - F.col("mn")).cast("double")
            ).cast("long"),
            F.lit(31),
        )
    )
    in_box = (F.col("gx").between(100, 120)) & (F.col("gy").between(40, 60))
    files = (
        keyed.join(st, "layout")
        .withColumn("f", fcol)
        .groupBy("layout", "f")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("gx").cast("long").alias("xmn"),
            F.max("gx").cast("long").alias("xmx"),
            F.min("gy").cast("long").alias("ymn"),
            F.max("gy").cast("long").alias("ymx"),
            F.sum(F.when(in_box, 1).otherwise(0)).cast("long").alias("n_match"),
        )
    )
    hit = (
        (F.col("xmx") >= 100)
        & (F.col("xmn") <= 120)
        & (F.col("ymx") >= 40)
        & (F.col("ymn") <= 60)
    )
    return files.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_hit"),
        F.sum(F.when(hit, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matched"),
    )


def _harmonic_oracle(rounds: int = 4, n_seeds: int = 5) -> str:
    """Per-seed unrolled BFS over the minhash near-dup graph, then
    harmonic centrality with the ×12 integer weighting (12 = lcm of
    hop distances 1..4, so Σ 12/d is exact int64)."""
    chain, prev = _chain("h0", rounds, lambda i, prev: {f"h{i}": f"""
      SELECT seed, node, min(hop) AS hop FROM (
      SELECT seed, node, hop FROM {prev}
      UNION ALL
      SELECT p.seed, e.dst AS node, p.hop + 1 AS hop
      FROM {prev} p JOIN e ON e.src = p.node) t GROUP BY 1, 2"""})
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    seeds AS (SELECT node AS seed FROM deg
              ORDER BY dg DESC, node LIMIT {n_seeds}),
    h0 AS (SELECT seed, seed AS node, 0 AS hop FROM seeds),
    {chain}
    SELECT seed,
           CAST(count(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(CASE WHEN hop > 0 THEN 12 // hop ELSE 0 END)
                AS BIGINT) AS harmonic_x12,
           CAST(SUM(CASE WHEN hop > 0 THEN 12 // hop ELSE 0 END)
                AS DOUBLE) / 12.0 AS harmonic
    FROM {prev} GROUP BY 1
    """


@register("graph_harmonic_centrality", _harmonic_oracle())
def graph_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality (Boldi–Vigna, Internet Math. 2014: the
    closeness variant that stays finite on disconnected graphs) of
    the 5 highest-degree vertices in the minhash near-dup graph:
    C_H(s) = Σ_{v≠s} 1/d(s,v), truncated at 4 BFS rounds.  The
    per-seed BFS is the graph_bfs_hops Pregel pattern with a seed
    column carried through (5·|reached| state, bounded by the small
    near-dup components); the reciprocal-distance sum stays EXACT by
    weighting ×12 (lcm of 1..4 — each 12/d is an integer, so the sum
    is int64 and the reported harmonic is one division).  Seeds are
    a distributed top-k (orderBy().limit(5))."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    # r13 optimization (guide §3.3/§5): rounds were persist-chained —
    # each round's InMemoryRelation nested the full upstream tree
    # (edges + the whole minhash pipeline) into the consumer plan,
    # which reached 5,482 Exchange nodes; localCheckpoint per round
    # (the graph_bfs_hops idiom) truncates lineage, keeps the
    # hash-partitioned edge materialization, and drops the manual
    # count/unpersist bookkeeping.
    e = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionAll(
            pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
        )
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(cut_lineage)
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("dg")
    )
    seeds = deg.orderBy(F.desc("dg"), "node").limit(5).select(
        F.col("node").alias("seed")
    )
    dist = seeds.select("seed", F.col("seed").alias("node")).withColumn(
        "hop", F.lit(0)
    )
    for _ in range(4):
        msg = dist.join(e, dist.node == e.src).select(
            "seed", F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop")
        )
        dist = (
            dist.unionAll(msg)
            .groupBy("seed", "node")
            .agg(F.min("hop").alias("hop"))
            .transform(cut_lineage)
        )
    h12 = F.sum(
        F.when(F.col("hop") > 0, F.floor(F.lit(12) / F.col("hop"))).otherwise(0)
    ).cast("long")
    return dist.groupBy("seed").agg(
        (F.count("*") - 1).cast("long").alias("n_reached"),
        h12.alias("harmonic_x12"),
        (h12.cast("double") / 12.0).alias("harmonic"),
    )


# ---------------------------------------------------------------------------
# Round-9 batch A (VERDICT-named parked list): DGIM sliding-window
# sketch via its closed-form bucket configuration, 4-truss peel to
# fixpoint with convergence flag, integer-scaled Holt linear forecast,
# weighted TextRank.
# ---------------------------------------------------------------------------


@register(
    "sketch_dgim_window_count",
    """
    WITH p AS (SELECT event_type, value,
                      CAST(row_number() OVER (PARTITION BY event_type
                                              ORDER BY ts, event_id)
                           AS BIGINT) AS pos
               FROM events),
    ones AS (SELECT event_type, pos,
                    CAST(row_number() OVER (PARTITION BY event_type
                                            ORDER BY pos DESC)
                         AS BIGINT) AS rho
             FROM p WHERE value > 250.0),
    st AS (SELECT o.event_type,
                  CAST(count(*) AS BIGINT) AS m,
                  CAST(max(mp.maxpos) AS BIGINT) AS maxpos
           FROM ones o
           JOIN (SELECT event_type, max(pos) AS maxpos FROM p GROUP BY 1) mp
             ON mp.event_type = o.event_type
           GROUP BY 1),
    lb AS (SELECT event_type, m, maxpos,
                  CAST(length(bin(m + 1)) - 1 AS BIGINT) AS l,
                  CAST(m - ((CAST(1 AS BIGINT) << CAST(length(bin(m + 1)) - 1
                                                       AS INT)) - 1)
                       AS BIGINT) AS b
           FROM st WHERE m >= 1),
    lv AS (SELECT event_type, m, maxpos, l, b,
                  unnest(generate_series(0, CAST(l - 1 AS BIGINT))) AS i
           FROM lb),
    dg AS (SELECT event_type, m, maxpos, i,
                  CAST(1 + ((b // (CAST(1 AS BIGINT) << CAST(i AS INT))) % 2)
                       AS BIGINT) AS d
           FROM lv),
    bk AS (SELECT event_type, m, maxpos, i,
                  unnest(generate_series(1, d)) AS cp,
                  CAST(CAST(1 AS BIGINT) << CAST(i AS INT) AS BIGINT) AS sz
           FROM dg),
    cs AS (SELECT event_type, m, maxpos, sz,
                  CAST(SUM(sz) OVER (PARTITION BY event_type
                                     ORDER BY i, cp) AS BIGINT) AS csum
           FROM bk),
    rp AS (SELECT cs.event_type, cs.m, cs.maxpos, cs.sz, cs.csum,
                  o.pos AS right_pos
           FROM cs JOIN ones o ON o.event_type = cs.event_type
                               AND o.rho = cs.csum - cs.sz + 1),
    kept AS (SELECT event_type, m, sz, csum
             FROM rp WHERE right_pos > maxpos - 256),
    est AS (SELECT event_type, CAST(max(m) AS BIGINT) AS m_ones,
                   CAST(count(*) AS BIGINT) AS n_buckets_kept,
                   CAST(SUM(sz) AS BIGINT) AS s_kept,
                   CAST(max(CASE WHEN csum = mx THEN sz END) AS BIGINT)
                     AS sz_oldest
            FROM (SELECT *, max(csum) OVER (PARTITION BY event_type) AS mx
                  FROM kept) t
            GROUP BY 1),
    ex AS (SELECT o.event_type, CAST(count(*) AS BIGINT) AS n_exact
           FROM ones o JOIN st ON st.event_type = o.event_type
           WHERE o.pos > st.maxpos - 256
           GROUP BY 1)
    SELECT est.event_type, est.m_ones, est.n_buckets_kept,
           coalesce(ex.n_exact, CAST(0 AS BIGINT)) AS n_exact,
           CAST(2 * est.s_kept - est.sz_oldest AS DOUBLE) / 2.0 AS dgim_est
    FROM est LEFT JOIN ex ON ex.event_type = est.event_type
    """,
)
def sketch_dgim_window_count(spark, sf_dir):
    """DGIM sliding-window ones-count sketch (Datar, Gionis, Indyk &
    Motwani, SICOMP 2002) answered in CLOSED FORM: after M ones, the
    maintenance rule 'merge the two oldest buckets whenever three
    share a size' leaves exactly the unique digits-{1,2} base-2
    representation of M — M − (2^L − 1) in plain binary, L =
    ⌊log₂(M+1)⌋ — so bucket sizes AND their right-end positions (the
    C_{j−1}+1-th newest one) are pure integer arithmetic over the
    ones ranks, no sequential state.  Verified against a step-by-step
    simulation in tests.  Query: per event_type, the DGIM estimate of
    'high-value events among the last 256' (kept buckets minus half
    the oldest straddler) next to the exact count — the error is
    bounded by sz_oldest/2 ≤ 50 %.  Scale: the bucket table is
    ≤ 2·log₂(M) rows per key and every join is keyed by event_type;
    ranks are partitioned row_numbers, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "event_type", "value",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .cast("long")
        .alias("pos"),
    )
    ones = p.filter(F.col("value") > 250.0).select(
        "event_type", "pos",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("pos").desc()))
        .cast("long")
        .alias("rho"),
    )
    mp = p.groupBy("event_type").agg(F.max("pos").alias("maxpos"))
    st = (
        ones.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("m"))
        .join(mp, "event_type")
    )
    one_l = F.lit(1).cast("long")
    lcol = (F.length(F.bin(F.col("m") + 1)) - 1).cast("long")
    lb = st.filter(F.col("m") >= 1).select(
        "event_type", "m", "maxpos", lcol.alias("l"),
        (
            F.col("m")
            - (F.expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(m + 1)) - 1 AS INT))") - 1)
        )
        .cast("long")
        .alias("b"),
    )
    lv = lb.select(
        "event_type", "m", "maxpos", "b",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("l") - 1)).alias("i"),
    )
    dg = lv.select(
        "event_type", "m", "maxpos", "i",
        (
            one_l
            + (
                F.col("b")
                / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))")
            ).cast("long")  # exact: b >= 0, power-of-2 divisor -> trunc = floor
            % 2
        )
        .cast("long")
        .alias("d"),
    )
    bk = dg.select(
        "event_type", "m", "maxpos", "i",
        F.explode(F.sequence(one_l, F.col("d"))).alias("cp"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))").alias("sz"),
    )
    cs = bk.select(
        "event_type", "m", "maxpos", "sz",
        F.sum("sz")
        .over(Window.partitionBy("event_type").orderBy("i", "cp"))
        .cast("long")
        .alias("csum"),
    )
    o2 = ones.select("event_type", F.col("rho").alias("r2"), F.col("pos").alias("right_pos"))
    rp = cs.join(
        o2,
        (cs["event_type"] == o2["event_type"])
        & (o2["r2"] == F.col("csum") - F.col("sz") + 1),
    ).select(cs["event_type"], "m", "maxpos", "sz", "csum", "right_pos")
    kept = rp.filter(F.col("right_pos") > F.col("maxpos") - 256).withColumn(
        "mx", F.max("csum").over(Window.partitionBy("event_type"))
    )
    est = kept.groupBy("event_type").agg(
        F.max("m").cast("long").alias("m_ones"),
        F.count("*").cast("long").alias("n_buckets_kept"),
        F.sum("sz").cast("long").alias("s_kept"),
        F.max(F.when(F.col("csum") == F.col("mx"), F.col("sz")))
        .cast("long")
        .alias("sz_oldest"),
    )
    ex = (
        ones.join(st.select("event_type", "maxpos"), "event_type")
        .filter(F.col("pos") > F.col("maxpos") - 256)
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    return est.join(ex, "event_type", "left").select(
        "event_type", "m_ones", "n_buckets_kept",
        F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
        (
            (2 * F.col("s_kept") - F.col("sz_oldest")).cast("double") / 2.0
        ).alias("dgim_est"),
    )


def _ktruss_fixpoint_oracle(rounds: int = 6, min_sup: int = 2) -> str:
    ctes, unions = _ktruss_ctes(rounds, min_sup)
    return f"""
    {ctes},
    curve AS ({unions}),
    fixn AS (SELECT n_edges AS fix_edges FROM curve
             WHERE round = {rounds}),
    conv AS (SELECT CAST(CASE WHEN p.n_edges = f.fix_edges THEN 1 ELSE 0 END
                         AS BIGINT) AS converged
             FROM curve p CROSS JOIN fixn f WHERE p.round = {rounds - 1})
    SELECT c.round, c.n_edges,
           CAST(CASE WHEN c.n_edges = f.fix_edges THEN 1 ELSE 0 END
                AS BIGINT) AS at_fixpoint,
           v.converged
    FROM curve c CROSS JOIN fixn f CROSS JOIN conv v
    """


@register("graph_ktruss_fixpoint", _ktruss_fixpoint_oracle())
def graph_ktruss_fixpoint(spark, sf_dir):
    """4-truss peeling TO FIXPOINT (Cohen 2008) over the near-dup
    candidate graph — the convergence-flagged extension of
    graph_ktruss_peel's bounded 3-truss unrolling: each round deletes
    edges supported by fewer than 2 triangles in the CURRENT graph,
    and the per-round at_fixpoint flag marks when the edge count has
    reached its stationary value (the maximal 4-truss).  Six
    driver-replayable rounds; the output carries an explicit
    `converged` column (round-5 count == round-6 count, round-9
    ADVICE) so the trace SELF-certifies that the final round is a
    fixpoint and not a truncation — on any fixture where the peel has
    not converged within 6 rounds, converged = 0 in the output
    itself (a test asserts the shipped fixture converges, but the
    flag no longer depends on that test).  Each round is one
    oriented triangle enumeration + one aggregate + one semi-join
    with the edge state localCheckpointed (lineage would otherwise
    grow ~9^rounds — see graph_ktruss_peel)."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).transform(cut_lineage)
    counts = [
        pairs.agg(F.count("*").cast("long").alias("n_edges")).select(
            F.lit(0).cast("long").alias("round"), "n_edges"
        )
    ]
    edges = pairs
    for i in range(1, 7):
        e1 = edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        e2 = edges.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
        e3 = edges.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
        tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
        sup = (
            tri.select(F.col("a").alias("id1"), F.col("b").alias("id2"))
            .unionAll(tri.select(F.col("b").alias("id1"), F.col("c").alias("id2")))
            .unionAll(tri.select(F.col("a").alias("id1"), F.col("c").alias("id2")))
            .groupBy("id1", "id2")
            .agg(F.count("*").alias("sup"))
        )
        edges = (
            edges.join(sup, ["id1", "id2"])
            .filter(F.col("sup") >= 2)
            .select("id1", "id2")
            .transform(cut_lineage)
        )
        counts.append(
            edges.agg(F.count("*").cast("long").alias("n_edges")).select(
                F.lit(i).cast("long").alias("round"), "n_edges"
            )
        )
    curve = counts[0]
    for c in counts[1:]:
        curve = curve.unionAll(c)
    fixn = counts[-1].select(F.col("n_edges").alias("fix_edges"))
    conv = (
        counts[-2]
        .select(F.col("n_edges").alias("n_prev"))
        .crossJoin(fixn)
        .select(
            F.when(F.col("n_prev") == F.col("fix_edges"), 1)
            .otherwise(0)
            .cast("long")
            .alias("converged")
        )
    )
    return (
        curve.crossJoin(F.broadcast(fixn))
        .crossJoin(F.broadcast(conv))
        .select(
            "round", "n_edges",
            F.when(F.col("n_edges") == F.col("fix_edges"), 1)
            .otherwise(0)
            .cast("long")
            .alias("at_fixpoint"),
            "converged",
        )
    )


@register(
    "w_holt_linear_forecast",
    """
    WITH RECURSIVE dd AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    rd AS (SELECT event_type, y,
                  CAST(row_number() OVER (PARTITION BY event_type
                                          ORDER BY day DESC) AS BIGINT) AS rdesc
           FROM dd),
    d AS (SELECT event_type, y,
                 CAST(count(*) OVER (PARTITION BY event_type) - rdesc + 1
                      AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS wn
          FROM rd WHERE rdesc <= 12),
    h AS (
      SELECT event_type, rn, wn,
             CAST(4 * y AS BIGINT) AS p, CAST(0 AS BIGINT) AS q
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.wn,
             CAST(d.y * (CAST(1 AS BIGINT) << CAST(2 * d.rn - 1 AS INT))
                  + 2 * h.p + 2 * h.q AS BIGINT),
             CAST(d.y * (CAST(1 AS BIGINT) << CAST(2 * d.rn - 2 AS INT))
                  - h.p + 3 * h.q AS BIGINT)
      FROM h JOIN d ON d.event_type = h.event_type AND d.rn = h.rn + 1),
    fin AS (SELECT event_type, wn, p, q,
                   CAST(CAST(1 AS BIGINT) << CAST(2 * wn AS INT) AS DOUBLE)
                     AS sc
            FROM h WHERE rn = wn)
    SELECT event_type,
           CAST(hz AS BIGINT) AS horizon_days,
           CAST(p AS DOUBLE) / sc / 100.0 AS level,
           CAST(q AS DOUBLE) / sc / 100.0 AS trend,
           CAST(p + hz * q AS DOUBLE) / sc / 100.0 AS forecast
    FROM fin, unnest(generate_series(1, 3)) AS t(hz)
    """,
)
def w_holt_linear_forecast(spark, sf_dir):
    """Holt linear-trend (double exponential) forecast of the daily
    value total per event_type (Holt 1957 / Hyndman & Athanasopoulos
    FPP §8.2) with α = β = ½ — the one smoothing constant whose
    recurrence stays EXACT in integers: scaling the (level, trend)
    state by 4^t turns l_t = ½y_t + ½(l+b), b_t = ¼y_t − ¼l + ¾b into
    P_t = 2^{2t−1}y_t + 2P + 2Q and Q_t = 4^{t−1}y_t − P + 3Q — pure
    int64 over the last-12-day window (P ≤ 4¹²·Σy ≈ 5·10¹⁵ at SF 1;
    int64-safe to ~SF 300, window bound documented), so Spark's
    JVM-side array fold and DuckDB's recursive CTE replay the SAME
    integers and the final 1-division forecasts agree bitwise.
    Spark plan: per-key day series (bounded by the calendar), 12-row
    sorted array per key, one F.aggregate fold — sequential state
    over a BOUNDED window, never a driver loop; forecast horizons are
    a literal explode.  NULL values are dropped BEFORE the daily
    rollup in both engines: an all-NULL day would otherwise poison the
    whole recurrence with NULL state (r13 null-probe find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dd = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    rd = dd.select(
        "event_type", "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("day").desc()))
        .cast("long")
        .alias("rdesc"),
    ).filter(F.col("rdesc") <= 12)
    d = rd.select(
        "event_type", "y",
        (
            F.count("*").over(Window.partitionBy("event_type"))
            - F.col("rdesc")
            + 1
        )
        .cast("long")
        .alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("wn"),
    ).withColumn(
        # y * (1 << k), not (y << k): DuckDB ERRORS on left-shifting a
        # negative number, so a negative daily total killed the oracle;
        # multiplying by the shifted one is exact and sign-safe in both
        "c1", F.expr("y * shiftleft(CAST(1 AS BIGINT), CAST(2 * rn - 1 AS INT))")
    ).withColumn(
        "c2", F.expr("y * shiftleft(CAST(1 AS BIGINT), CAST(2 * rn - 2 AS INT))")
    )
    arr = d.groupBy("event_type").agg(
        F.max("wn").cast("long").alias("wn"),
        F.sort_array(
            F.collect_list(F.struct("rn", "y", "c1", "c2"))
        ).alias("xs"),
    )
    zero = F.lit(0).cast("long")
    init = F.struct(zero.alias("p"), zero.alias("q"), zero.alias("t"))
    st = arr.withColumn(
        "st",
        F.aggregate(
            "xs",
            init,
            lambda acc, x: F.struct(
                F.when(acc["t"] == 0, 4 * x["y"])
                .otherwise(x["c1"] + 2 * acc["p"] + 2 * acc["q"])
                .cast("long")
                .alias("p"),
                F.when(acc["t"] == 0, F.lit(0).cast("long"))
                .otherwise(x["c2"] - acc["p"] + 3 * acc["q"])
                .cast("long")
                .alias("q"),
                (acc["t"] + 1).cast("long").alias("t"),
            ),
        ),
    ).select(
        "event_type", "wn",
        F.col("st")["p"].alias("p"),
        F.col("st")["q"].alias("q"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(2 * wn AS INT)) AS DOUBLE)")
        .alias("sc"),
    )
    h = st.select(
        "*",
        F.explode(F.sequence(F.lit(1), F.lit(3))).alias("hz"),
    )
    return h.select(
        "event_type",
        F.col("hz").cast("long").alias("horizon_days"),
        (F.col("p").cast("double") / F.col("sc") / 100.0).alias("level"),
        (F.col("q").cast("double") / F.col("sc") / 100.0).alias("trend"),
        (
            (F.col("p") + F.col("hz") * F.col("q")).cast("double")
            / F.col("sc")
            / 100.0
        ).alias("forecast"),
    )


def _textrank_weighted_oracle() -> str:
    from dicomdb_spark.operators.graph import pagerank_weighted_oracle_ctes

    ctes, final = pagerank_weighted_oracle_ctes("edges", iters=3, damping=0.85)
    return f"""
    WITH tk0 AS (SELECT {_SQL_TOKS} AS tk FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                                        i -> tk[i] || ' ' || tk[i + 1])) AS bg
           FROM tk0),
    tok AS (SELECT unnest(tk) AS w FROM tk0),
    vocab AS (SELECT w FROM (
      SELECT w, count(*) AS c, row_number() OVER (ORDER BY count(*) DESC, w)
               AS rn
      FROM tok GROUP BY 1) t WHERE rn <= 100),
    pe AS (SELECT split_part(bg, ' ', 1) AS a,
                  split_part(bg, ' ', 2) AS b
           FROM bg),
    und AS (SELECT least(a, b) AS lo, greatest(a, b) AS hi,
                   CAST(count(*) AS BIGINT) AS w
            FROM pe
            WHERE a <> b
              AND a IN (SELECT w FROM vocab) AND b IN (SELECT w FROM vocab)
            GROUP BY 1, 2),
    edges AS (SELECT lo AS src, hi AS dst, w FROM und
              UNION ALL SELECT hi AS src, lo AS dst, w FROM und),
    {ctes}
    SELECT node AS keyword, CAST(r AS DOUBLE) / 1000000000000.0 AS score,
           CAST(pos AS BIGINT) AS pos
    FROM (SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS pos
          FROM {final}) t
    WHERE pos <= 20
    """


@register("text_textrank_weighted", _textrank_weighted_oracle())
def text_textrank_weighted(spark, sf_dir):
    """WEIGHTED TextRank keyword extraction — the full Mihalcea &
    Tarau (EMNLP 2004) formulation, eq. 2: edge weight = adjacent
    co-occurrence COUNT (not mere incidence as in
    text_textrank_keywords), and each word's rank splits across
    neighbors in proportion to those counts, so a word earns more
    from a partner it habitually collocates with than from a one-off
    neighbor.  Uses the floor-scaled integer weighted-PageRank kernel
    (operators/graph.py pagerank_weighted: floor(double(r·w)/wout)
    contributions, int64-exact while w ≤ 10⁶) — bit-replayable in
    SQL.  Same 100-node vocabulary cap and LIMIT(20) rank window as
    the unweighted twin, so the iteration graph is constant-sized
    regardless of corpus scale."""
    from dicomdb_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.transform(text.tokens("text"), F.lower)).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(100)
        .select("w")
    )
    bg = docs.select(F.explode(text.shingles("text", 2)).alias("bg"))
    pe = bg.select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("a"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("b"),
    )
    va = vocab.select(F.col("w").alias("a"))
    vb = vocab.select(F.col("w").alias("b"))
    und = (
        pe.filter(F.col("a") != F.col("b"))
        .join(va, "a")
        .join(vb, "b")
        .groupBy(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    edges = und.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "w"
    ).unionAll(
        und.select(F.col("hi").alias("src"), F.col("lo").alias("dst"), "w")
    )
    r = graph.pagerank_weighted(edges, iters=3, damping=0.85)
    w = Window.orderBy(F.col("r").desc(), F.col("node"))
    return (
        r.orderBy(F.col("r").desc(), F.col("node"))
        .limit(20)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(
            F.col("node").alias("keyword"),
            (F.col("r").cast("double") / 1e12).alias("score"),
            "pos",
        )
    )


# ---------------------------------------------------------------------------
# Round-9 batch B: classical-stats operators — Cliff's delta, Mood's
# median test, Brown–Forsythe, Ansari–Bradley, Jonckheere–Terpstra,
# Benjamini–Hochberg step-up with Chebyshev p-bounds.
# ---------------------------------------------------------------------------

@register(
    "a_cliff_delta",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    g AS (SELECT x,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na_x,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_x
          FROM u GROUP BY 1),
    c AS (SELECT x, na_x, nb_x,
                 CAST(SUM(na_x) OVER (ORDER BY x) AS BIGINT) AS cum_na,
                 CAST(SUM(nb_x) OVER (ORDER BY x) AS BIGINT) AS cum_nb
          FROM g),
    s AS (SELECT CAST(SUM(na_x) AS BIGINT) AS na,
                 CAST(SUM(nb_x) AS BIGINT) AS nb,
                 CAST(SUM(na_x * (cum_nb - nb_x)) AS BIGINT) AS n_gt,
                 CAST(SUM(nb_x * (cum_na - na_x)) AS BIGINT) AS n_lt,
                 CAST(SUM(na_x * nb_x) AS BIGINT) AS n_ties
          FROM c)
    SELECT na AS n_a, nb AS n_b, n_gt, n_lt, n_ties,
           CAST(n_gt - n_lt AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cliff_delta
    FROM s
    """,
)
def a_cliff_delta(spark, sf_dir):
    """Cliff's delta ordinal effect size (Cliff, Psych. Bull. 1993)
    between md5-assigned arms over per-user value totals:
    δ = (#(a>b) − #(a<b)) / (n_a·n_b) — the robust companion to
    a_mannwhitney_u's significance (same dominance counts, effect
    magnitude instead of a z).  The n_a·n_b pair space is never
    enumerated: dominance counts collapse to PER-VALUE counts × the
    other arm's exclusive cumulative (#(a>b) = Σ_x na(x)·nb_below(x)),
    and the one cumulative runs over |distinct x| rows via the
    range-bucketed distributed rank — no global sort, no pair join."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x")
    )
    g = u.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na_x"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb_x"),
    )
    cum = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"),
        order_cols=["x"],
        sum_cols=["na_x", "nb_x"],
    )
    s = cum.agg(
        F.sum("na_x").cast("long").alias("na"),
        F.sum("nb_x").cast("long").alias("nb"),
        F.sum(F.col("na_x") * (F.col("cum_nb_x") - F.col("nb_x")))
        .cast("long")
        .alias("n_gt"),
        F.sum(F.col("nb_x") * (F.col("cum_na_x") - F.col("na_x")))
        .cast("long")
        .alias("n_lt"),
        F.sum(F.col("na_x") * F.col("nb_x")).cast("long").alias("n_ties"),
    )
    return s.select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        "n_gt", "n_lt", "n_ties",
        (
            (F.col("n_gt") - F.col("n_lt")).cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        ).alias("cliff_delta"),
    )


@register(
    "a_mood_median",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events),
    pc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
    cc AS (SELECT c, CAST(SUM(t) OVER (ORDER BY c) AS BIGINT) AS cum
           FROM pc),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    med AS (SELECT CAST(min(c) AS BIGINT) AS m
            FROM cc CROSS JOIN tot
            WHERE cum >= (tot.n + 1) // 2),
    pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(SUM(CASE WHEN c > med.m THEN 1 ELSE 0 END) AS BIGINT)
                    AS a_g
           FROM v CROSS JOIN med GROUP BY 1, med.m),
    mg AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                  CAST(SUM(a_g) AS BIGINT) AS a,
                  CAST(count(*) AS BIGINT) AS k
           FROM pg),
    term AS (SELECT pg.g,
               CAST(floor(
                 ((CAST(pg.a_g AS DOUBLE)
                   - CAST(pg.n_g AS DOUBLE) * CAST(mg.a AS DOUBLE)
                       / CAST(mg.n AS DOUBLE))
                  * (CAST(pg.a_g AS DOUBLE)
                     - CAST(pg.n_g AS DOUBLE) * CAST(mg.a AS DOUBLE)
                         / CAST(mg.n AS DOUBLE))
                  / (CAST(pg.n_g AS DOUBLE) * CAST(mg.a AS DOUBLE)
                     / CAST(mg.n AS DOUBLE))
                  + (CAST(pg.n_g - pg.a_g AS DOUBLE)
                     - CAST(pg.n_g AS DOUBLE) * CAST(mg.n - mg.a AS DOUBLE)
                         / CAST(mg.n AS DOUBLE))
                    * (CAST(pg.n_g - pg.a_g AS DOUBLE)
                       - CAST(pg.n_g AS DOUBLE) * CAST(mg.n - mg.a AS DOUBLE)
                           / CAST(mg.n AS DOUBLE))
                    / (CAST(pg.n_g AS DOUBLE) * CAST(mg.n - mg.a AS DOUBLE)
                       / CAST(mg.n AS DOUBLE))) * 1000000000.0)
                 AS BIGINT) AS tscaled
             FROM pg CROSS JOIN mg)
    SELECT mg.n, mg.k,
           CAST(med.m AS DOUBLE) / 100.0 AS grand_median,
           mg.a AS n_above,
           CAST(SUM(term.tscaled) AS DOUBLE) / 1000000000.0 AS chi2
    FROM term CROSS JOIN mg CROSS JOIN med
    GROUP BY mg.n, mg.k, med.m, mg.a
    """,
)
def a_mood_median(spark, sf_dir):
    """Mood's median test (Mood 1950): does the SHARE of observations
    above the grand median differ across event_types?  χ² over the
    k×2 (above / not-above) contingency table.  The grand median is
    the LOWER median of integer cents — found as min(c) with
    cumulative ≥ ⌈N/2⌉ over per-value counts (range-bucketed
    distributed rank, no global sort; the cent domain is bounded by
    the price range).  Per-group χ² terms are an identical float
    chain on both engines, floor-scaled to ×10⁹ integers before the
    cross-group sum so the total is addition-order-free (dsum
    discipline)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    pc = v.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    cc = ow.bucketed_running(
        ow.monotone_range_bucket(pc, "c"), order_cols=["c"], sum_cols=["t"]
    )
    tot = v.agg(F.count("*").cast("long").alias("n"))
    med = (
        cc.crossJoin(tot)
        .filter(F.col("cum_t") >= ((F.col("n") + 1) / 2).cast("long"))
        .agg(F.min("c").cast("long").alias("m"))
    )
    pg = (
        v.crossJoin(med)
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("a_g"),
        )
    )
    mg = pg.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("a_g").cast("long").alias("a"),
        F.count("*").cast("long").alias("k"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    e_a = dd("n_g") * dd("a") / dd("n")
    e_b = dd("n_g").cast("double") * (F.col("n") - F.col("a")).cast(
        "double"
    ) / dd("n")
    o_b = (F.col("n_g") - F.col("a_g")).cast("double")
    term = (dd("a_g") - e_a) * (dd("a_g") - e_a) / e_a + (o_b - e_b) * (
        o_b - e_b
    ) / e_b
    ts = pg.crossJoin(mg).select(
        "g", F.floor(term * 1e9).cast("long").alias("tscaled")
    )
    return (
        ts.agg(F.sum("tscaled").cast("long").alias("chsc"))
        .crossJoin(mg)
        .crossJoin(med)
        .select(
            "n", "k",
            (F.col("m").cast("double") / 100.0).alias("grand_median"),
            F.col("a").alias("n_above"),
            (F.col("chsc").cast("double") / 1e9).alias("chi2"),
        )
    )


@register(
    "a_brown_forsythe",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events),
    pc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1, 2),
    cc AS (SELECT g, c, t,
                  CAST(SUM(t) OVER (PARTITION BY g ORDER BY c) AS BIGINT)
                    AS cum,
                  CAST(SUM(t) OVER (PARTITION BY g) AS BIGINT) AS n_g
           FROM pc),
    med AS (SELECT g, CAST(min(c) AS BIGINT) AS m
            FROM cc WHERE cum >= (n_g + 1) // 2 GROUP BY 1),
    z AS (SELECT v.g, abs(v.c - med.m) AS z
          FROM v JOIN med ON med.g = v.g),
    pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(SUM(z) AS BIGINT) AS s,
                  CAST(SUM(z * z) AS BIGINT) AS s2
           FROM z GROUP BY 1),
    sc AS (SELECT g, n_g, s, s2,
                  CAST(floor((CAST(s2 AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                  / CAST(n_g AS DOUBLE)) * 10000.0)
                       AS BIGINT) AS ssw_sc,
                  CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                             / CAST(n_g AS DOUBLE) * 10000.0)
                       AS BIGINT) AS ssb_part_sc
           FROM pg),
    m AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(s) AS BIGINT) AS st,
                 CAST(SUM(ssw_sc) AS BIGINT) AS ssw_sc,
                 CAST(SUM(ssb_part_sc) AS BIGINT) AS ssb_part_sc
          FROM sc)
    SELECT n, k,
           (CAST(ssb_part_sc AS DOUBLE) / 10000.0
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             / 10000.0 AS ssb,
           CAST(ssw_sc AS DOUBLE) / 10000.0 / 10000.0 AS ssw,
           (CAST(n - k AS DOUBLE)
            * (CAST(ssb_part_sc AS DOUBLE) / 10000.0
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))
           / (CAST(k - 1 AS DOUBLE) * CAST(ssw_sc AS DOUBLE) / 10000.0)
             AS f_stat
    FROM m
    """,
)
def a_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe test (JASA 1974) — Levene's variance-equality
    test with the MEDIAN as the robust center: one-way ANOVA F over
    z = |x − median_g|.  Group medians are lower medians of integer
    cents via per-group ECDFs (partitioned cumulative over the
    bounded cent domain — never a global sort); z is exact integer;
    SSW/SSB come from per-group integer moments with the one division
    per group floor-scaled ×10⁴ before the cross-group sum (dsum
    discipline), so both engines agree bitwise.  Note cents are ×100,
    so SSW/SSB carry a second /10⁴ to return to value² units."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    pc = v.groupBy("g", "c").agg(F.count("*").cast("long").alias("t"))
    wg = Window.partitionBy("g").orderBy("c")
    cc = pc.select(
        "g", "c", "t",
        F.sum("t").over(wg).cast("long").alias("cum"),
        F.sum("t").over(Window.partitionBy("g")).cast("long").alias("n_g"),
    )
    med = (
        cc.filter(F.col("cum") >= ((F.col("n_g") + 1) / 2).cast("long"))
        .groupBy("g")
        .agg(F.min("c").cast("long").alias("m"))
    )
    z = v.join(med, "g").select("g", F.abs(F.col("c") - F.col("m")).alias("z"))
    pg = z.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("s2"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    sc = pg.select(
        "n_g", "s",
        F.floor((dd("s2") - dd("s") * dd("s") / dd("n_g")) * 1e4)
        .cast("long")
        .alias("ssw_sc"),
        F.floor(dd("s") * dd("s") / dd("n_g") * 1e4)
        .cast("long")
        .alias("ssb_part_sc"),
    )
    m = sc.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("s").cast("long").alias("st"),
        F.sum("ssw_sc").cast("long").alias("ssw_sc"),
        F.sum("ssb_part_sc").cast("long").alias("ssb_part_sc"),
    )
    ssb = (
        dd("ssb_part_sc") / 1e4 - dd("st") * dd("st") / dd("n")
    ) / 1e4
    return m.select(
        "n", "k",
        ssb.alias("ssb"),
        (dd("ssw_sc") / 1e4 / 1e4).alias("ssw"),
        (
            (F.col("n") - F.col("k")).cast("double")
            * (dd("ssb_part_sc") / 1e4 - dd("st") * dd("st") / dd("n"))
            / (
                (F.col("k") - 1).cast("double") * dd("ssw_sc") / 1e4
            )
        ).alias("f_stat"),
    )


@register(
    "a_ansari_bradley",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    g AS (SELECT x,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na_x,
                 CAST(count(*) AS BIGINT) AS t
          FROM u GROUP BY 1),
    c AS (SELECT x, na_x, t,
                 CAST(SUM(t) OVER (ORDER BY x) - t AS BIGINT) AS p
          FROM g),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
    b AS (SELECT c.x, c.na_x, c.t, c.p, tot.n,
                 (tot.n + 1) // 2 AS h
          FROM c CROSS JOIN tot),
    gs AS (SELECT x, na_x, t, n,
             (CASE WHEN p + t <= h THEN (p + t) * (p + t + 1) // 2
                   ELSE h * (h + 1) // 2 + (p + t - h) * (n + 1)
                        - ((p + t) * (p + t + 1) - h * (h + 1)) // 2 END)
             - (CASE WHEN p <= h THEN p * (p + 1) // 2
                     ELSE h * (h + 1) // 2 + (p - h) * (n + 1)
                          - (p * (p + 1) - h * (h + 1)) // 2 END)
               AS blocksum,
             (CASE WHEN n <= h THEN n * (n + 1) // 2
                   ELSE h * (h + 1) // 2 + (n - h) * (n + 1)
                        - (n * (n + 1) - h * (h + 1)) // 2 END) AS gn
           FROM b),
    s AS (SELECT CAST(SUM(na_x) AS BIGINT) AS na,
                 CAST(SUM(t - na_x) AS BIGINT) AS nb,
                 CAST(SUM(CAST(floor(CAST(na_x * blocksum AS DOUBLE)
                                     / CAST(t AS DOUBLE) * 1000000.0)
                               AS BIGINT)) AS BIGINT) AS ab_sc,
                 CAST(max(gn) AS BIGINT) AS gn,
                 CAST(max(n) AS BIGINT) AS n
          FROM gs)
    SELECT na AS n_a, nb AS n_b,
           CAST(ab_sc AS DOUBLE) / 1000000.0 AS ab_stat,
           CAST(na AS DOUBLE) * CAST(gn AS DOUBLE) / CAST(n AS DOUBLE)
             AS ab_expected
    FROM s
    """,
)
def a_ansari_bradley(spark, sf_dir):
    """Ansari–Bradley rank test for SCALE differences (AMS 1960)
    between md5-assigned arms: scores s(r) = min(r, N+1−r) peak at
    the center, so a smaller arm-A score sum means arm A is more
    spread out.  Midrank ties are handled in CLOSED FORM: a tie block
    occupying global ranks (p, p+t] contributes the exact integer
    block sum G(p+t) − G(p) of the piecewise-arithmetic series
    Σ min(r, N+1−r) — no per-rank enumeration — and each row takes
    blocksum/t, floor-scaled ×10⁶ before the cross-value sum (dsum).
    E[AB] under H₀ = n_a·G(N)/N.  Same per-value-counts +
    range-bucketed cumulative shape as a_mannwhitney_u: no global
    sort, no pair join."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x")
    )
    g = u.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na_x"),
        F.count("*").cast("long").alias("t"),
    )
    cum = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"), order_cols=["x"], sum_cols=["t"]
    ).withColumn("p", F.col("cum_t") - F.col("t"))
    tot = u.agg(F.count("*").cast("long").alias("n"))
    b = cum.crossJoin(tot).withColumn(
        "h", ((F.col("n") + 1) / 2).cast("long")
    )

    def _G(x):  # closed-form sum of min(r, n+1-r) for r in [1, x]
        n, h = F.col("n"), F.col("h")
        return F.when(x <= h, (x * (x + 1) / 2).cast("long")).otherwise(
            (h * (h + 1) / 2).cast("long")
            + (x - h) * (n + 1)
            - ((x * (x + 1) - h * (h + 1)) / 2).cast("long")
        )

    gs = b.select(
        "na_x", "t", "n",
        (_G(F.col("p") + F.col("t")) - _G(F.col("p"))).alias("blocksum"),
        _G(F.col("n")).alias("gn"),
    )
    s = gs.agg(
        F.sum("na_x").cast("long").alias("na"),
        F.sum(F.col("t") - F.col("na_x")).cast("long").alias("nb"),
        F.sum(
            F.floor(
                (F.col("na_x") * F.col("blocksum")).cast("double")
                / F.col("t").cast("double")
                * 1e6
            ).cast("long")
        )
        .cast("long")
        .alias("ab_sc"),
        F.max("gn").cast("long").alias("gn"),
        F.max("n").cast("long").alias("n"),
    )
    return s.select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        (F.col("ab_sc").cast("double") / 1e6).alias("ab_stat"),
        (
            F.col("na").cast("double")
            * F.col("gn").cast("double")
            / F.col("n").cast("double")
        ).alias("ab_expected"),
    )


@register(
    "a_jonckheere_terpstra",
    """
    WITH v AS (SELECT event_type AS g,
                      CAST(floor(value) AS BIGINT) AS c
               FROM events),
    pc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
    dom AS (SELECT DISTINCT c FROM v),
    grp AS (SELECT DISTINCT g FROM v),
    grid AS (SELECT grp.g, dom.c, coalesce(pc.cnt, 0) AS cnt
             FROM grp CROSS JOIN dom
             LEFT JOIN pc ON pc.g = grp.g AND pc.c = dom.c),
    cb AS (SELECT g, c, cnt,
                  CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY c) - cnt
                       AS BIGINT) AS below
           FROM grid),
    lt AS (SELECT CAST(SUM(b.cnt * a.below) AS BIGINT) AS n_lt
           FROM cb a JOIN cb b ON b.c = a.c AND a.g < b.g),
    tie AS (SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS n_tie
            FROM cb a JOIN cb b ON b.c = a.c AND a.g < b.g),
    ng AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g FROM v GROUP BY 1),
    m AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(n_g * n_g) AS BIGINT) AS sn2
          FROM ng)
    SELECT m.n, m.k,
           CAST(2 * lt.n_lt + tie.n_tie AS DOUBLE) / 2.0 AS jt_stat,
           CAST(m.n * m.n - m.sn2 AS DOUBLE) / 4.0 AS jt_expected
    FROM m CROSS JOIN lt CROSS JOIN tie
    """,
)
def a_jonckheere_terpstra(spark, sf_dir):
    """Jonckheere–Terpstra trend test (Biometrika 1954) for an
    ORDERED alternative across event_types (alphabetical dose order):
    JT = Σ_{g<h} [#(x_g < x_h) + ½#(x_g = x_h)] — rejects when values
    systematically grow along the group order, where Kruskal–Wallis
    only sees 'some difference'.  Pairwise dominance counts collapse
    to the (group × distinct-value) GRID: each group's exclusive
    cumulative below every domain value (partitioned cumsum over the
    bounded integer-value domain), then one equi-join on the value —
    the k(k−1)/2 group pairs never materialize as row pairs.  Halves
    are kept exact by accumulating 2·JT as an integer."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value")).cast("long").alias("c"),
    )
    pc = v.groupBy("g", "c").agg(F.count("*").cast("long").alias("cnt"))
    dom = v.select("c").distinct()
    grp = v.select("g").distinct()
    grid = (
        grp.crossJoin(dom)
        .join(pc, ["g", "c"], "left")
        .select("g", "c", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
    )
    cb = grid.select(
        "g", "c", "cnt",
        (
            F.sum("cnt").over(Window.partitionBy("g").orderBy("c"))
            - F.col("cnt")
        )
        .cast("long")
        .alias("below"),
    )
    a, bb = cb.alias("a"), cb.alias("b")
    pairjoin = a.join(
        bb, (F.col("b.c") == F.col("a.c")) & (F.col("a.g") < F.col("b.g"))
    )
    lt = pairjoin.agg(
        F.sum(F.col("b.cnt") * F.col("a.below")).cast("long").alias("n_lt"),
        F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("n_tie"),
    )
    ng = v.groupBy("g").agg(F.count("*").cast("long").alias("n_g"))
    m = ng.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("n_g") * F.col("n_g")).cast("long").alias("sn2"),
    )
    return m.crossJoin(lt).select(
        "n", "k",
        (
            (2 * F.col("n_lt") + F.col("n_tie")).cast("double") / 2.0
        ).alias("jt_stat"),
        (
            (F.col("n") * F.col("n") - F.col("sn2")).cast("double") / 4.0
        ).alias("jt_expected"),
    )


@register(
    "a_bh_step_up",
    """
    WITH v AS (SELECT event_type,
                      CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
    cell AS (SELECT event_type, dow,
                    CAST(count(*) AS BIGINT) AS n_c,
                    CAST(SUM(c) AS BIGINT) AS s_c
             FROM v GROUP BY 1, 2),
    gl AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(c) AS BIGINT) AS s,
                  CAST(SUM(c * c) AS BIGINT) AS s2
           FROM v),
    z AS (SELECT cell.event_type, cell.dow,
                 CAST(cell.n_c AS DOUBLE)
                 * (CAST(cell.s_c AS DOUBLE) / CAST(cell.n_c AS DOUBLE)
                    - CAST(gl.s AS DOUBLE) / CAST(gl.n AS DOUBLE))
                 * (CAST(cell.s_c AS DOUBLE) / CAST(cell.n_c AS DOUBLE)
                    - CAST(gl.s AS DOUBLE) / CAST(gl.n AS DOUBLE))
                 / ((CAST(gl.n AS DOUBLE) * CAST(gl.s2 AS DOUBLE)
                     - CAST(gl.s AS DOUBLE) * CAST(gl.s AS DOUBLE))
                    / (CAST(gl.n AS DOUBLE) * CAST(gl.n AS DOUBLE))) AS z2
          FROM cell CROSS JOIN gl),
    p AS (SELECT event_type, dow,
                 CASE WHEN z2 <= 1.0 THEN 1.0 ELSE 1.0 / z2 END AS p_cheb
          FROM z),
    r AS (SELECT event_type, dow, p_cheb,
                 CAST(row_number() OVER (ORDER BY p_cheb, event_type, dow)
                      AS BIGINT) AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM p),
    t AS (SELECT *, 0.1 * CAST(rk AS DOUBLE) / CAST(m AS DOUBLE)
                      AS bh_threshold
          FROM r),
    kmax AS (SELECT CAST(coalesce(max(CASE WHEN p_cheb <= bh_threshold
                                           THEN rk END), 0) AS BIGINT)
                      AS k_max
             FROM t)
    SELECT t.event_type, t.dow, t.p_cheb, t.rk, t.bh_threshold,
           CAST(CASE WHEN t.rk <= kmax.k_max THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM t CROSS JOIN kmax
    """,
)
def a_bh_step_up(spark, sf_dir):
    """Benjamini–Hochberg step-up FDR control (JRSS-B 1995) over the
    event_type × weekday cell grid, with HONEST engine-exact
    p-values: the Chebyshev bound p = min(1, 1/z²) where
    z² = n_c·(x̄_c − x̄)²/σ² — a valid conservative p-value that needs
    no erf/Φ (libm is banned for parity).  The step-up rule rejects
    ranks 1..k* where k* = max{k : p_(k) ≤ α·k/m} (α = 0.1) — note it
    can reject cells whose own p exceeds their threshold, the
    defining step-up subtlety.  The rank window runs over the bounded
    |types|·7 cell frame; k* is a 1-row aggregate cross-joined back.
    Spark dayofweek = DuckDB dayofweek + 1 (both 1=Sunday after the
    shift).  NULL values are excluded up front: an all-NULL cell gets
    a NULL p-value whose SORT position diverges between engines
    (Spark NULLS FIRST vs DuckDB NULLS LAST — r13 null-probe find),
    shifting every BH rank."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    cell = v.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n_c"),
        F.sum("c").cast("long").alias("s_c"),
    )
    gl = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    mean_diff = dd("s_c") / dd("n_c") - dd("s") / dd("n")
    var = (dd("n") * dd("s2") - dd("s") * dd("s")) / (dd("n") * dd("n"))
    z2 = dd("n_c") * mean_diff * mean_diff / var
    p = cell.crossJoin(gl).select(
        "event_type", "dow",
        F.when(z2 <= 1.0, F.lit(1.0)).otherwise(1.0 / z2).alias("p_cheb"),
    )
    wr = Window.orderBy("p_cheb", "event_type", "dow")
    r = p.select(
        "event_type", "dow", "p_cheb",
        F.row_number().over(wr).cast("long").alias("rk"),
    )
    mtot = p.agg(F.count("*").cast("long").alias("m"))
    t = r.crossJoin(mtot).withColumn(
        "bh_threshold", F.lit(0.1) * F.col("rk").cast("double") / F.col("m").cast("double")
    )
    kmax = t.agg(
        F.coalesce(
            F.max(F.when(F.col("p_cheb") <= F.col("bh_threshold"), F.col("rk"))),
            F.lit(0),
        )
        .cast("long")
        .alias("k_max")
    )
    return t.crossJoin(kmax).select(
        "event_type", "dow", "p_cheb", "rk", "bh_threshold",
        F.when(F.col("rk") <= F.col("k_max"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Round-9 batch C: DTW distance (sequential DP on the bounded day
# grain), per-node clustering coefficient, global transitivity,
# Lo–MacKinlay variance ratio, Tukey fences, error-budget burndown.
# ---------------------------------------------------------------------------


@register(
    "w_dtw_distance",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    ab AS (SELECT
             (SELECT list(y ORDER BY day) FROM d
              WHERE event_type = (SELECT min(event_type) FROM d)) AS a,
             (SELECT list(y ORDER BY day) FROM d
              WHERE event_type = (SELECT max(event_type) FROM d)) AS b
           WHERE (SELECT min(event_type) FROM d)
               < (SELECT max(event_type) FROM d)),
    dims AS (SELECT a, b, CAST(len(a) AS BIGINT) AS n,
                    CAST(len(b) AS BIGINT) AS m
             FROM ab),
    h AS (
      SELECT CAST(0 AS BIGINT) AS k, n, m, a, b,
             [CAST(0 AS BIGINT)]
               || list_transform(range(1, CAST(m AS INT) + 1),
                                 x -> CAST(1125899906842624 AS BIGINT))
               AS st
      FROM dims
      UNION ALL
      SELECT h.k + 1, h.n, h.m, h.a, h.b,
             h.st[2:] || [
               abs(h.a[CAST((h.k // h.m) + 1 AS INT)]
                   - h.b[CAST((h.k % h.m) + 1 AS INT)])
               + CASE WHEN h.k = 0 THEN CAST(0 AS BIGINT)
                      ELSE least(
                        CASE WHEN h.k % h.m = 0
                             THEN CAST(1125899906842624 AS BIGINT)
                             ELSE h.st[1] END,
                        h.st[2],
                        CASE WHEN h.k % h.m = 0
                             THEN CAST(1125899906842624 AS BIGINT)
                             ELSE h.st[CAST(h.m + 1 AS INT)] END)
               END]
      FROM h WHERE h.k < h.n * h.m)
    SELECT n AS n_a_days, m AS n_b_days,
           CAST(st[CAST(m + 1 AS INT)] AS DOUBLE) / 100.0 AS dtw,
           CAST(st[CAST(m + 1 AS INT)] AS DOUBLE) / 100.0
             / CAST(n + m AS DOUBLE) AS dtw_per_step
    FROM h WHERE k = n * m
    """,
)
def w_dtw_distance(spark, sf_dir):
    """Dynamic Time Warping distance (Sakoe & Chiba, IEEE TASSP 1978)
    between the two lexicographically extreme event_types' daily
    value series — the standard elastic similarity measure for
    misaligned time series.  The O(n·m) DP runs as ONE row-major
    fold: the state is a sliding (m+1)-cost window where st[1] =
    c(i−1,j−1), st[2] = c(i−1,j), st[m+1] = c(i,j−1) (boundary cells
    masked with a 2⁵⁰ sentinel, exact under int64 addition), so
    Spark's F.aggregate over the n·m cell sequence and DuckDB's
    linear recursive CTE replay IDENTICAL integer arithmetic —
    bit-exact parity without a single float until the final /100.
    COST ENVELOPE: n·m ≤ 31² cells at the calendar day grain — a
    per-row JVM fold, never a shuffle; multi-year grains need the
    banded variant (mask |i−j| > w cells with the same sentinel).
    DEGENERATE GUARD (round-9 ADVICE): with fewer than two distinct
    event_types there is no pair to warp — both engines return an
    EMPTY result (Spark filters the null pivot column; the oracle's
    ab CTE requires min(event_type) < max(event_type)) instead of
    silently diverging on a one-type input."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    lim = d.agg(
        F.min("event_type").alias("lo"), F.max("event_type").alias("hi")
    )
    series = (
        d.crossJoin(lim)
        .filter(
            (F.col("event_type") == F.col("lo"))
            | (F.col("event_type") == F.col("hi"))
        )
        .withColumn("which", F.when(F.col("event_type") == F.col("lo"), 0).otherwise(1))
        .groupBy("which")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "y"))).alias("sy")
        )
        .select("which", F.transform("sy", lambda s: s["y"]).alias("arr"))
    )
    ab = (
        series.groupBy()
        .pivot("which", [0, 1])
        .agg(F.first("arr"))
        .select(F.col("0").alias("a"), F.col("1").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    INF = 1 << 50
    dims = ab.select(
        "a", "b",
        F.size("a").cast("long").alias("n"),
        F.size("b").cast("long").alias("m"),
    )
    cells = dims.withColumn(
        "ks", F.sequence(F.lit(0).cast("long"), F.col("n") * F.col("m") - 1)
    )
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), F.col("m").cast("int")),
            lambda _: F.lit(INF).cast("long"),
        ),
    )
    m_col = F.col("m")

    def step(st, k):
        i1 = (k / m_col).cast("long") + 1  # exact: k//m, nonneg ints
        j0 = k % m_col  # 0-based j-1
        cost = F.abs(
            F.element_at(F.col("a"), i1.cast("int"))
            - F.element_at(F.col("b"), (j0 + 1).cast("int"))
        )
        diag = F.when(j0 == 0, F.lit(INF).cast("long")).otherwise(
            F.element_at(st, 1)
        )
        up = F.element_at(st, 2)
        left = F.when(j0 == 0, F.lit(INF).cast("long")).otherwise(
            F.element_at(st, (m_col + 1).cast("int"))
        )
        best = F.when(k == 0, F.lit(0).cast("long")).otherwise(
            F.least(diag, up, left)
        )
        return F.concat(
            F.slice(st, 2, F.size(st) - 1),
            F.array((cost + best).cast("long")),
        )

    out = cells.withColumn("st", F.aggregate("ks", init, step))
    return out.select(
        F.col("n").alias("n_a_days"),
        F.col("m").alias("n_b_days"),
        (
            F.element_at("st", (m_col + 1).cast("int")).cast("double") / 100.0
        ).alias("dtw"),
        (
            F.element_at("st", (m_col + 1).cast("int")).cast("double")
            / 100.0
            / (F.col("n") + F.col("m")).cast("double")
        ).alias("dtw_per_step"),
    )


@register(
    "graph_local_clustering",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    tri AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
            FROM pairs e1
            JOIN pairs e2 ON e2.id1 = e1.id2
            JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
    pt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) t
           GROUP BY 1)
    SELECT deg.node, deg.dg,
           coalesce(pt.n_tri, 0) AS n_tri,
           CAST(2 * coalesce(pt.n_tri, 0) AS DOUBLE)
             / CAST(deg.dg * (deg.dg - 1) AS DOUBLE) AS lcc
    FROM deg LEFT JOIN pt ON pt.node = deg.node
    WHERE deg.dg >= 2
    """,
)
def graph_local_clustering(spark, sf_dir):
    """Per-node local clustering coefficient (Watts & Strogatz,
    Nature 1998) on the near-dup candidate graph: lcc(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) — how close each document's dup neighborhood
    is to a clique (1.0 = a tight duplicate cluster, ~0 = hub-like
    contamination).  One oriented triangle enumeration (each triangle
    counted once per vertex via the 3-way credit union — same kernel
    as graph_triangles) + a degree aggregate; nodes of degree < 2
    have no defined coefficient and are excluded."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    e = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionAll(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("dg")
    )
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    pt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return (
        deg.join(pt, "node", "left")
        .filter(F.col("dg") >= 2)
        .select(
            "node", "dg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            (
                (2 * F.coalesce("n_tri", F.lit(0))).cast("double")
                / (F.col("dg") * (F.col("dg") - 1)).cast("double")
            ).alias("lcc"),
        )
    )


@register(
    "graph_transitivity_ratio",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    w AS (SELECT CAST(SUM(dg * (dg - 1)) AS BIGINT) AS wedges2 FROM deg),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_tri
          FROM pairs e1
          JOIN pairs e2 ON e2.id1 = e1.id2
          JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2)
    SELECT t.n_tri, w.wedges2 // 2 AS n_wedges,
           CAST(6 * t.n_tri AS DOUBLE) / CAST(w.wedges2 AS DOUBLE)
             AS transitivity
    FROM t CROSS JOIN w
    """,
)
def graph_transitivity_ratio(spark, sf_dir):
    """Global transitivity (Newman–Watts–Strogatz): 3 × triangles /
    wedges, the probability that two neighbors of a node are
    themselves connected — the single-number clique-ness of the dup
    graph (contrast with graph_local_clustering's per-node view and
    graph_assortativity's degree mixing).  Triangles from the one
    oriented enumeration; wedges from the degree table alone
    (Σ d(d−1)/2) — no wedge materialization."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    e = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionAll(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("dg")
    )
    w = deg.agg(
        F.sum(F.col("dg") * (F.col("dg") - 1)).cast("long").alias("wedges2")
    )
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    t = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return t.crossJoin(w).select(
        "n_tri",
        ((F.col("wedges2") / 2).cast("long")).alias("n_wedges"),
        (
            (6 * F.col("n_tri")).cast("double")
            # nullif: a wedge-free graph divides by 0 — DuckDB x/0.0
            # is NULL while ANSI Spark throws; keep engines identical
            / F.nullif(F.col("wedges2").cast("double"), F.lit(0.0))
        ).alias("transitivity"),
    )


@register(
    "w_variance_ratio",
    f"""
    WITH {_SQL_DAYSERIES},
    df AS (SELECT a.day, a.rn, a.y - b.y AS dy
           FROM rk a JOIN rk b ON b.rn = a.rn - 1),
    blk AS (SELECT (rn - 2) // 5 AS blk, CAST(SUM(dy) AS BIGINT) AS s5,
                   CAST(count(*) AS BIGINT) AS bn
            FROM df GROUP BY 1),
    m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(dy) AS BIGINT) AS s,
                  CAST(SUM(CAST(floor(CAST(dy AS DOUBLE) * CAST(dy AS DOUBLE)
                                      / 10000.0) AS BIGINT)) AS BIGINT) AS s2s
           FROM df),
    m5 AS (SELECT CAST(count(*) AS BIGINT) AS nb,
                  CAST(SUM(s5) AS BIGINT) AS sb,
                  CAST(SUM(CAST(floor(CAST(s5 AS DOUBLE) * CAST(s5 AS DOUBLE)
                                      / 10000.0) AS BIGINT)) AS BIGINT) AS sb2s
           FROM blk WHERE bn = 5)
    SELECT m1.n AS n_diffs, m5.nb AS n_blocks,
           (CAST(m5.sb2s AS DOUBLE) * 10000.0 / CAST(m5.nb AS DOUBLE)
            - (CAST(m5.sb AS DOUBLE) / CAST(m5.nb AS DOUBLE))
              * (CAST(m5.sb AS DOUBLE) / CAST(m5.nb AS DOUBLE)))
           / (5.0 * (CAST(m1.s2s AS DOUBLE) * 10000.0 / CAST(m1.n AS DOUBLE)
                     - (CAST(m1.s AS DOUBLE) / CAST(m1.n AS DOUBLE))
                       * (CAST(m1.s AS DOUBLE) / CAST(m1.n AS DOUBLE))))
             AS vr_5
    FROM m1 CROSS JOIN m5
    """,
)
def w_variance_ratio(spark, sf_dir):
    """Lo–MacKinlay variance-ratio statistic (RFS 1988) at q = 5 over
    the daily value-total DIFFERENCES: Var of non-overlapping 5-day
    sums over 5× the 1-day variance — 1 under a random walk, > 1
    under momentum, < 1 under mean reversion.  Day diffs are exact
    integers off the D² prefix-sum self-join (_dayseries_rk, bounded
    calendar).  The squared-term sums are floor-scaled to int64
    BEFORE summing (dsum discipline, round-9 ADVICE): each dy² is a
    correctly-rounded double product (bit-identical on both engines
    even past 2⁵³), divided by 10⁴ and floored to a long, so the
    multi-row SUM is an order-independent integer sum — Spark's
    nondeterministic partial-agg order can no longer perturb the
    result.  Scale bound: Σ floor(dy²/10⁴) stays under 2⁶³ through
    ~1000× SF (dy ~10⁸ ⇒ terms ~10¹², ×~2400 days ~10¹⁵); the
    statistic computed is the floor-scaled variant on BOTH engines.
    Partial trailing blocks are excluded (bn = 5) so the block
    variance is over complete 5-day aggregates only."""
    rk = _dayseries_rk(spark, sf_dir)
    a, b = rk.alias("a"), rk.alias("b")
    df = a.join(b, F.col("b.rn") == F.col("a.rn") - 1).select(
        F.col("a.rn").alias("rn"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    blk = df.groupBy(((F.col("rn") - 2) / 5).cast("long").alias("blk")).agg(
        F.sum("dy").cast("long").alias("s5"),
        F.count("*").cast("long").alias("bn"),
    )
    m1 = df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dy").cast("long").alias("s"),
        F.sum(
            F.floor(
                F.col("dy").cast("double") * F.col("dy").cast("double")
                / F.lit(10000.0)
            )
        ).cast("long").alias("s2s"),
    )
    m5 = blk.filter(F.col("bn") == 5).agg(
        F.count("*").cast("long").alias("nb"),
        F.sum("s5").cast("long").alias("sb"),
        F.sum(
            F.floor(
                F.col("s5").cast("double") * F.col("s5").cast("double")
                / F.lit(10000.0)
            )
        ).cast("long").alias("sb2s"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    var5 = dd("sb2s") * 10000.0 / dd("nb") - (dd("sb") / dd("nb")) * (
        dd("sb") / dd("nb")
    )
    var1 = dd("s2s") * 10000.0 / dd("n") - (dd("s") / dd("n")) * (
        dd("s") / dd("n")
    )
    return m1.crossJoin(m5).select(
        F.col("n").alias("n_diffs"),
        F.col("nb").alias("n_blocks"),
        (var5 / (5.0 * var1)).alias("vr_5"),
    )


@register(
    "a_tukey_fences",
    """
    WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c FROM events),
    pc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
    cc AS (SELECT c, t, CAST(SUM(t) OVER (ORDER BY c) AS BIGINT) AS cum
           FROM pc),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    q AS (SELECT
            (SELECT min(c) FROM cc CROSS JOIN tot
             WHERE cum >= (tot.n + 3) // 4) AS q1,
            (SELECT min(c) FROM cc CROSS JOIN tot
             WHERE cum >= (3 * tot.n + 3) // 4) AS q3),
    f AS (SELECT q1, q3,
                 CAST(q1 AS DOUBLE) - 1.5 * CAST(q3 - q1 AS DOUBLE) AS lo,
                 CAST(q3 AS DOUBLE) + 1.5 * CAST(q3 - q1 AS DOUBLE) AS hi
          FROM q)
    SELECT tot.n,
           CAST(f.q1 AS DOUBLE) / 100.0 AS q1,
           CAST(f.q3 AS DOUBLE) / 100.0 AS q3,
           CAST(f.q3 - f.q1 AS DOUBLE) / 100.0 AS iqr,
           f.lo / 100.0 AS lo_fence, f.hi / 100.0 AS hi_fence,
           CAST(SUM(CASE WHEN CAST(v.c AS DOUBLE) < f.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(SUM(CASE WHEN CAST(v.c AS DOUBLE) > f.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers
    FROM v CROSS JOIN f CROSS JOIN tot
    GROUP BY tot.n, f.q1, f.q3, f.lo, f.hi
    """,
)
def a_tukey_fences(spark, sf_dir):
    """Tukey's fences outlier screen (EDA 1977): flag values beyond
    Q1 − 1.5·IQR / Q3 + 1.5·IQR.  Quartiles are EXACT type-1 order
    statistics of integer cents (value at rank ⌈n/4⌉ / ⌈3n/4⌉) read
    off the per-value-count cumulative — the same range-bucketed
    distributed rank as the median queries, never percentile_approx,
    so both engines pick the identical cent and the fences are one
    shared float chain.  Complements a_mad_outliers (median/MAD
    screen) with the quartile formulation every box plot uses."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.floor(F.col("value") * 100).cast("long").alias("c"))
    pc = v.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    cc = ow.bucketed_running(
        ow.monotone_range_bucket(pc, "c"), order_cols=["c"], sum_cols=["t"]
    )
    tot = v.agg(F.count("*").cast("long").alias("n"))
    q1 = (
        cc.crossJoin(tot)
        .filter(F.col("cum_t") >= ((F.col("n") + 3) / 4).cast("long"))
        .agg(F.min("c").cast("long").alias("q1"))
    )
    q3 = (
        cc.crossJoin(tot)
        .filter(F.col("cum_t") >= ((3 * F.col("n") + 3) / 4).cast("long"))
        .agg(F.min("c").cast("long").alias("q3"))
    )
    f = q1.crossJoin(q3).select(
        "q1", "q3",
        (
            F.col("q1").cast("double")
            - 1.5 * (F.col("q3") - F.col("q1")).cast("double")
        ).alias("lo"),
        (
            F.col("q3").cast("double")
            + 1.5 * (F.col("q3") - F.col("q1")).cast("double")
        ).alias("hi"),
    )
    return (
        v.crossJoin(f)
        .crossJoin(tot)
        .groupBy("n", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("c").cast("double") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("c").cast("double") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "n",
            (F.col("q1").cast("double") / 100.0).alias("q1"),
            (F.col("q3").cast("double") / 100.0).alias("q3"),
            ((F.col("q3") - F.col("q1")).cast("double") / 100.0).alias("iqr"),
            (F.col("lo") / 100.0).alias("lo_fence"),
            (F.col("hi") / 100.0).alias("hi_fence"),
            "n_low_outliers", "n_high_outliers",
        )
    )


@register(
    "ops_error_budget_burndown",
    f"""
    WITH de AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(SUM(CASE WHEN value > 450.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_err
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_ev) AS BIGINT) AS n_total FROM de),
    c AS (SELECT a.day, a.n_ev, a.n_err,
                 CAST(SUM(b.n_err) AS BIGINT) AS cum_err,
                 CAST(SUM(b.n_ev) AS BIGINT) AS cum_ev
          FROM de a JOIN de b ON b.day <= a.day
          GROUP BY 1, 2, 3),
    bd AS (SELECT c.*, tot.n_total,
                  CAST(floor(CAST(tot.n_total AS DOUBLE) * 0.002) AS BIGINT)
                    AS budget
           FROM c CROSS JOIN tot)
    SELECT day, n_err, cum_err, cum_ev, budget,
           budget - cum_err AS budget_remaining,
           CAST(CASE WHEN cum_err > budget THEN 1 ELSE 0 END AS BIGINT)
             AS exhausted
    FROM bd
    """,
)
def ops_error_budget_burndown(spark, sf_dir):
    """SRE error-budget burndown (Google SRE Workbook ch. 2): with a
    99.8 % SLO the month's budget is ⌊0.002·N⌋ 'bad' events
    (value > 450 as the bad-event proxy); the curve tracks cumulative
    errors against that fixed budget and flags the day the budget
    exhausts — the burn-DOWN complement to ops_slo_burn_rate's
    windowed burn-rate alerts.  The cumulative is the D² day-grain
    self-join (bounded calendar, no global window); the budget is one
    floor-scaled double product both engines compute identically."""
    ev = load_table(spark, sf_dir, "events")
    de = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("n_ev"),
        F.sum(F.when(F.col("value") > 450.0, 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    tot = de.agg(F.sum("n_ev").cast("long").alias("n_total"))
    a, b = de.alias("a"), de.alias("b")
    c = (
        a.join(b, F.col("b.day") <= F.col("a.day"))
        .groupBy(
            F.col("a.day").alias("day"),
            F.col("a.n_ev").alias("n_ev"),
            F.col("a.n_err").alias("n_err"),
        )
        .agg(
            F.sum("b.n_err").cast("long").alias("cum_err"),
            F.sum("b.n_ev").cast("long").alias("cum_ev"),
        )
    )
    bd = c.crossJoin(tot).withColumn(
        "budget",
        F.floor(F.col("n_total").cast("double") * 0.002).cast("long"),
    )
    return bd.select(
        "day", "n_err", "cum_err", "cum_ev", "budget",
        (F.col("budget") - F.col("cum_err")).alias("budget_remaining"),
        F.when(F.col("cum_err") > F.col("budget"), 1)
        .otherwise(0)
        .cast("long")
        .alias("exhausted"),
    )


# ---------------------------------------------------------------------------
# Round-9 batch D: Wilcoxon signed-rank, PACF lag-2, Matthews
# correlation, vocabulary growth curve, rescaled range (R/S),
# bipartite projection.
# ---------------------------------------------------------------------------


@register(
    "a_wilcoxon_signed_rank",
    """
    WITH h AS (SELECT user_id,
                      CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) <= 15
                                    THEN CAST(floor(value) AS BIGINT)
                                    ELSE 0 END) AS BIGINT) AS x1,
                      CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) > 15
                                    THEN CAST(floor(value) AS BIGINT)
                                    ELSE 0 END) AS BIGINT) AS x2
               FROM events GROUP BY 1),
    d AS (SELECT x2 - x1 AS dv, abs(x2 - x1) AS ad
          FROM h WHERE x2 - x1 <> 0),
    g AS (SELECT ad,
                 CAST(SUM(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS npos,
                 CAST(count(*) AS BIGINT) AS t
          FROM d GROUP BY 1),
    c AS (SELECT ad, npos, t,
                 CAST(SUM(t) OVER (ORDER BY ad) - t AS BIGINT) AS p
          FROM g),
    s AS (SELECT CAST(SUM(npos * (2 * p + t + 1)) AS BIGINT) AS w2p,
                 CAST(SUM(t) AS BIGINT) AS n
          FROM c)
    SELECT n,
           CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
           CAST(n * (n + 1) AS DOUBLE) / 4.0 AS w_expected
    FROM s
    """,
)
def a_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test (Biometrics 1945) — the PAIRED
    counterpart of a_mannwhitney_u: each user's first-half-of-month
    value total vs their second half, zero differences dropped,
    |d| ranked with midranks, W⁺ = rank sum of the positive side
    (E[W⁺] = n(n+1)/4 under symmetry).  Midrank halves stay exact by
    summing 2·rank terms (each tie block at exclusive-below p with t
    ties contributes npos·(2p+t+1) — same integer trick as MWU); the
    one cumulative runs over per-|d| counts via the range-bucketed
    distributed rank."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.dayofmonth(F.col("ts").cast("date")) <= 15,
                F.floor(F.col("value")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x1"),
        F.sum(
            F.when(
                F.dayofmonth(F.col("ts").cast("date")) > 15,
                F.floor(F.col("value")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x2"),
    )
    d = h.select(
        (F.col("x2") - F.col("x1")).alias("dv"),
        F.abs(F.col("x2") - F.col("x1")).alias("ad"),
    ).filter(F.col("dv") != 0)
    g = d.groupBy("ad").agg(
        F.sum(F.when(F.col("dv") > 0, 1).otherwise(0)).cast("long").alias("npos"),
        F.count("*").cast("long").alias("t"),
    )
    c = ow.bucketed_running(
        ow.monotone_range_bucket(g, "ad"), order_cols=["ad"], sum_cols=["t"]
    ).withColumn("p", F.col("cum_t") - F.col("t"))
    s = c.agg(
        F.sum(F.col("npos") * (2 * F.col("p") + F.col("t") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum("t").cast("long").alias("n"),
    )
    return s.select(
        "n",
        (F.col("w2p").cast("double") / 2.0).alias("w_plus"),
        (
            (F.col("n") * (F.col("n") + 1)).cast("double") / 4.0
        ).alias("w_expected"),
    )


@register(
    "w_pacf_lag2",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, x,
             lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    u AS (
      SELECT event_type, 1 AS lag, x AS xa, x1 AS xb FROM lagged
      WHERE x1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, x, x2 FROM lagged WHERE x2 IS NOT NULL),
    m AS (SELECT event_type, lag, count(*) AS n,
                 CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                 CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                 CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                 CAST(SUM(xb * xb) AS BIGINT) AS syy
          FROM u GROUP BY 1, 2),
    r AS (SELECT event_type, lag,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
          FROM m),
    piv AS (SELECT event_type,
                   max(CASE WHEN lag = 1 THEN acf END) AS r1,
                   max(CASE WHEN lag = 2 THEN acf END) AS r2
            FROM r GROUP BY 1)
    SELECT event_type, r1 AS phi11, r2,
           (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
    FROM piv
    """,
)
def w_pacf_lag2(spark, sf_dir):
    """Partial autocorrelation at lag 2 per event_type via the
    closed-form Durbin–Levinson step (Box–Jenkins §3.2.6):
    φ₂₂ = (r₂ − r₁²)/(1 − r₁²) — the AR-order diagnostic that
    separates a true second-order dependence from lag-1 carry-over
    (φ₁₁ = r₁).  The plug-in r's are the lagged-pair Pearson
    coefficients from w_autocorrelation's exact-integer co-moment
    chain (lag-specific means), so φ₂₂ is three float ops on two
    engine-identical doubles.  Shares the one partitioned
    day-ordered window for both leads."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    )
    parts = [
        lagged.filter(F.col(c).isNotNull()).select(
            "event_type",
            F.lit(lag).alias("lag"),
            F.col("x").alias("xa"),
            F.col(c).alias("xb"),
        )
        for lag, c in [(1, "x1"), (2, "x2")]
    ]
    u = parts[0].unionAll(parts[1])
    m = u.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    acf = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        # nullif: constant series → zero std product → NULL like DuckDB
        / F.nullif(
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            * F.sqrt(
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            F.lit(0.0),
        )
    )
    r = m.select("event_type", "lag", acf.alias("acf"))
    piv = r.groupBy("event_type").agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
    )
    return piv.select(
        "event_type",
        F.col("r1").alias("phi11"),
        "r2",
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1"))
        ).alias("phi22"),
    )


@register(
    "ml_matthews_corr",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s
               FROM embeddings),
    st AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n
           FROM e),
    p AS (SELECT y, CASE WHEN e.s * st.n > st.tot THEN 1 ELSE 0 END AS yhat
          FROM e CROSS JOIN st),
    t AS (SELECT
            CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tn
          FROM p)
    SELECT tp, fp, fn, tn,
           CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
             AS mcc
    FROM t
    """,
)
def ml_matthews_corr(spark, sf_dir):
    """Matthews correlation coefficient (Matthews 1975; the
    class-imbalance-robust single-number classifier score) for the
    above-mean-score classifier shared by the ml_confusion_metrics /
    ml_roc_auc family: MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)
    (TN+FN)).  The decision s·n > Σs is exact integer; the four
    margin factors are cast to double BEFORE multiplying (their
    product exceeds int64 at scale) — one identical float chain on
    both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("label") % 2).cast("long").alias("y"), _normsq_col().alias("s")
    )
    st = e.agg(
        F.sum("s").cast("long").alias("tot"), F.count("*").cast("long").alias("n")
    )
    p = e.crossJoin(F.broadcast(st)).select(
        "y",
        F.when(F.col("s") * F.col("n") > F.col("tot"), 1).otherwise(0).alias("yhat"),
    )
    t = p.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return t.select(
        "tp", "fp", "fn", "tn",
        (
            (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("tp") + F.col("fp")).cast("double")
                * (F.col("tp") + F.col("fn")).cast("double")
                * (F.col("tn") + F.col("fp")).cast("double")
                * (F.col("tn") + F.col("fn")).cast("double")
            )
        ).alias("mcc"),
    )


@register(
    "corpus_vocab_growth",
    f"""
    WITH dr AS (SELECT doc_id, {_SQL_TOKS} AS tk,
                       CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
                         AS rn
                FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dr),
    cp AS (SELECT CAST(q AS BIGINT) AS q,
                  CAST((q * tot.n) // 10 AS BIGINT) AS cp_rank
           FROM tot, unnest(generate_series(1, 10)) AS t(q)),
    dt AS (SELECT rn, CAST(len(tk) AS BIGINT) AS ntok FROM dr),
    tk AS (SELECT unnest(tk) AS w, rn FROM dr),
    fr AS (SELECT w, CAST(min(rn) AS BIGINT) AS first_rn FROM tk GROUP BY 1),
    ta AS (SELECT cp.q, CAST(SUM(dt.ntok) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_docs
           FROM cp JOIN dt ON dt.rn <= cp.cp_rank
           GROUP BY 1),
    va AS (SELECT cp.q, CAST(count(*) AS BIGINT) AS vocab
           FROM cp JOIN fr ON fr.first_rn <= cp.cp_rank
           GROUP BY 1)
    SELECT ta.q AS decile, ta.n_docs, ta.n_tokens, va.vocab,
           CAST(va.vocab AS DOUBLE) / CAST(ta.n_tokens AS DOUBLE)
             AS type_token_ratio
    FROM ta JOIN va ON va.q = ta.q
    """,
)
def corpus_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (the empirical Heaps'-law trace,
    Herdan 1960): cumulative distinct lowercased tokens vs cumulative
    token count at each doc-count decile — the curve LLM corpus
    audits read to judge lexical saturation (flattening = new data
    adds tokens but no new words), reported with the type/token
    ratio.  A token's first appearance is min(doc rank) — one
    aggregate over the exploded token table; each decile checkpoint
    then COUNTS first-appearances at-or-before it via a 10-row
    range join (the checkpoint table is a literal dimension, so the
    10× amplification touches only per-doc/per-term 1-row summaries,
    never text).  Doc ranks ride the range-bucketed distributed
    rank, not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    dr = ow.bucketed_running(
        ow.monotone_range_bucket(
            docs.select(
                "doc_id",
                F.transform(text.tokens("text"), F.lower).alias("tk"),
            ),
            "doc_id",
        ),
        order_cols=["doc_id"],
        rn_col="rn",
    )
    tot = dr.agg(F.count("*").cast("long").alias("n"))
    cp = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("q"), "n"
    ).select(
        F.col("q").cast("long").alias("q"),
        ((F.col("q") * F.col("n")) / 10).cast("long").alias("cp_rank"),
    )
    dt = dr.select("rn", F.size("tk").cast("long").alias("ntok"))
    tk = dr.select(F.explode("tk").alias("w"), "rn")
    fr = tk.groupBy("w").agg(F.min("rn").cast("long").alias("first_rn"))
    ta = (
        cp.join(dt, dt["rn"] <= cp["cp_rank"])
        .groupBy("q")
        .agg(
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )
    va = (
        cp.join(fr, fr["first_rn"] <= cp["cp_rank"])
        .groupBy("q")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    return ta.join(va, "q").select(
        F.col("q").alias("decile"),
        "n_docs", "n_tokens", "vocab",
        (
            F.col("vocab").cast("double") / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
    )


@register(
    "w_rescaled_range",
    f"""
    WITH {_SQL_DAYSERIES},
    ws AS (SELECT CAST(w AS BIGINT) AS w
           FROM unnest([4, 8, 16]) AS t(w)),
    blk AS (SELECT ws.w, (rk.rn - 1) // ws.w AS blk, rk.rn, rk.y
            FROM rk CROSS JOIN ws),
    bs AS (SELECT w, blk, rn, y,
                  CAST(SUM(y) OVER (PARTITION BY w, blk ORDER BY rn)
                       AS BIGINT) AS pf,
                  CAST(row_number() OVER (PARTITION BY w, blk ORDER BY rn)
                       AS BIGINT) AS j,
                  CAST(SUM(y) OVER (PARTITION BY w, blk) AS BIGINT) AS sb,
                  CAST(SUM(y * y) OVER (PARTITION BY w, blk) AS BIGINT)
                    AS s2b,
                  CAST(count(*) OVER (PARTITION BY w, blk) AS BIGINT) AS bn
           FROM blk),
    cd AS (SELECT w, blk, sb, s2b,
                  CAST(max(w * pf - j * sb) AS BIGINT) AS maxcd,
                  CAST(min(w * pf - j * sb) AS BIGINT) AS mincd
           FROM bs WHERE bn = w
           GROUP BY 1, 2, 3, 4),
    rs AS (SELECT w,
                  CAST(floor(CAST(maxcd - mincd AS DOUBLE)
                             / sqrt(CAST(w AS DOUBLE) * CAST(s2b AS DOUBLE)
                                    - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                             * 1000000.0) AS BIGINT) AS rs_sc
           FROM cd
           WHERE w * s2b - sb * sb > 0)
    SELECT w AS window_size,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(SUM(rs_sc) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)
             AS rs_mean
    FROM rs GROUP BY 1
    """,
)
def w_rescaled_range(spark, sf_dir):
    """Rescaled-range (R/S) statistic (Hurst 1951; Mandelbrot & Wallis
    1969) of the daily value series at block sizes 4/8/16: per
    complete block, R = range of the mean-centered cumulative sums
    and S = population std, averaged per window size — the raw trace
    long-memory analyses fit the Hurst exponent to (the log-log fit
    itself needs ln, banned for parity; the R/S levels are the
    engine-exact part).  Centered cumulatives stay INTEGER by scaling
    through the block size (w·cumdev_j = w·prefix_j − j·S_b), so R/S
    is one division by one sqrt per block, floor-scaled ×10⁶ before
    the cross-block mean (dsum); zero-variance blocks are excluded
    on an exact integer predicate.  All windows are partitioned by
    (w, block) — ≤ 16 rows each, never a global sort."""
    rk = _dayseries_rk(spark, sf_dir)
    ws = (
        spark.range(1)
        .select(F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("w0"))
        .select(F.col("w0").cast("long").alias("w"))
    )
    blk = rk.crossJoin(ws).select(
        "w", "rn", "y", ((F.col("rn") - 1) / F.col("w")).cast("long").alias("blk")
    )
    wb = Window.partitionBy("w", "blk")
    wbo = wb.orderBy("rn")
    bs = blk.select(
        "w", "blk", "y",
        F.sum("y").over(wbo).cast("long").alias("pf"),
        F.row_number().over(wbo).cast("long").alias("j"),
        F.sum("y").over(wb).cast("long").alias("sb"),
        F.sum(F.col("y") * F.col("y")).over(wb).cast("long").alias("s2b"),
        F.count("*").over(wb).cast("long").alias("bn"),
    )
    cd = (
        bs.filter(F.col("bn") == F.col("w"))
        .groupBy("w", "blk", "sb", "s2b")
        .agg(
            F.max(F.col("w") * F.col("pf") - F.col("j") * F.col("sb"))
            .cast("long")
            .alias("maxcd"),
            F.min(F.col("w") * F.col("pf") - F.col("j") * F.col("sb"))
            .cast("long")
            .alias("mincd"),
        )
    )
    rs = cd.filter(
        F.col("w") * F.col("s2b") - F.col("sb") * F.col("sb") > 0
    ).select(
        "w",
        F.floor(
            (F.col("maxcd") - F.col("mincd")).cast("double")
            / F.sqrt(
                F.col("w").cast("double") * F.col("s2b").cast("double")
                - F.col("sb").cast("double") * F.col("sb").cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("rs_sc"),
    )
    return rs.groupBy(F.col("w").alias("window_size")).agg(
        F.count("*").cast("long").alias("n_blocks"),
        (
            F.sum("rs_sc").cast("double")
            / 1e6
            / F.count("*").cast("double")
        ).alias("rs_mean"),
    )


@register(
    "graph_bipartite_projection",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    nt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
           FROM ut GROUP BY 1),
    pr AS (SELECT a.event_type AS t1, b.event_type AS t2,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM ut a JOIN ut b ON b.user_id = a.user_id
                              AND a.event_type < b.event_type
           GROUP BY 1, 2)
    SELECT pr.t1, pr.t2, pr.n_common, na.n_users AS n_t1, nb.n_users AS n_t2,
           CAST(pr.n_common AS DOUBLE)
             / CAST(least(na.n_users, nb.n_users) AS DOUBLE)
             AS overlap_coef
    FROM pr JOIN nt na ON na.event_type = pr.t1
            JOIN nt nb ON nb.event_type = pr.t2
    """,
)
def graph_bipartite_projection(spark, sf_dir):
    """Bipartite user–event_type graph projected onto the type side
    (Newman, Phys. Rev. E 2001 §B): edge weight = users exhibiting
    BOTH types, normalized by the overlap coefficient
    w/min(n₁, n₂) — the co-engagement matrix recommender and
    taxonomy analyses start from.  The projection joins the
    DISTINCT (user, type) incidence with itself on user — with k
    types the blow-up is ≤ k(k−1)/2 rows per user, bounded by the
    type dimension, never |users|²."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nt = ut.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    pr = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    na = nt.select(F.col("event_type").alias("t1"), F.col("n_users").alias("n_t1"))
    nb = nt.select(F.col("event_type").alias("t2"), F.col("n_users").alias("n_t2"))
    return (
        pr.join(na, "t1")
        .join(nb, "t2")
        .select(
            "t1", "t2", "n_common", "n_t1", "n_t2",
            (
                F.col("n_common").cast("double")
                / F.least("n_t1", "n_t2").cast("double")
            ).alias("overlap_coef"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 wave 2 (behind the full 50-slot window; r10 backlog):
# Theil's U2, Goodman–Kruskal gamma + Somers' D, Yule's K, mean
# crossings, Cohen's kappa, two-sample Cramér–von Mises.
# ---------------------------------------------------------------------------


@register(
    "w_theil_u2",
    f"""
    WITH {_SQL_DAYSERIES},
    j AS (SELECT a.rn, a.y, b.y AS y1, c.y AS y7
          FROM rk a
          JOIN rk b ON b.rn = a.rn - 1
          JOIN rk c ON c.rn = a.rn - 7),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM((y - y7) * (y - y7)) AS BIGINT) AS sse_s,
                 CAST(SUM((y - y1) * (y - y1)) AS BIGINT) AS sse_n
          FROM j)
    SELECT n AS n_scored_days,
           sqrt(CAST(sse_s AS DOUBLE)) / sqrt(CAST(sse_n AS DOUBLE)) AS u2,
           CAST(sse_s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mse_seasonal,
           CAST(sse_n AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mse_naive
    FROM m WHERE sse_n > 0
    """,
)
def w_theil_u2(spark, sf_dir):
    """Theil's U2 forecast-quality ratio (Theil, Applied Economic
    Forecasting 1966): RMSE of the same-weekday-last-week forecast
    over RMSE of the naive carry-forward, on the SAME scored days —
    U2 < 1 means the weekly seasonal signal genuinely beats
    persistence (the accuracy twin of w_seasonal_naive_mape's level
    view).  Both squared-error sums are exact integers off the
    bounded-calendar rank self-join; the ratio is two sqrts of
    int-valued doubles.  MSEs are /10⁴ back to value² units."""
    rk = _dayseries_rk(spark, sf_dir)
    a, b, c = rk.alias("a"), rk.alias("b"), rk.alias("c")
    j = (
        a.join(b, F.col("b.rn") == F.col("a.rn") - 1)
        .join(c, F.col("c.rn") == F.col("a.rn") - 7)
        .select(
            F.col("a.y").alias("y"),
            F.col("b.y").alias("y1"),
            F.col("c.y").alias("y7"),
        )
    )
    m = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("y") - F.col("y7")) * (F.col("y") - F.col("y7")))
        .cast("long")
        .alias("sse_s"),
        F.sum((F.col("y") - F.col("y1")) * (F.col("y") - F.col("y1")))
        .cast("long")
        .alias("sse_n"),
    )
    return m.filter(F.col("sse_n") > 0).select(
        F.col("n").alias("n_scored_days"),
        (
            F.sqrt(F.col("sse_s").cast("double"))
            / F.sqrt(F.col("sse_n").cast("double"))
        ).alias("u2"),
        (
            F.col("sse_s").cast("double") / F.col("n").cast("double") / 1e4
        ).alias("mse_seasonal"),
        (
            F.col("sse_n").cast("double") / F.col("n").cast("double") / 1e4
        ).alias("mse_naive"),
    )


@register(
    "a_gamma_somers",
    """
    WITH v AS (SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS x,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events),
    pc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
    cc AS (SELECT c, CAST(SUM(t) OVER (ORDER BY c) AS BIGINT) AS cum
           FROM pc),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    cuts AS (SELECT
               (SELECT min(c) FROM cc CROSS JOIN tot
                WHERE cum >= (tot.n + 2) // 3) AS c1,
               (SELECT min(c) FROM cc CROSS JOIN tot
                WHERE cum >= (2 * tot.n + 2) // 3) AS c2),
    cells AS (SELECT v.x,
                     CAST(CASE WHEN v.c <= cuts.c1 THEN 0
                               WHEN v.c <= cuts.c2 THEN 1 ELSE 2 END
                          AS BIGINT) AS yv,
                     CAST(count(*) AS BIGINT) AS nc
              FROM v CROSS JOIN cuts GROUP BY 1, 2),
    pp AS (SELECT CAST(SUM(a.nc * b.nc) FILTER (
                    WHERE (b.x > a.x AND b.yv > a.yv)) AS BIGINT) AS conc,
                  CAST(SUM(a.nc * b.nc) FILTER (
                    WHERE (b.x > a.x AND b.yv < a.yv)) AS BIGINT) AS disc,
                  CAST(SUM(a.nc * b.nc) FILTER (
                    WHERE (b.x > a.x AND b.yv = a.yv)) AS BIGINT) AS tie_y
           FROM cells a CROSS JOIN cells b)
    SELECT conc AS n_concordant, disc AS n_discordant, tie_y AS n_tied_y,
           CAST(conc - disc AS DOUBLE) / CAST(conc + disc AS DOUBLE)
             AS gk_gamma,
           CAST(conc - disc AS DOUBLE)
             / CAST(conc + disc + tie_y AS DOUBLE) AS somers_dyx
    FROM pp
    """,
)
def a_gamma_somers(spark, sf_dir):
    """Goodman–Kruskal γ (JASA 1954) and Somers' D_yx (ASR 1962)
    between weekday (x, ordinal 1–7) and value tercile (y, exact
    type-1 tercile cuts of integer cents via the distributed rank):
    γ = (C−D)/(C+D) ignores ties, Somers' D additionally charges
    pairs tied on y — the ordinal-association pair every
    cross-tabulated funnel analysis reports.  Pair counts come from
    the 7×3 CELL table joined with itself (441 cell pairs, bounded
    by the dimensions) — the n² observation pairs never materialize.
    Strictness note: C counts b.x > a.x once per ordered cell pair,
    which enumerates each unordered observation pair exactly once."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("x"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    pc = v.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    cc = ow.bucketed_running(
        ow.monotone_range_bucket(pc, "c"), order_cols=["c"], sum_cols=["t"]
    )
    tot = v.agg(F.count("*").cast("long").alias("n"))
    c1 = (
        cc.crossJoin(tot)
        .filter(F.col("cum_t") >= ((F.col("n") + 2) / 3).cast("long"))
        .agg(F.min("c").cast("long").alias("c1"))
    )
    c2 = (
        cc.crossJoin(tot)
        .filter(F.col("cum_t") >= ((2 * F.col("n") + 2) / 3).cast("long"))
        .agg(F.min("c").cast("long").alias("c2"))
    )
    cells = (
        v.crossJoin(c1.crossJoin(c2))
        .select(
            "x",
            F.when(F.col("c") <= F.col("c1"), 0)
            .when(F.col("c") <= F.col("c2"), 1)
            .otherwise(2)
            .cast("long")
            .alias("yv"),
        )
        .groupBy("x", "yv")
        .agg(F.count("*").cast("long").alias("nc"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pp = a.crossJoin(b).agg(
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.yv") > F.col("a.yv")),
                F.col("a.nc") * F.col("b.nc"),
            )
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.yv") < F.col("a.yv")),
                F.col("a.nc") * F.col("b.nc"),
            )
        )
        .cast("long")
        .alias("disc"),
        F.sum(
            F.when(
                (F.col("b.x") > F.col("a.x")) & (F.col("b.yv") == F.col("a.yv")),
                F.col("a.nc") * F.col("b.nc"),
            )
        )
        .cast("long")
        .alias("tie_y"),
    )
    return pp.select(
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.col("tie_y").alias("n_tied_y"),
        (
            (F.col("conc") - F.col("disc")).cast("double")
            / (F.col("conc") + F.col("disc")).cast("double")
        ).alias("gk_gamma"),
        (
            (F.col("conc") - F.col("disc")).cast("double")
            / (F.col("conc") + F.col("disc") + F.col("tie_y")).cast("double")
        ).alias("somers_dyx"),
    )


@register(
    "text_yule_k",
    f"""
    WITH tk AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents),
    tf AS (SELECT w, CAST(count(*) AS BIGINT) AS m FROM tk GROUP BY 1),
    sp AS (SELECT m, CAST(count(*) AS BIGINT) AS vm FROM tf GROUP BY 1),
    s AS (SELECT CAST(SUM(m * vm) AS BIGINT) AS n,
                 CAST(SUM(vm) AS BIGINT) AS v,
                 CAST(SUM(m * m * vm) AS BIGINT) AS s2
          FROM sp)
    SELECT n AS n_tokens, v AS n_types,
           10000.0 * CAST(s2 - n AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS yule_k,
           CAST(v AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS guiraud_r
    FROM s
    """,
)
def text_yule_k(spark, sf_dir):
    """Yule's characteristic K (Yule, The Statistical Study of
    Literary Vocabulary 1944) and Guiraud's R — the two classic
    length-robust lexical-diversity indices LLM corpus audits use
    where raw type/token ratio misleads: K = 10⁴·(Σ m²V_m − N)/N²
    over the frequency SPECTRUM V_m (how many types occur exactly m
    times), R = V/√N.  The spectrum is two stacked aggregates over
    the exploded token table (term counts, then counts-of-counts) —
    all integers until the two closing divisions; no logs needed
    (unlike Herdan's C, excluded: ln is banned for parity)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        F.explode(F.transform(text.tokens("text"), F.lower)).alias("w")
    )
    tf = tk.groupBy("w").agg(F.count("*").cast("long").alias("m"))
    sp = tf.groupBy("m").agg(F.count("*").cast("long").alias("vm"))
    s = sp.agg(
        F.sum(F.col("m") * F.col("vm")).cast("long").alias("n"),
        F.sum("vm").cast("long").alias("v"),
        F.sum(F.col("m") * F.col("m") * F.col("vm")).cast("long").alias("s2"),
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        (
            F.lit(10000.0)
            * (F.col("s2") - F.col("n")).cast("double")
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        ).alias("yule_k"),
        (F.col("v").cast("double") / F.sqrt(F.col("n").cast("double"))).alias(
            "guiraud_r"
        ),
    )


@register(
    "w_mean_crossings",
    """
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS BIGINT) AS s
           FROM d GROUP BY 1),
    rk AS (SELECT d.event_type, d.y, st.n, st.s,
                  CAST(row_number() OVER (PARTITION BY d.event_type
                                          ORDER BY d.day) AS BIGINT) AS rn
           FROM d JOIN st ON st.event_type = d.event_type),
    pr AS (SELECT a.event_type, a.n,
                  CAST(a.n * a.y - a.s AS BIGINT) AS da,
                  CAST(b.n * b.y - b.s AS BIGINT) AS db
           FROM rk a JOIN rk b ON b.event_type = a.event_type
                              AND b.rn = a.rn - 1),
    c AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
                 CAST(SUM(CASE WHEN CAST(da AS DOUBLE) * CAST(db AS DOUBLE)
                                    < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_crossings
          FROM pr GROUP BY 1)
    SELECT event_type, n_days, n_crossings,
           CAST(n_crossings AS DOUBLE) / CAST(n_days - 1 AS DOUBLE)
             AS crossing_rate
    FROM c
    """,
)
def w_mean_crossings(spark, sf_dir):
    """Mean-crossing rate of each event_type's daily series — the
    zero-crossing oscillation diagnostic (an iid noise series crosses
    its mean ~half the steps; a trending series almost never): count
    adjacent day pairs where (y − ȳ) strictly changes sign.  The
    mean never materializes: n·y − S is the exact integer sign
    carrier, and the sign product is evaluated on DOUBLES (the
    int×int product can exceed int64 at 100× SF; only the sign is
    consumed, so correctly-rounded double multiply is exact enough on
    both engines).  Adjacent pairs via the partitioned day rank
    self-join on the bounded calendar."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    rk = d.join(st, "event_type").select(
        "event_type", "y", "n", "s",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("rn"),
    )
    a, b = rk.alias("a"), rk.alias("b")
    pr = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.rn") == F.col("a.rn") - 1),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n"),
        (F.col("a.n") * F.col("a.y") - F.col("a.s")).cast("long").alias("da"),
        (F.col("b.n") * F.col("b.y") - F.col("b.s")).cast("long").alias("db"),
    )
    c = pr.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("da").cast("double") * F.col("db").cast("double") < 0.0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_crossings"),
    )
    return c.select(
        "event_type", "n_days", "n_crossings",
        (
            F.col("n_crossings").cast("double")
            / (F.col("n_days") - 1).cast("double")
        ).alias("crossing_rate"),
    )


@register(
    "ml_cohens_kappa",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s,
                      CAST(CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0
                                THEN 1 ELSE 0 END AS BIGINT) AS rb
               FROM embeddings),
    st AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n
           FROM e),
    p AS (SELECT CAST(CASE WHEN e.s * st.n > st.tot THEN 1 ELSE 0 END
                      AS BIGINT) AS ra,
                 rb
          FROM e CROSS JOIN st),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT)
                   AS agree,
                 CAST(SUM(ra) AS BIGINT) AS a1,
                 CAST(SUM(rb) AS BIGINT) AS b1
          FROM p)
    SELECT n, agree, a1 AS n_pos_a, b1 AS n_pos_b,
           CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
           CAST(n * agree - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
             / CAST(n * n - a1 * b1 - (n - a1) * (n - b1) AS DOUBLE)
             AS kappa
    FROM t
    """,
)
def ml_cohens_kappa(spark, sf_dir):
    """Cohen's κ inter-rater agreement (EPM 1960) between the two
    deterministic embedding 'raters' of the classifier-eval family —
    rater A: above-mean squared norm (the shared exact-integer
    decision), rater B: first coordinate positive — κ = (p_o − p_e)/
    (1 − p_e) with chance agreement from the margins.  Kept to ONE
    division by scaling through n²: κ = (n·agree − a₁b₁ −
    a₀b₀)/(n² − a₁b₁ − a₀b₀), all int64.  The honest use: checking
    whether two cheap heuristic labelers agree beyond chance before
    trusting either for weak supervision."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        _normsq_col().alias("s"),
        F.when(F.element_at(F.col("embedding"), 1).cast("double") > 0.0, 1)
        .otherwise(0)
        .cast("long")
        .alias("rb"),
    )
    st = e.agg(
        F.sum("s").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    p = e.crossJoin(F.broadcast(st)).select(
        F.when(F.col("s") * F.col("n") > F.col("tot"), 1)
        .otherwise(0)
        .cast("long")
        .alias("ra"),
        "rb",
    )
    t = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum("ra").cast("long").alias("a1"),
        F.sum("rb").cast("long").alias("b1"),
    )
    pe2 = F.col("a1") * F.col("b1") + (F.col("n") - F.col("a1")) * (
        F.col("n") - F.col("b1")
    )
    return t.select(
        "n", "agree",
        F.col("a1").alias("n_pos_a"),
        F.col("b1").alias("n_pos_b"),
        (F.col("agree").cast("double") / F.col("n").cast("double")).alias(
            "p_observed"
        ),
        (
            (F.col("n") * F.col("agree") - pe2).cast("double")
            / (F.col("n") * F.col("n") - pe2).cast("double")
        ).alias("kappa"),
    )


@register(
    "a_cramer_von_mises",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    g AS (SELECT x,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na_x,
                 CAST(count(*) AS BIGINT) AS t
          FROM u GROUP BY 1),
    c AS (SELECT x, na_x, t,
                 CAST(SUM(na_x) OVER (ORDER BY x) AS BIGINT) AS cuma,
                 CAST(SUM(t - na_x) OVER (ORDER BY x) AS BIGINT) AS cumb
          FROM g),
    m AS (SELECT CAST(SUM(na_x) AS BIGINT) AS na,
                 CAST(SUM(t - na_x) AS BIGINT) AS nb
          FROM g),
    s AS (SELECT CAST(SUM(c.t * (c.cuma * m.nb - c.cumb * m.na)
                            * (c.cuma * m.nb - c.cumb * m.na)) AS BIGINT)
                   AS num,
                 CAST(max(m.na) AS BIGINT) AS na,
                 CAST(max(m.nb) AS BIGINT) AS nb
          FROM c CROSS JOIN m)
    SELECT na AS n_a, nb AS n_b,
           CAST(num AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE))
             AS cvm_t
    FROM s
    """,
)
def a_cramer_von_mises(spark, sf_dir):
    """Two-sample Cramér–von Mises criterion (Anderson, AMS 1962)
    between the md5 arms over per-user totals: T = (n_a·n_b/N²)·
    Σ_pooled (F_a − F_b)² — the whole-distribution complement to
    a_ks_test's supremum (CvM integrates every ECDF gap, so it sees
    spread differences KS can miss).  Each pooled point's gap is the
    exact integer cuma·n_b − cumb·n_a (common-denominator trick), so
    the statistic is one integer sum and ONE closing division —
    bitwise on both engines.  Same per-value-counts + distributed
    cumulative shape as the rest of the rank-test family."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    u = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x")
    )
    g = u.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na_x"),
        F.count("*").cast("long").alias("t"),
    ).withColumn("nb_x", F.col("t") - F.col("na_x"))
    c = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"),
        order_cols=["x"],
        sum_cols=["na_x", "nb_x"],
    )
    m = g.agg(
        F.sum("na_x").cast("long").alias("na"),
        F.sum("nb_x").cast("long").alias("nb"),
    )
    gap = F.col("cum_na_x") * F.col("nb") - F.col("cum_nb_x") * F.col("na")
    s = c.crossJoin(m).agg(
        F.sum(F.col("t") * gap * gap).cast("long").alias("num"),
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        (
            F.col("num").cast("double")
            / (
                F.col("na").cast("double")
                * F.col("nb").cast("double")
                * (F.col("na") + F.col("nb")).cast("double")
                * (F.col("na") + F.col("nb")).cast("double")
            )
        ).alias("cvm_t"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 3: b-bit minhash audit, Sakoe–Chiba banded DTW, Apdex.
# ---------------------------------------------------------------------------


def _bbit_minhash_oracle() -> str:
    bit = lambda t, i: (  # noqa: E731 — parity of the slot's low hex digit
        f"((strpos('0123456789abcdef', substr({t}.m{i}, 8, 1)) - 1) % 2)"
    )
    bagree = " + ".join(
        f"CASE WHEN {bit('a', i)} = {bit('b', i)} THEN 1 ELSE 0 END"
        for i in range(16)
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"""
    {_minhash_pairs_cte()},
    ds AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY 1),
    inter AS (SELECT p.id1, p.id2, CAST(count(*) AS BIGINT) AS i
              FROM pairs p
              JOIN ds d1 ON d1.doc_id = p.id1
              JOIN ds d2 ON d2.doc_id = p.id2 AND d2.s = d1.s
              GROUP BY 1, 2)
    SELECT p.id1, p.id2,
           CAST({bagree} AS BIGINT) AS n_bit_agree,
           2.0 * (CAST({bagree} AS DOUBLE) / 16.0) - 1.0 AS est_jaccard_1bit,
           CAST({agree} AS DOUBLE) / 16.0 AS est_jaccard_full,
           CAST(coalesce(i.i, 0) AS DOUBLE)
             / CAST(s1.n + s2.n - coalesce(i.i, 0) AS DOUBLE) AS exact_jaccard
    FROM pairs p
    JOIN sig a ON a.doc_id = p.id1
    JOIN sig b ON b.doc_id = p.id2
    JOIN sz s1 ON s1.doc_id = p.id1
    JOIN sz s2 ON s2.doc_id = p.id2
    LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
    """


@register("dedup_bbit_minhash_audit", _bbit_minhash_oracle())
def dedup_bbit_minhash_audit(spark, sf_dir):
    """b-bit MinHash audit (Li & König, WWW 2010): store only ONE bit
    per minhash slot (the hash's low bit — 16× less signature storage)
    and estimate Jaccard as Ĵ₁ = 2·(c/k) − 1, where c counts bit
    agreements and the −1 removes the ½ chance-collision floor.  For
    every LSH candidate pair the query reports Ĵ₁ next to the
    full-slot estimate and the exact shingle Jaccard — the trade
    curve (same expectation, ~2× the variance at J≈0.5) that decides
    whether a 100 TB signature store can drop to bits.  Reuses the
    cached signature table for banding, bit extraction, and the
    full-slot estimate in one pass; exact Jaccards stay bucket-
    bounded."""
    docs = _docs_with_dupes(spark, sf_dir)
    sig = ldedup._track_cache(
        ldedup.minhash_signature_table(
            docs, "doc_id", "text", num_hashes=16,
            min_parallelism=local_fanout(spark),
        ).persist()
    )
    pairs = ldedup._track_cache(
        ldedup.lsh_pairs_from_signatures(sig, num_hashes=16, bands=4).persist()
    )
    # exact Jaccard per candidate, verified ROW-LOCALLY over per-doc
    # distinct-shingle arrays (size(array_intersect) == the old explode
    # + shingle-string equi-join + count; the PPJoin verify idiom —
    # shingle strings never shuffle).  The array table is SEMI-REDUCED
    # to docs that appear in some candidate pair BEFORE the shingle
    # arrays are built (broadcasting / caching array payloads for the
    # whole corpus measured 5× slower than the exploded string join it
    # replaced; reduced to pair members it is strictly cheaper).
    # size ≥ 1 mirrors the old inner join on the exploded size table,
    # which dropped shingle-less docs.
    pdocs = pairs.select(F.explode(F.array("id1", "id2")).alias("doc")).distinct()
    sets = ldedup._track_cache(
        docs.select(F.col("doc_id").alias("doc"), "text")
        .join(pdocs, "doc", "left_semi")
        .select("doc", F.array_distinct(text.shingles("text", 3)).alias("shs"))
        .filter(F.size("shs") >= 1)
        .persist()
    )
    sa = sig.select(
        F.col("doc").alias("id1"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc").alias("id2"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(16)],
    )

    def bit(c):
        return F.conv(F.substring(F.col(c), 8, 1), 16, 10).cast("long") % 2

    bagree = sum(
        F.when(bit(f"a{i}") == bit(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(16)
    )
    ii = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    return (
        pairs.join(sa, "id1")
        .join(sb, "id2")
        .join(
            sets.select(F.col("doc").alias("id1"), F.col("shs").alias("__sa")),
            "id1",
        )
        .join(
            sets.select(F.col("doc").alias("id2"), F.col("shs").alias("__sb")),
            "id2",
        )
        .withColumn("n1", F.size("__sa").cast("long"))
        .withColumn("n2", F.size("__sb").cast("long"))
        .select(
            "id1", "id2",
            bagree.cast("long").alias("n_bit_agree"),
            (
                F.lit(2.0) * (bagree.cast("double") / 16.0) - 1.0
            ).alias("est_jaccard_1bit"),
            (agree.cast("double") / 16.0).alias("est_jaccard_full"),
            (
                ii.cast("double")
                / (F.col("n1") + F.col("n2") - ii).cast("double")
            ).alias("exact_jaccard"),
        )
    )


@register(
    "w_dtw_banded",
    """
    WITH RECURSIVE dd AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    ab AS (SELECT
             (SELECT list(y ORDER BY day) FROM dd
              WHERE event_type = (SELECT min(event_type) FROM dd)) AS a,
             (SELECT list(y ORDER BY day) FROM dd
              WHERE event_type = (SELECT max(event_type) FROM dd)) AS b
           WHERE (SELECT min(event_type) FROM dd)
               < (SELECT max(event_type) FROM dd)),
    dims AS (SELECT a, b, CAST(len(a) AS BIGINT) AS n,
                    CAST(len(b) AS BIGINT) AS m
             FROM ab),
    h AS (
      SELECT CAST(0 AS BIGINT) AS k, n, m, a, b,
             [CAST(0 AS BIGINT)]
               || list_transform(range(1, CAST(m AS INT) + 1),
                                 x -> CAST(1125899906842624 AS BIGINT))
               AS st
      FROM dims
      UNION ALL
      SELECT h.k + 1, h.n, h.m, h.a, h.b,
             h.st[2:] || [
               CASE WHEN abs((h.k // h.m) + 1 - ((h.k % h.m) + 1)) > 8
                    THEN CAST(1125899906842624 AS BIGINT)
                    ELSE
               abs(h.a[CAST((h.k // h.m) + 1 AS INT)]
                   - h.b[CAST((h.k % h.m) + 1 AS INT)])
               + CASE WHEN h.k = 0 THEN CAST(0 AS BIGINT)
                      ELSE least(
                        CASE WHEN h.k % h.m = 0
                             THEN CAST(1125899906842624 AS BIGINT)
                             ELSE h.st[1] END,
                        h.st[2],
                        CASE WHEN h.k % h.m = 0
                             THEN CAST(1125899906842624 AS BIGINT)
                             ELSE h.st[CAST(h.m + 1 AS INT)] END)
               END END]
      FROM h WHERE h.k < h.n * h.m)
    SELECT n AS n_a_days, m AS n_b_days, CAST(8 AS BIGINT) AS band_width,
           CAST(st[CAST(m + 1 AS INT)] AS DOUBLE) / 100.0 AS dtw_banded
    FROM h WHERE k = n * m
    """,
)
def w_dtw_banded(spark, sf_dir):
    """Sakoe–Chiba BANDED DTW (IEEE TASSP 1978 §III) — the scale path
    w_dtw_distance's docstring names: cells with |i−j| > 8 take the
    2⁵⁰ boundary sentinel instead of a real cost, so the warping path
    cannot drift more than 8 days and the effective work drops from
    n·m to n·(2w+1) (at a multi-year grain this is the difference
    between D² and linear-in-D cells; the fold here still walks the
    row-major sequence but adds no arithmetic for masked cells).
    Identical integer fold/recursion as the full-grid twin; the
    banded distance is ≥ the unconstrained one by construction
    (test-asserted).  Same <2-distinct-event_types degenerate guard
    as w_dtw_distance: empty result on BOTH engines."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    lim = d.agg(
        F.min("event_type").alias("lo"), F.max("event_type").alias("hi")
    )
    series = (
        d.crossJoin(lim)
        .filter(
            (F.col("event_type") == F.col("lo"))
            | (F.col("event_type") == F.col("hi"))
        )
        .withColumn("which", F.when(F.col("event_type") == F.col("lo"), 0).otherwise(1))
        .groupBy("which")
        .agg(F.array_sort(F.collect_list(F.struct("day", "y"))).alias("sy"))
        .select("which", F.transform("sy", lambda s: s["y"]).alias("arr"))
    )
    ab = (
        series.groupBy()
        .pivot("which", [0, 1])
        .agg(F.first("arr"))
        .select(F.col("0").alias("a"), F.col("1").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    INF = 1 << 50
    dims = ab.select(
        "a", "b",
        F.size("a").cast("long").alias("n"),
        F.size("b").cast("long").alias("m"),
    )
    cells = dims.withColumn(
        "ks", F.sequence(F.lit(0).cast("long"), F.col("n") * F.col("m") - 1)
    )
    init = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(
            F.sequence(F.lit(1), F.col("m").cast("int")),
            lambda _: F.lit(INF).cast("long"),
        ),
    )
    m_col = F.col("m")

    def step(st, k):
        i1 = (k / m_col).cast("long") + 1
        j0 = k % m_col
        cost = F.abs(
            F.element_at(F.col("a"), i1.cast("int"))
            - F.element_at(F.col("b"), (j0 + 1).cast("int"))
        )
        diag = F.when(j0 == 0, F.lit(INF).cast("long")).otherwise(
            F.element_at(st, 1)
        )
        up = F.element_at(st, 2)
        left = F.when(j0 == 0, F.lit(INF).cast("long")).otherwise(
            F.element_at(st, (m_col + 1).cast("int"))
        )
        best = F.when(k == 0, F.lit(0).cast("long")).otherwise(
            F.least(diag, up, left)
        )
        inband = F.abs(i1 - (j0 + 1)) <= 8
        newc = F.when(inband, (cost + best).cast("long")).otherwise(
            F.lit(INF).cast("long")
        )
        return F.concat(F.slice(st, 2, F.size(st) - 1), F.array(newc))

    out = cells.withColumn("st", F.aggregate("ks", init, step))
    return out.select(
        F.col("n").alias("n_a_days"),
        F.col("m").alias("n_b_days"),
        F.lit(8).cast("long").alias("band_width"),
        (
            F.element_at("st", (m_col + 1).cast("int")).cast("double") / 100.0
        ).alias("dtw_banded"),
    )


@register(
    "ops_apdex_score",
    """
    WITH v AS (SELECT event_type, value FROM events),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_satisfied,
                 CAST(SUM(CASE WHEN value > 100.0 AND value <= 400.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating
          FROM v GROUP BY 1)
    SELECT event_type, n, n_satisfied, n_tolerating,
           n - n_satisfied - n_tolerating AS n_frustrated,
           CAST(2 * n_satisfied + n_tolerating AS DOUBLE)
             / CAST(2 * n AS DOUBLE) AS apdex
    FROM s
    """,
)
def ops_apdex_score(spark, sf_dir):
    """Apdex score per stream (Apdex Alliance spec, Sevcik 2005):
    (satisfied + tolerating/2)/total with the standard T / 4T
    thresholds (T = 100 here, value as the latency proxy) — the
    industry-standard one-number UX summary next to
    a_sla_percentiles' tail view.  Halves stay exact by scaling the
    ratio to (2·sat + tol)/(2·n) — one integer-exact division.  One
    aggregate, fully pushed down."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("value") <= 100.0, 1).otherwise(0))
        .cast("long")
        .alias("n_satisfied"),
        F.sum(
            F.when((F.col("value") > 100.0) & (F.col("value") <= 400.0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_tolerating"),
    )
    return s.select(
        "event_type", "n", "n_satisfied", "n_tolerating",
        (F.col("n") - F.col("n_satisfied") - F.col("n_tolerating")).alias(
            "n_frustrated"
        ),
        (
            (2 * F.col("n_satisfied") + F.col("n_tolerating")).cast("double")
            / (2 * F.col("n")).cast("double")
        ).alias("apdex"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 4: Mann–Kendall trend, Durbin–Watson, up/down runs,
# Tukey median polish.
# ---------------------------------------------------------------------------


@register(
    "a_mann_kendall",
    f"""
    WITH {_SQL_DAYSERIES},
    p AS (SELECT CASE WHEN b.y > a.y THEN 1
                      WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
          FROM rk a JOIN rk b ON b.rn > a.rn),
    s AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM p),
    tg AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM rk GROUP BY 1),
    vt AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj,
                  CAST(SUM(t) AS BIGINT) AS n
           FROM tg)
    SELECT vt.n, s.s_stat,
           CAST(s.s_stat AS DOUBLE) / CAST(s.n_pairs AS DOUBLE) AS kendall_tau_a,
           (CAST(vt.n * (vt.n - 1) AS DOUBLE) * CAST(2 * vt.n + 5 AS DOUBLE)
            - CAST(vt.tie_adj AS DOUBLE)) / 18.0 AS var_s,
           (CAST(s.s_stat AS DOUBLE)
            - CASE WHEN s.s_stat > 0 THEN 1.0
                   WHEN s.s_stat < 0 THEN -1.0 ELSE 0.0 END)
             / sqrt((CAST(vt.n * (vt.n - 1) AS DOUBLE)
                     * CAST(2 * vt.n + 5 AS DOUBLE)
                     - CAST(vt.tie_adj AS DOUBLE)) / 18.0) AS z_mk
    FROM s CROSS JOIN vt
    """,
)
def a_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotonic-trend test (Mann 1945; Kendall 1975 —
    the WMO-standard nonparametric trend detector for environmental /
    ops series): S = Σ_{i<j} sign(y_j − y_i) over the daily value
    totals, variance with the exact tie correction
    Var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, and the
    continuity-corrected z.  S and the tie sums are pure integers off
    the bounded-calendar D² rank join (D ≤ 31 ⇒ ≤ 465 pairs; the
    day-grain envelope every detector in this family shares); z is
    one float chain both engines evaluate identically.  Complements
    a_theil_sen_daily (the slope MK tests the significance of)."""
    rk = _dayseries_rk(spark, sf_dir)
    a, b = rk.alias("a"), rk.alias("b")
    p = a.join(b, F.col("b.rn") > F.col("a.rn")).select(
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    s = p.agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    tg = rk.groupBy("y").agg(F.count("*").cast("long").alias("t"))
    vt = tg.agg(
        F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
        .cast("long")
        .alias("tie_adj"),
        F.sum("t").cast("long").alias("n"),
    )
    var_s = (
        (F.col("n") * (F.col("n") - 1)).cast("double")
        * (2 * F.col("n") + 5).cast("double")
        - F.col("tie_adj").cast("double")
    ) / 18.0
    cc = (
        F.when(F.col("s_stat") > 0, F.lit(1.0))
        .when(F.col("s_stat") < 0, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    return s.crossJoin(vt).select(
        "n", "s_stat",
        (
            F.col("s_stat").cast("double") / F.col("n_pairs").cast("double")
        ).alias("kendall_tau_a"),
        var_s.alias("var_s"),
        ((F.col("s_stat").cast("double") - cc) / F.sqrt(var_s)).alias("z_mk"),
    )


@register(
    "a_durbin_watson",
    f"""
    WITH {_SQL_DAYSERIES},
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(rn) AS BIGINT) AS si,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(rn * rn) AS BIGINT) AS sii,
                 CAST(SUM(rn * y) AS BIGINT) AS siy
          FROM rk),
    e AS (SELECT rk.rn,
                 CAST(rk.y AS DOUBLE)
                 - ((CAST(m.sii AS DOUBLE) * CAST(m.sy AS DOUBLE)
                     - CAST(m.si AS DOUBLE) * CAST(m.siy AS DOUBLE))
                    + (CAST(m.n AS DOUBLE) * CAST(m.siy AS DOUBLE)
                       - CAST(m.si AS DOUBLE) * CAST(m.sy AS DOUBLE))
                      * CAST(rk.rn AS DOUBLE))
                   / (CAST(m.n AS DOUBLE) * CAST(m.sii AS DOUBLE)
                      - CAST(m.si AS DOUBLE) * CAST(m.si AS DOUBLE)) AS ee
          FROM rk CROSS JOIN m),
    sq AS (SELECT CAST(SUM(CAST(floor(ee * ee * 100.0) AS BIGINT)) AS BIGINT)
                    AS sse
           FROM e),
    dq AS (SELECT CAST(SUM(CAST(floor((b.ee - a.ee) * (b.ee - a.ee) * 100.0)
                               AS BIGINT)) AS BIGINT) AS ssd,
                  CAST(count(*) AS BIGINT) AS n_diffs
           FROM e a JOIN e b ON b.rn = a.rn + 1)
    SELECT dq.n_diffs + 1 AS n_days,
           CAST(dq.ssd AS DOUBLE) / CAST(sq.sse AS DOUBLE) AS dw
    FROM sq CROSS JOIN dq
    """,
)
def a_durbin_watson(spark, sf_dir):
    """Durbin–Watson autocorrelation statistic (Biometrika 1950) on
    the residuals of the daily value series' OLS time trend:
    DW = Σ(e_t − e_{t−1})²/Σe_t² — ≈2 under independence, →0 under
    positive serial correlation (the regression-diagnostics twin of
    w_autocorrelation's raw ACF).  The trend is the closed-form OLS
    fit from exact integer moments; residuals are ONE identical float
    chain, and both squared sums are floor-scaled ×10² integers
    before summing (dsum) so the ratio is addition-order-free.  Day
    grain bounded; adjacent pairs via the rank self-join."""
    rk = _dayseries_rk(spark, sf_dir)
    m = rk.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rn").cast("long").alias("si"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("rn") * F.col("rn")).cast("long").alias("sii"),
        F.sum(F.col("rn") * F.col("y")).cast("long").alias("siy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    denom = dd("n") * dd("sii") - dd("si") * dd("si")
    a0 = dd("sii") * dd("sy") - dd("si") * dd("siy")
    b0 = dd("n") * dd("siy") - dd("si") * dd("sy")
    e = rk.crossJoin(m).select(
        "rn",
        (
            F.col("y").cast("double")
            - (a0 + b0 * F.col("rn").cast("double")) / denom
        ).alias("ee"),
    )
    sq = e.agg(
        F.sum(F.floor(F.col("ee") * F.col("ee") * 100.0).cast("long"))
        .cast("long")
        .alias("sse")
    )
    ea, eb = e.alias("a"), e.alias("b")
    dq = ea.join(eb, F.col("b.rn") == F.col("a.rn") + 1).agg(
        F.sum(
            F.floor(
                (F.col("b.ee") - F.col("a.ee"))
                * (F.col("b.ee") - F.col("a.ee"))
                * 100.0
            ).cast("long")
        )
        .cast("long")
        .alias("ssd"),
        F.count("*").cast("long").alias("n_diffs"),
    )
    return sq.crossJoin(dq).select(
        (F.col("n_diffs") + 1).alias("n_days"),
        (F.col("ssd").cast("double") / F.col("sse").cast("double")).alias("dw"),
    )


@register(
    "w_runs_up_down",
    f"""
    WITH {_SQL_DAYSERIES},
    df AS (SELECT a.rn,
                  CASE WHEN a.y > b.y THEN 1
                       WHEN a.y < b.y THEN -1 ELSE 0 END AS mv
           FROM rk a JOIN rk b ON b.rn = a.rn - 1),
    nz AS (SELECT rn, mv,
                  CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS k
           FROM df WHERE mv <> 0),
    ch AS (SELECT CAST(SUM(CASE WHEN b.mv <> a.mv THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_changes
           FROM nz a JOIN nz b ON b.k = a.k + 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_moves,
                 CAST(SUM(CASE WHEN mv = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up
          FROM nz)
    SELECT s.n_moves, s.n_up, s.n_moves - s.n_up AS n_down,
           ch.n_changes + 1 AS n_runs,
           CAST(2 * s.n_moves + 1 AS DOUBLE) / 3.0 AS runs_expected,
           (CAST(ch.n_changes + 1 AS DOUBLE)
            - CAST(2 * s.n_moves + 1 AS DOUBLE) / 3.0)
             / sqrt(CAST(16 * s.n_moves - 13 AS DOUBLE) / 90.0) AS z_runs
    FROM s CROSS JOIN ch
    """,
)
def w_runs_up_down(spark, sf_dir):
    """Runs-up-and-down randomness test (Wallis & Moore, JASA 1941;
    the DIRECTION-based complement of a_runs_test's above/below-median
    runs): count maximal runs of consecutive rises/falls in the daily
    series; under iid, E[runs] = (2m+1)/3 and Var = (16m−13)/90 over
    m nonzero moves — too FEW runs = trending, too many = oscillating
    (pairs with w_mean_crossings).  Zero moves (exact ties) are
    dropped per the classical treatment; run count = direction
    changes + 1 via the adjacent self-join on the bounded move
    sequence — integers until the closing z."""
    rk = _dayseries_rk(spark, sf_dir)
    a, b = rk.alias("a"), rk.alias("b")
    df = a.join(b, F.col("b.rn") == F.col("a.rn") - 1).select(
        F.col("a.rn").alias("rn"),
        F.when(F.col("a.y") > F.col("b.y"), 1)
        .when(F.col("a.y") < F.col("b.y"), -1)
        .otherwise(0)
        .alias("mv"),
    )
    nz = df.filter(F.col("mv") != 0).select(
        "mv",
        F.row_number()
        .over(Window.orderBy("rn"))
        .cast("long")
        .alias("k"),
    )
    na, nb = nz.alias("a"), nz.alias("b")
    ch = na.join(nb, F.col("b.k") == F.col("a.k") + 1).agg(
        F.sum(F.when(F.col("b.mv") != F.col("a.mv"), 1).otherwise(0))
        .cast("long")
        .alias("n_changes")
    )
    s = nz.agg(
        F.count("*").cast("long").alias("n_moves"),
        F.sum(F.when(F.col("mv") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
    )
    exp = (2 * F.col("n_moves") + 1).cast("double") / 3.0
    return s.crossJoin(ch).select(
        "n_moves", "n_up",
        (F.col("n_moves") - F.col("n_up")).alias("n_down"),
        (F.col("n_changes") + 1).alias("n_runs"),
        exp.alias("runs_expected"),
        (
            ((F.col("n_changes") + 1).cast("double") - exp)
            / F.sqrt((16 * F.col("n_moves") - 13).cast("double") / 90.0)
        ).alias("z_runs"),
    )


def _median_polish_oracle() -> str:
    # one row sweep then one column sweep, lower medians of integer
    # cents; unrolled as CTE stages exactly like the Spark plan
    return """
    WITH cell AS (SELECT event_type AS r,
                         CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS c,
                         CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                              AS BIGINT) AS v
                  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    rmed AS (SELECT r, CAST(min(v2) AS BIGINT) AS re FROM (
               SELECT r, v AS v2,
                      CAST(row_number() OVER (PARTITION BY r ORDER BY v, c)
                           AS BIGINT) AS k,
                      CAST(count(*) OVER (PARTITION BY r) AS BIGINT) AS n
               FROM cell) t
             WHERE k = (n + 1) // 2 GROUP BY 1),
    s1 AS (SELECT cell.r, cell.c, cell.v - rmed.re AS v, rmed.re
           FROM cell JOIN rmed ON rmed.r = cell.r),
    cmed AS (SELECT c, CAST(min(v2) AS BIGINT) AS ce FROM (
               SELECT c, v AS v2,
                      CAST(row_number() OVER (PARTITION BY c ORDER BY v, r)
                           AS BIGINT) AS k,
                      CAST(count(*) OVER (PARTITION BY c) AS BIGINT) AS n
               FROM s1) t
             WHERE k = (n + 1) // 2 GROUP BY 1)
    SELECT s1.r AS event_type, s1.c AS dow,
           CAST(s1.re AS DOUBLE) / 100.0 AS row_effect,
           CAST(cmed.ce AS DOUBLE) / 100.0 AS col_effect,
           CAST(s1.v - cmed.ce AS DOUBLE) / 100.0 AS residual
    FROM s1 JOIN cmed ON cmed.c = s1.c
    """


@register("a_median_polish", _median_polish_oracle())
def a_median_polish(spark, sf_dir):
    """Tukey's median polish (EDA 1977, ch. 11) on the event_type ×
    weekday total-value table: one row sweep then one column sweep of
    LOWER-median removal — the robust two-way decomposition
    value ≈ row effect + column effect + residual that median-based
    ANOVA tables start from (a full polish iterates to convergence;
    one row+column pass is the driver-replayable unrolling, exact on
    both engines because every median is an order statistic of
    integer cents picked by a partitioned rank with a full tiebreak).
    The grid is |types|·7 cells — bounded dimensions, so the
    partitioned windows never see data-scale rows.  NULL values are
    excluded symmetrically: an all-NULL cell's v would sort NULLS
    FIRST in Spark / NULLS LAST in DuckDB and shift the median picks
    (r13 null-probe find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = ev.groupBy(
        F.col("event_type").alias("r"),
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("c"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )

    def lower_median(df, part, orderkey, out):
        w = Window.partitionBy(part).orderBy("v", orderkey)
        t = df.select(
            part, "v",
            F.row_number().over(w).cast("long").alias("k"),
            F.count("*").over(Window.partitionBy(part)).cast("long").alias("n"),
        )
        return (
            t.filter(F.col("k") == ((F.col("n") + 1) / 2).cast("long"))
            .groupBy(part)
            .agg(F.min("v").cast("long").alias(out))
        )

    rmed = lower_median(cell, "r", "c", "re")
    s1 = cell.join(rmed, "r").select(
        "r", "c", (F.col("v") - F.col("re")).alias("v"), "re"
    )
    cmed = lower_median(s1, "c", "r", "ce")
    return s1.join(cmed, "c").select(
        F.col("r").alias("event_type"),
        F.col("c").alias("dow"),
        (F.col("re").cast("double") / 100.0).alias("row_effect"),
        (F.col("ce").cast("double") / 100.0).alias("col_effect"),
        ((F.col("v") - F.col("ce")).cast("double") / 100.0).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 5: systematic sampling, trimmed mean, Bowley skewness,
# Ichimoku midlines, multimodal container dispatch stats.
# ---------------------------------------------------------------------------


@register(
    "o9_systematic_sample",
    """
    WITH u AS (SELECT user_id,
                      CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
               FROM events GROUP BY 1),
    r AS (SELECT user_id, x,
                 CAST(row_number() OVER (ORDER BY user_id) AS BIGINT) AS rn
          FROM u),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_pop,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(CASE WHEN rn % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sample,
                 CAST(SUM(CASE WHEN rn % 10 = 3 THEN x ELSE 0 END) AS BIGINT)
                   AS ssx
          FROM r)
    SELECT n_pop, n_sample,
           n_pop // 10 AS expected_lo,
           (n_pop + 9) // 10 AS expected_hi,
           CAST(sx AS DOUBLE) / CAST(n_pop AS DOUBLE) AS pop_mean,
           CAST(ssx AS DOUBLE) / CAST(n_sample AS DOUBLE) AS sample_mean
    FROM s
    """,
)
def o9_systematic_sample(spark, sf_dir):
    """Systematic (every k-th) sampling with a fixed offset (Madow &
    Madow, AMS 1944): rank users by key, keep rank ≡ 3 (mod 10) — the
    deterministic interval sample warehouse audits use when md5
    sampling (o8) must instead be evenly spread along a sort order.
    The rank rides the range-bucketed distributed rank; the audit row
    reports sample size against its ⌊n/k⌋..⌈n/k⌉ bound and the
    sample-vs-population mean — the estimator this design keeps
    unbiased under any monotone trend in the key."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x")
    )
    r = ow.bucketed_running(
        ow.monotone_range_bucket(u, "user_id"),
        order_cols=["user_id"],
        rn_col="rn",
    )
    s = r.agg(
        F.count("*").cast("long").alias("n_pop"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.when(F.col("rn") % 10 == 3, 1).otherwise(0))
        .cast("long")
        .alias("n_sample"),
        F.sum(F.when(F.col("rn") % 10 == 3, F.col("x")).otherwise(0))
        .cast("long")
        .alias("ssx"),
    )
    return s.select(
        "n_pop", "n_sample",
        (F.col("n_pop") / 10).cast("long").alias("expected_lo"),
        ((F.col("n_pop") + 9) / 10).cast("long").alias("expected_hi"),
        (F.col("sx").cast("double") / F.col("n_pop").cast("double")).alias(
            "pop_mean"
        ),
        (F.col("ssx").cast("double") / F.col("n_sample").cast("double")).alias(
            "sample_mean"
        ),
    )


@register(
    "a_trimmed_mean",
    """
    WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c FROM events),
    pc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
    cc AS (SELECT c, t, CAST(SUM(t) OVER (ORDER BY c) AS BIGINT) AS cum
           FROM pc),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) // 10 AS BIGINT) AS k
            FROM v),
    kept AS (SELECT cc.c,
                    greatest(CAST(0 AS BIGINT),
                             least(cc.cum, tot.n - tot.k)
                             - greatest(cc.cum - cc.t, tot.k)) AS kc
             FROM cc CROSS JOIN tot),
    s AS (SELECT CAST(SUM(c * kc) AS BIGINT) AS sk,
                 CAST(SUM(kc) AS BIGINT) AS nk
          FROM kept)
    SELECT tot.n, tot.k, s.nk AS n_kept,
           CAST(s.sk AS DOUBLE) / CAST(s.nk AS DOUBLE) / 100.0
             AS trimmed_mean,
           CAST(tot2.sx AS DOUBLE) / CAST(tot.n AS DOUBLE) / 100.0
             AS raw_mean
    FROM s CROSS JOIN tot
    CROSS JOIN (SELECT CAST(SUM(c) AS BIGINT) AS sx FROM v) tot2
    """,
)
def a_trimmed_mean(spark, sf_dir):
    """10 % symmetric trimmed mean of the value column (the classical
    robust location estimator between mean and median; Tukey &
    McLaughlin 1963): drop the k = ⌊n/10⌋ smallest and largest
    observations, average the rest.  No sort materializes: each
    distinct cent value keeps max(0, min(cum, n−k) − max(cum−t, k))
    of its t copies — pure integer clamps against the per-value
    cumulative from the range-bucketed distributed rank — and the
    mean is one closing division.  Reported next to the raw mean so
    the trim's effect is visible (complements a_winsorized_mean,
    which CLAMPS the tails instead of dropping them)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.floor(F.col("value") * 100).cast("long").alias("c"))
    pc = v.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    cc = ow.bucketed_running(
        ow.monotone_range_bucket(pc, "c"), order_cols=["c"], sum_cols=["t"]
    )
    tot = v.agg(
        F.count("*").cast("long").alias("n"),
        (F.count("*") / 10).cast("long").alias("k"),
        F.sum("c").cast("long").alias("sx"),
    )
    kept = cc.crossJoin(tot).select(
        "c", "n", "k", "sx",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.col("cum_t"), F.col("n") - F.col("k"))
            - F.greatest(F.col("cum_t") - F.col("t"), F.col("k")),
        ).alias("kc"),
    )
    s = kept.groupBy("n", "k", "sx").agg(
        F.sum(F.col("c") * F.col("kc")).cast("long").alias("sk"),
        F.sum("kc").cast("long").alias("nk"),
    )
    return s.select(
        "n", "k",
        F.col("nk").alias("n_kept"),
        (
            F.col("sk").cast("double") / F.col("nk").cast("double") / 100.0
        ).alias("trimmed_mean"),
        (
            F.col("sx").cast("double") / F.col("n").cast("double") / 100.0
        ).alias("raw_mean"),
    )


@register(
    "a_bowley_skew",
    """
    WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS c FROM events),
    pc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
    cc AS (SELECT c, CAST(SUM(t) OVER (ORDER BY c) AS BIGINT) AS cum
           FROM pc),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    q AS (SELECT
            (SELECT min(c) FROM cc CROSS JOIN tot
             WHERE cum >= (tot.n + 3) // 4) AS q1,
            (SELECT min(c) FROM cc CROSS JOIN tot
             WHERE cum >= (tot.n + 1) // 2) AS q2,
            (SELECT min(c) FROM cc CROSS JOIN tot
             WHERE cum >= (3 * tot.n + 3) // 4) AS q3)
    SELECT CAST(q1 AS DOUBLE) / 100.0 AS q1,
           CAST(q2 AS DOUBLE) / 100.0 AS median,
           CAST(q3 AS DOUBLE) / 100.0 AS q3,
           CAST(q1 + q3 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
             AS bowley_skew
    FROM q WHERE q3 > q1
    """,
)
def a_bowley_skew(spark, sf_dir):
    """Bowley's quartile skewness (Elements of Statistics 1901):
    (Q1 + Q3 − 2·median)/(Q3 − Q1) — the outlier-immune skewness in
    [−1, 1] that moment-based a_skew_kurtosis can't give on
    heavy-tailed data.  All three quartiles are exact type-1 order
    statistics of integer cents off ONE per-value cumulative (shared
    scan, three rank probes); one float division at the end.
    Degenerate IQR (Q3 = Q1) yields no row rather than a NaN."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.floor(F.col("value") * 100).cast("long").alias("c"))
    pc = v.groupBy("c").agg(F.count("*").cast("long").alias("t"))
    cc = ow.bucketed_running(
        ow.monotone_range_bucket(pc, "c"), order_cols=["c"], sum_cols=["t"]
    )
    tot = v.agg(F.count("*").cast("long").alias("n"))

    def probe(expr, name):
        return (
            cc.crossJoin(tot)
            .filter(F.col("cum_t") >= expr.cast("long"))
            .agg(F.min("c").cast("long").alias(name))
        )

    q1 = probe((F.col("n") + 3) / 4, "q1")
    q2 = probe((F.col("n") + 1) / 2, "q2")
    q3 = probe((3 * F.col("n") + 3) / 4, "q3")
    q = q1.crossJoin(q2).crossJoin(q3)
    return q.filter(F.col("q3") > F.col("q1")).select(
        (F.col("q1").cast("double") / 100.0).alias("q1"),
        (F.col("q2").cast("double") / 100.0).alias("median"),
        (F.col("q3").cast("double") / 100.0).alias("q3"),
        (
            (F.col("q1") + F.col("q3") - 2 * F.col("q2")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double")
        ).alias("bowley_skew"),
    )


@register(
    "w_ichimoku_lines",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, p,
                 CAST(max(p) OVER w5 AS BIGINT) AS hi5,
                 CAST(min(p) OVER w5 AS BIGINT) AS lo5,
                 CAST(count(*) OVER w5 AS BIGINT) AS n5,
                 CAST(max(p) OVER w15 AS BIGINT) AS hi15,
                 CAST(min(p) OVER w15 AS BIGINT) AS lo15,
                 CAST(count(*) OVER w15 AS BIGINT) AS n15
          FROM bars
          WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                 w15 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 14 PRECEDING AND CURRENT ROW))
    SELECT event_type, day,
           CAST(hi5 + lo5 AS DOUBLE) / 2.0 / 100.0 AS tenkan,
           CAST(hi15 + lo15 AS DOUBLE) / 2.0 / 100.0 AS kijun,
           CAST(CASE WHEN CAST(hi5 + lo5 AS DOUBLE) / 2.0
                          > CAST(hi15 + lo15 AS DOUBLE) / 2.0
                     THEN 1 ELSE 0 END AS BIGINT) AS bullish
    FROM r WHERE n5 = 5 AND n15 = 15
    """,
)
def w_ichimoku_lines(spark, sf_dir):
    """Ichimoku conversion/base midlines (Hosoda; periods scaled 5/15
    for the one-month day-grain fixture — the classical 9/26 needs a
    longer calendar): tenkan = (5-day high + low)/2, kijun = 15-day
    analogue, plus the bullish tenkan>kijun cross state — rolling
    MIDPOINT channels, the third member of the rolling-extrema family
    next to Donchian breakouts (extrema vs prior window) and
    Bollinger (mean ± σ).  Integer highs/lows from partitioned rowed
    frames; the midpoint halves are exact (int + int over 2.0).
    Rows require both frames full so the lines are well-defined."""
    bars = _bars(spark, sf_dir)
    w5 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-4, 0)
    w15 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-14, 0)
    r = bars.select(
        "event_type", "day", "p",
        F.max("p").over(w5).cast("long").alias("hi5"),
        F.min("p").over(w5).cast("long").alias("lo5"),
        F.count("*").over(w5).cast("long").alias("n5"),
        F.max("p").over(w15).cast("long").alias("hi15"),
        F.min("p").over(w15).cast("long").alias("lo15"),
        F.count("*").over(w15).cast("long").alias("n15"),
    )
    tenkan = (F.col("hi5") + F.col("lo5")).cast("double") / 2.0
    kijun = (F.col("hi15") + F.col("lo15")).cast("double") / 2.0
    return r.filter((F.col("n5") == 5) & (F.col("n15") == 15)).select(
        "event_type", "day",
        (tenkan / 100.0).alias("tenkan"),
        (kijun / 100.0).alias("kijun"),
        F.when(tenkan > kijun, 1).otherwise(0).cast("long").alias("bullish"),
    )


@register(
    "multimodal_container_stats",
    f"""
    WITH {_SQL_DOCS2},
    p AS (SELECT doc_id, encode(text) AS payload FROM docs2
          WHERE text IS NOT NULL),
    b AS (SELECT doc_id,
                 CAST(octet_length(payload) AS BIGINT) AS n_bytes,
                 {_sql_hex_int("substr(lower(hex(payload)), 1, 2)", 2)}
                   AS b0
          FROM p),
    c AS (SELECT CASE WHEN b0 < 58 THEN 'digit_or_symbol'
                      WHEN b0 < 91 THEN 'upper'
                      WHEN b0 < 123 THEN 'lower'
                      ELSE 'high_byte' END AS container,
                 n_bytes
          FROM b)
    SELECT container,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes,
           CAST(SUM(n_bytes) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS mean_bytes
    FROM c GROUP BY 1
    """,
)
def multimodal_container_stats(spark, sf_dir):
    """Magic-byte container dispatch over opaque binary payloads —
    the zero-decode first pass of every media pipeline (JPEG ff d8,
    PNG 89 50, RIFF 52 49 …): classify each payload by its FIRST BYTE
    and report per-container count/volume stats for capacity planning
    and corrupt-container triage.  Only the first byte and the length
    leave the binary column (both JVM-side expressions; payload bytes
    never shuffle); the byte comes through lowercase hex so both
    engines read the identical integer (DuckDB has no BLOB
    indexing-to-int).  The synthetic payloads are UTF-8 text, so the
    classes here are byte-range buckets — the dispatch skeleton is
    what a real magic-byte table plugs into.  NULL-text docs have no
    payload row (binarize drops them; the oracle filters identically —
    a NULL b0 used to land in the high_byte ELSE bucket, r13
    null-probe find)."""
    from dicomdb_spark.llm import multimodal as mm

    payloads = mm.binarize(_docs_with_dupes(spark, sf_dir))
    b0 = F.conv(
        F.substring(F.lower(F.hex(F.col("payload"))), 1, 2), 16, 10
    ).cast("long")
    b = payloads.select(
        F.length(F.col("payload")).cast("long").alias("n_bytes"),
        b0.alias("b0"),
    )
    c = b.select(
        F.when(F.col("b0") < 58, "digit_or_symbol")
        .when(F.col("b0") < 91, "upper")
        .when(F.col("b0") < 123, "lower")
        .otherwise("high_byte")
        .alias("container"),
        "n_bytes",
    )
    return c.groupBy("container").agg(
        F.count("*").cast("long").alias("n_payloads"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("n_bytes").cast("long").alias("min_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
        (
            F.sum("n_bytes").cast("double") / F.count("*").cast("double")
        ).alias("mean_bytes"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 6: Kaplan–Meier survival curve, l-diversity audit.
# ---------------------------------------------------------------------------


@register(
    "w_kaplan_meier",
    """
    WITH RECURSIVE ud AS (
      SELECT user_id, CAST(min(CAST(ts AS DATE)) AS DATE) AS d0,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS dl,
             CAST(min(CASE WHEN event_type = 'purchase'
                           THEN CAST(ts AS DATE) END) AS DATE) AS dp
      FROM events GROUP BY 1),
    u AS (SELECT CAST(datediff('day', d0, coalesce(dp, dl)) AS BIGINT) AS dur,
                 CAST(CASE WHEN dp IS NULL THEN 1 ELSE 0 END AS BIGINT)
                   AS cens
          FROM ud),
    pd AS (SELECT dur,
                  CAST(SUM(1 - cens) AS BIGINT) AS d,
                  CAST(count(*) AS BIGINT) AS n_all
           FROM u GROUP BY 1),
    rk AS (SELECT a.dur, a.d,
                  CAST(SUM(CASE WHEN b.dur >= a.dur THEN b.n_all ELSE 0 END)
                       AS BIGINT) AS n_risk
           FROM pd a CROSS JOIN pd b
           GROUP BY 1, 2),
    evd AS (SELECT dur, d, n_risk FROM rk WHERE d > 0),
    er AS (SELECT a.dur, a.d, a.n_risk,
                  CAST(count(*) AS BIGINT) AS rn
           FROM evd a JOIN evd b ON b.dur <= a.dur
           GROUP BY 1, 2, 3),
    km AS (
      SELECT rn, dur, d, n_risk,
             1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS s
      FROM er WHERE rn = 1
      UNION ALL
      SELECT e.rn, e.dur, e.d, e.n_risk,
             km.s * (1.0 - CAST(e.d AS DOUBLE) / CAST(e.n_risk AS DOUBLE))
      FROM km JOIN er e ON e.rn = km.rn + 1)
    SELECT dur AS t_days, n_risk, d AS n_events, s AS s_km
    FROM km
    """,
)
def w_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier survival estimator (JASA 1958) for
    time-to-first-purchase: duration = days from a user's first event
    to their first 'purchase', RIGHT-CENSORED at last-seen for users
    who never purchase; at each event time Ŝ(t) multiplies down by
    (1 − d_i/n_i) over the at-risk set.  The
    running PRODUCT is the one float chain that must stay sequential:
    Spark folds the sorted (≤ |days|) event-time array with a
    struct(s, rows) accumulator, DuckDB replays the identical
    multiplication order in a linear recursive CTE — same doubles,
    bitwise.  At-risk counts and event ranks come from the bounded
    duration-grain self-joins (no global window); the user-grain
    aggregate is the only data-scale pass.  Complements
    a_survival_hazard's per-day hazard with the canonical curve."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("dl"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("dp"),
    )
    u = ud.select(
        F.datediff(F.coalesce("dp", "dl"), "d0").cast("long").alias("dur"),
        F.when(F.col("dp").isNull(), 1).otherwise(0).cast("long").alias("cens"),
    )
    pd_ = u.groupBy("dur").agg(
        F.sum(1 - F.col("cens")).cast("long").alias("d"),
        F.count("*").cast("long").alias("n_all"),
    )
    a, b = pd_.alias("a"), pd_.alias("b")
    rk = (
        a.crossJoin(b)
        .groupBy(F.col("a.dur").alias("dur"), F.col("a.d").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("b.dur") >= F.col("a.dur"), F.col("b.n_all"))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_risk")
        )
    )
    evd = rk.filter(F.col("d") > 0)
    ea, eb = evd.alias("a"), evd.alias("b")
    er = (
        ea.join(eb, F.col("b.dur") <= F.col("a.dur"))
        .groupBy(
            F.col("a.dur").alias("dur"),
            F.col("a.d").alias("d"),
            F.col("a.n_risk").alias("n_risk"),
        )
        .agg(F.count("*").cast("long").alias("rn"))
    )
    arr = er.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "dur", "d", "n_risk"))
        ).alias("xs")
    )
    init = F.struct(
        F.lit(1.0).alias("s"),
        F.array().cast(
            "array<struct<t_days:bigint,n_risk:bigint,n_events:bigint,s_km:double>>"
        ).alias("out"),
    )

    def step(acc, x):
        s_new = acc["s"] * (
            F.lit(1.0) - x["d"].cast("double") / x["n_risk"].cast("double")
        )
        row = F.struct(
            x["dur"].alias("t_days"),
            x["n_risk"].alias("n_risk"),
            x["d"].alias("n_events"),
            s_new.alias("s_km"),
        )
        return F.struct(
            s_new.alias("s"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = arr.select(F.aggregate("xs", init, step).alias("st"))
    return folded.select(F.explode(F.col("st")["out"]).alias("r")).select(
        F.col("r.t_days").alias("t_days"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.s_km").alias("s_km"),
    )


@register(
    "a_l_diversity",
    """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
                      CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                      CAST(count(*) AS BIGINT) AS k,
                      CAST(count(DISTINCT c_custkey % 7) AS BIGINT) AS l
               FROM customer GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
    b AS (SELECT CASE WHEN l = 1 THEN 'l=1'
                      WHEN l < 3 THEN 'l=2'
                      WHEN l < 5 THEN 'l=3-4'
                      ELSE 'l>=5' END AS l_bucket,
                 CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(SUM(k) AS BIGINT) AS n_records
          FROM q GROUP BY 1)
    SELECT l_bucket, n_groups, n_records,
           CAST(n_records * 100 AS DOUBLE) / CAST(tot.n AS DOUBLE)
             AS pct_records
    FROM b CROSS JOIN tot
    """,
)
def a_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) — the
    k-anonymity follow-up: an equivalence class can be large (k-safe)
    yet still leak if every member shares the SENSITIVE value, so we
    count DISTINCT sensitive values per QI class (same QI tuple as
    a_kanonymity_risk; sensitive attribute = the custkey mod-7 cohort
    standing in for a real sensitive column) and bucket classes by
    l ∈ {1, 2, 3–4, ≥5}.  Classes at l=1 are homogeneous — the
    disclosure k-anonymity misses.  One distinct-aggregate on the QI
    tuple, constant-size rollup, 1-row total."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.groupBy(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct(F.col("c_custkey") % 7).cast("long").alias("l"),
    )
    tot = cust.agg(F.count("*").cast("long").alias("n"))
    bucket = (
        F.when(F.col("l") == 1, "l=1")
        .when(F.col("l") < 3, "l=2")
        .when(F.col("l") < 5, "l=3-4")
        .otherwise("l>=5")
    )
    b = q.groupBy(bucket.alias("l_bucket")).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_records"),
    )
    return b.crossJoin(tot).select(
        "l_bucket", "n_groups", "n_records",
        (
            (F.col("n_records") * 100).cast("double")
            / F.col("n").cast("double")
        ).alias("pct_records"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 7: sentence-level dedup, negative-binomial
# overdispersion fit.
# ---------------------------------------------------------------------------


@register(
    "text_sentence_dedup",
    """
    WITH s0 AS (SELECT doc_id,
                       unnest(string_split_regex(text, '[.!?]')) AS raw
                FROM documents),
    s AS (SELECT doc_id, md5(trim(raw)) AS sh
          FROM s0 WHERE length(trim(raw)) >= 20),
    sc AS (SELECT sh, CAST(count(*) AS BIGINT) AS n_occ,
                  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM s GROUP BY 1),
    pd AS (SELECT s.doc_id,
                  CAST(count(*) AS BIGINT) AS n_sent,
                  CAST(SUM(CASE WHEN sc.n_docs > 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_dup_sent
           FROM s JOIN sc ON sc.sh = s.sh
           GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sent) AS BIGINT) AS n_sentences,
           CAST(SUM(n_dup_sent) AS BIGINT) AS n_cross_doc_dup,
           CAST(SUM(n_dup_sent) AS DOUBLE) / CAST(SUM(n_sent) AS DOUBLE)
             AS dup_sentence_rate,
           CAST(SUM(CASE WHEN 2 * n_dup_sent > n_sent THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_majority_dup
    FROM pd
    """,
)
def text_sentence_dedup(spark, sf_dir):
    """SENTENCE-level duplication audit (the C4 'three-sentence span'
    / RefinedWeb intra-corpus pass, Raffel et al. 2020 §2.2 —
    boilerplate like cookie banners repeats across pages even when
    documents are unique): split on [.!?], hash sentences ≥ 20 chars,
    mark those appearing in MORE THAN ONE document, and report the
    corpus dup-sentence rate plus how many docs are MAJORITY
    duplicated (the removal candidates doc-level dedup never sees).
    Sentences travel as md5 digests after the map-side split — one
    digest aggregate + one digest join, both linear; the 2·dup > n
    majority test stays integer."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"[.!?]")).alias("raw"),
        )
        .select("doc_id", F.trim(F.col("raw")).alias("t"))
        .filter(F.length("t") >= 20)
        .select("doc_id", F.md5("t").alias("sh"))
    )
    sc = s.groupBy("sh").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    pd_ = (
        s.join(sc, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sent"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_sent"),
        )
    )
    return pd_.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_sent").cast("long").alias("n_sentences"),
        F.sum("n_dup_sent").cast("long").alias("n_cross_doc_dup"),
        (
            F.sum("n_dup_sent").cast("double")
            / F.sum("n_sent").cast("double")
        ).alias("dup_sentence_rate"),
        F.sum(
            F.when(2 * F.col("n_dup_sent") > F.col("n_sent"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_docs_majority_dup"),
    )
