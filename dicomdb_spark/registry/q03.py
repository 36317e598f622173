"""registry chunk 3/8 — mechanical split of the monolithic registry.py (round 10); original lines 8628-12905.  Registration order preserved."""
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
from dicomdb_spark.registry._core import (
    ORACLES,
    QUERIES,
    _SQL_DOT,
    _chain,
    _fanout,
    _min_label_chain,
    _sql_dist2,
    _sql_norm,
    register,
)
from dicomdb_spark.registry.q01 import (
    _SQL_EMB_BASE,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _SQL_TOKS_RAW,
    _docs_with_dupes,
    _emb_with_dupes,
    _minhash_pairs_cte,
)
from dicomdb_spark.registry.q02 import _CONTAINMENT_ORACLE_UNCAPPED, _triangles_oracle


@register("graph_triangles", _triangles_oracle())
def graph_triangles(spark, sf_dir):
    """Triangle counts and local clustering coefficients over the
    minhash near-dup graph — the standard oriented-edge algorithm
    (each triangle a<b<c found exactly once via two ordered-edge
    joins), which is THE scalable formulation: join fan-out follows
    degree, never |V|².  Clustering coefficient = 2T/(d(d−1)), one
    exact division.  High-coefficient vertices sit in dup CLIQUES
    (true duplicate groups); low ones are chains/stars — hub-like
    false-positive candidates worth re-verifying.  Complements
    dedup_components (which answers "which group") with "how
    clique-like is the group"."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    deg = (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionAll(pairs.select(F.col("id2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select("a", "b", "c")
    )
    pv = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(pv, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            (2 * F.coalesce("n_tri", F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# Phonetic-blocked entity resolution
# ---------------------------------------------------------------------------


def _phonetic_er_oracle() -> str:
    from dicomdb_spark.functions.text import phonetic_key_sql

    return f"""
    WITH vocab AS (
      SELECT DISTINCT t.t AS tok
      FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents) t
      WHERE regexp_matches(t.t, '^[a-z]+$') AND length(t.t) >= 4),
    typo AS (
      -- deterministic misspelling injection: swap the first 'e'
      -- after position 1 for an 'a' (same phonetic class, edit
      -- distance exactly 1) on a md5-chosen quarter of the vocab
      SELECT substr(tok, 1, strpos(substr(tok, 2), 'e'))
             || 'a' || substr(tok, strpos(substr(tok, 2), 'e') + 2) AS tok
      FROM vocab
      WHERE strpos(substr(tok, 2), 'e') > 0
        AND substr(md5(tok), 1, 1) IN ('0', '1', '2', '3')),
    vocab2 AS (
      SELECT DISTINCT tok FROM (
        SELECT tok FROM vocab UNION ALL SELECT tok FROM typo) u),
    keyed AS (SELECT tok, {phonetic_key_sql('tok')} AS pk FROM vocab2)
    SELECT a.tok AS tok1, b.tok AS tok2, a.pk,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist
    FROM keyed a JOIN keyed b ON a.pk = b.pk AND a.tok < b.tok
    WHERE levenshtein(a.tok, b.tok) <= 1
    """


@register("er_phonetic_pairs", _phonetic_er_oracle())
def er_phonetic_pairs(spark, sf_dir):
    """Entity-resolution pairing with PHONETIC blocking: the distinct
    alphabetic vocabulary (length ≥ 4) is keyed by the portable
    soundex-style code (functions/text.py: phonetic_key), candidates
    meet via an equi-join on the key, and survivors are spelling
    variants at Levenshtein ≤ 1.

    Complementary to dedup_edit_distance's prefix blocking: a
    FIRST-letter-preserving vowel substitution ('tabel'~'table')
    escapes an 8-char prefix block but shares a phonetic code, while
    block sizes stay vocabulary-bounded — the classic two-pass
    blocking discipline of record linkage (Fellegi-Sunter framing).
    Levenshtein is unit-cost identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    vocab = (
        docs.select(
            F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
                "tok"
            )
        )
        .filter(F.col("tok").rlike("^[a-z]+$") & (F.length("tok") >= 4))
        .distinct()
    )
    pos = F.instr(F.expr("substring(tok, 2)"), "e")
    typo = (
        vocab.filter(
            (pos > 0) & F.substring(F.md5("tok"), 1, 1).isin("0", "1", "2", "3")
        )
        .select(
            F.concat(
                F.expr("substring(tok, 1, instr(substring(tok, 2), 'e'))"),
                F.lit("a"),
                F.expr("substring(tok, instr(substring(tok, 2), 'e') + 2)"),
            ).alias("tok")
        )
    )
    vocab2 = vocab.unionAll(typo).distinct()
    keyed = vocab2.select("tok", text.phonetic_key("tok").alias("pk"))
    a = keyed.select(F.col("tok").alias("tok1"), "pk")
    b = keyed.select(F.col("tok").alias("tok2"), F.col("pk").alias("pk2"))
    return (
        a.join(b, (F.col("pk") == F.col("pk2")) & (F.col("tok1") < F.col("tok2")))
        .withColumn("dist", F.levenshtein("tok1", "tok2").cast("int"))
        .filter(F.col("dist") <= 1)
        .select("tok1", "tok2", "pk", "dist")
    )


# ---------------------------------------------------------------------------
# Dialect-portable SQL surface
# ---------------------------------------------------------------------------

# ONE SQL text, executed verbatim by BOTH engines: spark.sql() runs it
# over temp views, DuckDB runs it as the oracle.  Proof that the
# engine's SQL surface (CTEs, ordinal GROUP BY, window functions,
# casts, floor-int money math) stays inside the ANSI subset the two
# dialects share — the portability contract a user migrating SQL
# workloads onto this engine relies on.
_PORTABLE_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, user_id,
             count(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_i
      FROM events
      GROUP BY 1, 2
    ),
    per_day AS (
      SELECT day,
             count(*) AS active_users,
             CAST(SUM(n_events) AS BIGINT) AS total_events,
             CAST(CAST(SUM(value_i) AS BIGINT) AS DOUBLE) / 100.0
               AS total_value
      FROM daily
      GROUP BY 1
    )
    SELECT day, active_users, total_events, total_value,
           CAST(row_number() OVER (ORDER BY total_events DESC, day)
                AS INTEGER) AS busy_rank
    FROM per_day
"""


@register("sql_dialect_portable", _PORTABLE_SQL)
def sql_dialect_portable(spark, sf_dir):
    """The SQL-API surface, dialect-portably: this query's oracle
    string IS its implementation — the identical text runs through
    ``spark.sql`` (over a temp view) and through DuckDB, byte for
    byte.  Daily active users / event counts / floor-int revenue with
    a window rank: CTE chain, ordinal GROUP BY, window function,
    explicit casts.  Everything the DataFrame queries guarantee
    (TIMESTAMP_NTZ inputs, integer money, unique rank tiebreaks)
    holds in plain SQL too."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_PORTABLE_SQL)


# ---------------------------------------------------------------------------
# Semantic (embedding) dedup pipeline
# ---------------------------------------------------------------------------


def _semantic_pipeline_oracle() -> str:
    chain, prev = _min_label_chain("vec_id")
    return f"""
    WITH {_SQL_EMB_BASE},
    n AS (
      SELECT vec_id, v,
             {_sql_norm("v2")} AS nrm
      FROM base v2),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) >= 0.99),
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    {chain}
    SELECT b.vec_id
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                      WHERE x.vec_id = b.vec_id AND x.lbl <> b.vec_id)
    """


@register("corpus_semantic_dedup_pipeline", _semantic_pipeline_oracle())
def corpus_semantic_dedup_pipeline(spark, sf_dir):
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (≥ 0.99, exact-int kernels) → min-label connected components →
    drop non-keepers → surviving vector ids.  The embedding-space
    twin of corpus_dedup_pipeline (which resolves LEXICAL dups via
    minhash): at corpus scale the pair stage swaps brute-force for
    the LSH/IVF candidate paths, and the component/keeper machinery
    is untouched — the composition contract this query pins."""
    base = _emb_with_dupes(spark, sf_dir)
    n = base.withColumn("nrm", lsim.norm_exact_vec(F.col("v")))
    a = n.select(
        F.col("vec_id").alias("id1"),
        F.col("v").alias("__av"),
        F.col("nrm").alias("__an"),
    )
    b = n.select(
        F.col("vec_id").alias("id2"),
        F.col("v").alias("__bv"),
        F.col("nrm").alias("__bn"),
    )
    pairs = (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn(
            "cos",
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            lsim.dot_exact_vec(F.col("__av"), F.col("__bv"))
            / F.nullif(F.col("__an") * F.col("__bn"), F.lit(0.0)),
        )
        .filter(F.col("cos") >= 0.99)
        .select("id1", "id2")
    )
    comp = ldedup.min_label_components(pairs.persist(), iters=3)
    dropped = comp.filter(F.col("component") != F.col("doc_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return base.select("vec_id").join(dropped, "vec_id", "left_anti")


# ---------------------------------------------------------------------------
# Prefix-filtered containment (lossless candidate pruning variant)
# ---------------------------------------------------------------------------


@register("dedup_prefix_containment", None)  # oracle assigned below
def dedup_prefix_containment(spark, sf_dir):
    """Containment join with the LOSSLESS asymmetric prefix filter
    (llm/dedup.py: prefix_filter_containment_pairs): the smaller
    side's rarest |S|−⌈t·|S|⌉+1 shingles are the only join keys, so
    hot-shingle bucket² blow-ups can't form.  The pruning is LOSSLESS,
    so its oracle is the UNCAPPED exhaustive inverted index (unlike
    dedup_ngram_containment, whose contract now carries the df ≤ 32
    candidate cap).

    Measured trade at sf0.1: the synthetic corpus has a ~30-word
    uniform vocabulary, so "rare" shingles still hit large buckets
    and the df-ranking window costs more than the pruning saves
    (5.1 s vs 1.5 s plain) — which is why the HEADLINE containment
    query keeps the plain inverted index here, while this variant is
    the right plan on Zipfian real-text corpora where prefix tokens
    are genuinely rare (the PPJoin setting)."""
    return ldedup.prefix_filter_containment_pairs(
        _docs_with_dupes(spark, sf_dir), "doc_id", "text", n=3,
        threshold_num=9, threshold_den=10,
        min_parallelism=local_fanout(spark),
    )


# the prefix filter is LOSSLESS, so its oracle is the UNCAPPED
# exhaustive inverted index — dedup_ngram_containment's own oracle now
# carries the df-cap semantics and would differ where the cap binds
ORACLES["dedup_prefix_containment"] = _CONTAINMENT_ORACLE_UNCAPPED


# ---------------------------------------------------------------------------
# Round-6 wave: time-series bars, sweep-line concurrency, k-core,
# bipartite projection, data profiling / constraint audits, corpus
# n-gram stats, inverted index, hash splits, embedding statistics and
# int8 quantization.
# ---------------------------------------------------------------------------


@register(
    "w_ohlc_bars",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT user_id, day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open_val,
           max(CASE WHEN rn_d = 1 THEN value END) AS close_val,
           max(value) AS high_val,
           min(value) AS low_val,
           count(*) AS n_events
    FROM d GROUP BY 1, 2
    """,
)
def w_ohlc_bars(spark, sf_dir):
    """OHLC candlestick bars per (user, day) — the standard
    downsampling shape for time-series dashboards.  Open/close are
    first/last by (ts, event_id) via two row_number windows (unique
    tiebreak ⇒ deterministic); high/low/volume are plain min/max/
    count.  One shuffle on the bar key; values pass through exactly
    (no summation), so doubles are bit-portable."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    w_a = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    w_d = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    d = (
        ev.select("user_id", day, "ts", "event_id", "value")
        .withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
    )
    return d.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_val"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_val"),
        F.max("value").alias("high_val"),
        F.min("value").alias("low_val"),
        F.count("*").alias("n_events"),
    )


@register(
    "w_time_weighted_avg",
    """
    WITH d AS (
      SELECT user_id, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS vi,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_sec
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(CAST(SUM(vi * (next_sec - sec)) AS BIGINT) AS DOUBLE)
             / CAST(SUM(next_sec - sec) AS BIGINT) / 1000000.0 AS twa
    FROM d
    WHERE next_sec IS NOT NULL
    GROUP BY 1
    HAVING SUM(next_sec - sec) > 0
    """,
)
def w_time_weighted_avg(spark, sf_dir):
    """Time-weighted average of a piecewise-constant signal per user:
    each event's value holds until the next event, so the average is
    Σ(vᵢ·Δtᵢ)/ΣΔtᵢ.  Values are floor-scaled int64 and Δt is integer
    seconds, so the numerator is EXACT integer arithmetic — the only
    float ops are two final divisions, identical on both engines.
    One lead window per user, one aggregate; no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("vi"),
        F.unix_timestamp("ts").alias("sec"),
        "ts",
    ).withColumn("next_sec", F.lead(F.unix_timestamp("ts")).over(w))
    seg = d.filter(F.col("next_sec").isNotNull()).withColumn(
        "dt", F.col("next_sec") - F.col("sec")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.col("vi") * F.col("dt")).alias("num"),
            F.sum("dt").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select(
            "user_id",
            "n_segments",
            (F.col("num").cast("double") / F.col("den") / F.lit(1000000.0)).alias("twa"),
        )
    )


@register(
    "w_concurrency_peak",
    """
    WITH pts AS (
      SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 300 SECOND, -1, event_id FROM events),
    run AS (
      SELECT event_type, t,
             CAST(SUM(delta) OVER (PARTITION BY event_type
                    ORDER BY t, delta, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS conc
      FROM pts),
    peak AS (SELECT event_type, max(conc) AS peak FROM run GROUP BY 1)
    SELECT r.event_type, CAST(p.peak AS BIGINT) AS peak,
           min(r.t) AS first_peak_ts
    FROM run r JOIN peak p
      ON r.event_type = p.event_type AND r.conc = p.peak
    GROUP BY 1, 2
    """,
)
def w_concurrency_peak(spark, sf_dir):
    """Peak concurrency via the sweep-line: each event opens a 300 s
    session ⇒ emit (+1 at ts, −1 at ts+300), running-sum the deltas
    in (t, delta, event_id) order — delta sorts −1 before +1 at equal
    t, giving half-open [ts, ts+300) semantics — and the max prefix
    is the peak.  This is THE scalable way to answer "max concurrent
    sessions": two map-only scans, one window per partition key,
    never an interval self-join (which is O(n²) on hot windows)."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("t", "delta", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = starts.unionAll(ends).withColumn("conc", F.sum("delta").over(w))
    peak = run.groupBy("event_type").agg(F.max("conc").alias("peak"))
    return (
        run.join(F.broadcast(peak), "event_type")
        .filter(F.col("conc") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.min("t").alias("first_peak_ts"))
    )


def _kcore_oracle(k: int = 2, rounds: int = 3) -> str:
    """Unrolled k-core peel: each round drops vertices with degree < k
    and restricts edges to survivors (same fixed-iteration style as
    the component oracles)."""
    chain, prev = _chain("e0", rounds, lambda i, prev: {
        f"d{i}": f"SELECT src, count(*) AS deg FROM {prev} GROUP BY 1",
        f"v{i}": f"SELECT src FROM d{i} WHERE deg >= {k}",
        f"e{i}": f"""SELECT e.src, e.dst FROM {prev} e
             JOIN v{i} a ON e.src = a.src
             JOIN v{i} b ON e.dst = b.src""",
    })
    return f"""
    {_minhash_pairs_cte()},
    e0 AS (SELECT id1 AS src, id2 AS dst FROM pairs
           UNION ALL SELECT id2, id1 FROM pairs),
    {chain}
    SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY 1
    """


@register("graph_kcore", _kcore_oracle())
def graph_kcore(spark, sf_dir):
    """K-core decomposition (k=2, 3 peel rounds) of the minhash
    near-dup graph: iteratively remove vertices with degree < k.
    Survivors are the clique-like duplicate clusters; peeled vertices
    are chains/stars (likely LSH false positives).  Each round is one
    degree aggregate + two semi-joins against the (shrinking) survivor
    set — shuffle semi-joins on the keyed edge cache (AQE upgrades to
    broadcast at runtime when the survivor side is measured small); the
    per-round persist() keeps lineage linear in rounds (the same
    self-loop discipline as min_label_components)."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    e = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionAll(pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        # keyed cache: every loop round equi-joins on src, so a
        # hash-partitioned cache is reused by each round (zero edge
        # exchanges across the loop)
        .repartition(spark.sparkContext.defaultParallelism, "src")
        # r13 optimization (guide §3.3/§5): persist-chained peel rounds
        # (v referenced by TWO semi-joins per round) re-nested the
        # upstream tree per reference — the executed plan reached 5,716
        # Exchange nodes; localCheckpoint per round (the BFS/HITS
        # idiom) keeps it flat and drops the count/unpersist dance.
        .transform(cut_lineage)
    )
    for _ in range(3):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # survivor-set joins are SEMI joins with no broadcast hint: the
        # survivor table is vertex-sized (the label-table rule), so the
        # pinned broadcast would cap the peel at driver memory on a
        # 100×-vertex graph; AQE still picks broadcast at runtime when
        # the measured side is genuinely small
        v = (
            deg.filter(F.col("deg") >= 2)
            .select("src")
            .transform(cut_lineage)
        )
        e = (
            e.join(v, "src", "left_semi")
            .join(v.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .transform(cut_lineage)
        )
    return e.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").cast("long").alias("core_degree")
    )


@register(
    "graph_cooccurrence",
    """
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           count(*) AS n_users
    FROM b a JOIN b c
      ON a.user_id = c.user_id AND a.event_type < c.event_type
    GROUP BY 1, 2
    """,
)
def graph_cooccurrence(spark, sf_dir):
    """Bipartite projection: users × event-types → type–type
    co-occurrence counts (how many users touch both).  Distinct
    first (one shuffle on user), then an equi-self-join on user_id
    with a `<` orientation so each pair counts once.  Fan-out per
    user is bounded by the per-user distinct-type count — the classic
    item-item co-occurrence plan that survives 100 TB because hot
    USERS (not hot items) bound the join blow-up, and distinct-first
    caps each user at |types|."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("user_id", "event_type").distinct()
    a = b.select("user_id", F.col("event_type").alias("type_a"))
    c = b.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(c, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_users"))
    )


_PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM_COLS:
        parts.append(
            f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
           count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS DOUBLE) AS min_num,
           CAST(max({c}) AS DOUBLE) AS max_num,
           CAST(NULL AS INTEGER) AS min_len,
           CAST(NULL AS INTEGER) AS max_len
    FROM orders"""
        )
    for c in _PROFILE_STR_COLS:
        parts.append(
            f"""SELECT '{c}', count(*), count(*) - count({c}),
           count(DISTINCT {c}), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(min(length({c})) AS INTEGER), CAST(max(length({c})) AS INTEGER)
    FROM orders"""
        )
    return "\n    UNION ALL\n    ".join(parts)


@register("a_profile_columns", _profile_oracle())
def a_profile_columns(spark, sf_dir):
    """Column profiler — the data-quality report every ingest pipeline
    runs first: per column, row/null/distinct counts plus numeric
    min/max or string length bounds.  ALL columns profile in ONE scan
    + one aggregate row (Catalyst expands the multi-count-distinct),
    then the row pivots into per-column records driver-side-free via
    explode of an inline struct array.  At 100 TB swap countDistinct
    for approx_count_distinct; the shape is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_NUM_COLS:
        aggs += [
            F.count(c).alias(f"cnt_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    for c in _PROFILE_STR_COLS:
        aggs += [
            F.count(c).alias(f"cnt_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.length(c)).cast("int").alias(f"ln_{c}"),
            F.max(F.length(c)).cast("int").alias(f"lx_{c}"),
        ]
    row = o.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")
    structs = []
    for c in _PROFILE_NUM_COLS:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_num"),
                F.col(f"mx_{c}").alias("max_num"),
                null_i.alias("min_len"),
                null_i.alias("max_len"),
            )
        )
    for c in _PROFILE_STR_COLS:
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                null_d.alias("min_num"),
                null_d.alias("max_num"),
                F.col(f"ln_{c}").alias("min_len"),
                F.col(f"lx_{c}").alias("max_len"),
            )
        )
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


@register(
    "a_constraint_audit",
    """
    SELECT 'orders_custkey_fk' AS constraint_name, count(*) AS n_violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'customer_pk_unique', count(*)
    FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1) t
    UNION ALL
    SELECT 'orders_orderkey_not_null', count(*)
    FROM orders WHERE o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem_quantity_positive', count(*)
    FROM lineitem WHERE l_quantity <= 0
    """,
)
def a_constraint_audit(spark, sf_dir):
    """Constraint audit — referential integrity, uniqueness, nullness
    and domain checks as ONE report: each rule is an anti-join or
    filter count, unioned into (constraint_name, n_violations) rows.
    The FK checks are shuffle anti-joins (never a collect), the PK
    check a group-count; all five branches evaluate in a single
    action.  This is the warehouse "data contract" gate a 100 TB
    ingest runs before publishing a partition."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")

    def one(name, df):
        return df.agg(F.count("*").alias("n_violations")).select(
            F.lit(name).alias("constraint_name"), "n_violations"
        )

    fk1 = one(
        "orders_custkey_fk",
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_anti"),
    )
    fk2 = one(
        "lineitem_orderkey_fk",
        l.join(o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left_anti"),
    )
    pk = one(
        "customer_pk_unique",
        c.groupBy("c_custkey").agg(F.count("*").alias("n")).filter(F.col("n") > 1),
    )
    nn = one("orders_orderkey_not_null", o.filter(F.col("o_orderkey").isNull()))
    dom = one("lineitem_quantity_positive", l.filter(F.col("l_quantity") <= 0))
    return fk1.unionAll(fk2).unionAll(pk).unionAll(nn).unionAll(dom)


@register(
    "text_ngram_topk",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    g AS (SELECT unnest({_SQL_SHINGLES}) AS gram FROM tk)
    SELECT gram, count(*) AS n
    FROM g GROUP BY 1
    ORDER BY n DESC, gram
    LIMIT 20
    """,
)
def text_ngram_topk(spark, sf_dir):
    """Corpus-wide top-k word 3-grams — the canonical "count the
    n-grams in 100 TB" job.  Tokenize-once shingling (zip_with folds,
    functions/text.py:shingles — linear per row), explode, one hash
    aggregate with map-side partials, global top-k with the gram
    itself as tiebreak.  The explode output is ~|tokens| rows but the
    aggregate's partial combine collapses repeats before shuffle, so
    shuffle bytes scale with DISTINCT grams, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text.shingles("text", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


@register(
    "text_inverted_index",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    t AS (SELECT DISTINCT doc_id, term FROM
            (SELECT doc_id, unnest(tk) AS term FROM tk) x)
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
             AS postings_head
    FROM t GROUP BY 1
    HAVING count(*) >= 2
    """,
)
def text_inverted_index(spark, sf_dir):
    """Inverted index build: term → document frequency + the first 20
    posting doc_ids (comma-joined, so no array output column).  The
    posting preview is computed SCALABLY: a per-term row_number window
    keeps only 20 rows per term BEFORE collect_list, so a hot term
    never materializes its full posting list on one task — df comes
    from a separate count over the un-truncated postings.  DuckDB
    mirrors with list_slice(list_sort(...))."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select(
            "doc_id",
            F.explode(F.transform(text.tokens("text"), lambda x: F.lower(x))).alias(
                "term"
            ),
        )
        .distinct()
    )
    df_counts = t.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    head = (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        df_counts.filter(F.col("df") >= 2)
        .join(head, "term")
        .select("term", "df", "postings_head")
    )


@register(
    "corpus_split_hash",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM s GROUP BY 1
    """,
)
def corpus_split_hash(spark, sf_dir):
    """Deterministic train/valid/test split (80/10/10) by md5 hash
    threshold on the document id — no RNG, no seed state, stable
    under reruns and appends (a doc's split never changes when other
    docs arrive, unlike row_number() % 10).  Map-only; the report
    aggregates per-split counts and char totals as the audit
    artifact.  0xcccccccc/2³² ≈ 0.8, 0xe6666666 ≈ 0.9."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8)
    s = docs.select(
        "doc_id",
        "n_chars",
        F.when(h < "cccccccc", "train")
        .when(h < "e6666666", "valid")
        .otherwise("test")
        .alias("split"),
    )
    return s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@register(
    "emb_dim_stats",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT i.i AS dim, v[i.i] AS val
          FROM e, unnest(range(1, len(v) + 1)) i(i))
    SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
           min(val) AS min_val, max(val) AS max_val,
           CAST(SUM(CAST(floor(val * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS mean_val
    FROM d GROUP BY 1
    """,
)
def emb_dim_stats(spark, sf_dir):
    """Per-dimension feature statistics over the embedding column —
    the normalization/whitening precursor every vector pipeline runs:
    posexplode to (dim, value), one hash aggregate keyed by dim (64
    groups ⇒ the shuffle is trivial; the explode is the cost and it's
    map-local).  Mean via floor-scaled integer sum (exact), min/max
    pass float32→float64 losslessly."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).select((F.col("pos") + 1).cast("int").alias("dim"), "val")
    return d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        (
            F.sum(F.floor(F.col("val") * 1000000).cast("long")).cast("double")
            / 1000000.0
            / F.count("*")
        ).alias("mean_val"),
    )


@register(
    "emb_int8_quantize",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT vec_id, i.i AS dim, v[i.i] AS val
          FROM e, unnest(range(1, len(v) + 1)) i(i)),
    m AS (SELECT dim, max(abs(val)) AS maxabs FROM d GROUP BY 1
          HAVING max(abs(val)) > 0),
    q AS (SELECT d.dim, d.val, m.maxabs,
                 greatest(least(CAST(floor(d.val * 127.0 / m.maxabs + 0.5)
                                     AS BIGINT), 127), -127) AS code
          FROM d JOIN m ON d.dim = m.dim),
    r AS (SELECT dim, maxabs, code,
                 val - (code * maxabs / 127.0) AS err
          FROM q)
    SELECT CAST(dim AS INTEGER) AS dim, maxabs,
           CAST(SUM(CAST(floor(err * err * 1000000000000) AS BIGINT)) AS DOUBLE)
             / 1000000000000.0 / count(*) AS mse,
           CAST(SUM(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_saturated
    FROM r GROUP BY 1, 2
    """,
)
def emb_int8_quantize(spark, sf_dir):
    """Symmetric per-dimension int8 scalar quantization — the memory
    workhorse of large-scale vector search (4× smaller than float32,
    complementing the PQ codebooks in llm/pq.py): scale = max|x| per
    dim, code = round(x·127/scale) clamped to ±127, report per-dim
    scale, reconstruction MSE and saturation count.  Two passes over
    the exploded values (scale agg keyed by dim → broadcast join of
    the 64-row scale table), all arithmetic in identical IEEE order on
    both engines; MSE sums floor-scaled integers so it's exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).select((F.col("pos") + 1).cast("int").alias("dim"), "val")
    m = (
        d.groupBy("dim")
        .agg(F.max(F.abs(F.col("val"))).alias("maxabs"))
        .filter(F.col("maxabs") > 0)
    )
    q = d.join(F.broadcast(m), "dim").withColumn(
        "code",
        F.greatest(
            F.least(
                F.floor(F.col("val") * 127.0 / F.col("maxabs") + 0.5).cast("long"),
                F.lit(127),
            ),
            F.lit(-127),
        ),
    )
    r = q.withColumn("err", F.col("val") - (F.col("code") * F.col("maxabs") / F.lit(127.0)))
    return r.groupBy("dim", "maxabs").agg(
        (
            F.sum(F.floor(F.col("err") * F.col("err") * 1000000000000).cast("long")).cast(
                "double"
            )
            / 1000000000000.0
            / F.count("*")
        ).alias("mse"),
        F.sum(F.when(F.abs(F.col("code")) == 127, 1).otherwise(0)).alias("n_saturated"),
    ).select("dim", "maxabs", "mse", "n_saturated")


@register(
    "j16_asof_forward",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    r AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'error')
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.event_id AS event_id_asof, r.value AS value_asof
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def j16_asof_forward(spark, sf_dir):
    """FORWARD as-of join — for each purchase, the user's NEXT error
    at or after it (did the purchase precede a failure?).  The same
    union-and-carry-forward plan as j11 traversed in descending time
    order: one shuffle on user_id, one sort, no range-join blowup.
    Checked against DuckDB's native forward ASOF (l.ts <= r.ts)."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    return oj.asof_join(
        left, right, keys=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["event_id", "value"], direction="forward",
    )


@register(
    "a_ab_test_zscore",
    """
    WITH assign AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
                       < '80000000' THEN 'a' ELSE 'b' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1
                      ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN arm = 'a' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN arm = 'b' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
      FROM assign)
    SELECT n_a, n_b, conv_a, conv_b,
           conv_a / CAST(n_a AS DOUBLE) AS rate_a,
           conv_b / CAST(n_b AS DOUBLE) AS rate_b,
           (conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
             / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b)) AS z
    FROM c
    """,
)
def a_ab_test_zscore(spark, sf_dir):
    """Two-proportion z-test between deterministically-assigned
    experiment arms: users hash-split 50/50 (md5 threshold — stable
    under reruns, the same discipline as corpus_split_hash), converted
    = had ≥1 purchase; z = (p̂ₐ−p̂ᵦ)/√(p̂(1−p̂)(1/nₐ+1/nᵦ)).  All inputs
    are exact integer counts from ONE aggregation over one shuffle on
    user_id; the z statistic is a fixed tree of IEEE double ops
    written identically on both engines, so it is bit-portable."""
    ev = load_table(spark, sf_dir, "events")
    h = F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8)
    assign = (
        ev.select(
            "user_id",
            F.when(h < "80000000", "a").otherwise("b").alias("arm"),
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0).alias("cv"),
        )
        .groupBy("user_id", "arm")
        .agg(F.max("cv").alias("converted"))
    )
    c = assign.agg(
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "b", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "a", F.col("converted")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("arm") == "b", F.col("converted")).otherwise(0)).alias("conv_b"),
    )
    # nullif guards: DuckDB x/0 is NULL while ANSI Spark throws — an
    # empty arm (n=0) or degenerate pooled rate must yield NULL rows
    # identically, not kill the job (r12 adversarial events sweep)
    rate_a = F.col("conv_a") / F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
    rate_b = F.col("conv_b") / F.nullif(F.col("n_b").cast("double"), F.lit(0.0))
    pooled = (F.col("conv_a") + F.col("conv_b")) / F.nullif(
        (F.col("n_a") + F.col("n_b")).cast("double"), F.lit(0.0)
    )
    z = (rate_a - rate_b) / F.nullif(F.sqrt(
        pooled * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
           + F.lit(1.0) / F.nullif(F.col("n_b").cast("double"), F.lit(0.0)))
    ), F.lit(0.0))
    return c.select(
        "n_a", "n_b", "conv_a", "conv_b",
        rate_a.alias("rate_a"), rate_b.alias("rate_b"), z.alias("z"),
    )


@register(
    "w_session_paths",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM s),
    rn AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn
      FROM sess),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM rn WHERE rn <= 5 GROUP BY 1, 2)
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def w_session_paths(spark, sf_dir):
    """Top user-journey paths: sessionize by 30-minute inactivity gap
    (the w3/w6 machinery), take each session's first ≤5 event types in
    order, and count path frequencies.  The ordered concat is
    row_number → filter rn≤5 → collect_list of (rn, type) structs →
    array_sort → join: the pre-truncation bounds every session's
    collected state at 5 entries, so a pathological always-on user
    can't blow up a task (the same cap discipline as
    text_inverted_index).  Two windows and two aggregates, all on the
    same user_id shuffle key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    s = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    rn = s.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rn") <= 5)
    paths = rn.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


_FUNNEL_STAGES = (
    ("total", "TRUE"),
    ("min_chars_100", "n_chars >= 100"),
    ("min_tokens_20", "n_toks >= 20"),
    ("lang_known", "lang IN ('en', 'fr', 'de', 'es')"),
    ("first_of_dup_group", "dup_rn = 1"),
)


def _funnel_oracle() -> str:
    flags = []
    conds = []
    for name, cond in _FUNNEL_STAGES:
        conds.append(cond)
        flags.append(
            f"SELECT '{name}' AS stage, CAST(SUM(CASE WHEN "
            + " AND ".join(conds)
            + " THEN 1 ELSE 0 END) AS BIGINT) AS n_pass FROM f"
        )
    body = "\n    UNION ALL\n    ".join(flags)
    return rf"""
    WITH f AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_toks,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS dup_rn
      FROM documents)
    {body}
    """


@register("corpus_quality_funnel", _funnel_oracle())
def corpus_quality_funnel(spark, sf_dir):
    """Quality-filter funnel report — how many documents survive each
    successive cleaning rule (min length → min tokens → known language
    → exact-dup keep-first).  All cumulative stage counts come from
    ONE pass: per-doc flags (one window for the dup rank), then a
    single aggregate of nested conditional sums, pivoted to (stage,
    n_pass) rows.  This is the observability artifact every corpus
    pipeline publishes next to its output — at 100 TB you cannot
    afford one scan per rule."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    f = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(text.tokens("text")).cast("long").alias("n_toks"),
        F.row_number().over(w).alias("dup_rn"),
    )
    conds = []
    aggs = []
    stage_conds = {
        "total": F.lit(True),
        "min_chars_100": F.col("n_chars") >= 100,
        "min_tokens_20": F.col("n_toks") >= 20,
        "lang_known": F.col("lang").isin("en", "fr", "de", "es"),
        "first_of_dup_group": F.col("dup_rn") == 1,
    }
    acc = F.lit(True)
    for name, _ in _FUNNEL_STAGES:
        acc = acc & stage_conds[name]
        aggs.append(F.sum(F.when(acc, 1).otherwise(0)).alias(f"n_{name}"))
        conds.append(name)
    row = f.agg(*aggs)
    structs = [
        F.struct(F.lit(name).alias("stage"), F.col(f"n_{name}").alias("n_pass"))
        for name, _ in _FUNNEL_STAGES
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Batch 8 — round-7 wave: graph analytics (BFS distances, link
# prediction), market-basket rules, CUSUM drift / max drawdown,
# nearest-neighbor temporal join, gains/lift tables, TF-IDF terms,
# k-anonymity risk audit
# ---------------------------------------------------------------------------


def _bfs_oracle(rounds: int = 4) -> str:
    """Unrolled multi-source BFS relaxation over the minhash near-dup
    graph (same fixed-iteration discipline as the component oracles):
    h_i(v) = min(h_{i-1}(v), min over neighbors u of h_{i-1}(u)+1)."""
    chain, prev = _chain("h0", rounds, lambda i, prev: {f"h{i}": f"""
      SELECT node, min(hop) AS hop FROM (
      SELECT node, hop FROM {prev}
      UNION ALL
      SELECT e.dst AS node, p.hop + 1 AS hop
      FROM {prev} p JOIN e ON e.src = p.node) t GROUP BY 1"""})
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    v AS (SELECT DISTINCT src AS node FROM e),
    h0 AS (SELECT node, 0 AS hop FROM v WHERE node % 7 = 0),
    {chain}
    SELECT node AS doc_id, CAST(hop AS BIGINT) AS hop FROM {prev}
    """


@register("graph_bfs_hops", _bfs_oracle())
def graph_bfs_hops(spark, sf_dir):
    """Multi-source unweighted shortest paths (BFS, 4 relaxation
    rounds) over the minhash near-dup graph; sources are every vertex
    with doc_id % 7 == 0.  Each round is ONE equi-join (frontier ⋈
    edges on src) plus a min-aggregate — the Pregel message pattern as
    DataFrames — and the per-round localCheckpoint truncates lineage
    (the graph_ktruss_fixpoint discipline), so every round's plan is a
    scan of the previous round's materialized state instead of a
    nested InMemoryRelation chain whose planning cost grows with
    rounds and whose eviction under storage pressure replays the whole
    chain.  Unreached vertices simply stay absent from the dist table,
    so state is bounded by the reached set, not the graph.  At 100 TB
    the edge list is the only large shuffle: it is hash-partitioned
    once on src and the checkpointed LogicalRDD preserves that output
    partitioning, so every round's equi-join reuses it with zero edge
    exchanges across the loop."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    e = (
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
        .unionAll(pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
        # keyed materialization: every loop round equi-joins on src;
        # the checkpointed RDD keeps hashpartitioning(src), so each
        # round reuses it with no edge exchange
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(cut_lineage)
    )
    dist = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % 7 == 0)
        .withColumn("hop", F.lit(0))
    )
    for _ in range(4):
        msg = dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop")
        )
        dist = (
            dist.unionAll(msg)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            # eager per-round materialization: superseded rounds' blocks
            # are released by the ContextCleaner when their references
            # drop, so repeated invocations don't accumulate storage
            .transform(cut_lineage)
        )
    return dist.select(
        F.col("node").alias("doc_id"), F.col("hop").cast("long").alias("hop")
    )


@register(
    "graph_link_predict_ra",
    f"""
    {_minhash_pairs_cte()},
    obs AS (SELECT id1, id2 FROM pairs WHERE (id1 + id2) % 3 <> 0),
    e AS (SELECT id1 AS src, id2 AS dst FROM obs
          UNION ALL SELECT id2, id1 FROM obs),
    deg AS (SELECT src AS z, 1000000 // count(*) AS w FROM e GROUP BY 1),
    wedge AS (
      SELECT e1.dst AS a, e1.src AS z, e2.dst AS b
      FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst),
    cand AS (
      SELECT w.a, w.b, w.z FROM wedge w
      LEFT JOIN obs p ON w.a = p.id1 AND w.b = p.id2
      WHERE p.id1 IS NULL),
    sc AS (
      SELECT a AS id1, b AS id2,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(w) AS BIGINT) AS ra_score_scaled
      FROM cand JOIN deg USING (z)
      GROUP BY 1, 2)
    SELECT sc.id1, sc.id2, common_neighbors, ra_score_scaled,
           CASE WHEN p.id1 IS NULL THEN 0 ELSE 1 END AS held_out_edge
    FROM sc LEFT JOIN pairs p ON sc.id1 = p.id1 AND sc.id2 = p.id2
    ORDER BY ra_score_scaled DESC, sc.id1, sc.id2
    LIMIT 20
    """,
)
def graph_link_predict_ra(spark, sf_dir):
    """Held-out link prediction by the resource-allocation index:
    hold out every near-dup edge with (id1+id2) % 3 == 0, then for
    each NON-adjacent 2-hop pair (a, b) of the observed graph score
    Σ_z 1/deg(z) over shared neighbors z — held exact as the integer
    Σ floor(1e6/deg(z)) so the ranking is partition-invariant (a
    float Σ of 1/deg would be order-dependent).  Candidates come from
    the wedge join e(z→a) ⋈ e(z→b) on the shared endpoint — only
    2-hop pairs ever materialize, bounded by Σ_z deg(z)², never
    all-pairs — minus observed edges via anti-join.  The held_out_edge
    flag marks predictions that recover a true held-out edge (dup
    groups are cliques, so top RA scores should): the standard
    link-prediction evaluation, entirely in-plan."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    obs = pairs.filter((F.col("id1") + F.col("id2")) % 3 != 0)
    e = obs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionAll(
        obs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("z")).agg(
        F.expr("CAST(1000000 AS BIGINT) div count(*)").alias("w")
    )
    wedge = (
        e.select(F.col("src").alias("z"), F.col("dst").alias("a"))
        .join(e.select(F.col("src").alias("z"), F.col("dst").alias("b")), "z")
        .filter(F.col("a") < F.col("b"))
    )
    cand = wedge.join(
        obs, (wedge.a == obs.id1) & (wedge.b == obs.id2), "left_anti"
    )
    # deg is vertex-sized (grows with the corpus) — no pinned
    # broadcast; the wedge join already partitions by z, so AQE can
    # either reuse that exchange or measure deg small enough to
    # broadcast at runtime.
    sc = (
        cand.join(deg, "z")
        .groupBy(F.col("a").alias("id1"), F.col("b").alias("id2"))
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w").cast("long").alias("ra_score_scaled"),
        )
    )
    return (
        sc.join(
            pairs.select(
                F.col("id1").alias("p1"), F.col("id2").alias("p2"), F.lit(1).alias("hit")
            ),
            (sc.id1 == F.col("p1")) & (sc.id2 == F.col("p2")),
            "left",
        )
        .select(
            "id1",
            "id2",
            "common_neighbors",
            "ra_score_scaled",
            F.coalesce("hit", F.lit(0)).alias("held_out_edge"),
        )
        .orderBy(F.col("ra_score_scaled").desc(), "id1", "id2")
        .limit(20)
    )


@register(
    "a_market_basket",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, p_brand
               FROM lineitem JOIN part ON l_partkey = p_partkey),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM b),
    ac AS (SELECT p_brand, count(*) AS cnt FROM b GROUP BY 1),
    pr AS (SELECT a.p_brand AS brand_a, c.p_brand AS brand_b,
                  count(*) AS pair_n
           FROM b a JOIN b c
             ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
           GROUP BY 1, 2)
    SELECT brand_a, brand_b, CAST(pair_n AS BIGINT) AS pair_n,
           CAST(x.cnt AS BIGINT) AS n_a, CAST(y.cnt AS BIGINT) AS n_b,
           CAST(pair_n AS DOUBLE) / CAST(x.cnt AS DOUBLE) AS conf_ab,
           CAST(pair_n AS DOUBLE) / CAST(y.cnt AS DOUBLE) AS conf_ba,
           CAST(pair_n * nb.n AS DOUBLE) / CAST(x.cnt * y.cnt AS DOUBLE)
             AS lift
    FROM pr
    JOIN ac x ON pr.brand_a = x.p_brand
    JOIN ac y ON pr.brand_b = y.p_brand
    CROSS JOIN nb
    WHERE pair_n >= 20
    """,
)
def a_market_basket(spark, sf_dir):
    """Market-basket association rules over order baskets (items =
    part brands): pair support, both confidences, and lift.  Baskets
    are DISTINCT (order, brand) first — one shuffle on orderkey — so
    the within-basket pair join fans out by basket SIZE (≤ |brands|),
    not line count; the item-count and total-basket tables are
    broadcast back onto the pair counts.  Every ratio is ONE IEEE
    division of exact integer products on both engines (lift's
    numerator pair_n·N and denominator n_a·n_b stay < 2^53)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # part is SF-scaling (200k·SF rows) — no pinned broadcast; AQE
    # picks the strategy from runtime stats.  Only the provably
    # bounded sides below (ac = |brands| rows, nb = 1 row) stay hinted.
    # ONE shuffle on l_orderkey builds the per-basket DISTINCT brand
    # set (collect_set == the old .distinct(), but keyed per basket);
    # the a<b pair enumeration is then ROW-LOCAL over the sorted set —
    # the old plan shuffled the distinct table twice more into a
    # self-join (r13 optimization, guide §2.4: remove the self-join
    # shuffle outright; bounded fan-out — |brands| is small and fixed,
    # so a basket emits ≤ C(|brands|, 2) pairs).  Three consumers
    # (total, item counts, pairs) — persist the small aggregated frame.
    b_sets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("__brands"))
        .persist()
    )
    nb = b_sets.agg(F.count("*").alias("n_baskets"))
    ac = b_sets.select(F.explode("__brands").alias("p_brand")).groupBy(
        "p_brand"
    ).agg(F.count("*").alias("cnt"))
    sz = F.size(F.col("__brands"))
    pair_structs = F.flatten(
        F.transform(
            F.col("__brands"),
            lambda x, i: F.transform(
                F.slice(F.col("__brands"), i + 2, sz),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pr = (
        b_sets.select(F.explode(pair_structs).alias("__p"))
        .select("__p.brand_a", "__p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 20)
    )
    return (
        pr.join(
            F.broadcast(ac.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(ac.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("n_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "brand_a",
            "brand_b",
            F.col("pair_n").cast("long").alias("pair_n"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.col("pair_n").cast("double") / F.col("n_a").cast("double")).alias(
                "conf_ab"
            ),
            (F.col("pair_n").cast("double") / F.col("n_b").cast("double")).alias(
                "conf_ba"
            ),
            (
                (F.col("pair_n") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


@register(
    "w_cusum_drift",
    """
    WITH x AS (SELECT event_type, event_id, ts,
                      CAST(floor(value * 10000) AS BIGINT) AS xi
               FROM events),
    g AS (SELECT event_type, SUM(xi) AS sx, count(*) AS n
          FROM x GROUP BY 1),
    d AS (SELECT x.event_type, x.event_id, x.ts,
                 g.n * x.xi - g.sx AS di
          FROM x JOIN g USING (event_type)),
    c1 AS (SELECT event_type, event_id, ts, SUM(di) OVER w AS ci
           FROM d
           WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (SELECT event_type, ts,
                 ci - least(min(ci) OVER w2, 0) AS si
          FROM c1
          WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    m AS (SELECT event_type, max(si) AS mx FROM s GROUP BY 1)
    SELECT s.event_type, CAST(m.mx AS BIGINT) AS max_cusum,
           min(s.ts) AS first_alarm_ts
    FROM s JOIN m ON s.event_type = m.event_type AND s.si = m.mx
    GROUP BY 1, 2
    """,
)
def w_cusum_drift(spark, sf_dir):
    """One-sided CUSUM drift statistic per event_type.  The textbook
    recursion S_i = max(0, S_{i-1} + d_i) is NOT window-expressible,
    but its closed form is: S_i = C_i − min(0, min_{j≤i} C_j) where C
    is the running sum of deviations — two stacked windows over the
    same sort, no recursion.  Deviations are held exact as integers by
    the n·x − Σx trick (deviation from the mean scaled by n), so the
    statistic is partition-invariant with zero float summation.
    Output: the max CUSUM excursion and the first timestamp attaining
    it — the classic change-point alarm."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.floor(F.col("value") * 10000).cast("long").alias("xi"),
    )
    g = ev.groupBy("event_type").agg(
        F.sum("xi").alias("sx"), F.count("*").alias("n")
    )
    d = ev.join(F.broadcast(g), "event_type").withColumn(
        "di", F.col("n") * F.col("xi") - F.col("sx")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("ci", F.sum("di").over(w))
    w2 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = c.select(
        "event_type",
        "ts",
        (F.col("ci") - F.least(F.min("ci").over(w2), F.lit(0))).alias("si"),
    )
    m = s.groupBy("event_type").agg(F.max("si").alias("mx"))
    return (
        s.join(F.broadcast(m), "event_type")
        .filter(F.col("si") == F.col("mx"))
        .groupBy("event_type", F.col("mx").cast("long").alias("max_cusum"))
        .agg(F.min("ts").alias("first_alarm_ts"))
    )


@register(
    "w_max_drawdown",
    """
    WITH x AS (SELECT user_id, event_id, ts,
                      CAST(floor(value * 10000) AS BIGINT) AS xi
               FROM events),
    g AS (SELECT user_id, SUM(xi) AS sx, count(*) AS n FROM x GROUP BY 1),
    d AS (SELECT x.user_id, x.event_id, x.ts, g.n * x.xi - g.sx AS di
          FROM x JOIN g USING (user_id)),
    c1 AS (SELECT user_id, event_id, ts, SUM(di) OVER w AS ci
           FROM d
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    c AS (SELECT user_id, max(ci) OVER w2 - ci AS dd
          FROM c1
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, CAST(max(dd) AS BIGINT) AS max_drawdown
    FROM c GROUP BY 1
    ORDER BY max_drawdown DESC, user_id
    LIMIT 20
    """,
)
def w_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's zero-mean value walk: running
    peak minus current equity, maximized — the standard risk metric,
    as two stacked windows over one sort (running sum, then running
    max of it).  The walk uses the same exact-integer n·x − Σx
    centering as w_cusum_drift, so the answer is bit-stable under any
    partitioning.  Top-20 with user_id tiebreak."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 10000).cast("long").alias("xi"),
    )
    g = ev.groupBy("user_id").agg(F.sum("xi").alias("sx"), F.count("*").alias("n"))
    d = ev.join(F.broadcast(g), "user_id").withColumn(
        "di", F.col("n") * F.col("xi") - F.col("sx")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c1 = d.withColumn("ci", F.sum("di").over(w))
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = c1.withColumn("dd", F.max("ci").over(w2) - F.col("ci"))
    return (
        c.groupBy("user_id")
        .agg(F.max("dd").cast("long").alias("max_drawdown"))
        .orderBy(F.col("max_drawdown").desc(), "user_id")
        .limit(20)
    )


@register(
    "j17_nearest_event",
    """
    WITH u AS (
      SELECT user_id, ts AS t, 0 AS kind, event_id AS bid,
             CAST(NULL AS BIGINT) AS pid, event_id AS tid
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, ts, 1, CAST(NULL AS BIGINT), event_id, event_id
      FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT user_id, t, kind, pid,
             last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER wb
               AS prev_t,
             last_value(CASE WHEN kind = 0 THEN bid END IGNORE NULLS) OVER wb
               AS prev_id,
             first_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS) OVER wf
               AS next_t,
             first_value(CASE WHEN kind = 0 THEN bid END IGNORE NULLS) OVER wf
               AS next_id
      FROM u
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY t, kind, tid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY t, kind, tid
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    p AS (
      SELECT user_id, pid, prev_id, next_id,
             CAST(floor(epoch(t)) AS BIGINT)
               - CAST(floor(epoch(prev_t)) AS BIGINT) AS gp,
             CAST(floor(epoch(next_t)) AS BIGINT)
               - CAST(floor(epoch(t)) AS BIGINT) AS gn
      FROM m WHERE kind = 1)
    SELECT user_id, pid AS purchase_id,
           CASE WHEN gp IS NULL THEN next_id
                WHEN gn IS NULL THEN prev_id
                WHEN gp <= gn THEN prev_id ELSE next_id END AS error_id,
           CASE WHEN gp IS NULL THEN gn
                WHEN gn IS NULL THEN gp
                WHEN gp <= gn THEN gp ELSE gn END AS gap_s
    FROM p
    WHERE coalesce(gp, gn) IS NOT NULL
    """,
)
def j17_nearest_event(spark, sf_dir):
    """Nearest-neighbor 1-D temporal join: for every purchase, the
    closest error event by the same user on EITHER side (ties →
    earlier).  Plan: tag-union both streams, ONE sort per user
    carrying last-error-before (backward frame, IGNORE NULLS) and
    first-error-after (forward frame) — the scalable merge-join shape
    for nearest-event queries.  An interval self-join would be O(n·m)
    per user on hot windows; this is O((n+m) log) via the sort, and
    the sort key is the (user, time) layout the events table should
    already be bucketed by at scale.  Builds sort before probes at
    equal t (kind 0 < 1), so a same-timestamp error counts as
    gap-0 'before'."""
    ev = load_table(spark, sf_dir, "events")
    builds = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("kind"),
        F.col("event_id").alias("bid"),
        F.lit(None).cast("long").alias("pid"),
        F.col("event_id").alias("tid"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("bid"),
        F.col("event_id").alias("pid"),
        F.col("event_id").alias("tid"),
    )
    u = builds.unionAll(probes)
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "tid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "tid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_b = F.col("kind") == 0
    m = (
        u.withColumn("prev_t", F.last(F.when(is_b, F.col("t")), ignorenulls=True).over(wb))
        .withColumn("prev_id", F.last(F.when(is_b, F.col("bid")), ignorenulls=True).over(wb))
        .withColumn("next_t", F.first(F.when(is_b, F.col("t")), ignorenulls=True).over(wf))
        .withColumn("next_id", F.first(F.when(is_b, F.col("bid")), ignorenulls=True).over(wf))
        .filter(F.col("kind") == 1)
    )
    gp = F.unix_timestamp("t") - F.unix_timestamp("prev_t")
    gn = F.unix_timestamp("next_t") - F.unix_timestamp("t")
    p = m.select(
        "user_id",
        F.col("pid").alias("purchase_id"),
        "prev_id",
        "next_id",
        gp.alias("gp"),
        gn.alias("gn"),
    )
    return p.filter(F.coalesce("gp", "gn").isNotNull()).select(
        "user_id",
        "purchase_id",
        F.when(F.col("gp").isNull(), F.col("next_id"))
        .when(F.col("gn").isNull(), F.col("prev_id"))
        .when(F.col("gp") <= F.col("gn"), F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("error_id"),
        F.when(F.col("gp").isNull(), F.col("gn"))
        .when(F.col("gn").isNull(), F.col("gp"))
        .when(F.col("gp") <= F.col("gn"), F.col("gp"))
        .otherwise(F.col("gn"))
        .alias("gap_s"),
    )


@register(
    "a_decile_lift",
    """
    WITH conv AS (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_orderstatus = 'F'),
    c AS (SELECT c_custkey, c_acctbal,
                 CASE WHEN conv.o_custkey IS NULL THEN 0 ELSE 1 END AS cv
          FROM customer LEFT JOIN conv ON c_custkey = conv.o_custkey),
    d AS (SELECT cv, ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
                       AS decile
          FROM c),
    g AS (SELECT decile, count(*) AS n, CAST(SUM(cv) AS BIGINT) AS conv_n
          FROM d GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n,
                 CAST(SUM(conv_n) AS BIGINT) AS tot_conv FROM g)
    SELECT decile, CAST(n AS BIGINT) AS n, conv_n,
           CAST(SUM(conv_n) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_conv,
           CAST(SUM(conv_n) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                AS DOUBLE) / CAST(tot_conv AS DOUBLE) AS gain_pct,
           CAST(conv_n * tot_n AS DOUBLE) / CAST(n * tot_conv AS DOUBLE)
             AS lift
    FROM g CROSS JOIN t
    """,
)
def a_decile_lift(spark, sf_dir):
    """Gains/lift table: customers ranked by account balance into
    deciles (ntile with c_custkey tiebreak — deterministic), outcome =
    ever placed a fulfilled order.  Per decile: size, conversions,
    cumulative gains %, and lift — each ratio ONE IEEE division of
    exact integer products.  The decile assignment is DISTRIBUTED:
    range-bucket on c_acctbal, per-bucket offsets, partitioned
    row_number (ow.bucketed_running), then ntile(10) reconstructed
    arithmetically from the global rank (ow.ntile_from_rank — the
    SQL-standard larger-buckets-first assignment, identical to the
    oracle's ntile) — a 10⁹-customer dim never sorts on one task."""
    cust = load_table(spark, sf_dir, "customer")
    conv = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    c = cust.join(conv, cust.c_custkey == conv.o_custkey, "left").select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("cv"),
    )
    nrow = c.agg(F.count("*").alias("__n"))
    ranked = ow.bucketed_running(
        ow.monotone_range_bucket(c, "c_acctbal", ascending=False),
        order_cols=[F.col("c_acctbal").desc(), "c_custkey"],
        rn_col="__rn",
    ).crossJoin(F.broadcast(nrow))
    d = ranked.select(
        "cv",
        ow.ntile_from_rank(F.col("__rn"), F.col("__n"), 10).alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("cv").cast("long").alias("conv_n")
    )
    t = g.agg(
        F.sum("n").cast("long").alias("tot_n"),
        F.sum("conv_n").cast("long").alias("tot_conv"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.crossJoin(F.broadcast(t))
        .withColumn("cum_conv", F.sum("conv_n").over(wc).cast("long"))
        .select(
            "decile",
            F.col("n").cast("long").alias("n"),
            "conv_n",
            "cum_conv",
            (
                (F.col("cum_conv") * F.lit(100)).cast("double")
                / F.col("tot_conv").cast("double")
            ).alias("gain_pct"),
            (
                (F.col("conv_n") * F.col("tot_n")).cast("double")
                / (F.col("n") * F.col("tot_conv")).cast("double")
            ).alias("lift"),
        )
    )


@register(
    "text_tfidf_topterms",
    f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rnk
          FROM s)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """Top-3 characteristic terms per document by rational TF-IDF
    score tf·N/df — ONE division of exact integers, so the ranking is
    engine-portable without trusting log() bit-parity (idf's log is
    monotone in N/df, so rankings agree).  tf is one hash aggregate on
    (doc, term); df is a vocabulary-sized aggregate broadcast back;
    the per-doc top-3 is a window over each doc's own terms with the
    term string as tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.transform(text.tokens("text"), lambda x: F.lower(x))).alias("term"),
    )
    tf = tk.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    s = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n")).cast("double") / F.col("df").cast("double"),
        )
    )
    r = s.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
        ),
    )
    return r.filter(F.col("rnk") <= 3).select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
        F.col("rnk").cast("long").alias("rnk"),
    )


@register(
    "a_kanonymity_risk",
    """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
                      CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                      count(*) AS k
               FROM customer GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
    b AS (SELECT CASE WHEN k = 1 THEN 'k=1'
                      WHEN k < 5 THEN 'k=2-4'
                      WHEN k < 10 THEN 'k=5-9'
                      ELSE 'k>=10' END AS k_bucket,
                 count(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_records
          FROM q GROUP BY 1)
    SELECT k_bucket, CAST(n_groups AS BIGINT) AS n_groups, n_records,
           CAST(n_records * 100 AS DOUBLE) / CAST(tot.n AS DOUBLE)
             AS pct_records
    FROM b CROSS JOIN tot
    """,
)
def a_kanonymity_risk(spark, sf_dir):
    """K-anonymity risk audit over the quasi-identifier (nation,
    market segment, $1000 balance band): how many equivalence classes
    — and what share of records — sit below re-identification
    thresholds k∈{1, 5, 10}.  One hash aggregate on the QI tuple, a
    constant-size bucket rollup, and a 1-row total broadcast; the
    privacy-engineering counterpart of the constraint audit."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count("*").alias("k"))
    tot = cust.agg(F.count("*").cast("long").alias("n"))
    b = q.groupBy(
        F.when(F.col("k") == 1, "k=1")
        .when(F.col("k") < 5, "k=2-4")
        .when(F.col("k") < 10, "k=5-9")
        .otherwise("k>=10")
        .alias("k_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("k").cast("long").alias("n_records"),
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "k_bucket",
        "n_groups",
        "n_records",
        (
            (F.col("n_records") * F.lit(100)).cast("double")
            / F.col("n").cast("double")
        ).alias("pct_records"),
    )


@register(
    "a_corr_matrix",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    p AS (SELECT a.day, a.event_type AS type_a, b.event_type AS type_b,
                 a.x AS xa, b.x AS xb
          FROM daily a JOIN daily b
            ON a.day = b.day AND a.event_type < b.event_type),
    m AS (SELECT type_a, type_b, count(*) AS n,
                 CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                 CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                 CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                 CAST(SUM(xb * xb) AS BIGINT) AS syy
          FROM p GROUP BY 1, 2)
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
    FROM m
    """,
)
def a_corr_matrix(spark, sf_dir):
    """Pearson correlation matrix between event types over their daily
    value totals.  Co-moments (Σx, Σy, Σxy, Σx², Σy², n) are EXACT
    integers (cent-scaled daily sums), so the only float work is the
    final closed-form expression — int64→double casts, sqrt, one
    divide — all IEEE-deterministic on identical inputs, which is what
    makes a float statistic hash-portable across engines.  Plan: one
    daily aggregate (map-side partial), a day-aligned self-join that
    fans out to |types|² pairs per day (bounded), one moment
    aggregate.  At 100 TB the daily table is tiny — the heavy lifting
    is the first aggregate, which is the same shape as any rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("x"))
    a = daily.select("day", F.col("event_type").alias("type_a"), F.col("x").alias("xa"))
    b = daily.select("day", F.col("event_type").alias("type_b"), F.col("x").alias("xb"))
    p = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    m = p.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "type_a", "type_b", F.col("n").cast("long").alias("n_days"),
        # nullif: zero-variance series → den 0 → NULL like DuckDB x/0
        (num / F.nullif(den, F.lit(0.0))).alias("r"),
    )


@register(
    "dedup_lsh_recall_eval",
    f"""
    {_minhash_pairs_cte()},
    truth AS (
      SELECT doc_id AS id1, doc_id + 1000000 AS id2, 'exact' AS dup_class
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id, doc_id + 2000000, 'near'
      FROM documents WHERE doc_id % 9 = 0),
    hits AS (
      SELECT t.dup_class, count(*) AS n_found
      FROM truth t JOIN pairs p ON t.id1 = p.id1 AND t.id2 = p.id2
      GROUP BY 1),
    tot AS (SELECT dup_class, count(*) AS n_truth FROM truth GROUP BY 1),
    cand AS (SELECT count(*) AS n_cand FROM pairs)
    SELECT tot.dup_class, CAST(n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(n_found, 0) AS BIGINT) AS n_found,
           CAST(coalesce(n_found, 0) AS DOUBLE) / CAST(n_truth AS DOUBLE)
             AS recall,
           CAST(n_cand AS BIGINT) AS n_candidates
    FROM tot LEFT JOIN hits USING (dup_class) CROSS JOIN cand
    """,
)
def dedup_lsh_recall_eval(spark, sf_dir):
    """LSH evaluation harness: recall of the minhash candidate pairs
    against the KNOWN injected duplicate structure (exact copies at
    id+1e6 for id%5==0, near copies at id+2e6 for id%9==0) — the
    measurement loop every production dedup pipeline needs before
    trusting (bands, rows) settings at scale.  Truth is derived
    in-plan from the injection rule (no side files); recall is one
    exact-integer division per class; the candidate total rides along
    as the cost denominator.  Complements dedup_band_tuning: that
    query predicts the S-curve, this one measures ground truth."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    truth = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id1"),
            (F.col("doc_id") + 1000000).alias("id2"),
            F.lit("exact").alias("dup_class"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                F.col("doc_id").alias("id1"),
                (F.col("doc_id") + 2000000).alias("id2"),
                F.lit("near").alias("dup_class"),
            )
        )
    )
    hits = (
        truth.join(pairs, ["id1", "id2"])
        .groupBy("dup_class")
        .agg(F.count("*").alias("n_found"))
    )
    tot = truth.groupBy("dup_class").agg(F.count("*").alias("n_truth"))
    cand = pairs.agg(F.count("*").alias("n_candidates"))
    return (
        tot.join(F.broadcast(hits), "dup_class", "left")
        .crossJoin(F.broadcast(cand))
        .select(
            "dup_class",
            F.col("n_truth").cast("long").alias("n_truth"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            (
                F.coalesce("n_found", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
    )


@register(
    "text_boilerplate_ngrams",
    f"""
    WITH docs_b AS (
      SELECT doc_id, source,
             text || ' subscribe to the ' || source ||
             ' newsletter for daily updates today' AS text
      FROM documents),
    tk AS (SELECT doc_id, source, {_SQL_TOKS} AS tk FROM docs_b),
    sh AS (SELECT doc_id, source,
                  list_transform(range(1, greatest(len(tk) - 7, 0) + 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                         tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' ||
                         tk[i+6] || ' ' || tk[i+7]) AS gs
           FROM tk),
    g AS (SELECT doc_id, source, unnest(gs) AS gram FROM sh),
    bp AS (SELECT source, gram
           FROM (SELECT source, gram, count(DISTINCT doc_id) AS df
                 FROM g GROUP BY 1, 2) t
           WHERE df >= 3),
    per_doc AS (
      SELECT g.doc_id, count(*) AS n_grams,
             CAST(SUM(CASE WHEN bp.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_boiler
      FROM g LEFT JOIN bp ON g.source = bp.source AND g.gram = bp.gram
      GROUP BY 1)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, n_boiler,
           CAST(n_boiler * 10000 AS DOUBLE) / CAST(n_grams AS DOUBLE)
             AS boiler_bp
    FROM per_doc
    """,
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate detection without line structure: a word 8-gram
    repeated in ≥ 3 DISTINCT documents of the same source is
    boilerplate (the n-gram generalization of CCNet/RefinedWeb
    repeated-line removal — headers, footers, templates).  Per
    document: total 8-gram positions, boilerplate positions, and the
    rate in basis points (one exact-integer division).  Plan:
    tokenize-once shingling, one (source, gram) distinct-doc count —
    shuffle scales with DISTINCT grams, not corpus — and an equi-join
    back on (source, gram); no UDFs anywhere.

    The synthetic corpus has no shared templates, so a per-source
    newsletter suffix is injected in-plan (the _docs_with_dupes
    discipline) — every doc of a source then shares the
    template-internal 8-grams and the detector must find exactly
    those."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .transform(_fanout(spark))
        .select(
            "doc_id",
            "source",
            F.concat(
                F.col("text"),
                F.lit(" subscribe to the "),
                F.col("source"),
                F.lit(" newsletter for daily updates today"),
            ).alias("text"),
        )
    )
    # two consumers (the df aggregate and the join-back) — persist the
    # per-doc 8-gram ARRAYS so shingling runs once (the multi-consumer
    # discipline; the arrays cache smaller than the exploded stream).
    # df counts per-doc DISTINCT grams exploded row-locally, so a plain
    # count(*) (with map-side partial aggregation) replaces
    # countDistinct's two-phase expand over (source, gram, doc) triples
    # — each (source, gram, doc) appears exactly once after
    # array_distinct, and a doc has one source, so the counts are equal
    # by construction.
    sh = docs.select(
        "doc_id", "source", text.shingles("text", 8).alias("gs")
    ).persist()
    bp = (
        sh.select("source", F.explode(F.array_distinct("gs")).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 3)
        .select("source", "gram", F.lit(1).alias("is_bp"))
    )
    per_doc = (
        sh.select("doc_id", "source", F.explode("gs").alias("gram"))
        .join(bp, ["source", "gram"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("is_bp", F.lit(0))).cast("long").alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_boiler",
        (
            (F.col("n_boiler") * F.lit(10000)).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("boiler_bp"),
    )


@register(
    "w_seasonal_dow_index",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             -- DuckDB dayofweek: 0=Sunday..6; Spark: 1=Sunday..7
             CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3),
    byd AS (SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS n_ev,
                   count(*) AS n_days
            FROM daily GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n_ev) AS BIGINT) AS tot_ev,
                   CAST(SUM(n_days) AS BIGINT) AS tot_days
            FROM byd GROUP BY 1)
    SELECT b.event_type, b.dow, n_ev, CAST(n_days AS BIGINT) AS n_days,
           CAST(n_ev * tot_days AS DOUBLE) / CAST(n_days * tot_ev AS DOUBLE)
             AS seasonal_index
    FROM byd b JOIN tot USING (event_type)
    """,
)
def w_seasonal_dow_index(spark, sf_dir):
    """Day-of-week seasonal index per event type: (mean daily count on
    that weekday) / (overall mean daily count), computed as ONE
    division of exact integer products — the multiplicative
    seasonality profile used to deseasonalize metrics before anomaly
    detection.  Two stacked aggregates (day, then weekday) plus a
    per-type total broadcast; everything partial-aggregates
    map-side."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
    ).agg(F.count("*").alias("n"))
    byd = daily.groupBy("event_type", "dow").agg(
        F.sum("n").cast("long").alias("n_ev"), F.count("*").alias("n_days")
    )
    tot = byd.groupBy("event_type").agg(
        F.sum("n_ev").cast("long").alias("tot_ev"),
        F.sum("n_days").cast("long").alias("tot_days"),
    )
    return (
        byd.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n_ev",
            F.col("n_days").cast("long").alias("n_days"),
            (
                (F.col("n_ev") * F.col("tot_days")).cast("double")
                / (F.col("n_days") * F.col("tot_ev")).cast("double")
            ).alias("seasonal_index"),
        )
    )


@register(
    "o6_hypothetical_rank",
    """
    WITH probe AS (SELECT unnest(CAST([0.0, 5000.0, 9000.0] AS DOUBLE[]))
                     AS hyp_bal),
    agg AS (
      SELECT hyp_bal,
             CAST(count(CASE WHEN c_acctbal < hyp_bal THEN 1 END) AS BIGINT)
               AS n_below,
             CAST(count(*) AS BIGINT) AS n
      FROM customer CROSS JOIN probe
      GROUP BY 1)
    SELECT hyp_bal, n_below + 1 AS hyp_rank,
           CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE) AS hyp_percentile
    FROM agg
    """,
)
def o6_hypothetical_rank(spark, sf_dir):
    """Hypothetical-set rank (SQL's RANK(x) WITHIN GROUP (ORDER BY
    ...)): where would a candidate balance rank among all customers?
    Rank = 1 + count(existing < x), as a broadcast cross of the 3-row
    probe set against one counting aggregate — no global sort, no
    window; the fact side partial-aggregates map-side, so this costs
    one scan regardless of probe count."""
    cust = load_table(spark, sf_dir, "customer")
    probe = spark.createDataFrame(
        [(0.0,), (5000.0,), (9000.0,)], "hyp_bal double"
    )
    agg = (
        cust.crossJoin(F.broadcast(probe))
        .groupBy("hyp_bal")
        .agg(
            F.count(F.when(F.col("c_acctbal") < F.col("hyp_bal"), 1))
            .cast("long")
            .alias("n_below"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return agg.select(
        "hyp_bal",
        (F.col("n_below") + 1).alias("hyp_rank"),
        (F.col("n_below").cast("double") / F.col("n").cast("double")).alias(
            "hyp_percentile"
        ),
    )


@register(
    "ann_recall_eval",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes AS (SELECT vec_id AS plane_id, v FROM e WHERE vec_id < 8),
    bits AS (
      SELECT a.vec_id, b.plane_id,
             CASE WHEN {_SQL_DOT} >= 0 THEN '1' ELSE '0' END AS bit
      FROM e a CROSS JOIN planes b),
    buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket
      FROM bits GROUP BY 1),
    n AS (
      SELECT e.vec_id, e.v, bk.bucket,
             {_sql_norm("e")} AS nrm
      FROM e JOIN buckets bk ON e.vec_id = bk.vec_id),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) DESC,
                          b.vec_id) AS rank
        FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) t
      WHERE rank <= 5),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) DESC,
                          b.vec_id) AS rank
        FROM n a JOIN n b
          ON a.vec_id < 10 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id) t
      WHERE rank <= 5),
    ap AS (SELECT query_id, count(*) AS n_approx FROM approx GROUP BY 1),
    ov AS (SELECT t.query_id, count(*) AS n_overlap
           FROM truth t JOIN approx a
             ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
           GROUP BY 1)
    SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_truth,
           CAST(coalesce(max(ap.n_approx), 0) AS BIGINT) AS n_approx,
           CAST(coalesce(max(ov.n_overlap), 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(max(ov.n_overlap), 0) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS recall_at_5
    FROM truth t
    LEFT JOIN ap ON t.query_id = ap.query_id
    LEFT JOIN ov ON t.query_id = ov.query_id
    GROUP BY 1
    """,
)
def ann_recall_eval(spark, sf_dir):
    """ANN evaluation harness: recall@5 of the hyperplane-LSH index
    against exact brute-force ground truth, per query — the
    measurement loop that decides whether an index's (planes, probes)
    setting is shippable, computed entirely in-plan.  Ground truth
    reuses the broadcast-queries × corpus exact scorer (bounded by the
    10-query probe set); the approx side reuses the bucket equi-join;
    both rankings share the exact-integer dot products, so overlap
    counting is a plain equi-join on (query, neighbor).  recall@5 is
    one exact-integer division.  Complements dedup_lsh_recall_eval on
    the embedding side of the house."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = lsim.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    # fused bucket+norm corpus — one scan + one Arrow hop per side
    # (r13 optimization, see ann_lsh_topk)
    withb = lsim.bucketed_norm_corpus(emb, n_planes=8)
    q = withb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("__qv"),
        F.col("nrm").alias("__qn"),
        "bucket",
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("__cv"),
        F.col("nrm").alias("__cn"),
        F.col("bucket").alias("__cb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    approx = (
        q.join(
            c,
            (F.col("bucket") == F.col("__cb"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cosine_sim",
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            lsim.dot_exact_vec(F.col("__qv"), F.col("__cv"))
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    ap = approx.groupBy("query_id").agg(F.count("*").alias("n_approx"))
    ov = truth.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        truth.groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_truth"))
        .join(F.broadcast(ap), "query_id", "left")
        .join(F.broadcast(ov), "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall_at_5"),
        )
    )


def _er_merge_oracle() -> str:
    """Min-label components over the phonetic-variant pair graph, then
    one canonical row per multi-variant entity."""
    chain, prev = _min_label_chain("tok")
    return f"""
    WITH pp AS ({_phonetic_er_oracle()}),
    e AS (SELECT tok1 AS src, tok2 AS dst FROM pp
          UNION ALL SELECT tok2, tok1 FROM pp),
    {chain}
    SELECT lbl AS canonical, CAST(count(*) AS BIGINT) AS n_variants,
           array_to_string(list_sort(list(tok)), ',') AS variants
    FROM {prev} GROUP BY 1
    """


@register("er_transitive_merge", None)  # oracle attached below
def er_transitive_merge(spark, sf_dir):
    """End-to-end entity resolution: phonetic-blocked candidate pairs
    (er_phonetic_pairs' plan) → transitive closure via min-label
    propagation (3 rounds, the components discipline: one join + one
    min-aggregate per round, per-round localCheckpoint so the label
    state is referenced twice per round without doubling lineage —
    the persist-chain form nested the whole phonetic-pair tree into
    a 35,439-node executed plan) →
    one canonical record per entity: the lexicographically-least
    variant, the variant count, and the comma-joined sorted variant
    list (scalar, never an array column).  This is the full
    Fellegi-Sunter merge step a record-linkage pipeline runs after
    pairing — the ER twin of corpus_dedup_pipeline."""
    pairs = (
        QUERIES["er_phonetic_pairs"](spark, sf_dir).select("tok1", "tok2").persist()
    )
    e = pairs.select(F.col("tok1").alias("src"), F.col("tok2").alias("dst")).unionAll(
        pairs.select(F.col("tok2").alias("src"), F.col("tok1").alias("dst"))
    ).transform(cut_lineage)
    pairs.unpersist()
    lbl = e.select(F.col("src").alias("tok")).distinct().withColumn(
        "lbl", F.col("tok")
    )
    for _ in range(3):
        msg = (
            e.join(lbl.withColumnRenamed("tok", "src"), "src")
            .groupBy(F.col("dst").alias("tok"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        lbl = (
            lbl.join(msg, "tok", "left")
            .select(
                "tok", F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")
            )
            # eager per-round materialization truncates the doubled
            # lineage (lbl feeds both msg and the least-merge);
            # superseded rounds are freed by the ContextCleaner
            .transform(cut_lineage)
        )
    return lbl.groupBy(F.col("lbl").alias("canonical")).agg(
        F.count("*").cast("long").alias("n_variants"),
        F.array_join(F.sort_array(F.collect_list("tok")), ",").alias("variants"),
    )


ORACLES["er_transitive_merge"] = _er_merge_oracle()


@register(
    "w_ratio_to_report",
    """
    WITH r AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1, 2),
    t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS grand FROM r)
    SELECT o_orderstatus, o_orderpriority, rev_c,
           CAST(rev_c AS DOUBLE)
             / CAST(SUM(rev_c) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
             AS share_in_status,
           CAST(rev_c AS DOUBLE) / CAST(grand AS DOUBLE) AS share_total
    FROM r CROSS JOIN t
    """,
)
def w_ratio_to_report(spark, sf_dir):
    """Share-of-total reporting (Oracle's RATIO_TO_REPORT): each
    (status, priority) cell's cent-exact revenue as a fraction of its
    status group and of the grand total.  One aggregate to the
    30-cell report table, then a window over that TINY table plus a
    1-row grand-total broadcast — the fact table is scanned once and
    every division is a single IEEE op on exact integers."""
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    t = r.agg(F.sum("rev_c").cast("long").alias("grand"))
    ws = Window.partitionBy("o_orderstatus")
    return (
        r.crossJoin(F.broadcast(t))
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "rev_c",
            (
                F.col("rev_c").cast("double")
                / F.sum("rev_c").over(ws).cast("double")
            ).alias("share_in_status"),
            (F.col("rev_c").cast("double") / F.col("grand").cast("double")).alias(
                "share_total"
            ),
        )
    )


@register(
    "w_funnel_ttc",
    """
    WITH fc AS (SELECT user_id, min(ts) AS first_click
                FROM events WHERE event_type = 'click' GROUP BY 1),
    fp AS (SELECT e.user_id, min(e.ts) AS first_purchase
           FROM events e JOIN fc ON e.user_id = fc.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click
           GROUP BY 1),
    d AS (SELECT fc.user_id,
                 CAST(floor(epoch(fp.first_purchase)) AS BIGINT)
                   - CAST(floor(epoch(fc.first_click)) AS BIGINT) AS ttc_s
          FROM fc JOIN fp ON fc.user_id = fp.user_id),
    r AS (SELECT ttc_s,
                 row_number() OVER (ORDER BY ttc_s, user_id) AS rn,
                 count(*) OVER () AS n
          FROM d)
    SELECT CAST(max(n) AS BIGINT) AS n_converted,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN ttc_s END) AS BIGINT)
             AS median_ttc_s,
           CAST(max(CASE WHEN rn = greatest((n * 9) // 10, 1) THEN ttc_s END)
                AS BIGINT) AS p90_ttc_s
    FROM r
    """,
)
def w_funnel_ttc(spark, sf_dir):
    """Funnel time-to-convert: per user, first click → first purchase
    AT-OR-AFTER it; report converted-user count with median-low and
    p90-low latency via order-statistic SELECTION (rank = ⌊(n+1)/2⌋,
    ⌊9n/10⌋) — never interpolation, which differs in IEEE between
    engines.  Two per-user min-aggregates, then a DISTRIBUTED ranking
    over the converted-user set (range-bucket on ttc_s + per-bucket
    offsets — ow.bucketed_running; the user_id tiebreak pins equal
    latencies) with n on a 1-row broadcast: at 10⁹ converted users no
    single task ever holds the sort."""
    ev = load_table(spark, sf_dir, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    d = fc.join(fp, "user_id").select(
        "user_id",
        (
            F.unix_timestamp("first_purchase") - F.unix_timestamp("first_click")
        ).alias("ttc_s"),
    )
    nrow = d.agg(F.count("*").alias("n"))
    r = ow.bucketed_running(
        ow.monotone_range_bucket(d, "ttc_s"),
        order_cols=["ttc_s", "user_id"],
        rn_col="rn",
    ).crossJoin(F.broadcast(nrow))
    return r.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ttc_s")))
        .cast("long")
        .alias("median_ttc_s"),
        F.max(
            F.when(F.col("rn") == F.expr("greatest((n * 9) div 10, 1)"), F.col("ttc_s"))
        )
        .cast("long")
        .alias("p90_ttc_s"),
    )


def _power_iter_oracle(rounds: int = 4) -> str:
    """Unrolled power iteration v ← normalize(XᵀXv): the matrix is
    only ever touched via per-row dot products (s = Xv) and one
    per-dim aggregate (w = Xᵀs) — never materialized."""
    chain, prev = _chain("v0", rounds, lambda r, prev: {
        f"s{r}": f"""
      SELECT d.vec_id,
             CAST(SUM(CAST(floor(d.val * {prev}.vv * 1000000) AS BIGINT))
                  AS DOUBLE) / 1000000.0 AS s
      FROM d JOIN {prev} ON d.dim = {prev}.dim GROUP BY 1""",
        f"w{r}": f"""
      SELECT d.dim,
             SUM(CAST(floor(s{r}.s * d.val * 1000000) AS BIGINT)) AS w
      FROM d JOIN s{r} ON d.vec_id = s{r}.vec_id GROUP BY 1""",
        f"m{r}": f"SELECT max(abs(w)) AS m FROM w{r}",
        f"v{r}": f"""SELECT dim, CAST(w AS DOUBLE) / CAST(m AS DOUBLE) AS vv
             FROM w{r} CROSS JOIN m{r}""",
    })
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT vec_id, i.i AS dim, v[i.i] AS val
          FROM e, unnest(range(1, len(v) + 1)) i(i)),
    v0 AS (SELECT DISTINCT dim, 1.0 AS vv FROM d),
    {chain}
    SELECT CAST(dim AS INTEGER) AS dim, vv AS loading FROM {prev}
    """


@register("emb_top_pc_power", _power_iter_oracle())
def emb_top_pc_power(spark, sf_dir):
    """Top principal direction of the embedding matrix by MATRIX-FREE
    power iteration (4 rounds of v ← normalize(XᵀXv)) — distributed
    linear algebra with the matrix touched only through two
    aggregates per round: s = Xv is one broadcast join (v is 64 rows)
    + per-row dot, w = Xᵀs is one 64-group aggregate.  X never
    shuffles; per-round state is the 64-row direction vector, kept
    RELATIONAL (no driver collect), persisted per round for linear
    lineage.  Parity: every dot term is floor-scaled to int64 before
    summation and the ∞-norm normalization is one exact-int division
    per dim, so both engines walk the identical IEEE sequence.
    Convergence to the top eigenvector follows from the power method
    (fixed 4 rounds keeps the oracle replayable)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
        .persist()
    )
    v = d.select("dim").distinct().withColumn("vv", F.lit(1.0))
    # r13 optimization (guide §3.3/§5): w feeds both the ∞-norm and
    # the next direction, and rounds chained persists — the executed
    # plan nested the exploded-matrix subtree per reference (1,150
    # Exchange nodes).  Checkpoint the 64-row w and v per round; d
    # stays a real multi-round cache.
    for _ in range(4):
        s = (
            d.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(
                (
                    F.sum(
                        F.floor(F.col("val") * F.col("vv") * 1000000).cast("long")
                    ).cast("double")
                    / 1000000.0
                ).alias("s")
            )
        )
        w = (
            d.join(s, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.floor(F.col("s") * F.col("val") * 1000000).cast("long")
                ).alias("w")
            )
            .transform(cut_lineage)
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                "dim", (F.col("w").cast("double") / F.col("m").cast("double")).alias("vv")
            )
            .transform(cut_lineage)
        )
    d.unpersist()
    return v.select(F.col("dim").cast("int").alias("dim"), F.col("vv").alias("loading"))


@register(
    "emb_covariance_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT vec_id, i.i AS dim, v[i.i] AS val
          FROM e, unnest(range(1, len(v) + 1)) i(i)),
    p AS (SELECT a.dim AS dim_i, b.dim AS dim_j,
                 count(*) AS n,
                 CAST(SUM(CAST(floor(a.val * 10000) AS BIGINT)) AS BIGINT) AS sx,
                 CAST(SUM(CAST(floor(b.val * 10000) AS BIGINT)) AS BIGINT) AS sy,
                 CAST(SUM(CAST(floor(a.val * b.val * 100000000) AS BIGINT))
                      AS BIGINT) AS sxy
          FROM d a JOIN d b ON a.vec_id = b.vec_id AND a.dim < b.dim
          GROUP BY 1, 2)
    SELECT CAST(dim_i AS INTEGER) AS dim_i, CAST(dim_j AS INTEGER) AS dim_j,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100000000.0) AS cov
    FROM p
    ORDER BY abs(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100000000.0)) DESC,
             dim_i, dim_j
    LIMIT 20
    """,
)
def emb_covariance_topk(spark, sf_dir):
    """The 20 most-correlated embedding dimension pairs by |population
    covariance| — the redundancy screen run before whitening/PQ
    subspace splits.  Co-moments are exact integers (1e4-scaled
    singles, 1e8-scaled products — consistent units, int64-safe to
    ~1e5× this corpus), combined by the n·Σxy − ΣxΣy identity and ONE
    division chain per pair.  Plan: posexplode then a per-vector
    self-join fanning each row to d(d−1)/2 = 2016 pairs — bounded by
    the DIMENSION, not the corpus — into a 2016-group aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    a = d.select("vec_id", F.col("dim").alias("dim_i"), F.col("val").alias("xa"))
    b = d.select("vec_id", F.col("dim").alias("dim_j"), F.col("val").alias("xb"))
    p = (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") < F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("xa") * 10000).cast("long")).cast("long").alias("sx"),
            F.sum(F.floor(F.col("xb") * 10000).cast("long")).cast("long").alias("sy"),
            F.sum(F.floor(F.col("xa") * F.col("xb") * 100000000).cast("long"))
            .cast("long")
            .alias("sxy"),
        )
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double") * 100000000.0
    )
    return (
        p.select(
            F.col("dim_i").cast("int").alias("dim_i"),
            F.col("dim_j").cast("int").alias("dim_j"),
            cov.alias("cov"),
        )
        .orderBy(F.abs(F.col("cov")).desc(), "dim_i", "dim_j")
        .limit(20)
    )


@register(
    "corpus_length_batching",
    f"""
    WITH t AS (SELECT doc_id, len({_SQL_TOKS_RAW}) AS n_tok FROM documents),
    strat AS (
      SELECT doc_id, n_tok, 'hash_order' AS strategy,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM t
      UNION ALL
      SELECT doc_id, n_tok, 'length_sorted',
             row_number() OVER (ORDER BY n_tok, doc_id)
      FROM t),
    b AS (SELECT strategy, (rn - 1) // 32 AS batch_id,
                 count(*) AS bsz, CAST(SUM(n_tok) AS BIGINT) AS real_tok,
                 max(n_tok) AS mx
          FROM strat GROUP BY 1, 2)
    SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
           CAST(SUM(real_tok) AS BIGINT) AS real_tokens,
           CAST(SUM(mx * bsz) AS BIGINT) AS padded_tokens,
           CAST((SUM(mx * bsz) - SUM(real_tok)) * 10000 AS DOUBLE)
             / CAST(SUM(mx * bsz) AS DOUBLE) AS waste_bp
    FROM b GROUP BY 1
    """,
)
def corpus_length_batching(spark, sf_dir):
    """Training-batch padding efficiency: pack documents into
    32-row batches under (a) hash order — the naive shuffled loader —
    and (b) length-sorted order (bucketed batching), then report
    padded-token waste (each batch pads to its longest member).  The
    quantified case for length bucketing in a tokenizer pipeline,
    from one token-count scan and two rankings.  Waste is one
    exact-integer division in basis points.  Both rankings run
    DISTRIBUTED (ow.bucketed_running): the hash order buckets on the
    md5's leading byte (order-preserving on the hex string, 256
    buckets), the length order range-buckets on n_tok — no task ever
    sorts more than one bucket, so the report holds at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(text.tokens("text")).cast("long").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    hashed = ow.bucketed_running(
        t.withColumn("__bkt", F.substring("__h", 1, 2)),
        order_cols=["__h", "doc_id"],
        rn_col="rn",
    )
    lengthed = ow.bucketed_running(
        ow.monotone_range_bucket(t, "n_tok"),
        order_cols=["n_tok", "doc_id"],
        rn_col="rn",
    )
    strat = hashed.select(
        "n_tok", F.lit("hash_order").alias("strategy"), "rn"
    ).unionAll(
        lengthed.select("n_tok", F.lit("length_sorted").alias("strategy"), "rn")
    )
    b = strat.groupBy(
        "strategy", F.expr("(rn - 1) div 32").alias("batch_id")
    ).agg(
        F.count("*").alias("bsz"),
        F.sum("n_tok").cast("long").alias("real_tok"),
        F.max("n_tok").alias("mx"),
    )
    return b.groupBy("strategy").agg(
        F.count("*").cast("long").alias("n_batches"),
        F.sum("real_tok").cast("long").alias("real_tokens"),
        F.sum(F.col("mx") * F.col("bsz")).cast("long").alias("padded_tokens"),
        (
            (
                (F.sum(F.col("mx") * F.col("bsz")) - F.sum("real_tok")) * F.lit(10000)
            ).cast("double")
            / F.sum(F.col("mx") * F.col("bsz")).cast("double")
        ).alias("waste_bp"),
    )


@register(
    "w_window_funnel",
    """
    WITH c AS (SELECT user_id, min(ts) AS t1
               FROM events WHERE event_type = 'click' GROUP BY 1),
    v AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'view' AND e.ts > c.t1
            AND e.ts <= c.t1 + INTERVAL 24 HOURS
          GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t3
          FROM events e
          JOIN c ON e.user_id = c.user_id
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.t2
            AND e.ts <= c.t1 + INTERVAL 24 HOURS
          GROUP BY 1),
    lv AS (SELECT c.user_id,
                  CASE WHEN p.user_id IS NOT NULL THEN 3
                       WHEN v.user_id IS NOT NULL THEN 2
                       ELSE 1 END AS level
           FROM c LEFT JOIN v ON c.user_id = v.user_id
                  LEFT JOIN p ON c.user_id = p.user_id)
    SELECT level, CAST(count(*) AS BIGINT) AS n_users
    FROM lv GROUP BY 1
    """,
)
def w_window_funnel(spark, sf_dir):
    """Strict-order windowed funnel (ClickHouse's windowFunnel):
    click → view → purchase, each step STRICTLY after the previous
    and the whole chain inside 24 hours of the first click.  Levels are
    computed by chained conditional min-aggregates — one keyed
    aggregate per stage, each joined back broadcast-style on the
    (shrinking) user set — never a per-user sort or UDF.  Output:
    users reaching each funnel depth.  Differs from
    w_funnel_conversion (unordered ever-did-X) by enforcing order and
    the window."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lv = (
        c.join(v.select("user_id", F.lit(1).alias("__v")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("__p")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("__p").isNotNull(), 3)
            .when(F.col("__v").isNotNull(), 2)
            .otherwise(1)
            .alias("level"),
        )
    )
    return lv.groupBy("level").agg(F.count("*").cast("long").alias("n_users"))


@register(
    "w_interval_union",
    """
    WITH b AS (
      SELECT user_id, ts AS t, 1 AS delta, event_id AS tid FROM events
      UNION ALL
      SELECT user_id, ts + INTERVAL 300 SECONDS, -1, event_id FROM events),
    r AS (SELECT user_id, t, delta,
                 SUM(delta) OVER w AS conc,
                 lead(t) OVER (PARTITION BY user_id ORDER BY t, delta, tid)
                   AS next_t
          FROM b
          WINDOW w AS (PARTITION BY user_id ORDER BY t, delta, tid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id,
           CAST(SUM(CASE WHEN conc > 0 AND next_t IS NOT NULL
                         THEN CAST(floor(epoch(next_t)) AS BIGINT)
                              - CAST(floor(epoch(t)) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS covered_s
    FROM r GROUP BY 1
    """,
)
def w_interval_union(spark, sf_dir):
    """Total covered time of the union of overlapping intervals (each
    event opens a 300 s activity window): the sweep-line again, but
    summing segment lengths wherever running coverage > 0 instead of
    taking the max — "how long was the user active at all", the
    companion metric to w_concurrency_peak.  One sort per user, two
    windows sharing it, integer second arithmetic; an interval-merge
    self-join would be quadratic on dense users."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        "user_id", F.col("ts").alias("t"), F.lit(1).alias("delta"),
        F.col("event_id").alias("tid"),
    )
    ends = ev.select(
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
        F.lit(-1).alias("delta"),
        F.col("event_id").alias("tid"),
    )
    b = starts.unionAll(ends)
    wsort = Window.partitionBy("user_id").orderBy("t", "delta", "tid")
    w = wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = b.withColumn("conc", F.sum("delta").over(w)).withColumn(
        "next_t", F.lead("t").over(wsort)
    )
    seg = F.when(
        (F.col("conc") > 0) & F.col("next_t").isNotNull(),
        F.unix_timestamp("next_t") - F.unix_timestamp("t"),
    ).otherwise(F.lit(0))
    return r.groupBy("user_id").agg(F.sum(seg).cast("long").alias("covered_s"))


@register(
    "dedup_prefix_hash",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    p AS (SELECT doc_id,
                 md5(array_to_string(list_slice(tk, 1, 16), ' ')) AS prefix_md5
          FROM tk WHERE len(tk) >= 16)
    SELECT prefix_md5, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_id
    FROM p GROUP BY 1
    HAVING count(*) >= 2
    """,
)
def dedup_prefix_hash(spark, sf_dir):
    """Prefix-duplicate detection: documents sharing an identical
    first-16-token prefix (md5 of the joined prefix) — the cheap
    screen scraped corpora run for mirror pages and templated
    boilerplate heads before any minhash (RefinedWeb-style
    URL+prefix dedup).  Map-only hashing, one count aggregate on a
    128-bit key, min-id keeper — the same keeper discipline as
    dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.transform(text.tokens("text"), lambda t: F.lower(t))
    p = docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(toks, 1, 16), " ")).alias("prefix_md5"),
        F.size(toks).alias("n_tok"),
    ).filter(F.col("n_tok") >= 16)
    return (
        p.groupBy("prefix_md5")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "a_sla_percentiles",
    """
    WITH d AS (
      SELECT o.o_orderpriority,
             CAST(floor(epoch(l.l_shipdate)) AS BIGINT)
               - CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS lead_s,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    r AS (SELECT o_orderpriority, lead_s,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY lead_s, l_orderkey, l_linenumber)
                   AS rn,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n
          FROM d)
    SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lead_s END) AS BIGINT)
             AS p50_lead_s,
           CAST(max(CASE WHEN rn = greatest((n * 9) // 10, 1) THEN lead_s END)
                AS BIGINT) AS p90_lead_s
    FROM r GROUP BY 1
    """,
)
def a_sla_percentiles(spark, sf_dir):
    """Per-group SLA latency percentiles: order-to-ship lead time
    p50/p90 per order priority by order-statistic SELECTION inside
    each group (rank ⌊(n+1)/2⌋ / ⌊9n/10⌋ over one per-group sort with
    a unique tiebreak) — the per-group generalization of
    w_funnel_ttc's global selection, and the everyday ops question
    'are URGENT orders actually faster?'."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        (F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")).alias(
            "lead_s"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("o_orderpriority").orderBy(
        "lead_s", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("o_orderpriority")
    r = d.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    return r.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("lead_s")))
        .cast("long")
        .alias("p50_lead_s"),
        F.max(
            F.when(F.col("rn") == F.expr("greatest((n * 9) div 10, 1)"), F.col("lead_s"))
        )
        .cast("long")
        .alias("p90_lead_s"),
    )


def _modularity_oracle() -> str:
    chain, prev = _min_label_chain("doc_id")
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    {chain},
    lab AS (SELECT doc_id, lbl FROM {prev}),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    intra AS (
      SELECT la.lbl AS c, CAST(count(*) AS BIGINT) AS lc
      FROM pairs p
      JOIN lab la ON p.id1 = la.doc_id
      JOIN lab lb ON p.id2 = lb.doc_id
      WHERE la.lbl = lb.lbl GROUP BY 1),
    deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    dc AS (SELECT lab.lbl AS c, CAST(SUM(dg) AS BIGINT) AS dcs
           FROM deg JOIN lab USING (doc_id) GROUP BY 1),
    terms AS (SELECT dc.c, CAST(coalesce(intra.lc, 0) AS BIGINT) AS lc, dc.dcs
              FROM dc LEFT JOIN intra ON dc.c = intra.c)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(mm.m) AS BIGINT) AS m_edges,
           CAST(CAST(SUM(4 * mm.m * lc - dcs * dcs) AS BIGINT) AS DOUBLE)
             / CAST(4 * max(mm.m) * max(mm.m) AS DOUBLE) AS modularity
    FROM terms CROSS JOIN mm
    """


@register("graph_modularity", _modularity_oracle())
def graph_modularity(spark, sf_dir):
    """Newman modularity of the min-label community partition over the
    near-dup graph: Q = Σ_c [L_c/m − (D_c/2m)²], held exact by the
    rearrangement Q = Σ_c(4·m·L_c − D_c²) / (4m²) — the numerator is
    an exact INTEGER sum over communities (a float Σ of per-community
    terms would be order-dependent), divided once.  Inputs are three
    small aggregates off the persisted edge list: within-community
    edge counts, per-community degree mass, and |E|.  The quality
    gate for any clustering step: Q ≈ 0 means the partition is no
    better than random wiring."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    # min_label_components eagerly caches its final label state, so the
    # three consumers below each read a cheap select over that cache
    lab = ldedup.min_label_components(pairs, iters=3).select(
        "doc_id", F.col("component").alias("lbl")
    )
    e = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionAll(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    mm = pairs.agg(F.count("*").cast("long").alias("m"))
    # Label joins are SHUFFLE equi-joins on the vertex key: the label
    # table is per-vertex-sized, so broadcasting it caps the operator
    # at driver/executor memory on a 100×-vertex graph.  ONE edge-label
    # pipeline (label both endpoints of the directed edge list, persist,
    # aggregate twice) supplies both modularity terms: within-community
    # edge count L_c = same-label directed rows / 2 (exact — each
    # undirected edge appears in both directions), and degree mass
    # D_c = directed rows with src in c (= Σ_{v∈c} deg v).
    lsrc = lab.select(F.col("doc_id").alias("src"), F.col("lbl").alias("c1"))
    ldst = lab.select(F.col("doc_id").alias("dst"), F.col("lbl").alias("c2"))
    terms = (
        e.join(lsrc, "src")
        .join(ldst, "dst")
        .groupBy(F.col("c1").alias("c"))
        .agg(
            (
                F.sum(F.when(F.col("c1") == F.col("c2"), 1).otherwise(0)) / 2
            )
            .cast("long")
            .alias("lc"),
            F.count("*").cast("long").alias("dcs"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(mm))
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.max("m").cast("long").alias("m_edges"),
            (
                F.sum(
                    F.lit(4) * F.col("m") * F.col("lc") - F.col("dcs") * F.col("dcs")
                )
                .cast("long")
                .cast("double")
                / (F.lit(4) * F.max("m") * F.max("m")).cast("double")
            ).alias("modularity"),
        )
    )


@register(
    "a_gini_skew",
    """
    WITH x AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
               FROM orders GROUP BY 1),
    r AS (SELECT cnt,
                 row_number() OVER (ORDER BY cnt, o_custkey) AS i,
                 count(*) OVER () AS n,
                 CAST(SUM(cnt) OVER () AS BIGINT) AS tot
          FROM x)
    SELECT CAST(max(n) AS BIGINT) AS n_keys,
           CAST(max(tot) AS BIGINT) AS total_rows,
           CAST(CAST(SUM(2 * i * cnt) AS BIGINT)
                - (max(n) + 1) * max(tot) AS DOUBLE)
             / CAST(max(n) * max(tot) AS DOUBLE) AS gini
    FROM r
    """,
)
def a_gini_skew(spark, sf_dir):
    """Gini coefficient of the per-customer order-count distribution —
    the single-number inequality metric that tells you whether a join
    key is salting-worthy before you profile partitions.  Closed form
    on counts sorted ascending (custkey tiebreak):
    G = (2Σᵢ i·xᵢ − (n+1)Σx) / (nΣx) — every term an exact integer,
    one final division.  The rank is over the KEY dimension (customers)
    and runs DISTRIBUTED: range-bucket on cnt, per-bucket offsets, then
    a partitioned row_number — no task sorts more than one bucket
    (ow.bucketed_running), so a 10⁸-customer dim never funnels through
    one executor.  n and Σx fold into the final one-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(F.count("*").cast("long").alias("cnt"))
    r = ow.bucketed_running(
        ow.monotone_range_bucket(x, "cnt"),
        order_cols=["cnt", "o_custkey"],
        rn_col="i",
    )
    return r.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        (
            (
                F.sum(F.lit(2) * F.col("i") * F.col("cnt")).cast("long")
                - (F.count("*") + 1) * F.sum("cnt")
            ).cast("double")
            / (F.count("*") * F.sum("cnt")).cast("double")
        ).alias("gini"),
    )


@register(
    "sketch_cms_error_audit",
    None,  # oracle attached below (reuses the count-min SQL fragments)
)
def sketch_cms_error_audit(spark, sf_dir):
    """Count-min sketch ERROR AUDIT over the full vocabulary: verify
    the one-sided guarantee (no estimate below truth — n_underest must
    be 0), and report how many estimates are exact, the worst
    overestimate, and the εN = ⌈e/w · N⌉ theoretical bound it must
    stay under.  The sketch-trust measurement loop, sibling of
    dedup_lsh_recall_eval and ann_recall_eval: sketches you haven't
    audited are sketches you can't ship."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # three consumers (sketch build, exact counts, stream total) — persist
    # so the tokenizing explode runs once
    toks = docs.select(
        F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias("item")
    ).persist()
    sketch = sketches.count_min(toks, "item", depth=4, width_chars=2)
    true_c = toks.groupBy("item").agg(F.count("*").cast("long").alias("true_c"))
    est = sketches.count_min_estimate(
        sketch, true_c.select("item"), "item", depth=4, width_chars=2
    )
    j = true_c.join(est, "item").withColumn(
        "over", F.col("est_c") - F.col("true_c")
    )
    n_tot = toks.agg(F.count("*").cast("long").alias("n_stream"))
    return (
        j.crossJoin(F.broadcast(n_tot))
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.max("n_stream").cast("long").alias("n_stream"),
            F.sum(F.when(F.col("over") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_underest"),
            F.sum(F.when(F.col("over") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_exact"),
            F.max("over").cast("long").alias("max_over"),
            # ceil(e/w · N) with e≈2.718282, w=256: exact integer
            # arithmetic via (a + b - 1) div b (a > 0) — Spark `div`
            # and DuckDB `//` both truncate toward zero, so the
            # negate-divide-negate idiom would compute FLOOR, not ceil
            F.expr(
                "CAST((2718282 * CAST(max(n_stream) AS BIGINT) + 255999999) div 256000000 AS BIGINT)"
            ).alias("eps_n_bound"),
        )
    )


from dicomdb_spark.functions.sketches import sql_hex_int as _sql_hex_int

_SQL_HEX8_DOCID = _sql_hex_int("md5(CAST(d.doc_id AS VARCHAR))", 8)


@register(
    "corpus_mix_rebalance",
    f"""
    WITH tgt AS (
      SELECT * FROM (VALUES ('en', 3000), ('es', 2000), ('fr', 2000),
                            ('de', 1500), ('zh', 1500)) t(lang, target_bp)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
    per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1),
    plan AS (
      SELECT per.lang, per.n_docs, tgt.target_bp,
             (n.total * tgt.target_bp) // 10000 AS target_count,
             least(((n.total * tgt.target_bp) // 10000) * 10000
                     // per.n_docs, 10000) AS rate_bp
      FROM per JOIN tgt USING (lang) CROSS JOIN n),
    sel AS (
      SELECT d.lang, count(*) AS n_selected
      FROM documents d JOIN plan p ON d.lang = p.lang
      WHERE {_SQL_HEX8_DOCID} % 10000 < p.rate_bp
      GROUP BY 1)
    SELECT p.lang, p.n_docs, CAST(p.target_bp AS INTEGER) AS target_bp,
           CAST(p.target_count AS BIGINT) AS target_count,
           CAST(p.rate_bp AS BIGINT) AS rate_bp,
           CAST(coalesce(sel.n_selected, 0) AS BIGINT) AS n_selected
    FROM plan p LEFT JOIN sel ON p.lang = sel.lang
    """,
)
def corpus_mix_rebalance(spark, sf_dir):
    """Rebalance the corpus to a TARGET language mix (basis points):
    from observed per-language counts, derive deterministic md5-
    threshold sampling rates (over-represented strata downsample,
    under-represented ones cap at keep-all) and report the selected
    counts the thresholds actually yield.  All plan arithmetic is
    integer (shares in bp, rates via integer division); selection is
    the same hash-threshold idiom as corpus_split_hash, so reruns and
    late-arriving data keep identical membership.  This is the mixing
    step of corpus curation (targets from DoReMi-style tuning) with
    zero RNG."""
    docs = load_table(spark, sf_dir, "documents")
    tgt = spark.createDataFrame(
        [("en", 3000), ("es", 2000), ("fr", 2000), ("de", 1500), ("zh", 1500)],
        "lang string, target_bp int",
    )
    n = docs.agg(F.count("*").cast("long").alias("total"))
    per = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    plan = (
        per.join(F.broadcast(tgt), "lang")
        .crossJoin(F.broadcast(n))
        .withColumn("target_count", F.expr("(total * target_bp) div 10000"))
        .withColumn(
            "rate_bp",
            F.least(F.expr("(target_count * 10000) div n_docs"), F.lit(10000).cast("long")),
        )
    )
    hash_bp = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 10000
    )
    sel = (
        docs.select("lang", hash_bp.alias("hbp"))
        .join(F.broadcast(plan.select("lang", "rate_bp")), "lang")
        .filter(F.col("hbp") < F.col("rate_bp"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_selected"))
    )
    return (
        plan.join(sel, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.col("target_bp").cast("int").alias("target_bp"),
            F.col("target_count").cast("long").alias("target_count"),
            F.col("rate_bp").cast("long").alias("rate_bp"),
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
        )
    )


def _cms_audit_oracle(depth: int = 4, width_chars: int = 2) -> str:
    from dicomdb_spark.functions.sketches import sql_cms_col

    col_of = lambda item: sql_cms_col(item, "d.d", width_chars)  # noqa: E731
    return f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS item FROM documents),
    rows_ AS (SELECT unnest(range(0, {depth})) AS d),
    cms AS (
      SELECT d.d, {col_of('e.item')} AS col, count(*) AS c
      FROM tok e CROSS JOIN rows_ d GROUP BY 1, 2),
    truec AS (SELECT item, CAST(count(*) AS BIGINT) AS true_c
              FROM tok GROUP BY 1),
    pe AS (SELECT t.item, t.true_c, d.d, {col_of('t.item')} AS col
           FROM truec t CROSS JOIN rows_ d),
    est AS (SELECT pe.item, pe.true_c, CAST(min(cms.c) AS BIGINT) AS est_c
            FROM pe JOIN cms ON cms.d = pe.d AND cms.col = pe.col
            GROUP BY 1, 2),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_stream FROM tok)
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           CAST(max(ns.n_stream) AS BIGINT) AS n_stream,
           CAST(SUM(CASE WHEN est_c - true_c < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_underest,
           CAST(SUM(CASE WHEN est_c = true_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(max(est_c - true_c) AS BIGINT) AS max_over,
           CAST((2718282 * max(ns.n_stream) + 255999999) // 256000000 AS BIGINT)
             AS eps_n_bound
    FROM est CROSS JOIN ns
    """


ORACLES["sketch_cms_error_audit"] = _cms_audit_oracle()


@register(
    "w_autocorrelation",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, x,
             lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2,
             lead(x, 3) OVER w AS x3, lead(x, 7) OVER w AS x7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    u AS (
      SELECT event_type, 1 AS lag, x AS xa, x1 AS xb FROM lagged WHERE x1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, x, x2 FROM lagged WHERE x2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3, x, x3 FROM lagged WHERE x3 IS NOT NULL
      UNION ALL
      SELECT event_type, 7, x, x7 FROM lagged WHERE x7 IS NOT NULL),
    m AS (SELECT event_type, lag, count(*) AS n,
                 CAST(SUM(xa) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
                 CAST(SUM(xa * xb) AS BIGINT) AS sxy,
                 CAST(SUM(xa * xa) AS BIGINT) AS sxx,
                 CAST(SUM(xb * xb) AS BIGINT) AS syy
          FROM u GROUP BY 1, 2)
    SELECT event_type, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
    FROM m
    """,
)
def w_autocorrelation(spark, sf_dir):
    """Autocorrelation function of daily value totals at lags 1/2/3/7
    per event type — the seasonality detector run before choosing a
    forecast model (a spike at lag 7 = weekly cycle).  The series
    aligns with its own lead via ONE window per type; each lag's
    Pearson r uses the same exact-integer co-moment identity as
    a_corr_matrix, so a float statistic stays engine-portable.  Four
    lags share one sort — the lead() columns are free once the window
    is materialized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
        F.lead("x", 3).over(w).alias("x3"),
        F.lead("x", 7).over(w).alias("x7"),
    )
    parts = []
    for lag, c in [(1, "x1"), (2, "x2"), (3, "x3"), (7, "x7")]:
        parts.append(
            lagged.filter(F.col(c).isNotNull()).select(
                "event_type",
                F.lit(lag).alias("lag"),
                F.col("x").alias("xa"),
                F.col(c).alias("xb"),
            )
        )
    u = parts[0].unionAll(parts[1]).unionAll(parts[2]).unionAll(parts[3])
    m = u.groupBy("event_type", "lag").agg(
        F.count("*").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("xb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n"),
        # nullif: constant series → den 0 → NULL like DuckDB x/0
        (num / F.nullif(den, F.lit(0.0))).alias("acf"),
    )


@register(
    "text_simpson_diversity",
    f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
           FROM tk GROUP BY 1, 2),
    agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(c * c) AS BIGINT) AS s2,
                   CAST(count(*) AS BIGINT) AS n_distinct
            FROM tf GROUP BY 1)
    SELECT doc_id, n AS n_tokens, n_distinct,
           CAST(n * n - s2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS simpson_div
    FROM agg WHERE n > 0
    """,
)
def text_simpson_diversity(spark, sf_dir):
    """Gini–Simpson lexical diversity per document: 1 − Σ(nᵢ/n)² =
    (n² − Σnᵢ²)/n², the probability two random tokens differ — a
    repetitiveness/quality signal that needs NO logarithm (token
    entropy's ln is not bit-portable across libm implementations;
    this is the standard log-free diversity index).  Exact integers
    until one final division; one (doc, term) aggregate then a per-doc
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.transform(text.tokens("text"), lambda x: F.lower(x))).alias(
                "term"
            ),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    return agg.filter(F.col("n") > 0).select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        (
            (F.col("n") * F.col("n") - F.col("s2")).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("simpson_div"),
    )


@register(
    "dedup_cross_source_matrix",
    f"""
    {_minhash_pairs_cte()},
    src AS (
      SELECT doc_id, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, source FROM documents WHERE doc_id % 9 = 0),
    lab AS (
      SELECT p.id1, p.id2,
             least(a.source, b.source) AS src_a,
             greatest(a.source, b.source) AS src_b
      FROM pairs p
      JOIN src a ON p.id1 = a.doc_id
      JOIN src b ON p.id2 = b.doc_id)
    SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def dedup_cross_source_matrix(spark, sf_dir):
    """Near-duplicate leakage matrix between sources: every minhash
    candidate pair labeled with its endpoints' (sorted) source pair
    and counted — the within-source diagonal is template reuse, the
    off-diagonal is cross-source contamination (mirrors, syndication)
    that a per-source dedup would MISS.  Two broadcast dimension
    joins onto the pair list; the matrix is |sources|² at most."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    src = (
        docs.select("doc_id", "source")
        .unionAll(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "source"
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "source"
            )
        )
    )
    a = src.select(F.col("doc_id").alias("id1"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("id2"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(a), "id1")
        .join(F.broadcast(b), "id2")
        .groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .filter(F.col("n_pairs") >= 2)
    )


@register(
    "corpus_span_corruption",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    pos AS (SELECT doc_id, i.i AS p, len(tk) AS n_tok
            FROM tk, unnest(range(1, len(tk) + 1)) i(i)),
    starts AS (
      SELECT doc_id, p, n_tok,
             1 + {_sql_hex_int("md5('len:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR))", 2)} % 5
               AS span_len
      FROM pos
      WHERE {_sql_hex_int("md5('start:' || CAST(doc_id AS VARCHAR) || ':' || CAST(p AS VARCHAR))", 2)} % 10 = 0),
    b AS (
      SELECT doc_id, p AS t, 1 AS delta, p AS tid FROM starts
      UNION ALL
      SELECT doc_id, least(p + span_len, n_tok + 1), -1, p FROM starts),
    r AS (SELECT doc_id, t, delta,
                 SUM(delta) OVER w AS conc,
                 lead(t) OVER (PARTITION BY doc_id ORDER BY t, delta, tid)
                   AS next_t
          FROM b
          WINDOW w AS (PARTITION BY doc_id ORDER BY t, delta, tid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    agg AS (
      SELECT r.doc_id,
             CAST(SUM(CASE WHEN conc > 0 AND next_t IS NOT NULL
                           THEN next_t - t ELSE 0 END) AS BIGINT) AS masked,
             -- a merged span begins exactly when a +1 lands on conc=1
             CAST(SUM(CASE WHEN delta = 1 AND conc = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_spans
      FROM r GROUP BY 1),
    nt AS (SELECT doc_id, len(tk) AS n_tok FROM tk)
    SELECT nt.doc_id, CAST(nt.n_tok AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(agg.masked, 0) AS BIGINT) AS masked_tokens,
           CAST(coalesce(agg.masked, 0) * 10000 AS DOUBLE)
             / CAST(nt.n_tok AS DOUBLE) AS mask_ratio_bp
    FROM nt LEFT JOIN agg ON nt.doc_id = agg.doc_id
    WHERE nt.n_tok > 0
    """,
)
def corpus_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask statistics: deterministic
    md5-driven span starts (10 % of positions) with hash-chosen
    lengths 1–5, overlaps merged by the SAME sweep-line used in
    w_interval_union (runs = maximal merged spans, counted by rises
    from coverage 0) — per doc: span count, masked tokens, mask ratio.
    Zero RNG, so the mask is reproducible across reruns and engines —
    the property a distributed pretraining pipeline needs to resume
    mid-epoch.  Map-only hashing + one per-doc sweep window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.transform(text.tokens("text"), lambda t: F.lower(t))
    tk = docs.select("doc_id", F.size(toks).alias("n_tok"), toks.alias("tk"))
    pos = tk.select(
        "doc_id", "n_tok", F.posexplode("tk").alias("p0", "_tok")
    ).select("doc_id", "n_tok", (F.col("p0") + 1).alias("p"))
    hx = lambda tag: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat(
                    F.lit(tag + ":"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("p").cast("string"),
                )
            ),
            1,
            2,
        ),
        16,
        10,
    ).cast("long")
    starts = pos.filter(hx("start") % 10 == 0).select(
        "doc_id",
        "p",
        "n_tok",
        (F.lit(1) + hx("len") % 5).alias("span_len"),
    )
    b = starts.select(
        "doc_id", F.col("p").alias("t"), F.lit(1).alias("delta"), F.col("p").alias("tid")
    ).unionAll(
        starts.select(
            "doc_id",
            F.least(F.col("p") + F.col("span_len"), F.col("n_tok") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            F.col("p").alias("tid"),
        )
    )
    wsort = Window.partitionBy("doc_id").orderBy("t", "delta", "tid")
    w = wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = b.withColumn("conc", F.sum("delta").over(w)).withColumn(
        "next_t", F.lead("t").over(wsort)
    )
    agg = r.groupBy("doc_id").agg(
        F.sum(
            F.when(
                (F.col("conc") > 0) & F.col("next_t").isNotNull(),
                F.col("next_t") - F.col("t"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("masked"),
        F.sum(F.when((F.col("delta") == 1) & (F.col("conc") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_spans"),
    )
    nt = tk.select("doc_id", F.col("n_tok").cast("long").alias("n_tokens"))
    return (
        nt.filter(F.col("n_tokens") > 0)
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("masked", F.lit(0)).cast("long").alias("masked_tokens"),
            (
                (F.coalesce("masked", F.lit(0)) * F.lit(10000)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mask_ratio_bp"),
        )
    )


@register(
    "emb_random_projection_jl",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT vec_id, i.i AS dim,
                 CAST(floor(v[i.i] * 1000000) AS BIGINT) AS xs
          FROM e, unnest(range(1, len(v) + 1)) i(i)),
    rmat AS (
      SELECT j.j AS dim, k.k,
             CASE WHEN substr(md5('jl:' || CAST(j.j AS VARCHAR) || ':'
                                  || CAST(k.k AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE -1 END AS s
      FROM unnest(range(1, 65)) j(j) CROSS JOIN unnest(range(1, 17)) k(k)),
    proj AS (
      SELECT d.vec_id, r.k, CAST(SUM(d.xs * r.s) AS BIGINT) AS ys
      FROM d JOIN rmat r ON d.dim = r.dim
      GROUP BY 1, 2),
    probe AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
    od AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST({_sql_dist2('a', 'b')} AS BIGINT) AS dorig2
      FROM probe a JOIN probe b ON a.vec_id < b.vec_id),
    pd AS (
      SELECT pa.vec_id AS ia, pb.vec_id AS ib,
             CAST(SUM((pa.ys - pb.ys) * (pa.ys - pb.ys)) AS BIGINT) AS dproj2
      FROM proj pa JOIN proj pb
        ON pa.k = pb.k AND pa.vec_id < 8 AND pb.vec_id < 8
           AND pa.vec_id < pb.vec_id
      GROUP BY 1, 2)
    SELECT od.ia, od.ib, od.dorig2, pd.dproj2,
           CAST(pd.dproj2 AS DOUBLE) / CAST(16 * od.dorig2 AS DOUBLE)
             AS distortion
    FROM od JOIN pd ON od.ia = pd.ia AND od.ib = pd.ib
    """,
)
def emb_random_projection_jl(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64→16 dims with a
    DETERMINISTIC ±1 matrix (sign = md5 hexit of (row, col) — no RNG,
    so every executor and every engine builds the same matrix), plus
    the distortion audit JL promises: ‖proj(a)−proj(b)‖²/(k·‖a−b‖²)
    ≈ 1 on probe pairs.  Projection is one posexplode + a broadcast
    join against the 1024-row sign matrix + a (vec, k) sum — ALL
    integer (1e6-scaled inputs, ±1 weights), so the projected table
    is bit-stable under any partitioning; distortion is one division
    of exact integers per pair.  The dimensionality-reduction
    primitive ahead of LSH/IVF when 64 dims is already too many."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val") * 1000000).cast("long").alias("xs"),
    )
    dims = spark.range(1, 65).select(F.col("id").alias("dim"))
    ks = spark.range(1, 17).select(F.col("id").alias("k"))
    rmat = dims.crossJoin(ks).select(
        "dim",
        "k",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("jl:"),
                        F.col("dim").cast("string"),
                        F.lit(":"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "8",
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    proj = (
        d.join(F.broadcast(rmat), "dim")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("xs") * F.col("s")).cast("long").alias("ys"))
    )
    probe = emb.filter(F.col("vec_id") < 8).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pa = probe.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    pb = probe.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    od = (
        pa.join(pb, F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            lsim.fixed_dist2_col("va", "vb").alias("dorig2"),
        )
    )
    qa = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("ia"), "k", F.col("ys").alias("ya")
    )
    qb = proj.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("ib"), F.col("k").alias("k2"), F.col("ys").alias("yb")
    )
    pd_ = (
        qa.join(qb, (F.col("k") == F.col("k2")) & (F.col("ia") < F.col("ib")))
        .groupBy("ia", "ib")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            .cast("long")
            .alias("dproj2")
        )
    )
    return od.join(pd_, ["ia", "ib"]).select(
        "ia",
        "ib",
        "dorig2",
        "dproj2",
        (
            F.col("dproj2").cast("double")
            # nullif: identical vectors → zero original distance →
            # NULL distortion like DuckDB x/0
            / F.nullif((F.lit(16) * F.col("dorig2")).cast("double"),
                       F.lit(0.0))
        ).alias("distortion"),
    )


@register(
    "w_weighted_median",
    """
    WITH d AS (
      SELECT o.o_orderpriority,
             CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(floor(l.l_quantity) AS BIGINT) AS wgt,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    r AS (SELECT o_orderpriority, price_c, wgt,
                 SUM(wgt) OVER (PARTITION BY o_orderpriority
                                ORDER BY price_c, l_orderkey, l_linenumber
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cumw,
                 SUM(wgt) OVER (PARTITION BY o_orderpriority) AS tot
          FROM d)
    SELECT o_orderpriority, CAST(max(tot) AS BIGINT) AS total_weight,
           CAST(CAST(min(CASE WHEN 2 * cumw >= tot THEN price_c END)
                     AS BIGINT) AS DOUBLE) / 100.0 AS wmedian_price
    FROM r GROUP BY 1
    """,
)
def w_weighted_median(spark, sf_dir):
    """Weighted median (low) of line price with quantity weights, per
    order priority: the first row in (price, tiebreak) order whose
    running weight reaches half the total — order-statistic SELECTION
    on a cumulative-weight window, never interpolation.  Because the
    running weight is monotone along the sort, that first qualifying
    row is exactly min(price) over qualifying rows — a plain
    aggregate, no second pass.  All weights exact integers; the /100
    de-scaling is the single float op."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.floor(F.col("l_quantity")).cast("long").alias("wgt"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        Window.partitionBy("o_orderpriority")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("o_orderpriority")
    r = d.withColumn("cumw", F.sum("wgt").over(wc)).withColumn(
        "tot", F.sum("wgt").over(wt)
    )
    return r.groupBy("o_orderpriority").agg(
        F.max("tot").cast("long").alias("total_weight"),
        (
            F.min(
                F.when(F.lit(2) * F.col("cumw") >= F.col("tot"), F.col("price_c"))
            )
            .cast("long")
            .cast("double")
            / 100.0
        ).alias("wmedian_price"),
    )


@register(
    "text_vocab_coverage",
    f"""
    WITH tk AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS c FROM tk GROUP BY 1),
    vocab AS (SELECT term FROM (
      SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rn FROM freq) t
      WHERE rn <= 100)
    SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_in_vocab,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 0 ELSE 1 END) * 10000
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage_bp
    FROM tk LEFT JOIN vocab v ON tk.term = v.term
    GROUP BY 1
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage / OOV audit: what share of each document's
    tokens falls in the corpus top-100 vocabulary — the
    tokenizer-sizing question ("how big must the vocab be before OOV
    is rare?") answered with one frequency aggregate, a top-k
    selection, and a broadcast membership join back onto the token
    stream.  Coverage is one exact-integer division in basis
    points."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.transform(text.tokens("text"), lambda x: F.lower(x))).alias("term"),
    ).persist()
    freq = tk.groupBy("term").agg(F.count("*").alias("c"))
    # top-100 via distributed TakeOrdered, never a single-partition
    # row_number over the vocabulary
    vocab = (
        freq.orderBy(F.col("c").desc(), "term")
        .limit(100)
        .select("term", F.lit(1).alias("in_v"))
    )
    return (
        tk.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("in_v", F.lit(0))).cast("long").alias("n_in_vocab"),
            (
                (F.sum(F.coalesce("in_v", F.lit(0))) * F.lit(10000)).cast("double")
                / F.count("*").cast("double")
            ).alias("coverage_bp"),
        )
    )


@register(
    "scd_bitemporal_asof",
    """
    WITH v AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             l_shipdate AS valid_from,
             l_shipdate + to_days(CAST(l_linenumber AS INTEGER))
               AS recorded_at
      FROM lineitem),
    vis AS (
      SELECT * FROM v
      WHERE valid_from <= TIMESTAMP '1996-06-01 00:00:00'
        AND recorded_at <= TIMESTAMP '1996-06-15 00:00:00'),
    pick AS (
      SELECT *, row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY valid_from DESC, l_linenumber DESC) AS rn
      FROM vis)
    SELECT l_orderkey, l_linenumber AS version_line,
           valid_from, recorded_at, l_quantity
    FROM pick WHERE rn = 1
    """,
)
def scd_bitemporal_asof(spark, sf_dir):
    """Bitemporal point query — state AS OF valid time V (what was
    true) AS AT transaction time T (what we knew): versions are line
    rows with valid_from = shipdate and recorded_at = shipdate +
    linenumber days (late-arriving bookings).  Both temporal filters
    are sargable scan predicates; the per-key pick is one keep-latest
    window over the doubly-visible rows — the same W2 discipline,
    extended to two time axes.  Complements scd_point_in_time
    (valid-time only) and scd2_history (current-state maintenance)."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_shipdate").alias("valid_from"),
        F.expr("l_shipdate + make_interval(0, 0, 0, l_linenumber, 0, 0, 0)").alias(
            "recorded_at"
        ),
    )
    vis = v.filter(
        (F.col("valid_from") <= F.lit("1996-06-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("recorded_at") <= F.lit("1996-06-15 00:00:00").cast("timestamp_ntz"))
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("valid_from").desc(), F.col("l_linenumber").desc()
    )
    return (
        vis.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("version_line"),
            "valid_from",
            "recorded_at",
            "l_quantity",
        )
    )


@register(
    "a_abtest_cuped",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(floor(value) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(floor(value) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    g AS (SELECT count(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM u),
    th AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
           FROM g),
    arm_m AS (
      SELECT arm, count(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM u GROUP BY 1)
    SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n_users,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_post,
           th.theta,
           (CAST(n * syy - sy * sy AS DOUBLE)
            - 2 * th.theta * CAST(n * sxy - sx * sy AS DOUBLE)
            + th.theta * th.theta * CAST(n * sxx - sx * sx AS DOUBLE))
             / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS var_cuped,
           CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE)
             / CAST(n AS DOUBLE) AS var_raw
    FROM arm_m CROSS JOIN th
    """,
)
def a_abtest_cuped(spark, sf_dir):
    """CUPED variance reduction for A/B tests (Deng et al., WSDM'13):
    adjust the experiment metric by the pre-period covariate, y' =
    y − θx with θ = cov(x,y)/var(x), and report per-arm raw vs
    adjusted variance.  The float trap: var(y') needs Σy'², an
    order-dependent float sum — so it is REARRANGED to the closed
    form var(y) − 2θcov(x,y) + θ²var(x), every co-moment an exact
    integer and the arithmetic ONE fixed float chain.  Pre/post
    periods are conditional sums in a single scan; arms are
    md5-assigned as in a_ab_test_zscore."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
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
        F.sum(F.when(F.col("ts") < cut, F.floor(F.col("value")).cast("long")).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cut, F.floor(F.col("value")).cast("long")).otherwise(F.lit(0)))
        .cast("long")
        .alias("y"),
    )
    g = u.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    th = g.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("theta")
    )
    arm_m = u.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    ncov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    nvarx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    nvary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nd = F.col("n").cast("double")
    return arm_m.crossJoin(F.broadcast(th)).select(
        F.col("arm").cast("long").alias("arm"),
        F.col("n").cast("long").alias("n_users"),
        (F.col("sy").cast("double") / nd).alias("mean_post"),
        "theta",
        (
            (
                nvary
                - F.lit(2) * F.col("theta") * ncov
                + F.col("theta") * F.col("theta") * nvarx
            )
            / nd
            / nd
        ).alias("var_cuped"),
        (nvary / nd / nd).alias("var_raw"),
    )


@register(
    "w_hopping_windows",
    """
    WITH h AS (
      SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
             event_type, CAST(floor(value * 100) AS BIGINT) AS vi
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 6 HOURS, ts - INTERVAL 3 HOURS)
               + INTERVAL 3 HOURS,
             event_type, CAST(floor(value * 100) AS BIGINT)
      FROM events)
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(vi) AS BIGINT) AS DOUBLE) / 100.0 AS value_sum
    FROM h GROUP BY 1, 2
    """,
)
def w_hopping_windows(spark, sf_dir):
    """Hopping (sliding) time-window aggregation — 6-hour windows
    every 3 hours — via Spark's built-in ``window()`` table function
    (each event lands in 2 overlapping windows; the streaming
    windowed-agg primitive, exercised in batch).  The oracle replays
    it as the union of two offset tumbling grids, which is exactly
    what a hop of width/2 is.  Sums are cent-exact integers
    de-scaled once."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100).cast("long"))
                .cast("long")
                .cast("double")
                / 100.0
            ).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@register(
    "er_blocking_recall",
    f"""
    WITH vocab AS (
      SELECT DISTINCT t.t AS tok
      FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents) t
      WHERE regexp_matches(t.t, '^[a-z]+$') AND length(t.t) >= 4),
    truth AS (
      SELECT substr(tok, 1, strpos(substr(tok, 2), 'e'))
             || 'a' || substr(tok, strpos(substr(tok, 2), 'e') + 2) AS tok1,
             tok AS tok2
      FROM vocab
      WHERE strpos(substr(tok, 2), 'e') > 0
        AND substr(md5(tok), 1, 1) IN ('0', '1', '2', '3')),
    t2 AS (SELECT tok1, tok2 FROM truth WHERE tok1 < tok2
           UNION SELECT tok2, tok1 FROM truth WHERE tok2 < tok1),
    found AS ({{PAIRS}}),
    hit AS (SELECT count(*) AS n_found
            FROM t2 JOIN found f ON t2.tok1 = f.tok1 AND t2.tok2 = f.tok2),
    tot AS (SELECT count(*) AS n_truth FROM t2),
    cand AS (SELECT count(*) AS n_candidates FROM found)
    SELECT CAST(tot.n_truth AS BIGINT) AS n_truth,
           CAST(hit.n_found AS BIGINT) AS n_found,
           CAST(hit.n_found AS DOUBLE) / CAST(tot.n_truth AS DOUBLE) AS recall,
           CAST(cand.n_candidates AS BIGINT) AS n_candidates
    FROM tot CROSS JOIN hit CROSS JOIN cand
    """.replace(
        "{PAIRS}", "SELECT tok1, tok2 FROM (" + "{INNER}" + ") q"
    ).replace(
        "{INNER}", _phonetic_er_oracle()
    ),
)
def er_blocking_recall(spark, sf_dir):
    """Blocking-quality evaluation for the ER pipeline: recall of the
    phonetic-blocked candidate pairs against the KNOWN injected typo
    pairs (the e→a substitutions er_phonetic_pairs plants) — the
    record-linkage counterpart of dedup_lsh_recall_eval, closing the
    eval trio (LSH dedup / ANN / ER blocking).  Truth derives
    in-plan from the injection rule; the comparison is one equi-join
    on the sorted token pair; recall is one exact-integer division.
    Phonetic keys collapse the vowel substitution, so a healthy
    blocker scores 1.0 — anything lower is a blocking bug."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    vocab = (
        docs.select(
            F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
                "tok"
            )
        )
        .filter(F.col("tok").rlike("^[a-z]+$") & (F.length("tok") >= 4))
        .distinct()
    )
    pos = F.instr(F.expr("substring(tok, 2)"), "e")
    typo = F.concat(
        F.expr("substring(tok, 1, instr(substring(tok, 2), 'e'))"),
        F.lit("a"),
        F.expr("substring(tok, instr(substring(tok, 2), 'e') + 2)"),
    )
    truth = (
        vocab.filter(
            (pos > 0) & F.substring(F.md5("tok"), 1, 1).isin("0", "1", "2", "3")
        )
        .select(typo.alias("ta"), F.col("tok").alias("tb"))
        .select(
            F.least("ta", "tb").alias("tok1"), F.greatest("ta", "tb").alias("tok2")
        )
        .distinct()
    )
    found = QUERIES["er_phonetic_pairs"](spark, sf_dir).select("tok1", "tok2").persist()
    hit = truth.join(found, ["tok1", "tok2"]).agg(F.count("*").alias("n_found"))
    tot = truth.agg(F.count("*").alias("n_truth"))
    cand = found.agg(F.count("*").alias("n_candidates"))
    return (
        tot.crossJoin(F.broadcast(hit))
        .crossJoin(F.broadcast(cand))
        .select(
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_found").cast("long").alias("n_found"),
            (
                F.col("n_found").cast("double") / F.col("n_truth").cast("double")
            ).alias("recall"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
    )
