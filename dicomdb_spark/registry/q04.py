"""registry chunk 4/8 — mechanical split of the monolithic registry.py (round 10); original lines 12908-17190.  Registration order preserved."""
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
    _sql_norm,
    register,
)
from dicomdb_spark.registry.q01 import (
    _SQL_DOCS2,
    _SQL_TOKS,
    _SQL_TOKS_RAW,
    _docs_with_dupes,
    _minhash_pairs_cte,
)
from dicomdb_spark.registry.q03 import _phonetic_er_oracle, _sql_hex_int


@register(
    "corpus_dataset_card",
    f"""
    WITH tk AS (SELECT doc_id, lang, source, md5(text) AS h,
                       len({_SQL_TOKS_RAW}) AS n_tok
                FROM documents),
    r AS (SELECT n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS rn,
                 count(*) OVER () AS n
          FROM tk)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mean_tokens,
           CAST((SELECT max(CASE WHEN rn = (n + 1) // 2 THEN n_tok END)
                 FROM r) AS BIGINT) AS p50_tokens,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pct_en_bp,
           CAST((count(*) - count(DISTINCT h)) * 10000 AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS exact_dup_bp
    FROM tk
    """,
)
def corpus_dataset_card(spark, sf_dir):
    """One-row dataset card — the summary block a dataset release
    ships: doc/source/language counts, token totals, mean and
    median-low tokens per doc, English share, and exact-duplicate
    rate (1 − distinct md5 share).  One scan feeds a global aggregate
    plus an order-statistic selection; every ratio is a single
    exact-integer division.  The median rank is DISTRIBUTED
    (range-bucket on n_tok + per-bucket offsets, ow.bucketed_running)
    with n on a 1-row broadcast — the doc dimension never sorts on a
    single task."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.size(text.tokens("text")).cast("long").alias("n_tok"),
    ).persist()
    nrow = tk.agg(F.count("*").alias("n"))
    r = ow.bucketed_running(
        ow.monotone_range_bucket(tk, "n_tok"),
        order_cols=["n_tok", "doc_id"],
        rn_col="rn",
    ).crossJoin(F.broadcast(nrow))
    p50 = r.agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_tok"))
        ).alias("p50_tokens")
    )
    return (
        tk.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            (
                F.sum("n_tok").cast("long").cast("double")
                / F.count("*").cast("double")
            ).alias("mean_tokens"),
            (
                (F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) * F.lit(10000))
                .cast("double")
                / F.count("*").cast("double")
            ).alias("pct_en_bp"),
            (
                ((F.count("*") - F.countDistinct("h")) * F.lit(10000)).cast("double")
                / F.count("*").cast("double")
            ).alias("exact_dup_bp"),
        )
        .crossJoin(F.broadcast(p50))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_tokens",
            "mean_tokens",
            F.col("p50_tokens").cast("long").alias("p50_tokens"),
            "pct_en_bp",
            "exact_dup_bp",
        )
    )


@register(
    "a_mannwhitney_u",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    r AS (SELECT arm, x,
                 rank() OVER (ORDER BY x) AS rk,
                 count(*) OVER (PARTITION BY x) AS cnt
          FROM u),
    m AS (SELECT arm, CAST(SUM(2 * rk + cnt - 1) AS BIGINT) AS w2,
                 count(*) AS n
          FROM r GROUP BY 1),
    s AS (SELECT
            max(CASE WHEN arm = 0 THEN w2 END) AS w2a,
            max(CASE WHEN arm = 0 THEN n END) AS na,
            max(CASE WHEN arm = 1 THEN n END) AS nb
          FROM m)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(w2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_stat,
           (CAST(w2a - na * (na + 1) AS DOUBLE)
            - CAST(na * nb AS DOUBLE)) / 2.0
             / sqrt(CAST(na * nb * (na + nb + 1) AS DOUBLE) / 12.0) AS z
    FROM s
    """,
)
def a_mannwhitney_u(spark, sf_dir):
    """Mann–Whitney U (rank-sum) test between md5-assigned arms over
    per-user value totals — the NONPARAMETRIC sibling of
    a_ab_test_zscore for skewed metrics.  The float trap is the rank
    sum with midrank ties (halves): kept exact by summing
    2·rank + (ties−1) as an INTEGER (W2 = 2W), so the statistic is
    partition-invariant; U and z come from one fixed float chain at
    the end.  Scale shape: the rank sum collapses to PER-VALUE counts
    first (every row with value x has min-rank p+1 and tie count t, so
    its W2 term is 2p+t+1) — the cumulative then runs over |distinct
    x| rows, itself range-bucketed (ow.bucketed_running), so no global
    sort of the user dimension ever happens."""
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
    # per-value tie groups: all rows with value x share min-rank p+1
    # (p = count of strictly-smaller rows) and tie count t, so each
    # row's 2·rk + cnt − 1 term equals 2p + t + 1 — the whole rank sum
    # needs only per-value counts + one exclusive running count
    g = u.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na_x"),
        F.count("*").cast("long").alias("t"),
    )
    cum = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"),
        order_cols=["x"],
        sum_cols=["t"],
    ).withColumn("p", F.col("cum_t") - F.col("t"))
    term = F.lit(2) * F.col("p") + F.col("t") + 1
    s = cum.agg(
        F.sum(F.col("na_x") * term).cast("long").alias("w2a"),
        F.sum("na_x").cast("long").alias("na"),
        F.sum(F.col("t") - F.col("na_x")).cast("long").alias("nb"),
    )
    u2 = F.col("w2a") - F.col("na") * (F.col("na") + 1)
    return s.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (u2.cast("double") / 2.0).alias("u_stat"),
        (
            (u2.cast("double") - (F.col("na") * F.col("nb")).cast("double"))
            / 2.0
            / F.sqrt(
                (F.col("na") * F.col("nb") * (F.col("na") + F.col("nb") + 1)).cast(
                    "double"
                )
                / 12.0
            )
        ).alias("z"),
    )


@register(
    "graph_assortativity",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    s AS (SELECT da.dg AS dx, db.dg AS dy
          FROM e JOIN deg da ON e.src = da.node
                 JOIN deg db ON e.dst = db.node),
    m AS (SELECT count(*) AS n, CAST(SUM(dx) AS BIGINT) AS sx,
                 CAST(SUM(dy) AS BIGINT) AS sy,
                 CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                 CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                 CAST(SUM(dy * dy) AS BIGINT) AS syy
          FROM s)
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the near-dup graph (Newman 2002):
    Pearson correlation of endpoint degrees over directed edges —
    positive means hubs attach to hubs (dup mega-clusters), negative
    means star-like contamination.  Two broadcast degree joins onto
    the edge list and ONE exact-integer co-moment aggregate (the same
    portability discipline as a_corr_matrix); both edge orientations
    are present, making the statistic symmetric by construction."""
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
    s = (
        e.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("dg").alias("dx"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("dg").alias("dy"))),
            "dst",
        )
        .select("dx", "dy")
    )
    m = s.agg(
        F.count("*").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        # nullif: a degree-regular (zero-variance) graph has den = 0 —
        # DuckDB x/0.0 is NULL while ANSI Spark throws, so NULL the
        # denominator to keep both engines identical (and crash-free
        # on degenerate partitions at scale)
        (num / F.nullif(den, F.lit(0.0))).alias("assortativity"),
    )


@register(
    "a_ks_test",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    n AS (SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
          FROM u),
    c AS (SELECT x, user_id,
                 SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) OVER w AS ca,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) OVER w AS cb,
                 lead(x) OVER (ORDER BY x, user_id) AS nx
          FROM u
          WINDOW w AS (ORDER BY x, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (SELECT CAST(max(abs(ca * n.nb - cb * n.na)) AS BIGINT) AS dnum
          FROM c CROSS JOIN n
          WHERE nx IS NULL OR nx <> x)
    SELECT n.na AS n_a, n.nb AS n_b,
           CAST(d.dnum AS DOUBLE) / CAST(n.na * n.nb AS DOUBLE) AS d_stat,
           sqrt(CAST(n.na * n.nb AS DOUBLE) / CAST(n.na + n.nb AS DOUBLE))
             * (CAST(d.dnum AS DOUBLE) / CAST(n.na * n.nb AS DOUBLE))
             AS ks_scaled
    FROM d CROSS JOIN n
    """,
)
def a_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov D between md5-assigned arms over
    per-user totals — the distribution-shape test the rank tests
    can't do.  D = max|F₀−F₁| is held EXACT: the ECDF difference at
    each distinct value is |cum₀·n₁ − cum₁·n₀| (an integer on the
    common n₀n₁ denominator), evaluated only at value boundaries,
    with ONE division at the end.  Scale shape: the ECDFs collapse to
    PER-VALUE arm counts first (one hash aggregate), so the cumulative
    runs over |distinct x| rows — itself range-bucketed
    (ow.bucketed_running) — and the user dimension never sorts on a
    single task; the max is a plain aggregate."""
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
    n = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )
    # per-value arm counts: the ECDF at a value boundary is the
    # inclusive cumulative of these (identical to the last row of each
    # tie group in the row-level formulation the oracle SQL spells)
    g = u.groupBy("x").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("ca_x"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("cb_x"),
    )
    c = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"),
        order_cols=["x"],
        sum_cols=["ca_x", "cb_x"],
    ).select(F.col("cum_ca_x").alias("ca"), F.col("cum_cb_x").alias("cb"))
    d = (
        c.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
            )
            .cast("long")
            .alias("dnum")
        )
    )
    dstat = F.col("dnum").cast("double") / (F.col("na") * F.col("nb")).cast("double")
    return d.crossJoin(F.broadcast(n)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        dstat.alias("d_stat"),
        (
            F.sqrt(
                (F.col("na") * F.col("nb")).cast("double")
                / (F.col("na") + F.col("nb")).cast("double")
            )
            * dstat
        ).alias("ks_scaled"),
    )


# Permutation count for a_permutation_test.  COST ENVELOPE: the test
# fans the user-grain totals out |perms|× before the map-side combine,
# so shuffle bytes scale with PERM_TEST_N_PERMS·|users| (aggregated to
# |perms| rows).  200 keeps the add-one p-value resolution at ~0.005
# while staying a broadcast-cross of a 200-row dimension; raise it
# consciously, the cost is linear.
PERM_TEST_N_PERMS = 200


@register(
    "a_permutation_test",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    obs AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM u),
    perms AS (SELECT unnest(range(1, {PERM_TEST_N_PERMS + 1})) AS pid),
    pa AS (
      SELECT p.pid,
             CAST(SUM(CASE WHEN {_sql_hex_int(
                 "md5('perm:' || CAST(p.pid AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR))",
                 2)} % 2 = 0 THEN u.x ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN {_sql_hex_int(
                 "md5('perm:' || CAST(p.pid AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR))",
                 2)} % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(u.x) AS BIGINT) AS st,
             CAST(count(*) AS BIGINT) AS nt
      FROM perms p CROSS JOIN u
      GROUP BY 1),
    stat AS (
      SELECT pid,
             abs(CAST(sa * (nt - na) - (st - sa) * na AS DOUBLE)
                 / CAST(na * (nt - na) AS DOUBLE)) AS s
      FROM pa WHERE na > 0 AND na < nt),
    o AS (SELECT abs(CAST(s0 * n1 - s1 * n0 AS DOUBLE)
                     / CAST(n0 * n1 AS DOUBLE)) AS s_obs
          FROM obs),
    e AS (SELECT count(*) AS n_perms,
                 CAST(SUM(CASE WHEN stat.s >= o.s_obs THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_extreme
          FROM stat CROSS JOIN o)
    SELECT CAST(e.n_perms AS BIGINT) AS n_perms, o.s_obs,
           e.n_extreme,
           CAST(1 + e.n_extreme AS DOUBLE) / CAST(1 + e.n_perms AS DOUBLE)
             AS p_value
    FROM e CROSS JOIN o
    """,
)
def a_permutation_test(spark, sf_dir):
    """Permutation test of the arm mean difference with DETERMINISTIC
    md5-derived permutations (PERM_TEST_N_PERMS relabelings — no RNG,
    so every engine, executor, and rerun agrees on every
    permutation).  The fan-out is a broadcast cross of the
    permutation ids against the user totals — compute-parallel,
    shuffle scales with |perms|·|users| aggregated map-side to
    |perms| rows (cost envelope documented at the knob's definition;
    raising the knob is linear in both CPU and shuffle).  Each
    permutation's |mean diff| is one exact-integer division; the
    p-value uses the add-one estimator.  The assumption-free
    companion to a_ab_test_zscore / a_mannwhitney_u / a_ks_test."""
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
    ).persist()
    obs = u.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).cast("long").alias("s0"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).cast("long").alias("s1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    perms = spark.range(1, PERM_TEST_N_PERMS + 1).select(
        F.col("id").alias("pid")
    )
    parm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm:"),
                        F.col("pid").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    pa = (
        u.crossJoin(F.broadcast(perms))
        .groupBy("pid")
        .agg(
            F.sum(F.when(parm == 0, F.col("x")).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(parm == 0, 1).otherwise(0)).cast("long").alias("na"),
            F.sum("x").cast("long").alias("st"),
            F.count("*").cast("long").alias("nt"),
        )
    )
    stat = pa.filter((F.col("na") > 0) & (F.col("na") < F.col("nt"))).select(
        "pid",
        F.abs(
            (
                F.col("sa") * (F.col("nt") - F.col("na"))
                - (F.col("st") - F.col("sa")) * F.col("na")
            ).cast("double")
            / (F.col("na") * (F.col("nt") - F.col("na"))).cast("double")
        ).alias("s"),
    )
    o = obs.select(
        F.abs(
            (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")).cast("double")
            / (F.col("n0") * F.col("n1")).cast("double")
        ).alias("s_obs")
    )
    e = stat.crossJoin(F.broadcast(o)).agg(
        F.count("*").alias("n_perms"),
        F.sum(F.when(F.col("s") >= F.col("s_obs"), 1).otherwise(0))
        .cast("long")
        .alias("n_extreme"),
    )
    return e.crossJoin(F.broadcast(o)).select(
        F.col("n_perms").cast("long").alias("n_perms"),
        "s_obs",
        "n_extreme",
        (
            (F.lit(1) + F.col("n_extreme")).cast("double")
            / (F.lit(1) + F.col("n_perms")).cast("double")
        ).alias("p_value"),
    )


@register(
    "a_survival_hazard",
    """
    WITH u AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(min(ts) AS DATE),
                  CAST(coalesce(
                    min(CASE WHEN event_type = 'purchase' THEN ts END),
                    TIMESTAMP '2024-01-31 00:00:00') AS DATE)) AS BIGINT) AS d,
             CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NULL THEN 1 ELSE 0 END AS censored
      FROM events GROUP BY 1),
    g AS (SELECT d, censored, CAST(count(*) AS BIGINT) AS c
          FROM u GROUP BY 1, 2),
    t AS (SELECT DISTINCT d FROM g),
    risk AS (
      SELECT t.d,
             CAST((SELECT SUM(c) FROM g WHERE g.d >= t.d) AS BIGINT)
               AS n_at_risk,
             CAST(coalesce((SELECT SUM(c) FROM g
                            WHERE g.d = t.d AND g.censored = 0), 0) AS BIGINT)
               AS n_events,
             CAST(coalesce((SELECT SUM(c) FROM g
                            WHERE g.d = t.d AND g.censored = 1), 0) AS BIGINT)
               AS n_censored
      FROM t)
    SELECT d AS day, n_at_risk, n_events, n_censored,
           CAST(n_events * 10000 AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
             AS hazard_bp
    FROM risk WHERE n_at_risk > 0
    """,
)
def a_survival_hazard(spark, sf_dir):
    """Discrete-time survival hazard table for time-to-first-purchase:
    per user, duration = days from first event to first purchase,
    right-censored at the window end if no purchase ever occurs.  For
    each observed duration day: the risk set (users surviving ≥ d — a
    reverse cumulative sum over the tiny duration histogram, NOT a
    per-day rescan), event and censor counts, and the discrete hazard
    in basis points (one exact division).  Kaplan–Meier's Π(1−h) is a
    cumulative float product, deliberately NOT emitted — the hazard
    table is the engine-portable artifact; any client can fold it."""
    ev = load_table(spark, sf_dir, "events")
    wend = F.lit("2024-01-31 00:00:00").cast("timestamp_ntz")
    first_p = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.coalesce(first_p, wend).cast("date"), F.min("ts").cast("date")
        ).cast("long").alias("d"),
        F.when(first_p.isNull(), 1).otherwise(0).alias("censored"),
    )
    g = u.groupBy("d", "censored").agg(F.count("*").cast("long").alias("c"))
    byday = g.groupBy("d").agg(
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.when(F.col("censored") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_events"),
        F.sum(F.when(F.col("censored") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_censored"),
    )
    wrev = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = byday.withColumn("n_at_risk", F.sum("n_total").over(wrev).cast("long"))
    return risk.filter(F.col("n_at_risk") > 0).select(
        F.col("d").alias("day"),
        "n_at_risk",
        "n_events",
        "n_censored",
        (
            (F.col("n_events") * F.lit(10000)).cast("double")
            / F.col("n_at_risk").cast("double")
        ).alias("hazard_bp"),
    )


@register(
    "ml_decision_stump",
    f"""
    WITH tk AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(len({_SQL_TOKS_RAW}) AS BIGINT) AS f_len,
             CAST(len(list_distinct({_SQL_TOKS})) AS BIGINT) AS f_uniq
      FROM documents WHERE text IS NOT NULL),
    u AS (
      SELECT doc_id, y, 'n_tokens' AS feature, f_len AS v FROM tk
      UNION ALL
      SELECT doc_id, y, 'n_distinct', f_uniq FROM tk),
    c AS (SELECT feature, v, doc_id, y,
                 SUM(y) OVER w AS pl,
                 SUM(1 - y) OVER w AS nl,
                 SUM(y) OVER (PARTITION BY feature) AS pt,
                 SUM(1 - y) OVER (PARTITION BY feature) AS nt,
                 lead(v) OVER (PARTITION BY feature ORDER BY v, doc_id) AS nv
          FROM u
          WINDOW w AS (PARTITION BY feature ORDER BY v, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT feature, v AS threshold, pl, nl, pt - pl AS pr, nt - nl AS nr,
             pt + nt AS tot,
             (CAST(pl + nl AS DOUBLE)
              - CAST(pl * pl + nl * nl AS DOUBLE) / CAST(pl + nl AS DOUBLE)
              + CAST(pr + nr AS DOUBLE)
              - CAST(pr * pr + nr * nr AS DOUBLE)
                / CAST((pt - pl) + (nt - nl) AS DOUBLE))
               / CAST(pt + nt AS DOUBLE) AS gini
      FROM c
      WHERE (nv IS NULL OR nv <> v) AND pl + nl > 0
        AND (pt - pl) + (nt - nl) > 0),
    best AS (
      SELECT *, row_number() OVER (ORDER BY gini, feature, threshold) AS rn
      FROM s)
    SELECT feature, CAST(threshold AS BIGINT) AS threshold, gini,
           CAST((greatest(pl, nl) + greatest(pr, nr)) * 10000 AS DOUBLE)
             / CAST(tot AS DOUBLE) AS train_acc_bp
    FROM best WHERE rn = 1
    """,
)
def ml_decision_stump(spark, sf_dir):
    """Train a depth-1 decision tree (stump) for 'is English' from two
    integer text features — distributed ML TRAINING as a relational
    plan: candidate splits are the sorted distinct feature values
    (evaluated at tie-group boundaries), each split's weighted Gini
    impurity comes from cumulative positive/negative counts (exact
    integers; the impurity itself is one fixed float chain), and the
    argmin is a rank with (feature, threshold) tiebreak.  One sort
    per feature, one pass — the building block CART repeats per node,
    here as a single declarative query with the chosen split's
    training accuracy.  NULL-text docs are excluded symmetrically —
    unfeaturizable, and their NULL feature values would shift the
    sorted cumulative counts divergently (Spark NULLS FIRST vs DuckDB
    NULLS LAST — r13 null-probe find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.transform(text.tokens("text"), lambda t: F.lower(t))
    tk = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.size(text.tokens("text")).cast("long").alias("f_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("f_uniq"),
    )
    u = tk.select(
        "doc_id", "y", F.lit("n_tokens").alias("feature"), F.col("f_len").alias("v")
    ).unionAll(
        tk.select("doc_id", "y", F.lit("n_distinct").alias("feature"), F.col("f_uniq").alias("v"))
    )
    wsort = Window.partitionBy("feature").orderBy("v", "doc_id")
    w = wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = Window.partitionBy("feature")
    c = u.select(
        "feature",
        "v",
        F.sum("y").over(w).alias("pl"),
        F.sum(F.lit(1) - F.col("y")).over(w).alias("nl"),
        F.sum("y").over(wf).alias("pt"),
        F.sum(F.lit(1) - F.col("y")).over(wf).alias("nt"),
        F.lead("v").over(wsort).alias("nv"),
    )
    pr = F.col("pt") - F.col("pl")
    nr = F.col("nt") - F.col("nl")
    tl = (F.col("pl") + F.col("nl")).cast("double")
    tr = (pr + nr).cast("double")
    gini = (
        tl
        - (F.col("pl") * F.col("pl") + F.col("nl") * F.col("nl")).cast("double") / tl
        + tr
        - (pr * pr + nr * nr).cast("double") / tr
    ) / (F.col("pt") + F.col("nt")).cast("double")
    s = (
        c.filter(
            (F.col("nv").isNull() | (F.col("nv") != F.col("v")))
            & (F.col("pl") + F.col("nl") > 0)
            & (pr + nr > 0)
        )
        .select(
            "feature",
            F.col("v").alias("threshold"),
            "pl",
            "nl",
            pr.alias("pr"),
            nr.alias("nr"),
            (F.col("pt") + F.col("nt")).alias("tot"),
            gini.alias("gini"),
        )
    )
    # argmin via distributed TakeOrdered(1), never a single-partition
    # row_number over the candidate-split table
    best = s.orderBy("gini", "feature", "threshold").limit(1)
    return best.select(
        "feature",
        F.col("threshold").cast("long").alias("threshold"),
        "gini",
        (
            (
                (F.greatest("pl", "nl") + F.greatest("pr", "nr")) * F.lit(10000)
            ).cast("double")
            / F.col("tot").cast("double")
        ).alias("train_acc_bp"),
    )


@register(
    "ml_knn_classify",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    lab AS (
      SELECT e.vec_id, e.v, d.lang
      FROM e JOIN documents d ON e.vec_id = d.doc_id),
    n AS (
      SELECT vec_id, v, lang,
             {_sql_norm()} AS nrm
      FROM lab),
    sc AS (
      SELECT a.vec_id AS query_id, a.lang AS true_lang,
             b.vec_id AS neighbor_id, b.lang AS nb_lang,
             CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cs
      FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
    top AS (
      SELECT query_id, true_lang, nb_lang FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, neighbor_id) AS rn
        FROM sc) t WHERE rn <= 5),
    votes AS (
      SELECT query_id, true_lang, nb_lang, count(*) AS n_votes
      FROM top GROUP BY 1, 2, 3),
    pick AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nb_lang) AS rn
      FROM votes)
    SELECT query_id, nb_lang AS pred_lang, true_lang,
           CAST(n_votes AS BIGINT) AS n_votes,
           CASE WHEN nb_lang = true_lang THEN 1 ELSE 0 END AS correct
    FROM pick WHERE rn = 1
    """,
)
def ml_knn_classify(spark, sf_dir):
    """5-NN classification of embedding vectors with REAL labels (the
    documents table's language, joined on vec_id = doc_id): exact
    cosine neighbors among the labeled corpus, majority vote with
    deterministic (count, label) tiebreak, per-query correctness
    flag.  The lazy-learning classic as three relational stages —
    score (broadcast probes), top-k window, vote argmax — reusing the
    decimal-exact dot products the whole ANN suite shares."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    lab = emb.join(
        F.broadcast(docs.select(F.col("doc_id").alias("vec_id"), "lang")), "vec_id"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "lang")
    n = lab.withColumn("nrm", lsim.norm_exact_vec(F.col("v")))
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("__qv"),
        F.col("nrm").alias("__qn"),
        F.col("lang").alias("true_lang"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("__cv"),
        F.col("nrm").alias("__cn"),
        F.col("lang").alias("nb_lang"),
    )
    sc = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cs",
            lsim.dot_exact_vec(F.col("__qv"), F.col("__cv"))
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        )
    )
    top = (
        sc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cs").desc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .select("query_id", "true_lang", "nb_lang")
    )
    votes = top.groupBy("query_id", "true_lang", "nb_lang").agg(
        F.count("*").alias("n_votes")
    )
    pick = votes.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("n_votes").desc(), "nb_lang"
            )
        ),
    ).filter(F.col("rn") == 1)
    return pick.select(
        "query_id",
        F.col("nb_lang").alias("pred_lang"),
        "true_lang",
        F.col("n_votes").cast("long").alias("n_votes"),
        F.when(F.col("nb_lang") == F.col("true_lang"), 1).otherwise(0).alias(
            "correct"
        ),
    )


def _ppr_oracle() -> str:
    from dicomdb_spark.operators.graph import ppr_oracle_ctes

    ctes, final = ppr_oracle_ctes("edges", "seedset", iters=3, damping=0.85)
    return f"""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT c AS src, 1000000 + s AS dst FROM e0
              UNION ALL SELECT 1000000 + s AS src, c AS dst FROM e0),
    seedset AS (SELECT DISTINCT c AS node FROM e0 WHERE c % 100 = 0),
    {ctes}
    SELECT node, CAST(r AS DOUBLE) / 1000000000000.0 AS ppr,
           CAST(pos AS INTEGER) AS pos
    FROM (SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS pos
          FROM {final}) t
    WHERE pos <= 20
    """


@register("graph_ppr_seeds", _ppr_oracle())
def graph_ppr_seeds(spark, sf_dir):
    """Personalized PageRank from the customer seed set custkey%100==0
    over the customer↔supplier purchase graph (3 rounds, damping
    0.85): teleport mass returns only to the seeds, so rank
    concentrates on suppliers the seed cohort buys from — the
    "similar entities / recommend for this segment" primitive.  Same
    loop shapes and floor-int determinism as graph_pagerank
    (operators/graph.py: personalized_pagerank); top-20."""
    from dicomdb_spark.operators import graph

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = e0.select(
        F.col("c").alias("src"), (F.col("s") + 1000000).alias("dst")
    ).unionAll(
        e0.select((F.col("s") + 1000000).alias("src"), F.col("c").alias("dst"))
    )
    seeds = e0.filter(F.col("c") % 100 == 0).select(F.col("c").alias("node"))
    r = graph.personalized_pagerank(
        edges, seeds, iters=3, damping=0.85, broadcast_ranks=True
    )
    # top-20 via distributed TakeOrdered; the pos window runs on a
    # LIMIT(20) result — bounded by construction
    w = Window.orderBy(F.col("r").desc(), F.col("node"))
    return (
        r.orderBy(F.col("r").desc(), F.col("node"))
        .limit(20)
        .withColumn("pos", F.row_number().over(w))
        .select("node", (F.col("r").cast("double") / 1e12).alias("ppr"), "pos")
    )


@register(
    "corpus_split_leakage",
    f"""
    {_minhash_pairs_cte()},
    ids AS (
      SELECT doc_id FROM documents
      UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id % 9 = 0),
    sp AS (
      SELECT doc_id,
             CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'valid'
                  ELSE 'test' END AS split
      FROM ids),
    lab AS (
      SELECT least(a.split, b.split) AS split_a,
             greatest(a.split, b.split) AS split_b
      FROM pairs p
      JOIN sp a ON p.id1 = a.doc_id
      JOIN sp b ON p.id2 = b.doc_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lab)
    SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN split_a = split_b THEN 0 ELSE 1 END AS is_leakage,
           CAST(count(*) * 10000 AS DOUBLE) / CAST(max(tot.n_total) AS DOUBLE)
             AS share_bp
    FROM lab CROSS JOIN tot
    GROUP BY 1, 2
    """,
)
def corpus_split_leakage(spark, sf_dir):
    """Train/valid/test LEAKAGE audit: near-duplicate pairs whose
    endpoints land in DIFFERENT hash splits are contamination a
    per-split dedup can never see — the eval-hygiene check every
    benchmark pipeline should run before reporting numbers.  Pair
    endpoints get their corpus_split_hash assignment via two
    broadcast joins; output is the split×split pair matrix with a
    leakage flag and basis-point shares (one exact division)."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    docs = load_table(spark, sf_dir, "documents")
    ids = (
        docs.select("doc_id")
        .unionAll(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id")
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id")
            )
        )
    )
    h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
    )
    sp = ids.select(
        "doc_id",
        F.when(h < "cccccccc", "train")
        .when(h < "e6666666", "valid")
        .otherwise("test")
        .alias("split"),
    )
    lab = (
        pairs.join(
            F.broadcast(sp.select(F.col("doc_id").alias("id1"), F.col("split").alias("sa"))),
            "id1",
        )
        .join(
            F.broadcast(sp.select(F.col("doc_id").alias("id2"), F.col("split").alias("sb"))),
            "id2",
        )
        .select(
            F.least("sa", "sb").alias("split_a"), F.greatest("sa", "sb").alias("split_b")
        )
        .persist()
    )
    tot = lab.agg(F.count("*").cast("long").alias("n_total"))
    return (
        lab.crossJoin(F.broadcast(tot))
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.max(
                F.when(F.col("split_a") == F.col("split_b"), 0).otherwise(1)
            ).alias("is_leakage"),
            (
                (F.count("*") * F.lit(10000)).cast("double")
                / F.max("n_total").cast("double")
            ).alias("share_bp"),
        )
        .select("split_a", "split_b", "n_pairs", "is_leakage", "share_bp")
    )


@register(
    "a_ab_srm_check",
    f"""
    WITH u AS (
      SELECT DISTINCT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm
      FROM events),
    c AS (SELECT
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
          FROM u)
    SELECT na AS n_a, nb AS n_b,
           CAST((na - nb) * (na - nb) AS DOUBLE) / CAST(na + nb AS DOUBLE)
             AS chi2,
           CASE WHEN CAST((na - nb) * (na - nb) AS DOUBLE)
                     / CAST(na + nb AS DOUBLE) > 3.841 THEN 1 ELSE 0 END
             AS srm_flag
    FROM c
    """,
)
def a_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail for the md5 arm assignment: the
    1-df chi-square against the expected 50/50 split reduces to
    (n₀−n₁)²/(n₀+n₁) — one fixed float expression over two exact
    counts — flagged at the 95 % critical value 3.841.  The first
    check every experimentation platform runs before reading ANY
    metric; a tripped flag means the assignment or logging pipeline
    is biased and all downstream stats are void."""
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
    u = ev.select("user_id", arm.alias("arm")).distinct()
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )
    chi2 = ((F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb"))).cast(
        "double"
    ) / (F.col("na") + F.col("nb")).cast("double")
    return c.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        chi2.alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).alias("srm_flag"),
    )


@register(
    "w_rolling_median",
    """
    WITH x AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    probe AS (SELECT * FROM x WHERE rn % 97 = 0),
    frame AS (
      SELECT p.event_type, p.event_id AS center_id, p.rn AS crn,
             b.v AS fv, b.event_id AS fid
      FROM probe p JOIN x b
        ON p.event_type = b.event_type
       AND b.rn BETWEEN p.rn - 10 AND p.rn + 10),
    ranked AS (
      SELECT f.event_type, f.center_id, f.fv, f.fid,
             (SELECT count(*) FROM frame g
              WHERE g.event_type = f.event_type
                AND g.center_id = f.center_id
                AND (g.fv < f.fv OR (g.fv = f.fv AND g.fid <= f.fid)))
               AS pos,
             (SELECT count(*) FROM frame g
              WHERE g.event_type = f.event_type
                AND g.center_id = f.center_id) AS nf
      FROM frame f)
    SELECT event_type, center_id, CAST(max(nf) AS BIGINT) AS n_frame,
           CAST(CAST(max(CASE WHEN pos = (nf + 1) // 2 THEN fv END)
                     AS BIGINT) AS DOUBLE) / 10000.0 AS rolling_median
    FROM ranked GROUP BY 1, 2
    """,
)
def w_rolling_median(spark, sf_dir):
    """Rolling MEDIAN over a ±10-row frame (the Hampel filter's
    center statistic — rolling means exist as windows, rolling ORDER
    STATISTICS do not): for every 97th probe row, the frame is
    materialized by a banded rn self-join and the median-low is
    order-statistic selection via an exact in-frame rank (tuple
    (v, id) count — the same selection convention as every quantile
    here).  The frame join is rn-banded — 21 rows per probe, never a
    cross join — and cost scales with probes × frame², all integer.
    Probing every row would multiply cost by 97 with the same plan;
    the stride keeps the oracle cheap while exercising every edge
    (frame truncation at both partition ends included)."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("rn"),
    ).persist()
    probe = x.filter(F.col("rn") % 97 == 0).select(
        "event_type",
        F.col("event_id").alias("center_id"),
        F.col("rn").alias("crn"),
    )
    b = x.select(
        F.col("event_type").alias("et"),
        F.col("v").alias("fv"),
        F.col("event_id").alias("fid"),
        F.col("rn").alias("brn"),
    )
    frame = probe.join(
        b,
        (F.col("event_type") == F.col("et"))
        & F.col("brn").between(F.col("crn") - 10, F.col("crn") + 10),
    ).select("event_type", "center_id", "fv", "fid")
    fa = frame.select(
        "event_type", "center_id", F.col("fv").alias("av"), F.col("fid").alias("aid")
    )
    ranked = (
        fa.join(frame, ["event_type", "center_id"])
        .groupBy("event_type", "center_id", "av", "aid")
        .agg(
            F.sum(
                F.when(
                    (F.col("fv") < F.col("av"))
                    | ((F.col("fv") == F.col("av")) & (F.col("fid") <= F.col("aid"))),
                    1,
                ).otherwise(0)
            ).alias("pos"),
            F.count("*").alias("nf"),
        )
    )
    return ranked.groupBy("event_type", "center_id").agg(
        F.max("nf").cast("long").alias("n_frame"),
        (
            F.max(
                F.when(F.col("pos") == F.expr("(nf + 1) div 2"), F.col("av"))
            )
            .cast("long")
            .cast("double")
            / 10000.0
        ).alias("rolling_median"),
    )


@register(
    "a_winsorized_mean",
    """
    WITH x AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10000) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    r AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY v, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM x),
    b AS (SELECT event_type,
                 CAST(max(CASE WHEN rn = greatest((n * 5) // 100, 1)
                               THEN v END) AS BIGINT) AS lo,
                 CAST(max(CASE WHEN rn = least((n * 95) // 100 + 1, n)
                               THEN v END) AS BIGINT) AS hi,
                 CAST(max(n) AS BIGINT) AS n
          FROM r GROUP BY 1)
    SELECT x.event_type, b.n,
           CAST(b.lo AS DOUBLE) / 10000.0 AS lo_bound,
           CAST(b.hi AS DOUBLE) / 10000.0 AS hi_bound,
           CAST(CAST(SUM(least(greatest(x.v, b.lo), b.hi)) AS BIGINT)
                AS DOUBLE) / 10000.0 / CAST(b.n AS DOUBLE) AS winsor_mean
    FROM x JOIN b ON x.event_type = b.event_type
    GROUP BY 1, 2, 3, 4
    """,
)
def a_winsorized_mean(spark, sf_dir):
    """Winsorized mean per event type: clamp every value into the
    [p05, p95] band (bounds by order-statistic selection — rank
    ⌊5n/100⌋ low / ⌊95n/100⌋+1 high, never interpolation) and average
    the clamped EXACT integers — the robust-location statistic that,
    unlike trimming, keeps n constant.  One ranking pass for the
    bounds, one broadcast join back, one integer sum, one division.
    NULL values are excluded symmetrically (not observations; their
    sort position diverges between engines — r13 null-probe find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("v"),
    )
    wr = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    r = x.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count("*").over(wn)
    )
    b = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("greatest((n * 5) div 100, 1)"), F.col("v"))
        )
        .cast("long")
        .alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("least((n * 95) div 100 + 1, n)"), F.col("v"))
        )
        .cast("long")
        .alias("hi"),
        F.max("n").cast("long").alias("n"),
    )
    return (
        x.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n",
                 (F.col("lo").cast("double") / 10000.0).alias("lo_bound"),
                 (F.col("hi").cast("double") / 10000.0).alias("hi_bound"))
        .agg(
            (
                F.sum(F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")))
                .cast("long")
                .cast("double")
                / 10000.0
                / F.max("n").cast("double")
            ).alias("winsor_mean")
        )
    )


@register(
    "w_streak_longest",
    """
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
               FROM events),
    i AS (SELECT user_id, day,
                 day - CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY day) AS INTEGER)
                   AS island
          FROM d),
    runs AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
             FROM i GROUP BY 1, 2)
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM runs GROUP BY 1
    """,
)
def w_streak_longest(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands derivative every engagement dashboard asks for:
    distinct active days, the day − row_number island key (constant
    within a consecutive run), run lengths, then max/count/sum per
    user.  Two aggregates and one per-user sort over the DAYS
    dimension — never the raw event stream."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    i = d.withColumn(
        "island",
        F.date_sub(
            "day",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("day"))
            .cast("int"),
        ),
    )
    runs = i.groupBy("user_id", "island").agg(F.count("*").cast("long").alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@register(
    "corpus_temperature_mix",
    """
    WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY 1),
    w AS (SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
                   AS w_scaled
          FROM per),
    t AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS wt,
                 CAST(SUM(n_docs) AS BIGINT) AS nt FROM w)
    SELECT source, n_docs, w_scaled,
           CAST(w_scaled AS DOUBLE) / CAST(t.wt AS DOUBLE) AS share,
           CAST((t.nt * w_scaled) // t.wt AS BIGINT) AS expected_count
    FROM w CROSS JOIN t
    """,
)
def corpus_temperature_mix(spark, sf_dir):
    """Temperature-T sampling weights for multilingual/multi-source
    mixing at T=2 (the mT5/XLM-R upsampling rule p_s^(1/T)): weight =
    √n per source.  General p^(1/T) needs pow(), which is NOT
    bit-portable across libm — but T=2 is sqrt (correctly rounded in
    IEEE), and the weight is floored to an INTEGER before the
    normalizing sum, so the shares survive any summation order.  One
    source aggregate, one 1-row total broadcast, one division per
    source; expected counts by integer division."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    w = per.withColumn(
        "w_scaled",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast("long"),
    )
    t = w.agg(
        F.sum("w_scaled").cast("long").alias("wt"),
        F.sum("n_docs").cast("long").alias("nt"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "w_scaled",
        (F.col("w_scaled").cast("double") / F.col("wt").cast("double")).alias("share"),
        F.expr("(nt * w_scaled) div wt").cast("long").alias("expected_count"),
    )


@register(
    "graph_edge_jaccard",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    common AS (
      SELECT p.id1, p.id2, CAST(count(*) AS BIGINT) AS cn
      FROM pairs p
      JOIN e ea ON ea.dst = p.id1
      JOIN e eb ON eb.dst = p.id2 AND eb.src = ea.src
      WHERE ea.src <> p.id1 AND ea.src <> p.id2
      GROUP BY 1, 2)
    SELECT p.id1, p.id2,
           CAST(coalesce(c.cn, 0) AS BIGINT) AS common_neighbors,
           CAST(coalesce(c.cn, 0) AS DOUBLE)
             / CAST(da.dg + db.dg - coalesce(c.cn, 0) AS DOUBLE)
             AS edge_jaccard
    FROM pairs p
    JOIN deg da ON p.id1 = da.node
    JOIN deg db ON p.id2 = db.node
    LEFT JOIN common c ON p.id1 = c.id1 AND p.id2 = c.id2
    ORDER BY edge_jaccard DESC, p.id1, p.id2
    LIMIT 50
    """,
)
def graph_edge_jaccard(spark, sf_dir):
    """Edge strength by neighbor-set Jaccard (|N(a)∩N(b)| /
    |N(a)∪N(b)|): near-1 edges sit inside dup cliques, near-0 edges
    are bridges (likely LSH false positives) — the tie-strength
    metric used to prune candidate graphs before clustering.  Common
    neighbors come from the wedge join restricted to EXISTING edges;
    the union size is degree arithmetic (da + db − common, the
    endpoints themselves excluded from both sides symmetrically);
    one division per edge.  Complements graph_link_predict_ra (which
    scores NON-adjacent pairs)."""
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
    ea = e.select(F.col("src").alias("z"), F.col("dst").alias("id1"))
    eb = e.select(F.col("src").alias("z2"), F.col("dst").alias("id2b"))
    common = (
        pairs.join(ea, "id1")
        .join(eb, (F.col("z") == F.col("z2")) & (F.col("id2") == F.col("id2b")))
        .filter((F.col("z") != F.col("id1")) & (F.col("z") != F.col("id2")))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    return (
        pairs.join(
            F.broadcast(deg.select(F.col("node").alias("id1"), F.col("dg").alias("da"))),
            "id1",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("id2"), F.col("dg").alias("db"))),
            "id2",
        )
        .join(common, ["id1", "id2"], "left")
        .select(
            "id1",
            "id2",
            F.coalesce("cn", F.lit(0)).cast("long").alias("common_neighbors"),
            (
                F.coalesce("cn", F.lit(0)).cast("double")
                / (F.col("da") + F.col("db") - F.coalesce("cn", F.lit(0))).cast(
                    "double"
                )
            ).alias("edge_jaccard"),
        )
        .orderBy(F.col("edge_jaccard").desc(), "id1", "id2")
        .limit(50)
    )


@register(
    "a_revenue_calendarized",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m0,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    s AS (
      SELECT o.o_orderkey, k.k,
             CAST(o.m0 + to_months(CAST(k.k AS INTEGER)) AS DATE) AS rec_month,
             CASE WHEN k.k = 0
                  THEN o.cents - 2 * (o.cents // 3)
                  ELSE o.cents // 3 END AS rec_cents
      FROM o CROSS JOIN unnest(range(0, 3)) k(k))
    SELECT rec_month, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(rec_cents) AS BIGINT) AS DOUBLE) / 100.0
             AS recognized_revenue
    FROM s GROUP BY 1
    """,
)
def a_revenue_calendarized(spark, sf_dir):
    """Revenue calendarization (recognition spread): each order's
    total recognizes over 3 months starting at its order month — a
    3-row explode per order with EXACT integer cent allocation (month
    0 takes the division remainder, so the three slices always sum to
    the original cents: the accounting invariant).  One explode + one
    month rollup; the calendar grid never joins the fact, the fact
    expands onto the grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m0"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    s = o.select(
        "o_orderkey",
        F.posexplode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("_p", "k"),
        "m0",
        "cents",
    ).select(
        "o_orderkey",
        F.add_months("m0", F.col("k")).alias("rec_month"),
        F.when(
            F.col("k") == 0,
            F.col("cents") - 2 * F.expr("cents div 3"),
        )
        .otherwise(F.expr("cents div 3"))
        .alias("rec_cents"),
    )
    return s.groupBy("rec_month").agg(
        F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        (
            F.sum("rec_cents").cast("long").cast("double") / 100.0
        ).alias("recognized_revenue"),
    )


@register(
    "a_pareto_8020",
    """
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    c AS (SELECT o_custkey, rev,
                 SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum,
                 row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
                 count(*) OVER () AS n,
                 SUM(rev) OVER () AS tot
          FROM r),
    k AS (SELECT min(rn) AS top_k FROM c WHERE 10 * cum >= 8 * tot),
    j AS (SELECT c.rn, c.n, c.tot, c.cum, CAST(k.top_k AS BIGINT) AS top_k
          FROM c CROSS JOIN k)
    SELECT CAST(max(n) AS BIGINT) AS n_customers, top_k,
           CAST(max(top_k) * 10000 AS DOUBLE) / CAST(max(n) AS DOUBLE)
             AS share_of_customers_bp,
           CAST(max(CASE WHEN rn = top_k THEN cum END) * 10000
                AS DOUBLE) / CAST(max(tot) AS DOUBLE) AS revenue_share_bp
    FROM j
    GROUP BY top_k
    """,
)
def a_pareto_8020(spark, sf_dir):
    """Pareto concentration report: the smallest customer prefix (by
    descending revenue, custkey tiebreak) covering ≥ 80 % of total
    revenue — 'do 20 % of customers drive 80 %?'.  The 80 % trigger
    is an INTEGER comparison (10·cum ≥ 8·total — no float threshold),
    k is a min over qualifying ranks, and the two shares are one
    division each.  One revenue aggregate, then a DISTRIBUTED ranking
    + running sum over the customer dimension (range-bucket on rev,
    per-bucket offsets, partitioned window — ow.bucketed_running); n
    and total revenue ride a 1-row broadcast, so nothing global ever
    sorts on one task."""
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    tots = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rev").cast("long").alias("tot"),
    )
    c = ow.bucketed_running(
        ow.monotone_range_bucket(r, "rev", ascending=False),
        order_cols=[F.col("rev").desc(), "o_custkey"],
        sum_cols=["rev"],
        rn_col="rn",
    ).withColumnRenamed("cum_rev", "cum").crossJoin(F.broadcast(tots))
    k = c.filter(10 * F.col("cum") >= 8 * F.col("tot")).agg(
        F.min("rn").alias("top_k")
    )
    j = c.crossJoin(F.broadcast(k)).select(
        "rn", "n", "tot", "cum", F.col("top_k").cast("long").alias("top_k")
    )
    return (
        j.groupBy("top_k")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            (
                (F.max("top_k") * F.lit(10000)).cast("double")
                / F.max("n").cast("double")
            ).alias("share_of_customers_bp"),
            (
                (
                    F.max(F.when(F.col("rn") == F.col("top_k"), F.col("cum")))
                    * F.lit(10000)
                ).cast("double")
                / F.max("tot").cast("double")
            ).alias("revenue_share_bp"),
        )
        .select(
            "n_customers", "top_k", "share_of_customers_bp", "revenue_share_bp"
        )
    )


@register(
    "a_cohort_stickiness",
    """
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1),
    mau AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau
            FROM events),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(dau) AS BIGINT) AS dau_sum,
                 CAST(min(dau) AS BIGINT) AS min_dau,
                 CAST(max(dau) AS BIGINT) AS max_dau
          FROM dau)
    SELECT s.n_days, s.dau_sum, mau.mau, s.min_dau, s.max_dau,
           CAST(s.dau_sum * 10000 AS DOUBLE)
             / CAST(s.n_days * mau.mau AS DOUBLE) AS stickiness_bp
    FROM s CROSS JOIN mau
    """,
)
def a_cohort_stickiness(spark, sf_dir):
    """DAU/MAU stickiness — the engagement-intensity ratio every
    product dashboard leads with: mean daily active users over the
    window's total actives, in basis points (one division of exact
    integer products).  Two distinct-count aggregates; at 100 TB the
    daily distincts partial-aggregate and the window-wide distinct is
    one more pass over user ids — or swaps to the HLL register
    pipeline (sketch_hll_rolling) when exactness can yield."""
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    mau = ev.agg(F.countDistinct("user_id").cast("long").alias("mau"))
    s = dau.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("dau_sum"),
        F.min("dau").cast("long").alias("min_dau"),
        F.max("dau").cast("long").alias("max_dau"),
    )
    return s.crossJoin(F.broadcast(mau)).select(
        "n_days",
        "dau_sum",
        "mau",
        "min_dau",
        "max_dau",
        (
            (F.col("dau_sum") * F.lit(10000)).cast("double")
            / (F.col("n_days") * F.col("mau")).cast("double")
        ).alias("stickiness_bp"),
    )


@register("j21_best_match_join", None)  # oracle attached below
def j21_best_match_join(spark, sf_dir):
    """Best-match fuzzy join — the RESOLUTION step after candidate
    pairing: every token that appears as the WORSE-spelled side of a
    phonetic candidate pair gets exactly ONE best correction (min
    Levenshtein, then lexicographic) via a ranking window over its
    candidates.  Pair generation reuses er_phonetic_pairs; this query
    is the argmin join pattern itself (rank-1 filter on a
    (key-ordered) window), which is how any 'closest reference
    record' lookup ships at scale."""
    pairs = QUERIES["er_phonetic_pairs"](spark, sf_dir).persist()
    cand = pairs.select(
        F.col("tok1").alias("probe"), F.col("tok2").alias("cand"), "dist"
    ).unionAll(
        pairs.select(F.col("tok2").alias("probe"), F.col("tok1").alias("cand"), "dist")
    )
    w = Window.partitionBy("probe").orderBy("dist", "cand")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe",
            F.col("cand").alias("best_match"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


ORACLES["j21_best_match_join"] = f"""
    WITH pp AS ({_phonetic_er_oracle()}),
    cand AS (
      SELECT tok1 AS probe, tok2 AS cand, dist FROM pp
      UNION ALL SELECT tok2, tok1, dist FROM pp),
    r AS (SELECT probe, cand, dist,
                 row_number() OVER (PARTITION BY probe
                                    ORDER BY dist, cand) AS rn
          FROM cand)
    SELECT probe, cand AS best_match, CAST(dist AS INTEGER) AS dist
    FROM r WHERE rn = 1
    """


@register(
    "a_skew_kurtosis",
    """
    WITH x AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v
               FROM events),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS s1
          FROM x GROUP BY 1),
    c AS (SELECT event_type, n, s1,
                 (s1 - ((s1 % n + n) % n)) // n AS cc
          FROM m),
    v AS (SELECT x.event_type,
                 CAST(SUM(x.v - c.cc) AS BIGINT) AS rs,
                 CAST(SUM((x.v - c.cc) * (x.v - c.cc)) AS BIGINT) AS s2,
                 CAST(SUM(CAST(floor(CAST(x.v - c.cc AS DOUBLE)
                                     * CAST(x.v - c.cc AS DOUBLE)
                                     * CAST(x.v - c.cc AS DOUBLE)
                                     / 100.0) AS BIGINT)) AS BIGINT) AS s3s,
                 CAST(SUM(CAST(floor(CAST(x.v - c.cc AS DOUBLE)
                                     * CAST(x.v - c.cc AS DOUBLE)
                                     * CAST(x.v - c.cc AS DOUBLE)
                                     * CAST(x.v - c.cc AS DOUBLE)
                                     / 10000.0) AS BIGINT)) AS BIGINT) AS s4s
          FROM x JOIN c USING (event_type) GROUP BY 1),
    k AS (SELECT c.event_type, c.n,
                 CAST(c.n AS DOUBLE) AS nd,
                 CAST(c.s1 AS DOUBLE) / CAST(c.n AS DOUBLE) AS m1,
                 CAST(v.rs AS DOUBLE) / CAST(c.n AS DOUBLE) AS rb,
                 CAST(v.s2 AS DOUBLE) AS s2d,
                 CAST(v.s3s AS DOUBLE) * 100.0 AS s3d,
                 CAST(v.s4s AS DOUBLE) * 10000.0 AS s4d
          FROM c JOIN v USING (event_type)),
    cm AS (SELECT event_type, n, m1,
                  greatest(s2d / nd - rb * rb, 0.0) AS m2c,
                  s3d / nd - 3.0 * rb * (s2d / nd)
                    + 2.0 * rb * rb * rb AS m3,
                  s4d / nd - 4.0 * rb * (s3d / nd)
                    + 6.0 * rb * rb * (s2d / nd)
                    - 3.0 * rb * rb * rb * rb AS m4
           FROM k)
    SELECT event_type, n, m1 AS mean,
           m3 / nullif(m2c * sqrt(m2c), 0.0) AS skewness,
           m4 / nullif(m2c * m2c, 0.0) - 3.0 AS kurtosis_excess
    FROM cm
    """,
)
def a_skew_kurtosis(spark, sf_dir):
    """Distribution-shape profiling: skewness and excess kurtosis per
    event type from MEAN-SHIFTED floor-scaled co-moments (the
    emb_norm_outliers / a_generalized_esd discipline, r13 retrofit):
    the per-group floor-mean cc comes from the canonical nonnegative
    residue, deviations d = v − cc are exact int64 with 0 ≤ Σd < n,
    Σd² sums exactly and Σd³ / Σd⁴ floor-scale by 1e2 / 1e4 BEFORE
    summing — the old raw Σv³/Σv⁴ overflowed int64 at a single
    |v| ≳ 56k row and bounded n by max|v|⁴.  Headroom now rides the
    CENTERED spread: at the events table's real per-group spread
    |d| ~ 3e2 the widest term is d⁴/1e4 ≈ 8e5, so n ≲ 1e13 per group
    (any 100 TB key; a spread-1e3 group still holds n ≤ 9e10 ≈ 9 TB
    of rows in ONE group); a pathological |d| ~ 1e5 group computes
    exactly to n ≈ 900 instead of crashing at n = 1.  The scales are
    deliberately finer than emb_norm_outliers' (whose d is ~1e6):
    quantization bias is < 1e2/|Σd³| resp. 1e4/|Σd⁴| — ≲ 1e-3 of the
    statistic at the |d| ~ 50 lower edge of the natural domain
    (test-pinned vs numpy), identical on both engines by
    construction.  Central moments come from the shifted-sum
    identities with r̄ = Σd/n ∈ [0,1); var^1.5 is var·√var (sqrt is
    correctly rounded in IEEE, pow() is not guaranteed to be across
    libm); a constant group (m2 = 0) yields NULL on both engines
    (greatest-0 clamp + nullif — DuckDB x/0.0 is NULL, ANSI Spark
    would throw).  The shape
    screen run before choosing parametric vs rank tests
    (a_ab_test_zscore vs a_mannwhitney_u)."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select("event_type", F.floor(F.col("value")).cast("long").alias("v"))
    m = x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
    )
    c = m.select(
        "event_type", "n", "s1",
        F.expr("(s1 - ((s1 % n + n) % n)) div n").cast("long").alias("cc"),
    )
    dv = (F.col("v") - F.col("cc")).cast("long")
    dd = dv.cast("double")
    v = (
        x.join(F.broadcast(c.select("event_type", "cc")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(dv).cast("long").alias("rs"),
            F.sum(dv * dv).cast("long").alias("s2"),
            F.sum(F.floor(dd * dd * dd / 100.0).cast("long"))
            .cast("long")
            .alias("s3s"),
            F.sum(F.floor(dd * dd * dd * dd / 10000.0).cast("long"))
            .cast("long")
            .alias("s4s"),
        )
    )
    nd = F.col("n").cast("double")
    rb = F.col("rs").cast("double") / nd
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3s").cast("double") * 100.0
    s4d = F.col("s4s").cast("double") * 10000.0
    m2c = F.greatest(s2d / nd - rb * rb, F.lit(0.0))
    m3 = s3d / nd - F.lit(3.0) * rb * (s2d / nd) + F.lit(2.0) * rb * rb * rb
    m4 = (
        s4d / nd
        - F.lit(4.0) * rb * (s3d / nd)
        + F.lit(6.0) * rb * rb * (s2d / nd)
        - F.lit(3.0) * rb * rb * rb * rb
    )
    return c.join(v, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("s1").cast("double") / nd).alias("mean"),
        # nullif: constant series → m2 0 → NULL like DuckDB x/0
        (m3 / F.nullif(m2c * F.sqrt(m2c), F.lit(0.0))).alias("skewness"),
        (m4 / F.nullif(m2c * m2c, F.lit(0.0)) - F.lit(3.0)).alias(
            "kurtosis_excess"
        ),
    )


# ---------------------------------------------------------------------------
# Round 4 — the E1 import pipeline, end-to-end as ONE query
# ---------------------------------------------------------------------------

from dicomdb_spark.functions.sketches import sql_hex_int as _e1_hex

_E1_HEX3_EUID = _e1_hex("md5(euid)", 8)

_E1_ORACLE = f"""
    WITH ids AS (SELECT o_orderkey AS i FROM orders
                 WHERE o_orderkey % 6 = 0 AND o_orderkey % 13 <> 0),
    h AS (SELECT i,
            '1.2.826.0.1.' || CAST(i % 500 AS VARCHAR) AS sid,
            CAST(i % 40 + 1 AS INTEGER) AS snum,
            (i % 50) / 10.0 AS echo,
            '1.2.826.0.' || CAST(i % 50 AS VARCHAR) AS euid,
            '20240101' AS adate,
            CAST(i % 300 + 1 AS INTEGER) AS inst,
            '/synthetic/' || CAST(i AS VARCHAR) || '.dic' AS path,
            CAST((i % 24) * 3600 + (i % 60) * 60 AS DOUBLE) AS secs
          FROM ids),
    r AS (SELECT *, row_number() OVER (PARTITION BY sid, snum, echo
                                       ORDER BY inst, path) AS rn
          FROM h),
    dd AS (SELECT sid, snum, echo,
             max(CASE WHEN rn = 1 THEN secs END) AS s1,
             max(CASE WHEN rn = 2 THEN secs END) AS s2
           FROM r GROUP BY 1, 2, 3),
    serie AS (SELECT h.sid, h.snum, h.echo,
             min(h.euid) AS euid, min(h.adate) AS adate,
             min(h.secs) AS first_acq,
             min(CASE WHEN dd.s2 IS NOT NULL THEN
                   CASE WHEN dd.s2 - dd.s1 < 0 THEN dd.s2 - dd.s1 + 86400
                        ELSE dd.s2 - dd.s1 END END) AS duration_s
           FROM h JOIN dd ON h.sid = dd.sid AND h.snum = dd.snum
                          AND h.echo = dd.echo
           GROUP BY 1, 2, 3),
    sr AS (SELECT *,
             row_number() OVER (PARTITION BY euid, adate
                                ORDER BY snum, sid, echo) AS ra,
             row_number() OVER (PARTITION BY euid, adate
                                ORDER BY snum DESC, sid DESC, echo DESC) AS rd
           FROM serie),
    ex AS (SELECT euid, adate,
             CAST(count(*) AS BIGINT) AS n_series,
             max(CASE WHEN ra = 1 THEN first_acq END) AS first_start,
             max(CASE WHEN rd = 1 THEN first_acq END) AS last_start,
             max(CASE WHEN rd = 1 THEN duration_s END) AS last_duration,
             max(CASE WHEN ra = 1 THEN sid END) AS first_serie,
             max(CASE WHEN rd = 1 THEN sid END) AS last_serie
           FROM sr GROUP BY 1, 2),
    exd AS (SELECT *,
             CAST(ceil(((CASE WHEN CAST(last_start AS BIGINT)
                                   - CAST(first_start AS BIGINT) < 0
                         THEN CAST(last_start AS BIGINT)
                              - CAST(first_start AS BIGINT) + 86400
                         ELSE CAST(last_start AS BIGINT)
                              - CAST(first_start AS BIGINT) END)
                       + coalesce(CAST(last_duration AS BIGINT), 0)) / 60.0)
                  AS BIGINT) AS exam_minutes
            FROM ex),
    old AS (SELECT euid, adate, n_series, first_start, first_serie,
              CASE WHEN hh = 1 THEN exam_minutes + 1
                   ELSE exam_minutes END AS exam_minutes
            FROM (SELECT *, {_E1_HEX3_EUID} % 3 AS hh FROM exd)
            WHERE hh <> 0)
    SELECT n.euid AS EUID, n.adate AS AcquisitionDate,
           n.n_series, n.exam_minutes AS ExamDuration,
           n.first_serie AS FirstSerieName,
           CASE WHEN o.euid IS NULL THEN 'insert'
                WHEN n.n_series IS DISTINCT FROM o.n_series
                  OR n.exam_minutes IS DISTINCT FROM o.exam_minutes
                  OR n.first_serie IS DISTINCT FROM o.first_serie
                  OR round(n.first_start * 100000)
                     IS DISTINCT FROM round(o.first_start * 100000)
                THEN 'update' ELSE 'noop' END AS action
    FROM exd n LEFT JOIN old o ON n.euid = o.euid AND n.adate = o.adate
    """


@register("e1_import_pipeline", _E1_ORACLE)
def e1_import_pipeline(spark, sf_dir):
    """E1 — the reference's main entry point (do_dicom_series_DB.py,
    SURVEY §3 E1) END-TO-END as one composed query: synthetic Part-10
    byte streams (S3 fixture generator) → byte-level header parse (U1,
    mapInPandas) → per-stack serie assembly (U3, applyInPandas) →
    exam sessionization + rollover duration (W3/W1/F4) → MERGE
    classification against the previous DB snapshot (S7/P3/P4).

    The 'existing DB' snapshot is a deterministic perturbation of the
    computed exams (md5(EUID)%3: 0 → absent ⇒ insert, 1 → duration
    drifted ⇒ update, 2 → identical ⇒ noop) so all three MERGE classes
    are non-vacuous.  The oracle is the full pipeline SPEC: every
    synthetic header field is a pure function of the id, so SQL can
    restate parse → stack → exam → classify and the engine's
    Arrow/pandas path must reproduce it bit-for-bit.

    Scale shape: parse and serie assembly shuffle once on the stack
    key, exams once on (EUID, day), classification is one equi-join
    against the snapshot — no driver loops, no collects."""
    from dicomdb_spark import pipeline as P
    from dicomdb_spark.sources.dicom import parse_headers, synthetic_part10_from_ids

    ids = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("id"))
        .filter(F.col("id") % 6 == 0)
        .transform(_fanout(spark))
    )
    headers = parse_headers(synthetic_part10_from_ids(ids)).filter(
        F.col("SeriesInstanceUID").isNotNull()
    )
    serie = P.build_serie_frame(headers)
    # exams feed BOTH merge sides — persist before the fan-out
    exams = P.build_exam_frame(serie).persist()
    h3 = (
        F.conv(F.substring(F.md5(F.col("EUID")), 1, 8), 16, 10).cast("long") % 3
    )
    existing = (
        exams.withColumn("__h", h3)
        .filter(F.col("__h") != 0)
        .withColumn(
            "ExamDuration",
            F.when(F.col("__h") == 1, F.col("ExamDuration") + 1).otherwise(
                F.col("ExamDuration")
            ),
        )
        .drop("__h")
    )
    classified = P.classify_against_db(
        exams,
        existing,
        keys=["EUID", "AcquisitionDate"],
        compare_cols=[
            "n_series",
            "ExamDuration",
            "FirstSerieName",
            "LastSerieName",
            "first_start",
        ],
        float_cols=["first_start"],
        exclude_cols=["LastSerieName"],  # the Cenir_DB.py:97 exclude list
    )
    return classified.select(
        "EUID",
        "AcquisitionDate",
        F.col("n_series").cast("long").alias("n_series"),
        F.col("ExamDuration").cast("long").alias("ExamDuration"),
        "FirstSerieName",
        "action",
    )


# ---------------------------------------------------------------------------
# Round-6 additions — statistics, finance-window, and concentration ops.
# Shared float discipline: every multi-row sum of a double expression is
# floor-scaled to int64 FIRST (partition-invariant, engine-portable);
# the only double arithmetic is a fixed single-expression chain over
# exact integer aggregates, written identically on both engines.
# ---------------------------------------------------------------------------


@register(
    "a_chi_square",
    """
    WITH o AS (SELECT event_type, CAST(date_part('dow', ts) AS BIGINT) AS dow,
                      count(*) AS o
               FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM o GROUP BY 1),
    c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM o GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                 count(*) AS n_cells FROM o),
    rc AS (SELECT (SELECT count(*) FROM r) AS n_rows,
                  (SELECT count(*) FROM c) AS n_cols),
    t AS (SELECT o.o, r.r, c.c, n.n,
                 CAST(r.r * c.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
          FROM o JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN n)
    SELECT CAST(max(n) AS BIGINT) AS n_obs,
           CAST(max(rc.n_rows) AS BIGINT) AS n_rows,
           CAST(max(rc.n_cols) AS BIGINT) AS n_cols,
           CAST((max(rc.n_rows) - 1) * (max(rc.n_cols) - 1) AS BIGINT) AS dof,
           CAST(SUM(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
                               / e * 1000000.0) AS BIGINT)) / 1000000.0
                AS DOUBLE) AS chi2
    FROM t CROSS JOIN rc
    """,
)
def a_chi_square(spark, sf_dir):
    """Pearson chi-square test of independence (event_type x
    day-of-week).  ONE fact scan builds the contingency table O; row
    totals, column totals, and N all derive from O (group-bounded:
    |types| x 7 cells), so the test costs one shuffle regardless of
    corpus size.  Each cell's (O-E)^2/E term is floor-scaled to int64
    before the cross-cell sum — the statistic is partition-invariant
    even though E is fractional."""
    ev = load_table(spark, sf_dir, "events")
    o = (
        ev.groupBy(
            "event_type", (F.dayofweek("ts") - 1).cast("long").alias("dow")
        )
        .agg(F.count("*").alias("o"))
    )
    # row/column/grand totals as WINDOWS over the bounded contingency
    # frame — ONE fact scan + one shuffle total; the margin windows
    # run on |types|·7 rows, never the fact (the join/branch
    # formulation would re-derive the fact aggregate per margin)
    t = o.select(
        "event_type", "dow", "o",
        F.sum("o").over(Window.partitionBy("event_type")).cast("long").alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).cast("long").alias("c"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    ).withColumn(
        "e",
        (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double"),
    )
    od = F.col("o").cast("double")
    return t.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.countDistinct("event_type").cast("long").alias("n_rows"),
        F.countDistinct("dow").cast("long").alias("n_cols"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
        (
            F.sum(
                F.floor(
                    (od - F.col("e")) * (od - F.col("e")) / F.col("e")
                    * 1000000.0
                ).cast("long")
            )
            / 1000000.0
        )
        .cast("double")
        .alias("chi2"),
    )


@register(
    "a_welch_ttest",
    """
    WITH g AS (SELECT event_type AS grp, count(*) AS n,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS s1,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                               * CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS s2
               FROM events WHERE event_type IN ('purchase', 'click')
               GROUP BY 1),
    s AS (SELECT
            max(CASE WHEN grp = 'purchase' THEN n END) AS na,
            max(CASE WHEN grp = 'purchase' THEN s1 END) AS s1a,
            max(CASE WHEN grp = 'purchase' THEN s2 END) AS s2a,
            max(CASE WHEN grp = 'click' THEN n END) AS nb,
            max(CASE WHEN grp = 'click' THEN s1 END) AS s1b,
            max(CASE WHEN grp = 'click' THEN s2 END) AS s2b
          FROM g),
    v AS (SELECT na, nb,
            CAST(s1a AS DOUBLE) / na AS ma,
            CAST(s1b AS DOUBLE) / nb AS mb,
            (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
             / na) / (na - 1) AS va,
            (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
             / nb) / (nb - 1) AS vb
          FROM s)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ma / 100.0 AS mean_a, mb / 100.0 AS mean_b,
           (ma - mb) / sqrt(va / na + vb / nb) AS t_stat,
           (va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)) AS welch_dof
    FROM v
    """,
)
def a_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test (purchase vs click values).
    Group means and sample variances come from exact integer (n, sum,
    sum-of-squares) aggregates — one map-side-combining pass over the
    filtered fact — so the t statistic and Welch–Satterthwaite dof are
    ONE deterministic float chain, independent of partitioning.  The
    cent scaling keeps s2 < 2^53 far past sf100."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    vs = F.floor(F.col("value") * 100).cast("long")
    g = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(vs).cast("long").alias("s1"),
        F.sum(vs * vs).cast("long").alias("s2"),
    )

    def pick(grp, col):
        return F.max(F.when(F.col("grp") == grp, F.col(col)))

    s = g.agg(
        pick("purchase", "n").alias("na"),
        pick("purchase", "s1").alias("s1a"),
        pick("purchase", "s2").alias("s2a"),
        pick("click", "n").alias("nb"),
        pick("click", "s1").alias("s1b"),
        pick("click", "s2").alias("s2b"),
    )
    v = s.select(
        "na",
        "nb",
        (F.col("s1a").cast("double") / F.col("na")).alias("ma"),
        (F.col("s1b").cast("double") / F.col("nb")).alias("mb"),
        (
            (
                F.col("s2a").cast("double")
                - F.col("s1a").cast("double") * F.col("s1a").cast("double")
                / F.col("na")
            )
            / (F.col("na") - 1)
        ).alias("va"),
        (
            (
                F.col("s2b").cast("double")
                - F.col("s1b").cast("double") * F.col("s1b").cast("double")
                / F.col("nb")
            )
            / (F.col("nb") - 1)
        ).alias("vb"),
    )
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    return v.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (F.col("ma") / 100.0).alias("mean_a"),
        (F.col("mb") / 100.0).alias("mean_b"),
        ((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb)).alias("t_stat"),
        (
            (sea + seb) * (sea + seb)
            / (sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1))
        ).alias("welch_dof"),
    )


@register(
    "w_bollinger_bands",
    """
    WITH v AS (SELECT event_type, ts, event_id,
                      CAST(floor(value * 10000) AS BIGINT) AS vs
               FROM events),
    w AS (SELECT event_type, ts, event_id, vs,
                 CAST(count(*) OVER win AS BIGINT) AS n,
                 CAST(SUM(vs) OVER win AS BIGINT) AS s1,
                 CAST(SUM(vs * vs) OVER win AS BIGINT) AS s2
          FROM v
          WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    b AS (SELECT event_type, event_id, vs,
                 CAST(s1 AS DOUBLE) / n AS m,
                 (CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n AS var
          FROM w WHERE n = 20)
    SELECT event_type, event_id,
           CAST(vs AS DOUBLE) / 10000.0 AS value,
           m / 10000.0 AS sma20,
           (m + 2.0 * sqrt(greatest(var, 0.0))) / 10000.0 AS upper_band,
           (m - 2.0 * sqrt(greatest(var, 0.0))) / 10000.0 AS lower_band,
           CASE WHEN CAST(vs AS DOUBLE) > m + 2.0 * sqrt(greatest(var, 0.0))
                THEN 1 ELSE -1 END AS breakout
    FROM b
    WHERE CAST(vs AS DOUBLE) > m + 2.0 * sqrt(greatest(var, 0.0))
       OR CAST(vs AS DOUBLE) < m - 2.0 * sqrt(greatest(var, 0.0))
    """,
)
def w_bollinger_bands(spark, sf_dir):
    """Bollinger-band breakouts: 20-row rolling mean ± 2σ per
    event_type stream, emitting only band-crossing rows.  The rolling
    mean/variance derive from integer window sums (value scaled 1e4;
    vs² ≤ 2.5e13·20 per frame, exact), so bands are identical under
    any partitioning; σ and both bands are a single float chain per
    row.  One window shuffle on the stream key — the same cost shape
    as w_ohlc_bars."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "ts", "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("vs"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    w = v.select(
        "event_type", "ts", "event_id", "vs",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("vs").over(win).cast("long").alias("s1"),
        F.sum(F.col("vs") * F.col("vs")).over(win).cast("long").alias("s2"),
    )
    b = w.filter(F.col("n") == 20).select(
        "event_type", "event_id", "vs",
        (F.col("s1").cast("double") / F.col("n")).alias("m"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
                / F.col("n")
            )
            / F.col("n")
        ).alias("var"),
    )
    sd2 = 2.0 * F.sqrt(F.greatest(F.col("var"), F.lit(0.0)))
    vd = F.col("vs").cast("double")
    return (
        b.filter((vd > F.col("m") + sd2) | (vd < F.col("m") - sd2))
        .select(
            "event_type", "event_id",
            (vd / 10000.0).alias("value"),
            (F.col("m") / 10000.0).alias("sma20"),
            ((F.col("m") + sd2) / 10000.0).alias("upper_band"),
            ((F.col("m") - sd2) / 10000.0).alias("lower_band"),
            F.when(vd > F.col("m") + sd2, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("breakout"),
        )
    )


@register(
    "w_kadane_max_subarray",
    """
    WITH v AS (SELECT user_id, ts, event_id,
                      CAST(floor(value * 100) AS BIGINT) AS vs
               FROM events),
    d AS (SELECT user_id, ts, event_id,
                 vs - lag(vs) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS d
          FROM v),
    s AS (SELECT user_id, ts, event_id,
                 CAST(SUM(COALESCE(d, 0)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS ps
          FROM d),
    m AS (SELECT user_id, ps,
                 CAST(min(ps) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS BIGINT) AS minprev
          FROM s)
    SELECT user_id,
           CAST(max(ps - least(COALESCE(minprev, 0), 0)) AS BIGINT)
             AS max_runup_scaled,
           CAST(count(*) AS BIGINT) AS n_events
    FROM m GROUP BY 1
    """,
)
def w_kadane_max_subarray(spark, sf_dir):
    """Maximum-sum contiguous run of value deltas per user (Kadane's
    problem) — the largest cumulative run-up any contiguous event
    window achieved.  Relational Kadane: prefix sums of the deltas,
    then max(ps − min(prefix before)) with the empty prefix as 0 —
    three window passes over ONE (user, time) sort order, so the
    whole thing is a single shuffle; every quantity is an exact
    scaled integer."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("vs"),
    )
    ord_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = v.select(
        "user_id", "ts", "event_id",
        (F.col("vs") - F.lag("vs").over(ord_w)).alias("d"),
    )
    s = d.select(
        "user_id", "ts", "event_id",
        F.sum(F.coalesce(F.col("d"), F.lit(0)))
        .over(ord_w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("ps"),
    )
    m = s.select(
        "user_id", "ps",
        F.min("ps")
        .over(ord_w.rowsBetween(Window.unboundedPreceding, -1))
        .cast("long")
        .alias("minprev"),
    )
    return m.groupBy("user_id").agg(
        F.max(
            F.col("ps")
            - F.least(F.coalesce(F.col("minprev"), F.lit(0)), F.lit(0))
        )
        .cast("long")
        .alias("max_runup_scaled"),
        F.count("*").cast("long").alias("n_events"),
    )


@register(
    "a_hhi_concentration",
    """
    WITH rev AS (SELECT s.s_nationkey AS nk, l.l_suppkey,
                        CAST(SUM(CAST(floor(l.l_extendedprice
                             * (1.0 - l.l_discount) * 100.0) AS BIGINT))
                             AS BIGINT) AS cents
                 FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 GROUP BY 1, 2),
    tot AS (SELECT nk, CAST(SUM(cents) AS BIGINT) AS tot,
                   count(*) AS n_suppliers
            FROM rev GROUP BY 1)
    SELECT n.n_name, CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(floor((CAST(r.cents AS DOUBLE) / CAST(t.tot AS DOUBLE))
                * (CAST(r.cents AS DOUBLE) / CAST(t.tot AS DOUBLE))
                * 100000000.0) AS BIGINT)) / 100000000.0 AS DOUBLE) AS hhi
    FROM rev r JOIN tot t ON r.nk = t.nk
    JOIN nation n ON n.n_nationkey = r.nk
    GROUP BY 1, 2
    """,
)
def a_hhi_concentration(spark, sf_dir):
    """Herfindahl–Hirschman supplier-concentration index per nation:
    Σ shareᵢ² over each supplier's exact revenue cents.  The fact
    join (lineitem↔supplier) is AQE-chosen — supplier scales with SF,
    so no pinned hint; the per-nation totals (≤ 25 rows) and nation
    broadcast back onto the supplier-sized rev table.  Each share²
    term is floor-scaled before the per-nation sum."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
    ).cast("long")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), "l_suppkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    tot = rev.groupBy("nk").agg(
        F.sum("cents").cast("long").alias("tot"),
        F.count("*").alias("n_suppliers"),
    )
    share = F.col("cents").cast("double") / F.col("tot").cast("double")
    return (
        rev.join(F.broadcast(tot), "nk")
        .join(
            F.broadcast(nat), F.col("nk") == F.col("n_nationkey")
        )
        .groupBy("n_name", F.col("n_suppliers").cast("long").alias("n_suppliers"))
        .agg(
            (
                F.sum(F.floor(share * share * 100000000.0).cast("long"))
                / 100000000.0
            )
            .cast("double")
            .alias("hhi")
        )
    )


@register(
    "sketch_ams_f2",
    f"""
    WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS f
               FROM events GROUP BY 1),
    sg AS (SELECT k.range AS k, f.user_id, f.f,
                  1 - 2 * ({_sql_hex_int("md5('ams:' || CAST(k.range AS VARCHAR) || ':' || CAST(f.user_id AS VARCHAR))", 1)} % 2)
                    AS sign
           FROM f CROSS JOIN range(32) k),
    est AS (SELECT k, CAST(SUM(sign * f) AS BIGINT) AS s
            FROM sg GROUP BY 1),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                  CAST(SUM(f * f) AS BIGINT) AS f2_exact FROM f)
    SELECT ex.n_users, ex.f2_exact,
           CAST(SUM(s * s) AS DOUBLE) / 32.0 AS f2_est,
           (CAST(SUM(s * s) AS DOUBLE) / 32.0
            - CAST(ex.f2_exact AS DOUBLE)) / CAST(ex.f2_exact AS DOUBLE)
             AS rel_err
    FROM est CROSS JOIN ex
    GROUP BY 1, 2
    """,
)
def sketch_ams_f2(spark, sf_dir):
    """AMS second-moment (F2) sketch (Alon–Matias–Szegedy, STOC'96):
    32 independent ±1-hash estimators of Σf² over the user-frequency
    vector, averaged, against the exact F2.  Each estimator is an
    integer Σ sign·f — mergeable register state like the other
    sketches, one pass over the frequency table; the 32× cross join
    touches the BOUNDED user aggregate, never the fact."""
    from dicomdb_spark.functions.sketches import _hex_int

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("f"))
    sg = f.select(
        "user_id", "f",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("k"),
    ).withColumn(
        "sign",
        F.lit(1)
        - 2
        * (
            _hex_int(
                F.md5(
                    F.concat(
                        F.lit("ams:"),
                        F.col("k").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
            )
            % 2
        ),
    )
    est = sg.groupBy("k").agg(
        F.sum(F.col("sign") * F.col("f")).cast("long").alias("s")
    )
    ex = f.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact"),
    )
    f2e = F.sum(F.col("s") * F.col("s")).cast("double") / 32.0
    return (
        est.crossJoin(F.broadcast(ex))
        .groupBy("n_users", "f2_exact")
        .agg(
            f2e.alias("f2_est"),
            (
                (f2e - F.col("f2_exact").cast("double"))
                / F.col("f2_exact").cast("double")
            ).alias("rel_err"),
        )
    )


@register(
    "graph_degree_ccdf",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS v FROM pairs UNION ALL SELECT id2 FROM pairs),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM e GROUP BY 1),
    h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices
          FROM deg GROUP BY 1),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM deg)
    SELECT h.degree, h.n_vertices,
           CAST(CAST(SUM(h.n_vertices) OVER (ORDER BY h.degree DESC) AS BIGINT)
                AS DOUBLE) / CAST(nv.nv AS DOUBLE) AS ccdf
    FROM h CROSS JOIN nv
    """,
)
def graph_degree_ccdf(spark, sf_dir):
    """Degree distribution + complementary CDF of the near-dup
    similarity graph — the standard heavy-tail diagnostic (is the dup
    graph scale-free? how big are the largest cliques?).  Degrees are
    one count per vertex and the histogram is group-bounded, but on a
    heavy-tailed graph |distinct degrees| can still reach ~max-degree —
    so the CCDF running sum is range-bucketed (ow.bucketed_running):
    per-bucket offsets + a partitioned cumsum, never one global sort
    task.  The only fact-scale work is the LSH pair generation."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    e = pairs.select(F.col("id1").alias("v")).unionAll(
        pairs.select(F.col("id2").alias("v"))
    )
    # r13 optimization (guide §3.3/§5): the histogram feeds the rank
    # recipe through 4 references and the vertex count one more — on
    # raw lineage each re-ran the whole LSH pair pipeline (88-Exchange
    # plan); checkpoint the two tiny tables once.
    deg = e.groupBy("v").agg(
        F.count("*").cast("long").alias("degree")
    ).transform(cut_lineage)
    h = deg.groupBy("degree").agg(
        F.count("*").cast("long").alias("n_vertices")
    ).transform(cut_lineage)
    nv = deg.agg(F.count("*").cast("long").alias("nv"))
    run = ow.bucketed_running(
        ow.monotone_range_bucket(h, "degree", ascending=False),
        order_cols=[F.col("degree").desc()],
        sum_cols=["n_vertices"],
    )
    return run.crossJoin(F.broadcast(nv)).select(
        "degree",
        "n_vertices",
        (
            F.col("cum_n_vertices").cast("long").cast("double")
            / F.col("nv").cast("double")
        ).alias("ccdf"),
    )


@register(
    "a_runs_test",
    """
    WITH v AS (SELECT event_type, ts, event_id,
                      CAST(floor(value * 100) AS BIGINT) AS vs
               FROM events),
    g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(vs) AS BIGINT) AS s1
          FROM v GROUP BY 1),
    sgn AS (SELECT v.event_type, v.ts, v.event_id,
                   CASE WHEN v.vs * g.n > g.s1 THEN 1 ELSE 0 END AS sign
            FROM v JOIN g USING (event_type)),
    r AS (SELECT event_type, sign,
                 CASE WHEN sign <> lag(sign) OVER
                      (PARTITION BY event_type ORDER BY ts, event_id)
                      THEN 1 ELSE 0 END AS brk
          FROM sgn),
    st AS (SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(sign) AS BIGINT) AS n_above,
                  CAST(count(*) - SUM(sign) AS BIGINT) AS n_below,
                  CAST(1 + SUM(COALESCE(brk, 0)) AS BIGINT) AS runs
           FROM r GROUP BY 1)
    SELECT event_type, n, n_above, n_below, runs,
           1.0 + CAST(2 * n_above * n_below AS DOUBLE) / CAST(n AS DOUBLE)
             AS expected_runs,
           (CAST(runs AS DOUBLE)
            - (1.0 + CAST(2 * n_above * n_below AS DOUBLE) / CAST(n AS DOUBLE)))
           / sqrt(CAST(2 * n_above * n_below AS DOUBLE)
                  * (CAST(2 * n_above * n_below AS DOUBLE) - CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(n - 1 AS DOUBLE))) AS z
    FROM st
    """,
)
def a_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test for serial randomness per event
    stream: sign = above/below the group mean (decided by the exact
    integer cross-product vs·n > s1 — no fractional mean ever
    compared), runs counted by one lag pass over the (type, time)
    order, then the classic normal approximation as a single float
    chain.  Two shuffles total (group stats + the ordered window),
    both on the stream key."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("vs"),
    )
    g = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vs").cast("long").alias("s1"),
    )
    sgn = v.join(F.broadcast(g), "event_type").select(
        "event_type", "ts", "event_id",
        F.when(F.col("vs") * F.col("n") > F.col("s1"), 1).otherwise(0).alias("sign"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    r = sgn.select(
        "event_type", "sign",
        F.when(F.col("sign") != F.lag("sign").over(w), 1).otherwise(0).alias("brk"),
    )
    st = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("sign").cast("long").alias("n_above"),
        (F.count("*") - F.sum("sign")).cast("long").alias("n_below"),
        (F.lit(1) + F.sum(F.coalesce(F.col("brk"), F.lit(0))))
        .cast("long")
        .alias("runs"),
    )
    num = (2 * F.col("n_above") * F.col("n_below")).cast("double")
    nd = F.col("n").cast("double")
    exp_r = F.lit(1.0) + num / nd
    return st.select(
        "event_type", "n", "n_above", "n_below", "runs",
        exp_r.alias("expected_runs"),
        (
            (F.col("runs").cast("double") - exp_r)
            # nullif: one-sided series (all above/below) → variance 0 →
            # NULL like DuckDB x/0, instead of an ANSI crash
            / F.nullif(
                F.sqrt(num * (num - nd)
                       / F.nullif(nd * nd * (F.col("n") - 1).cast("double"),
                                  F.lit(0.0))),
                F.lit(0.0))
        ).alias("z"),
    )


@register(
    "emb_mahalanobis_diag",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (SELECT vec_id, i.i AS dim,
                 CAST(floor(v[i.i] * 1000000) AS BIGINT) AS xs
          FROM e, unnest(range(1, len(v) + 1)) i(i)),
    st AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(xs) AS BIGINT) AS s1,
                  CAST(SUM(xs * xs) AS BIGINT) AS s2
           FROM d GROUP BY 1),
    t AS (SELECT d.vec_id,
                 CAST(floor(
                   (CAST(d.xs AS DOUBLE) - CAST(st.s1 AS DOUBLE) / st.n)
                   * (CAST(d.xs AS DOUBLE) - CAST(st.s1 AS DOUBLE) / st.n)
                   / ((CAST(st.s2 AS DOUBLE)
                       - CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE) / st.n)
                      / st.n)
                   * 10000.0) AS BIGINT) AS term
          FROM d JOIN st USING (dim))
    SELECT vec_id,
           CAST(SUM(term) AS DOUBLE) / 10000.0 AS md2
    FROM t GROUP BY 1
    ORDER BY CAST(SUM(term) AS BIGINT) DESC, vec_id
    LIMIT 20
    """,
)
def emb_mahalanobis_diag(spark, sf_dir):
    """Top-20 embedding outliers by diagonal-covariance Mahalanobis
    distance: per-dimension mean/variance from exact integer sums
    (one bounded-group aggregate), each (x−μ)²/σ² term floor-scaled
    BEFORE the per-vector sum so the distance — and therefore the
    ranking — is partition-invariant.  The per-dim stats table (≤
    |dims| rows) broadcasts back onto the exploded vectors: map-side
    join, one aggregate per vector, one bounded top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val") * 1000000).cast("long").alias("xs"),
    )
    st = d.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xs").cast("long").alias("s1"),
        F.sum(F.col("xs") * F.col("xs")).cast("long").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / F.col("n")
    term = F.floor(
        (F.col("xs").cast("double") - mu)
        * (F.col("xs").cast("double") - mu)
        / var
        * 10000.0
    ).cast("long")
    t = d.join(F.broadcast(st), "dim").select("vec_id", term.alias("term"))
    return (
        t.groupBy("vec_id")
        .agg(F.sum("term").cast("long").alias("__s"))
        .orderBy(F.col("__s").desc(), "vec_id")
        .limit(20)
        .select("vec_id", (F.col("__s").cast("double") / 10000.0).alias("md2"))
    )


@register(
    "ml_rocchio_classify",
    f"""
    WITH tk AS (SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents),
    toks AS (SELECT doc_id, lang, t.t AS tok FROM tk, unnest(tk) t(t)),
    split AS (SELECT doc_id,
                     {_sql_hex_int("md5('split:' || CAST(doc_id AS VARCHAR))", 2)} % 5 = 0
                       AS is_test
              FROM tk),
    cent AS (SELECT t.lang, t.tok, CAST(count(*) AS BIGINT) AS cnt
             FROM toks t JOIN split s USING (doc_id)
             WHERE NOT s.is_test GROUP BY 1, 2),
    nrm AS (SELECT lang, CAST(SUM(cnt * cnt) AS BIGINT) AS norm2
            FROM cent GROUP BY 1),
    tf AS (SELECT t.doc_id, t.lang AS true_lang, t.tok,
                  CAST(count(*) AS BIGINT) AS tf
           FROM toks t JOIN split s USING (doc_id)
           WHERE s.is_test GROUP BY 1, 2, 3),
    dot AS (SELECT tf.doc_id, tf.true_lang, c.lang AS cand,
                   CAST(SUM(tf.tf * c.cnt) AS BIGINT) AS dot
            FROM tf JOIN cent c ON tf.tok = c.tok
            GROUP BY 1, 2, 3),
    sc AS (SELECT d.doc_id, d.true_lang, d.cand,
                  CAST(d.dot AS DOUBLE) / sqrt(CAST(n.norm2 AS DOUBLE))
                    AS score,
                  row_number() OVER (PARTITION BY d.doc_id
                                     ORDER BY CAST(d.dot AS DOUBLE)
                                       / sqrt(CAST(n.norm2 AS DOUBLE)) DESC,
                                       d.cand) AS rn
           FROM dot d JOIN nrm n ON d.cand = n.lang)
    SELECT doc_id, cand AS pred_lang, true_lang,
           CASE WHEN cand = true_lang THEN 1 ELSE 0 END AS correct
    FROM sc WHERE rn = 1
    """,
)
def ml_rocchio_classify(spark, sf_dir):
    """Nearest-centroid (Rocchio) text classifier: train one
    token-count centroid per language on the md5-held-out train
    split, classify each test doc by the norm-scaled integer dot
    product (cosine up to a constant per doc).  All similarity
    arithmetic is an exact integer dot / one sqrt — rank ties broken
    by class name.  The candidate join is token-keyed (inverted-index
    shape, vocab-bounded buckets); centroids are a bounded table
    (|langs|·|vocab|) that would broadcast at any corpus size."""
    from dicomdb_spark.functions.sketches import _hex_int
    from dicomdb_spark.functions.text import tokens as _tok

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(F.transform(_tok("text"), lambda t: F.lower(t))).alias("tok"),
    )
    is_test = (
        _hex_int(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 2
        )
        % 5
        == 0
    )
    split = docs.select("doc_id", is_test.alias("is_test"))
    cent = (
        toks.join(split, "doc_id")
        .filter(~F.col("is_test"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    nrm = cent.groupBy("lang").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("norm2")
    )
    tf = (
        toks.join(split, "doc_id")
        .filter(F.col("is_test"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dot = (
        tf.join(cent.select(F.col("lang").alias("cand"), "tok", "cnt"), "tok")
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum(F.col("tf") * F.col("cnt")).cast("long").alias("dot"))
    )
    score = F.col("dot").cast("double") / F.sqrt(F.col("norm2").cast("double"))
    sc = dot.join(
        F.broadcast(nrm.select(F.col("lang").alias("cand"), "norm2")), "cand"
    ).select(
        "doc_id", "true_lang", "cand", score.alias("score"),
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(score.desc(), "cand")
        )
        .alias("rn"),
    )
    return sc.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("cand").alias("pred_lang"),
        "true_lang",
        F.when(F.col("cand") == F.col("true_lang"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
    )


@register(
    "corpus_tokenizer_fertility",
    f"""
    WITH d AS (SELECT lang,
                      len(list_filter(string_split_regex(trim(text), '\\s+'),
                          t -> t <> '')) AS words,
                      len(list_filter(string_split_regex(
                          trim({text.bpe_sql('text')}), ' +'), t -> t <> ''))
                        AS bpe,
                      length(text) AS chars
               FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(chars) AS BIGINT) AS chars,
           CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(words) AS DOUBLE) AS fertility,
           CAST(SUM(chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE)
             AS chars_per_token
    FROM d GROUP BY 1
    """,
)
def corpus_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility audit per language — the budgeting metric
    every multilingual training mix needs (how many BPE tokens a
    language pays per word, and bytes-per-token efficiency).  Word,
    BPE (real merge-table algebra, functions.text.bpe_symbol_stream),
    and char counts are exact integers from a map-only pass; the two
    ratios are single divisions over the per-lang sums."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = docs.select(
        "lang",
        text.token_count("text").alias("words"),
        text.bpe_token_count("text").alias("bpe"),
        F.length("text").alias("chars"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.sum("chars").cast("long").alias("chars"),
        (F.sum("bpe").cast("double") / F.sum("words").cast("double")).alias(
            "fertility"
        ),
        (F.sum("chars").cast("double") / F.sum("bpe").cast("double")).alias(
            "chars_per_token"
        ),
    )


_RAKE_STOPS = ("a", "the", "and", "of", "to", "in", "is", "on", "for")


@register(
    "text_rake_keywords",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    tt AS (SELECT doc_id, i.i AS pos, tk[i.i] AS tok
           FROM tk, unnest(range(1, len(tk) + 1)) i(i)),
    fl AS (SELECT doc_id, pos, tok,
                  CASE WHEN tok IN {str(_RAKE_STOPS)} THEN 1 ELSE 0 END AS st
           FROM tt),
    ph0 AS (SELECT doc_id, pos, tok, st,
                   CAST(SUM(st) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS BIGINT) AS pid
            FROM fl),
    ph AS (SELECT doc_id, pos, tok, pid FROM ph0 WHERE st = 0),
    inst AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
                    string_agg(tok, ' ' ORDER BY pos) AS phrase
             FROM ph GROUP BY 1, 2),
    wstat AS (SELECT p.tok, CAST(count(*) AS BIGINT) AS freq,
                     CAST(SUM(i.plen) AS BIGINT) AS deg
              FROM ph p JOIN inst i USING (doc_id, pid)
              GROUP BY 1),
    scored AS (SELECT i.doc_id, i.pid, i.phrase, i.plen,
                      CAST(SUM(CAST(floor(CAST(w.deg AS DOUBLE)
                           / CAST(w.freq AS DOUBLE) * 1000000.0) AS BIGINT))
                           AS BIGINT) AS score_scaled
               FROM inst i JOIN ph p USING (doc_id, pid)
               JOIN wstat w ON p.tok = w.tok
               GROUP BY 1, 2, 3, 4)
    SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
           CAST(max(score_scaled) AS BIGINT) AS score_scaled,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM scored GROUP BY 1
    ORDER BY max(score_scaled) DESC, phrase LIMIT 25
    """,
)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010, public method):
    stopword-delimited candidate phrases, word scores deg(w)/freq(w)
    over the corpus co-occurrence graph, phrase score = Σ word
    scores.  Phrase assembly is a running stop-count window (one
    (doc, pos) sort); each deg/freq ratio is floor-scaled BEFORE the
    per-phrase sum so scores and the global top-25 ranking are exact.
    Word stats are vocab-bounded; nothing quadratic anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tt = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(text.tokens("text"), lambda t: F.lower(t))
        ).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    fl = tt.withColumn(
        "st", F.when(F.col("tok").isin(*_RAKE_STOPS), 1).otherwise(0)
    )
    # ph feeds inst, wstat, and scored; inst feeds wstat and scored —
    # without the persists the posexplode + running-stop-count window
    # pipeline renders (and runs) FOUR times, once per reference
    ph = (
        fl.withColumn(
            "pid",
            F.sum("st")
            .over(Window.partitionBy("doc_id").orderBy("pos"))
            .cast("long"),
        )
        .filter(F.col("st") == 0)
        .select("doc_id", "pos", "tok", "pid")
        .persist()
    )
    inst = ph.groupBy("doc_id", "pid").agg(
        F.count("*").cast("long").alias("plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase"),
    ).persist()
    wstat = (
        ph.join(inst.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
        .groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
    )
    term = F.floor(
        F.col("deg").cast("double") / F.col("freq").cast("double") * 1000000.0
    ).cast("long")
    scored = (
        inst.join(ph.select("doc_id", "pid", "tok"), ["doc_id", "pid"])
        .join(wstat, "tok")
        .groupBy("doc_id", "pid", "phrase", "plen")
        .agg(F.sum(term).cast("long").alias("score_scaled"))
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.max("score_scaled").cast("long").alias("score_scaled"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .orderBy(F.col("score_scaled").desc(), "phrase")
        .limit(25)
    )


@register(
    "o7_stratified_sample",
    f"""
    WITH q AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1),
    r AS (SELECT e.event_type, e.event_id,
                 CAST(row_number() OVER (PARTITION BY e.event_type
                      ORDER BY md5('samp:' || CAST(e.event_id AS VARCHAR)),
                               e.event_id) AS BIGINT) AS rk,
                 greatest(1, cnt // 100) AS quota
          FROM events e JOIN q USING (event_type))
    SELECT event_type, event_id, rk
    FROM r WHERE rk <= quota
    """,
)
def o7_stratified_sample(spark, sf_dir):
    """Proportional stratified sampling without RNG: per stratum,
    rank by a salted md5 of the row key (a deterministic uniform
    permutation — identical on every engine and every run) and keep
    the first ⌊n/100⌋ rows.  The standard reproducible-eval-split
    shape; one window shuffle on the stratum key, quota table is
    group-bounded."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("samp:"), F.col("event_id").cast("string"))),
        "event_id",
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            "event_id",
            F.row_number().over(w).cast("long").alias("rk"),
            F.greatest(F.lit(1), (F.col("cnt") / 100).cast("long")).alias(
                "quota"
            ),
        )
        .filter(F.col("rk") <= F.col("quota"))
        .select("event_type", "event_id", "rk")
    )


@register(
    "a_sequential_rules",
    """
    WITH s AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
                      event_type FROM events),
    p AS (SELECT event_type AS a,
                 lead(event_type) OVER (PARTITION BY user_id, day
                                        ORDER BY ts, event_id) AS b
          FROM s),
    ab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support
           FROM p WHERE b IS NOT NULL GROUP BY 1, 2),
    base AS (SELECT a, CAST(SUM(support) AS BIGINT) AS base FROM ab
             GROUP BY 1)
    SELECT ab.a, ab.b, ab.support, base.base,
           CAST(ab.support AS DOUBLE) / CAST(base.base AS DOUBLE)
             AS confidence
    FROM ab JOIN base USING (a)
    """,
)
def a_sequential_rules(spark, sf_dir):
    """Sequential association rules A→B over consecutive events
    within a (user, day) session: support counts from ONE lead()
    window pass, confidence = support / out-degree of A as a single
    integer division.  Never materializes event pairs beyond the
    lead() adjacency — the classic market-basket-over-time shape at
    stream cost."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    p = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    ab = p.groupBy("a", "b").agg(F.count("*").cast("long").alias("support"))
    base = ab.groupBy("a").agg(F.sum("support").cast("long").alias("base"))
    return ab.join(F.broadcast(base), "a").select(
        "a", "b", "support", "base",
        (F.col("support").cast("double") / F.col("base").cast("double")).alias(
            "confidence"
        ),
    )


@register(
    "a_waterfall_contribution",
    """
    WITH f AS (SELECT p.p_brand, year(o.o_orderdate) AS yr,
                      CAST(SUM(CAST(floor(l.l_extendedprice
                           * (1.0 - l.l_discount) * 100.0) AS BIGINT))
                           AS BIGINT) AS cents,
                      CAST(SUM(CAST(floor(l.l_quantity * 100.0) AS BIGINT))
                           AS BIGINT) AS q
               FROM lineitem l
               JOIN orders o ON l.l_orderkey = o.o_orderkey
               JOIN part p ON l.l_partkey = p.p_partkey
               WHERE year(o.o_orderdate) IN (1999, 2000)
               GROUP BY 1, 2),
    s AS (SELECT p_brand,
                 max(CASE WHEN yr = 1999 THEN cents END) AS r1,
                 max(CASE WHEN yr = 1999 THEN q END) AS q1,
                 max(CASE WHEN yr = 2000 THEN cents END) AS r2,
                 max(CASE WHEN yr = 2000 THEN q END) AS q2
          FROM f GROUP BY 1)
    SELECT p_brand,
           CAST(r1 AS DOUBLE) / 100.0 AS rev_prev,
           CAST(r2 AS DOUBLE) / 100.0 AS rev_curr,
           (CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0
             AS volume_effect,
           (CAST(r2 AS DOUBLE) - CAST(q2 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE))) / 100.0
             AS price_effect
    FROM s
    WHERE r1 IS NOT NULL AND r2 IS NOT NULL
    """,
)
def a_waterfall_contribution(spark, sf_dir):
    """Year-over-year revenue-bridge (waterfall) decomposition per
    brand: ΔR split into volume effect (Δq at prior-year realized
    price) and price effect (the residual) — volume_effect +
    price_effect ≡ rev_curr − rev_prev by construction.  Revenue and
    quantity are exact integer sums (one fact aggregate over the
    two-year slice, date filter pushed to the scan); the realized
    price r1/q1 appears only inside the final single-chain float
    expressions."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    yr = F.year("o_orderdate")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100.0
    ).cast("long")
    qs = F.floor(F.col("l_quantity") * 100.0).cast("long")
    # the year filter as a RANGE predicate so it pushes to the parquet
    # scan (year(col) IN (...) wraps the column and defeats pushdown)
    in_range = (
        F.col("o_orderdate")
        >= F.lit("1999-01-01 00:00:00").cast("timestamp_ntz")
    ) & (
        F.col("o_orderdate") < F.lit("2001-01-01 00:00:00").cast("timestamp_ntz")
    )
    f = (
        li.join(orders.filter(in_range), li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", yr.alias("yr"))
        .agg(
            F.sum(cents).cast("long").alias("cents"),
            F.sum(qs).cast("long").alias("q"),
        )
    )

    def pick(y, col):
        return F.max(F.when(F.col("yr") == y, F.col(col)))

    s = f.groupBy("p_brand").agg(
        pick(1999, "cents").alias("r1"),
        pick(1999, "q").alias("q1"),
        pick(2000, "cents").alias("r2"),
        pick(2000, "q").alias("q2"),
    )
    p1 = F.col("r1").cast("double") / F.col("q1").cast("double")
    return s.filter(
        F.col("r1").isNotNull() & F.col("r2").isNotNull()
    ).select(
        "p_brand",
        (F.col("r1").cast("double") / 100.0).alias("rev_prev"),
        (F.col("r2").cast("double") / 100.0).alias("rev_curr"),
        (
            (F.col("q2").cast("double") - F.col("q1").cast("double")) * p1 / 100.0
        ).alias("volume_effect"),
        (
            (F.col("r2").cast("double") - F.col("q2").cast("double") * p1)
            / 100.0
        ).alias("price_effect"),
    )


@register(
    "w_true_range_atr",
    """
    WITH v AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
                      CAST(floor(value * 10000) AS BIGINT) AS vs
               FROM events),
    r AS (SELECT event_type, day, ts, event_id, vs,
                 row_number() OVER (PARTITION BY event_type, day
                                    ORDER BY ts, event_id) AS ra,
                 row_number() OVER (PARTITION BY event_type, day
                                    ORDER BY ts DESC, event_id DESC) AS rd
          FROM v),
    bar AS (SELECT event_type, day,
                   CAST(max(vs) AS BIGINT) AS h,
                   CAST(min(vs) AS BIGINT) AS l,
                   CAST(max(CASE WHEN rd = 1 THEN vs END) AS BIGINT) AS c
            FROM r GROUP BY 1, 2),
    tr AS (SELECT event_type, day, h, l, c,
                  lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
           FROM bar),
    t2 AS (SELECT event_type, day,
                  CAST(greatest(h - l, abs(h - COALESCE(pc, c)),
                                abs(l - COALESCE(pc, c))) AS BIGINT) AS tr
           FROM tr),
    w AS (SELECT event_type, day, tr,
                 CAST(count(*) OVER win AS BIGINT) AS n,
                 CAST(SUM(tr) OVER win AS BIGINT) AS s
          FROM t2
          WINDOW win AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day,
           CAST(tr AS DOUBLE) / 10000.0 AS true_range,
           CAST(s AS DOUBLE) / n / 10000.0 AS atr14
    FROM w WHERE n = 14
    """,
)
def w_true_range_atr(spark, sf_dir):
    """Average True Range over daily bars per stream: TR =
    max(H−L, |H−prevClose|, |L−prevClose|), ATR = 14-bar rolling mean
    (simple-mean variant — Wilder's recursive EMA is order-serial and
    deliberately avoided).  Bars are min/max/last aggregates of
    scaled-integer values; TR and the window sums stay integer, so
    the only float is the final mean division.  Two window passes
    over the SAME (stream, day) order — one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 10000).cast("long").alias("vs"),
    )
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = v.withColumn("rd", F.row_number().over(wd))
    bar = r.groupBy("event_type", "day").agg(
        F.max("vs").cast("long").alias("h"),
        F.min("vs").cast("long").alias("l"),
        F.max(F.when(F.col("rd") == 1, F.col("vs"))).cast("long").alias("c"),
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    tr = bar.withColumn("pc", F.lag("c").over(wday))
    t2 = tr.select(
        "event_type", "day",
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.coalesce(F.col("pc"), F.col("c"))),
            F.abs(F.col("l") - F.coalesce(F.col("pc"), F.col("c"))),
        )
        .cast("long")
        .alias("tr"),
    )
    win = wday.rowsBetween(-13, 0)
    w = t2.select(
        "event_type", "day", "tr",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("tr").over(win).cast("long").alias("s"),
    )
    return w.filter(F.col("n") == 14).select(
        "event_type", "day",
        (F.col("tr").cast("double") / 10000.0).alias("true_range"),
        (F.col("s").cast("double") / F.col("n") / 10000.0).alias("atr14"),
    )


@register(
    "multimodal_frame_sample",
    """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE octet_length(encode(text)) = length(text)),
    f AS (SELECT doc_id, CAST(i.i AS INTEGER) AS frame_index,
                 substr(text, CAST(i.i AS BIGINT) * 64 + 1, 64) AS frame
          FROM d,
          unnest(range(CAST(ceil(CAST(n AS DOUBLE) / 64.0) AS BIGINT))) i(i))
    SELECT doc_id, frame_index,
           CAST(length(frame) AS BIGINT) AS frame_bytes,
           sha256(frame) AS frame_sha
    FROM f
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: 1 binary payload → N frame
    rows via the row-expanding mapInPandas UDTF
    (llm/multimodal.frame_sample; a real ffmpeg slicer injects with
    the same signature).  The payload is the utf-8 byte stream and
    the engine slices BYTES while the oracle's substr slices CHARS,
    so the byte==char identity is SELF-GUARDING (the resize_audit
    discipline): both engines filter octet_length == length, and a
    non-ASCII document at any SF is excluded identically instead of
    shifting every later frame boundary (adversarial-corpus find,
    r12).  The oracle restates the 64-byte slicing with substr and
    value-checks each frame by sha-256 — computed JVM-side AFTER the
    Python expansion, proving the Arrow round-trip byte-exact.
    Payload bytes never shuffle: the expansion is map-only and only
    (id, index, sha) move."""
    from dicomdb_spark.llm.multimodal import binarize, frame_sample

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")
    )
    frames = frame_sample(binarize(docs), every_n_bytes=64)
    return frames.select(
        "doc_id",
        "frame_index",
        F.length("frame_payload").cast("long").alias("frame_bytes"),
        F.sha2("frame_payload", 256).alias("frame_sha"),
    )


@register(
    "a_price_elasticity_ols",
    """
    WITH d AS (SELECT p.p_brand,
                      CAST(floor(l.l_extendedprice / l.l_quantity * 10.0)
                           AS BIGINT) AS x,
                      CAST(floor(l.l_quantity * 100.0) AS BIGINT) AS y
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    s AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM d GROUP BY 1)
    SELECT p_brand, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)) AS elasticity
    FROM s
    """,
)
def a_price_elasticity_ols(spark, sf_dir):
    """Closed-form OLS of quantity on unit price per brand (demand
    curve slope + point elasticity at the means).  The five
    sufficient statistics (n, Σx, Σy, Σx², Σxy) are exact integer
    aggregates of floor-scaled values — ONE map-side-combining pass
    over the fact join — and slope/intercept/elasticity are fixed
    float chains over them, so a 1000-executor run returns the same
    bits as one core.  The slope expression is repeated verbatim
    rather than bound to a name so both engines evaluate the
    identical tree."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # nullif: a zero-quantity line → NULL x like DuckDB x/0 (SUM then
    # skips it identically; count(*) still counts the row in both)
    x = F.floor(
        F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))
        * 10.0
    ).cast("long")
    y = F.floor(F.col("l_quantity") * 100.0).cast("long")
    s = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("p_brand", x.alias("x"), y.alias("y"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    # nullif guards: a single-line brand zeroes Sxx - x̄² and an
    # all-zero-quantity brand zeroes Σy — DuckDB x/0 is NULL where
    # ANSI Spark throws; both engines now emit NULL rows
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / F.nullif(
        nd * F.col("sxx").cast("double") - sxd * sxd, F.lit(0.0)
    )
    return s.select(
        "p_brand",
        "n",
        slope.alias("slope"),
        ((syd - slope * sxd) / nd).alias("intercept"),
        (slope * (sxd / F.nullif(syd, F.lit(0.0)))).alias("elasticity"),
    )


@register(
    "w_zscore_peer_loo",
    """
    WITH v AS (SELECT event_type, event_id,
                      CAST(floor(value * 100) AS BIGINT) AS vs
               FROM events),
    g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(vs) AS BIGINT) AS s1,
                 CAST(SUM(vs * vs) AS BIGINT) AS s2
          FROM v GROUP BY 1),
    z AS (SELECT v.event_type, v.event_id, v.vs,
                 (CAST(v.vs AS DOUBLE)
                  - CAST(g.s1 - v.vs AS DOUBLE) / CAST(g.n - 1 AS DOUBLE))
                 / sqrt((CAST(g.s2 - v.vs * v.vs AS DOUBLE)
                         - CAST(g.s1 - v.vs AS DOUBLE)
                           * CAST(g.s1 - v.vs AS DOUBLE)
                           / CAST(g.n - 1 AS DOUBLE))
                        / CAST(g.n - 1 AS DOUBLE)) AS z
          FROM v JOIN g USING (event_type))
    SELECT event_type, event_id, CAST(vs AS DOUBLE) / 100.0 AS value, z
    FROM z WHERE abs(z) > 3.0
    """,
)
def w_zscore_peer_loo(spark, sf_dir):
    """Leave-one-out peer z-score anomalies: each event scored
    against its peer group EXCLUDING itself — the unbiased version of
    w_anomaly_zscore (a gross outlier inflates the naive group σ and
    masks itself).  The LOO mean/variance need no second pass: they
    are algebra over the group's exact integer (n, Σ, Σ²) minus the
    row's own contribution, so the fact is scanned once and the
    bounded stats table broadcasts back."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("vs"),
    )
    g = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vs").cast("long").alias("s1"),
        F.sum(F.col("vs") * F.col("vs")).cast("long").alias("s2"),
    )
    s1l = (F.col("s1") - F.col("vs")).cast("double")
    n1 = (F.col("n") - 1).cast("double")
    # nullif: n=1 peers (n1=0) and zero-variance leave-one-out sets →
    # NULL like DuckDB x/0, instead of an ANSI crash
    n1z = F.nullif(n1, F.lit(0.0))
    z = (F.col("vs").cast("double") - s1l / n1z) / F.nullif(F.sqrt(
        ((F.col("s2") - F.col("vs") * F.col("vs")).cast("double")
         - s1l * s1l / n1z)
        / n1z
    ), F.lit(0.0))
    return (
        v.join(F.broadcast(g), "event_type")
        .select(
            "event_type", "event_id",
            (F.col("vs").cast("double") / 100.0).alias("value"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 3.0)
    )


def _survivor_oracle() -> str:
    """Label-propagation chain (the dedup_components replay) extended
    with the survivorship policy: canonical = longest text, tie min
    doc_id."""
    chain, prev = _min_label_chain("doc_id")
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    {chain},
    m AS (SELECT l.lbl AS component, l.doc_id,
                 CAST(length(d.text) AS BIGINT) AS chars,
                 row_number() OVER (PARTITION BY l.lbl
                                    ORDER BY length(d.text) DESC, l.doc_id)
                   AS rn
          FROM {prev} l JOIN docs2 d USING (doc_id))
    SELECT component,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS survivor_id,
           CAST(max(CASE WHEN rn = 1 THEN chars END) AS BIGINT)
             AS survivor_chars,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM m GROUP BY 1
    """


@register("corpus_dedup_survivorship", _survivor_oracle())
def corpus_dedup_survivorship(spark, sf_dir):
    """Survivorship resolution over near-dup clusters: after
    components, the dedup ACTION keeps one canonical doc per cluster
    — here the LONGEST text (ties → min doc_id), the content-richness
    policy real pipelines use instead of dedup_components' min-id.
    max_by over a (chars, -doc_id) struct picks the survivor in the
    same single hash aggregate that counts members — no window sort
    over the cluster."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    comp = ldedup.min_label_components(pairs.persist(), iters=3)
    docs = _docs_with_dupes(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("chars")
    )
    m = comp.join(docs, "doc_id")
    return m.groupBy("component").agg(
        F.expr("max_by(doc_id, struct(chars, -doc_id))")
        .cast("long")
        .alias("survivor_id"),
        F.max("chars").cast("long").alias("survivor_chars"),
        F.count("*").cast("long").alias("n_members"),
        (F.count("*") - 1).cast("long").alias("n_dropped"),
    )


@register(
    "a_calendar_gap_fill",
    """
    WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
               FROM events),
    days AS (SELECT CAST(b.lo + CAST(i.i AS INTEGER) * INTERVAL 1 DAY AS DATE)
                      AS day
             FROM b, unnest(range(0, (b.hi - b.lo) + 1)) i(i)),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
              FROM events GROUP BY 1, 2),
    grid AS (SELECT t.event_type, d.day,
                    COALESCE(x.cents, 0) AS cents
             FROM types t CROSS JOIN days d
             LEFT JOIN daily x
               ON x.event_type = t.event_type AND x.day = d.day)
    SELECT event_type, day,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
                AS DOUBLE) / 100.0 AS trailing_7d
    FROM grid
    """,
)
def a_calendar_gap_fill(spark, sf_dir):
    """Zero-filled calendar grid + trailing 7-day revenue: the
    report shape every BI layer needs and naive GROUP BY day gets
    wrong (a missing day silently shortens the trailing window).
    The calendar generates from the data's own bounds with
    sequence(); the grid is |types|·|days| — bounded, never
    fact-sized — and the trailing sum runs on exact integer cents
    over the gap-free ordering."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = b.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    grid = (
        types.crossJoin(days)
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    win = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    )
    return grid.select(
        "event_type", "day",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (F.sum("cents").over(win).cast("long").cast("double") / 100.0).alias(
            "trailing_7d"
        ),
    )


_HILBERT_ORDER = 8  # 256 x 256 grid → 16-bit key


def _hilbert_sql_ctes(order: int = _HILBERT_ORDER) -> tuple[str, str]:
    """Chained CTEs l1..l{order} unrolling the xy→d Hilbert walk
    (the public iterative algorithm: reflect+swap per level).  Each
    level consumes (x, y, d) from the previous one; the CASE algebra
    below is the same tree the Spark side builds, so both engines
    compute identical integers with no xor/bit builtins needed."""

    def level(i: int, prev: str) -> dict[str, str]:
        s = 1 << (order - i)
        quad = (
            f"(CASE WHEN (x // {s}) % 2 = 1 AND (y // {s}) % 2 = 0 THEN 3 "
            f"WHEN (x // {s}) % 2 = 1 AND (y // {s}) % 2 = 1 THEN 2 "
            f"ELSE (y // {s}) % 2 END)"
        )
        return {f"l{i}": f"""
      SELECT event_id, gx, gy,
             d + {s * s} * {quad} AS d,
             CASE WHEN (y // {s}) % 2 = 0 THEN
               CASE WHEN (x // {s}) % 2 = 1 THEN {s} - 1 - (y % {s})
                    ELSE y % {s} END
             ELSE x END AS x,
             CASE WHEN (y // {s}) % 2 = 0 THEN
               CASE WHEN (x // {s}) % 2 = 1 THEN {s} - 1 - (x % {s})
                    ELSE x % {s} END
             ELSE y END AS y
      FROM {prev}"""}

    return _chain("l0", order, level)


def _hilbert_spark(df, order: int = _HILBERT_ORDER):
    """Spark twin of :func:`_hilbert_sql_ctes` — the same unrolled
    reflect+swap levels as Catalyst integer CASE expressions (whole-
    stage codegen, no UDF).  ``df`` carries (event_id, gx, gy); x/y/d
    state columns evolve per level."""
    df = df.withColumn("x", F.col("gx")).withColumn("y", F.col("gy")).withColumn(
        "d", F.lit(0).cast("long")
    )
    for lvl in range(order):
        s = 1 << (order - 1 - lvl)
        rx = (F.col("x") / s).cast("long") % 2
        ry = (F.col("y") / s).cast("long") % 2
        quad = (
            F.when((rx == 1) & (ry == 0), 3)
            .when((rx == 1) & (ry == 1), 2)
            .otherwise(ry)
        )
        new_x = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - (F.col("y") % s)).otherwise(
                F.col("y") % s
            ),
        ).otherwise(F.col("x"))
        new_y = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - (F.col("x") % s)).otherwise(
                F.col("x") % s
            ),
        ).otherwise(F.col("y"))
        df = (
            df.withColumn("__d", F.col("d") + F.lit(s * s) * quad)
            .withColumn("__x", new_x)
            .withColumn("__y", new_y)
            .drop("x", "y", "d")
            .withColumnRenamed("__x", "x")
            .withColumnRenamed("__y", "y")
            .withColumnRenamed("__d", "d")
        )
    return df


_HILBERT_CHAIN, _HILBERT_LAST = _hilbert_sql_ctes()


@register(
    "layout_hilbert_key",
    f"""
    WITH l0 AS (SELECT event_id,
                       CAST(user_id % 256 AS BIGINT) AS gx,
                       CAST((event_id // 7) % 256 AS BIGINT) AS gy,
                       CAST(user_id % 256 AS BIGINT) AS x,
                       CAST((event_id // 7) % 256 AS BIGINT) AS y,
                       CAST(0 AS BIGINT) AS d
                FROM events),
    {_HILBERT_CHAIN}
    SELECT event_id, gx, gy, CAST(d AS BIGINT) AS hilbert_key
    FROM {_HILBERT_LAST}
    """,
)
def layout_hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over a (user, id-stride) grid —
    the better-locality successor to layout_zorder_key (Hilbert 1891;
    the space-filling-curve OPTIMIZE shape: unlike Morton, adjacent
    keys are always adjacent cells, so file min/max stay tight on
    both dimensions with no Z-jump seams).  The 8-level reflect+swap
    walk is UNROLLED into pure integer CASE arithmetic — one
    generator emits both the Catalyst expression tree and the SQL
    CTE chain, so parity is structural.  Map-only: zero shuffles,
    zero UDFs; sort-by-key is the caller's write step."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("gx"),
        ((F.col("event_id") / 7).cast("long") % 256).cast("long").alias("gy"),
    )
    out = _hilbert_spark(base)
    return out.select(
        "event_id", "gx", "gy", F.col("d").cast("long").alias("hilbert_key")
    )


@register(
    "dedup_sorted_neighbor_lcp",
    f"""
    WITH {_SQL_DOCS2},
    s AS (SELECT doc_id, text,
                 lead(doc_id) OVER (ORDER BY text, doc_id) AS nid,
                 lead(text) OVER (ORDER BY text, doc_id) AS ntext
          FROM docs2),
    p AS (SELECT doc_id, nid,
                 least(length(text), length(ntext)) AS ml,
                 text, ntext
          FROM s WHERE nid IS NOT NULL),
    diff AS (SELECT doc_id, nid, ml,
                    min(CASE WHEN substr(text, CAST(i.i AS BIGINT), 1)
                             <> substr(ntext, CAST(i.i AS BIGINT), 1)
                             THEN i.i END) AS first_diff
             FROM p, unnest(range(1, ml + 1)) i(i)
             GROUP BY 1, 2, 3)
    SELECT doc_id AS id1, nid AS id2,
           CAST(COALESCE(first_diff - 1, ml) AS BIGINT) AS lcp
    FROM diff
    WHERE COALESCE(first_diff - 1, ml) >= 40
    """,
)
def dedup_sorted_neighbor_lcp(spark, sf_dir):
    """Sorted-neighbor prefix dedup (the suffix-array-lite sibling of
    dedup_prefix_hash): sort the corpus by text, compute the longest
    common prefix of each ADJACENT pair, and emit pairs with lcp ≥ 40
    chars — catching truncation/prefix dups that shingle Jaccard
    misses on short docs.  Only n−1 comparisons ever happen (the sort
    does the candidate generation); the LCP itself is a first-diff
    position scan bounded by the shorter doc.  The adjacency is
    DISTRIBUTED: bucket by ow.quantile_range_bucket over an integer
    encoding of the text's first 7 UTF-8 bytes (big-endian, zero
    right-padded — order-preserving for Spark's binary string
    collation, and ties share a bucket so no pair straddles a
    boundary), lead() within each bucket, and a BOUNDARY-ROW
    EXCHANGE — each bucket's lexicographic first row (min of
    struct(text, doc_id), one tiny per-bucket aggregate) is broadcast
    back as the missing neighbor of the previous bucket's last row —
    so no task ever sorts more than one bucket.  Unlike the previous
    first-character bucket key (Zipfian on real text: one letter can
    hold 20–30% of a corpus) — and unlike an affine min/max map,
    which adapts only to the RANGE and would still collapse a hot
    leading letter into one or two buckets — the percentile cut
    points equalize bucket POPULATIONS, so a skewed alphabet costs
    at most one dense bucket of byte-identical 7-byte prefixes, and
    prefixes that long are overwhelmingly the near-dups this query
    exists to find."""
    docs = _docs_with_dupes(spark, sf_dir)
    # first 7 UTF-8 bytes → big-endian int64 (< 2^56, sign-safe)
    pfx = F.conv(
        F.rpad(
            F.hex(F.substring(F.encode(F.col("text"), "UTF-8"), 1, 7)),
            14,
            "0",
        ),
        16,
        10,
    ).cast("long")
    b = ow.quantile_range_bucket(
        docs.withColumn("__pfx", pfx), "__pfx", n_buckets=64
    ).drop("__pfx")
    w = Window.partitionBy("__bkt").orderBy("text", "doc_id")
    # per-bucket lexicographic first row → the next-bucket boundary
    # neighbor (struct comparison is field-order lexicographic, so
    # min(struct(text, doc_id)) IS the first row under the sort)
    firsts = b.groupBy("__bkt").agg(
        F.min(F.struct("text", "doc_id")).alias("__f")
    )
    nxt = firsts.select(
        "__bkt",
        F.lead("__f").over(Window.orderBy("__bkt")).alias("__nf"),
    )  # bounded: ≤ n_buckets rows (one per occupied range bucket)
    s = (
        b.select(
            "__bkt",
            "doc_id",
            "text",
            F.lead("doc_id").over(w).alias("__nid0"),
            F.lead("text").over(w).alias("__ntext0"),
        )
        .join(F.broadcast(nxt), "__bkt")
        .select(
            "doc_id",
            "text",
            F.coalesce(F.col("__nid0"), F.col("__nf.doc_id")).alias("nid"),
            F.coalesce(F.col("__ntext0"), F.col("__nf.text")).alias("ntext"),
        )
        .filter(F.col("nid").isNotNull())
    )
    p = s.select(
        "doc_id", "nid", "text", "ntext",
        F.least(F.length("text"), F.length("ntext")).alias("ml"),
    )
    d = p.select(
        "doc_id", "nid", "ml",
        F.posexplode(F.sequence(F.lit(1), F.col("ml"))).alias("__k", "i"),
        "text", "ntext",
    ).groupBy("doc_id", "nid", "ml").agg(
        F.min(
            F.when(
                F.col("text").substr(F.col("i"), F.lit(1))
                != F.col("ntext").substr(F.col("i"), F.lit(1)),
                F.col("i"),
            )
        ).alias("first_diff")
    )
    lcp = F.coalesce(F.col("first_diff") - 1, F.col("ml"))
    return (
        d.select(
            F.col("doc_id").alias("id1"),
            F.col("nid").alias("id2"),
            lcp.cast("long").alias("lcp"),
        )
        .filter(F.col("lcp") >= 40)
    )


@register(
    "w_interarrival_stats",
    """
    WITH g AS (SELECT user_id, ts, event_id,
                      CAST(epoch_us(ts) AS BIGINT)
                      - lag(CAST(epoch_us(ts) AS BIGINT))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS gap_us
               FROM events),
    gm AS (SELECT user_id, CAST(gap_us // 1000 AS BIGINT) AS ms
           FROM g WHERE gap_us IS NOT NULL),
    s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(ms) AS BIGINT) AS s1,
                 CAST(max(ms) AS BIGINT) AS max_gap_ms
          FROM gm GROUP BY 1),
    c AS (SELECT user_id, n_gaps, s1, max_gap_ms,
                 (s1 - ((s1 % n_gaps + n_gaps) % n_gaps)) // n_gaps AS cc
          FROM s),
    v AS (SELECT gm.user_id,
                 CAST(SUM(gm.ms - c.cc) AS BIGINT) AS rs,
                 CAST(SUM(CAST(floor(CAST(gm.ms - c.cc AS DOUBLE)
                                     * CAST(gm.ms - c.cc AS DOUBLE)
                                     / 1000000.0) AS BIGINT)) AS BIGINT)
                   AS sd2s
          FROM gm JOIN c USING (user_id) GROUP BY 1)
    SELECT c.user_id, c.n_gaps, c.max_gap_ms,
           CAST(c.s1 AS DOUBLE) / CAST(c.n_gaps AS DOUBLE) / 1000.0
             AS mean_gap_s,
           sqrt(greatest(CAST(c.n_gaps AS DOUBLE)
                         * (CAST(v.sd2s AS DOUBLE) * 1000000.0)
                         - CAST(v.rs AS DOUBLE) * CAST(v.rs AS DOUBLE),
                         0.0))
             / CAST(c.n_gaps AS DOUBLE)
             / nullif(CAST(c.s1 AS DOUBLE) / CAST(c.n_gaps AS DOUBLE), 0.0)
             AS cv
    FROM c JOIN v USING (user_id) WHERE c.n_gaps >= 5
    """,
)
def w_interarrival_stats(spark, sf_dir):
    """Inter-arrival process statistics per user: mean gap, max gap,
    and the coefficient of variation (CV ≈ 1 ⇒ Poisson arrivals,
    ≫ 1 ⇒ bursty) — the session-boundary tuning diagnostic for W3's
    gap parameter.  Gaps in integer milliseconds from ONE lag pass.
    The second moment uses the MEAN-SHIFTED floor-scaled discipline
    (r13 retrofit, emb_norm_outliers recipe): canonical-residue
    floor-mean cc per user, d = ms − cc exact int64 with 0 ≤ Σd < n,
    Σ floor(d²/1e6) summed as int64 — the old raw Σms² overflowed
    int64 at a single gap ≳ 35 days; headroom now rides the centered
    spread (natural |d| ≲ 1e5 ms → n ≤ 9e14 gaps per user; even a
    year-wide |d| ~ 3e10 ms still computes to n ≈ 9e3 instead of
    crashing at n = 1).  CV's variance is √(n·(Σd²ₛ·1e6) − (Σd)²)/n —
    the shift-invariant identity — and an all-tie user (mean gap 0)
    yields NULL CV identically on both engines (nullif; DuckDB x/0.0
    is NULL, ANSI Spark would throw)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer epoch-microseconds (io.prepare pins UTC, so the
    # NTZ→TZ cast is the identity and matches DuckDB's epoch_us)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gm = (
        ev.select(
            "user_id",
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", (F.col("gap_us") / 1000).cast("long").alias("ms"))
    )
    s = gm.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("ms").cast("long").alias("s1"),
        F.max("ms").cast("long").alias("max_gap_ms"),
    )
    c = s.select(
        "user_id", "n_gaps", "s1", "max_gap_ms",
        F.expr("(s1 - ((s1 % n_gaps + n_gaps) % n_gaps)) div n_gaps")
        .cast("long")
        .alias("cc"),
    )
    dv = (F.col("ms") - F.col("cc")).cast("long")
    dd = dv.cast("double")
    # plain equi-join on user_id (per-user moment table; AQE picks the
    # strategy — user cardinality grows with the corpus, unlike the
    # event-type dimension, so no unconditional broadcast hint)
    v = (
        gm.join(c.select("user_id", "cc"), "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(dv).cast("long").alias("rs"),
            F.sum(F.floor(dd * dd / 1000000.0).cast("long"))
            .cast("long")
            .alias("sd2s"),
        )
    )
    nd = F.col("n_gaps").cast("double")
    mean_ms = F.col("s1").cast("double") / nd
    sd_over_n = (
        F.sqrt(F.greatest(
            nd * (F.col("sd2s").cast("double") * 1000000.0)
            - F.col("rs").cast("double") * F.col("rs").cast("double"),
            F.lit(0.0),
        ))
        / nd
    )
    return c.join(v, "user_id").filter(F.col("n_gaps") >= 5).select(
        "user_id", "n_gaps", "max_gap_ms",
        (mean_ms / 1000.0).alias("mean_gap_s"),
        # nullif: an all-tie user (every gap 0) → mean 0 → NULL CV
        (sd_over_n / F.nullif(mean_ms, F.lit(0.0))).alias("cv"),
    )


# ---------------------------------------------------------------------------
# Round 7, batch A — rank/association statistics + classifier evaluation.
# Discipline unchanged: exact integer sufficient statistics (floor-scaled
# where the input is double), ONE identical float chain at the end on
# both engines (+ − × ÷ sqrt are correctly rounded; ln/exp stay banned),
# global ranks via ow.bucketed_running (never single-partition sorts).
# ---------------------------------------------------------------------------


def _arm_expr(prefix: str = "arm:"):
    """md5-derived deterministic A/B arm for user_id (shared by the
    test-statistic family — same assignment as a_mannwhitney_u)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("user_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 2
    )


@register(
    "a_kendall_tau_b",
    """
    WITH b AS (SELECT CAST(date_part('dow', ts) AS BIGINT) AS x,
                      CAST(date_part('hour', ts) // 6 AS BIGINT) AS y
               FROM events),
    g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
    cd AS (SELECT
             CAST(SUM(CASE WHEN g2.y > g1.y THEN g1.n * g2.n ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN g2.y < g1.y THEN g1.n * g2.n ELSE 0 END)
                  AS BIGINT) AS d
           FROM g g1 JOIN g g2 ON g2.x > g1.x),
    tx AS (SELECT CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n1
           FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g GROUP BY x) z),
    ty AS (SELECT CAST(SUM((t * (t - 1)) // 2) AS BIGINT) AS n2
           FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g GROUP BY y) z),
    nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM g)
    SELECT nn.n AS n_obs, cd.c AS concordant, cd.d AS discordant,
           CAST(cd.c - cd.d AS DOUBLE)
             / sqrt(CAST((nn.n * (nn.n - 1)) // 2 - tx.n1 AS DOUBLE)
                    * CAST((nn.n * (nn.n - 1)) // 2 - ty.n2 AS DOUBLE)) AS tau_b
    FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN nn
    """,
)
def a_kendall_tau_b(spark, sf_dir):
    """Kendall tau-b rank association between two BOUNDED ordinal
    variables (weekday × 6-hour slot) by MERGE-COUNTING over the
    contingency grid — the parked round-6 idea: with g = |X|·|Y| cells
    (≤ 28 here) every concordant/discordant pair count is Σ n₁n₂ over
    g² ordered cell pairs, so the fact table is touched ONCE (a hash
    aggregate) and the quadratic work is grid-sized, never row-sized.
    Tie corrections n₁/n₂ are exact integers from the grid margins;
    tau-b's denominator multiplies as double to dodge int64 overflow
    at 100× (n₀ ~ n²/2).  The cell-pair join is a bounded non-equi
    join (g rows per side), not a row-level cross product."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        (F.dayofweek("ts") - 1).cast("long").alias("x"),
        F.expr("hour(ts) div 6").cast("long").alias("y"),
    )
    g = b.groupBy("x", "y").agg(F.count("*").cast("long").alias("n"))
    g2 = g.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("n").alias("n2")
    )
    cd = g.join(g2, F.col("x2") > F.col("x")).agg(
        F.sum(
            F.when(F.col("y2") > F.col("y"), F.col("n") * F.col("n2")).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(F.col("y2") < F.col("y"), F.col("n") * F.col("n2")).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    tx = (
        g.groupBy("x")
        .agg(F.sum("n").cast("long").alias("t"))
        .agg(F.sum(F.expr("(t * (t - 1)) div 2")).cast("long").alias("n1"))
    )
    ty = (
        g.groupBy("y")
        .agg(F.sum("n").cast("long").alias("t"))
        .agg(F.sum(F.expr("(t * (t - 1)) div 2")).cast("long").alias("n2"))
    )
    nn = g.agg(F.sum("n").cast("long").alias("n"))
    n0 = F.expr("(n * (n - 1)) div 2")
    return (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_obs"),
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            (
                (F.col("c") - F.col("d")).cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                )
            ).alias("tau_b"),
        )
    )


@register(
    "a_spearman_rho",
    """
    WITH u AS (SELECT user_id,
                      CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x,
                      CAST(count(*) AS BIGINT) AS y
               FROM events GROUP BY 1),
    gx AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM u GROUP BY 1),
    cx AS (SELECT x, 2 * (CAST(SUM(t) OVER (ORDER BY x) AS BIGINT) - t) + t + 1
                  AS mx2
           FROM gx),
    gy AS (SELECT y, CAST(count(*) AS BIGINT) AS t FROM u GROUP BY 1),
    cy AS (SELECT y, 2 * (CAST(SUM(t) OVER (ORDER BY y) AS BIGINT) - t) + t + 1
                  AS my2
           FROM gy),
    r AS (SELECT cx.mx2 AS a, cy.my2 AS b
          FROM u JOIN cx USING (x) JOIN cy USING (y)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
                 CAST(SUM(a * b) AS BIGINT) AS sab,
                 CAST(SUM(a * a) AS BIGINT) AS saa,
                 CAST(SUM(b * b) AS BIGINT) AS sbb
          FROM r)
    SELECT n AS n_users,
           (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
            - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS rho
    FROM m
    """,
)
def a_spearman_rho(spark, sf_dir):
    """Spearman rank correlation (per-user total value vs activity
    count) with EXACT midrank ties: every row with value v has midrank
    p + (t+1)/2, so DOUBLED midranks 2p+t+1 are integers — Pearson
    over those is integer co-moments with one final float chain (the
    ×2 cancels in rho).  Ranks come from per-value counts + an
    exclusive running count, range-bucketed (ow.bucketed_running), so
    the user dimension never sorts on one task; co-moment products
    are multiplied as doubles to dodge int64 overflow at 100×."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x"),
        F.count("*").cast("long").alias("y"),
    )

    def doubled_midranks(df, col, out):
        g = df.groupBy(col).agg(F.count("*").cast("long").alias("t"))
        c = ow.bucketed_running(
            ow.monotone_range_bucket(g, col), order_cols=[col], sum_cols=["t"]
        )
        return c.select(
            col,
            (
                F.lit(2) * (F.col("cum_t") - F.col("t")) + F.col("t") + 1
            ).alias(out),
        )

    r = (
        u.join(doubled_midranks(u, "x", "a"), "x")
        .join(doubled_midranks(u, "y", "b"), "y")
        .select("a", "b")
    )
    m = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    return m.select(
        F.col("n").alias("n_users"),
        (
            (nd * F.col("sab").cast("double") - sa * sb)
            / (
                F.sqrt(nd * F.col("saa").cast("double") - sa * sa)
                * F.sqrt(nd * F.col("sbb").cast("double") - sb * sb)
            )
        ).alias("rho"),
    )


@register(
    "a_cohens_d",
    f"""
    WITH b AS (SELECT {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
                 AS arm,
               CAST(floor(value) AS BIGINT) AS x
               FROM events),
    m AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s1,
                 CAST(SUM(x * x) AS BIGINT) AS s2
          FROM b GROUP BY 1),
    s AS (SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
                 max(CASE WHEN arm = 0 THEN s1 END) AS a1,
                 max(CASE WHEN arm = 0 THEN s2 END) AS a2,
                 max(CASE WHEN arm = 1 THEN n END) AS n1,
                 max(CASE WHEN arm = 1 THEN s1 END) AS b1,
                 max(CASE WHEN arm = 1 THEN s2 END) AS b2
          FROM m)
    SELECT CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_a,
           CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_b,
           (CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / sqrt(((CAST(a2 AS DOUBLE)
                    - CAST(a1 AS DOUBLE) * CAST(a1 AS DOUBLE) / CAST(n0 AS DOUBLE))
                   + (CAST(b2 AS DOUBLE)
                      - CAST(b1 AS DOUBLE) * CAST(b1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                  / CAST(n0 + n1 - 2 AS DOUBLE)) AS cohens_d
    FROM s
    """,
)
def a_cohens_d(spark, sf_dir):
    """Cohen's d effect size between md5-assigned arms — the
    practical-significance companion to a_ab_test_zscore (a
    significant z with d ≈ 0 is a launch you skip).  Pooled-SD
    denominator from exact integer (n, Σx, Σx²) per arm; the entire
    float chain is one fixed expression of those six integers,
    identical on both engines.  One hash aggregate over the fact
    table, a 2-row reshape, zero sorts."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        _arm_expr().alias("arm"), F.floor(F.col("value")).cast("long").alias("x")
    )
    m = b.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    s = m.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("a1"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("a2"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("b1"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("b2"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    a1d, a2d = F.col("a1").cast("double"), F.col("a2").cast("double")
    b1d, b2d = F.col("b1").cast("double"), F.col("b2").cast("double")
    return s.select(
        F.col("n0").cast("long").alias("n_a"),
        F.col("n1").cast("long").alias("n_b"),
        (a1d / n0d).alias("mean_a"),
        (b1d / n1d).alias("mean_b"),
        (
            (b1d / n1d - a1d / n0d)
            / F.sqrt(
                ((a2d - a1d * a1d / n0d) + (b2d - b1d * b1d / n1d))
                / (F.col("n0") + F.col("n1") - 2).cast("double")
            )
        ).alias("cohens_d"),
    )


@register(
    "a_poisson_dispersion",
    """
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(c) AS BIGINT) AS s1,
                 CAST(SUM(c * c) AS BIGINT) AS s2
          FROM d GROUP BY 1)
    SELECT event_type, n_days, s1 AS n_events,
           CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
           (CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(n_days AS DOUBLE) * CAST(s1 AS DOUBLE)) AS dispersion_index
    FROM m
    """,
)
def a_poisson_dispersion(spark, sf_dir):
    """Variance-to-mean dispersion index of daily event counts per
    type — the burstiness screen (≈1 ⇒ Poisson arrivals, ≫1 ⇒
    overdispersed/bursty — pick windowed vs sessionized processing
    accordingly).  Two stacked hash aggregates (day grain, then type);
    the index is (n·Σc² − (Σc)²)/(n·Σc), multiplied as doubles from
    exact integers so 100× day counts can't overflow the products."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )
    m = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return m.select(
        "event_type",
        "n_days",
        F.col("s1").alias("n_events"),
        (s1d / nd).alias("mean_daily"),
        ((nd * s2d - s1d * s1d) / (nd * s1d)).alias("dispersion_index"),
    )


@register(
    "a_jarque_bera",
    """
    WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS x FROM events),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s1
          FROM b GROUP BY 1),
    c AS (SELECT event_type, n, s1,
                 (s1 - ((s1 % n + n) % n)) // n AS cc
          FROM m),
    v AS (SELECT b.event_type,
                 CAST(SUM(b.x - c.cc) AS BIGINT) AS rs,
                 CAST(SUM((b.x - c.cc) * (b.x - c.cc)) AS BIGINT) AS s2,
                 CAST(SUM(CAST(floor(CAST(b.x - c.cc AS DOUBLE)
                                     * CAST(b.x - c.cc AS DOUBLE)
                                     * CAST(b.x - c.cc AS DOUBLE)
                                     / 100.0) AS BIGINT)) AS BIGINT) AS s3s,
                 CAST(SUM(CAST(floor(CAST(b.x - c.cc AS DOUBLE)
                                     * CAST(b.x - c.cc AS DOUBLE)
                                     * CAST(b.x - c.cc AS DOUBLE)
                                     * CAST(b.x - c.cc AS DOUBLE)
                                     / 10000.0) AS BIGINT)) AS BIGINT) AS s4s
          FROM b JOIN c USING (event_type) GROUP BY 1),
    k AS (SELECT c.event_type, c.n,
                 CAST(c.n AS DOUBLE) AS nd,
                 CAST(v.rs AS DOUBLE) / CAST(c.n AS DOUBLE) AS rb,
                 CAST(v.s2 AS DOUBLE) AS s2d,
                 CAST(v.s3s AS DOUBLE) * 100.0 AS s3d,
                 CAST(v.s4s AS DOUBLE) * 10000.0 AS s4d
          FROM c JOIN v USING (event_type)),
    cm AS (SELECT event_type, n, nd,
                  greatest(s2d / nd - rb * rb, 0.0) AS m2c,
                  s3d / nd - 3.0 * rb * (s2d / nd)
                    + 2.0 * rb * rb * rb AS m3,
                  s4d / nd - 4.0 * rb * (s3d / nd)
                    + 6.0 * rb * rb * (s2d / nd)
                    - 3.0 * rb * rb * rb * rb AS m4
           FROM k),
    z AS (SELECT event_type, n, nd,
                 m3 / nullif(m2c * sqrt(m2c), 0.0) AS skewness,
                 m4 / nullif(m2c * m2c, 0.0) - 3.0 AS excess_kurtosis
          FROM cm)
    SELECT event_type, n, skewness, excess_kurtosis,
           nd * (skewness * skewness / 6.0
                 + excess_kurtosis * excess_kurtosis / 24.0) AS jb_stat
    FROM z
    """,
)
def a_jarque_bera(spark, sf_dir):
    """Jarque–Bera normality statistic per event stream — the
    gatekeeper before any z-test family query is trusted: JB =
    n·(S²/6 + K²/24).  Moments use the MEAN-SHIFTED floor-scaled
    co-moment discipline (r13 retrofit, same recipe as
    a_skew_kurtosis / emb_norm_outliers): canonical-residue floor-mean
    cc, exact int64 Σd/Σd² of d = x − cc, Σd³/Σd⁴ floor-scaled by
    1e2/1e4 before the sum — the old raw Σx⁴ overflowed int64 at a
    single |x| ≳ 56k row; headroom now rides the centered spread
    (real |d| ~ 3e2 → n ≲ 1e13; spread-1e3 → n ≤ 9e10 per group;
    quantization ≲ 1e-3 of S/K at the natural domain).  S and K come
    from the
    shifted-sum central-moment identities with r̄ = Σd/n ∈ [0,1),
    written token-identically on both engines; a constant stream
    (m2 = 0) yields NULL S/K/JB identically (greatest-0 clamp +
    nullif — DuckDB x/0.0 is NULL, ANSI Spark would throw).  Two
    map-side-combining aggregates (moments, then deviations against
    the broadcast per-group floor-mean)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("event_type", F.floor(F.col("value")).cast("long").alias("x"))
    m = b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
    )
    c = m.select(
        "event_type", "n", "s1",
        F.expr("(s1 - ((s1 % n + n) % n)) div n").cast("long").alias("cc"),
    )
    dv = (F.col("x") - F.col("cc")).cast("long")
    dd = dv.cast("double")
    v = (
        b.join(F.broadcast(c.select("event_type", "cc")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(dv).cast("long").alias("rs"),
            F.sum(dv * dv).cast("long").alias("s2"),
            F.sum(F.floor(dd * dd * dd / 100.0).cast("long"))
            .cast("long")
            .alias("s3s"),
            F.sum(F.floor(dd * dd * dd * dd / 10000.0).cast("long"))
            .cast("long")
            .alias("s4s"),
        )
    )
    nd = F.col("n").cast("double")
    rb = F.col("rs").cast("double") / nd
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3s").cast("double") * 100.0
    s4d = F.col("s4s").cast("double") * 10000.0
    m2c = F.greatest(s2d / nd - rb * rb, F.lit(0.0))
    m3 = s3d / nd - F.lit(3.0) * rb * (s2d / nd) + F.lit(2.0) * rb * rb * rb
    m4 = (
        s4d / nd
        - F.lit(4.0) * rb * (s3d / nd)
        + F.lit(6.0) * rb * rb * (s2d / nd)
        - F.lit(3.0) * rb * rb * rb * rb
    )
    # nullif: constant series → m2 0 → NULL like DuckDB x/0
    z = c.join(v, "event_type").select(
        "event_type",
        "n",
        nd.alias("nd"),
        (m3 / F.nullif(m2c * F.sqrt(m2c), F.lit(0.0))).alias("skewness"),
        (m4 / F.nullif(m2c * m2c, F.lit(0.0)) - F.lit(3.0)).alias(
            "excess_kurtosis"
        ),
    )
    sk, ku = F.col("skewness"), F.col("excess_kurtosis")
    return z.select(
        "event_type",
        "n",
        "skewness",
        "excess_kurtosis",
        (
            F.col("nd")
            * (sk * sk / F.lit(6.0) + ku * ku / F.lit(24.0))
        ).alias("jb_stat"),
    )


@register(
    "a_grubbs_outlier",
    """
    WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS x FROM events),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s1,
                 CAST(SUM(x * x) AS BIGINT) AS s2
          FROM b GROUP BY 1),
    d AS (SELECT b.event_type,
                 CAST(max(abs(b.x * m.n - m.s1)) AS BIGINT) AS mxdev
          FROM b JOIN m USING (event_type) GROUP BY 1)
    SELECT m.event_type, m.n,
           CAST(d.mxdev AS DOUBLE) / CAST(m.n AS DOUBLE)
             / sqrt((CAST(m.s2 AS DOUBLE)
                     - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)
                       / CAST(m.n AS DOUBLE)) / CAST(m.n AS DOUBLE)) AS g_stat
    FROM m JOIN d USING (event_type)
    """,
)
def a_grubbs_outlier(spark, sf_dir):
    """Grubbs' max-outlier statistic per event stream: G =
    max|x−x̄|/s.  The mean never materializes as a float during the
    max — |x·n − Σx| is an EXACT integer deviation on the common
    denominator n, so the argmax is partition-invariant; the single
    float chain divides at the end.  Two passes over the fact table
    (moments, then deviations against the broadcast 1-row-per-group
    moment table) — both plain hash aggregates."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("event_type", F.floor(F.col("value")).cast("long").alias("x"))
    m = b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    d = (
        b.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(F.abs(F.col("x") * F.col("n") - F.col("s1")))
            .cast("long")
            .alias("mxdev")
        )
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return m.join(d, "event_type").select(
        "event_type",
        "n",
        (
            F.col("mxdev").cast("double") / nd
            # nullif: constant series → sd 0 → NULL like DuckDB x/0
            / F.nullif(F.sqrt((s2d - s1d * s1d / nd) / nd), F.lit(0.0))
        ).alias("g_stat"),
    )


@register(
    "a_odds_ratio",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2
               AS arm,
             max(CASE WHEN event_type = 'purchase' AND value >= 90
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1),
    t AS (SELECT
            CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM u)
    SELECT a AS exposed_conv, b AS exposed_noconv,
           c AS control_conv, d AS control_noconv,
           CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE) AS odds_ratio,
           CAST(a * (c + d) AS DOUBLE) / CAST(c * (a + b) AS DOUBLE) AS risk_ratio
    FROM t
    """,
)
def a_odds_ratio(spark, sf_dir):
    """Odds ratio + risk ratio of conversion (any high-value
    purchase, ≥90) between md5-assigned arms — the epidemiology-style 2×2 readout
    behind every experiment dashboard.  One per-user aggregate, one
    4-cell reshape; both ratios are single divisions of exact integer
    products (doubles only at the final cast)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id", _arm_expr().alias("arm")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 90), 1
            ).otherwise(0)
        ).alias("conv")
    )
    t = u.agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("conv") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    return t.select(
        F.col("a").alias("exposed_conv"),
        F.col("b").alias("exposed_noconv"),
        F.col("c").alias("control_conv"),
        F.col("d").alias("control_noconv"),
        (
            (F.col("a") * F.col("d")).cast("double")
            # nullif: an empty contingency cell → NULL like DuckDB x/0
            / F.nullif((F.col("b") * F.col("c")).cast("double"), F.lit(0.0))
        ).alias("odds_ratio"),
        (
            (F.col("a") * (F.col("c") + F.col("d"))).cast("double")
            # nullif: zero control conversions → NULL like DuckDB x/0
            / F.nullif((F.col("c") * (F.col("a") + F.col("b"))).cast("double"),
                       F.lit(0.0))
        ).alias("risk_ratio"),
    )


@register(
    "a_bootstrap_ci_mean",
    f"""
    WITH u AS (SELECT user_id,
                      CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
               FROM events GROUP BY 1),
    reps AS (SELECT unnest(range(1, 65)) AS b),
    w AS (SELECT r.b,
                 CAST(SUM(u.x * ({_sql_hex_int(
                     "md5('bs:' || CAST(r.b AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR))",
                     2)} % 4)) AS BIGINT) AS sw,
                 CAST(SUM({_sql_hex_int(
                     "md5('bs:' || CAST(r.b AS VARCHAR) || ':' || CAST(u.user_id AS VARCHAR))",
                     2)} % 4) AS BIGINT) AS nw
          FROM reps r CROSS JOIN u GROUP BY 1),
    means AS (SELECT CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE) AS m FROM w),
    s AS (SELECT list_sort(list(m)) AS ms,
                 CAST(count(*) AS BIGINT) AS n_reps FROM means),
    base AS (SELECT CAST(SUM(x) AS BIGINT) AS sx,
                    CAST(count(*) AS BIGINT) AS n FROM u)
    SELECT base.n AS n_users, s.n_reps,
           CAST(base.sx AS DOUBLE) / CAST(base.n AS DOUBLE) AS mean_obs,
           ms[4] AS ci_lo, ms[61] AS ci_hi
    FROM s CROSS JOIN base
    """,
)
def a_bootstrap_ci_mean(spark, sf_dir):
    """Deterministic multiplier bootstrap CI for the mean per-user
    total: 64 replicates reweight every user by an md5-derived
    multiplier in {{0..3}} (the Poisson-bootstrap shape with a
    replayable hash in place of RNG), each replicate mean is ONE
    division of exact integers, and the CI is an order-statistic
    SELECTION (4th/61st of 64 sorted replicate means — sort_array
    over a 64-element aggregate, never a data-sized sort).  The
    replicate fan-out is a 64× map-side expansion of the USER
    dimension with map-side partial aggregation — at 100 TB the fact
    scan still happens once, and per-replicate state is one (Σwx, Σw)
    pair."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value")).cast("long")).cast("long").alias("x")
    )
    reps = spark.range(1, 65).select(F.col("id").alias("b"))
    mult = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bs:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        % 4
    )
    w = (
        u.crossJoin(F.broadcast(reps))
        .groupBy("b")
        .agg(
            F.sum(F.col("x") * mult).cast("long").alias("sw"),
            F.sum(mult).cast("long").alias("nw"),
        )
    )
    means = w.select(
        (F.col("sw").cast("double") / F.col("nw").cast("double")).alias("m")
    )
    s = means.agg(
        F.sort_array(F.collect_list("m")).alias("ms"),
        F.count("*").cast("long").alias("n_reps"),
    )
    base = u.agg(
        F.sum("x").cast("long").alias("sx"), F.count("*").cast("long").alias("n")
    )
    return s.crossJoin(F.broadcast(base)).select(
        F.col("n").alias("n_users"),
        "n_reps",
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("mean_obs"),
        F.element_at("ms", 4).alias("ci_lo"),
        F.element_at("ms", 61).alias("ci_hi"),
    )


_SQL_NORMSQ = (
    "CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]), "
    "v -> CAST(floor(v * v * 1000000) AS BIGINT))) AS BIGINT)"
)


def _normsq_col():
    """Exact int64 1e6-scaled squared norm of the embedding column —
    the shared deterministic 'score' for the classifier-eval family."""
    return F.aggregate(
        F.col("embedding").cast("array<double>"),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.floor(v * v * 1000000).cast("long"),
    )
