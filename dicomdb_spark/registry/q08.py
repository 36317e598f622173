"""registry chunk 8/8 — mechanical split of the monolithic registry.py (round 10); original lines 29897-30849.  Registration order preserved."""
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
from dicomdb_spark.registry._core import _sql_dist2, _sql_dot, _sql_norm, register
from dicomdb_spark.registry.q03 import _sql_hex_int
from dicomdb_spark.registry.q04 import _SQL_NORMSQ, _normsq_col
from dicomdb_spark.registry.q06 import _SQL_DAYSERIES, _dayseries_rk


@register(
    "a_negbin_overdispersion",
    """
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    m AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS nd,
                 CAST(SUM(n) AS BIGINT) AS s,
                 CAST(SUM(n * n) AS BIGINT) AS ss
          FROM d GROUP BY 1)
    SELECT event_type, nd AS n_days,
           CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) AS mean_daily,
           (CAST(nd AS DOUBLE) * CAST(ss AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)) AS var_daily,
           ((CAST(nd AS DOUBLE) * CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))
             / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) AS dispersion_index,
           CASE WHEN (CAST(nd AS DOUBLE) * CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))
                     > CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)
                THEN (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
                     / ((CAST(nd AS DOUBLE) * CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                          / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))
                        - CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))
                ELSE NULL END AS negbin_r
    FROM m
    """,
)
def a_negbin_overdispersion(spark, sf_dir):
    """Negative-binomial overdispersion fit for daily event counts
    per stream (method of moments; Cameron & Trivedi 1998 §3): the
    dispersion index Var/Mean (1 under Poisson), and when
    overdispersed the NB size r̂ = m²/(v − m) — the count-model
    selector every volume-forecasting and anomaly-threshold choice
    starts from (a Poisson band on an overdispersed stream fires
    constantly).  Population moments from exact integer sums; r̂ is
    NULL when the stream is NOT overdispersed (v ≤ m), where the NB
    reduces to Poisson — an explicit NULL, not a negative size.
    One aggregate per stream over the bounded day grain."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    m = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = dd("s") / dd("nd")
    var = (dd("nd") * dd("ss") - dd("s") * dd("s")) / (dd("nd") * dd("nd"))
    return m.select(
        "event_type",
        F.col("nd").alias("n_days"),
        mean.alias("mean_daily"),
        var.alias("var_daily"),
        (var / mean).alias("dispersion_index"),
        F.when(var > mean, mean * mean / (var - mean))
        .otherwise(F.lit(None).cast("double"))
        .alias("negbin_r"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 8: log-rank test, Nelson–Aalen cumulative hazard,
# Cochran–Armitage trend test.
# ---------------------------------------------------------------------------

_SQL_SURV_ARMS = f"""
    ud AS (
      SELECT user_id,
             {{hex}} % 2 AS arm,
             CAST(min(CAST(ts AS DATE)) AS DATE) AS d0,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS dl,
             CAST(min(CASE WHEN event_type = 'purchase'
                           THEN CAST(ts AS DATE) END) AS DATE) AS dp
      FROM events GROUP BY 1, 2),
    u AS (SELECT arm,
                 CAST(datediff('day', d0, coalesce(dp, dl)) AS BIGINT) AS dur,
                 CAST(CASE WHEN dp IS NULL THEN 1 ELSE 0 END AS BIGINT)
                   AS cens
          FROM ud)
"""


@register(
    "a_log_rank_test",
    f"""
    WITH {_SQL_SURV_ARMS.format(hex=_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2))},
    pd AS (SELECT dur,
                  CAST(SUM(CASE WHEN arm = 0 THEN 1 - cens ELSE 0 END)
                       AS BIGINT) AS d1,
                  CAST(SUM(1 - cens) AS BIGINT) AS d,
                  CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS a1,
                  CAST(count(*) AS BIGINT) AS a_all
           FROM u GROUP BY 1),
    rk AS (SELECT a.dur, a.d1, a.d,
                  CAST(SUM(CASE WHEN b.dur >= a.dur THEN b.a1 ELSE 0 END)
                       AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN b.dur >= a.dur THEN b.a_all ELSE 0 END)
                       AS BIGINT) AS n
           FROM pd a CROSS JOIN pd b
           GROUP BY 1, 2, 3),
    e AS (SELECT dur, d1, d, n1, n,
                 CAST(floor(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                            / CAST(n AS DOUBLE) * 1000000000.0) AS BIGINT)
                   AS e1_sc,
                 CAST(floor(CASE WHEN n > 1 THEN
                        CAST(d AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                      ELSE 0.0 END * 1000000000.0) AS BIGINT) AS v_sc
          FROM rk WHERE d > 0),
    s AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                 CAST(SUM(e1_sc) AS BIGINT) AS e1_sc,
                 CAST(SUM(v_sc) AS BIGINT) AS v_sc,
                 CAST(count(*) AS BIGINT) AS n_event_times
          FROM e)
    SELECT n_event_times, o1 AS observed_a,
           CAST(e1_sc AS DOUBLE) / 1000000000.0 AS expected_a,
           (CAST(o1 AS DOUBLE) - CAST(e1_sc AS DOUBLE) / 1000000000.0)
             / sqrt(CAST(v_sc AS DOUBLE) / 1000000000.0) AS z_logrank
    FROM s
    """,
)
def a_log_rank_test(spark, sf_dir):
    """Log-rank (Mantel–Cox 1966) test comparing time-to-first-purchase
    between the md5 arms — the hypothesis test on top of
    w_kaplan_meier's curve: at each event time, arm A's observed
    events vs the hypergeometric expectation d·n₁/n, variance
    d·(n₁/n)·(n₂/n)·(n−d)/(n−1), z = (O−E)/√V.  Per-time E and V are
    identical float chains floor-scaled ×10⁹ before the cross-time
    sums (dsum — the sums are the only order-sensitive step); at-risk
    counts come from the bounded duration-grain self-join.  The
    censoring scheme matches w_kaplan_meier exactly, so the two
    queries read as one analysis."""
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
    ud = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("dl"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("dp"),
    )
    u = ud.select(
        "arm",
        F.datediff(F.coalesce("dp", "dl"), "d0").cast("long").alias("dur"),
        F.when(F.col("dp").isNull(), 1).otherwise(0).cast("long").alias("cens"),
    )
    pd_ = u.groupBy("dur").agg(
        F.sum(F.when(F.col("arm") == 0, 1 - F.col("cens")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(1 - F.col("cens")).cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("a1"),
        F.count("*").cast("long").alias("a_all"),
    )
    a, b = pd_.alias("a"), pd_.alias("b")
    rk = (
        a.crossJoin(b)
        .groupBy(
            F.col("a.dur").alias("dur"),
            F.col("a.d1").alias("d1"),
            F.col("a.d").alias("d"),
        )
        .agg(
            F.sum(
                F.when(F.col("b.dur") >= F.col("a.dur"), F.col("b.a1")).otherwise(0)
            )
            .cast("long")
            .alias("n1"),
            F.sum(
                F.when(F.col("b.dur") >= F.col("a.dur"), F.col("b.a_all")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n"),
        )
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    e1 = dd("d") * dd("n1") / dd("n")
    v = F.when(
        F.col("n") > 1,
        dd("d")
        * (dd("n1") / dd("n"))
        * ((F.col("n") - F.col("n1")).cast("double") / dd("n"))
        * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1).cast("double")),
    ).otherwise(F.lit(0.0))
    e = rk.filter(F.col("d") > 0).select(
        "d1",
        F.floor(e1 * 1e9).cast("long").alias("e1_sc"),
        F.floor(v * 1e9).cast("long").alias("v_sc"),
    )
    s = e.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_sc").cast("long").alias("e1_sc"),
        F.sum("v_sc").cast("long").alias("v_sc"),
        F.count("*").cast("long").alias("n_event_times"),
    )
    return s.select(
        "n_event_times",
        F.col("o1").alias("observed_a"),
        (F.col("e1_sc").cast("double") / 1e9).alias("expected_a"),
        (
            (F.col("o1").cast("double") - F.col("e1_sc").cast("double") / 1e9)
            / F.sqrt(F.col("v_sc").cast("double") / 1e9)
        ).alias("z_logrank"),
    )


@register(
    "w_nelson_aalen",
    """
    WITH ud AS (
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
           FROM pd a CROSS JOIN pd b GROUP BY 1, 2),
    e AS (SELECT dur, d, n_risk,
                 CAST(floor(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                            * 1000000000.0) AS BIGINT) AS h_sc
          FROM rk WHERE d > 0),
    c AS (SELECT a.dur, a.d, a.n_risk,
                 CAST(SUM(b.h_sc) AS BIGINT) AS hc_sc
          FROM e a JOIN e b ON b.dur <= a.dur
          GROUP BY 1, 2, 3)
    SELECT dur AS t_days, n_risk, d AS n_events,
           CAST(hc_sc AS DOUBLE) / 1000000000.0 AS cum_hazard
    FROM c
    """,
)
def w_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative-hazard estimator (Nelson 1972; Aalen
    1978) for time-to-first-purchase: Ĥ(t) = Σ_{t_i ≤ t} d_i/n_i —
    the additive counterpart of w_kaplan_meier's product (and the
    curve whose slope IS a_survival_hazard's rate).  Because the
    estimator is a SUM, no sequential chain is needed at all: each
    event time's d/n is one identical division floor-scaled ×10⁹,
    and the cumulative is the bounded duration-grain self-join —
    order-free integer addition on both engines.  Same censoring
    scheme as the KM/log-rank family."""
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
    e = rk.filter(F.col("d") > 0).select(
        "dur", "d", "n_risk",
        F.floor(
            F.col("d").cast("double") / F.col("n_risk").cast("double") * 1e9
        )
        .cast("long")
        .alias("h_sc"),
    )
    ea, eb = e.alias("a"), e.alias("b")
    c = (
        ea.join(eb, F.col("b.dur") <= F.col("a.dur"))
        .groupBy(
            F.col("a.dur").alias("dur"),
            F.col("a.d").alias("d"),
            F.col("a.n_risk").alias("n_risk"),
        )
        .agg(F.sum("b.h_sc").cast("long").alias("hc_sc"))
    )
    return c.select(
        F.col("dur").alias("t_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        (F.col("hc_sc").cast("double") / 1e9).alias("cum_hazard"),
    )


@register(
    "a_cochran_armitage",
    """
    WITH v AS (SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS s,
                      CAST(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END AS BIGINT) AS conv
               FROM events),
    g AS (SELECT s, CAST(count(*) AS BIGINT) AS n_i,
                 CAST(SUM(conv) AS BIGINT) AS d_i
          FROM v GROUP BY 1),
    m AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n,
                 CAST(SUM(d_i) AS BIGINT) AS d,
                 CAST(SUM(s * d_i) AS BIGINT) AS sd,
                 CAST(SUM(s * n_i) AS BIGINT) AS sn,
                 CAST(SUM(s * s * n_i) AS BIGINT) AS ssn,
                 CAST(count(*) AS BIGINT) AS k
          FROM g)
    SELECT k AS n_groups, n, d AS n_conversions,
           (CAST(sd AS DOUBLE)
            - CAST(d AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt((CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(ssn AS DOUBLE)
                     - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                         / CAST(n AS DOUBLE))) AS z_trend
    FROM m
    """,
)
def a_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage trend test (Biometrics 1954/1955): is the
    purchase-share LINEARLY trending across ordered weekday scores
    1–7?  z = [Σs·d − D·Σs·n/N] / √(p(1−p)·(Σs²n − (Σsn)²/N)) — the
    dose-response test for proportions that a_chi_square's omnibus
    can't direct (a monotone weekday effect concentrates power in one
    degree of freedom).  Every moment is an exact integer sum over
    the 7 weekday cells; z is one closing float chain identical on
    both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("conv"),
    )
    g = v.groupBy("s").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum("conv").cast("long").alias("d_i"),
    )
    m = g.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("d_i").cast("long").alias("d"),
        F.sum(F.col("s") * F.col("d_i")).cast("long").alias("sd"),
        F.sum(F.col("s") * F.col("n_i")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).cast("long").alias("ssn"),
        F.count("*").cast("long").alias("k"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    p = dd("d") / dd("n")
    num = dd("sd") - dd("d") * dd("sn") / dd("n")
    den = F.sqrt(
        p * (F.lit(1.0) - p) * (dd("ssn") - dd("sn") * dd("sn") / dd("n"))
    )
    return m.select(
        F.col("k").alias("n_groups"),
        "n",
        F.col("d").alias("n_conversions"),
        # nullif: all-convert/none-convert (p(1-p)=0) or single-group
        # data → den 0 → NULL like DuckDB x/0
        (num / F.nullif(den, F.lit(0.0))).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 9: ANN metric-agreement audit, Fleiss' kappa.
# ---------------------------------------------------------------------------


@register(
    "ann_metric_agreement",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL),
    n AS (
      SELECT vec_id, v,
             {_sql_norm()} AS nrm
      FROM e),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({_sql_dot('q', 'c')} AS DOUBLE)
               / (q.nrm * c.nrm) AS cosine_sim,
             {_sql_dist2('q', 'c')} AS d2_sc
      FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
    ct AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id)
                      AS rk
             FROM pairs) t WHERE rk <= 5),
    et AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY d2_sc ASC, neighbor_id) AS rk
             FROM pairs) t WHERE rk <= 5),
    ov AS (SELECT ct.query_id, CAST(count(et.neighbor_id) AS BIGINT)
                    AS n_overlap
           FROM ct LEFT JOIN et ON et.query_id = ct.query_id
                               AND et.neighbor_id = ct.neighbor_id
           GROUP BY 1)
    SELECT query_id, n_overlap,
           CAST(n_overlap AS DOUBLE) / 5.0 AS agreement_at_5
    FROM ov
    """,
)
def ann_metric_agreement(spark, sf_dir):
    """Cosine-vs-Euclidean top-5 agreement per query — the metric
    choice audit run before building an ANN index: on UNNORMALIZED
    embeddings the two metrics rank differently (they coincide only
    after L2 normalization, since ‖q−c‖² = ‖q‖²+‖c‖²−2⟨q,c⟩), and
    the overlap@5 quantifies how much recall a Euclid-only index
    (e.g. IVF on raw vectors) would lose against the cosine truth.
    Both rankings use the repo's fixed-point 1e12 integer dot/norm
    economy; Euclidean stays a pure int64 sum (no sqrt needed for
    ranking).  Same broadcast-queries × corpus shape as
    ann_bruteforce_topk — the documented truth-baseline pattern.
    NULL embeddings excluded symmetrically (r13 null-probe: the
    oracle's NULL distances shifted the Euclidean ranks)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = q.join(e, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        lsim.cosine_exact_vec(F.col("qv"), F.col("v")).alias("cosine_sim"),
        lsim.fixed_dist2_col("qv", "v").alias("d2_sc"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), "neighbor_id"
    )
    we = Window.partitionBy("query_id").orderBy(F.col("d2_sc").asc(), "neighbor_id")
    ct = (
        pairs.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    et = (
        pairs.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("query_id").alias("qid2"), F.col("neighbor_id").alias("nid2")
        )
    )
    ov = (
        ct.join(
            et,
            (F.col("qid2") == F.col("query_id"))
            & (F.col("nid2") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("nid2").cast("long").alias("n_overlap"))
    )
    return ov.select(
        "query_id", "n_overlap",
        (F.col("n_overlap").cast("double") / 5.0).alias("agreement_at_5"),
    )


@register(
    "a_fleiss_kappa",
    f"""
    WITH e AS (SELECT {_SQL_NORMSQ} AS s,
                      CAST(CASE WHEN CAST(embedding[1] AS DOUBLE) > 0.0
                                THEN 1 ELSE 0 END AS BIGINT) AS r2,
                      CAST(CASE WHEN CAST(embedding[2] AS DOUBLE) > 0.0
                                THEN 1 ELSE 0 END AS BIGINT) AS r3
               FROM embeddings),
    st AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n
           FROM e),
    r AS (SELECT CAST(CASE WHEN e.s * st.n > st.tot THEN 1 ELSE 0 END
                      AS BIGINT) + e.r2 + e.r3 AS n1
          FROM e CROSS JOIN st),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(n1) AS BIGINT) AS t1,
                 CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1) - 3) AS BIGINT) AS sp
          FROM r)
    SELECT n AS n_subjects, t1 AS n_positive_ratings,
           CAST(sp AS DOUBLE) / (6.0 * CAST(n AS DOUBLE)) AS p_bar,
           (CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
             * (CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
           + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
             * (1.0 - CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
             AS p_e,
           (CAST(sp AS DOUBLE) / (6.0 * CAST(n AS DOUBLE))
            - ((CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                 * (CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
               + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                 * (1.0 - CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))))
           / (1.0 - ((CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                       * (CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                     + (1.0 - CAST(t1 AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)))
                       * (1.0 - CAST(t1 AS DOUBLE)
                            / (3.0 * CAST(n AS DOUBLE)))))
             AS fleiss_kappa
    FROM m
    """,
)
def a_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa (Psych. Bull. 1971) across THREE deterministic
    embedding raters (above-mean squared norm, coord-1 positive,
    coord-2 positive) on two categories — the multi-rater extension
    of ml_cohens_kappa: per-subject agreement P_i = (n₁²+n₀²−3)/6,
    chance P_e from the pooled category shares, κ = (P̄−P_e)/(1−P_e).
    Σ(n₁²+n₀²−3) and Σn₁ are exact integer sums; everything after is
    one shared float chain.  The weak-supervision use: three cheap
    labelers must beat chance agreement before any of them is
    trusted for voting."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        _normsq_col().alias("s"),
        F.when(F.element_at(F.col("embedding"), 1).cast("double") > 0.0, 1)
        .otherwise(0)
        .cast("long")
        .alias("r2"),
        F.when(F.element_at(F.col("embedding"), 2).cast("double") > 0.0, 1)
        .otherwise(0)
        .cast("long")
        .alias("r3"),
    )
    st = e.agg(
        F.sum("s").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    r = e.crossJoin(F.broadcast(st)).select(
        (
            F.when(F.col("s") * F.col("n") > F.col("tot"), 1)
            .otherwise(0)
            .cast("long")
            + F.col("r2")
            + F.col("r3")
        ).alias("n1")
    )
    m = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n1").cast("long").alias("t1"),
        F.sum(
            F.col("n1") * F.col("n1")
            + (3 - F.col("n1")) * (3 - F.col("n1"))
            - 3
        )
        .cast("long")
        .alias("sp"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    p1 = dd("t1") / (3.0 * dd("n"))
    pe = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    pbar = dd("sp") / (6.0 * dd("n"))
    return m.select(
        F.col("n").alias("n_subjects"),
        F.col("t1").alias("n_positive_ratings"),
        pbar.alias("p_bar"),
        pe.alias("p_e"),
        ((pbar - pe) / (F.lit(1.0) - pe)).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 10: quadratic-weighted kappa, madogram.
# ---------------------------------------------------------------------------


@register(
    "a_weighted_kappa",
    f"""
    WITH e AS (SELECT vec_id, {_SQL_NORMSQ} AS s,
                      CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
                           AS BIGINT) AS c1
               FROM embeddings),
    rs AS (SELECT s, c1,
                  CAST(row_number() OVER (ORDER BY s, vec_id) AS BIGINT)
                    AS rk_s,
                  CAST(row_number() OVER (ORDER BY c1, vec_id) AS BIGINT)
                    AS rk_c,
                  CAST(count(*) OVER () AS BIGINT) AS n
           FROM e),
    t AS (SELECT CAST((3 * (rk_s - 1)) // n AS BIGINT) AS ra,
                 CAST((3 * (rk_c - 1)) // n AS BIGINT) AS rb
          FROM rs),
    o AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS o_ij
          FROM t GROUP BY 1, 2),
    ra_m AS (SELECT ra AS lvl, CAST(SUM(o_ij) AS BIGINT) AS r_i
             FROM o GROUP BY 1),
    rb_m AS (SELECT rb AS lvl, CAST(SUM(o_ij) AS BIGINT) AS c_j
             FROM o GROUP BY 1),
    n1 AS (SELECT CAST(SUM(o_ij) AS BIGINT) AS n FROM o),
    num AS (SELECT CAST(SUM((ra - rb) * (ra - rb) * o_ij) AS BIGINT) AS wo
            FROM o),
    den AS (SELECT CAST(SUM((a.lvl - b.lvl) * (a.lvl - b.lvl)
                            * a.r_i * b.c_j) AS BIGINT) AS we
            FROM ra_m a CROSS JOIN rb_m b)
    SELECT n1.n AS n_subjects, num.wo AS weighted_disagreement,
           1.0 - CAST(n1.n AS DOUBLE) * CAST(num.wo AS DOUBLE)
                   / CAST(den.we AS DOUBLE) AS weighted_kappa
    FROM n1 CROSS JOIN num CROSS JOIN den
    """,
)
def a_weighted_kappa(spark, sf_dir):
    """Quadratic-weighted Cohen's kappa (Cohen, Psych. Bull. 1968)
    between two ORDINAL 3-level embedding raters — squared-norm
    tercile vs first-coordinate tercile (both exact rank terciles, so
    the raters are deterministic): κ_w = 1 − Σ(i−j)²O_ij / Σ(i−j)²E_ij
    charges disagreements by their squared distance, the standard for
    ordinal labels (quality tiers, severity levels) where plain κ
    treats off-by-one and off-by-two alike.  The identity
    κ_w = 1 − n·ΣwO / Σ(i−j)²·r_i·c_j keeps EVERYTHING integer until
    ONE closing division; the 3×3 margin cross join is constant-size.
    Terciles via ntile arithmetic ⌊3(rank−1)/n⌋ on the distributed
    rank (oracle uses plain windows; the n≈rows frame here is the
    embeddings dimension table)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        _normsq_col().alias("s"),
        F.floor(F.element_at(F.col("embedding"), 1).cast("double") * 1e6)
        .cast("long")
        .alias("c1"),
    )
    rs = ow.bucketed_running(
        ow.monotone_range_bucket(e, "s"),
        order_cols=["s", "vec_id"],
        rn_col="rk_s",
    )
    rs2 = ow.bucketed_running(
        ow.monotone_range_bucket(rs, "c1"),
        order_cols=["c1", "vec_id"],
        rn_col="rk_c",
    )
    nt = e.agg(F.count("*").cast("long").alias("n"))
    t = rs2.crossJoin(nt).select(
        ((3 * (F.col("rk_s") - 1)) / F.col("n")).cast("long").alias("ra"),
        ((3 * (F.col("rk_c") - 1)) / F.col("n")).cast("long").alias("rb"),
    )
    # the 3×3 cell table is referenced 4× downstream (margins, total,
    # numerator) — localCheckpoint truncates the double-distributed-rank
    # lineage so the heavy subtree runs ONCE (9-row state; the same
    # stacking rule PERFORMANCE.md records for a_rfm_segmentation)
    o = (
        t.groupBy("ra", "rb")
        .agg(F.count("*").cast("long").alias("o_ij"))
        .transform(cut_lineage)
    )
    ra_m = o.groupBy(F.col("ra").alias("lvl")).agg(
        F.sum("o_ij").cast("long").alias("r_i")
    )
    rb_m = o.groupBy(F.col("rb").alias("lvl")).agg(
        F.sum("o_ij").cast("long").alias("c_j")
    )
    n1 = o.agg(F.sum("o_ij").cast("long").alias("n"))
    num = o.agg(
        F.sum(
            (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb")) * F.col("o_ij")
        )
        .cast("long")
        .alias("wo")
    )
    a, b = ra_m.alias("a"), rb_m.alias("b")
    den = a.crossJoin(b).agg(
        F.sum(
            (F.col("a.lvl") - F.col("b.lvl"))
            * (F.col("a.lvl") - F.col("b.lvl"))
            * F.col("a.r_i")
            * F.col("b.c_j")
        )
        .cast("long")
        .alias("we")
    )
    return n1.crossJoin(num).crossJoin(den).select(
        F.col("n").alias("n_subjects"),
        F.col("wo").alias("weighted_disagreement"),
        (
            F.lit(1.0)
            - F.col("n").cast("double")
            * F.col("wo").cast("double")
            / F.col("we").cast("double")
        ).alias("weighted_kappa"),
    )


@register(
    "w_madogram",
    f"""
    WITH {_SQL_DAYSERIES},
    h AS (SELECT CAST(h AS BIGINT) AS h FROM unnest([1, 2, 3, 7]) AS t(h)),
    p AS (SELECT h.h, abs(a.y - b.y) AS ad
          FROM rk a
          JOIN h ON TRUE
          JOIN rk b ON b.rn = a.rn - h.h)
    SELECT h AS lag_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ad) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
             AS madogram
    FROM p GROUP BY 1
    """,
)
def w_madogram(spark, sf_dir):
    """Madogram (first-order variogram, Matheron 1962; the robust
    cousin of the ACF's second moments): γ₁(h) = mean |y_t − y_{{t+h}}|
    at lags 1/2/3/7 over the daily value series — outlier-resistant
    temporal-structure profiling (a weekly cycle shows as a dip at
    h = 7) where w_autocorrelation's squared moments would let one
    spike dominate.  Absolute differences are exact integers off the
    bounded-calendar rank self-join; one division per lag at the end.
    The 4 lags ride a literal dimension join — one scan of the day
    grain."""
    rk = _dayseries_rk(spark, sf_dir)
    h = (
        spark.range(1)
        .select(
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(7))).alias(
                "h0"
            )
        )
        .select(F.col("h0").cast("long").alias("h"))
    )
    a, b = rk.alias("a"), rk.alias("b")
    p = (
        a.crossJoin(h)
        .join(b, F.col("b.rn") == F.col("a.rn") - F.col("h"))
        .select("h", F.abs(F.col("a.y") - F.col("b.y")).alias("ad"))
    )
    return p.groupBy(F.col("h").alias("lag_days")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        (
            F.sum("ad").cast("double") / F.count("*").cast("double") / 100.0
        ).alias("madogram"),
    )


# ---------------------------------------------------------------------------
# Round-9 wave 11: paired sign test, Dixon's Q outlier ratios.
# ---------------------------------------------------------------------------


@register(
    "a_sign_test",
    """
    WITH h AS (SELECT user_id,
                      CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) <= 15
                                    THEN CAST(floor(value) AS BIGINT)
                                    ELSE 0 END) AS BIGINT) AS x1,
                      CAST(SUM(CASE WHEN day(CAST(ts AS DATE)) > 15
                                    THEN CAST(floor(value) AS BIGINT)
                                    ELSE 0 END) AS BIGINT) AS x2
               FROM events GROUP BY 1),
    d AS (SELECT CASE WHEN x2 > x1 THEN 1 ELSE 0 END AS pos
          FROM h WHERE x2 <> x1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS s_plus
          FROM d)
    SELECT n, s_plus,
           CAST(n AS DOUBLE) / 2.0 AS s_expected,
           (CAST(s_plus AS DOUBLE) - CAST(n AS DOUBLE) / 2.0
            - (CASE WHEN CAST(s_plus AS DOUBLE) > CAST(n AS DOUBLE) / 2.0
                    THEN 0.5
                    WHEN CAST(s_plus AS DOUBLE) < CAST(n AS DOUBLE) / 2.0
                    THEN -0.5 ELSE 0.0 END))
             / (sqrt(CAST(n AS DOUBLE)) / 2.0) AS z_sign
    FROM s
    """,
)
def a_sign_test(spark, sf_dir):
    """Paired sign test (Arbuthnott 1710 — the oldest nonparametric
    test; Dixon & Mood 1946) on each user's first- vs second-half
    monthly totals: S⁺ = count of positive differences, zeros
    dropped, continuity-corrected z = (S⁺ − n/2 ∓ ½)/(√n/2).  The
    assumption-free floor under a_wilcoxon_signed_rank (which adds
    magnitude ranks) — when the two disagree, the magnitudes carry
    the signal.  Pure integer counting plus one closing chain; one
    user-grain aggregate."""
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
    d = h.filter(F.col("x2") != F.col("x1")).select(
        F.when(F.col("x2") > F.col("x1"), 1).otherwise(0).alias("pos")
    )
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("s_plus"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    half = dd("n") / 2.0
    cc = (
        F.when(dd("s_plus") > half, F.lit(0.5))
        .when(dd("s_plus") < half, F.lit(-0.5))
        .otherwise(F.lit(0.0))
    )
    return s.select(
        "n", "s_plus",
        half.alias("s_expected"),
        ((dd("s_plus") - half - cc) / (F.sqrt(dd("n")) / 2.0)).alias("z_sign"),
    )


@register(
    "a_dixon_q",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    rk AS (SELECT a.day, a.y,
                  CAST(SUM(CASE WHEN b.y < a.y
                                OR (b.y = a.y AND b.day < a.day)
                                THEN 1 ELSE 0 END) + 1 AS BIGINT) AS rn,
                  CAST(count(*) AS BIGINT) AS n
           FROM d a CROSS JOIN d b
           GROUP BY 1, 2),
    o AS (SELECT
            CAST(max(CASE WHEN rn = 1 THEN y END) AS BIGINT) AS y1,
            CAST(max(CASE WHEN rn = 2 THEN y END) AS BIGINT) AS y2,
            CAST(max(CASE WHEN rn = n - 1 THEN y END) AS BIGINT) AS ym1,
            CAST(max(CASE WHEN rn = n THEN y END) AS BIGINT) AS ym,
            CAST(max(n) AS BIGINT) AS n
          FROM rk)
    SELECT n AS n_days,
           CAST(y1 AS DOUBLE) / 100.0 AS y_min,
           CAST(ym AS DOUBLE) / 100.0 AS y_max,
           CAST(y2 - y1 AS DOUBLE) / CAST(ym - y1 AS DOUBLE) AS q_low,
           CAST(ym - ym1 AS DOUBLE) / CAST(ym - y1 AS DOUBLE) AS q_high
    FROM o WHERE ym > y1
    """,
)
def a_dixon_q(spark, sf_dir):
    """Dixon's Q ratios (Anal. Chem. 1950 — the small-sample outlier
    screen lab QC still uses): Q_low = (y₍₂₎−y₍₁₎)/range and Q_high =
    (y₍ₙ₎−y₍ₙ₋₁₎)/range over the daily totals — a large gap between
    the extreme and its neighbor relative to the whole range flags a
    suspect single observation, exactly where z-scores (inflated by
    the outlier itself) go blind.  The four order statistics come
    from ONE bounded-calendar rank self-join (day tiebreak makes the
    rank total); two divisions close it.  Degenerate range → no
    row."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    a, b = d.alias("a"), d.alias("b")
    rk = (
        a.crossJoin(b)
        .groupBy(F.col("a.day").alias("day"), F.col("a.y").alias("y"))
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("b.y") < F.col("a.y"))
                        | (
                            (F.col("b.y") == F.col("a.y"))
                            & (F.col("b.day") < F.col("a.day"))
                        ),
                        1,
                    ).otherwise(0)
                )
                + 1
            )
            .cast("long")
            .alias("rn"),
            F.count("*").cast("long").alias("n"),
        )
    )
    o = rk.agg(
        F.max(F.when(F.col("rn") == 1, F.col("y"))).cast("long").alias("y1"),
        F.max(F.when(F.col("rn") == 2, F.col("y"))).cast("long").alias("y2"),
        F.max(F.when(F.col("rn") == F.col("n") - 1, F.col("y")))
        .cast("long")
        .alias("ym1"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("y")))
        .cast("long")
        .alias("ym"),
        F.max("n").cast("long").alias("n"),
    )
    return o.filter(F.col("ym") > F.col("y1")).select(
        F.col("n").alias("n_days"),
        (F.col("y1").cast("double") / 100.0).alias("y_min"),
        (F.col("ym").cast("double") / 100.0).alias("y_max"),
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("ym") - F.col("y1")).cast("double")
        ).alias("q_low"),
        (
            (F.col("ym") - F.col("ym1")).cast("double")
            / (F.col("ym") - F.col("y1")).cast("double")
        ).alias("q_high"),
    )
