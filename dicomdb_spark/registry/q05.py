"""registry chunk 5/8 — mechanical split of the monolithic registry.py (round 10); original lines 17193-21459.  Registration order preserved."""
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
from dicomdb_spark.registry._core import ORACLES, _chain, register
from dicomdb_spark.registry.q01 import (
    _SQL_SHINGLES,
    _SQL_TOKS,
    _SQL_TOKS_RAW,
    _component_oracle,
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


@register(
    "ml_roc_auc",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s
               FROM embeddings
               WHERE embedding IS NOT NULL AND label IS NOT NULL),
    g AS (SELECT s, CAST(SUM(y) AS BIGINT) AS pos_x,
                 CAST(count(*) AS BIGINT) AS t
          FROM e GROUP BY 1),
    c AS (SELECT pos_x, t,
                 CAST(SUM(t) OVER (ORDER BY s) AS BIGINT) - t AS p
          FROM g),
    m AS (SELECT CAST(SUM(pos_x * (2 * p + t + 1)) AS BIGINT) AS w2,
                 CAST(SUM(pos_x) AS BIGINT) AS n1,
                 CAST(SUM(t - pos_x) AS BIGINT) AS n0
          FROM c)
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST(w2 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * n0 AS DOUBLE) AS auc
    FROM m
    """,
)
def ml_roc_auc(spark, sf_dir):
    """ROC AUC of the squared-norm score against the parity label —
    the rank-based classifier metric, computed as the tie-corrected
    Mann–Whitney identity AUC = (W − n₁(n₁+1)/2)/(n₁n₀).  Midrank
    sums stay EXACT integers via the doubled-midrank trick (2p+t+1)
    over PER-SCORE-VALUE counts; the cumulative runs over |distinct
    scores| rows, range-bucketed (ow.bucketed_running) — never a
    single-partition sort of the corpus.  The score itself is an
    exact int64 fold of the vector (floor-scaled v², fixed order).
    Rows missing the embedding or the label are unscoreable and
    excluded symmetrically (r13 null-probe: their NULL score/label
    shifted the midrank machinery)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    e = emb.select(
        (F.col("label") % 2).cast("long").alias("y"), _normsq_col().alias("s")
    )
    g = e.groupBy("s").agg(
        F.sum("y").cast("long").alias("pos_x"),
        F.count("*").cast("long").alias("t"),
    )
    c = ow.bucketed_running(
        ow.monotone_range_bucket(g, "s"), order_cols=["s"], sum_cols=["t"]
    ).withColumn("p", F.col("cum_t") - F.col("t"))
    m = c.agg(
        F.sum(F.col("pos_x") * (F.lit(2) * F.col("p") + F.col("t") + 1))
        .cast("long")
        .alias("w2"),
        F.sum("pos_x").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("pos_x")).cast("long").alias("n0"),
    )
    return m.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        (
            (F.col("w2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (F.lit(2) * F.col("n1") * F.col("n0")).cast("double")
        ).alias("auc"),
    )


@register(
    "ml_calibration_bins",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s
               FROM embeddings),
    st AS (SELECT min(s) AS mn, max(s) AS mx FROM e),
    b AS (SELECT y, s,
                 CASE WHEN st.mx = st.mn THEN 0
                      ELSE least(CAST(floor(CAST((s - st.mn) AS DOUBLE) * 8
                                 / CAST((st.mx - st.mn) AS DOUBLE)) AS BIGINT), 7)
                 END AS bin
          FROM e CROSS JOIN st)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(s) AS BIGINT) AS sum_score,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate
    FROM b GROUP BY 1
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins: the squared-norm score split into 8
    equal-width bins (min/max affine map, same monotone-bucket shape
    as ow.monotone_range_bucket), per-bin positive rate vs score mass
    — the calibration readout behind every scored-classifier audit.
    One stats pass + one hash aggregate; rates are single exact-int
    divisions."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("label") % 2).cast("long").alias("y"), _normsq_col().alias("s")
    )
    st = e.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
    bin_c = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("s") - F.col("mn")).cast("double")
                * 8
                / (F.col("mx") - F.col("mn")).cast("double")
            ).cast("long"),
            F.lit(7),
        )
    )
    b = e.crossJoin(F.broadcast(st)).select("y", "s", bin_c.alias("bin"))
    return b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s").cast("long").alias("sum_score"),
        F.sum("y").cast("long").alias("n_pos"),
        (F.sum("y").cast("double") / F.count("*").cast("double")).alias("pos_rate"),
    )


@register(
    "ml_confusion_metrics",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s
               FROM embeddings),
    st AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n FROM e),
    p AS (SELECT y, CASE WHEN e.s * st.n > st.tot THEN 1 ELSE 0 END AS yhat
          FROM e CROSS JOIN st),
    t AS (SELECT
            CAST(SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM p)
    SELECT tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision_,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall_,
           CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
    FROM t
    """,
)
def ml_confusion_metrics(spark, sf_dir):
    """Confusion matrix + precision/recall/F1 for the
    above-mean-score classifier: the decision s·n > Σs is an EXACT
    integer comparison (the mean never materializes as a float), so
    the matrix is partition-invariant; the three metrics are single
    divisions of exact integers.  One stats pass + one aggregate."""
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
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")).alias(
            "precision_"
        ),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")).alias(
            "recall_"
        ),
        (
            (F.lit(2) * F.col("tp")).cast("double")
            / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Round 7, batch B — financial/time-series window analytics over the
# per-type daily "bar" series (day grain, PARTITIONED by event_type —
# every window below keys on the series id, so no global sorts; the
# bar-building aggregate is the only fact-table pass).
# ---------------------------------------------------------------------------

_SQL_BARS = """
    bars AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS vol,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS p,
             CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS hi,
             CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS lo
      FROM events GROUP BY 1, 2)
"""


def _bars(spark, sf_dir):
    """Per-(event_type, day) bar: volume, 1e2-scaled value total (the
    'price' series), intraday hi/lo — exact integers, one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("vol"),
        F.sum(v).cast("long").alias("p"),
        F.max(v).cast("long").alias("hi"),
        F.min(v).cast("long").alias("lo"),
    )


@register(
    "w_vwap_daily",
    """
    SELECT CAST(l_shipdate AS DATE) AS day,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS volume,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
                    * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS pv_c,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)
                    * CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE) / 100.0
             AS vwap
    FROM lineitem GROUP BY 1
    """,
)
def w_vwap_daily(spark, sf_dir):
    """Daily volume-weighted average price over shipments — the
    execution-quality benchmark every trading/replenishment report
    anchors on.  Σ(price·qty) and Σqty are exact integers (1e2-scaled
    price), VWAP is ONE division — a single map-side-combining hash
    aggregate on the fact table, no window, no sort."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = F.floor(F.col("l_extendedprice") * 100).cast("long")
    q = F.floor(F.col("l_quantity")).cast("long")
    return (
        li.groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(q).cast("long").alias("volume"),
            F.sum(pc * q).cast("long").alias("pv_c"),
        )
        .select(
            "day",
            "volume",
            "pv_c",
            (
                F.col("pv_c").cast("double") / F.col("volume").cast("double") / 100.0
            ).alias("vwap"),
        )
    )


@register(
    "w_rsi_simple",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type, day, p,
                 p - lag(p) OVER (PARTITION BY event_type ORDER BY day) AS ch
          FROM bars),
    gl AS (SELECT event_type, day,
                  CAST(SUM(CASE WHEN ch > 0 THEN ch ELSE 0 END) OVER w AS BIGINT)
                    AS ag,
                  CAST(SUM(CASE WHEN ch < 0 THEN -ch ELSE 0 END) OVER w AS BIGINT)
                    AS al,
                  CAST(count(ch) OVER w AS BIGINT) AS nch
           FROM d
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, ag AS gain_sum, al AS loss_sum,
           CAST(ag * 100 AS DOUBLE) / CAST(ag + al AS DOUBLE) AS rsi
    FROM gl WHERE nch = 14 AND ag + al > 0
    """,
)
def w_rsi_simple(spark, sf_dir):
    """14-day RSI (simple-average Cutler variant — Wilder's EMA needs
    a recurrence; the SMA form is window-expressible and
    partition-safe) per event-type price series: RSI = 100·G/(G+L)
    over rolling gain/loss sums.  All integers until the single final
    division; windows are PARTITIONED by series id over the bounded
    day grain."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    w14 = wl.rowsBetween(-13, Window.currentRow)
    d = bars.select(
        "event_type", "day", "p", (F.col("p") - F.lag("p").over(wl)).alias("ch")
    )
    gl = d.select(
        "event_type",
        "day",
        F.sum(F.when(F.col("ch") > 0, F.col("ch")).otherwise(0))
        .over(w14)
        .cast("long")
        .alias("ag"),
        F.sum(F.when(F.col("ch") < 0, -F.col("ch")).otherwise(0))
        .over(w14)
        .cast("long")
        .alias("al"),
        F.count("ch").over(w14).cast("long").alias("nch"),
    )
    return gl.filter((F.col("nch") == 14) & (F.col("ag") + F.col("al") > 0)).select(
        "event_type",
        "day",
        F.col("ag").alias("gain_sum"),
        F.col("al").alias("loss_sum"),
        (
            (F.col("ag") * F.lit(100)).cast("double")
            / (F.col("ag") + F.col("al")).cast("double")
        ).alias("rsi"),
    )


@register(
    "w_stochastic_k",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, p,
                 CAST(min(p) OVER w AS BIGINT) AS lo14,
                 CAST(max(p) OVER w AS BIGINT) AS hi14,
                 CAST(count(*) OVER w AS BIGINT) AS nw
          FROM bars
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, p, lo14, hi14,
           CAST((p - lo14) * 100 AS DOUBLE) / CAST(hi14 - lo14 AS DOUBLE)
             AS pct_k
    FROM r WHERE nw = 14 AND hi14 > lo14
    """,
)
def w_stochastic_k(spark, sf_dir):
    """Stochastic oscillator %K (14-day) per event-type price series:
    where today's value sits inside the rolling 14-day range —
    rolling min/max windows PARTITIONED by series id, %K one exact-
    integer division.  The classic overbought/oversold normalization
    for any bounded-drift daily metric."""
    bars = _bars(spark, sf_dir)
    w14 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, Window.currentRow)
    )
    r = bars.select(
        "event_type",
        "day",
        "p",
        F.min("p").over(w14).cast("long").alias("lo14"),
        F.max("p").over(w14).cast("long").alias("hi14"),
        F.count("*").over(w14).cast("long").alias("nw"),
    )
    return r.filter((F.col("nw") == 14) & (F.col("hi14") > F.col("lo14"))).select(
        "event_type",
        "day",
        "p",
        "lo14",
        "hi14",
        (
            ((F.col("p") - F.col("lo14")) * F.lit(100)).cast("double")
            / (F.col("hi14") - F.col("lo14")).cast("double")
        ).alias("pct_k"),
    )


@register(
    "w_donchian_breakout",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, p,
                 CAST(max(p) OVER w AS BIGINT) AS hi20,
                 CAST(min(p) OVER w AS BIGINT) AS lo20,
                 CAST(count(*) OVER w AS BIGINT) AS nw
          FROM bars
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN p > hi20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breakouts_up,
           CAST(SUM(CASE WHEN p < lo20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_breakouts_down,
           CAST(max(CASE WHEN p > hi20 THEN day END) AS DATE)
             AS last_breakout_up
    FROM r WHERE nw = 20 GROUP BY 1
    """,
)
def w_donchian_breakout(spark, sf_dir):
    """Donchian-channel breakouts: days where the price series
    exceeds its PRIOR 20-day high (or low) — the turtle-trader channel
    as an anomaly counter for daily metrics.  The exclusive frame
    (ROWS 20 PRECEDING .. 1 PRECEDING) keeps today out of its own
    channel; all comparisons are exact integers, windows partitioned
    by series id."""
    bars = _bars(spark, sf_dir)
    w20 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-20, -1)
    r = bars.select(
        "event_type",
        "day",
        "p",
        F.max("p").over(w20).cast("long").alias("hi20"),
        F.min("p").over(w20).cast("long").alias("lo20"),
        F.count("*").over(w20).cast("long").alias("nw"),
    )
    return (
        r.filter(F.col("nw") == 20)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(F.when(F.col("p") > F.col("hi20"), 1).otherwise(0))
            .cast("long")
            .alias("n_breakouts_up"),
            F.sum(F.when(F.col("p") < F.col("lo20"), 1).otherwise(0))
            .cast("long")
            .alias("n_breakouts_down"),
            F.max(F.when(F.col("p") > F.col("hi20"), F.col("day")))
            .cast("date")
            .alias("last_breakout_up"),
        )
    )


@register(
    "w_obv_flow",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type, day, vol,
                 CASE WHEN p > lag(p) OVER w THEN 1
                      WHEN p < lag(p) OVER w THEN -1 ELSE 0 END AS sgn
          FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    o AS (SELECT event_type, day,
                 CAST(SUM(sgn * vol) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS obv
          FROM d)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(CASE WHEN day = (SELECT max(day) FROM o o2
                                     WHERE o2.event_type = o.event_type)
                    THEN obv END) AS BIGINT) AS obv_final,
           CAST(min(obv) AS BIGINT) AS obv_min,
           CAST(max(obv) AS BIGINT) AS obv_max
    FROM o GROUP BY event_type
    """,
)
def w_obv_flow(spark, sf_dir):
    """On-balance volume per series: running Σ sign(Δprice)·volume —
    the classic accumulation/distribution flow detector, here reading
    'is rising engagement carried by rising activity'.  One lag + one
    running sum, both PARTITIONED by series id; final/min/max per
    series in one aggregate (exact integers throughout)."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    wrun = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("p").over(wl)
    d = bars.select(
        "event_type",
        "day",
        "vol",
        F.when(F.col("p") > prev, 1)
        .when(F.col("p") < prev, -1)
        .otherwise(0)
        .alias("sgn"),
    )
    o = d.select(
        "event_type",
        "day",
        F.sum(F.col("sgn") * F.col("vol")).over(wrun).cast("long").alias("obv"),
    )
    return o.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max_by("obv", "day").cast("long").alias("obv_final"),
        F.min("obv").cast("long").alias("obv_min"),
        F.max("obv").cast("long").alias("obv_max"),
    )


@register(
    "w_rolling_corr",
    f"""
    WITH {_SQL_BARS},
    pairs AS (
      SELECT 'click~purchase' AS pair, a.day, a.p AS pa, b.p AS pb
      FROM bars a JOIN bars b ON a.day = b.day
      WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      UNION ALL
      SELECT 'view~click', a.day, a.p, b.p
      FROM bars a JOIN bars b ON a.day = b.day
      WHERE a.event_type = 'view' AND b.event_type = 'click'),
    r AS (SELECT pair, day,
                 CAST(count(*) OVER w AS BIGINT) AS n,
                 CAST(SUM(pa) OVER w AS BIGINT) AS sa,
                 CAST(SUM(pb) OVER w AS BIGINT) AS sb,
                 CAST(SUM(pa * pb) OVER w AS BIGINT) AS sab,
                 CAST(SUM(pa * pa) OVER w AS BIGINT) AS saa,
                 CAST(SUM(pb * pb) OVER w AS BIGINT) AS sbb
          FROM pairs
          WINDOW w AS (PARTITION BY pair ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT pair, day,
           (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
            - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS corr14
    FROM r WHERE n = 14
    """,
)
def w_rolling_corr(spark, sf_dir):
    """14-day rolling Pearson correlation between paired daily series
    (click↔purchase, view↔click) — the co-movement monitor behind
    'did engagement decouple from conversion this week'.  Rolling
    co-moments are exact-integer window sums PARTITIONED by pair id;
    the correlation is one fixed float chain per row (double
    multiplies to dodge overflow at 100×)."""
    bars = _bars(spark, sf_dir)

    def pair(name, ta, tb):
        a = bars.filter(F.col("event_type") == ta).select(
            "day", F.col("p").alias("pa")
        )
        b = bars.filter(F.col("event_type") == tb).select(
            "day", F.col("p").alias("pb")
        )
        return a.join(b, "day").select(
            F.lit(name).alias("pair"), "day", "pa", "pb"
        )

    pairs = pair("click~purchase", "click", "purchase").unionAll(
        pair("view~click", "view", "click")
    )
    w14 = Window.partitionBy("pair").orderBy("day").rowsBetween(-13, Window.currentRow)
    r = pairs.select(
        "pair",
        "day",
        F.count("*").over(w14).cast("long").alias("n"),
        F.sum("pa").over(w14).cast("long").alias("sa"),
        F.sum("pb").over(w14).cast("long").alias("sb"),
        F.sum(F.col("pa") * F.col("pb")).over(w14).cast("long").alias("sab"),
        F.sum(F.col("pa") * F.col("pa")).over(w14).cast("long").alias("saa"),
        F.sum(F.col("pb") * F.col("pb")).over(w14).cast("long").alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    return r.filter(F.col("n") == 14).select(
        "pair",
        "day",
        (
            (nd * F.col("sab").cast("double") - sa * sb)
            / (
                F.sqrt(nd * F.col("saa").cast("double") - sa * sa)
                * F.sqrt(nd * F.col("sbb").cast("double") - sb * sb)
            )
        ).alias("corr14"),
    )


@register(
    "w_sharpe_sortino",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type,
                 p - lag(p) OVER (PARTITION BY event_type ORDER BY day) AS ch
          FROM bars),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(ch) AS BIGINT) AS s1,
                 CAST(SUM(ch * ch) AS BIGINT) AS s2,
                 CAST(SUM(CASE WHEN ch < 0 THEN ch * ch ELSE 0 END) AS BIGINT)
                   AS sd2
          FROM d WHERE ch IS NOT NULL GROUP BY 1)
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_change,
           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sharpe,
           (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(sd2 AS DOUBLE) / CAST(n AS DOUBLE)) AS sortino
    FROM m
    """,
)
def w_sharpe_sortino(spark, sf_dir):
    """Sharpe and Sortino ratios of each series' daily changes —
    reward-per-volatility with the Sortino variant penalizing ONLY
    downside moves (the asymmetric risk view).  One lag pass
    (partitioned), one aggregate of exact integer (n, Σ, Σ²,
    Σ_downside²), one float chain per series."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    d = bars.select(
        "event_type", (F.col("p") - F.lag("p").over(wl)).alias("ch")
    ).filter(F.col("ch").isNotNull())
    m = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ch").cast("long").alias("s1"),
        F.sum(F.col("ch") * F.col("ch")).cast("long").alias("s2"),
        F.sum(F.when(F.col("ch") < 0, F.col("ch") * F.col("ch")).otherwise(0))
        .cast("long")
        .alias("sd2"),
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    mean = s1d / nd
    return m.select(
        "event_type",
        "n",
        mean.alias("mean_change"),
        # nullif: constant / no-downside series → sd 0 → NULL like
        # DuckDB x/0, instead of an ANSI crash
        (mean / F.nullif(F.sqrt((s2d - s1d * s1d / nd) / nd), F.lit(0.0)))
        .alias("sharpe"),
        (mean / F.nullif(F.sqrt(F.col("sd2").cast("double") / nd), F.lit(0.0)))
        .alias("sortino"),
    )


@register(
    "w_ulcer_index",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, p,
                 CAST(max(p) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS runmax
          FROM bars),
    dd AS (SELECT event_type,
                  ((runmax - p) * 10000) // runmax AS ddbp
           FROM r),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(max(ddbp) AS BIGINT) AS max_dd_bp,
                 CAST(SUM(ddbp * ddbp) AS BIGINT) AS sdd2
          FROM dd GROUP BY 1)
    SELECT event_type, n_days, max_dd_bp,
           sqrt(CAST(sdd2 AS DOUBLE) / CAST(n_days AS DOUBLE)) AS ulcer_bp
    FROM m
    """,
)
def w_ulcer_index(spark, sf_dir):
    """Ulcer index per series: RMS of the running drawdown — unlike
    max-drawdown (w_max_drawdown) it weights how LONG the series sat
    below its peak, the pain metric for sustained metric regressions.
    Each row's drawdown is floor-scaled to integer basis points via
    exact integer div BEFORE squaring/summing, so the aggregation is
    order-invariant; running max is a partitioned window."""
    bars = _bars(spark, sf_dir)
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = bars.select(
        "event_type", "p", F.max("p").over(wrun).cast("long").alias("runmax")
    )
    dd = r.select(
        "event_type",
        # nullif: an all-nonpositive prefix has runmax 0 — DuckDB //0
        # is NULL while ANSI Spark div throws; NULL rows then drop out
        # of max/sum identically in both engines
        F.expr("((runmax - p) * 10000) div nullif(runmax, 0)").alias("ddbp"),
    )
    m = dd.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("ddbp").cast("long").alias("max_dd_bp"),
        F.sum(F.col("ddbp") * F.col("ddbp")).cast("long").alias("sdd2"),
    )
    return m.select(
        "event_type",
        "n_days",
        "max_dd_bp",
        F.sqrt(F.col("sdd2").cast("double") / F.col("n_days").cast("double")).alias(
            "ulcer_bp"
        ),
    )


@register(
    "w_change_point_mean_shift",
    f"""
    WITH {_SQL_BARS},
    c AS (SELECT event_type, day, p,
                 CAST(SUM(p) OVER w AS BIGINT) AS cs,
                 CAST(count(*) OVER w AS BIGINT) AS k,
                 CAST(SUM(p) OVER (PARTITION BY event_type) AS BIGINT) AS st,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM bars
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    g AS (SELECT event_type, day, k, n,
                 (CAST(cs AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(k AS DOUBLE))
                 * (CAST(cs AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(st AS DOUBLE) * CAST(k AS DOUBLE))
                 / (CAST(k AS DOUBLE) * CAST(n - k AS DOUBLE)) AS gk
          FROM c WHERE k < n),
    best AS (SELECT event_type, day, k, n, gk,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY gk DESC, day) AS rn
             FROM g)
    SELECT event_type, day AS split_day, CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right, gk AS shift_score
    FROM best WHERE rn = 1
    """,
)
def w_change_point_mean_shift(spark, sf_dir):
    """Single change-point detection per series (binary segmentation,
    step 1): the split day maximizing the scaled between-segment
    mean-shift score (Σ_left·n − Σ_total·k)²/(k(n−k)) — the CUSUM-max
    identity, so NO per-candidate rescan: one cumulative window pass
    gives every candidate's score.  The argmax is a per-series
    (PARTITIONED) rank; score doubles come from exact integer
    cumulative sums with an identical expression chain both engines."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    wrun = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("event_type")
    c = bars.select(
        "event_type",
        "day",
        F.sum("p").over(wrun).cast("long").alias("cs"),
        F.count("*").over(wrun).cast("long").alias("k"),
        F.sum("p").over(wall).cast("long").alias("st"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    num = F.col("cs").cast("double") * F.col("n").cast("double") - F.col(
        "st"
    ).cast("double") * F.col("k").cast("double")
    g = c.filter(F.col("k") < F.col("n")).select(
        "event_type",
        "day",
        "k",
        "n",
        (num * num / (F.col("k").cast("double") * (F.col("n") - F.col("k")).cast("double"))).alias(
            "gk"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("gk").desc(), "day")
    return (
        g.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("k").cast("long").alias("n_left"),
            (F.col("n") - F.col("k")).cast("long").alias("n_right"),
            F.col("gk").alias("shift_score"),
        )
    )


@register(
    "w_watermark_late_audit",
    """
    WITH a AS (SELECT event_type, event_id, ts,
                      max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS high_ts
               FROM events),
    l AS (SELECT event_type,
                 CASE WHEN ts < high_ts - INTERVAL 300 SECONDS
                      THEN 1 ELSE 0 END AS late,
                 CASE WHEN ts < high_ts - INTERVAL 300 SECONDS
                      THEN CAST(floor(epoch(high_ts)) AS BIGINT)
                           - CAST(floor(epoch(ts)) AS BIGINT)
                      ELSE NULL END AS late_s
          FROM a WHERE high_ts IS NOT NULL)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(late) AS BIGINT) AS n_late,
           CAST(SUM(late) * 10000 AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS late_bp,
           CAST(max(late_s) AS BIGINT) AS max_late_s
    FROM l GROUP BY 1
    """,
)
def w_watermark_late_audit(spark, sf_dir):
    """Watermark tuning audit: replaying each stream in ARRIVAL order
    (event_id), how many events would a 300 s watermark have dropped,
    and how late was the worst straggler?  The running high-water mark
    is a partitioned window over arrival order (exclusive frame — an
    event can't lateness-check against itself); the answer tells you
    what `withWatermark` threshold the streaming twins (W3/hopping)
    can afford.  Exact integer second arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a = ev.select(
        "event_type", "ts", F.max("ts").over(wprev).alias("high_ts")
    ).filter(F.col("high_ts").isNotNull())
    late = F.col("ts") < F.col("high_ts") - F.expr("INTERVAL 300 SECONDS")
    l = a.select(
        "event_type",
        F.when(late, 1).otherwise(0).alias("late"),
        F.when(
            late,
            F.unix_timestamp("high_ts") - F.unix_timestamp("ts"),
        ).alias("late_s"),
    )
    return l.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("late").cast("long").alias("n_late"),
        (
            (F.sum("late") * F.lit(10000)).cast("double")
            / F.count("*").cast("double")
        ).alias("late_bp"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# Round 7, batch C — graph analytics: bounded-depth centralities over
# the customer↔supplier purchase graph (dimension-bounded node space,
# join-per-hop — never an adjacency matrix), edge-truss support over
# the near-dup graph, and the bipartite type-overlap projection.
# ---------------------------------------------------------------------------

_SQL_CS_EDGES = """
    e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT c AS src, 1000000 + s AS dst FROM e0
              UNION ALL SELECT 1000000 + s AS src, c AS dst FROM e0)
"""


def _cs_edges(spark, sf_dir):
    """Undirected customer↔supplier purchase graph as a directed edge
    list (both orientations; supplier ids offset by 1e6) — the shared
    input of the pagerank/katz/HITS family."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    return e0.select(
        F.col("c").alias("src"), (F.col("s") + 1000000).alias("dst")
    ).unionAll(
        e0.select((F.col("s") + 1000000).alias("src"), F.col("c").alias("dst"))
    )


@register(
    "graph_katz_bounded",
    f"""
    WITH {_SQL_CS_EDGES},
    p1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS p FROM edges
           GROUP BY 1),
    p2 AS (SELECT e.dst AS node, CAST(SUM(p1.p) AS BIGINT) AS p
           FROM edges e JOIN p1 ON p1.node = e.src GROUP BY 1),
    p3 AS (SELECT e.dst AS node, CAST(SUM(p2.p) AS BIGINT) AS p
           FROM edges e JOIN p2 ON p2.node = e.src GROUP BY 1),
    k AS (SELECT p1.node,
                 CAST(4 * p1.p + 2 * coalesce(p2.p, 0)
                      + coalesce(p3.p, 0) AS BIGINT) AS katz8
          FROM p1 LEFT JOIN p2 ON p2.node = p1.node
                  LEFT JOIN p3 ON p3.node = p1.node)
    SELECT node, katz8,
           CAST(katz8 AS DOUBLE) / 8.0 AS katz,
           CAST(row_number() OVER (ORDER BY katz8 DESC, node) AS INTEGER) AS pos
    FROM k
    ORDER BY katz8 DESC, node
    LIMIT 20
    """,
)
def graph_katz_bounded(spark, sf_dir):
    """Katz centrality truncated at path length 3 with the DYADIC
    attenuation β = 1/2: katz = Σ_k β^k·(paths of length k ending at
    v), held EXACT as the integer 8·katz = 4p₁+2p₂+p₃ because every
    β^k is a power of two — no float accumulates, no ln/exp.  Each
    hop is one edges⋈counts join + aggregate (cost follows |E|, the
    node table stays dimension-bounded); top-20 via distributed
    TakeOrdered with the pos window on the LIMIT(20) result."""
    # r13 optimization (guide §3.3/§5): p1 fed three consumers and p3
    # nested a second hop(p1) subtree — checkpoint each |V|-row hop
    # once (HITS idiom) so every hop is one edges⋈counts join over
    # materialized state.
    edges = _cs_edges(spark, sf_dir).transform(cut_lineage)
    p1 = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("p")
    ).transform(cut_lineage)
    def hop(prev):
        return (
            edges.join(prev.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("p").cast("long").alias("p"))
            .transform(cut_lineage)
        )
    p2 = hop(p1)
    p3 = hop(p2)
    k = (
        p1.withColumnRenamed("p", "pp1")
        .join(p2.withColumnRenamed("p", "pp2"), "node", "left")
        .join(p3.withColumnRenamed("p", "pp3"), "node", "left")
        .select(
            "node",
            (
                F.lit(4) * F.col("pp1")
                + F.lit(2) * F.coalesce("pp2", F.lit(0))
                + F.coalesce("pp3", F.lit(0))
            )
            .cast("long")
            .alias("katz8"),
        )
    )
    w = Window.orderBy(F.col("katz8").desc(), F.col("node"))
    return (
        k.orderBy(F.col("katz8").desc(), "node")
        .limit(20)
        .select(
            "node",
            "katz8",
            (F.col("katz8").cast("double") / 8.0).alias("katz"),
            F.row_number().over(w).cast("int").alias("pos"),
        )
    )


@register(
    "graph_hits_unrolled",
    f"""
    WITH {_SQL_CS_EDGES},
    h1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS h FROM edges
           GROUP BY 1),
    h1m AS (SELECT CAST(max(h) AS BIGINT) AS m FROM h1),
    h1n AS (SELECT node, (h * 1000000) // h1m.m AS h FROM h1 CROSS JOIN h1m),
    a1 AS (SELECT e.dst AS node, CAST(SUM(h1n.h) AS BIGINT) AS a
           FROM edges e JOIN h1n ON h1n.node = e.src GROUP BY 1),
    a1m AS (SELECT CAST(max(a) AS BIGINT) AS m FROM a1),
    a1n AS (SELECT node, (a * 1000000) // a1m.m AS a FROM a1 CROSS JOIN a1m),
    h2 AS (SELECT e.src AS node, CAST(SUM(a1n.a) AS BIGINT) AS h
           FROM edges e JOIN a1n ON a1n.node = e.dst GROUP BY 1),
    h2m AS (SELECT CAST(max(h) AS BIGINT) AS m FROM h2),
    h2n AS (SELECT node, (h * 1000000) // h2m.m AS h FROM h2 CROSS JOIN h2m),
    a2 AS (SELECT e.dst AS node, CAST(SUM(h2n.h) AS BIGINT) AS a
           FROM edges e JOIN h2n ON h2n.node = e.src GROUP BY 1),
    a2m AS (SELECT CAST(max(a) AS BIGINT) AS m FROM a2),
    a2n AS (SELECT node, (a * 1000000) // a2m.m AS a FROM a2 CROSS JOIN a2m)
    SELECT a2n.node, CAST(a2n.a AS BIGINT) AS auth_ppm,
           CAST(h2n.h AS BIGINT) AS hub_ppm
    FROM a2n JOIN h2n ON h2n.node = a2n.node
    ORDER BY a2n.a DESC, a2n.node
    LIMIT 10
    """,
)
def graph_hits_unrolled(spark, sf_dir):
    """HITS hubs & authorities, 2 fixed rounds, all-INTEGER: each
    normalization is (score·10⁶) div max(score) — exact integer
    parts-per-million in place of the usual L2 normalize, so both
    engines walk identical arithmetic with zero float accumulation.
    Each half-round is one edges⋈scores join + aggregate (|E| cost);
    the max is a 1-row broadcast; top-10 authorities via distributed
    TakeOrdered.

    r13 optimization (guide §3.3/§5): every normalized score table is
    referenced twice downstream (its own max + the next push; h2n also
    feeds the final join), so an unmaterialized lineage NESTED the
    whole upstream subtree per reference — the executed plan grew to
    262 Exchange nodes and re-computed early rounds ~16×.
    localCheckpoint(eager=True) per half-round (the k-truss / BFS /
    PageRank idiom) makes each round one edges⋈scores join over
    materialized |V|-row state; the consumer plan is flat."""
    edges = _cs_edges(spark, sf_dir).transform(cut_lineage)

    def normalize(df, col):
        df = df.transform(cut_lineage)
        m = df.agg(F.max(col).alias("__m"))
        return df.crossJoin(F.broadcast(m)).select(
            "node", F.expr(f"({col} * 1000000) div __m").alias(col)
        )

    def push(scores, col, src_side, out):
        # sum scores of the src_side endpoint onto the other endpoint
        key, other = ("src", "dst") if src_side else ("dst", "src")
        return (
            edges.join(scores.withColumnRenamed("node", key), key)
            .groupBy(F.col(other).alias("node"))
            .agg(F.sum(col).cast("long").alias(out))
        )

    h1 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("h")
    )
    h1n = normalize(h1, "h")
    a1n = normalize(push(h1n, "h", True, "a"), "a")
    h2n = normalize(push(a1n, "a", False, "h"), "h")
    a2n = normalize(push(h2n, "h", True, "a"), "a")
    return (
        a2n.join(h2n, "node")
        .select(
            "node",
            F.col("a").cast("long").alias("auth_ppm"),
            F.col("h").cast("long").alias("hub_ppm"),
        )
        .orderBy(F.col("auth_ppm").desc(), "node")
        .limit(10)
    )


@register(
    "graph_type_overlap",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
    b AS (SELECT a.event_type AS t1, c.event_type AS t2,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM ut a JOIN ut c ON a.user_id = c.user_id
                    AND a.event_type < c.event_type
          GROUP BY 1, 2)
    SELECT b.t1, b.t2, b.n_both, n1.n AS n_t1, n2.n AS n_t2,
           CAST(b.n_both AS DOUBLE)
             / CAST(n1.n + n2.n - b.n_both AS DOUBLE) AS jaccard
    FROM b JOIN n n1 ON n1.event_type = b.t1
           JOIN n n2 ON n2.event_type = b.t2
    """,
)
def graph_type_overlap(spark, sf_dir):
    """Bipartite projection of the user↔event-type graph onto the
    TYPE side: per type pair, co-active user counts and audience
    Jaccard — the segment-overlap matrix.  Projecting onto the
    BOUNDED side is the scale rule: the self-join through user_id
    fans out ≤ |types|² per user (≤ 25 here), never user×user;
    output is |types|² rows regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    b = (
        ut.alias("a")
        .join(
            ut.alias("c"),
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("c.event_type").alias("t2")
        )
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        b.join(
            F.broadcast(n.select(F.col("event_type").alias("t1"), F.col("n").alias("n_t1"))),
            "t1",
        )
        .join(
            F.broadcast(n.select(F.col("event_type").alias("t2"), F.col("n").alias("n_t2"))),
            "t2",
        )
        .select(
            "t1",
            "t2",
            "n_both",
            "n_t1",
            "n_t2",
            (
                F.col("n_both").cast("double")
                / (F.col("n_t1") + F.col("n_t2") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )


@register(
    "graph_truss_support",
    f"""
    {_minhash_pairs_cte()},
    tri AS (
      SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.id1 = e1.id2
      JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
    sup AS (
      SELECT id1, id2, CAST(count(*) AS BIGINT) AS support FROM (
        SELECT a AS id1, b AS id2 FROM tri
        UNION ALL SELECT b, c FROM tri
        UNION ALL SELECT a, c FROM tri) t
      GROUP BY 1, 2),
    se AS (SELECT p.id1, p.id2, CAST(coalesce(s.support, 0) AS BIGINT) AS support
           FROM pairs p LEFT JOIN sup s ON s.id1 = p.id1 AND s.id2 = p.id2)
    SELECT support, CAST(count(*) AS BIGINT) AS n_edges,
           CAST(support + 2 AS BIGINT) AS trussness
    FROM se GROUP BY 1
    """,
)
def graph_truss_support(spark, sf_dir):
    """Edge truss support over the near-dup graph: per edge, how many
    triangles contain it (= |N(u)∩N(v)|); an edge with support ≥ k−2
    survives in the k-truss — the cohesion ladder between plain
    components (2-truss) and cliques.  Reuses the oriented-edge
    triangle enumeration (each triangle found once, fan-out follows
    degree); each triangle credits its 3 edges, one aggregate, and a
    left join restores support-0 edges.  Output: support histogram —
    dup clusters that are true cliques show up as high-trussness
    plateaus, chain-shaped false positives sit at support 0."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    ).persist()
    e1 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    e2 = pairs.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    e3 = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    sup = (
        tri.select(F.col("a").alias("id1"), F.col("b").alias("id2"))
        .unionAll(tri.select(F.col("b").alias("id1"), F.col("c").alias("id2")))
        .unionAll(tri.select(F.col("a").alias("id1"), F.col("c").alias("id2")))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("support"))
    )
    se = pairs.join(sup, ["id1", "id2"], "left").select(
        F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )
    return se.groupBy("support").agg(
        F.count("*").cast("long").alias("n_edges"),
        (F.col("support") + 2).cast("long").alias("trussness"),
    )


# ---------------------------------------------------------------------------
# Round 7, batch D — text profiling + corpus curation analytics.
# ---------------------------------------------------------------------------


@register(
    "text_hapax_ratio",
    f"""
    WITH tk AS (SELECT source, unnest({_SQL_TOKS}) AS term FROM documents),
    f AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2),
    s AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hapax,
                 CAST(SUM(c) AS BIGINT) AS tokens
          FROM f GROUP BY 1)
    SELECT source, vocab, hapax, tokens,
           CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_ratio,
           CAST(vocab AS DOUBLE) / CAST(tokens AS DOUBLE) AS type_token_ratio
    FROM s
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """Per-source lexical richness: vocabulary size, hapax legomena
    (once-only terms — the OCR-garbage / boilerplate-flood indicator:
    too many means noise, too few means templated text), hapax share
    and type-token ratio.  One tokenize-explode + two stacked hash
    aggregates; ratios are single exact-integer divisions."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        ),
    )
    f = tk.groupBy("source", "term").agg(F.count("*").cast("long").alias("c"))
    s = f.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        F.sum("c").cast("long").alias("tokens"),
    )
    return s.select(
        "source",
        "vocab",
        "hapax",
        "tokens",
        (F.col("hapax").cast("double") / F.col("vocab").cast("double")).alias(
            "hapax_ratio"
        ),
        (F.col("vocab").cast("double") / F.col("tokens").cast("double")).alias(
            "type_token_ratio"
        ),
    )


@register(
    "text_zipf_topk_ratio",
    f"""
    WITH tk AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    f AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
    top AS (SELECT term, c FROM f ORDER BY c DESC, term LIMIT 50),
    r AS (SELECT term, c,
                 CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT)
                   AS rnk
          FROM top)
    SELECT rnk, term, c AS freq, CAST(rnk * c AS BIGINT) AS rank_freq
    FROM r
    """,
)
def text_zipf_topk_ratio(spark, sf_dir):
    """Zipf's-law check without logarithms: for the top-50 vocabulary
    terms, rank·frequency should be roughly constant — the product
    column IS the diagnostic (a flat rank_freq column ≈ Zipfian, a
    collapsing one ≈ templated/synthetic text).  Top-k via
    distributed TakeOrdered; the rank window runs on the LIMIT(50)
    result only.  Exact integers end to end."""
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(
            F.explode(
                F.transform(text.tokens("text"), lambda t: F.lower(t))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = f.orderBy(F.col("c").desc(), "term").limit(50)
    w = Window.orderBy(F.col("c").desc(), "term")
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "term",
        F.col("c").alias("freq"),
    ).select("rnk", "term", "freq", (F.col("rnk") * F.col("freq")).cast("long").alias("rank_freq"))


@register(
    "text_sentence_stats",
    r"""
    WITH s AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '[.!?]+'),
                                  x -> length(trim(x)) > 0) AS sents
               FROM documents),
    m AS (SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
                 CAST(list_sum(list_transform(sents,
                      x -> CAST(length(trim(x)) AS BIGINT))) AS BIGINT)
                   AS total_chars,
                 CAST(list_max(list_transform(sents,
                      x -> CAST(length(trim(x)) AS BIGINT))) AS BIGINT)
                   AS max_chars
          FROM s WHERE len(sents) > 0)
    SELECT doc_id, n_sentences, total_chars, max_chars,
           CAST(total_chars AS DOUBLE) / CAST(n_sentences AS BIGINT) AS mean_chars
    FROM m
    """,
)
def text_sentence_stats(spark, sf_dir):
    """Sentence-segmentation profile per document (count, total/mean/
    max trimmed sentence length) — the quality signal Gopher-style
    filters read before token-level rules (no sentence boundary at
    all ⇒ log spam / code; absurdly long ⇒ boilerplate).  Entirely
    row-local array math (split + filter + fold) — map-only, no
    shuffle, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda x: F.length(F.trim(x)) > 0
    )
    lens = F.transform(F.col("sents"), lambda x: F.length(F.trim(x)).cast("long"))
    s = docs.select("doc_id", sents.alias("sents")).filter(F.size("sents") > 0)
    m = s.select(
        "doc_id",
        F.size("sents").cast("long").alias("n_sentences"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda a, b: a + b).alias(
            "total_chars"
        ),
        F.array_max(lens).cast("long").alias("max_chars"),
    )
    return m.select(
        "doc_id",
        "n_sentences",
        "total_chars",
        "max_chars",
        (
            F.col("total_chars").cast("double") / F.col("n_sentences")
        ).alias("mean_chars"),
    )


@register(
    "text_vocab_jaccard_sources",
    f"""
    WITH tk AS (SELECT DISTINCT source, unnest({_SQL_TOKS}) AS term
                FROM documents),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS v FROM tk GROUP BY 1),
    b AS (SELECT a.source AS s1, c.source AS s2,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM tk a JOIN tk c ON a.term = c.term AND a.source < c.source
          GROUP BY 1, 2)
    SELECT b.s1, b.s2, b.n_common, n1.v AS v1, n2.v AS v2,
           CAST(b.n_common AS DOUBLE)
             / CAST(n1.v + n2.v - b.n_common AS DOUBLE) AS jaccard
    FROM b JOIN n n1 ON n1.source = b.s1 JOIN n n2 ON n2.source = b.s2
    """,
)
def text_vocab_jaccard_sources(spark, sf_dir):
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    redundancy matrix (two sources sharing 95 % vocabulary are
    near-mirrors; decontaminate or down-weight one).  The join runs
    THROUGH the term key, fanning each term to ≤ |sources|² pairs —
    bounded by the source dimension, never vocab² — and the output is
    |sources|² rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
            "term"
        ),
    ).distinct()
    n = tk.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    b = (
        tk.alias("a")
        .join(
            tk.alias("c"),
            (F.col("a.term") == F.col("c.term"))
            & (F.col("a.source") < F.col("c.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("c.source").alias("s2"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        b.join(F.broadcast(n.select(F.col("source").alias("s1"), F.col("v").alias("v1"))), "s1")
        .join(F.broadcast(n.select(F.col("source").alias("s2"), F.col("v").alias("v2"))), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            "v1",
            "v2",
            (
                F.col("n_common").cast("double")
                / (F.col("v1") + F.col("v2") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


@register(
    "text_kwic_window",
    """
    WITH h AS (SELECT doc_id, text, strpos(text, 'spark') AS pos
               FROM documents WHERE strpos(text, 'spark') > 0)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           substr(text, CASE WHEN pos > 20 THEN pos - 20 ELSE 1 END,
                  (pos - CASE WHEN pos > 20 THEN pos - 20 ELSE 1 END) + 25)
             AS kwic
    FROM h
    """,
)
def text_kwic_window(spark, sf_dir):
    """Keyword-in-context extraction: the first occurrence of a query
    term with ±20 characters of context — the concordance view a
    corpus audit pulls before deciding whether a term is signal or
    boilerplate.  Pure row-local string ops (locate + substr), map-
    only, filter pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    pos = F.locate("spark", F.col("text"))
    h = docs.select("doc_id", "text", pos.alias("pos")).filter(F.col("pos") > 0)
    start = F.when(F.col("pos") > 20, F.col("pos") - 20).otherwise(F.lit(1))
    return h.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("text").substr(start, (F.col("pos") - start) + 25).alias("kwic"),
    )


@register(
    "text_char_trigram_profile",
    """
    WITH g AS (SELECT lang, substr(text, i.i, 3) AS tg
               FROM documents
               CROSS JOIN unnest(range(1, greatest(length(text) - 2, 0) + 1)) i(i)),
    f AS (SELECT lang, tg, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
    r AS (SELECT lang, tg, c,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY c DESC, tg) AS rn
          FROM f)
    SELECT lang, CAST(rn AS BIGINT) AS rnk, tg, c AS freq
    FROM r WHERE rn <= 5
    """,
)
def text_char_trigram_profile(spark, sf_dir):
    """Top-5 character trigrams per language — the classic langid
    fingerprint table (cf. text_lang_id_ngram, which CONSUMES such a
    profile; this query TRAINS one from labeled data).  Trigram
    expansion is a row-local sequence+posexplode (no shuffle until
    the count), the per-language top-k is a window PARTITIONED by
    lang — bounded fan-in per partition at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "lang",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(0)))
        ).alias("__k", "i"),
        "text",
    ).select("lang", F.col("text").substr(F.col("i"), F.lit(3)).alias("tg"))
    f = g.groupBy("lang", "tg").agg(F.count("*").cast("long").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "tg")
    return (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", F.col("rn").cast("long").alias("rnk"), "tg", F.col("c").alias("freq"))
    )


@register(
    "corpus_curriculum_phases",
    f"""
    WITH t AS (SELECT doc_id, len({_SQL_TOKS_RAW}) AS n_tok FROM documents
               WHERE text IS NOT NULL),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
    r AS (SELECT doc_id, n_tok,
                 ntile(4) OVER (ORDER BY n_tok DESC, doc_id) AS phase
          FROM t)
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM r GROUP BY 1
    """,
)
def corpus_curriculum_phases(spark, sf_dir):
    """Curriculum-learning phase assignment: documents quartiled by
    token count (longest-first — the common long-context curriculum),
    with per-phase size/token budgets — what a training scheduler
    consumes.  The quartile is DISTRIBUTED: range-bucket on n_tok +
    per-bucket offsets + partitioned row_number (ow.bucketed_running),
    then ntile(4) reconstructed arithmetically from the global rank
    (ow.ntile_from_rank) — no single-partition sort at any corpus
    size.  NULL-text docs are excluded symmetrically (no token count
    → no curriculum phase; their NULL n_tok buckets divergently —
    r13 null-probe find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    t = docs.select(
        "doc_id", F.size(text.tokens("text")).cast("long").alias("n_tok")
    )
    nrow = t.agg(F.count("*").alias("__n"))
    ranked = ow.bucketed_running(
        ow.monotone_range_bucket(t, "n_tok", ascending=False),
        order_cols=[F.col("n_tok").desc(), "doc_id"],
        rn_col="__rn",
    ).crossJoin(F.broadcast(nrow))
    r = ranked.select(
        "n_tok",
        ow.ntile_from_rank(F.col("__rn"), F.col("__n"), 4).alias("phase"),
    )
    return r.groupBy(F.col("phase").cast("long").alias("phase")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tok").cast("long").alias("min_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )


def _cluster_sizes_oracle() -> str:
    """Histogram wrapper over the unrolled label-propagation chain."""
    return f"""
    SELECT CAST(n_members AS BIGINT) AS n_members,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n_members * count(*) AS BIGINT) AS n_docs
    FROM ({_component_oracle()}) comp
    GROUP BY n_members
    """


@register(
    "corpus_dup_cluster_sizes",
    None,  # oracle attached below (reuses the component CTE chain)
)
def corpus_dup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster SIZE DISTRIBUTION — the one-line answer to
    'is dedup worth it and is anything pathological': many 2-clusters
    is normal near-dup noise, one giant cluster means a template
    flood (and a skew hazard for any per-cluster work).  Reuses the
    min-label component resolution (3 shuffle-join rounds) and adds
    one histogram aggregate; docs-per-size = size × cluster count,
    exact integers."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    comp = ldedup.min_label_components(pairs.persist(), iters=3)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return sizes.groupBy("n_members").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("n_members") * F.count("*")).cast("long").alias("n_docs"),
    )


ORACLES["corpus_dup_cluster_sizes"] = _cluster_sizes_oracle()


@register(
    "corpus_oversample_plan",
    """
    WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1),
    m AS (SELECT CAST(max(n_docs) AS BIGINT) AS mx FROM s)
    SELECT s.source, s.n_docs,
           CAST(m.mx // s.n_docs AS BIGINT) AS full_repeats,
           CAST(m.mx % s.n_docs AS BIGINT) AS remainder_docs,
           CAST(m.mx AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS target_factor
    FROM s CROSS JOIN m
    """,
)
def corpus_oversample_plan(spark, sf_dir):
    """Source-balancing oversample plan: to equalize every source to
    the majority source's size, each needs ⌊max/n⌋ full repeats plus
    a max-mod-n document remainder — the exact-integer recipe a
    weighted dataloader executes (corpus_mix/corpus_temperature_mix
    choose TARGETS; this emits the integer REPLAY PLAN).  One
    aggregate + a 1-row broadcast; all integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    m = s.agg(F.max("n_docs").cast("long").alias("mx"))
    return s.crossJoin(F.broadcast(m)).select(
        "source",
        "n_docs",
        F.expr("mx div n_docs").cast("long").alias("full_repeats"),
        (F.col("mx") % F.col("n_docs")).cast("long").alias("remainder_docs"),
        (F.col("mx").cast("double") / F.col("n_docs").cast("double")).alias(
            "target_factor"
        ),
    )


_NB_TOKENS = ("spark", "hash", "vector")


@register(
    "ml_naive_bayes_tokens",
    f"""
    WITH d AS (SELECT doc_id,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                      {', '.join(
                          f"CASE WHEN strpos(text, '{t}') > 0 THEN 1 ELSE 0 END AS f{i}"
                          for i, t in enumerate(_NB_TOKENS))}
               FROM documents),
    tr AS (SELECT CAST(SUM(y) AS BIGINT) AS n1,
                  CAST(SUM(1 - y) AS BIGINT) AS n0,
                  {', '.join(
                      f"CAST(SUM(CASE WHEN y = 1 THEN f{i} ELSE 0 END) AS BIGINT) AS c1{i},"
                      f" CAST(SUM(CASE WHEN y = 0 THEN f{i} ELSE 0 END) AS BIGINT) AS c0{i}"
                      for i in range(len(_NB_TOKENS)))}
           FROM d),
    p AS (SELECT d.y,
                 CAST(tr.n1 AS DOUBLE)
                 {' '.join(
                     f"* (CASE WHEN d.f{i} = 1 THEN CAST(tr.c1{i} + 1 AS DOUBLE) ELSE CAST(tr.n1 - tr.c1{i} + 1 AS DOUBLE) END / CAST(tr.n1 + 2 AS DOUBLE))"
                     for i in range(len(_NB_TOKENS)))} AS s1,
                 CAST(tr.n0 AS DOUBLE)
                 {' '.join(
                     f"* (CASE WHEN d.f{i} = 1 THEN CAST(tr.c0{i} + 1 AS DOUBLE) ELSE CAST(tr.n0 - tr.c0{i} + 1 AS DOUBLE) END / CAST(tr.n0 + 2 AS DOUBLE))"
                     for i in range(len(_NB_TOKENS)))} AS s0
          FROM d CROSS JOIN tr)
    SELECT y AS true_en,
           CASE WHEN s1 > s0 THEN 1 ELSE 0 END AS pred_en,
           CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    """,
)
def ml_naive_bayes_tokens(spark, sf_dir):
    """Bernoulli naive Bayes over three fixed token-presence features
    (is-English classifier), trained and applied in TWO aggregates —
    no logs: with a FIXED small feature count the posterior is a
    product of 4 factors evaluated in one fixed expression order, so
    both engines walk the identical IEEE chain (the usual log-sum
    trick exists only to avoid underflow at large feature counts).
    Laplace +1 smoothing; training counts ride a 1-row broadcast;
    output is the 2×2 self-classification matrix."""
    docs = load_table(spark, sf_dir, "documents")
    feats = [
        F.when(F.locate(t, F.col("text")) > 0, 1).otherwise(0).alias(f"f{i}")
        for i, t in enumerate(_NB_TOKENS)
    ]
    d = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"), *feats
    )
    aggs = [
        F.sum("y").cast("long").alias("n1"),
        F.sum(1 - F.col("y")).cast("long").alias("n0"),
    ]
    for i in range(len(_NB_TOKENS)):
        aggs.append(
            F.sum(F.when(F.col("y") == 1, F.col(f"f{i}")).otherwise(0))
            .cast("long")
            .alias(f"c1{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("y") == 0, F.col(f"f{i}")).otherwise(0))
            .cast("long")
            .alias(f"c0{i}")
        )
    tr = d.agg(*aggs)
    s1 = F.col("n1").cast("double")
    s0 = F.col("n0").cast("double")
    for i in range(len(_NB_TOKENS)):
        s1 = s1 * (
            F.when(
                F.col(f"f{i}") == 1, (F.col(f"c1{i}") + 1).cast("double")
            ).otherwise((F.col("n1") - F.col(f"c1{i}") + 1).cast("double"))
            / (F.col("n1") + 2).cast("double")
        )
        s0 = s0 * (
            F.when(
                F.col(f"f{i}") == 1, (F.col(f"c0{i}") + 1).cast("double")
            ).otherwise((F.col("n0") - F.col(f"c0{i}") + 1).cast("double"))
            / (F.col("n0") + 2).cast("double")
        )
    p = d.crossJoin(F.broadcast(tr)).select(
        "y", s1.alias("s1"), s0.alias("s0")
    )
    return p.groupBy(
        F.col("y").alias("true_en"),
        F.when(F.col("s1") > F.col("s0"), 1).otherwise(0).alias("pred_en"),
    ).agg(F.count("*").cast("long").alias("n"))


# ---------------------------------------------------------------------------
# Round 7, batch E — sketch audits, embedding-space diagnostics,
# layout simulation, and data-ops health checks.
# ---------------------------------------------------------------------------


@register(
    "sketch_bloom_fpr_audit",
    f"""
    WITH salts AS (SELECT unnest([0, 1, 2]) AS salt),
    bits AS (SELECT DISTINCT
               {_sql_hex_int("md5(CAST(salt AS VARCHAR) || '#' || CAST(p_partkey AS VARCHAR))", 8)}
                 % 4096 AS pos
             FROM part CROSS JOIN salts),
    probes AS (SELECT 'ghost:' || CAST(unnest(range(1, 2001)) AS VARCHAR) AS key),
    ph AS (SELECT p.key,
                  CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_hit
           FROM (SELECT key, {_sql_hex_int("md5(CAST(salt AS VARCHAR) || '#' || key)", 8)}
                        % 4096 AS pos
                 FROM probes CROSS JOIN salts) p
           LEFT JOIN bits b ON b.pos = p.pos
           GROUP BY 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
                 CAST(SUM(CASE WHEN n_hit = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos
          FROM ph),
    load AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits)
    SELECT s.n_probes, s.n_false_pos, load.bits_set,
           CAST(s.n_false_pos * 10000 AS DOUBLE)
             / CAST(s.n_probes AS DOUBLE) AS fpr_bp,
           CAST(load.bits_set AS DOUBLE) / 4096.0 AS fill_ratio
    FROM s CROSS JOIN load
    """,
)
def sketch_bloom_fpr_audit(spark, sf_dir):
    """Bloom-filter false-positive audit: 2000 PLANTED non-members
    ('ghost:i' keys, disjoint from the integer key space) probe the
    part-key bloom; observed FPR and bit-fill ratio tell you whether
    the m/k sizing holds before trusting it as a join pre-filter —
    the sketch-trust loop of sketch_cms_error_audit applied to bloom.
    Build is one distinct aggregate (≤ m rows); probes never shuffle
    (bit table broadcasts)."""
    from dicomdb_spark.functions import sketches

    part = load_table(spark, sf_dir, "part").select("p_partkey")
    bits = sketches.bloom_bits(part, "p_partkey", m_bits=4096, k_hashes=3)
    probes = spark.range(1, 2001).select(
        F.concat(F.lit("ghost:"), F.col("id").cast("string")).alias("key")
    )
    probed = sketches.bloom_probe(probes, bits, "key", m_bits=4096, k_hashes=3)
    s = probed.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    load = bits.agg(F.count("*").cast("long").alias("bits_set"))
    return s.crossJoin(F.broadcast(load)).select(
        "n_probes",
        "n_false_pos",
        "bits_set",
        (
            (F.col("n_false_pos") * F.lit(10000)).cast("double")
            / F.col("n_probes").cast("double")
        ).alias("fpr_bp"),
        (F.col("bits_set").cast("double") / 4096.0).alias("fill_ratio"),
    )


_SQL_V = "CAST(embedding AS DOUBLE[]) "


@register(
    "emb_norm_outliers",
    f"""
    WITH e AS (SELECT vec_id, {_SQL_NORMSQ} AS s FROM embeddings),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(s) AS BIGINT) AS s1 FROM e),
    c AS (SELECT n, s1, (s1 - ((s1 % n + n) % n)) // n AS cc FROM m),
    v AS (SELECT CAST(SUM(CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                                     / 10000.0) AS BIGINT)) AS BIGINT) AS sd2s,
                 CAST(SUM(d) AS BIGINT) AS rs
          FROM (SELECT e.s - c.cc AS d FROM e CROSS JOIN c) z)
    SELECT vec_id, s AS normsq_scaled,
           CAST(c.n * (e.s - c.cc) - v.rs AS DOUBLE)
             / nullif(sqrt(greatest(
                 CAST(c.n AS DOUBLE) * (CAST(v.sd2s AS DOUBLE) * 10000.0)
                 - CAST(v.rs AS DOUBLE) * CAST(v.rs AS DOUBLE), 0.0)), 0.0)
             AS z
    FROM e CROSS JOIN c CROSS JOIN v
    ORDER BY abs(CAST(c.n * (e.s - c.cc) - v.rs AS DOUBLE)
                 / nullif(sqrt(greatest(
                     CAST(c.n AS DOUBLE) * (CAST(v.sd2s AS DOUBLE) * 10000.0)
                     - CAST(v.rs AS DOUBLE) * CAST(v.rs AS DOUBLE), 0.0)), 0.0))
             DESC NULLS LAST,
             vec_id
    LIMIT 10
    """,
)
def emb_norm_outliers(spark, sf_dir):
    """Top-10 vector-norm outliers by z-score — the embedding-space
    health check that catches unnormalized batches, dead encoders
    (near-zero norms) and exploded vectors before they poison ANN
    recall.  Deviations use the a_generalized_esd mean-shift
    discipline (r12 retrofit, audit-on-touch): d = s − floor-mean via
    the canonical nonnegative residue, squared deviations floor-scaled
    BEFORE summing — the old common-denominator form s·n − Σs summed
    (n·σ)² terms and overflowed int64 at n³ growth, i.e. around sf1.
    z = (n·d − rs)/√(n·(sd2s·1e4) − rs²), radicand clamped at 0 and a
    zero σ NULLed identically in both engines (constant-norm corpora).
    The top-10 is a distributed TakeOrdered on the |z| expression."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _normsq_col().alias("s"))
    m = e.agg(
        F.count("*").cast("long").alias("n"), F.sum("s").cast("long").alias("s1")
    )
    c = m.select(
        "n", "s1",
        F.expr("(s1 - ((s1 % n + n) % n)) div n").cast("long").alias("cc"),
    )
    withc = e.crossJoin(F.broadcast(c))
    d = (F.col("s") - F.col("cc")).cast("long")
    v = withc.agg(
        F.sum(F.floor((d.cast("double") * d.cast("double")) / 10000.0)
              .cast("long")).cast("long").alias("sd2s"),
        F.sum(d).cast("long").alias("rs"),
    )
    sig = F.nullif(
        F.sqrt(F.greatest(
            F.col("n").cast("double") * (F.col("sd2s").cast("double") * 10000.0)
            - F.col("rs").cast("double") * F.col("rs").cast("double"),
            F.lit(0.0),
        )),
        F.lit(0.0),
    )
    z = (F.col("n") * d - F.col("rs")).cast("double") / sig
    return (
        withc.crossJoin(F.broadcast(v))
        .select("vec_id", F.col("s").alias("normsq_scaled"), z.alias("z"))
        .orderBy(F.abs(F.col("z")).desc_nulls_last(), "vec_id")
        .limit(10)
    )


@register(
    "emb_centroid_shift",
    f"""
    WITH d AS (SELECT label, i.i AS dim,
                      CAST(floor(v[i.i] * 1000000) AS BIGINT) AS x
               FROM (SELECT label, {_SQL_V} AS v FROM embeddings) e,
                    unnest(range(1, len(v) + 1)) i(i)),
    l AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s
          FROM d GROUP BY 1, 2),
    g AS (SELECT dim, CAST(SUM(n) AS BIGINT) AS ng,
                 CAST(SUM(s) AS BIGINT) AS sg
          FROM l GROUP BY 1),
    sq AS (SELECT l.label, CAST(max(l.n) AS BIGINT) AS n_vecs,
                  CAST(SUM(CAST(floor(
                    (CAST(l.s AS DOUBLE) / CAST(l.n AS DOUBLE)
                     - CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE))
                    * (CAST(l.s AS DOUBLE) / CAST(l.n AS DOUBLE)
                       - CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE))
                    / 1000000.0) AS BIGINT)) AS BIGINT) AS shift2_scaled
           FROM l JOIN g USING (dim) GROUP BY 1)
    SELECT label, n_vecs, shift2_scaled,
           sqrt(CAST(shift2_scaled AS DOUBLE) / 1000000.0) AS centroid_shift
    FROM sq
    """,
)
def emb_centroid_shift(spark, sf_dir):
    """Per-label centroid distance from the GLOBAL centroid — the
    cluster-separation / dataset-drift readout (labels whose centroid
    sits at the global mean carry no signal; one far-off label = a
    domain shard).  Per-(label, dim) sums are exact ints; each dim's
    squared gap floor-scales to int64 BEFORE the cross-dim sum, so
    the 64-term addition is order-invariant; one sqrt at the end."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val") * 1000000).cast("long").alias("x"),
    )
    l = d.groupBy("label", "dim").agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    g = l.groupBy("dim").agg(
        F.sum("n").cast("long").alias("ng"), F.sum("s").cast("long").alias("sg")
    )
    gap = F.col("s").cast("double") / F.col("n").cast("double") - F.col(
        "sg"
    ).cast("double") / F.col("ng").cast("double")
    sq = (
        l.join(F.broadcast(g), "dim")
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.sum(F.floor(gap * gap / 1000000.0).cast("long"))
            .cast("long")
            .alias("shift2_scaled"),
        )
    )
    return sq.select(
        "label",
        "n_vecs",
        "shift2_scaled",
        F.sqrt(F.col("shift2_scaled").cast("double") / 1000000.0).alias(
            "centroid_shift"
        ),
    )


@register(
    "emb_cosine_hist",
    f"""
    WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
    p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                 CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> CAST(floor(a.v[i] * b.v[i] * 1000000) AS BIGINT)))
                      AS BIGINT) AS dot,
                 CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> CAST(floor(a.v[i] * a.v[i] * 1000000) AS BIGINT)))
                      AS BIGINT) AS na,
                 CAST(list_sum(list_transform(range(1, len(b.v) + 1),
                      i -> CAST(floor(b.v[i] * b.v[i] * 1000000) AS BIGINT)))
                      AS BIGINT) AS nb
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
    c AS (SELECT CAST(dot AS DOUBLE)
                   / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                   AS cos FROM p)
    SELECT CAST(greatest(least(CAST(floor((cos + 1.0) * 8) AS BIGINT), 15), 0)
                AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM c GROUP BY 1
    """,
)
def emb_cosine_hist(spark, sf_dir):
    """Cosine-similarity histogram over a deterministic linear pair
    sample (consecutive vec_ids — n−1 pairs, never n²): the
    embedding-space geometry fingerprint (anisotropic encoders pile
    mass near one bin; a healthy space spreads).  Dot and norms are
    exact per-term-floored int64 folds; one float chain per pair,
    16-bin histogram aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("v").alias("vb"))
    def fold(u, w):
        return F.aggregate(
            F.zip_with(u, w, lambda x, y: F.floor(x * y * 1000000).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
    p = e.join(b, "vec_id").select(
        fold(F.col("v"), F.col("vb")).alias("dot"),
        fold(F.col("v"), F.col("v")).alias("na"),
        fold(F.col("vb"), F.col("vb")).alias("nb"),
    )
    # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
    cos = F.col("dot").cast("double") / F.nullif(
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")),
        F.lit(0.0),
    )
    c = p.select(cos.alias("cos"))
    return c.groupBy(
        F.greatest(
            F.least(F.floor((F.col("cos") + 1.0) * 8).cast("long"), F.lit(15)),
            F.lit(0),
        )
        .cast("long")
        .alias("bin")
    ).agg(F.count("*").cast("long").alias("n_pairs"))


@register(
    "emb_triplet_margin",
    f"""
    WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
    ap AS (SELECT vec_id, label, v,
                  lead(v) OVER (PARTITION BY label ORDER BY vec_id) AS pv
           FROM e),
    t AS (SELECT a.vec_id, a.v, a.pv, n.v AS nv
          FROM ap a JOIN e n ON n.vec_id = a.vec_id + 1
                             AND n.label <> a.label
          WHERE a.pv IS NOT NULL),
    d AS (SELECT vec_id,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> CAST(floor((v[i] - pv[i]) * (v[i] - pv[i])
                                      * 1000000) AS BIGINT))) AS BIGINT) AS dap,
                 CAST(list_sum(list_transform(range(1, len(v) + 1),
                      i -> CAST(floor((v[i] - nv[i]) * (v[i] - nv[i])
                                      * 1000000) AS BIGINT))) AS BIGINT) AS dan
          FROM t)
    SELECT CAST(count(*) AS BIGINT) AS n_triplets,
           CAST(SUM(CASE WHEN dap >= dan THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(SUM(CASE WHEN dap >= dan THEN 1 ELSE 0 END) * 10000 AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS violation_bp
    FROM d
    """,
)
def emb_triplet_margin(spark, sf_dir):
    """Triplet-margin audit: anchor/positive = consecutive same-label
    vectors (a PARTITIONED lead — no global sort), negative = the
    next differently-labeled vec_id; a violation is d(a,p) ≥ d(a,n) —
    the metric-learning sanity check 'same label should sit closer
    than different label'.  Squared distances are exact per-term-
    floored int64 folds, the verdict an integer comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    wlab = Window.partitionBy("label").orderBy("vec_id")
    ap = e.select(
        "vec_id", "label", "v", F.lead("v").over(wlab).alias("pv")
    ).filter(F.col("pv").isNotNull())
    neg = e.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("nv"),
    )
    t = ap.join(neg, "vec_id").filter(F.col("nlabel") != F.col("label"))
    def d2(u, w):
        return F.aggregate(
            F.zip_with(
                u, w, lambda x, y: F.floor((x - y) * (x - y) * 1000000).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
    d = t.select(
        d2(F.col("v"), F.col("pv")).alias("dap"),
        d2(F.col("v"), F.col("nv")).alias("dan"),
    )
    viol = F.when(F.col("dap") >= F.col("dan"), 1).otherwise(0)
    return d.agg(
        F.count("*").cast("long").alias("n_triplets"),
        F.sum(viol).cast("long").alias("n_violations"),
        (
            (F.sum(viol) * F.lit(10000)).cast("double")
            / F.count("*").cast("double")
        ).alias("violation_bp"),
    )


@register(
    "layout_skipping_sim",
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
      SELECT 'a_natural' AS layout, CAST(event_id AS BIGINT) AS key, gx
      FROM {_HILBERT_LAST}
      UNION ALL
      SELECT 'b_dim_sorted', CAST(gx AS BIGINT), gx FROM {_HILBERT_LAST}
      UNION ALL
      SELECT 'c_hilbert', CAST(d AS BIGINT), gx FROM {_HILBERT_LAST}),
    st AS (SELECT layout, CAST(min(key) AS BIGINT) AS mn,
                  CAST(max(key) AS BIGINT) AS mx
           FROM keyed GROUP BY 1),
    fb AS (SELECT k.layout, k.gx,
                  CASE WHEN st.mx = st.mn THEN 0
                       ELSE least(CAST(floor(CAST(k.key - st.mn AS DOUBLE) * 32
                                  / CAST(st.mx - st.mn AS DOUBLE)) AS BIGINT),
                                  31) END AS f
           FROM keyed k JOIN st USING (layout)),
    files AS (SELECT layout, f, CAST(count(*) AS BIGINT) AS n,
                     CAST(min(gx) AS BIGINT) AS gmn,
                     CAST(max(gx) AS BIGINT) AS gmx,
                     CAST(SUM(CASE WHEN gx BETWEEN 100 AND 120
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_match
              FROM fb GROUP BY 1, 2)
    SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN gmx >= 100 AND gmn <= 120 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit,
           CAST(SUM(CASE WHEN gmx >= 100 AND gmn <= 120 THEN n ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched
    FROM files GROUP BY 1
    """,
)
def layout_skipping_sim(spark, sf_dir):
    """Min/max file-skipping SIMULATION: the same events laid out
    three ways — arrival order, sorted by the filter column, and
    Hilbert-clustered on (user, id-stride) — each cut into 32
    equal-key-width 'files' whose min/max footer stats then prune a
    `user-bucket BETWEEN 100 AND 120` predicate.  The quantified
    answer to 'what does OPTIMIZE buy this table': rows_scanned vs
    rows_matched per layout, from ONE scan + per-layout bucket
    aggregates (the Hilbert walk is the layout_hilbert_key CASE
    arithmetic — map-only).  Natural order scans everything; the 1-D
    sort is optimal for this 1-D predicate; Hilbert pays a bounded
    multi-dimensional tax — the tradeoff you weigh before choosing a
    cluster key."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("long").alias("gx"),
        ((F.col("event_id") / 7).cast("long") % 256).cast("long").alias("gy"),
    )
    out = _hilbert_spark(base).select(
        "event_id", "gx", F.col("d").cast("long").alias("hd")
    )
    keyed = (
        out.select(
            F.lit("a_natural").alias("layout"),
            F.col("event_id").cast("long").alias("key"),
            "gx",
        )
        .unionAll(
            out.select(
                F.lit("b_dim_sorted").alias("layout"),
                F.col("gx").cast("long").alias("key"),
                "gx",
            )
        )
        .unionAll(
            out.select(
                F.lit("c_hilbert").alias("layout"),
                F.col("hd").cast("long").alias("key"),
                "gx",
            )
        )
    )
    st = keyed.groupBy("layout").agg(
        F.min("key").cast("long").alias("mn"), F.max("key").cast("long").alias("mx")
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
    fb = keyed.join(F.broadcast(st), "layout").select(
        "layout", "gx", fcol.alias("f")
    )
    match = F.col("gx").between(100, 120)
    files = fb.groupBy("layout", "f").agg(
        F.count("*").cast("long").alias("n"),
        F.min("gx").cast("long").alias("gmn"),
        F.max("gx").cast("long").alias("gmx"),
        F.sum(F.when(match, 1).otherwise(0)).cast("long").alias("n_match"),
    )
    hit = (F.col("gmx") >= 100) & (F.col("gmn") <= 120)
    return files.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_hit"),
        F.sum(F.when(hit, F.col("n")).otherwise(0)).cast("long").alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matched"),
    )


@register(
    "a_freshness_lag",
    """
    WITH s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                      max(ts) AS latest
               FROM events GROUP BY 1),
    g AS (SELECT max(latest) AS global_latest FROM s)
    SELECT s.event_type, s.n_events, s.latest,
           CAST(floor(epoch(g.global_latest)) AS BIGINT)
             - CAST(floor(epoch(s.latest)) AS BIGINT) AS lag_s
    FROM s CROSS JOIN g
    """,
)
def a_freshness_lag(spark, sf_dir):
    """Per-stream freshness: each event type's latest timestamp and
    its lag behind the freshest stream — the first thing an
    ingestion-health dashboard shows (a type lagging hours = a stuck
    upstream producer).  One aggregate + a 1-row broadcast; lag in
    exact integer seconds."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"), F.max("ts").alias("latest")
    )
    g = s.agg(F.max("latest").alias("global_latest"))
    return s.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "latest",
        (
            F.unix_timestamp("global_latest") - F.unix_timestamp("latest")
        ).cast("long").alias("lag_s"),
    )


@register(
    "a_segment_share_drift",
    """
    WITH b AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM events),
    h AS (SELECT event_type,
                 CASE WHEN (event_id - b.mn) * 2 <= (b.mx - b.mn)
                      THEN 0 ELSE 1 END AS half,
                 CAST(floor(value) AS BIGINT) AS x
          FROM events CROSS JOIN b),
    m AS (SELECT event_type, half, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s
          FROM h GROUP BY 1, 2),
    t AS (SELECT half, CAST(SUM(n) AS BIGINT) AS tot FROM m GROUP BY 1),
    w AS (SELECT m.event_type,
                 max(CASE WHEN m.half = 0 THEN m.n END) AS n0,
                 max(CASE WHEN m.half = 0 THEN m.s END) AS s0,
                 max(CASE WHEN m.half = 0 THEN t.tot END) AS t0,
                 max(CASE WHEN m.half = 1 THEN m.n END) AS n1,
                 max(CASE WHEN m.half = 1 THEN m.s END) AS s1,
                 max(CASE WHEN m.half = 1 THEN t.tot END) AS t1
          FROM m JOIN t USING (half) GROUP BY 1)
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_first, CAST(n1 AS BIGINT) AS n_second,
           CAST(n1 * t0 - n0 * t1 AS DOUBLE) * 10000.0
             / (CAST(t0 AS DOUBLE) * CAST(t1 AS DOUBLE)) AS share_drift_bp,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean_value_drift
    FROM w
    """,
)
def a_segment_share_drift(spark, sf_dir):
    """Segment drift between the first and second half of the stream
    (split at the event_id midpoint — a deterministic time proxy):
    per type, traffic-share drift in basis points and mean-value
    drift — the lightweight PSI stand-in that needs no logarithm.
    Share drift is the exact cross-product form n₁t₀ − n₀t₁ over a
    common denominator; one fact aggregate + 2-row reshape."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("event_id").alias("mn"), F.max("event_id").alias("mx"))
    h = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(
            (F.col("event_id") - F.col("mn")) * 2 <= (F.col("mx") - F.col("mn")), 0
        )
        .otherwise(1)
        .alias("half"),
        F.floor(F.col("value")).cast("long").alias("x"),
    )
    m = h.groupBy("event_type", "half").agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    t = m.groupBy("half").agg(F.sum("n").cast("long").alias("tot"))
    w = (
        m.join(F.broadcast(t), "half")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("half") == 0, F.col("s"))).alias("s0"),
            F.max(F.when(F.col("half") == 0, F.col("tot"))).alias("t0"),
            F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("half") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("half") == 1, F.col("tot"))).alias("t1"),
        )
    )
    return w.select(
        "event_type",
        F.col("n0").cast("long").alias("n_first"),
        F.col("n1").cast("long").alias("n_second"),
        (
            (F.col("n1") * F.col("t0") - F.col("n0") * F.col("t1")).cast("double")
            * F.lit(10000.0)
            / (F.col("t0").cast("double") * F.col("t1").cast("double"))
        ).alias("share_drift_bp"),
        (
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s0").cast("double") / F.col("n0").cast("double")
        ).alias("mean_value_drift"),
    )


@register(
    "cdc_tombstone_compaction",
    f"""
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(floor(value * 100) AS BIGINT) AS v,
                      CASE WHEN {_sql_hex_int("md5('op:' || CAST(event_id AS VARCHAR))", 2)} % 10 = 0
                           THEN 1 ELSE 0 END AS is_delete
               FROM events),
    r AS (SELECT user_id, v, is_delete,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM c),
    last AS (SELECT user_id, v, is_delete FROM r WHERE rn = 1)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(SUM(1 - is_delete) AS BIGINT) AS n_live,
           CAST(SUM(is_delete) AS BIGINT) AS n_tombstoned,
           CAST(SUM(CASE WHEN is_delete = 0 THEN v ELSE 0 END) AS BIGINT)
             AS live_value_checksum
    FROM last
    """,
)
def cdc_tombstone_compaction(spark, sf_dir):
    """CDC log compaction WITH DELETES: each event is an upsert or a
    tombstone (md5-derived 10 % delete ops); last-writer-wins per key
    decides whether the key survives compaction — the Kafka-
    compacted-topic / Delta MERGE-with-deletes state shape that
    cdc_last_writer_state lacks.  One PARTITIONED rank (key-local
    sort), one aggregate; the live-value checksum pins the surviving
    payload exactly."""
    ev = load_table(spark, sf_dir, "events")
    is_del = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("op:"), F.col("event_id").cast("string"))), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.when(is_del, 1).otherwise(0).alias("is_delete"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "v", "is_delete")
    )
    return last.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum(1 - F.col("is_delete")).cast("long").alias("n_live"),
        F.sum("is_delete").cast("long").alias("n_tombstoned"),
        F.sum(F.when(F.col("is_delete") == 0, F.col("v")).otherwise(0))
        .cast("long")
        .alias("live_value_checksum"),
    )


# ---------------------------------------------------------------------------
# Round 7, batch F — bounded-state ML kernels + two exact histograms.
# ---------------------------------------------------------------------------


@register(
    "ml_birch_microclusters",
    f"""
    WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
    a AS (SELECT vec_id,
                 CAST(floor(v[1] * 8) AS BIGINT) AS cx,
                 CAST(floor(v[2] * 8) AS BIGINT) AS cy,
                 CAST(floor(v[1] * 1000000) AS BIGINT) AS x1,
                 CAST(floor(v[2] * 1000000) AS BIGINT) AS x2,
                 CAST(floor((v[1] * v[1] + v[2] * v[2]) * 1000000) AS BIGINT)
                   AS ss
          FROM e),
    cf AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(x1) AS BIGINT) AS ls1,
                  CAST(SUM(x2) AS BIGINT) AS ls2,
                  CAST(SUM(ss) AS BIGINT) AS ssum
           FROM a GROUP BY 1, 2)
    SELECT cx, cy, n,
           CAST(ls1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS centroid_x,
           CAST(ls2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS centroid_y,
           sqrt(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
                - (CAST(ls1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                  * (CAST(ls1 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                - (CAST(ls2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
                  * (CAST(ls2 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0))
             AS radius
    FROM cf WHERE n >= 2
    """,
)
def ml_birch_microclusters(spark, sf_dir):
    """BIRCH-style micro-clustering (the parked round-6 idea): the CF
    (clustering-feature) leaf layer — per threshold-grid cell over
    the first two embedding dims, the mergeable triple (N, LS, SS)
    from which centroid and RMS radius fall out WITHOUT revisiting
    points.  CF triples are exact floor-scaled integers (associative,
    partition-mergeable — the whole point of BIRCH at scale: state is
    |cells|, data is seen once); centroid/radius are one float chain
    per cell.  Cells with n ≥ 2 are the micro-clusters a global
    clusterer would consume."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    v1, v2 = F.element_at("v", 1), F.element_at("v", 2)
    a = e.select(
        F.floor(v1 * 8).cast("long").alias("cx"),
        F.floor(v2 * 8).cast("long").alias("cy"),
        F.floor(v1 * 1000000).cast("long").alias("x1"),
        F.floor(v2 * 1000000).cast("long").alias("x2"),
        F.floor((v1 * v1 + v2 * v2) * 1000000).cast("long").alias("ss"),
    )
    cf = a.groupBy("cx", "cy").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("ls1"),
        F.sum("x2").cast("long").alias("ls2"),
        F.sum("ss").cast("long").alias("ssum"),
    )
    nd = F.col("n").cast("double")
    c1 = F.col("ls1").cast("double") / nd / 1000000.0
    c2 = F.col("ls2").cast("double") / nd / 1000000.0
    return cf.filter(F.col("n") >= 2).select(
        "cx",
        "cy",
        "n",
        c1.alias("centroid_x"),
        c2.alias("centroid_y"),
        F.sqrt(
            F.col("ssum").cast("double") / nd / 1000000.0 - c1 * c1 - c2 * c2
        ).alias("radius"),
    )


def _sql_d2(a: str, b: str) -> str:
    """Exact int64 squared distance between two DOUBLE[] columns."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(floor(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) * 1000000) "
        f"AS BIGINT))) AS BIGINT)"
    )


@register(
    "ml_kmeans_farthest_seeds",
    f"""
    WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
    s1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (SELECT e.vec_id, e.v, {_sql_d2("e.v", "s1.v")} AS dmin
           FROM e CROSS JOIN s1),
    s2 AS (SELECT vec_id, v, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
    d2_ AS (SELECT d1.vec_id, d1.v,
                   least(d1.dmin, {_sql_d2("d1.v", "s2.v")}) AS dmin
            FROM d1 CROSS JOIN s2),
    s3 AS (SELECT vec_id, v, dmin FROM d2_ ORDER BY dmin DESC, vec_id LIMIT 1),
    d3_ AS (SELECT d2_.vec_id, d2_.v,
                   least(d2_.dmin, {_sql_d2("d2_.v", "s3.v")}) AS dmin
            FROM d2_ CROSS JOIN s3),
    s4 AS (SELECT vec_id, dmin FROM d3_ ORDER BY dmin DESC, vec_id LIMIT 1)
    SELECT 1 AS seed_rank, vec_id, CAST(0 AS BIGINT) AS dist_scaled FROM s1
    UNION ALL SELECT 2, vec_id, CAST(dmin AS BIGINT) FROM s2
    UNION ALL SELECT 3, vec_id, CAST(dmin AS BIGINT) FROM s3
    UNION ALL SELECT 4, vec_id, CAST(dmin AS BIGINT) FROM s4
    """,
)
def ml_kmeans_farthest_seeds(spark, sf_dir):
    """Farthest-first k-means seeding (the deterministic core of
    kmeans++/k-means‖ init, k = 4): each pick is the point maximizing
    its distance to the chosen set — 3 sequential distributed
    TakeOrdered(1) argmax passes over exact int64 squared distances
    (per-term floored folds), the running min-distance maintained by
    a broadcast of the single new seed per round.  State is one
    vector per round; the corpus never shuffles.  Feeds
    dedup_semantic_kmeans with better-than-arbitrary initial
    centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def d2(u, w):
        return F.aggregate(
            F.zip_with(
                u, w, lambda x, y: F.floor((x - y) * (x - y) * 1000000).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    s1 = e.orderBy("vec_id").limit(1)
    d = e.crossJoin(F.broadcast(s1.select(F.col("v").alias("c")))).select(
        "vec_id", "v", d2(F.col("v"), F.col("c")).alias("dmin")
    )
    picks = [s1.select(F.lit(1).alias("seed_rank"), "vec_id",
                       F.lit(0).cast("long").alias("dist_scaled"))]
    for rank in (2, 3, 4):
        sk = d.orderBy(F.col("dmin").desc(), "vec_id").limit(1)
        picks.append(
            sk.select(
                F.lit(rank).alias("seed_rank"),
                "vec_id",
                F.col("dmin").cast("long").alias("dist_scaled"),
            )
        )
        if rank < 4:
            d = d.crossJoin(F.broadcast(sk.select(F.col("v").alias("c")))).select(
                "vec_id",
                "v",
                F.least(F.col("dmin"), d2(F.col("v"), F.col("c"))).alias("dmin"),
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


@register(
    "ml_perceptron_batch",
    """
    WITH d AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                      CAST(1 AS BIGINT) AS x0,
                      CAST(n_chars AS BIGINT) AS x1,
                      CAST(length(text) - length(replace(text, ' ', ''))
                           + 1 AS BIGINT) AS x2
               FROM documents),
    u1 AS (SELECT CAST(SUM(y * x0) AS BIGINT) AS w0,
                  CAST(SUM(y * x1) AS BIGINT) AS w1,
                  CAST(SUM(y * x2) AS BIGINT) AS w2
           FROM d),
    u2 AS (SELECT CAST(SUM(CASE WHEN y * (u1.w0 * x0 + u1.w1 * x1 + u1.w2 * x2)
                                     <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS dw0,
                  CAST(SUM(CASE WHEN y * (u1.w0 * x0 + u1.w1 * x1 + u1.w2 * x2)
                                     <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS dw1,
                  CAST(SUM(CASE WHEN y * (u1.w0 * x0 + u1.w1 * x1 + u1.w2 * x2)
                                     <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS dw2
           FROM d CROSS JOIN u1),
    w AS (SELECT u1.w0 + u2.dw0 AS w0, u1.w1 + u2.dw1 AS w1,
                 u1.w2 + u2.dw2 AS w2
          FROM u1 CROSS JOIN u2),
    acc AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN y * (w.w0 * x0 + w.w1 * x1 + w.w2 * x2)
                                      > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok
            FROM d CROSS JOIN w)
    SELECT w.w0 AS bias, w.w1 AS w_chars, w.w2 AS w_tokens,
           acc.n AS n_docs,
           CAST(acc.ok * 10000 AS DOUBLE) / CAST(acc.n AS DOUBLE)
             AS train_acc_bp
    FROM w CROSS JOIN acc
    """,
)
def ml_perceptron_batch(spark, sf_dir):
    """Batch perceptron, 2 unrolled rounds, ALL-INTEGER: weights are
    sums of y·x over the misclassified set (y ∈ {-1, 1}, integer
    features: bias, n_chars, whitespace token count), so no learning-
    rate float ever appears and both engines walk identical
    arithmetic.  Each round is ONE aggregate with the 3-weight state
    on a 1-row broadcast — the linear-classifier training shape at
    any scale.  Output: final weights + training accuracy."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.col("n_chars").cast("long").alias("x1"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + 1
        ).cast("long").alias("x2"),
    )
    u1 = d.agg(
        F.sum(F.col("y") * F.col("x0")).cast("long").alias("w0"),
        F.sum(F.col("y") * F.col("x1")).cast("long").alias("w1"),
        F.sum(F.col("y") * F.col("x2")).cast("long").alias("w2"),
    )
    margin = F.col("y") * (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )
    du = d.crossJoin(F.broadcast(u1)).agg(
        F.sum(F.when(margin <= 0, F.col("y") * F.col("x0")).otherwise(0))
        .cast("long")
        .alias("dw0"),
        F.sum(F.when(margin <= 0, F.col("y") * F.col("x1")).otherwise(0))
        .cast("long")
        .alias("dw1"),
        F.sum(F.when(margin <= 0, F.col("y") * F.col("x2")).otherwise(0))
        .cast("long")
        .alias("dw2"),
    )
    w = u1.crossJoin(F.broadcast(du)).select(
        (F.col("w0") + F.col("dw0")).alias("w0"),
        (F.col("w1") + F.col("dw1")).alias("w1"),
        (F.col("w2") + F.col("dw2")).alias("w2"),
    )
    acc = d.crossJoin(F.broadcast(w)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(margin > 0, 1).otherwise(0)).cast("long").alias("ok"),
        F.max("w0").alias("w0"),
        F.max("w1").alias("w1"),
        F.max("w2").alias("w2"),
    )
    return acc.select(
        F.col("w0").alias("bias"),
        F.col("w1").alias("w_chars"),
        F.col("w2").alias("w_tokens"),
        F.col("n").alias("n_docs"),
        ((F.col("ok") * F.lit(10000)).cast("double") / F.col("n").cast("double")).alias(
            "train_acc_bp"
        ),
    )


@register(
    "a_nps_score",
    """
    WITH b AS (SELECT event_type,
                      CASE WHEN value >= 75 THEN 1 ELSE 0 END AS promoter,
                      CASE WHEN value <= 25 THEN 1 ELSE 0 END AS detractor
               FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(promoter) AS BIGINT) AS n_promoters,
           CAST(SUM(detractor) AS BIGINT) AS n_detractors,
           CAST((SUM(promoter) - SUM(detractor)) * 100 AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS nps
    FROM b GROUP BY 1
    """,
)
def a_nps_score(spark, sf_dir):
    """NPS-style top/bottom-box score per stream: (promoters −
    detractors)·100/n over fixed value thresholds — the simplest
    ordinal-survey rollup, one hash aggregate, one exact division."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.when(F.col("value") >= 75, 1).otherwise(0).alias("promoter"),
        F.when(F.col("value") <= 25, 1).otherwise(0).alias("detractor"),
    )
    return b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("promoter").cast("long").alias("n_promoters"),
        F.sum("detractor").cast("long").alias("n_detractors"),
        (
            ((F.sum("promoter") - F.sum("detractor")) * F.lit(100)).cast("double")
            / F.count("*").cast("double")
        ).alias("nps"),
    )


@register(
    "a_log2_histogram",
    """
    WITH v AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS x
               FROM events WHERE value >= 1),
    b AS (SELECT event_type, CAST(length(bin(x)) AS BIGINT) AS bucket
          FROM v)
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2
    """,
)
def a_log2_histogram(spark, sf_dir):
    """Power-of-two value histogram per stream (bucket = ⌊log₂ x⌋+1,
    computed EXACTLY as the binary-representation length — no
    floating log anywhere): the constant-width skew profile HDR-style
    histograms use, mergeable and bounded at 64 buckets per group."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value") >= 1).select(
        "event_type", F.floor(F.col("value")).cast("long").alias("x")
    )
    b = v.select(
        "event_type", F.length(F.bin(F.col("x"))).cast("long").alias("bucket")
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Round-7 continuation batch A: the parked NEXT_STEPS ideas — Aroon,
# fixed-bucket mergeable quantile sketch, uniform-sample audit,
# two-feature OLS (normal equations).
# ---------------------------------------------------------------------------


@register(
    "w_aroon",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, hi, lo,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                      AS BIGINT) AS rn
          FROM bars),
    e AS (SELECT event_type, day, rn,
                 CAST(max((hi + 10000000) * 100000 + rn) OVER w AS BIGINT) AS ehi,
                 CAST(max((10000000 - lo) * 100000 + rn) OVER w AS BIGINT) AS elo,
                 CAST(count(*) OVER w AS BIGINT) AS nb
          FROM r
          WINDOW w AS (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day,
           CAST(rn - (ehi % 100000) AS BIGINT) AS bars_since_hi,
           CAST(rn - (elo % 100000) AS BIGINT) AS bars_since_lo,
           CAST((13 - (rn - (ehi % 100000))) * 100 AS DOUBLE) / 13.0 AS aroon_up,
           CAST((13 - (rn - (elo % 100000))) * 100 AS DOUBLE) / 13.0 AS aroon_dn,
           CAST((13 - (rn - (ehi % 100000))) * 100 AS DOUBLE) / 13.0
             - CAST((13 - (rn - (elo % 100000))) * 100 AS DOUBLE) / 13.0
             AS aroon_osc
    FROM e WHERE nb = 14
    """,
)
def w_aroon(spark, sf_dir):
    """14-bar Aroon indicator per event-type price series: bars since
    the window high / low, mapped to AroonUp = 100·(13−since_hi)/13
    and AroonDown (Chande, 1995 — public formula).  The windowed
    argmax is INTEGER-ENCODED — max((hi+offset)·10⁵ + rn) packs the
    tie-broken-latest bar index into the low digits, so both engines
    agree bit-exactly with no max_by/struct-comparison semantics in
    play (ties resolve to the most recent bar, the indicator's
    convention).  Windows are partitioned by series id over the
    bounded day grain — no global sort; rn < 10⁵ holds for any
    calendar span (day grain), and the 10⁷ offset keeps the encoding
    positive for any 1e2-scaled value domain down to −10⁵."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("rn").rowsBetween(
        -13, Window.currentRow
    )
    r = bars.select(
        "event_type", "day", "hi", "lo",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("rn"),
    )
    e = r.select(
        "event_type", "day", "rn",
        F.max((F.col("hi") + 10000000) * 100000 + F.col("rn"))
        .over(wl)
        .cast("long")
        .alias("ehi"),
        F.max((F.lit(10000000) - F.col("lo")) * 100000 + F.col("rn"))
        .over(wl)
        .cast("long")
        .alias("elo"),
        F.count("*").over(wl).cast("long").alias("nb"),
    )
    since_hi = (F.col("rn") - F.col("ehi") % 100000).cast("long")
    since_lo = (F.col("rn") - F.col("elo") % 100000).cast("long")
    up = ((F.lit(13) - since_hi) * 100).cast("double") / 13.0
    dn = ((F.lit(13) - since_lo) * 100).cast("double") / 13.0
    return e.filter(F.col("nb") == 14).select(
        "event_type", "day",
        since_hi.alias("bars_since_hi"),
        since_lo.alias("bars_since_lo"),
        up.alias("aroon_up"),
        dn.alias("aroon_dn"),
        (up - dn).alias("aroon_osc"),
    )


@register(
    "sketch_tdigest_quantiles",
    """
    WITH v AS (SELECT event_type,
                      CAST(floor(value * 10000) AS BIGINT) AS x
               FROM events WHERE value IS NOT NULL),
    st AS (SELECT event_type, CAST(min(x) AS BIGINT) AS mn,
                  CAST(max(x) AS BIGINT) AS mx,
                  CAST(count(*) AS BIGINT) AS n
           FROM v GROUP BY 1),
    c AS (SELECT v.event_type,
                 CAST(floor(CAST((v.x - st.mn) * 128 AS DOUBLE)
                            / CAST(st.mx - st.mn + 1 AS DOUBLE)) AS BIGINT)
                   AS bucket,
                 CAST(count(*) AS BIGINT) AS bn,
                 CAST(SUM(v.x) AS BIGINT) AS bs
          FROM v JOIN st ON st.event_type = v.event_type
          GROUP BY 1, 2),
    cc AS (SELECT event_type, bucket, bn, bs,
                  CAST(SUM(bn) OVER (PARTITION BY event_type ORDER BY bucket)
                       AS BIGINT) AS cum
           FROM c),
    t AS (SELECT st.event_type, st.n, q.q,
                 CAST(floor(CAST(q.q * st.n + 99 AS DOUBLE) / 100.0) AS BIGINT)
                   AS thr
          FROM st CROSS JOIN (SELECT unnest([1, 25, 50, 75, 99]) AS q) q)
    SELECT t.event_type, CAST(t.q AS BIGINT) AS q, t.n, t.thr,
           CAST(arg_min(cc.bucket, cc.bucket) AS BIGINT) AS bucket,
           CAST(arg_min(cc.bn, cc.bucket) AS BIGINT) AS centroid_n,
           CAST(arg_min(cc.bs, cc.bucket) AS DOUBLE)
             / CAST(arg_min(cc.bn, cc.bucket) AS DOUBLE) / 10000.0
             AS est_value
    FROM t JOIN cc ON cc.event_type = t.event_type AND cc.cum >= t.thr
    GROUP BY 1, 2, 3, 4
    """,
)
def sketch_tdigest_quantiles(spark, sf_dir):
    """Fixed-resolution mergeable quantile sketch (t-digest-style
    centroids on a deterministic scale — Dunning & Ertl's centroid
    idea with a FIXED 128-bin equi-width scale function so two engines
    build bit-identical state): per series, centroids (bucket, n, Σx)
    merge by plain addition; quantile q reads the first bucket whose
    cumulative count crosses ⌈q·N⌉ and reports that centroid's mean.
    State is ≤128 rows per group at every point — the 100 TB rollup
    shape — and the cumulative window is PARTITIONED per series over
    ≤128 buckets, never a global sort.  arg_min/min_by on the unique
    bucket key picks the crossing centroid identically on both
    engines.  NULL values are excluded symmetrically — a NULL lands in
    a NULL bucket whose position in the cumulative window diverges
    between engines (r13 null-probe find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type", F.floor(F.col("value") * 10000).cast("long").alias("x")
    )
    st = v.groupBy("event_type").agg(
        F.min("x").cast("long").alias("mn"),
        F.max("x").cast("long").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    c = (
        v.join(st, "event_type")
        .select(
            "event_type",
            F.floor(
                ((F.col("x") - F.col("mn")) * 128).cast("double")
                / (F.col("mx") - F.col("mn") + 1).cast("double")
            )
            .cast("long")
            .alias("bucket"),
            "x",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("long").alias("bn"),
            F.sum("x").cast("long").alias("bs"),
        )
    )
    cc = c.select(
        "event_type", "bucket", "bn", "bs",
        F.sum("bn")
        .over(Window.partitionBy("event_type").orderBy("bucket"))
        .cast("long")
        .alias("cum"),
    )
    t = st.select(
        "event_type", "n",
        F.explode(F.array(*[F.lit(q) for q in (1, 25, 50, 75, 99)])).alias("q"),
    ).select(
        "event_type", "n", "q",
        F.floor((F.col("q") * F.col("n") + 99).cast("double") / 100.0)
        .cast("long")
        .alias("thr"),
    )
    j = t.join(
        cc,
        (cc.event_type == t.event_type) & (F.col("cum") >= F.col("thr")),
    ).select(
        t.event_type.alias("event_type"),
        F.col("q").cast("long").alias("q"),
        "n", "thr", "bucket", "bn", "bs",
    )
    return j.groupBy("event_type", "q", "n", "thr").agg(
        F.min_by("bucket", "bucket").cast("long").alias("bucket"),
        F.min_by("bn", "bucket").cast("long").alias("centroid_n"),
        (
            F.min_by("bs", "bucket").cast("double")
            / F.min_by("bn", "bucket").cast("double")
            / 10000.0
        ).alias("est_value"),
    )


@register(
    "o8_uniform_sample_audit",
    """
    WITH s AS (SELECT event_type FROM events
               ORDER BY md5('samp:' || CAST(event_id AS VARCHAR)), event_id
               LIMIT 500),
    samp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample
             FROM s GROUP BY 1),
    pop AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pop
            FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
    SELECT pop.event_type, pop.n_pop,
           CAST(coalesce(samp.n_sample, 0) AS BIGINT) AS n_sample,
           CAST(500 * pop.n_pop AS DOUBLE) / CAST(tot.n AS DOUBLE) AS expected,
           (CAST(coalesce(samp.n_sample, 0) AS DOUBLE)
            - CAST(500 * pop.n_pop AS DOUBLE) / CAST(tot.n AS DOUBLE))
           / sqrt(CAST(500 * pop.n_pop AS DOUBLE) / CAST(tot.n AS DOUBLE))
             AS pearson_resid
    FROM pop LEFT JOIN samp ON samp.event_type = pop.event_type
    CROSS JOIN tot
    """,
)
def o8_uniform_sample_audit(spark, sf_dir):
    """Deterministic uniform-sample audit (the reservoir-sampling
    replacement for a shared-nothing engine): rank rows by a salted
    md5 of the row key and keep the first 500 — every executor
    proposes its local top-500 and the driver merges (Spark's
    TakeOrderedAndProject), which IS distributed reservoir sampling
    with a deterministic priority instead of an RNG.  The audit
    compares each stratum's sample share to its population share via
    Pearson residuals (n_s − e)/√e — per-stratum output, no
    cross-stratum float sum.  orderBy().limit(k) per the round-7
    top-k rule: no global window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    key = F.md5(F.concat(F.lit("samp:"), F.col("event_id").cast("string")))
    s = ev.select("event_type", key.alias("k"), "event_id").orderBy(
        "k", "event_id"
    ).limit(500)
    samp = s.groupBy("event_type").agg(F.count("*").cast("long").alias("n_sample"))
    pop = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n_pop"))
    tot = ev.agg(F.count("*").cast("long").alias("n"))
    e = (F.col("n_pop") * 500).cast("double") / F.col("n").cast("double")
    ns = F.coalesce(F.col("n_sample"), F.lit(0)).cast("long")
    return (
        pop.join(samp, "event_type", "left")
        .crossJoin(tot)
        .select(
            "event_type", "n_pop",
            ns.alias("n_sample"),
            e.alias("expected"),
            ((ns.cast("double") - e) / F.sqrt(e)).alias("pearson_resid"),
        )
    )


@register(
    "a_ols_two_feature",
    """
    WITH f AS (
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS x1,
             CAST(floor(c.c_acctbal) AS BIGINT) AS x2,
             CAST(floor(CAST(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                             AS DOUBLE) / 100000.0) AS BIGINT) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x1) AS BIGINT) AS sx1,
                 CAST(SUM(x2) AS BIGINT) AS sx2,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x1 * x1) AS BIGINT) AS sx11,
                 CAST(SUM(x1 * x2) AS BIGINT) AS sx12,
                 CAST(SUM(x2 * x2) AS BIGINT) AS sx22,
                 CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
                 CAST(SUM(x2 * y) AS BIGINT) AS sx2y,
                 CAST(SUM(y * y) AS BIGINT) AS syy
          FROM f),
    a AS (SELECT n,
                 CAST(n AS DOUBLE) * CAST(sx11 AS DOUBLE)
                   - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) AS a11,
                 CAST(n AS DOUBLE) * CAST(sx12 AS DOUBLE)
                   - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS a12,
                 CAST(n AS DOUBLE) * CAST(sx22 AS DOUBLE)
                   - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) AS a22,
                 CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE)
                   - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1,
                 CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE)
                   - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2,
                 CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syyc,
                 CAST(sx1 AS DOUBLE) AS sx1d, CAST(sx2 AS DOUBLE) AS sx2d,
                 CAST(sy AS DOUBLE) AS syd
          FROM m)
    SELECT n,
           (a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12) AS beta1,
           (a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12) AS beta2,
           (syd
            - (a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12) * sx1d
            - (a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12) * sx2d)
           / CAST(n AS DOUBLE) AS beta0,
           ((a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12) * c1
            + (a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12) * c2) / syyc
             AS r_squared
    FROM a
    """,
)
def a_ols_two_feature(spark, sf_dir):
    """Two-feature OLS by the normal equations (spend_k$ ~ n_orders +
    acctbal_$ per customer), solved in closed form with Cramer's rule
    over centered cross-moments — the distributed linear-regression
    kernel: ONE map-side-combining aggregate produces the ten exact
    integer sufficient statistics (features floor-scaled so Σx² stays
    in int64 at 100×), and every product that could overflow int64
    (n·Σx², Σx·Σy) is computed in doubles — IEEE multiplication is
    correctly rounded, so both engines agree bitwise.  β, R² are
    fixed expression chains over those moments; output is one row
    regardless of input size."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.count("o_orderkey").cast("long").alias("x1"),
            F.floor(
                F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100000.0
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            "x1", "y", F.floor(F.col("c_acctbal")).cast("long").alias("x2")
        )
    )
    m = f.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a11 = nd * d("sx11") - d("sx1") * d("sx1")
    a12 = nd * d("sx12") - d("sx1") * d("sx2")
    a22 = nd * d("sx22") - d("sx2") * d("sx2")
    c1 = nd * d("sx1y") - d("sx1") * d("sy")
    c2 = nd * d("sx2y") - d("sx2") * d("sy")
    syyc = nd * d("syy") - d("sy") * d("sy")
    det = a11 * a22 - a12 * a12
    b1 = (a22 * c1 - a12 * c2) / det
    b2 = (a11 * c2 - a12 * c1) / det
    return m.select(
        "n",
        b1.alias("beta1"),
        b2.alias("beta2"),
        ((d("sy") - b1 * d("sx1") - b2 * d("sx2")) / nd).alias("beta0"),
        ((b1 * c1 + b2 * c2) / syyc).alias("r_squared"),
    )


def _hll_intersection_oracle(p: int = 8) -> str:
    m = 1 << p
    q = 50
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * float(m) * float(m) * float(2**q)
    b = _sql_hex_int("h", p // 4)
    shl = f"(CAST(1 AS BIGINT) << ({q} - r))"
    zero = f"(CAST(1 AS BIGINT) << {q})"
    return f"""
    WITH d AS (
      SELECT DISTINCT source AS g, md5(sh) AS h FROM (
        SELECT source, unnest({_SQL_SHINGLES}) AS sh
        FROM (SELECT source, {_SQL_TOKS} AS tk FROM documents) t0) t),
    tl AS (SELECT g, h, substr(h, {p // 4 + 1}, 12) AS tail FROM d),
    rho AS (
      SELECT g, {b} AS b,
             4 * length(regexp_extract(tail, '^0*')) +
             CASE substr(tail, length(regexp_extract(tail, '^0*')) + 1, 1)
               WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
               WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
               ELSE 0 END + 1 AS rho
      FROM tl),
    regs AS (SELECT g, b, max(rho) AS r FROM rho GROUP BY 1, 2),
    pg AS (SELECT g, count(*) AS nb, CAST(SUM({shl}) AS BIGINT) AS s_obs
           FROM regs GROUP BY 1),
    eg AS (SELECT g, {num!r} / CAST(s_obs + ({m} - nb) * {zero} AS DOUBLE)
                    AS est FROM pg),
    ps AS (SELECT a.g AS s1, c.g AS s2
           FROM (SELECT DISTINCT g FROM regs) a
           JOIN (SELECT DISTINCT g FROM regs) c ON a.g < c.g),
    u AS (SELECT p.s1, p.s2, r.b, max(r.r) AS r
          FROM ps p JOIN regs r ON r.g = p.s1 OR r.g = p.s2
          GROUP BY 1, 2, 3),
    pu AS (SELECT s1, s2, count(*) AS nb,
                  CAST(SUM({shl}) AS BIGINT) AS s_obs
           FROM u GROUP BY 1, 2),
    eu AS (SELECT s1, s2,
                  {num!r} / CAST(s_obs + ({m} - nb) * {zero} AS DOUBLE) AS est_u
           FROM pu),
    ex AS (SELECT x.g AS s1, y.g AS s2, CAST(count(*) AS BIGINT) AS n_exact
           FROM d x JOIN d y ON y.h = x.h AND x.g < y.g GROUP BY 1, 2)
    SELECT eu.s1, eu.s2,
           e1.est AS n_est_a, e2.est AS n_est_b, eu.est_u AS n_est_union,
           e1.est + e2.est - eu.est_u AS n_est_inter,
           CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact_inter
    FROM eu JOIN eg e1 ON e1.g = eu.s1 JOIN eg e2 ON e2.g = eu.s2
    LEFT JOIN ex ON ex.s1 = eu.s1 AND ex.s2 = eu.s2
    """


@register("sketch_hll_intersection", _hll_intersection_oracle())
def sketch_hll_intersection(spark, sf_dir):
    """Pairwise source-overlap cardinalities from HLL sketches via
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    UNION sketch is just max(register) over the two register sets —
    the only set operation HLL supports natively, which is exactly why
    intersections go through I–E (Flajolet et al., AofA 2007).  The
    register fan-out join is bounded by |sources|²·2^p rows no matter
    the corpus size; the exact intersection (distinct-hash self-join)
    rides along as the audit column.  Negative I–E estimates on
    near-disjoint pairs are the sketch's documented noise floor, not a
    bug — emitted as-is so the recall/error tradeoff is visible."""
    from dicomdb_spark.functions import sketches

    p, m, q = 8, 256, 50
    num = (0.7213 / (1.0 + 1.079 / m)) * float(m) * float(m) * float(2**q)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select("source", F.explode(text.shingles("text", 3)).alias("sh"))
    regs = sketches.hll_registers(sh, "source", "sh", p=p)
    eg = sketches.hll_estimate_from_registers(regs, "source", p=p).select(
        "source", F.col("n_est").alias("est")
    )
    srcs = regs.select("source").distinct()
    ps = (
        srcs.alias("a")
        .join(srcs.alias("c"), F.col("a.source") < F.col("c.source"))
        .select(F.col("a.source").alias("s1"), F.col("c.source").alias("s2"))
    )
    u = (
        regs.join(ps, regs.source == ps.s1)
        .select("s1", "s2", "b", "r")
        .unionAll(
            regs.join(ps, regs.source == ps.s2).select("s1", "s2", "b", "r")
        )
        .groupBy("s1", "s2", "b")
        .agg(F.max("r").alias("r"))
    )
    pu = u.groupBy("s1", "s2").agg(
        F.count("*").alias("nb"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({q} - r AS INT))")
        ).alias("s_obs"),
    )
    eu = pu.select(
        "s1", "s2",
        (
            F.lit(num)
            / (
                F.col("s_obs")
                + (F.lit(m) - F.col("nb")) * F.lit(2**q).cast("long")
            ).cast("double")
        ).alias("est_u"),
    )
    dh = (
        docs.select(
            F.col("source").alias("g"),
            F.explode(text.shingles("text", 3)).alias("sh"),
        )
        .select("g", F.md5("sh").alias("h"))
        .distinct()
    )
    ex = (
        dh.alias("x")
        .join(
            dh.alias("y"),
            (F.col("y.h") == F.col("x.h")) & (F.col("x.g") < F.col("y.g")),
        )
        .groupBy(F.col("x.g").alias("s1"), F.col("y.g").alias("s2"))
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    e1 = eg.select(F.col("source").alias("s1"), F.col("est").alias("n_est_a"))
    e2 = eg.select(F.col("source").alias("s2"), F.col("est").alias("n_est_b"))
    return (
        eu.join(e1, "s1")
        .join(e2, "s2")
        .join(ex, ["s1", "s2"], "left")
        .select(
            "s1", "s2", "n_est_a", "n_est_b",
            F.col("est_u").alias("n_est_union"),
            (F.col("n_est_a") + F.col("n_est_b") - F.col("est_u")).alias(
                "n_est_inter"
            ),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact_inter"),
        )
    )


def _ktruss_ctes(rounds: int, min_sup: int) -> tuple[str, str]:
    """Truss peeling of the minhash pair graph: round i keeps the edges
    of e{i-1} that close at least ``min_sup`` of its triangles.  Returns
    the CTE text through e{rounds} and the per-round edge-count UNION."""
    chain, _ = _chain("e0", rounds, lambda i, prev: {
        f"t{i}": f"""
      SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
      FROM {prev} e1
      JOIN {prev} e2 ON e2.id1 = e1.id2
      JOIN {prev} e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2""",
        f"s{i}": f"""
      SELECT id1, id2, count(*) AS sup FROM (
        SELECT a AS id1, b AS id2 FROM t{i}
        UNION ALL SELECT b, c FROM t{i}
        UNION ALL SELECT a, c FROM t{i}) t
      GROUP BY 1, 2""",
        f"e{i}": f"""SELECT e.id1, e.id2 FROM {prev} e
              JOIN s{i} s ON s.id1 = e.id1 AND s.id2 = e.id2
              WHERE s.sup >= {min_sup}""",
    })
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS round, CAST(count(*) AS BIGINT) AS n_edges "
        f"FROM e{i}"
        for i in range(rounds + 1)
    )
    return f"""{_minhash_pairs_cte()},
    e0 AS MATERIALIZED (SELECT id1, id2 FROM pairs),
    {chain}""", unions


def _ktruss_peel_oracle(rounds: int = 3) -> str:
    ctes, unions = _ktruss_ctes(rounds, 1)
    return f"""
    {ctes}
    {unions}
    """


@register("graph_ktruss_peel", _ktruss_peel_oracle())
def graph_ktruss_peel(spark, sf_dir):
    """Iterative 3-truss peeling over the near-dup candidate graph
    (Cohen, 2008): each round recomputes per-edge triangle support on
    the CURRENT edge set and deletes edges in zero triangles, because
    deleting an edge can orphan its neighbors' triangles — the fixed
    point is the maximal subgraph where every edge closes a triangle.
    Three bounded rounds (the driver-replayable unrolling; production
    loops to fixpoint), each round one oriented triangle enumeration
    + one aggregate + one semi-join — O(rounds) Spark jobs with the
    edge set persisted between rounds, never any all-pairs work.
    Output: surviving-edge count per peel round — the convergence
    curve."""
    # localCheckpoint truncates lineage: each peel round references the
    # PREVIOUS round 9× (3 aliases × 3 credit unions), so carrying the
    # full minhash plan through 3 rounds would grow the logical plan
    # ~9³× and OOM the driver at plan-rewrite time — the iterative-
    # algorithm twin of the label-propagation persist in llm/dedup.
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
    for i in range(1, 4):
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
            .filter(F.col("sup") >= 1)
            .select("id1", "id2")
            .transform(cut_lineage)
        )
        counts.append(
            edges.agg(F.count("*").cast("long").alias("n_edges")).select(
                F.lit(i).cast("long").alias("round"), "n_edges"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


@register(
    "w_paa_sax",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day,
                 CAST(floor(CAST(p AS DOUBLE) / 1000.0) AS BIGINT) AS pk,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                      AS BIGINT) AS rn
          FROM bars),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(pk) AS BIGINT) AS sp,
                  CAST(SUM(pk * pk) AS BIGINT) AS spp
           FROM r GROUP BY 1),
    paa AS (SELECT event_type,
                   CAST(floor(CAST(rn - 1 AS DOUBLE) / 4.0) AS BIGINT) AS seg,
                   CAST(count(*) AS BIGINT) AS n_bars,
                   CAST(SUM(pk) AS BIGINT) AS s
            FROM r GROUP BY 1, 2),
    z AS (SELECT paa.event_type, paa.seg, paa.n_bars,
                 CAST(paa.s AS DOUBLE) / CAST(paa.n_bars AS DOUBLE) AS paa_mean,
                 (CAST(paa.s AS DOUBLE) / CAST(paa.n_bars AS DOUBLE)
                  - CAST(st.sp AS DOUBLE) / CAST(st.n AS DOUBLE))
                 / (sqrt(CAST(st.n AS DOUBLE) * CAST(st.spp AS DOUBLE)
                         - CAST(st.sp AS DOUBLE) * CAST(st.sp AS DOUBLE))
                    / CAST(st.n AS DOUBLE)) AS z
          FROM paa JOIN st ON st.event_type = paa.event_type)
    SELECT event_type, seg, n_bars, paa_mean, z,
           CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
                WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS sax_symbol
    FROM z
    """,
)
def w_paa_sax(spark, sf_dir):
    """Piecewise Aggregate Approximation + SAX symbolization of each
    event-type price series (Lin, Keogh, Lonardi & Chiu, DMKD 2003):
    4-bar segment means, z-scored against the series' own moments,
    mapped to a 4-symbol Gaussian-breakpoint alphabet (±0.6745 = the
    quartiles of N(0,1)) — the classic time-series indexing transform.
    Segment sums and the series moments are exact integers (prices
    pre-scaled to fit Σx² in int64 at 100×); the z-score is a single
    shared expression chain so both engines take identical CASE
    branches.  Everything is partitioned per series — segments via
    partitioned row_number, no global sort."""
    bars = _bars(spark, sf_dir)
    r = bars.select(
        "event_type",
        F.floor(F.col("p").cast("double") / 1000.0).cast("long").alias("pk"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("rn"),
    )
    st = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pk").cast("long").alias("sp"),
        F.sum(F.col("pk") * F.col("pk")).cast("long").alias("spp"),
    )
    paa = (
        r.select(
            "event_type",
            F.floor((F.col("rn") - 1).cast("double") / 4.0)
            .cast("long")
            .alias("seg"),
            "pk",
        )
        .groupBy("event_type", "seg")
        .agg(
            F.count("*").cast("long").alias("n_bars"),
            F.sum("pk").cast("long").alias("s"),
        )
    )
    pm = F.col("s").cast("double") / F.col("n_bars").cast("double")
    mean = F.col("sp").cast("double") / F.col("n").cast("double")
    std = (
        F.sqrt(
            F.col("n").cast("double") * F.col("spp").cast("double")
            - F.col("sp").cast("double") * F.col("sp").cast("double")
        )
        / F.col("n").cast("double")
    )
    # nullif: constant series → std 0 → NULL like DuckDB x/0
    z = (pm - mean) / F.nullif(std, F.lit(0.0))
    return paa.join(st, "event_type").select(
        "event_type", "seg", "n_bars",
        pm.alias("paa_mean"),
        z.alias("z"),
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
        .alias("sax_symbol"),
    )


@register(
    "a_interarrival_mixture_mom",
    """
    WITH g AS (SELECT event_type,
                      CAST(epoch_us(ts) AS BIGINT)
                      - lag(CAST(epoch_us(ts) AS BIGINT))
                        OVER (PARTITION BY event_type ORDER BY ts, event_id)
                        AS gap_us
               FROM events),
    gs AS (SELECT event_type,
                  CAST(floor(CAST(gap_us AS DOUBLE) / 1000000.0) AS BIGINT)
                    AS gsec
           FROM g WHERE gap_us IS NOT NULL),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(gsec) AS BIGINT) AS s1
          FROM gs GROUP BY 1),
    c AS (SELECT event_type, n_gaps, s1,
                 (s1 - ((s1 % n_gaps + n_gaps) % n_gaps)) // n_gaps AS cc
          FROM m),
    v AS (SELECT gs.event_type,
                 CAST(SUM(gs.gsec - c.cc) AS BIGINT) AS rs,
                 CAST(SUM((gs.gsec - c.cc) * (gs.gsec - c.cc)) AS BIGINT)
                   AS s2,
                 CAST(SUM(CAST(floor(CAST(gs.gsec - c.cc AS DOUBLE)
                                     * CAST(gs.gsec - c.cc AS DOUBLE)
                                     * CAST(gs.gsec - c.cc AS DOUBLE)
                                     / 10000.0) AS BIGINT)) AS BIGINT) AS s3s
          FROM gs JOIN c USING (event_type) GROUP BY 1),
    k AS (SELECT c.event_type, c.n_gaps,
                 CAST(c.n_gaps AS DOUBLE) AS nd,
                 CAST(c.cc AS DOUBLE) AS ccd,
                 CAST(c.s1 AS DOUBLE) AS s1d,
                 CAST(v.rs AS DOUBLE) AS rsd,
                 CAST(v.s2 AS DOUBLE) AS s2d,
                 CAST(v.s3s AS DOUBLE) * 10000.0 AS s3d
          FROM c JOIN v USING (event_type)),
    u AS (SELECT event_type, n_gaps,
                 s1d / nd AS u1,
                 (s2d + 2.0 * ccd * rsd + nd * ccd * ccd) / nd / 2.0 AS u2,
                 (s3d + 3.0 * ccd * s2d + 3.0 * ccd * ccd * rsd
                  + nd * ccd * ccd * ccd) / nd / 6.0 AS u3
          FROM k),
    ab AS (SELECT event_type, n_gaps, u1,
                  u2 - u1 * u1 AS den,
                  (u3 - u1 * u2) / nullif(u2 - u1 * u1, 0.0) AS a,
                  (u1 * u3 - u2 * u2) / nullif(u2 - u1 * u1, 0.0) AS b
           FROM u)
    SELECT event_type, n_gaps, u1 AS mean_gap_s,
           CASE WHEN den > 0.0 AND a * a - 4.0 * b > 0.0
                THEN (a + sqrt(a * a - 4.0 * b)) / 2.0 END AS tau1_s,
           CASE WHEN den > 0.0 AND a * a - 4.0 * b > 0.0
                THEN (a - sqrt(a * a - 4.0 * b)) / 2.0 END AS tau2_s,
           CASE WHEN den > 0.0 AND a * a - 4.0 * b > 0.0
                THEN (u1 - (a - sqrt(a * a - 4.0 * b)) / 2.0)
                     / ((a + sqrt(a * a - 4.0 * b)) / 2.0
                        - (a - sqrt(a * a - 4.0 * b)) / 2.0) END AS p_slow
    FROM ab
    """,
)
def a_interarrival_mixture_mom(spark, sf_dir):
    """Two-component hyperexponential (H₂) fit of each stream's
    inter-arrival distribution by the method of moments: the mean
    sojourns τ₁, τ₂ are the roots of t² − at + b with a, b closed
    forms in the first three moments, and the mixing weight follows
    from m₁ (Whitt, 1982 — the standard bursty-traffic model queueing
    capacity planning uses when CV > 1).  Gaps floor to whole seconds.
    The second/third moments use the MEAN-SHIFTED floor-scaled
    discipline (r13 retrofit, emb_norm_outliers recipe):
    canonical-residue floor-mean cc per stream, d = g − cc exact int64
    with 0 ≤ Σd < n, Σd² exact and Σ floor(d³/1e4) summed as int64 —
    the old raw Σg³ overflowed int64 at a single gap ≳ 2.6e6 s (a
    month); headroom now rides the centered spread (natural |d| ≲ 1e3
    s → n ≤ 9e13 gaps per stream; a stream mixing second- and
    year-scale gaps still computes exactly to n ≈ 2e3 instead of
    crashing at n = 1).  Raw moments reconstruct through the binomial
    shift identities Σg² = Σd² + 2cc·Σd + n·cc² and Σg³ = Σd³ +
    3cc·Σd² + 3cc²·Σd + n·cc³ in one identical double chain on both
    engines; the root extraction is a fixed per-group expression chain
    guarded by den>0 ∧ disc>0 (NULL otherwise; a zero den — all-tie
    stream — NULLs a/b via nullif, DuckDB x/0.0 is NULL where ANSI
    Spark would throw) — both engines take identical branches.  Output
    is one row per stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gs = (
        ev.select("event_type", (us - F.lag(us).over(w)).alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("gap_us").cast("double") / 1000000.0)
            .cast("long")
            .alias("gsec"),
        )
    )
    m = gs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gsec").cast("long").alias("s1"),
    )
    c = m.select(
        "event_type", "n_gaps", "s1",
        F.expr("(s1 - ((s1 % n_gaps + n_gaps) % n_gaps)) div n_gaps")
        .cast("long")
        .alias("cc"),
    )
    dv = (F.col("gsec") - F.col("cc")).cast("long")
    ddb = dv.cast("double")
    v = (
        gs.join(F.broadcast(c.select("event_type", "cc")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(dv).cast("long").alias("rs"),
            F.sum(dv * dv).cast("long").alias("s2"),
            F.sum(F.floor(ddb * ddb * ddb / 10000.0).cast("long"))
            .cast("long")
            .alias("s3s"),
        )
    )
    nd = F.col("n_gaps").cast("double")
    ccd = F.col("cc").cast("double")
    rsd = F.col("rs").cast("double")
    s2d = F.col("s2").cast("double")
    s3d = F.col("s3s").cast("double") * 10000.0
    u1 = F.col("s1").cast("double") / nd
    u2 = (s2d + F.lit(2.0) * ccd * rsd + nd * ccd * ccd) / nd / 2.0
    u3 = (
        s3d + F.lit(3.0) * ccd * s2d + F.lit(3.0) * ccd * ccd * rsd
        + nd * ccd * ccd * ccd
    ) / nd / 6.0
    den = u2 - u1 * u1
    # nullif: an all-zero-gap stream → den exactly 0 → NULL a/b like
    # DuckDB x/0 (den<0 or >0 cases never divide by zero)
    a = (u3 - u1 * u2) / F.nullif(u2 - u1 * u1, F.lit(0.0))
    b = (u1 * u3 - u2 * u2) / F.nullif(u2 - u1 * u1, F.lit(0.0))
    disc = a * a - 4.0 * b
    ok = (den > 0.0) & (disc > 0.0)
    t1 = (a + F.sqrt(disc)) / 2.0
    t2 = (a - F.sqrt(disc)) / 2.0
    return c.join(v, "event_type").select(
        "event_type", "n_gaps",
        u1.alias("mean_gap_s"),
        F.when(ok, t1).alias("tau1_s"),
        F.when(ok, t2).alias("tau2_s"),
        F.when(ok, (u1 - t2) / (t1 - t2)).alias("p_slow"),
    )


# ---------------------------------------------------------------------------
# Round-7 continuation batch B: classical statistics kernels.
# ---------------------------------------------------------------------------


@register(
    "a_anova_oneway",
    """
    WITH v AS (SELECT event_type,
                      CAST(floor(value * 100) AS BIGINT) AS x
               FROM events),
    g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
                 CAST(SUM(x) AS BIGINT) AS s_g
          FROM v GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ss
            FROM v),
    b AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                                     / CAST(n_g AS DOUBLE) * 10000.0)
                               AS BIGINT)) AS BIGINT) AS gsq
          FROM g)
    SELECT b.k, tot.n,
           CAST(b.gsq AS DOUBLE) / 10000.0
             - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
               / CAST(tot.n AS DOUBLE) AS ss_between,
           CAST(tot.ss AS DOUBLE) - CAST(b.gsq AS DOUBLE) / 10000.0 AS ss_within,
           ((CAST(b.gsq AS DOUBLE) / 10000.0
             - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
               / CAST(tot.n AS DOUBLE)) / CAST(b.k - 1 AS DOUBLE))
           / ((CAST(tot.ss AS DOUBLE) - CAST(b.gsq AS DOUBLE) / 10000.0)
              / CAST(tot.n - b.k AS DOUBLE)) AS f_stat
    FROM b CROSS JOIN tot
    """,
)
def a_anova_oneway(spark, sf_dir):
    """One-way ANOVA F across event-type groups on 1e2-scaled values:
    SSB = Σ_g s_g²/n_g − S²/N, SSW = ΣΣx² − Σ_g s_g²/n_g, F =
    (SSB/(k−1))/(SSW/(N−k)).  Per-group sums are exact integers; the
    only cross-group float reduction (Σ_g s_g²/n_g) is floor-scaled to
    int64 per group before summing — the dsum discipline applied to a
    DERIVED double, so the reduction is order-independent and both
    engines agree bitwise.  Two hash aggregates + a 1-row cross join;
    the group table is |types| rows at any scale."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("x")
    )
    g = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
    )
    tot = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    term = (
        F.col("s_g").cast("double")
        * F.col("s_g").cast("double")
        / F.col("n_g").cast("double")
        * 10000.0
    )
    b = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.floor(term).cast("long")).cast("long").alias("gsq"),
    )
    gsqd = F.col("gsq").cast("double") / 10000.0
    corr = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    ssb = gsqd - corr
    ssw = F.col("ss").cast("double") - gsqd
    return b.crossJoin(tot).select(
        "k", "n",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        (
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


@register(
    "a_cramers_v",
    """
    WITH c AS (SELECT event_type AS rk, CAST(dayofweek(ts) AS BIGINT) AS ck,
                      CAST(count(*) AS BIGINT) AS o
               FROM events GROUP BY 1, 2),
    rm AS (SELECT rk, CAST(SUM(o) AS BIGINT) AS nr FROM c GROUP BY 1),
    cm AS (SELECT ck, CAST(SUM(o) AS BIGINT) AS nc FROM c GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM c),
    cell AS (SELECT c.rk, c.ck, c.o,
                    CAST(rm.nr AS DOUBLE) * CAST(cm.nc AS DOUBLE)
                      / CAST(n.n AS DOUBLE) AS e
             FROM c JOIN rm ON rm.rk = c.rk JOIN cm ON cm.ck = c.ck
             CROSS JOIN n),
    chi AS (SELECT CAST(SUM(CAST(floor((CAST(o AS DOUBLE) - e)
                                       * (CAST(o AS DOUBLE) - e) / e
                                       * 1000000.0) AS BIGINT)) AS BIGINT)
                     AS chi_s,
                   CAST(count(DISTINCT rk) AS BIGINT) AS r,
                   CAST(count(DISTINCT ck) AS BIGINT) AS c
            FROM cell)
    SELECT chi.r, chi.c, n.n,
           CAST(chi.chi_s AS DOUBLE) / 1000000.0 AS chi2,
           sqrt(CAST(chi.chi_s AS DOUBLE) / 1000000.0
                / (CAST(n.n AS DOUBLE)
                   * CAST(least(chi.r - 1, chi.c - 1) AS DOUBLE)))
             AS cramers_v
    FROM chi CROSS JOIN n
    """,
)
def a_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the event-type × day-of-week
    contingency table: V = √(χ²/(N·min(r−1,c−1))) — the normalized
    association measure a raw χ² (a_chi_square) can't give because χ²
    grows with N.  Per-cell (O−E)²/E terms are floor-scaled to int64
    before the cross-cell reduction (order-independent, engine-exact);
    the contingency table is |types|·7 rows at any scale, so
    everything after the first aggregate is driver-trivial."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.col("event_type").alias("rk"),
        F.dayofweek("ts").cast("long").alias("ck"),
    ).agg(F.count("*").cast("long").alias("o"))
    rm = c.groupBy("rk").agg(F.sum("o").cast("long").alias("nr"))
    cm = c.groupBy("ck").agg(F.sum("o").cast("long").alias("nc"))
    n = c.agg(F.sum("o").cast("long").alias("n"))
    e = (
        F.col("nr").cast("double")
        * F.col("nc").cast("double")
        / F.col("n").cast("double")
    )
    cell = c.join(rm, "rk").join(cm, "ck").crossJoin(n).select(
        "rk", "ck", "o", e.alias("e")
    )
    od = F.col("o").cast("double")
    chi = cell.agg(
        F.sum(F.floor((od - F.col("e")) * (od - F.col("e")) / F.col("e") * 1000000.0).cast("long"))
        .cast("long")
        .alias("chi_s"),
        F.countDistinct("rk").cast("long").alias("r"),
        F.countDistinct("ck").cast("long").alias("c"),
    )
    chid = F.col("chi_s").cast("double") / 1000000.0
    return chi.crossJoin(n).select(
        "r", "c", "n",
        chid.alias("chi2"),
        F.sqrt(
            chid
            / (
                F.col("n").cast("double")
                * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
            )
        ).alias("cramers_v"),
    )


@register(
    "a_theil_sen_daily",
    """
    WITH d AS (SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
                      CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS rev
               FROM orders GROUP BY 1, 2),
    p AS (SELECT a.grp,
                 CAST(b.rev - a.rev AS DOUBLE)
                   / CAST(datediff('day', a.day, b.day) AS DOUBLE) / 100.0
                   AS slope,
                 a.day AS d1, b.day AS d2
          FROM d a JOIN d b ON b.grp = a.grp AND b.day > a.day),
    r AS (SELECT grp, slope,
                 CAST(row_number() OVER (PARTITION BY grp
                                         ORDER BY slope, d1, d2) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
          FROM p)
    SELECT grp, m AS n_pairs, slope AS ts_slope_per_day
    FROM r WHERE rn = (m + 1) // 2
    """,
)
def a_theil_sen_daily(spark, sf_dir):
    """Theil–Sen robust trend of daily revenue per priority class: the
    (lower) median of all pairwise slopes (Sen, JASA 1968) — immune to
    outlier days where OLS is not.  The pairwise self-join is over the
    DAY GRAIN (calendar-bounded: 10 years ≈ 3.7k rows/group → ≤7M
    slope pairs per group at ANY data scale, since the fact table was
    pre-aggregated); the median pick is a partitioned rank with a
    unique (slope, d1, d2) tiebreak.  Slopes are one division of exact
    integers, identical on both engines.

    r13 optimization (guide §2.4/§4.2): the SQL oracle keeps the
    pair-rows-and-window form, but the Spark plan selects the median
    slope per group with a numpy kernel over the DAY GRAIN — the
    priority domain has only 5 keys, so the old d⋈d self-join and the
    row_number window both ran at parallelism ≤5 while shuffling every
    pair row (~14M at sf0.1); only ~2.4k (grp, day, rev) rows per
    group now cross the Arrow boundary, pair slopes are enumerated in
    vectorized blocks, and the k-th smallest comes from np.partition
    (exact selection).  Arithmetic is IEEE-identical: rev fits double
    exactly (≪2⁵³), so (Δrev)/(Δday)/100.0 is the old expression's op
    sequence.  The rank's (d1, d2) tiebreak cannot change the RESULT:
    slope leads the sort, so the row at any fixed rank inside a tie
    block carries the same slope value, and only (grp, m, slope) is
    emitted.  (A first rewrite enumerated the pairs with in-plan
    nested transform/slice; interpreted HOF lambdas made it 3× SLOWER
    than the join — measured and rejected, see OPTIMIZATION_r13.md.)"""
    import numpy as np
    import pandas as pd

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        days = pdf["day"].to_numpy("datetime64[D]").astype("int64")
        order = np.argsort(days)  # days unique within the group
        days = days[order]
        rev = pdf["rev"].to_numpy("float64")[order]  # exact: |rev| << 2**53
        n = len(days)
        m = n * (n - 1) // 2
        if m == 0:
            return pd.DataFrame(
                {"grp": pd.Series(dtype=object),
                 "n_pairs": pd.Series(dtype="int64"),
                 "ts_slope_per_day": pd.Series(dtype="float64")}
            )
        slopes = np.empty(m, dtype="float64")
        pos = 0
        for i in range(n - 1):
            c = n - 1 - i
            dd = (days[i + 1:] - days[i]).astype("float64")
            slopes[pos:pos + c] = (rev[i + 1:] - rev[i]) / dd / 100.0
            pos += c
        k = (m + 1) // 2
        val = np.partition(slopes, k - 1)[k - 1]
        return pd.DataFrame(
            {"grp": [pdf["grp"].iloc[0]], "n_pairs": [m],
             "ts_slope_per_day": [val]}
        )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    return d.groupBy("grp").applyInPandas(
        one, schema="grp string, n_pairs long, ts_slope_per_day double"
    )


@register(
    "a_hodges_lehmann",
    """
    WITH d AS (SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS day,
                      CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS rev
               FROM orders GROUP BY 1, 2),
    w AS (SELECT a.grp, CAST(a.rev + b.rev AS BIGINT) AS s2,
                 a.day AS d1, b.day AS d2
          FROM d a JOIN d b ON b.grp = a.grp AND b.day >= a.day),
    r AS (SELECT grp, s2,
                 CAST(row_number() OVER (PARTITION BY grp
                                         ORDER BY s2, d1, d2) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
          FROM w)
    SELECT grp, m AS n_walsh,
           CAST(s2 AS DOUBLE) / 2.0 / 100.0 AS hl_location
    FROM r WHERE rn = (m + 1) // 2
    """,
)
def a_hodges_lehmann(spark, sf_dir):
    """Hodges–Lehmann location estimator per priority class: the
    (lower) median of the Walsh averages (xᵢ+xⱼ)/2, i ≤ j — the
    rank-based center the Wilcoxon test inverts to, robust where the
    mean is not.  Walsh sums stay exact integers until one final
    /2/100 rescale; pairs are over the calendar-bounded day grain and
    the median pick is a partitioned unique-tiebreak rank, same scale
    shape as a_theil_sen_daily.

    r13 optimization (guide §2.4/§4.2): same numpy-selection move as
    a_theil_sen_daily — the 5-key self-join + window ran at
    parallelism ≤5 over ~14M shuffled pair rows; the Walsh sums are
    now enumerated in vectorized blocks over the calendar-bounded day
    grain (i ≤ j pairs include the diagonal) and the k-th smallest
    comes from np.partition.  rev sums fit double exactly (≪2⁵³), so
    rev_i + rev_j then /2.0/100.0 is the old op sequence.  The
    (d1, d2) tiebreak cannot change the result: s2 leads the sort, so
    any fixed rank inside a tie block carries the same s2, and only
    (grp, m, s2) is emitted."""
    import numpy as np
    import pandas as pd

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        rev = pdf["rev"].to_numpy("float64")  # exact: |rev| << 2**53
        n = len(rev)
        if n == 0:
            return pd.DataFrame(
                {"grp": pd.Series(dtype=object),
                 "n_walsh": pd.Series(dtype="int64"),
                 "hl_location": pd.Series(dtype="float64")}
            )
        m = n * (n + 1) // 2
        walsh = np.empty(m, dtype="float64")
        pos = 0
        for i in range(n):
            c = n - i
            walsh[pos:pos + c] = rev[i:] + rev[i]
            pos += c
        k = (m + 1) // 2
        s2 = np.partition(walsh, k - 1)[k - 1]
        return pd.DataFrame(
            {"grp": [pdf["grp"].iloc[0]], "n_walsh": [m],
             "hl_location": [s2 / 2.0 / 100.0]}
        )

    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    return d.groupBy("grp").applyInPandas(
        one, schema="grp string, n_walsh long, hl_location double"
    )


@register(
    "a_capture_recapture",
    """
    WITH w1 AS (SELECT DISTINCT event_type, user_id FROM events
                WHERE CAST(ts AS DATE) < DATE '2024-01-08'),
    w2 AS (SELECT DISTINCT event_type, user_id FROM events
           WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
             AND CAST(ts AS DATE) < DATE '2024-01-15'),
    n1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n1 FROM w1 GROUP BY 1),
    n2 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n2 FROM w2 GROUP BY 1),
    m AS (SELECT w1.event_type, CAST(count(*) AS BIGINT) AS m
          FROM w1 JOIN w2 ON w2.event_type = w1.event_type
                         AND w2.user_id = w1.user_id
          GROUP BY 1),
    tru AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
            FROM events GROUP BY 1)
    SELECT n1.event_type, n1.n1, n2.n2,
           CAST(coalesce(m.m, 0) AS BIGINT) AS n_both,
           CAST((n1.n1 + 1) * (n2.n2 + 1) AS DOUBLE)
             / CAST(coalesce(m.m, 0) + 1 AS DOUBLE) - 1.0 AS chapman_est,
           tru.n_true
    FROM n1 JOIN n2 ON n2.event_type = n1.event_type
    LEFT JOIN m ON m.event_type = n1.event_type
    JOIN tru ON tru.event_type = n1.event_type
    """,
)
def a_capture_recapture(spark, sf_dir):
    """Capture–recapture population estimate per stream: users seen in
    week 1 are the 'marked' sample, week 2 the recapture; Chapman's
    bias-corrected Lincoln–Petersen (n₁+1)(n₂+1)/(m+1) − 1 estimates
    the true active population, emitted next to the exact distinct
    count for the audit.  Three distinct-aggregates and one semi-join
    on (type, user) — every intermediate is user-grain or smaller, and
    the estimator is one division."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w1 = ev.filter(day < F.lit("2024-01-08").cast("date")).select(
        "event_type", "user_id"
    ).distinct()
    w2 = ev.filter(
        (day >= F.lit("2024-01-08").cast("date"))
        & (day < F.lit("2024-01-15").cast("date"))
    ).select("event_type", "user_id").distinct()
    n1 = w1.groupBy("event_type").agg(F.count("*").cast("long").alias("n1"))
    n2 = w2.groupBy("event_type").agg(F.count("*").cast("long").alias("n2"))
    m = (
        w1.join(w2, ["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("m"))
    )
    tru = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_true")
    )
    mm = F.coalesce(F.col("m"), F.lit(0)).cast("long")
    return (
        n1.join(n2, "event_type")
        .join(m, "event_type", "left")
        .join(tru, "event_type")
        .select(
            "event_type", "n1", "n2",
            mm.alias("n_both"),
            (
                ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
                / (mm + 1).cast("double")
                - 1.0
            ).alias("chapman_est"),
            "n_true",
        )
    )


@register(
    "a_spc_control_chart",
    """
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS x
               FROM events GROUP BY 1, 2),
    st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s,
                  CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                      / 10000.0) AS BIGINT)) AS BIGINT) AS ssk
           FROM d GROUP BY 1),
    z AS (SELECT d.event_type, d.day,
                 (CAST(d.x AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                 / (sqrt(greatest(
                           CAST(st.n AS DOUBLE) * (CAST(st.ssk AS DOUBLE) * 10000.0)
                           - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE), 0.0))
                    / CAST(st.n AS DOUBLE)) AS z
          FROM d JOIN st ON st.event_type = d.event_type),
    f AS (SELECT event_type, day, z,
                 CASE WHEN z > 3.0 OR z < -3.0 THEN 1 ELSE 0 END AS rule1,
                 CASE WHEN
                   (CASE WHEN z > 2.0 THEN 1 ELSE 0 END
                    + CASE WHEN lag(z, 1) OVER w > 2.0 THEN 1 ELSE 0 END
                    + CASE WHEN lag(z, 2) OVER w > 2.0 THEN 1 ELSE 0 END) >= 2
                   OR
                   (CASE WHEN z < -2.0 THEN 1 ELSE 0 END
                    + CASE WHEN lag(z, 1) OVER w < -2.0 THEN 1 ELSE 0 END
                    + CASE WHEN lag(z, 2) OVER w < -2.0 THEN 1 ELSE 0 END) >= 2
                 THEN 1 ELSE 0 END AS rule2
          FROM z WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, z,
           CAST(rule1 AS BIGINT) AS rule1, CAST(rule2 AS BIGINT) AS rule2
    FROM f
    """,
)
def a_spc_control_chart(spark, sf_dir):
    """Statistical-process-control chart over each stream's daily
    total: Western Electric rule 1 (|z| > 3σ) and rule 2 (2-of-3
    consecutive points beyond 2σ on the same side) against the
    series' own centerline and sigma (Western Electric handbook,
    1956).  The daily x² moment is floor-rescaled per row so the
    series variance comes from exact integers at any scale; z is one
    shared expression chain and the 2-of-3 scan is two partitioned
    lags — day-grain everywhere."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("x")
    )
    xd = F.col("x").cast("double")
    st = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.floor(xd * xd / 10000.0).cast("long")).cast("long").alias("ssk"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    std = (
        # greatest-0 clamp: floor-scaling discards up to 1e4 per row, so
        # a constant series' radicand can go fractionally negative —
        # DuckDB sqrt(negative) ERRORS (clamped identically in the
        # oracle); std 0 then NULLs the z division in both engines
        F.sqrt(F.greatest(
            nd * (F.col("ssk").cast("double") * 10000.0)
            - F.col("s").cast("double") * F.col("s").cast("double"),
            F.lit(0.0),
        ))
        / nd
    )
    z = d.join(st, "event_type").select(
        "event_type", "day",
        # nullif: constant series → std 0 → NULL like DuckDB x/0
        ((xd - mean) / F.nullif(std, F.lit(0.0))).alias("z"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    hi = lambda c: F.when(c > 2.0, 1).otherwise(0)  # noqa: E731
    lo = lambda c: F.when(c < -2.0, 1).otherwise(0)  # noqa: E731
    zc = F.col("z")
    rule1 = F.when((zc > 3.0) | (zc < -3.0), 1).otherwise(0)
    rule2 = F.when(
        (
            hi(zc) + hi(F.lag("z", 1).over(w)) + hi(F.lag("z", 2).over(w)) >= 2
        )
        | (lo(zc) + lo(F.lag("z", 1).over(w)) + lo(F.lag("z", 2).over(w)) >= 2),
        1,
    ).otherwise(0)
    return z.select(
        "event_type", "day", "z",
        rule1.cast("long").alias("rule1"),
        rule2.cast("long").alias("rule2"),
    )


@register(
    "a_mcnemar_test",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    dk AS (SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                   AS rn
           FROM days),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM days),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events),
    p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
          WHERE event_type = 'purchase'),
    pr AS (SELECT p.user_id, dk.rn FROM p JOIN dk ON dk.day = p.day),
    s AS (SELECT user_id, rn,
                 lead(rn) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
                 lag(rn) OVER (PARTITION BY user_id ORDER BY rn) AS prv
          FROM pr),
    ct AS (SELECT
             CAST(SUM(CASE WHEN s.nxt = s.rn + 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN s.rn <= nd.n_days - 1
                            AND (s.nxt IS NULL OR s.nxt > s.rn + 1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN s.rn >= 2
                            AND (s.prv IS NULL OR s.prv < s.rn - 1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM s CROSS JOIN nd)
    SELECT a, b, c,
           CAST(nu.n_users * (nd.n_days - 1) - a - b - c AS BIGINT) AS d,
           CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
             AS mcnemar_chi2
    FROM ct CROSS JOIN nd CROSS JOIN nu WHERE b + c > 0
    """,
)
def a_mcnemar_test(spark, sf_dir):
    """McNemar's paired-proportion test on day-over-day purchase
    behavior: each (user, day→day+1) is a matched pair, χ² =
    (b−c)²/(b+c) over the discordant cells (McNemar, Psychometrika
    1947) — the right test when the SAME subjects are measured twice,
    where a two-sample z would overstate confidence.  SPARSE plan
    (round 8): the old user×day presence grid densified to
    |users|·|days| rows — bounded on a 30-day fixture but dwarfing
    the sparse purchase relation on years of history.  Now each
    purchase day is mapped to its rank in the bounded calendar
    dimension, a = pairs of CONSECUTIVE purchase ranks (lead = rn+1),
    b = purchases not followed next day (rn ≤ D−1, lead ≠ rn+1),
    c = purchases not preceded the prior day (rn ≥ 2, lag ≠ rn−1),
    and the concordant-negative cell is arithmetic:
    d = U·(D−1) − a − b − c.  Cost is O(|purchase days|) after the
    day-grain dedup — the grid never materializes on either engine."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    days = ev.select(day.alias("day")).distinct()
    dk = days.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("rn"),
    )  # bounded: one row per calendar day
    nd = days.agg(F.count("*").cast("long").alias("n_days"))
    nu = ev.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", day.alias("day"))
        .distinct()
    )
    pr = p.join(dk, "day").select("user_id", "rn")
    w = Window.partitionBy("user_id").orderBy("rn")
    s = pr.select(
        "user_id", "rn",
        F.lead("rn").over(w).alias("nxt"),
        F.lag("rn").over(w).alias("prv"),
    )
    ct = s.crossJoin(nd).agg(
        F.sum(F.when(F.col("nxt") == F.col("rn") + 1, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(
            F.when(
                (F.col("rn") <= F.col("n_days") - 1)
                & (F.col("nxt").isNull() | (F.col("nxt") > F.col("rn") + 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("rn") >= 2)
                & (F.col("prv").isNull() | (F.col("prv") < F.col("rn") - 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
    )
    return (
        ct.crossJoin(nd)
        .crossJoin(nu)
        .filter(F.col("b") + F.col("c") > 0)
        .select(
            "a", "b", "c",
            (
                F.col("n_users") * (F.col("n_days") - 1)
                - F.col("a") - F.col("b") - F.col("c")
            )
            .cast("long")
            .alias("d"),
            (
                ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
                    "double"
                )
                / (F.col("b") + F.col("c")).cast("double")
            ).alias("mcnemar_chi2"),
        )
    )


# ---------------------------------------------------------------------------
# Round-7 continuation batch C: technical-analysis windows over the
# shared per-(event_type, day) bars.  "Close" proxy = floor(p / vol)
# (the day's mean value, floored to an exact 1e2-scaled integer) —
# floor of a correctly-rounded IEEE division is bit-identical on both
# engines, so downstream arithmetic stays integer-exact.
# ---------------------------------------------------------------------------

_SQL_CL = "CAST(floor(CAST(p AS DOUBLE) / CAST(vol AS DOUBLE)) AS BIGINT)"


def _cl_col():
    return F.floor(F.col("p").cast("double") / F.col("vol").cast("double")).cast(
        "long"
    )


@register(
    "w_williams_r",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, {_SQL_CL} AS cl,
                 CAST(max(hi) OVER w AS BIGINT) AS hh,
                 CAST(min(lo) OVER w AS BIGINT) AS ll,
                 CAST(count(*) OVER w AS BIGINT) AS nw
          FROM bars
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, cl, hh, ll,
           CAST((hh - cl) * (-100) AS DOUBLE) / CAST(hh - ll AS DOUBLE)
             AS williams_r
    FROM r WHERE nw = 14 AND hh > ll
    """,
)
def w_williams_r(spark, sf_dir):
    """Williams %R (14-day) per series: where the day's close sits in
    the rolling INTRADAY high/low envelope, scaled to [−100, 0]
    (Williams, 1973) — the overbought/oversold gauge that, unlike
    w_stochastic_k's daily-total range, uses the true intraday
    extremes.  Rolling max(hi)/min(lo) windows partitioned by series;
    %R is one exact-integer division."""
    bars = _bars(spark, sf_dir)
    w14 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    r = bars.select(
        "event_type", "day", _cl_col().alias("cl"),
        F.max("hi").over(w14).cast("long").alias("hh"),
        F.min("lo").over(w14).cast("long").alias("ll"),
        F.count("*").over(w14).cast("long").alias("nw"),
    )
    return r.filter((F.col("nw") == 14) & (F.col("hh") > F.col("ll"))).select(
        "event_type", "day", "cl", "hh", "ll",
        (
            ((F.col("hh") - F.col("cl")) * F.lit(-100)).cast("double")
            / (F.col("hh") - F.col("ll")).cast("double")
        ).alias("williams_r"),
    )


@register(
    "w_mfi_money_flow",
    f"""
    WITH {_SQL_BARS},
    t AS (SELECT event_type, day, vol,
                 hi + lo + {_SQL_CL} AS tp3
          FROM bars),
    s AS (SELECT event_type, day,
                 tp3 * vol AS mf,
                 tp3 - lag(tp3) OVER (PARTITION BY event_type ORDER BY day)
                   AS ch
          FROM t),
    w AS (SELECT event_type, day,
                 CAST(SUM(CASE WHEN ch > 0 THEN mf ELSE 0 END) OVER w
                      AS BIGINT) AS pos_mf,
                 CAST(SUM(CASE WHEN ch < 0 THEN mf ELSE 0 END) OVER w
                      AS BIGINT) AS neg_mf,
                 CAST(count(ch) OVER w AS BIGINT) AS nch
          FROM s
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, pos_mf, neg_mf,
           CAST(pos_mf * 100 AS DOUBLE) / CAST(pos_mf + neg_mf AS DOUBLE)
             AS mfi
    FROM w WHERE nch = 14 AND pos_mf + neg_mf > 0
    """,
)
def w_mfi_money_flow(spark, sf_dir):
    """14-day Money Flow Index per series: volume-weighted RSI over
    the typical price 3·TP = hi + lo + close (the ×3 scale cancels in
    the ratio, so TP never leaves integers).  Raw money flow TP·vol is
    classified by the sign of the TP change (one partitioned lag),
    rolling gain/loss sums stay exact int64, and MFI = 100·pos/(pos+
    neg) is the single closing division."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    w14 = wl.rowsBetween(-13, Window.currentRow)
    t = bars.select(
        "event_type", "day", "vol",
        (F.col("hi") + F.col("lo") + _cl_col()).alias("tp3"),
    )
    s = t.select(
        "event_type", "day",
        (F.col("tp3") * F.col("vol")).alias("mf"),
        (F.col("tp3") - F.lag("tp3").over(wl)).alias("ch"),
    )
    w = s.select(
        "event_type", "day",
        F.sum(F.when(F.col("ch") > 0, F.col("mf")).otherwise(0))
        .over(w14)
        .cast("long")
        .alias("pos_mf"),
        F.sum(F.when(F.col("ch") < 0, F.col("mf")).otherwise(0))
        .over(w14)
        .cast("long")
        .alias("neg_mf"),
        F.count("ch").over(w14).cast("long").alias("nch"),
    )
    return w.filter(
        (F.col("nch") == 14) & (F.col("pos_mf") + F.col("neg_mf") > 0)
    ).select(
        "event_type", "day", "pos_mf", "neg_mf",
        (
            (F.col("pos_mf") * F.lit(100)).cast("double")
            / (F.col("pos_mf") + F.col("neg_mf")).cast("double")
        ).alias("mfi"),
    )


@register(
    "w_stochastic_d",
    f"""
    WITH {_SQL_BARS},
    r AS (SELECT event_type, day, p,
                 CAST(min(p) OVER w AS BIGINT) AS lo14,
                 CAST(max(p) OVER w AS BIGINT) AS hi14,
                 CAST(count(*) OVER w AS BIGINT) AS nw
          FROM bars
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    k AS (SELECT event_type, day,
                 CAST((p - lo14) * 100 AS DOUBLE) / CAST(hi14 - lo14 AS DOUBLE)
                   AS pct_k
          FROM r WHERE nw = 14 AND hi14 > lo14),
    d AS (SELECT event_type, day, pct_k,
                 lag(pct_k, 1) OVER w AS k1, lag(pct_k, 2) OVER w AS k2
          FROM k WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day, pct_k,
           (pct_k + k1 + k2) / 3.0 AS pct_d
    FROM d WHERE k1 IS NOT NULL AND k2 IS NOT NULL
    """,
)
def w_stochastic_d(spark, sf_dir):
    """Stochastic %D — the 3-bar smoothing of %K that generates the
    classic crossover signal.  The 3-term mean is written as ONE
    explicit (k + lag₁ + lag₂)/3 expression rather than a windowed
    float SUM, so the addition order is pinned by the expression tree
    and both engines agree bitwise; %K itself is recomputed from the
    same exact-integer envelope as w_stochastic_k."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    w14 = wl.rowsBetween(-13, Window.currentRow)
    r = bars.select(
        "event_type", "day", "p",
        F.min("p").over(w14).cast("long").alias("lo14"),
        F.max("p").over(w14).cast("long").alias("hi14"),
        F.count("*").over(w14).cast("long").alias("nw"),
    )
    k = r.filter((F.col("nw") == 14) & (F.col("hi14") > F.col("lo14"))).select(
        "event_type", "day",
        (
            ((F.col("p") - F.col("lo14")) * F.lit(100)).cast("double")
            / (F.col("hi14") - F.col("lo14")).cast("double")
        ).alias("pct_k"),
    )
    d = k.select(
        "event_type", "day", "pct_k",
        F.lag("pct_k", 1).over(wl).alias("k1"),
        F.lag("pct_k", 2).over(wl).alias("k2"),
    )
    return d.filter(F.col("k1").isNotNull() & F.col("k2").isNotNull()).select(
        "event_type", "day", "pct_k",
        ((F.col("pct_k") + F.col("k1") + F.col("k2")) / 3.0).alias("pct_d"),
    )


@register(
    "w_pivot_points",
    f"""
    WITH {_SQL_BARS},
    t AS (SELECT event_type, day, hi, lo, {_SQL_CL} AS cl FROM bars),
    l AS (SELECT event_type, day,
                 lag(hi) OVER w AS ph, lag(lo) OVER w AS pl,
                 lag(cl) OVER w AS pc
          FROM t WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day,
           CAST(ph + pl + pc AS DOUBLE) / 3.0 / 100.0 AS pivot,
           (2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0)
            - CAST(pl AS DOUBLE)) / 100.0 AS r1,
           (2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0)
            - CAST(ph AS DOUBLE)) / 100.0 AS s1,
           (CAST(ph + pl + pc AS DOUBLE) / 3.0
            + CAST(ph - pl AS DOUBLE)) / 100.0 AS r2,
           (CAST(ph + pl + pc AS DOUBLE) / 3.0
            - CAST(ph - pl AS DOUBLE)) / 100.0 AS s2
    FROM l WHERE ph IS NOT NULL
    """,
)
def w_pivot_points(spark, sf_dir):
    """Classic floor-trader pivot levels projected from the PREVIOUS
    bar's high/low/close: P = (H+L+C)/3, R1 = 2P − L, S1 = 2P − H,
    R2/S2 = P ± (H−L) — the support/resistance grid intraday systems
    precompute each morning.  Three partitioned lags of exact
    integers, then fixed per-row expression chains; zero joins, zero
    extra shuffles beyond the one day-grain sort."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    t = bars.select("event_type", "day", "hi", "lo", _cl_col().alias("cl"))
    lagged = t.select(
        "event_type", "day",
        F.lag("hi").over(wl).alias("ph"),
        F.lag("lo").over(wl).alias("pl"),
        F.lag("cl").over(wl).alias("pc"),
    )
    p3 = (F.col("ph") + F.col("pl") + F.col("pc")).cast("double")
    piv = p3 / 3.0
    return lagged.filter(F.col("ph").isNotNull()).select(
        "event_type", "day",
        (piv / 100.0).alias("pivot"),
        ((2.0 * piv - F.col("pl").cast("double")) / 100.0).alias("r1"),
        ((2.0 * piv - F.col("ph").cast("double")) / 100.0).alias("s1"),
        ((piv + (F.col("ph") - F.col("pl")).cast("double")) / 100.0).alias("r2"),
        ((piv - (F.col("ph") - F.col("pl")).cast("double")) / 100.0).alias("s2"),
    )


@register(
    "w_overnight_gap",
    f"""
    WITH {_SQL_BARS},
    t AS (SELECT event_type, day, {_SQL_CL} AS cl FROM bars),
    l AS (SELECT event_type, day, cl,
                 lag(cl) OVER (PARTITION BY event_type ORDER BY day) AS pc
          FROM t)
    SELECT event_type, day, cl, pc,
           CAST(cl - pc AS DOUBLE) / CAST(pc AS DOUBLE) AS pct_gap,
           CAST(CASE WHEN CAST(cl - pc AS DOUBLE) / CAST(pc AS DOUBLE) > 0.02
                       OR CAST(cl - pc AS DOUBLE) / CAST(pc AS DOUBLE) < -0.02
                     THEN 1 ELSE 0 END AS BIGINT) AS gap_flag
    FROM l WHERE pc IS NOT NULL AND pc > 0
    """,
)
def w_overnight_gap(spark, sf_dir):
    """Day-over-day gap of each series' mean level: pct change of the
    close proxy plus a ±2% gap flag — the session-boundary
    discontinuity screen (gap-and-go / gap-fill setups; for a metrics
    stream, the overnight regression detector).  One partitioned lag,
    one exact-integer division, identical CASE branches on both
    engines."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    t = bars.select("event_type", "day", _cl_col().alias("cl"))
    lg = t.select(
        "event_type", "day", "cl", F.lag("cl").over(wl).alias("pc")
    )
    pct = (F.col("cl") - F.col("pc")).cast("double") / F.col("pc").cast("double")
    return lg.filter(F.col("pc").isNotNull() & (F.col("pc") > 0)).select(
        "event_type", "day", "cl", "pc",
        pct.alias("pct_gap"),
        F.when((pct > 0.02) | (pct < -0.02), 1)
        .otherwise(0)
        .cast("long")
        .alias("gap_flag"),
    )


@register(
    "w_cci",
    f"""
    WITH {_SQL_BARS},
    t AS (SELECT event_type, day, hi + lo + {_SQL_CL} AS tp3,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                      AS BIGINT) AS rn
          FROM bars),
    s AS (SELECT event_type, day, tp3, rn,
                 CAST(SUM(tp3) OVER w AS BIGINT) AS s20,
                 CAST(count(*) OVER w AS BIGINT) AS nw
          FROM t
          WINDOW w AS (PARTITION BY event_type ORDER BY rn
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    md AS (SELECT r.event_type, r.day, r.tp3, r.s20,
                  CAST(SUM(CAST(floor(abs(CAST(i.tp3 AS DOUBLE)
                                          - CAST(r.s20 AS DOUBLE) / 20.0)
                                       * 100.0) AS BIGINT)) AS BIGINT) AS md_s
           FROM (SELECT * FROM s WHERE nw = 20) r
           JOIN t i ON i.event_type = r.event_type
                   AND i.rn > r.rn - 20 AND i.rn <= r.rn
           GROUP BY 1, 2, 3, 4)
    SELECT event_type, day,
           CAST(tp3 AS DOUBLE) / 3.0 / 100.0 AS typical_price,
           (CAST(tp3 AS DOUBLE) - CAST(s20 AS DOUBLE) / 20.0)
             / (0.015 * (CAST(md_s AS DOUBLE) / 100.0 / 20.0)) AS cci
    FROM md WHERE md_s > 0
    """,
)
def w_cci(spark, sf_dir):
    """20-day Commodity Channel Index (Lambert, 1980): deviation of
    the typical price from its SMA, normalized by 0.015 × the window's
    MEAN ABSOLUTE DEVIATION.  MAD is the part a plain window can't
    express (each row's terms |tpᵢ − smaᵣ| depend on that row's own
    SMA), so it's a range self-join over the CALENDAR-BOUNDED bar
    table — ≤20 probe rows per bar at any data scale — with each
    deviation floor-scaled to int64 before the per-row sum
    (order-independent).  The ×3 typical-price scale cancels between
    numerator and MAD."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("rn").rowsBetween(
        -19, Window.currentRow
    )
    t = bars.select(
        "event_type", "day",
        (F.col("hi") + F.col("lo") + _cl_col()).alias("tp3"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("long")
        .alias("rn"),
    )
    s = t.select(
        "event_type", "day", "tp3", "rn",
        F.sum("tp3").over(wl).cast("long").alias("s20"),
        F.count("*").over(wl).cast("long").alias("nw"),
    )
    r = s.filter(F.col("nw") == 20).alias("r")
    i = t.alias("i")
    dev = F.abs(
        F.col("i.tp3").cast("double") - F.col("r.s20").cast("double") / 20.0
    )
    md = (
        r.join(
            i,
            (F.col("i.event_type") == F.col("r.event_type"))
            & (F.col("i.rn") > F.col("r.rn") - 20)
            & (F.col("i.rn") <= F.col("r.rn")),
        )
        .groupBy(
            F.col("r.event_type").alias("event_type"),
            F.col("r.day").alias("day"),
            F.col("r.tp3").alias("tp3"),
            F.col("r.s20").alias("s20"),
        )
        .agg(F.sum(F.floor(dev * 100.0).cast("long")).cast("long").alias("md_s"))
    )
    return md.filter(F.col("md_s") > 0).select(
        "event_type", "day",
        (F.col("tp3").cast("double") / 3.0 / 100.0).alias("typical_price"),
        (
            (F.col("tp3").cast("double") - F.col("s20").cast("double") / 20.0)
            / (0.015 * (F.col("md_s").cast("double") / 100.0 / 20.0))
        ).alias("cci"),
    )


@register(
    "w_seasonal_naive_mape",
    f"""
    WITH {_SQL_BARS},
    l AS (SELECT event_type, day, p,
                 lag(p, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
          FROM bars),
    e AS (SELECT event_type, p, f FROM l WHERE f IS NOT NULL AND p > 0)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(p - f)) AS BIGINT) AS sae_c,
           CAST(SUM(CAST(floor(CAST(abs(p - f) AS DOUBLE) / CAST(p AS DOUBLE)
                                * 1000000.0) AS BIGINT)) AS BIGINT) AS ape_s,
           CAST(SUM(CAST(floor(CAST(abs(p - f) AS DOUBLE) / CAST(p AS DOUBLE)
                                * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / CAST(count(*) AS DOUBLE) AS mape
    FROM e GROUP BY 1
    """,
)
def w_seasonal_naive_mape(spark, sf_dir):
    """Seasonal-naive forecast accuracy per series: forecast(d) =
    actual(d−7) (the same-weekday-last-week baseline every forecasting
    benchmark starts from, cf. M-competitions) scored by MAPE.  The
    per-day APE terms are floor-scaled to int64 before the cross-day
    reduction (order-independent — the dsum discipline), absolute
    errors stay exact integers, and the lag is one partitioned window
    over the day grain."""
    bars = _bars(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    lg = bars.select(
        "event_type", "day", "p", F.lag("p", 7).over(wl).alias("f")
    )
    e = lg.filter(F.col("f").isNotNull() & (F.col("p") > 0))
    ape = F.floor(
        (F.abs(F.col("p") - F.col("f"))).cast("double")
        / F.col("p").cast("double")
        * 1000000.0
    ).cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.abs(F.col("p") - F.col("f"))).cast("long").alias("sae_c"),
        F.sum(ape).cast("long").alias("ape_s"),
        (
            F.sum(ape).cast("double") / 1000000.0 / F.count("*").cast("double")
        ).alias("mape"),
    )
