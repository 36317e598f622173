"""registry chunk 9 — round-10 additions (new queries land here; the
q01..q08 chunks are the frozen mechanical split of the former
registry.py monolith)."""
from __future__ import annotations

from pyspark.sql import Window  # noqa: F401
from pyspark.sql import functions as F
from dicomdb_spark.operators.lineage import cut_lineage

from dicomdb_spark.io import load_table
from dicomdb_spark.registry._core import _chain, register
from dicomdb_spark.functions import text
from dicomdb_spark.operators import windows as ow
from dicomdb_spark.registry.q01 import (
    _SQL_TOKS,
    _docs_with_dupes,
    _minhash_pairs_cte,
)
from dicomdb_spark.llm import dedup as ldedup
from dicomdb_spark.registry.q03 import _sql_hex_int
from dicomdb_spark.registry.q04 import _SQL_NORMSQ
from dicomdb_spark.registry.q05 import _SQL_BARS
from dicomdb_spark.session import local_fanout  # noqa: F401


# ---------------------------------------------------------------------------
# Round-10: REAL image-container decode (VERDICT r9 ask #2).
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_real",
    """
    SELECT doc_id,
           CAST(CASE CAST(doc_id % 4 AS INTEGER)
                  WHEN 0 THEN 33 WHEN 1 THEN 13 WHEN 2 THEN 54 ELSE 15 END
                + octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE CAST(doc_id % 4 AS INTEGER)
                WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                WHEN 2 THEN 'image/bmp' ELSE 'image/jpeg' END AS format,
           CAST(doc_id % 1024 + 1 AS INTEGER) AS width,
           CAST((doc_id * 7) % 1024 + 1 AS INTEGER) AS height
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_decode_real(spark, sf_dir):
    """REAL container decode round trip (round-10, VERDICT r9 #2 —
    closes the last stubbed COVERAGE cell): documents are wrapped in
    structurally valid PNG / GIF89a / BMP / JPEG-SOF0 containers
    (llm/multimodal.build_container — header fields are pure functions
    of doc_id), then llm/multimodal.stdlib_decoder PARSES the bytes
    back: PNG IHDR big-endian u32 dims, GIF logical-screen-descriptor
    little-endian u16, BMP BITMAPINFOHEADER signed-i32, JPEG marker
    walk to SOFn — the same zero-dependency move as the pure-Python
    DICOM Part-10 reader (sources/dicom.py; reference behavior:
    Exam_info.py header reads).  The oracle states the EXPECTED
    metadata per synthetic container, so a single mis-parsed header
    field (endianness, offset, marker skip) breaks the hash.  Both
    mapInPandas hops are map-only — payload bytes never shuffle; only
    the typed metadata leaves Python."""
    from dicomdb_spark.llm.multimodal import containerize, decode_image_meta

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_meta(containerize(docs)).select(
        "doc_id", "n_bytes", "format", "width", "height"
    )


# ---------------------------------------------------------------------------
# Round-10: Hoeffding's D (parked-list item sanctioned by VERDICT r9 #6).
# ---------------------------------------------------------------------------


@register(
    "a_hoeffding_d",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS x,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    r AS (SELECT a.day,
                 CAST(2 * SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.x = a.x AND b.day <> a.day
                                 THEN 1 ELSE 0 END)
                      + 2 AS BIGINT) AS r2,
                 CAST(2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.y = a.y AND b.day <> a.day
                                 THEN 1 ELSE 0 END)
                      + 2 AS BIGINT) AS s2,
                 CAST(4 * SUM(CASE WHEN b.x < a.x AND b.y < a.y
                                   THEN 1 ELSE 0 END)
                      + 2 * SUM(CASE WHEN b.x = a.x AND b.y < a.y
                                     THEN 1 ELSE 0 END)
                      + 2 * SUM(CASE WHEN b.x < a.x AND b.y = a.y
                                     THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.x = a.x AND b.y = a.y
                                      AND b.day <> a.day
                                 THEN 1 ELSE 0 END)
                      + 4 AS BIGINT) AS q4
          FROM d a CROSS JOIN d b GROUP BY a.day),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM((q4 - 4) * (q4 - 8)) AS BIGINT) AS d1_16,
                 CAST(SUM((r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4))
                      AS BIGINT) AS d2_16,
                 CAST(SUM((r2 - 4) * (s2 - 4) * (q4 - 4)) AS BIGINT)
                   AS d3_16
          FROM r)
    SELECT n AS n_days, d1_16, d2_16, d3_16,
           30.0 * ((CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)
                     * CAST(d1_16 AS DOUBLE)
                   + CAST(d2_16 AS DOUBLE)
                   - 2.0 * (CAST(n AS DOUBLE) - 2.0)
                     * CAST(d3_16 AS DOUBLE))
           / (16.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
              * (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)
              * (CAST(n AS DOUBLE) - 4.0)) AS hoeffding_d
    FROM m WHERE n > 4
    """,
)
def a_hoeffding_d(spark, sf_dir):
    """Hoeffding's D dependence statistic (AMS 1948) between the daily
    event COUNT and the daily cent-scaled value TOTAL — the
    nonparametric test that catches NON-monotone dependence Spearman/
    Kendall miss (D ≈ 30·∫(F₁₂ − F₁F₂)² dF₁₂ ∈ [−0.5, 1]).  The
    exact-tie handling NEXT_STEPS flagged as the risk is solved by
    integer-encoding the quadrant MIDRANKS: with c_lt/c_eq the
    strict-below / tied-elsewhere counts, 2R = 2·c_lt(x) + c_eq(x) + 2
    and 4Q = 4·c_ll + 2·(c_el + c_le) + c_ee + 4 are exact integers,
    so D1 = Σ(Q−1)(Q−2), D2 = Σ(R−1)(R−2)(S−1)(S−2) and
    D3 = Σ(R−2)(S−2)(Q−1) become integer sums d*_16 (a common /16
    carried into the final single float chain — one division on both
    engines).  Counts come from the bounded calendar-day-grain D²
    self-join (n ≤ |days|, calendar-capped at any SF; int64 bound:
    d2_16 terms < (2n)⁴ ⇒ Σ < 1.4e18 even at a 2400-day calendar).
    Degenerate n ≤ 4 (D undefined) returns EMPTY on both engines."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    a, b = d.alias("a"), d.alias("b")

    def n_where(cond):
        return F.sum(cond.cast("long"))

    bx, ax = F.col("b.x"), F.col("a.x")
    by, ay = F.col("b.y"), F.col("a.y")
    ne = F.col("b.day") != F.col("a.day")
    r = (
        a.crossJoin(b)
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            (2 * n_where(bx < ax) + n_where((bx == ax) & ne) + 2)
            .cast("long")
            .alias("r2"),
            (2 * n_where(by < ay) + n_where((by == ay) & ne) + 2)
            .cast("long")
            .alias("s2"),
            (
                4 * n_where((bx < ax) & (by < ay))
                + 2 * n_where((bx == ax) & (by < ay))
                + 2 * n_where((bx < ax) & (by == ay))
                + n_where((bx == ax) & (by == ay) & ne)
                + 4
            )
            .cast("long")
            .alias("q4"),
        )
    )
    q4, r2, s2 = F.col("q4"), F.col("r2"), F.col("s2")
    m = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((q4 - 4) * (q4 - 8)).cast("long").alias("d1_16"),
        F.sum((r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4))
        .cast("long")
        .alias("d2_16"),
        F.sum((r2 - 4) * (s2 - 4) * (q4 - 4)).cast("long").alias("d3_16"),
    )
    nd = F.col("n").cast("double")
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    num = 30.0 * (
        (nd - 2.0) * (nd - 3.0) * dd("d1_16")
        + dd("d2_16")
        - 2.0 * (nd - 2.0) * dd("d3_16")
    )
    den = (
        16.0 * nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0) * (nd - 4.0)
    )
    return m.filter(F.col("n") > 4).select(
        F.col("n").alias("n_days"),
        "d1_16", "d2_16", "d3_16",
        (num / den).alias("hoeffding_d"),
    )


# ---------------------------------------------------------------------------
# Round-10: deterministic KLL-style compactor sketch (parked-list item
# sanctioned by NEXT_STEPS r9 "Highest-value next work" #3).
# ---------------------------------------------------------------------------


@register(
    "sketch_kll_quantiles",
    """
    WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                      CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k
               FROM lineitem),
    r AS (SELECT cents, CAST(row_number() OVER (ORDER BY cents, k) AS BIGINT)
                          AS rn
          FROM v),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    t AS (SELECT n,
                 CAST(1 AS BIGINT) <<
                   (CASE WHEN (n + 63) // 64 <= 1 THEN 0
                         ELSE length(bin((n + 63) // 64 - 1)) END) AS two_l
          FROM s),
    p AS (SELECT ds.d AS decile, t.n, t.two_l,
                 (ds.d * t.n) // 10 + 1 AS pos
          FROM t, (SELECT unnest(generate_series(1, 9)) AS d) ds),
    q AS (SELECT p.decile, p.n, p.two_l, r.cents AS probe_cents
          FROM p JOIN r ON r.rn = p.pos),
    f AS (SELECT q.decile, q.probe_cents, q.n, q.two_l,
                 CAST(SUM(CASE WHEN r.cents < q.probe_cents
                               THEN 1 ELSE 0 END) AS BIGINT) AS true_rank,
                 CAST(q.two_l
                      * SUM(CASE WHEN r.cents < q.probe_cents
                                      AND (r.rn - 1) % q.two_l = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS est_rank
          FROM q CROSS JOIN r GROUP BY 1, 2, 3, 4)
    SELECT decile, probe_cents, n, two_l, true_rank, est_rank,
           est_rank - true_rank AS rank_err,
           CAST(CASE WHEN est_rank - true_rank >= 0
                          AND est_rank - true_rank < two_l
                     THEN 1 ELSE 0 END AS INTEGER) AS within_bound
    FROM f
    """,
)
def sketch_kll_quantiles(spark, sf_dir):
    """Deterministic KLL-style single-compactor quantile sketch
    (Karnin-Lang-Liberty FOCS'16 with the coin-flips removed: every
    compaction keeps the ODD-indexed half, the classic deterministic
    collapse of Manku-Rajagopalan-Lindsay '98).  Collapsing levels of
    an odd-keeping compactor cascade over the VALUE-SORTED stream has
    a closed form — after L compactions the survivors are exactly the
    sorted positions == 1 (mod 2^L), each carrying weight 2^L — so the
    sketch needs no sequential state at all (same closed-form move as
    sketch_dgim_window_count's bucket configuration).  L is the
    smallest level with <= k = 64 survivors: L = bit_length(ceil(n/k)
    - 1) via length(bin()) / length(conv()), two_l = 1 << L.  The
    query audits the sketch against ground truth at the nine decile
    probes: est_rank = two_l * |sketch below probe| vs the exact
    strict rank, with the per-probe guarantee 0 <= est - true < two_l
    (<= 2n/k) emitted as a self-certifying within_bound flag.  The
    exact ranks come DISTRIBUTED from ow.monotone_range_bucket +
    ow.bucketed_running (per-bucket offsets; no single-partition
    sort), the probe table is 9 rows broadcast against the fact scan.
    int64 bounds: cents < 2^33 at any SF, est_rank <= n < 2^53.
    Reference behavior: quantile summaries over series sizes
    (Series_info.py stats paths) at unbounded scale."""
    from dicomdb_spark.operators import windows as ow

    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("k"),
    )
    ranked = ow.bucketed_running(
        ow.monotone_range_bucket(vals, "cents", n_buckets=128),
        order_cols=["cents", "k"],
        rn_col="rn",
    ).select("cents", "rn")
    st = vals.agg(F.count("*").cast("long").alias("n"))
    m = F.expr("(n + 63) div 64")
    l_bits = (
        F.when(m <= 1, F.lit(0))
        .otherwise(F.length(F.conv((m - 1).cast("string"), 10, 2)))
        .cast("int")
    )
    t = st.select("n", F.expr("CAST(1 AS BIGINT)").alias("one"), l_bits.alias("l_bits")).select(
        "n", F.expr("shiftleft(one, l_bits)").cast("long").alias("two_l")
    )
    p = (
        t.crossJoin(
            spark.range(1, 10).select(F.col("id").cast("long").alias("decile"))
        )
        .select(
            "decile", "n", "two_l",
            (F.expr("(decile * n) div 10") + 1).cast("long").alias("pos"),
        )
    )
    q = (
        ranked.join(F.broadcast(p), ranked["rn"] == p["pos"])
        .select("decile", "n", "two_l", F.col("cents").alias("probe_cents"))
    )
    below = F.col("cents") < F.col("probe_cents")
    kept = (F.col("rn") - 1) % F.col("two_l") == 0
    f = (
        ranked.crossJoin(F.broadcast(q))
        .groupBy("decile", "probe_cents", "n", "two_l")
        .agg(
            F.sum(below.cast("long")).cast("long").alias("true_rank"),
            (
                F.first("two_l")
                * F.sum((below & kept).cast("long"))
            )
            .cast("long")
            .alias("est_rank"),
        )
    )
    err = F.col("est_rank") - F.col("true_rank")
    return f.select(
        "decile", "probe_cents", "n", "two_l", "true_rank", "est_rank",
        err.alias("rank_err"),
        ((err >= 0) & (err < F.col("two_l"))).cast("int").alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch B: integer-exact fairness / dispersion statistics and
# bar-series oscillators over the q05 bars grain.
# ---------------------------------------------------------------------------


@register(
    "a_jains_fairness",
    """
    WITH x AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(SUM(c) AS BIGINT) AS sum_c,
                 CAST(SUM(c * c) AS BIGINT) AS sum_cc
          FROM x GROUP BY 1)
    SELECT event_type, n_users, sum_c, sum_cc,
           (CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE))
             / (CAST(n_users AS DOUBLE) * CAST(sum_cc AS DOUBLE)) AS jain
    FROM s
    """,
)
def a_jains_fairness(spark, sf_dir):
    """Jain's fairness index (Jain/Chiu/Hawe '84) of per-user load
    within each event type: J = (Sigma x)^2 / (n * Sigma x^2), J = 1 when
    every user contributes equally, 1/n at maximal concentration.
    The two moments are exact int64 sums over the (type, user) count
    grid (sum_cc < n_users * max_c^2 — int64-safe while per-user
    counts stay < 3e7); the index itself is ONE fixed-order float
    expression evaluated identically on both engines.  Complements
    a_hhi_concentration (market share) with the networking-fairness
    formulation.  Reference behavior: per-user exam-load audits
    (common.py group-count reports)."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    s = x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_cc"),
    )
    return s.select(
        "event_type", "n_users", "sum_c", "sum_cc",
        (
            (F.col("sum_c").cast("double") * F.col("sum_c").cast("double"))
            / (F.col("n_users").cast("double") * F.col("sum_cc").cast("double"))
        ).alias("jain"),
    )


@register(
    "a_fano_factor",
    f"""
    WITH {_SQL_BARS},
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(SUM(vol) AS BIGINT) AS sum_v,
                 CAST(SUM(vol * vol) AS BIGINT) AS sum_vv
          FROM bars GROUP BY 1)
    SELECT event_type, n_days, sum_v, sum_vv,
           CAST(n_days * sum_vv - sum_v * sum_v AS DOUBLE)
             / CAST(n_days * sum_v AS DOUBLE) AS fano
    FROM s WHERE sum_v > 0
    """,
)
def a_fano_factor(spark, sf_dir):
    """Fano factor (index of dispersion) of the daily event-count
    series per type: F = Var/Mean = (n*Sigma c^2 - (Sigma c)^2) / (n*Sigma c)
    — the Poisson-ness dial (F = 1 Poisson, > 1 overdispersed / bursty,
    < 1 regular), the windowed companion to a_poisson_dispersion's
    chi-square framing.  Numerator and denominator are exact int64
    (population variance via the n*S2 - S1^2 identity; safe while
    n_days * sum_vv < 2^63, i.e. daily counts < ~6e7 on a 2400-day
    calendar), so the whole statistic is ONE division.  Reference
    behavior: per-day acquisition-rate regularity checks
    (Exam_info.py daily rollups)."""
    from dicomdb_spark.registry.q05 import _bars

    s = (
        _bars(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("vol").cast("long").alias("sum_v"),
            F.sum(F.col("vol") * F.col("vol")).cast("long").alias("sum_vv"),
        )
    )
    n, sv, svv = F.col("n_days"), F.col("sum_v"), F.col("sum_vv")
    return s.filter(sv > 0).select(
        "event_type", "n_days", "sum_v", "sum_vv",
        ((n * svv - sv * sv).cast("double") / (n * sv).cast("double")).alias(
            "fano"
        ),
    )


@register(
    "w_chande_momentum",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type,
                 p - lag(p) OVER (PARTITION BY event_type ORDER BY day) AS ch
          FROM bars),
    s AS (SELECT event_type,
                 CAST(SUM(CASE WHEN ch > 0 THEN ch ELSE 0 END) AS BIGINT)
                   AS su,
                 CAST(SUM(CASE WHEN ch < 0 THEN -ch ELSE 0 END) AS BIGINT)
                   AS sd
          FROM d WHERE ch IS NOT NULL GROUP BY 1)
    SELECT event_type, su, sd,
           100.0 * CAST(su - sd AS DOUBLE) / CAST(su + sd AS DOUBLE) AS cmo
    FROM s WHERE su + sd > 0
    """,
)
def w_chande_momentum(spark, sf_dir):
    """Chande momentum oscillator over each type's daily price series
    (bar total p, the repo's price convention): CMO = 100*(Su - Sd) /
    (Su + Sd) with Su/Sd the up/down move totals — RSI's cousin that
    keeps sign and is unsmoothed.  Moves are exact int64 cents from a
    type-partitioned lag over the bounded day grain; the oscillator is
    the single final division.  Degenerate all-flat series (Su + Sd =
    0) drop on both engines."""
    from dicomdb_spark.registry.q05 import _bars

    w = Window.partitionBy("event_type").orderBy("day")
    d = _bars(spark, sf_dir).select(
        "event_type", (F.col("p") - F.lag("p").over(w)).alias("ch")
    )
    s = (
        d.filter(F.col("ch").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ch") > 0, F.col("ch")).otherwise(0))
            .cast("long")
            .alias("su"),
            F.sum(F.when(F.col("ch") < 0, -F.col("ch")).otherwise(0))
            .cast("long")
            .alias("sd"),
        )
    )
    su, sd = F.col("su"), F.col("sd")
    return s.filter(su + sd > 0).select(
        "event_type", "su", "sd",
        (100.0 * (su - sd).cast("double") / (su + sd).cast("double")).alias(
            "cmo"
        ),
    )


@register(
    "w_vortex_indicator",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type, hi, lo, p,
                 lag(hi) OVER w AS lhi, lag(lo) OVER w AS llo,
                 lag(p) OVER w AS lp
          FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_moves,
                 CAST(SUM(abs(hi - llo)) AS BIGINT) AS sum_vm_plus,
                 CAST(SUM(abs(lo - lhi)) AS BIGINT) AS sum_vm_minus,
                 CAST(SUM(greatest(hi - lo, abs(hi - lp), abs(lo - lp)))
                      AS BIGINT) AS sum_tr
          FROM d WHERE lp IS NOT NULL GROUP BY 1)
    SELECT event_type, n_moves, sum_vm_plus, sum_vm_minus, sum_tr,
           CAST(sum_vm_plus AS DOUBLE) / CAST(sum_tr AS DOUBLE) AS vi_plus,
           CAST(sum_vm_minus AS DOUBLE) / CAST(sum_tr AS DOUBLE) AS vi_minus
    FROM s WHERE sum_tr > 0
    """,
)
def w_vortex_indicator(spark, sf_dir):
    """Vortex indicator (Botes & Siepman '10) per event type over the
    whole bounded day series: VI+ = Sigma|hi_t - lo_(t-1)| / Sigma TR and
    VI- = Sigma|lo_t - hi_(t-1)| / Sigma TR, TR the classic true range
    against the prior bar total p (repo price convention, as
    w_true_range_atr).  Every summand is an exact int64 cent value
    from one type-partitioned lag pass; the two indicator values are
    single final divisions from the same exact sums.  Zero-range
    series drop on both engines."""
    from dicomdb_spark.registry.q05 import _bars

    w = Window.partitionBy("event_type").orderBy("day")
    b = _bars(spark, sf_dir)
    d = b.select(
        "event_type", "hi", "lo", "p",
        F.lag("hi").over(w).alias("lhi"),
        F.lag("lo").over(w).alias("llo"),
        F.lag("p").over(w).alias("lp"),
    ).filter(F.col("lp").isNotNull())
    tr = F.greatest(
        F.col("hi") - F.col("lo"),
        F.abs(F.col("hi") - F.col("lp")),
        F.abs(F.col("lo") - F.col("lp")),
    )
    s = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.sum(F.abs(F.col("hi") - F.col("llo"))).cast("long").alias("sum_vm_plus"),
        F.sum(F.abs(F.col("lo") - F.col("lhi"))).cast("long").alias("sum_vm_minus"),
        F.sum(tr).cast("long").alias("sum_tr"),
    )
    return s.filter(F.col("sum_tr") > 0).select(
        "event_type", "n_moves", "sum_vm_plus", "sum_vm_minus", "sum_tr",
        (F.col("sum_vm_plus").cast("double") / F.col("sum_tr").cast("double")).alias("vi_plus"),
        (F.col("sum_vm_minus").cast("double") / F.col("sum_tr").cast("double")).alias("vi_minus"),
    )


@register(
    "w_ultimate_oscillator",
    f"""
    WITH {_SQL_BARS},
    d AS (SELECT event_type, day, hi, lo, p,
                 lag(p) OVER w AS lp,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day DESC) AS BIGINT) AS rdesc
          FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    m AS (SELECT event_type,
                 CAST(SUM(CASE WHEN rdesc <= 7
                               THEN p - least(lo, lp) ELSE 0 END) AS BIGINT)
                   AS bp7,
                 CAST(SUM(CASE WHEN rdesc <= 7
                               THEN greatest(hi, lp) - least(lo, lp)
                               ELSE 0 END) AS BIGINT) AS tr7,
                 CAST(SUM(CASE WHEN rdesc <= 14
                               THEN p - least(lo, lp) ELSE 0 END) AS BIGINT)
                   AS bp14,
                 CAST(SUM(CASE WHEN rdesc <= 14
                               THEN greatest(hi, lp) - least(lo, lp)
                               ELSE 0 END) AS BIGINT) AS tr14,
                 CAST(SUM(CASE WHEN rdesc <= 28
                               THEN p - least(lo, lp) ELSE 0 END) AS BIGINT)
                   AS bp28,
                 CAST(SUM(CASE WHEN rdesc <= 28
                               THEN greatest(hi, lp) - least(lo, lp)
                               ELSE 0 END) AS BIGINT) AS tr28,
                 CAST(SUM(CASE WHEN rdesc <= 28 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n28
          FROM d WHERE lp IS NOT NULL GROUP BY 1)
    SELECT event_type, bp7, tr7, bp14, tr14, bp28, tr28,
           100.0 * (4.0 * (CAST(bp7 AS DOUBLE) / CAST(tr7 AS DOUBLE))
                    + 2.0 * (CAST(bp14 AS DOUBLE) / CAST(tr14 AS DOUBLE))
                    + (CAST(bp28 AS DOUBLE) / CAST(tr28 AS DOUBLE))) / 7.0
             AS uo
    FROM m WHERE n28 = 28 AND tr7 > 0 AND tr14 > 0 AND tr28 > 0
    """,
)
def w_ultimate_oscillator(spark, sf_dir):
    """Williams' ultimate oscillator at the series end, per type:
    weighted blend of buying-pressure ratios over the trailing 7/14/28
    bars — UO = 100*(4*BP7/TR7 + 2*BP14/TR14 + BP28/TR28)/7 with
    BP = p - min(lo, p_prev) and TR = max(hi, p_prev) - min(lo, p_prev)
    (bar total p as price, repo convention).  The trailing windows are
    selected by a DESCENDING row_number over the bounded per-type day
    grain (not a fragile date offset), all six sums are exact int64,
    and the blend is one fixed-order float chain written identically
    in both engines.  Types without 28 prior-bar moves drop — the
    28-bar precondition is explicit in the n28 = 28 filter."""
    from dicomdb_spark.registry.q05 import _bars

    w = Window.partitionBy("event_type").orderBy("day")
    wd = Window.partitionBy("event_type").orderBy(F.col("day").desc())
    d = (
        _bars(spark, sf_dir)
        .select(
            "event_type", "day", "hi", "lo", "p",
            F.lag("p").over(w).alias("lp"),
        )
        .withColumn("rdesc", F.row_number().over(wd).cast("long"))
        .filter(F.col("lp").isNotNull())
    )
    bp = F.col("p") - F.least(F.col("lo"), F.col("lp"))
    tr = F.greatest(F.col("hi"), F.col("lp")) - F.least(
        F.col("lo"), F.col("lp")
    )

    def tail(k, e):
        return F.sum(F.when(F.col("rdesc") <= k, e).otherwise(0)).cast("long")

    m = d.groupBy("event_type").agg(
        tail(7, bp).alias("bp7"), tail(7, tr).alias("tr7"),
        tail(14, bp).alias("bp14"), tail(14, tr).alias("tr14"),
        tail(28, bp).alias("bp28"), tail(28, tr).alias("tr28"),
        tail(28, F.lit(1)).alias("n28"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    uo = (
        100.0
        * (
            4.0 * (dd("bp7") / dd("tr7"))
            + 2.0 * (dd("bp14") / dd("tr14"))
            + (dd("bp28") / dd("tr28"))
        )
        / 7.0
    )
    return m.filter(
        (F.col("n28") == 28)
        & (F.col("tr7") > 0) & (F.col("tr14") > 0) & (F.col("tr28") > 0)
    ).select(
        "event_type", "bp7", "tr7", "bp14", "tr14", "bp28", "tr28",
        uo.alias("uo"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch C: robust scale (Qn), species richness (Chao1), ordered
# trend (Page), scale-location shift (Cucconi), Coleman-Liau readability.
# ---------------------------------------------------------------------------


@register(
    "a_qn_scale",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  (count(*) // 2 + 1) * (count(*) // 2) // 2 AS k,
                  CAST(count(*) // 2 + 1 AS BIGINT) AS h
           FROM d),
    pr AS (SELECT abs(a.y - b.y) AS ad
           FROM d a JOIN d b ON a.day < b.day),
    dv AS (SELECT DISTINCT ad FROM pr),
    rk AS (SELECT v.ad, CAST(count(*) AS BIGINT) AS cnt_le
           FROM dv v JOIN pr p ON p.ad <= v.ad GROUP BY v.ad)
    SELECT st.n AS n_days, st.h, CAST(st.k AS BIGINT) AS k,
           CAST(min(rk.ad) AS BIGINT) AS qn_cents,
           2.2219 * CAST(min(rk.ad) AS DOUBLE) / 100.0 AS qn
    FROM rk, st WHERE rk.cnt_le >= st.k GROUP BY st.n, st.h, st.k
    """,
)
def a_qn_scale(spark, sf_dir):
    """Rousseeuw-Croux Qn robust scale estimator of the daily value
    totals: the k-th smallest pairwise |y_i - y_j| with k = C(h,2),
    h = n/2 + 1 — a 50%-breakdown scale that, unlike MAD
    (a_mad_outliers), needs no location estimate and keeps 82%
    Gaussian efficiency.  The day grain is calendar-capped, so the
    pairwise table is bounded (n<=2400 days -> <=2.9M pairs) and every
    quantity is an exact int64 cent; the k-th order statistic is
    selected WITHOUT any global sort as min{v : #\\{pairs <= v\\} >= k}
    over the distinct-difference table.  The only float is the final
    2.2219 consistency constant (same literal both engines)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "(count(*) div 2 + 1) * (count(*) div 2) div 2"
        ).cast("long").alias("k"),
        F.expr("count(*) div 2 + 1").cast("long").alias("h"),
    )
    a, b = d.alias("a"), d.alias("b")
    pr = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.abs(F.col("a.y") - F.col("b.y")).alias("ad")
    )
    dv = pr.select("ad").distinct()
    rk = (
        dv.alias("v")
        .join(pr.alias("p"), F.col("p.ad") <= F.col("v.ad"))
        .groupBy(F.col("v.ad").alias("ad"))
        .agg(F.count("*").cast("long").alias("cnt_le"))
    )
    return (
        rk.crossJoin(F.broadcast(st))
        .filter(F.col("cnt_le") >= F.col("k"))
        .groupBy("n", "h", "k")
        .agg(F.min("ad").cast("long").alias("qn_cents"))
        .select(
            F.col("n").alias("n_days"), "h", "k", "qn_cents",
            (2.2219 * F.col("qn_cents").cast("double") / 100.0).alias("qn"),
        )
    )


@register(
    "a_chao1_richness",
    f"""
    WITH tk AS (SELECT source, unnest({_SQL_TOKS}) AS term FROM documents),
    f AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2),
    s AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS s_obs,
                 CAST(SUM(c) AS BIGINT) AS tokens,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          FROM f GROUP BY 1)
    SELECT source, s_obs, tokens, f1, f2,
           CAST(s_obs AS DOUBLE)
             + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
             AS chao1,
           1.0 - CAST(f1 AS DOUBLE) / CAST(tokens AS DOUBLE) AS gt_coverage
    FROM s WHERE tokens > 0
    """,
)
def a_chao1_richness(spark, sf_dir):
    """Chao1 species-richness estimator of each source's vocabulary
    (Chao '84, bias-corrected form): S_chao1 = S_obs + f1(f1-1) /
    (2(f2+1)) from the singleton/doubleton counts of the term-frequency
    spectrum, plus Good-Turing sample coverage 1 - f1/N — the
    how-much-vocabulary-have-we-NOT-crawled-yet dial that
    corpus_vocab_growth's Heaps trace cannot answer in closed form.
    Same tokenizer as the rest of the text family (text.tokens /
    _SQL_TOKS); the spectrum counts are exact int64 and both outputs
    are single fixed-order float expressions."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(
            F.transform(text.tokens("text"), lambda t: F.lower(t))
        ).alias("term"),
    )
    f = tk.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("c")
    )
    s = f.groupBy("source").agg(
        F.count("*").cast("long").alias("s_obs"),
        F.sum("c").cast("long").alias("tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    f1, f2 = F.col("f1"), F.col("f2")
    return s.filter(F.col("tokens") > 0).select(
        "source", "s_obs", "tokens", "f1", "f2",
        (
            F.col("s_obs").cast("double")
            + (f1 * (f1 - 1)).cast("double") / (2 * (f2 + 1)).cast("double")
        ).alias("chao1"),
        (1.0 - f1.cast("double") / F.col("tokens").cast("double")).alias(
            "gt_coverage"
        ),
    )


@register(
    "a_page_trend_test",
    f"""
    WITH {_SQL_BARS},
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM bars),
    full_days AS (SELECT day FROM bars, kk GROUP BY day, kk.k
                  HAVING count(*) = max(kk.k)),
    rows_kept AS (SELECT b.event_type, b.day, b.vol
                  FROM bars b JOIN full_days fd ON b.day = fd.day),
    r AS (SELECT event_type, day,
                 CAST(2 * rank() OVER (PARTITION BY day ORDER BY vol)
                      + count(*) OVER (PARTITION BY day, vol) - 1 AS BIGINT)
                   AS r2
          FROM rows_kept),
    ty AS (SELECT DISTINCT event_type FROM rows_kept),
    pos AS (SELECT t1.event_type, CAST(count(*) AS BIGINT) AS j
            FROM ty t1 JOIN ty t2 ON t2.event_type <= t1.event_type
            GROUP BY t1.event_type),
    agg AS (SELECT CAST(count(DISTINCT r.day) AS BIGINT) AS b,
                   CAST(max(kk.k) AS BIGINT) AS k,
                   CAST(SUM(pos.j * r.r2) AS BIGINT) AS l2
            FROM r JOIN pos ON r.event_type = pos.event_type, kk)
    SELECT b AS n_blocks, k, l2,
           CAST(b * k * (k + 1) * (k + 1) / 2 AS BIGINT) AS e_l2,
           (CAST(l2 AS DOUBLE) - CAST(b * k * (k + 1) * (k + 1) / 2
                                      AS DOUBLE)) / 2.0
             / sqrt(CAST(b AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                    * CAST(k + 1 AS DOUBLE) * CAST(k + 1 AS DOUBLE)
                    * CAST(k - 1 AS DOUBLE) / 144.0) AS z
    FROM agg WHERE b > 0 AND k > 1
    """,
)
def a_page_trend_test(spark, sf_dir):
    """Page's L trend test (Page '63) for an ordered alternative
    across treatments: blocks = calendar days, treatments = event
    types in lexicographic (predicted) order, response = daily volume.
    Within-block midranks are integer-encoded as R2 = 2*rank + ties - 1
    (the a_mannwhitney_u move), so L2 = 2L = Sigma j*R2 is an exact
    int64; only COMPLETE blocks (all k treatments present) enter, per
    the test's definition.  E[L2] = b*k(k+1)^2/2 is integer (k(k+1)^2
    is always even) and the z-score is the standard no-ties normal
    approximation — one float chain, identical text both engines;
    midrank ties make it slightly conservative (documented, as
    scipy's page_trend_test does).  The treatment-position table comes
    from a bounded |types|^2 self-join, not a global window."""
    b = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("vol"))
    kk = b.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    full_days = (
        b.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") == F.col("k"))
        .select("day")
    )
    rows_kept = b.join(F.broadcast(full_days), "day")
    wr = Window.partitionBy("day").orderBy("vol")
    wt = Window.partitionBy("day", "vol")
    r = rows_kept.select(
        "event_type", "day",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("r2"),
    )
    ty = rows_kept.select("event_type").distinct()
    pos = (
        ty.alias("t1")
        .join(
            F.broadcast(ty.alias("t2")),
            F.col("t2.event_type") <= F.col("t1.event_type"),
        )
        .groupBy(F.col("t1.event_type").alias("event_type"))
        .agg(F.count("*").cast("long").alias("j"))
    )
    a = (
        r.join(F.broadcast(pos), "event_type")
        .crossJoin(F.broadcast(kk))
        .agg(
            F.countDistinct("day").cast("long").alias("b"),
            F.max("k").cast("long").alias("k"),
            F.sum(F.col("j") * F.col("r2")).cast("long").alias("l2"),
        )
    )
    bb, k, l2 = F.col("b"), F.col("k"), F.col("l2")
    e_l2 = (bb * k * (k + 1) * (k + 1) / 2).cast("long")
    z = (
        (l2.cast("double") - e_l2.cast("double"))
        / 2.0
        / F.sqrt(
            bb.cast("double") * k.cast("double") * k.cast("double")
            * (k + 1).cast("double") * (k + 1).cast("double")
            * (k - 1).cast("double") / 144.0
        )
    )
    return a.filter((bb > 0) & (k > 1)).select(
        bb.alias("n_blocks"), "k", "l2", e_l2.alias("e_l2"), z.alias("z")
    )


@register(
    "a_cucconi_test",
    f"""
    WITH u AS (
      SELECT user_id,
             {_sql_hex_int("md5('arm:' || CAST(user_id AS VARCHAR))", 2)} % 2 AS arm,
             CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    r AS (SELECT arm, x,
                 CAST(2 * rank() OVER (ORDER BY x)
                      + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS r2
          FROM u),
    m AS (SELECT
            CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(SUM(CASE WHEN arm = 1 THEN r2 ELSE 0 END) AS BIGINT) AS s1b,
            CAST(SUM(CASE WHEN arm = 1 THEN r2 * r2 ELSE 0 END) AS BIGINT)
              AS s2b
          FROM r),
    c AS (SELECT na, nb, s1b, s2b, na + nb AS nn,
                 nb * 4 * (na + nb + 1) * (na + nb + 1)
                   - 4 * (na + nb + 1) * s1b + s2b AS s2bc
          FROM m),
    f AS (SELECT na, nb, s1b, s2b, nn,
                 CAST(3 * s2b - 2 * nb * (nn + 1) * (2 * nn + 1) AS DOUBLE)
                   / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                                 * CAST(nn + 1 AS DOUBLE)
                                 * CAST(2 * nn + 1 AS DOUBLE)
                                 * CAST(8 * nn + 11 AS DOUBLE) / 5.0)) AS uu,
                 CAST(3 * s2bc - 2 * nb * (nn + 1) * (2 * nn + 1) AS DOUBLE)
                   / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                                 * CAST(nn + 1 AS DOUBLE)
                                 * CAST(2 * nn + 1 AS DOUBLE)
                                 * CAST(8 * nn + 11 AS DOUBLE) / 5.0)) AS vv,
                 2.0 * (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - 4.0)
                   / ((2.0 * CAST(nn AS DOUBLE) + 1.0)
                      * (8.0 * CAST(nn AS DOUBLE) + 11.0)) - 1.0 AS rho
          FROM c)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           s1b, s2b, uu AS u, vv AS v, rho,
           (uu * uu + vv * vv - 2.0 * rho * uu * vv)
             / (2.0 * (1.0 - rho * rho)) AS c_stat
    FROM f WHERE na > 0 AND nb > 0
    """,
)
def a_cucconi_test(spark, sf_dir):
    """Cucconi's C test ('68) — the ONE-statistic scale-location
    alternative to combining Mann-Whitney with a dispersion test:
    U from the squared ranks of arm b, V from the squared CONTRARY
    ranks, C = (U^2 + V^2 - 2*rho*U*V) / (2(1-rho^2)).  Arms and the
    per-user totals are exactly a_mannwhitney_u's; midranks are
    integer-encoded (R2 = 2*rank + ties - 1) so the squared-rank sums
    S1b/S2b are exact int64 (bound: S2b <= nb*(2N+1)^2 < 2^63 while
    N < ~1.3e6 users — the calendar-capped user grain), and the
    contrary-rank square sum is the exact integer identity
    S2b' = 4nb(N+1)^2 - 4(N+1)S1b + S2b rather than a second rank
    pass.  U, V, rho, C form one fixed-order float chain written with
    identical text in both engines.  The Spark ranks reuse the
    per-value tie-group + bucketed running-count plan (no global
    sort)."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("arm:"), F.col("user_id").cast("string"))
                ),
                1,
                2,
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
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb_x"),
        F.count("*").cast("long").alias("t"),
    )
    cum = ow.bucketed_running(
        ow.monotone_range_bucket(g, "x"),
        order_cols=["x"],
        sum_cols=["t"],
    ).withColumn("p", F.col("cum_t") - F.col("t"))
    r2 = 2 * F.col("p") + F.col("t") + 1
    m = cum.agg(
        F.sum("nb_x").cast("long").alias("nb"),
        F.sum(F.col("t") - F.col("nb_x")).cast("long").alias("na"),
        F.sum(F.col("nb_x") * r2).cast("long").alias("s1b"),
        F.sum(F.col("nb_x") * r2 * r2).cast("long").alias("s2b"),
    )
    na, nb, s1b, s2b = F.col("na"), F.col("nb"), F.col("s1b"), F.col("s2b")
    nn = na + nb
    s2bc = (
        nb * 4 * (nn + 1) * (nn + 1) - 4 * (nn + 1) * s1b + s2b
    )
    den = 2.0 * F.sqrt(
        na.cast("double") * nb.cast("double") * (nn + 1).cast("double")
        * (2 * nn + 1).cast("double") * (8 * nn + 11).cast("double") / 5.0
    )
    uu = (3 * s2b - 2 * nb * (nn + 1) * (2 * nn + 1)).cast("double") / den
    vv = (3 * s2bc - 2 * nb * (nn + 1) * (2 * nn + 1)).cast("double") / den
    nnd = nn.cast("double")
    rho = 2.0 * (nnd * nnd - 4.0) / ((2.0 * nnd + 1.0) * (8.0 * nnd + 11.0)) - 1.0
    c_stat = (uu * uu + vv * vv - 2.0 * rho * uu * vv) / (
        2.0 * (1.0 - rho * rho)
    )
    return m.filter((na > 0) & (nb > 0)).select(
        na.alias("n_a"), nb.alias("n_b"), "s1b", "s2b",
        uu.alias("u"), vv.alias("v"), rho.alias("rho"), c_stat.alias("c_stat"),
    )


@register(
    "text_coleman_liau",
    """
    WITH c AS (SELECT source,
                      CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           AS BIGINT) AS letters,
                      CAST(length(list_filter(string_split_regex(trim(text),
                                                                 '\\s+'),
                                              t -> t <> '')) AS BIGINT)
                        AS words,
                      CAST(greatest(length(regexp_extract_all(text,
                                                              '[.!?]+')), 1)
                           AS BIGINT) AS sentences
               FROM documents),
    s AS (SELECT source,
                 CAST(SUM(letters) AS BIGINT) AS letters,
                 CAST(SUM(words) AS BIGINT) AS words,
                 CAST(SUM(sentences) AS BIGINT) AS sentences
          FROM c GROUP BY 1)
    SELECT source, letters, words, sentences,
           0.0588 * (100.0 * CAST(letters AS DOUBLE) / CAST(words AS DOUBLE))
             - 0.296 * (100.0 * CAST(sentences AS DOUBLE)
                        / CAST(words AS DOUBLE))
             - 15.8 AS cli
    FROM s WHERE words > 0
    """,
)
def text_coleman_liau(spark, sf_dir):
    """Coleman-Liau readability index per source: CLI = 0.0588*L -
    0.296*S - 15.8 with L = letters per 100 words and S = sentences
    per 100 words — the grade-level readability that needs NO syllable
    heuristic (unlike text_readability_fk), so both engines count the
    same three exact integers: [A-Za-z] characters via global regexp
    strip, whitespace tokens (the family tokenizer), and [.!?]+
    sentence-end runs (min 1 per doc, so headline-only docs don't
    divide by zero).  The index is one fixed-order float chain from
    the int64 sums."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source",
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
        .cast("long")
        .alias("letters"),
        F.size(text.tokens("text")).cast("long").alias("words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
    )
    s = c.groupBy("source").agg(
        F.sum("letters").cast("long").alias("letters"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sentences").cast("long").alias("sentences"),
    )
    ld, wd, sd = (
        F.col("letters").cast("double"),
        F.col("words").cast("double"),
        F.col("sentences").cast("double"),
    )
    return s.filter(F.col("words") > 0).select(
        "source", "letters", "words", "sentences",
        (
            0.0588 * (100.0 * ld / wd) - 0.296 * (100.0 * sd / wd) - 15.8
        ).alias("cli"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch D: bounded sequential folds — Renko bricks, Misra-Gries
# heavy hitters, OSA edit distance (the Holt/DTW fold-vs-recursive-CTE
# discipline: integer state, bit-exact on both engines).
# ---------------------------------------------------------------------------


@register(
    "w_renko_bricks",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, y,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                 CAST(greatest((max(y) OVER (PARTITION BY event_type)
                                - min(y) OVER (PARTITION BY event_type))
                               // 10, 1) AS BIGINT) AS bsz
          FROM d),
    h AS (
      SELECT event_type, rn, n, bsz, y AS start_level,
             y AS level, CAST(0 AS BIGINT) AS n_up, CAST(0 AS BIGINT) AS n_down
      FROM s WHERE rn = 1
      UNION ALL
      SELECT h.event_type, s.rn, h.n, h.bsz, h.start_level,
             h.level + (CASE WHEN s.y >= h.level
                             THEN (s.y - h.level) // h.bsz ELSE 0 END) * h.bsz
                     - (CASE WHEN s.y < h.level
                             THEN (h.level - s.y) // h.bsz ELSE 0 END) * h.bsz,
             h.n_up + CASE WHEN s.y >= h.level
                           THEN (s.y - h.level) // h.bsz ELSE 0 END,
             h.n_down + CASE WHEN s.y < h.level
                             THEN (h.level - s.y) // h.bsz ELSE 0 END
      FROM h JOIN s ON s.event_type = h.event_type AND s.rn = h.rn + 1)
    SELECT event_type, n AS n_days, bsz AS brick_cents, start_level,
           level AS final_level, n_up, n_down
    FROM h WHERE rn = n
    """,
)
def w_renko_bricks(spark, sf_dir):
    """Renko brick construction over each type's daily price series
    (bar total cents): with brick size B = max(1, range/10), each
    close emits k = |close - level| div B bricks in its direction and
    moves the level by k*B — the classic price-movement chart that
    filters time out of the series.  The state (level, n_up, n_down)
    is a pure int64 recurrence over the bounded calendar-day grain, so
    Spark's per-type array fold and DuckDB's recursive CTE replay
    identical integers (both offsets are nonnegative, sidestepping the
    div-truncate vs //-floor divergence on negatives).  Output is the
    end state per type: brick size, start/final level, up/down brick
    counts."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    arr = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.greatest(
            F.expr("(max(y) - min(y)) div 10"), F.lit(1).cast("long")
        )
        .cast("long")
        .alias("bsz"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s["y"],
        ).alias("ys"),
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("level"), zero.alias("up"), zero.alias("down"),
        zero.alias("t"),
    )
    bsz = F.col("bsz")

    def step(acc, y):
        first = acc["t"] == 0
        # Integer `div`, not double `/`: the double quotient can round
        # up across an integer boundary near the 2^-52 ulp margin,
        # breaking the pure-int64 recurrence the oracle replays
        # (round-10 ADVICE).
        up_k = F.when(
            ~first & (y >= acc["level"]),
            F.call_function("div", y - acc["level"], bsz),
        ).otherwise(zero)
        down_k = F.when(
            ~first & (y < acc["level"]),
            F.call_function("div", acc["level"] - y, bsz),
        ).otherwise(zero)
        return F.struct(
            F.when(first, y)
            .otherwise(acc["level"] + up_k * bsz - down_k * bsz)
            .cast("long")
            .alias("level"),
            (acc["up"] + up_k).cast("long").alias("up"),
            (acc["down"] + down_k).cast("long").alias("down"),
            (acc["t"] + 1).cast("long").alias("t"),
        )

    out = arr.withColumn("st", F.aggregate("ys", init, step))
    return out.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("bsz").alias("brick_cents"),
        F.element_at("ys", 1).cast("long").alias("start_level"),
        F.col("st")["level"].cast("long").alias("final_level"),
        F.col("st")["up"].cast("long").alias("n_up"),
        F.col("st")["down"].cast("long").alias("n_down"),
    )


@register(
    "sketch_misra_gries",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS w
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, w,
                 CAST(row_number() OVER (ORDER BY day, event_type)
                      AS BIGINT) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM d),
    h AS (
      SELECT CAST(0 AS BIGINT) AS rn, max(n) AS n,
             CAST([] AS VARCHAR[]) AS ks, CAST([] AS BIGINT[]) AS cs
      FROM s
      UNION ALL
      SELECT s.rn, h.n,
             CASE
               WHEN coalesce(list_position(h.ks, s.event_type), 0) > 0
                 THEN h.ks
               WHEN len(h.ks) < 3 THEN h.ks || [s.event_type]
               ELSE CASE
                 WHEN s.w - least(list_min(h.cs), s.w) > 0
                   THEN list_filter(h.ks,
                          (x, i) -> h.cs[i]
                                    - least(list_min(h.cs), s.w) > 0)
                        || [s.event_type]
                 ELSE list_filter(h.ks,
                        (x, i) -> h.cs[i]
                                  - least(list_min(h.cs), s.w) > 0)
               END
             END,
             CASE
               WHEN coalesce(list_position(h.ks, s.event_type), 0) > 0
                 THEN list_transform(h.cs,
                        (c, i) -> CASE WHEN i = list_position(h.ks,
                                                              s.event_type)
                                       THEN c + s.w ELSE c END)
               WHEN len(h.ks) < 3 THEN h.cs || [s.w]
               ELSE CASE
                 WHEN s.w - least(list_min(h.cs), s.w) > 0
                   THEN list_filter(
                          list_transform(h.cs,
                            c -> c - least(list_min(h.cs), s.w)),
                          c -> c > 0)
                        || [s.w - least(list_min(h.cs), s.w)]
                 ELSE list_filter(
                        list_transform(h.cs,
                          c -> c - least(list_min(h.cs), s.w)),
                        c -> c > 0)
               END
             END
      FROM h JOIN s ON s.rn = h.rn + 1),
    fin AS (SELECT ks, cs FROM h WHERE rn = n),
    tot AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS true_w FROM d
            GROUP BY 1),
    gl AS (SELECT CAST(SUM(w) AS BIGINT) AS big_w FROM d),
    m AS (SELECT t.event_type, t.true_w,
                 CAST(coalesce(fin.cs[list_position(fin.ks, t.event_type)],
                               0) AS BIGINT) AS mg_w,
                 CAST((gl.big_w - (SELECT coalesce(SUM(c), 0)
                                   FROM unnest(fin.cs) AS u(c))) // 4
                      AS BIGINT) AS bound
          FROM tot t, fin, gl)
    SELECT event_type, true_w, mg_w,
           true_w - mg_w AS undercount, bound,
           CAST(CASE WHEN mg_w <= true_w AND true_w - mg_w <= bound
                     THEN 1 ELSE 0 END AS INTEGER) AS within_bound
    FROM m
    """,
)
def sketch_misra_gries(spark, sf_dir):
    """Misra-Gries weighted heavy-hitters summary (Misra & Gries '82;
    weighted form Berinde et al. PODS'09) with k = 3 counters over the
    per-(day, type) count stream in canonical (day, type) order: a
    present key absorbs its weight, a free slot admits the key, and an
    overflow subtracts d = min(min_counter, w) from ALL counters
    (dropping zeros, inserting the newcomer at w - d when positive).
    Every decrement destroys exactly (k+1)*d weight, so the final
    guarantee true - est <= (W - sum(counters))/(k+1) is EXACT integer
    arithmetic — emitted per type with a self-certifying within_bound
    flag (the estimate also never overshoots).  Spark folds the
    bounded stream with a two-array struct state (JVM-side, one row);
    DuckDB replays the identical integers through a linear recursive
    CTE carrying VARCHAR[]/BIGINT[] state, the DGIM/Holt discipline.
    The stream is calendar-capped (days x types), never the raw event
    dimension."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("w"))
    arr = d.groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("day", "event_type", "w"))
            ),
            lambda s: F.struct(
                s["event_type"].alias("key"), s["w"].alias("w")
            ),
        ).alias("xs"),
        F.sum("w").cast("long").alias("big_w"),
    )
    init = F.struct(
        F.array().cast("array<string>").alias("ks"),
        F.array().cast("array<bigint>").alias("cs"),
    )

    def step(acc, x):
        ks, cs = acc["ks"], acc["cs"]
        key, w = x["key"], x["w"]
        pos = F.array_position(ks, key)
        inc_cs = F.transform(
            cs, lambda c, i: F.when(i + 1 == pos, c + w).otherwise(c)
        )
        mn = F.array_min(cs)
        dlt = F.least(mn, w)
        keep = lambda _, i: F.element_at(cs, (i + 1).cast("int")) - dlt > 0  # noqa: E731
        dec_ks = F.filter(ks, keep)
        dec_cs = F.filter(
            F.transform(cs, lambda c: c - dlt), lambda c: c > 0
        )
        ins_new = w - dlt > 0
        return F.struct(
            F.when(pos > 0, ks)
            .when(F.size(ks) < 3, F.concat(ks, F.array(key)))
            .otherwise(
                F.when(
                    ins_new, F.concat(dec_ks, F.array(key))
                ).otherwise(dec_ks)
            )
            .alias("ks"),
            F.when(pos > 0, inc_cs)
            .when(F.size(ks) < 3, F.concat(cs, F.array(w.cast("bigint"))))
            .otherwise(
                F.when(
                    ins_new,
                    F.concat(dec_cs, F.array((w - dlt).cast("bigint"))),
                ).otherwise(dec_cs)
            )
            .alias("cs"),
        )

    fin = arr.withColumn("st", F.aggregate("xs", init, step)).select(
        F.col("st")["ks"].alias("ks"),
        F.col("st")["cs"].alias("cs"),
        "big_w",
        F.aggregate(
            F.col("st")["cs"],
            F.lit(0).cast("long"),
            lambda a, c: a + c,
        ).alias("s_fin"),
    )
    tot = d.groupBy("event_type").agg(
        F.sum("w").cast("long").alias("true_w")
    )
    j = tot.crossJoin(F.broadcast(fin))
    mg_pos = F.array_position(F.col("ks"), F.col("event_type"))
    mg_w = F.coalesce(
        F.when(mg_pos > 0, F.element_at(F.col("cs"), mg_pos.cast("int"))),
        F.lit(0),
    ).cast("long")
    bound = F.expr("(big_w - s_fin) div 4")
    return j.select(
        "event_type", "true_w",
        mg_w.alias("mg_w"),
        (F.col("true_w") - mg_w).alias("undercount"),
        bound.cast("long").alias("bound"),
        (
            (mg_w <= F.col("true_w"))
            & (F.col("true_w") - mg_w <= bound)
        )
        .cast("int")
        .alias("within_bound"),
    )


@register(
    "dedup_osa_distance",
    """
    WITH RECURSIVE pairs AS (
      SELECT source,
             substr(regexp_replace(arg_min(text, doc_id), '[^ -~]', '', 'g'),
                    1, 32) AS a,
             substr(regexp_replace(arg_max(text, doc_id), '[^ -~]', '', 'g'),
                    1, 32) AS b
      FROM documents WHERE text IS NOT NULL
      GROUP BY source HAVING count(*) >= 2),
    dims AS (SELECT source, a, b,
                    CAST(length(a) AS BIGINT) AS n,
                    CAST(length(b) AS BIGINT) AS m
             FROM pairs WHERE length(a) >= 1 AND length(b) >= 1),
    h AS (
      SELECT source, a, b, n, m, CAST(0 AS BIGINT) AS k,
             list_transform(range(1, CAST(2 * m + 2 AS INT) + 1),
                            x -> CAST(1048576 AS BIGINT)) AS st
      FROM dims
      UNION ALL
      SELECT h.source, h.a, h.b, h.n, h.m, h.k + 1,
             h.st[2:] || [least(
               CASE WHEN h.k // h.m > 0
                    THEN h.st[CAST(h.m + 3 AS INT)]
                    ELSE h.k % h.m + 1 END + 1,
               CASE WHEN h.k % h.m > 0
                    THEN h.st[CAST(2 * h.m + 2 AS INT)]
                    ELSE h.k // h.m + 1 END + 1,
               CASE WHEN h.k // h.m > 0 AND h.k % h.m > 0
                      THEN h.st[CAST(h.m + 2 AS INT)]
                    WHEN h.k // h.m = 0 THEN h.k % h.m
                    ELSE h.k // h.m END
                 + CASE WHEN substr(h.a, CAST(h.k // h.m + 1 AS INT), 1)
                             = substr(h.b, CAST(h.k % h.m + 1 AS INT), 1)
                        THEN 0 ELSE 1 END,
               CASE WHEN h.k // h.m >= 1 AND h.k % h.m >= 1
                         AND substr(h.a, CAST(h.k // h.m + 1 AS INT), 1)
                             = substr(h.b, CAST(h.k % h.m AS INT), 1)
                         AND substr(h.a, CAST(h.k // h.m AS INT), 1)
                             = substr(h.b, CAST(h.k % h.m + 1 AS INT), 1)
                    THEN CASE WHEN h.k // h.m = 1 THEN h.k % h.m - 1
                              WHEN h.k % h.m = 1 THEN h.k // h.m - 1
                              ELSE h.st[1] END + 1
                    ELSE CAST(1048576 AS BIGINT) END)]
      FROM h WHERE h.k < h.n * h.m)
    SELECT source, n AS len_a, m AS len_b,
           CAST(st[CAST(2 * m + 2 AS INT)] AS BIGINT) AS osa,
           CAST(levenshtein(a, b) AS BIGINT) AS lev,
           CAST(CASE WHEN st[CAST(2 * m + 2 AS INT)] <= levenshtein(a, b)
                     THEN 1 ELSE 0 END AS INTEGER) AS osa_le_lev
    FROM h WHERE k = n * m
    """,
)
def dedup_osa_distance(spark, sf_dir):
    """Optimal-string-alignment edit distance (the
    Damerau-Levenshtein variant with non-overlapping transpositions)
    between each source's lexicographically extreme documents
    (ASCII-sanitized 32-char prefixes) — near-dup similarity that
    credits swapped-word OCR noise one edit instead of two.  The DP
    is the DTW row-major discipline with a LONGER sliding window: the
    last 2m+2 cells, so left = W[2m+2], up = W[m+3], diag = W[m+2]
    and the transposition cell dp[i-2][j-2] = W[1], with boundary
    rows/cols synthesized in closed form (dp[0][j] = j, dp[i][0] = i)
    instead of materialized.  All-integer state -> bit parity between
    Spark's F.aggregate fold and DuckDB's recursive CTE.  The lev
    column is each engine's own BUILT-IN Levenshtein (independent
    implementations!), and osa_le_lev self-certifies the
    transposition gain osa <= lev on every row.  Cost envelope:
    |sources| folds x <= 1024 cells x 66-slot window.  NULL-text docs
    are excluded symmetrically: Spark's min_by would pick a NULL
    extreme where DuckDB's arg_min skips null args (r13 null-probe
    find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    clean = F.substring(
        F.regexp_replace(F.col("text"), "[^ -~]", ""), 1, 32
    )
    pairs = (
        docs.select("source", "doc_id", clean.alias("s"))
        .groupBy("source")
        .agg(
            F.min_by("s", "doc_id").alias("a"),
            F.max_by("s", "doc_id").alias("b"),
            F.count("*").alias("nd"),
        )
        .filter(
            (F.col("nd") >= 2)
            & (F.length("a") >= 1)
            & (F.length("b") >= 1)
        )
    )
    INF = 1 << 20
    dims = pairs.select(
        "source", "a", "b",
        F.length("a").cast("long").alias("n"),
        F.length("b").cast("long").alias("m"),
        F.expr("transform(sequence(1, length(a)), i -> substr(a, i, 1))").alias("ac"),
        F.expr("transform(sequence(1, length(b)), i -> substr(b, i, 1))").alias("bc"),
    )
    m_col = F.col("m")
    cells = dims.withColumn(
        "ks", F.sequence(F.lit(0).cast("long"), F.col("n") * m_col - 1)
    )
    init = F.transform(
        F.sequence(F.lit(1), (2 * m_col + 2).cast("int")),
        lambda _: F.lit(INF).cast("long"),
    )

    def step(st, k):
        i0 = (k / m_col).cast("long")  # exact floor: nonneg ints
        j0 = k % m_col
        ach = lambda idx: F.element_at(F.col("ac"), idx.cast("int"))  # noqa: E731
        bch = lambda idx: F.element_at(F.col("bc"), idx.cast("int"))  # noqa: E731
        up = F.when(i0 > 0, F.element_at(st, (m_col + 3).cast("int"))).otherwise(
            j0 + 1
        )
        left = F.when(
            j0 > 0, F.element_at(st, (2 * m_col + 2).cast("int"))
        ).otherwise(i0 + 1)
        diag = (
            F.when((i0 > 0) & (j0 > 0), F.element_at(st, (m_col + 2).cast("int")))
            .when(i0 == 0, j0)
            .otherwise(i0)
        )
        sub = F.when(ach(i0 + 1) == bch(j0 + 1), 0).otherwise(1)
        t_ok = (
            (i0 >= 1)
            & (j0 >= 1)
            & (ach(i0 + 1) == bch(j0))
            & (ach(i0) == bch(j0 + 1))
        )
        t_val = (
            F.when(i0 == 1, j0 - 1)
            .when(j0 == 1, i0 - 1)
            .otherwise(F.element_at(st, 1))
        )
        trans = F.when(t_ok, t_val + 1).otherwise(F.lit(INF).cast("long"))
        val = F.least(up + 1, left + 1, diag + sub, trans).cast("long")
        return F.concat(F.slice(st, 2, F.size(st) - 1), F.array(val))

    out = cells.withColumn("st", F.aggregate("ks", init, step))
    osa = F.element_at("st", (2 * m_col + 2).cast("int")).cast("long")
    lev = F.levenshtein("a", "b").cast("long")
    return out.select(
        "source",
        F.col("n").alias("len_a"),
        m_col.alias("len_b"),
        osa.alias("osa"),
        lev.alias("lev"),
        (osa <= lev).cast("int").alias("osa_le_lev"),
    )


@register(
    "multimodal_audio_meta",
    """
    SELECT doc_id,
           CAST(44 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
           'audio/wav' AS format,
           CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
           CAST(8000 * (doc_id % 5 + 1) AS INTEGER) AS sample_rate,
           CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS bits,
           CAST(octet_length(encode(text))
                // ((doc_id % 2 + 1) * (doc_id % 3 + 1)) AS BIGINT)
             AS n_frames,
           CAST((octet_length(encode(text))
                 // ((doc_id % 2 + 1) * (doc_id % 3 + 1))) * 1000
                // (8000 * (doc_id % 5 + 1)) AS BIGINT) AS duration_ms
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_audio_meta(spark, sf_dir):
    """REAL audio-container decode round trip — the WAV sibling of
    multimodal_decode_real: documents are wrapped in structurally
    valid canonical 44-byte RIFF/WAVE headers (llm/multimodal.
    build_wav — channels/rate/bits are pure functions of doc_id), and
    llm/multimodal.wav_decoder PARSES the bytes back: RIFF chunk walk
    with the odd-size padding rule, little-endian fmt fields, data
    size -> n_frames = size // block_align, duration_ms = frames *
    1000 // rate.  The oracle restates the expected metadata per
    synthetic container, so a mis-parsed endianness, chunk offset, or
    integer-division order breaks the hash.  Both mapInPandas hops
    are map-only — payload bytes never shuffle."""
    from dicomdb_spark.llm.multimodal import (
        containerize_audio,
        decode_audio_meta,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_meta(containerize_audio(docs)).select(
        "doc_id", "n_bytes", "format", "channels", "sample_rate", "bits",
        "n_frames", "duration_ms",
    )


def _ecc_oracle(rounds: int = 6) -> str:
    """Unrolled ALL-PAIRS BFS over the minhash near-dup graph: the
    (src, node) distance grid relaxes rounds times, then per-source
    eccentricity and the graph diameter read off the final grid.  The
    round-5 vs round-6 grid sizes make the convergence flag
    self-certifying (the ktruss discipline)."""
    from dicomdb_spark.registry.q01 import _minhash_pairs_cte

    chain, prev = _chain("d0", rounds, lambda i, prev: {f"d{i}": f"""
      SELECT src, node, min(d) AS d FROM (
      SELECT src, node, d FROM {prev}
      UNION ALL
      SELECT p.src, e.dst AS node, p.d + 1 AS d
      FROM {prev} p JOIN e ON e.src = p.node) t GROUP BY 1, 2"""})
    return f"""
    {_minhash_pairs_cte()},
    e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    v AS (SELECT DISTINCT src AS node FROM e),
    d0 AS MATERIALIZED (SELECT node AS src, node, 0 AS d FROM v),
    {chain},
    per AS (SELECT src AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_reached,
                   CAST(max(d) AS BIGINT) AS ecc
            FROM {prev} GROUP BY 1),
    gl AS (SELECT CAST(max(ecc) AS BIGINT) AS diameter FROM per),
    c5 AS (SELECT CAST(count(*) AS BIGINT) AS pairs_r5 FROM d{rounds - 1}),
    c6 AS (SELECT CAST(count(*) AS BIGINT) AS pairs_r6 FROM d{rounds})
    SELECT per.doc_id, per.n_reached, per.ecc, gl.diameter,
           c5.pairs_r5, c6.pairs_r6,
           CAST(CASE WHEN c5.pairs_r5 = c6.pairs_r6 THEN 1 ELSE 0 END
                AS BIGINT) AS converged
    FROM per, gl, c5, c6
    """


@register("graph_eccentricity", _ecc_oracle())
def graph_eccentricity(spark, sf_dir):
    """Per-node eccentricity and graph diameter of the minhash
    near-dup graph by SIX unrolled rounds of all-pairs BFS relaxation
    (d_{i}(s,v) = min(d_{i-1}(s,v), min over (u,v) edges of
    d_{i-1}(s,u)+1)) — the how-stringy-are-dup-chains audit that
    single-source graph_bfs_hops cannot answer.  Eccentricity is the
    max distance within each node's <=6-hop reach (components here
    are tiny dup clusters); convergence is SELF-CERTIFYING via the
    round-5 vs round-6 grid-size equality, the ktruss discipline, so
    a truncated relaxation is visible in the output, not assumed by a
    fixture test.  The (src, node) grid is bounded by component sizes
    (Sigma |C_i|^2, tiny for dup clusters), each round one
    shuffle-join; rounds localCheckpoint so the plan stays linear.
    Reference behavior: doublon-chain depth audits (doublon_*.py)."""
    from dicomdb_spark.registry.q01 import _docs_with_dupes

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
    v = e.select(F.col("src").alias("node")).distinct()
    d = v.select(
        F.col("node").alias("src"), "node", F.lit(0).cast("long").alias("d")
    )
    counts = {}
    for i in range(1, 7):
        nxt = (
            d.join(
                e.select(F.col("src").alias("node"), F.col("dst")), "node"
            )
            .select("src", F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        d = (
            d.unionAll(nxt)
            .groupBy("src", "node")
            .agg(F.min("d").cast("long").alias("d"))
            .transform(cut_lineage)
        )
        if i >= 5:
            counts[i] = d.agg(
                F.count("*").cast("long").alias(f"pairs_r{i}")
            )
    per = d.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_reached"),
        F.max("d").cast("long").alias("ecc"),
    )
    gl = per.agg(F.max("ecc").cast("long").alias("diameter"))
    out = (
        per.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(counts[5]))
        .crossJoin(F.broadcast(counts[6]))
    )
    return out.select(
        "doc_id", "n_reached", "ecc", "diameter", "pairs_r5", "pairs_r6",
        F.when(F.col("pairs_r5") == F.col("pairs_r6"), 1)
        .otherwise(0)
        .cast("long")
        .alias("converged"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch E: zigzag reversal fold, LCS fold, Gunning fog,
# Hartley Fmax via cross-multiplied argmax, Benjamini-Yekutieli.
# ---------------------------------------------------------------------------


@register(
    "w_zigzag_pivots",
    """
    WITH RECURSIVE d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type, y,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                 CAST(greatest((max(y) OVER (PARTITION BY event_type)
                                - min(y) OVER (PARTITION BY event_type))
                               // 5, 1) AS BIGINT) AS th
          FROM d),
    h AS (
      SELECT event_type, rn, n, th,
             CAST(0 AS BIGINT) AS dir, y AS ext, CAST(0 AS BIGINT) AS swings
      FROM s WHERE rn = 1
      UNION ALL
      SELECT h.event_type, s.rn, h.n, h.th,
             CASE WHEN h.dir = 0 THEN
                    CASE WHEN s.y - h.ext >= h.th THEN 1
                         WHEN h.ext - s.y >= h.th THEN -1 ELSE 0 END
                  WHEN h.dir = 1 THEN
                    CASE WHEN h.ext - s.y >= h.th THEN -1 ELSE 1 END
                  ELSE CASE WHEN s.y - h.ext >= h.th THEN 1 ELSE -1 END
             END,
             CASE WHEN h.dir = 0 THEN
                    CASE WHEN abs(s.y - h.ext) >= h.th THEN s.y ELSE h.ext END
                  WHEN h.dir = 1 THEN
                    CASE WHEN s.y > h.ext THEN s.y
                         WHEN h.ext - s.y >= h.th THEN s.y ELSE h.ext END
                  ELSE CASE WHEN s.y < h.ext THEN s.y
                            WHEN s.y - h.ext >= h.th THEN s.y ELSE h.ext END
             END,
             h.swings + CASE WHEN (h.dir = 1 AND h.ext - s.y >= h.th)
                               OR (h.dir = -1 AND s.y - h.ext >= h.th)
                             THEN 1 ELSE 0 END
      FROM h JOIN s ON s.event_type = h.event_type AND s.rn = h.rn + 1)
    SELECT event_type, n AS n_days, th AS threshold_cents,
           dir AS final_dir, ext AS final_extreme, swings AS n_swings
    FROM h WHERE rn = n
    """,
)
def w_zigzag_pivots(spark, sf_dir):
    """Zig-zag reversal counter per type over the daily price series:
    with threshold T = max(1, range/5), an uptrend extends on new
    highs and REVERSES (one confirmed pivot) when price retreats >= T
    from the running extreme — symmetric for downtrends, direction 0
    until the first move >= T.  The (dir, extreme, swings) state is a
    pure int64 recurrence over the bounded day grain: Spark array
    fold vs DuckDB recursive CTE, bit-identical (all comparisons are
    integer, no division at all).  The classic chart-pattern
    noise-filter; complements w_renko_bricks (fixed-size bricks) with
    retracement-defined pivots."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    arr = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.greatest(
            F.expr("(max(y) - min(y)) div 5"), F.lit(1).cast("long")
        )
        .cast("long")
        .alias("th"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s["y"],
        ).alias("ys"),
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("dir"), zero.alias("ext"), zero.alias("swings"),
        zero.alias("t"),
    )
    th = F.col("th")

    def step(acc, y):
        first = acc["t"] == 0
        up_rev = (acc["dir"] == 1) & (acc["ext"] - y >= th)
        dn_rev = (acc["dir"] == -1) & (y - acc["ext"] >= th)
        new_dir = (
            F.when(first, zero)
            .when(
                acc["dir"] == 0,
                F.when(y - acc["ext"] >= th, 1)
                .when(acc["ext"] - y >= th, -1)
                .otherwise(0),
            )
            .when(acc["dir"] == 1, F.when(up_rev, -1).otherwise(1))
            .otherwise(F.when(dn_rev, 1).otherwise(-1))
        )
        new_ext = (
            F.when(first, y)
            .when(
                acc["dir"] == 0,
                F.when(F.abs(y - acc["ext"]) >= th, y).otherwise(acc["ext"]),
            )
            .when(
                acc["dir"] == 1,
                F.when((y > acc["ext"]) | up_rev, y).otherwise(acc["ext"]),
            )
            .otherwise(
                F.when((y < acc["ext"]) | dn_rev, y).otherwise(acc["ext"])
            )
        )
        return F.struct(
            new_dir.cast("long").alias("dir"),
            new_ext.cast("long").alias("ext"),
            (acc["swings"] + F.when(up_rev | dn_rev, 1).otherwise(0))
            .cast("long")
            .alias("swings"),
            (acc["t"] + 1).cast("long").alias("t"),
        )

    out = arr.withColumn("st", F.aggregate("ys", init, step))
    return out.select(
        "event_type",
        F.col("n").alias("n_days"),
        th.alias("threshold_cents"),
        F.col("st")["dir"].cast("long").alias("final_dir"),
        F.col("st")["ext"].cast("long").alias("final_extreme"),
        F.col("st")["swings"].cast("long").alias("n_swings"),
    )


@register(
    "text_lcs_length",
    """
    WITH RECURSIVE pairs AS (
      SELECT source,
             substr(regexp_replace(arg_min(text, doc_id), '[^ -~]', '', 'g'),
                    1, 32) AS a,
             substr(regexp_replace(arg_max(text, doc_id), '[^ -~]', '', 'g'),
                    1, 32) AS b
      FROM documents WHERE text IS NOT NULL
      GROUP BY source HAVING count(*) >= 2),
    dims AS (SELECT source, a, b,
                    CAST(length(a) AS BIGINT) AS n,
                    CAST(length(b) AS BIGINT) AS m
             FROM pairs WHERE length(a) >= 1 AND length(b) >= 1),
    h AS (
      SELECT source, a, b, n, m, CAST(0 AS BIGINT) AS k,
             list_transform(range(1, CAST(m + 1 AS INT) + 1),
                            x -> CAST(0 AS BIGINT)) AS st
      FROM dims
      UNION ALL
      SELECT h.source, h.a, h.b, h.n, h.m, h.k + 1,
             h.st[2:] || [
               CASE WHEN substr(h.a, CAST(h.k // h.m + 1 AS INT), 1)
                         = substr(h.b, CAST(h.k % h.m + 1 AS INT), 1)
                    THEN (CASE WHEN h.k // h.m > 0 AND h.k % h.m > 0
                               THEN h.st[1] ELSE CAST(0 AS BIGINT) END) + 1
                    ELSE greatest(
                      CASE WHEN h.k // h.m > 0
                           THEN h.st[2] ELSE CAST(0 AS BIGINT) END,
                      CASE WHEN h.k % h.m > 0
                           THEN h.st[CAST(h.m + 1 AS INT)]
                           ELSE CAST(0 AS BIGINT) END)
               END]
      FROM h WHERE h.k < h.n * h.m)
    SELECT source, n AS len_a, m AS len_b,
           CAST(st[CAST(m + 1 AS INT)] AS BIGINT) AS lcs,
           CAST(n + m - 2 * st[CAST(m + 1 AS INT)] AS BIGINT) AS indel_dist,
           CAST(levenshtein(a, b) AS BIGINT) AS lev,
           CAST(CASE WHEN n + m - 2 * st[CAST(m + 1 AS INT)]
                          >= levenshtein(a, b)
                     THEN 1 ELSE 0 END AS INTEGER) AS indel_ge_lev,
           2.0 * CAST(st[CAST(m + 1 AS INT)] AS DOUBLE)
             / CAST(n + m AS DOUBLE) AS lcs_sim
    FROM h WHERE k = n * m
    """,
)
def text_lcs_length(spark, sf_dir):
    """Longest-common-subsequence length between each source's
    lexicographically extreme documents (same ASCII 32-prefix pairs
    as dedup_osa_distance) — the alignment-based similarity that
    ignores insertions entirely, plus the indel (no-substitution)
    edit distance n + m - 2*LCS it induces.  The DP is the DTW
    row-major fold with an (m+1)-window of int64 state and zero
    boundaries; DuckDB replays it as a linear recursive CTE.  Two
    self-certifying relations ride along: indel_dist >= the built-in
    Levenshtein (each engine's own independent implementation) and
    lcs_sim = 2*LCS/(n+m), the single float division.  NULL-text docs
    excluded symmetrically, same min_by-vs-arg_min null semantics as
    dedup_osa_distance (r13 null-probe find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    clean = F.substring(
        F.regexp_replace(F.col("text"), "[^ -~]", ""), 1, 32
    )
    pairs = (
        docs.select("source", "doc_id", clean.alias("s"))
        .groupBy("source")
        .agg(
            F.min_by("s", "doc_id").alias("a"),
            F.max_by("s", "doc_id").alias("b"),
            F.count("*").alias("nd"),
        )
        .filter(
            (F.col("nd") >= 2)
            & (F.length("a") >= 1)
            & (F.length("b") >= 1)
        )
    )
    dims = pairs.select(
        "source", "a", "b",
        F.length("a").cast("long").alias("n"),
        F.length("b").cast("long").alias("m"),
        F.expr("transform(sequence(1, length(a)), i -> substr(a, i, 1))").alias("ac"),
        F.expr("transform(sequence(1, length(b)), i -> substr(b, i, 1))").alias("bc"),
    )
    m_col = F.col("m")
    cells = dims.withColumn(
        "ks", F.sequence(F.lit(0).cast("long"), F.col("n") * m_col - 1)
    )
    init = F.transform(
        F.sequence(F.lit(1), (m_col + 1).cast("int")),
        lambda _: F.lit(0).cast("long"),
    )
    zero = F.lit(0).cast("long")

    def step(st, k):
        i0 = (k / m_col).cast("long")
        j0 = k % m_col
        eq = F.element_at(F.col("ac"), (i0 + 1).cast("int")) == F.element_at(
            F.col("bc"), (j0 + 1).cast("int")
        )
        diag = F.when((i0 > 0) & (j0 > 0), F.element_at(st, 1)).otherwise(zero)
        up = F.when(i0 > 0, F.element_at(st, 2)).otherwise(zero)
        left = F.when(
            j0 > 0, F.element_at(st, (m_col + 1).cast("int"))
        ).otherwise(zero)
        val = F.when(eq, diag + 1).otherwise(F.greatest(up, left)).cast("long")
        return F.concat(F.slice(st, 2, F.size(st) - 1), F.array(val))

    out = cells.withColumn("st", F.aggregate("ks", init, step))
    lcs = F.element_at("st", (m_col + 1).cast("int")).cast("long")
    indel = (F.col("n") + m_col - 2 * lcs).cast("long")
    lev = F.levenshtein("a", "b").cast("long")
    return out.select(
        "source",
        F.col("n").alias("len_a"),
        m_col.alias("len_b"),
        lcs.alias("lcs"),
        indel.alias("indel_dist"),
        lev.alias("lev"),
        (indel >= lev).cast("int").alias("indel_ge_lev"),
        (2.0 * lcs.cast("double") / (F.col("n") + m_col).cast("double")).alias(
            "lcs_sim"
        ),
    )


@register(
    "text_gunning_fog",
    f"""
    WITH tk AS (SELECT source, unnest({_SQL_TOKS}) AS term FROM documents),
    w AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS words,
                 CAST(SUM(CASE WHEN len(regexp_extract_all(term,
                                                           '[aeiouy]+')) >= 3
                               THEN 1 ELSE 0 END) AS BIGINT) AS complex_words
          FROM tk GROUP BY 1),
    s AS (SELECT source,
                 CAST(SUM(greatest(length(regexp_extract_all(text,
                                                             '[.!?]+')), 1))
                      AS BIGINT) AS sentences
          FROM documents GROUP BY 1)
    SELECT w.source, w.words, w.complex_words, s.sentences,
           0.4 * (CAST(w.words AS DOUBLE) / CAST(s.sentences AS DOUBLE)
                  + 100.0 * CAST(w.complex_words AS DOUBLE)
                    / CAST(w.words AS DOUBLE)) AS fog
    FROM w JOIN s ON w.source = s.source WHERE w.words > 0
    """,
)
def text_gunning_fog(spark, sf_dir):
    """Gunning fog readability per source: 0.4*(words/sentence +
    100*complex/words), where a complex word has >= 3 vowel RUNS
    ([aeiouy]+ matches, the engine-portable syllable proxy — both
    regex engines agree on this class, unlike syllable dictionaries).
    Tokenization and sentence counting are exactly text_coleman_liau's
    (lowercased family tokenizer; [.!?]+ runs, min 1 per doc); all
    three counts are int64 sums and the index is one fixed-order
    float chain."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source",
        F.explode(
            F.transform(text.tokens("text"), lambda t: F.lower(t))
        ).alias("term"),
    )
    w = tk.groupBy("source").agg(
        F.count("*").cast("long").alias("words"),
        F.sum(
            (
                F.size(F.expr("regexp_extract_all(term, '[aeiouy]+', 0)"))
                >= 3
            ).cast("long")
        )
        .cast("long")
        .alias("complex_words"),
    )
    s = docs.groupBy("source").agg(
        F.sum(
            F.greatest(
                F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
                F.lit(1),
            )
        )
        .cast("long")
        .alias("sentences"),
    )
    j = w.join(s, "source").filter(F.col("words") > 0)
    wd, cd, sd = (
        F.col("words").cast("double"),
        F.col("complex_words").cast("double"),
        F.col("sentences").cast("double"),
    )
    return j.select(
        "source", "words", "complex_words", "sentences",
        (0.4 * (wd / sd + 100.0 * cd / wd)).alias("fog"),
    )


@register(
    "a_hartley_fmax",
    f"""
    WITH {_SQL_BARS},
    g AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_g,
                 CAST(count(*) * SUM(vol * vol) - SUM(vol) * SUM(vol)
                      AS BIGINT) AS v
          FROM bars GROUP BY 1),
    rk AS (SELECT a.event_type, a.n_g, a.v,
                  CAST(SUM(CASE WHEN a.v * b.n_g * b.n_g
                                     > b.v * a.n_g * a.n_g
                                   OR (a.v * b.n_g * b.n_g
                                       = b.v * a.n_g * a.n_g
                                       AND a.event_type < b.event_type)
                                THEN 1 ELSE 0 END) AS BIGINT) AS wins,
                  CAST(count(*) AS BIGINT) AS k
           FROM g a JOIN g b ON a.event_type <> b.event_type
           GROUP BY 1, 2, 3),
    mx AS (SELECT event_type AS type_max, n_g AS n_max, v AS v_max
           FROM rk WHERE wins = k),
    mn AS (SELECT event_type AS type_min, n_g AS n_min, v AS v_min
           FROM rk WHERE wins = 0)
    SELECT mx.type_max, mn.type_min, mx.n_max, mn.n_min,
           mx.v_max, mn.v_min,
           CAST(mx.v_max * mn.n_min * mn.n_min AS DOUBLE)
             / CAST(mn.v_min * mx.n_max * mx.n_max AS DOUBLE) AS fmax
    FROM mx, mn WHERE mn.v_min > 0
    """,
)
def a_hartley_fmax(spark, sf_dir):
    """Hartley's Fmax variance-homogeneity ratio across event types
    (daily-volume variances): F = max(s_g^2)/min(s_g^2).  The per-group
    population variance is carried as the exact integer
    v_g = n_g*S2 - S1^2 (denominator n_g^2 implicit), and the arg-max/
    arg-min are found by CROSS-MULTIPLIED fraction comparison
    (a.v*b.n^2 vs b.v*a.n^2, event_type tiebreak) over the bounded
    |types|^2 grid — no float enters until the single final division.
    Unequal group sizes are handled exactly by construction.  int64
    bound: v*n^2 < 2^63 while daily volumes < ~4e6 on a 2400-day
    calendar."""
    from dicomdb_spark.registry.q05 import _bars

    g = (
        _bars(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            (
                F.count("*") * F.sum(F.col("vol") * F.col("vol"))
                - F.sum("vol") * F.sum("vol")
            )
            .cast("long")
            .alias("v"),
        )
    )
    a, b = g.alias("a"), g.alias("b")
    cmp_gt = (
        F.col("a.v") * F.col("b.n_g") * F.col("b.n_g")
        > F.col("b.v") * F.col("a.n_g") * F.col("a.n_g")
    ) | (
        (
            F.col("a.v") * F.col("b.n_g") * F.col("b.n_g")
            == F.col("b.v") * F.col("a.n_g") * F.col("a.n_g")
        )
        & (F.col("a.event_type") < F.col("b.event_type"))
    )
    rk = (
        a.join(b, F.col("a.event_type") != F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n_g").alias("n_g"),
            F.col("a.v").alias("v"),
        )
        .agg(
            F.sum(cmp_gt.cast("long")).cast("long").alias("wins"),
            F.count("*").cast("long").alias("k"),
        )
    )
    mx = rk.filter(F.col("wins") == F.col("k")).select(
        F.col("event_type").alias("type_max"),
        F.col("n_g").alias("n_max"),
        F.col("v").alias("v_max"),
    )
    mn = rk.filter(F.col("wins") == 0).select(
        F.col("event_type").alias("type_min"),
        F.col("n_g").alias("n_min"),
        F.col("v").alias("v_min"),
    )
    return (
        mx.crossJoin(mn)
        .filter(F.col("v_min") > 0)
        .select(
            "type_max", "type_min", "n_max", "n_min", "v_max", "v_min",
            (
                (
                    F.col("v_max") * F.col("n_min") * F.col("n_min")
                ).cast("double")
                / (
                    F.col("v_min") * F.col("n_max") * F.col("n_max")
                ).cast("double")
            ).alias("fmax"),
        )
    )


@register(
    "a_benjamini_yekutieli",
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
    t AS (SELECT *,
                 list_reduce([CAST(0.0 AS DOUBLE)]
                             || list_transform(range(1, CAST(m AS INT) + 1),
                                               i -> CAST(1.0 AS DOUBLE) / i),
                             (x, y) -> x + y) AS c_m
          FROM r),
    t2 AS (SELECT event_type, dow, p_cheb, rk, m, c_m,
                  0.1 * CAST(rk AS DOUBLE) / (CAST(m AS DOUBLE) * c_m)
                    AS by_threshold,
                  0.1 * CAST(rk AS DOUBLE) / CAST(m AS DOUBLE)
                    AS bh_threshold
           FROM t),
    kby AS (SELECT CAST(coalesce(max(CASE WHEN p_cheb <= by_threshold
                                          THEN rk END), 0) AS BIGINT)
                     AS k_by,
                   CAST(coalesce(max(CASE WHEN p_cheb <= bh_threshold
                                          THEN rk END), 0) AS BIGINT)
                     AS k_bh
            FROM t2)
    SELECT t2.event_type, t2.dow, t2.p_cheb, t2.rk, t2.c_m,
           t2.by_threshold,
           CAST(CASE WHEN t2.rk <= kby.k_by THEN 1 ELSE 0 END AS BIGINT)
             AS rejected_by,
           CAST(CASE WHEN t2.rk <= kby.k_bh THEN 1 ELSE 0 END AS BIGINT)
             AS rejected_bh,
           CAST(CASE WHEN kby.k_by <= kby.k_bh THEN 1 ELSE 0 END AS BIGINT)
             AS by_subset_bh
    FROM t2 CROSS JOIN kby
    """,
)
def a_benjamini_yekutieli(spark, sf_dir):
    """Benjamini-Yekutieli step-up FDR control (Ann. Stat. 2001) —
    a_bh_step_up's arbitrary-dependence sibling: thresholds shrink by
    the harmonic factor c(m) = Sigma_{i<=m} 1/i, valid under ANY
    p-value dependence.  Same engine-exact Chebyshev p-values and the
    same bounded |types|x7 rank frame; c(m) is evaluated as an ORDERED
    left fold over i = 1..m (F.aggregate vs list_reduce, identical
    IEEE sequence) rather than an order-nondeterministic SUM.  Both
    rules' rejection fronts are emitted side by side with the
    k_by <= k_bh dominance flag self-certifying that BY is the
    conservative one.  NULL values excluded up front, same reason as
    a_bh_step_up (all-NULL cell p sorts NULLS FIRST/LAST divergently —
    r13 null-probe find)."""
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
    mtot = p.agg(F.count("*").cast("long").alias("m"))
    r = p.crossJoin(F.broadcast(mtot)).select(
        "event_type", "dow", "p_cheb", "m",
        F.row_number().over(wr).cast("long").alias("rk"),
    )
    c_m = F.aggregate(
        F.sequence(F.lit(1), F.col("m").cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / i,
    )
    t2 = r.withColumn("c_m", c_m).select(
        "event_type", "dow", "p_cheb", "rk", "m", "c_m",
        (
            F.lit(0.1) * F.col("rk").cast("double")
            / (F.col("m").cast("double") * F.col("c_m"))
        ).alias("by_threshold"),
        (
            F.lit(0.1) * F.col("rk").cast("double") / F.col("m").cast("double")
        ).alias("bh_threshold"),
    )
    kby = t2.agg(
        F.coalesce(
            F.max(F.when(F.col("p_cheb") <= F.col("by_threshold"), F.col("rk"))),
            F.lit(0),
        )
        .cast("long")
        .alias("k_by"),
        F.coalesce(
            F.max(F.when(F.col("p_cheb") <= F.col("bh_threshold"), F.col("rk"))),
            F.lit(0),
        )
        .cast("long")
        .alias("k_bh"),
    )
    return t2.crossJoin(F.broadcast(kby)).select(
        "event_type", "dow", "p_cheb", "rk", "c_m", "by_threshold",
        F.when(F.col("rk") <= F.col("k_by"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected_by"),
        F.when(F.col("rk") <= F.col("k_bh"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected_bh"),
        F.when(F.col("k_by") <= F.col("k_bh"), 1)
        .otherwise(0)
        .cast("long")
        .alias("by_subset_bh"),
    )


@register(
    "s14_orc_roundtrip",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_keys
    FROM lineitem GROUP BY 1
    """,
)
def s14_orc_roundtrip(spark, sf_dir):
    """S14 — ORC interchange round trip: a typed lineitem slice
    (int64 keys + pre-floored cent values, no timestamp columns so
    the codec surface is exactly the columnar encoders) is written
    with Spark's native ORC writer to a deterministic scratch path,
    read BACK through the ORC reader, and aggregated; the oracle
    states the same aggregate over the original parquet, so any
    lossy encode/decode (dictionary, RLE, stripe boundary) breaks
    the hash.  The write is snappy-compressed, partition-parallel
    (no coalesce), and the scratch path is keyed by the sf tier so
    repeated runs overwrite rather than accumulate.  Extends the
    source/sink matrix (S1-S13) with the second columnar format."""
    import hashlib
    import tempfile
    from pathlib import Path

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = str(
        Path(tempfile.gettempdir()) / "dicomdb_spark_orc" / key
    )
    li.write.mode("overwrite").format("orc").option(
        "compression", "snappy"
    ).save(path)
    back = spark.read.format("orc").load(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("l_orderkey").cast("long").alias("sum_keys"),
    )


@register(
    "a_ljung_box",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
           FROM d),
    r AS (SELECT a.day, CAST(count(*) AS BIGINT) AS rn
          FROM d a JOIN d b ON b.day <= a.day GROUP BY a.day),
    v AS (SELECT r.rn, st.n, CAST(st.n * d.y - st.s AS BIGINT) AS dev
          FROM d JOIN r ON d.day = r.day, st),
    acv AS (SELECT max(a.n) AS n,
                   CAST(SUM(CASE WHEN b.rn = a.rn THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a0,
                   CAST(SUM(CASE WHEN b.rn = a.rn + 1 THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a1,
                   CAST(SUM(CASE WHEN b.rn = a.rn + 2 THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a2,
                   CAST(SUM(CASE WHEN b.rn = a.rn + 3 THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a3,
                   CAST(SUM(CASE WHEN b.rn = a.rn + 4 THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a4,
                   CAST(SUM(CASE WHEN b.rn = a.rn + 5 THEN
                     floor(CAST(a.dev AS DOUBLE) * CAST(b.dev AS DOUBLE)
                           / 100000000.0) ELSE 0 END) AS BIGINT) AS a5
            FROM v a JOIN v b ON b.rn >= a.rn AND b.rn <= a.rn + 5)
    SELECT n AS n_days, a0, a1, a2, a3, a4, a5,
           CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * ((CAST(a1 AS DOUBLE) / CAST(a0 AS DOUBLE))
                * (CAST(a1 AS DOUBLE) / CAST(a0 AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1.0)
                + (CAST(a2 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  * (CAST(a2 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 2.0)
                + (CAST(a3 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  * (CAST(a3 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 3.0)
                + (CAST(a4 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  * (CAST(a4 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 4.0)
                + (CAST(a5 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  * (CAST(a5 AS DOUBLE) / CAST(a0 AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 5.0)) AS q_lb
    FROM acv WHERE n > 5 AND a0 > 0
    """,
)
def a_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test (Biometrika 1978) for joint
    autocorrelation of the daily value totals at lags 1..5:
    Q = n(n+2) * Sigma rho_k^2/(n-k).  The float trap is the
    autocovariance: deviations are kept exact as dev_i = n*y_i - S
    (int64), and each lag product is floor-scaled to int64 BEFORE its
    sum (floor(dev_a*dev_b/1e8) — the dsum discipline for PRODUCTS,
    as a_durbin_watson), so the six sums are partial-aggregation-
    order-invariant; rho ratios and the Q chain are one fixed-order
    float expression written identically in both engines.  Day ranks
    come from the bounded |days|^2 self-join, not a global window.
    int64 bound: dev^2/1e8 <= n^2*y^2/1e8 < 2^63 while daily totals
    < ~5e8 cents on a 2400-day calendar."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    a, b = d.alias("ra"), d.alias("rb")
    r = (
        a.join(b, F.col("rb.day") <= F.col("ra.day"))
        .groupBy(F.col("ra.day").alias("day"))
        .agg(F.count("*").cast("long").alias("rn"))
    )
    v = (
        d.join(r, "day")
        .crossJoin(F.broadcast(st))
        .select(
            "rn", "n",
            (F.col("n") * F.col("y") - F.col("s")).cast("long").alias("dev"),
        )
    )
    va, vb = v.alias("va"), v.alias("vb")
    prod = F.floor(
        F.col("va.dev").cast("double") * F.col("vb.dev").cast("double")
        / 100000000.0
    )

    def lag_sum(k):
        return (
            F.sum(
                F.when(F.col("vb.rn") == F.col("va.rn") + k, prod).otherwise(0)
            )
            .cast("long")
            .alias(f"a{k}")
        )

    acv = va.join(
        vb,
        (F.col("vb.rn") >= F.col("va.rn"))
        & (F.col("vb.rn") <= F.col("va.rn") + 5),
    ).agg(
        F.max(F.col("va.n")).cast("long").alias("n"),
        *[lag_sum(k) for k in range(6)],
    )
    nd = F.col("n").cast("double")
    a0d = F.col("a0").cast("double")

    def term(k):
        rho = F.col(f"a{k}").cast("double") / a0d
        return rho * rho / (nd - float(k))

    q = nd * (nd + 2.0) * (
        term(1) + term(2) + term(3) + term(4) + term(5)
    )
    return acv.filter((F.col("n") > 5) & (F.col("a0") > 0)).select(
        F.col("n").alias("n_days"), "a0", "a1", "a2", "a3", "a4", "a5",
        q.alias("q_lb"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch F: rank concordance (Kendall W), variance outlier share
# (Cochran C), paradox-resistant agreement (Gwet AC1).
# ---------------------------------------------------------------------------


@register(
    "a_kendall_w",
    f"""
    WITH {_SQL_BARS},
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n FROM bars),
    full_days AS (SELECT day FROM bars, kk GROUP BY day, kk.n
                  HAVING count(*) = max(kk.n)),
    rows_kept AS (SELECT b.event_type, b.day, b.vol
                  FROM bars b JOIN full_days fd ON b.day = fd.day),
    r AS (SELECT event_type, day, vol,
                 CAST(2 * rank() OVER (PARTITION BY day ORDER BY vol)
                      + count(*) OVER (PARTITION BY day, vol) - 1 AS BIGINT)
                   AS r2
          FROM rows_kept),
    tie AS (SELECT day, CAST(SUM(t * t * t - t) AS BIGINT) AS tt
            FROM (SELECT day, vol, CAST(count(*) AS BIGINT) AS t
                  FROM rows_kept GROUP BY 1, 2) g
            GROUP BY 1),
    rj AS (SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2_sum,
                  CAST(count(*) AS BIGINT) AS m
           FROM r GROUP BY 1),
    s AS (SELECT CAST(max(kk.n) AS BIGINT) AS n, CAST(max(rj.m) AS BIGINT)
                   AS m,
                 CAST(SUM((rj.r2_sum - max_m.m * (kk.n + 1))
                          * (rj.r2_sum - max_m.m * (kk.n + 1))) AS BIGINT)
                   AS s4
          FROM rj, kk, (SELECT CAST(max(m) AS BIGINT) AS m FROM rj) max_m),
    tsum AS (SELECT CAST(SUM(tt) AS BIGINT) AS t_total FROM tie)
    SELECT s.n AS n_objects, s.m AS n_blocks, s.s4, tsum.t_total,
           3.0 * CAST(s.s4 AS DOUBLE)
             / CAST(s.m * s.m * (s.n * s.n * s.n - s.n)
                    - s.m * tsum.t_total AS DOUBLE) AS w
    FROM s, tsum WHERE s.n > 1
    """,
)
def a_kendall_w(spark, sf_dir):
    """Kendall's coefficient of concordance W with the exact tie
    correction (Kendall & Babington Smith '39): m raters = complete
    calendar days, n objects = event types, each day ranking types by
    volume.  Midranks ride the integer 2R encoding, so the squared
    deviation sum S4 = Sigma_j (R2_j - m(n+1))^2 and the per-day tie
    term Sigma(t^3 - t) are exact int64, and W = 3*S4 / (m^2(n^3-n) -
    m*SigmaT) is ONE division.  Only complete blocks enter (Page-test
    discipline); W = 1 means every day ranks the types identically,
    0 means no agreement.  Friedman's chi^2 = m(n-1)W ties it to
    a_friedman_test."""
    b = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("vol"))
    kk = b.agg(F.countDistinct("event_type").cast("long").alias("n"))
    full_days = (
        b.crossJoin(F.broadcast(kk))
        .groupBy("day", "n")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") == F.col("n"))
        .select("day")
    )
    rows_kept = b.join(F.broadcast(full_days), "day")
    wr = Window.partitionBy("day").orderBy("vol")
    wt = Window.partitionBy("day", "vol")
    r = rows_kept.select(
        "event_type",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("r2"),
    )
    tie = (
        rows_kept.groupBy("day", "vol")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("day")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tt")
        )
    )
    rj = r.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count("*").cast("long").alias("m"),
    )
    mm = rj.agg(F.max("m").cast("long").alias("m_max"))
    s = (
        rj.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(mm))
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("m_max").cast("long").alias("m"),
            F.sum(
                (F.col("r2_sum") - F.col("m_max") * (F.col("n") + 1))
                * (F.col("r2_sum") - F.col("m_max") * (F.col("n") + 1))
            )
            .cast("long")
            .alias("s4"),
        )
    )
    tsum = tie.agg(F.sum("tt").cast("long").alias("t_total"))
    out = s.crossJoin(F.broadcast(tsum))
    n, m, s4, tt = (
        F.col("n"), F.col("m"), F.col("s4"), F.col("t_total"),
    )
    return out.filter(n > 1).select(
        n.alias("n_objects"), m.alias("n_blocks"), s4.alias("s4"),
        tt.alias("t_total"),
        (
            3.0 * s4.cast("double")
            / (m * m * (n * n * n - n) - m * tt).cast("double")
        ).alias("w"),
    )


@register(
    "a_cochran_c",
    f"""
    WITH {_SQL_BARS},
    g AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_g,
                 CAST(count(*) * SUM(vol * vol) - SUM(vol) * SUM(vol)
                      AS BIGINT) AS v
          FROM bars GROUP BY 1),
    s2 AS (SELECT event_type, n_g, v,
                  CAST(v AS DOUBLE) / (CAST(n_g AS DOUBLE)
                                       * CAST(n_g AS DOUBLE)) AS s2d
           FROM g),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   max(s2d) AS s2_max,
                   list_reduce([CAST(0.0 AS DOUBLE)]
                               || list(s2d ORDER BY event_type),
                               (x, y) -> x + y) AS s2_sum
            FROM s2)
    SELECT k, s2_max, s2_sum, s2_max / s2_sum AS c
    FROM agg WHERE s2_sum > 0.0
    """,
)
def a_cochran_c(spark, sf_dir):
    """Cochran's C variance-outlier test across event types (daily
    volumes): C = max(s_g^2) / Sigma s_g^2 — does ONE group own an
    outsized share of the variance?  Each group's s^2 is exactly one
    division from the integer v_g = n_g*S2 - S1^2 (Hartley Fmax's
    encoding, unequal sizes handled exactly); max over doubles is
    order-safe, and the SUM — the usual nondeterminism trap — is an
    ORDERED left fold in event_type order on both engines
    (F.aggregate over the sorted collected array vs list_reduce over
    list(... ORDER BY)), the a_benjamini_yekutieli discipline.
    Complements a_hartley_fmax (max/min) with the max/total share."""
    from dicomdb_spark.registry.q05 import _bars

    g = (
        _bars(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            (
                F.count("*") * F.sum(F.col("vol") * F.col("vol"))
                - F.sum("vol") * F.sum("vol")
            )
            .cast("long")
            .alias("v"),
        )
    )
    s2 = g.select(
        "event_type",
        (
            F.col("v").cast("double")
            / (F.col("n_g").cast("double") * F.col("n_g").cast("double"))
        ).alias("s2d"),
    )
    agg = s2.agg(
        F.count("*").cast("long").alias("k"),
        F.max("s2d").alias("s2_max"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_type", "s2d"))),
                lambda e: e["s2d"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s2_sum"),
    )
    return agg.filter(F.col("s2_sum") > 0.0).select(
        "k", "s2_max", "s2_sum",
        (F.col("s2_max") / F.col("s2_sum")).alias("c"),
    )


@register(
    "a_gwet_ac1",
    f"""
    WITH e AS (SELECT {_SQL_NORMSQ} AS s,
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
          FROM p),
    x AS (SELECT n, agree, a1, b1,
                 (a1 + b1) * (2 * n - a1 - b1) AS pe2n2
          FROM t)
    SELECT n, agree, a1 AS n_pos_a, b1 AS n_pos_b,
           CAST(a1 + b1 AS DOUBLE) / CAST(2 * n AS DOUBLE) AS pi_hat,
           CAST(2 * n * agree - pe2n2 AS DOUBLE)
             / CAST(2 * n * n - pe2n2 AS DOUBLE) AS ac1
    FROM x
    """,
)
def a_gwet_ac1(spark, sf_dir):
    """Gwet's AC1 chance-corrected agreement (BJMSP 2008) between the
    SAME two deterministic embedding raters as ml_cohens_kappa — the
    statistic built to dodge the kappa paradox (kappa collapsing under
    skewed prevalence).  Binary AC1 chance agreement is 2*pi(1-pi)
    with pi the mean of the two raters' positive rates, so scaling by
    2n^2 keeps everything int64: AC1 = (2n*agree - (a1+b1)(2n-a1-b1))
    / (2n^2 - (a1+b1)(2n-a1-b1)) — ONE division, same discipline as
    the kappa it pairs with (compare the two outputs on skewed
    labelers to see the paradox directly)."""
    from dicomdb_spark.registry.q04 import _normsq_col

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
    pe2n2 = (F.col("a1") + F.col("b1")) * (
        2 * F.col("n") - F.col("a1") - F.col("b1")
    )
    return t.select(
        "n", "agree",
        F.col("a1").alias("n_pos_a"),
        F.col("b1").alias("n_pos_b"),
        (
            (F.col("a1") + F.col("b1")).cast("double")
            / (2 * F.col("n")).cast("double")
        ).alias("pi_hat"),
        (
            (2 * F.col("n") * F.col("agree") - pe2n2).cast("double")
            / (2 * F.col("n") * F.col("n") - pe2n2).cast("double")
        ).alias("ac1"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch G: reliability (Cronbach alpha, ICC), paired marginal
# homogeneity (Stuart-Maxwell), corpus keyness (chi-square).
# ---------------------------------------------------------------------------


@register(
    "a_cronbach_alpha",
    f"""
    WITH {_SQL_BARS},
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM bars),
    full_days AS (SELECT day FROM bars, kk GROUP BY day, kk.k
                  HAVING count(*) = max(kk.k)),
    rk AS (SELECT b.event_type, b.day, b.vol
           FROM bars b JOIN full_days fd ON b.day = fd.day),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM full_days),
    item AS (SELECT event_type,
                    CAST(SUM(vol) AS BIGINT) AS s1,
                    CAST(SUM(vol * vol) AS BIGINT) AS s2
             FROM rk GROUP BY 1),
    iv AS (SELECT CAST(SUM(m.m * item.s2 - item.s1 * item.s1) AS BIGINT)
                    AS sum_vi
           FROM item, m),
    tot AS (SELECT day, CAST(SUM(vol) AS BIGINT) AS t FROM rk GROUP BY 1),
    tv AS (SELECT CAST(max(m.m) * SUM(t * t) - SUM(t) * SUM(t) AS BIGINT)
                    AS v_t
           FROM tot, m)
    SELECT kk.k, m.m AS n_blocks, iv.sum_vi, tv.v_t,
           (CAST(kk.k AS DOUBLE) / (CAST(kk.k AS DOUBLE) - 1.0))
             * (CAST(tv.v_t - iv.sum_vi AS DOUBLE) / CAST(tv.v_t AS DOUBLE))
             AS alpha
    FROM kk, m, iv, tv WHERE kk.k > 1 AND tv.v_t > 0
    """,
)
def a_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha internal-consistency reliability (Psychometrika
    1951) treating the k event types as test ITEMS and complete
    calendar days as subjects: alpha = k/(k-1) * (1 - Sigma v_i / V_t).
    Both variance blocks ride the m-scaled integer encoding
    (v = m*S2 - S1^2, the shared m^2 denominator cancels in the
    ratio), so the statistic is ONE exact division times the fixed
    k/(k-1) factor.  Only complete blocks enter (the Page/Kendall-W
    discipline); int64 bound documented in-range for the calendar-
    capped grain.  Do the k daily-volume series measure one latent
    'activity' factor?  alpha answers it."""
    b = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("vol"))
    kk = b.agg(F.countDistinct("event_type").cast("long").alias("k"))
    full_days = (
        b.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") == F.col("k"))
        .select("day")
    )
    rk = b.join(F.broadcast(full_days), "day")
    m = full_days.agg(F.count("*").cast("long").alias("m"))
    item = rk.groupBy("event_type").agg(
        F.sum("vol").cast("long").alias("s1"),
        F.sum(F.col("vol") * F.col("vol")).cast("long").alias("s2"),
    )
    iv = item.crossJoin(F.broadcast(m)).agg(
        F.sum(F.col("m") * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("long")
        .alias("sum_vi")
    )
    tot = rk.groupBy("day").agg(F.sum("vol").cast("long").alias("t"))
    tv = tot.crossJoin(F.broadcast(m)).agg(
        (
            F.max("m") * F.sum(F.col("t") * F.col("t"))
            - F.sum("t") * F.sum("t")
        )
        .cast("long")
        .alias("v_t")
    )
    out = (
        kk.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(iv))
        .crossJoin(F.broadcast(tv))
    )
    k, vt, vi = F.col("k"), F.col("v_t"), F.col("sum_vi")
    return out.filter((k > 1) & (vt > 0)).select(
        "k", F.col("m").alias("n_blocks"), "sum_vi", "v_t",
        (
            (k.cast("double") / (k.cast("double") - 1.0))
            * ((vt - vi).cast("double") / vt.cast("double"))
        ).alias("alpha"),
    )


@register(
    "a_stuart_maxwell",
    """
    WITH h AS (SELECT user_id,
                      CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 15
                           THEN 0 ELSE 1 END AS half,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events),
    u AS (SELECT user_id,
                 CAST(SUM(CASE WHEN half = 0 THEN c ELSE 0 END) % 3
                      AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN half = 1 THEN c ELSE 0 END) % 3
                      AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
                 CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
          FROM h GROUP BY 1),
    p AS (SELECT ((c1 % 3) + 3) % 3 AS c1, ((c2 % 3) + 3) % 3 AS c2
          FROM u WHERE n0 > 0 AND n1 > 0),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN c1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
                 CAST(SUM(CASE WHEN c1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                 CAST(SUM(CASE WHEN c2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
                 CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                 CAST(SUM(CASE WHEN c1 = 0 AND c2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n00,
                 CAST(SUM(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n01,
                 CAST(SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n10
          FROM p),
    x AS (SELECT n, r0 - k0 AS d0, r1 - k1 AS d1,
                 r0 + k0 - 2 * n00 AS v00,
                 r1 + k1 - 2 * n11 AS v11,
                 -(n01 + n10) AS v01
          FROM t)
    SELECT n AS n_pairs, d0, d1, v00, v11, v01,
           CAST(v11 * d0 * d0 - 2 * v01 * d0 * d1 + v00 * d1 * d1 AS DOUBLE)
             / CAST(v00 * v11 - v01 * v01 AS DOUBLE) AS chi2_sm
    FROM x WHERE v00 * v11 - v01 * v01 > 0
    """,
)
def a_stuart_maxwell(spark, sf_dir):
    """Stuart-Maxwell marginal-homogeneity test (Biometrika '55/'70)
    for a 3-category PAIRED design — McNemar's k>2 generalization:
    each user's deterministic category (half-month value total mod 3)
    before vs after mid-month, chi^2 = d' V^{-1} d over the first two
    categories with the 2x2 inverse expanded in closed form:
    (V11 d0^2 - 2 V01 d0 d1 + V00 d1^2)/(V00 V11 - V01^2) — every
    entry an exact int64 count (V00 = r0+k0-2n00, V01 = -(n01+n10)),
    ONE division total.  Users present in only one half drop on both
    engines; a singular V (no off-diagonal movement) returns empty
    rather than dividing by zero."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "user_id",
        F.when(F.dayofmonth(F.col("ts").cast("date")) <= 15, 0)
        .otherwise(1)
        .alias("half"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    u = h.groupBy("user_id").agg(
        (F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0)) % 3)
        .cast("long")
        .alias("c1r"),
        (F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0)) % 3)
        .cast("long")
        .alias("c2r"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    p = u.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        (((F.col("c1r") % 3) + 3) % 3).alias("c1"),
        (((F.col("c2r") % 3) + 3) % 3).alias("c2"),
    )

    def cnt(cond, name):
        return F.sum(cond.cast("long")).cast("long").alias(name)

    t = p.agg(
        F.count("*").cast("long").alias("n"),
        cnt(F.col("c1") == 0, "r0"), cnt(F.col("c1") == 1, "r1"),
        cnt(F.col("c2") == 0, "k0"), cnt(F.col("c2") == 1, "k1"),
        cnt((F.col("c1") == 0) & (F.col("c2") == 0), "n00"),
        cnt((F.col("c1") == 1) & (F.col("c2") == 1), "n11"),
        cnt((F.col("c1") == 0) & (F.col("c2") == 1), "n01"),
        cnt((F.col("c1") == 1) & (F.col("c2") == 0), "n10"),
    )
    d0 = F.col("r0") - F.col("k0")
    d1 = F.col("r1") - F.col("k1")
    v00 = F.col("r0") + F.col("k0") - 2 * F.col("n00")
    v11 = F.col("r1") + F.col("k1") - 2 * F.col("n11")
    v01 = -(F.col("n01") + F.col("n10"))
    det = v00 * v11 - v01 * v01
    x = t.select(
        F.col("n").alias("n_pairs"),
        d0.cast("long").alias("d0"), d1.cast("long").alias("d1"),
        v00.cast("long").alias("v00"), v11.cast("long").alias("v11"),
        v01.cast("long").alias("v01"),
        det.cast("long").alias("det"),
    )
    return x.filter(F.col("det") > 0).select(
        "n_pairs", "d0", "d1", "v00", "v11", "v01",
        (
            (
                F.col("v11") * F.col("d0") * F.col("d0")
                - 2 * F.col("v01") * F.col("d0") * F.col("d1")
                + F.col("v00") * F.col("d1") * F.col("d1")
            ).cast("double")
            / F.col("det").cast("double")
        ).alias("chi2_sm"),
    )


@register(
    "a_icc_oneway",
    f"""
    WITH {_SQL_BARS},
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM bars),
    full_days AS (SELECT day FROM bars, kk GROUP BY day, kk.k
                  HAVING count(*) = max(kk.k)),
    rk AS (SELECT b.day, b.vol FROM bars b
           JOIN full_days fd ON b.day = fd.day),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                   CAST(SUM(vol) AS BIGINT) AS g,
                   CAST(SUM(vol * vol) AS BIGINT) AS c
            FROM rk),
    td AS (SELECT day, CAST(SUM(vol) AS BIGINT) AS t FROM rk GROUP BY 1),
    ta AS (SELECT CAST(count(*) AS BIGINT) AS m,
                  CAST(SUM(t * t) AS BIGINT) AS a
           FROM td)
    SELECT kk.k, ta.m AS n_blocks, agg.nn AS n_obs,
           CAST((agg.nn - ta.m) * (agg.nn * ta.a - kk.k * agg.g * agg.g)
                - (ta.m - 1) * (kk.k * agg.nn * agg.c - agg.nn * ta.a)
                AS DOUBLE)
             / CAST((agg.nn - ta.m) * (agg.nn * ta.a - kk.k * agg.g * agg.g)
                    + (kk.k - 1) * (ta.m - 1)
                      * (kk.k * agg.nn * agg.c - agg.nn * ta.a) AS DOUBLE)
             AS icc1
    FROM kk, ta, agg
    WHERE kk.k > 1 AND ta.m > 1
          AND (agg.nn - ta.m) * (agg.nn * ta.a - kk.k * agg.g * agg.g)
              + (kk.k - 1) * (ta.m - 1)
                * (kk.k * agg.nn * agg.c - agg.nn * ta.a) <> 0
    """,
)
def a_icc_oneway(spark, sf_dir):
    """One-way intraclass correlation ICC(1) (Shrout & Fleiss '79)
    with calendar days as classes and the k per-type daily volumes as
    ratings: ICC = (MSB - MSW)/(MSB + (k-1)MSW).  Clearing the
    k*N*(m-1)*(N-m) denominators turns both mean squares into the
    exact integers N*A - k*G^2 (between, A = Sigma day-total^2) and
    k*N*C - N*A (within), so the whole coefficient is ONE division of
    two int64 expressions — no SSB/SSW floats at all.  Complete
    blocks only (equal group size k is what makes the closed form
    exact).  int64 bound: k*N*C < 2^63 while per-cell volumes stay
    < ~2e6 on the calendar-capped grain (documented)."""
    b = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("vol"))
    kk = b.agg(F.countDistinct("event_type").cast("long").alias("k"))
    full_days = (
        b.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") == F.col("k"))
        .select("day")
    )
    rk = b.join(F.broadcast(full_days), "day").select("day", "vol")
    agg = rk.agg(
        F.count("*").cast("long").alias("nn"),
        F.sum("vol").cast("long").alias("g"),
        F.sum(F.col("vol") * F.col("vol")).cast("long").alias("c"),
    )
    td = rk.groupBy("day").agg(F.sum("vol").cast("long").alias("t"))
    ta = td.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("a"),
    )
    out = kk.crossJoin(F.broadcast(ta)).crossJoin(F.broadcast(agg))
    k, m, nn, g, c, a = (
        F.col("k"), F.col("m"), F.col("nn"), F.col("g"), F.col("c"),
        F.col("a"),
    )
    between = (nn - m) * (nn * a - k * g * g)
    within = (m - 1) * (k * nn * c - nn * a)
    den = between + (k - 1) * within
    return out.filter((k > 1) & (m > 1) & (den != 0)).select(
        "k", m.alias("n_blocks"), nn.alias("n_obs"),
        ((between - within).cast("double") / den.cast("double")).alias(
            "icc1"
        ),
    )


@register(
    "text_chi2_keyness",
    f"""
    WITH ds AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
                FROM documents GROUP BY 1),
    two AS (SELECT source,
                   row_number() OVER (ORDER BY nd DESC, source) AS pos
            FROM ds),
    s1 AS (SELECT source FROM two WHERE pos = 1),
    s2 AS (SELECT source FROM two WHERE pos = 2),
    tk AS (SELECT d.source, unnest({_SQL_TOKS}) AS term
           FROM documents d
           WHERE d.source IN (SELECT source FROM s1)
              OR d.source IN (SELECT source FROM s2)),
    tc AS (SELECT term,
                  CAST(SUM(CASE WHEN source IN (SELECT source FROM s1)
                                THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(SUM(CASE WHEN source IN (SELECT source FROM s2)
                                THEN 1 ELSE 0 END) AS BIGINT) AS b
           FROM tk GROUP BY 1),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
            FROM tc),
    x AS (SELECT tc.term, tc.a, tc.b,
                 (CAST(tc.a + tc.b + (tot.n1 - tc.a) + (tot.n2 - tc.b)
                       AS DOUBLE)
                  * (CAST(tc.a AS DOUBLE) * CAST(tot.n2 - tc.b AS DOUBLE)
                     - CAST(tc.b AS DOUBLE) * CAST(tot.n1 - tc.a AS DOUBLE))
                  * (CAST(tc.a AS DOUBLE) * CAST(tot.n2 - tc.b AS DOUBLE)
                     - CAST(tc.b AS DOUBLE) * CAST(tot.n1 - tc.a AS DOUBLE)))
                 / (CAST(tc.a + tc.b AS DOUBLE)
                    * CAST((tot.n1 - tc.a) + (tot.n2 - tc.b) AS DOUBLE)
                    * CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE))
                   AS chi2
          FROM tc, tot
          WHERE tc.a + tc.b > 0 AND (tot.n1 - tc.a) + (tot.n2 - tc.b) > 0)
    SELECT term, a AS count_a, b AS count_b, chi2
    FROM x ORDER BY chi2 DESC, term LIMIT 20
    """,
)
def text_chi2_keyness(spark, sf_dir):
    """Chi-square keyness (Dunning-style keyword extraction, the
    log-likelihood-free variant) between the corpus's two LARGEST
    sources: per shared-vocabulary term the 2x2 chi^2 =
    N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)), computed as one fixed-order
    float chain from exact int64 term counts (the raw products
    overflow int64 at corpus scale, so both engines do the identical
    double arithmetic instead).  Top-20 by (chi2 DESC, term) — the
    orderBy().limit() pattern, fully tiebroken so the cut is
    deterministic.  The standard what-words-distinguish-these-sources
    probe for corpus curation."""
    docs = load_table(spark, sf_dir, "documents")
    ds = docs.groupBy("source").agg(F.count("*").cast("long").alias("nd"))
    two = ds.orderBy(F.col("nd").desc(), "source").limit(2).select(
        "source", "nd"
    )
    tk = (
        docs.join(F.broadcast(two.select("source")), "source")
        .select(
            "source",
            F.explode(
                F.transform(text.tokens("text"), lambda t: F.lower(t))
            ).alias("term"),
        )
    )
    first = two.orderBy(F.col("nd").desc(), "source").limit(1).select(
        F.col("source").alias("src1")
    )
    tc = (
        tk.crossJoin(F.broadcast(first))
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("source") == F.col("src1"), 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("source") != F.col("src1"), 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    tot = tc.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    x = tc.crossJoin(F.broadcast(tot))
    ad = F.col("a").cast("double") * (F.col("n2") - F.col("b")).cast("double")
    bc = F.col("b").cast("double") * (F.col("n1") - F.col("a")).cast("double")
    num = (
        (
            F.col("a") + F.col("b") + (F.col("n1") - F.col("a"))
            + (F.col("n2") - F.col("b"))
        ).cast("double")
        * (ad - bc)
        * (ad - bc)
    )
    den = (
        (F.col("a") + F.col("b")).cast("double")
        * ((F.col("n1") - F.col("a")) + (F.col("n2") - F.col("b"))).cast(
            "double"
        )
        * F.col("n1").cast("double")
        * F.col("n2").cast("double")
    )
    return (
        x.filter(
            (F.col("a") + F.col("b") > 0)
            & ((F.col("n1") - F.col("a")) + (F.col("n2") - F.col("b")) > 0)
        )
        .select(
            "term",
            F.col("a").alias("count_a"),
            F.col("b").alias("count_b"),
            (num / den).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "term")
        .limit(20)
    )


@register(
    "w_pettitt_test",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    r AS (SELECT a.day,
                 CAST(count(*) AS BIGINT) AS t,
                 CAST(2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
                      AS BIGINT) AS r2
          FROM d a JOIN d b ON true
          GROUP BY a.day),
    ordr AS (SELECT ra.day,
                    CAST(count(*) AS BIGINT) AS t,
                    CAST(SUM(rb.r2) AS BIGINT) AS pre2
             FROM r ra JOIN r rb ON rb.day <= ra.day
             GROUP BY ra.day),
    u AS (SELECT ordr.day, ordr.t,
                 CAST(ordr.t * (st.n + 1) - ordr.pre2 AS BIGINT) AS u_t
          FROM ordr, st WHERE ordr.t < st.n),
    k AS (SELECT CAST(max(abs(u_t)) AS BIGINT) AS k_stat FROM u)
    SELECT st.n AS n_days, k.k_stat,
           CAST(min(u.day) AS DATE) AS change_day,
           CAST(max(CASE WHEN u.day = (SELECT min(u2.day) FROM u u2, k k2
                                       WHERE abs(u2.u_t) = k2.k_stat)
                         THEN u.u_t END) AS BIGINT) AS u_at_k
    FROM u, k, st
    WHERE abs(u.u_t) = k.k_stat
    GROUP BY st.n, k.k_stat
    """,
)
def w_pettitt_test(spark, sf_dir):
    """Pettitt's nonparametric change-point test (Applied Stats '79)
    on the daily value totals: U_t = Sigma_{i<=t, j>t} sgn(x_j - x_i),
    K = max|U_t|, change point = the earliest argmax.  The whole
    statistic is EXACT integers via the midrank identity U_t =
    t(n+1) - Sigma_{i<=t} 2r_i (2r = 2*below + ties_incl_self + 1
    absorbs ties, the Hoeffding-D encoding), so no sgn triple sum and
    no floats anywhere; prefix sums ride the bounded |days|^2
    self-join.  Complements w_change_point_mean_shift (CUSUM on
    means) with the rank-based, outlier-robust variant."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(F.count("*").cast("long").alias("n"))
    a, b = d.alias("a"), d.alias("b")
    r = (
        a.crossJoin(b)
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            (
                2 * F.sum((F.col("b.y") < F.col("a.y")).cast("long"))
                + F.sum((F.col("b.y") == F.col("a.y")).cast("long"))
                + 1
            )
            .cast("long")
            .alias("r2"),
        )
    )
    ra, rb = r.alias("ra"), r.alias("rb")
    ordr = (
        ra.join(rb, F.col("rb.day") <= F.col("ra.day"))
        .groupBy(F.col("ra.day").alias("day"))
        .agg(
            F.count("*").cast("long").alias("t"),
            F.sum(F.col("rb.r2")).cast("long").alias("pre2"),
        )
    )
    u = (
        ordr.crossJoin(F.broadcast(st))
        .filter(F.col("t") < F.col("n"))
        .select(
            "day", "n",
            (F.col("t") * (F.col("n") + 1) - F.col("pre2"))
            .cast("long")
            .alias("u_t"),
        )
    )
    k = u.agg(F.max(F.abs(F.col("u_t"))).cast("long").alias("k_stat"))
    hits = u.crossJoin(F.broadcast(k)).filter(
        F.abs(F.col("u_t")) == F.col("k_stat")
    )
    return hits.groupBy("n", "k_stat").agg(
        F.min("day").alias("change_day"),
        F.min_by("u_t", "day").cast("long").alias("u_at_k"),
    ).select(
        F.col("n").alias("n_days"), "k_stat", "change_day", "u_at_k",
    )


@register(
    "ml_average_precision",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s,
                      vec_id
               FROM embeddings
               WHERE embedding IS NOT NULL AND label IS NOT NULL),
    r AS (SELECT y,
                 CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT)
                   AS rn
          FROM e),
    c AS (SELECT rn, y,
                 CAST(SUM(y) OVER (ORDER BY rn
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS tp
          FROM r),
    t AS (SELECT CAST(SUM(CASE WHEN y = 1
                               THEN (1000000 * tp) // rn ELSE 0 END)
                      AS BIGINT) AS sum_terms,
                 CAST(SUM(y) AS BIGINT) AS n_pos,
                 CAST(count(*) AS BIGINT) AS n
          FROM c)
    SELECT n, n_pos, sum_terms,
           CAST(sum_terms AS DOUBLE)
             / (1000000.0 * CAST(n_pos AS DOUBLE)) AS avg_precision
    FROM t WHERE n_pos > 0
    """,
)
def ml_average_precision(spark, sf_dir):
    """Average precision (the PR-AUC that step-interpolates at each
    hit): AP = (1/P) * Sigma_{k: rel} precision@k over the
    deterministic (score DESC, vec_id) ranking — ml_roc_auc's
    retrieval-side sibling, the metric of record when positives are
    rare and ROC flatters.  Each precision@k = tp_k/k is floor-scaled
    to int64 (1e6 * tp // k) BEFORE the sum — the dsum discipline —
    so the accumulation is partial-order-invariant and the final AP
    is one division (the 1e-6 quantization is part of the metric's
    definition here, stated in the oracle).  Ranks and running TP
    counts come DISTRIBUTED from the range-bucketed running machinery
    (no single-partition sort of the embedding dimension).  Rows
    missing the embedding or the label are unscoreable and excluded
    symmetrically (r13 null-probe find)."""
    from dicomdb_spark.registry.q04 import _normsq_col

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    e = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        _normsq_col().alias("s"),
        "vec_id",
    )
    ranked = ow.bucketed_running(
        ow.monotone_range_bucket(e, "s", ascending=False),
        order_cols=[F.col("s").desc(), "vec_id"],
        rn_col="rn",
        sum_cols=["y"],
    )
    t = ranked.agg(
        F.sum(
            F.when(
                F.col("y") == 1,
                F.expr("(1000000 * cum_y) div rn"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sum_terms"),
        F.sum("y").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n"),
    )
    return t.filter(F.col("n_pos") > 0).select(
        "n", "n_pos", "sum_terms",
        (
            F.col("sum_terms").cast("double")
            / (1000000.0 * F.col("n_pos").cast("double"))
        ).alias("avg_precision"),
    )


@register(
    "a_partial_corr",
    """
    WITH d AS (SELECT CAST(count(*) AS BIGINT) AS x,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y,
                      CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS z
               FROM events GROUP BY CAST(ts AS DATE)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(z) AS BIGINT) AS sz,
                 CAST(SUM(x * y) AS BIGINT) AS sxy,
                 CAST(SUM(x * z) AS BIGINT) AS sxz,
                 CAST(SUM(y * z) AS BIGINT) AS syz,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(z * z) AS BIGINT) AS szz
          FROM d),
    r AS (SELECT n,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy,
                 CAST(n * sxz - sx * sz AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz,
                 CAST(n * syz - sy * sz AS DOUBLE)
                   / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
                      * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz
          FROM m
          WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                AND n * szz - sz * sz > 0)
    SELECT n AS n_days, rxy, rxz, ryz,
           (rxy - rxz * ryz)
             / (sqrt(1.0 - rxz * rxz) * sqrt(1.0 - ryz * ryz))
             AS r_xy_given_z
    FROM r WHERE 1.0 - rxz * rxz > 0.0 AND 1.0 - ryz * ryz > 0.0
    """,
)
def a_partial_corr(spark, sf_dir):
    """First-order partial correlation r_xy.z between daily event
    COUNT and daily value TOTAL, controlling for the weekday index —
    does the count-total association survive removing the shared
    weekly cycle?  The three Pearson correlations come from exact
    int64 co-moments (a_corr_matrix's n*Sxy - SxSy encoding) and the
    recursion r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2))
    is one fixed-order float chain written identically in both
    engines.  Degenerate zero-variance marginals (or |r| = 1 controls)
    return empty rather than NaN."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
        # Spark dayofweek is 1-7 (Sun=1); DuckDB dayofweek is 0-6
        # (Sun=0), so the oracle's +1 lands on the SAME 1-7 encoding —
        # no +1 here (round-10 ADVICE: the previous 2-8 shift was
        # parity-safe only because Pearson r is shift-invariant).
        F.dayofweek(F.col("ts").cast("date")).cast("long")
        .alias("zz"),
    ).select(
        "x", "y", F.col("zz").alias("z")
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    n = F.col("n")

    def pearson(sab, saa, sbb, sa, sb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)).cast("double") / (
            F.sqrt((n * F.col(saa) - F.col(sa) * F.col(sa)).cast("double"))
            * F.sqrt((n * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double"))
        )

    r = m.filter(
        (n * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (n * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        & (n * F.col("szz") - F.col("sz") * F.col("sz") > 0)
    ).select(
        n.alias("n"),
        pearson("sxy", "sxx", "syy", "sx", "sy").alias("rxy"),
        pearson("sxz", "sxx", "szz", "sx", "sz").alias("rxz"),
        pearson("syz", "syy", "szz", "sy", "sz").alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return r.filter(
        (1.0 - rxz * rxz > 0.0) & (1.0 - ryz * ryz > 0.0)
    ).select(
        F.col("n").alias("n_days"), "rxy", "rxz", "ryz",
        (
            (rxy - rxz * ryz)
            / (F.sqrt(1.0 - rxz * rxz) * F.sqrt(1.0 - ryz * ryz))
        ).alias("r_xy_given_z"),
    )


@register(
    "a_quade_test",
    f"""
    WITH {_SQL_BARS},
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM bars),
    full_days AS (SELECT day FROM bars, kk GROUP BY day, kk.k
                  HAVING count(*) = max(kk.k)),
    rk AS (SELECT b.event_type, b.day, b.vol
           FROM bars b JOIN full_days fd ON b.day = fd.day),
    r AS (SELECT event_type, day,
                 CAST(2 * rank() OVER (PARTITION BY day ORDER BY vol)
                      + count(*) OVER (PARTITION BY day, vol) - 1 AS BIGINT)
                   AS r2
          FROM rk),
    rng AS (SELECT day, CAST(max(vol) - min(vol) AS BIGINT) AS sprd
            FROM rk GROUP BY 1),
    q AS (SELECT a.day,
                 CAST(2 * SUM(CASE WHEN b.sprd < a.sprd THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.sprd = a.sprd AND b.day <> a.day
                                 THEN 1 ELSE 0 END) + 2 AS BIGINT) AS q2
          FROM rng a CROSS JOIN rng b GROUP BY a.day, a.sprd),
    s AS (SELECT r.event_type, r.day,
                 CAST(q.q2 * (r.r2 - (kk.k + 1)) AS BIGINT) AS s4
          FROM r JOIN q ON r.day = q.day, kk),
    agg AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS b,
                   CAST(SUM(s4 * s4) AS BIGINT) AS a16
            FROM s),
    sj AS (SELECT event_type, CAST(SUM(s4) AS BIGINT) AS sj4 FROM s
           GROUP BY 1),
    bb AS (SELECT CAST(SUM(sj4 * sj4) AS BIGINT) AS sum_sj4_sq FROM sj)
    SELECT agg.b AS n_blocks, kk.k, agg.a16, bb.sum_sj4_sq,
           CAST((agg.b - 1) * bb.sum_sj4_sq AS DOUBLE)
             / CAST(agg.b * agg.a16 - bb.sum_sj4_sq AS DOUBLE) AS quade_f
    FROM agg, kk, bb
    WHERE agg.b > 1 AND agg.b * agg.a16 - bb.sum_sj4_sq > 0
    """,
)
def a_quade_test(spark, sf_dir):
    """Quade's weighted rank test (JASA '79) — Friedman's
    range-weighted upgrade: blocks with a larger spread get more say.
    Within-block midranks ride the 2R encoding and the block weights
    Q_i (midranks of the block RANGES across days) ride the
    Hoeffding-style 2Q encoding, so S4_ij = Q2_i*(R2_ij - (k+1)) is
    an exact int64 and the statistic collapses to ONE division:
    F = (b-1)*Sigma S_j^2 / (b*Sigma S_ij^2 - Sigma S_j^2) (the 16x
    scales cancel).  Complete blocks only, the family discipline
    (a_friedman_test / a_page_trend_test / a_kendall_w)."""
    b = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("vol"))
    kk = b.agg(F.countDistinct("event_type").cast("long").alias("k"))
    full_days = (
        b.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") == F.col("k"))
        .select("day")
    )
    rk = b.join(F.broadcast(full_days), "day")
    wr = Window.partitionBy("day").orderBy("vol")
    wt = Window.partitionBy("day", "vol")
    r = rk.select(
        "event_type", "day",
        (2 * F.rank().over(wr) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("r2"),
    )
    rng = rk.groupBy("day").agg(
        (F.max("vol") - F.min("vol")).cast("long").alias("sprd")
    )
    qa, qb = rng.alias("qa"), rng.alias("qb")
    q = (
        qa.crossJoin(qb)
        .groupBy(F.col("qa.day").alias("day"))
        .agg(
            (
                2 * F.sum((F.col("qb.sprd") < F.col("qa.sprd")).cast("long"))
                + F.sum(
                    (
                        (F.col("qb.sprd") == F.col("qa.sprd"))
                        & (F.col("qb.day") != F.col("qa.day"))
                    ).cast("long")
                )
                + 2
            )
            .cast("long")
            .alias("q2"),
        )
    )
    s = (
        r.join(q, "day")
        .crossJoin(F.broadcast(kk))
        .select(
            "event_type", "day",
            (F.col("q2") * (F.col("r2") - (F.col("k") + 1)))
            .cast("long")
            .alias("s4"),
        )
    )
    agg = s.agg(
        F.countDistinct("day").cast("long").alias("b"),
        F.sum(F.col("s4") * F.col("s4")).cast("long").alias("a16"),
    )
    sj = s.groupBy("event_type").agg(
        F.sum("s4").cast("long").alias("sj4")
    )
    bbq = sj.agg(
        F.sum(F.col("sj4") * F.col("sj4")).cast("long").alias("sum_sj4_sq")
    )
    out = (
        agg.crossJoin(F.broadcast(kk)).crossJoin(F.broadcast(bbq))
    )
    bcol, a16, sq = F.col("b"), F.col("a16"), F.col("sum_sj4_sq")
    return out.filter(
        (bcol > 1) & (bcol * a16 - sq > 0)
    ).select(
        bcol.alias("n_blocks"), "k", "a16", "sum_sj4_sq",
        (
            ((bcol - 1) * sq).cast("double")
            / (bcol * a16 - sq).cast("double")
        ).alias("quade_f"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch I: Gini mean difference, robust location trio,
# forecast MASE + tracking signal.
# ---------------------------------------------------------------------------


@register(
    "a_gini_mean_difference",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
           FROM d),
    pr AS (SELECT CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS sum_abs
           FROM d a JOIN d b ON a.day < b.day)
    SELECT st.n AS n_days, pr.sum_abs, st.s AS sum_y,
           2.0 * CAST(pr.sum_abs AS DOUBLE)
             / (CAST(st.n AS DOUBLE) * (CAST(st.n AS DOUBLE) - 1.0)) / 100.0
             AS gmd,
           CAST(pr.sum_abs AS DOUBLE)
             / ((CAST(st.n AS DOUBLE) - 1.0) * CAST(st.s AS DOUBLE))
             AS gini_coeff
    FROM st, pr WHERE st.n > 1 AND st.s > 0
    """,
)
def a_gini_mean_difference(spark, sf_dir):
    """Gini mean difference of the daily value totals — the
    L-moment-family scale measure E|X−X'| that stays finite under
    heavy tails where the variance explodes — plus the Gini
    concentration coefficient it induces (GMD / (2*mean) =
    Sigma|dx| / ((n-1)*Sigma x)).  The pairwise |diff| total is ONE
    exact int64 over the bounded day-pair grid (the a_qn_scale grain);
    both outputs are single fixed-order float chains.  Complements
    a_gini_skew (per-group inequality) with the exact pairwise-kernel
    formulation."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    a, b = d.alias("a"), d.alias("b")
    pr = a.join(b, F.col("a.day") < F.col("b.day")).agg(
        F.sum(F.abs(F.col("a.y") - F.col("b.y"))).cast("long").alias("sum_abs")
    )
    out = st.crossJoin(F.broadcast(pr))
    n, s, sa = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("sum_abs").cast("double"),
    )
    return out.filter((F.col("n") > 1) & (F.col("s") > 0)).select(
        F.col("n").alias("n_days"), "sum_abs", F.col("s").alias("sum_y"),
        (2.0 * sa / (n * (n - 1.0)) / 100.0).alias("gmd"),
        (sa / ((n - 1.0) * s)).alias("gini_coeff"),
    )


@register(
    "a_robust_location",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(min(y) AS BIGINT) AS lo, CAST(max(y) AS BIGINT) AS hi
           FROM d),
    r AS (SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS rn
          FROM d a JOIN d b ON b.y < a.y OR (b.y = a.y AND b.day <= a.day)
          GROUP BY a.day, a.y),
    q AS (SELECT
            max(CASE WHEN rn = (SELECT (n + 3) // 4 FROM st) THEN y END)
              AS q1,
            max(CASE WHEN rn = (SELECT (n + 1) // 2 FROM st) THEN y END)
              AS q2,
            max(CASE WHEN rn = (SELECT (3 * n + 1) // 4 FROM st) THEN y END)
              AS q3
          FROM r)
    SELECT st.n AS n_days, st.lo, st.hi,
           CAST(q.q1 AS BIGINT) AS q1_cents,
           CAST(q.q2 AS BIGINT) AS q2_cents,
           CAST(q.q3 AS BIGINT) AS q3_cents,
           CAST(st.lo + st.hi AS DOUBLE) / 2.0 / 100.0 AS midrange,
           CAST(q.q1 + q.q3 AS DOUBLE) / 2.0 / 100.0 AS midhinge,
           CAST(q.q1 + 2 * q.q2 + q.q3 AS DOUBLE) / 4.0 / 100.0 AS trimean
    FROM st, q WHERE st.n >= 4
    """,
)
def a_robust_location(spark, sf_dir):
    """Tukey's robust-location trio over the daily totals: midrange
    (max+min)/2, midhinge (Q1+Q3)/2, and the trimean
    (Q1 + 2*median + Q3)/4 — three estimators ordered by breakdown
    point, in one row.  Quartiles are EXACT type-1 order statistics
    at ranks ceil(n/4)/ceil(n/2)/ceil(3n/4), selected via the
    tie-broken rank self-join over the bounded day grain (no sort
    materializes); halves and quarters of int64 cents are exact in
    doubles, so every output is bit-portable."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(
        F.count("*").cast("long").alias("n"),
        F.min("y").cast("long").alias("lo"),
        F.max("y").cast("long").alias("hi"),
    )
    a, b = d.alias("a"), d.alias("b")
    r = (
        a.join(
            b,
            (F.col("b.y") < F.col("a.y"))
            | ((F.col("b.y") == F.col("a.y")) & (F.col("b.day") <= F.col("a.day"))),
        )
        .groupBy(F.col("a.day").alias("day"), F.col("a.y").alias("y"))
        .agg(F.count("*").cast("long").alias("rn"))
    )
    q = (
        r.crossJoin(F.broadcast(st))
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("y"))
            ).alias("q1"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("y"))
            ).alias("q2"),
            F.max(
                F.when(F.col("rn") == F.expr("(3 * n + 1) div 4"), F.col("y"))
            ).alias("q3"),
        )
    )
    out = st.crossJoin(F.broadcast(q))
    return out.filter(F.col("n") >= 4).select(
        F.col("n").alias("n_days"), "lo", "hi",
        F.col("q1").cast("long").alias("q1_cents"),
        F.col("q2").cast("long").alias("q2_cents"),
        F.col("q3").cast("long").alias("q3_cents"),
        ((F.col("lo") + F.col("hi")).cast("double") / 2.0 / 100.0).alias(
            "midrange"
        ),
        ((F.col("q1") + F.col("q3")).cast("double") / 2.0 / 100.0).alias(
            "midhinge"
        ),
        (
            (F.col("q1") + 2 * F.col("q2") + F.col("q3")).cast("double")
            / 4.0
            / 100.0
        ).alias("trimean"),
    )


@register(
    "a_forecast_mase",
    f"""
    WITH {_SQL_BARS},
    l AS (SELECT event_type, day, p,
                 lag(p) OVER w AS p1, lag(p, 7) OVER w AS p7
          FROM bars WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    s AS (SELECT event_type,
                 CAST(SUM(CASE WHEN p1 IS NOT NULL AND p7 IS NOT NULL
                               THEN abs(p - p1) ELSE 0 END) AS BIGINT)
                   AS mae1_sum,
                 CAST(SUM(CASE WHEN p1 IS NOT NULL AND p7 IS NOT NULL
                               THEN abs(p - p7) ELSE 0 END) AS BIGINT)
                   AS mae7_sum,
                 CAST(SUM(CASE WHEN p1 IS NOT NULL AND p7 IS NOT NULL
                               THEN p - p1 ELSE 0 END) AS BIGINT) AS err_sum,
                 CAST(SUM(CASE WHEN p1 IS NOT NULL AND p7 IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_scored
          FROM l GROUP BY 1)
    SELECT event_type, n_scored, mae1_sum, mae7_sum, err_sum,
           CAST(mae1_sum AS DOUBLE) / CAST(mae7_sum AS DOUBLE) AS mase,
           CAST(n_scored * err_sum AS DOUBLE) / CAST(mae1_sum AS DOUBLE)
             AS tracking_signal
    FROM s WHERE mae7_sum > 0 AND mae1_sum > 0
    """,
)
def a_forecast_mase(spark, sf_dir):
    """Mean absolute SCALED error (Hyndman & Koehler 2006) of the
    naive lag-1 forecast against the seasonal-naive lag-7 in-sample
    benchmark, per type — the scale-free forecast metric that, unlike
    MAPE (w_seasonal_naive_mape), survives zero-valued days — plus
    the tracking signal Sigma e / MAD that flags persistent bias.
    Both errors score the SAME day set (both lags defined, the
    w_theil_u2 discipline), all four sums are exact int64 cents, and
    each output is one division (MASE = Sigma|e1|/Sigma|e7| since the
    shared n cancels; TS = n*Sigma e/Sigma|e1|)."""
    from dicomdb_spark.registry.q05 import _bars

    w = Window.partitionBy("event_type").orderBy("day")
    l = _bars(spark, sf_dir).select(
        "event_type", "day", "p",
        F.lag("p").over(w).alias("p1"),
        F.lag("p", 7).over(w).alias("p7"),
    )
    both = F.col("p1").isNotNull() & F.col("p7").isNotNull()
    s = l.groupBy("event_type").agg(
        F.sum(F.when(both, F.abs(F.col("p") - F.col("p1"))).otherwise(0))
        .cast("long")
        .alias("mae1_sum"),
        F.sum(F.when(both, F.abs(F.col("p") - F.col("p7"))).otherwise(0))
        .cast("long")
        .alias("mae7_sum"),
        F.sum(F.when(both, F.col("p") - F.col("p1")).otherwise(0))
        .cast("long")
        .alias("err_sum"),
        F.sum(both.cast("long")).cast("long").alias("n_scored"),
    )
    return s.filter((F.col("mae7_sum") > 0) & (F.col("mae1_sum") > 0)).select(
        "event_type", "n_scored", "mae1_sum", "mae7_sum", "err_sum",
        (
            F.col("mae1_sum").cast("double") / F.col("mae7_sum").cast("double")
        ).alias("mase"),
        (
            (F.col("n_scored") * F.col("err_sum")).cast("double")
            / F.col("mae1_sum").cast("double")
        ).alias("tracking_signal"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch J: Bartels rank von-Neumann randomness, two-sample
# Hodges-Lehmann shift, 3-round generalized ESD outlier peel.
# ---------------------------------------------------------------------------


@register(
    "a_bartels_rank_test",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                        AS y
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    r AS (SELECT a.day,
                 CAST(2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1
                      AS BIGINT) AS r2
          FROM d a JOIN d b ON true GROUP BY a.day),
    t AS (SELECT ra.day, ra.r2, CAST(count(*) AS BIGINT) AS pos
          FROM r ra JOIN r rb ON rb.day <= ra.day GROUP BY ra.day, ra.r2),
    num AS (SELECT CAST(SUM((a.r2 - b.r2) * (a.r2 - b.r2)) AS BIGINT)
                     AS nm4
            FROM t a JOIN t b ON b.pos = a.pos + 1),
    den AS (SELECT CAST(SUM((t.r2 - (st.n + 1)) * (t.r2 - (st.n + 1)))
                        AS BIGINT) AS dn4
            FROM t, st)
    SELECT st.n AS n_days, num.nm4, den.dn4,
           CAST(num.nm4 AS DOUBLE) / CAST(den.dn4 AS DOUBLE) AS rvn,
           (CAST(num.nm4 AS DOUBLE) / CAST(den.dn4 AS DOUBLE) - 2.0)
             / sqrt(4.0 / CAST(st.n AS DOUBLE)) AS z
    FROM st, num, den WHERE den.dn4 > 0 AND st.n > 2
    """,
)
def a_bartels_rank_test(spark, sf_dir):
    """Bartels' rank version of the von Neumann ratio (JASA '82) —
    the rank-robust randomness-against-trend test: RVN =
    Sigma(r_i - r_(i+1))^2 / Sigma(r_i - (n+1)/2)^2, ~2 under
    randomness, small under trend.  Midranks ride the 2R encoding
    (2*rbar = n+1 exactly), so numerator and denominator are exact
    int64 with a SHARED 4x scale that cancels — one division, plus
    the standard z = (RVN-2)/sqrt(4/n) chain.  Day adjacency comes
    from the position self-join (the Pettitt machinery), never a
    global window.  Complements w_runs_up_down (signs) with the
    magnitude-aware rank form.  NULL values are dropped before the
    daily rollup: an all-NULL day's NULL y makes the rank comparisons
    NULL, which Spark's boolean-cast sum SKIPS while DuckDB's CASE
    counts as 0 (r13 null-probe find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    st = d.agg(F.count("*").cast("long").alias("n"))
    a, b = d.alias("a"), d.alias("b")
    r = (
        a.crossJoin(b)
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            (
                2 * F.sum((F.col("b.y") < F.col("a.y")).cast("long"))
                + F.sum((F.col("b.y") == F.col("a.y")).cast("long"))
                + 1
            )
            .cast("long")
            .alias("r2"),
        )
    )
    ra, rb = r.alias("ra"), r.alias("rb")
    t = (
        ra.join(rb, F.col("rb.day") <= F.col("ra.day"))
        .groupBy(F.col("ra.day").alias("day"), F.col("ra.r2").alias("r2"))
        .agg(F.count("*").cast("long").alias("pos"))
    )
    ta, tb = t.alias("ta"), t.alias("tb")
    num = ta.join(tb, F.col("tb.pos") == F.col("ta.pos") + 1).agg(
        F.sum(
            (F.col("ta.r2") - F.col("tb.r2"))
            * (F.col("ta.r2") - F.col("tb.r2"))
        )
        .cast("long")
        .alias("nm4")
    )
    den = t.crossJoin(F.broadcast(st)).agg(
        F.sum(
            (F.col("r2") - (F.col("n") + 1))
            * (F.col("r2") - (F.col("n") + 1))
        )
        .cast("long")
        .alias("dn4")
    )
    out = st.crossJoin(F.broadcast(num)).crossJoin(F.broadcast(den))
    rvn = F.col("nm4").cast("double") / F.col("dn4").cast("double")
    return out.filter((F.col("dn4") > 0) & (F.col("n") > 2)).select(
        F.col("n").alias("n_days"), "nm4", "dn4",
        rvn.alias("rvn"),
        ((rvn - 2.0) / F.sqrt(4.0 / F.col("n").cast("double"))).alias("z"),
    )


@register(
    "a_hl_shift",
    """
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 15
                           THEN 0 ELSE 1 END AS half,
                      CAST(floor(value * 100) AS BIGINT) AS c
               FROM events),
    g AS (SELECT day, max(half) AS half, CAST(SUM(c) AS BIGINT) AS y
          FROM d GROUP BY day),
    pr AS (SELECT b.y - a.y AS dd
           FROM g a JOIN g b ON a.half = 0 AND b.half = 1),
    st AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pr),
    dv AS (SELECT DISTINCT dd FROM pr),
    rk AS (SELECT v.dd, CAST(count(*) AS BIGINT) AS cnt_le
           FROM dv v JOIN pr p ON p.dd <= v.dd GROUP BY v.dd),
    lo AS (SELECT CAST(min(rk.dd) AS BIGINT) AS v_lo
           FROM rk, st WHERE rk.cnt_le >= (st.np + 1) // 2),
    hi AS (SELECT CAST(min(rk.dd) AS BIGINT) AS v_hi
           FROM rk, st WHERE rk.cnt_le >= st.np // 2 + 1)
    SELECT st.np AS n_pairs, lo.v_lo AS hl_lo_cents, hi.v_hi AS hl_hi_cents,
           CAST(lo.v_lo + hi.v_hi AS DOUBLE) / 2.0 / 100.0 AS hl_shift
    FROM st, lo, hi WHERE st.np > 0
    """,
)
def a_hl_shift(spark, sf_dir):
    """Two-sample Hodges-Lehmann shift estimator between the first
    and second half-month daily totals: the MEDIAN of all pairwise
    differences y_after - y_before — the location shift the
    Mann-Whitney test implies, robust where the difference of means
    is not.  This is a GLOBAL first-half vs second-half comparison
    over the whole calendar — every day-of-month<=15 day pairs with
    every day-of-month>15 day, ~n^2/4 pairs (~1.4M at the 2,400-day
    calendar grain, constant in SF because the grain is
    calendar-bounded, not row-bounded).  Both middle order statistics
    are
    selected exactly via the distinct-value <= count (a_qn_scale's
    machinery, no sort), and the final estimate is their exact
    half-sum — the only float.  Complements a_hodges_lehmann
    (one-sample pseudomedian)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.max(
            F.when(F.dayofmonth(F.col("ts").cast("date")) <= 15, 0).otherwise(1)
        ).alias("half"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    a, b = g.alias("a"), g.alias("b")
    pr = a.join(
        b, (F.col("a.half") == 0) & (F.col("b.half") == 1)
    ).select((F.col("b.y") - F.col("a.y")).alias("dd"))
    st = pr.agg(F.count("*").cast("long").alias("np"))
    dv = pr.select("dd").distinct()
    rk = (
        dv.alias("v")
        .join(pr.alias("p"), F.col("p.dd") <= F.col("v.dd"))
        .groupBy(F.col("v.dd").alias("dd"))
        .agg(F.count("*").cast("long").alias("cnt_le"))
    )
    rs = rk.crossJoin(F.broadcast(st))
    lo = rs.filter(
        F.col("cnt_le") >= F.expr("(np + 1) div 2")
    ).agg(F.min("dd").cast("long").alias("v_lo"))
    hi = rs.filter(
        F.col("cnt_le") >= F.expr("np div 2 + 1")
    ).agg(F.min("dd").cast("long").alias("v_hi"))
    out = st.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
    return out.filter(F.col("np") > 0).select(
        F.col("np").alias("n_pairs"),
        F.col("v_lo").alias("hl_lo_cents"),
        F.col("v_hi").alias("hl_hi_cents"),
        (
            (F.col("v_lo") + F.col("v_hi")).cast("double") / 2.0 / 100.0
        ).alias("hl_shift"),
    )


# ---------------------------------------------------------------------------
# Round-10 batch K: degree-distribution Gini, diagnostic-ratio panel.
# ---------------------------------------------------------------------------


@register(
    "graph_degree_gini",
    f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
            FROM e GROUP BY 1),
    dv AS (SELECT dg, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY 1),
    st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                  CAST(SUM(dg * cnt) AS BIGINT) AS s
           FROM dv),
    pr AS (SELECT CAST(SUM(a.cnt * b.cnt * abs(a.dg - b.dg)) AS BIGINT)
                    AS sum_abs
           FROM dv a JOIN dv b ON a.dg < b.dg)
    SELECT st.n AS n_nodes, st.s AS sum_deg, pr.sum_abs,
           CAST(pr.sum_abs AS DOUBLE)
             / ((CAST(st.n AS DOUBLE) - 1.0) * CAST(st.s AS DOUBLE))
             AS degree_gini
    FROM st, pr WHERE st.n > 1 AND st.s > 0
    """,
)
def graph_degree_gini(spark, sf_dir):
    """Gini concentration of the near-dup graph's DEGREE distribution
    — are dup edges spread evenly or does a handful of hub documents
    own them (the star-contamination smell graph_assortativity hints
    at, quantified as inequality)?  The pairwise kernel
    Sigma|d_i - d_j| collapses onto the (degree value, count) GRID —
    Sigma_ab cnt_a*cnt_b*|a-b| over distinct-degree pairs — so the
    cost is |distinct degrees|^2, independent of node count: the
    scalable form of a_gini_mean_difference's day-grain kernel.
    Everything is one exact int64 until the single closing
    division."""
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
    dv = deg.groupBy("dg").agg(F.count("*").cast("long").alias("cnt"))
    st = dv.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("dg") * F.col("cnt")).cast("long").alias("s"),
    )
    a, b = dv.alias("a"), dv.alias("b")
    pr = a.join(b, F.col("a.dg") < F.col("b.dg")).agg(
        F.sum(
            F.col("a.cnt") * F.col("b.cnt")
            * F.abs(F.col("a.dg") - F.col("b.dg"))
        )
        .cast("long")
        .alias("sum_abs")
    )
    out = st.crossJoin(F.broadcast(pr))
    return out.filter((F.col("n") > 1) & (F.col("s") > 0)).select(
        F.col("n").alias("n_nodes"),
        F.col("s").alias("sum_deg"),
        "sum_abs",
        (
            F.col("sum_abs").cast("double")
            / ((F.col("n").cast("double") - 1.0) * F.col("s").cast("double"))
        ).alias("degree_gini"),
    )


@register(
    "ml_diagnostic_ratios",
    f"""
    WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS y,
                      {_SQL_NORMSQ} AS s
               FROM embeddings),
    st AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n FROM e),
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
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS sensitivity,
           CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) AS specificity,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
             + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) - 1.0
             AS youden_j,
           (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
            + CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) / 2.0
             AS balanced_accuracy,
           CAST(tp * tn AS DOUBLE) / CAST(fp * fn AS DOUBLE)
             AS diagnostic_odds_ratio
    FROM t WHERE tp + fn > 0 AND tn + fp > 0 AND fp * fn > 0
    """,
)
def ml_diagnostic_ratios(spark, sf_dir):
    """The epidemiology-side panel for the shared above-mean-score
    classifier: sensitivity, specificity, Youden's J (the optimal-
    threshold criterion), balanced accuracy (the imbalance-proof
    accuracy), and the diagnostic odds ratio tp*tn/(fp*fn) — the
    metrics ml_confusion_metrics' precision/recall family hides when
    classes are skewed.  Same exact-integer decision rule (s*n >
    Sigma s), every ratio a fixed-order chain of single divisions
    from the int64 confusion counts; degenerate margins (no
    positives/negatives, zero discordant product) return empty."""
    from dicomdb_spark.registry.q04 import _normsq_col

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        _normsq_col().alias("s"),
    )
    st = e.agg(
        F.sum("s").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    p = e.crossJoin(F.broadcast(st)).select(
        "y",
        F.when(F.col("s") * F.col("n") > F.col("tot"), 1)
        .otherwise(0)
        .alias("yhat"),
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
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    sens = tp.cast("double") / (tp + fn).cast("double")
    spec = tn.cast("double") / (tn + fp).cast("double")
    return t.filter(
        (tp + fn > 0) & (tn + fp > 0) & (fp * fn > 0)
    ).select(
        "tp", "fp", "fn", "tn",
        sens.alias("sensitivity"),
        spec.alias("specificity"),
        (sens + spec - 1.0).alias("youden_j"),
        ((sens + spec) / 2.0).alias("balanced_accuracy"),
        ((tp * tn).cast("double") / (fp * fn).cast("double")).alias(
            "diagnostic_odds_ratio"
        ),
    )
