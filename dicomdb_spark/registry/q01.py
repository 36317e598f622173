"""registry chunk 1/8 — mechanical split of the monolithic registry.py (round 10); original lines 63-4354.  Registration order preserved."""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
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
    _SQL_DOT,
    _chain,
    _dsum,
    _fanout,
    _min_label_chain,
    _sql_dist2,
    _sql_dot,
    _sql_norm,
    register,
)


# ---------------------------------------------------------------------------
# A1 — GROUP BY + HAVING count>1 duplicate detection (4 key variants)
# ---------------------------------------------------------------------------


@register(
    "a1_dup_customer_day",
    """
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
           count(*) AS doublon
    FROM orders
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def a1_dup_customer_day(spark, sf_dir):
    """A1 variant (substr-10 day key + partition key) — Cenir_DB.py:421."""
    orders = load_table(spark, sf_dir, "orders")
    return agg.group_count_having(
        orders,
        [F.col("o_custkey"), F.to_date("o_orderdate").alias("order_day")],
    )


@register(
    "a1_dup_events_minute",
    """
    SELECT date_trunc('minute', ts) AS minute_ts, event_type,
           count(*) AS doublon
    FROM events
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def a1_dup_events_minute(spark, sf_dir):
    """A1 variant (substr-16 minute truncation) — Cenir_DB.py:271."""
    ev = load_table(spark, sf_dir, "events")
    return agg.group_count_having(
        ev,
        [F.date_trunc("minute", F.col("ts")).alias("minute_ts"), F.col("event_type")],
    )


@register(
    "a2_dup_representative",
    """
    SELECT o_custkey, order_day, o_orderkey, o_totalprice, doublon
    FROM (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
             o_orderkey, o_totalprice,
             count(*) OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)) AS doublon,
             row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                ORDER BY o_orderkey) AS rn
      FROM orders) t
    WHERE doublon >= 2 AND rn = 1
    """,
)
def a2_dup_representative(spark, sf_dir):
    """A2 — MySQL bare-column GROUP BY as deterministic window pick
    (Cenir_DB.py:271,453; cenir_view.sql:20)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("order_day"),
        "o_orderkey",
        "o_totalprice",
    )
    return ow.representative_rows(
        orders,
        keys=["o_custkey", "order_day"],
        order_by=[F.col("o_orderkey")],
    )


# ---------------------------------------------------------------------------
# A3–A9 aggregates
# ---------------------------------------------------------------------------


@register(
    "a3_group_counts",
    f"""
    SELECT l_orderkey, count(*) AS nbs, {_dsum('l_quantity', 'nbd')}
    FROM lineitem GROUP BY 1
    """,
)
def a3_group_counts(spark, sf_dir):
    """A3 — count/sum per group (Cenir_DB.py:506-511) as one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return agg.per_group_stats(li, ["l_orderkey"], sum_col="l_quantity")


@register(
    "a4_min_max_by",
    """
    SELECT user_id,
           min_by(ts, event_id) AS first_ts,
           max_by(ts, event_id) AS last_ts,
           min_by(value, event_id) AS first_value,
           max_by(value, event_id) AS last_value,
           min(event_id) AS first_event_id,
           max(event_id) AS last_event_id
    FROM events GROUP BY 1
    """,
)
def a4_min_max_by(spark, sf_dir):
    """A4/A8 — min/max-by scalar-subquery rewrite (Cenir_DB.py:839-868).

    Ordered by the globally-unique event_id so the picked row is
    deterministic (the reference's grain guarantee: SNumber per exam).
    """
    ev = load_table(spark, sf_dir, "events")
    out = agg.min_max_by(ev, ["user_id"], "event_id", ["ts", "value"])
    return out.select(
        "user_id",
        F.col("first_ts"),
        F.col("last_ts"),
        F.col("first_value"),
        F.col("last_value"),
        F.col("first_event_id"),
        F.col("last_event_id"),
    )


@register(
    "a5_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def a5_distinct(spark, sf_dir):
    """A5 — SELECT DISTINCT (Cenir_DB.py:550-562)."""
    li = load_table(spark, sf_dir, "lineitem")
    return agg.distinct_values(li, ["l_returnflag", "l_linestatus"])


@register(
    "a6_year_histogram",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS year, count(*) AS n,
           {_dsum('o_totalprice', 'total')}
    FROM orders GROUP BY 1
    """,
)
def a6_year_histogram(spark, sf_dir):
    """A6 — per-year histogram (Exam_info.py:104-114)."""
    orders = load_table(spark, sf_dir, "orders")
    return agg.year_histogram(orders, "o_orderdate", sum_col="o_totalprice")


@register(
    "a9_completeness_audit",
    """
    WITH actual AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                 * 10000) AS BIGINT)) / 10000.0 AS DOUBLE) AS actual
      FROM lineitem GROUP BY 1)
    SELECT o.o_orderkey, o.o_totalprice AS expected, a.actual,
           CASE WHEN a.actual < o.o_totalprice
                  THEN 'missingDicomFile_' ||
                       CAST(CAST(floor(o.o_totalprice - a.actual) AS BIGINT) AS VARCHAR)
                WHEN a.actual > o.o_totalprice THEN 'tomuchDicomFile_'
                ELSE 'ok' END AS corrupt
    FROM orders o JOIN actual a ON o.o_orderkey = a.l_orderkey
    """,
)
def a9_completeness_audit(spark, sf_dir):
    """A9/R8 — expected-vs-actual audit with corrupt flags
    (Exam_info.py:1344-1363): declared order total vs recomputed
    lineitem total."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    actual = li.groupBy("l_orderkey").agg(
        agg.dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            "actual",
        )
    )
    joined = orders.join(actual, orders.o_orderkey == actual.l_orderkey, "inner")
    return agg.completeness_audit(
        joined, ["o_orderkey"], expected=F.col("o_totalprice"), actual=F.col("actual")
    )


# ---------------------------------------------------------------------------
# W — window / order-dependent
# ---------------------------------------------------------------------------


@register(
    "w1_order_duration",
    """
    SELECT user_id, first_ts, last_ts, n_items,
           CAST(ceil((CASE WHEN d < 0 THEN d + 86400 ELSE d END) / 60.0) AS BIGINT)
             AS duration_min
    FROM (
      SELECT user_id,
             min_by(ts, event_id) AS first_ts,
             max_by(ts, event_id) AS last_ts,
             count(*) AS n_items,
             CAST(floor(epoch(max_by(ts, event_id))) AS BIGINT)
               - CAST(floor(epoch(min_by(ts, event_id))) AS BIGINT) AS d
      FROM events GROUP BY 1) sub
    """,
)
def w1_order_duration(spark, sf_dir):
    """W1 — the flagship derived metric: first/last-by-order duration
    with midnight rollover + ceil-minutes (Exam_info.py:197-232,
    Cenir_DB.py:839-868).  event_id plays SNumber; ts plays AcqTime."""
    ev = load_table(spark, sf_dir, "events")
    return ow.first_last_duration(
        ev, ["user_id"], order_col="event_id", ts_col="ts"
    )


@register(
    "w2_keep_latest",
    """
    SELECT user_id, day, event_id, ts, rn,
           CASE WHEN rn = 1 THEN 'keep' ELSE 'remove' END AS action
    FROM (
      SELECT user_id, CAST(ts AS DATE) AS day, event_id, ts,
             CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS INTEGER) AS rn,
             count(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS cnt
      FROM events) t
    WHERE cnt >= 2
    """,
)
def w2_keep_latest(spark, sf_dir):
    """W2/R1/R2 — rank duplicate-group copies by recency, keep latest
    (Cenir_DB.py:479-547)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_id", "ts"
    )
    return ow.keep_latest(
        ev,
        keys=["user_id", "day"],
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
    )


@register(
    "w3_sessionize",
    """
    SELECT user_id, CAST(ts AS DATE) AS session_day,
           count(*) AS n_items,
           min(ts) AS first_ts, max(ts) AS last_ts,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)
             AS ordered_ids
    FROM events GROUP BY 1, 2
    """,
)
def w3_sessionize(spark, sf_dir):
    """W3 — per-entity per-day session assembly with in-session order
    (Exam_info.py:1380-1459).  The ordered id list is emitted as a
    comma-joined scalar (not array<...>) so hash comparators that sort
    on output cells can canonicalize it."""
    ev = load_table(spark, sf_dir, "events")
    out = ow.sessionize_by_day(ev, "user_id", "ts", "event_id")
    return out.withColumn(
        "ordered_ids",
        F.array_join(F.transform("ordered_ids", lambda x: x.cast("string")), ","),
    )


@register(
    "w6_sessionize_gap",
    """
    WITH o AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
               AS session_seq
      FROM o)
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM s GROUP BY 1, 2
    """,
)
def w6_sessionize_gap(spark, sf_dir):
    """W3 generalized — gap-based sessionization (30-min inactivity
    boundary): lag-flag + running-sum session numbering, then one
    per-session aggregate.  All three steps share the user_id
    partitioning (one shuffle total); see windows.sessionize_by_gap."""
    ev = load_table(spark, sf_dir, "events")
    s = ow.sessionize_by_gap(ev, "user_id", "ts", "event_id", gap_sec=1800)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_sec"),
        )
    )


@register(
    "w5_adjacent_diff",
    """
    SELECT user_id, event_id,
           CASE WHEN abs(d) < 1e-5 THEN 0.0 ELSE d END AS delta
    FROM (
      SELECT user_id, event_id,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events) t
    """,
)
def w5_adjacent_diff(spark, sf_dir):
    """W5 — adjacent-row delta with ε-clamp (Exam_info.py:556-569)."""
    ev = load_table(spark, sf_dir, "events")
    out = ow.adjacent_diff(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], "value", eps=1e-5
    )
    return out.select("user_id", "event_id", "delta")


@register(
    "o3_top1_per_type",
    """
    SELECT event_type, event_id, value FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events) t WHERE rn = 1
    """,
)
def o3_top1_per_type(spark, sf_dir):
    """O3/O4 — argmax per key (Exam_info.py:1269-1279) with a total
    tiebreak order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------


@register(
    "j1_exam_series_revenue",
    f"""
    SELECT n.n_name, count(*) AS n_lines,
           {_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def j1_exam_series_revenue(spark, sf_dir):
    """J1 — the ExamSeries denormalizing equi-join shape
    (cenir_view.sql:8) extended through the dimension chain.  No
    pinned broadcast hints: at bench SF the planner's size stats (and
    AQE at runtime) pick broadcast-hash for every build side; at 100x
    orders/customer outgrow the threshold and the same plan degrades
    gracefully to shuffled joins on the key — a pinned hint would be
    an executor OOM there.  nation (25 rows) alone is constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_lines"),
            agg.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@register(
    "j2_orphans",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000)
    """,
)
def j2_orphans(spark, sf_dir):
    """J2 — left-outer-where-null orphan detection as left_anti
    (Cenir_DB.py:596-601).  Instantiated as customers with no
    high-value order (every testdata customer has ≥1 order, so the
    bare FK anti-join would be vacuously empty — a green-but-0-row
    check proves nothing)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000
    )
    return oj.orphans(cust, orders, "c_custkey", "o_custkey").select(
        "c_custkey", "c_name"
    )


@register(
    "j3_time_proximity",
    """
    SELECT e1.user_id, CAST(e1.ts AS DATE) AS day,
           e1.event_id AS id1, e2.event_id AS id2,
           e1.ts AS ts1, e2.ts AS ts2
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND CAST(e1.ts AS DATE) = CAST(e2.ts AS DATE)
     AND e1.event_id < e2.event_id
     AND abs(CAST(floor(epoch(e1.ts)) AS BIGINT)
             - CAST(floor(epoch(e2.ts)) AS BIGINT)) < 300
    """,
)
def j3_time_proximity(spark, sf_dir):
    """J3/R6 — time-proximity band self-join, bucketed by (entity, day)
    so the |Δt| predicate never runs as a nested loop
    (do_dicom.py:55-89)."""
    ev = load_table(spark, sf_dir, "events")
    return oj.time_proximity_pairs(ev, ["user_id"], "ts", "event_id", threshold_s=300)


@register(
    "j4_pairwise_doubles",
    """
    SELECT o1.o_orderdate, o1.o_custkey,
           o1.o_orderkey AS id1, o2.o_orderkey AS id2
    FROM orders o1 JOIN orders o2
      ON o1.o_orderdate = o2.o_orderdate
     AND o1.o_custkey = o2.o_custkey
     AND o1.o_orderkey < o2.o_orderkey
    """,
)
def j4_pairwise_doubles(spark, sf_dir):
    """J4/R7 — equal-key pair enumeration (Exam_info.py:1515-1542),
    shuffled equi-join instead of the reference's O(n²) loop."""
    orders = load_table(spark, sf_dir, "orders")
    return oj.pairwise_doubles(orders, ["o_orderdate", "o_custkey"], "o_orderkey")


@register(
    "j8_full_outer_diff",
    """
    WITH l AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
         r AS (SELECT l_partkey, count(*) AS cnt FROM lineitem
               WHERE l_quantity < 49 GROUP BY 1)
    SELECT coalesce(l.l_partkey, r.l_partkey) AS l_partkey,
           l.cnt AS l_cnt, r.cnt AS r_cnt,
           CASE WHEN l.cnt IS NULL THEN 'missing_left'
                WHEN r.cnt IS NULL THEN 'missing_right'
                WHEN l.cnt <> r.cnt THEN 'mismatch'
                ELSE 'identical' END AS status
    FROM l FULL OUTER JOIN r ON l.l_partkey = r.l_partkey
    """,
)
def j8_full_outer_diff(spark, sf_dir):
    """J8/R5 — tree↔tree reconciliation as full-outer diff of two
    inventory snapshots (do_dicom_compare_recup_to.py:142-265)."""
    li = load_table(spark, sf_dir, "lineitem")
    left = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    right = (
        li.filter(F.col("l_quantity") < 49)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    return oj.full_outer_diff(left, right, ["l_partkey"], ["cnt"])


@register(
    "j10_processed_anti",
    """
    SELECT e.event_id, e.user_id, e.event_type FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'click' AND p.ts < TIMESTAMP '2024-03-01'
        AND p.user_id = e.user_id AND p.event_id = e.event_id)
    """,
)
def j10_processed_anti(spark, sf_dir):
    """J7/J10 — resume-by-anti-join against a processed set
    (qcview.py:189-231; Cenir_DB.py:171-206)."""
    ev = load_table(spark, sf_dir, "events")
    processed = ev.filter(
        (F.col("event_type") == "click") & (F.col("ts") < F.lit("2024-03-01").cast("timestamp_ntz"))
    )
    return oj.anti_by_keys(ev, processed, ["user_id", "event_id"]).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "s7_merge_classify",
    """
    WITH existing AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN c_name || '_old' ELSE c_name END AS c_name,
             c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 3)
    SELECT i.c_custkey, i.c_name, i.c_nationkey, i.c_acctbal, i.c_mktsegment,
           CASE WHEN e.c_custkey IS NULL THEN 'insert'
                WHEN (i.c_name IS DISTINCT FROM e.c_name)
                  OR (i.c_nationkey IS DISTINCT FROM e.c_nationkey)
                  OR (round(i.c_acctbal * 100000) IS DISTINCT FROM round(e.c_acctbal * 100000))
                  OR (i.c_mktsegment IS DISTINCT FROM e.c_mktsegment)
                THEN 'update' ELSE 'noop' END AS action
    FROM customer i LEFT JOIN existing e ON i.c_custkey = e.c_custkey
    """,
)
def s7_merge_classify(spark, sf_dir):
    """S7 — the pure MERGE classification behind the JDBC upsert
    (Cenir_DB.py:62-135), float fields under P4 round(×1e5) tolerance
    (Cenir_DB.py:938)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    existing = cust.filter(F.col("c_custkey") % 10 != 3).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, F.concat(F.col("c_name"), F.lit("_old")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    return oj.merge_classify(
        existing,
        cust,
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        float_cols=["c_acctbal"],
    )


# ---------------------------------------------------------------------------
# P — predicates
# ---------------------------------------------------------------------------


@register(
    "p3_composite_key",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F'
      AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
      AND o_orderpriority LIKE '1%'
    """,
)
def p3_composite_key(spark, sf_dir):
    """P3/P6 — composite-key equality + date truncation + LIKE
    (Cenir_DB.py:742-766,942); all predicates push into the parquet
    scan."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "F")
        & (F.to_date("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-01-01").cast("date"))
        & F.col("o_orderpriority").like("1%")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "p4_float_tolerance",
    """
    SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
    WHERE round(l_discount * 100000) = round(0.05 * 100000)
    """,
)
def p4_float_tolerance(spark, sf_dir):
    """P4 — round(×1e5) float-tolerant equality, preserved exactly
    (Cenir_DB.py:938)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(scalars.float_tolerant_eq("l_discount", 0.05)).select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


# ---------------------------------------------------------------------------
# F — scalar function library
# ---------------------------------------------------------------------------


@register(
    "f1_sanitize",
    """
    SELECT p_partkey,
           regexp_replace(
             regexp_replace(
               regexp_replace(p_name, '[^A-Za-z0-9]', '_', 'g'),
               '_+', '_', 'g'),
             '^_|_$', '', 'g') AS clean_name
    FROM part
    """,
)
def f1_sanitize(spark, sf_dir):
    """F1 — alpha_num_str sanitizer as pure expressions
    (do_common.py:238-287)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", scalars.alpha_num_str("p_name").alias("clean_name")
    )


@register(
    "f2_prefix_code",
    """
    SELECT c_custkey,
           CASE WHEN c_mktsegment LIKE 'BUILDING%' THEN 19
                WHEN c_mktsegment LIKE 'AUTOMOBILE%' THEN 1
                WHEN c_mktsegment LIKE 'MACHINERY%' THEN 29
                WHEN c_mktsegment LIKE 'FURNITURE%' THEN 39
                WHEN c_mktsegment LIKE 'HOUSEHOLD%' THEN 80
                ELSE 0 END AS rid
    FROM customer
    """,
)
def f2_prefix_code(spark, sf_dir):
    """F2 — startswith→code dispatch, the machine→rid map shape
    (Exam_info.py:262-274)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        scalars.prefix_code(
            "c_mktsegment",
            [("BUILDING", 19), ("AUTOMOBILE", 1), ("MACHINERY", 29), ("FURNITURE", 39), ("HOUSEHOLD", 80)],
        ).alias("rid"),
    )


@register(
    "f5_ta_parse",
    """
    SELECT event_id, ta_str,
           CASE WHEN event_id % 7 = 0 THEN (mm + 1) * 60 * mult
                ELSE (mm * 60 + ss) * mult END AS ta_sec
    FROM (
      SELECT event_id,
             ((CAST(floor(value) AS BIGINT) % 60) + 60) % 60 AS mm,
             event_id % 60 AS ss,
             1 + event_id % 4 AS mult,
             CASE WHEN event_id % 7 = 0
               THEN printf('TA %02d.%02d*%d',
                           ((CAST(floor(value) AS BIGINT) % 60) + 60) % 60,
                           event_id % 60, 1 + event_id % 4)
               ELSE printf('TA %02d:%02d*%d',
                           ((CAST(floor(value) AS BIGINT) % 60) + 60) % 60,
                           event_id % 60, 1 + event_id % 4) END AS ta_str
      FROM events) t
    """,
)
def f5_ta_parse(spark, sf_dir):
    """F5 — Siemens 'TA mm:ss*N' parse (Exam_info.py:1470-1487): build
    the string from data, then parse it back with the engine's
    regexp-based parser — a round-trip correctness check."""
    ev = load_table(spark, sf_dir, "events")
    # canonical nonnegative residue: a negative value would otherwise
    # format a '-mm' string the duration parser rejects (NULL) while
    # the oracle computes from the raw numbers — identical residue in
    # both engines keeps the round trip total (r12 sweep find); for
    # the natural nonnegative domain this is the identity
    mm = (((F.floor("value").cast("long") % 60) + 60) % 60).alias("mm")
    ss = (F.col("event_id") % 60).alias("ss")
    mult = (1 + F.col("event_id") % 4).alias("mult")
    base = ev.select("event_id", mm, ss, mult)
    # NULL value must yield NULL ta_str (DuckDB printf propagates NULL;
    # Spark format_string renders the TEXT 'null' — r13 null-probe find)
    ta = base.withColumn(
        "ta_str",
        F.when(
            F.col("mm").isNotNull(),
            F.when(
                F.col("event_id") % 7 == 0,
                F.format_string("TA %02d.%02d*%d", "mm", "ss", "mult"),
            ).otherwise(F.format_string("TA %02d:%02d*%d", "mm", "ss", "mult")),
        ),
    )
    return ta.select("event_id", "ta_str", scalars.ta_seconds("ta_str").alias("ta_sec"))


@register(
    "f4_time_arithmetic",
    """
    SELECT event_id, sec_of_day,
           CASE WHEN gap0 < 0 THEN gap0 + 86400 ELSE gap0 END AS gap_s,
           CAST(ceil((CASE WHEN gap0 < 0 THEN gap0 + 86400 ELSE gap0 END) / 60.0)
                AS BIGINT) AS gap_min
    FROM (
      SELECT event_id,
             CAST(hour(ts) AS BIGINT) * 3600 + CAST(minute(ts) AS BIGINT) * 60
               + CAST(floor(second(ts)) AS BIGINT) AS sec_of_day,
             lead(CAST(hour(ts) AS BIGINT) * 3600 + CAST(minute(ts) AS BIGINT) * 60
                  + CAST(floor(second(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
             - (CAST(hour(ts) AS BIGINT) * 3600 + CAST(minute(ts) AS BIGINT) * 60
                + CAST(floor(second(ts)) AS BIGINT)) AS gap0
      FROM events) t
    """,
)
def f4_time_arithmetic(spark, sf_dir):
    """F4 — seconds-of-day, inter-event gap with midnight rollover and
    ceil-minutes (Exam_info.py:205-230,1669; do_dicom.py:60-61)."""
    ev = load_table(spark, sf_dir, "events")
    sec = scalars.seconds_of_day(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    df = ev.select("event_id", "user_id", "ts", sec.alias("sec_of_day"))
    df = df.withColumn("gap0", F.lead("sec_of_day").over(w) - F.col("sec_of_day"))
    gap = scalars.duration_with_rollover(F.lit(0), F.col("gap0"))
    return df.select(
        "event_id",
        "sec_of_day",
        gap.alias("gap_s"),
        scalars.ceil_minutes(gap).alias("gap_min"),
    )


@register(
    "f8_classify",
    """
    SELECT p_partkey,
           CASE WHEN p_type LIKE '%BRASS%' THEN 'brass'
                WHEN p_type LIKE '%COPPER%' THEN 'copper'
                WHEN p_type LIKE '%STEEL%' THEN 'steel'
                WHEN p_type LIKE '%TIN%' THEN 'tin'
                WHEN p_type LIKE '%NICKEL%' THEN 'nickel'
                ELSE 'to_be_defined' END AS seq_type
    FROM part
    """,
)
def f8_classify(spark, sf_dir):
    """F8 — contains-chain classifier, the SeqType dictionary shape
    (Exam_info.py:293-344)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        scalars.classify_contains(
            "p_type",
            [("BRASS", "brass"), ("COPPER", "copper"), ("STEEL", "steel"), ("TIN", "tin"), ("NICKEL", "nickel")],
        ).alias("seq_type"),
    )


# ---------------------------------------------------------------------------
# T2 / LLM-pipeline operators
# ---------------------------------------------------------------------------


@register(
    "t2_content_hash",
    "SELECT doc_id, md5(text) AS content_hash FROM documents",
)
def t2_content_hash(spark, sf_dir):
    """T2 — content-hash equality replaces voxel comparison at scale
    (do_dicom_compare_recup_to.py:233-243)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5("text").alias("content_hash"))


@register(
    "dedup_exact",
    """
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
    SELECT md5(text) AS content_hash, count(*) AS n_dups,
           min(doc_id) AS keeper_id
    FROM docs2 GROUP BY 1 HAVING count(*) >= 2
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by content hash; duplicates injected
    deterministically (docs with id%5==0 duplicated under id+1e6)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return ldedup.exact_dup_groups(docs.unionAll(dupes), "doc_id", "text")


@register(
    "text_stats",
    r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
             AS n_tokens,
           length(text) AS n_chars,
           CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[\w\s]', '', 'g')) / length(text)
             ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) > 0
             THEN len(list_filter(string_split_regex(trim(text), '\s+'),
                      t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(t))))
                  / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
             ELSE 0.0 END AS stopword_ratio
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Text quality signals: token count, char count, punctuation and
    stopword ratios — per-row expressions, shuffle-free at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.char_count("text").alias("n_chars"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.stopword_ratio("text").alias("stopword_ratio"),
    )


@register("text_fingerprint", None)  # oracle added below (needs list fns)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over sorted distinct lowercase tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


# coalesce: DuckDB array_to_string([]) is NULL while Spark array_join([])
# is '' — a token-less (whitespace-only) document must fingerprint to
# md5('') identically in both engines (adversarial-corpus find, r12).
# NULL text stays NULL (no content is not empty content): the coalesce
# must fire only under text IS NOT NULL or it masks NULL docs as
# md5('') while Spark propagates NULL (r13 null-probe find)
ORACLES["text_fingerprint"] = r"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE md5(coalesce(array_to_string(
                  list_sort(list_distinct(
                    list_transform(
                      list_filter(string_split_regex(trim(text), '\s+'),
                                  t -> t <> ''),
                      t -> lower(t)))),
                  ' '), '')) END AS fp
    FROM documents
"""


@register(
    "ann_bruteforce_topk",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (
      SELECT vec_id, v,
             {_sql_norm()} AS nrm
      FROM e),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({_sql_dot('q', 'c')} AS DOUBLE)
               / (q.nrm * c.nrm) AS cosine_sim
      FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cosine_sim,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM pairs) t
    WHERE rank <= 5
    """,
)
def ann_bruteforce_topk(spark, sf_dir):
    """ANN baseline — exact top-5 cosine neighbors for query vectors
    (vec_id < 10); broadcast queries × corpus, decimal-exact dot
    products, deterministic ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsim.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)


# ---------------------------------------------------------------------------
# Batch 2 — remaining relational operators
# ---------------------------------------------------------------------------


@register(
    "f6_coalesce_chain",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), nullif(c_name, 'NULL'),
                    'DEFAULT') AS resolved
    FROM customer
    """,
)
def f6_coalesce_chain(spark, sf_dir):
    """F6 — fallback chains with sentinel-NULL conversion
    (Exam_info.py:172-180,617-624): nullif turns the reference's
    "NULL"-string sentinels into real nulls before coalescing."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        scalars.coalesce_chain(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
            F.nullif(F.col("c_name"), F.lit("NULL")),
            default="DEFAULT",
        ).alias("resolved"),
    )


@register(
    "f3_concat_builders",
    """
    SELECT l_orderkey, l_linenumber,
           printf('S%02d_%s', l_linenumber, l_returnflag) AS sname,
           printf('%d,%d,%d', l_orderkey, l_partkey, l_suppkey) AS triple
    FROM lineitem
    """,
)
def f3_concat_builders(spark, sf_dir):
    """F3 — concat/format builders: the reference's 'S%02d_<desc>'
    series naming (Exam_info.py:1099-1145) and comma-joined list
    packing (my_list_to_str, Exam_info.py:1681-1690)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.format_string("S%02d_%s", "l_linenumber", "l_returnflag").alias("sname"),
        F.format_string("%d,%d,%d", "l_orderkey", "l_partkey", "l_suppkey").alias(
            "triple"
        ),
    )


@register(
    "o1_order_limit1",
    """
    SELECT event_id, event_type, value FROM events
    ORDER BY value DESC, event_id DESC LIMIT 1
    """,
)
def o1_order_limit1(spark, sf_dir):
    """O1/O3 — ORDER BY + LIMIT-1 (fetchone semantics,
    Cenir_DB.py:762,784) with a total order."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("value").desc(), F.col("event_id").desc())
        .limit(1)
        .select("event_id", "event_type", "value")
    )


@register(
    "j5_fk_semi",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
    """,
)
def j5_fk_semi(spark, sf_dir):
    """J5 — FK lookup as left_semi (the EXISTS shape of per-exam
    series fetches, Cenir_DB.py:314-319)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "j6_two_key_lookup",
    """
    WITH dim AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                 WHERE l_quantity >= 49)
    SELECT l.l_returnflag, count(*) AS n
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM dim d
                  WHERE d.l_partkey = l.l_partkey AND d.l_suppkey = l.l_suppkey)
    GROUP BY 1
    """,
)
def j6_two_key_lookup(spark, sf_dir):
    """J6 — existence probe on a composite (SUID, EUID)-style key pair
    (Cenir_DB.py:778-788)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.filter(F.col("l_quantity") >= 49)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        oj.two_key_lookup(li, dim, ["l_partkey", "l_suppkey"])
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )


@register(
    "j7_db_fs_anti",
    """
    SELECT o_orderkey, o_orderdate FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def j7_db_fs_anti(spark, sf_dir):
    """J7/R3 — DB rows whose filesystem counterpart vanished: anti-join
    of the DB table against the file inventory (Cenir_DB.py:171-206)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return oj.anti_by_keys(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), li, ["l_orderkey"]
    ).select(F.col("l_orderkey").alias("o_orderkey"), "o_orderdate")


@register(
    "p6_like_family",
    """
    SELECT p_partkey,
           p_type LIKE 'PROMO%' AS is_promo,
           p_name LIKE '%green%' AS has_green,
           p_brand LIKE 'Brand#1%' AS is_brand1
    FROM part
    """,
)
def p6_like_family(spark, sf_dir):
    """P6 — the reference's LIKE shapes: prefix, substring, equality
    (Cenir_DB.py:425,431,368,421)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_type").like("PROMO%").alias("is_promo"),
        F.col("p_name").like("%green%").alias("has_green"),
        F.col("p_brand").like("Brand#1%").alias("is_brand1"),
    )


@register(
    "p9_guard_filter",
    """
    SELECT doc_id, source FROM documents WHERE NOT contains(source, 'src1')
    """,
)
def p9_guard_filter(spark, sf_dir):
    """P9 — the doublon-dir guard: drop rows whose path contains a
    marker substring (Cenir_DB.py:73-76)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(~F.col("source").contains("src1")).select("doc_id", "source")


@register(
    "t1_group_stacks",
    """
    SELECT l_partkey, count(*) AS n_members,
           CASE WHEN count(*) > 1 THEN count(*) ELSE 1 END AS dim4,
           array_to_string(
             list_sort(list_distinct(list(l_orderkey * 100 + l_linenumber))), ',')
             AS member_ids
    FROM lineitem GROUP BY 1
    """,
)
def t1_group_stacks(spark, sf_dir):
    """T1 — group-into-stacks by key tuple; group size >1 becomes dim4
    (Exam_info.py:754-755,881-922).  Member list is distinct+sorted
    (deterministic) and emitted as a comma-joined scalar so hash
    comparators can canonicalize it."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.count("*").alias("n_members"),
        F.when(F.count("*") > 1, F.count("*")).otherwise(F.lit(1)).alias("dim4"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.array_distinct(
                        F.collect_list(F.col("l_orderkey") * 100 + F.col("l_linenumber"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("member_ids"),
    )


@register(
    "t3_intra_stack_dups",
    """
    SELECT l_orderkey, l_linenumber, count(*) AS n_copies,
           CAST(count(*) - 1 AS VARCHAR) || 'Duplicate' AS corrupt
    FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
    """,
)
def t3_intra_stack_dups(spark, sf_dir):
    """T3 — intra-stack duplicate detection with the reference's
    '%dDuplicate' corrupt code (Exam_info.py:764-813)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .withColumn(
            "corrupt",
            F.format_string("%dDuplicate", (F.col("n_copies") - 1).cast("int")),
        )
    )


@register(
    "w4_sequence_audit",
    """
    SELECT l_orderkey, max(l_linenumber) AS max_instance, count(*) AS n_files,
           CASE WHEN max(l_linenumber) <> count(*) THEN 'sequence_interrupted'
                ELSE 'ok' END AS seq_flag
    FROM lineitem GROUP BY 1
    """,
)
def w4_sequence_audit(spark, sf_dir):
    """W4 — 'sequence interrupted' heuristic: max(InstanceNumber) vs
    file count (Exam_info.py:1242-1284)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.max("l_linenumber").alias("max_instance"),
        F.count("*").alias("n_files"),
        F.when(F.max("l_linenumber") != F.count("*"), F.lit("sequence_interrupted"))
        .otherwise(F.lit("ok"))
        .alias("seq_flag"),
    )


# ---------------------------------------------------------------------------
# Batch 3 — LLM-pipeline dedup / similarity / text analysis
# ---------------------------------------------------------------------------

# shared DuckDB fragments mirroring functions.text exactly
_SQL_TOKS_RAW = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
_SQL_TOKS = f"list_transform({_SQL_TOKS_RAW}, t -> lower(t))"
_SQL_SHINGLES = (
    "list_transform(range(1, greatest(len(tk) - 2, 0) + 1), "
    "i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])"
)
# duplicate-injection CTE shared by the dedup queries: exact copies of
# docs with id%5==0 (re-id +1e6) and near-copies (appended tail) of
# docs with id%9==0 (re-id +2e6)
_SQL_DOCS2 = """
    docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' extra trailing tail tokens appended'
      FROM documents WHERE doc_id % 9 = 0)
"""


_DUPSPAN_N = 8
_SQL_GRAM8 = " || ' ' || ".join(
    f"tk[p + {j}]" if j else "tk[p]" for j in range(_DUPSPAN_N)
)


def _docs_with_dupes(spark, sf_dir):
    """Spark twin of _SQL_DOCS2."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing tail tokens appended")).alias(
            "text"
        ),
    )
    return docs.unionAll(exact).unionAll(near)


def _component_oracle() -> str:
    """Min-label propagation unrolled over the minhash pair list —
    the SQL replay of dedup.min_label_components."""
    chain, prev = _min_label_chain("doc_id")
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    {chain}
    SELECT lbl AS component, count(*) AS n_members, min(doc_id) AS keeper_id
    FROM {prev} GROUP BY 1
    """


def _minhash_pairs_cte(num_hashes: int = 16, bands: int = 4) -> str:
    """WITH-chain ending in pairs(id1, id2) — the minhash candidate
    list, reusable as the edge input of downstream oracles."""
    rows = num_hashes // bands
    # mirror dedup.minhash_lsh_pairs: hash i = 8-hex chunk (i%4) of
    # md5((i//4) || ':' || shingle)
    mins = ",\n             ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8))) AS m{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, {b} AS band,
             md5(concat_ws('|', {', '.join(f'm{b * rows + r}' for r in range(rows))})) AS bhash
      FROM sig"""
        for b in range(bands)
    )
    return f"""WITH {_SQL_DOCS2},
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM docs2),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tk),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM sh WHERE len(sh) > 0),
    banded AS (
{band_selects}
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
    )"""


def _minhash_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
    {_minhash_pairs_cte(num_hashes, bands)}
    SELECT id1, id2 FROM pairs
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs (16 hashes, 4 bands);
    portable md5-based hash family so the oracle reproduces signatures
    bit-for-bit.  Duplicates injected deterministically.

    min_parallelism: the local documents table is one unsplittable
    parquet row group (1-3 input tasks) — fan the CPU-bound signature
    stage out to every core.  Result set is unchanged."""
    return ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SQL_DOCS2},
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM docs2),
    sh AS (SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle FROM tk),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    keep AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 32),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM sh a
      JOIN keep k ON a.shingle = k.shingle
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT pairs.id1, pairs.id2, inter / (s1.sz + s2.sz - inter) AS jaccard
    FROM cand
    JOIN pairs ON cand.id1 = pairs.id1 AND cand.id2 = pairs.id2
    JOIN sizes s1 ON pairs.id1 = s1.doc_id
    JOIN sizes s2 ON pairs.id2 = s2.doc_id
    WHERE inter / (s1.sz + s2.sz - inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard over shingle-sharing candidate pairs, with
    the df ≤ 32 hot-shingle cap on candidate generation
    (dedup._df_capped_pair_scores): bucket cost is bounded by
    |shingles|·32² instead of Σdf² — the round-5 fix for the
    web-scale boilerplate-trigram blow-up.  Scores of surviving pairs
    are exact (row-local array_intersect verify); a pair is dropped
    only when EVERY shared shingle is hot, mirrored in the oracle's
    cand CTE.  The cap genuinely binds at driver SF (max df 56 at
    sf0.01, 556 at sf0.1), so the capped path is what's verified."""
    return ldedup.ngram_jaccard_pairs(
        _docs_with_dupes(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5,
        min_parallelism=local_fanout(spark), max_df=32,
    )


@register(
    "dedup_prefix_jaccard",
    f"""
    WITH {_SQL_DOCS2},
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM docs2),
    sh AS (SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle FROM tk),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id1, id2, inter / (s1.sz + s2.sz - inter) AS jaccard
    FROM pairs
    JOIN sizes s1 ON pairs.id1 = s1.doc_id
    JOIN sizes s2 ON pairs.id2 = s2.doc_id
    WHERE inter * 2 >= s1.sz + s2.sz - inter
    """,
)
def dedup_prefix_jaccard(spark, sf_dir):
    """3-gram Jaccard ≥ 0.5 with PREFIX-FILTERED candidate generation
    (dedup.prefix_filter_jaccard_pairs): join keys are only each
    document's rarest |d|−⌈t·|d|⌉+1 shingles by global document
    frequency, so frequent-shingle buckets never enter the pair join.

    Same element domain and threshold as dedup_ngram_jaccard, and the
    ORACLE is deliberately the EXHAUSTIVE (uncapped) inverted index —
    prefix filtering is provably lossless for Jaccard ≥ t, so the
    pruned engine plan must reproduce the unpruned answer exactly.
    That makes the driver row a check of the pruning theorem's
    implementation, not just of arithmetic."""
    return ldedup.prefix_filter_jaccard_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        threshold_num=1,
        threshold_den=2,
        min_parallelism=local_fanout(spark),
    )


@register("dedup_components", _component_oracle())
def dedup_components(spark, sf_dir):
    """Near-duplicate CLUSTER resolution: minhash pairs are only
    edges — the dedup ACTION needs connected components.  Min-label
    propagation (3 fixed rounds, one vertex-keyed shuffle each; see
    dedup.min_label_components) turns pairs into (component,
    n_members, keeper_id) with the deterministic min-id survivor
    policy.  The oracle unrolls the identical 3 rounds in SQL."""
    pairs = ldedup.minhash_lsh_pairs(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        min_parallelism=local_fanout(spark),
    )
    # scale-mode default: labels shuffle-join on doc_id — a per-vertex
    # broadcast is a scale-killer on a web-sized graph (broadcast stays
    # an opt-in hint in min_label_components for provably small graphs)
    comp = ldedup.min_label_components(pairs.persist(), iters=3)
    return comp.groupBy("component").agg(
        F.count("*").alias("n_members"), F.min("doc_id").alias("keeper_id")
    )


def _simhash_sims_cte(bits: int = 16) -> str:
    """Shared DuckDB CTE chain ending in sims(doc_id, simhash)."""
    votes = []
    for b in range(bits):
        hex_pos = b // 4 + 1
        mask = 1 << (3 - (b % 4))
        votes.append(
            f"SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, {hex_pos}, 1)) - 1) "
            f"& {mask} > 0 THEN 1 ELSE -1 END) AS v{b}"
        )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << (bits - 1 - b)} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""{_SQL_DOCS2},
    tok AS (
      SELECT doc_id, md5(lower(unnest({_SQL_TOKS_RAW}))) AS h FROM docs2),
    votes AS (
      SELECT doc_id, {', '.join(votes)}
      FROM tok GROUP BY doc_id),
    sims AS (SELECT doc_id, {fp} AS simhash FROM votes)"""


def _simhash_oracle(bits: int = 16) -> str:
    return f"""
    WITH {_simhash_sims_cte(bits)}
    SELECT simhash, count(*) AS n_dups, min(doc_id) AS keeper_id
    FROM sims
    GROUP BY 1 HAVING count(*) >= 2
    """


def _simhash_near_oracle(bits: int = 16, k: int = 2) -> str:
    from dicomdb_spark.llm.dedup import _hamming_blocks

    blocks = _hamming_blocks(bits, k)
    vals = ", ".join(f"({i})" for i in range(len(blocks)))
    bval = "CASE b.block " + " ".join(
        f"WHEN {i} THEN (simhash >> {shift}) & {mask}"
        for i, (shift, mask) in enumerate(blocks)
    ) + " END"
    return f"""
    WITH {_simhash_sims_cte(bits)},
    bl AS (
      SELECT doc_id, simhash, b.block, {bval} AS bval
      FROM sims CROSS JOIN (VALUES {vals}) b(block)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.simhash AS s1, b.simhash AS s2
      FROM bl a JOIN bl b
        ON a.block = b.block AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= {k}
    """


@register("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash (16-bit, md5 bit votes) duplicate groups."""
    docs = _docs_with_dupes(spark, sf_dir).filter(text.token_count("text") > 0)
    return ldedup.simhash_dup_groups(docs, "doc_id", "text", bits=16)


@register("dedup_simhash_near", _simhash_near_oracle())
def dedup_simhash_near(spark, sf_dir):
    """SimHash near-duplicate pairs (hamming ≤ 2, 16-bit): pigeonhole
    block buckets → equi-join candidates → exact popcount verify.
    Never all-pairs; cost follows block-bucket occupancy."""
    docs = _docs_with_dupes(spark, sf_dir).filter(text.token_count("text") > 0)
    return ldedup.simhash_near_pairs(
        docs, "doc_id", "text", bits=16, k=2,
        min_parallelism=local_fanout(spark),
    )


@register(
    "dedup_fingerprint",
    rf"""
    WITH docs3 AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 3000000,
             coalesce(array_to_string(list_reverse({_SQL_TOKS_RAW}), ' '), '')
      FROM documents WHERE doc_id % 6 = 0 AND text IS NOT NULL)
    SELECT fp, count(*) AS n_dups, min(doc_id) AS keeper_id
    FROM (
      SELECT doc_id,
             md5(coalesce(array_to_string(
               list_sort(list_distinct(
                 list_transform({_SQL_TOKS_RAW}, t -> lower(t)))), ' '), '')) AS fp
      FROM docs3) t
    GROUP BY 1 HAVING count(*) >= 2
    """,
)
def dedup_fingerprint(spark, sf_dir):
    """Token-set fingerprint dedup: order-insensitive (injected dupes
    are token-REVERSED copies, caught only because the fingerprint
    sorts distinct tokens).  NULL-text docs are excluded symmetrically:
    they must not cluster together as md5('') dupes (oracle coalesce)
    or as a NULL-fp group (Spark) — r13 null-probe find."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    reversed_copies = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.reverse(text.tokens("text")), " ").alias("text"),
    )
    docs3 = docs.unionAll(reversed_copies)
    return (
        docs3.select("doc_id", text.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_dups") >= 2)
    )


def _lang_id_sql_expr() -> str:
    """Build the winner CASE chain mirroring functions.text.lang_id."""
    from dicomdb_spark.functions.text import LANG_MARKERS

    counts = {}
    for code in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[code])
        counts[code] = (
            f"len(list_filter(tk, t -> list_contains([{markers}], t)))"
        )
    ns = ", ".join(f"{expr} AS n_{code}" for code, expr in counts.items())
    codes = sorted(LANG_MARKERS)
    greatest = "greatest(" + ", ".join(f"n_{c}" for c in codes) + ")"
    whens = "\n           ".join(
        f"WHEN n_{c} = {greatest} THEN '{c}'" for c in codes
    )
    return f"""
    WITH tk AS (SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents
                WHERE text IS NOT NULL),
    cnt AS (SELECT doc_id, lang, {ns} FROM tk)
    SELECT lang, CASE WHEN {greatest} = 0 THEN 'und'
           {whens}
           END AS lang_pred, count(*) AS n
    FROM cnt GROUP BY 1, 2
    """


@register("text_lang_id", _lang_id_sql_expr())
def text_lang_id(spark, sf_dir):
    """Language-ID heuristic (marker-token counting) evaluated as a
    confusion matrix against the labeled lang column.  NULL-text docs
    are excluded symmetrically — not classifiable; Spark's zero-marker
    path would call them 'und' while the oracle's CASE falls through
    to NULL (r13 null-probe find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r13 optimization: token + counts arrays materialized in stacked
    # projections (each evaluated once per row); the winner fold is an
    # array argmax instead of the exponential interpreted when-chain
    toks = F.transform(text.tokens(F.col("text")), lambda t: F.lower(t))
    return (
        docs.select("lang", toks.alias("__tk"))
        .select("lang", text.lang_scores(F.col("__tk")).alias("__cn"))
        .select("lang", text.lang_pick(F.col("__cn")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


_SQL_QUALITY = r"""(least(length(text) / 500.0, 1.0)
            + (1.0 - CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[\w\s]', '', 'g')) / length(text)
                ELSE 0.0 END)
            + least((CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) > 0
                THEN len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(t))))
                     / len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
                ELSE 0.0 END) * 3.0, 1.0)) / 3.0"""


@register(
    "text_quality",
    f"""
    SELECT doc_id, {_SQL_QUALITY} AS quality
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Composite quality score in [0,1] (length / punctuation /
    stopword signals) — the cheap pre-filter for web corpora."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@register(
    "text_token_counts",
    r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '(\w{1,4}|[^\w\s])')) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish subword proxy."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("ws_tokens"),
        text.bpe_ish_token_count("text").alias("bpe_ish_tokens"),
    )


@register(
    "text_bpe_tokens",
    f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim({text.bpe_sql('text')}), ' +'),
               t -> t <> '')) AS bpe_tokens,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))
             AS ws_tokens
    FROM documents
    """,
)
def text_bpe_tokens(spark, sf_dir):
    """EXACT token count under a fixed BPE merge table (rank-ordered
    separator-replace application — see functions.text.bpe_symbol_
    stream).  Unlike the bpe_ish regex proxy this is real merge
    algebra, yet still pure whole-stage-codegen string expressions:
    map-only, no UDF, no shuffle, identical DuckDB replay.

    The local repartition exists ONLY because the test parquet is one
    unsplittable row group (the merge cascade is CPU-dense and would
    otherwise run single-threaded); at real scale the scan provides
    the parallelism and no shuffle is needed."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return docs.select(
        "doc_id",
        text.bpe_token_count("text").alias("bpe_tokens"),
        text.token_count("text").alias("ws_tokens"),
    )


@register(
    "text_repetition",
    f"""
    WITH tk AS (
      SELECT doc_id, length(text) AS n_chars, {_SQL_TOKS} AS tk FROM documents
      WHERE text IS NOT NULL),
    base AS (
      SELECT doc_id, n_chars, len(tk) AS n_tokens,
             CASE WHEN len(tk) = 0 THEN 0.0
                  ELSE list_aggregate(list_transform(tk, t -> length(t)), 'sum') / len(tk)
             END AS mean_word_len,
             CASE WHEN greatest(len(tk) - 1, 0) = 0 THEN 0.0
                  ELSE (greatest(len(tk) - 1, 0)
                        - len(list_distinct(list_transform(
                              range(1, greatest(len(tk) - 1, 0) + 1),
                              i -> tk[i] || ' ' || tk[i + 1]))))
                       / greatest(len(tk) - 1, 0) END AS dup_2gram_frac,
             CASE WHEN greatest(len(tk) - 2, 0) = 0 THEN 0.0
                  ELSE (greatest(len(tk) - 2, 0)
                        - len(list_distinct({_SQL_SHINGLES})))
                       / greatest(len(tk) - 2, 0) END AS dup_3gram_frac
      FROM tk),
    cnt AS (
      SELECT doc_id, unnest(tk) AS tok FROM tk),
    cgrp AS (
      SELECT doc_id, tok, count(*) AS c FROM cnt GROUP BY 1, 2),
    top AS (
      SELECT doc_id, tok, c
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY c DESC, tok) AS rn FROM cgrp) t
      WHERE rn = 1)
    SELECT b.doc_id, b.n_tokens, b.mean_word_len, b.dup_2gram_frac,
           b.dup_3gram_frac, top.tok AS top_token,
           CASE WHEN top.tok IS NULL OR b.n_chars = 0 THEN 0.0
                ELSE (top.c * length(top.tok)) / b.n_chars END AS top_token_frac
    FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021): duplicated
    2-/3-gram fractions and mean word length are MAP-ONLY per-row
    array algebra (no shuffle); the most-frequent-token fraction takes
    one (doc_id, token) partial-agg shuffle + a per-doc argmax window
    with deterministic tie-break.  NULL-text docs are excluded
    symmetrically (the per-metric NULL fallbacks differ between the
    engines' CASE chains — r13 null-probe find)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r13 optimization: token/shingle arrays materialized once (see
    # functions.text.with_repetition_arrays) — interpreted HOFs get no
    # CSE, so the one-projection form re-built each array per reference
    base = text.with_repetition_arrays(
        docs.select("doc_id", F.length("text").alias("__nc"), "text"),
        "text",
        keep=["doc_id", "__nc"],
    ).select("doc_id", "__nc", *text.repetition_stats_cols())
    toks = F.transform(text.tokens(F.col("text")), lambda t: F.lower(t))
    cnt = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    # r13 optimization (guide §2.4): the per-doc argmax is a min_by
    # aggregate on the ordering key (-c, tok) — same pick as the old
    # ORDER BY c DESC, tok + rn = 1 window, without the window's
    # re-exchange + per-group sort, and with map-side partial agg
    top = (
        cnt.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("tok", "c"), F.struct((-F.col("c")).alias("nc"), "tok")
            ).alias("__t")
        )
        .select("doc_id", F.col("__t.tok").alias("tok"), F.col("__t.c").alias("c"))
    )
    top_frac = F.when(
        F.col("tok").isNull() | (F.col("__nc") == 0), F.lit(0.0)
    ).otherwise((F.col("c") * F.length("tok")) / F.col("__nc"))
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "mean_word_len",
            "dup_2gram_frac",
            "dup_3gram_frac",
            F.col("tok").alias("top_token"),
            top_frac.cast("double").alias("top_token_frac"),
        )
    )


# lambda-indexed 8-gram fragment (DuckDB list_transform over i)
_SQL_GRAM8_I = " || ' ' || ".join(
    f"tk[i + {j}]" if j else "tk[i]" for j in range(_DUPSPAN_N)
)


@register(
    "corpus_mix",
    """
    SELECT doc_id, lang, source,
           CAST(CASE WHEN lang = 'en' THEN 2.0 ELSE 4.0 END AS DOUBLE) AS mix_weight
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE WHEN lang = 'en' THEN '80000000' ELSE '40000000' END
    """,
)
def corpus_mix(spark, sf_dir):
    """Deterministic stratified sampling for data mixing: md5-hash
    thresholds per language stratum (en 50 %, others 25 %), no RNG —
    one map-only scan; mix_weight=1/rate lets loss weighting undo the
    sampling bias (llm/corpus.py: stratified_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return lcorpus.stratified_sample(
        docs.select("doc_id", "lang", "source", "text"),
        "doc_id",
        "lang",
        {"en": 0.5},
        0.25,
    ).select("doc_id", "lang", "source", "mix_weight")


@register(
    "corpus_pack",
    r"""
    WITH t AS (
      SELECT source AS shard, doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))
                  AS BIGINT) AS n_toks
      FROM documents),
    p AS (
      SELECT shard, doc_id, n_toks,
             CAST(floor((SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks)
                        / CAST(512 AS DOUBLE)) AS BIGINT) AS seq_id
      FROM t)
    SELECT shard, seq_id, count(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           SUM(n_toks) / CAST(512 AS DOUBLE) AS fill_ratio
    FROM p GROUP BY 1, 2
    """,
)
def corpus_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing into 512-token training
    sequences, per source shard (shards pack in parallel — the window
    sort is per-shard, never global; llm/corpus.py: pack_sequences)."""
    docs = load_table(spark, sf_dir, "documents")
    return lcorpus.pack_sequences(docs, "doc_id", "text", "source", budget=512)


_PII_EMAIL = text.PII_PATTERNS["email"]
_PII_IP = text.PII_PATTERNS["ip"]
_PII_PHONE = text.PII_PATTERNS["phone"]
_PII_INJECT_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text
                  || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
                  || ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  ELSE text END AS text
      FROM documents"""


@register(
    "text_pii_redact",
    f"""
    WITH injected AS ({_PII_INJECT_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}', 0)) AS n_email,
           len(regexp_extract_all(text, '{_PII_IP}', 0)) AS n_ip,
           len(regexp_extract_all(text, '{_PII_PHONE}', 0)) AS n_phone,
           {text.pii_sql('text')} AS redacted
    FROM injected
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII detection + redaction (emails / IPv4 / phone numbers), the
    compliance pass every web-scale training corpus runs before use.

    Synthetic PII is injected on a deterministic 1-in-7 of documents
    (testdata has none), then counted with regexp_extract_all and
    masked with chained regexp_replace (functions.text: pii_redact).
    Plan: map-only, pure whole-stage-codegen string expressions — no
    UDF, no shuffle; at 100 TB this runs at scan speed with perfect
    linear scaling, and the pattern set is regex-dialect-portable
    (Java vs RE2) by construction."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7 call +1 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return injected.select(
        "doc_id",
        *text.pii_counts("text"),
        text.pii_redact("text").alias("redacted"),
    )


_C4_PAGE_SQL = """
      SELECT doc_id, concat_ws(chr(10),
        substring(text, 1, 80) || '.',
        'Please enable JavaScript and view the cookie policy',
        substring(text, 81, 1000)
          || CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END,
        CASE WHEN doc_id % 13 = 0 THEN 'if (window) { track(); }' ELSE '' END,
        CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' ELSE '' END
      ) AS page
      FROM documents"""


@register(
    "text_c4_clean",
    f"""
    WITH page AS ({_C4_PAGE_SQL}),
    f AS (
      SELECT doc_id, page,
             (contains(lower(page), 'lorem ipsum')
              OR contains(lower(page), '{{')) AS page_dropped,
             list_filter(string_split(page, chr(10)),
               l -> len(string_split(l, ' ')) >= 5
                    AND regexp_matches(l, '[.!?"]$')
                    AND NOT contains(lower(l), 'javascript')
                    AND NOT contains(lower(l), 'cookie')) AS kept
      FROM page)
    SELECT doc_id, page_dropped,
           CASE WHEN page_dropped THEN 0 ELSE len(kept) END AS n_lines_kept,
           CASE WHEN page_dropped THEN ''
                ELSE coalesce(array_to_string(kept, chr(10)), '') END
             AS cleaned
    FROM f
    """,
)
def text_c4_clean(spark, sf_dir):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    lines with ≥5 words ending in terminal punctuation, drop
    boilerplate marker lines, and drop whole pages containing code
    braces or 'lorem ipsum'.

    Testdata documents are single-line, so each is first expanded into
    a deterministic multi-line page (good line / JS-boilerplate line /
    conditional-punctuation line / occasional code and lorem lines)
    exercising every rule.  The filter itself is per-row array algebra
    (functions.text: c4_clean_lines) — split, lambda-filter, re-join;
    map-only, no explode, no shuffle at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat_ws(
        "\n",
        F.concat(F.substring("text", 1, 80), F.lit(".")),
        F.lit("Please enable JavaScript and view the cookie policy"),
        F.concat(
            F.expr("substring(text, 81, 1000)"),
            F.when(did % 3 == 0, F.lit(".")).otherwise(F.lit("")),
        ),
        F.when(did % 13 == 0, F.lit("if (window) { track(); }")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("lorem ipsum dolor sit amet.")).otherwise(
            F.lit("")
        ),
    )
    paged = docs.select("doc_id", page.alias("page"))
    kept = text.c4_clean_lines("page")
    dropped = text.c4_page_dropped("page")
    return paged.select(
        "doc_id",
        dropped.alias("page_dropped"),
        F.when(dropped, F.lit(0)).otherwise(F.size(kept)).alias("n_lines_kept"),
        F.when(dropped, F.lit("")).otherwise(F.array_join(kept, "\n")).alias("cleaned"),
    )


@register(
    "corpus_chunk",
    """
    WITH s AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text), 1), 90)) AS chunk_start
      FROM documents)
    SELECT doc_id,
           CAST(floor((chunk_start - 1) / 90.0) AS INTEGER) AS chunk_idx,
           CAST(chunk_start AS INTEGER) AS chunk_start,
           substring(text, CAST(chunk_start AS INTEGER), 120) AS chunk
    FROM s
    """,
)
def corpus_chunk(spark, sf_dir):
    """Sliding-window chunking: 120-char windows, 90-char stride
    (30-char overlap) — the context-window preparation step between
    cleaning and packing (llm/corpus.py: chunk_documents).  Row-local
    sequence+posexplode expansion: no shuffle, output bounded by
    ceil(len/stride) chunks per document, provenance columns kept."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lcorpus.chunk_documents(docs, chunk_size=120, stride=90)


@register(
    "corpus_decontaminate",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    g AS (SELECT doc_id,
                 md5(unnest(list_distinct(list_transform(
                     range(1, greatest(len(tk) - {_DUPSPAN_N - 1}, 0) + 1),
                     i -> {_SQL_GRAM8_I})))) AS gh
          FROM tk),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    corp AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0),
    shared AS (SELECT doc_id, count(DISTINCT gh) AS n
               FROM corp JOIN bench USING (gh)
               GROUP BY 1 HAVING count(DISTINCT gh) >= 2)
    SELECT d.doc_id, COALESCE(s.n, 0) AS n_shared_grams,
           CAST(CASE WHEN COALESCE(s.n, 0) >= 2 THEN 1 ELSE 0 END AS INTEGER)
             AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN shared s ON d.doc_id = s.doc_id
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing ≥2 distinct
    8-grams with the held-out set (doc_id%97==0 stands in for an eval
    suite) are flagged.  Gram-hash equi-join with the small benchmark
    side broadcast (llm/corpus.py: contamination_flags)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    flags = lcorpus.contamination_flags(corpus, bench, "doc_id", "text")
    return flags.withColumn("contaminated", F.col("contaminated").cast("int"))


@register(
    "corpus_clean",
    f"""
    WITH corp AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    qual AS (SELECT doc_id, {_SQL_QUALITY} AS q FROM corp),
    keeper AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
               FROM corp),
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    g AS (SELECT doc_id,
                 md5(unnest(list_distinct(list_transform(
                     range(1, greatest(len(tk) - {_DUPSPAN_N - 1}, 0) + 1),
                     i -> {_SQL_GRAM8_I})))) AS gh
          FROM tk),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    contam AS (SELECT doc_id FROM (SELECT c.doc_id, count(DISTINCT c.gh) AS n
                                   FROM (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0) c
                                   JOIN bench USING (gh) GROUP BY 1) t
               WHERE n >= 2)
    SELECT c.doc_id,
           CASE WHEN c.lang NOT IN ('en', 'fr', 'de') THEN 'lang'
                WHEN q.q < 0.45 THEN 'quality'
                WHEN k.keeper_id <> c.doc_id THEN 'duplicate'
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                ELSE 'kept' END AS verdict
    FROM corp c
    JOIN qual q ON c.doc_id = q.doc_id
    JOIN keeper k ON c.doc_id = k.doc_id
    LEFT JOIN contam ct ON c.doc_id = ct.doc_id
    """,
)
def corpus_clean(spark, sf_dir):
    """The composed cleaning pipeline: language filter → quality
    threshold → exact-dup keep-first → benchmark decontamination, with
    a single per-document verdict in priority order.  Each stage is a
    previously-proven operator; the composition shares one corpus scan
    and joins flags back by doc_id.

    The corpus side is repartitioned to full width before the heavy
    map-side text work (quality lambdas, 8-gram md5 hashing happen in
    the scan stage, and the local parquet is one unsplittable row
    group — at real scale the scan parallelism comes free)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .transform(_fanout(spark))
        .persist()  # four consumers (quality, dup keeper, contamination
        # grams, verdict join-back) — without the persist each re-runs
        # the scan+repartition lineage
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    quality = corpus.select("doc_id", text.quality_score("text").alias("q"))
    keeper = corpus.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5("text")))
        .alias("keeper_id"),
    )
    contam = (
        lcorpus.contamination_flags(corpus, bench, "doc_id", "text")
        .filter(F.col("contaminated"))
        .select("doc_id")
        .withColumn("__ct", F.lit(1))
    )
    verdict = (
        F.when(~F.col("lang").isin("en", "fr", "de"), F.lit("lang"))
        .when(F.col("q") < 0.45, F.lit("quality"))
        .when(F.col("keeper_id") != F.col("doc_id"), F.lit("duplicate"))
        .when(F.col("__ct").isNotNull(), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return (
        corpus.select("doc_id", "lang")
        .join(quality, "doc_id")
        .join(keeper, "doc_id")
        .join(contam, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"))
    )


@register(
    "ann_lsh_buckets",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    planes AS (SELECT vec_id AS plane_id, v FROM e WHERE vec_id < 8),
    bits AS (
      SELECT a.vec_id, b.plane_id,
             CASE WHEN {_SQL_DOT} >= 0 THEN '1' ELSE '0' END AS bit
      FROM e a CROSS JOIN planes b),
    buckets AS (
      SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bucket
      FROM bits GROUP BY 1)
    SELECT vec_id, bucket FROM buckets
    """,
)
def ann_lsh_buckets(spark, sf_dir):
    """Hyperplane-LSH bucket assignment; planes are the first 8 corpus
    vectors (deterministic, data-derived)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsim.bucketed_norm_corpus(emb, n_planes=8).select("vec_id", "bucket")


@register(
    "ann_lsh_topk",
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
    scored AS (
      SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id,
             CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
    SELECT query_id, bucket, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored) t
    WHERE rank <= 3
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """ANN top-3 restricted to same-LSH-bucket candidates — the scale
    path: candidates meet via an equi-join on the bucket key, never a
    cross join over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    # one fused scan+Arrow hop for bucket+norm (r13, guide §2.4/§4.1),
    # then per-bucket numpy pair enumeration + scoring: each vector
    # crosses the Python boundary once per BUCKET, not once per PAIR —
    # the r13 bucket self-join shipped both 64-dim vectors per
    # candidate pair (quadratic boundary bytes) and the planner scored
    # them on the un-shuffled probe side of a corpus broadcast, which
    # is how the driver measured a 4.79× wall step for a 2× data step
    # at the 20× replica (r14 fix; guide §8, §4.2, §2.4).
    withb = lsim.bucketed_norm_corpus(emb, n_planes=8)
    # per_query_limit=3: the kernel holds every candidate of a query
    # (one bucket per vector), so its top-3 prune is exact and the
    # window below re-ranks the identical surviving rows
    scored = lsim.bucket_pair_dots(withb, per_query_limit=3).select(
        "query_id",
        "bucket",
        "neighbor_id",
        # nullif: zero-norm vectors → NULL cosine like DuckDB x/0 —
        # the same JVM expression as the join form (the kernel only
        # moves the pair enumeration + exact dot)
        (
            F.col("dot") / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register(
    "ann_rerank_topk",
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
    stage1 AS (
      SELECT query_id, neighbor_id, cosine_sim
      FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) DESC,
                                               b.vec_id) AS rk
            FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id < 50) t
      WHERE rk <= 10),
    tk AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS tk FROM documents),
    pairs AS (
      SELECT s.query_id, s.neighbor_id, s.cosine_sim,
             len(list_intersect(qa.tk, qb.tk)) AS inter,
             len(qa.tk) + len(qb.tk) - len(list_intersect(qa.tk, qb.tk)) AS uni
      FROM stage1 s
      JOIN tk qa ON s.query_id = qa.doc_id
      JOIN tk qb ON s.neighbor_id = qb.doc_id),
    reranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             0.5 * cosine_sim +
             0.5 * (CASE WHEN uni = 0 THEN 0.0 ELSE inter / uni END) AS rerank_score
      FROM pairs)
    SELECT query_id, neighbor_id, cosine_sim, rerank_score, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rerank_score DESC, neighbor_id) AS rank
          FROM reranked) t
    WHERE rank <= 3
    """,
)
def ann_rerank_topk(spark, sf_dir):
    """Two-stage retrieve-then-rerank (llm/rerank.py): LSH-bucket
    candidate generation keeps top-10 ids per query (no payloads),
    then text payloads are broadcast-gathered AFTER pruning and a
    fusion scorer (0.5·cosine + 0.5·token-Jaccard — the deterministic
    stand-in for a cross-encoder pandas-UDF slot) picks the top-3."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    # fused bucket+norm corpus — one scan + one Arrow hop per side
    # (r13 optimization, see ann_lsh_topk)
    withb = lsim.bucketed_norm_corpus(emb, n_planes=8)
    q = withb.filter(F.col("vec_id") < 50).select(
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
    candidates = (
        c.join(F.broadcast(q), (F.col("bucket") == F.col("__cb"))
               & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn(
            "cosine_sim",
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            lsim.dot_exact_vec(F.col("__qv"), F.col("__cv"))
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return lrerank.rerank_topk(candidates, docs, k=3)


# ---------------------------------------------------------------------------
# Batch 4 — composed audits (R1/R2/R6 shapes) + remaining scalar ops
# ---------------------------------------------------------------------------


@register(
    "r1_dup_resolution",
    """
    WITH ranked AS (
      SELECT user_id, CAST(ts AS DATE) AS day, event_id, ts,
             CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS INTEGER) AS rn,
             count(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS cnt,
             CAST(SUM(CAST(floor(value * 10000) AS BIGINT))
                  OVER (PARTITION BY user_id, CAST(ts AS DATE)) / 10000.0
                  AS DOUBLE) AS grp_value
      FROM events)
    SELECT user_id, day, event_id, rn,
           CASE WHEN rn = 1 THEN 'keep' ELSE 'remove' END AS action,
           cnt AS n_copies, grp_value
    FROM ranked WHERE cnt >= 2
    """,
)
def r1_dup_resolution(spark, sf_dir):
    """R1/R2 — the full duplicate-resolution composition: A1 dup
    groups → W2 rank-by-recency → A3 guard aggregates carried per
    group (Cenir_DB.py:442-604: argsort mtime :502, count guards
    :513-534) — keeper + remove list with the guard totals attached."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id", "day")
    ranked = (
        ev.withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.col("ts").desc(), F.col("event_id").desc())),
        )
        .withColumn("cnt", F.count("*").over(w))
        .withColumn("grp_value", (F.sum(F.floor(F.col("value") * 10000).cast("long")).over(w) / 10000.0).cast("double"))
        .filter(F.col("cnt") >= 2)
    )
    return ranked.select(
        "user_id",
        "day",
        "event_id",
        "rn",
        F.when(F.col("rn") == 1, F.lit("keep")).otherwise(F.lit("remove")).alias("action"),
        F.col("cnt").alias("n_copies"),
        "grp_value",
    )


@register(
    "r6_billing_dedup",
    """
    WITH pairs AS (
      SELECT e1.user_id, e1.event_id AS id1, e2.event_id AS id2,
             e1.value AS v1, e2.value AS v2
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND CAST(e1.ts AS DATE) = CAST(e2.ts AS DATE)
       AND e1.event_id < e2.event_id
       AND abs(CAST(floor(epoch(e1.ts)) AS BIGINT)
               - CAST(floor(epoch(e2.ts)) AS BIGINT)) < 300)
    SELECT user_id, id1, id2,
           CASE WHEN v1 >= v2 THEN id2 ELSE id1 END AS to_remove
    FROM pairs
    """,
)
def r6_billing_dedup(spark, sf_dir):
    """R6 — time-proximity pair resolution (do_dicom.py:55-89): after
    the J3 band join, each pair resolves to a loser by comparing the
    review state (relu/maj_le in the reference; value here — higher
    wins, ties keep the older id)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = oj.time_proximity_pairs(ev, ["user_id"], "ts", "event_id", 300)
    vals = ev.select(F.col("event_id"), F.col("value"))
    p = (
        pairs.join(vals.withColumnRenamed("event_id", "id1").withColumnRenamed("value", "v1"), "id1")
        .join(vals.withColumnRenamed("event_id", "id2").withColumnRenamed("value", "v2"), "id2")
    )
    return p.select(
        "user_id",
        "id1",
        "id2",
        F.when(F.col("v1") >= F.col("v2"), F.col("id2")).otherwise(F.col("id1")).alias("to_remove"),
    )


@register(
    "p7_derived_filter",
    """
    SELECT p_partkey, array_to_string(image_type, ' ') AS image_type FROM (
      SELECT p_partkey, string_split(p_name, ' ') AS image_type
      FROM part) t
    WHERE NOT (
      (list_contains(image_type, 'blue') OR list_contains(image_type, 'red'))
      AND NOT (list_contains(image_type, 'red') AND list_contains(image_type, 'widget')))
    """,
)
def p7_derived_filter(spark, sf_dir):
    """P7 — derived-series row filter with carve-outs
    (Exam_info.py:417-455): drop rows whose ImageType array contains
    blocked tokens, EXCEPT the mp2rage-style carve-out combination
    (DERIVED+PRIMARY+UNI kept, :438-439).  Instantiated on the p_name
    token array: blue/red blocked, 'red widget' carved back in."""
    part = load_table(spark, sf_dir, "part")
    df = part.select("p_partkey", F.split("p_name", " ").alias("image_type"))
    blocked = F.array_contains("image_type", "blue") | F.array_contains(
        "image_type", "red"
    )
    carve_out = F.array_contains("image_type", "red") & F.array_contains(
        "image_type", "widget"
    )
    return df.filter(~(blocked & ~carve_out)).withColumn(
        "image_type", F.array_join("image_type", " ")
    )


@register(
    "f4_datetime_parse",
    """
    SELECT event_id,
           strptime(printf('%04d%02d%02d', y, m, d) || raw_time,
                    '%Y%m%d%H%M%S') AS parsed_ts
    FROM (
      SELECT event_id, year(ts) AS y, month(ts) AS m, day(ts) AS d,
             printf('%02d%02d%02d', hour(ts), minute(ts),
                    CAST(floor(second(ts)) AS BIGINT)) AS raw_time
      FROM events) t
    """,
)
def f4_datetime_parse(spark, sf_dir):
    """F4 — the YYYYMMDD + HHMMSS string-pair parse
    (Exam_info.py:183-188; do_dicom.py:491): rebuild the raw strings
    from data, parse with an explicit format, second precision."""
    ev = load_table(spark, sf_dir, "events")
    raw_date = F.format_string(
        "%04d%02d%02d", F.year("ts"), F.month("ts"), F.dayofmonth("ts")
    )
    raw_time = F.format_string(
        "%02d%02d%02d", F.hour("ts"), F.minute("ts"), F.floor(F.second("ts")).cast("int")
    )
    return ev.select(
        "event_id",
        F.to_timestamp_ntz(
            F.concat(raw_date, raw_time), F.lit("yyyyMMddHHmmss")
        ).alias("parsed_ts"),
    )


@register(
    "f2_eid_facturable",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                THEN substr(o_orderpriority, 3) ELSE NULL END AS eid,
           CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                THEN 1 ELSE 0 END AS facturable
    FROM orders
    """,
)
def f2_eid_facturable(spark, sf_dir):
    """F2 — the StudyDescription prefix→(eid, facturable) classifier
    (Exam_info.py:280-289): known prefixes strip to an id + billable
    flag, everything else is non-billable."""
    orders = load_table(spark, sf_dir, "orders")
    known = F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%")
    return orders.select(
        "o_orderkey",
        F.when(known, F.expr("substring(o_orderpriority, 3)")).alias("eid"),
        F.when(known, F.lit(1)).otherwise(F.lit(0)).alias("facturable"),
    )


@register(
    "o2_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o2_topk(spark, sf_dir):
    """O2 — global top-k with total order (TakeOrderedAndProject —
    no full sort is ever materialized)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Batch 5 — non-SQL-expressible operators (rows-only driver check):
# the pandas-UDF surface exercised on testdata-derived inputs.
# ---------------------------------------------------------------------------


@register(
    "s3_header_parse",
    r"""
    WITH ids AS (SELECT o_orderkey AS i FROM orders WHERE o_orderkey % 6 = 0)
    SELECT '/synthetic/' || CAST(i AS VARCHAR) || '.dic' AS path,
      CASE WHEN i % 13 <> 0
           THEN '1.2.826.0.1.' || CAST(i % 500 AS VARCHAR) END
        AS SeriesInstanceUID,
      CASE WHEN i % 13 <> 0
           THEN '1.2.826.0.' || CAST(i % 50 AS VARCHAR) END
        AS StudyInstanceUID,
      CASE WHEN i % 13 <> 0 THEN CAST(i % 40 + 1 AS INTEGER) END
        AS SeriesNumber,
      CASE WHEN i % 13 <> 0 THEN CAST(i % 300 + 1 AS INTEGER) END
        AS InstanceNumber,
      CASE WHEN i % 13 <> 0 THEN (i % 50) / 10.0 END AS EchoTime,
      CASE WHEN i % 13 <> 0 THEN '20240101' END AS AcquisitionDate,
      CASE WHEN i % 13 <> 0
           THEN lpad(CAST(i % 24 AS VARCHAR), 2, '0')
                || lpad(CAST(i % 60 AS VARCHAR), 2, '0') || '00.000000' END
        AS AcquisitionTimeRaw,
      CASE WHEN i % 13 <> 0
           THEN 'ORIGINAL\PRIMARY'
                || CASE WHEN i % 11 = 0 THEN '\DERIVED' ELSE '' END END
        AS image_type,
      CASE WHEN i % 13 <> 0
           THEN (['tfl3d1', 'epfid2d1_64', 'spc3d1'])[(i % 3) + 1]
           ELSE '' END AS seq_name,
      CASE WHEN i % 13 = 0
           THEN 'ValueError: not a DICOM Part-10 stream (no DICM magic)'
           ELSE '' END AS corrupt
    FROM ids
    """,
)  # spec oracle: the synthetic generator derives every field from the
# id, so SQL can state the expected PARSED output — the whole
# encode→Part-10-bytes→parse loop must reproduce it bit-for-bit
# (upgraded from rows-only in round 3)
def s3_header_parse(spark, sf_dir):
    """S3/U1 — real DICOM byte-level header extraction end-to-end
    (Exam_info.py:130,356,458-465): orders keys are serialized into
    Part-10 streams (explicit VR LE; every 7th implicit VR; every 13th
    corrupted) by the map-only fixture generator, then parsed back by
    the engine's minimal tag reader through the mapInPandas operator.
    Corrupt files degrade to flagged NULL rows.  Complex columns are
    re-joined to scalars for comparator safety.  The oracle is the
    SPEC: every generated field is a pure function of the id, so SQL
    states the expected parsed output and the full
    encode→Part-10-bytes→parse loop must reproduce it bit-for-bit."""
    from dicomdb_spark.sources.dicom import parse_headers, synthetic_part10_from_ids

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id")
    )
    # 1-in-6 deterministic sample: the per-row Python encode+parse cost
    # is the point of the fixture, not its cardinality — id-value-driven
    # variants (implicit VR %7, corrupt %13, CSA-only %5) all still
    # occur among multiples of 6, and the operator under test is
    # unchanged.  At sf0.1 this keeps the bench entry ~1 s instead of 7.
    orders = orders.filter(F.col("id") % 6 == 0)
    # the id column is tiny — repartition it so Part-10 generation and
    # parsing fan out to every core (single-row-group local input)
    orders = orders.transform(_fanout(spark))
    parsed = parse_headers(synthetic_part10_from_ids(orders))
    return parsed.select(
        "path",
        "SeriesInstanceUID",
        "StudyInstanceUID",
        "SeriesNumber",
        "InstanceNumber",
        "EchoTime",
        "AcquisitionDate",
        "AcquisitionTimeRaw",
        F.array_join("ImageType", "\\").alias("image_type"),
        F.coalesce(F.col("csa_meta")["SequenceName"], F.lit("")).alias("seq_name"),
        F.coalesce(F.col("csa_meta")["corrupt"], F.lit("")).alias("corrupt"),
    )


@register(
    "s1_scan_roundtrip",
    """
    SELECT 'PROTO_' || CAST(o_orderkey % 5 AS VARCHAR) AS proto,
           'Subj_' || CAST(o_orderkey % 11 AS VARCHAR) AS suj,
           'S' || CAST(o_orderkey % 7 AS VARCHAR) || '_ser' AS ser,
           'f_' || CAST(o_orderkey AS VARCHAR) || '.dic' AS fname,
           CAST(132 AS BIGINT) AS size
    FROM orders
    WHERE o_orderkey % 600 = 0 AND o_orderkey % 9 <> 0
    """,
)
def s1_scan_roundtrip(spark, sf_dir):
    """S1/S2/P8/S3-sniff — the inventory scan pipeline against a REAL
    directory tree, driver-checked: a bounded deterministic fixture
    (keys ≡ 0 mod 600; ~100 files at sf0.01) is materialized under
    /tmp as ``<proto>/<suj>/<ser>/f_<k>.dic`` with DICM magic at
    offset 128, salted with one decoy per exclusion rule — a dotfile,
    an ``.xml``, a ``dicom_info*`` name (P8, do_dicom.py:276-288), a
    series directory failing the '^S' regex (Exam_info.py:57), and a
    no-magic payload for keys ≡ 0 mod 9 (Exam_info.py:1673-1679).
    The query then runs the production pipeline — binaryFile recursive
    scan → level split → P8 name filters → S1 regex descent → DICM
    sniff — and the oracle states the exact survivor set from SQL:
    every decoy must be dropped and every real file found, or parity
    breaks.  Fixture creation is idempotent (content-addressed names,
    rewrite-same-bytes) and bounded regardless of SF (key-value
    filter, not a fraction)."""
    import os

    from dicomdb_spark.sources.inventory import (
        is_dicom_magic,
        path_name_filters,
        regex_descent,
        scan_files,
        split_tree_levels,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = f"/tmp/dicomdb_spark_scan_fixture/{tag}"
    keys = [
        int(r[0])
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 600 == 0)
        .select("o_orderkey")
        .collect()
    ]
    magic = b"\x00" * 128 + b"DICM"
    for k in sorted(keys):
        d = os.path.join(
            root, f"PROTO_{k % 5}", f"Subj_{k % 11}", f"S{k % 7}_ser"
        )
        os.makedirs(d, exist_ok=True)
        body = (b"\x00" * 132) if k % 9 == 0 else magic
        with open(os.path.join(d, f"f_{k}.dic"), "wb") as fh:
            fh.write(body)
        if k % 10 == 0:  # decoys, one per exclusion rule
            with open(os.path.join(d, f".hidden_{k}"), "wb") as fh:
                fh.write(magic)
            with open(os.path.join(d, f"info_{k}.xml"), "wb") as fh:
                fh.write(magic)
            with open(os.path.join(d, f"dicom_info_{k}"), "wb") as fh:
                fh.write(magic)
            xd = os.path.join(
                root, f"PROTO_{k % 5}", f"Subj_{k % 11}", f"X{k % 7}_ser"
            )
            os.makedirs(xd, exist_ok=True)
            with open(os.path.join(xd, f"f_{k}_x.dic"), "wb") as fh:
                fh.write(magic)
    inv = scan_files(spark, root, glob="*")
    inv = path_name_filters(split_tree_levels(inv))
    inv = regex_descent(inv, proto_reg="^PROTO_", suj_reg="^Subj_", ser_reg="^S")
    inv = inv.filter(is_dicom_magic())
    return inv.select(
        "proto",
        "suj",
        "ser",
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("size"),
    )


@register(
    "s5_list_roundtrip",
    """
    SELECT CAST(o_orderkey AS VARCHAR) AS id,
           '/data/f_' || CAST(o_orderkey AS VARCHAR) || '.nii' AS path
    FROM orders WHERE o_orderkey % 600 = 0
    """,
)
def s5_list_roundtrip(spark, sf_dir):
    """S5 — the ``id,path`` list-file source (``readList``,
    common.py:470-494) driver-checked end-to-end: a bounded
    deterministic CSV list file is written under /tmp from order keys,
    read back through ``read_id_path_list`` (including its distributed
    duplicate-id aggregate in strict mode), and the oracle states the
    exact expected rows in SQL.  Idempotent, bounded regardless of SF
    (key-value filter)."""
    import os

    from dicomdb_spark.sources.inventory import read_id_path_list

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = f"/tmp/dicomdb_spark_list_fixture/{tag}"
    os.makedirs(root, exist_ok=True)
    keys = sorted(
        int(r[0])
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 600 == 0)
        .select("o_orderkey")
        .collect()
    )
    with open(os.path.join(root, "list.csv"), "w") as fh:
        for k in keys:
            fh.write(f"{k},/data/f_{k}.nii\n")
    return read_id_path_list(spark, os.path.join(root, "list.csv"))


@register(
    "s11_results_harvest_roundtrip",
    """
    SELECT 'PROTO_' || CAST(o_orderkey % 5 AS VARCHAR) AS proto,
           'Subj_' || CAST(o_orderkey % 11 AS VARCHAR) AS suj,
           'S' || CAST(o_orderkey % 7 AS VARCHAR) || '_ser' AS ser,
           CASE WHEN o_orderkey % 9 = 0 THEN NULL
                ELSE CAST(CAST(o_orderkey % 8 AS DOUBLE) / 4 AS FLOAT)
           END AS vbmgrayvol,
           CASE WHEN o_orderkey % 9 = 0 THEN NULL
                ELSE CAST(CAST(o_orderkey % 6 AS DOUBLE) / 4 AS FLOAT)
           END AS vbmwhitevol,
           CASE WHEN o_orderkey % 9 = 0 THEN NULL
                ELSE CAST(CAST(o_orderkey % 4 AS DOUBLE) / 4 AS FLOAT)
           END AS vbmcsfvol,
           CAST(CASE WHEN o_orderkey % 9 = 0 THEN 0 ELSE 1 END
                AS INTEGER) AS status
    FROM orders WHERE o_orderkey % 600 = 0
    """,
)
def s11_results_harvest_roundtrip(spark, sf_dir):
    """S11/R9 — the seg8 results harvest (do_results_DB.py:83-153)
    driver-checked against a REAL results tree: bounded fixture
    ``<proto>/<suj>/<ser>/vbm8/res_seg8.txt`` files carry three
    tab-separated dyadic-exact volumes (corrupt text for keys ≡ 0
    mod 9 — the reference's tolerated-parse-failure path,
    :120-131), ``read_seg8_files`` scans the whole tree in ONE text
    read with input_file_name keying and try_cast parsing, and the
    oracle states every parsed value and status flag in SQL.  Any
    drift in glob matching, path algebra, tab splitting, or the
    malformed-row policy breaks parity."""
    import os

    from dicomdb_spark.sources.results import read_seg8_files

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = f"/tmp/dicomdb_spark_seg8_fixture/{tag}"
    keys = sorted(
        int(r[0])
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 600 == 0)
        .select("o_orderkey")
        .collect()
    )
    for k in keys:
        d = os.path.join(
            root, f"PROTO_{k % 5}", f"Subj_{k % 11}", f"S{k % 7}_ser", "vbm8"
        )
        os.makedirs(d, exist_ok=True)
        if k % 9 == 0:
            line = "not\ta\tnumber"
        else:
            line = f"{(k % 8) / 4.0}\t{(k % 6) / 4.0}\t{(k % 4) / 4.0}"
        with open(os.path.join(d, "res_seg8.txt"), "w") as fh:
            fh.write(line + "\n")
    seg8 = read_seg8_files(spark, root)
    parts = F.split(F.col("proc_dir"), "/")
    n = F.size(parts)
    return seg8.select(
        F.element_at(parts, n - 3).alias("proto"),
        F.element_at(parts, n - 2).alias("suj"),
        F.element_at(parts, n - 1).alias("ser"),
        "vbmgrayvol",
        "vbmwhitevol",
        "vbmcsfvol",
        "status",
    )


@register(
    "s10_cfind_reconcile",
    """
    WITH st AS (SELECT DISTINCT o_orderkey % 40 AS r FROM orders),
    remote AS (
      SELECT 'ST.' || CAST(r AS VARCHAR) AS study,
             'ST.' || CAST(r AS VARCHAR) || '.SE.' || CAST(j.range AS VARCHAR)
               AS serie,
             CAST((r * 7 + j.range * 3) % 50 + 1 AS INTEGER) AS remote_n
      FROM st, range(5) j WHERE j.range <= r % 5),
    disk AS (
      SELECT 'ST.' || CAST(r AS VARCHAR) AS study,
             'ST.' || CAST(r AS VARCHAR) || '.SE.' || CAST(j.range AS VARCHAR)
               AS serie,
             CAST((r * 7 + j.range * 3) % 50 + 1
                  + CASE WHEN r % 6 = 0 AND j.range = 0 THEN 1 ELSE 0 END
                  AS INTEGER) AS disk_n
      FROM st, range(5) j WHERE j.range <= r % 5)
    SELECT remote.study, remote.serie, remote_n, disk_n,
           CASE WHEN remote_n = disk_n THEN 'match'
                ELSE 'count_mismatch' END AS status
    FROM remote JOIN disk
      ON remote.study = disk.study AND remote.serie = disk.serie
    """,
)
def s10_cfind_reconcile(spark, sf_dir):
    """S10/J9/R4 — the C-FIND fan-out feeding the scanner↔disk
    reconciliation, driver-checked through the injectable-client seam
    with a DETERMINISTIC fake (the multimodal-decode discipline:
    the transport is faked, the Spark-side distribution — mapInPandas
    per-study association batching, schema, fan-out shape — is real
    and value-checked).  Studies derive from order keys; the fake
    PACS answers each SERIES-level query with a per-study series list
    and instance counts from a closed-form formula; the disk side
    recomputes the same counts with a planted +1 drift on every
    6th study's first series, and the J9 count join labels
    match / count_mismatch.  The oracle restates fake-PACS, disk
    derivation, and reconciliation entirely in SQL — so the executor-
    side client protocol (one client per batch, per-study query loop,
    record field extraction) must behave exactly for parity."""
    from dicomdb_spark.sources.cfind import cfind_series_counts

    def fake_pacs(level, keys):
        assert level == "SERIES"
        r = int(keys["StudyInstanceUID"].rsplit(".", 1)[-1])
        return [
            {
                "SeriesInstanceUID": f"ST.{r}.SE.{j}",
                "SeriesNumber": j + 1,
                "NumberOfSeriesRelatedInstances": (r * 7 + j * 3) % 50 + 1,
            }
            for j in range(r % 5 + 1)
        ]

    studies = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("ST."), (F.col("o_orderkey") % 40).cast("string")).alias(
            "StudyInstanceUID"
        )
    )
    remote = cfind_series_counts(studies, fake_pacs).select(
        F.col("StudyInstanceUID").alias("study"),
        F.col("SeriesInstanceUID").alias("serie"),
        F.col("NumberOfSeriesRelatedInstances").alias("remote_n"),
    )
    r = F.element_at(F.split(F.col("study"), "\\."), -1).cast("int")
    j = F.element_at(F.split(F.col("serie"), "\\."), -1).cast("int")
    disk = remote.select(
        "study",
        "serie",
        (
            (r * 7 + j * 3) % 50 + 1
            + F.when((r % 6 == 0) & (j == 0), 1).otherwise(0)
        ).cast("int").alias("disk_n"),
    )
    return (
        remote.join(disk, ["study", "serie"])
        .select(
            "study",
            "serie",
            "remote_n",
            "disk_n",
            F.when(F.col("remote_n") == F.col("disk_n"), F.lit("match"))
            .otherwise(F.lit("count_mismatch"))
            .alias("status"),
        )
    )


@register(
    "s2_incremental_scan",
    """
    SELECT 'f_' || CAST(o_orderkey AS VARCHAR) || '.dic' AS fname,
           CAST(1000000000 + o_orderkey * 172800 AS BIGINT) AS mtime_epoch
    FROM orders
    WHERE o_orderkey % 600 = 0
      AND o_orderkey > 4200
    """,
)
def s2_incremental_scan(spark, sf_dir):
    """S2 — the mtime-delta incremental contract
    (``get_all_newer_subdir``, common.py:267-306) driver-checked: the
    fixture files' mtimes are SET deterministically (epoch 10⁹ +
    k·2 days via os.utime), the scan runs with ``modifiedAfter`` at a
    cutoff midway between keys 4200 and 4800, and the oracle states
    exactly which files a correct pushdown admits (k > 4200).  Keys
    are spaced two days apart and the cutoff sits a full day from both
    neighbors, so the session-timezone interpretation of the option
    string (max ±14 h) can never flip a boundary file — tz-robust by
    construction.  Pruning happens at FILE LISTING time (binaryFile
    ``modifiedAfter``), so excluded files are never opened — the
    reference's whole point: don't re-read the archive to import a
    day's arrivals."""
    import datetime
    import os

    from dicomdb_spark.sources.inventory import scan_files

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    root = f"/tmp/dicomdb_spark_mtime_fixture/{tag}"
    os.makedirs(root, exist_ok=True)
    keys = sorted(
        int(r[0])
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 600 == 0)
        .select("o_orderkey")
        .collect()
    )
    for k in keys:
        p = os.path.join(root, f"f_{k}.dic")
        with open(p, "wb") as fh:
            fh.write(b"\x00" * 16)
        epoch = 1_000_000_000 + k * 172_800
        os.utime(p, (epoch, epoch))
    # midway between k=4200 and k=4800 in mtime space: 4500·2 days
    cutoff_epoch = 1_000_000_000 + 4_500 * 172_800
    cutoff = datetime.datetime.fromtimestamp(cutoff_epoch).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    inv = scan_files(spark, root, glob="*.dic", modified_after=cutoff)
    return inv.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        (F.unix_timestamp("mtime")).cast("long").alias("mtime_epoch"),
    )


@register(
    "s6_upsert_render",
    """
    WITH r AS (
      SELECT o_orderkey AS k,
             'it' || chr(39) || 's ' || o_orderpriority AS note
      FROM orders WHERE o_orderkey % 600 = 0)
    SELECT k,
           'INSERT INTO `exam` (`Eid`, `note`) VALUES ('
             || CAST(k AS VARCHAR) || ', ' || chr(39)
             || replace(replace(note, chr(92), chr(92) || chr(92)),
                        chr(39), chr(92) || chr(39))
             || chr(39)
             || ') ON DUPLICATE KEY UPDATE `note` = VALUES(`note`)'
             AS mysql_sql,
           'INSERT INTO ' || chr(34) || 'exam' || chr(34) || ' ('
             || chr(34) || 'Eid' || chr(34) || ', '
             || chr(34) || 'note' || chr(34) || ') VALUES ('
             || CAST(k AS VARCHAR) || ', ' || chr(39)
             || replace(note, chr(39), chr(39) || chr(39)) || chr(39)
             || ') ON CONFLICT (' || chr(34) || 'Eid' || chr(34)
             || ') DO UPDATE SET ' || chr(34) || 'note' || chr(34)
             || ' = excluded.' || chr(34) || 'note' || chr(34)
             AS ansi_sql
    FROM r
    """,
)
def s6_upsert_render(spark, sf_dir):
    """S6/S7 writer-side SQL generation (Cenir_DB.py:994-1024)
    driver-checked: every row renders its upsert statement through the
    REAL ``render_upsert_sql`` in BOTH dialects (MySQL backtick
    idents + backslash escaping + ON DUPLICATE KEY UPDATE; ANSI
    double-quote idents + quote-doubling + ON CONFLICT DO UPDATE),
    and the oracle reconstructs the exact statement text with SQL
    string algebra (chr(39)/chr(92) spell the quote and backslash) —
    an embedded single quote is planted in every value, so both
    escaping policies are value-checked byte-for-byte."""
    from collections.abc import Iterator

    import pandas as pd

    from dicomdb_spark.sources.jdbc import render_upsert_sql

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, note in zip(pdf["k"], pdf["note"]):
                d = {"Eid": int(k), "note": str(note)}
                rows.append(
                    {
                        "k": int(k),
                        "mysql_sql": render_upsert_sql(
                            "exam", d, ["Eid"], dialect="mysql"
                        ),
                        "ansi_sql": render_upsert_sql(
                            "exam", d, ["Eid"], dialect="ansi"
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["k", "mysql_sql", "ansi_sql"])

    rows = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 600 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("it's "), F.col("o_orderpriority")).alias("note"),
    )
    return rows.mapInPandas(
        run, schema="k long, mysql_sql string, ansi_sql string"
    )


@register(
    "s4_xlsx_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
    """,
)
def s4_xlsx_roundtrip(spark, sf_dir):
    """S4 — the pure-stdlib OOXML codec (sources/xlsx.py) under a
    driver-checkable round-trip: every partition batch renders its
    orders rows into a REAL workbook (zip container, workbook/rels
    XML, inline strings, numeric cells) with ``write_xlsx``, parses
    the bytes back with ``read_xlsx_rows`` (the S4 reader the
    reference used for review sheets, do_results_DB.py:36-63), and
    emits the recovered rows.  The oracle is simply the source table —
    any drift in cell-ref math, XML escaping, zip layout, or numeric
    canonicalization breaks value parity.  Map-only; the workbook
    lives per batch in memory (review sheets are KB-scale artifacts;
    the codec is not a bulk-data path)."""
    from collections.abc import Iterator

    import pandas as pd

    from dicomdb_spark.sources.xlsx import read_xlsx_rows, write_xlsx

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                [int(k), str(s), str(p), int(c)]
                for k, s, p, c in zip(
                    pdf["o_orderkey"], pdf["o_orderstatus"],
                    pdf["o_orderpriority"], pdf["price_c"],
                )
            ]
            blob = write_xlsx({"orders": rows})
            parsed = read_xlsx_rows(blob)
            out = [
                {
                    "o_orderkey": int(cells[0]),
                    "o_orderstatus": cells[1],
                    "o_orderpriority": cells[2],
                    "price_c": int(cells[3]),
                }
                for _sheet, _rn, cells in parsed
            ]
            yield pd.DataFrame(
                out,
                columns=[
                    "o_orderkey", "o_orderstatus", "o_orderpriority", "price_c",
                ],
            )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return orders.transform(_fanout(spark)).mapInPandas(
        run,
        schema="o_orderkey long, o_orderstatus string,"
        " o_orderpriority string, price_c long",
    )


@register(
    "s12_nifti_roundtrip",
    """
    WITH g AS (
      SELECT o_orderkey % 8 AS grp, o_orderkey AS k,
             row_number() OVER (PARTITION BY o_orderkey % 8
                                ORDER BY o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderkey % 8) AS nz
      FROM orders),
    vox AS (
      SELECT g.grp, g.k, g.rn, g.nz,
             (g.k * 13 + x.range * 17 + y.range * 29) % 32768 - 16384 AS v
      FROM g, range(4) x, range(4) y)
    SELECT CAST(grp AS VARCHAR) AS grp,
           CAST(4 AS INTEGER) AS nx, CAST(4 AS INTEGER) AS ny,
           CAST(max(nz) AS INTEGER) AS nz,
           CAST(SUM(v) AS BIGINT) AS voxel_sum,
           CAST(SUM(CASE WHEN rn = 1 THEN v ELSE 0 END) AS BIGINT)
             AS first_slice_sum
    FROM vox GROUP BY grp
    """,
)
def s12_nifti_roundtrip(spark, sf_dir):
    """S12 — the pure-stdlib NIfTI-1 codec (sources/nifti.py) under a
    driver-checkable round-trip: one volume per group, voxels derived
    deterministically from order keys ((k·13 + x·17 + y·29) mod 2¹⁵ −
    2¹⁴, int16-exact), ``encode_nifti1`` → gzip bytes →
    ``decode_nifti1``, and the DECODED array's dims and sums are what
    the query emits — so header field packing (dim/pixdim/vox_offset),
    Fortran-order serialization, and the gzip container must all
    round-trip exactly for the oracle (which computes the same sums
    straight from SQL) to match.  applyInPandas per series, the same
    distribution shape as the real S12 sink (write_nifti_volumes)."""
    from collections.abc import Iterator  # noqa: F401

    import numpy as np
    import pandas as pd

    from dicomdb_spark.sources.nifti import decode_nifti1, encode_nifti1

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k", kind="mergesort")
        ks = pdf["k"].to_numpy()
        x = np.arange(4).reshape(4, 1, 1)
        y = np.arange(4).reshape(1, 4, 1)
        kk = ks.reshape(1, 1, -1)
        vol = ((kk * 13 + x * 17 + y * 29) % 32768 - 16384).astype("int16")
        dec = decode_nifti1(encode_nifti1(vol))
        return pd.DataFrame(
            [
                {
                    "grp": str(int(pdf["grp"].iloc[0])),
                    "nx": int(dec.shape[0]),
                    "ny": int(dec.shape[1]),
                    "nz": int(dec.shape[2]),
                    "voxel_sum": int(dec.astype("int64").sum()),
                    "first_slice_sum": int(
                        dec[:, :, 0].astype("int64").sum()
                    ),
                }
            ]
        )

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 8).alias("grp"),
        F.col("o_orderkey").alias("k"),
    )
    return orders.groupBy("grp").applyInPandas(
        one,
        schema="grp string, nx int, ny int, nz int,"
        " voxel_sum long, first_slice_sum long",
    )


@register(
    "s13_tar_roundtrip",
    """
    SELECT CAST(o_orderkey % 8 AS VARCHAR) AS grp,
           CAST(count(*) AS INTEGER) AS n_members,
           CAST(count(*) AS INTEGER) AS content_ok,
           CAST(SUM(length(CAST(o_orderkey AS VARCHAR)) + 1
                    + o_orderkey % 50) AS BIGINT) AS sum_sizes
    FROM orders GROUP BY 1
    """,
)
def s13_tar_roundtrip(spark, sf_dir):
    """S13 — the deterministic tar codec (sources/tar_sink.py:
    tar_gz_bytes / read_tar_gz) under a driver-checkable round-trip:
    per group, synthesize one member per order key (name
    ``d/<k>.dic``, content ``<k>:xxx…`` with k%50 filler), archive →
    gzip'd tar bytes → extract, and emit what the EXTRACTED members
    say: member count, how many members carry exactly the expected
    name AND content (content_ok must equal n_members — the oracle
    states it as count(*)), and the sum of extracted TarInfo sizes
    (oracle recomputes the same lengths in SQL).  Any corruption in
    header packing, name normalization, or payload ordering breaks
    parity.  applyInPandas per group, the same distribution shape as
    write_tar_archives."""
    import pandas as pd

    from dicomdb_spark.sources.tar_sink import read_tar_gz, tar_gz_bytes

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("k", kind="mergesort")
        items = []
        expected = {}
        for k in pdf["k"]:
            k = int(k)
            name = f"d/{k}.dic"
            content = (str(k) + ":" + "x" * (k % 50)).encode()
            items.append((f"/d/{k}.dic", content))
            expected[name] = content
        blob = tar_gz_bytes(items)
        members = read_tar_gz(blob)
        ok = sum(
            1 for name, _sz, data in members if expected.get(name) == data
        )
        return pd.DataFrame(
            [
                {
                    "grp": str(int(pdf["grp"].iloc[0])),
                    "n_members": len(members),
                    "content_ok": ok,
                    "sum_sizes": int(sum(sz for _n, sz, _d in members)),
                }
            ]
        )

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 8).alias("grp"),
        F.col("o_orderkey").alias("k"),
    )
    return orders.groupBy("grp").applyInPandas(
        one, schema="grp string, n_members int, content_ok int, sum_sizes long"
    )


@register(
    "u4_bvec_rotation",
    """
    WITH v AS (
      SELECT CAST(o_orderkey % 40 AS VARCHAR) AS sid,
             o_orderkey AS vi,
             CAST(o_orderkey % 7 - 3 AS DOUBLE) AS v1,
             CAST(o_orderkey % 5 - 2 AS DOUBLE) AS v2,
             CAST(o_orderkey % 3 - 1 AS DOUBLE) AS v3,
             CAST(o_orderkey % 4 * 1000 AS DOUBLE) AS bval,
             (o_orderkey % 40) % 4 AS perm,
             CASE WHEN (o_orderkey % 40) % 2 = 0 THEN 1.0 ELSE -1.0 END AS f1
      FROM orders),
    r AS (
      SELECT sid, vi, bval,
             CASE perm WHEN 0 THEN v1 WHEN 1 THEN v2 WHEN 2 THEN v3
                       ELSE v1 END * f1 AS r1,
             CASE perm WHEN 0 THEN v2 WHEN 1 THEN v1 WHEN 2 THEN v2
                       ELSE v3 END AS r2,
             CASE perm WHEN 0 THEN v3 WHEN 1 THEN 0.0 - v3
                       WHEN 2 THEN 0.0 - v1 ELSE 0.0 - v2 END AS r3
      FROM v)
    SELECT sid AS SeriesInstanceUID,
           CAST(row_number() OVER (PARTITION BY sid ORDER BY vi) - 1
                AS INTEGER) AS idx,
           r1, r2, r3, bval
    FROM r
    """,
)
def u4_bvec_rotation(spark, sf_dir):
    """U4/F7 — the bvec rotation grouped-map kernel
    (operators/stacks.py:_rotate_bvecs_one; Exam_info.py:1148-1220)
    under a SPEC oracle, the same upgrade u3_stack_assembly got:
    synthetic per-series affines are SIGNED PERMUTATIONS of the axes
    (rows x,y = ± unit basis vectors, row z = their cross product), so
    ``np.linalg.inv`` of the rotation part is numerically EXACT
    (pivots ±1 — no roundoff) and each rotated gradient is a closed-
    form component swap/negation the SQL states literally per
    permutation code.  The manufacturer sign-flip multiplies after
    rotation on both sides (keeping IEEE -0.0 agreement: negations are
    written ``0.0 - x`` exactly where numpy's dot produces +0.0, and
    the flip as a multiplication where numpy multiplies).  Orders rows
    become volumes: 40 series (o_orderkey % 40), per-volume integer
    bvecs, bvals, and volume_index = o_orderkey, so the kernel's sort,
    grouping, rotation, flip, and list assembly are all value-checked
    bit-for-bit.  The kernel's ARRAY outputs posexplode back to scalar
    rows for the compare (idx = position in the kernel's ordered list,
    matched to the oracle's row_number over volume_index) — the driver
    hash and the dtype-parity guard are defined over scalar repr
    classes, not nested lists."""
    from dicomdb_spark.operators.stacks import rotate_bvecs

    o = F.col("o_orderkey")
    sid = o % 40
    perm = sid % 4
    row_xy = (
        F.when(perm == 0, F.array(*[F.lit(x) for x in (1.0, 0.0, 0.0, 0.0, 1.0, 0.0)]))
        .when(perm == 1, F.array(*[F.lit(x) for x in (0.0, 1.0, 0.0, 1.0, 0.0, 0.0)]))
        .when(perm == 2, F.array(*[F.lit(x) for x in (0.0, 0.0, 1.0, 0.0, 1.0, 0.0)]))
        .otherwise(F.array(*[F.lit(x) for x in (1.0, 0.0, 0.0, 0.0, 0.0, 1.0)]))
    )
    flip = F.when(
        sid % 2 == 0, F.array(F.lit(1.0), F.lit(1.0), F.lit(1.0))
    ).otherwise(F.array(F.lit(-1.0), F.lit(1.0), F.lit(1.0)))
    vols = load_table(spark, sf_dir, "orders").select(
        sid.cast("string").alias("SeriesInstanceUID"),
        o.alias("volume_index"),
        F.array(
            (o % 7 - 3).cast("double"),
            (o % 5 - 2).cast("double"),
            (o % 3 - 1).cast("double"),
        ).alias("bvec"),
        (o % 4 * 1000).cast("double").alias("bval"),
        row_xy.alias("affine"),
        flip.alias("flip_sign"),
    )
    out = rotate_bvecs(vols)
    e = out.select(
        "SeriesInstanceUID",
        F.posexplode("bvecs_rotated").alias("idx", "vec"),
        "bvals",
    )
    return e.select(
        "SeriesInstanceUID",
        F.col("idx").cast("int").alias("idx"),
        F.col("vec")[0].alias("r1"),
        F.col("vec")[1].alias("r2"),
        F.col("vec")[2].alias("r3"),
        F.element_at("bvals", F.col("idx") + 1).alias("bval"),
    )


@register(
    "u3_stack_assembly",
    """
    WITH h AS (
      SELECT CAST(l_orderkey AS VARCHAR) AS sid,
             printf('/f/%d_%d.dic', l_orderkey, l_linenumber) AS path,
             CASE WHEN l_orderkey % 11 = 0 AND l_linenumber = 3
                  THEN 2 ELSE l_linenumber END AS inst,
             CAST((l_orderkey * 37 + l_linenumber * 251) % 86400 AS DOUBLE)
               AS secs
      FROM lineitem),
    r AS (SELECT *, row_number() OVER (PARTITION BY sid ORDER BY inst, path)
                   AS rn
          FROM h),
    agg AS (
      SELECT sid,
             CAST(count(*) AS INTEGER) AS nb_dic_file,
             CAST(count(*) - count(DISTINCT inst) AS INTEGER) AS n_duplicates,
             CAST(greatest(max(inst) - min(inst) + 1 - count(DISTINCT inst), 0)
                  AS INTEGER) AS n_missing
      FROM h GROUP BY 1),
    ff AS (SELECT sid, path AS first_file, secs AS s1 FROM r WHERE rn = 1),
    lf AS (SELECT sid, path AS last_file
           FROM (SELECT sid, path,
                        row_number() OVER (PARTITION BY sid
                                           ORDER BY inst DESC, path DESC) AS z
                 FROM h) t WHERE z = 1),
    s2 AS (SELECT sid, secs AS s2 FROM r WHERE rn = 2)
    SELECT a.sid AS SeriesInstanceUID,
           CAST(1 AS INTEGER) AS SeriesNumber,
           CAST(0.0 AS DOUBLE) AS EchoTime,
           a.nb_dic_file, ff.first_file, lf.last_file,
           a.n_duplicates, a.n_missing,
           CASE WHEN a.n_duplicates > 0 AND a.n_missing > 0
                THEN CAST(a.n_duplicates AS VARCHAR) || 'Duplicate;'
                     || 'missingDicomFile_' || CAST(a.n_missing AS VARCHAR)
                WHEN a.n_duplicates > 0
                THEN CAST(a.n_duplicates AS VARCHAR) || 'Duplicate'
                WHEN a.n_missing > 0
                THEN 'missingDicomFile_' || CAST(a.n_missing AS VARCHAR)
                ELSE 'ok' END AS corrupt,
           CASE WHEN s2.s2 IS NOT NULL THEN
             CASE WHEN s2.s2 - ff.s1 < 0 THEN s2.s2 - ff.s1 + 86400
                  ELSE s2.s2 - ff.s1 END
           END AS duration_s
    FROM agg a
    JOIN ff ON ff.sid = a.sid
    JOIN lf ON lf.sid = a.sid
    LEFT JOIN s2 ON s2.sid = a.sid
    """,
)
def u3_stack_assembly(spark, sf_dir):
    """U3 — grouped-map stack assembly (Exam_info.py:752-857) driven
    from testdata: lineitem rows become per-file header records
    (orderkey → stack id; linenumber → InstanceNumber, with every
    11th order's line 3 collapsed onto 2 so duplicate AND gap audits
    actually fire; acquisition seconds synthesized tz-free so the
    rollover duration is exercised), then applyInPandas validates each
    stack and emits dup/missing audits.

    The oracle states the SPEC of the grouped-map operator in SQL —
    ordered first/second/last picks, distinct-instance audits, flag
    string, midnight-rollover duration — so the pandas path must
    reproduce it bit-for-bit (upgraded from rows-only in round 3)."""
    from dicomdb_spark.operators.stacks import assemble_stacks

    li = load_table(spark, sf_dir, "lineitem")
    headers = li.select(
        F.col("l_orderkey").cast("string").alias("SeriesInstanceUID"),
        F.lit(1).alias("SeriesNumber"),
        F.lit(0.0).alias("EchoTime"),
        F.format_string("/f/%d_%d.dic", "l_orderkey", "l_linenumber").alias("path"),
        F.when(
            (F.col("l_orderkey") % 11 == 0) & (F.col("l_linenumber") == 3),
            F.lit(2),
        )
        .otherwise(F.col("l_linenumber"))
        .alias("InstanceNumber"),
        ((F.col("l_orderkey") * 37 + F.col("l_linenumber") * 251) % 86400)
        .cast("double")
        .alias("acq_seconds"),
    )
    return assemble_stacks(headers)


@register(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           'fake/raw' AS format,
           CAST(octet_length(encode(text)) % 1024 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 1024 + 1 AS INTEGER)
             AS height,
           sha256(text) AS checksum
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_decode(spark, sf_dir):
    """Multimodal plumbing on testdata: documents → binary payloads →
    mapInPandas metadata extraction (deterministic fake decoder; real
    decoder injectable; sha-256 checksum computed JVM-side before
    Python).  The oracle states the decode SPEC (the fake decoder's
    metadata is a pure function of the utf-8 byte stream, and DuckDB's
    sha256 matches Spark's sha2), so the whole binarize→Arrow→pandas
    →decode loop is value-checked — upgraded from rows-only in
    round 3.  Since round 10 the fake decoder is passed EXPLICITLY
    (the module default became the real stdlib container parser —
    see multimodal_decode_real); the built plan is unchanged."""
    from dicomdb_spark.llm.multimodal import (
        binarize,
        decode_image_meta,
        fake_decoder,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_meta(binarize(docs), decoder=fake_decoder)


# The fake multimodal feature extractor (llm/multimodal.extract_features)
# is a pure function of the utf-8 byte stream: a 16-bin top-nibble byte
# histogram, L1-normalized in double.  DuckDB can restate it exactly —
# hex(encode(text)) yields two hex digits per byte and the FIRST digit of
# each pair IS the top nibble (= the bin index), so per-bin counts are
# character counts over the odd-position hex digits.  These helpers build
# the 16-term SQL programmatically; parity with the numpy path is pinned
# by tests/test_multimodal (floor-scaled outputs on both sides).
_HEX_DIGITS = "0123456789ABCDEF"
_MM_NIB_CTE = """
  SELECT doc_id,
         regexp_replace(hex(encode(text)), '(.).', '\\1', 'g') AS nib,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
  FROM documents WHERE text IS NOT NULL
"""


def _mm_count(i: int) -> str:
    d = _HEX_DIGITS[i]
    return f"(length(nib) - length(replace(nib,'{d}','')))"


def _mm_feature(i: int) -> str:
    """Bin count / total as the identical IEEE double the numpy path makes."""
    return f"CAST({_mm_count(i)} AS DOUBLE) / GREATEST(n_bytes, 1)"


_MM_FEATURES_ORACLE = f"""
WITH h AS ({_MM_NIB_CTE}),
f AS (
  SELECT doc_id, n_bytes,
         {", ".join(f"CAST(FLOOR(({_mm_feature(i)}) * 1000000.0) AS BIGINT) AS f_{i}" for i in range(16))}
  FROM h)
SELECT doc_id, n_bytes,
       {" + ".join(f"f_{i}" for i in range(16))} AS feat_l1,
       concat_ws(',', {", ".join(f"f_{i}" for i in range(16))}) AS features
FROM f
"""

_MM_ANN_ORACLE = f"""
WITH h AS ({_MM_NIB_CTE}),
f AS (
  SELECT doc_id,
         {", ".join(f"{_mm_feature(i)} AS f_{i}" for i in range(16))}
  FROM h),
v AS (
  SELECT *,
         sqrt(({" + ".join(f"CAST(FLOOR((f_{i}*f_{i})*1e12) AS BIGINT)" for i in range(16))}) / 1e12)
           AS nrm
  FROM f),
scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         (({" + ".join(f"CAST(FLOOR((q.f_{i}*c.f_{i})*1e12) AS BIGINT)" for i in range(16))}) / 1e12)
           / (q.nrm * c.nrm) AS cos
  FROM v q JOIN v c ON q.doc_id < 20 AND q.doc_id != c.doc_id),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(FLOOR(cos * 1e9) AS BIGINT) AS cos_e9,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_e9, rank FROM ranked WHERE rank <= 3
"""


@register("multimodal_ann", _MM_ANN_ORACLE)
def multimodal_ann(spark, sf_dir):
    """The composed multimodal retrieval pipeline: binary payloads →
    mapInPandas feature extraction (16-bin byte histogram standing in
    for a CLIP-style encoder — identical batch shape) → exact cosine
    top-3 with the 20-query batch broadcast.  Demonstrates that the
    multimodal feature column feeds the ANN operators unchanged.

    Upgraded from rows-only to a spec oracle in round 4: the fake
    extractor's histogram is restated in SQL off the hex-digit stream,
    and the cosine is the same floor-scaled int kernel brute_force_topk
    uses (dot/(nq·nc) with per-term floor at 1e12) — so the whole
    binarize → Arrow → numpy → broadcast-join → window-top-k path is
    value-checked bit-for-bit.  Similarity is emitted floor-scaled
    (cos_e9) so the comparator never sees a HALF_UP-rounded double."""
    from dicomdb_spark.llm.multimodal import binarize, extract_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(binarize(docs)).select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    queries = feats.filter(F.col("vec_id") < 20)
    out = lsim.brute_force_topk(feats, queries, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine_sim") * 1e9).cast("long").alias("cos_e9"),
        "rank",
    )


@register("multimodal_features", _MM_FEATURES_ORACLE)
def multimodal_features(spark, sf_dir):
    """Multimodal feature extraction on testdata: binary payloads → a
    16-bin L1-normalized byte histogram (real math, no media lib) via
    mapInPandas; the feature vector is emitted as a comma-joined
    scalar for comparator safety.

    Upgraded from rows-only to a spec oracle in round 4: features are
    floor-scaled to ints at 1e6 (floor of the identical IEEE double is
    engine-portable; round(x, 6) was the HALF_UP-vs-binary trap that
    kept this rows-only) and feat_l1 is the exact int sum of the same
    scaled bins."""
    from dicomdb_spark.llm.multimodal import binarize, extract_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(binarize(docs))
    ints = F.transform("features", lambda x: F.floor(x * 1000000.0).cast("long"))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.aggregate(ints, F.lit(0).cast("long"), lambda a, x: a + x).alias("feat_l1"),
        F.array_join(F.transform(ints, lambda x: x.cast("string")), ",").alias(
            "features"
        ),
    )


@register(
    "a2_seqname_catalog",
    """
    SELECT event_type, event_id, user_id, value FROM (
      SELECT event_type, event_id, user_id, value,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
      FROM events) t WHERE rn = 1
    """,
)
def a2_seqname_catalog(spark, sf_dir):
    """A2 — the ``seqname`` view (cenir_view.sql:20): MySQL's
    pick-an-arbitrary-row-per-group catalog, rewritten as the
    deterministic lowest-id representative (views.seqname_catalog
    shape: row_number over an explicit order)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("SeqName2"),
        F.col("event_id").alias("Sid"),
        "user_id",
        "value",
    )
    from dicomdb_spark.views import seqname_catalog

    return seqname_catalog(ev).select(
        F.col("SeqName2").alias("event_type"),
        F.col("Sid").alias("event_id"),
        "user_id",
        "value",
    )


# ---------------------------------------------------------------------------
# Batch 6 — IVF ANN, embedding near-dup, quantiles, pivot, rollup
# ---------------------------------------------------------------------------

@register(
    "ann_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v FROM e WHERE vec_id < 8),
    scored_cent AS (
      SELECT a.vec_id, b.cent_id,
             {_SQL_DOT} AS dp
      FROM e a CROSS JOIN cents b),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cent_id) AS rn
        FROM scored_cent) t WHERE rn = 1),
    n AS (
      SELECT e.vec_id, e.v, asg.cent_id,
             {_sql_norm("e")} AS nrm
      FROM e JOIN assign asg ON e.vec_id = asg.vec_id),
    scored AS (
      SELECT a.vec_id AS query_id, a.cent_id, b.vec_id AS neighbor_id,
             CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim
      FROM n a JOIN n b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id)
    SELECT query_id, cent_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored) t
    WHERE rank <= 3
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse quantizer (assign each vector to its
    max-dot seed centroid — an inverted file cell), then exact top-3
    within the cell.  The scale path for ANN when hyperplane-LSH
    recall is insufficient: cells shuffle-partition the corpus; the
    per-cell search is an equi-join on cent_id, never a cross join.

    Cell assignment + norm come from ONE fused scan/Arrow hop
    (llm/similarity.py seed_cell_norm_corpus; r13 optimization, guide
    §2.4/§4.1 — was crossJoin×8 → dot UDF → window → vec_id
    self-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # (a pre-kernel local _fanout repartition was measured and
    # REJECTED here: interleaved A/B min-of-5 9.99/5.59 s with vs
    # 4.35/3.84 s without — the broadcast-probe scoring side wins by
    # staying co-located with the scan; the extra exchange plus 32
    # python workers cost more than the added parallelism returns)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    n = lsim.seed_cell_norm_corpus(e, n_cents=8, id_col="vec_id", vec_col="v")
    a = n.select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("cent_id"),
        F.col("v").alias("__qv"),
        F.col("nrm").alias("__qn"),
    )
    b = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell").alias("__bc"),
        F.col("v").alias("__bv"),
        F.col("nrm").alias("__bn"),
    )
    scored = (
        a.join(b, (F.col("cent_id") == F.col("__bc")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "cent_id",
            "neighbor_id",
            (lsim.dot_exact_vec(F.col("__qv"), F.col("__bv"))
             / F.nullif(F.col("__qn") * F.col("__bn"), F.lit(0.0))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


# the injected-near-dup embeddings spec shared by the embedding dedup
# oracles: first component perturbed by +0.01, ids offset by 1e6
_SQL_EMB_BASE = """base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_concat([CAST(embedding AS DOUBLE[])[1] + 0.01],
                         CAST(embedding AS DOUBLE[])[2:])
      FROM embeddings WHERE vec_id % 10 = 0)"""


def _emb_with_dupes(spark, sf_dir):
    """Spark twin of the ``base`` CTE (_SQL_EMB_BASE)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    perturbed = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding").cast("array<double>")[0] + 0.01),
            F.slice(
                F.col("embedding").cast("array<double>"),
                2,
                F.size(F.col("embedding")) - 1,
            ),
        ).alias("v"),
    )
    return e.unionAll(perturbed)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH {_SQL_EMB_BASE},
    n AS (
      SELECT vec_id, v,
             {_sql_norm("v2")} AS nrm
      FROM base v2),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
    SELECT id1, id2, cosine_sim FROM pairs WHERE cosine_sim >= 0.99
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (≥ 0.99) — near-dup
    copies injected deterministically (first component perturbed by
    +0.01).  Brute-force all-pairs here (the oracle-checkable
    correctness path); at corpus scale candidates come from the LSH
    buckets (ann_lsh_topk) or IVF cells (ann_ivf_topk) instead.

    r13 optimization (guide §2.3/§4.1, §8 shape): still the exact
    all-pairs baseline, but BLOCK-TILED — vectors are grouped into B
    deterministic blocks, the B(B+1)/2 block pairs are enumerated with
    a tiny broadcast join, and one numpy kernel scores each tile.  The
    old plan materialized ~26M pair ROWS each carrying two 64-dim
    vectors across the Arrow boundary (~27 GB of boundary traffic at
    sf0.1); each vector now crosses ~(B+1) times (~0.1 % of that).
    Arithmetic is bit-identical: the tile kernel scores with the same
    llm/similarity.fixed_sum as every other cosine and the same
    nrm1·nrm2 division; zero/NULL denominators are dropped exactly
    like the old NULL-cosine rows."""
    import numpy as np
    import pandas as pd

    from dicomdb_spark.llm.similarity import _SCALE, fixed_sum

    nblk = 32

    def tiles(batches):
        def unpack(rows):
            ids, vs, ns = [], [], []
            for r in rows:
                if r["v"] is None or r["nrm"] is None:
                    continue  # NULL vector -> NULL cosine -> dropped
                ids.append(r["vec_id"])
                vs.append(np.asarray(r["v"], dtype=np.float64))
                ns.append(r["nrm"])
            if not ids:
                return None
            return (
                np.asarray(ids, dtype=np.int64),
                np.stack(vs),
                np.asarray(ns, dtype=np.float64),
            )

        for pdf in batches:
            outs = []
            for p, q, avs, bvs in zip(
                pdf["p"], pdf["q"], pdf["avs"], pdf["bvs"]
            ):
                ua, ub = unpack(avs), unpack(bvs)
                if ua is None or ub is None:
                    continue
                ia, A, na = ua
                ib, Bm, nb = ub
                den = na[:, None] * nb[None, :]
                for lo in range(0, len(ia), 128):  # bound tile memory
                    Ac, iac, dc = A[lo:lo + 128], ia[lo:lo + 128], den[lo:lo + 128]
                    dots = fixed_sum(Ac[:, None, :], Bm[None, :, :]) / _SCALE
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / dc
                    mask = (dc != 0.0) & (cos >= 0.99)
                    if p == q:
                        mask &= iac[:, None] < ib[None, :]
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        outs.append(
                            pd.DataFrame(
                                {
                                    "id1": np.minimum(iac[ii], ib[jj]),
                                    "id2": np.maximum(iac[ii], ib[jj]),
                                    "cosine_sim": cos[ii, jj],
                                }
                            )
                        )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    base = _emb_with_dupes(spark, sf_dir)
    n = base.withColumn("nrm", lsim.norm_exact_vec(F.col("v")))
    bl = n.groupBy(F.pmod("vec_id", F.lit(nblk)).alias("blk")).agg(
        F.collect_list(F.struct("vec_id", "v", "nrm")).alias("vs")
    )
    # enumerate the B(B+1)/2 tile keys as literals and attach each
    # side with an EQUI join: no broadcast of the block table (whose
    # total payload is the corpus — per-task memory stays 2 blocks at
    # any scale, and the planner picks the strategy from stats)
    tile_keys = spark.createDataFrame(
        [(p, q) for p in range(nblk) for q in range(p, nblk)],
        "p long, q long",
    )
    t = (
        tile_keys.join(
            bl.select(F.col("blk").alias("p"), F.col("vs").alias("avs")), "p"
        )
        .join(bl.select(F.col("blk").alias("q"), F.col("vs").alias("bvs")), "q")
        # the 32-row block table coalesces to ~1 partition; spread the
        # tiles across the cores (hash keys, no sort)
        .repartition(spark.sparkContext.defaultParallelism, "p", "q")
    )
    return t.mapInPandas(tiles, "id1 long, id2 long, cosine_sim double")


def _kmeans_assign_sql(src: str, cent: str) -> str:
    """One k-means assignment over ``src(vec_id, v)``: each vector's
    nearest centroid of ``cent(cid, v)`` by fixed-point squared
    distance, ties to the least cid."""
    return f"""
      SELECT vec_id, v, (list(cid ORDER BY d, cid))[1] AS cid FROM (
        SELECT e.vec_id, e.v, c.cid, {_sql_dist2("e", "c")} AS d
        FROM {src} e CROSS JOIN {cent} c) t
      GROUP BY vec_id, v"""


def _kmeans_mean_sql(asg: str) -> str:
    """One k-means update: the per-dimension floor-scaled mean of each
    cluster of the assignment ``asg(vec_id, v, cid)``."""
    return f"""
      SELECT cid, list(m ORDER BY pos) AS v FROM (
        SELECT a.cid, i.i AS pos,
               CAST(SUM(CAST(floor(a.v[i.i] * 1e12) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1e12 AS m
        FROM {asg} a CROSS JOIN unnest(range(1, len(a.v) + 1)) i(i)
        GROUP BY a.cid, i.i) t
      GROUP BY cid"""


def _kmeans_ctes(k: int = 8, iters: int = 2) -> tuple[str, str]:
    """Unrolled k-means training CTEs over a ``base(vec_id, v)`` CTE —
    the DuckDB replay of llm/clustering.py's deterministic loop
    (identical floor-scaled integer arithmetic).  Returns (joined
    CTE text, name of the final assignment CTE)."""
    chain, last = _chain("asg0", iters, lambda i, prev: {
        f"cent{i}": _kmeans_mean_sql(prev),
        f"asg{i}": _kmeans_assign_sql("base", f"cent{i}"),
    })
    return f"""cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v FROM base WHERE vec_id < {k}),
    asg0 AS ({_kmeans_assign_sql("base", "cent0")}),
    {chain}""", last


def _semantic_dedup_oracle(k: int = 8, iters: int = 2, threshold: float = 0.99) -> str:
    joined_ctes, final = _kmeans_ctes(k, iters)
    return f"""
    WITH {_SQL_EMB_BASE},
    {joined_ctes},
    n AS (
      SELECT vec_id, v, cid,
             {_sql_norm("v2")} AS nrm
      FROM {final} v2)
    SELECT a.vec_id AS id1, b.vec_id AS id2, a.cid,
           CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim
    FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) >= {threshold}
    """


def _ivf_trained_oracle(k: int = 8, iters: int = 2, n_queries: int = 10, topk: int = 3) -> str:
    joined_ctes, final = _kmeans_ctes(k, iters)
    return f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {joined_ctes},
    n AS (
      SELECT vec_id, v, cid,
             {_sql_norm("v2")} AS nrm
      FROM {final} v2),
    scored AS (
      SELECT a.vec_id AS query_id, a.cid, b.vec_id AS neighbor_id,
             CAST({_SQL_DOT} AS DOUBLE) / (a.nrm * b.nrm) AS cosine_sim
      FROM n a JOIN n b
        ON a.cid = b.cid AND a.vec_id < {n_queries} AND a.vec_id <> b.vec_id)
    SELECT query_id, cid, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= {topk}
    """


@register("ann_ivf_trained_topk", _ivf_trained_oracle())
def ann_ivf_trained_topk(spark, sf_dir):
    """IVF ANN with TRAINED coarse quantizer: k-means (8 cells, 2
    deterministic rounds) partitions the corpus, then each query
    searches only its own cell (nprobe=1) — candidates meet via an
    equi-join on the cell id.  Composes the clustering trainer with
    the ANN path; the oracle replays training + search end-to-end."""
    from dicomdb_spark.llm.clustering import assign_clusters, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = kmeans_fit(emb, "vec_id", "v", k=8, iters=2)
    # the assignment carries the norm: one Arrow hop per join side
    # instead of assign + a separate norm pass (guide §4.1)
    n = assign_clusters(emb, cents, "vec_id", "v")
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("__qv"),
        F.col("nrm").alias("__qn"),
        "cid",
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("__cv"),
        F.col("nrm").alias("__cn"),
        F.col("cid").alias("__ccid"),
    )
    scored = (
        q.join(
            c,
            (F.col("cid") == F.col("__ccid"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "cid",
            "neighbor_id",
            (
                lsim.dot_exact_vec(F.col("__qv"), F.col("__cv"))
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register("dedup_semantic_kmeans", _semantic_dedup_oracle())
def dedup_semantic_kmeans(spark, sf_dir):
    """Semantic dedup — deterministic k-means (8 clusters, 2 rounds,
    lowest-id seeds, floor-int arithmetic) blocks the corpus, then
    exact cosine ≥ 0.99 inside each cluster.  The oracle replays the
    full training loop in SQL with unrolled iterations, proving the
    iterative path bit-for-bit.  At corpus scale: assignment is a
    map-only broadcast-centroid pass; only k·dims numbers ever reach
    the driver per round; the pair join never crosses clusters."""
    from dicomdb_spark.llm.clustering import semantic_dedup_pairs

    # quarter-width: each training round is a pandas-UDF pass, and at
    # local fixture sizes per-task python-worker spin-up dominates past
    # ~8 tasks (measured 2.3 s @8 vs 4.9 s @32 vs 5.5 s @row-group
    # width).  On a real cluster the input arrives already wide and
    # worker reuse amortizes — pass full width there.
    return semantic_dedup_pairs(
        _emb_with_dupes(spark, sf_dir), "vec_id", "v", k=8, iters=2, threshold=0.99,
        min_parallelism=local_fanout(spark, divisor=4),
    )


@register(
    "a_quantiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.25) AS q25,
           quantile_cont(value, 0.5) AS median,
           quantile_cont(value, 0.75) AS q75
    FROM events GROUP BY 1
    """,
)
def a_quantiles(spark, sf_dir):
    """Exact linear-interpolation quantiles per group (capability the
    reference lacks but every pipeline needs; approx_percentile is the
    documented scale path when exactness isn't required)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q25"),
        F.percentile("value", F.lit(0.5)).alias("median"),
        F.percentile("value", F.lit(0.75)).alias("q75"),
    )


@register(
    "a_pivot_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def a_pivot_counts(spark, sf_dir):
    """Pivot: per-entity wide counts over a small, explicit pivot
    domain (explicit values keep the schema static — mandatory at
    scale; dynamic pivot would scan twice)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "a_rollup_counts",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS year, o_orderstatus,
           count(*) AS n, {_dsum('o_totalprice', 'total')}
    FROM orders GROUP BY ROLLUP (1, 2)
    """,
)
def a_rollup_counts(spark, sf_dir):
    """Rollup: (year, status) → year subtotal → grand total in one
    pass (Spark expands grouping sets in a single shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup(
        F.year("o_orderdate").cast("int").alias("year"), F.col("o_orderstatus")
    ).agg(F.count("*").alias("n"), agg.dsum("o_totalprice", "total"))


@register(
    "p3_machine_dispatch",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    WHERE (o_orderstatus = 'F'
           AND o_custkey % 100 = 7
           AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01')
       OR (o_orderstatus <> 'F' AND o_custkey % 100 = 7
           AND o_orderpriority LIKE '1-%')
    """,
)
def p3_machine_dispatch(spark, sf_dir):
    """P3 GE branch — the identity probe uses a DIFFERENT key set per
    machine type (Cenir_DB.py:742-766: GE 'SIGNA PET/MR' matches on 6
    fields without date truncation, others on 12 with it).  Shape: the
    match predicate is a when/otherwise dispatch on the branch column."""
    orders = load_table(spark, sf_dir, "orders")
    is_ge = F.col("o_orderstatus") == "F"
    ge_keys = (F.col("o_custkey") % 100 == 7) & (
        F.to_date("o_orderdate") >= F.lit("1995-01-01").cast("date")
    )
    std_keys = (F.col("o_custkey") % 100 == 7) & F.col("o_orderpriority").like("1-%")
    return orders.filter(F.when(is_ge, ge_keys).otherwise(std_keys)).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@register(
    "r2_dup_guarded",
    f"""
    WITH pairs AS (
      SELECT o1.o_custkey, o1.o_orderdate,
             o1.o_orderkey AS keeper_id, o2.o_orderkey AS loser_id
      FROM orders o1 JOIN orders o2
        ON o1.o_orderdate = o2.o_orderdate
       AND o1.o_custkey = o2.o_custkey
       AND o1.o_orderkey < o2.o_orderkey),
    stats AS (
      SELECT l_orderkey, count(*) AS nbs,
             {_dsum('l_quantity', 'nbd')}
      FROM lineitem GROUP BY 1)
    SELECT p.o_custkey, p.keeper_id, p.loser_id,
           k.nbs AS keeper_nbs, l.nbs AS loser_nbs,
           CASE WHEN k.nbs = l.nbs THEN 1 ELSE 0 END AS counts_match,
           CASE WHEN k.nbs = l.nbs AND k.nbd = l.nbd THEN 1 ELSE 0 END AS do_move
    FROM pairs p
    JOIN stats k ON p.keeper_id = k.l_orderkey
    JOIN stats l ON p.loser_id = l.l_orderkey
    """,
)
def r2_dup_guarded(spark, sf_dir):
    """R2 — duplicate-copy resolution WITH the reference's guards:
    before moving/deleting a duplicate copy, compare its series count
    and total file size against the keeper's; only act when they match
    (``do_move``, Cenir_DB.py:513-534,322-332).  Keeper = lowest id;
    guards = per-copy A3 aggregates joined onto the J4 pair set."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = oj.pairwise_doubles(orders, ["o_orderdate", "o_custkey"], "o_orderkey").select(
        "o_custkey",
        F.col("id1").alias("keeper_id"),
        F.col("id2").alias("loser_id"),
    )
    stats = agg.per_group_stats(li, ["l_orderkey"], sum_col="l_quantity")
    k = stats.select(
        F.col("l_orderkey").alias("keeper_id"),
        F.col("nbs").alias("keeper_nbs"),
        F.col("nbd").alias("__knbd"),
    )
    l = stats.select(
        F.col("l_orderkey").alias("loser_id"),
        F.col("nbs").alias("loser_nbs"),
        F.col("nbd").alias("__lnbd"),
    )
    return (
        pairs.join(k, "keeper_id")
        .join(l, "loser_id")
        .select(
            "o_custkey",
            "keeper_id",
            "loser_id",
            "keeper_nbs",
            "loser_nbs",
            F.when(F.col("keeper_nbs") == F.col("loser_nbs"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("counts_match"),
            F.when(
                (F.col("keeper_nbs") == F.col("loser_nbs"))
                & (F.col("__knbd") == F.col("__lnbd")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("do_move"),
        )
    )


@register(
    "j11_asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'),
    r AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'click')
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.event_id AS event_id_asof, r.value AS value_asof
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def j11_asof_join(spark, sf_dir):
    """As-of join — for each purchase, the user's latest click at or
    before it (a capability the reference lacked but every event
    pipeline needs; checked against DuckDB's native ASOF JOIN).
    Spark side: union-and-carry-forward — one shuffle on user_id, one
    sort, no range-join blowup."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return oj.asof_join(
        left, right, keys=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["event_id", "value"],
    )


@register(
    "r10_review_flag_update",
    """
    WITH sheet AS (
      SELECT DISTINCT c_mktsegment AS eid, c_name AS pname
      FROM customer WHERE c_custkey % 7 = 0),
    exam AS (
      SELECT o.o_orderkey AS crid, c.c_mktsegment AS eid, c.c_name AS pname
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT CASE WHEN s.eid IS NOT NULL THEN 'update' ELSE 'noop' END AS action,
           e.crid, e.eid, e.pname,
           CASE WHEN s.eid IS NOT NULL THEN 1 ELSE 0 END AS relu,
           CASE WHEN s.eid IS NOT NULL THEN 'samia' END AS relu_par
    FROM exam e LEFT JOIN sheet s ON e.eid = s.eid AND e.pname = s.pname
    UNION ALL
    SELECT 'missing_exam', CAST(NULL AS BIGINT), s.eid, s.pname,
           CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR)
    FROM sheet s
    WHERE NOT EXISTS (
      SELECT 1 FROM exam e WHERE e.eid = s.eid AND e.pname = s.pname)
    """,
)
def r10_review_flag_update(spark, sf_dir):
    """R10 — review-sheet flag update (do_dicom.py:642-681): each sheet
    row is an (eid, PatientsName) pair; matching exams get relu=1,
    relu_par='samia' (an UPDATE class via merge_classify — the S7 pure
    half), and sheet pairs with no exam are reported (the reference
    printed them).  The sheet here is derived deterministically from
    customer so the DuckDB oracle can replay it; the real S4 xlsx read
    path is ``sources.xlsx.read_review_sheet`` (pure-stdlib OOXML
    reader, exercised end-to-end in tests/test_xlsx.py; reference
    common.py:507-531)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    sheet = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_mktsegment").alias("eid"), F.col("c_name").alias("pname"))
        .distinct()
    )
    exam = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("o_orderkey").alias("crid"),
        F.col("c_mktsegment").alias("eid"),
        F.col("c_name").alias("pname"),
    )
    # existing snapshot: every exam unreviewed; incoming: sheet matches
    # flip relu→1/relu_par→'samia'.  merge_classify yields the
    # update/noop classes the side-effecting writer would consume.
    existing = exam.select(
        "crid",
        F.lit(0).alias("relu"),
        F.lit(None).cast("string").alias("relu_par"),
    )
    matched = F.col("__m").isNotNull()
    incoming = exam.join(
        sheet.withColumn("__m", F.lit(1)), ["eid", "pname"], "left_outer"
    ).select(
        "crid",
        "eid",
        "pname",
        F.when(matched, F.lit(1)).otherwise(F.lit(0)).alias("relu"),
        F.when(matched, F.lit("samia")).alias("relu_par"),
    )
    classified = oj.merge_classify(
        existing, incoming, keys=["crid"], compare_cols=["relu", "relu_par"]
    ).select("action", "crid", "eid", "pname", "relu", "relu_par")
    missing = sheet.join(exam, ["eid", "pname"], "left_anti").select(
        F.lit("missing_exam").alias("action"),
        F.lit(None).cast("long").alias("crid"),
        "eid",
        "pname",
        F.lit(None).cast("int").alias("relu"),
        F.lit(None).cast("string").alias("relu_par"),
    )
    return classified.unionAll(missing)


@register(
    "scd2_history",
    """
    WITH snap1 AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 3),
    snap2 AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END
               AS c_acctbal,
             c_mktsegment
      FROM customer)
    -- unchanged since batch 1: still open
    SELECT s.*, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to
    FROM snap1 s WHERE s.c_custkey % 7 <> 0
    UNION ALL
    -- changed in batch 2: original version closed at ts2
    SELECT s.*, TIMESTAMP '2024-01-01 00:00:00',
           TIMESTAMP '2024-02-01 00:00:00'
    FROM snap1 s WHERE s.c_custkey % 7 = 0
    UNION ALL
    -- changed in batch 2: new open version
    SELECT s.*, TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
    FROM snap2 s WHERE s.c_custkey % 7 = 0 AND s.c_custkey % 10 <> 3
    UNION ALL
    -- first seen in batch 2
    SELECT s.*, TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
    FROM snap2 s WHERE s.c_custkey % 10 = 3
    """,
)
def scd2_history(spark, sf_dir):
    """SCD2/CDC — full-history dimension maintenance without Delta:
    anti-join + union + MERGE classification per batch
    (operators/scd.py).  Two snapshots of customer applied to an empty
    history; oracle constructs the expected final history per case.
    The engine side RUNS the algorithm; the oracle states the spec."""
    from dicomdb_spark.operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    snap1 = cust.filter(F.col("c_custkey") % 10 != 3)
    snap2 = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    from pyspark.sql import types as T

    # NB: StructType.add mutates in place — never chain it off a live
    # DataFrame's schema
    hist_schema = T.StructType(
        list(snap1.schema.fields)
        + [
            T.StructField("valid_from", T.TimestampNTZType()),
            T.StructField("valid_to", T.TimestampNTZType()),
        ]
    )
    empty = spark.createDataFrame([], hist_schema)
    keys = ["c_custkey"]
    cmp_cols = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    h1 = scd2_apply(
        empty, snap1, keys, cmp_cols, "2024-01-01 00:00:00", ["c_acctbal"]
    ).persist()  # batch-2 references the batch-1 history from several
    # branches (open-row classify + carried-forward rows); without the
    # persist the whole batch-1 lineage re-runs once per consumer —
    # the per-batch persist is exactly how a production CDC loop holds
    # its current history between merges
    return scd2_apply(h1, snap2, keys, cmp_cols, "2024-02-01 00:00:00", ["c_acctbal"])


def _lang_ngram_oracle() -> str:
    from dicomdb_spark.functions.text import CHAR_NGRAM_PROFILES

    def cnt(ng: str) -> str:
        e = ng.replace("'", "''")
        return f"(len(string_split(lower(text), '{e}')) - 1)"

    scores = {
        code: " + ".join(cnt(ng) for ng in CHAR_NGRAM_PROFILES[code])
        for code in sorted(CHAR_NGRAM_PROFILES)
    }
    sel = ", ".join(f"({expr}) AS n_{code}" for code, expr in scores.items())
    codes = sorted(CHAR_NGRAM_PROFILES)
    greatest = "greatest(" + ", ".join(f"n_{c}" for c in codes) + ")"
    whens = " ".join(f"WHEN n_{c} = {greatest} THEN '{c}'" for c in codes)
    return f"""
    WITH cnt AS (SELECT lang, {sel} FROM documents
                 WHERE text IS NOT NULL)
    SELECT lang,
           CASE WHEN {greatest} = 0 THEN 'und' {whens} END AS lang_pred,
           count(*) AS n
    FROM cnt GROUP BY 1, 2
    """


@register("text_lang_id_ngram", _lang_ngram_oracle())
def text_lang_id_ngram(spark, sf_dir):
    """Language ID via character-n-gram profiles (the classic cheap
    model; complements the marker-word heuristic) — confusion matrix
    against the labeled lang column.  NULL-text docs excluded
    symmetrically, same reason as text_lang_id (r13 null-probe)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r13 optimization: lowered text + counts materialized in stacked
    # projections; array-argmax winner (see text_lang_id)
    return (
        docs.select("lang", F.lower("text").alias("__lt"))
        .select("lang", text.lang_scores_ngram(F.col("__lt")).alias("__cn"))
        .select(
            "lang", text.lang_pick_ngram(F.col("__cn")).alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_rolling_hash",
    """
    SELECT doc_id,
           coalesce(
             list_reduce(
               list_transform(
                 list_filter(string_split_regex(text, ''), c -> c <> ''),
                 c -> CAST(ord(c) AS BIGINT)),
               (a, b) -> (a * 31 + b) % 2147483647),
             -1) AS rhash
    FROM documents
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Document fingerprint via polynomial rolling hash (Rabin–Karp
    fold over codepoints) — the incremental-dedup primitive."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_hash("text").alias("rhash"))


# ---------------------------------------------------------------------------
# Batch 7 — analytical breadth: TPC-H shapes, running windows, distinct
# counts, set ops, JSON
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_shape",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity', 'sum_qty')},
           {_dsum('l_extendedprice', 'sum_base_price')},
           {_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def tpch_q1_shape(spark, sf_dir):
    """TPC-H Q1 pricing summary — the canonical scan+multi-aggregate:
    one pushed filter, one shuffle, map-side partials for all five
    aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            agg.dsum("l_quantity", "sum_qty"),
            agg.dsum("l_extendedprice", "sum_base_price"),
            agg.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            agg.dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shape",
    f"""
    SELECT l.l_orderkey,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 shipping-priority shape: selective dimension filters
    pushed to scans, top-k by aggregated revenue with a deterministic
    tiebreak.  Join strategy is left to stats + AQE: the date-filtered
    orders side is ~half the table, so a pinned broadcast would scale
    linearly with SF — broadcast locally, shuffle join at 100x."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(agg.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "w_running_totals",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(floor(value * 10000) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                / 10000.0 AS DOUBLE) AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INTEGER) AS seq
    FROM events
    """,
)
def w_running_totals(spark, sf_dir):
    """Running (prefix) aggregate with an explicit frame — exact
    integer accumulation so every prefix value is engine-portable."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.floor(F.col("value") * 10000).cast("long")).over(frame) / 10000.0
        )
        .cast("double")
        .alias("running_value"),
        F.row_number().over(w).alias("seq"),
    )


@register(
    "a_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY 1
    """,
)
def a_count_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) per group — Spark expands to a two-stage
    aggregate; approx_count_distinct (aggregates.approx_stats) is the
    sketch path at scale."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )


@register(
    "t4_set_ops",
    """
    SELECT 'except' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 0
      EXCEPT
      SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
    """,
)
def t4_set_ops(spark, sf_dir):
    """T4 — EXCEPT / INTERSECT set operators (the reference covered
    these needs with anti-joins; the engine exposes both forms)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # subtract == EXCEPT DISTINCT: any left value with a right match is
    # dropped regardless of multiplicity (exceptAll+distinct would keep
    # a left value whose multiplicity exceeds its right match count)
    ex = (
        cust.filter(F.col("c_acctbal") > 0)
        .select("c_custkey")
        .subtract(orders.select(F.col("o_custkey").alias("c_custkey")))
        .select(F.lit("except").alias("op"), "c_custkey")
    )
    it = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey")
        .intersect(cust.filter(F.col("c_custkey") % 5 == 0).select("c_custkey"))
        .select(F.lit("intersect").alias("op"), "c_custkey")
    )
    return ex.unionAll(it)
