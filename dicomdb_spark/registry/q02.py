"""registry chunk 2/8 — mechanical split of the monolithic registry.py (round 10); original lines 4357-8625.  Registration order preserved."""
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
    _SQL_DOT,
    _dsum,
    _fanout,
    _min_label_chain,
    _sql_dist2,
    _sql_dot,
    _sql_norm,
    register,
)
from dicomdb_spark.registry.q01 import (
    _DUPSPAN_N,
    _SQL_DOCS2,
    _SQL_GRAM8,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _docs_with_dupes,
    _kmeans_assign_sql,
    _kmeans_mean_sql,
    _minhash_pairs_cte,
    scd2_history,
)


@register(
    "f9_json_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract(props, '$.missing') AS INTEGER) AS missing
    FROM events
    """,
)
def f9_json_extract(spark, sf_dir):
    """F9 — JSON field extraction from the props column (typed get with
    NULL for absent paths); from_json with an explicit schema is the
    scale path (single parse, pruned)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT, missing INT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["missing"].alias("missing"),
    )


@register(
    "a_unpivot",
    """
    SELECT p_partkey, attr, val FROM (
      SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
      UNION ALL
      SELECT p_partkey, 'p_retailprice', p_retailprice FROM part)
    """,
)
def a_unpivot(spark, sf_dir):
    """Unpivot/melt: wide attribute columns → long (attr, val) rows —
    Spark's unpivot expands map-side, no shuffle."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")


@register(
    "j12_range_join",
    """
    WITH s AS (
      SELECT user_id, event_id AS signup_id, ts AS start_ts,
             ts + INTERVAL 2 HOUR AS end_ts
      FROM events WHERE event_type = 'signup'),
    c AS (
      SELECT user_id, event_id AS click_id, ts FROM events
      WHERE event_type = 'click')
    SELECT c.user_id, c.click_id, c.ts, s.signup_id, s.start_ts, s.end_ts
    FROM c JOIN s
      ON c.user_id = s.user_id AND c.ts >= s.start_ts AND c.ts <= s.end_ts
    """,
)
def j12_range_join(spark, sf_dir):
    """Range join — clicks attributed to every signup interval
    [ts, ts+2h] of the same user.  Spark plans a bare range predicate
    as a nested loop; the engine's interval_range_join buckets time
    (1 h) so candidates meet via a plain equi-join on (user, bucket)
    with the exact predicate as a post-filter — cost follows bucket
    occupancy, never |clicks|×|signups|.  Oracle: DuckDB's native
    range join."""
    ev = load_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    return oj.interval_range_join(
        clicks, signups, keys=["user_id"], ts_col="ts",
        start_col="start_ts", end_col="end_ts", bucket_width_s=3600,
    ).select("user_id", "click_id", "ts", "signup_id", "start_ts", "end_ts")


# uncapped containment oracle text: kept verbatim for
# dedup_prefix_containment, whose LOSSLESS prefix filter must
# reproduce the full exhaustive answer (no df-cap in its contract)
_CONTAINMENT_ORACLE_UNCAPPED = f"""
    WITH {_SQL_DOCS2},
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM docs2),
    sh AS (SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS shingle FROM tk),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id1, id2, inter / least(s1.sz, s2.sz) AS containment
    FROM pairs
    JOIN sizes s1 ON pairs.id1 = s1.doc_id
    JOIN sizes s2 ON pairs.id2 = s2.doc_id
    WHERE inter / least(s1.sz, s2.sz) >= 0.9
    """


@register(
    "dedup_ngram_containment",
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
    SELECT pairs.id1, pairs.id2, inter / least(s1.sz, s2.sz) AS containment
    FROM cand
    JOIN pairs ON cand.id1 = pairs.id1 AND cand.id2 = pairs.id2
    JOIN sizes s1 ON pairs.id1 = s1.doc_id
    JOIN sizes s2 ON pairs.id2 = s2.doc_id
    WHERE inter / least(s1.sz, s2.sz) >= 0.9
    """,
)
def dedup_ngram_containment(spark, sf_dir):
    """Shingle containment |A∩B| / min(|A|,|B|) ≥ 0.9 — catches
    substring-style near-supersets (short doc wholly inside a longer
    one scores 1.0 where Jaccard can be arbitrarily low).  Same
    df ≤ 32 capped candidate generation as dedup_ngram_jaccard
    (hot-shingle buckets never enter the pair join; surviving scores
    exact via row-local array_intersect)."""
    return ldedup.ngram_containment_pairs(
        _docs_with_dupes(spark, sf_dir), "doc_id", "text", n=3, threshold=0.9,
        min_parallelism=local_fanout(spark), max_df=32,
    )


@register(
    "tpch_q18_shape",
    f"""
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           {_dsum('o.o_totalprice', 'total_price')},
           {_dsum('l.l_quantity', 'sum_qty')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 250)
    GROUP BY 1, 2, 3, 4
    """,
)
def tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 large-volume-customer shape: semi-join against a
    HAVING-filtered aggregate, then a 3-table join + regroup.  Plan:
    the HAVING aggregate and the semi-join share the l_orderkey
    partitioning; customer join strategy is AQE-chosen (SF-scaling
    side, so no pinned hint)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        .agg(
            agg.dsum("o_totalprice", "total_price"),
            agg.dsum("l_quantity", "sum_qty"),
        )
    )


@register(
    "tpch_q5_shape",
    f"""
    SELECT n.n_name, {_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 local-supplier revenue: the 6-table join with a
    same-nation equality between two fact-side dimensions.  Plan:
    region/nation broadcast (constant-size); supplier/customer scale
    with SF so their strategy is AQE-chosen; lineitem and orders meet
    on the orderkey; the date filter pushes into the orders scan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("n_name")
        .agg(
            agg.dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register(
    "tpch_q7_shape",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 volume shipping: nation-pair disjunction across two
    broadcast copies of the nation dim, ship-date filter pushed into
    the lineitem scan, per-(pair, year) revenue.  The only shuffles
    are lineitem⋈orders on orderkey and the final 3-key agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            agg.dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@register(
    "tpch_q10_shape",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 returned-item report: the classic "top complaining
    customers" — returnflag filter pushed to the lineitem scan, date
    filter to orders, nation broadcast (customer's strategy is
    stats/AQE-chosen — it scales with SF), global top-20 with a
    deterministic key tiebreak (TakeOrdered, no full sort)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            agg.dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q4_shape",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY 1
    """,
)
def tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 order-priority check: correlated EXISTS with an
    inequality on the correlated row (ships after order date) →
    left-semi join with a compound condition.  The semi-join
    deduplicates lineitem matches BEFORE the count (no fan-out), and
    both date filters push into the scans; one orderkey shuffle plus
    the tiny 5-group agg."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q12_shape",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shipping-mode shape: conditional aggregation (pivot
    by CASE inside SUM) — both counters come out of ONE pass over the
    joined fact, not two filtered subqueries; ship-date filter pushed
    to the lineitem scan; single orderkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q16_shape",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 supplier-cnt shape: NOT IN over a subquery (the
    "complaint suppliers" exclusion) → left-anti join against the
    exclusion list (s_suppkey is non-null, so NOT IN ≡ anti-join;
    the list scales with supplier, so its broadcast is AQE-chosen,
    not pinned), then COUNT(DISTINCT) per part attribute triple —
    Spark expands the distinct into a two-phase partial/final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(
            bad_supp, li["l_suppkey"] == bad_supp["s_suppkey"], "left_anti"
        )
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q21_shape",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    """,
)
def tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 waiting-supplier shape: the double-correlated
    EXISTS / NOT-EXISTS self-join — "my line was returned, the order
    had other suppliers, and none of THEIR lines were returned".

    Plan: both correlated subqueries become self semi/anti joins on
    l_orderkey with a suppkey inequality; all three legs share one
    orderkey shuffle partitioning (no extra exchange for l3), and the
    supplier dim is broadcast.  This is the hardest TPC-H
    decorrelation shape and it stays two-shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waiting.join(supp, waiting["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "tpch_q22_shape",
    """
    WITH thr AS (
      SELECT CAST(SUM(CAST(floor(c_acctbal * 10000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 10000.0) AS avg_bal
      FROM customer WHERE c_acctbal > 0)
    SELECT c.c_mktsegment, count(*) AS numcust,
           CAST(SUM(CAST(floor(c.c_acctbal * 10000) AS BIGINT)) / 10000.0 AS DOUBLE)
             AS totacctbal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 global-sales-opportunity shape: scalar aggregate
    subquery (above-average balance threshold) + NOT EXISTS anti-join
    (customers with no urgent orders — every customer here has SOME
    order, so the faithful "no orders at all" variant is vacuous).

    Plan: the scalar average reduces to one row and broadcasts as a
    literal-like cross join (no shuffle of the fact); the threshold
    itself is a floor-scaled integer sum divided by an int count, so
    Spark and DuckDB derive the bit-identical double; the anti-join
    shuffles on custkey once."""
    cust = load_table(spark, sf_dir, "customer")
    thr = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.floor(F.col("c_acctbal") * 10000).cast("bigint")).cast(
                    "double"
                )
                / (F.count("*") * 10000.0)
            ).alias("avg_bal")
        )
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            agg.dsum("c_acctbal", "totacctbal"),
        )
    )


@register(
    "a_cube_counts",
    """
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(user_id % 4 AS VARCHAR), '<all>') AS user_bucket,
           count(*) AS n
    FROM events
    GROUP BY CUBE (event_type, user_id % 4)
    """,
)
def a_cube_counts(spark, sf_dir):
    """CUBE grouping sets — all four marginalizations in one pass
    (partial aggregation expands the grouping-set id map-side)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("user_bucket", (F.col("user_id") % 4).cast("string"))
        .cube("event_type", "user_bucket")
        .count()
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("<all>")).alias("user_bucket"),
            F.col("count").alias("n"),
        )
    )


@register(
    "w_funnel_conversion",
    """
    WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL 24 HOURS GROUP BY 1),
    s AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'signup' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL 24 HOURS GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e JOIN s USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s.t3
            AND e.ts <= s.t3 + INTERVAL 24 HOURS GROUP BY 1)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM p) AS n_purchase
    """,
)
def w_funnel_conversion(spark, sf_dir):
    """Ordered funnel conversion (view → click → signup → purchase):
    each stage is the user's FIRST qualifying event strictly after
    their previous-stage time and within a 24 h conversion window —
    the standard product-analytics funnel.

    Plan: four (user_id, min) hash aggregates chained by broadcast-
    able user-level joins; every stage shares the user_id shuffle key
    so AQE reuses one exchange per leg, and no window sort is needed
    (min-over-filter beats first-over-ordered-window at scale)."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(etype: str, prev: DataFrame | None, tcol: str, out: str):
        e = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            e = e.join(prev, "user_id").filter(
                (F.col("ts") > F.col(tcol))
                & (F.col("ts") <= F.col(tcol) + F.expr("INTERVAL 24 HOURS"))
            )
        return e.groupBy("user_id").agg(F.min("ts").alias(out))

    v = first_after("view", None, "", "t1")
    c = first_after("click", v, "t1", "t2")
    s = first_after("signup", c, "t2", "t3")
    p = first_after("purchase", s, "t3", "t4")
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(s.agg(F.count("*").alias("n_signup")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


@register(
    "a_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
      FROM events GROUP BY 1),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
      FROM events)
    SELECT f.cohort_day,
           CAST(floor(date_diff('day', f.cohort_day, a.act_week) / 7.0) AS INTEGER)
             AS weeks_since,
           count(DISTINCT a.user_id) AS active_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def a_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day,
    activity rolled to ISO weeks, counted per weeks-since-cohort — the
    standard growth-analytics rollup.  Two user_id aggregates + one
    user-keyed join (user-count-sized — strategy left to AQE); truncations and the floor'd day/7 delta are exact
    integers in both engines."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("act_week", "cohort_day") / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .groupBy("cohort_day", "weeks_since")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "dedup_edit_distance",
    """
    WITH titles AS (
      SELECT doc_id, substring(text, 1, 40) AS title FROM documents
      UNION ALL
      SELECT doc_id + 4000000, substring(text, 1, 39) || 'X'
      FROM documents WHERE doc_id % 9 = 0),
    blocked AS (
      SELECT doc_id, title, substring(title, 1, 8) AS blk FROM titles)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           levenshtein(a.title, b.title) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 3
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Edit-distance near-dup pairs over a title key (first 40 chars),
    with prefix blocking: only titles sharing their first 8 chars are
    ever compared, so candidate cost follows block occupancy, never
    n² — the same blocking discipline as the MinHash/SimHash family.
    Injected copies carry one trailing substitution (survives the
    prefix block, lands at edit distance 1).  Levenshtein is
    unit-cost identical in Spark and DuckDB.  (Local repartition:
    single-row-group parallelism floor, same as the minhash family.)"""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    titles = docs.select(
        "doc_id", F.substring("text", 1, 40).alias("title")
    ).unionAll(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"),
            F.concat(F.substring("text", 1, 39), F.lit("X")).alias("title"),
        )
    )
    blocked = titles.withColumn("blk", F.substring("title", 1, 8))
    a = blocked.select(
        F.col("doc_id").alias("id1"), F.col("title").alias("__t1"), "blk"
    )
    b = blocked.select(
        F.col("doc_id").alias("id2"), F.col("title").alias("__t2"),
        F.col("blk").alias("__blk2"),
    )
    return (
        a.join(b, (F.col("blk") == F.col("__blk2")) & (F.col("id1") < F.col("id2")))
        .withColumn("edit_dist", F.levenshtein("__t1", "__t2"))
        .filter(F.col("edit_dist") <= 3)
        .select("id1", "id2", "edit_dist")
    )


@register(
    "dedup_dup_spans",
    f"""
    WITH {_SQL_DOCS2},
    tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM docs2),
    pe AS (SELECT doc_id, tk,
                  unnest(range(1, greatest(len(tk) - {_DUPSPAN_N - 1}, 0) + 1)) AS p
           FROM tk),
    grams AS (SELECT doc_id, p - 1 AS pos, md5({_SQL_GRAM8}) AS gh FROM pe),
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
            FROM hits)
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + {_DUPSPAN_N - 1} AS span_end,
           max(pos) - min(pos) + {_DUPSPAN_N} AS span_tokens
    FROM isl GROUP BY doc_id, isl
    """,
)
def dedup_dup_spans(spark, sf_dir):
    """Duplicated-substring spans at 8-gram granularity (the Lee et
    al. training-data dedup primitive, relational formulation): every
    maximal token range whose 8-grams also appear in another document.
    Tokenize-once posexplode + lead-window grams, one md5-keyed
    shuffle for the cross-doc dup set, gaps-and-islands merge."""
    return ldedup.duplicated_spans(
        _docs_with_dupes(spark, sf_dir),
        "doc_id",
        "text",
        n=_DUPSPAN_N,
        min_parallelism=local_fanout(spark),
    )


# ---------------------------------------------------------------------------
# Batch 9 — LLM-pipeline depth: product-quantization ANN
# ---------------------------------------------------------------------------

def _pq_oracle(
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    n_queries: int = 10,
    topk: int = 3,
    ivf_cells: int | None = None,
) -> str:
    """DuckDB replay of PQ train(1 k-means round per subspace) →
    encode → ADC top-k (llm/pq.py), identical floor-scaled ints.
    With ``ivf_cells``, ADC scoring is restricted to (query, vector)
    pairs sharing a max-dot seed-centroid cell — the IVF-PQ
    composition (coarse quantizer from ann_ivf_topk)."""
    ctes = [
        "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE embedding IS NOT NULL)"
    ]
    if ivf_cells:
        ctes.append(
            f"cents AS (SELECT vec_id AS cid0, v FROM base WHERE vec_id < {ivf_cells})"
        )
        ctes.append(
            f"""cellscore AS (
      SELECT a.vec_id, b.cid0, {_SQL_DOT} AS dp
      FROM base a CROSS JOIN (SELECT cid0, v FROM cents) b)"""
        )
        ctes.append(
            """cell AS (
      SELECT vec_id, cid0 AS cell FROM (
        SELECT vec_id, cid0,
               row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid0) AS rn
        FROM cellscore) t WHERE rn = 1)"""
        )
    for s in range(m):
        lo, hi = 1 + s * sub_dim, (s + 1) * sub_dim
        ctes.append(f"sub{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM base)")
        ctes.append(
            f"c{s}0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v"
            f" FROM sub{s} WHERE vec_id < {k})"
        )
        ctes.append(f"a{s}0 AS ({_kmeans_assign_sql(f'sub{s}', f'c{s}0')})")
        ctes.append(f"c{s}1 AS ({_kmeans_mean_sql(f'a{s}0')})")
        ctes.append(
            f"""code{s} AS (
      SELECT vec_id, {s} AS sub, (list(cid ORDER BY d, cid))[1] AS code FROM (
        SELECT e.vec_id, c.cid, {_sql_dist2('e', 'c')} AS d
        FROM sub{s} e CROSS JOIN c{s}1 c) t
      GROUP BY vec_id)"""
        )
    codes_u = " UNION ALL ".join(f"SELECT * FROM code{s}" for s in range(m))
    cb_u = " UNION ALL ".join(
        f"SELECT {s} AS sub, cid AS code, v FROM c{s}1" for s in range(m)
    )
    qsub_u = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, {s} AS sub, v[{1 + s * sub_dim}:{(s + 1) * sub_dim}] AS v"
        f" FROM base WHERE vec_id < {n_queries}"
        for s in range(m)
    )
    ctes.append(f"codes AS ({codes_u})")
    ctes.append(f"cb AS ({cb_u})")
    ctes.append(f"qsub AS ({qsub_u})")
    ctes.append(
        f"""lut AS (
      SELECT q.query_id, q.sub, c.code, {_sql_dist2('q', 'c')} AS d_i
      FROM qsub q JOIN cb c ON q.sub = c.sub)"""
    )
    if ivf_cells:
        ctes.append(
            """scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, cc.cell,
             CAST(SUM(l.d_i) AS BIGINT) AS adc_i
      FROM codes c
      JOIN cell cc ON cc.vec_id = c.vec_id
      JOIN lut l ON l.sub = c.sub AND l.code = c.code AND l.query_id <> c.vec_id
      JOIN cell qc ON qc.vec_id = l.query_id AND qc.cell = cc.cell
      GROUP BY 1, 2, 3)"""
        )
    else:
        ctes.append(
            """scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(l.d_i) AS BIGINT) AS adc_i
      FROM codes c
      JOIN lut l ON l.sub = c.sub AND l.code = c.code AND l.query_id <> c.vec_id
      GROUP BY 1, 2)"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, CAST(adc_i AS DOUBLE) / 1e12 AS adc_dist,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_i, neighbor_id) AS rank
      FROM scored) t
    WHERE rank <= {topk}
    """


@register("ann_pq_topk", _pq_oracle())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: 4 subspaces × 16 dims, 8-codeword
    deterministic k-means codebooks (1 round), asymmetric-distance
    top-3 per query.

    The scale story (llm/pq.py): the corpus side of the search is the
    CODE table (m small ints per vector, a >100× shrink vs raw
    floats); distances come from a broadcast (query × m × k) lookup
    table, so scoring is a map-side hash-join + one additive
    groupBy(query, vector) sum — no pairwise vector math, no shuffle
    of the embedding column at all.  The oracle replays training,
    encoding, and search bit-for-bit via floor-scaled integers."""
    from dicomdb_spark.llm import pq

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    books = pq.train_codebooks(emb, "vec_id", "v", m=4, sub_dim=16, k=8, iters=1)
    codes = pq.encode(emb, books, "vec_id", "v", sub_dim=16)
    lut = pq.adc_lut(
        spark, emb.filter(F.col("vec_id") < 10), books, "vec_id", "v", sub_dim=16
    )
    return pq.pq_topk(codes, lut, topk=3)


@register(
    "dedup_url_domain",
    """
    WITH u AS (
      SELECT doc_id, n_chars,
             'https://' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/d/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    d AS (SELECT doc_id, n_chars,
                 regexp_extract(url, 'https?://([^/]+)/', 1) AS domain FROM u)
    SELECT doc_id, domain, CAST(rank AS INTEGER) AS rank, rank <= 3 AS kept
    FROM (SELECT *, row_number() OVER (PARTITION BY domain
                    ORDER BY n_chars DESC, doc_id) AS rank FROM d) t
    """,
)
def dedup_url_domain(spark, sf_dir):
    """Per-domain document cap — the web-corpus quota pass (a few
    domains dominate any crawl).  URLs are synthesized
    deterministically (testdata has none), the host is regexp-carved
    out, and each domain keeps its top-3 documents by quality with a
    unique-id tiebreak (llm/corpus.py: domain_cap).  The window sort
    is per-domain, never global."""
    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return lcorpus.domain_cap(u, "url", "doc_id", "n_chars", cap=3)


@register(
    "corpus_dsir_sample",
    f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_t,
             ((strpos('0123456789abcdef', substr(md5(t.tok), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(t.tok), 2, 1)) - 1) % 64 AS b
      FROM documents, unnest({_SQL_TOKS}) AS t(tok)),
    stats AS (
      SELECT b, count(*) AS cnt_r,
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
      FROM tok GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt_r) AS BIGINT) AS n_r,
                   CAST(SUM(cnt_t) AS BIGINT) AS n_t FROM stats),
    ratio AS (
      SELECT b,
             CAST(floor(((CAST(cnt_t + 1 AS DOUBLE) * CAST(n_r + 64 AS DOUBLE))
                         / (CAST(cnt_r + 1 AS DOUBLE) * CAST(n_t + 64 AS DOUBLE)))
                        * 10000) AS BIGINT) AS r_i
      FROM stats, tot)
    SELECT doc_id, count(*) AS n_toks,
           CAST(SUM(r_i) AS DOUBLE) / (count(*) * 10000.0) AS dsir_score,
           CAST(SUM(r_i) AS DOUBLE) / (count(*) * 10000.0) > 1.0 AS selected
    FROM tok JOIN ratio USING (b) GROUP BY doc_id
    """,
)
def corpus_dsir_sample(spark, sf_dir):
    """DSIR-style data selection (hashed-unigram importance
    resampling): 64 md5 feature buckets, smoothed target/raw frequency
    ratios (target = English docs), per-doc mean ratio as the
    importance score (llm/corpus.py: dsir_weights).

    Scale shape: token explode → two 64-row aggregates → broadcast
    the 64-row ratio table back onto the token stream → one doc
    aggregate.  Constant-size model state; ratios floor-scaled from
    exact integer counts so scores are engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return lcorpus.dsir_weights(
        docs,
        F.col("lang") == "en",
        "text",
        "doc_id",
        64,
        min_parallelism=local_fanout(spark),
    )


@register(
    "text_bigram_lm_score",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i.i] || ' ' || tk[i.i + 1] AS bg
      FROM tk CROSS JOIN unnest(range(1, greatest(len(tk) - 1, 0) + 1)) i(i)),
    model AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(SUM(c) AS DOUBLE) / count(*) AS avg_bigram_freq,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS hapax_frac
    FROM bg JOIN model USING (bg) GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM quality score (CCNet-style "how
    typical is this document under a corpus LM", with exact frequency
    averages instead of transcendental log-perplexity): per doc the
    mean corpus frequency of its token bigrams plus the hapax
    fraction (llm/corpus.py: bigram_lm_scores).  Tokenize once,
    row-local zip for adjacent pairs, one bigram-keyed count, one
    join back.  (Local repartition: single-row-group parallelism
    floor, same as the minhash family.)"""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return lcorpus.bigram_lm_scores(docs, "text", "doc_id")


def _pagerank_oracle() -> str:
    from dicomdb_spark.operators.graph import pagerank_oracle_ctes

    ctes, final = pagerank_oracle_ctes("edges", iters=3, damping=0.85)
    return f"""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT c AS src, 1000000 + s AS dst FROM e0
              UNION ALL SELECT 1000000 + s AS src, c AS dst FROM e0),
    {ctes}
    SELECT node, CAST(r AS DOUBLE) / 1000000000000.0 AS pr,
           CAST(pos AS INTEGER) AS pos
    FROM (SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS pos
          FROM {final}) t
    WHERE pos <= 20
    """


@register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Deterministic PageRank (3 rounds, damping 0.85) over the
    undirected customer↔supplier purchase graph (distinct
    (custkey, suppkey) pairs through orders⋈lineitem; supplier ids
    offset by 1e6 into the shared node space); top-20 nodes.

    The second iterative-algorithm shape after k-means: each round is
    a rank⋈edges join on src + one groupBy(dst) contribution sum + a
    left join back onto the nodes — the loop composes DataFrames only,
    nothing crosses the driver.  Floor-scaled int64 ranks make all
    three rounds bit-replayable in SQL (operators/graph.py).

    broadcast_ranks=True because this node space is dimension-bounded
    (customers + suppliers ≪ purchase edges): the cached edge list
    never shuffles and each round is one map-side join + one
    contribution agg (see graph.pagerank)."""
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
    r = graph.pagerank(edges, iters=3, damping=0.85, broadcast_ranks=True)
    # top-20 via distributed TakeOrdered; the pos window then runs on
    # a LIMIT(20) result — bounded by construction
    w = Window.orderBy(F.col("r").desc(), F.col("node"))
    return (
        r.orderBy(F.col("r").desc(), F.col("node"))
        .limit(20)
        .withColumn("pos", F.row_number().over(w))
        .select(
            "node",
            (F.col("r").cast("double") / 1e12).alias("pr"),
            "pos",
        )
    )


@register(
    "w_anomaly_zscore",
    """
    WITH v AS (
      SELECT event_id, event_type, ts, value,
             CAST(floor(value * 10000) AS BIGINT) AS vi
      FROM events),
    w AS (
      SELECT event_id, event_type, value, vi,
             CAST(SUM(vi) OVER win AS BIGINT) AS sx,
             CAST(SUM(vi * vi) OVER win AS BIGINT) AS sxx,
             count(*) OVER win AS n
      FROM v
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_id, event_type, value,
             CASE WHEN (CAST(sxx AS DOUBLE) / n)
                       - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) > 0
                  THEN (CAST(vi AS DOUBLE) - CAST(sx AS DOUBLE) / n)
                       / sqrt((CAST(sxx AS DOUBLE) / n)
                              - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
             END AS zscore
      FROM w)
    SELECT event_id, event_type, value, zscore,
           coalesce(abs(zscore) > 2.5, false) AS is_anomaly
    FROM z
    """,
)
def w_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection: each event scored against
    the mean/std of its event-type's trailing 20 events (unique
    (ts, event_id) frame ordering).

    Determinism: the rolling sums are floor-scaled int64 (Σvi, Σvi²),
    so mean/variance are ratios of exact integers and the z-score is
    a chain of IEEE-identical double ops (sqrt is correctly rounded
    per IEEE-754) — partition- and engine-invariant.  Plan: ONE
    window over one event-type shuffle, all three rolling aggregates
    share the frame; zero-variance windows yield NULL score."""
    ev = load_table(spark, sf_dir, "events")
    vi = F.floor(F.col("value") * 10000).cast("long")
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    w = ev.select(
        "event_id",
        "event_type",
        "value",
        vi.alias("vi"),
        F.sum(vi).over(win).alias("sx"),
        F.sum(vi * vi).over(win).alias("sxx"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = F.col("sxx").cast("double") / F.col("n") - mean * mean
    z = F.when(var > 0, (F.col("vi").cast("double") - mean) / F.sqrt(var))
    return w.select(
        "event_id",
        "event_type",
        "value",
        z.alias("zscore"),
        F.coalesce(F.abs(z) > 2.5, F.lit(False)).alias("is_anomaly"),
    )


def _kmv_oracle() -> str:
    from dicomdb_spark.functions.sketches import kmv_oracle

    return kmv_oracle(
        "t.sh",
        f"""(SELECT lang, unnest(list_transform(
               range(1, greatest(len(tk) - 2, 0) + 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
             FROM (SELECT lang, {_SQL_TOKS} AS tk FROM documents) d) t""",
        "t.lang",
        k=256,
    ).replace("SELECT s.g,", "SELECT s.g AS lang,")


@register("sketch_kmv_distinct", _kmv_oracle())
def sketch_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-shingle cardinality per language, next
    to the exact count.  HLL++ (approx_count_distinct) is the
    production default but not oracle-replayable; KMV gives the same
    constant-state, one-pass, partition-mergeable scale story from
    pure md5 arithmetic (functions/sketches.py).  3-gram shingles
    give thousands of distinct items per group, so the k-th-minimum
    estimator branch actually fires (the tiny-vocab token stream
    would always take the exact-count fallback)."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "lang", F.explode(text.shingles("text", 3)).alias("sh")
    )
    return sketches.kmv_distinct(sh, "lang", "sh", k=256)


def _hll_oracle() -> str:
    from dicomdb_spark.functions.sketches import hll_oracle

    return hll_oracle(
        "t.sh",
        f"""(SELECT lang, unnest(list_transform(
               range(1, greatest(len(tk) - 2, 0) + 1),
               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS sh
             FROM (SELECT lang, {_SQL_TOKS} AS tk FROM documents) d) t""",
        "t.lang",
        p=8,
    ).replace("SELECT e.g,", "SELECT e.g AS lang,")


@register("sketch_hll_distinct", _hll_oracle())
def sketch_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-shingle cardinality per
    language, next to the exact count and KMV (sketch_kmv_distinct):
    256 md5-addressed registers, hex-string ρ extraction, exact-int
    harmonic sum, one portable division (functions/sketches.py:
    hll_distinct).  Constant 2^p-register state per group — the
    textbook 100 TB cardinality sketch — while staying bit-replayable
    where Spark's built-in HLL++ register layout is engine-private."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select("lang", F.explode(text.shingles("text", 3)).alias("sh"))
    return sketches.hll_distinct(sh, "lang", "sh", p=8)


def _cms_oracle(depth: int = 4, width_chars: int = 2, topn: int = 20) -> str:
    from dicomdb_spark.functions.sketches import sql_cms_col

    col_of = lambda item: sql_cms_col(item, "d.d", width_chars)  # noqa: E731
    return f"""
    WITH tok AS (SELECT unnest({_SQL_TOKS}) AS item FROM documents),
    rows_ AS (SELECT unnest(range(0, {depth})) AS d),
    cms AS (
      SELECT d.d, {col_of('e.item')} AS col, count(*) AS c
      FROM tok e CROSS JOIN rows_ d GROUP BY 1, 2),
    truec AS (SELECT item, count(*) AS true_c FROM tok GROUP BY 1),
    top AS (SELECT item, true_c FROM (
      SELECT *, row_number() OVER (ORDER BY true_c DESC, item) AS rn FROM truec) t
      WHERE rn <= {topn}),
    pe AS (SELECT t.item, t.true_c, d.d, {col_of('t.item')} AS col
           FROM top t CROSS JOIN rows_ d)
    SELECT pe.item, pe.true_c, CAST(min(cms.c) AS BIGINT) AS est_c
    FROM pe JOIN cms ON cms.d = pe.d AND cms.col = pe.col
    GROUP BY 1, 2
    """


@register("sketch_count_min", _cms_oracle())
def sketch_count_min(spark, sf_dir):
    """Count-min heavy-hitter estimates: a 4×256 salted-md5 counter
    table over the token stream, point estimates (min over rows,
    always ≥ truth) for the top-20 true-frequency tokens
    (functions/sketches.py).  The sketch IS a 1024-row DataFrame —
    the groupBy that builds it is the merge, and estimation joins it
    as a broadcast.  At 100 TB the counter table size is constant
    regardless of corpus size."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
            "item"
        )
    )
    sketch = sketches.count_min(toks, "item", depth=4, width_chars=2)
    true_c = toks.groupBy("item").agg(F.count("*").alias("true_c"))
    # top-20 via distributed TakeOrdered (per-partition heaps), never
    # a single-partition row_number over the vocabulary
    top = true_c.orderBy(F.col("true_c").desc(), F.col("item")).limit(20)
    est = sketches.count_min_estimate(
        sketch, top.select("item"), "item", depth=4, width_chars=2
    )
    return top.join(est, "item").select("item", "true_c", "est_c")


def _bloom_oracle(m_bits: int = 4096, k_hashes: int = 3) -> str:
    from dicomdb_spark.functions.sketches import sql_hex_int

    pos_of = lambda key: (  # noqa: E731
        sql_hex_int(f"md5(CAST(s.s AS VARCHAR) || '#' || CAST({key} AS VARCHAR))", 8)
        + f" % {m_bits}"
    )
    return f"""
    WITH build AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'),
    salts AS (SELECT unnest(range(0, {k_hashes})) AS s),
    bits AS (
      SELECT DISTINCT {pos_of('b.key')} AS pos
      FROM build b CROSS JOIN salts s),
    probe AS (SELECT c_custkey AS key, c_mktsegment FROM customer),
    hits AS (
      SELECT p.key, count(*) AS n_hit
      FROM (SELECT key, {pos_of('p0.key')} AS pos
            FROM probe p0 CROSS JOIN salts s) p
      JOIN bits ON bits.pos = p.pos
      GROUP BY 1),
    flags AS (
      SELECT p.key, p.c_mktsegment,
             coalesce(h.n_hit, 0) = {k_hashes} AS bloom_pass,
             EXISTS(SELECT 1 FROM build b WHERE b.key = p.key) AS is_true
      FROM probe p LEFT JOIN hits h ON h.key = p.key)
    SELECT c_mktsegment, count(*) AS n_probe,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flags GROUP BY 1
    """


@register("sketch_bloom_join", _bloom_oracle())
def sketch_bloom_join(spark, sf_dir):
    """Bloom-filter join pre-filter: build a 4096-bit / 3-hash bloom
    over the urgent-order customer keys, probe every customer, count
    per-segment pass/true/false-positive rates against the exact semi
    join (functions/sketches.py: bloom_bits / bloom_probe).

    This is the runtime-join-filter shape engines use to cut probe-
    side shuffle volume: the bit table is ≤ 4096 rows and broadcasts;
    the probe side never shuffles for the membership test; no false
    negatives by construction.  All positions are salted md5, so both
    engines set and test the identical bits."""
    from dicomdb_spark.functions import sketches

    # dedupe the build keys ONCE and share the distinct set between the
    # bit build and the exact-truth side: the pre-r13 form hashed every
    # raw urgent order row (≈6× the distinct keys) and paid a second
    # distinct shuffle for the truth set (r13 optimization, guide §2.3)
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .transform(_fanout(spark))
        .distinct()
        .persist()  # TWO consumers (bit build + exact truth): one scan
    )
    bits = sketches.bloom_bits(urgent, "o_custkey", m_bits=4096, k_hashes=3)
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .transform(_fanout(spark))
    )
    probed = sketches.bloom_probe(cust, bits, "c_custkey", m_bits=4096, k_hashes=3)
    truth = urgent.select(
        F.col("o_custkey").alias("c_custkey"), F.lit(True).alias("is_true")
    )
    flags = probed.join(truth, "c_custkey", "left").select(
        "c_mktsegment",
        "bloom_pass",
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
    )
    return flags.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_true"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


@register(
    "w_rank_family",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ntile(10) OVER w AS INTEGER) AS decile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def w_rank_family(spark, sf_dir):
    """The rank-function family in one pass: ntile deciles,
    percent_rank, cume_dist, rank, dense_rank over a unique
    (totalprice, orderkey) ordering — five ranking outputs sharing ONE
    window sort (one o_orderstatus shuffle).  percent_rank/cume_dist
    are ratios of integer positions, so they are exactly reproducible;
    the unique tiebreak makes every output deterministic."""
    ev = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return ev.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "w_forward_fill",
    """
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type <> 'error' THEN value END AS reading
      FROM events)
    SELECT event_id, user_id, reading,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM g
    """,
)
def w_forward_fill(spark, sf_dir):
    """Forward-fill (last-observation-carried-forward) gap filling:
    error events null their reading, then each user's series carries
    the last non-null value forward (IGNORE NULLS last_value over a
    unique (ts, event_id) ordering).  The time-series repair primitive
    — one per-user window, one shuffle, no self-join; leading nulls
    stay null in both engines."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "event_id",
        "user_id",
        "reading",
        F.last("reading", ignorenulls=True).over(w).alias("filled"),
    )


@register(
    "a_string_agg",
    """
    WITH d AS (
      SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS VARCHAR) AS nk
      FROM customer)
    SELECT c_mktsegment, string_agg(nk, ',' ORDER BY nk) AS nations,
           count(*) AS n_distinct
    FROM d GROUP BY 1
    """,
)
def a_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG): distinct nation keys per
    segment joined into one deterministic comma string.  collect_list
    is ordering-nondeterministic under shuffles, so the engine sorts
    the collected array BEFORE joining — emitting a scalar string
    keeps the driver canonicalizer happy (no array cells) and the
    ORDER BY inside DuckDB's string_agg mirrors it exactly."""
    cust = load_table(spark, sf_dir, "customer")
    d = cust.select(
        "c_mktsegment", F.col("c_nationkey").cast("string").alias("nk")
    ).distinct()
    return d.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_list("nk")), ",").alias("nations"),
        F.count("*").alias("n_distinct"),
    )


@register(
    "sketch_hist_quantiles",
    """
    WITH st AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx,
             count(*) AS n
      FROM orders),
    b AS (
      SELECT least(CAST(floor((o_totalprice - st.mn)
                              / ((st.mx - st.mn) / 128)) AS BIGINT),
                   127) AS bin
      FROM orders, st),
    h AS (
      SELECT bin, count(*) AS cnt,
             CAST(SUM(count(*)) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM b GROUP BY bin),
    tg AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                          CAST(0.99 AS DOUBLE)]) AS q),
    pick AS (
      SELECT tg.q, min(h.bin) AS bin
      FROM tg JOIN h ON h.cum >= CAST(ceil(tg.q * (SELECT n FROM st)) AS BIGINT)
      GROUP BY 1),
    est AS (
      SELECT p.q,
             st.mn + ((st.mx - st.mn) / 128) * (p.bin
               + (CAST(ceil(p.q * st.n) AS BIGINT) - (h.cum - h.cnt))
                 / CAST(h.cnt AS DOUBLE)) AS est
      FROM pick p JOIN h ON h.bin = p.bin CROSS JOIN st),
    ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders),
    exact AS (
      SELECT tg.q, r.o_totalprice AS exact_val
      FROM tg JOIN ranked r
        ON r.rn = CAST(ceil(tg.q * (SELECT n FROM st)) AS BIGINT))
    SELECT e.q, e.est, x.exact_val
    FROM est e JOIN exact x ON x.q = e.q
    """,
)
def sketch_hist_quantiles(spark, sf_dir):
    """Histogram quantile sketch (the t-digest/GK role, made
    deterministic): 128 equal-width bins over o_totalprice, cumulative
    counts, within-bin linear interpolation for p50/p90/p99 — shown
    next to the exact order-statistic for error visibility.

    Scale story: the sketch is ONE groupBy(bin) of at most 128 rows —
    constant state, partition-mergeable, no global sort of the data
    (the exact column here is the verification reference; at 100 TB
    you'd keep only the histogram).  All estimates are ratios/affine
    maps of exact integer counts over IEEE-identical bin math."""
    orders = load_table(spark, sf_dir, "orders")
    st = orders.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count("*").alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / 128
    b = orders.crossJoin(F.broadcast(st)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("long"),
            F.lit(127),
        ).alias("bin")
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    h = (
        b.groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    )
    tg = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    pick = (
        F.broadcast(tg)
        .crossJoin(F.broadcast(st))
        .join(h, h["cum"] >= target)
        .groupBy("q", "n", "mn", "mx")
        .agg(F.min("bin").alias("bin"))
    )
    est = pick.join(h, "bin").select(
        "q",
        (
            F.col("mn")
            + ((F.col("mx") - F.col("mn")) / 128)
            * (
                F.col("bin")
                + (
                    F.ceil(F.col("q") * F.col("n")).cast("long")
                    - (F.col("cum") - F.col("cnt"))
                )
                / F.col("cnt").cast("double")
            )
        ).alias("est"),
    )
    # exact-rank verification side, DISTRIBUTED: the same 128-bin
    # affine map is monotone in o_totalprice, so it serves as the
    # range bucket for ow.bucketed_running — per-bin offsets + a
    # partitioned row_number instead of sorting the raw fact table on
    # one task (each task sorts ~n/128 rows)
    rb = orders.crossJoin(F.broadcast(st)).select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast(
                    "long"
                ),
                F.lit(127),
            )
        )
        .cast("int")
        .alias("__bkt"),
    )
    ranked = ow.bucketed_running(
        rb, order_cols=["o_totalprice", "o_orderkey"], rn_col="rn"
    ).select("o_totalprice", "rn")
    exact = (
        F.broadcast(tg)
        .crossJoin(F.broadcast(st))
        .join(
            ranked,
            ranked["rn"] == F.ceil(F.col("q") * F.col("n")).cast("long"),
        )
        .select("q", F.col("o_totalprice").alias("exact_val"))
    )
    return est.join(exact, "q").select("q", "est", "exact_val")


@register(
    "a_grouping_sets",
    """
    WITH b AS (SELECT event_type, user_id % 3 AS bucket_raw FROM events)
    SELECT coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(bucket_raw AS VARCHAR), '<all>') AS bucket,
           CAST(GROUPING(event_type) * 2 + GROUPING(bucket_raw) AS INTEGER)
             AS gid,
           count(*) AS n
    FROM b
    GROUP BY GROUPING SETS ((event_type), (bucket_raw),
                            (event_type, bucket_raw), ())
    """,
)
def a_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond CUBE/ROLLUP): four chosen
    marginalizations in ONE pass with a grouping-bit id to
    disambiguate which NULLs are structural — map-side the grouping-
    set id expands each row once per set, so partial aggregation
    still applies.  The DataFrame API only exposes cube/rollup;
    arbitrary sets go through the SQL surface, same Catalyst plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 3).alias("bucket_raw")
    )
    ev.createOrReplaceTempView("__gs_events")
    return spark.sql(
        """
        SELECT coalesce(event_type, '<all>') AS event_type,
               coalesce(CAST(bucket_raw AS STRING), '<all>') AS bucket,
               CAST(grouping(event_type) * 2 + grouping(bucket_raw) AS INT)
                 AS gid,
               count(*) AS n
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), (bucket_raw),
                                (event_type, bucket_raw), ())
        """
    )


@register(
    "j13_skew_salted_join",
    f"""
    WITH f AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id % 50 END
               AS skew_key,
             value
      FROM events),
    dim AS (SELECT DISTINCT skew_key,
                   'grp_' || CAST(skew_key AS VARCHAR) AS label FROM f)
    SELECT label, count(*) AS n, {_dsum('f.value', 'sum_value')}
    FROM f JOIN dim USING (skew_key)
    GROUP BY 1
    """,
)
def j13_skew_salted_join(spark, sf_dir):
    """Skew-mitigated join: ~70 % of the fact rows share one hot key
    (the classic power-law reducer killer), joined through
    operators/skew.replicated_salted_join — fact side salted 8 ways,
    dim side replicated, co-keyed on (key, salt) so the hot key's rows
    spread over 8 reducers instead of one straggler.

    The ORACLE is the PLAIN join: salting must be semantically
    invisible, and the hash match proves it.  Salts are xxhash64-
    deterministic (retry- and partitioning-safe, no RNG)."""
    from dicomdb_spark.operators.skew import replicated_salted_join

    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id") % 50)
        .alias("skew_key"),
        "value",
    )
    dim = (
        f.select("skew_key")
        .distinct()
        .withColumn(
            "label", F.concat(F.lit("grp_"), F.col("skew_key").cast("string"))
        )
    )
    j = replicated_salted_join(f, dim, ["skew_key"], salts=8)
    return j.groupBy("label").agg(
        F.count("*").alias("n"), agg.dsum("value", "sum_value")
    )


@register(
    "scd_point_in_time",
    """
    WITH snap1 AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 <> 3)
    SELECT s.*, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
           CASE WHEN s.c_custkey % 7 = 0
                THEN TIMESTAMP '2024-02-01 00:00:00' END AS valid_to
    FROM snap1 s
    """,
)
def scd_point_in_time(spark, sf_dir):
    """Temporal AS-OF lookup over the SCD2 history: the state of every
    entity at 2024-01-15 (between the two applied snapshots) — rows
    whose validity interval covers the timestamp.  The engine RUNS the
    two-batch SCD2 algorithm then filters; the oracle states the spec
    directly (all snap1 rows were active then: later-changed entities
    carry their future close timestamp, batch-2 arrivals are absent).
    Completes the CDC pattern: scd2_history maintains, this reads."""
    ts = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    h = scd2_history(spark, sf_dir)
    return h.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )


_BM25_TERMS = ("table", "spark", "hash")


@register(
    "text_bm25_topk",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(len(tk)) AS BIGINT) AS total_dl FROM tk),
    q AS (SELECT unnest({list(_BM25_TERMS)!r}) AS term),
    tf AS (
      SELECT doc_id, len(tk) AS dl, term,
             len(list_filter(tk, t -> t = term)) AS tf
      FROM tk CROSS JOIN q),
    dfreq AS (
      SELECT term, CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
      FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(floor(
               ((s.n - d.df + 0.5) / (d.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                                / (CAST(s.total_dl AS DOUBLE) / s.n)))
               * 1e9) AS BIGINT)) AS BIGINT) AS score_i,
             CAST(SUM(CASE WHEN t.tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_terms
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN st s
      WHERE t.tf > 0
      GROUP BY 1)
    SELECT doc_id, CAST(score_i AS DOUBLE) / 1e9 AS score, n_terms
    FROM (SELECT *, row_number() OVER (ORDER BY score_i DESC, doc_id) AS rn
          FROM scored) z
    WHERE rn <= 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25-shaped lexical retrieval (k1=1.2, b=0.75) for a fixed
    3-term query, top-10 documents.  The idf factor uses the rational
    surrogate (N−df+0.5)/(df+0.5) — the monotone core of BM25's
    log-idf — because ln() is not correctly-rounded-guaranteed across
    engines; per-term scores floor-scale to int64 BEFORE the per-doc
    sum so the 3-term addition is order-independent.

    Plan: tokenize once, per-term tf via row-local array filters (the
    query is a tiny broadcast explode), one df aggregate (|terms|
    rows), broadcast stats, one doc aggregate + a distributed
    TakeOrdered top-10 — the corpus shuffles only for the final
    per-doc sum; no task ever sees more than its partition's top 10."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.transform(text.tokens("text"), lambda t: F.lower(t))
    tk = docs.select("doc_id", toks.alias("tk"))
    st = tk.agg(
        F.count("*").alias("n"), F.sum(F.size("tk")).alias("total_dl")
    )
    tf = tk.select(
        "doc_id",
        F.size("tk").alias("dl"),
        "tk",
    ).select(
        "doc_id",
        "dl",
        F.explode(F.array(*[F.lit(t) for t in _BM25_TERMS])).alias("term"),
        "tk",
    ).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter(F.col("tk"), lambda t: t == F.col("term"))).alias("tf"),
    )
    dfreq = tf.groupBy("term").agg(
        F.sum(F.when(F.col("tf") > 0, 1).otherwise(0)).alias("df")
    )
    hits = (
        tf.filter(F.col("tf") > 0)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(st))
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n")
    term_score = (
        ((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    scored = (
        hits.select(
            "doc_id",
            F.floor(term_score * 1e9).cast("long").alias("si"),
            F.when(F.col("tf") > 0, 1).otherwise(0).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.sum("si").alias("score_i"), F.sum("hit").alias("n_terms"))
    )
    # global top-k: orderBy().limit() plans as distributed TakeOrdered
    # (per-partition top-10 heaps + a 10-row driver merge) — never the
    # single-partition row_number window the oracle SQL spells
    return (
        scored.orderBy(F.col("score_i").desc(), F.col("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            (F.col("score_i").cast("double") / 1e9).alias("score"),
            "n_terms",
        )
    )


# ---------------------------------------------------------------------------
# Batch 8 — TPC-H completion: the 11 query shapes not yet covered
# (q2 q6 q8 q9 q11 q13 q14 q15 q17 q19 q20), adapted to the star schema
# (no partsupp table: lineitem doubles as the part↔supplier link, with
# unit price min(l_extendedprice / l_quantity) standing in for
# ps_supplycost).  With batch 7 this is all 22 TPC-H shapes.
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_shape",
    f"""
    SELECT {_dsum('l_extendedprice * l_discount', 'revenue')},
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 forecasting-revenue-change: pure filter + global
    aggregate, zero joins.  Every predicate (ship-date range, discount
    band, quantity cap) reaches the parquet scan as a pushed filter;
    the aggregate is a map-side partial + 1-row exchange — the minimal
    possible plan, and the classic pushdown litmus test."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            agg.dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q13_shape",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1)
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY 1
    """,
)
def tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 customer-order distribution: LEFT OUTER join with a
    join-side residual predicate (NOT a WHERE — customers with zero
    surviving orders must appear with c_count=0), then a two-level
    aggregate.  count(o_orderkey) counts only matched rows — the
    null-skipping COUNT(col) semantics the outer join relies on.
    Plan: one custkey shuffle for join+first agg (same key, single
    exchange), then a tiny distribution agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q14_shape",
    f"""
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_revenue_pct,
           CAST(total AS DOUBLE) AS total_revenue
    FROM (
      SELECT SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000)
                                AS BIGINT) ELSE 0 END) AS promo_i,
             SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000)
                      AS BIGINT)) AS total_i,
             CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000)
                                AS BIGINT) ELSE 0 END) AS DOUBLE) / 10000.0 AS promo,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000)
                      AS BIGINT)) AS DOUBLE) / 10000.0 AS total
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
    """,
)
def tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 promotion-revenue share: conditional aggregate ratio
    (promo revenue / total revenue) out of ONE pass over the month's
    lineitem joined to part (strategy stats/AQE-chosen).  Both sums are
    floor-scaled exact integers, so the final double division is
    bit-identical across engines and partitionings."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    agged = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev_i).otherwise(F.lit(0))).alias(
                "promo_i"
            ),
            F.sum(rev_i).alias("total_i"),
        )
    )
    return agged.select(
        (
            100.0
            * (F.col("promo_i").cast("double") / 10000.0)
            / (F.col("total_i").cast("double") / 10000.0)
        ).alias("promo_revenue_pct"),
        (F.col("total_i").cast("double") / 10000.0).alias("total_revenue"),
    )


_Q15_REV_SQL = """
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev_i
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1"""


@register(
    "tpch_q15_shape",
    f"""
    WITH revenue AS ({_Q15_REV_SQL}),
    top AS (SELECT max(rev_i) AS max_i FROM revenue)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_i AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier s, revenue r, top t
    WHERE s.s_suppkey = r.supplier_no AND r.rev_i = t.max_i
    """,
)
def tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 top supplier: aggregate view + scalar-max subquery +
    equality join back on the aggregate value.  The revenue aggregate
    is an exact integer, so the max-equality match is safe (no
    double==double comparison); the 1-row max broadcasts (pinned —
    provably bounded); the supplier join strategy is AQE-chosen."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                ).cast("long")
            ).alias("rev_i")
        )
    )
    top = revenue.agg(F.max("rev_i").alias("max_i"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("rev_i") == F.col("max_i"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_i").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "tpch_q17_shape",
    f"""
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(floor(l_quantity * 10000) AS BIGINT)) AS DOUBLE)
               / (count(*) * 10000.0) AS avg_qty
      FROM lineitem GROUP BY 1)
    SELECT CAST(SUM(CAST(floor(l.l_extendedprice * 10000) AS BIGINT)) AS DOUBLE)
             / (10000.0 * 7.0) AS avg_yearly,
           count(*) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
)
def tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue: correlated per-part AVG
    subquery decorrelated into a groupBy + join back onto the fact.
    The per-part average is exact-int / count, so the 0.2·avg
    threshold compare is bit-identical; the brand-filtered part join
    strategy is stats/AQE-chosen (part scales with SF); one partkey
    shuffle for the avg, one for the join (AQE coalesces the tiny agg
    side)."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (
            F.sum(F.floor(F.col("l_quantity") * 10000).cast("long")).cast("double")
            / (F.count("*") * 10000.0)
        ).alias("avg_qty")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(part_avg.withColumnRenamed("l_partkey", "pa_key"),
              F.col("l_partkey") == F.col("pa_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long")).cast(
                    "double"
                )
                / (10000.0 * 7.0)
            ).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


@register(
    "tpch_q19_shape",
    f"""
    SELECT {_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 disjunctive-predicate revenue: OR-of-AND residual
    spanning both join sides.  The part-only conjuncts
    (brand ∈ {{1,7,20}}) are implied by the disjunction and pushed to
    the part scan (join strategy stats/AQE-chosen); the residual
    evaluates post-join inside codegen — the shape optimizers must NOT
    turn into three unioned scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return j.filter(cond).agg(
        agg.dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_lines"),
    )


_Q2_COST_SQL = """
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2"""


@register(
    "tpch_q2_shape",
    f"""
    WITH cost AS ({_Q2_COST_SQL}),
    eu AS (
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'),
    best AS (
      SELECT c.l_partkey, min(c.unit_cost) AS min_cost
      FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey
      GROUP BY 1)
    SELECT p.p_partkey, p.p_brand, p.p_size,
           min(eu.s_suppkey) AS s_suppkey, b.min_cost AS unit_cost
    FROM part p
    JOIN best b ON b.l_partkey = p.p_partkey
    JOIN cost c ON c.l_partkey = p.p_partkey AND c.unit_cost = b.min_cost
    JOIN eu ON eu.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
    GROUP BY 1, 2, 3, 5
    """,
)
def tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier: correlated MIN subquery over
    the part↔supplier link (lineitem stands in for partsupp;
    unit_cost = min price/qty observed).  Decorrelation: per-part min
    over region-filtered suppliers, equality join back on the min
    (min() of identical doubles is order-independent — safe, unlike a
    sum), min(suppkey) tiebreak.  supplier/nation/region fold into one
    broadcast dim; only the lineitem agg shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        # nullif: a zero-quantity line → NULL unit cost like DuckDB
        # x/0 (min then skips it identically in both engines)
        F.min(F.col("l_extendedprice")
              / F.nullif(F.col("l_quantity"), F.lit(0.0))).alias("unit_cost")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    eu_cost = cost.join(
        eu.select("s_suppkey"),
        cost["l_suppkey"] == F.col("s_suppkey"),
    ).drop("s_suppkey")
    best = eu_cost.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_brand", "p_size")
    )
    return (
        eu_cost.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_brand", "p_size", "min_cost")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
        .select(
            "p_partkey", "p_brand", "p_size", "s_suppkey",
            F.col("min_cost").alias("unit_cost"),
        )
    )


@register(
    "tpch_q8_shape",
    """
    WITH hits AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS rev_i,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region cr  ON cr.r_regionkey = cn.n_regionkey AND cr.r_name = 'AMERICA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey)
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_i ELSE 0 END)
                AS DOUBLE) / CAST(SUM(rev_i) AS DOUBLE) AS mkt_share,
           CAST(SUM(rev_i) AS DOUBLE) / 10000.0 AS total_revenue
    FROM hits GROUP BY 1
    """,
)
def tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 national market share: 8-table join tree — nation/region
    broadcast from stats, the SF-scaling sides (part, derived
    customer/supplier dims) AQE-chosen (the static plan sort-merges
    the derived-customer edge; the runtime plan broadcasts it at
    bench SF, asserted via aqe_final_plan) — followed by a
    conditional-ratio aggregate per order year.  Both
    ratio terms are exact integer sums, so the share double is
    engine- and partitioning-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust_am = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("c_custkey")
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev_i = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    hits = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust_am, orders["o_custkey"] == cust_am["c_custkey"])
        .join(supp_n, li["l_suppkey"] == supp_n["s_suppkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev_i.alias("rev_i"),
            "supp_nation",
        )
    )
    return hits.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("rev_i")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("rev_i").cast("double")
        ).alias("mkt_share"),
        (F.sum("rev_i").cast("double") / 10000.0).alias("total_revenue"),
    )


@register(
    "tpch_q9_shape",
    """
    SELECT sn.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(SUM(CAST(floor((l.l_extendedprice * (1 - l.l_discount)
                                - 0.001 * p.p_retailprice * l.l_quantity) * 10000)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%o%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 product-type profit: profit = revenue − cost per
    (supplier nation, order year), cost modeled as
    0.001·retailprice·qty (no partsupp.supplycost in this schema).
    nation broadcast; part/supplier strategy AQE-chosen;
    orders↔lineitem shuffles; the profit expression floor-scales BEFORE summing
    so the per-nation totals are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%o%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_i = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.001 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000
    ).cast("long")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp_n, li["l_suppkey"] == supp_n["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(profit_i).cast("double") / 10000.0).alias("sum_profit"))
    )


@register(
    "tpch_q11_shape",
    """
    WITH val AS (
      SELECT l.l_partkey,
             SUM(CAST(floor(l.l_extendedprice * 10000) AS BIGINT)) AS val_i
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
      GROUP BY 1),
    total AS (SELECT SUM(val_i) AS tot_i FROM val)
    SELECT v.l_partkey AS partkey,
           CAST(v.val_i AS DOUBLE) / 10000.0 AS part_value
    FROM val v, total t
    WHERE CAST(v.val_i AS DOUBLE) > 0.002 * CAST(t.tot_i AS DOUBLE)
    """,
)
def tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 important stock: per-part value within one nation's
    suppliers, kept only when above a fraction of the GLOBAL total —
    a HAVING against a scalar aggregate of the same subquery.  The
    val CTE computes once and reuses for both branches; the 1-row
    total broadcasts; threshold compare is exact-int-derived."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_1"
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 10000).cast("long")).alias("val_i"))
    )
    total = val.agg(F.sum("val_i").alias("tot_i"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("val_i").cast("double") > 0.002 * F.col("tot_i").cast("double"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("val_i").cast("double") / 10000.0).alias("part_value"),
        )
    )


@register(
    "tpch_q20_shape",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(floor(l_quantity * 10000) AS BIGINT)) AS qty_i
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2),
    excess AS (
      SELECT DISTINCT sh.l_suppkey
      FROM shipped sh
      JOIN part p ON p.p_partkey = sh.l_partkey AND p.p_type = 'PROMO'
      WHERE sh.qty_i > 50 * 10000)
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name IN
         ('NATION_1', 'NATION_2', 'NATION_3')
    WHERE EXISTS (SELECT 1 FROM excess e WHERE e.l_suppkey = s.s_suppkey)
    """,
)
def tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 excess-inventory suppliers: nested semi-join chain —
    per-(supplier, promo-part) shipped quantity above a threshold →
    DISTINCT supplier set → EXISTS semi-join against the
    nation-filtered supplier dim.  Thresholds compare floor-scaled
    integers; the semi-join side scales with lineitem density, so its
    strategy is AQE-chosen (runtime-broadcast at bench SF)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    shipped = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.floor(F.col("l_quantity") * 10000).cast("long")).alias("qty_i"))
    )
    excess = (
        shipped.filter(F.col("qty_i") > 50 * 10000)
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    return supp.join(
        excess, supp["s_suppkey"] == excess["l_suppkey"], "left_semi"
    )


def _weighted_sample_oracle(k: int = 25) -> str:
    from dicomdb_spark.functions.sketches import sql_hex_int

    h = sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 8)
    return f"""
    WITH p AS (
      SELECT doc_id, n_chars,
             CAST({h} AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
      FROM documents WHERE n_chars IS NOT NULL)
    SELECT doc_id, n_chars, priority
    FROM p ORDER BY priority, doc_id LIMIT {k}
    """


@register("corpus_weighted_sample", _weighted_sample_oracle())
def corpus_weighted_sample(spark, sf_dir):
    """Deterministic weighted top-k document sample (25 docs, weight =
    n_chars): md5-priority / weight, the Efraimidis–Spirakis shape
    with the uniform draw replaced by the hash and the libm power by
    one exact division (llm/corpus.py: weighted_sample).  Same corpus
    → same sample on any engine, partitioning, or re-run — the
    reproducibility RNG sampling can't give."""
    docs = load_table(spark, sf_dir, "documents")
    return lcorpus.weighted_sample(docs, "doc_id", "n_chars", k=25)


@register(
    "a_salted_hot_agg",
    f"""
    WITH f AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id % 50 END
               AS skew_key,
             CAST(floor(value * 10000) AS BIGINT) AS vi
      FROM events)
    SELECT skew_key, count(*) AS n,
           CAST(CAST(SUM(vi) AS BIGINT) AS DOUBLE) / 10000.0 AS sum_value,
           CAST(min(vi) AS DOUBLE) / 10000.0 AS min_value,
           CAST(max(vi) AS DOUBLE) / 10000.0 AS max_value
    FROM f GROUP BY 1
    """,
)
def a_salted_hot_agg(spark, sf_dir):
    """Skew-mitigated aggregation: ~70 % of rows share one hot key,
    aggregated through operators/skew.salted_agg — a (key, salt)
    partial phase splits the hot reducer across 16 tasks, then a key
    final phase recombines.  The ORACLE is the plain GROUP BY: salting
    must be value-invisible.  Sums run over floor-scaled ints so the
    two-phase recombination is exact (double partials would make the
    salted sum rounding-order-dependent)."""
    from dicomdb_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id") % 50)
        .alias("skew_key"),
        F.floor(F.col("value") * 10000).cast("long").alias("vi"),
    )
    out = salted_agg(
        f,
        ["skew_key"],
        [
            ("count", "*", "n"),
            ("sum", "vi", "svi"),
            ("min", "vi", "minvi"),
            ("max", "vi", "maxvi"),
        ],
        salts=16,
    )
    return out.select(
        "skew_key",
        "n",
        (F.col("svi").cast("double") / 10000.0).alias("sum_value"),
        (F.col("minvi").cast("double") / 10000.0).alias("min_value"),
        (F.col("maxvi").cast("double") / 10000.0).alias("max_value"),
    )


@register(
    "w_retention_cohorts",
    """
    WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
    a AS (
      SELECT DISTINCT
             CAST(f.first_ts AS DATE) AS cohort_day,
             CAST(date_diff('day', CAST(f.first_ts AS DATE),
                            CAST(e.ts AS DATE)) AS BIGINT) AS days_since,
             e.user_id
      FROM events e JOIN f USING (user_id))
    SELECT cohort_day, days_since, count(*) AS active_users
    FROM a GROUP BY 1, 2
    """,
)
def w_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix — the canonical product-analytics
    rollup: users grouped by first-activity day, counted as active on
    each subsequent day (day granularity because the events fixture
    spans one month).  User-day de-dup before the count so a user's
    burst of events counts once.  Plan: one per-user min aggregate,
    one equi-join back (AQE broadcasts the per-user firsts when they
    fit), one distinct + count shuffle — each keyed on
    uniformly-distributed ids, nothing driver-side."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(first, "user_id")
    return (
        j.select(
            F.to_date("first_ts").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.to_date("first_ts"))
            .cast("long")
            .alias("days_since"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_day", "days_since")
        .agg(F.count("*").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Batch 12 (round 4) — layout: multi-dimensional clustering keys
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_interleave_sql(cols: list[str], bits: int) -> str:
    n = len(cols)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return " | ".join(terms)


@register(
    "layout_zorder_key",
    f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS day
      FROM orders),
    mm AS (SELECT min(o_custkey) AS cmn, max(o_custkey) AS cmx,
                  min(day) AS dmn, max(day) AS dmx FROM o),
    b AS (
      SELECT o_orderkey,
             CAST(FLOOR(((o_custkey - cmn) * {2**_Z_BITS}) / (cmx - cmn + 1))
                  AS BIGINT) AS cust_bucket,
             CAST(FLOOR(((day - dmn) * {2**_Z_BITS}) / (dmx - dmn + 1))
                  AS BIGINT) AS day_bucket
      FROM o CROSS JOIN mm)
    SELECT o_orderkey, cust_bucket, day_bucket,
           {_z_interleave_sql(["cust_bucket", "day_bucket"], _Z_BITS)} AS zval
    FROM b
    """,
)
def layout_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (customer, order-day) —
    the layout primitive behind multi-dimensional data skipping
    (Morton 1966; the standard lakehouse OPTIMIZE ZORDER BY shape).

    Each dimension is min-max bucketized into [0, 2^16) with pure
    integer arithmetic (the 1-row min/max aggregate broadcasts), then
    bit-interleaved with shift/and/or Catalyst expressions — fully
    whole-stage-codegen, no UDF.  Sorting files by zval keeps parquet
    footer min/max tight on EVERY dimension (tests/test_scd_layout
    proves the 2-D skipping win against a lexicographic sort from real
    footer statistics).  The oracle replays the identical bit
    interleave in SQL."""
    from dicomdb_spark.sources.layout import bucketize, zorder_key

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))).alias(
            "day"
        ),
    )
    mm = o.agg(
        F.min("o_custkey").alias("cmn"),
        F.max("o_custkey").alias("cmx"),
        F.min("day").alias("dmn"),
        F.max("day").alias("dmx"),
    )
    j = o.crossJoin(F.broadcast(mm))
    cb = bucketize(F.col("o_custkey"), F.col("cmn"), F.col("cmx"), bits=_Z_BITS)
    db = bucketize(F.col("day"), F.col("dmn"), F.col("dmx"), bits=_Z_BITS)
    return j.select(
        "o_orderkey",
        cb.alias("cust_bucket"),
        db.alias("day_bucket"),
        zorder_key([cb, db], bits=_Z_BITS).alias("zval"),
    )


# ---------------------------------------------------------------------------
# W7 — gaps-and-islands (consecutive-activity runs)
# ---------------------------------------------------------------------------


@register(
    "w_gap_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE event_type = 'purchase'),
    r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM d)
    SELECT user_id,
           MIN(day) AS island_start,
           MAX(day) AS island_end,
           count(*) AS island_days
    FROM r
    GROUP BY user_id, day - CAST(rn AS INT)
    """,
)
def w_gap_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive purchase-active
    days per user (the classic date-minus-row_number island key).

    One distinct-(user, day) aggregate, one per-user window over the
    tiny distinct set, one island aggregate — the window sorts days
    AFTER the distinct collapse, so at 100 TB of raw events the sort
    input is bounded by users × days, not event volume.  Generalizes
    the reference's sessionize-by-day shape (W3) from "bucket by day"
    to "runs of adjacent days"."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = ev.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return anchored.groupBy("user_id", "anchor").agg(
        F.min("day").alias("island_start"),
        F.max("day").alias("island_end"),
        F.count("*").alias("island_days"),
    ).drop("anchor")


# ---------------------------------------------------------------------------
# A10 — deterministic per-group mode (argmax of the frequency table)
# ---------------------------------------------------------------------------


@register(
    "a_mode_per_group",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn
      FROM c)
    SELECT user_id, event_type AS mode_event, cnt AS mode_count
    FROM r WHERE rn = 1
    """,
)
def a_mode_per_group(spark, sf_dir):
    """Deterministic mode: the most frequent event_type per user, ties
    broken by lexicographically smallest value (never engine-private
    hash order).  Two hash aggregates + a window over the tiny
    per-(user, type) frequency table — the window input is bounded by
    |users| × |types|, not event volume, so the sort never sees raw
    data.  Extends the A-family (A3 counts, A4 min/max-by) with the
    argmax-of-counts shape the reference builds by ORDER BY cnt DESC
    LIMIT 1 per key (Cenir_DB.py top-1 loops)."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event"),
            F.col("cnt").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# O5 — keyset (cursor) pagination
# ---------------------------------------------------------------------------

_KEYSET_CURSOR = ("1998-03-15 00:00:00", 0)


@register(
    "o5_keyset_pagination",
    f"""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > TIMESTAMP '{_KEYSET_CURSOR[0]}'
       OR (o_orderdate = TIMESTAMP '{_KEYSET_CURSOR[0]}'
           AND o_orderkey > {_KEYSET_CURSOR[1]})
    ORDER BY o_orderdate, o_orderkey
    LIMIT 20
    """,
)
def o5_keyset_pagination(spark, sf_dir):
    """Keyset pagination: the page AFTER cursor (o_orderdate,
    o_orderkey) under a total order with a unique tiebreak.

    Unlike OFFSET (which scans and discards every earlier row — O(page
    × depth) at scale), the tuple-compare predicate is sargable: it
    reaches the parquet scan as min/max-prunable filters, so a
    date-sorted layout reads only trailing row groups no matter how
    deep the cursor is.  Spark's global TakeOrderedAndProject then
    keeps 20 rows per partition and merges — no full sort.  O-family
    completion next to O1 (LIMIT 1) and O2 (top-k)."""
    d, k = _KEYSET_CURSOR
    o = load_table(spark, sf_dir, "orders")
    cursor = F.lit(d).cast("timestamp_ntz")
    return (
        o.filter(
            (F.col("o_orderdate") > cursor)
            | ((F.col("o_orderdate") == cursor) & (F.col("o_orderkey") > k))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# S14 — CDC log compaction (last-writer-wins apply with delete tombstones)
# ---------------------------------------------------------------------------


@register(
    "cdc_last_writer_state",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS ops_applied
      FROM events
      WHERE event_type IN ('signup', 'click', 'view', 'purchase', 'error'))
    SELECT user_id, ts AS last_ts, event_type AS last_op,
           value AS last_value, ops_applied
    FROM log WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_last_writer_state(spark, sf_dir):
    """CDC log compaction: replay a change log into current state by
    last-writer-wins per key — 'signup' inserts, 'click'/'view'/
    'purchase' upsert, 'error' is a delete tombstone that removes the
    key unless a later op re-creates it (LWW makes only the FINAL op
    per key authoritative, so out-of-order history collapses in one
    pass).  The ordering key carries event_id as a unique tiebreak —
    same-timestamp writers can never flip the result between runs.

    One window over the log partitioned by key — the Delta/Hudi
    compaction shape; at 100 TB the log shuffles once on user_id and
    state is one row per key.  Extends S7 (MERGE upsert) to
    log-replay semantics; the streaming twin is w2_keep_latest's
    foreachBatch path (streaming/incremental.py)."""
    # the oracle restricts the log to the five CDC op codes; the plan
    # must filter identically or any foreign event type silently joins
    # the replay (adversarial events sweep find, r12 — the natural
    # generator emits exactly these five, masking the gap)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "click", "view", "purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("ops_applied", F.count("*").over(wc))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_op"),
            F.col("value").alias("last_value"),
            "ops_applied",
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style document-quality rules
# ---------------------------------------------------------------------------


def _gopher_oracle() -> str:
    return f"SELECT doc_id, {text.gopher_sql('text')} FROM documents"


@register("text_gopher_rules", _gopher_oracle())
def text_gopher_rules(spark, sf_dir):
    """Gopher quality-filter signals (Rae et al. 2021, App. A): word
    count bounds, mean word length, symbol/bullet/ellipsis ratios,
    alphabetic-word fraction, stopword floor, and the combined pass
    flag — all pure Catalyst expressions (functions/text.py:
    gopher_signals), per-row, shuffle-free, whole-stage-codegen at any
    scale.  Complements quality_score (heuristic composite) with the
    published rule set used to filter MassiveWeb."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *text.gopher_signals("text"))


# ---------------------------------------------------------------------------
# HLL register merge — distributed sketch rollup
# ---------------------------------------------------------------------------


def _hll_merge_oracle() -> str:
    from dicomdb_spark.functions.sketches import hll_oracle

    return hll_oracle(
        "t.ck",
        """(SELECT CAST(c.c_custkey AS VARCHAR) AS ck, n.n_regionkey AS rk
            FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey) t""",
        "t.rk",
        p=8,
    ).replace("SELECT e.g,", "SELECT e.g AS n_regionkey,")


@register("sketch_hll_merge", _hll_merge_oracle())
def sketch_hll_merge(spark, sf_dir):
    """HLL register MERGE: per-nation register state rolled up to
    per-region estimates by plain max(r) per (region, bucket)
    (functions/sketches.py: hll_registers / hll_estimate_from_registers).

    The oracle computes the region sketch DIRECTLY from raw items, so
    a green row PROVES the mergeability law — estimate(merge(states))
    ≡ estimate(union of inputs) — which is what lets a 100 TB rollup
    keep one 2^p-row state per shard/day and combine upward without
    re-reading raw data (the Druid/datasketches pattern).  Exact
    distinct per region rides along for error inspection."""
    from dicomdb_spark.functions import sketches

    nat = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").cast("string").alias("ck"),
            "n_nationkey",
            "n_regionkey",
        )
    )
    regs = sketches.hll_registers(cust, "n_nationkey", "ck", p=8)
    merged = (
        regs.join(nat, "n_nationkey")
        .groupBy("n_regionkey", "b")
        .agg(F.max("r").alias("r"))
    )
    est = sketches.hll_estimate_from_registers(merged, "n_regionkey", p=8)
    exact = (
        cust.select("n_regionkey", "ck")
        .distinct()
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n_exact"))
    )
    return exact.join(est, "n_regionkey").select(
        "n_regionkey", "n_exact", "zero_regs", "n_est"
    )


# ---------------------------------------------------------------------------
# MIPS — maximum-inner-product retrieval
# ---------------------------------------------------------------------------


@register(
    "ann_mips_topk",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({_sql_dot('q', 'c')} AS DOUBLE)
               AS dot_score
      FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, dot_score,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_score DESC, neighbor_id) AS rank
      FROM pairs) t
    WHERE rank <= 5
    """,
)
def ann_mips_topk(spark, sf_dir):
    """Maximum-inner-product top-5 (unnormalized dot) for query
    vectors vec_id < 10 — the scoring used when magnitude matters
    (recommenders, learned rerankers), next to the cosine baseline.
    Broadcast queries, corpus never shuffles, floor-scaled exact dot.
    The sublinear path is the norm-augmentation reduction to cosine
    (llm/similarity.py: mips_augment — rank-equivalence proven in
    tests), after which LSH/IVF answer MIPS unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsim.mips_topk(emb, queries, "vec_id", "embedding", k=5)


# ---------------------------------------------------------------------------
# Snapshot-delta (incremental) dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_snapshot_delta",
    """
    WITH old AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8),
    batch AS (
      SELECT md5(text) AS content_md5, min(doc_id) AS doc_id
      FROM documents WHERE doc_id % 10 >= 8
      GROUP BY 1)
    SELECT b.doc_id, b.content_md5
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.h = b.content_md5)
    """,
)
def dedup_snapshot_delta(spark, sf_dir):
    """Incremental exact dedup: an arriving batch (doc_id % 10 ≥ 8)
    is first self-deduped (min doc_id per content hash — one hash
    aggregate over the SMALL batch), then anti-joined against the
    accumulated snapshot's hash set.  Only the batch shuffles; the
    100 TB snapshot contributes one distinct-hash column scan, and the
    sketch_bloom_join filter composes in front of the anti-join to
    prune the batch before it ever reaches the shuffle.  This is the
    daily-ingest shape of dedup_exact — dedup new data against
    yesterday's corpus without re-deduping the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    old = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = (
        docs.filter(F.col("doc_id") % 10 >= 8)
        .select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(
        old, batch["content_md5"] == old["h"], "left_anti"
    ).select("doc_id", "content_md5")


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance
# ---------------------------------------------------------------------------


@register(
    "corpus_mv_incremental",
    """
    SELECT o_custkey,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) / 100.0
                AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def corpus_mv_incremental(spark, sf_dir):
    """Incremental materialized-view maintenance: the per-customer
    revenue MV is computed as merge(partial-agg(base), partial-agg(delta))
    — base is history before 1998-01-01, delta the arriving tail —
    while the ORACLE computes the same view directly from all rows.
    A green row proves the maintenance identity: floor-scaled integer
    partial sums and counts are associative, so merging partials is
    EXACTLY the full recompute (the self-maintainable-view property
    that lets a 100 TB fact table refresh its aggregates from the
    day's delta alone).  Floating-point partials would break this —
    double addition is order-dependent — which is why every revenue
    sum in this engine is an integer at rest (aggregates.dsum)."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_i"),
            F.count("*").alias("n_orders"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(F.sum("rev_i").alias("rev_i"), F.sum("n_orders").alias("n_orders"))
    )
    return merged.select(
        "o_custkey",
        (F.col("rev_i") / F.lit(100.0)).cast("double").alias("revenue"),
        "n_orders",
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------


@register("corpus_bpe_train", lcorpus.bpe_train_oracle(3))
def corpus_bpe_train(spark, sf_dir):
    """BPE merge-rule training (Sennrich et al. 2016), 3 rounds over
    the document corpus — the missing half of text_bpe_tokens (which
    APPLIES fixed merges).  Each round: adjacent-pair counts over the
    vocabulary-sized symbol table (exact integer sums), a 1-row
    broadcast argmax with (count DESC, pair ASC) tiebreak, and a
    map-side leftmost-nonoverlapping rewrite — fully declarative, the
    chosen pair never touches the driver (llm/corpus.py: bpe_train).
    The oracle unrolls the identical three rounds in SQL, so a green
    row proves the whole training loop bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return lcorpus.bpe_train(docs, "text", iters=3)


# ---------------------------------------------------------------------------
# Theta-sketch set operations
# ---------------------------------------------------------------------------


def _kmv_setops_oracle() -> str:
    from dicomdb_spark.functions.sketches import kmv_set_ops_oracle

    def side(pred: str) -> str:
        return (
            f"(SELECT unnest(sh) AS sh FROM "
            f"(SELECT {_SQL_SHINGLES} AS sh FROM "
            f"(SELECT {_SQL_TOKS} AS tk FROM documents WHERE {pred}) a) b) t"
        )

    return kmv_set_ops_oracle(
        side("doc_id % 2 = 0"), side("doc_id % 2 = 1"), "t.sh", k=256
    )


@register("sketch_kmv_set_ops", _kmv_setops_oracle())
def sketch_kmv_set_ops(spark, sf_dir):
    """Theta-sketch set algebra (Dasgupta et al., EDBT 2016): |A∪B|
    and |A∩B| estimated from two 256-value KMV sketches of the
    even-/odd-doc shingle sets, next to exact counts
    (functions/sketches.py: kmv_theta_set_ops).  Set operations are
    what raw cardinality sketches (KMV/HLL) can't do and theta
    sketches exist for; everything after the per-side distributed
    top-256 operates on ≤ 512 broadcast rows."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(text.shingles("text", 3)).alias("sh")
    )
    b = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(text.shingles("text", 3)).alias("sh")
    )
    return sketches.kmv_theta_set_ops(a, b, "sh", k=256)


# ---------------------------------------------------------------------------
# Exponential moving average (half-life weights)
# ---------------------------------------------------------------------------


@register(
    "w_ema_halflife",
    """
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 1000000) AS BIGINT) AS vi
      FROM events),
    l AS (
      SELECT user_id, event_id, ts, vi,
             lag(vi, 1) OVER w AS v1,
             lag(vi, 2) OVER w AS v2,
             lag(vi, 3) OVER w AS v3
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, ts,
           CAST(8 * vi + coalesce(4 * v1, 0) + coalesce(2 * v2, 0)
                + coalesce(v3, 0) AS DOUBLE)
             / (8 + CASE WHEN v1 IS NULL THEN 0 ELSE 4 END
                  + CASE WHEN v2 IS NULL THEN 0 ELSE 2 END
                  + CASE WHEN v3 IS NULL THEN 0 ELSE 1 END)
             / 1000000.0 AS ema
    FROM l
    """,
)
def w_ema_halflife(spark, sf_dir):
    """Half-life exponential moving average over each user's event
    values (weights 8:4:2:1 across the last 4 events — α = 1/2).

    EMA is the one smoothing shape that stays bit-portable: half-life
    weights are exact powers of two, values are floor-scaled int64,
    so the weighted numerator is EXACT integer arithmetic and the
    only float ops are two final divisions — unlike a general αᵏ
    recurrence, whose libm pow() differs across engines.  One window
    per user (shuffle on user_id), three lags, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vi = F.floor(F.col("value") * 1000000).cast("long")
    d = ev.select("user_id", "event_id", "ts", vi.alias("vi"))
    d = (
        d.withColumn("v1", F.lag("vi", 1).over(w))
        .withColumn("v2", F.lag("vi", 2).over(w))
        .withColumn("v3", F.lag("vi", 3).over(w))
    )
    num = (
        8 * F.col("vi")
        + F.coalesce(4 * F.col("v1"), F.lit(0))
        + F.coalesce(2 * F.col("v2"), F.lit(0))
        + F.coalesce(F.col("v3"), F.lit(0))
    )
    den = (
        F.lit(8)
        + F.when(F.col("v1").isNull(), 0).otherwise(4)
        + F.when(F.col("v2").isNull(), 0).otherwise(2)
        + F.when(F.col("v3").isNull(), 0).otherwise(1)
    )
    return d.select(
        "user_id",
        "event_id",
        "ts",
        (num.cast("double") / den / F.lit(1000000.0)).alias("ema"),
    )


# ---------------------------------------------------------------------------
# End-to-end near-dedup pipeline
# ---------------------------------------------------------------------------


def _pipeline_oracle() -> str:
    """Minhash pairs → min-label components → drop non-keepers,
    final corpus — the full dedup pipeline over the dup-injected
    docs2 (same chain as _component_oracle, different final)."""
    chain, prev = _min_label_chain("doc_id")
    return f"""
    {_minhash_pairs_cte()},
    e AS (SELECT id1 AS src, id2 AS dst FROM pairs
          UNION ALL SELECT id2, id1 FROM pairs),
    {chain}
    SELECT d.doc_id
    FROM docs2 d
    WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                      WHERE x.doc_id = d.doc_id AND x.lbl <> d.doc_id)
    """


@register("corpus_dedup_pipeline", _pipeline_oracle())
def corpus_dedup_pipeline(spark, sf_dir):
    """The full near-dedup pipeline a training-data run executes,
    end-to-end in ONE plan: minhash-LSH candidate pairs → min-label
    connected components (3 rounds) → drop every non-keeper member →
    surviving corpus.  Exact duplicates need no separate stage —
    identical text gives identical signatures, so exact dups land in
    the same component and the min-id keeper policy removes them.
    Every stage is the already-proven operator (dedup_minhash_lsh,
    dedup_components); this query pins their COMPOSITION, which is
    what a user actually runs."""
    docs2 = _docs_with_dupes(spark, sf_dir)
    pairs = ldedup.minhash_lsh_pairs(
        docs2,
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
    dropped = comp.filter(F.col("component") != F.col("doc_id")).select("doc_id")
    return docs2.join(dropped, "doc_id", "left_anti").select("doc_id")


# ---------------------------------------------------------------------------
# Rolling-window sketch rollup
# ---------------------------------------------------------------------------


def _hll_rolling_oracle() -> str:
    from dicomdb_spark.functions.sketches import hll_oracle

    return hll_oracle(
        "t.u",
        """(SELECT dd.day AS day, CAST(e.user_id AS VARCHAR) AS u
            FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) dd
            JOIN events e
              ON CAST(e.ts AS DATE) BETWEEN dd.day - 6 AND dd.day) t""",
        "t.day",
        p=8,
    ).replace("SELECT e.g,", "SELECT e.g AS day,")


@register("sketch_hll_rolling", _hll_rolling_oracle())
def sketch_hll_rolling(spark, sf_dir):
    """Rolling 7-day distinct-user estimates from DAILY register
    state: one HLL register table per day, then each day's trailing
    window is a max-merge of ≤ 7 register sets — the raw events are
    read ONCE, and every window is built from 2^p-row sketch state
    (functions/sketches.py: hll_registers).  The oracle computes each
    window's sketch directly from raw items, so a green row proves
    the rolling rollup identity at every window position.  This is
    the dashboard pattern at 100 TB: daily sketch partitions,
    arbitrary window queries without rescanning."""
    from dicomdb_spark.functions import sketches

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("user_id").cast("string").alias("u")
    )
    days = ev.select("day").distinct()
    regs = sketches.hll_registers(ev, "day", "u", p=8)
    fanned = regs.withColumn(
        "off", F.explode(F.sequence(F.lit(0), F.lit(6)))
    ).withColumn("target", F.expr("date_add(day, off)"))
    merged = (
        fanned.join(
            F.broadcast(days.withColumnRenamed("day", "target")), "target"
        )
        .groupBy("target", "b")
        .agg(F.max("r").alias("r"))
    )
    est = sketches.hll_estimate_from_registers(merged, "target", p=8)
    exact = (
        ev.distinct()
        .withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn("target", F.expr("date_add(day, off)"))
        .join(F.broadcast(days.withColumnRenamed("day", "target")), "target")
        .select("target", "u")
        .distinct()
        .groupBy("target")
        .agg(F.count("*").alias("n_exact"))
    )
    return exact.join(est, "target").select(
        F.col("target").alias("day"), "n_exact", "zero_regs", "n_est"
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution
# ---------------------------------------------------------------------------


@register(
    "w_attribution_linear",
    """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, event_id AS click_id, ts
      FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id,
           count(*) AS n_touches,
           p.value / count(*) AS credit_per_touch
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts >= p.p_ts - INTERVAL 2 HOUR
     AND c.ts <= p.p_ts
    GROUP BY 1, 2, p.value
    """,
)
def w_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: every click in the 2 h before
    a purchase (same user) shares the purchase value equally.

    The click↔purchase matching is the bucketed range join
    (operators/joins.py: interval_range_join — equi-join on
    (user, hour-bucket) + exact predicate, never a nested loop), then
    one aggregate per purchase.  credit_per_touch is a single exact
    division of an unsummed double by a count, so it is bit-stable
    without scaling.  DuckDB's native range join is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        "value",
        (F.col("ts") - F.expr("INTERVAL 2 HOURS")).alias("start_ts"),
        F.col("ts").alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    pairs = oj.interval_range_join(
        clicks, purch, keys=["user_id"], ts_col="ts",
        start_col="start_ts", end_col="end_ts", bucket_width_s=3600,
    )
    return pairs.groupBy("purchase_id", "user_id", "value").agg(
        F.count("*").alias("n_touches")
    ).select(
        "purchase_id",
        "user_id",
        "n_touches",
        (F.col("value") / F.col("n_touches")).alias("credit_per_touch"),
    )


# ---------------------------------------------------------------------------
# Rolling RANGE-frame aggregate
# ---------------------------------------------------------------------------


@register(
    "w_rolling_range_sum",
    """
    WITH d AS (
      SELECT o_orderkey, o_custkey,
             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               AS day_num,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS rev_i
      FROM orders)
    SELECT o_orderkey, o_custkey, day_num,
           CAST(SUM(rev_i) OVER (PARTITION BY o_custkey ORDER BY day_num
                                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) / 100.0 AS rolling_rev
    FROM d
    """,
)
def w_rolling_range_sum(spark, sf_dir):
    """Trailing 7-day revenue per customer with a RANGE window frame —
    every order row sees the sum over [day−6, day] by VALUE distance,
    so same-day orders always include each other regardless of row
    order (a ROWS frame would be partition-order-dependent; RANGE is
    the deterministic choice).  Revenue sums are floor-scaled int64
    inside the frame — W-family completion next to running totals
    (cumulative) and EMA (decayed)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
        ).alias("day_num"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("rev_i"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return d.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        (F.sum("rev_i").over(w) / F.lit(100.0)).alias("rolling_rev"),
    )


# ---------------------------------------------------------------------------
# Deterministic shuffle → micro-batches
# ---------------------------------------------------------------------------


def _shuffle_batches_oracle(n_batches: int = 16) -> str:
    from dicomdb_spark.functions.sketches import sql_hex_int

    h = sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 8)
    return f"""
    WITH p AS (SELECT doc_id, {h} AS pr FROM documents)
    SELECT doc_id,
           CAST(pr % {n_batches} AS BIGINT) AS batch_id,
           CAST(row_number() OVER (PARTITION BY pr % {n_batches}
                                   ORDER BY pr, doc_id) AS BIGINT) AS pos
    FROM p
    """


@register("corpus_shuffle_batches", _shuffle_batches_oracle())
def corpus_shuffle_batches(spark, sf_dir):
    """Reproducible global shuffle into training micro-batches:
    batch = md5(doc_id) mod 16, position = hash-then-id order within
    the batch.  Same corpus → same batch composition AND intra-batch
    order on any engine, partitioning, or rerun — the data-order
    reproducibility an RNG shuffle can't give, which is what makes
    training runs comparable.  One shuffle on batch_id; each batch
    sorts independently (no global sort), so batches stream out in
    parallel at any scale."""
    from dicomdb_spark.functions.sketches import _hex_int

    n_batches = 16
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", _hex_int(F.md5(F.col("doc_id").cast("string")), 8).alias("pr")
    )
    w = Window.partitionBy(F.col("pr") % n_batches).orderBy("pr", "doc_id")
    return p.select(
        "doc_id",
        (F.col("pr") % n_batches).cast("long").alias("batch_id"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------


@register(
    "a_mad_outliers",
    """
    WITH v AS (
      SELECT event_type, event_id, value FROM events
      WHERE value IS NOT NULL),
    med AS (
      SELECT event_type, value AS med
      FROM (SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v) t
      WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)),
    dev AS (
      SELECT v.event_type, v.event_id, abs(v.value - m.med) AS d, m.med
      FROM v JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, d AS mad
      FROM (SELECT event_type, d,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY d, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev) t
      WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT))
    SELECT d.event_type, m2.med AS median_low, m3.mad AS mad_low,
           CAST(SUM(CASE WHEN d.d > 3 * m3.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d
    JOIN med m2 USING (event_type)
    JOIN mad m3 USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def a_mad_outliers(spark, sf_dir):
    """Robust outlier counts per event type: median and MAD (median
    absolute deviation), both as MEDIAN-LOW — the lower middle
    element selected by row_number with a unique tiebreak — because
    interpolated medians hide an engine-specific rounding choice
    ((lo+hi)/2 vs lo+(hi−lo)/2 differ in IEEE) while order-statistic
    selection is pure comparison and therefore bit-portable.  Outlier
    = deviation > 3×MAD (the Hampel rule).  Two window passes per
    group + one join-back; the only float ops are exact-rounded
    subtraction/abs/3× on identical operands.  NULL values are
    excluded up front in BOTH engines: a NULL is not an observation,
    and leaving it in the sort diverges (Spark ASC = NULLS FIRST,
    DuckDB ASC = NULLS LAST — r13 null-probe find)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )

    def median_low(df, val_col, out_col):
        w = Window.partitionBy("event_type").orderBy(val_col, "event_id")
        wc = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wc))
            .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("long"))
            .select("event_type", F.col(val_col).alias(out_col))
        )

    med = median_low(ev, "value", "median_low")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("median_low"))
    )
    mad = median_low(
        dev.select("event_type", "event_id", F.col("d").alias("value")),
        "value",
        "mad_low",
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median_low", "mad_low")
        .agg(
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_low"), 1).otherwise(0)
            ).alias("n_outliers")
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join
# ---------------------------------------------------------------------------


@register(
    "j14_interval_overlap",
    """
    WITH s AS (
      SELECT user_id, event_id AS signup_id, ts AS s_start,
             ts + INTERVAL 2 HOUR AS s_end
      FROM events WHERE event_type = 'signup'),
    e AS (
      SELECT user_id, event_id AS error_id, ts AS e_start,
             ts + INTERVAL 1 HOUR AS e_end
      FROM events WHERE event_type = 'error')
    SELECT s.signup_id, e.error_id, s.user_id,
           CAST(date_diff('second', greatest(s.s_start, e.e_start),
                          least(s.s_end, e.e_end)) AS BIGINT) AS overlap_s
    FROM s JOIN e
      ON e.user_id = s.user_id
     AND s.s_start <= e.e_end AND e.e_start <= s.s_end
    """,
)
def j14_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join: signup activity windows
    [ts, +2h] against error windows [ts, +1h] of the same user, with
    the overlap duration in whole seconds (a timestamp difference —
    exact integer arithmetic, timezone-free).

    The point-in-interval bucket join (J12) cannot express this; the
    grid shape (operators/joins.py: interval_overlap_join) explodes
    BOTH sides to covered hour buckets, meets via (user, bucket)
    equi-join, post-filters the exact predicate, and dedups pairs
    that share several buckets.  DuckDB's native interval join is the
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("s_end"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOURS")).alias("e_end"),
    )
    pairs = oj.interval_overlap_join(
        s, e, keys=["user_id"],
        l_start="s_start", l_end="s_end",
        r_start="e_start", r_end="e_end", bucket_width_s=3600,
    )
    return pairs.select(
        "signup_id",
        "error_id",
        "user_id",
        (
            F.least("s_end", "e_end").cast("timestamp").cast("long")
            - F.greatest("s_start", "e_start").cast("timestamp").cast("long")
        ).alias("overlap_s"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------


@register(
    "text_ccnet_buckets",
    f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i.i] || ' ' || tk[i.i + 1] AS bg
      FROM tk CROSS JOIN unnest(range(1, greatest(len(tk) - 1, 0) + 1)) i(i)),
    model AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) / count(*) AS avg_bigram_freq
      FROM bg JOIN model USING (bg) GROUP BY doc_id)
    SELECT doc_id, avg_bigram_freq,
           CASE ntile(3) OVER (ORDER BY avg_bigram_freq DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS ppl_bucket
    FROM scored
    """,
)
def text_ccnet_buckets(spark, sf_dir):
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020):
    documents ranked by how typical they are under the corpus bigram
    LM (llm/corpus.py: bigram_lm_scores — exact frequency ratios, no
    transcendental perplexity), then cut into terciles over a
    uniquely-tiebroken order.  'head' = most LM-typical, the slice
    CCNet feeds to training first.  The tercile assignment is
    DISTRIBUTED: range-bucket on the score, per-bucket offsets,
    partitioned row_number (ow.bucketed_running), then ntile(3)
    reconstructed arithmetically from the global rank
    (ow.ntile_from_rank) — the doc-level score table never sorts on
    one task."""
    from dicomdb_spark.llm import corpus as lc

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # scored feeds FOUR consumers (the count, the min/max bucket
    # stats, the main stream, and bucketed_running's per-bucket
    # offsets) and each re-ran the whole tokenize→bigram→model→join
    # LM pipeline — persist the tiny (doc_id, score) table once
    # (multi-consumer persist discipline, guide §5; r14, measured
    # 3.70 → 1.71 s at the 10× replica)
    scored = ldedup._track_cache(
        lc.bigram_lm_scores(docs, "text", "doc_id")
        .select("doc_id", "avg_bigram_freq")
        .persist()
    )
    nrow = scored.agg(F.count("*").alias("__n"))
    ranked = ow.bucketed_running(
        ow.monotone_range_bucket(scored, "avg_bigram_freq", ascending=False),
        order_cols=[F.col("avg_bigram_freq").desc(), "doc_id"],
        rn_col="__rn",
    ).crossJoin(F.broadcast(nrow))
    nt = ow.ntile_from_rank(F.col("__rn"), F.col("__n"), 3)
    return ranked.select(
        "doc_id",
        "avg_bigram_freq",
        F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail").alias(
            "ppl_bucket"
        ),
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the production ANN composition
# ---------------------------------------------------------------------------


@register("ann_ivf_pq_topk", _pq_oracle(ivf_cells=8))
def ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ (the FAISS production shape): a coarse quantizer
    (max-dot seed-centroid cells, ann_ivf_topk's inverted file)
    restricts which vectors each query scores, and within the cell
    distances come from PQ codes + the broadcast ADC lookup table
    (ann_pq_topk's machinery, llm/pq.py).

    At 100 TB this is THE ANN plan: the corpus lives as (cell, m
    small codes) — >100× smaller than raw floats — partitioned by
    cell; a query touches one cell partition and scores via a
    map-side (sub, code, cell) hash-join + additive sum.  Neither
    half alone gives this: IVF-Flat still shuffles raw vectors, PQ
    alone scans every code row per query.  The oracle replays coarse
    assignment + PQ training + encoding + cell-restricted ADC
    end-to-end."""
    from dicomdb_spark.llm import pq

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # fused coarse quantizer: cell assigned in ONE scan/Arrow hop and
    # carried through the subspace explode row-locally — was
    # crossJoin×8 → dot UDF → window → a codes ⋈ assign vec_id join
    # (r13 optimization, guide §2.4/§4.1)
    n = lsim.seed_cell_norm_corpus(emb, n_cents=8, id_col="vec_id", vec_col="v")
    books = pq.train_codebooks(emb, "vec_id", "v", m=4, sub_dim=16, k=8, iters=1)
    codes = pq.encode(n, books, "vec_id", "v", sub_dim=16, extra_cols=("cell",))
    lut = pq.adc_lut(
        spark, emb.filter(F.col("vec_id") < 10), books, "vec_id", "v", sub_dim=16
    ).join(
        n.select(F.col("vec_id").alias("query_id"), "cell"), "query_id"
    )
    return pq.pq_topk(codes, lut, topk=3, extra_keys=("cell",))


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) rendered once and spliced as IDENTICAL literals into
# both engines' expressions (the doctrine: constants may come from
# libm at BUILD time; runtime arithmetic may not)
_BENFORD_P = {d: repr(__import__("math").log10(1.0 + 1.0 / d)) for d in range(1, 10)}


def _benford_oracle() -> str:
    obs = ", ".join(
        f"CAST(SUM(CASE WHEN fd = '{d}' THEN 1 ELSE 0 END) AS BIGINT) AS o{d}"
        for d in range(1, 10)
    )
    # CAST the literal: DuckDB parses a 17-digit float literal as
    # DECIMAL and overflows the squared term; Spark parses it DOUBLE
    chi = " + ".join(
        f"((o{d} - n * CAST({_BENFORD_P[d]} AS DOUBLE))"
        f" * (o{d} - n * CAST({_BENFORD_P[d]} AS DOUBLE))"
        f" / (n * CAST({_BENFORD_P[d]} AS DOUBLE)))"
        for d in range(1, 10)
    )
    return f"""
    WITH fd AS (
      SELECT o_orderpriority,
             substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS fd
      FROM orders),
    piv AS (
      SELECT o_orderpriority, count(*) AS n, {obs}
      FROM fd GROUP BY 1)
    SELECT o_orderpriority, n, o1, o2, o3, o4, o5, o6, o7, o8, o9,
           {chi} AS chi2
    FROM piv
    """


@register("a_benford_audit", _benford_oracle())
def a_benford_audit(spark, sf_dir):
    """Benford first-digit audit per order priority (Newcomb 1881 /
    Benford 1938 — the classic fabricated-data screen): observed
    digit counts vs the log10(1+1/d) law, χ² computed as a FIXED
    nine-term expression tree over the pivoted counts — never a SQL
    SUM over per-digit float terms, whose accumulation order differs
    between engines.  First digits come from integer-to-string, not
    float formatting (engines print doubles differently) and not
    log10 (libm at runtime is not bit-portable; the Benford constants
    are baked as shared literals at build time)."""
    o = load_table(spark, sf_dir, "orders")
    fd = o.select(
        "o_orderpriority",
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        ).alias("fd"),
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.when(F.col("fd") == str(d), 1).otherwise(0)).alias(f"o{d}")
        for d in range(1, 10)
    ]
    piv = fd.groupBy("o_orderpriority").agg(*aggs)
    chi = None
    for d in range(1, 10):
        p = float(_BENFORD_P[d])
        term = (F.col(f"o{d}") - F.col("n") * F.lit(p)) * (
            F.col(f"o{d}") - F.col("n") * F.lit(p)
        ) / (F.col("n") * F.lit(p))
        chi = term if chi is None else chi + term
    return piv.select(
        "o_orderpriority",
        "n",
        *[f"o{d}" for d in range(1, 10)],
        chi.alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profiler
# ---------------------------------------------------------------------------


@register(
    "a_key_skew_profile",
    """
    WITH f AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
    s AS (
      SELECT count(*) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             max(c) AS max_freq,
             CAST(SUM(CASE WHEN c >= 6 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot_keys
      FROM f)
    SELECT n_keys, n_rows, max_freq, n_hot_keys,
           CAST(max_freq AS DOUBLE) / n_rows AS top1_share,
           CAST(n_rows AS DOUBLE) / n_keys AS mean_freq
    FROM s
    """,
)
def a_key_skew_profile(spark, sf_dir):
    """Join-key skew profile for lineitem.l_orderkey — the diagnostic
    a 100 TB operator runs BEFORE choosing a join strategy: key count,
    row count, hottest-key frequency and share, hot-key count (freq ≥
    6), mean frequency.  One key-count aggregate + one 1-row rollup;
    the ratios are single exact divisions.  This is the measurement
    half of the skew tooling whose action half is
    operators/skew.py (salted join / salted agg, j13 + a_salted)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count("*").alias("c"))
    s = f.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_freq"),
        F.sum(F.when(F.col("c") >= 6, 1).otherwise(0)).alias("n_hot_keys"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        "max_freq",
        "n_hot_keys",
        (F.col("max_freq").cast("double") / F.col("n_rows")).alias("top1_share"),
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("mean_freq"),
    )


# ---------------------------------------------------------------------------
# Compaction bin-packing plan
# ---------------------------------------------------------------------------


@register(
    "layout_compaction_bins",
    """
    WITH c AS (
      SELECT doc_id, source, n_chars,
             CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) - n_chars
               AS cum_before
      FROM documents)
    SELECT doc_id, source, n_chars, cum_before,
           CAST(floor(cum_before / 65536) AS BIGINT) AS bin_id
    FROM c
    """,
)
def layout_compaction_bins(spark, sf_dir):
    """Small-files compaction plan: pack documents into ~64 KiB
    output bins per source partition by running-size cursor (bin =
    cumulative-bytes-before ÷ target) — the streaming first-fit every
    lakehouse OPTIMIZE/compaction pass uses, as pure window
    arithmetic.  Deterministic: the pack order is the unique doc_id,
    sizes are exact ints.  Per-source windows keep the sort local to
    a partition — no global order, so the planner itself scales with
    the partition, not the table.  Completes the layout family next
    to zorder keys (layout_zorder_key) and footer-based skipping
    (sources/layout.py)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.sum("n_chars").over(w) - F.col("n_chars")).alias("cum_before"),
    )
    return c.withColumn(
        "bin_id", F.floor(F.col("cum_before") / 65536).cast("long")
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH
# ---------------------------------------------------------------------------


@register(
    "ann_lsh_multiprobe_topk",
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
    probes AS (
      SELECT vec_id, v, nrm,
             CASE WHEN k.k = 0 THEN bucket
                  ELSE substr(bucket, 1, k.k - 1)
                       || (CASE substr(bucket, k.k, 1)
                             WHEN '1' THEN '0' ELSE '1' END)
                       || substr(bucket, k.k + 1)
             END AS probe
      FROM n CROSS JOIN unnest(range(0, 9)) k(k)
      WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({_sql_dot('q', 'c')} AS DOUBLE)
               / (q.nrm * c.nrm) AS cosine_sim
      FROM probes q JOIN n c ON q.probe = c.bucket AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id) AS rank
          FROM scored) t
    WHERE rank <= 3
    """,
)
def ann_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH ANN (Lv et al., VLDB 2007): each query (vec_id
    < 10) probes its own sign-bucket PLUS the 8 one-bit-flip
    neighbors — the recall of ~9 hash tables from ONE table, because
    near-misses land in buckets at Hamming distance 1.

    Scale shape: the query side fans out 9× (tiny), the corpus keeps
    one bucket row per vector, candidates meet via a plain equi-join
    on the probe key — never a cross join, and no extra index beyond
    the single bucket column.  A (query, neighbor) pair meets at most
    once: the 9 probe keys are distinct and the neighbor has one
    bucket, so no dedup is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    # fused bucket+norm corpus — one scan + one Arrow hop per side
    # (r13 optimization, see ann_lsh_topk)
    withb = lsim.bucketed_norm_corpus(emb, n_planes=8)
    probes = (
        withb.filter(F.col("vec_id") < 10)
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(8))))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("__qv"),
            F.col("nrm").alias("__qn"),
            F.when(F.col("k") == 0, F.col("bucket"))
            .otherwise(
                F.concat(
                    F.expr("substring(bucket, 1, k - 1)"),
                    F.when(F.expr("substring(bucket, k, 1)") == "1", "0").otherwise(
                        "1"
                    ),
                    F.expr("substring(bucket, k + 1)"),
                )
            )
            .alias("probe"),
        )
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("__cv"),
        F.col("nrm").alias("__cn"),
        F.col("bucket").alias("__cb"),
    )
    scored = (
        probes.join(
            c,
            (F.col("probe") == F.col("__cb"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cosine_sim",
            # nullif: zero-norm vectors → NULL cosine like DuckDB x/0
            lsim.dot_exact_vec(F.col("__qv"), F.col("__cv"))
            / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Count-min additive merge law
# ---------------------------------------------------------------------------


@register("sketch_cms_merge", _cms_oracle())
def sketch_cms_merge(spark, sf_dir):
    """Count-min MERGE: four per-shard sketches (doc_id mod 4)
    combined by plain per-cell ADDITION, then the same top-20 point
    estimates as sketch_count_min.  The oracle is the DIRECT global
    sketch, so a green row proves the additive merge law —
    merge(sketches(shards)) ≡ sketch(union) — the counter-table
    counterpart of the HLL max-merge law (sketch_hll_merge) and the
    theta min-merge (sketch_kmv_set_ops): together the three cover
    every mergeable-summary combinator a 100 TB rollup uses."""
    from dicomdb_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = docs.select(
        (F.col("doc_id") % 4).alias("shard"),
        F.explode(F.transform(text.tokens("text"), lambda t: F.lower(t))).alias(
            "item"
        ),
    ).persist()
    cells = F.explode(sketches.cms_cells(F.col("item"), 4, 2)).alias("cell")
    per_shard = (
        toks.select("shard", cells)
        .select("shard", F.col("cell.d").alias("d"), F.col("cell.col").alias("col"))
        .groupBy("shard", "d", "col")
        .agg(F.count("*").alias("c"))
    )
    merged = per_shard.groupBy("d", "col").agg(F.sum("c").alias("c"))
    true_c = toks.groupBy("item").agg(F.count("*").alias("true_c"))
    # top-20 via distributed TakeOrdered (per-partition heaps), never
    # a single-partition row_number over the vocabulary
    top = true_c.orderBy(F.col("true_c").desc(), F.col("item")).limit(20)
    est = sketches.count_min_estimate(merged, top, "item", depth=4, width_chars=2)
    return top.join(est, "item").select(
        "item", "true_c", F.col("est_c").cast("long").alias("est_c")
    )


# ---------------------------------------------------------------------------
# LSH band-tuning sweep
# ---------------------------------------------------------------------------


def _band_tuning_oracle() -> str:
    selects = []
    for bands in (2, 4, 8):
        rows = 16 // bands
        selects.append(
            f"""SELECT {bands} AS bands, {rows} AS rows_per_band,
           (WITH {_minhash_pairs_cte(16, bands).split('WITH ', 1)[1]}
            SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_candidates"""
        )
    return "\n    UNION ALL\n    ".join(selects)


@register("dedup_band_tuning", _band_tuning_oracle())
def dedup_band_tuning(spark, sf_dir):
    """LSH banding parameter sweep in ONE pass: candidate-pair counts
    for (bands, rows) ∈ {(2,8), (4,4), (8,2)} over the SAME 16
    minhash values — the S-curve knob every LSH deployment tunes
    (more bands → higher recall AND more candidates; the counts are
    the cost side of that trade).  The signature table computes once
    and is persisted; each configuration re-bands the cached
    signatures, so the sweep costs three band-joins, not three
    signature passes."""
    docs2 = _docs_with_dupes(spark, sf_dir)
    sig = ldedup.minhash_signature_table(
        docs2,
        "doc_id",
        "text",
        num_hashes=16,
        min_parallelism=local_fanout(spark),
    ).persist()
    out = None
    for bands in (2, 4, 8):
        pairs = ldedup.lsh_pairs_from_signatures(sig, num_hashes=16, bands=bands)
        row = pairs.agg(F.count("*").alias("n_candidates")).select(
            F.lit(bands).alias("bands"),
            F.lit(16 // bands).alias("rows_per_band"),
            F.col("n_candidates"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Join-size estimation from count-min inner products
# ---------------------------------------------------------------------------


def _join_size_oracle(depth: int = 4, width_chars: int = 2) -> str:
    from dicomdb_spark.functions.sketches import sql_cms_col

    col_of = lambda item: sql_cms_col(item, "d.d", width_chars)  # noqa: E731
    return f"""
    WITH rows_ AS (SELECT unnest(range(0, {depth})) AS d),
    a AS (
      SELECT d.d, {col_of("CAST(o.o_orderkey AS VARCHAR)")} AS col,
             count(*) AS c
      FROM orders o CROSS JOIN rows_ d GROUP BY 1, 2),
    b AS (
      SELECT d.d, {col_of("CAST(l.l_orderkey AS VARCHAR)")} AS col,
             count(*) AS c
      FROM lineitem l CROSS JOIN rows_ d GROUP BY 1, 2),
    ip AS (
      SELECT a.d, CAST(SUM(a.c * b.c) AS BIGINT) AS est
      FROM a JOIN b ON a.d = b.d AND a.col = b.col
      GROUP BY 1),
    est AS (SELECT CAST(min(est) AS BIGINT) AS est_size FROM ip),
    tru AS (
      SELECT CAST(count(*) AS BIGINT) AS true_size
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
    SELECT t.true_size, e.est_size,
           CAST(e.est_size AS DOUBLE) / t.true_size AS over_ratio
    FROM tru t, est e
    """


@register("sketch_join_size", _join_size_oracle())
def sketch_join_size(spark, sf_dir):
    """Join-size estimation WITHOUT running the join: the inner
    product of two count-min counter tables over the join key
    (Alon-Matias-Szegedy 1996 / Cormode-Muthukrishnan 2005 — the
    classic sketch-based cardinality estimate a cost-based planner
    uses to choose join strategies).  est = min over rows of
    Σ_cells a·b, always ≥ truth; the true size rides along for error
    visibility.  Two constant-size (4×256) sketches join cell-to-cell
    — the estimate costs O(sketch), not O(data), which is the point
    at 100 TB: you can afford it per candidate join order."""
    from dicomdb_spark.functions import sketches

    a_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("item")
    )
    b_keys = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("item")
    )
    cms_a = sketches.count_min(a_keys, "item", depth=4, width_chars=2)
    cms_b = sketches.count_min(b_keys, "item", depth=4, width_chars=2)
    ip = (
        cms_a.alias("a")
        .join(
            cms_b.alias("b"),
            (F.col("a.d") == F.col("b.d")) & (F.col("a.col") == F.col("b.col")),
        )
        .groupBy(F.col("a.d").alias("d"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("est"))
    )
    est = ip.agg(F.min("est").cast("long").alias("est_size"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    tru = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).agg(
        F.count("*").alias("true_size")
    )
    return tru.crossJoin(F.broadcast(est)).select(
        "true_size",
        "est_size",
        (F.col("est_size").cast("double") / F.col("true_size")).alias("over_ratio"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


@register(
    "w_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    c AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM s WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    tot AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / tot.t AS p
    FROM c JOIN tot USING (prev_type)
    """,
)
def w_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: counts and conditional probabilities P(next | current)
    — the user-journey / pathing analysis primitive.  One lag window
    per user (the only data shuffle), one pair count over the
    |types|² ≤ 25-row state, probabilities as single exact divisions
    of integer pairs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = c.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return c.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("t")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficients on the dup graph
# ---------------------------------------------------------------------------


def _triangles_oracle() -> str:
    return f"""
    {_minhash_pairs_cte()},
    deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT id1 AS doc_id FROM pairs
        UNION ALL SELECT id2 FROM pairs) t
      GROUP BY 1),
    tri AS (
      SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.id1 = e1.id2
      JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
    pv AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) t
      GROUP BY 1)
    SELECT d.doc_id, d.degree,
           CAST(coalesce(pv.n_tri, 0) AS BIGINT) AS n_tri,
           CASE WHEN d.degree >= 2
             THEN CAST(2 * coalesce(pv.n_tri, 0) AS DOUBLE)
                  / (d.degree * (d.degree - 1))
             ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN pv ON pv.doc_id = d.doc_id
    """
