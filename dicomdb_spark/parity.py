"""Oracle-parity harness: every Spark-vs-DuckDB check goes through here.

Each registry query has a DuckDB twin in ``ORACLES``; a check runs both
over the same parquet sf-dir and compares canonicalized rows.  This
module holds the pieces every such check shares:

* ``oracle_con`` — a memory-capped DuckDB connection with one view per
  table.
* two canons, because two comparison rules are in use:
  ``canon_frame`` is the driver-shaped pandas rule (selfcheck, the
  benchmark's checked warm-up) and ``canon_rows`` the stricter row rule
  (the tier-1 parity test and the hostile-corpus sweeps).
* the four hostile corpora (``CORPORA``) — degenerate rows that natural
  testdata never contains (empty/whitespace/multi-byte text, NULLs,
  zero and duplicate vectors, DST wall times, childless TPC-H dims).
  Each writer puts parquet with the contract dtypes into an sf-dir, so
  the engine reads it through the real ``io.load_table`` path.
* ``tables_referenced`` — which testdata tables an oracle reads, used
  to pick the queries a corpus can answer.
* the hostile session both oracle scripts run under.
"""

from __future__ import annotations

import math
import os
import random
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from dicomdb_spark.io import TABLES
from dicomdb_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Per-connection DuckDB memory cap.  The largest oracle peaks at about
# 1.9 GB at sf0.01 (a_hodges_lehmann, a_theil_sen_daily); one that
# outgrows the cap raises DuckDB's OutOfMemoryException in its own
# check instead of growing the process until the host kills it.
ORACLE_MEMORY_LIMIT = "4GB"


def oracle_con(sf_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    """DuckDB connection, capped at ``ORACLE_MEMORY_LIMIT``, with
    ``tables`` registered as parquet views."""
    con = duckdb.connect(config={"memory_limit": ORACLE_MEMORY_LIMIT})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon_frame(df):
    """Driver-shaped canonicalization: sorted columns, sorted rows,
    repr-stringified values (floats kept at full repr precision)."""
    import pandas as pd  # noqa: F401

    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].map(repr)
    out = out.sort_values(by=cols).reset_index(drop=True)
    return out


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return repr(list(v))
    return repr(v)


def canon_rows(rows, cols) -> list[tuple[str, ...]]:
    """Strict row canon: columns ordered by name, each value repr'd
    (NaN as ``"NaN"``, lists and tuples as a list repr), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(row[i]) for i in order) for row in rows)


def tables_referenced(sql: str) -> frozenset[str]:
    """Testdata tables named as whole words in ``sql``."""
    low = sql.lower()
    return frozenset(t for t in TABLES if re.search(rf"\b{t}\b", low))


# ---------------------------------------------------------------------------
# Hostile corpora.  Each writer fills a fresh sf-dir and returns the
# tables it wrote; the same call always writes the same rows.
# ---------------------------------------------------------------------------

_DOCUMENTS = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
_EVENTS = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
_EMBEDDINGS = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def _write(sf_dir: str, table: str, columns: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(columns, schema=schema),
                   os.path.join(sf_dir, f"{table}.parquet"), version="2.6")


def write_documents(sf_dir: str) -> tuple[str, ...]:
    """Short, whitespace-only, token-less, repetitive, multi-byte and
    CJK texts, plus NULL text/lang/source/n_chars rows.

    Exposed the DuckDB 1.0.0 list_reduce ragged-lambda mis-binding
    (text_lz76_complexity), array_to_string([]) NULL vs '' (text_
    fingerprint, dedup_fingerprint, text_c4_clean), byte-vs-char frame
    slicing (multimodal_frame_sample) and ANSI divide-by-zero on
    degenerate graphs (graph_assortativity, graph_transitivity_ratio)."""
    rng = random.Random(42)
    texts = [
        "a",
        " ",                           # whitespace-only → zero tokens
        "   \t  ",
        "word",
        "two words",
        "x" * 300,                     # no-space long
        "the the the the the the",     # pure repetition
        "ab" * 100,
        "Hello, World! 123 456.789",
        "...!!!???",                   # punct only
        "0123456789" * 15,
        "café au lait — naïve résumé",  # multi-byte
        "日本語のテキストです。",         # CJK
        "mixed ascii y café",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
        "The quick brown fox jumps over the lazy dog. " * 8,
    ]
    texts += [
        " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "x", "42", "—"])
            for _ in range(rng.randint(1, 40))
        )
        for _ in range(24)
    ]
    n = len(texts)
    _write(sf_dir, "documents", {
        "doc_id": list(range(1, n + 4)),
        "text": texts + [None, "null text neighbor doc", None],
        "lang": [["en", "es", "de", "zh", "fr"][i % 5] for i in range(n)]
        + ["en", None, "de"],
        "source": [f"src{i % 3}" for i in range(n)] + ["src0", "src1", None],
        "n_chars": [len(t) for t in texts] + [None, 22, None],
    }, _DOCUMENTS)
    return ("documents",)


def write_events(sf_dir: str) -> tuple[str, ...]:
    """Lone, constant, burst and tied series, extreme and negative
    values, DST-boundary wall times, a constant evaluation window and a
    NULL-bearing series.

    Exposed a missing event-type filter (cdc_last_writer_state), the
    f5_ta_parse negative-residue round trip, the a_wilson_ci DECIMAL
    1-ULP drift, ANSI divide-by-zero on degenerate groups, DuckDB
    sqrt(negative) radicands, int64-headroom overflow in the moment
    kernels and NULL ordering (Spark ASC = NULLS FIRST, DuckDB ASC =
    NULLS LAST) in rank/median selections."""
    import datetime as dt

    rng = random.Random(99)
    rows = []

    def add(ts, user, etype, value, props='{"k": 1}'):
        rows.append((len(rows), ts, user, etype, value, props))

    add(dt.datetime(2024, 2, 1, 12, 0, 0), 1, "lonely", 5.0)
    for i in range(10):
        add(dt.datetime(2024, 1, 1 + i, 9, 30, 0), 2, "constant", 7.25)
    base = dt.datetime(2024, 3, 5, 0, 0, 0)
    for i in range(12):
        add(base + dt.timedelta(seconds=i // 3), 3, "burst", float(i))
    # extreme but inside the engine's documented cents-int64 domain
    for i in range(8):
        add(dt.datetime(2024, 4, 1 + i, 23, 59, 59), 4, "extreme",
            [-100.5, 0.0, 99999.99, -0.01, 3.0, 1 / 3, -50000.0, 2.5][i])
    for h in (0, 1, 2, 3, 4):
        add(dt.datetime(2024, 3, 10, h, 30, 0), 5, "dst", float(h))
        add(dt.datetime(2024, 11, 3, h, 30, 0), 5, "dst", float(h) + 10)
    add(dt.datetime(2024, 5, 1, 0, 0, 0), 6, "midnight", 1.0)
    # constant EVAL-window series: calibration rows before 2024-01-16
    # plus an all-constant tail after — w_cpk's sig_eval becomes
    # exactly 0.0 and cp/cpk must NULL identically
    for i, v in enumerate([10.0, 20.0, 30.0]):
        add(dt.datetime(2024, 1, 5 + i, 8, 0, 0), 10, "cpk_const_eval", v)
    for i in range(5):
        add(dt.datetime(2024, 1, 20 + i, 8, 0, 0), 10, "cpk_const_eval", 42.42)
    for i in range(20):
        add(dt.datetime(2024, 6, 1 + i % 5, 10 + i % 3, 0, 0), 7 + i % 2,
            "tie_a" if i % 2 else "tie_b", 50.0)
    for i in range(40):
        add(dt.datetime(2024, 7, 1, 0, 0, 0)
            + dt.timedelta(minutes=rng.randint(0, 60 * 24 * 30)),
            rng.randint(1, 9), "normal", round(rng.uniform(-50, 500), 2),
            '{"k": %d}' % rng.randint(0, 99))
    # NULL-bearing series: alternating NULL values + one NULL props
    for i in range(6):
        add(dt.datetime(2024, 8, 1 + i, 12, 0, 0), 11, "nullmix",
            None if i % 2 else float(10 * i),
            None if i == 4 else '{"k": %d}' % i)
    _write(sf_dir, "events",
           dict(zip(_EVENTS.names, map(list, zip(*rows)))), _EVENTS)
    return ("events",)


def write_embeddings(sf_dir: str) -> tuple[str, ...]:
    """Zero, constant, duplicate, antipodal, axis (10x and 1e-6
    magnitude) and tightly clustered vectors, plus a NULL embedding and
    a NULL label.  vec_id < 8 holds identical pairs, so k-means seeds
    collide and round-0 clusters come out empty.

    Exposed ANSI divide-by-zero cosines on zero-norm vectors, the
    emb_norm_outliers n-cubed int64 overflow, the JL zero-distance
    division and k-means cid renumbering.  Magnitudes beyond ~10x unit
    norm are outside the documented fixed-point embedding domain."""
    import numpy as np

    rng = np.random.RandomState(7)
    D = 64
    vecs, labels = [], []
    vecs.append(np.zeros(D)); labels.append(0)
    vecs.append(np.zeros(D)); labels.append(1)          # duplicate zero seed
    v = np.ones(D); vecs.append(v); labels.append(2)
    vecs.append(v.copy()); labels.append(2)             # duplicate ones seed
    vecs.append(-v); labels.append(3)
    e0 = np.zeros(D); e0[0] = 1.0
    vecs.append(e0); labels.append(4)
    vecs.append(e0 * 10.0); labels.append(4)
    vecs.append(e0 * 1e-6); labels.append(4)
    for i in range(40):
        vecs.append(rng.randn(D)); labels.append(int(i % 7))
    for i in range(10):
        vecs.append(v + rng.randn(D) * 1e-9); labels.append(8)
    embs = [[float(np.float32(t)) for t in x] for x in vecs]
    embs.append(None); labels.append(9)
    embs.append([float(np.float32(t)) for t in rng.randn(D)])
    labels.append(None)
    _write(sf_dir, "embeddings", {
        "vec_id": list(range(len(embs))), "embedding": embs, "label": labels,
    }, _EMBEDDINGS)
    return ("embeddings",)


# degenerate TPC-H rows appended to the real sf0.001 tables: childless
# customer/order/part/supplier, a nation with no customers, zero prices
# and quantities, discount/tax extremes on one order, all-equal dates
_TPCH_EXTRA = {
    "region": "SELECT CAST(99 AS INTEGER), ''",
    "nation": "SELECT CAST(98 AS INTEGER), 'GHOSTLAND', CAST(0 AS INTEGER)",
    "customer": """
      SELECT CAST(999901 AS BIGINT), 'childless customer', CAST(98 AS INTEGER),
             CAST(0.0 AS DOUBLE), 'BUILDING'
      UNION ALL
      SELECT CAST(999902 AS BIGINT), '', CAST(0 AS INTEGER),
             CAST(-999.99 AS DOUBLE), 'AUTOMOBILE'""",
    "supplier": "SELECT CAST(999903 AS BIGINT), 'childless supplier', "
                "CAST(98 AS INTEGER), CAST(0.0 AS DOUBLE)",
    "part": "SELECT CAST(999904 AS BIGINT), 'childless part', 'Brand#99', "
            "'ECONOMY ANODIZED GHOST', CAST(0 AS INTEGER), CAST(0.0 AS DOUBLE)",
    # order 9999905 is childless; 9999906 gets the degenerate lineitems
    "orders": """
      SELECT CAST(9999905 AS BIGINT), CAST(999902 AS BIGINT), 'F',
             CAST(0.0 AS DOUBLE), TIMESTAMP '1992-01-01 00:00:00', '1-URGENT'
      UNION ALL
      SELECT CAST(9999906 AS BIGINT), CAST(999902 AS BIGINT), 'O',
             CAST(0.01 AS DOUBLE), TIMESTAMP '1992-01-01 00:00:00', '5-LOW'""",
    "lineitem": """
      SELECT CAST(9999906 AS BIGINT), CAST(999904 AS BIGINT), CAST(999903 AS BIGINT),
             CAST(1 AS INTEGER), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), 'R', 'F',
             TIMESTAMP '1992-01-01 00:00:00'
      UNION ALL
      SELECT CAST(9999906 AS BIGINT), CAST(999904 AS BIGINT), CAST(999903 AS BIGINT),
             CAST(2 AS INTEGER), CAST(50.0 AS DOUBLE), CAST(104949.5 AS DOUBLE),
             CAST(0.1 AS DOUBLE), CAST(0.08 AS DOUBLE), 'N', 'O',
             TIMESTAMP '1992-01-01 00:00:00'""",
}


def write_tpch(sf_dir: str) -> tuple[str, ...]:
    """The seven sf0.001 TPC-H tables with degenerate rows appended.

    Exposed tpch_q2_shape and a_price_elasticity_ols dividing by a zero
    l_quantity (ANSI crash vs DuckDB NULL) and the elasticity slope
    denominators."""
    con = duckdb.connect()
    for table, extra in _TPCH_EXTRA.items():
        con.execute(
            f"COPY (SELECT * FROM '{SF_SMOKE}/{table}.parquet' UNION ALL {extra}) "
            f"TO '{sf_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return tuple(_TPCH_EXTRA)


CORPORA = {
    "documents": write_documents,
    "events": write_events,
    "embeddings": write_embeddings,
    "tpch": write_tpch,
}


# ---------------------------------------------------------------------------
# The session the oracle scripts (selfcheck.py, adversarial_check.py) run
# queries under.
# ---------------------------------------------------------------------------


def hostile_session(app_name: str):
    """``local[8]`` session built like ``session.get_spark``'s (worker
    daemon, one Python worker pool, codegen cache) but with a
    deliberately non-UTC timezone: the engine must reach parity under
    the driver's own session settings (``io.prepare`` switches to UTC
    on every table load)."""
    spark = get_spark(app_name, "local[8]", 8, {
        "spark.sql.session.timeZone": "America/New_York",
        # hundreds of queries share ONE JVM: localCheckpoint blocks from
        # the iterative queries linger until the driver GC lets the
        # ContextCleaner reap them, so the default 1g heap OOMs around
        # query ~400 of a full-registry run.  Env-tunable for small hosts.
        "spark.driver.memory": os.environ.get("SELFCHECK_DRIVER_MEM", "12g"),
        # Spark's default, as in a driver's own session: pandas
        # conversions (createDataFrame, toPandas) take the non-Arrow path
        "spark.sql.execution.arrow.pyspark.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release(spark) -> None:
    """Drop one query's state before the next: tracked pair caches,
    persists, and dead localCheckpoint RDDs (a Python GC lets the JVM
    ContextCleaner reap them)."""
    import gc

    from dicomdb_spark.llm.dedup import release_pair_caches

    release_pair_caches()
    spark.catalog.clearCache()
    gc.collect()
