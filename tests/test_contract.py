"""Driver-contract sanity: entry(), queries()/oracle_sql() invariants."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
from dicomdb_spark.operators.joins import merge_classify
from dicomdb_spark.parity import (
    CORPORA,
    SF_CORRECT,
    SF_SMOKE,
    canon_frame,
    canon_rows,
    oracle_con,
)
from dicomdb_spark.registry import QUERIES


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.schema.fields) >= 3


def test_registry_invariants():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 60
    # every oracle key exists as a query; non-oracle queries are the
    # explicitly-flagged pandas-UDF ops
    assert set(os_) <= set(qs)
    # round 4: every registered query now carries a DuckDB oracle
    assert set(qs) - set(os_) == set()
    # names are stable identifiers (driver uses them as filenames/keys)
    assert all(n.replace("_", "").isalnum() for n in qs)


def test_queries_order_front_first():
    # a correctness round checks only the head of queries(): the names
    # edited since their last CORRECTNESS row lead, then every other
    # query once, in registration order.  A duplicate or unregistered
    # FRONT name would silently shrink the fronted set.
    front = entry_mod.FRONT
    assert len(front) == len(set(front)), "duplicate FRONT entry"
    assert set(front) <= set(QUERIES), sorted(set(front) - set(QUERIES))
    fronted = set(front)
    rest = [n for n in QUERIES if n not in fronted]
    assert list(entry_mod.queries()) == [*front, *rest]


_DUCK_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
}

_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
}


def test_oracle_dtype_parity(spark):
    """The driver hashes values by repr after a pandas round-trip, so a
    DuckDB HUGEINT (SUM of BIGINT) that fetchdf() coerces to float64
    hash-mismatches an identical Spark int64 (17.0 vs 17).  Guard: every
    oracle output column's declared DuckDB type must map to the same
    repr class (int/float/str/bool/date/ts) as the Spark schema — and
    HUGEINT/DECIMAL/unsigned types are banned outright.

    Cheap: Spark schemas are lazy (no execution), DuckDB uses LIMIT 0.
    """
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    con = oracle_con(SF_SMOKE)
    problems = []
    for name, sql in os_.items():
        duck = {
            c: t
            for c, t, *_ in con.execute(
                f"DESCRIBE SELECT * FROM ({sql}) LIMIT 0"
            ).fetchall()
        }
        sdf = qs[name](spark, SF_SMOKE)
        sparkt = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        if set(duck) != set(sparkt):
            problems.append((name, "column-set", sorted(duck), sorted(sparkt)))
            continue
        for col, dt in duck.items():
            if dt not in _DUCK_CLASS:
                problems.append((name, col, f"banned duckdb type {dt}"))
            elif _DUCK_CLASS[dt] != _SPARK_CLASS.get(sparkt[col], sparkt[col]):
                problems.append(
                    (name, col, f"duckdb {dt} vs spark {sparkt[col]}")
                )
    assert not problems, problems


def test_merge_classify_self_is_noop(spark):
    """S7 idempotence: classifying a table against itself must produce
    only noops — the property that makes at-least-once redelivery safe
    (Cenir_DB.py:79-101)."""
    from dicomdb_spark.io import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    out = merge_classify(
        cust,
        cust,
        keys=["c_custkey"],
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        float_cols=["c_acctbal"],
    )
    assert out.filter(out.action != "noop").count() == 0


# ---------------------------------------------------------------------------
# Oracle-parity harness (dicomdb_spark/parity.py)
# ---------------------------------------------------------------------------


def test_canon_rows_rule():
    """NaN -> "NaN", None -> "None", lists and tuples -> list repr,
    everything else repr; columns by name; rows sorted."""
    nan = float("nan")
    cols = ["e", "a", "d", "b", "c"]
    rows = [(5, nan, [1.0, nan], None, ("x", 2)), (4, 0.1, [], "s", [])]
    want = [("0.1", "'s'", "[]", "[]", "4"),
            ("NaN", "None", "['x', 2]", "[1.0, nan]", "5")]
    assert canon_rows(rows, cols) == want
    # column order is irrelevant: permute columns and values together
    perm = [3, 0, 4, 2, 1]
    assert canon_rows([tuple(r[i] for i in perm) for r in rows],
                      [cols[i] for i in perm]) == want


def test_selfcheck_exports_canon_frame():
    """perfbench/queries.py does ``from selfcheck import canon``."""
    import selfcheck

    assert selfcheck.canon is canon_frame


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_corpus_writer_is_deterministic(corpus, tmp_path_factory):
    import pyarrow.parquet as pq

    def rows(sf_dir, t):
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        return canon_rows(list(zip(*(c.to_pylist() for c in tbl.columns))),
                          tbl.column_names)

    a, b = (str(tmp_path_factory.mktemp(corpus)) for _ in range(2))
    tables = CORPORA[corpus](a)
    assert CORPORA[corpus](b) == tables
    for t in tables:
        assert rows(a, t) and rows(a, t) == rows(b, t), t


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_corpus_writer_matches_contract_dtypes(corpus, tmp_path):
    """An injected corpus must carry the column names and Arrow types
    of the testdata table it stands in for."""
    import pyarrow.parquet as pq

    for t in CORPORA[corpus](str(tmp_path)):
        got = pq.read_schema(tmp_path / f"{t}.parquet")
        want = pq.read_schema(f"{SF_CORRECT}/{t}.parquet")
        assert [(f.name, f.type) for f in got] == [(f.name, f.type) for f in want], t


def test_selfcheck_exits_nonzero_on_failure(spark, monkeypatch, tmp_path):
    """selfcheck is a gate: a FAIL in full or named mode must exit
    non-zero, and an all-MATCH run zero."""
    import json

    import selfcheck

    oracle = "SELECT range AS id FROM range(2)"
    monkeypatch.setattr(selfcheck, "hostile_session", lambda app: spark)
    monkeypatch.setattr(entry_mod, "queries", lambda: {
        "good": lambda s, sf: s.range(2), "bad": lambda s, sf: s.range(3),
    })
    monkeypatch.setattr(entry_mod, "oracle_sql",
                        lambda: {"good": oracle, "bad": oracle})
    monkeypatch.chdir(tmp_path)

    def exit_code(*argv):
        with pytest.raises(SystemExit) as stop:
            selfcheck.main(list(argv))
        return stop.value.code

    assert exit_code("--tag", "t") == 1
    detail = json.loads((tmp_path / "SELFCHECK_t.json").read_text())["detail"]
    assert detail["good"]["match"] is True and detail["bad"]["match"] is False
    assert exit_code("bad") == 1
    assert exit_code("good") == 0
    assert exit_code("unregistered") == 1


def test_selfcheck_from_foreign_cwd(tmp_path):
    """selfcheck's checks, started outside the repo with no PYTHONPATH,
    under a foreign driver's own session (Spark's defaults plus a
    non-UTC timezone): its workers come from the stock daemon and cannot
    import the package, so every pandas UDF a query ships must pickle
    by value (the xlsx reader, the stack-assembly kernel, and the
    llm/similarity fixed-point kernel under the LSH and k-means UDFs).
    selfcheck's own session puts the package on the workers' path."""
    import os
    import subprocess

    repo = Path(__file__).resolve().parents[1]
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from pyspark.sql import SparkSession\n"
        "import selfcheck\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.sql.session.timeZone', 'America/New_York')\n"
        "         .config('spark.driver.memory', '2g')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "print('DAEMON', spark.sparkContext.getConf().get('spark.python.daemon.module', 'pyspark.daemon'))\n"
        "selfcheck.hostile_session = lambda app: spark\n"
        "selfcheck.main(sys.argv[2:])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script, str(repo), "s4_xlsx_roundtrip",
         "u3_stack_assembly", "ann_lsh_topk", "dedup_semantic_kmeans"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stdout[-3000:] + run.stderr[-3000:]
    assert "DAEMON pyspark.daemon" in run.stdout, run.stdout[-3000:]
    assert "4 queries: ALL MATCH" in run.stdout, run.stdout[-3000:]
