"""Local twin of the driver's correctness gate.

For every (query, oracle) pair: run the Spark query and the DuckDB SQL
at sf0.01, normalize (``parity.canon_rows``: columns sorted by name,
rows sorted by all values), and compare values exactly.  This is
intentionally *stricter* than a tolerance check — the engine's queries
are designed for bitwise determinism (see registry.py docstring).
"""

from __future__ import annotations

import pytest

from dicomdb_spark.parity import SF_CORRECT, canon_rows, oracle_con
from dicomdb_spark.registry import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, name):
    sdf = QUERIES[name](spark, SF_CORRECT)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = oracle_con(SF_CORRECT)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_norm = canon_rows(spark_rows, spark_cols)
    d_norm = canon_rows(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first diffs: {mismatches[:3]}"


# Oracles that ran out of a 3 GB DuckDB memory limit at sf0.01 while
# their label-propagation, BFS and k-core chains were inlined (each
# round re-ran every earlier one) or a vector sum was a correlated
# per-dimension subquery (one row per pair and dimension).  The test
# holds them to that 3 GB, below oracle_con's own cap, so an oracle
# that creeps back toward the cap fails here first.
_ITERATIVE_MEMORY_LIMIT = "3GB"
_ITERATIVE = (
    "corpus_dedup_pipeline",
    "corpus_dedup_survivorship",
    "corpus_dup_cluster_sizes",
    "corpus_semantic_dedup_pipeline",
    "dedup_components",
    "graph_bfs_hops",
    "graph_harmonic_centrality",
    "graph_kcore",
    "graph_modularity",
)


@pytest.mark.parametrize("name", _ITERATIVE)
def test_iterative_oracle_fits_memory_cap(name):
    """DuckDB only: the oracle finishes inside a 3 GB memory limit."""
    con = oracle_con(SF_CORRECT)
    con.execute(f"SET memory_limit = '{_ITERATIVE_MEMORY_LIMIT}'")
    assert con.execute(ORACLES[name]).fetchall()
    con.close()


def test_all_queries_have_oracles_or_are_flagged():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops are allowed to miss an oracle; keep the
    # list explicit so nothing goes missing silently
    allowed_missing = set()
    assert missing <= allowed_missing, f"queries without oracle: {missing}"
