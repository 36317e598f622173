"""Shared core of the query registry: ``QUERIES``/``ORACLES``,
``register``, and the SQL fragments the DuckDB oracle twins share.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) ->
DataFrame`` with an ANSI-SQL twin that DuckDB runs over the same
parquet tables.  The driver hash-compares the two at sf0.01
(row-count + schema + order-insensitive value hash) — so every query
is written for *bitwise* determinism:

* double sums are floor-scaled int64 sums (``_dsum``, ``aggregates.dsum``),
* rankings always carry a unique tiebreak column,
* timestamps are TIMESTAMP_NTZ micros on both engines (io.py),
* double→int conversions use explicit ``floor`` (Spark casts truncate,
  DuckDB casts round — never rely on the implicit behavior).

How an oracle spells two recurring shapes is decided here, once:

* a fixed-point vector sum (``_sql_dot``, ``_sql_dist2``, ``_sql_norm``)
  is a ``list_sum(list_transform(...))`` lambda over the dimensions,
  never a correlated ``unnest(range(...))`` subquery;
* an unrolled fixed-iteration chain goes through ``_chain`` (every step
  ``AS MATERIALIZED``), and min-label propagation through
  ``_min_label_chain``.
"""

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


def _fanout(spark):
    """Composable form of the session-level local_fanout policy: a
    DataFrame.transform that repartitions for local small-file fan-out
    and is the identity on a cluster master."""
    n = local_fanout(spark)
    return lambda df: df.repartition(n) if n else df


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# SQL fragment helpers for the oracle side -------------------------------
def _dsum(expr: str, alias: str) -> str:
    """DuckDB twin of aggregates.dsum — exact floor-integer sum, double out."""
    return f"CAST(SUM(CAST(floor(({expr}) * 10000) AS BIGINT)) / 10000.0 AS DOUBLE) AS {alias}"


# DuckDB twins of llm/similarity.fixed_sum: the fixed-point dot and
# squared distance of the ``v`` columns of two aliases, and the exact
# L2 norm.  The product order ``x * y * 1e12`` is part of the formula.
# The sum over dimensions is a list lambda (``_fixed_sum``), never a
# correlated ``(SELECT SUM(...) FROM unnest(range(...)))``: DuckDB
# decorrelates that into one row per (pair, dimension), each carrying
# both vectors.  As with SQL SUM, NULL terms (a NULL element, or ``b``
# shorter than ``a``) drop out, and a sum with no other term is NULL.
def _fixed_sum(v: str, term: str) -> str:
    """Σ over i in 1..len(v) of the int64 ``floor(term)``; ``term``
    indexes the lists with the lambda variable ``i``."""
    return (
        f"list_sum(list_transform(range(1, len({v}) + 1), "
        f"i -> CAST(floor({term}) AS BIGINT)))"
    )


def _sql_dot(a: str, b: str) -> str:
    """fixed_sum(a.v, b.v) / 1e12: the fixed-point dot as a double."""
    return f"{_fixed_sum(f'{a}.v', f'{a}.v[i] * {b}.v[i] * 1e12')} / 1e12"


def _sql_dist2(a: str, b: str) -> str:
    """Σ floor((a.v − b.v)² · 1e12) as an exact integer — the squared
    distance in fixed-point units (twin of ``similarity.fixed_dist2_col``)."""
    d = f"({a}.v[i] - {b}.v[i])"
    return _fixed_sum(f"{a}.v", f"{d} * {d} * 1e12")


_SQL_DOT = _sql_dot("a", "b")


def _sql_norm(alias: str = "") -> str:
    """sqrt of the fixed-point self-dot of ``alias.v`` (bare ``v`` when
    no alias) — the twin of llm/similarity.fixed_norm."""
    v = f"{alias}.v" if alias else "v"
    return f"sqrt(CAST({_fixed_sum(v, f'{v}[i] * {v}[i] * 1e12')} / 1e12 AS DOUBLE))"


# Unrolled fixed-iteration oracles (label propagation, BFS relaxation,
# peeling, power iteration, k-means) are written once here.
def _chain(
    first: str, rounds: int, step: Callable[[int, str], dict[str, str]]
) -> tuple[str, str]:
    """Unroll ``rounds`` steps into ``AS MATERIALIZED`` CTEs.

    ``step(i, prev)`` gives round ``i``'s CTEs as ``{name: body}``; the
    last one is the round's state, read by the next round as ``prev``
    (``first`` in round 1).  Returns the comma-joined CTE text and the
    last state's name.  A state that the next round reads twice would
    otherwise be inlined twice, so each round would re-run all before it."""
    ctes, prev = [], first
    for i in range(1, rounds + 1):
        names = step(i, prev)
        ctes += [f"{name} AS MATERIALIZED ({body})" for name, body in names.items()]
        prev = list(names)[-1]
    return ",\n    ".join(ctes), prev


def _min_label_chain(col: str) -> tuple[str, str]:
    """Min-label propagation over the symmetric edge CTE ``e(src, dst)``
    — the SQL replay of dedup.min_label_components(iters=3), the rounds
    every caller runs.  ``l0`` labels each vertex ``col`` with itself;
    each round keeps the least label of the vertex and its neighbours.
    Returns (CTE text, last state's name)."""
    ctes, last = _chain("l0", 3, lambda i, prev: {f"l{i}": f"""
      SELECT v.{col}, least(v.lbl, coalesce(min(n.lbl), v.lbl)) AS lbl
      FROM {prev} v LEFT JOIN (
        SELECT e.dst AS {col}, l.lbl FROM e JOIN {prev} l ON e.src = l.{col}) n
      ON v.{col} = n.{col}
      GROUP BY v.{col}, v.lbl"""})
    return f"l0 AS (SELECT DISTINCT src AS {col}, src AS lbl FROM e),\n    {ctes}", last
