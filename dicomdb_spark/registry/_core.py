"""Query registry: every SURVEY.md §2 operator as a named, oracle-checked query.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) ->
DataFrame`` with an ANSI-SQL twin that DuckDB runs over the same
parquet tables.  The driver hash-compares the two at sf0.01
(row-count + schema + order-insensitive value hash) — so every query
here is written for *bitwise* determinism:

* double sums go through DECIMAL casts (see ``aggregates.dsum``),
* rankings always carry a unique tiebreak column,
* timestamps are TIMESTAMP_NTZ micros on both engines (io.py),
* double→int conversions use explicit ``floor`` (Spark casts truncate,
  DuckDB casts round — never rely on the implicit behavior).
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
def _sql_dot(a: str, b: str) -> str:
    """fixed_sum(a.v, b.v) / 1e12: the fixed-point dot as a double."""
    return (
        f"(SELECT SUM(CAST(floor({a}.v[i.i] * {b}.v[i.i] * 1e12) AS BIGINT)) "
        f"FROM unnest(range(1, len({a}.v) + 1)) i(i)) / 1e12"
    )


def _sql_dist2(a: str, b: str) -> str:
    """Σ floor((a.v − b.v)² · 1e12) as an exact integer — the squared
    distance in fixed-point units (twin of ``similarity.fixed_dist2_col``)."""
    d = f"({a}.v[i.i] - {b}.v[i.i])"
    return (
        f"(SELECT SUM(CAST(floor({d} * {d} * 1e12) AS BIGINT)) "
        f"FROM unnest(range(1, len({a}.v) + 1)) i(i))"
    )


_SQL_DOT = _sql_dot("a", "b")


def _sql_norm(alias: str = "") -> str:
    """sqrt of the fixed-point self-dot of ``alias.v`` (bare ``v`` when
    no alias) — the twin of llm/similarity.fixed_norm."""
    v = f"{alias}.v" if alias else "v"
    return (
        f"sqrt(CAST((SELECT SUM(CAST(floor({v}[i.i] * {v}[i.i] * 1e12) AS BIGINT)) "
        f"FROM unnest(range(1, len({v}) + 1)) i(i)) / 1e12 AS DOUBLE))"
    )


