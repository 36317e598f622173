"""Physical-plan introspection — the engine's performance contract.

At 100 TB a wrong plan is a wrong answer on a deadline: a fact-table
broadcast becomes an OOM, a missed pushdown becomes a full-table read.
These helpers turn ".explain and eyeball it" into assertions that run
in CI (tests/test_plans.py), so plan regressions fail like correctness
regressions.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan.  Every one of
    these moves the full intermediate over the network at scale."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and " Exchange" in line and "BroadcastExchange" not in line
    )


def count_broadcast_joins(df: DataFrame) -> int:
    # count only the detail-section entries ("(n) BroadcastHashJoin"),
    # not the tree rendering, which lists each join twice
    return sum(
        1
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("(") and line.strip().endswith("BroadcastHashJoin")
    )


def count_nested_loop_joins(df: DataFrame) -> int:
    # detail-section entries only, like count_broadcast_joins; note a
    # persisted loop-carried table re-renders its lineage per
    # reference, so iterative queries over-count RELATIVE TO EXECUTION
    # — bound those loosely or assert on broadcasts instead
    return sum(
        1
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("(")
        and line.strip().split(" ", 1)[-1].startswith("BroadcastNestedLoopJoin")
    )


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — the column-pruning check.
    A scan whose schema lists columns the query never uses is reading
    bytes for nothing (the moral equivalent of the reference parsing
    pixel data it never looks at)."""
    out = []
    for line in formatted_plan(df).splitlines():
        s = line.strip()
        if s.startswith("ReadSchema:"):
            out.append(s.removeprefix("ReadSchema:").strip())
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    out = []
    for line in formatted_plan(df).splitlines():
        s = line.strip()
        if s.startswith("PushedFilters:"):
            out.append(s.removeprefix("PushedFilters:").strip())
    return out


def assert_max_scan_columns(df: DataFrame, n: int) -> None:
    """Fail when any scan reads more than ``n`` columns."""
    for schema in scan_read_schemas(df):
        ncols = schema.count(":")
        assert ncols <= n, f"scan reads {ncols} cols (max {n}): {schema}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "plan contains a nested-loop/cartesian join"
    )


def pinned_hint_count(df: DataFrame) -> int:
    """Number of explicit join-strategy hints (``F.broadcast`` et al.)
    surviving analysis.  Pinned hints bypass both planner statistics
    and AQE's runtime size measurement, so they are reserved for
    provably bounded relations (constant-size dims like nation/region,
    single-row aggregates, fixed salt ranges, top-k id lists).  A hint
    on an SF-scaling table wins the local bench and OOMs the executors
    at 100× — tests budget these per query."""
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def aqe_final_plan(df: DataFrame) -> str:
    """Execute the query and return ONLY the adaptive final plan
    (everything before the ``== Initial Plan ==`` section).  This is
    the assertion surface for joins whose strategy is deliberately
    left to AQE: the static plan may show a conservative sort-merge
    (join-output size estimates compound multiplicatively), while the
    runtime plan upgrades to broadcast-hash once the build side is
    measured small.  Asserting on the final plan checks the contract
    that actually executes — at any scale.

    NOTE: must execute THIS DataFrame's own plan (``collect``) —
    ``df.count()`` builds a different query and leaves this plan's
    AQE state at ``isFinalPlan=false``."""
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s or "AdaptiveSparkPlan" not in s, s[:200]
    return s.split("== Initial Plan ==")[0]


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling) so far in this
    session's JVM: Janino compiles are counted by ``CodegenMetrics`` and
    timed by ``CodeGenerator.compileTime`` (ns).  A cache hit counts
    neither, so the delta over a repeated query is its recompile work;
    under a local master it covers the driver and the executors."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
