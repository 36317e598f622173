#!/usr/bin/env python3
"""Benchmark entry point: runs one workload with a seed and prints its metrics.

    python3 perfbench/run.py --workload {ingest,neardup} --seed N \
        --seconds S --trace {0,1}

Closed loop, one client: each operation starts after the previous one
returns, on ``local[nproc]`` in this process.  Set-up (session start,
seeded input generation, an untimed warm-up that ends with one pass of
the measured form) is timed apart from the measured passes:
``--seconds`` worth of them on a 4-core host, as a count fixed by
``--seconds`` and a nominal pass time.  Outputs are checked outside
the timed region.  The last stdout line is the result JSON; the line
before it carries the run's detail (execution shape, CPU probe, idle
guard, input hashes, per-operation times).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced pass (see ``perfbench/trace.py``).

Workloads: see ``perfbench/workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# input sizes per workload (fixed: a run's size never depends on the seed)
INGEST_EXAMS = 6
NEARDUP = {"docs": 1000, "vecs": 1000, "hot": 600}
GEN_REPEATS = 3
# nominal wall time of one warm pass of either workload on a 4-core host
PASS_S = 8.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "neardup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: set-up, measured passes, checks."""

    def __init__(self, args, work, spark, session_s: float) -> None:
        from perfbench.common import RssSampler, jvm_pid

        self.args = args
        self.work = work
        self.spark = spark
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.rss = RssSampler(jvm_pid(spark))
        self.trace_finish = None  # set by a traced run: events -> metrics

    def pass_count(self) -> int:
        """How many passes make ``--seconds`` on a 4-core host (at least two)."""
        return max(2, round(self.args.seconds / PASS_S))

    def op(self, label: str, fn, *a):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
            self.failed += 1
            self.failures.append(f"{label}: {traceback.format_exc(limit=3)[-600:]}")
            return None

    def verdict(self, label: str, ok: bool, info=None) -> None:
        """Record an output check: a wrong output counts as a failure."""
        if not ok:
            self.failed += 1
            self.failures.append(f"{label}: wrong output {info}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    # the engine and the repo's bench helpers must be importable: in a
    # directory holding only the benchmark this fails before any result
    import bench
    from perfbench.common import Workdir, result_line, start_spark, stop_spark, timed

    guard = bench.idle_guard(max_wait_s=0)
    probe_s = bench.cpu_probe()
    work = Workdir()
    spark = None
    try:
        session_s, spark = timed(
            start_spark, work, f"perfbench_{args.workload}", bool(args.trace)
        )
        run = Run(args, work, spark, session_s)
        with run.rss:
            if args.workload == "ingest":
                from perfbench.workloads import run_ingest as go
            else:
                from perfbench.workloads import run_queries as go
            metrics = go(run)
        run.detail.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "cpu_probe_s": probe_s,
                "idle_guard": guard,
                "error_rate": run.failed / max(run.attempted, 1),
                "failures": run.failures[:5],
            }
        )
        if spark is not None:
            stop_spark(spark)
            spark = None
        if args.trace:
            from perfbench.trace import load_events

            metrics = run.trace_finish(load_events(work.sub("eventlog")))
    finally:
        if spark is not None:
            stop_spark(spark)
        work.close()
    print(json.dumps({"detail": run.detail}, default=str))
    print(
        result_line(
            correct=run.failed == 0,
            attempted=max(run.attempted, 1),
            failed=run.failed,
            metrics=metrics,
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
