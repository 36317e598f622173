"""Set-up, measured passes and output checks of each workload.

A pass is one closed-loop sweep over the workload's operations:

* ingest — cold import of the tree, then the second-wave import;
* neardup — every query of the workload, in seed order, built and
  written to the ``noop`` sink.

End-to-end metrics (medians over the run's passes):

* ``setup_s`` — session start + median of the input generations +
  the untimed warm-up, which ends with one pass of the measured form;
* ``pass_cpu_s`` — CPU seconds (user + system) that the run's
  processes (this one, the JVM, its Python workers) spend on one pass;
* ``worker_peak_rss_mb`` — peak summed RSS of the Python worker
  processes during a pass.

The wall time of each pass (``pass_s``) is on the detail line.  On a
shared 4-vCPU VM it also counts the time the hypervisor gives this
VM's CPUs to others: over ten runs of the same code its quartiles lay
40-50% of the median apart.  The kernel leaves that time out of the
CPU times.
"""

from __future__ import annotations

import os
import time

from perfbench.common import median, timed, tree_cpu_s


def _generate(run, wl, repeats: int) -> float:
    """Generate the inputs ``repeats`` times (each afresh) and
    return the median time; records the inputs' content hashes."""
    times = [timed(wl.generate)[0] for _ in range(repeats)]
    run.detail["inputs"] = wl.input_hashes()
    return median(times)


def _timed_op(run, label: str, fn, *a) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = run.op(label, fn, *a)
    return time.perf_counter() - t0, out


END_TO_END = ("pass_cpu_s", "worker_peak_rss_mb", "setup_s")


def _end_to_end(setup_s: float, passes: list[dict]) -> dict:
    values = {
        "pass_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "worker_peak_rss_mb": (median([p["rss_mb"] for p in passes]), "MB"),
        "setup_s": (setup_s, "s"),
    }
    return {name: values[name] for name in END_TO_END}


def _pass_detail(passes: list[dict]) -> dict:
    """Per-pass figures for the detail line.  The per-operation
    statistics stay here: with two import phases or seven unequal
    queries a pass, they swing more from run to run than ``pass_s``."""
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        "pass_s_all": [round(p["pass_s"], 3) for p in passes],
        "cpu_s_all": [round(p["cpu_s"], 3) for p in passes],
        "op_p50_s": median([median(p["ops"]) for p in passes]),
        "op_samples": sum(len(p["ops"]) for p in passes),
        "rss_mb_all": [round(p["rss_mb"], 1) for p in passes],
    }


def _measure(run, one_pass) -> list[dict]:
    """Closed loop: ``--seconds`` worth of passes on this host, as a
    fixed count (``run.pass_count()``).  The JIT keeps warming for
    several passes, so a count that followed the machine's speed would
    put a slow run's median on earlier, slower passes."""
    passes = []
    me = os.getpid()
    for _ in range(run.pass_count()):
        run.rss.reset()
        c0 = tree_cpu_s(me)
        p = one_pass()
        p["cpu_s"] = tree_cpu_s(me) - c0
        p["rss_mb"] = run.rss.peak_mb()
        passes.append(p)
    return passes


# -- ingest -----------------------------------------------------------------


def ingest_pass(run, wl) -> dict:
    """Cold import into a fresh DB, then the second wave; each phase's
    DB end state is checked against the generator's spec."""
    from perfbench.ingest import db_exams

    connect = wl.fresh_db()
    cold_s, classified = _timed_op(run, "cold_import", wl.cold_import, connect)
    if classified is not None:
        got = db_exams(connect.db_path)
        run.verdict("cold_import", got == wl.expected((1,)), len(got))
    reimport_s, query = _timed_op(run, "reimport", wl.reimport, connect)
    final = db_exams(connect.db_path)
    if query is not None:
        run.verdict("reimport", final == wl.expected((1, 2)), len(final))
    return {
        "pass_s": cold_s + reimport_s,
        "ops": [cold_s, reimport_s],
        "cold_s": cold_s,
        "reimport_s": reimport_s,
        "final": final,
        "connect": connect,
    }


def run_ingest(run) -> dict:
    from perfbench.ingest import Ingest
    from perfbench.run import GEN_REPEATS, INGEST_EXAMS

    wl = Ingest(run.spark, run.work, run.args.seed, INGEST_EXAMS)
    gen_s = _generate(run, wl, GEN_REPEATS)
    warm_s, warm = timed(ingest_pass, run, wl)
    wl.drop_db(warm["connect"])
    setup_s = run.session_s + gen_s + warm_s

    def one_pass():
        p = ingest_pass(run, wl)
        wl.drop_db(p["connect"])
        return p

    passes = _measure(run, one_pass)
    # the cold import plus the second wave must converge to the batch
    # pipeline run over both waves at once
    batch = run.op("batch_both_waves", wl.batch_both_waves)
    if batch is not None:
        run.verdict("batch_both_waves", all(p["final"] == batch for p in passes), len(batch))
    n_files = wl.n_tree
    run.detail.update(
        {
            "files_tree": n_files,
            "files_wave2": wl.n_wave2,
            "exams": len(wl.expected((1, 2))),
            "passes": len(passes),
            "import_files_per_s": median([n_files / p["cold_s"] for p in passes]),
            "reimport_s": median([p["reimport_s"] for p in passes]),
            "cold_s": [round(p["cold_s"], 3) for p in passes],
            "reimport_s_all": [round(p["reimport_s"], 3) for p in passes],
            **_pass_detail(passes),
            "setup": {"session_s": run.session_s, "generate_s": gen_s, "warmup_s": warm_s},
        }
    )
    if run.args.trace:
        from perfbench.trace import trace_ingest

        run.trace_finish = trace_ingest(run, wl, passes)
    return _end_to_end(setup_s, passes)


# -- neardup ----------------------------------------------------------


def query_pass(run, wl) -> dict:
    per = {}
    for name in wl.queries:
        wall, bw = _timed_op(run, name, wl.run_query, name)
        per[name] = (wall, bw)
    walls = [w for w, _ in per.values()]
    return {"pass_s": sum(walls), "ops": walls, "per_query": per}


def run_queries(run) -> dict:
    from perfbench.queries import QueryWorkload
    from perfbench.run import GEN_REPEATS, NEARDUP

    wl = QueryWorkload(run.spark, run.work, run.args.seed, NEARDUP)
    gen_s = _generate(run, wl, GEN_REPEATS)
    # warm-up pass: each query's first run collects its rows, which are
    # then checked against the oracle (the check is not set-up time)
    warm_s = 0.0
    cold = {}
    checks = {}
    for name in wl.queries:
        t0 = time.perf_counter()
        res = run.op(f"warm {name}", wl.warm_and_check, name)
        if res is None:
            warm_s += time.perf_counter() - t0
            continue
        build_s, collect_s, ok, info = res
        warm_s += build_s + collect_s
        cold[name] = (build_s, collect_s)
        checks[name] = info
        run.verdict(f"check {name}", ok, info)
    # then one untimed pass of the measured form, as ingest's warm-up is:
    # the first pass after the collects still spends 25-40% more CPU
    # than the next, mostly in the JIT compiler
    warm_s += timed(query_pass, run, wl)[0]
    setup_s = run.session_s + gen_s + warm_s
    passes = _measure(run, lambda: query_pass(run, wl))
    run.detail.update(
        {
            "order": wl.queries,
            "passes": len(passes),
            "query_s": {
                n: round(median([p["per_query"][n][0] for p in passes]), 4)
                for n in wl.queries
            },
            **_pass_detail(passes),
            "checks": checks,
            "setup": {"session_s": run.session_s, "generate_s": gen_s, "warmup_s": warm_s},
        }
    )
    if run.args.trace:
        from perfbench.trace import trace_queries

        run.trace_finish = trace_queries(run, wl, cold, passes)
    return _end_to_end(setup_s, passes)
