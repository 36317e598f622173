"""The traced run: per-layer metrics of one extra, traced pass.

After the run's untraced passes, the traced run makes one more pass
with spans around each layer call and every Spark job tagged
``<workload>/traced/<span>``, then (ingest only) times the cumulative
stage prefixes of the cold import into the ``noop`` sink.  Spark and
Arrow/Python counters come from the session's event log, read after the
session stops; each task is attributed to a span through its job's
``spark.job.description`` (or, for the stream's micro-batches, through
the query's run id).  ``trace.overhead_s`` is the traced pass's wall
time minus the median untraced pass of the same run.  The detail
line's ``trace.kernel_share`` gives the share of the traced pass spent
in the header parser (ingest) or in the pair-kernel node (neardup).

Layer names are the engine's module names.  A layer that a workload
does not call reports 0.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from perfbench.common import Spans, median

# (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    ("inventory.self_s", "s"),
    ("inventory.tasks", "count"),
    ("inventory.files_kept", "count"),
    ("inventory.files_dropped", "count"),
    ("dicom.self_s", "s"),
    ("dicom.rows_parsed", "count"),
    ("dicom.corrupt_rows", "count"),
    ("pipeline.parse_passes", "ratio"),
    ("pipeline.serie_self_s", "s"),
    ("pipeline.exam_self_s", "s"),
    ("stacks.self_s", "s"),
    ("stacks.shuffle_bytes", "bytes"),
    ("stacks.stacks_out", "count"),
    ("joins.self_s", "s"),
    ("joins.inserts", "count"),
    ("joins.updates", "count"),
    ("joins.noops", "count"),
    ("jdbc.statements", "count"),
    ("jdbc.exec_s", "s"),
    ("jdbc.connections", "count"),
    ("jdbc.rows_written", "count"),
    ("incremental.batches", "count"),
    ("incremental.self_s", "s"),
    ("query.build_s", "s"),
    ("query.cold_s", "s"),
    ("spark.tasks", "count"),
    ("spark.scan_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("python.sent_bytes", "bytes"),
    ("python.returned_bytes", "bytes"),
    ("python.run_s", "s"),
    ("python.start_s", "s"),
    ("llm.pair_rows", "count"),
    ("llm.pairs_kept_ratio", "ratio"),
    ("trace.pass_s", "s"),
    ("trace.overhead_s", "s"),
)

_PY_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
}


def load_events(eventlog_dir: str) -> list[dict]:
    """Every event of the session's log: a plain file, or Spark's
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    events: list[dict] = []
    if not os.path.isdir(eventlog_dir):
        return events

    def part_no(name: str) -> int:
        try:
            return int(name.split("_")[1])
        except (IndexError, ValueError):
            return 0

    for dirpath, _, files in sorted(os.walk(eventlog_dir)):
        for name in sorted(files, key=part_no):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


class EventLog:
    """Task counters and SQL-metric updates, attributable to job
    descriptions, and the plan node behind every SQL metric."""

    def __init__(self, events: list[dict]) -> None:
        self.stage_desc: dict[int, str] = {}
        # accumulator id -> (node name, node string, metric name, metric type)
        self.acc_meta: dict[int, tuple[str, str, str, str]] = {}
        self.acc_name: dict[int, str] = {}
        self.stack_exchange_accs: set[int] = set()
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                for sid in e.get("Stage IDs", []):
                    self.stage_desc[sid] = desc
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                self._walk(e["sparkPlanInfo"], False)
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)

    def _walk(self, node: dict, under_stacks: bool) -> None:
        name, text = node.get("nodeName", ""), node.get("simpleString", "")
        for m in node.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (name, text, m["name"], m["metricType"])
        if name == "MapInPandas" and "_assemble_partition" in text:
            under_stacks = True
        elif under_stacks and name.startswith("Exchange"):
            # the shuffle feeding the stack assembly
            self.stack_exchange_accs.update(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m["name"] == "shuffle bytes written"
            )
            under_stacks = False
        for child in node.get("children", []):
            self._walk(child, under_stacks)

    def totals(self, select) -> tuple[Counter, dict[str, Counter]]:
        """Counters over the tasks whose job description passes
        ``select``; plus per-description updates of every SQL metric."""
        out: Counter = Counter()
        per_desc: dict[str, Counter] = {}
        for e in self.tasks:
            desc = self.stage_desc.get(e.get("Stage ID"), "")
            if not select(desc):
                continue
            tm = e.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.scan_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            out["spark.shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out["spark.shuffle_fetch_wait_s"] += (
                (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
            )
            out["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            out["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            out["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            accs = per_desc.setdefault(desc, Counter())
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") != "sql":
                    continue
                try:
                    accs[a["ID"]] += int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                self.acc_name.setdefault(a["ID"], a.get("Name", ""))
        # the writers' foreachPartition jobs carry no plan, so the Python
        # metrics are found by the name each task reports
        for accs in per_desc.values():
            for acc, v in accs.items():
                key = _PY_METRICS.get(self.acc_name.get(acc))
                if key is None:
                    continue
                if key.endswith("_s"):
                    meta = self.acc_meta.get(acc)
                    v /= 1e9 if meta and meta[3] == "nsTiming" else 1e3
                out[key] += v
        return out, per_desc

    def node_sum(self, accs: Counter, node: str, marker: str, metric: str) -> float:
        """Sum of ``metric`` over plan nodes named ``node`` whose text
        contains ``marker``; timing metrics in seconds."""
        total = 0.0
        for acc, v in accs.items():
            m = self.acc_meta.get(acc)
            if m and m[0] == node and marker in m[1] and m[2] == metric:
                total += v / {"nsTiming": 1e9, "timing": 1e3}.get(m[3], 1)
        return total


def _zeros() -> dict:
    return {name: 0 for name, _ in PER_LAYER}


def _report(values: dict) -> dict:
    return {name: (values[name], unit) for name, unit in PER_LAYER}


def _noop_write_s(df) -> float:
    """Wall time of one write of ``df`` to the noop sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# -- ingest -----------------------------------------------------------------


def trace_ingest(run, wl, passes: list[dict]):
    """Traced ingest pass, stage prefixes and counts; returns the
    function that turns the event log into the per-layer metrics."""
    import duckdb
    from pyspark.sql import functions as F

    from dicomdb_spark import pipeline as P
    from dicomdb_spark.functions.scalars import time_str_to_sec
    from dicomdb_spark.operators.stacks import assemble_stacks
    from dicomdb_spark.sources.dicom import parse_headers
    from dicomdb_spark.sources.inventory import (
        is_dicom_magic,
        path_name_filters,
        regex_descent,
        scan_files,
        split_tree_levels,
    )
    from perfbench.ingest import (
        EXAM_COMPARE,
        EXAM_KEYS,
        ParseCounter,
        exam_rows,
        read_jdbc_stats,
    )

    spark = run.spark
    v = _zeros()
    spans = Spans(spark, "ingest", f"{run.args.seed}")

    def snapshot(path):
        con = duckdb.connect(path, read_only=True)
        try:
            exams = {r[:2]: r[2:] for r in con.execute("SELECT * FROM exam").fetchall()}
            series = {r[:3]: r[3:5] for r in con.execute("SELECT * FROM serie").fetchall()}
        finally:
            con.close()
        return exams, series

    # 1. the traced pass
    connect = wl.fresh_db(stats=True)
    cold_parser = ParseCounter(connect.db_path + ".parse-cold")
    wave_parser = ParseCounter(connect.db_path + ".parse-wave2")
    with spans.span("traced"):
        with spans.span("cold_import"):
            classified = run.op("traced cold_import", wl.cold_import, connect, cold_parser)
    exams0, series0 = snapshot(connect.db_path)
    with spans.span("traced"):
        with spans.span("reimport"):
            query = run.op("traced reimport", wl.reimport, connect, wave_parser)
    exams1, series1 = snapshot(connect.db_path)
    if classified is None or query is None:
        return lambda events: _report(v)  # the failures are counted
    run.verdict("traced pass", sorted(k + e for k, e in exams1.items()) == wl.expected((1, 2)))
    cold_s, reimport_s = spans.total("cold_import"), spans.total("reimport")
    v["trace.pass_s"] = cold_s + reimport_s
    v["trace.overhead_s"] = v["trace.pass_s"] - median([p["pass_s"] for p in passes])

    # 2. counts outside the timed pass
    sc = spark.sparkContext
    sc.setJobDescription("ingest/counts")
    actions = {r["action"]: r["count"] for r in classified.groupBy("action").count().collect()}
    new_exams = exams1.keys() - exams0.keys()
    changed = {k for k in exams0.keys() & exams1.keys() if exams0[k] != exams1[k]}
    touched = {series1[k] for k in series1.keys() - series0.keys()}
    v["joins.inserts"] = actions.get("insert", 0) + len(new_exams)
    v["joins.updates"] = actions.get("update", 0) + len(changed)
    v["joins.noops"] = actions.get("noop", 0) + len(touched - new_exams - changed)
    scan = scan_files(spark, wl.tree, glob="*")
    sniffed = regex_descent(path_name_filters(split_tree_levels(scan))).filter(is_dicom_magic())
    v["inventory.tasks"] = scan.rdd.getNumPartitions()
    v["inventory.files_kept"] = sniffed.count()
    v["inventory.files_dropped"] = scan.count() - v["inventory.files_kept"]
    cold_rows, cold_corrupt = cold_parser.counts()
    cold_parse_s = cold_parser.seconds()
    wave_rows, wave_corrupt = wave_parser.counts()
    v["dicom.rows_parsed"] = cold_rows + wave_rows
    v["dicom.corrupt_rows"] = cold_corrupt + wave_corrupt
    if v["inventory.files_kept"]:
        v["pipeline.parse_passes"] = cold_rows / v["inventory.files_kept"]
    jdbc = read_jdbc_stats(connect.stats_path)
    for k in ("statements", "exec_s", "connections", "rows_written"):
        v[f"jdbc.{k}"] = jdbc[k]
    progress = query.recentProgress
    v["incremental.batches"] = len(progress)
    v["incremental.self_s"] = reimport_s - sum(
        p["durationMs"].get("addBatch", 0) for p in progress
    ) / 1e3
    stream_run = str(query.runId)
    wl.drop_db(connect)

    # 3. cumulative stage prefixes of the cold import, into noop
    headers = parse_headers(sniffed)

    def prefix(stage, df):
        sc.setJobDescription(f"ingest/prefix/{stage}")
        return _noop_write_s(df)

    h = headers.withColumn(
        "acq_seconds", time_str_to_sec(F.col("AcquisitionTimeRaw")).cast("double")
    )
    stacks = assemble_stacks(
        h.select("SeriesInstanceUID", "SeriesNumber", "EchoTime", "path",
                 "InstanceNumber", "acq_seconds")
    )
    serie = P.build_serie_frame(headers)
    exam = exam_rows(serie)
    empty = spark.createDataFrame([], exam.schema)
    t = {
        "sniff": prefix("sniff", sniffed),
        "parse": prefix("parse", headers),
        "stacks": prefix("stacks", stacks),
        "serie": prefix("serie", serie),
        "exam": prefix("exam", exam),
        "classify": prefix(
            "classify", P.classify_against_db(exam, empty, EXAM_KEYS, EXAM_COMPARE)
        ),
    }
    sc.setJobDescription(None)
    v["inventory.self_s"] = t["sniff"]
    v["dicom.self_s"] = t["parse"] - t["sniff"]
    v["stacks.self_s"] = t["stacks"] - t["parse"]
    v["pipeline.serie_self_s"] = t["serie"] - t["stacks"]
    v["pipeline.exam_self_s"] = t["exam"] - t["serie"]
    v["joins.self_s"] = t["classify"] - t["exam"]
    run.detail["trace"] = {
        "prefix_s": t,
        "traced_cold_s": cold_s,
        "traced_reimport_s": reimport_s,
        "spans": spans.rows,
    }

    def finish(events: list[dict]) -> dict:
        log = EventLog(events)
        traced = lambda d: d.startswith("ingest/traced") or stream_run in d  # noqa: E731
        totals, _ = log.totals(traced)
        v.update({k: totals[k] for k in totals if k in v})
        # the writers' jobs carry no plan; the stack assembly's output
        # rows and input shuffle are read from its prefix (one write)
        _, per_desc = log.totals(lambda d: d == "ingest/prefix/stacks")
        accs = per_desc.get("ingest/prefix/stacks", Counter())
        v["stacks.stacks_out"] = int(
            log.node_sum(accs, "MapInPandas", "_assemble_partition", "number of output rows")
        )
        v["stacks.shuffle_bytes"] = sum(accs[a] for a in log.stack_exchange_accs)
        # how much of the cold import the parse costs: the parser
        # function's share of task time, and the parse operator's
        # (one parse prefix per parse pass) share of wall time
        cold, _ = log.totals(lambda d: d.startswith("ingest/traced/cold_import"))
        run.detail["trace"]["kernel_share"] = {
            "parse_task_s": cold_parse_s,
            "executor_run_s": cold["spark.executor_run_s"],
            "parser_share": cold_parse_s / cold["spark.executor_run_s"]
            if cold["spark.executor_run_s"] else 0,
            "parse_operator_share": v["pipeline.parse_passes"] * v["dicom.self_s"] / cold_s,
        }
        return _report(v)

    return finish


# -- neardup ----------------------------------------------------------


def trace_queries(run, wl, cold: dict, passes: list[dict]):
    """Traced query pass; returns the event-log -> metrics function."""
    v = _zeros()
    spans = Spans(run.spark, wl.name, f"{run.args.seed}")
    per = {}
    with spans.span("traced"):
        for name in wl.queries:
            with spans.span(name):
                per[name] = run.op(name, wl.run_query, name) or (0.0, 0.0)
    v["trace.pass_s"] = spans.total("traced")
    v["trace.overhead_s"] = v["trace.pass_s"] - median([p["pass_s"] for p in passes])
    v["query.build_s"] = sum(b for b, _ in per.values())
    v["query.cold_s"] = sum(c for _, c in cold.values())
    final_rows = {q: info["rows"] for q, info in run.detail.get("checks", {}).items()}
    run.detail["trace"] = {
        "query_s": {q: round(sum(bw), 4) for q, bw in per.items()},
        "spans": spans.rows,
    }
    prefix = f"{wl.name}/traced"

    def finish(events: list[dict]) -> dict:
        log = EventLog(events)
        totals, per_desc = log.totals(lambda d: d.startswith(prefix))
        v.update({k: totals[k] for k in totals if k in v})
        pair_rows, kept, pair_s = 0, 0, 0.0
        for desc, accs in per_desc.items():
            n = int(log.node_sum(accs, "FlatMapGroupsInPandas", "_pairs", "number of output rows"))
            pair_s += log.node_sum(
                accs, "FlatMapGroupsInPandas", "_pairs", "time to run Python workers"
            )
            if n:
                pair_rows += n
                kept += final_rows.get(desc.rsplit("/", 1)[-1], 0)
        v["llm.pair_rows"] = pair_rows
        v["llm.pairs_kept_ratio"] = kept / pair_rows if pair_rows else 0
        # how much of the pass's task time the pair-kernel node takes
        run.detail["trace"]["kernel_share"] = {
            "pair_task_s": pair_s,
            "executor_run_s": totals["spark.executor_run_s"],
            "share": pair_s / totals["spark.executor_run_s"]
            if totals["spark.executor_run_s"] else 0,
        }
        return _report(v)

    return finish
