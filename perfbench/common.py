"""Shared plumbing: the work directory, the Spark session, the worker
RSS sampler, spans, and the result line.

Everything a run writes goes under ``<checkout>/.perfbench_work/<pid>``
(Spark's local and temp dirs included) and is deleted when the run
ends.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Workdir:
    """A per-run work directory inside the checkout."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still uses it


def start_spark(work: Workdir, app: str, trace: bool):
    """``local[nproc]`` session with matching shuffle partitions, all
    temporary files in the work dir, and the repo on the Python workers'
    import path.  The traced session also writes an uncompressed event
    log into the work dir."""
    from dicomdb_spark.session import get_spark

    n = os.cpu_count() or 1
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the work dir and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "spark.executorEnv.TMPDIR": tmp,
    }
    if trace:
        os.makedirs(work.sub("eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": work.sub("eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name=app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_table(zombies: bool = False) -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, start time, CPU time), in clock ticks, of
    every running process.  CPU time is user + system, the process's
    own plus that of the children it has reaped.  Exited processes not
    yet reaped (zombies) are left out unless ``zombies``."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name (field 2) may hold spaces: split after it
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if zombies or fields[0] not in ("Z", "X"):
            # stat fields 14-17: utime, stime, cutime, cstime
            cpu = sum(int(x) for x in fields[11:15])
            table[int(d)] = (int(fields[1]), int(fields[19]), cpu)
    return table


def _subtree(table: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    """The pids of ``table`` descending from ``root``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> dict[int, int]:
    """pid -> start time of every live process descending from ``root``."""
    table = _proc_table()
    return {pid: table[pid][1] for pid in _subtree(table, root)}


def _alive(procs: dict[int, int]) -> dict[int, int]:
    """The processes of ``procs`` still running (same pid, same start)."""
    table = _proc_table()
    return {p: t for p, t in procs.items() if p in table and table[p][1] == t}


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and every
    process descending from it.  An exited process counts through its
    parent's reaped-children time (until it is reaped, its own).  The
    kernel leaves out the time a hypervisor gave the CPU to others."""
    table = _proc_table(zombies=True)
    pids = [root, *_subtree(table, root)]
    return sum(table[p][2] for p in pids if p in table) * _TICK_S


def jvm_pid(spark) -> int:
    """The session's JVM, which this process started."""
    return spark.sparkContext._gateway.proc.pid


class RssSampler:
    """Background thread sampling, every ``interval`` seconds, the summed
    RSS of the Python workers this run's JVM started; keeps the peak
    (MiB) since the last ``reset()``."""

    def __init__(self, jvm: int, interval: float = 0.05) -> None:
        self.jvm = jvm
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self) -> None:
        pids: list[int] = []
        last_scan = 0.0
        while not self._stop.wait(self.interval):
            now = time.monotonic()
            if now - last_scan > 0.5:
                pids = list(descendants(self.jvm))
                last_scan = now
            total = sum(self._rss(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, total)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM and the Python workers the JVM
    started, and wait until every one of those processes has exited.
    No other process is signalled."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else {}
    spark.stop()
    if proc is not None:
        workers.update(descendants(proc.pid))
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers outlive the JVM by a moment (they see their socket
    # close); those still running at the deadline are killed
    deadline = time.monotonic() + timeout
    while workers := _alive(workers):
        if time.monotonic() > deadline:
            for pid in workers:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


class Spans:
    """In-memory spans (name, start, end, parent, run id), written out
    when the run ends.  ``span`` also tags the Spark jobs started inside
    it with ``<workload>/<outer span>/.../<name>`` so the event log
    attributes them."""

    def __init__(self, spark, workload: str, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription("/".join([self.workload, *self._stack]))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                "/".join([self.workload, *self._stack]) if self._stack else None
            )
            self.rows.append(
                {"name": name, "start": t0, "end": t1, "parent": parent, "run": self.run_id}
            )

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line: ``metrics`` maps name -> (value, unit)."""
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
