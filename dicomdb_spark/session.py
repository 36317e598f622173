"""SparkSession factory for the dicomdb_spark engine.

Single place where execution knobs live.  Everything here is tuned so
that the SAME logical plans scale from ``local[N]`` (test harness) to
a 1000-executor cluster:

* AQE on: runtime join-strategy switches, partition coalescing and
  skew-join splitting replace hand-tuning at any scale.
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE coalesces from a higher initial number, so the
  value is only an upper bound locally.
* UTC session timezone: deterministic timestamp semantics (and makes
  DuckDB-oracle comparison sound — DuckDB timestamps are UTC-naive).
* Arrow enabled for every pandas interchange (Pandas UDFs,
  ``toPandas``): vectorized, batch-at-a-time transfer.
* ``local``/``local[N]`` masters fork Python workers from
  ``dicomdb_spark.worker_daemon``, which stops each task from
  re-reading the Spark jar and ``pyspark.zip`` (see that module).
* The JVM's generated-code cache holds ``CODEGEN_CACHE_ENTRIES``
  classes, not Spark's 100: one perfbench neardup pass generates 160
  distinct classes, so the default LRU evicted all of them and every
  repeat of a query recompiled (Janino) and re-JITted (HotSpot) its
  whole plan.
* One Python worker pool per executor: the JVM keys its worker
  daemons by the workers' environment, and the SQL runners (pandas
  UDFs, ``mapInPandas``) add ``SPARK_SIMPLIFIED_TRACEBACK=1`` to theirs.
  Setting it for every worker gives the RDD runner
  (``foreachPartition`` upsert writers and sinks) the same environment,
  so it reuses their daemon and idle workers instead of forking a
  second daemon with its own workers.  RDD-runner errors then carry
  simplified tracebacks too (without the frames of pyspark's worker
  loop).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (what
    ``nproc`` prints)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


DEFAULT_SHUFFLE_PARTITIONS = _cpus()

# spark.sql.codegen.cache.maxEntries: a static conf, read once per JVM
# at its first code generation.  Measured generated classes per
# perfbench session: neardup ~190, of which 160 recur in every pass
# (past Spark's default of 100, so that LRU evicted each before its
# next use); ingest ~65.  An evicted class stays loaded until a GC
# unloads it, so holding the classes costs no extra Metaspace; it
# saves the recompiles and the JIT work on the fresh copies.
CODEGEN_CACHE_ENTRIES = 2000


# the repo root: Python workers import ``dicomdb_spark.worker_daemon``
# from here whatever the driver's cwd
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_local_master(master: str) -> bool:
    """'local' / 'local[N]' only — NOT 'local-cluster[...]', which is a
    multi-JVM test cluster and must behave like a real one."""
    return master == "local" or master.startswith("local[")


def session_conf(
    master: str,
    shuffle_partitions: int,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark conf ``get_spark`` builds for ``master``.

    On local masters the Python workers come from
    ``dicomdb_spark.worker_daemon`` (``pyspark.daemon`` without the
    per-task zip-archive re-reads), and the package root is appended to
    the workers' PYTHONPATH, after any caller value.  Other masters keep
    the stock ``pyspark.daemon``, so executors never need the package.
    """
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalescing targets bytes-per-partition, but the text/
        # dedup operators do ~50× more CPU per shuffle byte (md5 over
        # exploded n-grams), so the default 1 MB floor serializes
        # CPU-bound stages on small inputs.  A 64 KB floor restores
        # parallelism there and never binds at real shuffle volumes
        # (totalSize/parallelism >> 64 KB on any 100 TB-scale stage).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # Broadcast threshold: dimension tables (region/nation/...) are
        # tiny at any SF; let Catalyst broadcast them rather than
        # shuffling the fact side.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    # The keys below are set on every master, to Spark's default where
    # they do not apply: the first session's conf becomes JVM system
    # properties, which a later session in the same process inherits
    # for any key it leaves unset.
    # Reliable cut_lineage checkpoints: delete a round's files once its
    # RDD is garbage-collected, not at the end of the run.
    conf["spark.cleaner.referenceTracking.cleanCheckpoints"] = (
        "true" if os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") else "false"
    )
    conf["spark.python.daemon.module"] = "pyspark.daemon"
    # Equalises the RDD runner's worker environment with the one the
    # SQL runners build when
    # spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled is
    # true (the default): one daemon and worker pool per executor, not
    # two.
    conf["spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"] = "1"
    conf.update(extra_conf or {})
    if is_local_master(master):
        conf["spark.python.daemon.module"] = "dicomdb_spark.worker_daemon"
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), _PACKAGE_ROOT) if p)
    return conf


def get_spark(
    app_name: str = "dicomdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters mirror the reference's single knob surface (it had
    none — one Python thread + MySQL; see SURVEY.md §4): here the
    knobs are explicit because Spark's planner uses them.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{_cpus()}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, n_shuffle, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_fanout(spark: SparkSession, divisor: int = 1, floor: int = 4) -> int | None:
    """Session-level policy for the local-small-file repartition knob.

    The CPU-dense map stages (minhash, corpus cleaning, BPE, edit
    distance, Part-10 parsing) take a ``min_parallelism`` opt-in that
    repartitions raw text before the map — necessary on ``local[N]``
    where the sf0.1 parquet is ONE unsplittable row group, but pure
    shuffle cost on a real cluster whose scans already split into
    thousands of tasks.  Call sites route through this ONE policy
    instead of passing ``defaultParallelism`` ad hoc, so the knob can
    never ship to a cluster: returns ``defaultParallelism // divisor``
    (min ``floor``) under a ``local[...]`` master, ``None`` (= no
    repartition) otherwise.
    """
    if not is_local_master(spark.sparkContext.master):
        return None
    return max(floor, spark.sparkContext.defaultParallelism // divisor)
