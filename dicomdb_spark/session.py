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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (what
    ``nproc`` prints)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


DEFAULT_SHUFFLE_PARTITIONS = _cpus()


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

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing targets bytes-per-partition, but the text/
        # dedup operators do ~50× more CPU per shuffle byte (md5 over
        # exploded n-grams), so the default 1 MB floor serializes
        # CPU-bound stages on small inputs.  A 64 KB floor restores
        # parallelism there and never binds at real shuffle volumes
        # (totalSize/parallelism >> 64 KB on any 100 TB-scale stage).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dimension tables (region/nation/...) are
        # tiny at any SF; let Catalyst broadcast them rather than
        # shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
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
    repartition) otherwise.  ``SPARK_GRAFT_FORCE_FANOUT=0/1``
    overrides both directions for experiments.
    """
    force = os.environ.get("SPARK_GRAFT_FORCE_FANOUT")
    if force == "0":
        return None
    m = spark.sparkContext.master
    # 'local' / 'local[N]' only — NOT 'local-cluster[...]', which is a
    # multi-JVM test cluster and must behave like a real one
    is_local = m == "local" or m.startswith("local[")
    if not is_local and force != "1":
        return None
    return max(floor, spark.sparkContext.defaultParallelism // divisor)
