"""The import pipeline (SURVEY.md §3 E1) — end-to-end, Spark-first.

Reference flow (do_dicom_series_DB.py): directory scan → per-series
header extraction → sessionize into exams → upsert exam + serie rows →
recompute exam duration.  Here each stage is one DataFrame
transformation; the whole pipeline is lazy until the sink.

Scale shape: the scan and parse are map-only; the stack/series
assembly, exam linkage included, shuffles once on the stack key and
runs one ``mapInPandas`` kernel; the exam aggregation shuffles once on
(EUID, AcquisitionDate); the MERGE classification is one
broadcast-or-shuffled join against the target snapshot.  Each
consumer of the serie frame scans and parses every file once; no
driver-side loops.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dicomdb_spark.functions.scalars import (
    ceil_minutes,
    duration_with_rollover,
    time_str_to_sec,
)
from dicomdb_spark.operators.joins import merge_classify
from dicomdb_spark.operators.stacks import assemble_stacks
from dicomdb_spark.sources.dicom import HeaderParser, parse_headers
from dicomdb_spark.sources.inventory import (
    is_dicom_magic,
    path_name_filters,
    regex_descent,
    scan_files,
    split_tree_levels,
)

_LOG = logging.getLogger(__name__)


def extract_headers(
    spark: SparkSession,
    root: str,
    parser: HeaderParser | None = None,
    proto_reg: str = ".*",
    suj_reg: str = ".*",
    ser_reg: str = "^S",
    modified_after: str | None = None,
) -> DataFrame:
    """Stages 1–2: source selection + extraction (E1 steps 1–3).

    scan (S1/S2, mtime pushdown) → level split → regex descent →
    name filters (P8) → DICM sniff (S3) → header parse (U1, the
    built-in Part-10 reader unless a richer parser is injected).
    """
    files = scan_files(spark, root, glob="*", modified_after=modified_after)
    files = path_name_filters(split_tree_levels(files))
    files = regex_descent(files, proto_reg, suj_reg, ser_reg)
    files = files.filter(is_dicom_magic())
    return parse_headers(files, parser=parser)


def build_serie_frame(headers: DataFrame) -> DataFrame:
    """Stage 3a: per-stack serie rows (U3 assembly + audits) with the
    exam linkage (EUID, AcquisitionDate, first_acq_seconds) computed
    in the same assembly kernel: one exchange on the stack key, one
    ``mapInPandas``, no join — so each consumer of the frame scans and
    parses every file once.

    Drops every file whose SeriesInstanceUID, SeriesNumber or
    EchoTime is NULL, before the exchange: a stack with an incomplete
    key yields no serie row (the DB key is the full stack tuple).

    acq_seconds derives from the raw HHMMSS time string (F4).
    """
    h = headers.filter(
        F.col("SeriesInstanceUID").isNotNull()
        & F.col("SeriesNumber").isNotNull()
        & F.col("EchoTime").isNotNull()
    ).withColumn(
        "acq_seconds", time_str_to_sec(F.col("AcquisitionTimeRaw")).cast("double")
    )
    return assemble_stacks(
        h.select(
            "SeriesInstanceUID",
            "SeriesNumber",
            "EchoTime",
            "path",
            "InstanceNumber",
            "acq_seconds",
            "StudyInstanceUID",
            "AcquisitionDate",
        )
    )


def build_exam_frame(serie: DataFrame) -> DataFrame:
    """Stage 3b: exams = series sessionized by (EUID, AcquisitionDate)
    (W3, Exam_info.py:1380-1459), with the W1 duration metric:
    ceil((last.start − first.start + last.duration) / 60) minutes,
    midnight-rollover guarded (Exam_info.py:197-232).

    First/last picks order by the FULL stack key (SeriesNumber,
    SeriesInstanceUID, EchoTime) — unique per serie row — so ties on
    SeriesNumber alone (two series sharing a number inside one exam)
    cannot make the picks nondeterministic."""
    ordk = F.struct("SeriesNumber", "SeriesInstanceUID", "EchoTime")
    g = serie.groupBy("EUID", "AcquisitionDate").agg(
        F.count("*").alias("n_series"),
        F.min_by("first_acq_seconds", ordk).alias("first_start"),
        F.max_by("first_acq_seconds", ordk).alias("last_start"),
        F.max_by("duration_s", ordk).alias("last_duration"),
        F.min_by("SeriesInstanceUID", ordk).alias("FirstSerieName"),
        F.max_by("SeriesInstanceUID", ordk).alias("LastSerieName"),
    )
    dur = duration_with_rollover(
        F.col("first_start").cast("long"), F.col("last_start").cast("long")
    ) + F.coalesce(F.col("last_duration").cast("long"), F.lit(0))
    return g.withColumn("ExamDuration", ceil_minutes(dur))


EXAM_DB_COLS = (
    "EUID",
    "AcquisitionDate",
    "n_series",
    "ExamDuration",
    "FirstSerieName",
)


SERIE_DB_COLS = (
    "SeriesInstanceUID",
    "SeriesNumber",
    "EchoTime",
    "EUID",
    "AcquisitionDate",
    "first_acq_seconds",
    "duration_s",
)

SERIE_DB_KEYS = ("SeriesInstanceUID", "SeriesNumber", "EchoTime")


def incremental_import_stream(
    spark: SparkSession,
    landing_root: str,
    checkpoint: str,
    connect,
    table: str = "exam",
    serie_table: str = "serie",
    parser: HeaderParser | None = None,
    dialect: str = "ansi",
    quarantine_table: str | None = None,
    in_list_batch: int = 500,
    num_writer_partitions: int = 1,
):
    """E1 as a CONTINUOUS incremental import (Structured Streaming).

    The reference ran E1 from cron, re-scanning for files newer than
    the last logfile mtime (common.py:267-306); the streaming twin
    replaces the mtime watermark with the file source's checkpoint
    (exactly-once file tracking) and the exist-check upserts with
    ``foreachBatch`` → MERGE classification → the S7 writer.

    Each micro-batch runs the batch pipeline stages UNCHANGED (parse →
    stacks → series) — the standard foreachBatch pattern for
    grouped-map stages that Structured Streaming can't run
    incrementally.  Exam rows are then recomputed the way the
    reference did it (Cenir_DB.py:839-868 reads serie rows back from
    SQL to update ExamDuration): the batch's serie rows upsert into
    ``serie_table`` first, and each affected exam's aggregate rebuilds
    from the DB's FULL serie state for that exam — so an exam whose
    series arrive across several micro-batches converges to the same
    row the batch pipeline would produce, instead of being overwritten
    with the latest batch's partial view.  Arrival atomicity is
    assumed at the SERIE level (one scanner acquisition = one
    directory = one landing file set), the reference's own processing
    granularity — a single serie split across micro-batches would
    still yield a partial stack row for that serie.

    Driver traffic per batch is bounded: the affected (EUID,
    AcquisitionDate) key list (≤ the batch's exam count) goes up, and
    the serie/exam snapshots fetched back are restricted to exactly
    those keys — never the whole table.

    A serie whose exam key is incomplete (NULL EUID or
    AcquisitionDate — corrupt headers missing StudyInstanceUID) can
    never match the key-tuple IN fetch under SQL NULL semantics, so
    no exam row could ever be rebuilt for it.  When
    ``quarantine_table`` is configured such rows are routed there
    (same upsert writer, same stack key) instead of ``serie_table``;
    by DEFAULT (no quarantine table) they still LAND in
    ``serie_table`` — the reference pipeline persisted them too, so
    dropping serie metadata is strictly opt-in via the quarantine
    path.  Either way every batch logs a WARNING count, so corrupt
    input stays visible and the never-rebuildable exam is named.  The
    key-tuple IN fetch itself is issued in chunks of
    ``in_list_batch`` keys so a large catch-up batch never renders an
    oversized statement.

    ``connect`` is the zero-arg DB-API factory (DuckDB in tests, MySQL
    in production — pass ``dialect="mysql"`` there so identifier
    quoting and the upsert statement render for MySQL).
    ``num_writer_partitions`` sets how many partitions (one DB
    connection each) every write uses: the default 1 is the DuckDB
    single-writer constraint; against MySQL raise it so a large
    catch-up batch doesn't funnel through one task — rows hash across
    writers, upsert keys stay disjoint, so the final DB state is
    identical at any writer count.

    Returns the ``DataStreamWriter`` (caller starts it; tests use
    ``trigger(availableNow=True)``).
    """
    from pyspark.sql import types as T

    from dicomdb_spark.operators.joins import merge_classify
    from dicomdb_spark.sources.jdbc import (
        _sql_ident,
        _sql_literal,
        upsert_partition_writer,
    )
    from dicomdb_spark.streaming.incremental import stream_inventory

    inv_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    stream = stream_inventory(spark, landing_root, inv_schema, fmt="parquet")
    keys = ["EUID", "AcquisitionDate"]
    compare = ["n_series", "ExamDuration", "FirstSerieName"]
    exam_col_sql = ", ".join(_sql_ident(c, dialect) for c in EXAM_DB_COLS)
    serie_col_sql = ", ".join(_sql_ident(c, dialect) for c in SERIE_DB_COLS)
    key_tuple_sql = "({}, {})".format(
        _sql_ident("EUID", dialect), _sql_ident("AcquisitionDate", dialect)
    )

    serie_schema = T.StructType(
        [
            T.StructField("SeriesInstanceUID", T.StringType()),
            T.StructField("SeriesNumber", T.IntegerType()),
            T.StructField("EchoTime", T.DoubleType()),
            T.StructField("EUID", T.StringType()),
            T.StructField("AcquisitionDate", T.StringType()),
            T.StructField("first_acq_seconds", T.DoubleType()),
            T.StructField("duration_s", T.DoubleType()),
        ]
    )

    def for_writing(df: DataFrame) -> DataFrame:
        # one DB connection per partition: 1 = DuckDB single-writer
        # default (plain coalesce, no shuffle); >1 = hash repartition
        # so a catch-up batch spreads across that many writers
        if num_writer_partitions <= 1:
            return df.coalesce(1)
        return df.repartition(num_writer_partitions)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        headers = parse_headers(batch_df, parser=parser).filter(
            F.col("SeriesInstanceUID").isNotNull()
        )
        serie_b = build_serie_frame(headers).select(
            "SeriesInstanceUID",
            F.col("SeriesNumber").cast("int").alias("SeriesNumber"),
            F.col("EchoTime").cast("double").alias("EchoTime"),
            "EUID",
            F.col("AcquisitionDate").cast("string").alias("AcquisitionDate"),
            F.col("first_acq_seconds").cast("double").alias("first_acq_seconds"),
            F.col("duration_s").cast("double").alias("duration_s"),
        ).persist()  # 2-3 consumers: null-key count, landing, key list
        serie_cached = serie_b  # unpersist handle (serie_b may be re-filtered)
        # 0) NULL-keyed series (corrupt headers): a NULL
        #    EUID/AcquisitionDate tuple never matches an IN list (SQL
        #    NULL semantics), so its exam can never rebuild.  Count +
        #    WARN always; ROUTE AWAY from serie_table only when a
        #    quarantine table is configured — the default keeps
        #    landing them (reference behavior), never silent loss.
        null_key = F.col("EUID").isNull() | F.col("AcquisitionDate").isNull()
        serie_bad = serie_b.filter(null_key)
        n_bad = serie_bad.count()
        if n_bad:
            _LOG.warning(
                "epoch %s: %d serie row(s) with NULL exam key %s",
                epoch_id,
                n_bad,
                f"quarantined to {quarantine_table!r}"
                if quarantine_table
                else "landed in serie_table (no exam will rebuild; "
                "configure quarantine_table to divert them)",
            )
            if quarantine_table is not None:
                for_writing(serie_bad).foreachPartition(
                    upsert_partition_writer(
                        quarantine_table,
                        list(SERIE_DB_KEYS),
                        connect,
                        dialect=dialect,
                    )
                )
                serie_b = serie_b.filter(~null_key)
        # 1) land the batch's serie rows (idempotent upsert on the
        #    stack key — redelivery overwrites with identical values)
        for_writing(serie_b).foreachPartition(
            upsert_partition_writer(
                serie_table, list(SERIE_DB_KEYS), connect, dialect=dialect
            )
        )
        # 2) affected exams: bounded key list (≤ batch exam count) —
        #    NULL-keyed rows can't match an IN tuple, so they never
        #    enter the fetch even when the default lands them above
        key_rows = [
            (r["EUID"], r["AcquisitionDate"])
            for r in serie_b.filter(~null_key).select(*keys).distinct().collect()
        ]
        serie_cached.unpersist()
        if not key_rows:
            return
        serie_rows: list = []
        exam_rows: list = []
        con = connect()
        try:
            # chunked IN lists: bounded statement size on catch-up
            for lo in range(0, len(key_rows), in_list_batch):
                in_sql = ", ".join(
                    "({}, {})".format(
                        _sql_literal(e, dialect), _sql_literal(a, dialect)
                    )
                    for e, a in key_rows[lo : lo + in_list_batch]
                )
                serie_rows.extend(
                    con.execute(
                        f"SELECT {serie_col_sql}"
                        f" FROM {_sql_ident(serie_table, dialect)}"
                        f" WHERE {key_tuple_sql} IN ({in_sql})"
                    ).fetchall()
                )
                exam_rows.extend(
                    con.execute(
                        f"SELECT {exam_col_sql}"
                        f" FROM {_sql_ident(table, dialect)}"
                        f" WHERE {key_tuple_sql} IN ({in_sql})"
                    ).fetchall()
                )
        finally:
            con.close()
        # 3) rebuild the affected exams from the FULL landed serie
        #    state (reference semantics: exam stats derive from the
        #    serie table, Cenir_DB.py:844-863)
        serie_all = sess.createDataFrame(serie_rows, serie_schema)
        exams = build_exam_frame(serie_all).select(
            "EUID",
            "AcquisitionDate",
            F.col("n_series").cast("long").alias("n_series"),
            F.col("ExamDuration").cast("long").alias("ExamDuration"),
            "FirstSerieName",
        )
        existing = sess.createDataFrame(exam_rows, exams.schema)
        classified = merge_classify(existing, exams, keys, compare)
        (
            for_writing(classified.filter(F.col("action") != "noop").drop("action"))
            .foreachPartition(
                upsert_partition_writer(table, keys, connect, dialect=dialect)
            )
        )

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def classify_against_db(
    exam_new: DataFrame,
    exam_existing: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    float_cols: list[str] = (),
    exclude_cols: list[str] = (),
) -> DataFrame:
    """Stage 4: the load-side MERGE (S7) — P3 identity probe + P4
    float-tolerant change detection + the reference's exclude-column
    list (Cenir_DB.py:97) — producing insert/update/noop classes for
    the JDBC writer (sources.jdbc)."""
    return merge_classify(
        exam_existing, exam_new, keys, compare_cols, float_cols, exclude_cols
    )
