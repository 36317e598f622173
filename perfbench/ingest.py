"""The ``ingest`` workload: E1 from a Part-10 tree on disk into a
DuckDB stand-in for the exam/serie database.

One pass = two operations, each timed from start to a converged DB:

1. cold import: ``pipeline.extract_headers`` -> ``build_serie_frame``
   -> ``build_exam_frame`` -> ``classify_against_db`` ->
   ``sources.jdbc.upsert_partition_writer`` (serie rows, then exam
   rows) into an empty database;
2. second wave: ``pipeline.incremental_import_stream`` with
   ``trigger(availableNow=True)`` over the landed ``(path, content)``
   parquet, which reads serie rows back and updates existing exams.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
from pyspark.sql import functions as F

from dicomdb_spark import pipeline as P
from dicomdb_spark.sources.dicom import parse_headers
from dicomdb_spark.sources.inventory import is_dicom_magic
from dicomdb_spark.sources.jdbc import upsert_partition_writer
from perfbench import gen

EXAM_KEYS = ["EUID", "AcquisitionDate"]
EXAM_COMPARE = ["n_series", "ExamDuration", "FirstSerieName"]
DDL = (
    'CREATE TABLE exam ("EUID" VARCHAR, "AcquisitionDate" VARCHAR,'
    ' "n_series" BIGINT, "ExamDuration" BIGINT, "FirstSerieName" VARCHAR,'
    ' PRIMARY KEY ("EUID", "AcquisitionDate"))',
    'CREATE TABLE serie ("SeriesInstanceUID" VARCHAR,'
    ' "SeriesNumber" INTEGER, "EchoTime" DOUBLE, "EUID" VARCHAR,'
    ' "AcquisitionDate" VARCHAR, "first_acq_seconds" DOUBLE,'
    ' "duration_s" DOUBLE,'
    ' PRIMARY KEY ("SeriesInstanceUID", "SeriesNumber", "EchoTime"))',
)


class Connector:
    """Zero-arg DB-API factory for the upsert writers; pickled into the
    Python workers, so it lives in an importable module.  With
    ``stats_path`` every connection counts its statements and execute
    time and appends them to that file when it closes."""

    def __init__(self, db_path: str, stats_path: str | None = None) -> None:
        self.db_path = db_path
        self.stats_path = stats_path

    def __call__(self):
        con = duckdb.connect(self.db_path)
        return CountingConnection(con, self.stats_path) if self.stats_path else con


class CountingConnection:
    def __init__(self, con, stats_path: str) -> None:
        self._con = con
        self._stats_path = stats_path
        self.statements = 0
        self.rows_written = 0
        self.exec_s = 0.0

    def _run(self, target, sql: str, *args):
        t0 = time.perf_counter()
        try:
            return target.execute(sql, *args)
        finally:
            self.exec_s += time.perf_counter() - t0
            self.statements += 1
            if sql.lstrip().upper().startswith("INSERT"):
                self.rows_written += 1

    def execute(self, sql: str, *args):
        return self._run(self._con, sql, *args)

    def cursor(self):
        return _CountingCursor(self, self._con.cursor())

    def commit(self) -> None:
        self._con.commit()

    def close(self) -> None:
        self._con.close()
        line = f"{self.statements} {self.rows_written} {self.exec_s!r}\n"
        fd = os.open(self._stats_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, line.encode())
        finally:
            os.close(fd)


class _CountingCursor:
    def __init__(self, conn: CountingConnection, cur) -> None:
        self._conn = conn
        self._cur = cur

    def execute(self, sql: str, *args):
        return self._conn._run(self._cur, sql, *args)


class ParseCounter:
    """Header parser for the traced pass: ``sources.dicom.minimal_parser``
    plus one line appended to ``path`` per call, ``x`` when the file is
    corrupt (the parser raised), ``.`` otherwise, then the seconds the
    parser took.  Counts the header rows the parse operator emits,
    however often a plan re-runs it, and the time spent parsing them."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, content: bytes) -> dict:
        from dicomdb_spark.sources.dicom import minimal_parser

        mark = "x"
        t0 = time.perf_counter()
        try:
            rec = minimal_parser(content)
            mark = "."
            return rec
        finally:
            line = f"{mark}{time.perf_counter() - t0:.9f}\n".encode()
            fd = os.open(self.path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, line)
            finally:
                os.close(fd)

    def _lines(self) -> list[str]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as fh:
            return fh.read().splitlines()

    def counts(self) -> tuple[int, int]:
        """(rows parsed, corrupt rows) so far."""
        lines = self._lines()
        return len(lines), sum(1 for x in lines if x[0] == "x")

    def seconds(self) -> float:
        """Time spent inside the parser so far, summed over its calls."""
        return sum(float(x[1:]) for x in self._lines())


def read_jdbc_stats(path: str) -> dict:
    out = {"connections": 0, "statements": 0, "rows_written": 0, "exec_s": 0.0}
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            s, r, t = line.split()
            out["connections"] += 1
            out["statements"] += int(s)
            out["rows_written"] += int(r)
            out["exec_s"] += float(t)
    return out


def serie_rows(serie):
    """The serie frame in the DB's column types (what the stream lands)."""
    return serie.select(
        "SeriesInstanceUID",
        F.col("SeriesNumber").cast("int").alias("SeriesNumber"),
        F.col("EchoTime").cast("double").alias("EchoTime"),
        "EUID",
        F.col("AcquisitionDate").cast("string").alias("AcquisitionDate"),
        F.col("first_acq_seconds").cast("double").alias("first_acq_seconds"),
        F.col("duration_s").cast("double").alias("duration_s"),
    )


def exam_rows(serie):
    return P.build_exam_frame(serie).select(
        "EUID",
        "AcquisitionDate",
        F.col("n_series").cast("long").alias("n_series"),
        F.col("ExamDuration").cast("long").alias("ExamDuration"),
        "FirstSerieName",
    )


def db_exams(db_path: str) -> list[tuple]:
    con = duckdb.connect(db_path, read_only=True)
    try:
        return sorted(con.execute("SELECT * FROM exam").fetchall())
    finally:
        con.close()


class Ingest:
    """Inputs and operations of one ingest run."""

    def __init__(self, spark, work, seed: int, n_exams: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.files = gen.dicom_plan(seed, n_exams=n_exams, wave2_exams=max(1, n_exams // 8))
        self.tree = work.sub("tree")
        self.landing = work.sub("landing")
        self.n_tree = 0
        self.n_wave2 = 0
        self.n_pass = 0

    def generate(self) -> None:
        shutil.rmtree(self.tree, ignore_errors=True)
        shutil.rmtree(self.landing, ignore_errors=True)
        self.n_tree = gen.write_tree(self.tree, self.files)
        self.n_wave2 = gen.write_landing(self.landing, self.files, self.tree)

    def input_hashes(self) -> dict:
        return {"tree": gen.content_hash(self.tree), "wave2": gen.content_hash(self.landing)}

    def fresh_db(self, stats: bool = False) -> Connector:
        self.n_pass += 1
        path = self.work.sub("db", f"{self.seed}_{self.n_pass}.duckdb")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = duckdb.connect(path)
        try:
            for ddl in DDL:
                con.execute(ddl)
        finally:
            con.close()
        stats_path = path[: -len(".duckdb")] + ".jdbc" if stats else None
        return Connector(path, stats_path)

    # -- the two operations: the cold import, then the second wave -----

    def cold_import(self, connect: Connector, parser=None):
        headers = P.extract_headers(self.spark, self.tree, parser=parser)
        serie = P.build_serie_frame(headers)
        exam = exam_rows(serie)
        existing = self.spark.createDataFrame(db_exams(connect.db_path), exam.schema)
        classified = P.classify_against_db(exam, existing, EXAM_KEYS, EXAM_COMPARE)
        serie_rows(serie).coalesce(1).foreachPartition(
            upsert_partition_writer("serie", list(P.SERIE_DB_KEYS), connect, dialect="ansi")
        )
        (
            classified.filter(F.col("action") != "noop")
            .drop("action")
            .coalesce(1)
            .foreachPartition(
                upsert_partition_writer("exam", EXAM_KEYS, connect, dialect="ansi")
            )
        )
        return classified

    def reimport(self, connect: Connector, parser=None):
        ckpt = connect.db_path + ".ckpt"
        writer = P.incremental_import_stream(
            self.spark, self.landing, ckpt, connect, parser=parser, dialect="ansi"
        )
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination(150)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q

    # -- correctness ---------------------------------------------------

    def expected(self, waves: tuple[int, ...]) -> list[tuple]:
        return gen.expected_exams(self.files, waves)

    def batch_both_waves(self) -> list[tuple]:
        """The batch pipeline over both waves at once: what the cold
        import plus the incremental import must converge to."""
        wave2 = self.spark.read.parquet(self.landing).filter(is_dicom_magic())
        headers = P.extract_headers(self.spark, self.tree).unionByName(parse_headers(wave2))
        return sorted(tuple(r) for r in exam_rows(P.build_serie_frame(headers)).collect())

    def drop_db(self, connect: Connector) -> None:
        for p in (connect.db_path, connect.db_path + ".wal"):
            if os.path.exists(p):
                os.remove(p)
        shutil.rmtree(connect.db_path + ".ckpt", ignore_errors=True)
