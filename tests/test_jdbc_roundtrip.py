"""S6/S7 writer-side integration: the REAL upsert round-trip.

No MySQL exists in the environment, so DuckDB stands in as the DB-API
target (it speaks ``INSERT ... ON CONFLICT``).  The test drives the
actual Spark side-effect path — ``merge_classify`` →
``foreachPartition(upsert_partition_writer(...))`` executing inside an
executor's Python worker — and asserts the table END-STATE equals the
classification's prediction: inserts present, updates applied, noops
untouched.

DuckDB supports only one writing process per database file, so the
classified rows are coalesced to ONE partition — the writer callable
itself is unchanged (against MySQL every partition would open its own
connection, which is the point of the per-partition connect factory).
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from dicomdb_spark.operators.joins import merge_classify
from dicomdb_spark.sources.jdbc import render_upsert_sql, upsert_partition_writer


@pytest.fixture()
def db_path(tmp_path):
    return str(tmp_path / "standin.duckdb")


def _seed(db_path, rows):
    con = duckdb.connect(db_path)
    con.execute(
        "CREATE TABLE exam (eid INTEGER PRIMARY KEY, duration BIGINT,"
        " label VARCHAR)"
    )
    con.executemany("INSERT INTO exam VALUES (?, ?, ?)", rows)
    con.close()


def test_upsert_roundtrip_end_state_matches_classification(spark, db_path):
    # existing DB: eids 1-3; incoming: 2 changed, 3 identical, 4-5 new
    existing_rows = [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
    _seed(db_path, existing_rows)

    existing = spark.createDataFrame(
        existing_rows, "eid int, duration long, label string"
    )
    incoming = spark.createDataFrame(
        [
            (2, 25, "b'x"),  # update (quote in string exercises escaping)
            (3, 30, "c"),  # noop
            (4, 40, "d"),  # insert
            (5, 50, "e"),  # insert
        ],
        "eid int, duration long, label string",
    )
    classified = merge_classify(
        existing, incoming, ["eid"], ["duration", "label"]
    )
    by_action = {
        r["eid"]: r["action"] for r in classified.collect()
    }
    assert by_action == {2: "update", 3: "noop", 4: "insert", 5: "insert"}

    writer = upsert_partition_writer(
        "exam",
        ["eid"],
        connect=lambda: duckdb.connect(db_path),
        dialect="ansi",
    )
    (
        classified.filter(F.col("action") != "noop")
        .drop("action")
        .coalesce(1)
        .foreachPartition(writer)
    )

    con = duckdb.connect(db_path, read_only=True)
    end_state = sorted(con.execute("SELECT * FROM exam").fetchall())
    con.close()
    assert end_state == [
        (1, 10, "a"),  # untouched (absent from incoming)
        (2, 25, "b'x"),  # updated
        (3, 30, "c"),  # noop — never written
        (4, 40, "d"),
        (5, 50, "e"),
    ]


def test_upsert_is_idempotent_under_redelivery(spark, db_path):
    """The at-least-once contract: re-running the same classified batch
    must leave the table unchanged (the reference absorbed redelivery
    DB-side the same way)."""
    _seed(db_path, [(1, 10, "a")])
    incoming = spark.createDataFrame(
        [(1, 15, "a2"), (2, 20, "b")], "eid int, duration long, label string"
    )
    writer = upsert_partition_writer(
        "exam", ["eid"], connect=lambda: duckdb.connect(db_path), dialect="ansi"
    )
    for _ in range(2):  # deliver twice
        incoming.coalesce(1).foreachPartition(writer)
    con = duckdb.connect(db_path, read_only=True)
    assert sorted(con.execute("SELECT * FROM exam").fetchall()) == [
        (1, 15, "a2"),
        (2, 20, "b"),
    ]
    con.close()


def test_ansi_rendering_quotes_and_conflict_clause():
    sql = render_upsert_sql(
        "exam", {"eid": 7, "label": "o'k", "f": 1.5}, ["eid"], dialect="ansi"
    )
    assert sql == (
        'INSERT INTO "exam" ("eid", "label", "f") VALUES (7, \'o\'\'k\', 1.5) '
        'ON CONFLICT ("eid") DO UPDATE SET "label" = excluded."label", '
        '"f" = excluded."f"'
    )


def test_all_key_row_upsert_is_a_noop(tmp_path):
    """A link table whose columns are all key: the first upsert inserts,
    re-upserting the same rows changes nothing (DuckDB rejects the
    empty ``DO UPDATE SET`` this used to render)."""
    con = duckdb.connect(str(tmp_path / "link.duckdb"))
    con.execute(
        "CREATE TABLE link (exam_id INTEGER, serie_id INTEGER,"
        " PRIMARY KEY (exam_id, serie_id))"
    )
    rows = [{"exam_id": 1, "serie_id": 10}, {"exam_id": 1, "serie_id": 11}]
    for _ in range(2):
        for row in rows:
            con.execute(
                render_upsert_sql("link", row, ["exam_id", "serie_id"], dialect="ansi")
            )
        assert con.execute("SELECT * FROM link ORDER BY ALL").fetchall() == [(1, 10), (1, 11)]
    con.close()
