"""JDBC sinks (SURVEY.md §2 S6/S7) — append and upsert.

Per BASELINE.json the production sink is JDBC→MySQL.  Two halves:

* the **pure** MERGE classification (insert/update/noop) lives in
  ``operators.joins.merge_classify`` — deterministic, oracle-checked;
* the **side-effecting** writers here consume that classification.

No MySQL server exists in the test container, so writers are gated:
``append_jdbc`` uses Spark's built-in JDBC writer (needs a driver jar
on the classpath), and ``upsert_partition`` builds the
``INSERT ... ON DUPLICATE KEY UPDATE`` statements the reference's
upsert emitted (Cenir_DB.py:62-135,956-1024) for ``foreachPartition``
execution.  ``render_upsert_sql`` is pure and unit-tested.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, Row


def append_jdbc(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """S6 — plain INSERT append (``get_sql_insert_cmd_from_dict``,
    Cenir_DB.py:956-992).  Type dispatch and NULL handling are done by
    the JDBC writer from the DataFrame schema — the reference's
    runtime-type dispatch disappears."""
    df.write.jdbc(url=url, table=table, mode="append", properties=properties or {})


def _sql_literal(v, dialect: str = "mysql") -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        # repr(inf)/repr(nan) is not valid SQL; MySQL has no non-finite
        # float literals, so degrade to NULL (matches the engine's
        # malformed-value policy)
        return repr(v) if math.isfinite(v) else "NULL"
    if isinstance(v, int):
        return repr(v)
    if dialect == "mysql":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    else:  # standard SQL: quote-doubling, backslash not special
        s = str(v).replace("'", "''")
    return f"'{s}'"


def _sql_ident(name: str, dialect: str = "mysql") -> str:
    """Quote an identifier: backticks (MySQL) or double quotes (ANSI)."""
    if dialect == "mysql":
        return "`" + str(name).replace("`", "``") + "`"
    return '"' + str(name).replace('"', '""') + '"'


def render_upsert_sql(
    table: str,
    row: Row | dict,
    key_cols: Iterable[str],
    dialect: str = "mysql",
) -> str:
    """S7 — one upsert statement.

    ``dialect="mysql"`` (default): ``INSERT ... ON DUPLICATE KEY
    UPDATE`` exactly as the reference's update builder emitted it
    (Cenir_DB.py:994-1024).  ``dialect="ansi"`` (DuckDB/Postgres):
    ``INSERT ... ON CONFLICT (keys) DO UPDATE SET c = excluded.c`` —
    same classification semantics, lets the integration test drive the
    REAL writer round-trip against DuckDB when no MySQL exists.
    Pure function so both renderings are testable without a database.
    """
    d = row.asDict() if isinstance(row, Row) else dict(row)
    key_list = list(key_cols)
    keys = set(key_list)
    cols = list(d)
    col_sql = ", ".join(_sql_ident(c, dialect) for c in cols)
    val_sql = ", ".join(_sql_literal(d[c], dialect) for c in cols)
    if dialect == "mysql":
        upd_sql = ", ".join(
            f"{_sql_ident(c)} = VALUES({_sql_ident(c)})"
            for c in cols
            if c not in keys
        )
        return (
            f"INSERT INTO {_sql_ident(table)} ({col_sql}) VALUES ({val_sql}) "
            f"ON DUPLICATE KEY UPDATE {upd_sql}"
        )
    conflict = ", ".join(_sql_ident(c, dialect) for c in key_list)
    upd_sql = ", ".join(
        f"{_sql_ident(c, dialect)} = excluded.{_sql_ident(c, dialect)}"
        for c in cols
        if c not in keys
    )
    return (
        f"INSERT INTO {_sql_ident(table, dialect)} ({col_sql}) "
        f"VALUES ({val_sql}) ON CONFLICT ({conflict}) DO UPDATE SET {upd_sql}"
    )


def upsert_partition_writer(
    table: str,
    key_cols: list[str],
    connect,
    batch_size: int = 500,
    dialect: str = "mysql",
):
    """Build a ``foreachPartition`` callable executing upserts.

    ``connect`` is a zero-arg factory returning a DB-API connection —
    created once per partition (never per row), the standard Spark
    JDBC-side-effect pattern.  Usage::

        classified.filter(col("action") != "noop").foreachPartition(
            upsert_partition_writer("exam", ["Eid"], connect))
    """

    def write(rows: Iterator[Row]) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            n = 0
            for row in rows:
                cur.execute(render_upsert_sql(table, row, key_cols, dialect))
                n += 1
                if n % batch_size == 0:
                    conn.commit()
            conn.commit()
        finally:
            conn.close()

    return write


def render_remediation_scripts(df: DataFrame, command_col: str, out_path: str) -> None:
    """S9 — the reference emitted shell remediation scripts (delete/mv
    commands) as query OUTPUT (Cenir_DB.py:174-187).  Engine twin: a
    text write of the generated command column."""
    df.select(command_col).write.mode("overwrite").text(out_path)


# UDF closures in this module must ship by value (see package __init__)
import sys as _sys  # noqa: E402

from dicomdb_spark import register_for_udf_pickling as _reg  # noqa: E402

_reg(_sys.modules[__name__])
