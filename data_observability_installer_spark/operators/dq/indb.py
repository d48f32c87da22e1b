"""In-database test-suite execution — the reference's core TestGen
claim, "in-database SQL execution, no data copies" (reference
README.md:209).

``compile_suite_sql`` already lowers a suite to ONE SQL statement (one
scan + N outcome rows). This module executes that statement directly
on the database holding the data via any DB-API connection (DuckDB,
SQLite, psycopg2, a JDBC bridge): the warehouse computes the
aggregates; only the outcome rows — one per test — leave the source.
Nothing is copied into Spark.

Deployment notes:
- DuckDB / Postgres / anything with a DB-API cursor: pass the
  connection straight in.
- JDBC warehouses from a Spark cluster: the same statement string also
  runs as ``spark.read.format("jdbc").option("query", sql)`` — the
  whole aggregation pushes down and Spark receives only the outcome
  rows; use that form when credentials/drivers live cluster-side.

The outcome schema matches the Spark path (``OUTCOME_COLUMNS``)
exactly, so consumers can swap execution engines per table without
touching anything downstream — the parity is pinned by
``tests/test_indb.py``, which runs every demo suite both ways and
diffs the rows.
"""

from __future__ import annotations

from typing import Any

from ...functions.driver import local_frame
from .compiler import OUTCOME_COLUMNS, compile_suite_sql
from .testtypes import TestSpec


def run_suite_indb(
    conn: Any, table_sql: str, specs: list[TestSpec], as_of: str
) -> list[dict[str, Any]]:
    """Execute a compiled suite source-side on a DB-API connection.

    ``table_sql`` is the FROM-clause relation (a table name or a
    parenthesised subquery). Returns one dict per test with
    OUTCOME_COLUMNS keys — the same rows the Spark path produces.
    """
    sql = compile_suite_sql(table_sql, specs, as_of)
    cursor = conn.execute(sql) if hasattr(conn, "execute") else conn.cursor().execute(sql)
    rows = cursor.fetchall()
    return [dict(zip(OUTCOME_COLUMNS, row)) for row in rows]


def outcomes_to_df(spark, outcomes: list[dict[str, Any]]):
    """Lift in-database outcome rows into a DataFrame with the same
    schema as ``compile_suite`` for downstream union/export."""
    schema = (
        "table_name string, column_name string, test_type string, "
        "measure double, threshold_value double, result string"
    )
    data = [tuple(o[c] for c in OUTCOME_COLUMNS) for o in outcomes]
    return local_frame(spark, data, schema)


PROFILE_COLUMNS = ["table_name", "column_name", "metric", "value", "value_str"]


def run_profile_indb(
    conn: Any,
    table_sql: str,
    table_name: str,
    schema: list[tuple[str, str]],
    as_of: str,
    columns: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Profile a table IN the database holding it — the same
    'in-database SQL, no data copies' execution the suite runner uses
    (reference README.md:209), applied to TestGen task 1 (profiling,
    README.md:207). One statement computes every characteristic in a
    single scan of the source; only the metric rows (one per
    column x characteristic) leave the warehouse. The statement is the
    Spark profile's own oracle twin, so parity with the in-engine
    profile is exactly the correctness gate's equality."""
    from ..profile import profile_sql

    sql = profile_sql(table_sql, table_name, schema, as_of, columns)
    cursor = conn.execute(sql) if hasattr(conn, "execute") else conn.cursor().execute(sql)
    return [dict(zip(PROFILE_COLUMNS, row)) for row in cursor.fetchall()]


def profile_to_df(spark, rows: list[dict[str, Any]]):
    """Lift in-database profile rows into the long-form profile
    DataFrame, so hygiene screens / test generation / drift consumers
    run unchanged on a profile the warehouse computed."""
    schema = (
        "table_name string, column_name string, metric string, "
        "value double, value_str string"
    )
    data = [tuple(r[c] for c in PROFILE_COLUMNS) for r in rows]
    return local_frame(spark, data, schema)
