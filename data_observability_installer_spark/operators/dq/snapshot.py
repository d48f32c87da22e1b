"""Snapshot-to-snapshot comparison operators: row-level diff between
two loads of one table, batch schema drift, and SCD2 history
maintenance.

The reference's TestGen premise is "(4) ongoing production testing of
new data refreshes and (5) continuous periodic monitoring"
(reference README.md:10): every refresh is compared against what was
known before. The reconciliation vocabulary (demo/input_data/
demo_pipeline_tests.csv, count/sum checks) answers "do the totals
still agree"; these operators answer the row-level versions — WHICH
keys appeared, vanished, or changed, did the column set move, and
what is the full change history of an attribute.

Scale notes (100 TB):
- ``snapshot_diff`` is one full-outer join on the business key — the
  same shuffle a MERGE would pay. Both snapshots of a production
  table should be bucketed by the key so the join is co-located
  (see sources/sinks.py ``write_bucketed``); comparison itself is
  null-safe column equality, JVM-side, no Python.
- ``scd2_history`` is one window sort per key — change-point
  detection via lag(), interval closing via lead(), one shuffle
  total. Keys are high-cardinality business keys, so no skew beyond
  the key distribution itself.
- ``schema_drift_batch`` is pure metadata (driver-side column list
  comparison) — zero data movement.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.driver import local_frame
from ...functions.pin import pin


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots keyed by ``key_cols``:
    per-status row counts plus a deterministic sample key.

    Statuses: ADDED (key only in new), REMOVED (key only in old),
    CHANGED (key in both, any compare column null-safely different),
    UNCHANGED. Keys are assumed non-null (business keys).
    """
    o = old.select(
        [F.col(c).alias(f"__o_{c}") for c in [*key_cols, *compare_cols]]
    )
    n = new.select(
        [F.col(c).alias(f"__n_{c}") for c in [*key_cols, *compare_cols]]
    )
    cond = reduce(
        lambda a, b: a & b,
        [o[f"__o_{k}"] == n[f"__n_{k}"] for k in key_cols],
    )
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__o_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__n_{key_cols[0]}").isNotNull()
    changed = reduce(
        lambda a, b: a | b,
        [~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")) for c in compare_cols],
    )
    status = (
        F.when(~in_old, F.lit("ADDED"))
        .when(~in_new, F.lit("REMOVED"))
        .when(changed, F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    key_str = F.concat_ws(
        ":",
        *[
            F.coalesce(
                F.col(f"__o_{k}").cast("string"), F.col(f"__n_{k}").cast("string")
            )
            for k in key_cols
        ],
    )
    return (
        j.select(status.alias("status"), key_str.alias("__key"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.min("__key").alias("sample_key"),
        )
        .orderBy("status")
    )


def snapshot_diff_sql(
    old_sql: str, new_sql: str, key_cols: list[str], compare_cols: list[str]
) -> str:
    """DuckDB twin of :func:`snapshot_diff` (same statuses, same
    null-safe comparison via IS DISTINCT FROM)."""
    on = " AND ".join(f"o.{k} = n.{k}" for k in key_cols)
    diff = " OR ".join(
        f"o.{c} IS DISTINCT FROM n.{c}" for c in compare_cols
    )
    key_str = ", ".join(
        f"coalesce(CAST(o.{k} AS VARCHAR), CAST(n.{k} AS VARCHAR))" for k in key_cols
    )
    first_key = key_cols[0]
    return f"""
    WITH o AS ({old_sql}), n AS ({new_sql}),
    j AS (
      SELECT CASE WHEN o.{first_key} IS NULL THEN 'ADDED'
                  WHEN n.{first_key} IS NULL THEN 'REMOVED'
                  WHEN {diff} THEN 'CHANGED'
                  ELSE 'UNCHANGED' END AS status,
             concat_ws(':', {key_str}) AS k
      FROM o FULL OUTER JOIN n ON {on})
    SELECT status, CAST(count(*) AS BIGINT) AS row_ct, min(k) AS sample_key
    FROM j GROUP BY status ORDER BY status
    """


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Collapse an event/fact history into SCD2 intervals per key:
    one row per ATTRIBUTE CHANGE with ``valid_from``/``valid_to``/
    ``is_current`` (type-2 slowly-changing-dimension maintenance).

    Consecutive rows with the same attribute value merge into one
    interval (lag() change-point detection); intervals close at the
    next change's timestamp (lead()); the open interval is current.
    ``tiebreak_col`` must make (key, ts, tiebreak) unique so both
    engines sort identically.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # `lag IS NULL` cannot distinguish "first row of the key" from
    # "previous value was NULL" — a NULL-attribute run would emit one
    # spurious interval per row. Row number flags the true first row;
    # everything else is a change only under null-safe inequality
    # (NULL -> NULL merges, NULL -> value and value -> NULL are real
    # changes).
    changes = (
        df.withColumn("__prev", F.lag(attr_col).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1) | ~F.col("__prev").eqNullSafe(F.col(attr_col))
        )
        .select(
            key_col, attr_col, F.col(ts_col).alias("valid_from"), tiebreak_col
        )
    )
    # two changes can share a timestamp (same-day loads); the tiebreak
    # keeps both engines' interval chaining identical
    w2 = Window.partitionBy(key_col).orderBy("valid_from", tiebreak_col)
    return changes.select(
        key_col,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def scd2_history_sql(
    table: str, key_col: str, attr_col: str, ts_col: str, tiebreak_col: str
) -> str:
    """DuckDB twin of :func:`scd2_history`."""
    return f"""
    WITH ordered AS (
      SELECT {key_col}, {attr_col}, {ts_col}, {tiebreak_col},
             lag({attr_col}) OVER (PARTITION BY {key_col}
                                   ORDER BY {ts_col}, {tiebreak_col}) AS prev,
             row_number() OVER (PARTITION BY {key_col}
                                ORDER BY {ts_col}, {tiebreak_col}) AS rn
      FROM {table}),
    changes AS (
      SELECT {key_col}, {attr_col}, {ts_col} AS valid_from, {tiebreak_col}
      FROM ordered
      WHERE rn = 1 OR prev IS DISTINCT FROM {attr_col})
    SELECT {key_col}, {attr_col}, valid_from,
           lead(valid_from) OVER w AS valid_to,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY {key_col} ORDER BY valid_from, {tiebreak_col})
    """


def schema_drift_batch(
    expected: list[tuple[str, str]], df: DataFrame
) -> DataFrame:
    """Column-set drift between an expected schema (name, simpleString
    type) and a live DataFrame: ADDED_COLUMN / DROPPED_COLUMN /
    TYPE_CHANGED rows, empty when schemas agree. Pure metadata — the
    batch twin of streaming/dq.py's ``schema_drift_stream``."""
    spark = SparkSession.getActiveSession()
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    exp = dict(expected)
    rows = []
    for name, typ in actual.items():
        if name not in exp:
            rows.append(("ADDED_COLUMN", name, None, typ))
        elif exp[name] != typ:
            rows.append(("TYPE_CHANGED", name, exp[name], typ))
    for name, typ in exp.items():
        if name not in actual:
            rows.append(("DROPPED_COLUMN", name, typ, None))
    return local_frame(
        spark, rows, "drift string, column string, expected string, actual string"
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """MERGE-INTO semantics over a change batch: collapse ``changes``
    to the LATEST operation per key (highest ``seq``; (key, seq) must
    be unique for cross-engine determinism), then

    - ``D``      — the key is removed from the base,
    - ``I``/``U`` — the key is upserted with the change's payload,
    - untouched base keys pass through unchanged.

    Plan: one key-partitioned window picks each key's last op, a LEFT
    ANTI join drops every touched key from the base (a delete is just
    "touched and not re-inserted"), and the upserts union back in.
    Both shuffles ride the SAME key — bucket base and changelog on it
    at 100 TB and the merge is fully co-located, which is exactly how
    lakehouse MERGE implementations schedule it.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
    # batch-sized; consumed by BOTH the upsert projection and the
    # touched-key anti-join side — pin so the changelog (and its window)
    # is computed once per merge
    latest = pin(
        changes.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
    upserts = latest.filter(F.col(op_col).isin("I", "U")).select(*key_cols, *payload_cols)
    touched = latest.select(*key_cols)
    survivors = base.join(touched, key_cols, "left_anti").select(*key_cols, *payload_cols)
    return survivors.unionByName(upserts)


def apply_cdc_sql(
    base_sql: str,
    changes_sql: str,
    key_cols: list[str],
    payload_cols: list[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> str:
    """DuckDB twin of :func:`apply_cdc` (same latest-op collapse, same
    anti-join + union shape)."""
    keys = ", ".join(key_cols)
    cols = ", ".join([*key_cols, *payload_cols])
    on = " AND ".join(f"b.{k} = t.{k}" for k in key_cols)
    first_key = key_cols[0]
    return f"""
    WITH ch AS ({changes_sql}),
    latest AS (
      SELECT * FROM (
        SELECT ch.*, row_number() OVER (PARTITION BY {keys} ORDER BY {seq_col} DESC) AS __rn
        FROM ch) t WHERE __rn = 1),
    up AS (SELECT {cols} FROM latest WHERE {op_col} IN ('I', 'U')),
    surv AS (
      SELECT {', '.join('b.' + c for c in [*key_cols, *payload_cols])}
      FROM ({base_sql}) b LEFT JOIN latest t ON {on}
      WHERE t.{first_key} IS NULL)
    SELECT {cols} FROM surv UNION ALL SELECT {cols} FROM up
    """
