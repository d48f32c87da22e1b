"""Algorithmic test generation (TestGen task 3).

Profile row -> applicable test types with thresholds taken from the
baselines the profile captured (SURVEY §2.4: "Test generation = pure
metadata transform: profile row → applicable test types + thresholds",
e.g. distinct-ct ≤ K and stable → LOV_Match with collect_set as
baseline). The transform runs driver-side over the wide profile —
metadata only, one row per column, never data rows.

Round-trip property (locked by tests): generating from a profile of a
table and immediately running the suite on the same table yields all
PASSED.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions.driver import local_frame

from .testtypes import TABLE_LEVEL, TestSpec

LOV_CAP = 10  # max distinct values for list-of-values / Constant baselines


def collect_lov(df: DataFrame, columns: list[str], cap: int = LOV_CAP) -> dict[str, list[str]]:
    """One pass collecting the value list for low-cardinality columns.
    ``slice(sort_array(collect_set(..)))`` caps driver transfer even if
    the cardinality estimate was stale."""
    if not columns:
        return {}
    row = df.agg(
        *[
            F.slice(F.sort_array(F.collect_set(F.col(c).cast("string"))), 1, cap + 1).alias(c)
            for c in columns
        ]
    ).collect()[0]
    return {c: list(row[c]) for c in columns}


def _fmt(x: float) -> str:
    """Format a profile metric for a baseline parameter string."""
    if x is None:
        return ""
    if float(x) == int(float(x)):
        return str(int(float(x)))
    return repr(float(x))


def _lov_str(values: list[str]) -> str:
    return "(" + ",".join("'" + v.replace("'", "''") + "'" for v in values) + ")"


_PAT_SPECIALS = re.compile(r"([.^$*+?{}\[\]\\|()])")


def pattern_to_regex(pattern: str) -> str:
    """Character-class pattern ('AAA-99') -> anchored regex."""
    out = []
    for ch in pattern:
        if ch == "A":
            out.append("[A-Za-z]")
        elif ch == "9":
            out.append("[0-9]")
        else:
            out.append(_PAT_SPECIALS.sub(r"\\\1", ch))
    return "".join(out)


def generate_tests(
    wide_rows: list,
    lov: dict[str, list[str]],
    as_of: str,
) -> list[TestSpec]:
    """Wide-profile rows (one per column, ``<metric>_v/_s`` fields) ->
    generated test suite."""

    specs: list[TestSpec] = []
    if not wide_rows:
        return specs

    def v(row, metric: str) -> float | None:
        raw = row[f"{metric}_v"] if f"{metric}_v" in row.__fields__ else None
        return None if raw is None else float(raw)

    def s(row, metric: str) -> str | None:
        key = f"{metric}_s"
        return row[key] if key in row.__fields__ else None

    first = wide_rows[0]
    table = first["table_name"]
    specs.append(
        TestSpec(table, TABLE_LEVEL, "Row_Ct",
                 {"Baseline_Ct": _fmt(v(first, "record_ct")),
                  # corpus convention: absolute floor = baseline count
                  "Threshold_Value": _fmt(v(first, "record_ct"))})
    )

    for row in wide_rows:
        col = row["column_name"]
        cls = s(row, "dtype_class")
        record_ct, value_ct = v(row, "record_ct"), v(row, "value_ct")
        distinct_ct = v(row, "distinct_ct")
        if not record_ct:
            continue

        def add(test_type: str, params: dict) -> None:
            specs.append(TestSpec(table, col, test_type, params))

        add("Missing_Pct", {"Baseline_Ct": _fmt(record_ct),
                            "Baseline_Value_Ct": _fmt(value_ct), "Threshold_Value": "3"})
        if value_ct and value_ct > 0:
            add("Unique_Pct", {"Baseline_Unique_Ct": _fmt(distinct_ct),
                               "Baseline_Value_Ct": _fmt(value_ct), "Threshold_Value": "3"})
        if value_ct == record_ct and record_ct > 0:
            add("Required", {"Threshold_Value": "0"})
        if distinct_ct == value_ct and (value_ct or 0) > 10:
            add("Unique", {"Threshold_Value": "0"})

        if cls == "string":
            if v(row, "max_len") is not None:
                add("Alpha_Trunc", {"Baseline_Value": _fmt(v(row, "max_len")), "Threshold_Value": "0"})
            values = lov.get(col)
            if values and len(values) <= LOV_CAP:
                if len(values) == 1:
                    add("Constant", {"Baseline_Value": values[0], "Threshold_Value": "0"})
                else:
                    add("LOV_Match", {"Baseline_Value": _lov_str(values), "Threshold_Value": "0"})
                    add("Distinct_Value_Ct", {"Baseline_Value_Ct": _fmt(len(values)),
                                              "Threshold_Value": "0"})
            email_ct, zip_ct, state_ct = v(row, "email_ct"), v(row, "zip_ct"), v(row, "state_ct")
            if email_ct and value_ct and email_ct == value_ct:
                add("Email_Format", {"Threshold_Value": "0"})
            if zip_ct and value_ct and zip_ct == value_ct:
                add("Pattern_Match", {"Baseline_Value": "[0-9]{5}(-[0-9]{4})?",
                                      "Threshold_Value": "0"})
            if state_ct and value_ct and state_ct == value_ct:
                add("US_State", {"Threshold_Value": "0"})
            pat_ct, max_pat = v(row, "pattern_distinct_ct"), s(row, "max_pattern")
            if pat_ct == 1 and max_pat and zip_ct != value_ct:
                add("Pattern_Match", {"Baseline_Value": pattern_to_regex(max_pat),
                                      "Threshold_Value": "0"})

        elif cls == "numeric":
            mn, avg, sd = v(row, "min_val"), v(row, "avg_val"), v(row, "stddev_val")
            total, frac = v(row, "sum_val"), v(row, "frac_sum")
            if mn is not None:
                add("Min_Val", {"Baseline_Value": _fmt(mn), "Threshold_Value": "0"})
            if avg is not None and sd:
                add("Avg_Shift", {"Baseline_Avg": _fmt(avg), "Baseline_SD": _fmt(sd),
                                  "Threshold_Value": "0.5"})
                add("Incr_Avg_Shift", {"Baseline_Avg": _fmt(avg), "Baseline_SD": _fmt(sd),
                                       "Baseline_Sum": _fmt(total),
                                       "Baseline_Value_Ct": _fmt(value_ct),
                                       "Threshold_Value": "0.5"})
                add("Outlier_Pct_Above", {"Baseline_Avg": _fmt(avg), "Baseline_SD": _fmt(sd),
                                          "Threshold_Value": "5"})
                add("Outlier_Pct_Below", {"Baseline_Avg": _fmt(avg), "Baseline_SD": _fmt(sd),
                                          "Threshold_Value": "5"})
            if frac and frac > 0:
                add("Dec_Trunc", {"Threshold_Value": _fmt(frac)})

        elif cls == "date":
            mn_d, mx_d = s(row, "min_date"), s(row, "max_date")
            if mn_d:
                add("Min_Date", {"Baseline_Value": mn_d, "Threshold_Value": "0"})
            add("Future_Date", {"Threshold_Value": _fmt(v(row, "future_ct") or 0)})
            add("Future_Date_1Y", {"Threshold_Value": _fmt(v(row, "future_ct") or 0)})
            if mx_d:
                import datetime as _dt

                staleness = (_dt.date.fromisoformat(as_of) - _dt.date.fromisoformat(mx_d)).days
                add("Recency", {"Threshold_Value": _fmt(max(staleness, 0))})
            if v(row, "distinct_date_ct") is not None:
                add("Distinct_Date_Ct", {"Baseline_Value": _fmt(v(row, "distinct_date_ct")),
                                         "Threshold_Value": "0"})
            add("Monthly_Rec_Ct", {"Threshold_Value": _fmt(v(row, "monthly_gap_ct") or 0)})
            add("Weekly_Rec_Ct", {"Threshold_Value": _fmt(v(row, "weekly_gap_ct") or 0)})

    return specs


def generate_suite(
    spark: SparkSession, df: DataFrame, table: str, as_of: str
) -> tuple[DataFrame, list[TestSpec]]:
    """profile -> (profile DF, generated suite). Two data passes total:
    the profile agg and the capped LOV collection."""
    from ..profile import profile
    from ..hygiene import widen

    prof = profile(df, table, as_of)
    wide = widen(prof)
    rows = wide.collect()  # one row per column — metadata, not data
    lov_cols = [
        r["column_name"]
        for r in rows
        if r["dtype_class_s"] == "string"
        and r["distinct_ct_v"] is not None
        and r["distinct_ct_v"] <= LOV_CAP
    ]
    lov = collect_lov(df, lov_cols)
    return prof, generate_tests(rows, lov, as_of)


def dependency_tests(table: str, fd_rows, ind_rows) -> list[TestSpec]:
    """Confirmed discoveries -> generated structural tests, completing
    the reference's profile->generate loop (README.md:207-209) for
    dependencies: an FD the evidence confirmed becomes a
    ``Functional_Dep`` test on its determinant (runs inside
    compile_suite's single-table aggregate); a fully-contained
    inclusion dependency becomes a ``Valid_FK`` test on the child
    column (cross-table — executed by :func:`run_referential_tests`).

    ``fd_rows`` are :func:`..discovery.discover_fds` result rows for
    ``table``; ``ind_rows`` are :func:`..discovery.discover_fks` rows
    (any table — the child table is parsed from the ``child`` label).
    """
    specs: list[TestSpec] = []
    for r in fd_rows:
        if r["holds"]:
            specs.append(
                TestSpec(
                    table,
                    r["determinant"],
                    "Functional_Dep",
                    {"Dependent_Column": r["dependent"], "Threshold_Value": "0"},
                )
            )
    for r in ind_rows:
        if r["holds"]:
            ct, cc = r["child"].split(".", 1)
            pt, pc = r["parent"].split(".", 1)
            specs.append(
                TestSpec(
                    ct,
                    cc,
                    "Valid_FK",
                    {
                        "Parent_Table": pt,
                        "Parent_Column": pc,
                        "Threshold_Value": "0",
                    },
                )
            )
    return specs


def run_referential_tests(
    specs: list[TestSpec], tables: dict[str, DataFrame]
) -> DataFrame:
    """Execute generated ``Valid_FK`` tests (the one test family a
    single-table aggregate cannot express). Measure = orphaned distinct
    child values (``n_child_distinct - n_contained`` from one
    cardinality-bounded containment pass per pair); violated when the
    orphan count exceeds Threshold_Value. Output schema matches
    compile_suite's outcome rows."""
    from .discovery import ind_check

    fk = [s for s in specs if s.test_type == "Valid_FK"]
    if not fk:
        raise ValueError("no Valid_FK specs to run")
    named = [
        (
            s.table,
            tables[s.table],
            s.column,
            s.params["Parent_Table"],
            tables[s.params["Parent_Table"]],
            s.params["Parent_Column"],
        )
        for s in fk
    ]
    bounds = {
        (f"{s.table}.{s.column}", f"{s.params['Parent_Table']}.{s.params['Parent_Column']}"):
        (float(s.params.get("Threshold_Value", "0")), s.severity)
        for s in fk
    }
    res = ind_check(named)
    rows = []
    for r in res.collect():  # one row per generated test — metadata
        bound, severity = bounds[(r["child"], r["parent"])]
        measure = float(r["n_child_distinct"] - r["n_contained"])
        rows.append(
            (
                r["child"].split(".", 1)[0],
                r["child"].split(".", 1)[1],
                "Valid_FK",
                measure,
                bound,
                severity if measure > bound else "PASSED",
            )
        )
    spark = next(iter(tables.values())).sparkSession
    return local_frame(
        spark,
        rows,
        "table_name string, column_name string, test_type string, "
        "measure double, threshold_value double, result string",
    )
