"""Unit tests for the 25 DQ test types: Pass/violation boundaries on
hand-built micro-DataFrames (SURVEY §5 plan)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.dq.compiler import compile_suite
from data_observability_installer_spark.operators.dq.testtypes import (
    TABLE_LEVEL,
    TEST_TYPES,
    TestSpec,
    parse_lov,
    parse_params,
)

AS_OF = "2024-06-01"


def run_one(spark, rows, schema, spec):
    df = spark.createDataFrame(rows, schema)
    out = compile_suite(df, [spec], AS_OF).collect()[0]
    return out


def test_all_36_types_registered():
    assert len(TEST_TYPES) == 36  # 25 observed + 11 extension (README "32"; round 7 adds Functional_Dep)


def test_parse_params_with_quoted_tuple():
    p = parse_params("Baseline_Value=('No','Yes'), Threshold_Value=0 ")
    assert p == {"Baseline_Value": "('No','Yes')", "Threshold_Value": "0"}
    assert parse_lov(p["Baseline_Value"]) == ["No", "Yes"]
    p2 = parse_params("Baseline_Ct=45707, Threshold_Value=2")
    assert p2 == {"Baseline_Ct": "45707", "Threshold_Value": "2"}


def test_row_ct_pass_and_violation(spark):
    spec = TestSpec("t", TABLE_LEVEL, "Row_Ct", {"Baseline_Ct": "4"})
    ok = run_one(spark, [(1,), (2,), (3,), (4,)], "a int", spec)
    assert ok.result == "PASSED" and ok.measure == 4.0
    bad = run_one(spark, [(1,), (2,)], "a int", spec)
    assert bad.result == "WARNING"
    # explicit absolute floor below the baseline: 99 >= 98 passes
    spec2 = TestSpec("t", TABLE_LEVEL, "Row_Ct", {"Baseline_Ct": "100", "Threshold_Value": "98"})
    ok2 = run_one(spark, [(i,) for i in range(99)], "a int", spec2)
    assert ok2.result == "PASSED"


def test_required_and_missing_pct(spark):
    spec = TestSpec("t", "a", "Required", {"Threshold_Value": "0"})
    ok = run_one(spark, [(1,), (2,)], "a int", spec)
    assert ok.result == "PASSED" and ok.measure == 0.0
    bad = run_one(spark, [(1,), (None,)], "a int", spec)
    assert bad.result == "WARNING" and bad.measure == 1.0

    mp = TestSpec("t", "a", "Missing_Pct",
                  {"Baseline_Ct": "1000", "Baseline_Value_Ct": "990", "Threshold_Value": "2"})
    same = run_one(spark, [(i if i % 100 else None,) for i in range(1, 1001)], "a int", mp)
    assert same.result == "PASSED"  # 1% nulls vs 1% baseline
    drift = run_one(spark, [(i if i % 3 else None,) for i in range(1, 1001)], "a int", mp)
    assert drift.result == "WARNING"  # 33% nulls vs 1% baseline


def test_unique_and_unique_pct(spark):
    u = TestSpec("t", "a", "Unique", {"Threshold_Value": "0"})
    assert run_one(spark, [(1,), (2,), (3,)], "a int", u).result == "PASSED"
    assert run_one(spark, [(1,), (1,), (2,)], "a int", u).result == "WARNING"

    up = TestSpec("t", "a", "Unique_Pct",
                  {"Baseline_Unique_Ct": "100", "Baseline_Value_Ct": "100", "Threshold_Value": "2"})
    assert run_one(spark, [(i,) for i in range(100)], "a int", up).result == "PASSED"
    assert run_one(spark, [(i % 5,) for i in range(100)], "a int", up).result == "WARNING"


def test_alpha_trunc_and_constant_and_lov(spark):
    at = TestSpec("t", "s", "Alpha_Trunc", {"Baseline_Value": "5", "Threshold_Value": "0"})
    assert run_one(spark, [("abcde",), ("ab",)], "s string", at).result == "PASSED"
    assert run_one(spark, [("abc",), ("ab",)], "s string", at).result == "WARNING"

    c = TestSpec("t", "s", "Constant", {"Baseline_Value": "X", "Threshold_Value": "0"})
    assert run_one(spark, [("X",), ("X",)], "s string", c).result == "PASSED"
    assert run_one(spark, [("X",), ("Y",)], "s string", c).result == "WARNING"

    lov = TestSpec("t", "s", "LOV_Match", {"Baseline_Value": "('No','Yes')", "Threshold_Value": "0"})
    assert run_one(spark, [("No",), ("Yes",)], "s string", lov).result == "PASSED"
    assert run_one(spark, [("No",), ("Maybe",)], "s string", lov).result == "WARNING"


def test_pattern_email_state(spark):
    pm = TestSpec("t", "z", "Pattern_Match", {"Baseline_Value": "[0-9]{5}", "Threshold_Value": "0"})
    assert run_one(spark, [("12345",), ("99999",)], "z string", pm).result == "PASSED"
    assert run_one(spark, [("1234",)], "z string", pm).result == "WARNING"

    em = TestSpec("t", "e", "Email_Format", {"Threshold_Value": "0"})
    assert run_one(spark, [("a.b@x.io",)], "e string", em).result == "PASSED"
    assert run_one(spark, [("not-an-email",)], "e string", em).result == "WARNING"

    st = TestSpec("t", "s", "US_State", {"Threshold_Value": "0"})
    assert run_one(spark, [("CA",), ("ny",)], "s string", st).result == "PASSED"
    assert run_one(spark, [("ZZ",)], "s string", st).result == "WARNING"


def test_numeric_shift_family(spark):
    mv = TestSpec("t", "v", "Min_Val", {"Baseline_Value": "0", "Threshold_Value": "0"})
    assert run_one(spark, [(0.0,), (5.0,)], "v double", mv).result == "PASSED"
    assert run_one(spark, [(-1.0,)], "v double", mv).result == "WARNING"

    avs = TestSpec("t", "v", "Avg_Shift",
                   {"Baseline_Avg": "10", "Baseline_SD": "2", "Threshold_Value": "0.5"})
    assert run_one(spark, [(9.5,), (10.5,)], "v double", avs).result == "PASSED"
    assert run_one(spark, [(20.0,), (22.0,)], "v double", avs).result == "WARNING"

    inc = TestSpec("t", "v", "Incr_Avg_Shift",
                   {"Baseline_Avg": "10", "Baseline_SD": "2", "Baseline_Sum": "20",
                    "Baseline_Value_Ct": "2", "Threshold_Value": "0.5"})
    # increment = (50-20)/(5-2)=10 == baseline avg -> pass
    ok = run_one(spark, [(10.0,), (10.0,), (10.0,), (10.0,), (10.0,)], "v double", inc)
    assert ok.result == "PASSED"
    # no new rows -> vacuous pass
    assert run_one(spark, [(10.0,), (10.0,)], "v double", inc).result == "PASSED"

    dt_ = TestSpec("t", "v", "Dec_Trunc", {"Threshold_Value": "0.5"})
    assert run_one(spark, [(1.25,), (2.5,)], "v double", dt_).result == "PASSED"
    assert run_one(spark, [(1.0,), (2.0,)], "v double", dt_).result == "WARNING"  # truncated

    oa = TestSpec("t", "v", "Outlier_Pct_Above",
                  {"Baseline_Avg": "10", "Baseline_SD": "1", "Threshold_Value": "5"})
    assert run_one(spark, [(10.0,)] * 99 + [(13.0,)], "v double", oa).result == "PASSED"
    assert run_one(spark, [(10.0,)] * 9 + [(13.0,)], "v double", oa).result == "WARNING"
    # NULLs stay in the denominator as non-outliers (the DuckDB twin's
    # CASE ... ELSE 0): 1 outlier in 20 rows is 5%, not 1 in 1
    assert run_one(spark, [(13.0,)] + [(None,)] * 19, "v double", oa).result == "PASSED"

    ob = TestSpec("t", "v", "Outlier_Pct_Below",
                  {"Baseline_Avg": "10", "Baseline_SD": "1", "Threshold_Value": "5"})
    assert run_one(spark, [(10.0,)] * 9 + [(7.0,)], "v double", ob).result == "WARNING"
    assert run_one(spark, [(7.0,)] + [(None,)] * 19, "v double", ob).result == "PASSED"


def test_date_family(spark):
    D = dt.datetime
    md = TestSpec("t", "d", "Min_Date", {"Baseline_Value": "2024-01-01", "Threshold_Value": "0"})
    assert run_one(spark, [(D(2024, 1, 1),)], "d timestamp", md).result == "PASSED"
    assert run_one(spark, [(D(2023, 12, 25),)], "d timestamp", md).result == "WARNING"

    fd = TestSpec("t", "d", "Future_Date", {"Threshold_Value": "0"})
    assert run_one(spark, [(D(2024, 5, 1),)], "d timestamp", fd).result == "PASSED"
    assert run_one(spark, [(D(2024, 7, 1),)], "d timestamp", fd).result == "WARNING"

    f1 = TestSpec("t", "d", "Future_Date_1Y", {"Threshold_Value": "0"})
    assert run_one(spark, [(D(2025, 5, 1),)], "d timestamp", f1).result == "PASSED"
    assert run_one(spark, [(D(2025, 7, 1),)], "d timestamp", f1).result == "WARNING"

    rc = TestSpec("t", "d", "Recency", {"Threshold_Value": "15"})
    assert run_one(spark, [(D(2024, 5, 25),)], "d timestamp", rc).result == "PASSED"
    assert run_one(spark, [(D(2024, 4, 1),)], "d timestamp", rc).result == "WARNING"

    dd = TestSpec("t", "d", "Distinct_Date_Ct", {"Baseline_Value": "2", "Threshold_Value": "0"})
    assert run_one(spark, [(D(2024, 1, 1),), (D(2024, 1, 2),)], "d timestamp", dd).result == "PASSED"
    assert run_one(spark, [(D(2024, 1, 1),), (D(2024, 1, 1),)], "d timestamp", dd).result == "WARNING"

    dv = TestSpec("t", "s", "Distinct_Value_Ct", {"Baseline_Value_Ct": "2", "Threshold_Value": "0"})
    assert run_one(spark, [("a",), ("b",)], "s string", dv).result == "PASSED"
    assert run_one(spark, [("a",), ("b",), ("c",)], "s string", dv).result == "WARNING"

    mr = TestSpec("t", "d", "Monthly_Rec_Ct", {"Threshold_Value": "0"})
    assert run_one(spark, [(D(2024, 1, 5),), (D(2024, 2, 5),), (D(2024, 3, 5),)],
                   "d timestamp", mr).result == "PASSED"
    assert run_one(spark, [(D(2024, 1, 5),), (D(2024, 3, 5),)],
                   "d timestamp", mr).result == "WARNING"  # feb missing

    wr = TestSpec("t", "d", "Weekly_Rec_Ct", {"Threshold_Value": "0"})
    assert run_one(spark, [(D(2024, 1, 1),), (D(2024, 1, 8),)], "d timestamp", wr).result == "PASSED"
    assert run_one(spark, [(D(2024, 1, 1),), (D(2024, 1, 15),)], "d timestamp", wr).result == "WARNING"


def test_null_measure_is_vacuous_pass(spark):
    at = TestSpec("t", "s", "Alpha_Trunc", {"Baseline_Value": "5", "Threshold_Value": "0"})
    out = run_one(spark, [(None,), (None,)], "s string", at)
    assert out.result == "PASSED" and out.measure is None


def test_single_pass_compilation(spark):
    """Whole suite = one aggregate row per chunk — verify one job wide."""
    from data_observability_installer_spark.plans.suites import LINEITEM_SUITE, AS_OF as SUITE_AS_OF

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = compile_suite(df, LINEITEM_SUITE, SUITE_AS_OF)
    rows = out.collect()
    assert len(rows) == len(LINEITEM_SUITE)
    assert set(out.columns) == {
        "table_name", "column_name", "test_type", "measure", "threshold_value", "result"
    }
    assert all(r.result in ("PASSED", "WARNING", "FAILED") for r in rows)


# --- the 10 extension types (README 32-type claim) --------------------------


def test_daily_rec_ct(spark):
    spec = TestSpec("t", "d", "Daily_Rec_Ct", {"Threshold_Value": "0"})
    full = [(dt.datetime(2024, 1, i),) for i in (1, 2, 3)]
    ok = run_one(spark, full, "d timestamp", spec)
    assert ok.result == "PASSED" and ok.measure == 0.0
    gap = [(dt.datetime(2024, 1, i),) for i in (1, 3)]  # Jan 2 empty
    bad = run_one(spark, gap, "d timestamp", spec)
    assert bad.result == "WARNING" and bad.measure == 1.0


def test_row_ct_pct(spark):
    spec = TestSpec("t", TABLE_LEVEL, "Row_Ct_Pct", {"Baseline_Ct": "100", "Threshold_Value": "10"})
    ok = run_one(spark, [(i,) for i in range(95)], "a int", spec)
    assert ok.result == "PASSED" and ok.measure == 5.0
    bad = run_one(spark, [(i,) for i in range(80)], "a int", spec)  # -20%
    assert bad.result == "WARNING" and bad.measure == 20.0


def test_lov_all_and_new_shift(spark):
    la = TestSpec("t", "s", "LOV_All", {"Baseline_Value": "('A','B','C')", "Threshold_Value": "0"})
    ok = run_one(spark, [("A",), ("B",), ("C",), ("A",)], "s string", la)
    assert ok.result == "PASSED" and ok.measure == 0.0
    bad = run_one(spark, [("A",), ("B",)], "s string", la)  # C vanished
    assert bad.result == "WARNING" and bad.measure == 1.0

    ns = TestSpec("t", "s", "New_Shift", {"Baseline_Value": "('A','B')", "Threshold_Value": "30"})
    ok2 = run_one(spark, [("A",), ("B",), ("A",), ("B",)], "s string", ns)
    assert ok2.result == "PASSED" and ok2.measure == 0.0
    bad2 = run_one(spark, [("A",), ("Z",)], "s string", ns)  # 50% novel
    assert bad2.result == "WARNING" and bad2.measure == 50.0


def test_distinct_shift(spark):
    spec = TestSpec("t", "a", "Distinct_Shift",
                    {"Baseline_Unique_Ct": "50", "Baseline_Value_Ct": "100",
                     "Threshold_Value": "2"})
    # same 50% distinct ratio -> z == 0
    ok = run_one(spark, [(i // 2,) for i in range(100)], "a int", spec)
    assert ok.result == "PASSED" and ok.measure == 0.0
    # collapse to one distinct value -> huge z
    bad = run_one(spark, [(1,) for _ in range(100)], "a int", spec)
    assert bad.result == "WARNING" and bad.measure > 2.0


def test_valid_month_and_zip(spark):
    vm = TestSpec("t", "m", "Valid_Month", {"Threshold_Value": "0"})
    ok = run_one(spark, [("January",), ("FEB",), ("12",)], "m string", vm)
    assert ok.result == "PASSED"
    bad = run_one(spark, [("Januery",), ("13",)], "m string", vm)
    assert bad.result == "WARNING" and bad.measure == 2.0

    zc = TestSpec("t", "z", "Zip_Code", {"Threshold_Value": "0"})
    ok2 = run_one(spark, [("02139",), ("90210-1234",)], "z string", zc)
    assert ok2.result == "PASSED"
    bad2 = run_one(spark, [("2139",), ("abcde",)], "z string", zc)
    assert bad2.result == "WARNING" and bad2.measure == 2.0


def test_variability_bounds(spark):
    rows = [(float(x),) for x in (10, 20, 30, 40, 50)]  # sd ~ 15.81
    up = TestSpec("t", "v", "Variability_Increase",
                  {"Baseline_SD": "15.811388300841896", "Threshold_Value": "0.25"})
    down = TestSpec("t", "v", "Variability_Decrease",
                    {"Baseline_SD": "15.811388300841896", "Threshold_Value": "0.25"})
    assert run_one(spark, rows, "v double", up).result == "PASSED"
    assert run_one(spark, rows, "v double", down).result == "PASSED"
    wild = [(float(x),) for x in (10, 200, 30, 400, 50)]  # sd blows up
    assert run_one(spark, wild, "v double", up).result == "WARNING"
    flat = [(10.0,), (10.0,), (10.0,), (10.1,), (9.9,)]  # sd collapses
    assert run_one(spark, flat, "v double", down).result == "WARNING"


def test_condition_flag(spark):
    spec = TestSpec("t", TABLE_LEVEL, "Condition_Flag",
                    {"Baseline_Value": "v < 0 OR v > 100", "Threshold_Value": "0"})
    ok = run_one(spark, [(50.0,), (99.0,)], "v double", spec)
    assert ok.result == "PASSED" and ok.measure == 0.0
    bad = run_one(spark, [(50.0,), (-1.0,), (101.0,)], "v double", spec)
    assert bad.result == "WARNING" and bad.measure == 2.0
