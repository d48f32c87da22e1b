"""Profiler, hygiene screens, and generate→run round-trip (SURVEY §7
steps 2-4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_observability_installer_spark.operators.dq.compiler import compile_suite
from data_observability_installer_spark.operators.dq.generator import (
    generate_suite,
    pattern_to_regex,
)
from data_observability_installer_spark.operators.hygiene import hygiene
from data_observability_installer_spark.operators.profile import profile

AS_OF = "2001-12-01"


def test_profile_shape_and_values(spark, sf_smoke):
    df = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    prof = profile(df, "lineitem", AS_OF)
    rows = {(r.column_name, r.metric): r for r in prof.collect()}
    assert rows[("l_quantity", "record_ct")].value == 6000.0
    assert rows[("l_quantity", "null_ct")].value == 0.0
    assert rows[("l_returnflag", "distinct_ct")].value == 3.0
    assert rows[("l_returnflag", "dtype_class")].value_str == "string"
    assert rows[("l_shipdate", "dtype_class")].value_str == "date"
    # every column gets the 8 general metrics
    per_col = {}
    for (c, m) in rows:
        per_col.setdefault(c, set()).add(m)
    for c, ms in per_col.items():
        assert {"dtype_class", "record_ct", "value_ct", "null_ct", "null_pct",
                "distinct_ct", "distinct_pct", "duplicate_ct"} <= ms, c


def test_profile_chunk_jobs_inherit_job_group(spark, sf_smoke):
    """A multi-chunk profile runs its chunk jobs on pool threads; each
    one must still carry the caller's job group, so a group-scoped
    count (or cancel) covers the whole profile. Jobs are bracketed by
    marker jobs in their own groups: every job id between the markers
    belongs to the profile and must be listed under its group."""
    sc = spark.sparkContext
    df = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")

    def marker(group: str) -> list[int]:
        sc.setJobGroup(group, "marker")
        try:
            spark.range(1).collect()
            return sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)

    lo = max(marker("profile_group_pre"))
    sc.setJobGroup("profile_group_g", "multi-chunk profile")
    try:
        profile(df, "lineitem", AS_OF).collect()
    finally:
        sc.setJobGroup(None, None)
    hi = min(marker("profile_group_post"))
    launched = set(range(lo + 1, hi))
    grouped = set(sc.statusTracker().getJobIdsForGroup("profile_group_g"))
    assert len(launched) > 1, launched  # the pooled multi-chunk path ran
    assert launched == grouped, (sorted(launched), sorted(grouped))


def test_profile_approx_mode_runs(spark, sf_smoke):
    df = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    prof = profile(df, "lineitem", AS_OF, columns=["l_partkey"], exact=False)
    got = {r.metric: r.value for r in prof.collect()}
    # HLL estimate within 5% of the exact 200
    assert abs(got["distinct_ct"] - 200.0) <= 10.0


APPROX_METRICS = {"distinct_ct", "distinct_pct", "duplicate_ct", "pattern_distinct_ct",
                  "p05", "p25", "p50", "p75", "p95"}


def test_profile_approx_matches_exact_within_tolerance(spark, sf_smoke):
    """The 100 TB configuration (exact=False) must agree with the exact
    path: sketch-backed metrics within 5% relative, everything else
    bit-identical (they share the same expressions)."""
    df = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    exact = {(r.column_name, r.metric): r for r in profile(df, "t", AS_OF, columns=cols).collect()}
    approx = {(r.column_name, r.metric): r
              for r in profile(df, "t", AS_OF, columns=cols, exact=False).collect()}
    assert set(exact) == set(approx)
    for key, er in exact.items():
        ar = approx[key]
        col, metric = key
        if metric in APPROX_METRICS:
            if metric.startswith("p"):  # percentiles: 5% relative
                if er.value not in (None, 0.0):
                    assert abs(ar.value - er.value) / abs(er.value) <= 0.05, key
            else:  # HLL-derived counts/pcts: 5% of the count scale
                scale = exact[(col, "value_ct")].value if metric.endswith("_ct") else 100.0
                assert abs(ar.value - er.value) <= 0.05 * scale, key
        else:
            assert (ar.value, ar.value_str) == (er.value, er.value_str), key


def test_hygiene_fires_on_planted_anomalies(spark):
    rows = [(i, " padded", None, 0.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, s string, missing string, z double")
    out = hygiene(profile(df, "t", AS_OF), AS_OF)
    fired = {(r.column_name, r.detector) for r in out.collect()}
    assert ("missing", "all_null_column") in fired
    assert ("s", "leading_spaces") in fired
    assert ("s", "constant_column") in fired
    assert ("z", "zero_inflated") in fired
    assert ("id", "unique_id_candidate") in fired


def test_pattern_to_regex():
    assert pattern_to_regex("999-AA") == "[0-9][0-9][0-9]-[A-Za-z][A-Za-z]"
    assert pattern_to_regex("A.9") == "[A-Za-z]\\.[0-9]"


def test_generate_then_run_roundtrip_all_pass(spark, sf_smoke):
    """TestGen tasks 1+3+4: generate from a profile of the table, run on
    the same table => every generated test PASSES."""
    for table in ["lineitem", "customer", "orders"]:
        df = spark.read.parquet(f"{sf_smoke}/{table}.parquet")
        _, specs = generate_suite(spark, df, table, AS_OF)
        assert len(specs) >= 15, f"{table}: suite too small ({len(specs)})"
        out = compile_suite(df, specs, AS_OF)
        bad = [tuple(r) for r in out.filter(F.col("result") != "PASSED").collect()]
        assert not bad, f"{table}: round-trip violations: {bad}"


def test_generated_suite_detects_drift(spark, sf_smoke):
    """Mutated slice flips specific generated tests (FIXTURES.md group C)."""
    df = spark.read.parquet(f"{sf_smoke}/customer.parquet")
    _, specs = generate_suite(spark, df, "customer", AS_OF)
    drifted = df.limit(50).withColumn(
        "c_acctbal", F.lit(None).cast("double")
    )  # row count drop + all-null column
    out = compile_suite(drifted, specs, AS_OF)
    flipped = {(r.column_name, r.test_type) for r in out.filter(F.col("result") != "PASSED").collect()}
    assert ("N/A", "Row_Ct") in flipped
    assert ("c_acctbal", "Missing_Pct") in flipped
