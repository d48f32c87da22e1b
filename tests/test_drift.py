"""PSI drift: identical data scores ~0; planted shifts register."""

from __future__ import annotations

import pytest

from data_observability_installer_spark.operators.drift import (
    psi_categorical,
    psi_numeric,
)

EDGES = [10.0, 20.0, 30.0]
BASE = [25.0, 25.0, 25.0, 25.0]  # uniform quartiles


def test_numeric_psi_stable_on_same_distribution(spark):
    rows = [(float(v),) for v in range(0, 40)]  # 10 per bin
    df = spark.createDataFrame(rows, "x double")
    out = psi_numeric(df, "x", EDGES, BASE).collect()[0]
    assert out.drift == "STABLE" and abs(out.psi) < 1e-6


def test_numeric_psi_detects_shift(spark):
    rows = [(float(v),) for v in range(30, 70)]  # all mass in top bin
    df = spark.createDataFrame(rows, "x double")
    out = psi_numeric(df, "x", EDGES, BASE).collect()[0]
    assert out.drift == "MAJOR" and out.psi > 0.25


def test_numeric_psi_ignores_nulls(spark):
    rows = [(float(v),) for v in range(0, 40)] + [(None,)] * 20
    df = spark.createDataFrame(rows, "x double")
    out = psi_numeric(df, "x", EDGES, BASE).collect()[0]
    assert out.drift == "STABLE"


def test_categorical_psi_novel_category(spark):
    base = {"A": 50.0, "B": 50.0}
    same = spark.createDataFrame([("A",), ("B",)] * 20, "c string")
    assert psi_categorical(same, "c", base).collect()[0].drift == "STABLE"
    novel = spark.createDataFrame([("A",), ("Z",)] * 20, "c string")  # 50% unseen
    out = psi_categorical(novel, "c", base).collect()[0]
    assert out.drift == "MAJOR" and out.psi > 0.25


def test_benford_uniform_digits_flagged(spark):
    """Uniform 1..9999 values deviate from Benford (uniform first
    digits ~1/9 each vs log10(1+1/d)); a log-uniform sample conforms."""
    import math

    from data_observability_installer_spark.operators.drift import benford_screen

    uniform = spark.range(1, 10000).selectExpr("CAST(id AS DOUBLE) AS v")
    rows = benford_screen(uniform, "v").collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-4  # 9 shares, 6dp rounding
    chi_uniform = rows[0].chi_square
    assert chi_uniform > 0.01  # uniform magnitudes are NOT Benford

    # log-uniform magnitudes are exactly Benford in the limit
    log_uniform = spark.range(0, 40000).selectExpr("pow(10, (id % 4000) / 1000.0) AS v")
    chi_log = benford_screen(log_uniform, "v").collect()[0].chi_square
    assert chi_log < 0.001 < chi_uniform  # conforms vs deviates


def test_benford_subunit_values(spark):
    from data_observability_installer_spark.operators.drift import benford_screen

    df = spark.createDataFrame([(0.071,), (0.73,), (7.3,), (73.0,), (0.0,), (None,)], "v double")
    rows = benford_screen(df, "v").collect()
    # every value's first significant digit is 7; zeros/nulls excluded
    assert [(r.digit, r.obs_ct) for r in rows] == [(7, 4)]


def test_ks_drift_identical_halves_is_zero(spark):
    from data_observability_installer_spark.operators.drift import ks_drift
    from pyspark.sql import functions as F

    # alternating blocks give both sides ten copies of every value in
    # 0..99 -> identical empirical CDFs, D = 0
    df = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("v"),
        ((F.col("id") / 100).cast("int") % 2 == 0).alias("side"),
    )
    row = ks_drift(df, "v", F.col("side")).collect()[0]
    assert row.ks_d == 0.0 and row.n_a == 1000 and row.n_b == 1000


def test_ks_drift_disjoint_is_one(spark):
    from data_observability_installer_spark.operators.drift import ks_drift
    from pyspark.sql import functions as F

    # side A in [0, 100), side B in [1000, 1100): CDFs never overlap
    df = spark.range(2000).select(
        ((F.col("id") % 1000) + F.when(F.col("id") < 1000, 0).otherwise(1000))
        .cast("double")
        .alias("v"),
        (F.col("id") < 1000).alias("side"),
    )
    row = ks_drift(df, "v", F.col("side")).collect()[0]
    assert row.ks_d == 1.0


def test_ks_drift_constant_column_single_bin(spark):
    from data_observability_installer_spark.operators.drift import ks_drift
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.lit(5.0).alias("v"), (F.col("id") % 2 == 0).alias("side"))
    row = ks_drift(df, "v", F.col("side")).collect()[0]
    assert row.ks_d == 0.0  # degenerate span collapses to one bin


def test_psi_trend_flags_only_the_shifted_period(spark):
    from data_observability_installer_spark.operators.drift import psi_trend

    # period A matches the baseline proportions; period B is all-in-one-bin
    rows = [("A", float(v)) for v in [5, 15, 25, 35, 45] * 20]
    rows += [("B", 5.0)] * 100
    df = spark.createDataFrame(rows, "period string, x double")
    out = {
        r["period"]: r["drift"]
        for r in psi_trend(
            df, "x", [10.0, 20.0, 30.0, 40.0], [20.0, 20.0, 20.0, 20.0, 20.0], "period"
        ).collect()
    }
    assert out == {"A": "STABLE", "B": "MAJOR"}


def test_mad_outliers_resists_extreme_contamination(spark):
    """The MAD fence must flag planted extremes without the extremes
    dragging the fence (the failure mode of mean/stddev screens: one
    1e9 row inflates sigma until nothing is an outlier)."""
    from data_observability_installer_spark.operators.drift import mad_outliers

    base = [(float(100 + (i % 21) - 10),) for i in range(400)]  # 90..110
    wild = [(1e9,), (1e9,), (-1e9,)]
    df = spark.createDataFrame(base + wild, "x double")
    rep = {r.flag: r for r in mad_outliers(df, "x").collect()}
    assert rep["HIGH"].row_ct == 2 and rep["LOW"].row_ct == 1
    assert rep["INLIER"].row_ct == 400
    # the fence stayed near the bulk, not dragged toward 1e9
    assert 50 < rep["INLIER"].fence_hi < 200


def test_mad_outliers_all_inliers_on_tight_data(spark):
    from data_observability_installer_spark.operators.drift import mad_outliers

    df = spark.createDataFrame([(float(50 + i % 3),) for i in range(60)], "x double")
    rep = {r.flag: r.row_ct for r in mad_outliers(df, "x").collect()}
    assert rep == {"INLIER": 60}

def test_mad_outliers_approx_mode_bounded_error(spark, sf_smoke):
    """approx=True (the 100 TB production mode: percentile_approx's
    mergeable GK-sketch instead of the O(rows) exact buffer) must land
    fences within the sketch's rank-error bound of the exact fences on
    real skewed data, and agree on every flag count at high accuracy."""
    from data_observability_installer_spark.operators.drift import mad_outliers

    df = spark.read.parquet(f"{sf_smoke}/lineitem.parquet").select("l_extendedprice")
    exact = {r.flag: r for r in mad_outliers(df, "l_extendedprice").collect()}
    approx = {
        r.flag: r
        for r in mad_outliers(
            df, "l_extendedprice", approx=True, accuracy=10000
        ).collect()
    }
    assert set(approx) == set(exact)
    # rank error <= 1/accuracy; translate to a value tolerance via the
    # observed data spread (generous 1% of range — actual is far lower)
    lo = float(exact["INLIER"].min_val)
    hi = max(float(r.max_val) for r in exact.values())
    tol = 0.01 * (hi - lo)
    assert abs(approx["INLIER"].fence_lo - exact["INLIER"].fence_lo) <= tol
    assert abs(approx["INLIER"].fence_hi - exact["INLIER"].fence_hi) <= tol
    n = sum(r.row_ct for r in exact.values())
    for flag in exact:
        assert abs(approx[flag].row_ct - exact[flag].row_ct) <= max(2, 0.01 * n)


def test_mad_outliers_approx_resists_contamination_too(spark):
    """The production mode keeps the robustness property: planted
    extremes are flagged and cannot drag the approximate fence."""
    from data_observability_installer_spark.operators.drift import mad_outliers

    base = [(float(100 + (i % 21) - 10),) for i in range(400)]
    wild = [(1e9,), (1e9,), (-1e9,)]
    df = spark.createDataFrame(base + wild, "x double")
    rep = {r.flag: r for r in mad_outliers(df, "x", approx=True).collect()}
    assert rep["HIGH"].row_ct == 2 and rep["LOW"].row_ct == 1
    assert 50 < rep["INLIER"].fence_hi < 200


def test_mad_outliers_grouped_isolates_fences_per_group(spark):
    """A wild group must not widen a quiet group's fence, and planted
    extremes must be counted in their OWN group only."""
    from data_observability_installer_spark.operators.drift import mad_outliers_grouped

    quiet = [("q", float(100 + (i % 11) - 5)) for i in range(200)]
    loud = [("l", float(1000 * (i % 7))) for i in range(200)]
    planted = [("q", 1e6), ("q", -1e6)]
    df = spark.createDataFrame(quiet + loud + planted, "g string, x double")
    rep = {r.g: r for r in mad_outliers_grouped(df, "x", "g").collect()}
    assert rep["q"].high_ct == 1 and rep["q"].low_ct == 1
    assert rep["q"].fence_hi < 200  # quiet fence stayed near the quiet bulk
    assert rep["l"].fence_hi > 1000  # loud group's own spread sets its fence
    assert rep["l"].row_ct == 200 and rep["q"].row_ct == 202


def test_mad_outliers_grouped_approx_tracks_exact(spark):
    from data_observability_installer_spark.operators.drift import mad_outliers_grouped

    rows = [(f"g{i % 5}", float((i * 7919) % 1000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, x double")
    exact = {r.g: r for r in mad_outliers_grouped(df, "x", "g").collect()}
    approx = {
        r.g: r
        for r in mad_outliers_grouped(df, "x", "g", approx=True, accuracy=10000).collect()
    }
    assert set(approx) == set(exact)
    for g in exact:
        assert abs(approx[g].fence_lo - exact[g].fence_lo) <= 10.0
        assert abs(approx[g].fence_hi - exact[g].fence_hi) <= 10.0


def test_mann_kendall_trends(spark):
    """A strictly increasing series is a significant up-trend; a
    constant series (all ties) has S=0, var18=0, no trend; a short
    noisy series is insignificant. Matches scipy-free hand math."""
    from data_observability_installer_spark.operators.drift import mann_kendall

    rows = (
        [("up", i, i * 10) for i in range(12)]
        + [("flat", i, 7) for i in range(12)]
        + [("noisy", 0, 5), ("noisy", 1, 9), ("noisy", 2, 4), ("noisy", 3, 8)]
    )
    df = spark.createDataFrame(rows, "k string, day int, v long")
    got = {r["k"]: r for r in mann_kendall(df, ord_col="day").collect()}
    up = got["up"]
    assert up["s_stat"] == 66 and up["trend"] == 1  # all 12*11/2 pairs rise
    # var18 = n(n-1)(2n+5) = 12*11*29 = 3828; (66-1)^2*18e4 > 38416*3828
    assert up["var18"] == 3828 and up["significant"] is True
    flat = got["flat"]
    assert flat["s_stat"] == 0 and flat["trend"] == 0
    assert flat["var18"] == 0 and flat["significant"] is False
    noisy = got["noisy"]
    # pairs: (5,9)+,(5,4)-,(5,8)+,(9,4)-,(9,8)-,(4,8)+ -> S=0
    assert noisy["s_stat"] == 0 and noisy["significant"] is False


def test_p_chart_integer_verdicts(spark):
    """The cross-multiplied 3-sigma inequality matches the float
    formula on hand-computed subgroups; direction reports the side."""
    from data_observability_installer_spark.operators.drift import p_chart

    # pooled: Xt=60, Nt=600 -> pbar=0.1; se(n=100)=sqrt(.1*.9/100)=.03
    rows = [
        ("ok", 100, 10),     # exactly at center: no breach
        ("hot", 100, 25),    # rate .25, dev .15 = 5 sigma -> breach up
        ("cold", 100, 1),    # rate .01, dev .09 = 3 sigma exactly? (.09/.03=3, strict > -> no breach)
        ("a", 100, 8), ("b", 100, 9), ("c", 100, 7),
    ]
    df = spark.createDataFrame(rows, "k string, n long, x long")
    got = {r["k"]: r for r in p_chart(df).collect()}
    assert got["hot"]["breach"] is True and got["hot"]["direction"] == 1
    assert got["ok"]["breach"] is False and got["ok"]["direction"] == 0
    # cold: (1*600-60*100)^2 = 5400^2 = 29160000 vs 9*60*540*100 = 29160000
    # strict inequality -> boundary does NOT breach (matches > in SQL)
    assert got["cold"]["breach"] is False and got["cold"]["direction"] == -1
    assert got["hot"]["rate_bp"] == 2500 and got["hot"]["pbar_bp"] == 1000


def _shift_series(spark):
    rows = [("shift", f"d{i:03d}", 10 if i < 30 else 20) for i in range(60)]
    rows += [("flat", f"d{i:03d}", 10) for i in range(60)]
    return spark.createDataFrame(rows, "k string, o string, v long")


def test_cusum_flags_sustained_shift_not_flat(spark):
    from data_observability_installer_spark.operators.drift import cusum_screen

    out = {r.k: r for r in cusum_screen(_shift_series(spark)).collect()}
    assert not out["flat"].out_of_control
    assert out["flat"].peak_upper_bp == 0 and out["flat"].peak_lower_bp == 0
    s = out["shift"]
    # pooled-center CUSUM flags both sides of a mid-series mean shift:
    # the low first half accumulates below center, the high second half above
    assert s.out_of_control and s.upper_alarms > 0 and s.lower_alarms > 0
    assert s.first_lower < s.first_upper  # low side breaches first
    assert s.peak_upper_bp == 25000  # 30 days * (20 - 15 - 3.75) = 2.5x center


def test_cusum_single_spike_does_not_alarm(spark):
    """CUSUM is the SUSTAINED-shift screen: one 3x spike in an
    otherwise flat series decays back to zero without crossing the
    decision interval (the rolling z-score screen catches spikes)."""
    from data_observability_installer_spark.operators.drift import cusum_screen

    rows = [("spiky", f"d{i:03d}", 30 if i == 20 else 10) for i in range(60)]
    df = spark.createDataFrame(rows, "k string, o string, v long")
    out = cusum_screen(df).collect()[0]
    assert not out.out_of_control and out.upper_alarms == 0


def test_changepoint_localizes_exact_boundary(spark):
    from data_observability_installer_spark.operators.drift import changepoint

    out = {r.k: r for r in changepoint(_shift_series(spark)).collect()}
    s = out["shift"]
    assert s.t_star == 30 and s.split_ord == "d029"  # last point of left segment
    assert s.mean_left_bp == 100000 and s.mean_right_bp == 200000
    # flat series: zero gain everywhere, earliest-t tie-break picks t=1
    assert out["flat"].gain_q == 0 and out["flat"].t_star == 1


def test_wasserstein_detects_shift_ks_scale(spark):
    """A planted location shift registers proportionally to its size;
    identical slices score exactly 0 (integer arithmetic, no epsilon)."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.drift import wasserstein_drift

    same = spark.createDataFrame(
        [(float(i % 100), (i // 100) % 2 == 0) for i in range(2000)],
        "v double, is_a boolean",
    )
    r0 = wasserstein_drift(same, "v", F.col("is_a")).collect()[0]
    assert r0.w1_e6 == 0 and r0.n_a == r0.n_b == 1000

    # slice A uniform on [0,100), slice B on [20,120): W1 = 20 over a
    # 120-wide span -> 1/6 of span; binned answer within one bin width
    shifted = spark.createDataFrame(
        [(float(i % 100), True) for i in range(1000)]
        + [(float(i % 100 + 20), False) for i in range(1000)],
        "v double, is_a boolean",
    )
    r1 = wasserstein_drift(shifted, "v", F.col("is_a")).collect()[0]
    assert abs(r1.w1_e6 / 1e6 - 20 / 119) < 1 / 256 + 1e-3

    # empty side -> NULL (undefined), not 0
    one_sided = spark.createDataFrame(
        [(float(i), True) for i in range(100)], "v double, is_a boolean"
    )
    assert wasserstein_drift(one_sided, "v", F.col("is_a")).collect()[0].w1_e6 is None


def test_wasserstein_grouped_isolates_the_shifted_group(spark):
    """Only the group whose slice B is shifted registers; identical
    groups score exactly 0; a one-sided group reports NULL."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.drift import wasserstein_drift

    rows = (
        [("moved", float(i % 100), True) for i in range(1000)]
        + [("moved", float(i % 100 + 50), False) for i in range(1000)]
        + [("same", float(i % 100), True) for i in range(1000)]
        + [("same", float(i % 100), False) for i in range(1000)]
        + [("onesided", float(i % 100), True) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, v double, is_a boolean")
    out = {
        r.g: r for r in wasserstein_drift(df, "v", F.col("is_a"), bins=128, by="g").collect()
    }
    assert out["same"].w1_e6 == 0
    # uniform [0,100) vs [50,150): W1 = 50 over a 149-wide span
    assert abs(out["moved"].w1_e6 / 1e6 - 50 / 149) < 1 / 128 + 1e-3
    assert out["onesided"].w1_e6 is None


def test_seasonality_strength_separates_weekly_from_flat(spark):
    from datetime import date, timedelta

    from data_observability_installer_spark.operators.drift import (
        seasonality_strength,
    )

    d0 = date(2026, 1, 5)  # Monday
    rows = []
    for i in range(70):
        d = d0 + timedelta(days=i)
        rows.append(("weekly", d, 100 if d.isoweekday() <= 5 else 20))
        rows.append(("flat", d, 50))
    df = spark.createDataFrame(rows, "k string, day date, v long")
    out = {r.k: r for r in seasonality_strength(df).collect()}
    # a pure weekday/weekend split is FULLY explained by dow
    assert out["weekly"].strength_e4 == 10000 and out["weekly"].peak_dow == 1
    assert out["flat"].strength_e4 is None  # zero variance -> undefined


def test_nullable_side_predicate_lands_in_b_both_engines(spark):
    """Round-7 ADVICE: SQL CASE..ELSE counted NULL-predicate rows into
    ct_b while the Spark boolean cast dropped them from both counts.
    Both engines now coalesce the predicate to FALSE, so a nullable
    predicate yields identical slice sizes and identical verdicts."""
    import duckdb

    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.drift import (
        ks_drift,
        ks_drift_sql,
        wasserstein_drift,
        wasserstein_drift_sql,
    )

    # side = (flag = 'a'); flag NULL on some rows -> predicate NULL
    rows = [(float(i), "a" if i % 3 == 0 else ("b" if i % 3 == 1 else None))
            for i in range(90)]
    df = spark.createDataFrame(rows, "v double, flag string")
    con = duckdb.connect()
    con.register("t", df.toPandas())

    w = wasserstein_drift(df, "v", F.col("flag") == "a", bins=16).collect()[0]
    ww = con.sql(wasserstein_drift_sql("t", "v", "flag = 'a'", bins=16)).fetchone()
    assert (w.n_a, w.n_b, w.w1_e6) == ww[1:], (w, ww)
    assert w.n_a + w.n_b == 90  # NULL-predicate rows are in B, not dropped

    k = ks_drift(df, "v", F.col("flag") == "a", bins=16).collect()[0]
    kk = con.sql(ks_drift_sql("t", "v", "flag = 'a'", bins=16)).fetchone()
    assert (k.n_a, k.n_b) == (kk[1], kk[2])


def _edge_frame(spark):
    """Group "a" is ordinary, "n" is all-NULL, "s" is a single row, and
    two rows carry a NULL key."""
    rows = (
        [("a", float(v), v % 2 == 0, i) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 100])]
        + [("n", None, True, 20), ("n", None, False, 21)]
        + [(None, 5.0, True, 30), (None, 50.0, False, 31)]
        + [("s", 9.5, True, 40)]
    )
    return spark.createDataFrame(rows, "g string, x double, side boolean, doc_id long")


# rows of the keyed screens over _edge_frame, and over its empty filter,
# as the twin-per-shape implementations (F.percentile, window fold)
# returned them: the keyed quantile frame and the one array fold must
# reproduce them row for row
EDGE_ROWS = {
    "mad_grouped": [
        ("a", 8, 0, 1, -5.8782, 14.8782),
        ("n", 2, None, None, None, None),
        ("s", 1, 0, 0, 9.5, 9.5),
    ],
    "mad": [
        ("HIGH", 2, 50.0, 100.0, -5.3782, 15.3782),
        ("INLIER", 11, 1.0, 9.5, -5.3782, 15.3782),
    ],
    "w1_grouped": [("a", 4, 4, 240234), ("s", 1, 0, None)],
    "w1": [("x", 6, 5, 106901)],
    "fq_per": [
        (0, "a", 1.0, 4.5), (1, "a", 2.0, 4.5), (2, "a", 3.0, 4.5), (3, "a", 4.0, 4.5),
        (40, "s", 9.5, 9.5),
    ],
    "fq": [
        (0, 1.0, 5.0), (1, 2.0, 5.0), (2, 3.0, 5.0), (3, 4.0, 5.0), (4, 5.0, 5.0),
        (30, 5.0, 5.0),
    ],
}
EDGE_EMPTY = {"w1": [("x", None, None, None)]}


def test_keyed_screens_edge_groups_row_identical(spark):
    """An all-NULL group keeps its MAD row (NULL fences) and vanishes
    from W1 and the tail-cut; a NULL key matches no group; a single-row
    group gets zero-width fences and a NULL W1; empty input yields no
    rows except the unkeyed W1's one NULL row."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.drift import (
        mad_outliers,
        mad_outliers_grouped,
        wasserstein_drift,
    )
    from data_observability_installer_spark.operators.llm.curation import filter_by_quantile

    screens = {
        "mad_grouped": lambda f: mad_outliers_grouped(f, "x", "g"),
        "mad": lambda f: mad_outliers(f, "x"),
        "w1_grouped": lambda f: wasserstein_drift(f, "x", F.col("side"), bins=128, by="g"),
        "w1": lambda f: wasserstein_drift(f, "x", F.col("side")),
        "fq_per": lambda f: filter_by_quantile(f, "x", q=0.5, per="g").orderBy("doc_id"),
        "fq": lambda f: filter_by_quantile(f, "x", q=0.5).orderBy("doc_id"),
    }
    df = _edge_frame(spark)
    empty = df.filter(F.lit(False))
    for name, screen in screens.items():
        assert [tuple(r) for r in screen(df).collect()] == EDGE_ROWS[name], name
        assert [tuple(r) for r in screen(empty).collect()] == EDGE_EMPTY.get(name, []), name


# cold-call Spark jobs at the smoke SF; the twin-per-shape code ran
# 10 / 6 / 9 / 6 / 6 / 6 / 14 for these queries in the same harness
DRIFT_JOB_BUDGET = {
    "mad_outliers_lineitem": 9,
    "mad_outliers_by_priority": 6,
    "decile_report_orders": 8,
    "ks_drift_lineitem": 6,
    "wasserstein_lineitem": 6,
    "wasserstein_by_status_lineitem": 6,
    "nll_tailcut_documents": 14,
}


@pytest.mark.parametrize("name", sorted(DRIFT_JOB_BUDGET))
def test_drift_queries_job_budget(spark, sf_smoke, name):
    """The drift screens run an exact number of Spark jobs, the same on
    two cold calls: no driver collect, no pin — one lazy plan each."""
    from data_observability_installer_spark.plans import registry

    sc, counts = spark.sparkContext, []
    for call in range(2):
        registry.clear_caches()
        spark.catalog.clearCache()
        group = f"{name}_budget_{call}"
        sc.setJobGroup(group, "job-budget run")
        try:
            assert registry.queries()[name](spark, sf_smoke).collect()
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        finally:
            sc.setJobGroup(None, None)
    assert counts == [DRIFT_JOB_BUDGET[name]] * 2, counts


def test_drift_core_written_once():
    """Grep gate: no percentile aggregate is called from the drift or
    curation screens (they read functions/quantiles.py's keyed frame),
    the two-sample binning is written once per engine, and the
    unkeyed/keyed twins are gone."""
    import pathlib

    import data_observability_installer_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    drift = (root / "operators" / "drift.py").read_text()
    curation = (root / "operators" / "llm" / "curation.py").read_text()
    for src in (drift, curation):
        assert "F.percentile(" not in src and "percentile_approx" not in src
    assert drift.count('F.floor((F.col("v") - F.col("lo")) / span * bins)') == 1  # Spark
    assert drift.count("floor((v - lo) / (hi - lo) * {bins})") == 1  # DuckDB
    for path in root.rglob("*.py"):
        src = path.read_text()
        assert "wasserstein_grouped" not in src, path
        assert "exact_percentiles_multi" not in src, path
