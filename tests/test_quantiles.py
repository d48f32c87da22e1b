"""Bit-parity gate for the keyed exact-percentile frame.

``functions/quantiles.quantiles`` replaces the ``percentile()``
aggregate in the MAD fences, the decile edges and the quantile
tail-cut, whose DuckDB twins pin those values, so the frame must equal
the aggregate BIT FOR BIT. These tests compare the raw, unrounded double
bits (struct.pack) of ``percentile(CAST(c AS DOUBLE), q)`` per key
against the frame's ``q0…qn`` columns, over every numeric column of the
smoke-SF tables (melted and keyed by column name) plus adversarial
synthetic distributions (ties, exact rank positions, negatives, NULLs,
signed zeros, single rows, all-NULL and NULL-keyed groups).

One stated difference: ``-0.0 ≡ 0.0``. The frame groups on the value,
and grouping normalizes the sign of zero, so a quantile that lands on
a signed zero reads ``0.0`` where ``percentile()`` returns ``-0.0``;
the comparison maps both to ``0.0``.
"""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.functions.quantiles import quantiles

QS = [0.05, 0.25, 0.5, 0.75, 0.95]
NUMERIC = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}


def _bits(x):
    # -0.0 ≡ 0.0 (see module docstring); every other bit must match
    return None if x is None else struct.pack("<d", 0.0 if x == 0.0 else x)


def _truth(df, col, keys):
    q_arr = "array(" + ", ".join(str(q) for q in QS) + ")"
    p = F.expr(f"percentile(CAST({col} AS DOUBLE), {q_arr})")
    rows = df.groupBy(*keys).agg(p.alias("p")).collect()
    return {tuple(r[k] for k in keys): [_bits(x) for x in (r["p"] or [None] * len(QS))]
            for r in rows}


def _got(df, col, keys):
    rows = quantiles(df, col, QS, keys).collect()
    return {tuple(r[k] for k in keys): [_bits(r[f"q{i}"]) for i in range(len(QS))]
            for r in rows}


def _assert_parity(df, col, keys=()):
    keys = list(keys)
    truth, got = _truth(df, col, keys), _got(df, col, keys)
    assert got == truth


def _melt(df, cols):
    """(c, x): one row per (numeric column, value) — keys the sweep by
    column name, so one keyed frame covers every column of a table."""
    structs = [F.struct(F.lit(c).alias("c"), F.col(c).cast("double").alias("x")) for c in cols]
    return df.select(F.explode(F.array(*structs)).alias("p")).select("p.c", "p.x")


@pytest.mark.parametrize("table", ["lineitem", "orders", "events", "documents"])
def test_parity_real_tables(spark, sf_smoke, table):
    df = spark.read.parquet(f"{sf_smoke}/{table}.parquet")
    cols = [c for c, d in df.dtypes if d.split("(")[0] in NUMERIC]
    assert cols, f"{table} has no numeric columns"
    _assert_parity(_melt(df, cols), "x", ["c"])


@pytest.mark.parametrize(
    "name,vals",
    [
        ("single", [1.5]),
        ("two", [1.0, 2.0]),
        ("all_equal", [7.0] * 100),
        ("neg", [-5.0, -1.0, 0.0, 3.5, 100.25]),
        ("exact_pos", [float(i) for i in range(21)]),
        ("negzero", [-0.0] * 10 + [0.0] * 10 + [1.0] * 5 + [-1.0] * 5),
        ("with_nulls", [None if i % 3 == 0 else float(i) for i in range(100)]),
    ],
)
def test_parity_synthetic(spark, name, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    _assert_parity(df, "x")


def test_parity_random_ties(spark):
    rng = random.Random(42)
    vals = [float(rng.randint(0, 5)) for _ in range(10007)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(999)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    _assert_parity(df, "x")


def test_parity_keyed_random_groups(spark):
    """Thirteen groups of different shapes — ties, NULLs, a single
    row, an all-NULL group, signed zeros — plus a NULL key, one frame."""
    rng = random.Random(13)
    rows = []
    for g in range(13):
        n = [1, 2, 3, 50, 400][g % 5]
        for _ in range(n):
            if g == 4:
                x = None  # all-NULL group
            elif g % 3 == 0:
                x = float(rng.randint(-2, 2)) * rng.choice([1.0, -0.0 + 0.0])
            elif g % 3 == 1:
                x = None if rng.random() < 0.2 else rng.uniform(-50, 50)
            else:
                x = rng.choice([-0.0, 0.0, 1.0, 2.5])
            rows.append((f"g{g}", x))
    rows += [(None, 3.0), (None, 9.0), (None, None)]
    df = spark.createDataFrame(rows, "g string, x double")
    _assert_parity(df, "x", ["g"])
    got = _got(df, "x", ["g"])
    assert got[("g4",)] == [None] * len(QS)  # all-NULL group keeps its row
    assert (None,) in got  # a NULL key is a group of its own


def test_all_null_and_empty(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    assert quantiles(df, "x", QS).collect()[0] == tuple([None] * len(QS))
    empty = df.filter(F.lit(False))
    assert quantiles(empty, "x", QS).collect()[0] == tuple([None] * len(QS))
    keyed_empty = spark.createDataFrame([], "g string, x double")
    assert quantiles(keyed_empty, "x", QS, ["g"]).collect() == []
    assert quantiles(empty, "x", QS, approx=True).collect()[0] == tuple([None] * len(QS))


def test_single_column_matches_multi(spark):
    """The unkeyed frame of one column equals that column's row of the
    melted, keyed frame — one code path for both shapes."""
    rng = random.Random(7)
    df = spark.createDataFrame(
        [(rng.uniform(-100, 100), float(rng.randint(0, 9))) for _ in range(501)],
        "x double, y double",
    )
    single = [_bits(v) for v in quantiles(df, "x", QS).collect()[0]]
    multi = _got(_melt(df, ["x", "y"]), "x", ["c"])
    assert single == multi[("x",)]


def test_approx_frame_is_percentile_approx(spark):
    """``approx=True`` is ``percentile_approx`` per key, column for column."""
    rng = random.Random(5)
    df = spark.createDataFrame(
        [(f"g{i % 3}", rng.uniform(0, 1000)) for i in range(3000)], "g string, x double"
    )
    got = {r["g"]: [r[f"q{i}"] for i in range(len(QS))]
           for r in quantiles(df, "x", QS, ["g"], approx=True, accuracy=500).collect()}
    want = {r["g"]: list(r["p"]) for r in df.groupBy("g").agg(
        F.percentile_approx("x", QS, 500).alias("p")).collect()}
    assert got == want
