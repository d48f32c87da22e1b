"""Storage-layout maintenance: Morton (Z-order) clustering and
small-file compaction. The z-value is exact integer math (checked
against a hand-computed interleave); the write path is checked for the
property that actually matters at scale — per-FILE min/max spread
narrow enough for footer-stat pruning in every clustered dimension."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.layout import (
    compact,
    compact_plan,
    zorder_by,
    zorder_locality,
    zvalue_expr,
)


def _morton2(x: int, y: int, bits: int) -> int:
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_zvalue_matches_hand_interleave(spark):
    # bounds (0, 3) with bits=2 make rank == the raw value: floor(v/3*3)
    rows = [(float(x), float(y)) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn(
            "z", zvalue_expr({"a": (0.0, 3.0), "b": (0.0, 3.0)}, bits=2)
        ).collect()
    }
    for (a, b), z in got.items():
        assert z == _morton2(int(a), int(b), 2), (a, b, z)


def test_zvalue_clamps_and_handles_nulls(spark):
    df = spark.createDataFrame(
        [(-5.0, 1.0), (99.0, 1.0), (None, 1.0)], "a double, b double"
    )
    zs = [
        r.z
        for r in df.withColumn(
            "z", zvalue_expr({"a": (0.0, 3.0), "b": (0.0, 3.0)}, bits=2)
        ).collect()
    ]
    # below-lo clamps to rank 0; above-hi clamps to max rank; null -> 0
    assert zs[0] == _morton2(0, 1, 2)
    assert zs[1] == _morton2(3, 1, 2)
    assert zs[2] == _morton2(0, 1, 2)


def test_zorder_write_improves_per_file_locality(spark, tmp_path):
    """After zorder_by on (a, b), each of the 8 output files must cover
    a narrow slice of BOTH dimensions — the footer-stat pruning
    property. A lexicographic sort would give narrow `a` but full-range
    `b` in every file."""
    n = 4096
    df = spark.range(n).select(
        (F.hash(F.col("id")) % 1000).cast("double").alias("a"),
        (F.hash(F.col("id"), F.lit(1)) % 1000).cast("double").alias("b"),
    )
    out = str(tmp_path / "zordered")
    zorder_by(df, ["a", "b"], bits=8, n_files=8).write.parquet(out)
    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 4  # range partitioner may merge a few
    glob_rng = {c: 2000.0 for c in ("a", "b")}  # hash%1000 spans ~(-999, 999)
    spreads = {"a": [], "b": []}
    for f in files:
        pf = spark.read.parquet(f)
        row = pf.agg(
            (F.max("a") - F.min("a")).alias("ra"), (F.max("b") - F.min("b")).alias("rb")
        ).head()
        spreads["a"].append(row.ra)
        spreads["b"].append(row.rb)
    for c in ("a", "b"):
        mean_spread = sum(spreads[c]) / len(spreads[c])
        assert mean_spread < glob_rng[c] * 0.7, (c, spreads[c])


def test_compact_small_files(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    spark.range(10000).select(
        F.col("id"), (F.col("id") % 17).alias("k")
    ).repartition(64).write.parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 64
    plan = compact(spark, src, dst, target_mb=1024)
    assert plan["files"] == 64 and plan["target_files"] == 1
    assert len(glob.glob(dst + "/*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10000


def test_compact_with_sort_recluster(spark, tmp_path):
    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "comp2")
    spark.range(5000).select(
        F.col("id"), F.hash("id").cast("double").alias("v")
    ).repartition(32).write.parquet(src)
    compact(spark, src, dst, target_mb=1024, sort_cols=["v"])
    out = spark.read.parquet(dst)
    assert out.count() == 5000
    vals = [r.v for r in out.select("v").collect()]
    assert vals == sorted(vals)  # single file, sorted within


def test_compact_plan_is_metadata_only(spark, tmp_path):
    src = str(tmp_path / "frag3")
    spark.range(100).write.parquet(src)
    plan = compact_plan(spark, src, target_mb=128)
    assert plan["files"] >= 1 and plan["bytes"] > 0 and plan["target_files"] == 1


def test_zorder_layout_independent_of_rdd_ids(spark, tmp_path):
    """zorder_by's file boundaries are a function of the data only: the
    same input written after a varying number of throwaway RDDs (which
    shift the RDD ids a sampled range partitioner seeds from) lands in
    the same files, row for row, and the files hold equal counts."""
    df = spark.range(1 << 12).select(
        (F.col("id") % 1000).cast("double").alias("a"),
        ((F.col("id") * 7919) % 1000).cast("double").alias("b"),
    )
    part = F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1)
    layouts = []
    for shift in (0, 1, 3, 7, 12, 20):
        for _ in range(shift):
            spark.sparkContext.parallelize([0])
        out = str(tmp_path / f"z{shift}")
        zorder_by(df, ["a", "b"], bits=10, n_files=8).write.parquet(out)
        layouts.append(
            sorted(
                tuple(r)
                for r in spark.read.parquet(out)
                .groupBy(part.alias("file"))
                .agg(F.count(F.lit(1)), F.sum(F.hash("a", "b")))
                .collect()
            )
        )
    assert all(lay == layouts[0] for lay in layouts), layouts
    assert [r[1] for r in layouts[0]] == [512] * 8, layouts[0]


def test_zorder_locality_report_shape(spark):
    df = spark.range(1024).select(
        (F.col("id") % 100).cast("double").alias("a"),
        ((F.col("id") * 7) % 100).cast("double").alias("b"),
    )
    rep = zorder_locality(
        df, {"a": (0.0, 100.0), "b": (0.0, 100.0)}, bits=8, prefix_bits=4
    )
    rows = rep.collect()
    assert 0 < len(rows) <= 16
    assert sum(r.row_ct for r in rows) == 1024
    for r in rows:
        assert r.min_a <= r.max_a and r.min_b <= r.max_b


def test_zorder_scan_reads_fewer_rows_than_lexicographic(spark, tmp_path):
    """The user-visible half of the z-order claim: a 2-d box predicate
    over a z-ordered copy must make the parquet reader PRODUCE strict
    fewer rows (footer-stat row-group skipping) than the same predicate
    over a lexicographically sorted copy — and far fewer than the table
    size. Asserted on real executed-plan scan metrics, not layout
    statistics."""
    from data_observability_installer_spark.operators.layout import scan_metrics

    n = 1 << 15
    df = spark.range(n).select(
        (F.col("id") % 1000).cast("double").alias("a"),
        ((F.col("id") * 7919) % 1000).cast("double").alias("b"),
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lex")
    # pin row-group granularity: with default 128 MB block size each
    # file is a single row group and pruning works only at FILE level,
    # where an unlucky range-sampling layout can tie the two copies
    # (observed as an under-load flake); a small fixed block size gives
    # both copies many row groups, so the z-vs-lex gap is structural
    bs = str(32 * 1024)
    zorder_by(df, ["a", "b"], bits=10, n_files=16).write.option(
        "parquet.block.size", bs
    ).parquet(zpath)
    (
        df.repartitionByRange(16, F.col("a"), F.col("b"))
        .sortWithinPartitions("a", "b")
        .write.option("parquet.block.size", bs)
        .parquet(lpath)
    )
    box = (F.col("a").between(100, 199)) & (F.col("b").between(100, 199))
    z = scan_metrics(spark.read.parquet(zpath).filter(box))
    lex = scan_metrics(spark.read.parquet(lpath).filter(box))
    match_z = spark.read.parquet(zpath).filter(box).count()
    match_l = spark.read.parquet(lpath).filter(box).count()
    assert match_z == match_l  # same logical answer either way
    # lexicographic: `a` prunes (~10% of row groups) but `b` cannot;
    # z-order: both dimensions prune. Strictly fewer produced rows and
    # a real skip vs the full table.
    assert z["rows"] < lex["rows"], (z, lex)
    assert z["rows"] <= n * 0.5, z
