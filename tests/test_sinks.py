"""Warehouse sinks: partition pruning and bucketed co-located joins —
the plan properties the layouts exist to buy."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_observability_installer_spark.sources.sinks import (
    read_partitioned,
    write_bucketed,
    write_partitioned,
)


def test_partitioned_write_prunes(spark, sf_smoke, tmp_path):
    from data_observability_installer_spark.sources.tables import load_table

    ev = load_table(spark, sf_smoke, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])
    back = read_partitioned(spark, path).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:120]
    assert back.count() > 0
    # round-trip fidelity on the partition
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert back.count() == want


def test_bucketed_join_skips_exchange(spark, sf_smoke, tmp_path):
    from data_observability_installer_spark.sources.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        o = load_table(spark, sf_smoke, "orders")
        li = load_table(spark, sf_smoke, "lineitem")
        write_bucketed(o.select("o_orderkey", "o_totalprice"), "orders_b", "o_orderkey", 8)
        write_bucketed(
            li.select("l_orderkey", "l_extendedprice"), "lineitem_b", "l_orderkey", 8
        )
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert "Exchange" not in plan  # co-located: bucket layout IS the shuffle
        # and the join result matches the unbucketed baseline
        want = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_guarded_write_commits_on_pass(spark, tmp_path):
    import os

    from data_observability_installer_spark.operators.dq.testtypes import (
        TABLE_LEVEL,
        TestSpec,
    )
    from data_observability_installer_spark.sources.sinks import guarded_write

    df = spark.range(100).select(F.col("id"), (F.col("id") % 10).alias("k"))
    path = str(tmp_path / "published")
    specs = [
        TestSpec("t", TABLE_LEVEL, "Row_Ct", {"Baseline_Ct": "100"}, severity="FAILED"),
        TestSpec("t", "k", "Min_Val", {"Baseline_Value": "0", "Threshold_Value": "0"},
                 severity="FAILED"),
    ]
    outcomes = guarded_write(df, path, specs, "2024-06-01")
    assert os.path.isdir(path)
    assert spark.read.parquet(path).count() == 100
    assert all(r["result"] == "PASSED" for r in outcomes)


def test_guarded_write_blocks_on_fail(spark, tmp_path):
    import os

    import pytest

    from data_observability_installer_spark.operators.dq.testtypes import (
        TABLE_LEVEL,
        TestSpec,
    )
    from data_observability_installer_spark.sources.sinks import (
        ContractViolation,
        guarded_write,
    )

    df = spark.range(7)  # violates the 100-row contract below
    path = str(tmp_path / "never_published")
    specs = [
        TestSpec("t", TABLE_LEVEL, "Row_Ct", {"Baseline_Ct": "100"}, severity="FAILED")
    ]
    with pytest.raises(ContractViolation, match="1 test"):
        guarded_write(df, path, specs, "2024-06-01")
    assert not os.path.exists(path)  # the gate is atomic: nothing staged


def test_guarded_write_warning_policy(spark, tmp_path):
    import os

    import pytest

    from data_observability_installer_spark.operators.dq.testtypes import (
        TABLE_LEVEL,
        TestSpec,
    )
    from data_observability_installer_spark.sources.sinks import (
        ContractViolation,
        guarded_write,
    )

    df = spark.range(7)
    specs = [TestSpec("t", TABLE_LEVEL, "Row_Ct", {"Baseline_Ct": "100"})]  # WARNING
    ok = str(tmp_path / "published_with_warning")
    outcomes = guarded_write(df, ok, specs, "2024-06-01")
    assert os.path.isdir(ok) and any(r["result"] == "WARNING" for r in outcomes)
    strict = str(tmp_path / "strict_blocked")
    with pytest.raises(ContractViolation):
        guarded_write(df, strict, specs, "2024-06-01", fail_on_warning=True)
    assert not os.path.exists(strict)


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the other columnar warehouse format Spark ships a native
    vectorized reader for; the engine's frames must round-trip through
    it (schema + values) like parquet."""
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
    )
    path = str(tmp_path / "orc_table")
    df.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    # compare names+types; ORC (like parquet) reads everything nullable
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.count() == 1000
    assert back.agg(F.sum("id")).head()[0] == df.agg(F.sum("id")).head()[0]


def test_backfill_overwrites_only_touched_partitions(spark, tmp_path):
    """Backfilling day 2 must replace day 2's rows, leave days 1 and 3
    byte-for-byte untouched (same physical files), and never duplicate."""
    import glob
    import os

    from pyspark.sql import functions as F

    from data_observability_installer_spark.sources.sinks import (
        backfill_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "days")
    base = spark.range(300).select(
        (F.col("id") % 3 + 1).alias("day"), F.col("id").alias("v")
    )
    write_partitioned(base, path, ["day"])
    files_before = {
        d: sorted(
            (os.path.basename(f), os.path.getmtime(f))
            for f in glob.glob(f"{path}/day={d}/*.parquet")
        )
        for d in (1, 2, 3)
    }
    fixed_day2 = spark.range(5).select(
        F.lit(2).alias("day"), (F.col("id") + 10_000).alias("v")
    )
    backfill_partitions(fixed_day2, path, ["day"])
    out = spark.read.parquet(path)
    assert out.filter(F.col("day") == 2).count() == 5  # replaced, not appended
    assert out.filter(F.col("day") != 2).count() == 200  # untouched rows
    for d in (1, 3):  # same physical files, not rewritten
        files_after = sorted(
            (os.path.basename(f), os.path.getmtime(f))
            for f in glob.glob(f"{path}/day={d}/*.parquet")
        )
        assert files_after == files_before[d]
    # idempotence: retrying the same backfill converges
    backfill_partitions(fixed_day2, path, ["day"])
    assert spark.read.parquet(path).count() == 205


def test_format_round_trips(spark, tmp_path):
    """parquet / ORC / json / csv round-trip the same rows through
    write_table + read_table_fmt (csv via explicit schema)."""
    from data_observability_installer_spark.sources.sinks import (
        read_table_fmt,
        write_table,
    )
    from data_observability_installer_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    want = sorted(tuple(r) for r in src.collect())
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        write_table(src, p, fmt=fmt)
        got = read_table_fmt(spark, p, fmt=fmt, schema=src.schema)
        assert sorted(tuple(r) for r in got.collect()) == want, fmt


def test_orc_keeps_pushdown_and_pruning(spark, tmp_path):
    """The ORC scan must receive the filter and the pruned column set,
    like parquet — the property that makes the format seam safe to use
    at scale."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.sources.sinks import (
        read_table_fmt,
        write_table,
    )
    from data_observability_installer_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    p = str(tmp_path / "li_orc")
    write_table(src, p, fmt="orc")
    q = (
        read_table_fmt(spark, p, fmt="orc")
        .filter(F.col("l_orderkey") == 7)
        .select("l_orderkey", "l_quantity")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_orderkey" in plan.split("PushedFilters")[1][:120]
    rs = plan.split("ReadSchema")[1][:160]
    assert "l_quantity" in rs and "l_extendedprice" not in rs


def _package_sources() -> dict[str, str]:
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "data_observability_installer_spark"
    return {
        p.relative_to(pkg).as_posix(): p.read_text() for p in sorted(pkg.rglob("*.py"))
    }


def _code_strings(text: str):
    """(line, value) of every string constant in ``text`` that is not a
    docstring — f-string literal parts included."""
    import ast

    tree = ast.parse(text)
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and id(node) not in docs:
            yield node.lineno, node.value


def test_store_sinks_go_through_one_seam():
    """One micro-batch store seam: the checkpointed foreachBatch start
    lives in sources/sinks.py, retention is invoked only by
    streaming/aggstore.store_sink, and run_id= partition paths are
    built only by the profile-store module."""
    import ast

    src = _package_sources()
    ckpt = [
        f"{f}:{n}"
        for f, text in src.items()
        for n, line in enumerate(text.splitlines(), 1)
        if "checkpointLocation" in line
    ]
    assert len(ckpt) == 1 and ckpt[0].startswith("sources/sinks.py:"), ckpt

    retain_calls = [
        f"{f}:{node.lineno}"
        for f, text in src.items()
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.Call)
        and "retain_runs" in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
    ]
    assert retain_calls and all(
        c.startswith("streaming/aggstore.py:") for c in retain_calls
    ), retain_calls

    run_paths = [
        f"{f}:{n}: {s!r}"
        for f, text in src.items()
        if f != "operators/profile.py"
        for n, s in _code_strings(text)
        if "run_id=" in s
    ]
    assert not run_paths, "run_id= paths built outside operators/profile.py:\n" + "\n".join(
        run_paths
    )
