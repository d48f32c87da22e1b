"""CLI surface: the engine must be drivable end-to-end, not just
importable (reference quick-start analog, dk-installer.py:1061-1106)."""

from __future__ import annotations

from data_observability_installer_spark.__main__ import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "dq_suite_lineitem" in out and "pricing_summary" in out


def test_cli_test_suite(spark, sf_smoke, capsys):
    assert main(["--sf-dir", sf_smoke, "test", "dq_suite_orders"]) == 0
    out = capsys.readouterr().out
    assert "Row_Ct" in out


def test_cli_unknown_query(sf_smoke, capsys):
    assert main(["--sf-dir", sf_smoke, "query", "nope"]) == 2


def test_cli_export_roundtrip(spark, sf_smoke, tmp_path, capsys):
    out_dir = str(tmp_path / "outcomes")
    assert main(["--sf-dir", sf_smoke, "export", "--out", out_dir]) == 0
    back = spark.read.json(out_dir)
    rows = back.collect()
    assert len(rows) >= 4  # one event per (suite table, chunk)
    assert all(r.event_type == "TEST_OUTCOMES" for r in rows)
    assert sum(r.outcome_ct for r in rows) >= 40  # 46 specs across suites


def test_cli_test_suite_indb(sf_smoke, capsys):
    """--indb executes source-side (DuckDB) with no SparkSession."""
    assert main(["--sf-dir", sf_smoke, "test", "dq_suite_orders", "--indb"]) == 0
    out = capsys.readouterr().out
    assert "Row_Ct" in out and "result" in out


def test_cli_compact_and_zorder(spark, sf_smoke, tmp_path, capsys):
    import glob

    src = str(tmp_path / "frag")
    spark.range(2000).repartition(16).write.parquet(src)
    dst = str(tmp_path / "compacted")
    assert main(["--sf-dir", sf_smoke, "compact", src, dst]) == 0
    assert "-> 1 files" in capsys.readouterr().out
    assert len(glob.glob(dst + "/*.parquet")) == 1

    zdst = str(tmp_path / "zordered")
    assert main(
        ["--sf-dir", sf_smoke, "zorder", "lineitem", zdst,
         "--by", "l_extendedprice,l_quantity", "--files", "4"]
    ) == 0
    import pyspark.sql.functions as F

    back = spark.read.parquet(zdst)
    assert back.count() == spark.read.parquet(sf_smoke + "/lineitem.parquet").count()


def test_cli_discover_emits_and_runs_tests(spark, sf_smoke, capsys):
    assert main([
        "--sf-dir", sf_smoke, "discover", "orders",
        "--parents", "customer", "--emit-tests",
    ]) == 0
    out = capsys.readouterr().out
    assert "functional dependencies on orders" in out
    assert "orders.o_custkey in customer.c_custkey: FK" in out
    assert "Valid_FK" in out and "PASSED" in out


def test_cli_drift_series_and_two_sample(spark, sf_smoke, capsys):
    assert main(["--sf-dir", sf_smoke, "drift", "events"]) == 0
    out = capsys.readouterr().out
    assert "trend / level shift / change point" in out
    assert "out_of_control" in out and "split_ord" in out

    assert (
        main(
            [
                "--sf-dir",
                sf_smoke,
                "drift",
                "lineitem",
                "--col",
                "l_extendedprice",
                "--split-sql",
                "l_returnflag = 'R'",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "ks_d" in out and "w1_e6" in out


def test_cli_table_lifecycle(spark, tmp_path, capsys):
    """table verb: seed via the library, then history / show / changes
    / compact / vacuum through the CLI."""
    from data_observability_installer_spark.sources.txtable import write_table

    t = str(tmp_path / "tbl")
    write_table(spark, t, spark.createDataFrame([(1, "a")], "k int, v string"))
    write_table(spark, t, spark.createDataFrame([(2, "b")], "k int, v string"))

    assert main(["table", "history", t]) == 0
    out = capsys.readouterr().out
    assert "'version': 1" in out and "'op': 'append'" in out

    assert main(["table", "show", t, "--version", "1"]) == 0
    out = capsys.readouterr().out
    assert "a" in out and "b" not in out

    assert main(["table", "changes", t, "--from-version", "1"]) == 0
    out = capsys.readouterr().out
    assert "b" in out and ("a" not in out.replace("table", ""))

    assert main(["table", "compact", t, "--files", "1"]) == 0
    assert "compacted as v3" in capsys.readouterr().out
    assert main(["table", "vacuum", t, "--keep-last", "1"]) == 0
    assert "removed" in capsys.readouterr().out
    assert main(["table", "show", t]) == 0
    out = capsys.readouterr().out
    assert "a" in out and "b" in out


def test_cli_table_stats_and_prune(spark, tmp_path, capsys):
    """table stats prints the tracked columns and per-file ranges;
    table show --prune applies data skipping from the command line."""
    from data_observability_installer_spark.sources.txtable import write_table

    t = str(tmp_path / "tbl")
    write_table(
        spark, t, spark.createDataFrame([(1,), (2,)], "k int"),
        stats_cols=["k"],
    )
    write_table(spark, t, spark.createDataFrame([(100,), (101,)], "k int"))

    assert main(["table", "stats", t]) == 0
    out = capsys.readouterr().out
    assert "tracked columns: ['k']" in out and "with stats" in out

    assert main(["table", "show", t, "--prune", "k:>=:100"]) == 0
    out = capsys.readouterr().out
    assert "100" in out and "| 1 " not in out  # low-range files pruned


def test_cli_profile_store_runs_and_vacuum(spark, tmp_path, capsys):
    from data_observability_installer_spark.operators.profile import (
        profile_partial,
        write_profile,
    )

    store = str(tmp_path / "pstore")
    df = spark.createDataFrame([(1,), (2,)], "x int")
    for i in range(3):
        write_profile(profile_partial(df, "t"), store, f"{i:04d}")

    assert main(["profile-store", "runs", store]) == 0
    assert capsys.readouterr().out.split() == ["0000", "0001", "0002"]

    assert main([
        "profile-store", "vacuum", store, "--keep-last", "1",
        "--rollup-run-id", "0000-rollup",
    ]) == 0
    out = capsys.readouterr().out
    assert "dropped 2 runs, kept 1" in out and "rolled up into 0000-rollup" in out
    assert main(["profile-store", "runs", store]) == 0
    assert capsys.readouterr().out.split() == ["0000-rollup", "0002"]


def test_cli_table_health(spark, tmp_path, capsys):
    from data_observability_installer_spark.sources.txtable import write_table

    t = str(tmp_path / "tbl")
    write_table(
        spark, t, spark.createDataFrame([(1,), (2,)], "k int"),
        stats_cols=["k"],
    )
    assert main(["table", "health", t]) == 0
    out = capsys.readouterr().out
    assert '"n_files"' in out and '"clustering_depth"' in out


def test_cli_table_clone(spark, tmp_path):
    import subprocess
    import sys

    from data_observability_installer_spark.sources.txtable import (
        read_table,
        write_table,
    )

    src = str(tmp_path / "src")
    write_table(spark, src, spark.createDataFrame([(1, "a")], "k int, v string"))
    dst = str(tmp_path / "dst")
    out = subprocess.run(
        [sys.executable, "-m", "data_observability_installer_spark",
         "table", "clone", src, "--dest", dst],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert "cloned" in out.stdout
    assert [tuple(r) for r in read_table(spark, dst).collect()] == [(1, "a")]


def test_cli_table_restore_flag_validation(spark, tmp_path, capsys):
    """restore with neither/both selector flags is a clean exit-2 CLI
    error (not a raw ValueError traceback), mirroring clone --dest."""
    from data_observability_installer_spark.sources.txtable import write_table

    t = str(tmp_path / "tbl")
    write_table(spark, t, spark.createDataFrame([(1, "a")], "k int, v string"))
    assert main(["table", "restore", t]) == 2
    assert "requires" in capsys.readouterr().err
    assert main(["table", "restore", t, "--version", "1",
                 "--as-of-ms", "5"]) == 2
    assert "not both" in capsys.readouterr().err
    assert main(["table", "show", t, "--version", "1",
                 "--as-of-ms", "5"]) == 2
    assert "not both" in capsys.readouterr().err


def test_clone_retry_after_partial_link_converges(spark, tmp_path):
    """A clone that died mid-link (some dest files already hard-linked)
    converges when retried: identical existing links are treated as
    already-done instead of raising SameFileError via the copy path."""
    import os

    from data_observability_installer_spark.sources.txtable import (
        clone_table,
        read_manifest,
        read_table,
        write_table,
    )

    src = str(tmp_path / "src")
    write_table(
        spark, src,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
    )
    dst = str(tmp_path / "dst")
    # simulate the interrupted first attempt: link one data file only,
    # no manifest published
    f = read_manifest(src)["files"][0]
    os.makedirs(os.path.dirname(os.path.join(dst, f)), exist_ok=True)
    os.link(os.path.join(src, f), os.path.join(dst, f))

    assert clone_table(src, dst) == 1
    got = sorted(tuple(r) for r in read_table(spark, dst).collect())
    assert got == [(1, "a"), (2, "b")]


def test_cli_table_delete(spark, tmp_path, capsys):
    """table delete commits deletion vectors through the CLI: rows
    gone, no data file rewritten; missing --where is a clean exit 2."""
    from data_observability_installer_spark.sources.txtable import (
        read_manifest,
        write_table,
    )

    t = str(tmp_path / "tbl")
    write_table(
        spark, t,
        spark.createDataFrame([(i, i % 3) for i in range(30)], "id int, k int"),
    )
    pre_files = read_manifest(t)["files"]

    assert main(["table", "delete", t]) == 2  # --where required
    assert "requires --where" in capsys.readouterr().err

    assert main(["table", "delete", t, "--where", "k = 1"]) == 0
    out = capsys.readouterr().out
    assert "deleted 10 rows" in out and "no data rewritten" in out
    m = read_manifest(t)
    assert m["op"] == "delete" and m["files"] == pre_files

    assert main(["table", "show", t, "--rows", "50"]) == 0
    shown = capsys.readouterr().out
    import re as _re

    assert len(_re.findall(r"\|1\s*\|$", shown, _re.M)) == 0


def test_cli_qsketch_store_per_key_quantiles(spark, tmp_path, capsys):
    """qsketch-store verb: per-pipeline p50/p99 served from the
    continuous grouped quantile-sketch store — the operational read
    path of the r11 SLA percentile sink. Seeded via the library (two
    batches so the report exercises the cross-partition node merge);
    the p99 estimate must respect the q-digest rank-error bound."""
    from data_observability_installer_spark.operators.profile import (
        write_profile,
    )
    from data_observability_installer_spark.operators.sketch import qsketch

    store = str(tmp_path / "qstore")
    df = spark.range(4000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'etl' ELSE 'ml' END AS pipeline",
        # etl durations ~ id % 1000, ml ~ 2000 + id % 1000
        "CAST(CASE WHEN id % 2 = 0 THEN id % 1000"
        "      ELSE 2000 + id % 1000 END AS LONG) AS dur_s",
    )
    for b, half in enumerate(("id < 2000", "id >= 2000")):
        batch = spark.range(4000).where(half).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 'etl' ELSE 'ml' END AS pipeline",
            "CAST(CASE WHEN id % 2 = 0 THEN id % 1000"
            "      ELSE 2000 + id % 1000 END AS LONG) AS dur_s",
        )
        write_profile(
            qsketch(batch, "dur_s", lo=0, hi=4095, log_u=12, key_col="pipeline"),
            store, f"{b:08d}",
        )
    assert main([
        "qsketch-store", store,
        "--q", "5000,9900", "--lo", "0", "--hi", "4095", "--log-u", "12",
    ]) == 0
    out = capsys.readouterr().out
    assert "etl" in out and "ml" in out and "9900" in out
    # parse the shown table: ml's p99 must land near 2990 (within the
    # q-digest bound: 3/64 of n=2000 ranks ~ <=  a few node widths)
    import re as _re

    rows = _re.findall(r"\|(\w+)\s*\|(\d+)\s*\|(\d+)\s*\|(\d+)\s*\|", out)
    vals = {(r[0], int(r[1])): int(r[3]) for r in rows}
    assert 2500 <= vals[("ml", 9900)] <= 3200
    assert 300 <= vals[("etl", 5000)] <= 700


def test_cli_monitor_stored_pane(spark, tmp_path, capsys):
    """monitor-stored verb: the five-screen pane served from the
    continuous stores (two agg cubes + the grouped quantile store),
    no raw-event rescan. Seeded via the library with a tiny synthetic
    ingest; the pane must show all five screens."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.profile import (
        write_profile,
    )
    from data_observability_installer_spark.operators.sketch import qsketch

    counts = str(tmp_path / "counts")
    spark.createDataFrame(
        [("click", f"2024-01-{d:02d}", 10 + d) for d in range(1, 15)],
        "k string, o string, v long",
    ).coalesce(1).write.parquet(f"{counts}/run_id=00000000")

    runs = str(tmp_path / "runs")
    spark.createDataFrame(
        [("pipeline-0", f"7:{d}", d % 3, 1) for d in range(20)],
        "pipeline_key string, run_key string, err_ct long, pur_ct long",
    ).select(
        "*",
        F.lit("2024-01-05 01:00:00").cast("timestamp").alias("start_ts"),
        F.lit("2024-01-05 02:00:00").cast("timestamp").alias("end_ts"),
    ).coalesce(1).write.parquet(f"{runs}/run_id=00000000")

    qstore = str(tmp_path / "qs")
    dur = spark.createDataFrame(
        [("pipeline-0", 3600 * (1 + i % 3)) for i in range(30)],
        "pipeline_key string, dur_s long",
    )
    write_profile(
        qsketch(dur, "dur_s", lo=0, hi=(1 << 17) - 1, key_col="pipeline_key"),
        qstore, "00000000",
    )

    assert main(["monitor-stored", counts, runs, qstore]) == 0
    out = capsys.readouterr().out
    for screen in ("changepoint", "cusum", "mk_trend", "p_chart", "sla_p99"):
        assert screen in out


def test_cli_table_tail(spark, tmp_path, capsys):
    """table tail verb: one-shot drain of a table's commit log —
    per-commit batches, then 'caught up' on re-run (the checkpoint
    persisted)."""
    from data_observability_installer_spark.sources.txtable import (
        write_table,
    )

    t = str(tmp_path / "t")
    for i in range(2):
        write_table(spark, t, spark.createDataFrame([(i,)], "id int"))
    assert main(["table", "tail", t, "--max-commits", "1"]) == 0
    out = capsys.readouterr().out
    assert "-- batch 1 --" in out and "-- batch 2 --" in out
    assert "2 batch(es); checkpoint at v2" in out
    assert main(["table", "tail", t]) == 0
    assert "0 batch(es)" in capsys.readouterr().out
