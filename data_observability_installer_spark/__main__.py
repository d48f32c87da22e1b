"""Engine CLI — the analog of the reference's driver surface
(``dk-installer.py`` verbs ``tg run-demo`` / ``obs run-demo`` /
``export-observability``, reference dk-installer.py:1061-1106,
:3330-3350), re-expressed as engine verbs over the parquet warehouse::

    python -m data_observability_installer_spark list
    python -m data_observability_installer_spark profile lineitem [--approx]
    python -m data_observability_installer_spark hygiene lineitem
    python -m data_observability_installer_spark test dq_suite_lineitem
    python -m data_observability_installer_spark generate customer
    python -m data_observability_installer_spark query pricing_summary
    python -m data_observability_installer_spark export --out /tmp/outcomes

Every verb builds the plan declaratively and prints via ``show()`` —
nothing here collects more than display rows to the driver.
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("doi-spark-cli", cpus=args.cpus)


def cmd_list(args) -> int:
    from .plans import registry
    from .plans.suites import DEMO_SUITES

    print("registry queries:")
    oracles = registry.oracle_sql()
    for name in sorted(registry.queries()):
        tag = "oracle" if name in oracles else "rows-only"
        print(f"  {name}  [{tag}]")
    print("suites:")
    for name, (table, specs, _, _) in DEMO_SUITES.items():
        print(f"  {name}  ({table}, {len(specs)} tests)")
    return 0


def cmd_profile(args) -> int:
    from .operators.profile import profile
    from .plans.suites import AS_OF
    from .sources.tables import load_table

    spark = _spark(args)
    df = profile(
        load_table(spark, args.sf_dir, args.table), args.table, AS_OF, exact=not args.approx
    )
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"profile written to {args.out}")
    else:
        df.show(1000, truncate=False)
    return 0


def cmd_hygiene(args) -> int:
    from .operators.hygiene import hygiene
    from .operators.profile import profile
    from .plans.suites import AS_OF
    from .sources.tables import load_table

    spark = _spark(args)
    prof = profile(load_table(spark, args.sf_dir, args.table), args.table, AS_OF)
    hygiene(prof, AS_OF).show(1000, truncate=False)
    return 0


def cmd_test(args) -> int:
    from .operators.dq.compiler import compile_suite
    from .plans.suites import AS_OF, DEMO_SUITES
    from .sources.tables import load_table

    if args.suite not in DEMO_SUITES:
        print(f"unknown suite {args.suite!r}; see `list`", file=sys.stderr)
        return 2
    table, specs, view, table_sql = DEMO_SUITES[args.suite]
    if args.indb:
        # in-database execution: the warehouse (here an embedded DuckDB
        # over the same parquet) computes the aggregates; no SparkSession
        import duckdb

        from .operators.dq.indb import run_suite_indb
        from .sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
            )
        for row in run_suite_indb(con, table_sql, specs, AS_OF):
            print(row)
        return 0
    spark = _spark(args)
    df = load_table(spark, args.sf_dir, table)
    if view is not None:
        df = view(df)
    out = compile_suite(df, specs, AS_OF)
    out.show(1000, truncate=False)
    return 0


def cmd_generate(args) -> int:
    from .operators.dq.compiler import compile_suite
    from .operators.dq.generator import generate_suite
    from .plans.suites import AS_OF
    from .sources.tables import load_table

    spark = _spark(args)
    df = load_table(spark, args.sf_dir, args.table)
    _, specs = generate_suite(spark, df, args.table, AS_OF)
    print(f"generated {len(specs)} tests:")
    for s in specs:
        print(f"  {s.table}.{s.column}.{s.test_type}  {s.params}")
    if not args.dry_run:
        compile_suite(df, specs, AS_OF).show(1000, truncate=False)
    return 0


def cmd_discover(args) -> int:
    """FD/FK discovery from cardinality evidence, optionally emitting
    the confirmed dependencies as generated tests and running them —
    the round-7 profile->generate loop, end to end."""
    from .operators.dq.compiler import compile_suite
    from .operators.dq.discovery import discover_fds, discover_fks
    from .operators.dq.generator import dependency_tests, run_referential_tests
    from .plans.suites import AS_OF
    from .sources.tables import STATIC_SCHEMAS, load_table

    spark = _spark(args)
    table = args.table
    df = load_table(spark, args.sf_dir, table)
    fd_rows = discover_fds(df).collect()
    print(f"functional dependencies on {table}:")
    for r in fd_rows:
        mark = "HOLDS" if r["holds"] else f"violated by {r['n_violating_keys']} keys"
        print(f"  {r['determinant']} -> {r['dependent']}: {mark}")
    ind_rows = []
    if args.parents:
        tables = {table: (df, list(dict(STATIC_SCHEMAS[table])))}
        for t in args.parents.split(","):
            t = t.strip()
            tables[t] = (load_table(spark, args.sf_dir, t), list(dict(STATIC_SCHEMAS[t])))
        ind_rows = discover_fks(tables).collect()
        print("inclusion dependencies:")
        for r in ind_rows:
            mark = "FK" if r["holds"] else f"{r['containment_bp']} bp contained"
            print(f"  {r['child']} in {r['parent']}: {mark}")
    if args.emit_tests:
        specs = dependency_tests(table, fd_rows, ind_rows)
        print(f"generated {len(specs)} dependency tests")
        fd_specs = [s for s in specs if s.test_type == "Functional_Dep"]
        if fd_specs:
            compile_suite(df, fd_specs, AS_OF).show(200, truncate=False)
        fk_specs = [s for s in specs if s.test_type == "Valid_FK"]
        if fk_specs:
            all_tables = {t: d for t, (d, _) in tables.items()}
            run_referential_tests(fk_specs, all_tables).show(200, truncate=False)
    return 0


def cmd_query(args) -> int:
    from .plans import registry

    qs = registry.queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def cmd_compact(args) -> int:
    """Small-file compaction (see operators/layout.py): rewrite a
    fragmented parquet directory as target-sized files, optionally
    re-sorting during the rewrite."""
    from .operators.layout import compact

    spark = _spark(args)
    plan = compact(
        spark,
        args.src,
        args.dst,
        target_mb=args.target_mb,
        sort_cols=args.sort_by.split(",") if args.sort_by else None,
    )
    print(
        f"compacted {plan['files']} files ({plan['bytes']} bytes) "
        f"-> {plan['target_files']} files at {args.dst}"
    )
    return 0


def cmd_zorder(args) -> int:
    """Morton/Z-order re-clustering of a table onto ``--by`` columns
    so parquet footer stats prune in every clustered dimension."""
    from .operators.layout import zorder_by
    from .sources.tables import load_table

    spark = _spark(args)
    df = load_table(spark, args.sf_dir, args.table)
    cols = args.by.split(",")
    zorder_by(df, cols, n_files=args.files).write.mode("overwrite").parquet(args.dst)
    print(f"z-ordered {args.table} on {cols} -> {args.dst}")
    return 0


def cmd_export(args) -> int:
    """TEST_OUTCOMES event export (``export-observability`` analog):
    run every demo suite, chunk outcomes into events, write JSONL."""
    from .operators.dq.compiler import compile_suite
    from .plans.suites import AS_OF, DEMO_SUITES
    from .sources.dq_corpus import corpus_to_outcomes, export_outcomes_json
    from .sources.tables import load_table

    spark = _spark(args)
    parts = []
    for name, (table, specs, view, _) in DEMO_SUITES.items():
        df = load_table(spark, args.sf_dir, table)
        if view is not None:
            df = view(df)
        res = compile_suite(df, specs, AS_OF)
        parts.append(res)
    allres = parts[0]
    for p in parts[1:]:
        allres = allres.unionByName(p)
    from pyspark.sql import functions as F

    shaped = allres.select(
        "table_name",
        "column_name",
        "test_type",
        F.when(F.col("result") == "PASSED", "Pass")
        .when(F.col("result") == "WARNING", "Warning")
        .otherwise("Fail")
        .alias("result"),
        F.concat_ws(".", "table_name", "column_name", "test_type").alias("description"),
        F.concat(F.lit("measure="), F.col("measure").cast("string")).alias("message"),
        F.map_from_arrays(
            F.array(F.lit("Threshold_Value")),
            F.array(F.col("threshold_value").cast("string")),
        ).alias("parameters"),
    )
    outcomes = corpus_to_outcomes(shaped)
    export_outcomes_json(outcomes, args.out)
    print(f"outcome events written to {args.out}")
    return 0


def cmd_quarantine(args) -> int:
    """Row-level dead-letter split: run the row-expressible subset of
    the table's demo suite, land clean rows and divert violators (with
    their violated-test tags) — the load-time counterpart of ``test``."""
    from .operators.dq.rowscreen import ROW_TYPES, quarantine_write
    from .plans.suites import AS_OF, DEMO_SUITES
    from .sources.tables import load_table

    suite = f"dq_suite_{args.table}"
    if suite not in DEMO_SUITES:
        print(f"no suite for table {args.table!r}", file=sys.stderr)
        return 2
    table, specs, view_builder, _ = DEMO_SUITES[suite]
    row_specs = [s for s in specs if s.test_type in ROW_TYPES]
    if not row_specs:
        print(f"suite {suite} has no row-expressible tests", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = load_table(spark, args.sf_dir, table)
    if view_builder is not None:
        df = view_builder(df)
    stats = quarantine_write(df, row_specs, AS_OF, args.clean, args.bad)
    print(
        f"screened with {len(row_specs)} row tests: "
        f"{stats['clean_rows']} clean -> {args.clean}, "
        f"{stats['quarantined_rows']} quarantined -> {args.bad}"
    )
    return 0


def cmd_drift(args) -> int:
    """Drift screen battery. Series mode (default): daily counts per
    --key run through Mann-Kendall (monotone trend), CUSUM (sustained
    level shift + when it started) and change-point localization
    (where the level moved). Two-sample mode (--col + --split-sql):
    KS (did the distribution move) + Wasserstein-1 (by how much)
    between the two slices."""
    from pyspark.sql import functions as F

    from .functions.pin import pin
    from .operators.drift import (
        changepoint,
        cusum_screen,
        ks_drift,
        mann_kendall,
        wasserstein_drift,
    )
    from .sources.tables import load_table

    spark = _spark(args)
    df = load_table(spark, args.sf_dir, args.table)
    if args.col:
        side = F.expr(args.split_sql or "TRUE")
        print(f"== two-sample screens on {args.col} (A = {args.split_sql}) ==")
        ks_drift(df, args.col, side).show(truncate=False)
        wasserstein_drift(df, args.col, side).show(truncate=False)
        return 0
    daily = df.groupBy(
        F.col(args.key).alias("k"),
        F.date_format(F.date_trunc("day", args.ts), "yyyy-MM-dd").alias("o"),
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    daily = pin(daily)  # 3 consumers, one rollup scan
    print(f"== daily volume per {args.key}: trend / level shift / change point ==")
    mann_kendall(daily, ord_col="o").show(truncate=False)
    cusum_screen(daily).show(truncate=False)
    changepoint(daily).show(truncate=False)
    return 0


def cmd_table(args) -> int:
    """Transactional-table maintenance (sources/txtable.py): history
    prints the commit log; compact rewrites the head snapshot as one
    commit; vacuum drops versions past the retention window; changes
    prints the rows appended since --from-version (append-only CDC
    read); cdf prints the row-level change feed (inserts, DV deletes,
    update pre/postimages); delete/update commit deletion-vector row
    changes; show prints the head (or --version) snapshot."""
    from .sources import txtable as tx

    if args.action == "history":
        for h in tx.history(args.path):
            print(h)
        return 0
    if args.action in ("restore", "show") and (
        args.version is not None and args.as_of_ms is not None
    ):
        print(f"{args.action}: pass --version OR --as-of-ms, not both",
              file=sys.stderr)
        return 2
    if args.action == "restore":
        if args.version is None and args.as_of_ms is None:
            print("restore requires --version or --as-of-ms", file=sys.stderr)
            return 2
        v = tx.restore_table(args.path, version=args.version, as_of_ms=args.as_of_ms)
        print(f"restored as v{v}")
        return 0
    if args.action == "rename-col":
        if not args.col or not args.to:
            print("rename-col requires --col and --to", file=sys.stderr)
            return 2
        v = tx.rename_column(args.path, args.col, args.to)
        print(f"renamed {args.col} -> {args.to} as v{v} (no data rewritten)")
        return 0
    if args.action == "drop-col":
        if not args.col:
            print("drop-col requires --col", file=sys.stderr)
            return 2
        v = tx.drop_column(args.path, args.col)
        print(f"dropped {args.col} as v{v} (no data rewritten)")
        return 0
    if args.action == "clone":
        if not args.dest:
            print("clone requires --dest", file=sys.stderr)
            return 2
        v = tx.clone_table(
            args.path, args.dest, version=args.version, as_of_ms=args.as_of_ms
        )
        print(f"cloned to {args.dest} at v{v}")
        return 0
    if args.action == "compact":
        sort_by = args.sort_by.split(",") if args.sort_by else None
        v = tx.compact(
            _spark(args), args.path, target_partitions=args.files,
            sort_by=sort_by,
        )
        print(f"compacted as v{v}")
        return 0
    if args.action == "vacuum":
        n = tx.vacuum(args.path, keep_last=args.keep_last)
        print(f"removed {n} data files")
        return 0
    if args.action == "purge-dvs":
        out = tx.purge_dvs(
            _spark(args), args.path, max_deleted_ratio=args.max_deleted_ratio
        )
        if not out["purged_files"]:
            print(
                "no file exceeds the deleted-ratio threshold "
                f"({args.max_deleted_ratio}); nothing committed"
            )
        else:
            print(
                f"purged DVs from {out['purged_files']} hot files into "
                f"{out['new_files']} rewritten files as v{out['version']} "
                "(cold files untouched)"
            )
        return 0
    if args.action == "tail":
        import os

        from .sources.txtable import txtable_stream

        tail = txtable_stream(
            _spark(args), args.path,
            args.tail_checkpoint or os.path.join(args.path, "_tail_ckpt"),
            from_version=args.from_version or 0,
            cdf=args.cdf,
            max_commits_per_trigger=args.max_commits,
        )

        def show(df, batch_id):
            print(f"-- batch {batch_id} --")
            df.show(getattr(args, "rows", None) or 20, truncate=False)

        n = tail.process_available(show)
        print(f"{n} batch(es); checkpoint at v{tail.position}")
        return 0
    if args.action in ("delete", "update"):
        if not args.where:
            print(f"{args.action} requires --where", file=sys.stderr)
            return 2
        preds = None
        if args.prune:
            preds = []
            for spec in args.prune:
                col, op, val = spec.split(":", 2)
                preds.append((col, op, val))
        if args.action == "delete":
            n = tx.delete_rows(_spark(args), args.path, args.where, prune=preds)
            print(f"deleted {n} rows via deletion vectors (no data rewritten)")
            return 0
        if not args.set:
            print("update requires --set COL=EXPR", file=sys.stderr)
            return 2
        sets = {}
        for spec in args.set:
            if "=" not in spec:
                print(f"bad --set {spec!r}; want COL=EXPR", file=sys.stderr)
                return 2
            col, expr = spec.split("=", 1)
            sets[col.strip()] = expr
        n = tx.update_rows(_spark(args), args.path, args.where, sets, prune=preds)
        print(f"updated {n} rows (untouched files not rewritten)")
        return 0
    if args.action == "cdf":
        tx.table_changes_cdf(
            _spark(args), args.path, args.from_version,
        ).show(args.rows, truncate=False)
        return 0
    if args.action == "changes":
        tx.table_changes(_spark(args), args.path, args.from_version).show(
            args.rows, truncate=False
        )
        return 0
    if args.action == "health":
        import json as _json

        print(_json.dumps(tx.table_health(args.path, args.version), indent=2))
        return 0
    if args.action == "stats":
        m = tx.read_manifest(args.path, args.version)
        stats = m.get("stats") or {}
        cols = sorted({c for s in stats.values() for c in s})
        print(
            f"v{m['version']}: {len(m['files'])} files, "
            f"{len(stats)} with stats, tracked columns: {cols or '(none)'}"
        )
        for f in m["files"][: args.rows]:
            print(f"  {f}: {stats.get(f, '(no stats)')}")
        return 0
    preds = None
    if args.prune:
        preds = []
        for spec in args.prune:
            col, op, val = spec.split(":", 2)
            preds.append((col, op, val))
    tx.read_table(
        _spark(args), args.path, version=args.version, predicates=preds,
        as_of_ms=args.as_of_ms,
    ).show(args.rows, truncate=False)
    return 0


def cmd_profile_store(args) -> int:
    """Profile-store maintenance (operators/profile.py): runs lists
    the stored run ids; vacuum applies a retention policy, optionally
    rolling dropped PARTIAL-state runs up into one merged partition."""
    from .operators.profile import list_profile_runs, vacuum_profile_store

    if args.action == "runs":
        for r in list_profile_runs(args.path):
            print(r)
        return 0
    out = vacuum_profile_store(
        _spark(args),
        args.path,
        keep_last_n=args.keep_last,
        keep_days=args.keep_days,
        keep_before=args.keep_before,
        rollup_run_id=args.rollup_run_id,
    )
    print(
        f"dropped {len(out['dropped'])} runs, kept {len(out['kept'])}"
        + (f", rolled up into {out['rollup']}" if out["rollup"] else "")
    )
    return 0


def cmd_qsketch_store(args) -> int:
    """Quantile report from the continuous quantile-sketch store
    (streaming/sketch.py qsketch_sink): merge the per-batch run_id
    partitions into the whole-history sketch (node-residual sums —
    sketch-sized, never data-sized) and scan it for the requested
    quantiles, per key for a store written with key_col= (the
    per-pipeline SLA p50/p99 serving path). lo/hi/log-u must match
    what the sink was started with."""
    from .operators.sketch import qsketch_quantiles
    from .streaming.sketch import read_qsketch_store

    spark = _spark(args)
    q_bps = [int(x) for x in args.q.split(",")]
    qsketch_quantiles(
        read_qsketch_store(spark, args.path), q_bps,
        lo=args.lo, hi=args.hi, log_u=args.log_u,
    ).show(args.rows, truncate=False)
    return 0


def cmd_monitor_stored(args) -> int:
    """The five-screen monitoring pane served FROM THE CONTINUOUS
    STORES (streaming/monitor.py monitor_pane_stored): daily-volume
    screens (Mann-Kendall, CUSUM, change-point) from the counts cube,
    the SPC p-chart from the run-rollup cube, and the per-pipeline SLA
    p99 from the keyed quantile-sketch store — O(store) serving
    latency, the raw event log never rescanned (the oracle-checked
    recompute variant is `query monitor_events`)."""
    from .streaming.monitor import monitor_pane_stored

    spark = _spark(args)
    monitor_pane_stored(
        spark, args.counts_store, args.runs_store, args.qsketch_store,
        qs_lo=args.lo, qs_hi=args.hi,
    ).show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="data_observability_installer_spark")
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="verb", required=True)

    sub.add_parser("list")
    p = sub.add_parser("profile")
    p.add_argument("table")
    p.add_argument("--approx", action="store_true")
    p.add_argument("--out")
    p = sub.add_parser("hygiene")
    p.add_argument("table")
    p = sub.add_parser("test")
    p.add_argument("suite")
    p.add_argument("--indb", action="store_true",
                   help="execute source-side on DuckDB (no Spark, no data copies)")
    p = sub.add_parser("generate")
    p.add_argument("table")
    p.add_argument("--dry-run", action="store_true")
    p = sub.add_parser("discover")
    p.add_argument("table")
    p.add_argument("--parents", default=None,
                   help="comma-separated candidate parent tables for FK discovery")
    p.add_argument("--emit-tests", action="store_true",
                   help="emit confirmed dependencies as generated tests and run them")
    p = sub.add_parser("query")
    p.add_argument("name")
    p.add_argument("--rows", type=int, default=50)
    p.add_argument("--explain", action="store_true")
    p = sub.add_parser("export")
    p.add_argument("--out", required=True)
    p = sub.add_parser("compact")
    p.add_argument("src")
    p.add_argument("dst")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--sort-by", default=None,
                   help="comma-separated columns to re-sort by during the rewrite")
    p = sub.add_parser("zorder")
    p.add_argument("table")
    p.add_argument("dst")
    p.add_argument("--by", required=True,
                   help="comma-separated numeric columns to cluster on")
    p.add_argument("--files", type=int, default=None)
    p = sub.add_parser("drift")
    p.add_argument("table")
    p.add_argument("--ts", default="ts", help="event-time column (series mode)")
    p.add_argument("--key", default="event_type", help="group column (series mode)")
    p.add_argument("--col", default=None, help="numeric column (two-sample mode)")
    p.add_argument("--split-sql", default=None,
                   help="boolean SQL predicate naming slice A (two-sample mode)")
    p = sub.add_parser("quarantine")
    p.add_argument("table")
    p.add_argument("--clean", required=True, help="path for passing rows")
    p.add_argument("--bad", required=True,
                   help="path for violating rows (tagged with violated tests)")
    p = sub.add_parser("table")
    p.add_argument("action",
                   choices=["history", "show", "compact", "vacuum", "changes",
                            "stats", "health", "clone", "restore",
                            "rename-col", "drop-col", "delete", "update",
                            "cdf", "purge-dvs", "tail"])
    p.add_argument("path")
    p.add_argument("--version", type=int, default=None, help="show: time travel")
    p.add_argument("--as-of-ms", type=int, default=None, dest="as_of_ms",
                   help="show: timestamp time travel (epoch ms; last "
                        "commit at or before this instant)")
    p.add_argument("--rows", type=int, default=50)
    p.add_argument("--files", type=int, default=4, help="compact: target files")
    p.add_argument("--keep-last", type=int, default=2, help="vacuum retention")
    p.add_argument("--from-version", type=int, default=0,
                   help="changes: rows appended after this version")
    p.add_argument("--sort-by", default=None, dest="sort_by",
                   help="compact: re-cluster on these comma-separated "
                        "columns during the rewrite (restores skipping)")
    p.add_argument("--dest", default=None,
                   help="clone: destination path for the shallow clone")
    p.add_argument("--col", default=None,
                   help="rename-col/drop-col: the column to evolve")
    p.add_argument("--to", default=None,
                   help="rename-col: the new column name")
    p.add_argument("--prune", action="append", default=None,
                   metavar="COL:OP:VALUE",
                   help="show/delete: data-skipping predicate(s), e.g. "
                        "l_shipdate:>=:2001-01-01T00:00:00 (repeatable)")
    p.add_argument("--where", default=None,
                   help="delete/update: SQL condition selecting the rows "
                        "(committed via deletion vectors)")
    p.add_argument("--set", action="append", default=None,
                   metavar="COL=EXPR",
                   help="update: per-column SQL expression (repeatable)")
    p.add_argument("--cdf", action="store_true",
                   help="tail: emit row-level changes instead of appends")
    p.add_argument("--max-commits", type=int, default=None,
                   help="tail: rate limit per trigger")
    p.add_argument("--tail-checkpoint", default=None,
                   help="tail: offset dir (default <table>/_tail_ckpt)")
    p.add_argument("--max-deleted-ratio", type=float, default=0.2,
                   help="purge-dvs: rewrite only files whose deleted-row "
                        "fraction exceeds this (cold files untouched)")
    p = sub.add_parser("profile-store")
    p.add_argument("action", choices=["runs", "vacuum"])
    p.add_argument("path")
    p.add_argument("--keep-last", type=int, default=None, dest="keep_last")
    p.add_argument("--keep-days", type=float, default=None)
    p.add_argument("--keep-before", default=None,
                   help="lexicographic run-id cutoff (ISO timestamp)")
    p.add_argument("--rollup-run-id", default=None,
                   help="merge dropped PARTIAL-state runs into this run id")

    p = sub.add_parser("qsketch-store")
    p.add_argument("path")
    p.add_argument("--q", default="5000,9000,9900",
                   help="quantiles in basis points, comma-separated")
    p.add_argument("--lo", type=int, default=0)
    p.add_argument("--hi", type=int, default=(1 << 24) - 1)
    p.add_argument("--log-u", type=int, default=16, dest="log_u")
    p.add_argument("--rows", type=int, default=50)

    p = sub.add_parser("monitor-stored")
    p.add_argument("counts_store")
    p.add_argument("runs_store")
    p.add_argument("qsketch_store")
    p.add_argument("--lo", type=int, default=0)
    p.add_argument("--hi", type=int, default=(1 << 17) - 1)
    p.add_argument("--rows", type=int, default=100)

    args = ap.parse_args(argv)
    if args.sf_dir is None:
        from .sources.tables import DEFAULT_SF_DIR

        args.sf_dir = DEFAULT_SF_DIR
    return {
        "list": cmd_list,
        "profile": cmd_profile,
        "hygiene": cmd_hygiene,
        "test": cmd_test,
        "generate": cmd_generate,
        "discover": cmd_discover,
        "query": cmd_query,
        "export": cmd_export,
        "compact": cmd_compact,
        "zorder": cmd_zorder,
        "drift": cmd_drift,
        "quarantine": cmd_quarantine,
        "table": cmd_table,
        "profile-store": cmd_profile_store,
        "qsketch-store": cmd_qsketch_store,
        "monitor-stored": cmd_monitor_stored,
    }[args.verb](args)


if __name__ == "__main__":
    raise SystemExit(main())
