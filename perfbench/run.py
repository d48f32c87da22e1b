#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--sf 0.01]

One run = one workload in one fresh single-process Spark session:

1. set-up: write the seeded inputs (three times, the median counts),
   boot the session, build the workload's baseline, run the untimed
   warm-up passes;
2. the first pass, timed on its own (``first_pass_s``);
3. warm passes until ``--seconds`` have elapsed (at least three; the
   median CPU time of one is ``pass_cpu_s``);
4. the correctness gate: every call of the first pass against its
   DuckDB twin, and every later pass's result digest against the
   first pass's.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics from spans around
every call (see perfbench/README.md) and writes the spans to
``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import layers  # noqa: E402
import report  # noqa: E402
from workloads import WORKLOADS, Call  # noqa: E402

JVM_HEAP = "2g"
# every run measures the same stretch of the JIT slope: this many
# untimed warm passes, then at least MIN_PASSES measured ones
WARMUPS = 3
MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def local_cpus() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def configure_process(run_dir: str) -> None:
    """Pin the session to this box and keep every file it writes inside
    the run directory. Everything goes through ``get_spark``'s ``cpus``
    argument and the environment; the engine is not configured any
    other way. The registry resolves some stores against the working
    directory, so the run also moves there."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.chdir(run_dir)


def load_check_oracle():
    """The repo's oracle comparison (tools/check_oracle.py), imported
    as is."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(check_oracle, pdf) -> str:
    cols, rows = check_oracle.normalize(pdf)
    text = repr(cols) + "".join(
        repr(tuple(f"{v:.9g}" if isinstance(v, float) else str(v) for v in r)) for r in rows
    )
    return hashlib.sha1(text.encode()).hexdigest()


class _Frame:
    """Hands an already collected result to ``check_oracle.compare``,
    which asks its argument for ``toPandas()``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def pass_order(calls: list[Call], rng: random.Random) -> list[Call]:
    """A seeded shuffle; calls that others read from go first."""
    order = list(calls)
    rng.shuffle(order)
    needed = {c.after for c in calls if c.after}
    return [c for c in order if c.name in needed] + [c for c in order if c.name not in needed]


class Runner:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.first: dict[str, object] = {}  # call -> first-pass pandas result
        self.digests: dict[str, str] = {}
        self.varying: dict[str, list] = {}  # count-determinism report (traced runs)
        self.run_dir = os.path.join(
            HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        )

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED {what}")

    def run_pass(self, label: str, tracer: layers.Tracer) -> tuple[float, float]:
        """One pass over the workload's calls; returns (wall, cpu) s."""
        from data_observability_installer_spark.plans import registry

        ctx, calls = self.ctx, self.calls
        registry.clear_caches()
        hits0, lookups0 = cache_counts()
        rdds0 = self.counters.persisted_rdds()
        results = []
        cpu0, t0 = layers.tree_cpu_s(), time.perf_counter()
        with tracer.span(label, "pass") as pass_span:
            for call in pass_order(calls, self.rng):
                self.attempted += 1
                try:
                    with tracer.span(call.name, "call", counted=False):
                        with tracer.span(call.name, call.layer, step="build"):
                            obj = call.build(ctx)
                        with tracer.span(call.name, call.layer, step="exec"):
                            results.append((call.name, call.exec(obj)))
                except Exception:  # noqa: BLE001 — a failed call is counted, the run goes on
                    self.fail(f"{label} {call.name}\n{traceback.format_exc()}")
        wall, cpu = time.perf_counter() - t0, layers.tree_cpu_s() - cpu0
        for name, pdf in results:
            d = digest(self.check_oracle, pdf)
            if name not in self.digests:
                self.digests[name] = d
                self.first[name] = pdf
            elif d != self.digests[name]:
                self.fail(f"{label} {name}: result differs from the first pass")
        if pass_span is not None:
            pass_span["cpu_s"] = cpu
            pass_span["rdds_left"] = self.counters.persisted_rdds() - rdds0
            hits, lookups = cache_counts()
            pass_span["cache_hits"] = hits - hits0
            pass_span["cache_lookups"] = lookups - lookups0
        return wall, cpu

    def oracle_gate(self) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for view, path in self.workload.duck_views(self.in_dir).items():
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
        for call in self.calls:
            if call.oracle is None or call.name not in self.first:
                continue
            try:
                issues = self.check_oracle.compare(
                    call.name, _Frame(self.first[call.name]), call.oracle, con
                )
            except Exception as e:  # noqa: BLE001
                issues = [f"EXCEPTION: {type(e).__name__}: {e}"]
            bad = [s for s in issues if not s.startswith("NOTE")]
            if bad:
                self.fail(f"oracle {call.name}: {bad}")
        con.close()

    def run(self) -> dict:
        args, wl = self.args, self.workload
        t_start = time.perf_counter()
        steal0 = layers.steal_s()
        self.check_oracle = load_check_oracle()
        configure_process(self.run_dir)

        # set-up 1: seeded inputs, written three times into fresh dirs
        gen_s = []
        for rep in range(3):
            d = os.path.join(self.run_dir, f"inputs{rep}")
            t = time.perf_counter()
            inputs.write_inputs(d, wl.tables, args.seed, args.sf)
            gen_s.append(time.perf_counter() - t)
        self.in_dir = d

        # set-up 2: the session
        t = time.perf_counter()
        from data_observability_installer_spark.session import get_spark

        spark = get_spark(f"perfbench-{wl.name}", cpus=local_cpus())
        boot_s = time.perf_counter() - t
        self.counters = layers.SparkCounters(spark)
        tracer = layers.Tracer(bool(args.trace), self.counters)
        self.ctx = {"spark": spark, "in_dir": self.in_dir, "work_dir": os.path.join(self.run_dir, "out")}

        try:
            with tracer.span(wl.name, "workload", counted=False):
                result = self.measure(tracer, gen_s, boot_s, steal0)
        finally:
            stop_session(spark)
        if args.trace:
            path = os.path.join(HERE, ".out", f"{wl.name}-seed{args.seed}-spans.json")
            tracer.write(path, {"metrics": result, "varying_counts": self.varying})
            self_s = {k: round(v, 3) for k, v in tracer.self_times().items()}
            log(f"self time per layer (s): {json.dumps(self_s)}")
            log(f"spans written to {os.path.relpath(path, ROOT)}")
        log(f"run took {time.perf_counter() - t_start:.1f}s")
        return result

    def measure(self, tracer, gen_s: list[float], boot_s: float, steal0: float) -> dict:
        """Baseline, first pass, warm-ups, measured passes and the
        correctness gate; returns the metrics the run reports."""
        args, wl = self.args, self.workload
        off = layers.Tracer(False)
        # set-up 3: the workload's baseline
        t = time.perf_counter()
        with tracer.span("setup", "setup", counted=False):
            wl.setup(self.ctx)
            self.calls = wl.calls(self.ctx)
        baseline_s = time.perf_counter() - t
        jit0 = self.counters.snapshot()["jit_s"]

        first_s, _ = self.run_pass("first", tracer)
        jit_first = self.counters.snapshot()["jit_s"] - jit0

        warmups = 0 if args.smoke else WARMUPS
        t = time.perf_counter()
        for i in range(warmups):
            self.run_pass(f"warmup{i}", off)
        warmup_s = time.perf_counter() - t

        # measured passes; a traced run alternates traced and untraced
        # passes, so it also measures its own overhead
        walls: list[float] = []
        cpus: list[float] = []
        traced: list[float] = []
        min_passes = 1 if args.smoke else MIN_PASSES
        if args.trace:
            min_passes *= 2
        deadline = time.perf_counter() + args.seconds
        n = 0
        while n < min_passes or time.perf_counter() < deadline:
            on = bool(args.trace) and n % 2 == 0
            wall, cpu = self.run_pass(f"pass{n}", tracer if on else off)
            if on:
                traced.append(wall)
            else:
                walls.append(wall)
                cpus.append(cpu)
            n += 1

        self.oracle_gate()
        log(
            f"{wl.name} seed={args.seed}: gen {statistics.median(gen_s):.2f}s boot {boot_s:.2f}s "
            f"baseline {baseline_s:.2f}s warmup {warmup_s:.2f}s first {first_s:.2f}s "
            f"passes {[round(w, 2) for w in walls]} cpu {[round(c, 2) for c in cpus]} "
            f"steal {layers.steal_s() - steal0:.1f}s load {layers.loadavg():.2f}"
        )
        if args.trace:
            result = self.layer_metrics(tracer, traced, walls, boot_s, jit_first, steal0)
        else:
            result = {
                "setup_s": statistics.median(gen_s) + boot_s + baseline_s + warmup_s,
                "first_pass_s": first_s,
                "pass_cpu_s": statistics.median(cpus),
            }
        return result

    def layer_metrics(self, tracer, traced, untraced, boot_s, jit_first, steal0) -> dict:
        name = self.workload.name
        out = report.layer_metrics(name, tracer.spans, self.counters.cores, traced, untraced)
        varying = report.varying_counts(tracer.spans)
        out.update(
            {
                "session.boot_s": boot_s,
                "jvm.jit_first_s": jit_first,
                "spark.varying_count_calls": len(varying),
                "pass.wall_s": statistics.median(untraced),
                "host.peak_rss_mb": layers.tree_peak_rss_mb(),
                "host.steal_s": layers.steal_s() - steal0,
                "host.loadavg": layers.loadavg(),
            }
        )
        for call, seen in varying.items():
            log(f"count-determinism: {call} (jobs, stages, tasks) differ across passes: {seen}")
        self.varying = varying
        return out


def cache_counts() -> tuple[int, int]:
    """(hits, lookups) summed over the registry's shared-frame caches."""
    from data_observability_installer_spark.plans import registry
    from data_observability_installer_spark.plans.cache import DFCache

    caches = [v for v in vars(registry).values() if isinstance(v, DFCache)]
    hits = sum(c.hits for c in caches)
    return hits, hits + sum(c.misses for c in caches)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    ap.add_argument(
        "--smoke", action="store_true", help="no warm-up and a single measured pass (smoke test)"
    )
    args = ap.parse_args()

    runner = Runner(args)
    try:
        metrics = runner.run()
    finally:
        os.chdir(HERE)
        shutil.rmtree(runner.run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": report.unit_of(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
