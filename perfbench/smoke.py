#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs one pass of every workload at sf0.001, untraced and traced, and
checks that each run exits 0 and prints, as its last line, the result
object with every metric BENCHMARK.json lists for that mode, each with
its unit. A benchmarked workload must also pass its correctness gate;
for a workload BENCHMARK.json does not list, the gate's verdict is
printed only (see README.md, "Known engine defect").
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402
from workloads import BENCHMARKED, WORKLOADS  # noqa: E402


def expected(bench: dict, workload: str, trace: int) -> dict[str, str]:
    if trace:
        return {n: report.unit_of(n) for n in report.metric_names(workload)}
    return {m["name"]: m["unit"] for m in bench["end_to_end"]}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    problems: list[str] = []
    if listed != BENCHMARKED:
        problems.append(f"BENCHMARK.json lists {listed}, workloads.BENCHMARKED is {BENCHMARKED}")
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if per_layer != expected(bench, BENCHMARKED[0], 1):
        problems.append("BENCHMARK.json per_layer differs from report.metric_names()")
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", "0.001", "--smoke",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = expected(bench, workload, trace)
            if got != want:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} differ")
            verdict = f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}"
            print(f"{tag}: {verdict}")
            for name, m in result["metrics"].items():
                print(f"    {name} = {m['value']:.6g} {m['unit']}")
            if workload in BENCHMARKED and not result["correct"]:
                problems.append(f"{tag}: {verdict}")
    for p in problems:
        print(f"PROBLEM {p}", file=sys.stderr)
    print("smoke: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
