"""Per-layer metrics from a traced run's spans.

Span tree: ``pass`` -> ``call`` -> one ``build`` and one ``exec`` span
whose layer is the engine layer the call goes into (``plans.registry``,
``operators.profile``, ...). Pass, build and exec spans carry the
Spark/JVM counter deltas of ``layers.SparkCounters``. A metric is the
median over the traced warm passes, so it reads "per pass".
"""

from __future__ import annotations

import statistics

from workloads import BENCHMARKED, WORKLOADS

SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "task_s", "task_gc_s",
    "input_mb", "shuffle_read_mb", "shuffle_write_mb",
]
ENGINE_LAYERS = {
    "operators.profile.s": ("operators.profile", None),
    "operators.hygiene.s": ("operators.hygiene", None),
    "operators.dq.build_s": ("operators.dq", "build"),
    "operators.dq.exec_s": ("operators.dq", "exec"),
    "sources.write_s": ("sources.write", None),
    "plans.registry.build_s": ("plans.registry", "build"),
}


def metric_names(workload: str) -> list[str]:
    """Every per-layer metric a traced run of ``workload`` prints, in
    print order: the same list for every benchmarked workload (a metric
    of another workload's call reads 0), plus the workload's own when it
    is not benchmarked."""
    wls = [WORKLOADS[w] for w in BENCHMARKED + ([] if workload in BENCHMARKED else [workload])]
    specific = [m for w in wls for m in w.layer_metrics]
    calls = [n for w in wls for n in w.call_names]
    return (
        ["session.boot_s", "jvm.jit_first_s", "jvm.jit_s", "jvm.gc_s"]
        + [f"spark.{c}" for c in SPARK_COUNTERS]
        + ["spark.core_util", "spark.varying_count_calls"]
        + list(dict.fromkeys(specific))
        + ["functions.pin.rdds_left", "plans.cache.hit_ratio", "trace.harness_self_s",
           "trace.overhead_s", "pass.wall_s", "host.peak_rss_mb", "host.steal_s", "host.loadavg"]
        + [f"call.{n}.{k}" for n in dict.fromkeys(calls) for k in ("build_s", "exec_s", "jobs")]
    )


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("util", "ratio")):
        return "ratio"
    if name == "host.loadavg":
        return "load"
    return "count"


def _children(spans: list[dict], parent: int) -> list[dict]:
    return [s for s in spans if s["parent"] == parent]


def layer_metrics(workload, spans, cores, traced_walls, untraced_walls) -> dict:
    passes = [s for s in spans if s["layer"] == "pass" and s["name"].startswith("pass")]
    per_pass: list[dict] = []
    hits = lookups = 0
    for p in passes:
        m = {f"spark.{c}": p[c] for c in SPARK_COUNTERS}
        m["jvm.jit_s"], m["jvm.gc_s"] = p["jit_s"], p["gc_s"]
        m["functions.pin.rdds_left"] = p["rdds_left"]
        m["spark.core_util"] = p["task_s"] / (p["dur_s"] * cores)
        steps = [st for c in _children(spans, p["id"]) for st in _children(spans, c["id"])]
        for metric, (layer, step) in ENGINE_LAYERS.items():
            m[metric] = sum(
                st["dur_s"] for st in steps
                if st["layer"] == layer and step in (None, st["step"])
            )
        m["plans.registry.build_jobs"] = sum(
            st["jobs"] for st in steps if st["layer"] == "plans.registry" and st["step"] == "build"
        )
        m["trace.harness_self_s"] = p["dur_s"] - sum(st["dur_s"] for st in steps)
        for st in steps:
            key = "build_s" if st["step"] == "build" else "exec_s"
            m[f"call.{st['name']}.{key}"] = st["dur_s"]
            m[f"call.{st['name']}.jobs"] = m.get(f"call.{st['name']}.jobs", 0) + st["jobs"]
        per_pass.append(m)
        hits += p["cache_hits"]
        lookups += p["cache_lookups"]
    out = {}
    for name in metric_names(workload):
        vals = [m[name] for m in per_pass if name in m]
        out[name] = statistics.median(vals) if vals else 0
    out["plans.cache.hit_ratio"] = hits / lookups if lookups else 0.0
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
    return out


def varying_counts(spans: list[dict]) -> dict[str, list]:
    """Calls whose (jobs, stages, tasks) differ between traced passes.

    A call's counts depend on which calls ran before it in its pass
    (the first consumer of a shared cache builds it, later ones hit it),
    and the pass order is shuffled, so counts are only compared between
    passes where the same set of calls ran before it."""
    seen: dict[tuple, list[tuple]] = {}
    for p in spans:
        if p["layer"] != "pass":
            continue
        before: list[str] = []
        for c in _children(spans, p["id"]):
            steps = _children(spans, c["id"])
            t = tuple(sum(st[k] for st in steps) for k in ("jobs", "stages", "tasks"))
            group = seen.setdefault((c["name"], frozenset(before)), [])
            if t not in group:
                group.append(t)
            before.append(c["name"])
    out: dict[str, list] = {}
    for (name, before), counts in seen.items():
        if len(counts) > 1:
            out.setdefault(name, []).append({"after": sorted(before), "counts": counts})
    return out
