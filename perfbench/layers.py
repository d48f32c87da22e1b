"""Counters the benchmark reads from outside the engine.

Three sources, none of which needs a change to the engine:

- the host, through ``/proc``: CPU time and peak resident memory of
  the process tree (the Python process, the JVM it launched and any
  Python workers under the JVM), hypervisor steal and load average;
- the JVM, over py4j: JIT compilation time (CompilationMXBean) and
  collector time (GarbageCollectorMXBeans);
- Spark, over py4j: the DAG scheduler's job and stage id counters, and
  from the status store the local executor's cumulative task counters
  and each stage's task run time.

``Tracer`` keeps spans (workload -> pass -> call -> build/exec) in
memory with the Spark/JVM counter deltas attached, and writes them out
once at the end of a run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- host -----------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including
    descendants that already exited and were reaped inside the tree."""
    ticks = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields:
            # utime stime cutime cstime (proc(5) fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# --- JVM and Spark ----------------------------------------------------------


class SparkCounters:
    """Cumulative counters of one local-mode session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job
        to the status store, so the counters below are complete."""
        self._jsc.listenerBus().waitUntilEmpty()

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def snapshot(self) -> dict:
        self.drain()
        ex = self._jsc.statusStore().executorList(True).apply(0)
        gc_ms = sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans())
        dag = self._jsc.dagScheduler()
        return {
            # job and stage ids come from one counter each, so the deltas
            # also count jobs launched from plain threads outside any job
            # group; stages include those skipped for a reused shuffle
            "jobs": dag.nextJobId(),
            "stages": dag.nextStageId(),
            "tasks": ex.completedTasks() + ex.failedTasks(),
            "task_gc_s": ex.totalGCTime() / 1e3,
            "input_mb": ex.totalInputBytes() / 2**20,
            "shuffle_read_mb": ex.totalShuffleRead() / 2**20,
            "shuffle_write_mb": ex.totalShuffleWrite() / 2**20,
            "jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": gc_ms / 1e3,
        }

    def task_s(self, first_stage: int, end_stage: int) -> float:
        """Summed task run time of stages [first_stage, end_stage). (The
        executor summary's ``totalDuration`` is no use here: in local
        mode it grows with wall time, busy or idle.)"""
        from py4j.protocol import Py4JError

        store = self._jsc.statusStore()
        ms = 0
        for sid in range(first_stage, end_stage):
            try:
                ms += store.lastStageAttempt(sid).executorRunTime()
            except Py4JError:  # an id the scheduler allotted but never submitted
                pass
        return ms / 1e3

    def delta(self, before: dict, after: dict) -> dict:
        d = {k: after[k] - before[k] for k in after}
        d["task_s"] = self.task_s(before["stages"], after["stages"])
        return d


# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans. Disabled, every method is a no-op, so the
    untraced runs pay nothing for it."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, counted: bool = True, **attrs):
        """A span; ``counted`` spans carry the counter deltas over their
        interval (a span whose children are counted can sum those)."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = self.counters.snapshot() if counted and self.counters else None
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            if before is not None:
                rec.update(self.counters.delta(before, self.counters.snapshot()))
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the time of its child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s.get("dur_s", 0.0)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + s.get("dur_s", 0.0) - child[s["id"]]
        return out

    def write(self, path: str, extra: dict) -> None:
        """Write the spans, each layer's self time and ``extra``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f, indent=1)
