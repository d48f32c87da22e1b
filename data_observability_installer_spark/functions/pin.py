"""The materialization seam: the only module that pins, persists or
releases a DataFrame.

Three entry points, one per ownership shape:

- :func:`pin` — for a frame that OUTLIVES its builder or must cut
  lineage: a small intermediate fed to two or more downstream consumers
  (q-digest nodes past the driver cap feed three aggregates;
  semdedup's batch assignment feeds the witness join AND the store
  commit), a BFS
  frontier, a result-sized pair list returned to the caller.
  Re-executing the producer per consumer would re-pay the scan and, for
  nondeterministic producers, hand consumers DIFFERENT rows. The pin
  strategy is a run-time knob (below).
- :class:`pinned` — a scope for an OWNED transient persist: a
  corpus-sized frame read by several subtrees of ONE computation (a
  shingle index feeding both self-join sides, a table feeding a
  profile's chunk passes). It persists ``MEMORY_AND_DISK`` only when
  the caller has not already persisted the frame (``eager`` also fills
  it with a count), and on every exit path — exceptions included —
  releases exactly what it persisted, never the caller's cache. Pin
  the result-sized output with :func:`pin` INSIDE the scope when it is
  returned lazily, or the release leaves it re-reading the source.
- :func:`unpin` — release a pinned or cached frame once its last
  consumer is done (a ``persist``-mode pin, a ``DFCache`` eviction).

Pin modes, selected per session::

    spark.conf.set("spark.dataobs.pin.mode", "persist")

``localCheckpoint(eager=True)`` is the cheapest pin and the right
local-mode default, but it stores its blocks on NON-reliable executor
storage and TRUNCATES lineage: on a real cluster a lost/preempted
executor fails the job instead of recomputing. Hence:

- ``local`` (default) — ``localCheckpoint``: fastest, no redundancy;
  fine for single-node and short-lived jobs.
- ``persist`` — ``persist(MEMORY_AND_DISK)`` + an eager count:
  lineage is KEPT, so a lost executor recomputes the lost partitions
  instead of failing; release with :func:`unpin` when the last
  consumer is done.
- ``reliable`` — ``DataFrame.checkpoint`` into the configured
  checkpoint directory (HDFS/object store): survives any executor
  loss at the cost of a write; set ``spark.dataobs.pin.dir`` (or call
  ``sparkContext.setCheckpointDir`` yourself) first.

Nondeterminism note: ``persist`` pins are best-effort snapshots — a
recomputed partition re-runs the producer, so for NONdeterministic
producers only ``local``/``reliable`` (which materialize) give
bit-stable replays; the operators that need that property say so at
their call sites.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["PIN_DIR_CONF", "PIN_MODE_CONF", "pin", "pinned", "unpin"]

#: runtime conf key selecting the pin strategy: local|persist|reliable
PIN_MODE_CONF = "spark.dataobs.pin.mode"
#: runtime conf key naming the reliable-mode checkpoint directory
PIN_DIR_CONF = "spark.dataobs.pin.dir"


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin ``df`` for multiple consumers per the session's configured
    mode (see module docstring). Returns the pinned frame."""
    spark = df.sparkSession
    mode = spark.conf.get(PIN_MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    if mode == "reliable":
        sc = spark.sparkContext
        d = spark.conf.get(PIN_DIR_CONF, None)
        if d and sc.getCheckpointDir() is None:
            sc.setCheckpointDir(d)
        if sc.getCheckpointDir() is None:
            raise ValueError(
                f"pin mode 'reliable' needs {PIN_DIR_CONF} or a "
                "sparkContext.setCheckpointDir() call"
            )
        return df.checkpoint(eager=eager)
    raise ValueError(
        f"unknown {PIN_MODE_CONF}={mode!r}; use local|persist|reliable"
    )


class pinned:  # noqa: N801 — used as a function-style context manager
    """``with pinned(df) as d:`` — an owned transient persist of ``df``
    (see module docstring). A class, not a generator, so an entered
    scope handed to a long-lived owner (a ``DFCache`` entry) stays
    open until that owner releases the frame with :func:`unpin`."""

    def __init__(self, df: DataFrame, eager: bool = False):
        self._df = df
        self._eager = eager
        self._owned = False

    def __enter__(self) -> DataFrame:
        if self._df.storageLevel == StorageLevel.NONE:
            self._df.persist(StorageLevel.MEMORY_AND_DISK)
            self._owned = True
            if self._eager:
                try:
                    self._df.count()
                except BaseException:
                    unpin(self._df)
                    raise
        return self._df

    def __exit__(self, *exc) -> None:
        if self._owned:
            unpin(self._df)


def unpin(df: DataFrame) -> None:
    """Release a pinned frame once its last consumer finished. Only
    persisted frames hold releasable state tied to the frame; for
    ``local``/``reliable`` pins this is a safe no-op (their checkpoint
    blocks are owned by their RDDs and die with the session, or are
    cleaned by the checkpoint dir's lifecycle). Never raises: a release
    must not fail a query, and the session may already be stopped."""
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001
        pass
