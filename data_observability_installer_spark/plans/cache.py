"""Bounded, lifecycle-aware DataFrame cache for shared intermediates.

Several registry queries share one expensive materialization (the
column profile, the 3-gram shingle index, the lineage closure). A bare
module dict would pin those frames in executor memory for the life of
the process — fine in a one-shot harness, a leak in a long-lived
service. This cache bounds entries per key-space (LRU eviction with
``unpersist``) and exposes ``clear()`` so a service can drop everything
at session teardown (``registry.clear_caches()``). Entries are released
through the materialization seam (``functions.pin.unpin``).
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..functions.pin import pinned, unpin


class DFCache:
    def __init__(self, capacity: int = 8):
        self._entries: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._capacity = capacity
        # hit/miss counters: consumers that are SUPPOSED to share one
        # materialization (jaccard/minhash/groups/dup-spans over the
        # shingle index) can assert the sharing actually happens — a
        # silent rebuild is a pure perf bug that no correctness test
        # would ever catch.
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
        if key in self._entries:
            self.hits += 1
            self._entries.move_to_end(key)
            return self._entries[key]
        self.misses += 1
        df = build()
        self._entries[key] = df
        while len(self._entries) > self._capacity:
            _, old = self._entries.popitem(last=False)
            unpin(old)
        return df

    def clear(self) -> None:
        while self._entries:
            _, old = self._entries.popitem(last=False)
            unpin(old)

    def __len__(self) -> int:
        return len(self._entries)


def pinned_entry(df: DataFrame) -> DataFrame:
    """Persist ``df`` as a cache entry through the materialization seam:
    a ``pinned`` scope that stays open while the entry lives and ends
    with the cache's eviction or ``clear()`` (``unpin``)."""
    return pinned(df).__enter__()
