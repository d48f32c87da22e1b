"""Keyed percentiles as a frame: :func:`quantiles` returns one row per
key, ``(keys…, q0…qn)``, and :func:`join_keyed` hands such a frame back
to the rows it describes. The exact mode is bit-compatible with Spark's
``percentile()`` aggregate; ``approx=True`` is ``percentile_approx``.

``percentile(col, q)`` is a TypedImperativeAggregate: every partition
builds an OpenHashMap of value -> count, the maps merge into ONE
reducer's buffer per key, and eval sorts the whole map single-threaded.
Two costs follow: the per-row update path is interpreted (no whole-stage
codegen through an ObjectHashAggregate buffer), and the merged map —
every distinct value of the key's column — must fit on one task (guide
§5: per-task state is the thing that OOMs, and here it is O(distinct)).

The exact mode computes the identical result relationally instead
(guide §1.2 "the distributed algorithm first"), with no driver collect,
so the number of keys is not capped:

1. value counts ``(keys…, v, cnt)`` — whole-stage-codegen hash
   aggregation. Unkeyed, the ``groupBy(v)`` shuffle carries one
   map-side-combined row per distinct value. Keyed, ONE hash exchange
   on the keys feeds every later step, as percentile()'s one exchange
   does: the counts, the window and the pick all run inside the key's
   partition. That exchange carries the (key, value) rows themselves,
   the same bytes percentile()'s partial maps carry for continuous
   values; a caller whose rows are already partitioned by the keys
   (a join streamed from another keyed frame) pays no exchange at all.
2. one window per key adds the running count ``cum`` and the key's
   total ``n`` — Spark's own ``position = q * (n-1)``, ranks
   ``floor(position)+1`` / ``ceil(position)+1``, and the value at a
   rank is the first value whose running count reaches it.
3. one ``groupBy(keys)`` picks the two bracketing values per quantile
   and interpolates with Spark's
   ``(higher - pos) * v_lo + (pos - lower) * v_hi`` as Column
   arithmetic (IEEE doubles, evaluated by the JVM exactly as the
   aggregate does).

NULL values are skipped like the aggregate does, but a key whose values
are all NULL still gets its row (all quantiles NULL), and the unkeyed
frame is always one row. One difference from ``percentile()``: the
value counts group on the value, and grouping normalizes ``-0.0`` to
``0.0``, so a quantile that lands on a signed zero reads ``0.0``.
``tests/test_quantiles.py`` compares raw double bits against the
aggregate over every numeric column of the test tables and adversarial
synthetic groups.

Scale note: step 2 sorts one key's distinct values on one task — the
same O(distinct) hot spot percentile() has, minus the per-row
interpreted update and minus the single-reducer map merge. Where even
the distinct set is huge, ``approx=True`` keeps a mergeable
O(accuracy) GK sketch per key instead (rank error <= 1/accuracy).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quantiles(
    df: DataFrame,
    col: str,
    qs: Sequence[float],
    keys: Sequence[str] = (),
    approx: bool = False,
    accuracy: int = 10000,
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(keys…, carry…, q0…qn)``: the ``qs`` percentiles of
    ``CAST(col AS DOUBLE)`` per key (one row when ``keys`` is empty).
    Exact mode equals ``percentile()``; ``approx=True`` is
    ``percentile_approx(…, accuracy)``. ``carry`` names columns that
    are constant per key and ride along (the MAD's median next to the
    MAD): grouping on such a double instead would NaN/zero-normalize
    it, a new partitioning expression and so one more exchange."""
    keys = list(keys)
    v = F.col(col).cast("double")
    ride = [F.max(c).alias(c) for c in carry]
    if approx:
        return df.groupBy(*keys).agg(
            *ride,
            *[F.percentile_approx(v, q, accuracy).alias(f"q{i}") for i, q in enumerate(qs)],
        )
    vals = df.select(*keys, *carry, v.alias("v"))
    if keys:
        # the one exchange; Spark drops it when the rows already arrive
        # partitioned by the keys
        vals = vals.repartition(*keys)
    # count("v") skips NULL: a NULL value keeps its key's row alive with
    # cnt 0, so an all-NULL key reaches the final groupBy as NULLs
    cnts = vals.groupBy(*keys, "v").agg(F.count("v").alias("cnt"), *ride)
    ranked = cnts.select(
        *keys,
        *carry,
        "v",
        "cnt",
        F.sum("cnt").over(Window.partitionBy(*keys).orderBy("v")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(*keys)).alias("n"),
    )

    def pos(q: float) -> Column:
        return F.lit(float(q)) * (F.col("n") - 1).cast("double")

    def at(rank: Column) -> Column:
        r = rank + 1
        hit = (F.col("cum") >= r) & ((F.col("cum") - F.col("cnt")) < r)
        return F.max(F.when(hit, F.col("v")))

    picked = ranked.groupBy(*keys).agg(
        *ride,
        F.max("n").alias("n"),
        *[
            a
            for i, q in enumerate(qs)
            for a in (
                at(F.floor(pos(q))).alias(f"lo{i}"),
                at(F.ceil(pos(q))).alias(f"hi{i}"),
            )
        ],
    )

    def interpolate(i: int, q: float) -> Column:
        p, lo, hi = pos(q), F.floor(pos(q)), F.ceil(pos(q))
        v_lo, v_hi = F.col(f"lo{i}"), F.col(f"hi{i}")
        return F.when((hi == lo) | (v_hi == v_lo), v_lo).otherwise(
            (hi - p) * v_lo + (p - lo) * v_hi
        )

    return picked.select(
        *keys, *carry, *[interpolate(i, q).alias(f"q{i}") for i, q in enumerate(qs)]
    )


def join_keyed(df: DataFrame, small: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Hand a per-key frame (quantiles, fences, min/max) back to the
    rows it describes: an equi-join on ``keys`` (rows with a NULL key
    drop out) or, unkeyed, a broadcast cross join of the one-row frame.
    The keyed join carries no hint: AQE broadcasts the smaller side,
    and when that is the rows, the per-key frame streams through with
    its key partitioning intact, so a following ``groupBy(keys)`` — a
    second quantile frame, a per-key report — needs no exchange."""
    if keys:
        return df.join(small, list(keys))
    return df.crossJoin(F.broadcast(small))
