"""The MICRO-BATCH STORE seam every continuous store sink writes
through, and the generic mergeable aggregate store built on it.

Store protocol (:func:`store_sink`): each micro-batch reduces to a
small partial — the batch's share of the store's state — written under
``store/run_id=<batch_id:08d>`` with overwrite. foreachBatch is
at-least-once, and a replayed micro-batch can only ever be the LAST
uncommitted batch: its partition is the store's newest, never yet
absorbed by retention, so the overwrite replaces identical rows and
nothing double-counts. The read face folds every partial with the
store's merge (``fold``); the folds are associative and commutative,
so the result is the one-shot answer over everything ingested, for
any batch split. Stream state is ZERO; durability lives in the store.

Retention: ``retain=N`` bounds the store to N run partitions plus one
rollup. After each write, the oldest surplus partitions fold (through
the same ``fold``) into ``run_id=00000000_rollup_<batch_id:08d>`` —
an id that sorts below every run id, so latest-run selection never
sees a rollup as newest — via the crash-safe sidecar protocol of
:func:`operators.profile.retain_runs`. The folded store reads
row-identical to the unbounded one. Without ``retain``, the store
grows one partition per micro-batch (``vacuum_profile_store`` bounds a
profile store externally).

The aggregate store (:func:`agg_sink`) is the streaming pre-aggregation
cube the serving-side monitors read: every screen in the
continuous-monitoring pane consumes a small keyed aggregate (daily
counts per event type, per-run min/max/status counters), not raw
events. Each partial is the batch's keyed aggregate and the fold is
each column's declared merge op (sum | min | max). Store size is
O(distinct keys), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sketch import fold_keyed
from ..sources.sinks import start_batch_query

_FOLDS = ("sum", "min", "max")


def store_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    partial,
    fold,
    retain: int | None = None,
    **trigger,
):
    """Start a continuous store sink (see module docstring):
    ``partial(df, batch_id) -> DataFrame`` is the micro-batch's state,
    ``fold(list[DataFrame]) -> DataFrame`` the store's merge, used by
    retention rollups and by the store's read face alike.

    Returns the started StreamingQuery."""
    from ..operators.profile import retain_runs, write_profile

    def commit(df: DataFrame, batch_id: int) -> None:
        write_profile(partial(df, batch_id), store, f"{batch_id:08d}")
        if retain is not None:
            retain_runs(
                df.sparkSession, store, retain,
                f"00000000_rollup_{batch_id:08d}", fold,
            )

    return start_batch_query(stream, commit, checkpoint, **trigger)


def agg_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    keys: list[str],
    aggs: dict,
    folds: dict[str, str],
    retain: int | None = None,
    **trigger,
):
    """Start the continuous aggregate store (see module docstring).

    ``keys``: grouping columns of the cube. ``aggs``: output column ->
    aggregate Column for the per-batch partial (e.g. ``{"v":
    F.count(F.lit(1)).cast("long")}``). ``folds``: output column ->
    merge op ('sum' | 'min' | 'max') used to combine partials at read
    time and in retention rollups — the column's aggregate must be
    mergeable under it (count/sum -> sum, min -> min, max -> max).

    Returns the started StreamingQuery."""
    bad = {c: op for c, op in folds.items() if op not in _FOLDS}
    if bad or set(folds) != set(aggs):
        raise ValueError(
            f"folds must map every agg column to one of {_FOLDS}; got "
            f"{folds} for aggs {sorted(aggs)}"
        )
    return store_sink(
        stream, store, checkpoint,
        lambda df, _: df.groupBy(*keys).agg(
            *[a.alias(c) for c, a in aggs.items()]
        ),
        lambda parts: fold_keyed(parts, keys, folds),
        retain, **trigger,
    )


def read_agg_store(
    spark, store: str, keys: list[str], folds: dict[str, str]
) -> DataFrame:
    """Fold the stored partials into the cumulative aggregate —
    identical to the one-shot groupBy over everything ingested (the
    fold ops are associative + commutative). Pass the SAME ``keys`` /
    ``folds`` the sink used."""
    return fold_keyed([spark.read.parquet(store)], keys, folds)
