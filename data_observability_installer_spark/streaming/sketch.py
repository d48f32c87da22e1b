"""Streaming heavy hitters: sharded Misra–Gries with hard-capped state.

The batch operator (operators/sketch.py) nominates candidates with one
map-only pass and verifies them exactly with a second — a two-pass
shape a stream cannot take. This is the one-pass face: items are
hash-sharded (``xxhash64(w) % n_shards`` — each distinct item lives in
exactly ONE shard), and each shard's keyed state is its Misra–Gries
summary, trimmed to ``capacity`` entries with the same mergeable rule
as the batch pass. Total state is therefore <= n_shards * capacity
rows FOREVER, independent of stream length or item cardinality — the
property that lets the monitor run unbounded.

Why the candidate guarantee carries over: a global heavy hitter with
frequency f >= n / phi also has f >= n_shard / phi within its shard
(n_shard <= n), and Misra–Gries with capacity c retains every item
whose shard-local frequency exceeds n_shard / (c + 1) — so any
``capacity >= phi_denom`` preserves the full candidate set, exactly as
in the batch module's proof. Streaming emits Misra–Gries LOWER-BOUND
estimates (true count is within n_shard/(c+1) above the counter);
when exactness is needed, the emitted candidates feed the batch
operator's broadcast-verify pass over at-rest data.

Each micro-batch every updated shard re-emits its summary (update
mode) tagged with the shard's running item count, so a downstream
consumer thresholds candidates against the global total by summing
``shard_n`` over the latest emission per shard.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .aggstore import store_sink

OUTPUT_SCHEMA = "shard int, w string, est long, shard_n long"
STATE_SCHEMA = "items array<string>, cts array<long>, n long"


def _make_update(capacity: int):
    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        from ..operators.sketch import mg_summarize_partition

        if state.exists:
            items, cts, n = state.get
            summary = pd.Series(list(cts), index=list(items), dtype="int64")
        else:
            summary, n = None, 0
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                summary = mg_summarize_partition(
                    summary, pdf["w"].value_counts(), capacity
                )
        if summary is None:
            return
        state.update(
            (list(summary.index), [int(v) for v in summary.to_numpy()], int(n))
        )
        yield pd.DataFrame(
            {
                "shard": int(key[0]),
                "w": list(summary.index),
                "est": [int(v) for v in summary.to_numpy()],
                "shard_n": int(n),
            }
        )

    return update


def heavy_hitters_stream(
    items: DataFrame,
    item_col: str = "w",
    capacity: int = 4000,
    n_shards: int = 8,
) -> DataFrame:
    """Unbounded heavy-hitter monitor over an item stream. State is
    hard-capped at ``n_shards * capacity`` summary rows; any
    ``capacity >= phi_denom`` keeps every true phi-heavy hitter in the
    emitted candidate set (module docstring)."""
    src = (
        items.select(F.col(item_col).alias("w"))
        .filter(F.col("w").isNotNull())
        .withColumn(
            "shard", F.pmod(F.xxhash64("w"), F.lit(n_shards)).cast("int")
        )
    )
    return src.groupBy("shard").applyInPandasWithState(
        _make_update(capacity),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def cm_sketch_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    col: str = "w",
    width: int = 256,
    depth: int = 4,
    retain: int | None = None,
    **trigger,
):
    """CONTINUOUS Count-Min: every micro-batch reduces to its own d x w
    sketch (ONE aggregation, cells not rows), a store partial of
    :func:`streaming.aggstore.store_sink`. Because cm_merge is plain
    per-cell summation, the merged store equals the one-pass sketch of
    everything ingested (parity-pinned), so a monitoring job gets
    whole-history frequency estimates without re-scanning any data."""
    from ..operators.sketch import cm_merge, cm_sketch

    return store_sink(
        stream, store, checkpoint,
        lambda df, _: cm_sketch(df, col=col, width=width, depth=depth),
        lambda parts: cm_merge(*parts),
        retain, **trigger,
    )


def read_cm_store(spark, store: str) -> DataFrame:
    """Merge every stored per-batch sketch into the whole-history
    sketch: one metadata-sized groupBy over d*w*n_batches cells."""
    from ..operators.sketch import cm_merge

    return cm_merge(spark.read.parquet(store))


def hll_sketch_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    col: str = "w",
    m: int | None = None,
    retain: int | None = None,
    **trigger,
):
    """CONTINUOUS distinct counting: every micro-batch reduces to its
    own HLL register table (ONE aggregation, <= m rows), a store
    partial of :func:`streaming.aggstore.store_sink`. Registers merge
    by MAX — idempotent as well as associative/commutative — so unlike
    the CM sink's per-cell sums, a replayed or double-ingested batch
    cannot even in principle skew the merged count."""
    from ..operators.sketch import HLL_M, hll_merge, hll_sketch

    return store_sink(
        stream, store, checkpoint,
        lambda df, _: hll_sketch(df, col=col, m=m or HLL_M),
        lambda parts: hll_merge(*parts),
        retain, **trigger,
    )


def read_hll_store(spark, store: str) -> DataFrame:
    """Merge every stored per-batch register table into the
    whole-history one: a metadata-sized MAX over m*n_batches rows;
    feed the result to operators.sketch.hll_estimate."""
    from ..operators.sketch import hll_merge

    return hll_merge(spark.read.parquet(store))


def _fold_dsir(parts: list[DataFrame]) -> DataFrame:
    from ..operators.sketch import fold_keyed

    return fold_keyed(parts, ["bucket"], {"n_r": "sum", "n_t": "sum"})


def dsir_model_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    target_pred,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    retain: int | None = None,
    **trigger,
):
    """CONTINUOUS DSIR model: every micro-batch of documents reduces to
    its own (bucket, n_r, n_t) feature-count model (ONE aggregation,
    <= n_buckets rows), a store partial of
    :func:`streaming.aggstore.store_sink`. Counts merge by summation,
    so the merged store equals the one-pass model over everything
    ingested (parity-pinned) and operators.llm.curation.dsir_score
    serves importance weights against a model that tracks the corpus
    as it grows — the streaming face of
    train-once-broadcast-everywhere."""
    from ..operators.llm.curation import dsir_model

    return store_sink(
        stream, store, checkpoint,
        lambda df, _: dsir_model(df, target_pred, n_buckets, text_col, id_col),
        _fold_dsir, retain, **trigger,
    )


def read_dsir_model(spark, store: str) -> DataFrame:
    """Merge every stored per-batch model into the whole-history model:
    one metadata-sized summation over n_buckets*n_batches rows."""
    return _fold_dsir([spark.read.parquet(store)])


def qsketch_sink(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    col: str = "v",
    lo: int = 0,
    hi: int = (1 << 24) - 1,
    k: int = 64,
    log_u: int = 16,
    retain: int | None = None,
    key_col: str | None = None,
    **trigger,
):
    """CONTINUOUS quantiles: every micro-batch reduces to its own
    dyadic quantile sketch (<= (log_u+1)*(k-1) rows — ONE bounded
    aggregation, never the batch's values), a store partial of
    :func:`streaming.aggstore.store_sink`. Node residuals merge by
    summation and every part's counts sit at ancestors of their true
    leaves, so the merged store answers rank queries within the
    q-digest bound at n = total ingested — quantiles over an unbounded
    stream with bounded state, the face run_duration_sla percentiles
    need when the run log never fits a batch. ``key_col`` keeps one
    sketch per key — the continuous per-pipeline SLA percentile store,
    each key bounded independently."""
    from ..operators.sketch import qsketch, qsketch_merge

    return store_sink(
        stream, store, checkpoint,
        lambda df, _: qsketch(df, col, lo=lo, hi=hi, k=k, log_u=log_u, key_col=key_col),
        lambda parts: qsketch_merge(*parts),
        retain, **trigger,
    )


def read_qsketch_store(spark, store: str) -> DataFrame:
    """Merge every stored per-batch sketch into the whole-history
    sketch (node-residual sums — sketch-sized, never data-sized; per
    key for a store written with ``key_col=``); feed to
    qsketch_quantiles / qsketch_rethin."""
    from ..operators.sketch import qsketch_merge

    return qsketch_merge(spark.read.parquet(store))
