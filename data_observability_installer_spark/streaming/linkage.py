"""Continuous identity resolution over a record-ingest stream.

Entity matching is a continuous-ingest workload (new customer/vendor
records arrive forever; "is this an existing entity?" must not re-pay
the full blocked self-join per refresh — round-11 verdict, Next round
#5). This sink is the streaming face of
:func:`operators.linkage.entity_match_incremental`: each micro-batch
prefix-block-joins against the txtable-backed reference store (per-
batch cost = batch x same-block store rows, with ``max_block`` as the
hot-block bound), writes its scored pairs as the batch's partial of
:func:`streaming.aggstore.store_sink` (folded by
:func:`operators.linkage.fold_match_pairs`), and appends its
normalized rows exactly-once (batch_id-stamped commit) — the same
store/witness split as the PQ near-dup and SemDeDup sinks.

Read the cumulative result with
:func:`operators.linkage.entity_match_pairs`; it is row-identical to
batch ``entity_match`` over everything ingested (parity-tested in
test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .aggstore import store_sink


def entity_match_sink(
    stream: DataFrame,
    store: str,
    pairs_store: str,
    checkpoint: str,
    id_col: str,
    name_col: str,
    block_prefix: int = 16,
    cat_cols: list[str] | None = None,
    num_cols: list[tuple[str, int]] | None = None,
    name_weight: int = 4,
    cat_weight: int = 2,
    num_weight: int = 1,
    threshold_bp: int = 6000,
    max_block: int | None = None,
    retain: int | None = None,
    **trigger,
):
    """Start the continuous matcher (see module docstring).

    Returns the started StreamingQuery."""
    from ..operators.linkage import entity_match_incremental, fold_match_pairs

    return store_sink(
        stream, pairs_store, checkpoint,
        lambda df, batch_id: entity_match_incremental(
            df.sparkSession,
            store,
            df,
            id_col=id_col,
            name_col=name_col,
            block_prefix=block_prefix,
            cat_cols=cat_cols,
            num_cols=num_cols,
            name_weight=name_weight,
            cat_weight=cat_weight,
            num_weight=num_weight,
            threshold_bp=threshold_bp,
            max_block=max_block,
            batch_id=batch_id,
        ),
        fold_match_pairs, retain, **trigger,
    )
