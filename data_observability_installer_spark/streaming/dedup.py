"""Streaming deduplication for continuous document ingest.

The batch dedup family (operators/llm/dedup.py) assumes a full-corpus
pass; a training-data ingest pipeline instead sees an unbounded stream
and must drop re-crawls/re-posts as they arrive. Two streaming faces:

- **exact** — ``dropDuplicatesWithinWatermark`` on the normalized
  content fingerprint: the first arrival within the watermark horizon
  survives, later copies are dropped, and state is bounded by
  (distinct fingerprints in horizon) — NOT stream length, which is
  what makes it runnable forever. Re-emergence after the horizon is
  readmitted by design (a re-crawl a month later is a new observation;
  cross-horizon dedup belongs to the batch compaction pass).
- **curation** — the keep/drop filter chain is stateless Column
  arithmetic, so the batch operator applies to a stream verbatim;
  exposed here so the ingest pipeline composes both in one query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.llm.curation import curation_filter
from ..operators.llm.text import fingerprint_col
from ..sources.sinks import start_batch_query
from .aggstore import store_sink


def dedup_exact_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins exact dedup over a document stream. Emits the
    surviving rows (all input columns plus ``fingerprint``)."""
    return (
        stream.withColumn("fingerprint", fingerprint_col(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def curate_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **filter_kwargs,
) -> DataFrame:
    """Stateless keep/drop decisions on a stream — the batch
    curation_filter applied verbatim (no state, no watermark needed)."""
    return curation_filter(stream, text_col=text_col, id_col=id_col, **filter_kwargs)


def lang_mix_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Windowed corpus-composition monitor over a document stream: per
    (event-time window, predicted language) doc counts and mean
    quality in integer bp — the streaming face of the
    ``lang_mix_documents`` report, watching an INGEST for language/
    quality drift as it happens. Language argmax and the quality
    heuristics are stateless Column arithmetic, so the only state is
    the windowed aggregate (languages x open windows)."""
    from pyspark.sql import functions as F

    from ..operators.llm.text import language_pred_col, quality_cols

    qc = quality_cols(text_col)
    tagged = stream.select(
        F.col(ts_col),
        language_pred_col(text_col).alias("pred_lang"),
        (qc["quality"] * 10000).cast("long").alias("qbp"),
    )
    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_ct"),
            F.expr("CAST(sum(qbp) DIV count(1) AS BIGINT)").alias("avg_quality_bp"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "pred_lang",
            "doc_ct",
            "avg_quality_bp",
        )
    )


def pq_near_dup_sink(
    stream: DataFrame,
    code_store: str,
    pairs_store: str,
    checkpoint: str,
    min_band_matches: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    **trigger,
):
    """Streaming near-dup over an embedding ingest, composed from three
    round-9 pieces: each micro-batch PQ-encodes, band-joins against the
    txtable-backed code store (per-batch cost = batch x store bands,
    never a self-join), exact-verifies nominees, writes the pairs under
    ``pairs_store/batch_id=N`` (overwrite => replay-idempotent), and
    appends its codes exactly-once (batch_id-stamped commit). The
    cumulative pair set equals the full-corpus pq_near_dups over
    everything ingested (parity-tested in test_streaming.py).

    Returns the started StreamingQuery."""
    from ..operators.llm.similarity import pq_near_dups_incremental

    def commit(df: DataFrame, batch_id: int) -> None:
        pairs = pq_near_dups_incremental(
            df.sparkSession,
            code_store,
            df,
            min_band_matches=min_band_matches,
            threshold=threshold,
            id_col=id_col,
            batch_id=batch_id,
        )
        pairs.coalesce(1).write.mode("overwrite").parquet(
            f"{pairs_store}/batch_id={batch_id}"
        )

    return start_batch_query(stream, commit, checkpoint, **trigger)


def semdedup_sink(
    stream: DataFrame,
    store: str,
    witness_store: str,
    checkpoint: str,
    threshold: float = 0.9,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    cents: dict[int, list[int]] | None = None,
    max_cell: int | None = None,
    retain: int | None = None,
    **trigger,
):
    """Streaming SemDeDup over an embedding ingest: each micro-batch is
    cell-assigned against FROZEN centroids (pass trained ``cents`` in
    production — train once, serve many), joined within-cell against
    the txtable-backed cell store (per-batch cost = batch x store
    same-cell rows, never the full-corpus sum(cell^2) the batch
    operator re-pays per run), its witness rows written as the batch's
    partial of :func:`streaming.aggstore.store_sink`, and its vectors
    appended exactly-once (batch_id-stamped commit).

    Verdicts fold by min(dup_of) per vid
    (:func:`operators.llm.similarity.fold_witnesses` — associative,
    commutative and idempotent), so the cumulative result
    (:func:`operators.llm.similarity.semdedup_verdicts`) is
    row-identical to full-corpus semdedup over everything ingested,
    for any batch split, arrival order or retention rollup
    (parity-tested in test_streaming.py). ``max_cell`` bounds
    per-batch cost by skipping cumulative-over-cap cells — parity-safe
    when semdedup_verdicts reads with the SAME cap (counts only grow;
    see semdedup_incremental).

    Returns the started StreamingQuery."""
    from ..operators.llm.similarity import fold_witnesses, semdedup_incremental

    return store_sink(
        stream, witness_store, checkpoint,
        lambda df, batch_id: semdedup_incremental(
            df.sparkSession,
            store,
            df,
            threshold=threshold,
            n_clusters=n_clusters,
            id_col=id_col,
            cents=cents,
            batch_id=batch_id,
            max_cell=max_cell,
        ),
        fold_witnesses, retain, **trigger,
    )
