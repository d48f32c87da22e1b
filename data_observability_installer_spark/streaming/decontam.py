"""Continuous benchmark decontamination over a document-ingest stream.

Contamination checking is the one curation screen whose production
shape is almost purely streaming: the evaluation/benchmark set changes
rarely (it is FROZEN per deployment), while the training corpus arrives
forever. That makes the streaming face stateless per micro-batch — the
benchmark's distinct shingles and their 8-byte xxhash64 fingerprints
are computed ONCE at sink start, pinned, and every batch runs the same
nominate (broadcast-hash semi-join, zero corpus shuffle) + verify
(exact string join of the nominated pairs only) plan as the batch
operator (:func:`operators.llm.decontam.decontaminate_fingerprint`).

Verdict rows are the micro-batch partials of
:func:`streaming.aggstore.store_sink`; each document is verdicted
exactly once (in its arrival batch), so the store's fold is a plain
union with an id dedup that only ever removes replay artifacts. Parity with the batch
operator over everything ingested is pytest-pinned
(tests/test_streaming.py).

State-size story at 100 TB: per-batch cost is batch_size x shingle
count against a broadcast fingerprint set sized by the EVAL SUITE (MBs,
not the corpus) — no accumulated state at all, the cheapest scaling
shape in the streaming family.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from ..functions.pin import pin
from .aggstore import store_sink


def _fold_verdicts(parts: list[DataFrame], id_col: str) -> DataFrame:
    return reduce(DataFrame.unionByName, parts).dropDuplicates([id_col])


def decontam_sink(
    stream: DataFrame,
    bench: DataFrame,
    verdict_store: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
    retain: int | None = None,
    **trigger,
):
    """Start the continuous contamination checker (see module
    docstring). ``bench`` is the frozen eval set — its shingle frames
    are derived once here and reused every micro-batch.

    Returns the started StreamingQuery."""
    from ..operators.llm.decontam import fingerprint_verdicts
    from ..operators.llm.dedup import exploded_shingles
    from pyspark.sql import functions as F

    bench_sh = pin(
        exploded_shingles(bench, text_col, id_col, n).select("sh").distinct()
    )
    fp = pin(bench_sh.select(F.xxhash64("sh").alias("h")).distinct())

    return store_sink(
        stream, verdict_store, checkpoint,
        lambda df, _: fingerprint_verdicts(
            df, bench_sh, fp,
            text_col=text_col, id_col=id_col, n=n, min_hits=min_hits,
        ),
        lambda parts: _fold_verdicts(parts, id_col),
        retain, **trigger,
    )


def decontam_verdicts(
    spark, verdict_store: str, id_col: str = "doc_id"
) -> DataFrame:
    """Cumulative read face: every ingested document's verdict, exactly
    once. The dedup removes only replay artifacts (a batch replayed
    after a retention rollup absorbed its partition re-creates
    identical rows); legitimate rows are unique per ``id_col`` by
    construction — each document is verdicted in its arrival batch."""
    return _fold_verdicts(
        [spark.read.parquet(verdict_store)
         .select(id_col, "hit_shingles", "contaminated")],
        id_col,
    )
