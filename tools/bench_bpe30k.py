#!/usr/bin/env python
"""BPE training at a PRODUCTION merge count (round-7 verdict item 5).

``bpe_train`` is driver-green at 256 merges; a real tokenizer is
~30k. This tool runs the vocabulary-local trainer once at 30,000
merges over the sf0.1 documents corpus and records to SCALE_BENCH.json:

- wall time split into the ONE distributed corpus pass (word-frequency
  aggregation — the only row-scale work) and the driver-local
  incremental merge loop;
- peak driver RSS (the ``vocab_cap`` memory claim, measured);
- merges actually completed (the loop stops early if the corpus
  exhausts its pair inventory before 30k — honest for a small corpus).

The merge-table PREFIX property (the first k rounds of an n>k run
equal the k-round table bit-for-bit) is pinned by pytest
(tests/test_bpe.py), so this tool only measures.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from data_observability_installer_spark.operators.llm.text import (  # noqa: E402
    bpe_train,
)
from data_observability_installer_spark.session import get_spark  # noqa: E402


def _measure(spark, docs, n_merges: int, vocab_cap: int) -> dict:
    # the distributed pass alone (same agg the trainer runs), timed
    # separately so the artifact splits corpus cost from loop cost
    t0 = time.monotonic()
    n_words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .count()
        .count()
    )
    spark_pass_s = time.monotonic() - t0

    t0 = time.monotonic()
    merges = bpe_train(docs, n_merges=n_merges, vocab_cap=vocab_cap)
    merges_done = merges.count()
    total_s = time.monotonic() - t0
    peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return {
        "merges_requested": n_merges,
        "merges_done": int(merges_done),
        "vocab_cap": vocab_cap,
        "distinct_words": int(n_words),
        "spark_word_pass_s": round(spark_pass_s, 2),
        "train_total_s": round(total_s, 2),
        "peak_driver_rss_mb": round(peak_rss_mb, 1),
    }


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    vocab_cap = 1_000_000
    n_merges = 30_000
    spark = get_spark("bench-bpe30k", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    # 1) the sf0.1 documents corpus as-is. Its synthetic text draws
    # from a ~31-word vocabulary, so the pair inventory exhausts after
    # <100 merges — recorded honestly (merges_done << requested).
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    corpus_entry = _measure(spark, docs, n_merges, vocab_cap)
    corpus_entry["sf_dir"] = sf

    # 2) a rich-vocabulary corpus that genuinely SUSTAINS 30k merges:
    # 2M rows x 4 md5-derived words whose keys are BOUNDED moduli ->
    # ~36k distinct words with heavy shared hex substructure. Built
    # executor-side; the driver sees only the collected vocabulary —
    # the memory this row measures. vocab_cap is the wall-clock lever
    # as much as the memory one, measured the hard way: a per-id-unique
    # construction (~1M-word vocab) ran >12 CPU-min of driver loop
    # without finishing, and ~130k words ran >20 CPU-min — pure-Python
    # merge loops over hex-dense vocabularies pay ~(words containing
    # winner x word length) per round, and with a 16-char alphabet the
    # early winners hit most of the vocabulary. A production trainer
    # caps the training vocab (max-vocab truncation) for exactly this
    # reason; the measured row documents the operating envelope.
    rich = spark.range(2_000_000).selectExpr(
        "concat_ws(' ', "
        " substr(md5(CAST(pmod(id, 12000) AS STRING)), 1, 8 + CAST(pmod(id, 9) AS INT)),"
        " substr(md5(CAST(pmod(id * 7 + 3, 10000) AS STRING)), 1, 8 + CAST(pmod(id, 7) AS INT)),"
        " substr(md5(CAST(pmod(id, 8000) AS STRING)), 9, 16),"
        " substr(md5(CAST(pmod(id, 6000) AS STRING)), 17, 12)"
        ") AS text"
    )
    rich_entry = _measure(spark, rich, n_merges, vocab_cap=50_000)
    rich_entry["corpus"] = "synthetic rich-vocab (2M rows x 4 md5 words, ~36k vocab)"

    entry = {"sf01_documents": corpus_entry, "rich_vocab_30k": rich_entry}
    out = Path(__file__).resolve().parent.parent / "SCALE_BENCH.json"
    doc = json.loads(out.read_text()) if out.exists() else {}
    doc["bpe_local_30k"] = entry
    out.write_text(json.dumps(doc, indent=1) + "\n")
    print(json.dumps(entry))
    spark.stop()


if __name__ == "__main__":
    main()
