"""Benchmark decontamination for training corpora.

Flags training documents that share word n-grams with an evaluation /
benchmark set — the standard pre-training hygiene step (the GPT-3 and
PaLM reports both decontaminate on 8-13-gram overlap; we parameterize
``n`` and the hit threshold).

Scale story: the benchmark set is always tiny relative to the corpus
(a few MB of eval text vs 100 TB of training data), so its distinct
shingle set is **broadcast** — the corpus-side shingling stays a pure
map stage and the contamination check is a broadcast-hash semi-join
with NO shuffle of corpus data. A per-doc count then aggregates
map-side. This is the one dedup-family operator where the optimal 100
TB plan has zero corpus shuffles.

The oracle twin replicates the same truncated-slice shingle semantics
(`dedup._shingles_sql`) in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...functions.pin import pin, pinned
from .dedup import (
    _shingles_sql,
    band_keys,
    band_keys_sql,
    exploded_shingles,
    jaccard_score,
    minhash_sig_sql,
    minhash_signatures,
    shingle_overlap,
)


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, hit_shingles, contaminated): distinct n-grams each
    training doc shares with ANY benchmark doc; ``contaminated`` when
    ``hit_shingles >= min_hits``.

    Every doc appears in the output (hit_shingles = 0 when clean) so
    the result can drive a keep/drop filter without an outer join.
    """
    doc_sh = exploded_shingles(docs, text_col, id_col, n)
    bench_sh = exploded_shingles(bench, text_col, id_col, n).select("sh").distinct()
    # broadcast the (tiny) benchmark shingle set: corpus never shuffles
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("hit_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("hit_shingles", F.lit(0)).alias("hit_shingles"),
            (F.coalesce("hit_shingles", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def decontaminate_sql(
    docs_sql: str,
    bench_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> str:
    """DuckDB twin. ``docs_sql`` / ``bench_sql`` are table expressions
    (a table name or a parenthesized subquery)."""
    sh = _shingles_sql(text_col, n)
    return f"""
    WITH d AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({sh}) AS sh FROM {docs_sql}),
    b AS MATERIALIZED (
      SELECT DISTINCT unnest({sh}) AS sh FROM {bench_sql}),
    hits AS (
      SELECT doc, count(*) AS hit_shingles FROM d JOIN b USING (sh) GROUP BY doc)
    SELECT t.{id_col}, coalesce(h.hit_shingles, 0) AS hit_shingles,
           coalesce(h.hit_shingles, 0) >= {min_hits} AS contaminated
    FROM {docs_sql} t LEFT JOIN hits h ON h.doc = t.{id_col}
    """


def decontaminate_fuzzy(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate decontamination: training docs whose shingle
    Jaccard against ANY benchmark doc clears ``threshold`` — catches
    lightly-edited eval leakage that exact n-gram overlap misses.

    MinHash signatures on both sides, banded candidate generation with
    the BENCHMARK bands broadcast (the corpus side stays map-local for
    candidate generation; the only corpus shuffles are the signature
    groupBy and the candidate-scoped exact verify), then exact Jaccard
    verification where the benchmark shingle set is again broadcast.
    Returns (doc, bench_doc, jaccard) pairs over the threshold.

    Recall is bounded by the banding s-curve P(candidate) =
    1-(1-j^r)^bands with r = num_hashes/bands; a leak the bands never
    collide on cannot be verified. The (32, 16) default (r=2) gives
    ~0.78 at j=0.3, ~0.94 at 0.4, ~0.99 at 0.5 — for a contamination
    SCREEN, size bands so the curve is steep BELOW your threshold, and
    treat anything below ~0.25 as out of scope rather than silently
    half-covered.

    The exact verify stays on the Spark kernel (``shingle_overlap``),
    not ``dedup.driver_overlap``: the two sides are different shingle
    frames, and the benchmark side is broadcast.
    """
    rows_per_band = num_hashes // bands
    # each side shingles ONCE: the persisted shingle frame feeds its
    # signatures and the exact verify; the result-sized pairs are pinned
    # inside the scopes and both sides released on exit
    t_sh = exploded_shingles(docs, text_col, id_col, n)
    b_sh = exploded_shingles(bench, text_col, id_col, n)
    with pinned(t_sh) as t, pinned(b_sh) as b:
        t_bands = band_keys(minhash_signatures(t, num_hashes), rows_per_band, bands)
        b_bands = band_keys(
            minhash_signatures(b, num_hashes), rows_per_band, bands
        ).withColumnRenamed("doc", "bench_doc")
        # candidate pairs are result-sized and feed the doc-side distinct
        # and the verify semi-join — pin them so the signature+banding
        # pipeline runs once, not once per consumer
        cand = pin(
            t_bands.join(F.broadcast(b_bands), ["band", "key"])
            .select("doc", "bench_doc")
            .distinct()
        )
        t_shc = t.join(cand.select("doc").distinct(), "doc", "semi")
        out = (
            shingle_overlap(t_shc, F.broadcast(b), None, "doc", "bench_doc", cand=cand)
            .select(F.col("doc").alias(id_col), "bench_doc", jaccard_score().alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        return pin(out)


def decontaminate_fuzzy_sql(
    train_sql: str,
    bench_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`decontaminate_fuzzy` (same md5-derived
    signatures, same banding, same exact verify)."""
    rows_per_band = num_hashes // bands
    sig_cols = minhash_sig_sql(num_hashes)
    return f"""
    WITH t_sh AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh
      FROM {train_sql}),
    b_sh AS MATERIALIZED (
      SELECT {id_col} AS bench_doc, unnest({_shingles_sql(text_col, n)}) AS sh
      FROM {bench_sql}),
    t_sig AS MATERIALIZED (SELECT doc, {sig_cols} FROM t_sh GROUP BY doc),
    b_sig AS MATERIALIZED (
      SELECT bench_doc AS doc, {sig_cols} FROM b_sh GROUP BY bench_doc),
    t_bk AS MATERIALIZED ({band_keys_sql("t_sig", rows_per_band, bands)}),
    b_bk AS MATERIALIZED ({band_keys_sql("b_sig", rows_per_band, bands)}),
    cand AS MATERIALIZED (
      SELECT DISTINCT t.doc, b.doc AS bench_doc
      FROM t_bk t JOIN b_bk b ON t.band = b.band AND t.key = b.key),
    t_sizes AS (
      SELECT doc, count(*) AS sz_t FROM t_sh
      WHERE doc IN (SELECT doc FROM cand) GROUP BY doc),
    b_sizes AS (SELECT bench_doc, count(*) AS sz_b FROM b_sh GROUP BY bench_doc),
    inter AS (
      SELECT t.doc, b.bench_doc, count(*) AS inter
      FROM t_sh t JOIN b_sh b ON t.sh = b.sh
      WHERE t.doc IN (SELECT doc FROM cand)
      GROUP BY t.doc, b.bench_doc),
    verified AS (
      SELECT i.doc, i.bench_doc,
             round(i.inter * 1.0 / (ts.sz_t + bs.sz_b - i.inter), 4) AS jaccard
      FROM inter i
      JOIN cand c ON c.doc = i.doc AND c.bench_doc = i.bench_doc
      JOIN t_sizes ts ON ts.doc = i.doc
      JOIN b_sizes bs ON bs.bench_doc = i.bench_doc)
    SELECT doc AS {id_col}, bench_doc, jaccard
    FROM verified WHERE jaccard >= {threshold}
    """


def decontaminate_fingerprint(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """:func:`decontaminate` for benchmark sets too large to broadcast
    as strings — same output, different physical plan.

    Pass 1 (nominate, map-side): the benchmark shingles broadcast as
    DISTINCT 8-byte xxhash64 fingerprints (~10x smaller than the
    string set — a multi-GB eval suite fits in executor memory), and
    the corpus shingles semi-join on the hash with NO corpus shuffle.
    Pass 2 (verify, exact): only the nominated (doc, shingle) pairs —
    a tiny fraction of the corpus — shuffle-join against the benchmark
    STRING shingles, so a 2^-64-probability hash collision can only
    ever ADD a candidate that exact verification then rejects; it can
    never flag a clean doc. Nomination is a superset of the true hits
    (same hash on both sides), so the final counts equal
    :func:`decontaminate` exactly — the twin oracle is shared.
    """
    bench_sh = exploded_shingles(bench, text_col, id_col, n).select("sh").distinct()
    fp = bench_sh.select(F.xxhash64("sh").alias("h")).distinct()
    return fingerprint_verdicts(
        docs, bench_sh, fp, text_col=text_col, id_col=id_col, n=n,
        min_hits=min_hits,
    )


def fingerprint_verdicts(
    docs: DataFrame,
    bench_sh: DataFrame,
    fp: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """The nominate+verify core of :func:`decontaminate_fingerprint`
    against PRECOMPUTED benchmark frames (``bench_sh``: distinct string
    shingles, ``fp``: their distinct xxhash64 fingerprints). Split out
    so the streaming face (streaming/decontam.py) shingles the frozen
    eval set ONCE and re-joins every micro-batch against the pinned
    frames instead of re-exploding the benchmark per trigger."""
    doc_sh = exploded_shingles(docs, text_col, id_col, n)
    cand = doc_sh.withColumn("h", F.xxhash64("sh")).join(
        F.broadcast(fp), "h", "left_semi"
    )
    hits = (
        cand.join(bench_sh, "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("hit_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("hit_shingles", F.lit(0)).alias("hit_shingles"),
            (F.coalesce("hit_shingles", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )
