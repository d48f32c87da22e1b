"""Deduplication operators for training-data pipelines.

MinHash is Broder 1997 ("On the resemblance and containment of
documents"); SimHash is Charikar 2002 ("Similarity estimation
techniques from rounding algorithms"); the dedup-before-training
motivation is Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better").

Four families, each with the partition/shuffle story spelled out:

- **exact** — hash-groupBy on the content fingerprint. One shuffle on
  the hash; survivor = min doc_id (deterministic).
- **n-gram Jaccard** — inverted-index join: explode distinct shingles,
  drop stop-shingles above a document-frequency cap (the skew guard —
  a shingle appearing in 10% of 100 TB would otherwise create one
  mega-partition), self-join on shingle, count shared shingles per
  pair, compute Jaccard from set sizes. Cost is Σ df(shingle)² AFTER
  the cap, not n².
- **MinHash + LSH banding** — per-document signature of ``num_hashes``
  minima from ONE md5 per shingle: its first 15 hex chars are a 60-bit
  integer, reduced mod p = 2^31 - 1 to ``h0``, and hash i is the affine
  rehash (a_i * h0 + b_i) mod p with fixed seeded coefficients — a MIN
  over BIGINTs, computable bit-for-bit in any engine with md5 (the
  correctness oracle runs it in DuckDB). Signatures band into ``bands``
  groups; same-band collisions are candidates; candidates verify with
  exact Jaccard. Only bucket collisions shuffle — the O(n²) never
  materializes.
- **SimHash** — 16-bit vote vector over xxhash64(word) bits
  (JVM-native hash; no SQL twin, driver records a rows-only check).
  Near-dup candidates share a bucket.

The exact-overlap step the Jaccard and MinHash screens share runs on
the driver while it is metadata-sized (:func:`driver_overlap`): one
capped collect of the index (or of the candidates and their docs'
shingles), a local count, and the overlap rows back as a
``LocalTableScan``. Above ``DRIVER_ROWS`` the Spark self-join runs.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable
from contextlib import ExitStack, nullcontext
from itertools import combinations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ...functions import driver
from ...functions.driver import capped_columns, capped_table, local_frame
from ...functions.pin import pin, pinned

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: one row per distinct content, the kept id,
    and how many rows it absorbed."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_ct"))
    )


def dedup_exact_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return (
        f"SELECT md5({text_col}) AS content_hash, min({id_col}) AS keep_id, "
        f"count(*) AS dup_ct FROM {table} GROUP BY md5({text_col})"
    )


# ---------------------------------------------------------------------------
# shingling and the exact-overlap kernel (shared by the near-dup family)
# ---------------------------------------------------------------------------


def _words(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def _shingles_sql(text_col: str, n: int, distinct: bool = True) -> str:
    words = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    wrap = "list_distinct" if distinct else ""
    if n == 1:
        return f"{wrap}({words})" if distinct else words
    return (
        f"{wrap}([array_to_string(({words})[i + 1 : i + {n}], ' ') "
        f"FOR i IN range(0, greatest(len({words}) - {n}, 0) + 1)])"
    )


def exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(doc, sh) — one row per distinct word n-gram per document
    (``distinct=False`` keeps every occurrence, for frequency-weighted
    consumers like the repetition screen and BM25).

    Shingling goes through ``ml.feature.NGram`` (a compiled Scala
    sliding-window UDF) instead of a SQL higher-order ``transform``
    lambda: HOF lambdas are interpreted per element — measured 4x
    slower on the same corpus — while NGram stays JVM-compiled and,
    unlike a posexplode+lead window formulation, needs NO shuffle, so
    shingling remains a pure map stage at any scale. Documents shorter
    than ``n`` words contribute their whole text as one shingle
    (matching the SQL oracle's truncated-slice semantics), and NULL text
    contributes none (NGram throws on a NULL array, so those rows are
    dropped before it).
    """
    base = df.select(F.col(id_col).alias("doc"), _words(text_col).alias("words"))
    dedupe = F.array_distinct if distinct else (lambda c: c)
    if n == 1:
        return base.select("doc", F.explode(dedupe(F.col("words"))).alias("sh"))
    from pyspark.ml.feature import NGram

    with_ngrams = NGram(n=n, inputCol="words", outputCol="ngrams").transform(
        base.filter(F.col("words").isNotNull())
    )
    shingles = F.when(
        F.size("words") >= n, F.col("ngrams")
    ).otherwise(F.array(F.concat_ws(" ", F.col("words"))))
    return with_ngrams.select("doc", F.explode(dedupe(shingles)).alias("sh"))


def capped_index(sh: DataFrame, max_df: int) -> DataFrame:
    """The df-capped inverted index: ``sh`` (doc, sh) minus every
    shingle found in more than ``max_df`` documents. The skew guard: such
    a shingle can't witness a high-Jaccard pair anyway at corpus scale,
    but it CAN melt a self-join."""
    keep = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_ct")).filter(F.col("df_ct") <= max_df)
    return sh.join(keep.select("sh"), "sh")


def _ordered_pair() -> Column:
    """The symmetric screens' pair condition over the two overlap sides
    ``x``/``y``: each unordered pair once, lower id first."""
    return F.col("x.doc") < F.col("y.doc")


def shingle_overlap(
    x: DataFrame,
    y: DataFrame,
    pair: Column | None,
    a: str = "doc_a",
    b: str = "doc_b",
    cand: DataFrame | None = None,
) -> DataFrame:
    """The exact-overlap kernel every shingle-set score is built on:
    (a, b, inter, sz_a, sz_b) for each pair of an ``x`` doc and a ``y``
    doc that share at least one shingle, where ``inter`` is the shared
    shingle count and ``sz_*`` each doc's set size. ``x``/``y`` are
    (doc, sh) frames (pass the same frame twice for a self-join) and
    ``pair`` an extra join condition over ``x.doc``/``y.doc``;
    ``cand`` (columns a, b) semi-joins the pairs down to candidates
    before the size joins. The self-join on shingle is the inverted-
    index join: cost is Σ df(shingle)², never n². While that is
    metadata-sized, :func:`driver_overlap` counts the same rows on the
    driver."""
    sizes_x = x.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    sizes_y = sizes_x if y is x else y.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    on = F.col("x.sh") == F.col("y.sh")
    inter = (
        x.alias("x")
        .join(y.alias("y"), on if pair is None else on & pair)
        .groupBy(F.col("x.doc").alias(a), F.col("y.doc").alias(b))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if cand is not None:
        inter = inter.join(cand, [a, b], "semi")
    return inter.join(
        sizes_x.withColumnRenamed("doc", a).withColumnRenamed("sz", "sz_a"), a
    ).join(sizes_y.withColumnRenamed("doc", b).withColumnRenamed("sz", "sz_b"), b)


def jaccard_score() -> Column:
    """Jaccard of an overlap row, rounded to 4 places in both engines."""
    return F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4)


def _self_join_rows(table: pa.Table) -> int:
    """Σ c·(c−1)/2 over the shingles of a (doc, sh) table, c = the
    shingle's non-null (doc, sh) rows: the pair rows the self-join
    would produce, counted in Arrow before any Python list exists."""
    live = table.filter(pc.and_(pc.is_valid(table["doc"]), pc.is_valid(table["sh"])))
    if live.num_rows == 0:
        return 0
    c = live.group_by("sh").aggregate([("doc", "count")])["doc_count"]
    return pc.sum(pc.divide(pc.multiply(c, pc.subtract(c, 1)), 2)).as_py()


def driver_overlap(
    index: DataFrame, a: str = "doc_a", b: str = "doc_b", cand: DataFrame | None = None
) -> DataFrame | None:
    """:func:`shingle_overlap`'s (a, b, inter, sz_a, sz_b) over the
    (doc, sh) ``index``, counted on the driver and handed back through
    :func:`local_frame` as a ``LocalTableScan`` — or None when the work
    passes ``DRIVER_ROWS``, and the caller runs the Spark kernel.

    - Without ``cand``: the symmetric self-overlap (pairs with a < b).
      The index is collected once, capped at ``DRIVER_ROWS + 1`` rows,
      and pairs are counted from an inverted shingle -> docs map while
      Σ df·(df−1)/2, the rows the self-join would produce, stays within
      ``DRIVER_ROWS``.
    - With ``cand`` (columns a, b): the distinct candidates are
      collected once under the same cap, then only the candidate docs'
      index rows, through a semi-join with a ``local_frame`` of those
      docs.

    The join's semantics carry over exactly: a NULL shingle counts in
    ``sz`` but never matches, a NULL doc never pairs, a repeated
    (doc, sh) row counts once per row on each side, no pair with
    ``inter = 0`` is emitted, and the three counts are BIGINT. The
    schema is the kernel's, column order included (its size joins put
    ``b`` first).
    """
    spark = index.sparkSession
    doc = index.schema["doc"]
    schema = StructType(
        [StructField(b, doc.dataType, doc.nullable), StructField(a, doc.dataType, doc.nullable)]
        + [StructField(c, LongType(), False) for c in ("inter", "sz_a", "sz_b")]
    )
    if cand is None:
        table = capped_table(index.select("doc", "sh"))
        if table is None or _self_join_rows(table) > driver.DRIVER_ROWS:
            return None
        cols = [c.to_pylist() for c in table.columns]
        postings: dict = {}
        for d, s in zip(*cols):
            if d is not None and s is not None:
                postings.setdefault(s, []).append(d)
        inter = Counter(
            xy for p in postings.values() for xy in combinations(sorted(p), 2) if xy[0] != xy[1]
        )
    else:
        pairs = capped_columns(cand.select(a, b))
        if pairs is None:
            return None
        docs = sorted({d for col in pairs for d in col if d is not None})
        cdocs = local_frame(spark, [(d,) for d in docs], StructType([doc]))
        cols = (
            capped_columns(index.join(cdocs, "doc", "semi").select("doc", "sh"))
            if docs
            else [[], []]
        )
        if cols is None:
            return None
        bags: dict = {}
        for d, s in zip(*cols):
            if s is not None:
                bags.setdefault(d, Counter())[s] += 1
        inter = {}
        for x, y in zip(*pairs):
            bx, by = bags.get(x, {}), bags.get(y, {})
            k = sum(bx[s] * by[s] for s in bx.keys() & by.keys())
            if k:
                inter[x, y] = k
    sizes = Counter(cols[0])
    return local_frame(
        spark, [(y, x, k, sizes[x], sizes[y]) for (x, y), k in inter.items()], schema
    )


def _jaccard_at(
    overlap: DataFrame, threshold: float, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(a, b, jaccard) of the overlap rows at >= ``threshold``."""
    return (
        overlap.withColumn("jaccard", jaccard_score())
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _self_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int,
    capped_shingles: DataFrame | None,
    score: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``score`` applied to the symmetric self-overlap of the df-capped
    index (``capped_shingles``, or one built from ``df``): the
    :func:`driver_overlap` frame while it fits, else the Spark
    self-join. An owned index is persisted for the scope, so the Spark
    kernel above the cap reuses what the capped collect computed; its
    result-sized output is pinned inside the scope, the driver's
    ``LocalTableScan`` needs no pin."""
    owned = capped_shingles is None
    index = (
        capped_index(exploded_shingles(df, text_col, id_col, n), max_df)
        if owned
        else capped_shingles
    )
    with pinned(index) if owned else nullcontext(index) as sh:
        local = driver_overlap(sh)
        if local is not None:
            return score(local)
        out = score(shingle_overlap(sh, sh, _ordered_pair()))
        return pin(out) if owned else out


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int = 1000,
    capped_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard via inverted-index join.
    ``capped_shingles`` shares a caller-owned df-capped index (same
    max_df) across dedup operators instead of re-shingling the corpus;
    the caller owns that frame's persist lifecycle. The overlap counts
    come from :func:`driver_overlap` while Σ df·(df−1)/2 fits under
    ``DRIVER_ROWS``, from the Spark self-join above it."""
    return _self_overlap(
        df, text_col, id_col, n, max_df, capped_shingles, lambda o: _jaccard_at(o, threshold)
    )


def ngram_jaccard_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int = 1000,
) -> str:
    return f"""
    WITH sh0 AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= {max_df}),
    sh AS MATERIALIZED (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY a.doc, b.doc)
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
    WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 4) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


_MINHASH_PRIME = 2147483647  # 2^31 - 1: keeps a*h0+b under 2^62, so the
# modular rehash never overflows BIGINT on either engine


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Fixed affine coefficients (a_i, b_i), embedded as literals in
    both engines' expressions so the signatures are bit-identical."""
    import numpy as np

    rs = np.random.RandomState(seed)
    return [
        (int(rs.randint(1, _MINHASH_PRIME)), int(rs.randint(0, _MINHASH_PRIME)))
        for _ in range(num_hashes)
    ]


def minhash_sig_cols(num_hashes: int, sh_col: str = "sh") -> list:
    """H signature aggregates from ONE md5 per shingle: the md5's first
    60 bits become an integer h0, and each of the H hashes is the
    affine rehash (a_i*h0+b_i) mod p. The previous construction
    computed H md5s per shingle row (H x the hash work of the whole
    signature stage — measured ~2.4x slower at H=12)."""
    h0 = (
        F.conv(F.substring(F.md5(F.col(sh_col)), 1, 15), 16, 10).cast("long")
        % _MINHASH_PRIME
    )
    return [
        F.min((F.lit(a) * h0 + F.lit(b)) % _MINHASH_PRIME).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]


def minhash_sig_sql(num_hashes: int, sh_col: str = "sh") -> str:
    """DuckDB twin of :func:`minhash_sig_cols` — same md5-60-bit base
    (hex-literal cast), same affine constants, same modulus."""
    h0 = f"(CAST('0x' || substring(md5({sh_col}), 1, 15) AS BIGINT) % {_MINHASH_PRIME})"
    return ", ".join(
        f"min(({a} * {h0} + {b}) % {_MINHASH_PRIME}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )


def minhash_signatures(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, sig_0..sig_{H-1}) of a (doc, sh) shingle frame: per-doc
    minima of H affine rehashes of one md5 per shingle. One groupBy —
    the signature agg is map-side partial."""
    return sh.groupBy("doc").agg(*minhash_sig_cols(num_hashes))


def band_keys(sig: DataFrame, rows_per_band: int, bands: int) -> DataFrame:
    """(doc, band, key): a (doc, sig_*) frame split into ``bands`` LSH
    bands of ``rows_per_band`` signature values each; ``key`` joins a
    band's values with ':' (bit-equal to :func:`band_keys_sql`)."""
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"sig_{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.key")


def band_keys_sql(src: str, rows_per_band: int, bands: int) -> str:
    """DuckDB twin of :func:`band_keys` over the signature relation
    ``src``: one ``UNION ALL`` branch per band."""
    return " UNION ALL ".join(
        f"SELECT doc, {b} AS band, "
        + " || ':' || ".join(
            f"CAST(sig_{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + f" AS key FROM {src}"
        for b in range(bands)
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
    max_df: int = 1000,
    shingles: DataFrame | None = None,
    capped_shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH-banded candidate pairs, verified with exact Jaccard.

    num_hashes/bands = rows-per-band r; P(candidate) = 1-(1-j^r)^bands.
    Only same-band buckets join, so candidate generation is linear in
    collisions; the exact verify touches candidates only.
    ``shingles`` shares a caller-owned shingle frame and
    ``capped_shingles`` a caller-owned df-capped index (same max_df), so
    the verify skips its own cap pass.
    """
    # ONE shingling pass feeds signatures, the df-cap, and the exact
    # verify. An owned shingle frame is persisted for the scope, with
    # the result-sized verified pairs pinned inside it.
    owned = shingles is None
    sh = exploded_shingles(df, text_col, id_col, n) if owned else shingles
    with pinned(sh) if owned else nullcontext(sh) as sh0:
        verify = capped_shingles if capped_shingles is not None else capped_index(sh0, max_df)
        return _minhash_verified(
            sh0, verify, num_hashes, bands, threshold, _ordered_pair(), pin_out=owned
        )


def _minhash_verified(
    sh0: DataFrame,
    verify: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    pair: Column,
    a: str = "doc_a",
    b: str = "doc_b",
    pin_out: bool = False,
) -> DataFrame:
    """The MinHash screen over one shingle frame: signatures from
    ``sh0``, band collisions that satisfy ``pair`` (over ``x.doc`` /
    ``y.doc``) as candidates (a, b), each verified with exact Jaccard on
    the ``verify`` index. Returns (a, b, jaccard) at >= threshold.

    The verify runs on the driver (:func:`driver_overlap`) while the
    candidates and their docs' index rows fit under ``DRIVER_ROWS``;
    the result is then a ``LocalTableScan`` and nothing is pinned.
    Above the cap the Spark verify runs, and ``pin_out`` pins its
    result for a caller whose scope releases the shingles."""
    bk = band_keys(minhash_signatures(sh0, num_hashes), num_hashes // bands, bands)
    cand = (
        bk.alias("x")
        .join(
            bk.alias("y"),
            (F.col("x.band") == F.col("y.band")) & (F.col("x.key") == F.col("y.key")) & pair,
        )
        .select(F.col("x.doc").alias(a), F.col("y.doc").alias(b))
        .distinct()
    )
    local = driver_overlap(verify, a, b, cand=cand)
    if local is not None:
        return _jaccard_at(local, threshold, a, b)
    # cand is RESULT-sized (LSH collisions only) but feeds THREE
    # subtrees (both cdocs union branches + the verify semi-join);
    # without a pin the signature+banding+self-join pipeline re-runs
    # per consumer past whatever exchanges happen to be reused.
    cand = pin(cand)
    # Exact verify scoped to CANDIDATES ONLY: semi-join the index down
    # to docs that appear in some candidate pair, so the overlap join is
    # bounded by LSH collisions, never Σ df².
    cdocs = (
        cand.select(F.col(a).alias("doc"))
        .union(cand.select(F.col(b).alias("doc")))
        .distinct()
    )
    shc = verify.join(cdocs, "doc", "semi")
    out = _jaccard_at(shingle_overlap(shc, shc, pair, a, b, cand=cand), threshold, a, b)
    return pin(out) if pin_out else out


def minhash_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
    max_df: int = 1000,
) -> str:
    sig_cols = minhash_sig_sql(num_hashes)
    return f"""
    WITH shx AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    sig AS MATERIALIZED (SELECT doc, {sig_cols} FROM shx GROUP BY doc),
    bk AS MATERIALIZED ({band_keys_sql("sig", num_hashes // bands, bands)}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc < b.doc),
    keep AS (SELECT sh FROM shx GROUP BY sh HAVING count(*) <= {max_df}),
    cdocs AS (SELECT doc_a AS doc FROM cand UNION SELECT doc_b FROM cand),
    shc AS MATERIALIZED (
      SELECT shx.* FROM shx JOIN keep USING (sh) JOIN cdocs USING (doc)),
    sizes AS (SELECT doc, count(*) AS sz FROM shc GROUP BY doc),
    inter AS (
      SELECT x.doc AS doc_a, y.doc AS doc_b, count(*) AS inter
      FROM shc x JOIN shc y ON x.sh = y.sh AND x.doc < y.doc
      GROUP BY x.doc, y.doc)
    SELECT i.doc_a, i.doc_b,
           round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) AS jaccard
    FROM inter i
    JOIN cand c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON sa.doc = i.doc_a JOIN sizes sb ON sb.doc = i.doc_b
    WHERE round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 4) >= {threshold}
    """


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs -> connected components -> survivors
# ---------------------------------------------------------------------------


def dedup_groups(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: every doc's group id
    is the smallest doc id reachable through the pair graph; the
    survivor of each group is its group id. Hybrid execution — driver
    union-find up to ``DRIVER_ROWS`` pairs (pair graphs are
    result-sized, not corpus-sized), distributed iterative min-label
    propagation above it.

    Driver path: the pair list is collected once, capped at
    ``DRIVER_ROWS + 1`` rows — the only Spark action. Union-find
    treats each pair as undirected (the mirror is implicit), and the
    labels return through :func:`local_frame` as a ``LocalTableScan``.
    Each distributed round costs 2-3 scheduled jobs regardless of data
    size, which dominates on a hundreds-of-rows graph (measured 17.7 s
    -> <1 s for the embedding family at sf0.1).

    Distributed path: each round is one join + one groupBy (labels
    shuffled on doc id); rounds needed = graph diameter, and near-dup
    clusters are shallow (duplicates of a common source), so
    convergence is 2-4 rounds in practice with ``max_iters`` as the
    backstop. The convergence check compares label sums — one tiny
    action per round, no collect of the label table. (The GraphX
    large-star/small-star variant gets O(log n) worst-case rounds;
    unnecessary for shallow dup clusters.)

    Returns (doc, group_id), one row per doc that appears in ≥1 pair.

    Deep chains (diameter ≫ 3) would otherwise stack one join+agg onto
    the plan per round, so every 3rd round the label table is cut over
    to a pin (``localCheckpoint`` by default) — lineage truncation keeps the plan tree
    (and the next round's analysis cost) constant regardless of
    diameter; the label table itself is tiny (one row per paired doc).
    """
    cols = capped_columns(pairs.select("doc_a", "doc_b"))
    if cols is not None:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for doc_a, doc_b in zip(*cols):
            a, b = find(doc_a), find(doc_b)
            if a != b:
                # min id wins the root so group_id = min reachable id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        docs = sorted({d for c in cols for d in c})
        schema = pairs.select(F.col("doc_a").alias("doc"), F.col("doc_a").alias("group_id")).schema
        return local_frame(pairs.sparkSession, [(d, find(d)) for d in docs], schema)

    # A pin, not a cache: the edge list is tiny (one row per
    # pair direction) but its LINEAGE is the whole upstream pair
    # pipeline (LSH banding / shingling) — with cache() every
    # iteration's plan still carries and re-analyzes that subtree,
    # which dominated wall-clock for pair generators with deep plans
    # (embedding_dup_groups: 17.7 s -> ~6 s). The default pin severs it.
    # Pin the RESULT-SIZED pair list before mirroring it: the union's
    # two branches each embed the whole pair-generation pipeline
    # (shingle cap + self-join + verify), and only its exchanges are
    # reused between branches — the post-shuffle join/filter work ran
    # twice (guide §2.4: don't recompute subtrees you already have).
    p = pin(pairs.select("doc_a", "doc_b"))
    e = pin(
        p.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    labels = e.select(F.col("src").alias("doc")).distinct().withColumn("label", F.col("doc"))
    prev_sum = None
    # each round's label table is read twice (neighbour join + carry-
    # over join) and by the next round; every round's persist is held
    # until the result-sized group table is pinned, then released
    with ExitStack() as rounds:
        for it in range(max_iters):
            labels = rounds.enter_context(pinned(labels))
            neigh = (
                e.join(labels, e.dst == labels.doc)
                .groupBy(F.col("src").alias("doc2"))
                .agg(F.min("label").alias("nmin"))
            )
            labels = (
                labels.join(neigh, labels.doc == neigh.doc2, "left")
                .select(F.col("doc"), F.least(F.col("label"), F.col("nmin")).alias("label"))
            )
            if it % 3 == 2:
                labels = pin(labels)
            cur = labels.agg(F.sum("label")).collect()[0][0]
            if cur == prev_sum:
                break
            prev_sum = cur
        return pin(labels.select("doc", F.col("label").alias("group_id")))


def dedup_groups_sql(pairs_sql: str) -> str:
    """Oracle twin: min reachable id via a recursive transitive
    closure (fine at oracle scale; the Spark path is the scale path)."""
    return f"""
    WITH RECURSIVE p AS MATERIALIZED ({pairs_sql}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM p
      UNION SELECT doc_b, doc_a FROM p),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      WHERE e.dst <> r.src)
    SELECT src AS doc, least(src, min(dst)) AS group_id FROM reach GROUP BY src
    """


# ---------------------------------------------------------------------------
# SimHash (Spark-native, xxhash64 bit votes — rows-only oracle)
# ---------------------------------------------------------------------------


def simhash_buckets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over xxhash64(word).
    Documents with equal simhash are near-dup candidates; Hamming-ball
    probing extends recall. JVM hash, no Python."""
    w = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))).alias("word"),
    ).withColumn("h", F.xxhash64("word"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{k}")
        for k in range(bits)
    ]
    agg = w.groupBy("doc").agg(*votes)
    sim = None
    for k in range(bits):
        bit = F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col("doc").alias(id_col), sim.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Incremental (snapshot) dedup: new batch vs already-ingested corpus
# ---------------------------------------------------------------------------


def dedup_incremental(
    incoming: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs from ``incoming`` that survive dedup against BOTH the batch
    itself and an already-ingested snapshot.

    ``seen_fingerprints`` is a 1-column (``fingerprint``) frame — the
    persisted output of prior ingests. Within-batch survivor = min doc
    id per fingerprint; then a LEFT ANTI join drops anything the
    snapshot already holds.

    Scale: both the groupBy and the anti join hash-partition on the
    fingerprint — one co-partitioned exchange each, no sort. At 100 TB
    the snapshot side is the big one; a bloom-filter pre-pass over the
    batch (tiny) pushed into the snapshot scan would cut it further,
    but the hash anti join is already the right asymptotic plan and
    AQE converts it to broadcast whenever a daily batch is small.

    Returns (id_col, fingerprint), one row per kept incoming doc.
    """
    from .text import fingerprint_col

    batch = (
        incoming.select(F.col(id_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return batch.join(
        seen_fingerprints.select("fingerprint"), "fingerprint", "left_anti"
    ).select(id_col, "fingerprint")


def dedup_incremental_sql(
    incoming_sql: str, seen_sql: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """Twin: ``incoming_sql`` / ``seen_sql`` are table expressions; the
    seen side must expose a ``fingerprint`` column."""
    norm = (
        f"md5(trim(regexp_replace(regexp_replace(lower({text_col}), "
        f"'[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    )
    return f"""
    WITH batch AS (
      SELECT {norm} AS fingerprint, min({id_col}) AS {id_col}
      FROM {incoming_sql} GROUP BY 1)
    SELECT {id_col}, fingerprint FROM batch
    WHERE fingerprint NOT IN (SELECT fingerprint FROM {seen_sql})
    """


def simhash_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash with md5-derived bit votes — identical construction to
    ``simhash_buckets`` but the per-word hash is the 16-bit md5 bucket
    both engines compute bit-for-bit (``lm._bucket_col``), so this
    variant is fully oracle-checkable (the xxhash64 form stays the
    throughput default; xxhash64 exists only JVM-side).
    """
    from .lm import _bucket_col

    if bits > 16:
        raise ValueError("md5 bucket provides 16 bits")
    w = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(_words(text_col))).alias("word"),
    ).withColumn("h", _bucket_col(F.col("word")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{k}")
        for k in range(bits)
    ]
    agg = w.groupBy("doc").agg(*votes)
    sim = None
    for k in range(bits):
        bit = F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col("doc").alias(id_col), sim.cast("long").alias("simhash"))


def simhash_md5_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> str:
    from .lm import _bucket_sql

    words = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    bucket = _bucket_sql("word")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}" for k in range(bits)
    )
    bit_sum = " + ".join(f"(CASE WHEN v{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(bits))
    return f"""
    WITH w AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest(list_distinct({words})) AS word FROM {table}),
    h AS (SELECT doc, {bucket} AS h FROM w),
    v AS (SELECT doc, {votes} FROM h GROUP BY doc)
    SELECT doc AS {id_col}, CAST({bit_sum} AS BIGINT) AS simhash FROM v
    """


# ---------------------------------------------------------------------------
# Cross-document duplicated-span screen (exact-substring dedup signal)
# ---------------------------------------------------------------------------


def dup_span_fraction(shingles: DataFrame) -> DataFrame:
    """Per-document cross-corpus duplicated-span fraction: the share of
    a document's distinct word n-grams that also occur in >=1 OTHER
    document — the per-doc signal behind exact-substring deduplication
    ("Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022: docs dominated by spans shared across the corpus are
    boilerplate/templates even when no whole-document near-dup fires).

    Input is the (doc, sh) distinct-shingle relation — the SAME
    persisted index the Jaccard/MinHash/groups pipeline shingles once
    per corpus. Cost on top of it: one groupBy on the shingle (the
    doc-frequency table, map-side combined), one co-partitioned join
    back, one per-doc aggregate. No pairwise anything — this screen is
    linear in corpus shingles where the pair-based family is
    collision-bounded.
    """
    df_ct = shingles.groupBy("sh").agg(F.count(F.lit(1)).alias("df_ct"))
    return (
        shingles.join(df_ct, "sh")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum((F.col("df_ct") >= 2).cast("int")) / F.count(F.lit(1)), 4
            ).alias("dup_fraction"),
        )
    )


def dup_span_fraction_sql(table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> str:
    return f"""
    WITH shx AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    dfreq AS (SELECT sh, count(*) AS df_ct FROM shx GROUP BY sh)
    SELECT doc AS doc_id, count(*) AS n_shingles,
           round(sum(CASE WHEN df_ct >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_fraction
    FROM shx JOIN dfreq USING (sh)
    GROUP BY doc
    """


# ---------------------------------------------------------------------------
# Blocked fuzzy matching (entity resolution on short strings)
# ---------------------------------------------------------------------------


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_prefix: int,
    max_dist: int = 1,
    limit: int = 200,
) -> DataFrame:
    """Edit-distance pairs for entity resolution: candidate pairs from
    a prefix block (only strings sharing the first ``block_prefix``
    chars are compared), verified with JVM-side ``levenshtein``.

    The block join bounds the comparison count at sum(block_size²) —
    pick ``block_prefix`` so blocks stay person/entity-sized; at 100 TB
    a production blocker layers several keys (prefix, phonetic code,
    length bucket) and unions the candidates, each key the same
    one-join shape as here. Output is the deterministic head of the
    match list (sorted by ids) so result size stays serving-sized
    regardless of how duplicate-ridden the input is.

    Reference analog: Observability's entity search lands on
    name-substring matching (demo/demo/demo_helper.py:137-143); this is
    the dedup-grade generalization with a typo budget.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
        F.substring(F.col(name_col), 1, block_prefix).alias("blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
        F.substring(F.col(name_col), 1, block_prefix).alias("blk"),
    )
    # r14 (guide §1.2 per-task work): block mates share their first
    # ``block_prefix`` chars by construction, and a shared prefix never
    # changes edit distance (lev(P+x, P+y) = lev(x, y)) — so the DP
    # runs over the suffixes only. The third levenshtein argument bounds
    # the DP at max_dist (banded O(d*n) instead of full O(n^2)); it
    # returns -1 past the bound, and for rows within the bound the
    # value is the exact distance, so the kept rows are identical.
    sfx = f"substring(name_a, {block_prefix + 1}), substring(name_b, {block_prefix + 1})"
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.expr(f"levenshtein({sfx}, {int(max_dist)})"))
        .filter(F.col("dist").between(0, max_dist))
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
        .limit(limit)
    )


def fuzzy_pairs_sql(
    table: str,
    id_col: str,
    name_col: str,
    block_prefix: int,
    max_dist: int = 1,
    limit: int = 200,
) -> str:
    """DuckDB twin of :func:`fuzzy_pairs` (same blocking, same
    levenshtein definition)."""
    return f"""
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(levenshtein(a.{name_col}, b.{name_col}) AS INT) AS dist
    FROM {table} a JOIN {table} b
      ON substring(a.{name_col}, 1, {block_prefix})
         = substring(b.{name_col}, 1, {block_prefix})
     AND a.{id_col} < b.{id_col}
    WHERE levenshtein(a.{name_col}, b.{name_col}) <= {max_dist}
    ORDER BY id_a, id_b LIMIT {limit}
    """


# ---------------------------------------------------------------------------
# Duplicate-span REMOVAL (the scrubbing counterpart of dup_span_fraction)
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 3,
    min_df: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate-span removal ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022): every word
    ``n``-gram occurring in >= ``min_df`` distinct documents is treated
    as cross-corpus boilerplate; every word position covered by such a
    gram is cut from its document and the survivors are stitched back
    in original order. Where ``dup_span_fraction`` only SCORES the
    contamination, this operator produces the cleaned corpus.

    Plan (all DataFrame, no Python):
    1. one split pass makes the word array; ``ml.feature.NGram`` (a
       compiled sliding window, no shuffle) positions every gram at its
       start index via ``posexplode``;
    2. gram document-frequency = one groupBy(gram) shuffle (map-side
       combined); the >= min_df survivors join back onto gram
       occurrences — AQE broadcasts the boilerplate set when small and
       falls back to a hash join on the gram key when a 100 TB corpus
       makes it large;
    3. covered positions fan out in-plan (``sequence(start, start+n-1)``),
       dedupe on the (doc, pos) key, and anti-flag the word relation
       with a left join;
    4. per-doc reassembly is one groupBy(doc): sort the (pos, word)
       structs, drop flagged positions, ``array_join``. Documents are
       individually bounded (training docs, not blobs), so the per-doc
       collect_list is safe at any corpus width.

    Docs shorter than ``n`` words yield no grams and pass through
    unchanged. Output: (id_col, clean_text, kept_tokens,
    removed_tokens) — one row per input document, even when everything
    was removed (clean_text = '').
    """
    from pyspark.ml.feature import NGram

    base = df.select(
        F.col(id_col).alias("doc"), F.split(F.trim(F.col(text_col)), r"\s+").alias("ws")
    )
    words = base.select("doc", F.posexplode("ws").alias("pos", "word"))
    grams = (
        NGram(n=n, inputCol="ws", outputCol="ngrams")
        .transform(base)
        .select("doc", F.posexplode("ngrams").alias("start", "gram"))
    )
    boiler = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc").alias("gram_df"))
        .filter(F.col("gram_df") >= min_df)
        .select("gram")
    )
    bad = (
        grams.join(boiler, "gram")
        .select("doc", F.explode(F.sequence(F.col("start"), F.col("start") + n - 1)).alias("pos"))
        .distinct()
        .withColumn("is_bad", F.lit(True))
    )
    flagged = words.join(bad, ["doc", "pos"], "left")
    arr = F.array_sort(F.collect_list(F.struct("pos", "word", "is_bad")))
    kept = F.filter(F.col("arr"), lambda x: x["is_bad"].isNull())
    return (
        flagged.groupBy("doc")
        .agg(arr.alias("arr"))
        .select(
            F.col("doc").alias(id_col),
            F.array_join(F.transform(kept, lambda x: x["word"]), " ").alias("clean_text"),
            F.size(kept).cast("long").alias("kept_tokens"),
            (F.size("arr") - F.size(kept)).cast("long").alias("removed_tokens"),
        )
    )


def remove_duplicate_spans_sql(
    table: str, n: int = 3, min_df: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    words = f"regexp_split_to_array(trim({text_col}), '\\s+')"
    return f"""
    WITH w AS MATERIALIZED (
      SELECT {id_col} AS doc, {words} AS ws FROM {table}),
    words AS MATERIALIZED (
      SELECT doc, unnest(range(len(ws))) AS pos, unnest(ws) AS word FROM w),
    grams AS MATERIALIZED (
      SELECT doc,
             unnest(range(greatest(len(ws) - {n} + 1, 0))) AS start,
             unnest([array_to_string(ws[i + 1 : i + {n}], ' ')
                     FOR i IN range(0, greatest(len(ws) - {n} + 1, 0))]) AS gram
      FROM w),
    boiler AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc) >= {min_df}),
    bad AS (
      SELECT DISTINCT doc, pos FROM (
        SELECT g.doc, g.start + unnest(range({n})) AS pos
        FROM grams g JOIN boiler b USING (gram)) t),
    flagged AS (
      SELECT wo.doc, wo.pos, wo.word, (bad.pos IS NOT NULL) AS is_bad
      FROM words wo LEFT JOIN bad ON wo.doc = bad.doc AND wo.pos = bad.pos)
    SELECT doc AS {id_col},
           coalesce(string_agg(CASE WHEN NOT is_bad THEN word END, ' ' ORDER BY pos), '')
             AS clean_text,
           CAST(count(*) FILTER (WHERE NOT is_bad) AS BIGINT) AS kept_tokens,
           CAST(count(*) FILTER (WHERE is_bad) AS BIGINT) AS removed_tokens
    FROM flagged GROUP BY doc
    """


def minhash_incremental(
    df: DataFrame,
    new_min_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Incremental NEAR-dup screen: which docs of the NEW batch
    (``id >= new_min_id``) near-duplicate something already ingested.
    ``dedup_incremental`` is this operator's exact-fingerprint sibling;
    the MinHash variant catches reworded boilerplate an md5 can't.

    The LSH banding makes incrementality cheap: the corpus side's band
    keys are append-only state (at 100 TB they persist as a bucketed
    table keyed on (band, key) that each ingest appends to), so a new
    batch only shingles ITSELF, probes the bucket table, and exact-
    verifies the collisions — cost scales with the batch + collisions,
    never with the corpus. Here both sides derive from one table split
    by id for the oracle's sake; the join is new-vs-corpus only (no
    corpus self-pairs), candidate-scoped Jaccard verify as in
    ``minhash_pairs``.

    Returns (new_id, dup_of, jaccard): the new doc, an existing doc it
    collides with at >= threshold.
    """
    # the one-batch case of minhash_pairs: a new x old candidate
    # predicate, and the verify reads the raw (uncapped) shingles
    newer = (F.col("x.doc") >= new_min_id) & (F.col("y.doc") < new_min_id)
    with pinned(exploded_shingles(df, text_col, id_col, n)) as sh0:
        return _minhash_verified(
            sh0, sh0, num_hashes, bands, threshold, newer, "new_id", "dup_of", pin_out=True
        )


def minhash_incremental_sql(
    table: str,
    new_min_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.4,
) -> str:
    sig_cols = minhash_sig_sql(num_hashes)
    return f"""
    WITH shx AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    sig AS MATERIALIZED (SELECT doc, {sig_cols} FROM shx GROUP BY doc),
    bk AS MATERIALIZED ({band_keys_sql("sig", num_hashes // bands, bands)}),
    cand AS MATERIALIZED (
      SELECT DISTINCT nb.doc AS new_id, ob.doc AS dup_of
      FROM bk nb JOIN bk ob ON nb.band = ob.band AND nb.key = ob.key
      WHERE nb.doc >= {new_min_id} AND ob.doc < {new_min_id}),
    cdocs AS (SELECT new_id AS doc FROM cand UNION SELECT dup_of FROM cand),
    shc AS MATERIALIZED (SELECT shx.* FROM shx JOIN cdocs USING (doc)),
    sizes AS (SELECT doc, count(*) AS sz FROM shc GROUP BY doc),
    inter AS (
      SELECT x.doc AS new_id, y.doc AS dup_of, count(*) AS inter
      FROM shc x JOIN shc y ON x.sh = y.sh
      WHERE x.doc >= {new_min_id} AND y.doc < {new_min_id}
      GROUP BY x.doc, y.doc)
    SELECT i.new_id, i.dup_of,
           round(i.inter * 1.0 / (sn.sz + so.sz - i.inter), 4) AS jaccard
    FROM inter i
    JOIN cand c ON c.new_id = i.new_id AND c.dup_of = i.dup_of
    JOIN sizes sn ON sn.doc = i.new_id JOIN sizes so ON so.doc = i.dup_of
    WHERE round(i.inter * 1.0 / (sn.sz + so.sz - i.inter), 4) >= {threshold}
    """


def select_canonical(
    groups: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Survivor selection per near-dup cluster: keep the member with
    the BEST score (ties to the lowest doc id) — the step that turns
    cluster labels into a keep-list. Min-id survivorship (what
    dedup_groups' group_id encodes) throws away quality information;
    real pipelines keep the best-written copy of each duplicated
    source, not the one that happened to get the smallest id.

    One join of the (result-sized) label table against the score table
    and one per-group window — both keyed on group/doc, no corpus
    shuffle. Returns (group_id, canonical_doc, canonical_score,
    member_ct); docs in no pair are their own canonical by definition
    and are not emitted."""
    from pyspark.sql.window import Window

    j = groups.join(
        scored.select(F.col(id_col).alias("doc"), F.col(score_col).alias("_s")),
        "doc",
    )
    w = Window.partitionBy("group_id").orderBy(F.desc("_s"), F.asc("doc"))
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .groupBy("group_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("doc"))).alias("canonical_doc"),
            F.max(F.when(F.col("_rn") == 1, F.col("_s"))).alias("canonical_score"),
            F.count(F.lit(1)).alias("member_ct"),
        )
        .orderBy("group_id")
    )


def select_canonical_sql(
    groups_sql: str, scored_sql: str, id_col: str = "doc_id", score_col: str = "quality"
) -> str:
    return f"""
    WITH g AS MATERIALIZED ({groups_sql}),
    s AS MATERIALIZED ({scored_sql}),
    j AS (
      SELECT g.doc, g.group_id, s.{score_col} AS _s
      FROM g JOIN s ON g.doc = s.{id_col}),
    r AS (
      SELECT doc, group_id, _s,
             row_number() OVER (PARTITION BY group_id ORDER BY _s DESC, doc) AS rn
      FROM j)
    SELECT group_id,
           max(CASE WHEN rn = 1 THEN doc END) AS canonical_doc,
           max(CASE WHEN rn = 1 THEN _s END) AS canonical_score,
           count(*) AS member_ct
    FROM r GROUP BY group_id ORDER BY group_id
    """


def dedup_impact(
    df: DataFrame,
    near_groups: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The dedup decision report: what each method would remove if
    applied alone — docs and characters, exact counts and integer-bp
    shares — one row per method ('exact' = content-hash first-id-wins,
    'near' = connected-component non-survivors from ``near_groups``,
    a (doc, group_id) frame such as :func:`dedup_groups` returns).

    This is the summary a curation pipeline reads before committing to
    a dedup pass over 100 TB: two aggregate passes over a 3-column
    projection of the corpus (id, length, hash), the near labels
    joined in result-sized. All arithmetic integer, oracle-exact.

    The projection is pinned: it feeds THREE consumers (the hash
    keep-set, the exact branch's join probe, the near branch) and
    without the pin each one re-reads the TEXT column and re-hashes
    it — at corpus scale that is three fat scans and two redundant
    md5 passes for one narrow (id, chars, hash) frame."""
    base = pin(
        df.select(
            F.col(id_col).alias("doc"),
            F.length(text_col).cast("long").alias("chars"),
            F.md5(F.col(text_col)).alias("h"),
        )
    )
    keep = base.groupBy("h").agg(F.min("doc").alias("keep_id"))
    exact = base.join(keep, "h").select(
        "doc", "chars", (F.col("doc") != F.col("keep_id")).alias("rm")
    )
    g = near_groups.select(F.col("doc").alias("gdoc"), "group_id")
    near = base.join(g, base.doc == g.gdoc, "left").select(
        "doc",
        "chars",
        (F.col("group_id").isNotNull() & (F.col("doc") != F.col("group_id"))).alias(
            "rm"
        ),
    )

    def summarize(frame: DataFrame, method: str) -> DataFrame:
        return frame.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum((~F.col("rm")).cast("long")).cast("long").alias("docs_kept"),
            F.sum(F.col("rm").cast("long")).cast("long").alias("docs_removed"),
            F.sum("chars").cast("long").alias("chars_total"),
            F.sum(F.when(F.col("rm"), F.col("chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("chars_removed"),
        )

    return (
        summarize(exact, "exact")
        .unionByName(summarize(near, "near"))
        .withColumn(
            "removed_bp",
            F.expr(
                "CAST(CASE WHEN docs_total = 0 THEN 0 "
                "ELSE docs_removed * 10000L DIV docs_total END AS BIGINT)"
            ),
        )
        .orderBy("method")
    )


def dedup_impact_sql(table: str, pairs_sql: str, text_col: str = "text",
                     id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`dedup_impact` (same methods, same integer
    arithmetic; near labels from the recursive-closure groups twin)."""
    groups = dedup_groups_sql(pairs_sql)
    return f"""
    WITH base AS MATERIALIZED (
      SELECT {id_col} AS doc, CAST(length({text_col}) AS BIGINT) AS chars,
             md5({text_col}) AS h
      FROM {table}),
    keep AS (SELECT h, min(doc) AS keep_id FROM base GROUP BY h),
    ex AS (
      SELECT doc, chars, base.doc <> keep.keep_id AS rm
      FROM base JOIN keep USING (h)),
    grp AS MATERIALIZED ({groups}),
    nr AS (
      SELECT base.doc, chars,
             grp.group_id IS NOT NULL AND base.doc <> grp.group_id AS rm
      FROM base LEFT JOIN grp ON base.doc = grp.doc),
    s AS (
      SELECT 'exact' AS method, CAST(count(*) AS BIGINT) AS docs_total,
             CAST(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT) AS docs_kept,
             CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
             CAST(sum(chars) AS BIGINT) AS chars_total,
             CAST(sum(CASE WHEN rm THEN chars ELSE 0 END) AS BIGINT) AS chars_removed
      FROM ex
      UNION ALL
      SELECT 'near', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT),
             CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(chars) AS BIGINT),
             CAST(sum(CASE WHEN rm THEN chars ELSE 0 END) AS BIGINT)
      FROM nr)
    SELECT method, docs_total, docs_kept, docs_removed, chars_total,
           chars_removed,
           CAST(CASE WHEN docs_total = 0 THEN 0
                ELSE docs_removed * 10000 // docs_total END AS BIGINT)
             AS removed_bp
    FROM s ORDER BY method
    """


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_bp: int = 6000,
    max_df: int = 1000,
    capped_shingles: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by the overlap coefficient
    ``|A∩B| / min(|A|, |B|)`` in integer basis points — the measure
    that catches a short document CONTAINED in a long one (quotes,
    excerpts, wrapped reposts), which Jaccard structurally misses: a
    200-shingle doc fully inside a 4000-shingle doc has containment
    10000 bp but Jaccard 0.05. Emits which doc is the contained one
    (the smaller shingle set; ties -> lower id).

    Same df-capped inverted-index join as the Jaccard operator (share
    ``capped_shingles`` to reuse the one corpus shingle pass); the
    scoring arithmetic is floor-division integers, so the twin is
    hash-exact with no float-rounding hazard. The overlap counts come
    from :func:`driver_overlap` while they fit, as for the Jaccard
    pairs."""

    def score(overlap: DataFrame) -> DataFrame:
        return (
            overlap.withColumn(
                "containment_bp",
                F.expr("CAST(inter * 10000L DIV least(sz_a, sz_b) AS BIGINT)"),
            )
            .filter(F.col("containment_bp") >= threshold_bp)
            .withColumn(
                "contained_doc",
                F.when(F.col("sz_a") < F.col("sz_b"), F.col("doc_a"))
                .when(F.col("sz_b") < F.col("sz_a"), F.col("doc_b"))
                .otherwise(F.least("doc_a", "doc_b")),
            )
            .select("doc_a", "doc_b", "inter", "containment_bp", "contained_doc")
            .orderBy("doc_a", "doc_b")
        )

    return _self_overlap(df, text_col, id_col, n, max_df, capped_shingles, score)


def ngram_containment_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_bp: int = 6000,
    max_df: int = 1000,
) -> str:
    return f"""
    WITH sh0 AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= {max_df}),
    sh AS MATERIALIZED (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY a.doc, b.doc)
    SELECT doc_a, doc_b, inter,
           CAST(inter * 10000 // least(sa.sz, sb.sz) AS BIGINT) AS containment_bp,
           CASE WHEN sa.sz < sb.sz THEN doc_a
                WHEN sb.sz < sa.sz THEN doc_b
                ELSE least(doc_a, doc_b) END AS contained_doc
    FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
    WHERE inter * 10000 // least(sa.sz, sb.sz) >= {threshold_bp}
    ORDER BY doc_a, doc_b
    """


def jaccard_threshold_sweep(
    df: DataFrame,
    thresholds_bp: list[int] = (2000, 3000, 5000, 7000, 9000),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int = 1000,
    capped_shingles: DataFrame | None = None,
) -> DataFrame:
    """Dedup-threshold TUNING report: for each candidate Jaccard
    threshold, how many near-dup pairs fire and how many distinct
    documents they touch — the number a pipeline owner reads before
    committing to a cutoff (too low deletes paraphrases, too high
    leaves boilerplate; the reference's evidence-driven generation
    story applied to dedup policy).

    ONE pass over the (shared, df-capped) shingle index computes every
    candidate pair's similarity in exact integer bp (``inter * 10000
    DIV union`` — no float rounding hazard); the sweep itself is a
    broadcast cross-join of the RESULT-sized pair frame against the
    threshold list. Thresholds below min(thresholds_bp) are
    unobservable by construction; pairs are pre-filtered there.

    Pair counts and distinct-doc counts come from ONE aggregate over
    the exploded (threshold, doc) rows — each kept pair contributes
    exactly two doc rows, so ``n_pairs = count DIV 2`` — which means
    the expensive pair lineage has a single consumer and needs no
    persist (round-8 ADVICE found the old two-aggregate shape could
    execute it twice and leaked the persisted frame). When this call
    builds its OWN shingle index (no ``capped_shingles``), that index
    is persisted for the self-join, the threshold-count-sized result
    is materialized, and the index is unpersisted before returning;
    with the shared index the plan is returned lazily and cache
    ownership stays with the caller (the registry's plan gate pins
    this path to the shared cache). While the overlap fits under
    ``DRIVER_ROWS`` its counts come from :func:`driver_overlap` and the
    sweep aggregates a ``LocalTableScan``, with no pin."""
    floor_bp = min(int(t) for t in thresholds_bp)
    th = df.sparkSession.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({int(t)})" for t in sorted(set(thresholds_bp)))
        + " AS t(threshold_bp)"
    )

    def score(overlap: DataFrame) -> DataFrame:
        pairs = overlap.selectExpr(
            "doc_a",
            "doc_b",
            "CAST(inter * 10000 DIV (sz_a + sz_b - inter) AS BIGINT) AS j_bp",
        ).filter(F.col("j_bp") >= floor_bp)
        hits = pairs.join(F.broadcast(th), F.col("j_bp") >= F.col("threshold_bp"))
        agg = (
            hits.select("threshold_bp", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
            .groupBy("threshold_bp")
            .agg(
                F.expr("CAST(count(1) DIV 2 AS BIGINT)").alias("n_pairs"),
                F.countDistinct("doc").cast("long").alias("n_docs"),
            )
        )
        return (
            th.join(agg, "threshold_bp", "left")
            .selectExpr(
                "threshold_bp",
                "coalesce(n_pairs, 0L) AS n_pairs",
                "coalesce(n_docs, 0L) AS n_docs",
            )
            .orderBy("threshold_bp")
        )

    return _self_overlap(df, text_col, id_col, n, max_df, capped_shingles, score)


def jaccard_threshold_sweep_sql(
    table: str,
    thresholds_bp: list[int] = (2000, 3000, 5000, 7000, 9000),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int = 1000,
) -> str:
    """DuckDB twin of :func:`jaccard_threshold_sweep`."""
    floor_bp = min(int(t) for t in thresholds_bp)
    values = ", ".join(f"({int(t)})" for t in sorted(set(thresholds_bp)))
    return f"""
    WITH sh0 AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({_shingles_sql(text_col, n)}) AS sh FROM {table}),
    keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= {max_df}),
    sh AS MATERIALIZED (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
    sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc < b.doc
      GROUP BY a.doc, b.doc),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(inter * 10000 // (sa.sz + sb.sz - inter) AS BIGINT) AS j_bp
      FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
      WHERE inter * 10000 // (sa.sz + sb.sz - inter) >= {floor_bp}),
    th(threshold_bp) AS (VALUES {values}),
    hits AS (SELECT th.threshold_bp, p.doc_a, p.doc_b
             FROM pairs p JOIN th ON p.j_bp >= th.threshold_bp),
    stats AS (SELECT threshold_bp, CAST(count(*) AS BIGINT) AS n_pairs
              FROM hits GROUP BY threshold_bp),
    docs AS (
      SELECT threshold_bp, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM (SELECT threshold_bp, doc_a AS doc FROM hits
            UNION ALL SELECT threshold_bp, doc_b FROM hits)
      GROUP BY threshold_bp)
    SELECT th.threshold_bp,
           coalesce(stats.n_pairs, 0) AS n_pairs,
           coalesce(docs.n_docs, 0) AS n_docs
    FROM th LEFT JOIN stats USING (threshold_bp) LEFT JOIN docs USING (threshold_bp)
    ORDER BY threshold_bp
    """
