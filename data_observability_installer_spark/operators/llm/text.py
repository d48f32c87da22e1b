"""Text-analysis operators for training-data pipelines.

Per the build charter these are first-class alongside the reference's
own surface: language-ID (n-gram/function-word heuristic), quality
scoring (length/punct/stopword ratios), token counting (whitespace +
regex word classes), and document fingerprinting (normalized-content
hash). Every operator is pure ``pyspark.sql.functions`` Column
arithmetic — JVM regex evaluation inside whole-stage codegen, no
Python in the hot path — with a DuckDB-SQL twin for the oracle.

At 100 TB these are embarrassingly parallel single-pass maps; the only
care is keeping regexes RE2/Java-compatible so the same pattern runs
everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ...functions.driver import local_frame

# tiny function-word profiles; enough signal for coarse routing
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|with)\b",
    "fr": r"\b(le|la|les|des|et|est|dans|une?)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein)\b",
    "es": r"\b(el|los|las|de|y|es|en|una?)\b",
}
CJK = r"[一-鿿]"

STOPWORDS_RE = r"\b(the|a|an|and|or|of|to|in|is|are|was|be)\b"
WORD_RE = r"[A-Za-z]+"
NUM_RE = r"[0-9]+"
PUNCT_RE = r"[^\w\s]"


def _count_re(col: str, pattern: str) -> Column:
    return F.regexp_count(F.col(col), F.lit(pattern))


def _count_re_sql(col: str, pattern: str) -> str:
    # DuckDB: no regexp_count; length of extract_all. Standard SQL
    # string literals pass backslashes through verbatim — only quotes
    # need escaping (doubling backslashes would corrupt \w, \s, \b).
    escaped = pattern.replace("'", "''")
    return f"len(regexp_extract_all({col}, '{escaped}'))"


def language_pred_col(text_col: str = "text") -> Column:
    """The language-ID decision as a reusable Column expression (CJK
    charset check, else argmax of function-word hits; ties break by
    fixed language order)."""
    scores = {lang: _count_re(text_col, pat) for lang, pat in LANG_MARKERS.items()}
    pred = F.when(_count_re(text_col, CJK) > 0, F.lit("zh"))
    best = None
    for lang in LANG_MARKERS:  # fixed order = deterministic tie-break
        cond = F.lit(True)
        for other in LANG_MARKERS:
            if other != lang:
                op = scores[lang] >= scores[other] if list(LANG_MARKERS).index(lang) < list(
                    LANG_MARKERS
                ).index(other) else scores[lang] > scores[other]
                cond = cond & op
        best = pred.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("unknown"))


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Coarse language-ID: CJK charset check, else argmax of
    function-word hits (ties break by fixed language order)."""
    return df.select(id_col, language_pred_col(text_col).alias("pred_lang"))


def language_id_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    score = {lang: _count_re_sql(text_col, pat) for lang, pat in LANG_MARKERS.items()}
    cjk = _count_re_sql(text_col, CJK)
    langs = list(LANG_MARKERS)
    whens = []
    for lang in langs:
        conds = []
        for other in langs:
            if other != lang:
                op = ">=" if langs.index(lang) < langs.index(other) else ">"
                conds.append(f"s_{lang} {op} s_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return (
        f"WITH s AS MATERIALIZED (SELECT {id_col}, {cjk} AS cjk, "
        + ", ".join(f"{score[lang]} AS s_{lang}" for lang in langs)
        + f" FROM {table}) SELECT {id_col}, CASE WHEN cjk > 0 THEN 'zh' "
        + " ".join(whens)
        + " ELSE 'unknown' END AS pred_lang FROM s"
    )


def quality_cols(text_col: str = "text") -> dict[str, Column]:
    """word_ct / quality as reusable Column expressions."""
    n_chars = F.length(text_col).cast("double")
    words = _count_re(text_col, WORD_RE).cast("double")
    stop = _count_re(text_col, STOPWORDS_RE).cast("double")
    punct = _count_re(text_col, PUNCT_RE).cast("double")
    len_band = F.least(n_chars / 200.0, F.lit(1.0)) * F.when(n_chars > 8000, 0.5).otherwise(1.0)
    punct_ok = F.when(punct / F.greatest(n_chars, F.lit(1.0)) > 0.1, 0.5).otherwise(1.0)
    stop_rate = stop / F.greatest(words, F.lit(1.0))
    stop_ok = F.when((stop_rate >= 0.05) & (stop_rate <= 0.6), 1.0).otherwise(0.6)
    return {
        "word_ct": F.round(words, 0),
        "quality": F.round(0.5 * len_band + 0.25 * punct_ok + 0.25 * stop_ok, 4),
    }


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite quality heuristic in [0, 1]: length band, low punct
    noise, healthy stopword rate, sane mean word length."""
    cols = quality_cols(text_col)
    return df.select(
        id_col,
        cols["word_ct"].alias("word_ct"),
        cols["quality"].alias("quality"),
    )


def quality_score_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    n = f"CAST(length({text_col}) AS DOUBLE)"
    words = f"CAST({_count_re_sql(text_col, WORD_RE)} AS DOUBLE)"
    stop = f"CAST({_count_re_sql(text_col, STOPWORDS_RE)} AS DOUBLE)"
    punct = f"CAST({_count_re_sql(text_col, PUNCT_RE)} AS DOUBLE)"
    return (
        f"WITH b AS MATERIALIZED (SELECT {id_col}, {n} AS n, {words} AS w, {stop} AS st, {punct} AS p FROM {table}) "
        f"SELECT {id_col}, round(w, 0) AS word_ct, "
        f"round(0.5 * (least(n / 200.0, 1.0) * (CASE WHEN n > 8000 THEN 0.5 ELSE 1.0 END)) "
        f"+ 0.25 * (CASE WHEN p / greatest(n, 1.0) > 0.1 THEN 0.5 ELSE 1.0 END) "
        f"+ 0.25 * (CASE WHEN st / greatest(w, 1.0) BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.6 END), 4) "
        f"AS quality FROM b"
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens plus a BPE-ish class split (letter runs /
    digit runs / punctuation marks counted separately)."""
    return df.select(
        id_col,
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("ws_tokens"),
        _count_re(text_col, WORD_RE).alias("word_tokens"),
        _count_re(text_col, NUM_RE).alias("num_tokens"),
        _count_re(text_col, PUNCT_RE).alias("punct_tokens"),
        (_count_re(text_col, WORD_RE) + _count_re(text_col, NUM_RE) + _count_re(text_col, PUNCT_RE)).alias(
            "bpe_ish_tokens"
        ),
    )


def token_counts_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    w = _count_re_sql(text_col, WORD_RE)
    n = _count_re_sql(text_col, NUM_RE)
    p = _count_re_sql(text_col, PUNCT_RE)
    ws = f"len(regexp_split_to_array(trim({text_col}), '\\s+'))"
    return (
        f"SELECT {id_col}, CAST({ws} AS INT) AS ws_tokens, CAST({w} AS INT) AS word_tokens, "
        f"CAST({n} AS INT) AS num_tokens, CAST({p} AS INT) AS punct_tokens, "
        f"CAST({w} + {n} + {p} AS INT) AS bpe_ish_tokens FROM {table}"
    )


def fingerprint_col(text_col: str = "text") -> Column:
    """The normalized-content md5 as a reusable Column (shared with the
    streaming dedup)."""
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col(text_col)), PUNCT_RE, ""), r"\s+", " ")
    )
    return F.md5(norm)


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 over case-folded, punctuation-stripped,
    whitespace-collapsed text — the exact-dedup key that survives
    formatting noise."""
    return df.select(id_col, fingerprint_col(text_col).alias("fingerprint"))


def fingerprint_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    norm = (
        f"trim(regexp_replace(regexp_replace(lower({text_col}), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))"
    )
    return f"SELECT {id_col}, md5({norm}) AS fingerprint FROM {table}"


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 50,
    overlap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into whitespace-token windows of ``max_tokens``
    with ``overlap`` tokens of context between consecutive chunks — the
    standard pre-tokenization chunking for context-bounded training.

    Pure Column arithmetic: split -> sequence of chunk starts ->
    posexplode -> slice. The 1->N fan-out happens in-plan (no shuffle);
    chunk text is emitted as md5 + token count so downstream dedup can
    run per-chunk without re-materializing text. stride =
    max_tokens - overlap; the last chunk may be short but is never
    empty; a document shorter than max_tokens yields exactly one chunk.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    return (
        df.select(id_col, words.alias("_w"), F.explode(starts).alias("start"))
        .select(
            id_col,
            (F.col("start") / stride).cast("int").alias("chunk_idx"),
            F.size(F.slice(F.col("_w"), F.col("start") + 1, max_tokens)).alias("chunk_tokens"),
            F.md5(F.array_join(F.slice(F.col("_w"), F.col("start") + 1, max_tokens), " ")).alias(
                "chunk_md5"
            ),
        )
    )


def repetition_screen(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition
    filters — Rae et al. 2021, "Scaling Language Models: Methods,
    Analysis & Insights from Training Gopher", Table A1): for each doc,
    over its word ``n``-grams WITH multiplicity,

    - ``total_ngrams``  — occurrences,
    - ``top_ngram_ct``  — occurrences of the most frequent n-gram,
    - ``top_ngram_frac`` — top_ngram_ct / total (the "fraction of
      characters in the most common n-gram" proxy),
    - ``dup_ngram_frac`` — fraction of occurrences that are repeats
      (1 - distinct/total).

    Docs dominated by a few repeated phrases (boilerplate, scraped
    nav bars, degenerate generations) score high and get dropped.

    Plan: explode n-grams (map stage), ONE shuffle on the composite
    (doc, gram) key — well-spread at any corpus size because the doc
    id is in the key — then a per-doc agg whose input is already
    doc-partitioned (no second exchange of comparable size). No
    Python, no windows.
    """
    from .dedup import exploded_shingles

    grams = exploded_shingles(df, text_col, id_col, n, distinct=False)
    per_gram = grams.groupBy("doc", "sh").agg(F.count(F.lit(1)).alias("ct"))
    return (
        per_gram.groupBy("doc")
        .agg(
            F.sum("ct").alias("total_ngrams"),
            F.max("ct").alias("top_ngram_ct"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "total_ngrams",
            "top_ngram_ct",
            F.round(F.col("top_ngram_ct") / F.col("total_ngrams"), 4).alias("top_ngram_frac"),
            F.round(1 - F.col("distinct_ngrams") / F.col("total_ngrams"), 4).alias(
                "dup_ngram_frac"
            ),
        )
    )


def repetition_screen_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> str:
    from .dedup import _shingles_sql

    sh = _shingles_sql(text_col, n, distinct=False)
    return f"""
    WITH g AS MATERIALIZED (
      SELECT {id_col} AS doc, unnest({sh}) AS sh FROM {table}),
    per_gram AS (SELECT doc, sh, count(*) AS ct FROM g GROUP BY doc, sh),
    agg AS (
      SELECT doc, CAST(sum(ct) AS BIGINT) AS total_ngrams, max(ct) AS top_ngram_ct,
             count(*) AS distinct_ngrams
      FROM per_gram GROUP BY doc)
    SELECT doc AS {id_col}, total_ngrams, top_ngram_ct,
           round(top_ngram_ct * 1.0 / total_ngrams, 4) AS top_ngram_frac,
           round(1 - distinct_ngrams * 1.0 / total_ngrams, 4) AS dup_ngram_frac
    FROM agg
    """


def chunk_documents_sql(
    table: str,
    max_tokens: int = 50,
    overlap: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    stride = max_tokens - overlap
    words = f"regexp_split_to_array(trim({text_col}), '\\s+')"
    return f"""
    WITH w AS MATERIALIZED (
      SELECT {id_col}, {words} AS ws,
             greatest(CAST(ceil((len({words}) - {overlap}) * 1.0 / {stride}) AS BIGINT), 1)
               AS n_chunks
      FROM {table}),
    u AS (SELECT {id_col}, ws, unnest(range(n_chunks)) AS start FROM w),
    c AS (
      SELECT {id_col}, CAST(start AS INT) AS chunk_idx,
             ws[start * {stride} + 1 : start * {stride} + {max_tokens}] AS chunk
      FROM u)
    SELECT {id_col}, chunk_idx, CAST(len(chunk) AS INT) AS chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM c
    """


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """The counting step of byte-pair-encoding tokenizer training:
    corpus-wide frequencies of ADJACENT character pairs within
    whitespace words, top-``top_n`` (ties broken by pair text). One
    real BPE round would merge the winner and re-count; this exposes
    the scan that dominates that loop as a standalone, oracle-checkable
    operator.

    Plan shape at 100 TB: lower+split+two nested array ops are all
    map-side expressions (one WholeStageCodegen span over the scan);
    the only shuffle is the pair groupBy, whose key space is bounded by
    alphabet^2 (tiny), so partial aggregation collapses each partition
    to at most |alphabet|^2 rows before the exchange. No UDFs, no
    driver loops.

    Reference analog: tokenizer-prep counting in LLM data pipelines
    (Sennrich et al., BPE); not present in the reference installer —
    part of the training-data-pipeline surface this engine adds."""
    words = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    w = df.select(words).filter(F.length("w") >= 2)
    pairs = F.explode(
        F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    ).alias("pair")
    return (
        w.select(pairs)
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_ct"))
        .orderBy(F.desc("pair_ct"), "pair")
        .limit(top_n)
    )


def bpe_pair_counts_sql(
    table: str, text_col: str = "text", top_n: int = 20
) -> str:
    return f"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS w
      FROM {table}),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INT), 2))) AS pair
      FROM w WHERE length(w) >= 2)
    SELECT pair, count(*) AS pair_ct FROM p
    GROUP BY pair ORDER BY pair_ct DESC, pair LIMIT {top_n}
    """


# ---------------------------------------------------------------------------
# Full BPE merge-rule training (Sennrich et al.): N deterministic
# merge rounds over the word-frequency table. bpe_pair_counts exposes
# the scan of ONE round; bpe_train runs the whole loop. The only
# corpus-scale work is one distributed word-frequency aggregation; the
# merge loop then runs driver-local over the collected VOCABULARY
# (distinct words + counts), so a merge round is a dict update, not a
# Spark job. Everything is exact string/int64 arithmetic with
# (count DESC, left, right) tie-breaks, so a DuckDB twin unrolling the
# same rounds as CTEs reproduces the merge table bit-for-bit.
# ---------------------------------------------------------------------------

# unit separator: cannot appear in whitespace-split tokens. The merge
# APPLIERS (bpe_encode_tokens, bpe_compression and every DuckDB twin)
# tokenize text as strings: tokens are DOUBLE-SEP delimited
# ("⟂⟂a⟂⟂b⟂⟂") and a merge of (l, r) replaces the SINGLE-SEP-padded
# pattern "⟂l⟂⟂r⟂" with "⟂lr⟂": each match consumes one separator from
# each boundary pair, so the double-SEP form is restored around the
# merged token AND the scan position after a match still sits on a
# valid left boundary — a run like [a,a,a,a] merges to [aa,aa], exactly
# greedy leftmost BPE. (A single-SEP encoding eats the shared boundary
# and skips every other overlapping occurrence.)
_BPE_SEP = "\x1f"
_BPE_D = _BPE_SEP * 2
_BPE_SEP_SQL = "e'\\x1F'"
_BPE_D_SQL = "e'\\x1F\\x1F'"


def _bpe_train_ctes(table: str, n_merges: int, text_col: str) -> list[str]:
    """The unrolled training CTE triples shared by :func:`bpe_train_sql`
    and :func:`_bpe_tokens_sql` (pair counts p{i}, winner t{i},
    re-tokenized vocabulary w{i})."""
    sep, dsep = _BPE_SEP_SQL, _BPE_D_SQL
    ctes = [
        f"""w0 AS MATERIALIZED (
      SELECT word, count(*) AS ct,
             {dsep} || regexp_replace(word, '(.)', '\\1' || {dsep}, 'g') AS toks
      FROM (SELECT unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS word
            FROM {table})
      WHERE length(word) >= 1 GROUP BY word)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS (
      SELECT a[j] AS l, a[j + 1] AS r, CAST(sum(ct) AS BIGINT) AS pct
      FROM (SELECT ct, list_filter(string_split(toks, {sep}), x -> x <> '') AS a
            FROM {prev}),
           unnest(range(1, len(a))) AS u(j)
      GROUP BY 1, 2)"""
        )
        ctes.append(
            f"t{i} AS (SELECT l, r, pct FROM p{i} ORDER BY pct DESC, l, r LIMIT 1)"
        )
        if i < n_merges:
            ctes.append(
                f"""w{i} AS MATERIALIZED (
      SELECT word, ct,
             replace(toks, (SELECT {sep} || l || {dsep} || r || {sep} FROM t{i}),
                     (SELECT {sep} || l || r || {sep} FROM t{i})) AS toks
      FROM {prev})"""
            )
    return ctes


def bpe_train_sql(table: str, n_merges: int = 12, text_col: str = "text") -> str:
    """DuckDB twin of :func:`bpe_train`: the rounds unrolled as CTE
    triples (pair counts p{i}, winner t{i}, re-tokenized vocabulary
    w{i}) from the same character-level start — the IVF-Lloyd
    unrolling idiom."""
    ctes = _bpe_train_ctes(table, n_merges, text_col)
    rows = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_round, l AS left_tok, r AS right_tok, pct AS pair_ct FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    {rows}
    ORDER BY merge_round
    """


def _bpe_merge_word(toks: tuple, l: str, r: str) -> tuple:
    """One leftmost-greedy non-overlapping merge pass over a token
    tuple — the same semantics as the appliers' single left-to-right
    string ``replace`` ([a,a,a,a] -> [aa,aa])."""
    out = []
    i, n = 0, len(toks)
    while i < n:
        if i + 1 < n and toks[i] == l and toks[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def bpe_train(
    df: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    vocab_cap: int = 1_000_000,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns
    ``(merge_round, left_tok, right_tok, pair_ct)`` in training order.

    ONE distributed pass touches the corpus: the word-frequency
    aggregation, the only row-scale work in BPE training. The merge
    loop runs driver-local over the collected vocabulary with the
    classic incremental pair index (only words containing the winning
    pair are retokenized per round), so a ~30k-merge tokenizer costs
    30k dict updates, not 30k Spark jobs. Each round counts adjacent
    pairs of the current tokenization (weighted by word frequency),
    picks the winner by (count DESC, left, right) and merges it
    leftmost-greedy — round for round the table of the unrolled DuckDB
    twin :func:`bpe_train_sql` and of a token-wise pure-Python trainer
    (tests/test_bpe.py).

    ``vocab_cap`` bounds driver memory: the vocabulary is collected in
    (count DESC, word) order and truncated. A cap above the true
    vocabulary size changes nothing; a binding cap is the standard
    max-vocab truncation tokenizer trainers apply, and drops only the
    rarest words.

    If the vocabulary runs out of pairs before ``n_merges`` (tiny or
    empty corpus), training stops and the merges learned so far are
    returned — the same truncation the fixed-round twin produces (an
    empty winner CTE contributes no row and NULLs out later rounds)."""
    from collections import Counter, defaultdict

    spark = df.sparkSession
    words_df = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), "word")
        .limit(vocab_cap)
    )
    vocab: dict[str, tuple[int, tuple]] = {
        r["word"]: (int(r["ct"]), tuple(r["word"])) for r in words_df.collect()
    }
    pair_ct: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for w, (ct, toks) in vocab.items():
        for p in zip(toks, toks[1:]):
            pair_ct[p] += ct
            pair_words[p].add(w)
    merges = []
    for rnd in range(1, n_merges + 1):
        if not pair_ct:
            break
        (l, r), ct = min(
            pair_ct.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnd, l, r, ct))
        for w in list(pair_words[(l, r)]):
            wct, toks = vocab[w]
            for p in zip(toks, toks[1:]):
                pair_ct[p] -= wct
                if pair_ct[p] <= 0:
                    del pair_ct[p]
                pair_words[p].discard(w)
            toks = _bpe_merge_word(toks, l, r)
            vocab[w] = (wct, toks)
            for p in zip(toks, toks[1:]):
                pair_ct[p] += wct
                pair_words[p].add(w)
    return local_frame(
        spark, merges, "merge_round int, left_tok string, right_tok string, pair_ct long"
    )


def _bpe_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]] | None,
    n_merges: int,
    text_col: str,
) -> Column:
    """Each document's BPE tokens as an array column: the merge table
    (trained by :func:`bpe_train` when ``merges`` is None) applied in
    training order as nested boundary-safe string replaces over the
    double-SEP character encoding — one projection, no UDFs, no
    per-merge jobs."""
    if merges is None:
        merges = [
            (r["left_tok"], r["right_tok"])
            for r in bpe_train(df, n_merges, text_col).collect()
        ]
    # (?s): without it Java's '.' skips the line terminators (U+2028,
    # U+2029, U+0085) that the trainer and the RE2 twin treat as characters
    col = F.array_join(
        F.transform(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda w: F.concat(
                F.lit(_BPE_D), F.regexp_replace(w, "(?s)(.)", "$1" + _BPE_D)
            ),
        ),
        " ",
    )
    for l, r in merges:
        col = F.replace(
            col,
            F.lit(_BPE_SEP + l + _BPE_D + r + _BPE_SEP),
            F.lit(_BPE_SEP + l + r + _BPE_SEP),
        )
    return F.filter(F.split(col, _BPE_SEP), lambda x: (x != "") & (x != " "))


def _bpe_tokens_sql(table: str, n_merges: int, text_col: str) -> tuple[str, str]:
    """Twin of :func:`_bpe_tokens` (train-in-call form): the joined
    unrolled training CTEs and the nested-replace expression over
    ``text_col`` that applies their winners in round order. An
    exhausted round's empty winner CTE degrades to a chr(1)-pattern
    no-op — matching the Spark side's shorter merge list."""
    sep, dsep = _BPE_SEP_SQL, _BPE_D_SQL
    ctes = _bpe_train_ctes(table, n_merges, text_col)
    expr = (
        f"array_to_string(list_transform(regexp_split_to_array(lower({text_col}),"
        f" '\\s+'), w -> {dsep} || regexp_replace(w, '(.)', '\\1' || {dsep}, 'g')), ' ')"
    )
    for i in range(1, n_merges + 1):
        pat = f"coalesce((SELECT {sep} || l || {dsep} || r || {sep} FROM t{i}), chr(1))"
        rep = f"coalesce((SELECT {sep} || l || r || {sep} FROM t{i}), chr(1))"
        expr = f"replace({expr},\n      {pat},\n      {rep})"
    return ",\n    ".join(ctes), expr


def bpe_encode_tokens(
    df: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    top_n: int = 30,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenize the corpus with a trained BPE merge table and return
    the top-``top_n`` token histogram — the CONSUMER side of BPE
    training (the pass a tokenizer runs over 100 TB after training
    once).

    Application is map-only: the merge table is metadata (one
    vocabulary-sized training job via :func:`bpe_train` when
    ``merges`` is not supplied), applied in training order as
    ``n_merges`` nested boundary-safe string replaces inside a single
    whole-stage-codegen projection — no UDFs, no per-merge jobs, and
    the only shuffle is the final histogram groupBy (key space =
    learned vocabulary). Pass ``merges`` to reuse an offline-trained
    table and skip training entirely (the train-once/apply-many seam,
    like similarity.topk_ivf's ``cents``)."""
    tok = F.explode(_bpe_tokens(df, merges, n_merges, text_col))
    return (
        df.select(tok.alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("token_ct"))
        .orderBy(F.desc("token_ct"), "token")
        .limit(top_n)
    )


def bpe_encode_tokens_sql(
    table: str, n_merges: int = 32, text_col: str = "text", top_n: int = 30
) -> str:
    """DuckDB twin of :func:`bpe_encode_tokens` (train-in-call form):
    the shared unrolled training CTEs learn the same merge table, then
    the same nested-replace chain tokenizes the corpus."""
    joined, expr = _bpe_tokens_sql(table, n_merges, text_col)
    return f"""
    WITH {joined},
    applied AS (SELECT {expr} AS a FROM {table})
    SELECT token, CAST(count(*) AS BIGINT) AS token_ct FROM (
      SELECT unnest(list_filter(string_split(a, {_BPE_SEP_SQL}),
                                x -> x <> '' AND x <> ' ')) AS token
      FROM applied)
    GROUP BY token ORDER BY token_ct DESC, token LIMIT {top_n}
    """


def bpe_compression(
    df: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    by_col: str = "source",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Tokenizer-fit report: per corpus slice (source/domain), chars
    per BPE token after applying a trained merge table — the number a
    tokenizer team watches per domain (a slice compressing much worse
    than the rest means the vocabulary wasn't trained for it, and its
    token budget silently inflates).

    Same map-only nested-replace application as
    :func:`bpe_encode_tokens`, but the per-doc token count is just the
    SIZE of the token array — no explode, so the corpus pass emits one
    row per doc and the only shuffle is the tiny per-slice rollup.
    chars_per_token_bp is an exact integer floor division of summed
    integer counts (no float ratios). Pass ``merges`` to reuse an
    offline-trained table (the train-once/apply-many seam)."""
    tok_ct = F.size(_bpe_tokens(df, merges, n_merges, text_col)).cast("long")
    per_doc = df.select(
        F.col(by_col).alias("slice_key"),
        F.length(text_col).cast("long").alias("chars"),
        tok_ct.alias("tokens"),
    )
    return (
        per_doc.groupBy("slice_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("chars").cast("long").alias("total_chars"),
            F.sum("tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "chars_per_token_bp",
            F.expr("CAST(total_chars * 10000L DIV greatest(total_tokens, 1L) AS BIGINT)"),
        )
        .orderBy("slice_key")
    )


def bpe_compression_sql(
    table: str, n_merges: int = 32, text_col: str = "text", by_col: str = "source"
) -> str:
    """DuckDB twin of :func:`bpe_compression` (train-in-call form —
    shares the training CTEs and replace chain with
    bpe_encode_tokens_sql)."""
    joined, expr = _bpe_tokens_sql(table, n_merges, text_col)
    return f"""
    WITH {joined},
    per_doc AS (
      SELECT {by_col} AS slice_key,
             CAST(length({text_col}) AS BIGINT) AS chars,
             CAST(length(list_filter(string_split({expr}, {_BPE_SEP_SQL}),
                                     x -> x <> '' AND x <> ' ')) AS BIGINT) AS tokens
      FROM {table})
    SELECT slice_key,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           CAST(sum(tokens) AS BIGINT) AS total_tokens,
           CAST(sum(chars) * 10000 // greatest(sum(tokens), 1) AS BIGINT)
             AS chars_per_token_bp
    FROM per_doc GROUP BY slice_key ORDER BY slice_key
    """


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Appendix A):
# the named rule set production corpus filters start from. Every rule
# is exact integer arithmetic (cross-multiplied ratios, no floats), so
# the verdicts replay bit-for-bit on DuckDB.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_BULLET_RE = r"^[\s]*[-*•]"
_ELLIPSIS_END_RE = r"(\.\.\.|…)[\s]*$"
_SYMBOL_RE = r"(#|\.\.\.|…)"


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document verdicts for the seven Gopher quality rules:
    word-count band, mean word length in [3, 10] chars, symbol-to-word
    ratio <= 0.1, <= 90% bullet-started lines, <= 30% ellipsis-ended
    lines, >= 80% of words containing an alphabetic char, and >=
    ``min_stopwords`` distinct Gopher stopwords (paper threshold 2;
    parameterized because a corpus' stopword density is the one
    corpus-dependent knob in the set). ``pass`` is the conjunction.
    One scan,
    all map-side regex/integer arithmetic inside codegen — the filter
    chain shape of curation_filter with the published thresholds."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    lines = F.split(F.col(text_col), r"\n")
    w = F.size(words).cast("long")
    # total word chars = the text minus its whitespace
    wchars = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("long")
    symbols = _count_re(text_col, _SYMBOL_RE).cast("long")
    n_lines = F.size(lines).cast("long")
    bullet = F.size(
        F.filter(lines, lambda ln: ln.rlike(_BULLET_RE))
    ).cast("long")
    ellipsis = F.size(
        F.filter(lines, lambda ln: ln.rlike(_ELLIPSIS_END_RE))
    ).cast("long")
    alpha_words = F.size(
        F.filter(words, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    stop_hits = F.size(
        F.array_distinct(
            F.filter(
                F.transform(words, lambda t: F.lower(t)),
                lambda t: t.isin(*GOPHER_STOPWORDS),
            )
        )
    ).cast("long")
    r_word_count = (w >= min_words) & (w <= max_words)
    r_mean_wlen = (wchars >= 3 * w) & (wchars <= 10 * w)
    r_symbols = symbols * 10 <= w
    r_bullets = bullet * 10 <= 9 * n_lines
    r_ellipsis = ellipsis * 10 <= 3 * n_lines
    r_alpha = alpha_words * 5 >= 4 * w
    r_stopwords = stop_hits >= min_stopwords
    return df.select(
        id_col,
        w.alias("word_ct"),
        r_word_count.alias("r_word_count"),
        r_mean_wlen.alias("r_mean_word_len"),
        r_symbols.alias("r_symbol_ratio"),
        r_bullets.alias("r_bullet_lines"),
        r_ellipsis.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        (
            r_word_count & r_mean_wlen & r_symbols & r_bullets & r_ellipsis
            & r_alpha & r_stopwords
        ).alias("pass"),
    ).orderBy(id_col)


def gopher_rules_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> str:
    """DuckDB twin: identical splits, identical cross-multiplied
    integer rules."""
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH b AS MATERIALIZED (
      SELECT {id_col},
             regexp_split_to_array(trim({text_col}), '\\s+') AS words,
             regexp_split_to_array({text_col}, '\\n') AS lines,
             CAST(length(regexp_replace({text_col}, '\\s+', '', 'g')) AS BIGINT)
               AS wchars,
             CAST({_count_re_sql(text_col, _SYMBOL_RE)} AS BIGINT) AS symbols
      FROM {table}),
    m AS (
      SELECT {id_col},
             CAST(len(words) AS BIGINT) AS w,
             wchars,
             symbols,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               ln -> regexp_matches(ln, '^[\\s]*[-*•]'))) AS BIGINT)
               AS bullet,
             CAST(len(list_filter(lines,
               ln -> regexp_matches(ln, '(\\.\\.\\.|…)[\\s]*$'))) AS BIGINT)
               AS ellipsis,
             CAST(len(list_filter(words,
               t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_distinct(list_filter(
               list_transform(words, t -> lower(t)),
               t -> t IN ({stop_list})))) AS BIGINT) AS stop_hits
      FROM b)
    SELECT {id_col},
           w AS word_ct,
           (w >= {min_words} AND w <= {max_words}) AS r_word_count,
           (wchars >= 3 * w AND wchars <= 10 * w) AS r_mean_word_len,
           (symbols * 10 <= w) AS r_symbol_ratio,
           (bullet * 10 <= 9 * n_lines) AS r_bullet_lines,
           (ellipsis * 10 <= 3 * n_lines) AS r_ellipsis_lines,
           (alpha_words * 5 >= 4 * w) AS r_alpha_words,
           (stop_hits >= {min_stopwords}) AS r_stopwords,
           ((w >= {min_words} AND w <= {max_words})
            AND (wchars >= 3 * w AND wchars <= 10 * w)
            AND (symbols * 10 <= w)
            AND (bullet * 10 <= 9 * n_lines)
            AND (ellipsis * 10 <= 3 * n_lines)
            AND (alpha_words * 5 >= 4 * w)
            AND (stop_hits >= {min_stopwords})) AS pass
    FROM m ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# C4-style page cleaning (Raffel et al. 2020, arXiv:1910.10683 §2.2):
# the line-level keep rules + page-level drops of the canonical
# web-corpus pipeline.
# ---------------------------------------------------------------------------

_C4_TERMINAL_RE = r"""[.!?]["']?\s*$"""
_C4_PAGE_BAD_RE = r"(lorem ipsum|\{)"


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_lines: int = 3,
    require_terminal: bool = True,
) -> DataFrame:
    """Per-page C4 cleaning verdicts: a line survives when it ends in
    terminal punctuation (paper rule; ``require_terminal=False`` for
    punctuation-free corpora), has >= ``min_line_words`` words, and
    does not mention javascript; the PAGE drops when it contains
    'lorem ipsum' or '{' (reason='boilerplate') or when fewer than
    ``min_lines`` lines survive (reason='too_few_lines'). Returns
    (id, n_lines, n_kept, dropped, reason, clean_text) with clean_text
    NULL on dropped pages — one map-only scan, codegen end to end."""
    lines = F.split(F.col(text_col), r"\n")
    term = (
        (lambda ln: ln.rlike(_C4_TERMINAL_RE))
        if require_terminal
        else (lambda ln: F.lit(True))
    )
    keep_line = lambda ln: (  # noqa: E731
        term(ln)
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_line_words)
        & ~F.lower(ln).contains("javascript")
    )
    kept = F.filter(lines, keep_line)
    page_bad = F.lower(F.col(text_col)).rlike(_C4_PAGE_BAD_RE)
    n_kept = F.size(kept)
    dropped = page_bad | (n_kept < min_lines)
    reason = (
        F.when(page_bad, F.lit("boilerplate"))
        .when(n_kept < min_lines, F.lit("too_few_lines"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.select(
        id_col,
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        dropped.alias("dropped"),
        reason.alias("reason"),
        F.when(~dropped, F.array_join(kept, "\n")).alias("clean_text"),
    ).orderBy(id_col)


def c4_clean_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_lines: int = 3,
    require_terminal: bool = True,
) -> str:
    """DuckDB twin: identical splits, line rules, page drops."""
    term = (
        "regexp_matches(ln, '[.!?][\"'']?\\s*$') AND "
        if require_terminal
        else ""
    )
    return f"""
    WITH b AS MATERIALIZED (
      SELECT {id_col},
             regexp_split_to_array({text_col}, '\\n') AS lines,
             regexp_matches(lower({text_col}), '(lorem ipsum|\\{{)') AS page_bad
      FROM {table}),
    k AS (
      SELECT {id_col}, page_bad,
             CAST(len(lines) AS INT) AS n_lines,
             list_filter(lines, ln ->
               {term}len(regexp_split_to_array(trim(ln), '\\s+'))
                 >= {min_line_words}
               AND NOT contains(lower(ln), 'javascript')) AS kept
      FROM b)
    SELECT {id_col}, n_lines,
           CAST(len(kept) AS INT) AS n_kept,
           (page_bad OR len(kept) < {min_lines}) AS dropped,
           CASE WHEN page_bad THEN 'boilerplate'
                WHEN len(kept) < {min_lines} THEN 'too_few_lines'
                ELSE NULL END AS reason,
           CASE WHEN NOT (page_bad OR len(kept) < {min_lines})
                THEN array_to_string(kept, chr(10)) ELSE NULL END AS clean_text
    FROM k ORDER BY {id_col}
    """
