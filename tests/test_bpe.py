"""BPE trainer: bit-parity with a pure-Python token-wise greedy
trainer (including overlapping-run merges), determinism, and the
vocabulary-exhaustion guard."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from data_observability_installer_spark.operators.llm.text import bpe_train


def _python_bpe(texts: list[str], n_merges: int):
    """Token-wise reference: count adjacent pairs weighted by word
    frequency, merge the (count DESC, left, right) winner with a
    leftmost-greedy pass."""
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[w] += 1
    vocab = {w: list(w) for w in words}
    out = []
    for rnd in range(1, n_merges + 1):
        pc = Counter()
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += words[w]
        if not pc:
            return out
        (l, r), ct = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        out.append((rnd, l, r, ct))
        for w, toks in vocab.items():
            merged, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(toks[i])
                    i += 1
            vocab[w] = merged
    return out


def _rows(df):
    return [
        (r["merge_round"], r["left_tok"], r["right_tok"], r["pair_ct"])
        for r in df.collect()
    ]


def test_bpe_matches_reference_with_runs(spark):
    texts = [
        "the theme these then the aaaa aaa",
        "low lower lowest the them aaaa",
        "new newer newest these baaaab",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    assert _rows(bpe_train(df, n_merges=10)) == _python_bpe(texts, 10)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde ", min_size=4, max_size=30).filter(
            lambda s: s.strip()
        ),
        min_size=2,
        max_size=5,
    )
)
def test_bpe_property_parity(spark, texts):
    """Random small-alphabet corpora (heavy with repeated-pair runs —
    the overlapping-merge hazard) train identically to the token-wise
    reference."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    n = 4
    assert _rows(bpe_train(df, n_merges=n)) == _python_bpe(texts, n)


def test_bpe_exhaustion_truncates(spark):
    # single-char vocabulary: no pairs at all -> empty merge table
    df = spark.createDataFrame([("a a a",)], "text string")
    assert _rows(bpe_train(df, n_merges=2)) == []
    # one mergeable pair, then exhausted -> one row, no raise
    df2 = spark.createDataFrame([("a a a bb",)], "text string")
    assert _rows(bpe_train(df2, n_merges=3)) == [(1, "b", "b", 1)]


def test_bpe_empty_corpus(spark):
    df = spark.createDataFrame([], "text string")
    assert _rows(bpe_train(df, n_merges=3)) == []


def test_bpe_deterministic(spark):
    texts = [("the quick brown fox jumps over the lazy dog",)] * 3
    df = spark.createDataFrame(texts, "text string").repartition(7)
    a = _rows(bpe_train(df, n_merges=6))
    b = _rows(bpe_train(df.repartition(3), n_merges=6))
    assert a == b


def test_bpe_local_equals_distributed(spark, sf_smoke):
    """The trainer reproduces the unrolled DuckDB twin round-for-round
    on real documents — same winners, same counts."""
    import duckdb

    from data_observability_installer_spark.operators.llm.text import bpe_train_sql
    from data_observability_installer_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    got = _rows(bpe_train(docs, n_merges=12))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_smoke}/documents.parquet')"
    )
    twin = [tuple(r) for r in con.execute(bpe_train_sql("documents", 12)).fetchall()]
    assert len(got) == 12
    assert got == twin


def test_bpe_local_prefix_property(spark):
    """Training DEEPER than the token-wise reference agrees with it on
    the shared prefix of rounds (training is prefix-stable), and the
    reference run to the same depth matches every round."""
    texts = ["the cat sat on the mat", "the bat and the cat", "mat cat bat"] * 4
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    shallow = _python_bpe(texts, 6)
    deep = _rows(bpe_train(df, n_merges=20))
    assert len(deep) > len(shallow)
    assert deep[: len(shallow)] == shallow
    assert _python_bpe(texts, min(20, len(deep))) == deep[: min(20, len(deep))]


def test_bpe_local_exhaustion_and_empty(spark):
    df = spark.createDataFrame([("a b c",)], "text string")
    assert _rows(bpe_train(df, n_merges=5)) == []
    empty = spark.createDataFrame([], "text string")
    assert _rows(bpe_train(empty, n_merges=3)) == []


def test_bpe_local_vocab_cap_keeps_frequent_words(spark):
    """A binding cap trains on the most frequent words only — the
    merge table from the capped vocabulary equals training on the
    frequent subset."""
    texts = ["zz zz zz zz yy yy qq"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    capped = _rows(bpe_train(df, n_merges=3, vocab_cap=2))
    subset = _python_bpe(["zz zz zz zz yy yy"], 3)
    assert capped == subset


# measured: 6 jobs (vocabulary aggregation + collect, result
# materialization); a job per merge round would be 12 or more
BPE_TRAIN_DOCUMENTS_JOB_BUDGET = 6


def test_bpe_train_documents_job_budget(spark, sf_smoke):
    """Job tripwire for the registry query: training is one
    word-frequency pass plus the result materialization — a fixed
    handful of Spark jobs, never one (or three) per merge round."""
    from data_observability_installer_spark.plans import registry

    sc = spark.sparkContext
    sc.setJobGroup("bpe_train_documents_budget", "job-budget run")
    try:
        rows = registry.queries()["bpe_train_documents"](spark, sf_smoke).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("bpe_train_documents_budget")
    finally:
        sc.setJobGroup(None, None)
    assert len(rows) == 12
    assert len(jobs) <= BPE_TRAIN_DOCUMENTS_JOB_BUDGET, (
        f"bpe_train_documents ran {len(jobs)} Spark jobs "
        f"(budget {BPE_TRAIN_DOCUMENTS_JOB_BUDGET})"
    )


def test_bpe_encode_applies_merges(spark):
    """Encoding with a trained table produces the merged tokens, and
    an explicit merge table skips training (train-once/apply-many)."""
    from data_observability_installer_spark.operators.llm.text import (
        bpe_encode_tokens,
    )

    texts = ["aaab aaab aaab", "ab ab"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    # merges learned: (a,a) first (count 6: 2 per 'aaab' x3... weighted),
    # encode with 2 merges and check tokens reflect greedy application
    got = {r["token"]: r["token_ct"] for r in bpe_encode_tokens(df, n_merges=2).collect()}
    # whatever the learned rules, total token mass must cover the corpus:
    # every character belongs to exactly one token
    assert sum(len(tok) * ct for tok, ct in got.items()) == sum(
        len(w) for t in texts for w in t.split()
    )
    # explicit table: single known merge (a,b) -> 'ab' token appears
    got2 = {
        r["token"]: r["token_ct"]
        for r in bpe_encode_tokens(df, merges=[("a", "b")]).collect()
    }
    assert got2["ab"] == 5  # 3x 'aaab' + 2x 'ab'
    assert "b" not in got2  # every b was consumed by the merge


def test_bpe_encode_line_terminator_matches_twin(spark):
    """A line terminator the whitespace split leaves inside a word
    (U+2028 here) is one character to the trainer and both appliers:
    the Spark tokens equal the DuckDB twin's."""
    import duckdb

    from data_observability_installer_spark.operators.llm.text import (
        bpe_encode_tokens,
        bpe_encode_tokens_sql,
    )

    text = "x\u2028y x\u2028y zz"
    df = spark.createDataFrame([(text,)], "text string")
    got = sorted(tuple(r) for r in bpe_encode_tokens(df, n_merges=1).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE planted AS SELECT ? AS text", [text])
    twin = sorted(
        tuple(r) for r in con.execute(bpe_encode_tokens_sql("planted", n_merges=1)).fetchall()
    )
    assert got == twin


def test_bpe_compression_counts_are_exact_and_merges_compress(spark):
    """Token counts must equal the pure-Python tokenizer's, and more
    merges can only reduce (never raise) a slice's token count."""
    from data_observability_installer_spark.operators.llm.text import bpe_compression

    rows = [
        (1, "the cat sat on the mat", "a"),
        (2, "the dog sat on the log", "a"),
        (3, "zq xv zq xv zq xv", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out0 = {r.slice_key: r for r in bpe_compression(docs, n_merges=0).collect()}
    out8 = {r.slice_key: r for r in bpe_compression(docs, n_merges=8).collect()}
    # zero merges: every char of every word is a token
    for sk, texts in {"a": rows[:2], "b": rows[2:]}.items():
        chars_no_space = sum(len(c) for _, t, _ in texts for c in t.split())
        assert out0[sk].total_tokens == chars_no_space
        assert out0[sk].total_chars == sum(len(t) for _, t, _ in texts)
    assert out8["a"].total_tokens < out0["a"].total_tokens
    assert all(out8[k].total_tokens <= out0[k].total_tokens for k in out0)
    assert out8["a"].chars_per_token_bp > out0["a"].chars_per_token_bp


def test_cluster_profile_invariants(spark):
    """Cell sizes partition the corpus; shares/purity are exact bp."""
    from data_observability_installer_spark.operators.llm.similarity import cluster_profile
    from data_observability_installer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    total = emb.count()
    rows = cluster_profile(emb).collect()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert 0 < r.n and r.top_label_ct <= r.n
        assert r.share_bp == r.n * 10000 // total
        assert r.purity_bp == r.top_label_ct * 10000 // r.n
        assert r.mean_norm_e6 > 0


def test_bpe_local_merge_table_prefix_property(spark, sf_correct):
    """A production-count run's merge table must EXTEND a smaller run's
    bit-for-bit (the 30k-merge SCALE_BENCH row is trustworthy iff its
    prefix equals the oracle-verified 256-round table) — and training
    must stay a BOUNDED number of Spark jobs, never one per round."""
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    small = [tuple(r) for r in bpe_train(docs, n_merges=64).collect()]

    sc = spark.sparkContext
    sc.setJobGroup("bpe512", "prefix-property run")
    big_df = bpe_train(docs, n_merges=512)
    big = [tuple(r) for r in big_df.collect()]
    jobs = sc.statusTracker().getJobIdsForGroup("bpe512")
    sc.setJobGroup(None, None)

    assert big[: len(small)] == small
    assert len(big) > len(small)
    # one vocab collect + the result materializations — not 512 jobs
    assert len(jobs) < 10, f"job-per-merge-round regression: {len(jobs)} jobs"
