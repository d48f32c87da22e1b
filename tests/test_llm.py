"""LLM-training-data pipeline operators: dedup, similarity, text.

Hand-built micro-corpora with known answers (planted duplicates,
orthogonal/parallel vectors), plus plan assertions that the scale
guarantees hold (minhash verify never materializes the all-pairs
join; the brute-force top-k broadcasts the query vector).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.llm.dedup import (
    dedup_exact,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from data_observability_installer_spark.operators.llm.similarity import (
    embedding_near_dups,
    topk_bruteforce,
    topk_lsh,
)
from data_observability_installer_spark.operators.llm.text import (
    fingerprint,
    language_id,
    quality_score,
    token_counts,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 1
    (4, "completely different content about spark engines and shuffles"),
    (5, "Le chat est dans la maison et le chien est dans le jardin"),
    (6, "der Hund ist nicht mit der Katze und das ist gut"),
    (7, "The Quick Brown Fox! Jumps... over the lazy dog?"),  # fmt noise of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact_groups(docs):
    rows = {r["content_hash"]: r for r in dedup_exact(docs).collect()}
    assert len(rows) == 6  # 7 docs, one exact pair
    dup = [r for r in rows.values() if r["dup_ct"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1


def test_ngram_jaccard_finds_planted_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.3, max_df=100).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0  # one-word edit
    assert not any({a, b} == {1, 4} for a, b in pairs)  # unrelated


def test_minhash_agrees_with_exact_on_dups(docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs(
            docs, n=2, num_hashes=12, bands=6, threshold=0.5, max_df=100
        ).collect()
    }
    # exact dup pair always collides in every band and verifies at 1.0
    assert got[(1, 2)] == 1.0
    # every reported pair must meet the exact-Jaccard threshold
    assert all(j >= 0.5 for j in got.values())


def test_minhash_verify_is_candidate_scoped(docs, monkeypatch):
    """The exact verify reads the LSH candidates' shingles only, never
    an all-pairs overlap. Driver branch: the second capped collect (the
    first is the candidate pairs) holds exactly the candidate docs'
    index rows, and the result is a local relation. Spark branch
    (``DRIVER_ROWS = 0``): the verify join is gated behind the
    candidate set by a semi join. Inspect the caller-owned-shingles
    path: it returns the LAZY plan (the self-persist path pins the
    result-sized pairs, hiding the shape behind the checkpoint scan —
    same body code either way)."""
    from data_observability_installer_spark.operators.llm import dedup

    sh = dedup.exploded_shingles(docs, "text", "doc_id", 2)
    collected, real = [], dedup.capped_columns
    monkeypatch.setattr(
        dedup, "capped_columns", lambda df: collected.append(real(df)) or collected[-1]
    )
    out = dedup.minhash_pairs(docs, n=2, shingles=sh)
    cand, index = collected
    cdocs = set(cand[0]) | set(cand[1])
    assert cdocs and cdocs < {d for d, _ in DOCS}
    assert set(index[0]) == cdocs
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "Join" not in plan, plan

    monkeypatch.setattr(dedup.driver, "DRIVER_ROWS", 0)
    plan = (
        dedup.minhash_pairs(docs, n=2, shingles=sh)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftSemi" in plan


def test_minhash_incremental_is_one_batch_minhash_pairs(spark, sf_smoke):
    """With no shingle above the df cap, the incremental screen is the
    full screen restricted to old x new pairs: (b, a, j) for every
    (a, b, j) of minhash_pairs with a < m <= b."""
    from data_observability_installer_spark.operators.llm.dedup import minhash_incremental
    from data_observability_installer_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    m = 250
    full = minhash_pairs(docs, threshold=0.3, max_df=docs.count() + 1).collect()
    want = {(b, a, j) for a, b, j in map(tuple, full) if a < m <= b}
    got = set(map(tuple, minhash_incremental(docs, new_min_id=m, threshold=0.3).collect()))
    assert want, "no old x new near-dup pairs at smoke scale"
    assert got == want


# Spark jobs per call (build + collect) at sf_smoke after clear_caches(),
# shared shingle caches built inside the call: the same count on every
# repetition on 2, 4 and 8 cores and at sf0.01. The exact verify runs on
# the driver from two capped collects, so AQE's runtime re-planning has
# no candidate-docs semi-join left to race (with it, minhash_pairs ran
# 25 or 26 jobs depending on which query stage finished first).
NEAR_DUP_JOB_BUDGET = {
    "minhash_pairs_documents": 13,
    "dedup_groups_documents": 8,
    "minhash_incremental_documents": 9,
}
MINHASH_PAIRS_DOCUMENTS_JOB_BUDGET = NEAR_DUP_JOB_BUDGET["minhash_pairs_documents"]


def _registry_jobs(spark, sf, name) -> list[int]:
    """Spark jobs of each of two cold calls of registry query ``name``,
    each under its own job group."""
    from data_observability_installer_spark.plans import registry

    sc, counts = spark.sparkContext, []
    for call in range(2):
        registry.clear_caches()
        spark.catalog.clearCache()
        group = f"{name}_budget_{call}"
        sc.setJobGroup(group, "job-budget run")
        try:
            assert registry.queries()[name](spark, sf).collect()
            counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        finally:
            sc.setJobGroup(None, None)
    return counts


def test_minhash_pairs_documents_job_budget(spark, sf_smoke):
    """Job tripwire for the registry query: signatures, band
    collisions and the driver-side verify run an exact number of Spark
    jobs, the same on two calls."""
    counts = _registry_jobs(spark, sf_smoke, "minhash_pairs_documents")
    assert counts == [MINHASH_PAIRS_DOCUMENTS_JOB_BUDGET] * 2, counts


@pytest.mark.parametrize("name", ["dedup_groups_documents", "minhash_incremental_documents"])
def test_near_dup_job_budget(spark, sf_smoke, name):
    """The Jaccard pairs behind dedup_groups and the incremental MinHash
    screen also count their overlap on the driver: an exact job count,
    the same on two calls."""
    counts = _registry_jobs(spark, sf_smoke, name)
    assert counts == [NEAR_DUP_JOB_BUDGET[name]] * 2, counts


NEAR_DUP_DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
    (3, "alpha beta gamma delta epsilon zeta eta iota"),  # one-word edit of 1
    (4, "alpha beta"),  # shorter than n: its whole text is its one shingle
    (5, "alpha beta"),
    (6, None),  # NULL text: no shingles
    (7, "gamma delta epsilon zeta kappa lambda mu nu"),  # partial overlap
    (8, "omicron pi rho sigma tau upsilon phi chi"),  # unrelated
    (None, "alpha beta gamma delta epsilon zeta eta theta"),  # NULL id never pairs
]

# every routed caller at threshold 0, where only a shared shingle
# makes a pair; the MinHash screens at a 1-row band so every pair that
# shares a signature value is a candidate
_ROUTED = {
    "ngram_jaccard": lambda d, docs: d.ngram_jaccard_pairs(docs, threshold=0.0, max_df=100),
    "ngram_jaccard_shared": lambda d, docs: d.ngram_jaccard_pairs(
        docs,
        threshold=0.0,
        capped_shingles=d.capped_index(d.exploded_shingles(docs, "text", "doc_id", 3), 100),
    ),
    "minhash_pairs": lambda d, docs: d.minhash_pairs(
        docs, num_hashes=12, bands=12, threshold=0.0, max_df=100
    ),
    "minhash_incremental": lambda d, docs: d.minhash_incremental(
        docs, new_min_id=5, num_hashes=12, bands=12, threshold=0.0
    ),
    "containment": lambda d, docs: d.ngram_containment_pairs(docs, threshold_bp=0, max_df=100),
    "threshold_sweep": lambda d, docs: d.jaccard_threshold_sweep(
        docs, thresholds_bp=(0, 3000, 9000), max_df=100
    ),
}


def _spy_driver_overlap(monkeypatch) -> list:
    """The list each ``driver_overlap`` call's result is appended to
    (None: the caller ran the Spark kernel)."""
    from data_observability_installer_spark.operators.llm import dedup

    taken, real = [], dedup.driver_overlap
    monkeypatch.setattr(
        dedup, "driver_overlap", lambda *a, **k: taken.append(real(*a, **k)) or taken[-1]
    )
    return taken


def _both_branches(monkeypatch, build):
    """``build()`` on the driver overlap and on the Spark kernel (a cap
    of -1): (driver frame, Spark frame), after checking each call took
    the branch it was meant to."""
    from data_observability_installer_spark.operators.llm import dedup

    taken = _spy_driver_overlap(monkeypatch)
    driver = build()
    assert taken and all(t is not None for t in taken)
    taken.clear()
    with monkeypatch.context() as m:
        m.setattr(dedup.driver, "DRIVER_ROWS", -1)
        spark_side = build()
    assert taken and all(t is None for t in taken)
    return driver, spark_side


@pytest.mark.parametrize("caller", sorted(_ROUTED))
def test_driver_overlap_matches_spark_kernel(spark, caller, monkeypatch):
    """Every routed caller gives row-identical results and one schema
    on the driver overlap and on the Spark self-join, over an exact
    duplicate, a doc shorter than n words, NULL text and a NULL id; at
    threshold 0 no pair without a shared shingle appears."""
    from data_observability_installer_spark.operators.llm import dedup

    docs = spark.createDataFrame(NEAR_DUP_DOCS, "doc_id bigint, text string")
    driver, spark_side = _both_branches(monkeypatch, lambda: _ROUTED[caller](dedup, docs))
    got, want = driver.collect(), spark_side.collect()
    assert driver.schema == spark_side.schema
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    if caller != "threshold_sweep":
        ids = {d for r in got for d in r[:2]}
        assert {1, 4, 5, 7} <= ids and not ids & {6, 8, None}, got
    else:
        assert got[0]["n_pairs"] > 0 and got[0]["n_docs"] < 8, got


def test_driver_overlap_counts_like_the_join(spark):
    """Both overlap cases against :func:`shingle_overlap` on a hand-built
    index: a NULL shingle counts in sz but never matches, a NULL doc
    never pairs, a repeated (doc, sh) row counts once per row on each
    side, and docs sharing nothing never form an inter = 0 row."""
    from data_observability_installer_spark.operators.llm import dedup

    index = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, None), (2, "a"), (2, "b"), (2, "b"), (3, None),
         (3, "z"), (4, "a"), (None, "a"), (None, "b")],
        "doc bigint, sh string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)], "doc_a bigint, doc_b bigint")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    pair, xy = F.col("x.doc") < F.col("y.doc"), cand.toDF("x_id", "y_id")
    for got, want in [
        (dedup.driver_overlap(index), dedup.shingle_overlap(index, index, pair)),
        (
            dedup.driver_overlap(index, "x_id", "y_id", cand=xy),
            dedup.shingle_overlap(index, index, pair, "x_id", "y_id", cand=xy),
        ),
    ]:
        assert got.schema == want.schema
        assert rows(got) == rows(want)
        assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    assert rows(dedup.driver_overlap(index)) == [(2, 1, 3, 3, 3), (4, 1, 1, 3, 1), (4, 2, 1, 3, 1)]


def test_driver_overlap_caps_join_rows_not_index_rows(spark, monkeypatch):
    """An index under the row cap whose Σ df·(df−1)/2 goes over it takes
    the Spark path: six identical docs hold 18 index rows but make 45
    self-join rows, so caps of 20 and 44 send them to the Spark kernel
    while 45 keeps the driver, and the answer is the driver's at the
    default cap on every branch."""
    from data_observability_installer_spark.operators.llm import dedup

    docs = spark.createDataFrame(
        [(i, "one two three four five") for i in range(6)], "doc_id bigint, text string"
    )
    want = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()))
    assert len(want) == 15
    taken = _spy_driver_overlap(monkeypatch)
    for cap, branch in ((20, None), (44, None), (45, "driver")):
        taken.clear()
        monkeypatch.setattr(dedup.driver, "DRIVER_ROWS", cap)
        got = sorted(map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()))
        assert [None if t is None else "driver" for t in taken] == [branch], cap
        assert got == want


def test_dedup_groups_connected_components(spark):
    from data_observability_installer_spark.operators.llm.dedup import dedup_groups

    # two chains and one isolated pair: {1-2-3-4}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (3, 4, 0.7), (10, 11, 0.9), (20, 21, 0.5)],
        "doc_a bigint, doc_b bigint, jaccard double",
    )
    got = {r.doc: r.group_id for r in dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_groups_deep_chain_converges(spark, monkeypatch):
    """Path graph of length 20: worst-case diameter for label
    propagation, forced onto the distributed rounds. The pin every 3rd
    round truncates lineage, so 20 rounds neither stack joins onto the
    label plans handed to pin/pinned nor change the answer."""
    from data_observability_installer_spark.operators.llm import dedup

    depths = []

    def spy(real):
        def handed(df, *a, **k):
            # each round nests two more joins into the label plan: the
            # periodic pin holds it at 6, without it round 20 reaches ~40
            depths.append(_join_depth(df._jdf.queryExecution().analyzed(), 10))
            assert depths[-1] <= 10, f"label plan handed over {depths[-1]} joins deep"
            return real(df, *a, **k)

        return handed

    monkeypatch.setattr(dedup, "pin", spy(dedup.pin))
    monkeypatch.setattr(dedup, "pinned", spy(dedup.pinned))
    monkeypatch.setattr(dedup.driver, "DRIVER_ROWS", 0)
    edges = [(i, i + 1, 0.9) for i in range(20)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint, jaccard double")
    out = dedup.dedup_groups(pairs, max_iters=30)
    got = {r.doc: r.group_id for r in out.collect()}
    assert got == {i: 0 for i in range(21)}
    assert len(depths) > 20  # one pinned scope per round, and the pins


def _join_depth(node, budget: int) -> int:
    """Deepest nesting of Join nodes in a JVM logical plan, cut short
    once it passes ``budget``: the label plan repeats each round's
    input twice, so a full walk grows as 2^rounds."""
    here = int(node.nodeName().endswith("Join"))
    kids, deepest = node.children(), 0
    for i in range(kids.size()):
        if deepest + here > budget:
            break
        deepest = max(deepest, _join_depth(kids.apply(i), budget - here))
    return deepest + here


_GROUP_GRAPHS = {
    "chain": [(i, i + 1) for i in range(4)],
    "diamond_shortcut": [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4)],
    "three_cycle": [(5, 6), (6, 7), (7, 5)],
    "self_loop": [(9, 9), (9, 8)],
    "two_components": [(1, 2), (2, 3), (10, 11), (11, 10)],
    "empty": [],
}


@pytest.mark.parametrize("graph", sorted(_GROUP_GRAPHS))
def test_dedup_groups_driver_path_matches_label_propagation(spark, graph, monkeypatch):
    """The driver union-find and the distributed min-label rounds give
    row-identical (doc, group_id) and one schema. A cap of -1 sends
    even an empty pair list to the distributed rounds."""
    from data_observability_installer_spark.operators.llm import dedup
    from data_observability_installer_spark.operators.llm.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(a, b, 0.9) for a, b in _GROUP_GRAPHS[graph]],
        "doc_a bigint, doc_b bigint, jaccard double",
    )
    driver = dedup_groups(pairs)
    monkeypatch.setattr(dedup.driver, "DRIVER_ROWS", -1)
    rounds = dedup_groups(pairs)
    assert "LocalTableScan" in driver._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in rounds._jdf.queryExecution().executedPlan().toString()
    got = [(sorted(map(tuple, df.collect())), df.schema) for df in (driver, rounds)]
    assert got[0] == got[1]
    assert bool(got[0][0]) == bool(_GROUP_GRAPHS[graph])


def test_simhash_buckets_exact_dups_collide(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_buckets(docs).collect()}
    assert sh[1] == sh[2]  # identical text, identical signature
    assert sh[1] != sh[4]  # unrelated text lands elsewhere


def test_fingerprint_survives_formatting_noise(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[7]  # case/punct noise collapses
    assert fp[1] != fp[3]


def test_language_id(docs):
    lang = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert lang[1] == "en" and lang[5] == "fr" and lang[6] == "de"


def test_quality_and_token_counts(docs):
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert all(0.0 <= r["quality"] <= 1.0 for r in q.values())
    t = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert t[1]["ws_tokens"] == 9
    assert t[7]["punct_tokens"] == 5  # ! ... ?
    assert t[1]["bpe_ish_tokens"] == 9


VECS = [
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0], 0),  # near q
    (2, [0.0, 1.0, 0.0], 1),  # orthogonal to q
    (3, [-1.0, 0.0, 0.0], 1),  # opposite
    (4, [0.8, 0.2, 0.0], 0),  # near q
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding", "label"])


def test_topk_bruteforce_ordering(vecs):
    got = [(r["vec_id"], r["score"]) for r in topk_bruteforce(vecs, k=3, query_id=0).collect()]
    assert [v for v, _ in got] == [1, 4, 2]
    assert got[0][1] > got[1][1] > got[2][1]


def test_topk_bruteforce_broadcasts_query(vecs):
    plan = topk_bruteforce(vecs, k=3, query_id=0)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_topk_lsh_subset_of_bruteforce_scores(vecs):
    brute = {r["vec_id"]: r["score"] for r in topk_bruteforce(vecs, k=5, query_id=0).collect()}
    for r in topk_lsh(vecs, k=3, query_id=0).collect():
        assert brute[r["vec_id"]] == r["score"]  # same exact cosine, pruned scan


def test_topk_ivf_recall_vs_bruteforce(spark):
    """IVF over the real embeddings fixture: every returned score must
    equal the brute-force score for that id, and recall@10 with
    4/16 probes on clustered data should be high."""
    from data_observability_installer_spark.operators.llm.similarity import topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {r["vec_id"]: r["score"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()}
    ivf = {r["vec_id"]: r["score"] for r in topk_ivf(emb, k=10, query_id=0, nprobe=8).collect()}
    assert len(ivf) == 10
    full = {r["vec_id"]: r["score"]
            for r in topk_bruteforce(emb, k=500, query_id=0).collect()}
    for vid, score in ivf.items():
        assert full[vid] == score  # exact re-rank, same cosine
    # measured recall curve on this fixture: 3/7/10/10 at nprobe 4/8/12/16
    assert len(set(ivf) & set(brute)) >= 5
    exhaustive = {r["vec_id"] for r in
                  topk_ivf(emb, k=10, query_id=0, nprobe=16).collect()}
    assert exhaustive == set(brute)  # probing every bucket == brute force


def test_topk_ivf_fixed_exact_scores_and_full_probe_recall(spark):
    """The literal-centroid IVF: same exactness contract — returned
    scores equal brute-force scores, and probing every bucket recovers
    the brute-force set exactly."""
    from data_observability_installer_spark.operators.llm.similarity import topk_ivf_fixed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {r["vec_id"]: r["score"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()}
    full = {r["vec_id"]: r["score"]
            for r in topk_bruteforce(emb, k=500, query_id=0).collect()}
    ivf = {r["vec_id"]: r["score"]
           for r in topk_ivf_fixed(emb, k=10, query_id=0, nprobe=4).collect()}
    assert len(ivf) == 10
    for vid, score in ivf.items():
        assert full[vid] == score
    exhaustive = {r["vec_id"] for r in
                  topk_ivf_fixed(emb, k=10, query_id=0, nprobe=16).collect()}
    assert exhaustive == set(brute)


def _planted_corpus(spark, n_base=120, n_dups=15, dim=64, seed=3):
    """n_base random unit-ish vectors + n_dups slightly-perturbed copies
    of the first n_dups bases (cosine ≈ 0.995): known near-dup ground
    truth (base_i, copy_i) and known top-1 neighbors."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)], 0))
    for j in range(n_dups):
        base = rows[j][1]
        rows.append(
            (n_base + j, [x + rng.uniform(-0.02, 0.02) for x in base], 0)
        )
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_lsh_near_dups_recall_on_planted(spark):
    """Banded-LSH blocking must recover nearly all PLANTED near-identical
    pairs (cosine ≈ 0.995; per-plane agreement ≈ 0.97, so one band of 8
    planes already collides with p ≈ 0.77 and 4 bands reach ≈ 0.997).
    This is the recall evidence for the no-block-key scale path."""
    from data_observability_installer_spark.operators.llm.similarity import (
        embedding_near_dups_lsh,
    )

    df = _planted_corpus(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(df, threshold=0.98).collect()
    }
    planted = {(j, 120 + j) for j in range(15)}
    found = len(got & planted)
    assert found >= 13, f"banded LSH found only {found}/15 planted near-dups"


def test_topk_lsh_multiprobe_recall_on_planted(spark):
    """Multi-probe top-k: with a planted cluster of near-identical
    vectors around the query, the Hamming-ball probe must recover most
    of the true top-k (single-bucket probing measured 0.0 recall@10 on
    the weak-structure corpus — the ball is the fix)."""
    df = _planted_corpus(spark)
    # query = base 0; its true nearest neighbor is planted copy 120
    brute = [(r["vec_id"], r["score"]) for r in topk_bruteforce(df, k=5, query_id=0).collect()]
    probed = [(r["vec_id"], r["score"]) for r in topk_lsh(df, k=5, query_id=0, max_hamming=2).collect()]
    # the genuinely-near vector is recovered AND ranked first
    assert probed[0][0] == 120, "planted near-identical copy missed by multi-probe LSH"
    assert brute[0] == probed[0]
    # every probed score is the exact cosine (bruteforce agrees id-by-id)
    full = {r["vec_id"]: r["score"] for r in topk_bruteforce(df, k=200, query_id=0).collect()}
    for vid, score in probed:
        assert full[vid] == score
    # moderately-similar RANDOM vectors (cos ~0.4) are beyond hyperplane
    # LSH's reach by design — that regime belongs to IVF (see
    # test_topk_ivf_recall_vs_bruteforce), so no overlap floor is
    # asserted beyond the planted neighbor.


def test_topk_lsh_scan_fraction_bounded(spark):
    """The Hamming-2 ball over 8 planes covers 37/256 signatures; the
    probed row set must stay well under the full corpus (the pruning
    that maps to partition pruning at scale)."""
    from data_observability_installer_spark.operators.llm.similarity import (
        _bucket_expr,
        lsh_planes,
    )

    df = _planted_corpus(spark)
    withb = df.withColumn("bucket", _bucket_expr("embedding", lsh_planes()))
    q_bucket = withb.filter(F.col("vec_id") == 0).head()["bucket"]
    ball = [b for b in range(256) if bin(b ^ q_bucket).count("1") <= 2]
    scanned = withb.filter(F.col("bucket").isin(ball)).count()
    assert scanned < df.count() * 0.45


def test_embedding_near_dups_blocked(vecs):
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in embedding_near_dups(vecs, 0.9).collect()}
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got
    # 2,3 share label 1 but are opposite/orthogonal — below threshold
    assert (2, 3) not in got
    # 0 and 2 are in different blocks: never even compared
    assert not any({a, b} == {0, 2} for a, b in got)


def test_topk_batch_matches_per_query_bruteforce(spark):
    from data_observability_installer_spark.operators.llm.similarity import (
        topk_batch,
        topk_bruteforce,
    )
    from data_observability_installer_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    batch = topk_batch(vecs, query_ids=[0, 1, 2], k=5)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.score) for r in batch.collect()
    }
    assert len(got) == 15  # 3 queries x k
    for qid in (0, 1, 2):
        single = topk_bruteforce(vecs, k=5, query_id=qid).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, rank)] == (r.vec_id, r.score)


def test_chunk_documents_windows_and_overlap(spark):
    import hashlib

    from data_observability_installer_spark.operators.llm.text import chunk_documents

    words = [f"w{i}" for i in range(120)]
    short = "only three words"
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, short)], "doc_id bigint, text string"
    )
    got = {(r.doc_id, r.chunk_idx): r for r in
           chunk_documents(df, max_tokens=50, overlap=10).collect()}
    # 120 words, stride 40 -> chunks at 0/40/80 with sizes 50/50/40
    assert {k for k in got if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert [got[(1, i)].chunk_tokens for i in range(3)] == [50, 50, 40]
    for i in range(3):
        expect = hashlib.md5(" ".join(words[i * 40 : i * 40 + 50]).encode()).hexdigest()
        assert got[(1, i)].chunk_md5 == expect
    # short doc -> exactly one whole-doc chunk
    assert got[(2, 0)].chunk_tokens == 3
    assert got[(2, 0)].chunk_md5 == hashlib.md5(short.encode()).hexdigest()
    assert (2, 1) not in got


def test_embedding_stats_flags_degenerate_vectors(spark):
    from data_observability_installer_spark.operators.llm.similarity import embedding_stats

    vecs = spark.createDataFrame(
        [
            (0, [3.0, 4.0]),            # norm 5
            (1, [0.0, 0.0]),            # zero vector
            (2, [float("nan"), 1.0]),   # NaN vector
            (3, [1.0, 0.0, 0.0]),       # mixed dimension
        ],
        "vec_id bigint, embedding array<float>",
    )
    row = embedding_stats(vecs).collect()[0]
    assert row.vec_ct == 4
    assert (row.dim_min, row.dim_max) == (2, 3)
    assert row.nan_vec_ct == 1 and row.zero_vec_ct == 1
    assert row.norm_max == 5.0 and row.norm_min == 0.0


def test_dup_span_fraction_planted(spark):
    """Two docs sharing half their trigrams get a positive fraction;
    a fully unique doc gets 0; identical docs get 1."""
    from data_observability_installer_spark.operators.llm.dedup import (
        dup_span_fraction,
        exploded_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a sleeping cat"),
            (3, "completely unrelated text about spark engines here"),
            (4, "completely unrelated text about spark engines here"),
        ],
        "doc_id bigint, text string",
    )
    sh = exploded_shingles(docs, "text", "doc_id", 3)
    got = {r.doc_id: r.dup_fraction for r in dup_span_fraction(sh).collect()}
    assert got[3] == 1.0 and got[4] == 1.0  # identical docs: all spans shared
    assert 0.0 < got[1] < 1.0 and 0.0 < got[2] < 1.0  # partial overlap
    assert got[1] == round(4 / 7, 4)  # 7 trigrams, 4 shared with doc 2


def test_remove_duplicate_spans_planted(spark):
    from data_observability_installer_spark.operators.llm.dedup import (
        remove_duplicate_spans,
    )

    # "click here to subscribe" appears in 4 docs -> its 3-grams are
    # boilerplate at min_df=4; each doc's unique prefix must survive in
    # order, the shared span must vanish everywhere.
    df = spark.createDataFrame(
        [
            (1, "alpha beta click here to subscribe"),
            (2, "gamma delta click here to subscribe"),
            (3, "epsilon zeta click here to subscribe"),
            (4, "eta theta click here to subscribe"),
            (5, "iota kappa lambda mu nu xi"),  # untouched
            (6, "tiny doc"),  # shorter than n: passes through
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=3, min_df=4).collect()}
    assert len(out) == 6
    assert out[1]["clean_text"] == "alpha beta"
    assert out[2]["clean_text"] == "gamma delta"
    assert out[1]["removed_tokens"] == 4 and out[1]["kept_tokens"] == 2
    assert out[5]["clean_text"] == "iota kappa lambda mu nu xi"
    assert out[5]["removed_tokens"] == 0
    assert out[6]["clean_text"] == "tiny doc"  # no 3-grams, unchanged


def test_remove_duplicate_spans_total_removal_keeps_row(spark):
    from data_observability_installer_spark.operators.llm.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(i, "spam spam spam") for i in range(4)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=3, min_df=4).collect()}
    assert len(out) == 4  # fully-scrubbed docs still emit a row
    assert all(r["clean_text"] == "" and r["kept_tokens"] == 0 for r in out.values())


def test_knn_graph_blocks_and_ranks(spark):
    from data_observability_installer_spark.operators.llm.similarity import knn_graph

    # block 0: v1 aligned with v0, v2 orthogonal; block 1 isolated pair
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 0.0, 1.0], 0),
        (10, [0.0, 1.0, 0.0], 1),
        (11, [0.0, 0.9, 0.1], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = knn_graph(df, k=2)
    got = {(r["src"], r["rank"]): r["dst"] for r in out.collect()}
    assert got[(0, 1)] == 1  # nearest neighbor of v0 is v1, not v2
    assert got[(10, 1)] == 11 and got[(11, 1)] == 10
    # cross-block edges never appear
    assert all(
        (src < 10) == (dst < 10)
        for (src, _), dst in got.items()
    )
    # k bound respected: block 1 has only 1 candidate per source
    assert (10, 2) not in got

def test_train_ivf_kmeans_deterministic_integer_centroids(spark):
    """Two independent trainings must produce identical centroids (the
    cross-engine determinism claim, checked within-engine), every
    centroid must be pure integers in IVF_SCALE units, and every
    corpus row must land in a surviving bucket."""
    from data_observability_installer_spark.operators.llm.similarity import (
        IVF_SCALE,
        _argmin_bucket_sql,
        _quant_sql,
        train_ivf_kmeans,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = train_ivf_kmeans(emb, n_clusters=16, iters=3)
    c2 = train_ivf_kmeans(emb, n_clusters=16, iters=3)
    assert c1 == c2
    assert all(isinstance(v, int) for cq in c1.values() for v in cq)
    assert all(abs(v) <= 2 * IVF_SCALE for cq in c1.values() for v in cq)
    assigned = emb.select(
        F.expr(_argmin_bucket_sql(_quant_sql("embedding"), c1, 16)).alias("b")
    )
    buckets = {r.b for r in assigned.distinct().collect()}
    assert buckets <= set(c1)  # every row assigned to a live centroid


def test_topk_ivf_precomputed_centroids_match_in_call_training(spark):
    """The train-once/probe-many seam: passing a previously trained
    centroid dict must give the identical result with zero training
    jobs (the offline-index production shape)."""
    from data_observability_installer_spark.operators.llm.similarity import (
        topk_ivf,
        train_ivf_kmeans,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_kmeans(emb, n_clusters=16, iters=3)
    inline = [tuple(r) for r in topk_ivf(emb, k=10, query_id=0).collect()]
    reused = [tuple(r) for r in topk_ivf(emb, k=10, query_id=0, cents=cents).collect()]
    assert inline == reused


def test_select_canonical_keeps_best_scored_member(spark):
    """The survivor is the best-scored member (ties -> lowest id), not
    the min id; member counts cover the whole cluster."""
    from data_observability_installer_spark.operators.llm.dedup import (
        dedup_groups,
        select_canonical,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.4)],
        "doc_id long, quality double",
    )
    groups = dedup_groups(pairs)
    out = {r.group_id: r for r in select_canonical(groups, scored).collect()}
    assert out[1].canonical_doc == 2  # 0.9 beats min-id member 1's 0.2
    assert out[1].member_ct == 3  # tie between 2 and 3 -> lowest id 2
    assert out[10].canonical_doc == 10 and out[10].member_ct == 2


def test_hard_negatives_cross_label_and_similar(spark):
    """Every mined pair crosses labels; the negative is genuinely the
    anchor's most similar cross-label vector within its bucket
    (verified against a brute-force cross-label argmax)."""
    from data_observability_installer_spark.operators.llm.similarity import (
        hard_negatives,
    )
    from data_observability_installer_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    got = hard_negatives(emb, per_anchor=1).collect()
    assert got, "fixture must produce hard negatives"
    for r in got:
        assert labels[r["anchor"]] != labels[r["negative"]]
    # spot-check 5 anchors against the unblocked cross-label argmax:
    # if the bucket-blocked winner differs, its score must not beat the
    # global winner (blocking is a recall trade, never a scoring bug)
    import numpy as np

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    def cos(a, b):
        return float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
    for r in got[:5]:
        best = max(
            (v for v in vecs if v != r["anchor"] and labels[v] != labels[r["anchor"]]),
            key=lambda v: (cos(r["anchor"], v), -v),
        )
        assert r["score"] <= round(cos(r["anchor"], best) + 1e-9, 4) + 1e-9


def test_embedding_drift_identical_orthogonal_empty(spark):
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.llm.similarity import (
        embedding_drift,
    )

    # identical slices -> cosine exactly 1.0 (1e6 units)
    rows = [(i, [0.5, 0.25, 0.125], i % 2 == 0) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, is_a boolean")
    r = embedding_drift(df, F.col("is_a")).collect()[0]
    assert (r.n_a, r.n_b, r.cos_mean_e6) == (10, 10, 1000000)

    # orthogonal mean vectors -> 0
    rows = [(i, [1.0, 0.0], True) for i in range(5)] + [
        (i + 10, [0.0, 1.0], False) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, is_a boolean")
    assert embedding_drift(df, F.col("is_a")).collect()[0].cos_mean_e6 == 0

    # empty side -> NULL cosine, not a fake 'no drift'
    df1 = spark.createDataFrame(
        [(1, [1.0, 0.0], True)], "vec_id long, embedding array<float>, is_a boolean"
    )
    r = embedding_drift(df1, F.col("is_a")).collect()[0]
    assert r.cos_mean_e6 is None and r.norm_mean_a_e6 is not None


def test_vocab_stats_hand_computed(spark):
    """5 'a', 2 'b', 1 'c' across 3 docs: every statistic is
    hand-checkable, including the floor-division bp ratios and the
    head-mass cap at head_k."""
    from data_observability_installer_spark.operators.llm.lm import vocab_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c"), (3, "a")], "doc_id int, text string"
    )
    r = vocab_stats(df, head_k=2).collect()[0]
    assert (r.n_tokens, r.n_types, r.hapax_ct, r.dis_ct) == (8, 3, 1, 1)
    assert r.ttr_bp == 3 * 10000 // 8
    assert r.hapax_share_bp == 1 * 10000 // 3
    assert r.head_mass_bp == (5 + 2) * 10000 // 8  # top-2 of 3 types


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _semdedup_frame(spark):
    """64-dim planted corpus: v1 is a scaled copy of v0 (cosine 1.0),
    v3 is a lightly-perturbed copy of v2, v4 points elsewhere."""
    import numpy as np

    rs = np.random.RandomState(5)
    v0 = rs.uniform(-1, 1, 64)
    v2 = rs.uniform(-1, 1, 64)
    v4 = rs.uniform(-1, 1, 64)
    rows = [
        (0, [float(x) for x in v0]),
        (1, [float(x) for x in v0 * 2.0]),
        (2, [float(x) for x in v2]),
        (3, [float(x) for x in v2 + rs.uniform(-0.01, 0.01, 64)]),
        (4, [float(x) for x in v4]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_keep_first_rule_and_witness(spark):
    from data_observability_installer_spark.operators.llm.similarity import semdedup

    out = {r["vec_id"]: r for r in semdedup(_semdedup_frame(spark), threshold=0.95).collect()}
    assert out[0]["keep"] and out[0]["dup_of"] is None
    assert not out[1]["keep"] and out[1]["dup_of"] == 0  # scaled copy of v0
    assert out[2]["keep"]
    assert not out[3]["keep"] and out[3]["dup_of"] == 2  # perturbed copy of v2
    assert out[4]["keep"]
    # copies share their original's cell (cosine-nearest centroid)
    assert out[1]["cell"] == out[0]["cell"]
    assert out[3]["cell"] == out[2]["cell"]


def test_semdedup_cross_cell_pairs_never_compared(spark):
    """Vectors in different cells are never candidates, whatever their
    cosine: an exact copy placed in another cell by construction can't
    happen (same vector -> same cell), so assert the blocking the other
    way — every removed row's witness lives in the SAME cell."""
    from data_observability_installer_spark.operators.llm.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = semdedup(emb, threshold=0.35).collect()
    cells = {r["vec_id"]: r["cell"] for r in rows}
    removed = [r for r in rows if not r["keep"]]
    assert removed, "fixture must exercise the removal path"
    for r in removed:
        assert cells[r["dup_of"]] == r["cell"]
        assert r["dup_of"] < r["vec_id"]


def test_semdedup_max_cell_excludes_hot_cells_entirely(spark):
    from data_observability_installer_spark.operators.llm.similarity import semdedup

    df = _semdedup_frame(spark)
    base = {r["vec_id"]: r for r in semdedup(df, threshold=0.95).collect()}
    hot = base[1]["cell"]
    hot_n = sum(1 for r in base.values() if r["cell"] == hot)
    cap = hot_n - 1
    capped = {
        r["vec_id"]: r for r in semdedup(df, threshold=0.95, max_cell=cap).collect()
    }
    cell_n = {}
    for r in base.values():
        cell_n[r["cell"]] = cell_n.get(r["cell"], 0) + 1
    # members of every over-cap cell are kept (the cell left dedup);
    # under-cap cells answer exactly as before
    assert len(capped) == len(base)
    assert any(n > cap for n in cell_n.values())
    for vid, r in capped.items():
        if cell_n[r["cell"]] > cap:
            assert r["keep"] and r["dup_of"] is None
        else:
            assert r["keep"] == base[vid]["keep"]


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------


def test_gopher_rules_each_rule_fires_on_its_planted_doc(spark):
    from data_observability_installer_spark.operators.llm.text import gopher_rules

    good = ("the quick brown fox jumps over with lazy dogs and that "
            "have been seen out here today again now then soon "
            "maybe later tonight tomorrow always never somewhere") # 27 words
    rows = [
        (0, good),
        (1, "the with"),                                    # too few words
        (2, good.replace("the quick", "a b c d e f g")),    # mean wlen < 3... maybe
        (3, good + " # # # # # # # # # # # # # # # # # # # # # # # # # # # #"),  # symbols
        (4, "\n".join(["- bullet item with the that"] * 10)),            # bullets
        (5, "\n".join([f"line {i} with the that trailing dots..." for i in range(10)])),  # ellipsis
        (6, good.replace("fox", "123 456 789 101 112 131 415")),         # non-alpha words
        (7, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df, min_words=8).collect()}
    assert out[0]["pass"]
    assert not out[1]["r_word_count"]
    assert not out[3]["r_symbol_ratio"]
    assert not out[4]["r_bullet_lines"]
    assert not out[5]["r_ellipsis_lines"]
    assert not out[6]["r_alpha_words"]
    assert not out[7]["r_stopwords"]
    for vid in (1, 3, 4, 5, 6, 7):
        assert not out[vid]["pass"]


def test_gopher_rules_mean_word_length_band(spark):
    from data_observability_installer_spark.operators.llm.text import gopher_rules

    short = " ".join(["ab"] * 60)                       # mean 2 < 3
    longw = " ".join(["abcdefghijklmno"] * 60)          # mean 15 > 10
    mid = " ".join(["middle"] * 60) + " the of"         # mean ~6
    df = spark.createDataFrame(
        [(1, short), (2, longw), (3, mid)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, min_stopwords=0).collect()}
    assert not out[1]["r_mean_word_len"]
    assert not out[2]["r_mean_word_len"]
    assert out[3]["r_mean_word_len"]


def test_c4_clean_line_and_page_rules(spark):
    from data_observability_installer_spark.operators.llm.text import c4_clean

    rows = [
        (0, "Good first sentence here today.\nAnother fine long sentence follows now.\nShort one too but this line also ends well."),
        (1, "no terminal punctuation on this line at all\nthis one neither sadly for it"),
        (2, "This page mentions lorem ipsum somewhere in it.\nOtherwise it would be fine indeed."),
        (3, "This has a curly { brace in it.\nOtherwise plenty of words to survive."),
        (4, "Enable javascript to view this page properly.\nA real sentence with enough words here.\nAnother real sentence with enough words too."),
        (5, "Tiny line.\nAlso small."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_clean(df, min_line_words=5, min_lines=2).collect()}
    assert not out[0]["dropped"] and out[0]["n_kept"] == 3
    assert out[0]["clean_text"].count("\n") == 2
    assert out[1]["dropped"] and out[1]["reason"] == "too_few_lines"
    assert out[2]["dropped"] and out[2]["reason"] == "boilerplate"
    assert out[3]["dropped"] and out[3]["reason"] == "boilerplate"
    # javascript line removed, the two real sentences survive
    assert not out[4]["dropped"] and out[4]["n_kept"] == 2
    assert "javascript" not in out[4]["clean_text"]
    # lines with < 5 words fail even with terminal punctuation
    assert out[5]["dropped"] and out[5]["n_kept"] == 0


def test_semdedup_trained_cells_still_keep_first(spark):
    """Trained-cell routing: same keep-first semantics, witness in the
    SAME trained cell, and the planted scaled copy is still removed
    (identical vectors share any cell under any assignment)."""
    from data_observability_installer_spark.operators.llm.similarity import (
        semdedup,
        train_ivf_kmeans,
    )

    df = _semdedup_frame(spark)
    cents = train_ivf_kmeans(df, iters=2)
    out = {r["vec_id"]: r for r in semdedup(df, threshold=0.95, cents=cents).collect()}
    assert not out[1]["keep"] and out[1]["dup_of"] == 0
    assert not out[3]["keep"] and out[3]["dup_of"] == 2
    assert out[0]["keep"] and out[2]["keep"] and out[4]["keep"]
    for vid in (1, 3):
        assert out[vid]["cell"] == out[out[vid]["dup_of"]]["cell"]


def test_train_ivf_kmeans_sample_init_guards(spark):
    """Round-11 advice on init='sample': an empty corpus and a corpus
    with fewer distinct vectors than n_clusters raise a clear
    ValueError (not an opaque KeyError); duplicate vectors among the
    md5-ranked seeds are skipped so every seeded cell is distinct."""
    import pytest
    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.llm.similarity import (
        train_ivf_kmeans,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="distinct embedding"):
        train_ivf_kmeans(empty, n_clusters=4, iters=1, init="sample")

    # 8 rows but only 2 distinct vectors: can't seed 4 cells
    dup = spark.createDataFrame(
        [(i, [float(i % 2), 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="corpus has 2"):
        train_ivf_kmeans(dup, n_clusters=4, iters=1, init="sample")

    # duplicates present but >= K distinct: all K seeds distinct
    mixed = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(25)],
        "vec_id long, embedding array<float>",
    )
    cents = train_ivf_kmeans(mixed, n_clusters=4, iters=0, init="sample")
    assert len(cents) == 4
    assert len({tuple(c) for c in cents.values()}) == 4
