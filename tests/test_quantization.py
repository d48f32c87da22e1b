"""Int8-quantized ANN: recall vs the exact ranking, the at-rest
compression claim, and edge guards (zero vectors)."""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.llm.similarity import (
    quantize_int8,
    topk_bruteforce,
    topk_int8,
)
from data_observability_installer_spark.sources.tables import load_table


def test_topk_int8_recall_vs_exact(spark, sf_correct):
    emb = load_table(spark, sf_correct, "embeddings")
    exact = [r["vec_id"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()]
    got = [r["vec_id"] for r in topk_int8(emb, k=10, query_id=0).collect()]
    overlap = len(set(exact) & set(got))
    assert overlap >= 9, f"recall@10 {overlap}/10 vs exact"


def test_quantized_values_in_int8_range(spark, sf_correct):
    emb = load_table(spark, sf_correct, "embeddings")
    qz = quantize_int8(emb)
    bad = qz.select(
        F.exists("q", lambda v: (v < -127) | (v > 127)).alias("oob")
    ).filter("oob").count()
    assert bad == 0
    # schema is tinyint at rest — the 4x claim depends on it
    qtype = dict(qz.dtypes)["q"]
    assert qtype == "array<tinyint>"


def test_parquet_bytes_shrink(spark, sf_correct, tmp_path):
    """The compressed copy on disk is less than half the float copy
    (raw ratio is 4x; parquet encoding keeps it well under 2x)."""
    emb = load_table(spark, sf_correct, "embeddings")
    fdir, qdir = str(tmp_path / "f"), str(tmp_path / "q")
    emb.select("vec_id", "embedding").write.parquet(fdir)
    quantize_int8(emb).select("vid", "q").write.parquet(qdir)

    def nbytes(d):
        return sum(os.path.getsize(p) for p in glob.glob(f"{d}/*.parquet"))

    assert nbytes(qdir) < 0.5 * nbytes(fdir)


def test_zero_vector_quantizes_to_zero(spark):
    rows = [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    qz = {r["vid"]: r for r in quantize_int8(df).collect()}
    assert list(qz[0]["q"]) == [0, 0, 0, 0] and qz[0]["qn"] == 0.0
    assert qz[1]["q"][0] == 127
    # zero vector never ranks: query 1's top-k excludes vid 0 scores as null/0
    got = topk_int8(df, k=2, query_id=1, rescore=2).collect()
    assert [r["vec_id"] for r in got][0] == 2


def test_topk_pq_two_phase_and_encode(spark, sf_correct):
    """PQ ADC: the approximate phase must surface enough true
    neighbors for the exact rescore to recover a reasonable top-10
    (random fixed codebooks — this bounds the MECHANISM, recall
    quality comes from trained books via the books= seam), the result
    must be a subset of the exact-rescored candidate pool by
    construction, and pq_encode emits one small code per subspace."""
    from data_observability_installer_spark.operators.llm.similarity import (
        PQ_K,
        PQ_M,
        pq_encode,
        topk_pq,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    exact = [r["vec_id"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()]
    got = topk_pq(emb, k=10, query_id=0, rescore=8).collect()
    assert len(got) == 10
    # every returned score is an exact rounded cosine: spot-check the
    # top hit against the brute-force list's scores
    bf = {r["vec_id"]: r["score"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()}
    for r in got:
        if r["vec_id"] in bf:
            assert r["score"] == bf[r["vec_id"]]
    overlap = len(set(exact) & {r["vec_id"] for r in got})
    assert overlap >= 2, f"ADC recall@10 {overlap}/10 collapsed"

    codes = pq_encode(emb)
    row = codes.first()
    assert len(row["codes"]) == PQ_M
    assert all(0 <= c < PQ_K for c in row["codes"])
    # deterministic: encoding twice gives identical codes
    a = {r["vid"]: tuple(r["codes"]) for r in codes.limit(50).collect()}
    b = {r["vid"]: tuple(r["codes"]) for r in pq_encode(emb).limit(50).collect()}
    assert {k: a[k] for k in a if k in b} == {k: b[k] for k in b if k in a}


def test_train_pq_improves_or_matches_fixed_books(spark, sf_correct):
    """The books= seam live: deterministic per-subspace Lloyd
    refinement returns k-long codebooks per subspace (dead centroids
    keep their init row), is run-to-run identical, and the trained
    books' ADC recall@10 is at least the random fixed books'."""
    from data_observability_installer_spark.operators.llm.similarity import (
        PQ_K,
        PQ_M,
        topk_pq,
        train_pq,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    books = train_pq(emb, iters=2)
    assert len(books) == PQ_M and all(len(b) == PQ_K for b in books)
    assert all(isinstance(v, int) for b in books for c in b for v in c)
    books2 = train_pq(emb, iters=2)
    assert books == books2  # deterministic end to end

    exact = {r["vec_id"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()}
    fixed = {r["vec_id"] for r in topk_pq(emb, k=10, query_id=0, rescore=8).collect()}
    trained = {
        r["vec_id"]
        for r in topk_pq(emb, k=10, query_id=0, rescore=8, books=books).collect()
    }
    assert len(exact & trained) >= len(exact & fixed) - 1  # no regression


def test_pq_near_dups_blocks_on_codes_and_verifies_exact(spark):
    """A planted near-identical pair must collide on most subspace
    codes and pass verification; an orthogonal vector must never pair.
    Verification is exact: the emitted score_bp equals the rounded
    true cosine."""
    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups,
    )

    base = [0.5] * 32 + [-0.5] * 32
    near = list(base)
    near[0] = 0.49  # tiny perturbation: same codes almost everywhere
    ortho = [0.5, -0.5] * 32
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, ortho)],
        "vec_id int, embedding array<float>",
    )
    rows = pq_near_dups(df, min_band_matches=2, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(0, 1)]
    r = rows[0]
    assert r.n_bands >= 6  # near-identical -> nearly all codes agree
    import math

    a = [float(x) for x in base]
    b = [float(x) for x in near]
    dot = sum(x * y for x, y in zip(a, b))
    cos = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))
    assert r.score_bp == int(math.floor(cos * 10000 + 0.5))


def test_topk_ivfpq_probe_semantics_and_recall(spark, sf_correct):
    """IVF-PQ: results must be exact rounded cosines, nprobe=n_cells
    must dominate (or match) a narrow probe's recall (probing more
    cells can only add candidates), and the residual codes stay in
    range."""
    from data_observability_installer_spark.operators.llm.similarity import (
        topk_ivfpq,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    exact = {r["vec_id"]: r["score"] for r in topk_bruteforce(emb, k=10, query_id=0).collect()}
    # rescore budget large enough that the ADC cut never truncates:
    # then more probes => a superset of candidates => recall monotone.
    # (With a BINDING budget wider probes can displace true neighbors
    # from the approximate pool — real ADC behavior, not a defect.)
    narrow = topk_ivfpq(emb, k=10, query_id=0, nprobe=2, rescore=1000).collect()
    wide = topk_ivfpq(emb, k=10, query_id=0, nprobe=16, rescore=1000).collect()
    for r in narrow + wide:
        if r["vec_id"] in exact:
            assert r["score"] == exact[r["vec_id"]]
    hit_n = len(set(exact) & {r["vec_id"] for r in narrow})
    hit_w = len(set(exact) & {r["vec_id"] for r in wide})
    assert hit_w >= hit_n  # unbinding budget: probes only add candidates
    assert hit_w == 10  # probing ALL cells + full rescore == brute force
    assert len(wide) == 10


def test_pq_near_dups_max_bucket_drops_degenerate_codes(spark):
    """A degenerate region (many identical vectors) floods one band
    bucket; max_bucket excludes it so only the healthy pair survives."""
    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups,
    )

    flood = [(i, [0.5] * 64) for i in range(20)]  # identical: one bucket
    base = [0.3] * 32 + [-0.7] * 32
    near = list(base)
    near[1] = 0.29
    df = spark.createDataFrame(
        flood + [(100, base), (101, near)],
        "vec_id int, embedding array<float>",
    )
    capped = pq_near_dups(df, min_band_matches=2, threshold=0.9, max_bucket=5)
    assert [(r.id_a, r.id_b) for r in capped.collect()] == [(100, 101)]
    uncapped = pq_near_dups(df, min_band_matches=2, threshold=0.9)
    assert uncapped.count() == 190 + 1  # C(20,2) flood pairs + the pair


def test_topk_pq_batch_matches_per_query_and_brute_force(spark, sf_correct):
    """Batched PQ ADC: per-query rows equal topk_pq at the same budget
    (one code-table scan must change throughput, never answers), and
    with an UNBINDING rescore budget the batch result equals
    brute-force topk_batch exactly — all-candidates + full rescore is
    the exactness anchor."""
    from data_observability_installer_spark.operators.llm.similarity import (
        topk_batch,
        topk_pq,
        topk_pq_batch,
    )

    emb = load_table(spark, sf_correct, "embeddings")
    qids = [0, 1, 2]
    batch = topk_pq_batch(emb, query_ids=qids, k=5).collect()
    assert {r.query_id for r in batch} == set(qids)
    for q in qids:
        got = [(r.rank, r.vec_id, r.score) for r in batch if r.query_id == q]
        want = [
            (i + 1, r.vec_id, r.score)
            for i, r in enumerate(topk_pq(emb, k=5, query_id=q).collect())
        ]
        assert got == want, f"query {q} diverged from per-query topk_pq"

    n = emb.count()
    unbound = {
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in topk_pq_batch(emb, query_ids=qids, k=5, rescore=n).collect()
    }
    brute = {
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in topk_batch(emb, query_ids=qids, k=5).collect()
    }
    assert unbound == brute


# ---------------------------------------------------------------------------
# binary (sign) quantization + Hamming top-k
# ---------------------------------------------------------------------------


def test_bq_encode_packs_sign_bits(spark):
    from data_observability_installer_spark.operators.llm.similarity import bq_encode

    rows = [
        (0, [1.0] * 64),                      # all positive -> all ones
        (1, [-1.0] * 64),                     # all negative -> zero
        (2, [1.0] + [-1.0] * 63),             # only bit 0
        (3, [-1.0] * 63 + [1.0]),             # only bit 63 (sign bit)
        (4, [0.0] * 64),                      # zeros are NOT positive
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vid"]: r["bits"] for r in bq_encode(df).collect()}
    assert got[0] == -1            # all 64 bits set (two's complement)
    assert got[1] == 0
    assert got[2] == 1
    assert got[3] == -(2 ** 63)    # bit 63 alone = min int64
    assert got[4] == 0


def test_topk_hamming_exact_on_aligned_vectors(spark):
    """Hamming on sign bits is exact when vectors live on the +-1
    hypercube: distance = number of disagreeing coordinates."""
    from data_observability_installer_spark.operators.llm.similarity import (
        topk_hamming,
    )

    base = [1.0] * 64

    def flip(n):  # flip first n coordinates
        v = list(base)
        for i in range(n):
            v[i] = -1.0
        return v

    rows = [(0, base), (1, flip(1)), (2, flip(3)), (3, flip(10)), (4, flip(32))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = topk_hamming(df, k=3, query_id=0).collect()
    assert [r["vec_id"] for r in got] == [1, 2, 3]
    assert [r["hamming"] for r in got] == [1, 3, 10]
    assert got[0]["score"] > got[1]["score"] > got[2]["score"]


def test_topk_hamming_candidate_cut_respects_rescore_budget(spark):
    """With rescore*k smaller than the corpus, the nominee set is the
    Hamming-closest prefix — a far vector can't enter the answer even
    with a flattering cosine."""
    from data_observability_installer_spark.operators.llm.similarity import (
        bq_encode,
        topk_hamming,
    )

    import numpy as np

    rs = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rs.uniform(-1, 1, 64)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = {r["vid"]: r["bits"] for r in bq_encode(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    order = sorted((ham(codes[i], codes[0]), i) for i in range(1, 40))
    nominees = {i for _, i in order[: 2 * 3]}
    got = topk_hamming(df, k=3, query_id=0, rescore=2).collect()
    assert {r["vec_id"] for r in got} <= nominees


def test_topk_pq_store_serves_identically_to_in_call_encode(spark, tmp_path):
    """The persisted-code-table serving path must answer EXACTLY like
    topk_pq over the same vectors: build the store with two incremental
    ingest batches (plus a compaction, to prove the snapshot read is
    ingest-shape-independent), then compare."""
    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups_incremental,
        topk_pq,
        topk_pq_store,
    )
    from data_observability_installer_spark.sources.txtable import compact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b1 = emb.filter("vec_id % 2 = 0")
    b2 = emb.filter("vec_id % 2 = 1")
    store = str(tmp_path / "codes")
    pq_near_dups_incremental(spark, store, b1, batch_id=0).count()
    pq_near_dups_incremental(spark, store, b2, batch_id=1).count()
    compact(spark, store, target_partitions=1)

    served = [tuple(r) for r in topk_pq_store(spark, store, query_id=0).collect()]
    direct = [tuple(r) for r in topk_pq(emb, k=10, query_id=0).collect()]
    assert served == direct


def test_train_pq_perm_balances_variance_and_preserves_scores(spark):
    """The permutation must (a) be a permutation, (b) spread the
    high-variance dims across subspaces instead of letting them pool,
    and (c) leave exact cosine answers unchanged (dot products commute
    with permutations)."""
    import numpy as np

    from data_observability_installer_spark.operators.llm.similarity import (
        PQ_M,
        permute_embedding,
        topk_bruteforce,
        train_pq_perm,
    )

    rs = np.random.RandomState(3)
    # dims 0..7 high-variance, the rest near-constant: untrained PQ
    # would give subspace 0 all the signal
    rows = []
    for i in range(200):
        v = rs.uniform(-0.01, 0.01, 64)
        v[:8] = rs.uniform(-1, 1, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    perm = train_pq_perm(df)
    assert sorted(perm) == list(range(64))
    d = 64 // PQ_M
    # each subspace must hold EXACTLY one of the 8 high-variance dims
    for j in range(PQ_M):
        sub = perm[j * d:(j + 1) * d]
        assert sum(1 for x in sub if x < 8) == 1
    direct = [tuple(r) for r in topk_bruteforce(df, k=5, query_id=0).collect()]
    permuted = [
        tuple(r)
        for r in topk_bruteforce(permute_embedding(df, perm), k=5, query_id=0).collect()
    ]
    assert direct == permuted


def test_argmin_bucket_forms_agree_and_sample_init_covers(spark):
    """(a) The unrolled least() argmin and the array-literal aggregate
    argmin (used above _ARGMIN_UNROLL_MAX, where the unrolled form falls
    off the JIT method-size cliff) must agree cell for cell, including
    the ties-to-lowest-id rule. (b) sample init must seed every
    requested centroid FROM THE DATA (fixed uniform literals collapse on
    real manifolds at larger K — measured 5 live cells of 64)."""
    import numpy as np

    from data_observability_installer_spark.operators.llm import similarity as sim
    from pyspark.sql import functions as F

    rs = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rs.uniform(-1, 1, 64)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sim.train_ivf_kmeans(df, n_clusters=30, iters=1, init="sample")
    assert len(cents) == 30  # every seed came from a data vector
    eq = sim._quant_sql("embedding")
    old = sim._ARGMIN_UNROLL_MAX
    try:
        sim._ARGMIN_UNROLL_MAX = 1000
        unrolled = df.select(
            "vec_id", F.expr(sim._argmin_bucket_sql(eq, cents, 64)).alias("b")
        ).collect()
        sim._ARGMIN_UNROLL_MAX = 1
        arrayed = df.select(
            "vec_id", F.expr(sim._argmin_bucket_sql(eq, cents, 64)).alias("b")
        ).collect()
    finally:
        sim._ARGMIN_UNROLL_MAX = old
    assert sorted(map(tuple, unrolled)) == sorted(map(tuple, arrayed))
    # tie rule: a duplicated centroid must always lose to its lower id
    dup = dict(cents)
    dup[29] = list(dup[0])
    try:
        sim._ARGMIN_UNROLL_MAX = 1
        got = df.select(
            F.expr(sim._argmin_bucket_sql(eq, dup, 64)).alias("b")
        ).groupBy("b").count().collect()
    finally:
        sim._ARGMIN_UNROLL_MAX = old
    assert all(r["b"] != 29 for r in got)


def test_pq_encode_codes_match_numpy_reference(spark, sf_smoke):
    """pq_encode's code VALUES: for every sf_smoke vector and every
    subspace, the argmin over exact int64 squared distances to the
    codebook, ties to the lowest code, recomputed in numpy. A planted
    row sits exactly equidistant from two centroids of subspace 0 (the
    higher code is the reflection of the lower one through the row's
    quantized subvector), so the tie rule is checked, not assumed."""
    import numpy as np

    from data_observability_installer_spark.operators.llm.similarity import (
        IVF_SCALE,
        PQ_M,
        pq_codebooks,
        pq_encode,
    )

    def reference(rows, books):
        q = np.floor(
            np.array([r["embedding"] for r in rows], dtype=np.float64) * IVF_SCALE
            + 0.5
        ).astype(np.int64)
        d = len(books[0][0])
        codes = []
        for j, book in enumerate(books):
            sub = q[:, j * d : (j + 1) * d]
            cb = np.array(book, dtype=np.int64)
            dist = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            codes.append(dist.argmin(axis=1))  # first minimum = lowest code
        return {
            r["vec_id"]: tuple(int(c[i]) for c in codes) for i, r in enumerate(rows)
        }

    def encoded(frame, books):
        return {
            r["vid"]: tuple(r["codes"]) for r in pq_encode(frame, books=books).collect()
        }

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    books = pq_codebooks()
    got = encoded(emb, None)  # the default books
    assert len(got) == len(rows) and all(len(c) == PQ_M for c in got.values())
    assert got == reference(rows, books)

    # planted tie in subspace 0 between codes lo < hi
    lo, hi = 3, 9
    d = len(books[0][0])
    a = np.array(books[0][lo], dtype=np.int64)
    vec = np.zeros(PQ_M * d, dtype=np.float32)
    vec[:d] = (a + np.arange(1, d + 1) * 1000) / IVF_SCALE
    x = np.floor(vec[:d].astype(np.float64) * IVF_SCALE + 0.5).astype(np.int64)
    tied = [list(b) for b in books]
    tied[0][hi] = [int(v) for v in 2 * x - a]
    dist0 = ((x[None, :] - np.array(tied[0], dtype=np.int64)) ** 2).sum(axis=1)
    assert dist0[lo] == dist0[hi] == dist0.min()
    assert sorted(dist0)[2] > dist0[lo]  # exactly a two-way tie

    planted = spark.createDataFrame(
        [(-1, [float(v) for v in vec])], "vec_id long, embedding array<float>"
    )
    with_tie = emb.unionByName(planted)
    got_t = encoded(with_tie, tied)
    assert got_t[-1][0] == lo
    assert got_t == reference(with_tie.collect(), tied)


def _lloyd_reference(points, init, iters, keep_dead):
    """Pure-Python exact-integer Lloyd over quantized points: assign to
    the nearest centroid by squared distance (ties to the lowest id),
    update each live centroid to floor(float(sum) / n + 0.5) per
    component. Returns the final {id: centroid} and, per iteration, the
    set of ids that had members."""
    cents, live = dict(init), []
    for _ in range(iters):
        members: dict[int, list[list[int]]] = {}
        for p in points:
            b = min(cents, key=lambda c: (sum((x - y) ** 2 for x, y in zip(p, cents[c])), c))
            members.setdefault(b, []).append(p)
        new = dict(cents) if keep_dead else {}
        for b, ps in members.items():
            new[b] = [math.floor(float(sum(col)) / len(ps) + 0.5) for col in zip(*ps)]
        cents = new
        live.append(set(members))
    return cents, live


def _planted_dying_centroid(a, b, c):
    """Four points around centroids a, b, c (float vectors) where the
    cell of ``a`` is live in iteration 1 and loses all members in
    iteration 2: two points sit just on a's side of its borders with b
    and with c, each next to a point just on the other side. After
    iteration 1 a's centroid is their midpoint, which is farther from
    both than the neighbours' new centroids are."""
    a, b, c = (np.array(v, dtype=np.float64) for v in (a, b, c))
    pts = []
    for o in (b, c):
        mid, step = (a + o) / 2, 0.05 * (a - o)
        pts += [mid + step, mid - step]
    return [[float(x) for x in p] for p in pts]


def _quantized(points):
    # the engines' quantizer: CAST(float AS DOUBLE) * scale, floor(+0.5)
    from data_observability_installer_spark.operators.llm.similarity import IVF_SCALE

    return [
        [math.floor(float(np.float32(x)) * IVF_SCALE + 0.5) for x in p] for p in points
    ]


def test_trainers_match_exact_lloyd_reference_on_dead_centroids(spark):
    """The Lloyd trainers' values, pinned against a pure-Python
    exact-integer reference on a planted frame where one IVF cell and
    one PQ centroid are live in iteration 1 and lose every member in
    iteration 2. The two dead-centroid rules differ on purpose: IVF
    DROPS the dead cell (the SQL twin's empty cell has no row), PQ
    KEEPS the dead centroid's previous row (codes index book
    positions, so the book stays k-long)."""
    from data_observability_installer_spark.operators.llm.similarity import (
        IVF_SCALE,
        ivf_centroids,
        pq_codebooks,
        train_ivf_kmeans,
        train_pq,
    )

    schema = "vec_id long, embedding array<float>"

    # IVF: 3 fixed-init cells, cell 0 dies in iteration 2
    init = ivf_centroids(n_clusters=3)
    pts = _planted_dying_centroid(*init)
    q_init = dict(enumerate(_quantized(init)))
    ref, live = _lloyd_reference(_quantized(pts), q_init, 2, keep_dead=False)
    assert live == [{0, 1, 2}, {1, 2}]  # the planted death happens
    df = spark.createDataFrame(list(enumerate(pts)), schema)
    got = train_ivf_kmeans(df, n_clusters=3, iters=2)
    assert got == ref
    assert set(got) == {1, 2}  # the dead cell is dropped

    # PQ: m=8 books of 3; in subspace 0 centroid 0 dies in iteration 2,
    # every other subspace sees only zero subvectors
    books = pq_codebooks(m=8, k=3)
    d = len(books[0][0])
    sub0 = _planted_dying_centroid(*[[v / IVF_SCALE for v in c] for c in books[0]])
    pts = [p + [0.0] * (7 * d) for p in sub0]
    qpts = _quantized(pts)
    got = train_pq(spark.createDataFrame(list(enumerate(pts)), schema), m=8, k=3, iters=2)
    for j, book in enumerate(books):
        subs = [p[j * d : (j + 1) * d] for p in qpts]
        ref, live = _lloyd_reference(subs, dict(enumerate(book)), 2, keep_dead=True)
        assert got[j] == [ref[c] for c in range(3)], j
        if j == 0:
            assert live == [{0, 1, 2}, {1, 2}]  # the planted death happens
            after_one, _ = _lloyd_reference(subs, dict(enumerate(book)), 1, keep_dead=True)
            # the dead centroid keeps its iteration-1 row, not its init row
            assert got[0][0] == after_one[0] != book[0]


# Spark jobs per call (build + collect) of the trained ANN registry
# queries at sf0.001: each budget is the maximum observed over 12
# repetitions when IVF and PQ still trained in separate loops (every
# repetition gave the same count). Training must stay one pass per
# Lloyd iteration for all subspaces together.
TRAINED_ANN_JOB_BUDGET = {
    "topk_ivf_embeddings": 11,
    "topk_pq_trained_embeddings": 14,
    "topk_ivfpq_trained_embeddings": 20,
    "semdedup_trained_embeddings": 14,
}


@pytest.mark.parametrize("name", sorted(TRAINED_ANN_JOB_BUDGET))
def test_trained_ann_job_budget(spark, sf_smoke, name):
    from data_observability_installer_spark.plans import registry

    sc = spark.sparkContext
    registry.clear_caches()
    group = f"{name}_budget"
    sc.setJobGroup(group, "job-budget run")
    try:
        rows = registry.queries()[name](spark, sf_smoke).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert rows
    assert len(jobs) <= TRAINED_ANN_JOB_BUDGET[name], (
        f"{name} ran {len(jobs)} Spark jobs (budget {TRAINED_ANN_JOB_BUDGET[name]})"
    )
