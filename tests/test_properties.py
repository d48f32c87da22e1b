"""Property-based invariants (hypothesis): randomized micro-frames
checking the algebraic properties the operators promise, not just
fixed examples. Example counts are small — each example spins Spark
jobs — but every property failed at least once during development of
its operator family somewhere in the ecosystem, so they stay."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from data_observability_installer_spark.operators.llm.curation import deterministic_split
from data_observability_installer_spark.operators.llm.dedup import ngram_jaccard_pairs
from data_observability_installer_spark.operators.profile import profile
from data_observability_installer_spark.operators.relational import asof_join
from data_observability_installer_spark.plans.suites import AS_OF

SETTINGS = dict(max_examples=5, deadline=None)

vals = st.lists(
    st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)), min_size=0, max_size=30
)


@settings(**SETTINGS)
@given(vals)
def test_profile_count_identity(spark, xs):
    """record_ct == value_ct + null_ct for any column content."""
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    rows = {r.metric: r.value for r in profile(df, "t", AS_OF, columns=["v"]).collect()}
    assert rows["record_ct"] == len(xs)
    assert rows["value_ct"] + rows["null_ct"] == rows["record_ct"]


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True))
def test_split_is_total_and_stable_under_growth(spark, ids):
    """Every id gets exactly one split; a subset's assignments never
    change when the rest of the corpus arrives."""
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    full = {r.doc_id: r.split for r in deterministic_split(df).collect()}
    assert set(full) == set(ids)
    half_ids = ids[: len(ids) // 2] or ids
    half = spark.createDataFrame([(i,) for i in half_ids], "doc_id bigint")
    sub = {r.doc_id: r.split for r in deterministic_split(half).collect()}
    assert all(full[i] == s for i, s in sub.items())


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=0, max_size=8
    )
)
def test_jaccard_pairs_are_canonical_and_thresholded(spark, texts):
    """Every emitted pair: doc_a < doc_b, threshold respected, and a
    doc duplicated verbatim always pairs with its copy at jaccard 1."""
    rows = [(i, t) for i, t in enumerate(texts)]
    if rows:
        rows.append((len(rows), rows[0][1]))  # exact copy of doc 0
    df = spark.createDataFrame(rows or [(0, "x")], "doc_id bigint, text string")
    got = ngram_jaccard_pairs(df, n=2, threshold=0.5, max_df=100).collect()
    assert all(r.doc_a < r.doc_b and r.jaccard >= 0.5 for r in got)
    if rows and rows[0][1].strip():
        assert any(
            r.doc_a == 0 and r.doc_b == len(rows) - 1 and r.jaccard == 1.0 for r in got
        )


@settings(**SETTINGS)
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=20),
    st.lists(st.integers(0, 100), min_size=0, max_size=20),
)
def test_asof_preserves_left_cardinality(spark, left_ts, right_ts):
    """As-of join is left-outer: exactly one output row per probe row,
    and the matched ts is the max right ts <= probe ts."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    l = spark.createDataFrame(
        [("k", base + dt.timedelta(minutes=t), i) for i, t in enumerate(left_ts)],
        "k string, ts timestamp, row_id bigint",
    )
    r = spark.createDataFrame(
        [("k", base + dt.timedelta(minutes=t), float(t)) for t in sorted(set(right_ts))] or
        [("other", base, 0.0)],
        "k string, ts timestamp, rv double",
    )
    out = asof_join(l, r, on="k").collect()
    assert len(out) == len(left_ts)
    rset = sorted(set(right_ts))
    for row in out:
        probe_minutes = left_ts[row.row_id]
        want = max((t for t in rset if t <= probe_minutes), default=None)
        got = None if row.rv is None else int(row.rv)
        if set(right_ts):
            assert got == want


@settings(**SETTINGS)
@given(
    st.dictionaries(
        st.integers(0, 30), st.sampled_from(["a", "b", "c"]), min_size=0, max_size=20
    ),
    st.dictionaries(
        st.integers(0, 30), st.sampled_from(["a", "b", "c"]), min_size=0, max_size=20
    ),
)
def test_snapshot_diff_partitions_the_key_universe(spark, old_map, new_map):
    """For ANY two key->value maps: ADDED+REMOVED+CHANGED+UNCHANGED
    counts must exactly partition |old ∪ new| and match set algebra."""
    from data_observability_installer_spark.operators.dq.snapshot import snapshot_diff

    schema = "k int, v string"
    old = spark.createDataFrame(list(old_map.items()), schema)
    new = spark.createDataFrame(list(new_map.items()), schema)
    out = {r["status"]: r["row_ct"] for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    ok, nk = set(old_map), set(new_map)
    expect = {
        "ADDED": len(nk - ok),
        "REMOVED": len(ok - nk),
        "CHANGED": sum(1 for k in ok & nk if old_map[k] != new_map[k]),
        "UNCHANGED": sum(1 for k in ok & nk if old_map[k] == new_map[k]),
    }
    assert out == {k: v for k, v in expect.items() if v}


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from(["P", "F", "O", None])),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_intervals_chain_and_replay_to_history(spark, seq):
    """For ANY per-key status sequence: intervals must chain gaplessly
    (valid_to == next valid_from), have exactly one open interval per
    key, and replaying them reproduces the collapsed history."""
    from data_observability_installer_spark.operators.dq.snapshot import scd2_history

    rows = [(k, s, i) for i, (k, s) in enumerate(seq)]
    df = spark.createDataFrame(rows, "k int, status string, ord int").withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(days=F.col("ord"))
    )
    hist = scd2_history(df, "k", "status", "ts", "ord").collect()
    by_key: dict[int, list] = {}
    for r in sorted(hist, key=lambda r: (r["k"], r["valid_from"])):
        by_key.setdefault(r["k"], []).append(r)
    for k, ivs in by_key.items():
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]  # gapless chain
            assert a["status"] != b["status"]  # real change points (incl. NULL runs merging)
        # replay: collapse the raw sequence for this key and compare
        raw = [s for kk, s, _ in rows if kk == k]
        collapsed = [s for i, s in enumerate(raw) if i == 0 or s != raw[i - 1]]
        assert [r["status"] for r in ivs] == collapsed


texts_strat = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=8
)


@settings(**SETTINGS)
@given(texts_strat)
def test_span_scrub_partitions_tokens_and_is_identity_below_min_df(spark, texts):
    """kept + removed always equals the doc's token count, and with
    min_df above the corpus size nothing can be boilerplate — the
    scrub degenerates to whitespace normalization."""
    from data_observability_installer_spark.operators.llm.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_duplicate_spans(df, n=2, min_df=len(texts) + 1).collect()}
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        toks = t.strip().split()
        # split('') on whitespace yields one empty token — the operator
        # counts what the split produced, so that's the identity too
        n_toks = len(toks) if toks else 1
        assert out[i]["removed_tokens"] == 0
        assert out[i]["kept_tokens"] == n_toks
        assert out[i]["clean_text"] == " ".join(toks)


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="xy z", min_size=1, max_size=30), min_size=2, max_size=6))
def test_minhash_signature_range_and_determinism(spark, texts):
    """Signatures are affine rehashes mod p: every sig lands in
    [0, p) and recomputation is bit-identical (no per-run salt)."""
    from data_observability_installer_spark.operators.llm.dedup import (
        _MINHASH_PRIME,
        exploded_shingles,
        minhash_signatures,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    a = minhash_signatures(exploded_shingles(df, "text", "doc_id", 2), num_hashes=4).collect()
    b = minhash_signatures(exploded_shingles(df, "text", "doc_id", 2), num_hashes=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for row in a:
        for i in range(4):
            assert 0 <= row[f"sig_{i}"] < _MINHASH_PRIME


@settings(**SETTINGS)
@given(
    st.dictionaries(st.integers(0, 20), st.text(alphabet="xy", min_size=1, max_size=3), max_size=10),
    st.lists(
        st.tuples(
            st.integers(0, 20),
            st.sampled_from(["I", "U", "D"]),
            st.text(alphabet="xy", min_size=1, max_size=3),
        ),
        max_size=15,
    ),
)
def test_apply_cdc_equals_sequential_replay(spark, base_map, ops):
    """The distributed merge must equal a driver-side sequential replay
    of the changelog (ops applied in seq order per key)."""
    from data_observability_installer_spark.operators.dq.snapshot import apply_cdc

    base_rows = [(k, v) for k, v in base_map.items()]
    change_rows = [(k, op, seq, v) for seq, (k, op, v) in enumerate(ops)]
    expected = dict(base_map)
    for k, op, v in ops:  # ops list order IS seq order
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v
    base = spark.createDataFrame(base_rows, "k int, v string") if base_rows else (
        spark.createDataFrame([], "k int, v string")
    )
    changes = spark.createDataFrame(
        change_rows, "k int, op string, seq int, v string"
    ) if change_rows else spark.createDataFrame([], "k int, op string, seq int, v string")
    got = {r["k"]: r["v"] for r in apply_cdc(base, changes, ["k"], ["v"]).collect()}
    assert got == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_zvalue_matches_reference_morton(spark, pairs):
    """Property: the JVM-side interleave equals a reference Python
    Morton implementation for arbitrary 8-bit rank pairs (bounds 0..255
    with bits=8 make rank == the raw value)."""
    from data_observability_installer_spark.operators.layout import zvalue_expr

    def morton(x: int, y: int) -> int:
        out = 0
        for i in range(8):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in pairs], "a double, b double"
    )
    got = [
        r.z
        for r in df.withColumn(
            "z", zvalue_expr({"a": (0.0, 255.0), "b": (0.0, 255.0)}, bits=8)
        ).collect()
    ]
    want = [morton(a, b) for a, b in pairs]
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_pair_counts_matches_python_reference(spark, texts):
    """Corpus-wide pair counts equal a pure-Python recount for any
    whitespace/word structure (empty words, runs of spaces, 1-char
    words contributing nothing)."""
    from collections import Counter

    from data_observability_installer_spark.operators.llm.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {(r.pair, r.pair_ct) for r in bpe_pair_counts(df, top_n=10_000).collect()}
    ref = Counter()
    for t in texts:
        for w in t.lower().split():
            if len(w) >= 2:
                for i in range(len(w) - 1):
                    ref[w[i : i + 2]] += 1
    assert got == {(p, c) for p, c in ref.items()}


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 1000), min_size=2, max_size=40))
def test_cusum_matches_python_reference(spark, xs):
    """The window-function prefix-sum/running-min formulation equals
    the direct max(0, S + d) recursion on the same scaled integers."""
    from data_observability_installer_spark.operators.drift import cusum_screen

    k_bp, h_bp = 2500, 20000
    rows = [("k", f"o{i:03d}", v) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, o string, v long")
    got = cusum_screen(df, k_bp=k_bp, h_bp=h_bp).collect()[0]

    n, t = len(xs), sum(xs)
    su = sd = 0
    peaks, ups, dns = [0, 0], 0, 0
    first_up = first_dn = None
    for i, v in enumerate(xs):
        dup = 10000 * n * v - 10000 * t - k_bp * t
        ddn = 10000 * t - k_bp * t - 10000 * n * v
        su = max(0, su + dup)
        sd = max(0, sd + ddn)
        peaks[0] = max(peaks[0], su)
        peaks[1] = max(peaks[1], sd)
        if su > h_bp * t:
            ups += 1
            first_up = first_up or f"o{i:03d}"
        if sd > h_bp * t:
            dns += 1
            first_dn = first_dn or f"o{i:03d}"
    assert (got.n, got.total) == (n, t)
    assert (got.upper_alarms, got.lower_alarms) == (ups, dns)
    assert (got.first_upper, got.first_lower) == (first_up, first_dn)
    assert got.peak_upper_bp == (peaks[0] // t if t else 0)
    assert got.peak_lower_bp == (peaks[1] // t if t else 0)


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 1000), min_size=2, max_size=30))
def test_changepoint_matches_bruteforce_argmax(spark, xs):
    """The windowed split equals the brute-force argmax of the
    quantized gain with earliest-t tie-break."""
    from data_observability_installer_spark.operators.drift import changepoint

    rows = [("k", f"o{i:03d}", v) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, o string, v long")
    got = changepoint(df).collect()[0]

    n, tot = len(xs), sum(xs)
    best = None
    pre = 0
    for t in range(1, n):
        pre += xs[t - 1]
        gain_q = (n * pre - t * tot) ** 2 * 10000 // (n * t * (n - t))
        if best is None or gain_q > best[0]:
            best = (gain_q, t, pre)
    gain_q, t_star, pre = best
    assert (got.gain_q, got.t_star) == (gain_q, t_star)
    assert got.mean_left_bp == pre * 10000 // t_star
    assert got.mean_right_bp == (tot - pre) * 10000 // (n - t_star)


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.floats(-100, 100, allow_nan=False), st.booleans()),
             min_size=4, max_size=60)
)
def test_wasserstein_zero_iff_identical_and_bounded(spark, rows):
    """W1 of a slice against itself is exactly 0; any two slices score
    within [0, 1e6] (the area can never exceed the full span)."""
    from data_observability_installer_spark.operators.drift import wasserstein_drift

    df = spark.createDataFrame(
        [(v, s) for v, s in rows] + [(v, not s) for v, s in rows],
        "v double, is_a boolean",
    )
    # the union holds each value once per side -> identical slices
    mirror = wasserstein_drift(df, "v", F.col("is_a")).collect()[0]
    assert mirror.w1_e6 == 0

    half = spark.createDataFrame(rows, "v double, is_a boolean")
    r = wasserstein_drift(half, "v", F.col("is_a")).collect()[0]
    if r.w1_e6 is not None:
        assert 0 <= r.w1_e6 <= 1_000_000


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=10))
def test_novelty_monotone_in_reference(spark, texts):
    """Growing the reference can only LOWER (or keep) every doc's
    novelty — more seen n-grams can't make content more novel."""
    from data_observability_installer_spark.operators.llm.curation import novelty_score

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    small_ref = spark.createDataFrame([(100, texts[0])], "doc_id long, text string")
    big_ref = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    small = {r.doc_id: r.novelty_bp for r in novelty_score(docs, small_ref).collect()}
    big = {r.doc_id: r.novelty_bp for r in novelty_score(docs, big_ref).collect()}
    for d in small:
        if small[d] is not None:
            assert big[d] <= small[d]
    # every doc is IN the big reference -> all fully known
    assert all(v == 0 for v in big.values() if v is not None)


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 5)),
             min_size=2, max_size=40)
)
def test_fd_confidence_g3_bounds_and_exactness(spark, pairs_data):
    """g3 is 0 iff the FD holds exactly (fd_check agreement), and the
    drop count never reaches the group's row count."""
    from data_observability_installer_spark.operators.dq.discovery import (
        fd_check,
        fd_confidence,
    )

    df = spark.createDataFrame(pairs_data, "a string, b int")
    conf = fd_confidence(df, [("a", "b")], tol_bp=0).collect()[0]
    holds = fd_check(df, [("a", "b")]).collect()[0].holds
    assert (conf.g3_bp == 0) == bool(holds)
    assert 0 <= conf.drop_rows < conf.n_rows or conf.n_rows == 0
    assert conf.drop_rows + conf.n_keys <= conf.n_rows  # keep >= 1 per key
