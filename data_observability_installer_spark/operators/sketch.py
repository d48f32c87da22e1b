"""Mergeable sketch operators: bounded-memory summaries whose CONTENT,
not just their error bound, is value-checked against DuckDB twins.

The suite: Misra–Gries heavy hitters (exact, below), Count-Min point
frequencies, HyperLogLog distinct counts and the dyadic q-digest
quantile sketch. Each summary merges by one associative fold
(:func:`fold_keyed`), which is also the read face of its streaming
store (``streaming/sketch.py``). The HLL and q-digest operations are
written once and take an optional key: ``key_col=None`` builds one
global sketch, a key builds one per key value in the same pass, and a
sketch frame's key column (``k`` for HLL, ``k_key`` for the q-digest)
is what makes merge, estimate, re-thin and the quantile scan per key.
The q-digest closed form has one assembly: a build is the re-thin of
its leaf nodes, run on the driver while one capped collect of the
nodes fits under ``functions.driver.DRIVER_ROWS`` and as Spark
aggregates above it; the quantile scan is selected the same way.

Heavy hitters. Reference parity: the TestGen surface profiles "51 data characteristics"
including dominant-value / list-of-values capture (reference
`README.md:207`; LOV baselines in `demo/input_data/data_tests.csv`).
At 100 TB the exact `collect_set` / full `groupBy` route for "which
values dominate this column" needs state proportional to the column's
cardinality; this module gives the scale-safe answer: a Misra–Gries
summary per partition (hard `capacity` cap on state, Agarwal et al.,
"Mergeable Summaries", PODS 2012) to nominate candidates, then ONE
exact counting pass restricted to those candidates via a broadcast
semi-join.

Why the answer is still EXACT (and therefore oracle-able): with
per-partition capacity ``c >= phi_denom``, any item whose global
frequency ``f >= n / phi_denom`` must have, in at least one partition
``p``, local frequency ``f_p > n_p / (c + 1)`` (else summing the
per-partition bound gives ``f <= n / (c + 1) < n / phi_denom``).
Misra–Gries retains every such item, so the candidate union is a
superset of the true heavy hitters; the second pass counts candidates
exactly and applies the threshold with pure integer arithmetic. The
sketch bounds MEMORY, never the answer.

Plan shape at 100 TB: pass 1 is map-only (no shuffle — each partition
emits <= capacity candidate rows); pass 2 is ONE scan that produces
both the exact candidate counts and the grand total: a broadcast LEFT
join marks candidate rows and the groupBy folds every non-candidate
into a single NULL group, so map-side combine bounds the shuffle at
candidate-set size + one row per task and the threshold verdict never
compares counts and totals taken from different snapshots of a
recomputed source. (Candidate NOMINATION still assumes the two passes
scan the same rows — the standard multi-pass precondition; pin a
nondeterministic input before calling.)
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..functions.driver import capped_columns, capped_table, local_frame
from ..functions.pin import pin


def mg_summarize_partition(counts, batch_counts, capacity: int):
    """Merge exact per-batch counts into a Misra–Gries summary held as
    a pandas Series (index = item, value = lower-bound counter),
    trimming to ``capacity`` entries by the mergeable-summaries rule:
    subtract the (capacity+1)-th largest counter from every counter and
    drop the non-positive ones. Returns the new summary. Split out from
    the mapInPandas closure so unit tests can drive it directly."""
    merged = counts.add(batch_counts, fill_value=0) if counts is not None else batch_counts
    if len(merged) > capacity:
        cut = merged.nlargest(capacity + 1).iloc[-1]
        merged = merged - cut
        merged = merged[merged > 0]
    return merged


def heavy_hitters(
    items: DataFrame,
    item_col: str = "w",
    phi_denom: int = 1000,
    capacity: int | None = None,
) -> DataFrame:
    """Exact heavy hitters over ``items[item_col]`` (string): every
    item with frequency >= total/``phi_denom``, as
    ``(term, ct, share_bp)`` ordered by count. ``share_bp`` is integer
    basis points ``(ct * 10000) div total`` — floor division on int64,
    bit-identical across engines.

    ``capacity`` (default ``4 * phi_denom``) is the per-partition state
    bound; any value >= phi_denom preserves exactness (module
    docstring), larger values only reduce trim churn.
    """
    import pandas as pd

    cap = capacity if capacity is not None else 4 * phi_denom
    if cap < phi_denom:
        raise ValueError(
            f"capacity {cap} < phi_denom {phi_denom} voids the exactness guarantee"
        )
    src = items.select(F.col(item_col).alias("w")).filter(F.col("w").isNotNull())

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summary = None
        for pdf in batches:
            if len(pdf):
                summary = mg_summarize_partition(
                    summary, pdf["w"].value_counts(), cap
                )
        if summary is None:
            yield pd.DataFrame({"w": [], "est": []})
        else:
            yield pd.DataFrame(
                {
                    "w": list(summary.index),
                    "est": [int(v) for v in summary.to_numpy()],
                }
            )

    # the sketch is metadata-sized (<= capacity x partitions rows) —
    # pin it eagerly so the map-only pass 1 runs exactly once and no
    # cache entry outlives the query
    sketch = pin(src.mapInPandas(summarize, "w string, est long"))
    cands = sketch.filter(F.col("w").isNotNull()).select("w").distinct()
    # Pass 2 derives BOTH the exact candidate counts AND the total from
    # ONE scan: a broadcast LEFT join marks candidate rows, the groupBy
    # folds every non-candidate into a single NULL group (map-side
    # combine keeps the shuffle candidate-sized + one row per task), and
    # the pinned result feeds the threshold and the total — so the
    # verdict never mixes two snapshots of a recomputed source. The
    # Misra–Gries NOMINATION still assumes pass 1 and pass 2 scan the
    # same rows (the standard multi-pass Spark precondition — true for
    # any deterministic frame; pin a nondeterministic input before
    # calling).
    counts = pin(
        src.join(F.broadcast(cands.withColumn("_hit", F.lit(1))), "w", "left")
        .groupBy(F.when(F.col("_hit") == 1, F.col("w")).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    total = counts.agg(F.sum("ct").cast("long").alias("total"))
    out = (
        counts.filter(F.col("w").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("ct") * phi_denom >= F.col("total"))
        .select(
            F.col("w").alias("term"),
            F.col("ct").cast("long").alias("ct"),
            F.expr("CAST(ct * 10000L DIV total AS BIGINT)").alias("share_bp"),
        )
        .orderBy(F.col("ct").desc(), F.col("term"))
    )
    return out


def _bigrams(df: DataFrame, text_col: str) -> DataFrame:
    """Word bigrams of ``text_col`` as a single string column ``w`` —
    JVM-side: split, slice-zip, concat; no Python in the hot path."""
    ws = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return df.select(
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("w")
    )


def heavy_hitters_bigrams(
    df: DataFrame,
    phi_denom: int = 1000,
    text_col: str = "text",
    capacity: int | None = None,
) -> DataFrame:
    """Heavy-hitter word bigrams of a document corpus — the
    boilerplate-phrase detector (repeated headers/footers/templates
    show up as bigram heavy hitters long before full-document dedup
    fires)."""
    return heavy_hitters(
        _bigrams(df, text_col), "w", phi_denom=phi_denom, capacity=capacity
    )


def heavy_hitters_bigrams_sql(table: str, phi_denom: int = 1000, text_col: str = "text") -> str:
    """DuckDB twin: exact bigram frequencies + the same integer
    threshold and floor-division share. The twin may use the full
    groupBy (the oracle runs at small SF); the Spark side's sketch
    nomination provably returns the identical set."""
    return f"""
    WITH s AS (
      SELECT regexp_split_to_array(trim(lower({text_col})), '\\s+') AS ws
      FROM {table}),
    b AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS w
      FROM s, unnest(range(1, len(ws))) AS t(i)),
    f AS (SELECT w, count(*) AS ct FROM b WHERE w IS NOT NULL GROUP BY w),
    n AS (SELECT CAST(sum(ct) AS BIGINT) AS total FROM f)
    SELECT w AS term, CAST(ct AS BIGINT) AS ct,
           CAST((ct * 10000) // total AS BIGINT) AS share_bp
    FROM f, n
    WHERE ct * {phi_denom} >= total
    ORDER BY ct DESC, term
    """


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): a d x w counter grid
# where item x increments cell (i, h_i(x)) in each of d rows; the point
# estimate min_i grid[i][h_i(x)] NEVER undercounts and overcounts by
# <= 2N/w with probability 1 - (1/2)^d. Stored as a LONG counts table
# (row_id, bucket, ct) — metadata-sized (d*w cells), mergeable by plain
# (row_id, bucket) summation, the exact algebra a partitioned /
# multi-day ingest needs. The hash family is literal-parameter
# polynomial arithmetic over the string's character codes — pure int64
# both engines can replay, so sketch CONTENT (not just its bounds) is
# oracle-checkable, unlike library sketches with engine-native hashing
# (the same determinism choice as simhash_md5's twin).
# ---------------------------------------------------------------------------

CM_P = 1_000_000_007  # prime modulus: acc stays < 1e9, acc*131 < 2^63
#: (a, b) per sketch row for h_i(x) = ((a * poly(x) + b) mod p) mod w
CM_PARAMS = [(1_299_709, 15_485_863), (492_876_847, 715_225_739),
             (179_424_673, 32_452_843), (982_451_653, 86_028_121)]


def _cm_poly_sql(col_sql: str) -> str:
    """Spark-SQL text: polynomial rolling hash of a string's character
    codes, mod CM_P — exact int64 at every step."""
    return (
        f"aggregate(sequence(1, length({col_sql})), CAST(0 AS BIGINT), "
        f"(acc, i) -> pmod(acc * 131 + ascii(substring({col_sql}, i, 1)), {CM_P}))"
    )


def cm_sketch(
    items: DataFrame, col: str = "w", width: int = 256, depth: int = 4
) -> DataFrame:
    """Build the sketch: one pass, explode each item into its ``depth``
    (row_id, bucket) cells, ONE groupBy — shuffle bounded at d*w cells
    regardless of input size. Returns (row_id, bucket, ct)."""
    poly = _cm_poly_sql(col)
    cells = ", ".join(
        f"named_struct('row_id', {i}, 'bucket', "
        f"CAST(pmod({a}L * _poly + {b}L, {CM_P}) % {width} AS INT))"
        for i, (a, b) in enumerate(CM_PARAMS[:depth])
    )
    return (
        items.selectExpr(f"{poly} AS _poly")
        .selectExpr(f"inline(array({cells}))")
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )


def fold_keyed(parts, keys: list[str], folds: dict[str, str]) -> DataFrame:
    """Union ``parts`` and fold each column per ``keys`` group by its
    merge op in ``folds`` (column -> 'sum' | 'min' | 'max'). Every op
    is associative and commutative, so folding any split of the
    partials gives the same rows as folding them all at once: the one
    merge algebra of the mergeable sketches and aggregate stores."""
    from functools import reduce

    return reduce(DataFrame.unionByName, parts).groupBy(*keys).agg(
        *[getattr(F, op)(c).alias(c) for c, op in folds.items()]
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (width, depth, params):
    plain summation per cell — the associative algebra that lets every
    partition/day build its own sketch independently."""
    return fold_keyed(sketches, ["row_id", "bucket"], {"ct": "sum"})


def cm_estimate(
    sketch: DataFrame, keys: DataFrame, col: str = "w",
    width: int = 256, depth: int = 4,
) -> DataFrame:
    """Point estimates for a key frame: compute each key's d buckets,
    join the (broadcast, d*w-sized) sketch, take min over rows. Never
    undercounts; overcount <= 2N/width w.h.p."""
    poly = _cm_poly_sql(col)
    cells = ", ".join(
        f"named_struct('row_id', {i}, 'bucket', "
        f"CAST(pmod({a}L * _poly + {b}L, {CM_P}) % {width} AS INT))"
        for i, (a, b) in enumerate(CM_PARAMS[:depth])
    )
    keyed = keys.selectExpr(col, f"{poly} AS _poly").selectExpr(
        col, f"inline(array({cells}))"
    )
    return (
        keyed.join(F.broadcast(sketch), ["row_id", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("ct"), F.lit(0))).cast("long").alias("cm_ct"))
    )


def cm_sketch_report_sql(
    table: str, text_col: str = "text", width: int = 256, depth: int = 4,
    k: int = 10,
) -> str:
    """DuckDB twin of the sketch-accuracy report (build + estimate the
    true top-k): the identical polynomial hash (list_reduce with a
    prepended 0 accumulator — DuckDB's reduce seeds from the first
    element), identical cell assignment, identical min-over-rows."""
    poly = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "generate_series(CAST(1 AS BIGINT), CAST(length(w) AS BIGINT))), "
        f"(acc, i) -> (acc * 131 + ascii(substr(w, CAST(i AS INT), 1))) % {CM_P})"
    )
    build_rows = " UNION ALL ".join(
        f"SELECT {i} AS row_id, "
        f"CAST(({a} * _poly + {b}) % {CM_P} % {width} AS INT) AS bucket FROM hp"
        for i, (a, b) in enumerate(CM_PARAMS[:depth])
    )
    key_rows = " UNION ALL ".join(
        f"SELECT w, exact_ct, {i} AS row_id, "
        f"CAST(({a} * _poly + {b}) % {CM_P} % {width} AS INT) AS bucket FROM tk"
        for i, (a, b) in enumerate(CM_PARAMS[:depth])
    )
    return f"""
    WITH t AS MATERIALIZED (
      SELECT unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS w
      FROM {table}),
    hp AS MATERIALIZED (SELECT {poly} AS _poly FROM t),
    cells AS (
      SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS ct
      FROM ({build_rows}) GROUP BY row_id, bucket),
    top AS (
      SELECT w, CAST(count(*) AS BIGINT) AS exact_ct
      FROM t GROUP BY w ORDER BY exact_ct DESC, w LIMIT {k}),
    tk AS (SELECT w, exact_ct, {poly} AS _poly FROM top),
    est AS (
      SELECT kr.w, any_value(kr.exact_ct) AS exact_ct,
             CAST(min(coalesce(c.ct, 0)) AS BIGINT) AS cm_ct
      FROM ({key_rows}) kr
      LEFT JOIN cells c ON c.row_id = kr.row_id AND c.bucket = kr.bucket
      GROUP BY kr.w)
    SELECT w, exact_ct, cm_ct,
           CAST(cm_ct - exact_ct AS BIGINT) AS overcount_ct
    FROM est ORDER BY w
    """


# ---------------------------------------------------------------------------
# HyperLogLog-style distinct counter (Flajolet, Fusy, Gandouet, Meunier
# 2007): m registers, each holding the max "rank" (trailing-zero run
# + 1) of the hashes routed to it; the harmonic-mean estimator turns
# the register profile into a cardinality estimate with ~1.04/sqrt(m)
# relative error, and registers merge by plain MAX — associative,
# commutative, IDEMPOTENT, so replayed/overlapping ingests cannot
# corrupt the count (strictly stronger than Count-Min's sum algebra).
# The same literal polynomial hash family as the CM sketch makes the
# register CONTENT oracle-checkable; the rank uses trailing zeros via
# the branch-free bit_count((h & -h) - 1), identical in both engines.
# ---------------------------------------------------------------------------

HLL_M = 256          # 2^8 registers -> ~6.5% standard error
HLL_RANK_CAP = 31    # h2 < 2^30, so a run can't exceed 30; 0 maps here
HLL_IDX = (413_158_511, 87_178_291)    # register router: (a*poly+b) % p % m
HLL_RANK = (961_748_941, 472_882_027)  # rank source: (a*poly+b) % p
#: bias constant alpha_m for m = 256 (the paper's alpha_infinity form)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _hll_cell_exprs(col_sql: str, m: int = HLL_M) -> tuple[str, str]:
    """(register, rank) Spark-SQL texts over one shared poly hash. Both
    derive from the SQUARED poly (poly^2 mod p, still < 2^63): the
    plain affine map preserves the arithmetic progressions that
    sequential-suffix vocabularies ('tok0'..'tok999') induce in the
    poly values, which skewed the trailing-zero ranks 25% high on such
    corpora; quadratic mixing measured <= 6% across structured and
    random fixtures — inside the m=256 band."""
    a1, b1 = HLL_IDX
    a2, b2 = HLL_RANK
    sq = f"pmod(_poly * _poly, {CM_P})"
    register = f"CAST(pmod({a1}L * {sq} + {b1}L, {CM_P}) % {m} AS INT)"
    h2 = f"pmod({a2}L * {sq} + {b2}L, {CM_P})"
    rank = (
        f"CAST(CASE WHEN {h2} = 0 THEN {HLL_RANK_CAP} "
        f"ELSE bit_count((({h2}) & -({h2})) - 1) + 1 END AS INT)"
    )
    return register, rank


def hll_sketch(
    items: DataFrame, col: str = "w", m: int = HLL_M, key_col: str | None = None
) -> DataFrame:
    """Build the register table (register, max_rank): one map pass +
    ONE groupBy whose shuffle is bounded at m rows regardless of input
    size. Registers never seen stay absent (they read as rank 0).

    ``key_col`` (a SQL expression) builds one register table per key
    in the same pass, (k, register, max_rank): shuffle bounded at m
    rows PER KEY (distinct users per day, distinct tokens per
    language)."""
    poly = _cm_poly_sql(col)
    register, rank = _hll_cell_exprs(col, m)
    keys = ["k"] if key_col else []
    return (
        items.selectExpr(*([f"{key_col} AS k"] if key_col else []), f"{poly} AS _poly")
        .selectExpr(*keys, f"{register} AS register", f"{rank} AS rank")
        .groupBy(*keys, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def _keys(sketch: DataFrame, key: str) -> list[str]:
    """``[key]`` when ``sketch`` is a keyed sketch frame, else ``[]``:
    a sketch's groupedness is the presence of its key column."""
    return [key] if key in sketch.columns else []


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables: MAX per (key,) register — idempotent, so
    double-counted input (replays, overlapping windows) changes
    nothing, the property that makes the streaming sink's store
    trivially exactly-once."""
    return fold_keyed(
        sketches, [*_keys(sketches[0], "k"), "register"], {"max_rank": "max"}
    )


def hll_estimate(sketch: DataFrame, m: int = HLL_M) -> DataFrame:
    """Estimates from the register table: one row, or one per key of a
    keyed table (k, v_zero, est_ct). The indicator sum uses 1/2^rank
    as exact dyadic doubles (integer shift, then one division), so the
    sum is EXACT in binary — both engines agree bit-for-bit; the only
    inexact steps are the final division and the small-range ln
    correction, absorbed by the half-up floor to an integer count.
    Small-range: the paper's linear counting when the raw estimate
    <= 2.5m and empty registers remain."""
    keys = _keys(sketch, "k")
    agg = sketch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            # dynamic shift must go through expr: F.shiftleft takes a
            # literal bit count only
            F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), max_rank) AS DOUBLE)")
        ).alias("s_present"),
    )
    zeros = F.lit(m) - F.col("present")
    s = zeros.cast("double") + F.coalesce(F.col("s_present"), F.lit(0.0))
    e_raw = F.lit(HLL_ALPHA * m * m) / s
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *keys,
        zeros.cast("long").alias("v_zero"),
        F.floor(est + F.lit(0.5)).cast("long").alias("est_ct"),
    )


def hll_report_sql(
    table: str, text_col: str = "text", m: int = HLL_M, key_col: str | None = None
) -> str:
    """DuckDB twin of the distinct-token report (sketch + estimate +
    exact comparison), per ``key_col`` value when given: identical poly
    hash, identical register/rank arithmetic, identical dyadic
    indicator sum and correction branch."""
    a1, b1 = HLL_IDX
    a2, b2 = HLL_RANK
    poly = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "generate_series(CAST(1 AS BIGINT), CAST(length(w) AS BIGINT))), "
        f"(acc, i) -> (acc * 131 + ascii(substr(w, CAST(i AS INT), 1))) % {CM_P})"
    )
    sq = f"((_poly * _poly) % {CM_P})"
    h2 = f"(({a2} * {sq} + {b2}) % {CM_P})"
    k = "k, " if key_col else ""
    k_in, k_out, tail = (
        (f"{key_col} AS k,", f"est.k AS {key_col},",
         "FROM est JOIN exact USING (k) ORDER BY est.k")
        if key_col else ("", "", "FROM est CROSS JOIN exact")
    )
    # GROUP BY ALL with no key is the global aggregate: one row, also
    # for an empty table
    return f"""
    WITH t AS MATERIALIZED (
      SELECT {k_in}
             unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS w
      FROM {table}),
    hp AS MATERIALIZED (SELECT {k}w, {poly} AS _poly FROM t),
    cells AS (
      SELECT {k}CAST(({a1} * {sq} + {b1}) % {CM_P} % {m} AS INT) AS register,
             CASE WHEN {h2} = 0 THEN {HLL_RANK_CAP}
                  ELSE bit_count(({h2} & -{h2}) - 1) + 1 END AS rank
      FROM hp),
    sk AS (SELECT {k}register, max(rank) AS max_rank FROM cells GROUP BY ALL),
    agg AS (
      SELECT {k}count(*) AS present,
             sum(1.0 / (CAST(1 AS BIGINT) << max_rank)) AS s_present
      FROM sk GROUP BY ALL),
    est AS (
      SELECT {k}({m} - present) AS v_zero,
             CASE WHEN ({HLL_ALPHA * m * m!r} /
                        (({m} - present) + coalesce(s_present, 0.0)))
                       <= {2.5 * m!r}
                   AND ({m} - present) > 0
                  THEN {float(m)!r} * ln({float(m)!r} / ({m} - present))
                  ELSE {HLL_ALPHA * m * m!r} /
                       (({m} - present) + coalesce(s_present, 0.0))
             END AS e
      FROM agg),
    exact AS (SELECT {k}CAST(count(DISTINCT w) AS BIGINT) AS exact_ct FROM t GROUP BY ALL)
    SELECT {k_out}
           CAST(v_zero AS BIGINT) AS v_zero,
           CAST(floor(e + 0.5) AS BIGINT) AS est_ct,
           exact_ct,
           CASE WHEN exact_ct = 0 THEN CAST(0 AS BIGINT) ELSE
             CAST(floor(abs(floor(e + 0.5) - exact_ct) * 10000.0 / exact_ct)
                  AS BIGINT) END AS err_bp
    {tail}
    """


# ---------------------------------------------------------------------------
# Dyadic quantile sketch (q-digest family, Shrivastava et al. 2004
# "Medians and Beyond") — the MERGEABLE quantile summary completing the
# sketch suite (MG = heavy hitters, CM = point frequency, HLL =
# distinct, this = rank/quantile). Unlike the classic q-digest's
# iterative bottom-up compression (and unlike randomized KLL /
# t-digest), construction here is a CLOSED FORM over exact integer
# counts, so it is order-independent, engine-independent, and
# expressible as plain SQL — the repo's oracle contract:
#
#   bucket   = dyadic-quantized value in [0, 2^log_u)
#   kept     = every tree node whose subtree count * k > n
#   sketch   = each value's count assigned to its DEEPEST kept ancestor
#
# Kept nodes number < k per level (their counts sum to n), so the
# sketch holds <= (log_u+1) * (k-1) rows no matter the data; rank
# queries err by at most ~2 * log_u * n / k (at a query point, one
# straddling node per level, each holding <= two light child subtrees).
# Merging SUMS residuals per node: each part's values only ever sit at
# ancestors of their true leaf, a property unions preserve, so the
# merged sketch obeys the same bound with n = sum(n_i) — bound-
# preserving rather than bit-identical to a one-pass build (true of
# the published q-digest merge as well, and the honest contract for
# the streaming sink).
#
# Every operation is keyed by the frame it gets: a ``k_key`` column
# means one sketch per key, each with its own n (a hot pipeline cannot
# evict a quiet one's detail); without it, one global sketch. A build
# is the re-thin of its leaf nodes (level log_u, one per non-empty
# bucket), so ONE assembly over (key, level, idx, cnt) nodes serves
# build and re-thin. It runs on the driver while one capped Arrow
# collect of the nodes fits under ``functions.driver.DRIVER_ROWS``, as
# Spark aggregates above it — the size-selected shape of
# ``transitive_closure`` and ``dedup_groups``; the quantile scan is
# selected the same way.
# ---------------------------------------------------------------------------

#: Schema of a dyadic quantile sketch frame; a keyed one puts ``k_key``
#: (the key expression's type) first
_QSKETCH_SCHEMA = StructType(
    [
        StructField("level", IntegerType(), True),
        StructField("idx", LongType(), True),
        StructField("cnt", LongType(), True),
    ]
)


def _q_bucket_sql(col_sql: str, lo: int, hi: int, log_u: int) -> str:
    """Integer dyadic bucket in [0, 2^log_u): exact cross-multiplied
    quantization of [lo, hi] (values outside clamp to the edges)."""
    u = 1 << log_u
    span = hi - lo + 1
    return (
        f"CAST(greatest(0, least({u - 1}, "
        f"(CAST({col_sql} AS BIGINT) - {lo}) * {u} DIV {span})) AS BIGINT)"
    )


def qsketch(
    df: DataFrame,
    col: str,
    lo: int,
    hi: int,
    k: int = 64,
    log_u: int = 16,
    key_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (level, idx, cnt) rows, level 0 = root,
    ``log_u`` = leaves; with ``key_col`` (a SQL expression) one sketch
    per key value, (k_key, level, idx, cnt), a null key dropped. ONE
    pass over the data (the bucket groupBy); everything after it is
    bounded by keys x the 2^log_u bucket space, and each sketch is
    <= (log_u+1)*(k-1) rows — the shape that lets a 100 TB column ship
    its quantile summary as a broadcast table. All arithmetic is exact
    int64."""
    keys = ["k_key"] if key_col else []
    leaves = (
        df.selectExpr(
            *([f"{key_col} AS k_key"] if key_col else []),
            f"{_q_bucket_sql(col, lo, hi, log_u)} AS idx",
        )
        .groupBy(*keys, "idx")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(*keys, F.lit(log_u).alias("level"), "idx", "cnt")
    )
    return qsketch_rethin(leaves, k, log_u)


def qsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Merge by per-(key,)node residual sums. Values sit at ancestors of
    their true leaves in every part, a property unions preserve, so
    the merged sketch answers rank queries within the same error bound
    at n = sum(n_i); size is bounded by the union of kept nodes
    (re-tighten with :func:`qsketch_rethin` when parts accumulate)."""
    return fold_keyed(
        sketches, [*_keys(sketches[0], "k_key"), "level", "idx"], {"cnt": "sum"}
    )


def qsketch_rethin(sketch: DataFrame, k: int = 64, log_u: int = 16) -> DataFrame:
    """Re-tighten (merged) nodes to <= (log_u+1)*(k-1) rows per key with
    the build's closed form: recompute each node's subtree total from
    the residuals, keep the heavy nodes, and push every residual up to
    its deepest kept ancestor-or-self (counts only ever move UP, so the
    error bound is preserved). Sketch-sized work: on the driver while
    one capped collect of the nodes fits, Spark aggregates above it.
    Levels come from the nodes; ``log_u`` names the tree they are in."""
    keys = _keys(sketch, "k_key")
    nodes = sketch.select(*keys, "level", "idx", "cnt")
    table = capped_table(nodes)
    if table is None:
        return _spark_assemble(pin(nodes), keys, k)
    schema = StructType(
        [StructField(c, nodes.schema[c].dataType) for c in keys]
        + _QSKETCH_SCHEMA.fields
    )
    return local_frame(sketch.sparkSession, _driver_assemble(table, keys, k), schema)


def _driver_assemble(table, keys: list[str], k: int) -> list[tuple]:
    """The closed form over an Arrow (key..., level, idx, cnt) node
    table in exact int64 numpy: for each level, every node's ancestor
    there, summed per (key, ancestor) into subtree totals; a node's
    home is the deepest level whose ancestor is kept (sub * k > its
    key's n). Rows with a null key are dropped, as the Spark join
    drops them."""
    import numpy as np
    import pyarrow.compute as pc

    if keys:
        table = table.filter(pc.is_valid(table[keys[0]]))
        enc = table[keys[0]].combine_chunks().dictionary_encode()
        key_of, g = enc.dictionary.to_pylist(), enc.indices.to_numpy().astype(np.int64)
    else:
        g = np.zeros(table.num_rows, dtype=np.int64)
    lvl, idx, cnt = (
        np.asarray(table[c].to_numpy(), dtype=np.int64) for c in ("level", "idx", "cnt")
    )
    n = np.zeros(int(g.max(initial=-1)) + 1, dtype=np.int64)
    np.add.at(n, g, cnt)
    home = np.full(len(idx), -1, dtype=np.int64)
    for level in range(int(lvl.max(initial=-1)) + 1):
        at = np.flatnonzero(lvl >= level)
        anc = (g[at] << level) | (idx[at] >> (lvl[at] - level))
        uniq, inv = np.unique(anc, return_inverse=True)
        sub = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sub, inv, cnt[at])
        home[at[sub[inv] * k > n[g[at]]]] = level
    live = home >= 0  # the root is kept whenever n > 0 and k > 1
    out = np.stack([g, home, idx >> (lvl - home)], axis=1)[live]
    uniq, inv = np.unique(out, axis=0, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv.reshape(-1), cnt[live])
    return [
        (*([key_of[a]] if keys else []), b, c, v)
        for (a, b, c), v in zip(uniq.tolist(), sums.tolist())
        if v > 0
    ]


def _spark_assemble(nodes: DataFrame, keys: list[str], k: int) -> DataFrame:
    """The closed form as Spark aggregates, for node sets past the
    driver cap. Every node's ancestors-or-self give the subtree totals
    ``sub``; since sub(parent) >= sub(child), the kept set is closed
    under ancestors, so a kept node's deepest-kept residual is its own
    subtree minus its kept children's,

        cnt(X) = sub(X) - sum(sub(Y) for kept children Y of X),

    with cnt = 0 nodes dropped: one exploded ancestor aggregate (which
    keeps map-side partial aggregation) and sketch-sized work after it."""
    sub = (
        nodes.select(
            *keys, F.explode(F.sequence(F.lit(0), F.col("level"))).alias("a"),
            "level", "idx", "cnt",
        )
        .select(
            *keys, F.col("a").alias("level"),
            F.expr("shiftright(idx, level - a)").alias("idx"), "cnt",
        )
        .groupBy(*keys, "level", "idx")
        .agg(F.sum("cnt").cast("long").alias("sub"))
    )
    # the level-0 root IS the (per-key) total
    n = F.broadcast(sub.filter(F.col("level") == 0).select(*keys, F.col("sub").alias("n")))
    kept = (
        (sub.join(n, keys) if keys else sub.crossJoin(n))
        .filter(F.col("sub") * k > F.col("n"))
        .select(*keys, "level", "idx", "sub")
    )
    child = (
        kept.filter(F.col("level") > 0)
        .select(
            *keys, (F.col("level") - 1).alias("level"),
            F.expr("shiftright(idx, 1)").alias("idx"), "sub",
        )
        .groupBy(*keys, "level", "idx")
        .agg(F.sum("sub").cast("long").alias("csub"))
    )
    return (
        kept.join(child, [*keys, "level", "idx"], "left")
        .select(
            *keys, "level", "idx",
            (F.col("sub") - F.coalesce(F.col("csub"), F.lit(0))).cast("long").alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )


def qsketch_quantiles(
    sketch: DataFrame,
    q_bps: list[int],
    lo: int,
    hi: int,
    log_u: int = 16,
) -> DataFrame:
    """Quantile estimates from the sketch alone, (q_bp, n, est) — per
    key, (k_key, q_bp, n, est), for a keyed sketch — ordered by key and
    q: for each q (basis points), nodes scanned in increasing
    range-upper-bound order (ties: deeper/smaller ranges first — the
    canonical q-digest query order), answer = the upper value edge of
    the first node where the running count reaches q*n/10000. Exact
    integer arithmetic end to end; sketch-sized work, on the driver
    while one capped collect of the nodes fits, Spark windows above."""
    keys = _keys(sketch, "k_key")
    u, span = 1 << log_u, hi - lo + 1
    qs = sorted({int(q) for q in q_bps})
    cols = capped_columns(sketch.select(*keys, "level", "idx", "cnt"))
    if cols is None:
        return _spark_scan(sketch, keys, qs, lo, hi, log_u)
    groups: dict[tuple, list] = {}
    for *key, level, idx, cnt in zip(*cols):
        groups.setdefault(tuple(key), []).append(
            (((idx + 1) << (log_u - level)) - 1, -level, cnt)
        )
    data = []
    for key in sorted(groups, key=lambda t: [(v is not None, v) for v in t]):
        nodes = sorted(groups[key])
        n = sum(c for _, _, c in nodes)
        for q in qs:
            cum = 0
            for hib, _, cnt in nodes:
                cum += cnt
                if cum * 10000 >= q * n:
                    data.append((*key, q, n, lo + ((hib + 1) * span) // u - 1))
                    break
    schema = StructType(
        [StructField(c, sketch.schema[c].dataType) for c in keys]
        + [
            StructField("q_bp", IntegerType()),
            StructField("n", LongType()),
            StructField("est", LongType()),
        ]
    )
    return local_frame(sketch.sparkSession, data, schema)


def _spark_scan(
    sketch: DataFrame, keys: list[str], qs: list[int], lo: int, hi: int, log_u: int
) -> DataFrame:
    """The quantile scan as Spark windows over each key's nodes (the
    (per-key) total a window column), for sketches past the driver cap."""
    u, span = 1 << log_u, hi - lo + 1
    ordered = sketch.select(
        *keys, "cnt", "level",
        F.expr(f"(idx + 1) * shiftleft(1L, {log_u} - level) - 1").alias("hib"),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy(*keys)).cast("long"))
    w = Window.partitionBy(*keys).orderBy(F.col("hib").asc(), F.col("level").desc())
    cum = ordered.select(*keys, "hib", "n", F.sum("cnt").over(w).alias("cum"))
    q = local_frame(sketch.sparkSession, [(q,) for q in qs], "q_bp int")
    return (
        cum.crossJoin(F.broadcast(q))
        .filter(F.col("cum") * 10000 >= F.col("q_bp") * F.col("n"))
        .groupBy(*keys, "q_bp", "n")
        .agg(F.min("hib").alias("hib"))
        .select(
            *keys, "q_bp", "n",
            F.expr(f"CAST({lo} + ((hib + 1) * {span}) DIV {u} - 1 AS BIGINT)").alias("est"),
        )
        .orderBy(*keys, "q_bp")
    )


def _qsketch_nodes_sql(
    table: str, col_sql: str, lo: int, hi: int, k: int, log_u: int, key_sql: str
) -> str:
    """Subquery producing one sketch's (k_key, level, idx, cnt) rows
    per ``key_sql`` value from ``table`` (a constant key: one global
    sketch) — the build half of the twin, written as the definition
    itself: each leaf joined to its kept ancestors, its count sent to
    the deepest."""
    u = 1 << log_u
    span = hi - lo + 1
    return f"""(
    WITH src AS (
      SELECT {key_sql} AS k_key,
             greatest(0, least({u - 1},
               (CAST({col_sql} AS BIGINT) - {lo}) * {u} // {span})) AS bucket
      FROM {table}),
    leaves AS MATERIALIZED (
      SELECT k_key, bucket, CAST(count(*) AS BIGINT) AS c
      FROM src GROUP BY 1, 2),
    tot AS (SELECT k_key, CAST(sum(c) AS BIGINT) AS n FROM leaves GROUP BY 1),
    lv AS (SELECT unnest(generate_series(0, {log_u})) AS level),
    nodes AS (
      SELECT k_key, level, bucket >> ({log_u} - level) AS idx,
             CAST(sum(c) AS BIGINT) AS sub
      FROM leaves, lv GROUP BY 1, 2, 3),
    kept AS (
      SELECT nodes.k_key, level, idx
      FROM nodes JOIN tot ON nodes.k_key = tot.k_key
      WHERE sub * {k} > n),
    deepest AS (
      SELECT l.k_key, l.bucket, max(kp.level) AS dlevel, max(l.c) AS c
      FROM leaves l JOIN kept kp
        ON kp.k_key = l.k_key
       AND kp.idx = l.bucket >> ({log_u} - kp.level)
      GROUP BY 1, 2)
    SELECT k_key, dlevel AS level, bucket >> ({log_u} - dlevel) AS idx,
           CAST(sum(c) AS BIGINT) AS cnt
    FROM deepest GROUP BY 1, 2, 3
    )"""


def qsketch_report_sql(
    table: str | list[str],
    col_sql: str,
    lo: int,
    hi: int,
    q_bps: list[int],
    k: int = 64,
    log_u: int = 16,
    key_col: str | None = None,
) -> str:
    """DuckDB twin of qsketch + qsketch_merge + qsketch_quantiles,
    per ``key_col`` value when given: identical integer quantization,
    identical heavy-node keep rule and query scan order — the sketch
    pipeline is value-checked end to end, not just its error bound.
    ``table`` may be a list of part tables: one sketch per part, summed
    per node before the scan, which value-checks the merge algebra."""
    u = 1 << log_u
    span = hi - lo + 1
    parts = " UNION ALL ".join(
        f"SELECT * FROM {_qsketch_nodes_sql(t, col_sql, lo, hi, k, log_u, key_col or '0')}"
        for t in ([table] if isinstance(table, str) else table)
    )
    qs_rows = ", ".join(f"({int(q)})" for q in q_bps)
    k_out = "k_key, " if key_col else ""
    return f"""
    WITH sk AS MATERIALIZED (
      SELECT k_key, level, idx, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM ({parts}) GROUP BY 1, 2, 3),
    tot AS (SELECT k_key, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
    ordered AS (
      SELECT k_key,
             (idx + 1) * (CAST(1 AS BIGINT) << ({log_u} - level)) - 1 AS hib,
             level, cnt
      FROM sk),
    cum AS (
      SELECT k_key, hib,
             sum(cnt) OVER (PARTITION BY k_key
                            ORDER BY hib ASC, level DESC) AS cum
      FROM ordered),
    qs(q_bp) AS (VALUES {qs_rows}),
    sel AS (
      SELECT cum.k_key, q_bp, n, min(hib) AS hib
      FROM qs, cum JOIN tot ON cum.k_key = tot.k_key
      WHERE cum * 10000 >= q_bp * n GROUP BY 1, 2, 3)
    SELECT {k_out}CAST(q_bp AS INT) AS q_bp, n,
           CAST({lo} + ((hib + 1) * {span}) // {u} - 1 AS BIGINT) AS est
    FROM sel ORDER BY k_key, q_bp
    """
