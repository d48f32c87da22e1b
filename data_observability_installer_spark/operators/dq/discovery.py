"""Dependency discovery: functional dependencies and inclusion
dependencies (FK candidates) over profiled tables.

Reference parity: TestGen's profiling/test-generation loop captures
per-column baselines and emits structural tests (reference
`README.md:207-209`; FK-style reconciliation checks in
`demo/input_data/demo_pipeline_tests.csv`). Discovery is the step
before generation — *finding* the keys and foreign keys a new dataset
actually satisfies, so the generator can emit Unique / referential
tests with evidence instead of convention.

Scale design:

- :func:`fd_check` verifies N candidate FDs ``A -> B`` over one table
  in a SINGLE input scan: ``GROUPING SETS ((A1), (A2), ...)`` fans the
  scan out to one aggregation stream per determinant (Catalyst Expand,
  map-side partial ``count(distinct)`` per group), then ONE global
  aggregate folds every pair's summary into a single row (per-pair
  conditional sums keyed on the grouping flags) which ``stack()``
  unpivots to one row per candidate. The whole check is one job with
  one FileScan — pinned by an executed-plan pytest — so adding
  candidates adds columns to the aggregate, never scans. Shuffled rows
  = sum of the determinants' cardinalities — never the row count.
- :func:`ind_check` reduces both sides of each candidate to DISTINCT
  values first (shuffle bounded by cardinality, not rows), then counts
  containment with one left join per pair; dimension-sized parents are
  broadcast by AQE. The verdict columns are pure integer arithmetic,
  bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...functions.driver import local_frame
from ...functions.pin import pin

# key material for FK candidates: classes whose string cast is
# bit-stable and identical across engines (floats/decimals/timestamps
# are not key material and their repr can drift in the last digit)
_FK_INT = {"int", "bigint", "smallint", "tinyint"}


def _fk_class(dtype: str) -> str | None:
    base = dtype.split("(")[0].lower()
    if base in _FK_INT:
        return "integer"
    if base in ("string", "varchar"):
        return "string"
    if base == "date":
        return "date"
    return None


def fd_check(
    df: DataFrame, pairs: list[tuple[str, str]], exact: bool = True
) -> DataFrame:
    """Verify candidate functional dependencies ``det -> dep`` on
    ``df``: per pair, the number of determinant keys, how many keys map
    to more than one distinct dependent value, and the total number of
    distinct (det, dep) assignments. ``holds`` iff no key violates.

    Rows where the determinant is NULL are ignored (count-distinct
    semantics); NULL dependents never count as an assignment.

    ``exact=False`` is the 100 TB production mode: per-key distinct
    counts come from ``approx_count_distinct`` (HyperLogLog++), so
    per-group state is a fixed-size sketch instead of an exact hash
    set of every dependent value — the memory bound a hot determinant
    key needs at scale. HLL++ is EXACT below its sparse-mode
    threshold (thousands of values), and the violation predicate only
    asks "is nb > 1", so verdicts in practice match the exact mode
    (pinned by a pytest); only ``n_keypairs`` on very wide keys can
    drift within the rsd. The exact mode remains the oracle twin.
    """
    dets = sorted({a for a, _ in pairs})
    nb_agg = (
        (lambda c: F.countDistinct(c))
        if exact
        else (lambda c: F.approx_count_distinct(c, rsd=0.02))
    )
    grouped = df.groupingSets(
        [[F.col(a)] for a in dets], *[F.col(a) for a in dets]
    ).agg(
        *[F.grouping(a).alias(f"_g_{a}") for a in dets],
        *[nb_agg(F.col(b)).alias(f"_nb_{i}") for i, (_, b) in enumerate(pairs)],
    )
    # Fold every pair into ONE global aggregate over the grouped frame
    # (conditional sums gated on the pair's grouping flag), then unpivot
    # with stack(): one job, one FileScan, regardless of len(pairs).
    aggs = []
    for i, (a, _) in enumerate(pairs):
        on = (F.col(f"_g_{a}") == 0) & F.col(a).isNotNull()
        nb = F.col(f"_nb_{i}")
        aggs.extend(
            [
                # coalesce: empty input still reports 0 keys (COUNT
                # semantics, matching the SQL twin's count(*) over an
                # empty subquery); the sums stay NULL there, as in SQL.
                F.coalesce(F.sum(F.when(on, 1)), F.lit(0))
                .cast("long")
                .alias(f"_nk_{i}"),
                F.sum(F.when(on, (nb > 1).cast("long")))
                .cast("long")
                .alias(f"_nv_{i}"),
                F.sum(F.when(on, nb)).cast("long").alias(f"_np_{i}"),
            ]
        )
    summary = grouped.agg(*aggs)
    cells = ", ".join(
        f"'{a}', '{b}', _nk_{i}, _nv_{i}, _np_{i}"
        for i, (a, b) in enumerate(pairs)
    )
    out = summary.selectExpr(
        f"stack({len(pairs)}, {cells}) AS "
        "(determinant, dependent, n_keys, n_violating_keys, n_keypairs)"
    )
    return out.withColumn("holds", F.col("n_violating_keys") == 0).orderBy(
        "determinant", "dependent"
    )


def fd_check_sql(table: str, pairs: list[tuple[str, str]]) -> str:
    parts = []
    for a, b in pairs:
        parts.append(
            f"""
    SELECT '{a}' AS determinant, '{b}' AS dependent,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(sum(nb) AS BIGINT) AS n_keypairs,
           sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {a} AS k, count(DISTINCT {b}) AS nb
          FROM {table} WHERE {a} IS NOT NULL GROUP BY {a})"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"{union}\n    ORDER BY determinant, dependent"


def ind_check(
    named_pairs: list[tuple[str, DataFrame, str, str, DataFrame, str]],
) -> DataFrame:
    """Verify candidate inclusion dependencies. Each entry is
    ``(child_name, child_df, child_col, parent_name, parent_df,
    parent_col)``; the result has one row per candidate with the
    distinct child-value count, how many are contained in the parent,
    the containment in integer basis points (floor division — exact),
    and ``holds`` iff fully contained (an FK candidate).
    """
    outs = []
    for cname, child, cc, pname, parent, pc in named_pairs:
        c = (
            child.select(F.col(cc).cast("string").alias("v"))
            .filter(F.col("v").isNotNull())
            .distinct()
        )
        p = (
            parent.select(F.col(pc).cast("string").alias("v"))
            .filter(F.col("v").isNotNull())
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        outs.append(
            c.join(p, "v", "left").agg(
                F.lit(f"{cname}.{cc}").alias("child"),
                F.lit(f"{pname}.{pc}").alias("parent"),
                F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
                F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contained"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return (
        out.withColumn(
            "containment_bp",
            # empty child side: containment is vacuous — report 0 bp
            # and holds=false rather than an ANSI division-by-zero
            F.expr(
                "CAST(CASE WHEN n_child_distinct = 0 THEN 0 "
                "ELSE n_contained * 10000L DIV n_child_distinct END AS BIGINT)"
            ),
        )
        .withColumn(
            "holds",
            (F.col("n_child_distinct") > 0)
            & (F.col("n_contained") == F.col("n_child_distinct")),
        )
        .orderBy("child", "parent")
    )


def ind_check_sql(named_pairs: list[tuple[str, str, str, str]]) -> str:
    """Twin for :func:`ind_check`; entries are
    ``(child_table, child_col, parent_table, parent_col)`` (table names
    double as labels, as in the Spark path when called with loaded
    tables)."""
    parts = []
    for ct, cc, pt, pc in named_pairs:
        parts.append(
            f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(coalesce(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_contained,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE (coalesce(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END), 0)
                      * 10000) // count(*) END AS BIGINT) AS containment_bp,
           count(*) > 0 AND
             coalesce(sum(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END), 0)
               = count(*) AS holds
    FROM (SELECT DISTINCT CAST({cc} AS VARCHAR) AS v FROM {ct}
          WHERE {cc} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT CAST({pc} AS VARCHAR) AS v FROM {pt}
               WHERE {pc} IS NOT NULL) p USING (v)"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"{union}\n    ORDER BY child, parent"


# --- candidate GENERATION from profile-grade evidence -----------------------
#
# The step the reference's profile->generate loop performs before test
# generation (reference `README.md:207-209`: profiling feeds the
# algorithmic test generator): PROPOSE the dependencies a table's
# cardinality evidence makes plausible, then verify only those. Both
# the candidate rule and the verification are pure integer arithmetic,
# so the DuckDB twins reproduce the exact same candidate set and
# verdicts from the same data.


def column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One aggregate pass over ``df`` -> one row per column:
    ``(column, n_rows, value_ct, distinct_ct)``. The scan cost of
    candidate generation — everything downstream is metadata-sized."""
    cols = columns or df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count(c).alias(f"_v_{c}") for c in cols],
        *[F.countDistinct(F.col(c)).alias(f"_d_{c}") for c in cols],
    )
    cells = ", ".join(f"'{c}', _n, _v_{c}, _d_{c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {cells}) AS (column, n_rows, value_ct, distinct_ct)"
    )


def fd_candidates(stats_rows, max_pairs: int = 32) -> list[tuple[str, str]]:
    """Propose FD candidates from per-column cardinalities (the same
    evidence the profile captures): determinants are low-cardinality
    columns (``1 < d`` and ``d * 10 <= n`` — at most 10% of rows),
    dependents any other column with ``1 < d_dep <= d_det`` (a
    NECESSARY condition for ``det -> dep``). Ranked by
    ``(d_det, d_dep, det, dep)`` and capped — integer-exact, so the
    SQL twin derives the identical list from the same table."""
    st = {r["column"]: (int(r["n_rows"]), int(r["distinct_ct"])) for r in stats_rows}
    ranked = sorted(
        (dd, db, det, dep)
        for det, (n, dd) in st.items()
        if dd > 1 and dd * 10 <= n
        for dep, (_, db) in st.items()
        if dep != det and 1 < db <= dd
    )
    return [(det, dep) for _, _, det, dep in ranked[:max_pairs]]


def discover_fds(
    df: DataFrame,
    columns: list[str] | None = None,
    max_pairs: int = 32,
    exact: bool = True,
) -> DataFrame:
    """End-to-end FD discovery: one stats scan proposes candidates
    (:func:`fd_candidates` — the collected stats are one row per
    column, metadata), one :func:`fd_check` scan verifies them all.
    Two input scans total regardless of how many candidates fire."""
    stats = column_stats(df, columns).collect()
    pairs = fd_candidates(stats, max_pairs)
    if not pairs:
        return local_frame(
            df.sparkSession,
            [],
            "determinant string, dependent string, n_keys long, "
            "n_violating_keys long, n_keypairs long, holds boolean",
        )
    return fd_check(df, pairs, exact=exact)


def discover_fds_sql(table: str, columns: list[str], max_pairs: int = 32) -> str:
    """DuckDB twin of :func:`discover_fds`: the same integer candidate
    rule over per-column distinct counts, then dynamic verification by
    unpivoting the table to ``(rid, col, val)`` and grouping per
    (candidate, determinant value). Values compare as VARCHAR — an
    injective cast for the profiled types, so distinct counts match
    the native-type counts the Spark path computes."""
    stats = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS col, count(DISTINCT {c}) AS d FROM {table}"
        for c in columns
    )
    unp = "\n      UNION ALL ".join(
        f"SELECT rid, '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM base"
        for c in columns
    )
    return f"""
    WITH tot AS (SELECT count(*) AS n FROM {table}),
    stats AS ({stats}),
    cand AS (
      SELECT det, dep FROM (
        SELECT a.col AS det, b.col AS dep,
               row_number() OVER (ORDER BY a.d, b.d, a.col, b.col) AS rk
        FROM stats a, stats b, tot t
        WHERE a.d > 1 AND a.d * 10 <= t.n
          AND b.d > 1 AND b.d <= a.d AND a.col <> b.col)
      WHERE rk <= {max_pairs}),
    base AS MATERIALIZED (SELECT row_number() OVER () AS rid, * FROM {table}),
    unp AS MATERIALIZED ({unp}),
    perkey AS (
      SELECT c.det, c.dep, l.val AS kv, count(DISTINCT r.val) AS nb
      FROM cand c
      JOIN unp l ON l.col = c.det AND l.val IS NOT NULL
      LEFT JOIN unp r ON r.col = c.dep AND r.rid = l.rid
      GROUP BY c.det, c.dep, l.val)
    SELECT det AS determinant, dep AS dependent,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(sum(nb) AS BIGINT) AS n_keypairs,
           sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM perkey GROUP BY det, dep
    ORDER BY determinant, dependent"""


def fk_candidates(stats_rows, max_pairs: int = 16) -> list[tuple[str, str, str, str]]:
    """Propose FK candidates across tables from per-column evidence:
    the parent must be unique over its non-nulls (``d == v > 0`` — a
    key), the child must share the parent's type class with
    ``1 <= d_child <= d_parent`` (necessary for containment). Ranked
    by integer containment plausibility ``(d_child * 1e6) div
    d_parent`` descending (a child that uses the parent's full key
    range ranks first — the real FKs), names breaking ties. Entries
    are ``(table, column, cls, n, v, d)`` tuples/rows."""
    rows = [tuple(r) for r in stats_rows]
    parents = [r for r in rows if r[4] > 0 and r[5] == r[4]]
    ranked = sorted(
        (-((c[5] * 1_000_000) // p[5]), c[0], c[1], p[0], p[1])
        for p in parents
        for c in rows
        if (c[0], c[1]) != (p[0], p[1]) and c[2] == p[2] and 1 <= c[5] <= p[5]
    )
    return [(ct, cc, pt, pc) for _, ct, cc, pt, pc in ranked[:max_pairs]]


def discover_fks(
    tables: dict[str, tuple[DataFrame, list[str]]],
    max_pairs: int = 16,
) -> DataFrame:
    """End-to-end FK discovery over a set of tables. ONE scan per
    table builds a per-column value-count frame (stack unpivot +
    groupBy — cardinality-sized, pinned); stats
    for the candidate rule AND the containment verification both read
    that frame, so no table is scanned twice and the containment join
    shuffles distinct values, never rows. Output shape matches
    :func:`ind_check`."""
    spark = None
    frames = []
    classes: dict[tuple[str, str], str] = {}
    for t in sorted(tables):
        df, cols = tables[t]
        spark = df.sparkSession
        dt = dict(df.dtypes)
        usable = [(c, _fk_class(dt[c])) for c in cols]
        usable = [(c, k) for c, k in usable if k is not None]
        if not usable:
            continue
        for c, k in usable:
            classes[(t, c)] = k
        cells = ", ".join(f"'{c}', CAST({c} AS STRING)" for c, _ in usable)
        frames.append(
            df.selectExpr(f"stack({len(usable)}, {cells}) AS (col, val)")
            .groupBy("col", "val")
            .agg(F.count(F.lit(1)).alias("ct"))
            .select(F.lit(t).alias("tbl"), "col", "val", "ct")
        )
    empty_schema = (
        "child string, parent string, n_child_distinct long, "
        "n_contained long, containment_bp long, holds boolean"
    )
    if not frames:
        raise ValueError("no FK-class columns among the given tables")
    vc = frames[0]
    for f in frames[1:]:
        vc = vc.unionByName(f)
    vc = pin(vc)  # Σ cardinalities, not Σ rows
    stats = (
        vc.groupBy("tbl", "col")
        .agg(
            F.sum("ct").cast("long").alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("val").isNotNull(), F.col("ct"))), F.lit(0)
            )
            .cast("long")
            .alias("v"),
            F.count(F.when(F.col("val").isNotNull(), F.lit(1)))
            .cast("long")
            .alias("d"),
        )
        .collect()
    )
    rows = [
        (r["tbl"], r["col"], classes[(r["tbl"], r["col"])], int(r["n"]), int(r["v"]), int(r["d"]))
        for r in stats
    ]
    pairs = fk_candidates(rows, max_pairs)
    if not pairs:
        return local_frame(spark, [], empty_schema)
    dv = vc.filter(F.col("val").isNotNull()).select("tbl", "col", "val")
    cand = local_frame(spark, pairs, "ct string, cc string, pt string, pc string")
    ch = dv.join(
        F.broadcast(cand), (dv.tbl == cand.ct) & (dv.col == cand.cc)
    ).select("ct", "cc", "pt", "pc", "val")
    par = dv.select(
        F.col("tbl").alias("xt"),
        F.col("col").alias("xc"),
        F.col("val").alias("xv"),
        F.lit(1).alias("hit"),
    )
    return (
        ch.join(
            par,
            (F.col("pt") == F.col("xt"))
            & (F.col("pc") == F.col("xc"))
            & (F.col("val") == F.col("xv")),
            "left",
        )
        .groupBy("ct", "cc", "pt", "pc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child_distinct"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contained"),
        )
        .select(
            F.concat_ws(".", "ct", "cc").alias("child"),
            F.concat_ws(".", "pt", "pc").alias("parent"),
            "n_child_distinct",
            "n_contained",
        )
        .withColumn(
            "containment_bp",
            F.expr(
                "CAST(CASE WHEN n_child_distinct = 0 THEN 0 "
                "ELSE n_contained * 10000L DIV n_child_distinct END AS BIGINT)"
            ),
        )
        .withColumn(
            "holds",
            (F.col("n_child_distinct") > 0)
            & (F.col("n_contained") == F.col("n_child_distinct")),
        )
        .orderBy("child", "parent")
    )


def discover_fks_sql(
    tables: dict[str, list[tuple[str, str]]], max_pairs: int = 16
) -> str:
    """DuckDB twin of :func:`discover_fks`. ``tables`` maps table name
    to its ``(column, fk_class)`` list — classes come from the static
    schema on both sides, so the candidate rule sees identical type
    evidence."""
    stats = "\n      UNION ALL ".join(
        f"SELECT '{t}' AS tbl, '{c}' AS col, '{k}' AS cls, "
        f"count(*) AS n, count({c}) AS v, count(DISTINCT {c}) AS d FROM {t}"
        for t, cols in sorted(tables.items())
        for c, k in cols
    )
    dv = "\n      UNION ALL ".join(
        f"SELECT DISTINCT '{t}' AS tbl, '{c}' AS col, "
        f"CAST({c} AS VARCHAR) AS val FROM {t} WHERE {c} IS NOT NULL"
        for t, cols in sorted(tables.items())
        for c, _ in cols
    )
    return f"""
    WITH stats AS ({stats}),
    cand AS (
      SELECT ct, cc, pt, pc FROM (
        SELECT c.tbl AS ct, c.col AS cc, p.tbl AS pt, p.col AS pc,
               row_number() OVER (ORDER BY (c.d * 1000000) // p.d DESC,
                                  c.tbl, c.col, p.tbl, p.col) AS rk
        FROM stats p, stats c
        WHERE p.v > 0 AND p.d = p.v AND c.cls = p.cls
          AND c.d >= 1 AND c.d <= p.d
          AND NOT (c.tbl = p.tbl AND c.col = p.col))
      WHERE rk <= {max_pairs}),
    dv AS MATERIALIZED ({dv})
    SELECT ct || '.' || cc AS child, pt || '.' || pc AS parent,
           CAST(count(*) AS BIGINT) AS n_child_distinct,
           CAST(coalesce(sum(CASE WHEN pv.val IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_contained,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE coalesce(sum(CASE WHEN pv.val IS NOT NULL THEN 1 ELSE 0 END), 0)
                     * 10000 // count(*) END AS BIGINT) AS containment_bp,
           count(*) > 0 AND
             coalesce(sum(CASE WHEN pv.val IS NOT NULL THEN 1 ELSE 0 END), 0)
               = count(*) AS holds
    FROM cand
    JOIN dv l ON l.tbl = cand.ct AND l.col = cand.cc
    LEFT JOIN dv pv ON pv.tbl = cand.pt AND pv.col = cand.pc AND pv.val = l.val
    GROUP BY ct, cc, pt, pc
    ORDER BY child, parent"""


def fd_confidence(
    df: DataFrame, pairs: list[tuple[str, str]], tol_bp: int = 100
) -> DataFrame:
    """Approximate functional dependencies: per candidate ``det ->
    dep``, the g3 error — the fraction of rows that must be REMOVED
    for the FD to hold exactly (keep the majority dependent per key,
    drop the rest) — in exact basis points. Real warehouses are full
    of 99.9%-FDs (typos, late corrections, merged sources);
    :func:`fd_check`'s binary verdict rejects them all, while g3 lets
    the generator emit a Condition_Flag-style test with a measured
    tolerance (reference README.md:207-209's evidence-driven
    generation).

    Semantics: rows with a NULL determinant are ignored; a NULL
    dependent is one more dependent value (keeping it means dropping
    the others). ``holds_softly`` iff g3_bp <= tol_bp.

    Scale shape — ONE input scan for all pairs (the fd_check lesson):
    GROUPING SETS over the DISTINCT column-sets fans the scan into one
    (det, dep)-grouped stream per set with map-side partial counts;
    the grouped frame is key-cardinality-sized, and the two keyed
    rollups after it (max-per-key, then per-pair totals) shuffle only
    that. Both directions of a candidate — ('a','b') AND ('b','a') —
    share ONE grouping set and fan out of it via a <=2-element explode
    (duplicating the set in GROUPING SETS would double its rows
    through the Expand and drop the second pair — round-7 ADVICE).
    Determinant keys unify through a CAST to STRING (bit-stable for
    integer/string/date key material — the _fk_class classes)."""
    if len({tuple(p) for p in pairs}) != len(pairs):
        raise ValueError(f"duplicate FD candidate pairs in {pairs}")
    if any(a == b for a, b in pairs):
        raise ValueError("degenerate FD candidate (det == dep)")
    all_cols = sorted({c for p in pairs for c in p})
    set_keys: list[frozenset] = []
    for p in pairs:
        fs = frozenset(p)
        if fs not in set_keys:
            set_keys.append(fs)
    grouped = df.groupingSets(
        [[F.col(c) for c in sorted(fs)] for fs in set_keys],
        *[F.col(c) for c in all_cols],
    ).agg(
        *[F.grouping(c).alias(f"_g_{c}") for c in all_cols],
        F.count(F.lit(1)).cast("long").alias("ct"),
    )
    # set membership: exactly the pair's two columns grouped (flag 0);
    # every pair sharing that column-set reads its determinant out of
    # the same grouped row (array+explode, null entries filtered)
    entries = []
    for i, (a, b) in enumerate(pairs):
        cond = F.lit(True)
        for c in all_cols:
            want = 0 if c in (a, b) else 1
            cond = cond & (F.col(f"_g_{c}") == want)
        entries.append(
            F.when(
                cond,
                F.struct(
                    F.lit(i).alias("sid"), F.col(a).cast("string").alias("k")
                ),
            )
        )
    lvl1 = (
        grouped.select(F.explode(F.array(*entries)).alias("_e"), F.col("ct"))
        .select(F.col("_e.sid").alias("sid"), F.col("_e.k").alias("k"), "ct")
        .filter(F.col("sid").isNotNull() & F.col("k").isNotNull())
    )
    per_key = lvl1.groupBy("sid", "k").agg(
        F.max("ct").alias("mx"), F.sum("ct").alias("rows_k")
    )
    per_set = per_key.groupBy("sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("rows_k").cast("long").alias("n_rows"),
        F.sum("mx").cast("long").alias("keep_rows"),
    )
    names = ", ".join(
        f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(pairs)
    )
    lookup = df.sparkSession.sql(
        f"SELECT * FROM VALUES {names} AS t(sid, determinant, dependent)"
    )
    return (
        per_set.join(F.broadcast(lookup), "sid")
        .selectExpr(
            "determinant",
            "dependent",
            "n_rows",
            "n_keys",
            "n_rows - keep_rows AS drop_rows",
            "CAST((n_rows - keep_rows) * 10000L DIV greatest(n_rows, 1L) AS BIGINT)"
            " AS g3_bp",
            f"CAST((n_rows - keep_rows) * 10000L DIV greatest(n_rows, 1L)"
            f" <= {int(tol_bp)} AS BOOLEAN) AS holds_softly",
        )
        .orderBy("determinant", "dependent")
    )


def fd_confidence_sql(
    table: str, pairs: list[tuple[str, str]], tol_bp: int = 100
) -> str:
    """DuckDB twin of :func:`fd_confidence` (per-pair GROUP BY; the
    oracle mirrors values, not the single-scan plan)."""
    parts = []
    for a, b in pairs:
        parts.append(
            f"""
    SELECT '{a}' AS determinant, '{b}' AS dependent,
           CAST(sum(rows_k) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(rows_k) - sum(mx) AS BIGINT) AS drop_rows,
           CAST((sum(rows_k) - sum(mx)) * 10000
                // greatest(sum(rows_k), 1) AS BIGINT) AS g3_bp,
           (sum(rows_k) - sum(mx)) * 10000
                // greatest(sum(rows_k), 1) <= {int(tol_bp)} AS holds_softly
    FROM (SELECT k, max(ct) AS mx, sum(ct) AS rows_k
          FROM (SELECT CAST({a} AS VARCHAR) AS k, count(*) AS ct
                FROM {table} WHERE {a} IS NOT NULL GROUP BY {a}, {b})
          GROUP BY k)"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"{union}\n    ORDER BY determinant, dependent"


def composite_key_check(
    df: DataFrame, combos: list[tuple[str, str]], exact: bool = True
) -> DataFrame:
    """Composite-key discovery: for candidate column PAIRS, whether
    (a, b) is row-unique while neither side is alone — the key a
    profile's single-column uniqueness scan cannot find (TestGen's
    generated Unique tests need a key; composite tables hide theirs in
    pairs). ONE input scan for all candidates: GROUPING SETS over the
    pairs, each single column, and the grand total (the fd_check
    shape), then one global aggregate folds every combo's statistics
    and ``stack()`` unpivots — adding candidates adds columns, never
    scans.

    NULL semantics: SQL keys reject NULLs, so rows with a NULL in
    either column are counted (``null_rows``) and a combo with any is
    never a key. ``is_minimal_key`` additionally requires that neither
    single column is unique by itself. ``exact=False`` swaps distinct
    counting for per-group HLL state — irrelevant here since counts
    come from GROUP SIZES, kept for signature symmetry with fd_check.
    """
    fsets = [frozenset(p) for p in combos]
    if len(set(fsets)) != len(fsets) or any(len(fs) != 2 for fs in fsets):
        raise ValueError(
            "composite-key combos must be distinct unordered column pairs"
            f" (a key is direction-free): {combos}"
        )
    cols = sorted({c for p in combos for c in p})
    sets = [[F.col(a), F.col(b)] for a, b in combos]
    sets += [[F.col(c)] for c in cols]
    sets += [[]]
    grouped = df.groupingSets(sets, *[F.col(c) for c in cols]).agg(
        *[F.grouping(c).alias(f"_g_{c}") for c in cols],
        F.count(F.lit(1)).cast("long").alias("ct"),
    )

    def on_set(grouping_cols: list[str]):
        cond = F.lit(True)
        for c in cols:
            want = 0 if c in grouping_cols else 1
            cond = cond & (F.col(f"_g_{c}") == want)
        return cond

    aggs = []
    for i, (a, b) in enumerate(combos):
        pair = on_set([a, b])
        nn = F.col(a).isNotNull() & F.col(b).isNotNull()
        aggs += [
            F.coalesce(F.sum(F.when(pair, F.col("ct"))), F.lit(0))
            .cast("long").alias(f"_nr_{i}"),
            F.coalesce(F.sum(F.when(pair & nn, 1)), F.lit(0))
            .cast("long").alias(f"_pd_{i}"),
            F.coalesce(F.sum(F.when(pair & ~nn, F.col("ct"))), F.lit(0))
            .cast("long").alias(f"_nl_{i}"),
            F.coalesce(
                F.sum(F.when(on_set([a]) & F.col(a).isNotNull(), 1)), F.lit(0)
            ).cast("long").alias(f"_da_{i}"),
            F.coalesce(
                F.sum(F.when(on_set([b]) & F.col(b).isNotNull(), 1)), F.lit(0)
            ).cast("long").alias(f"_db_{i}"),
        ]
    summary = grouped.agg(*aggs)
    cells = ", ".join(
        f"'{a}', '{b}', _nr_{i}, _pd_{i}, _nl_{i}, _da_{i}, _db_{i}"
        for i, (a, b) in enumerate(combos)
    )
    out = summary.selectExpr(
        f"stack({len(combos)}, {cells}) AS "
        "(col_a, col_b, n_rows, pair_distinct, null_rows, a_distinct, b_distinct)"
    )
    return out.selectExpr(
        "*",
        "pair_distinct = n_rows AND null_rows = 0 AND n_rows > 0 AS is_key",
        "pair_distinct = n_rows AND null_rows = 0 AND n_rows > 0"
        " AND a_distinct < n_rows AND b_distinct < n_rows AS is_minimal_key",
    ).orderBy("col_a", "col_b")


def composite_key_check_sql(table: str, combos: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`composite_key_check` (per-combo GROUP BY
    subqueries; the oracle mirrors values, not the single-scan plan)."""
    parts = []
    for a, b in combos:
        parts.append(
            f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           (SELECT CAST(count(*) AS BIGINT) FROM {table}) AS n_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM
              (SELECT DISTINCT {a}, {b} FROM {table}
               WHERE {a} IS NOT NULL AND {b} IS NOT NULL)) AS pair_distinct,
           (SELECT CAST(count(*) AS BIGINT) FROM {table}
            WHERE {a} IS NULL OR {b} IS NULL) AS null_rows,
           (SELECT CAST(count(DISTINCT {a}) AS BIGINT) FROM {table}) AS a_distinct,
           (SELECT CAST(count(DISTINCT {b}) AS BIGINT) FROM {table}) AS b_distinct"""
        )
    union = "\n    UNION ALL".join(parts)
    return f"""
    SELECT *,
           pair_distinct = n_rows AND null_rows = 0 AND n_rows > 0 AS is_key,
           pair_distinct = n_rows AND null_rows = 0 AND n_rows > 0
             AND a_distinct < n_rows AND b_distinct < n_rows AS is_minimal_key
    FROM ({union})
    ORDER BY col_a, col_b
    """
