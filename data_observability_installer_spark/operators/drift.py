"""Data-drift detection (reference README.md:208 "data drift checks"
in the Poll use case; TestGen's drift vocabulary is Avg_Shift /
Distinct_Shift / New_Shift — this module adds the distribution-level
measure those scalar tests approximate).

PSI (population stability index) against a FROZEN baseline histogram:

- numeric columns: fixed bin edges captured at profiling time; the
  current table buckets with one ``CASE``-free ``width_bucket``-style
  expression and aggregates once per column — a single scan computes
  every bin count (map-side partial).
- categorical columns: frequency comparison over the baseline LOV;
  unseen categories pool into an ``__other__`` bucket so novel values
  register as drift instead of vanishing.

PSI = Σ (p_cur - p_base) * ln(p_cur / p_base), with both proportions
clamped to ``eps`` so empty bins stay finite. Conventional reading:
< 0.1 stable, 0.1-0.25 moderate, > 0.25 major drift.

Everything is Column arithmetic with a DuckDB SQL twin — drift runs in
the same single-pass, no-data-copies style as the DQ suite compiler.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.pin import pin

EPS = 1e-6


def _bucket_expr(col: str, edges: list[float]) -> Column:
    """Bin index 0..len(edges): values below edges[0] -> 0, in
    [edges[i-1], edges[i]) -> i, >= last -> len(edges)."""
    e = F.lit(0)
    for i, edge in enumerate(edges):
        e = e + (F.col(col).cast("double") >= F.lit(float(edge))).cast("int")
    return e


def _bucket_sql(col: str, edges: list[float]) -> str:
    terms = " + ".join(
        f"(CASE WHEN CAST({col} AS DOUBLE) >= {float(e)!r} THEN 1 ELSE 0 END)" for e in edges
    )
    return f"({terms})"


def _psi_terms(base_props: list[float]) -> list[float]:
    s = sum(base_props)
    return [max(p / s if s else 0.0, EPS) for p in base_props]


def psi_numeric(
    df: DataFrame, col: str, edges: list[float], baseline_counts: list[float]
) -> DataFrame:
    """One-row PSI for a numeric column vs frozen (edges, bin counts).
    len(baseline_counts) == len(edges) + 1. Single aggregate pass."""
    if len(baseline_counts) != len(edges) + 1:
        raise ValueError("need len(edges) + 1 baseline counts")
    base = _psi_terms(baseline_counts)
    b = _bucket_expr(col, edges)
    n = F.count(col).cast("double")
    terms = []
    for i, p1 in enumerate(base):
        cur = F.sum(((b == i) & F.col(col).isNotNull()).cast("int")) / F.nullif(n, F.lit(0.0))
        p2 = F.greatest(cur, F.lit(EPS))
        terms.append((p2 - F.lit(p1)) * F.log(p2 / F.lit(p1)))
    psi = F.round(sum(terms[1:], terms[0]), 6)
    return df.agg(
        F.lit(col).alias("column_name"),
        psi.alias("psi"),
        F.when(psi > 0.25, "MAJOR").when(psi > 0.1, "MODERATE").otherwise("STABLE").alias("drift"),
    )


def psi_numeric_sql(
    table: str, col: str, edges: list[float], baseline_counts: list[float]
) -> str:
    base = _psi_terms(baseline_counts)
    b = _bucket_sql(col, edges)
    n = f"CAST(count({col}) AS DOUBLE)"
    terms = []
    for i, p1 in enumerate(base):
        cur = (
            f"sum(CASE WHEN {b} = {i} AND {col} IS NOT NULL THEN 1 ELSE 0 END)"
            f" / nullif({n}, 0)"
        )
        p2 = f"greatest({cur}, {EPS!r})"
        terms.append(f"(({p2}) - {p1!r}) * ln(({p2}) / {p1!r})")
    psi = f"round({' + '.join(terms)}, 6)"
    return (
        f"SELECT '{col}' AS column_name, {psi} AS psi, "
        f"CASE WHEN {psi} > 0.25 THEN 'MAJOR' WHEN {psi} > 0.1 THEN 'MODERATE' "
        f"ELSE 'STABLE' END AS drift FROM {table}"
    )


def psi_categorical(
    df: DataFrame, col: str, baseline_freqs: dict[str, float]
) -> DataFrame:
    """One-row PSI for a categorical column vs frozen per-category
    proportions; categories outside the baseline pool into __other__
    (baseline mass eps, so novelty always raises PSI)."""
    cats = sorted(baseline_freqs)
    base = _psi_terms([baseline_freqs[c] for c in cats]) + [EPS]
    n = F.count(col).cast("double")
    terms = []
    for i, cat in enumerate(cats):
        cur = F.sum((F.col(col).cast("string") == cat).cast("int")) / F.nullif(n, F.lit(0.0))
        p2 = F.greatest(cur, F.lit(EPS))
        terms.append((p2 - F.lit(base[i])) * F.log(p2 / F.lit(base[i])))
    other = F.sum(
        (~F.col(col).cast("string").isin(cats) & F.col(col).isNotNull()).cast("int")
    ) / F.nullif(n, F.lit(0.0))
    p2o = F.greatest(other, F.lit(EPS))
    terms.append((p2o - F.lit(base[-1])) * F.log(p2o / F.lit(base[-1])))
    psi = F.round(sum(terms[1:], terms[0]), 6)
    return df.agg(
        F.lit(col).alias("column_name"),
        psi.alias("psi"),
        F.when(psi > 0.25, "MAJOR").when(psi > 0.1, "MODERATE").otherwise("STABLE").alias("drift"),
    )


def psi_categorical_sql(table: str, col: str, baseline_freqs: dict[str, float]) -> str:
    cats = sorted(baseline_freqs)
    base = _psi_terms([baseline_freqs[c] for c in cats]) + [EPS]
    n = f"CAST(count({col}) AS DOUBLE)"
    quoted = {c: "'" + c.replace("'", "''") + "'" for c in cats}
    terms = []
    for i, cat in enumerate(cats):
        cur = f"sum(CASE WHEN CAST({col} AS VARCHAR) = {quoted[cat]} THEN 1 ELSE 0 END) / nullif({n}, 0)"
        p2 = f"greatest({cur}, {EPS!r})"
        terms.append(f"(({p2}) - {base[i]!r}) * ln(({p2}) / {base[i]!r})")
    in_list = ", ".join(quoted[c] for c in cats)
    other = (
        f"sum(CASE WHEN CAST({col} AS VARCHAR) NOT IN ({in_list}) AND {col} IS NOT NULL "
        f"THEN 1 ELSE 0 END) / nullif({n}, 0)"
    )
    p2o = f"greatest({other}, {EPS!r})"
    terms.append(f"(({p2o}) - {base[-1]!r}) * ln(({p2o}) / {base[-1]!r})")
    psi = f"round({' + '.join(terms)}, 6)"
    return (
        f"SELECT '{col}' AS column_name, {psi} AS psi, "
        f"CASE WHEN {psi} > 0.25 THEN 'MAJOR' WHEN {psi} > 0.1 THEN 'MODERATE' "
        f"ELSE 'STABLE' END AS drift FROM {table}"
    )


def benford_screen(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-significant-digit screen — the classic
    anomaly/fabrication check for naturally-occurring positive
    magnitudes (amounts, populations, file sizes): digit d should
    appear with frequency log10(1 + 1/d).

    One row per digit 1-9 with observed vs expected share and the
    chi-square contribution; the last column carries the total
    chi-square statistic (same on every row). Both scalar totals — the
    row count and the chi-square sum — come back via broadcast scalar
    joins onto the 9-row frame, NOT unpartitioned windows: same result,
    but no single-partition WindowExec (and none of its per-run
    warnings). One hash aggregate on a 9-value key: map-side partials
    collapse the scan to 9 rows per partition regardless of table size.

    First digit via log10: d = floor(x / 10^floor(log10(x))) for
    x > 0 — works across any magnitude, including 0 < x < 1.
    """
    x = F.col(col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    # (r13 A/B: pinning the 9-row counts was measured and REVERTED,
    # 0.70 s vs 0.62 s min-of-6 — the scalar consumers re-derive
    # IDENTICAL subtrees that AQE exchange reuse dedupes at runtime;
    # the pin only added its own job latency.)
    counts = (
        df.filter(x > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("obs_ct"))
    )
    total = counts.agg(F.sum("obs_ct").alias("total_ct"))
    obs_share = F.col("obs_ct") / F.col("total_ct")
    exp_share = F.log10(1 + 1 / F.col("digit"))
    chi = F.pow(obs_share - exp_share, 2) / exp_share
    shares = counts.join(F.broadcast(total)).select(
        "digit",
        "obs_ct",
        F.round(obs_share, 6).alias("obs_share"),
        F.round(exp_share, 6).alias("exp_share"),
        F.round(chi, 6).alias("chi_contrib"),
        chi.alias("_chi_raw"),
    )
    chi_total = shares.agg(F.sum("_chi_raw").alias("_chi_total"))
    return (
        shares.join(F.broadcast(chi_total))
        .select(
            "digit",
            "obs_ct",
            "obs_share",
            "exp_share",
            "chi_contrib",
            F.round(F.col("_chi_total"), 6).alias("chi_square"),
        )
        .orderBy("digit")
    )


def benford_screen_sql(table: str, col: str) -> str:
    return f"""
    WITH counts AS (
      SELECT CAST(floor(x / power(10, floor(log10(x)))) AS INT) AS digit,
             count(*) AS obs_ct
      FROM (SELECT CAST({col} AS DOUBLE) AS x FROM {table}) WHERE x > 0
      GROUP BY 1),
    shares AS (
      SELECT digit, obs_ct,
             obs_ct * 1.0 / sum(obs_ct) OVER () AS obs_share,
             log10(1 + 1.0 / digit) AS exp_share
      FROM counts)
    SELECT digit, obs_ct, round(obs_share, 6) AS obs_share,
           round(exp_share, 6) AS exp_share,
           round(pow(obs_share - exp_share, 2) / exp_share, 6) AS chi_contrib,
           round(sum(pow(obs_share - exp_share, 2) / exp_share) OVER (), 6) AS chi_square
    FROM shares ORDER BY digit
    """


def ks_drift(
    df: DataFrame,
    col: str,
    side_expr: Column,
    bins: int = 256,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov screen between two slices of one
    table (``side_expr`` boolean: True -> sample A, False or NULL ->
    B; the predicate is coalesced to FALSE on BOTH engines so a
    nullable predicate can't diverge — SQL CASE..ELSE counted NULLs
    into B while a NULL-propagating boolean cast dropped them, round-7
    ADVICE): the
    max gap between the slices' binned empirical CDFs. Complements the
    fixed-baseline PSI with a baseline-free split comparison (old vs
    new partition, region A vs B), read on the usual scale: D < 0.05
    stable for large samples, bigger = distribution shift.

    Plan shape (100 TB story): pass 1 computes the global min/max (one
    agg, broadcast back as scalars); pass 2 bins every row and
    aggregates to ``bins`` rows with map-side partials. The cumulative
    CDF fold then runs as an ``aggregate`` over one collected
    bins-sized array — a single row on the driver-side plan, no
    unpartitioned window, nothing proportional to table size. Binning
    quantizes D by at most 1/bins, the standard streaming/distributed
    KS approximation.
    """
    x = F.col(col).cast("double")
    vals = df.select(
        x.alias("v"), F.coalesce(side_expr, F.lit(False)).alias("is_a")
    ).filter(F.col("v").isNotNull())
    mm = vals.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    span = F.col("hi") - F.col("lo")
    bin_ix = F.when(
        span > 0,
        F.least(
            F.floor((F.col("v") - F.col("lo")) / span * bins).cast("int"),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = (
        vals.join(F.broadcast(mm))
        .groupBy(bin_ix.alias("bin"))
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("ct_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("ct_b"),
        )
    )
    hist = binned.agg(
        F.sort_array(F.collect_list(F.struct("bin", "ct_a", "ct_b"))).alias("h"),
        F.sum("ct_a").alias("tot_a"),
        F.sum("ct_b").alias("tot_b"),
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("ca"),
        F.lit(0).cast("long").alias("cb"),
        F.lit(0.0).alias("d"),
    )

    def step(acc, e):
        ca = acc["ca"] + e["ct_a"]
        cb = acc["cb"] + e["ct_b"]
        gap = F.abs(
            ca / F.col("tot_a") - cb / F.col("tot_b")
        )
        return F.struct(
            ca.alias("ca"), cb.alias("cb"), F.greatest(acc["d"], gap).alias("d")
        )

    ks = F.aggregate(F.col("h"), acc0, step, lambda acc: acc["d"])
    # an empty side makes cb/tot_b NULL and greatest() would skip the
    # NULL gaps, reporting D = 0.0 ("perfect agreement") for a vanished
    # slice; KS against an empty sample is undefined, so emit NULL
    both_sides = (F.col("tot_a") > 0) & (F.col("tot_b") > 0)
    return hist.select(
        F.lit(col).alias("column_name"),
        F.col("tot_a").alias("n_a"),
        F.col("tot_b").alias("n_b"),
        F.when(both_sides, F.round(ks, 6)).alias("ks_d"),
    )


def ks_drift_sql(table: str, col: str, side_sql: str, bins: int = 256) -> str:
    """DuckDB twin: same two-pass binning, cumulative CDFs via an
    ordered window over the tiny bin table."""
    return f"""
    WITH vals AS (
      SELECT CAST({col} AS DOUBLE) AS v, coalesce(({side_sql}), FALSE) AS is_a
      FROM {table} WHERE {col} IS NOT NULL),
    mm AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
    binned AS (
      SELECT CASE WHEN hi > lo
                  THEN least(CAST(floor((v - lo) / (hi - lo) * {bins}) AS INT), {bins - 1})
                  ELSE 0 END AS bin,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ct_a,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS ct_b
      FROM vals, mm GROUP BY 1),
    cdf AS (
      SELECT sum(ct_a) OVER (ORDER BY bin) AS ca,
             sum(ct_b) OVER (ORDER BY bin) AS cb,
             sum(ct_a) OVER () AS tot_a, sum(ct_b) OVER () AS tot_b
      FROM binned)
    SELECT '{col}' AS column_name,
           CAST(max(tot_a) AS BIGINT) AS n_a, CAST(max(tot_b) AS BIGINT) AS n_b,
           CASE WHEN max(tot_a) > 0 AND max(tot_b) > 0
                THEN round(max(abs(ca * 1.0 / tot_a - cb * 1.0 / tot_b)), 6)
           END AS ks_d
    FROM cdf
    """


def psi_trend(
    df: DataFrame,
    col: str,
    edges: list[float],
    baseline_counts: list[float],
    period_col: str,
) -> DataFrame:
    """PSI as a TIME SERIES: one PSI row per period bucket instead of
    one for the whole table — "when did the distribution move", the
    question a one-number screen can't answer. Identical bin/EPS/term
    math as :func:`psi_numeric`, evaluated per group in a single
    aggregate pass (periods × bins states, map-side combined).
    ``period_col`` must already be a column on ``df`` (e.g. a
    date_format of the event time), so the period derivation stays in
    the same scan."""
    if len(baseline_counts) != len(edges) + 1:
        raise ValueError("need len(edges) + 1 baseline counts")
    base = _psi_terms(baseline_counts)
    b = _bucket_expr(col, edges)
    n = F.count(col).cast("double")
    terms = []
    for i, p1 in enumerate(base):
        cur = F.sum(((b == i) & F.col(col).isNotNull()).cast("int")) / F.nullif(
            n, F.lit(0.0)
        )
        p2 = F.greatest(cur, F.lit(EPS))
        terms.append((p2 - F.lit(p1)) * F.log(p2 / F.lit(p1)))
    psi = F.round(sum(terms[1:], terms[0]), 6)
    return (
        df.groupBy(period_col)
        .agg(
            psi.alias("psi"),
            F.when(psi > 0.25, "MAJOR")
            .when(psi > 0.1, "MODERATE")
            .otherwise("STABLE")
            .alias("drift"),
        )
        .orderBy(period_col)
    )


def psi_trend_sql(
    table: str,
    col: str,
    edges: list[float],
    baseline_counts: list[float],
    period_sql: str,
    period_name: str = "period",
) -> str:
    """DuckDB twin of :func:`psi_trend`."""
    base = _psi_terms(baseline_counts)
    b = _bucket_sql(col, edges)
    n = f"CAST(count({col}) AS DOUBLE)"
    terms = []
    for i, p1 in enumerate(base):
        cur = (
            f"sum(CASE WHEN {b} = {i} AND {col} IS NOT NULL THEN 1 ELSE 0 END)"
            f" / nullif({n}, 0)"
        )
        p2 = f"greatest({cur}, {EPS!r})"
        terms.append(f"(({p2}) - {p1!r}) * ln(({p2}) / {p1!r})")
    psi = f"round({' + '.join(terms)}, 6)"
    return (
        f"SELECT {period_sql} AS {period_name}, {psi} AS psi, "
        f"CASE WHEN {psi} > 0.25 THEN 'MAJOR' WHEN {psi} > 0.1 THEN 'MODERATE' "
        f"ELSE 'STABLE' END AS drift FROM {table} "
        f"GROUP BY {period_sql} ORDER BY {period_name}"
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    k: float = 3.5,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust outlier screen: flag values beyond median ± k·1.4826·MAD
    (the MAD-consistency rescaling makes k comparable to a z-score
    cutoff; Iglewicz & Hoaglin's recommended k=3.5 is the default).
    Unlike mean/stddev screens, a few extreme rows cannot drag the
    fence — the breakdown point is 50%.

    Two median passes (median, then median absolute deviation around
    it — both metadata-sized scalars), then the flag is a map-side
    expression and the report one small groupBy.

    **Memory bound / the 100 TB switch.** ``approx=True`` is the
    production mode: ``percentile_approx`` keeps a mergeable GK-sketch
    of O(accuracy) state per partition (rank error ≤ 1/accuracy, so
    fences are within (hi-lo)/accuracy of exact — a bounded-error
    pytest pins this), the plan stays fully lazy, and NOTHING is
    pinned — executor state is O(accuracy), as a 100 TB run needs.
    Exact mode (the default, because the DuckDB oracle twin
    ``quantile_cont`` is exact — same split as ``profile(exact=)``)
    computes both medians with the distributed value-counts rewrite
    (functions/quantiles.py, bit-identical to ``percentile()``) and
    pins the projected value column once for its three passes; that
    pin is O(rows) of one double column on executor storage — exact
    mode's inherent size class (the old ``percentile`` buffer held the
    same values in ONE task's memory).

    In exact mode the interpolated percentile is identical on both
    engines and the fences are built with one fixed operation order,
    so the report value-checks bit-exactly cross-engine."""
    c = F.col(col)
    if approx:
        # PRODUCTION mode: percentile_approx keeps O(accuracy) sketch
        # state per partition, and the plan stays fully lazy with NO
        # pinned column — materializing the cast column would put
        # O(rows) on executor local storage and truncate lineage,
        # contradicting exactly the memory bound this mode exists for
        # (round-13 ADVICE). The three passes re-scan the source; at
        # scale that is 3 scans of one narrow column vs an O(rows) pin.
        vals = df.select(c.cast("double").alias(col))
        pct = lambda x, q: F.percentile_approx(x, q, accuracy)  # noqa: E731
        med = vals.agg(pct(c, 0.5).alias("med"))
        d = (
            vals.crossJoin(F.broadcast(med))
            .agg(
                pct(F.abs(c - F.col("med")), 0.5).alias("mad"),
                F.any_value("med").alias("med"),
            )
        )
        lo = F.col("med") - k * 1.4826 * F.col("mad")
        hi = F.col("med") + k * 1.4826 * F.col("mad")
        flag = F.when(c < lo, "LOW").when(c > hi, "HIGH").otherwise("INLIER")
        return (
            vals.crossJoin(F.broadcast(d))
            .groupBy(flag.alias("flag"))
            .agg(
                F.count(F.lit(1)).alias("row_ct"),
                F.round(F.min(c), 2).alias("min_val"),
                F.round(F.max(c), 2).alias("max_val"),
                (F.floor(F.any_value(lo) * 10000 + F.lit(0.5)) / 10000).alias("fence_lo"),
                (F.floor(F.any_value(hi) * 10000 + F.lit(0.5)) / 10000).alias("fence_hi"),
            )
            .orderBy("flag")
        )
    from ..functions.quantiles import exact_percentiles

    # EXACT mode: the two medians come from the distributed
    # value-counts rewrite (functions/quantiles.py — bit-identical to
    # percentile(), proven by tests/test_quantiles.py), replacing two
    # ObjectHashAggregate passes whose buffer is every distinct value
    # on one task. The projected value column is pinned ONCE and feeds
    # the two value-count passes plus the fence rollup (guide §2.4) —
    # this pin is O(rows) of ONE cast column, the size class exact
    # mode already accepts (the old percentile buffer held the same
    # column in one task's memory; the pin at least spreads it).
    vals = pin(df.select(c.cast("double").alias(col)))
    med_v = exact_percentiles(vals, col, [0.5])[0]
    med_lit = F.lit(med_v).cast("double") if med_v is not None else F.lit(None).cast("double")
    mad_v = exact_percentiles(
        vals.select(F.abs(c - med_lit).alias(col)), col, [0.5]
    )[0]
    mad_lit = F.lit(mad_v).cast("double") if mad_v is not None else F.lit(None).cast("double")
    # fences built with the SAME operation order as before (med - k *
    # 1.4826 * mad) over the identical doubles, so every flag and
    # reported value is bit-stable vs the aggregate-based plan
    lo = med_lit - k * 1.4826 * mad_lit
    hi = med_lit + k * 1.4826 * mad_lit
    flag = F.when(c < lo, "LOW").when(c > hi, "HIGH").otherwise("INLIER")
    return (
        vals.groupBy(flag.alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.round(F.min(c), 2).alias("min_val"),
            F.round(F.max(c), 2).alias("max_val"),
            # floor(x*1e4+0.5), not round(x,4): the fences are arbitrary
            # computed doubles, where Spark rounds the decimal repr and
            # DuckDB the binary value — floor of the identical double
            # is bit-stable (the documented single-value idiom)
            (F.floor(F.min(lo) * 10000 + F.lit(0.5)) / 10000).alias("fence_lo"),
            (F.floor(F.min(hi) * 10000 + F.lit(0.5)) / 10000).alias("fence_hi"),
        )
        .orderBy("flag")
    )


def mad_outliers_sql(table: str, col: str, k: float = 3.5) -> str:
    return f"""
    WITH m AS (SELECT quantile_cont(CAST({col} AS DOUBLE), 0.5) AS med FROM {table}),
    d AS (
      SELECT quantile_cont(abs(CAST(t.{col} AS DOUBLE) - m.med), 0.5) AS mad,
             any_value(m.med) AS med
      FROM {table} t, m)
    SELECT CASE WHEN CAST(t.{col} AS DOUBLE) < d.med - {k} * 1.4826 * d.mad THEN 'LOW'
                WHEN CAST(t.{col} AS DOUBLE) > d.med + {k} * 1.4826 * d.mad THEN 'HIGH'
                ELSE 'INLIER' END AS flag,
           count(*) AS row_ct,
           round(min(CAST(t.{col} AS DOUBLE)), 2) AS min_val,
           round(max(CAST(t.{col} AS DOUBLE)), 2) AS max_val,
           floor(any_value(d.med - {k} * 1.4826 * d.mad) * 10000 + 0.5) / 10000 AS fence_lo,
           floor(any_value(d.med + {k} * 1.4826 * d.mad) * 10000 + 0.5) / 10000 AS fence_hi
    FROM {table} t, d GROUP BY flag ORDER BY flag
    """


def mad_outliers_grouped(
    df: DataFrame,
    col: str,
    by: str,
    k: float = 3.5,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group robust outlier screen: :func:`mad_outliers` fences
    computed independently for every ``by`` group — the "is THIS
    pipeline's metric wild for THIS pipeline" shape, where a global
    fence would drown quiet groups in one loud one.

    Plan: two grouped aggregate passes (median, then MAD around it),
    each joined back on the group key (shuffle-on-key; the fence table
    is one row per group), then a map-side flag and one final grouped
    count. Exact mode's per-group percentile state is bounded by the
    LARGEST group, not the table — still the scale hazard when one key
    dominates, so ``approx=True`` swaps in percentile_approx's
    O(accuracy) sketch per group (same split as the global screen)."""
    c = F.col(col).cast("double")
    pct = (
        (lambda x, q: F.percentile_approx(x, q, accuracy))
        if approx
        else (lambda x, q: F.percentile(x, q))
    )
    med = df.groupBy(F.col(by).alias("_g")).agg(pct(c, 0.5).alias("med"))
    with_med = df.join(med, F.col(by) == F.col("_g")).drop("_g")
    d = with_med.groupBy(F.col(by).alias("_g")).agg(
        pct(F.abs(c - F.col("med")), 0.5).alias("mad"),
        F.any_value("med").alias("med"),
    )
    j = df.join(d, F.col(by) == F.col("_g")).drop("_g")
    lo = F.col("med") - k * 1.4826 * F.col("mad")
    hi = F.col("med") + k * 1.4826 * F.col("mad")
    return (
        j.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("row_ct"),
            F.sum((c < lo).cast("int")).alias("low_ct"),
            F.sum((c > hi).cast("int")).alias("high_ct"),
            (F.floor(F.any_value(lo) * 10000 + F.lit(0.5)) / 10000).alias("fence_lo"),
            (F.floor(F.any_value(hi) * 10000 + F.lit(0.5)) / 10000).alias("fence_hi"),
        )
        .orderBy(by)
    )


def mad_outliers_grouped_sql(table: str, col: str, by: str, k: float = 3.5) -> str:
    c = f"CAST({col} AS DOUBLE)"
    return f"""
    WITH m AS (SELECT {by} AS g, quantile_cont({c}, 0.5) AS med FROM {table} GROUP BY {by}),
    d AS (
      SELECT m.g, quantile_cont(abs(CAST(t.{col} AS DOUBLE) - m.med), 0.5) AS mad,
             any_value(m.med) AS med
      FROM {table} t JOIN m ON t.{by} = m.g GROUP BY m.g)
    SELECT t.{by}, count(*) AS row_ct,
           CAST(sum(CASE WHEN CAST(t.{col} AS DOUBLE) < d.med - {k} * 1.4826 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS low_ct,
           CAST(sum(CASE WHEN CAST(t.{col} AS DOUBLE) > d.med + {k} * 1.4826 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS high_ct,
           floor(any_value(d.med - {k} * 1.4826 * d.mad) * 10000 + 0.5) / 10000 AS fence_lo,
           floor(any_value(d.med + {k} * 1.4826 * d.mad) * 10000 + 0.5) / 10000 AS fence_hi
    FROM {table} t JOIN d ON t.{by} = d.g
    GROUP BY t.{by} ORDER BY t.{by}
    """


def mann_kendall(
    series: DataFrame,
    key_col: str = "k",
    ord_col: str = "day",
    val_col: str = "v",
    z2_e4: int = 38416,  # z_crit^2 * 1e4 (1.96^2 -> 5% two-sided)
) -> DataFrame:
    """Mann–Kendall monotone-trend screen per key — the
    distribution-free 'is this metric drifting up/down' monitor
    (continuous periodic anomaly monitoring, reference README.md:10),
    complementing PSI (needs a baseline) and seasonal z-scores
    (need a period).

    S = sum over ordered pairs of sign(v_j - v_i); Var(S)*18 =
    n(n-1)(2n+5) - sum_t t(t-1)(2t+5) over tie groups. The
    significance test compares (|S|-1)^2 * 18 * 1e4 > z2_e4 * var18 —
    ALL integer arithmetic (the normal-approximation inequality cleared
    of divisions), so both engines reach identical verdicts. Output:
    one row per key with n, s_stat, var18, trend (sign of S), and
    significant.

    Scale: the pair space is per-key days^2 — a monitoring series is
    hundreds-to-thousands of points, so the self-join is metadata-sized
    after the daily pre-aggregation the caller does; everything
    shuffles on the key only."""
    s = pin(  # keys x days rows; read by 4 consumers
        series.select(
            F.col(key_col).alias("k"), F.col(ord_col).alias("o"), F.col(val_col).alias("v")
        )
    )
    # (pairs a/b, base, ties) — pinning makes the upstream aggregation
    # run ONCE instead of once per consumer (the fd_check lesson)
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b, (F.col("a.k") == F.col("b.k")) & (F.col("a.o") < F.col("b.o"))
    ).select(
        F.col("a.k").alias("k"),
        F.signum(F.col("b.v").cast("double") - F.col("a.v").cast("double"))
        .cast("long")
        .alias("sgn"),
    )
    s_stat = pairs.groupBy("k").agg(F.sum("sgn").cast("long").alias("s_stat"))
    base = s.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        s.groupBy("k", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("k")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie18")
        )
    )
    return (
        base.join(s_stat, "k", "left")
        .join(ties, "k", "left")
        .select(
            F.col("k").alias(key_col),
            "n",
            F.coalesce(F.col("s_stat"), F.lit(0)).cast("long").alias("s_stat"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie18"), F.lit(0))
            )
            .cast("long")
            .alias("var18"),
        )
        .withColumn("trend", F.signum("s_stat").cast("int"))
        .withColumn(
            "significant",
            F.expr(
                f"(abs(s_stat) - 1) * (abs(s_stat) - 1) * 18L * 10000L"
                f" > {int(z2_e4)}L * var18 AND s_stat <> 0"
            ),
        )
        .orderBy(key_col)
    )


def mann_kendall_sql(
    series_sql: str,
    key_col: str = "k",
    ord_col: str = "day",
    val_col: str = "v",
    z2_e4: int = 38416,
) -> str:
    """DuckDB twin of :func:`mann_kendall`; ``series_sql`` is a SELECT
    producing (key, ord, val)."""
    return f"""
    WITH s AS MATERIALIZED (
      SELECT {key_col} AS k, {ord_col} AS o, {val_col} AS v
      FROM ({series_sql})),
    p AS (
      SELECT a.k, CAST(sign(CAST(b.v AS DOUBLE) - CAST(a.v AS DOUBLE)) AS BIGINT) AS sgn
      FROM s a JOIN s b ON a.k = b.k AND a.o < b.o),
    st AS (SELECT k, CAST(sum(sgn) AS BIGINT) AS s_stat FROM p GROUP BY k),
    base AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY k),
    ties AS (
      SELECT k, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (SELECT k, v, CAST(count(*) AS BIGINT) AS t FROM s GROUP BY k, v)
      WHERE t > 1 GROUP BY k)
    SELECT base.k AS {key_col}, n,
           CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
           CAST(n * (n - 1) * (2 * n + 5) - coalesce(tie18, 0) AS BIGINT) AS var18,
           CAST(sign(coalesce(s_stat, 0)) AS INT) AS trend,
           (abs(coalesce(s_stat, 0)) - 1) * (abs(coalesce(s_stat, 0)) - 1)
             * 18 * 10000 > {int(z2_e4)} * (n * (n - 1) * (2 * n + 5)
             - coalesce(tie18, 0))
             AND coalesce(s_stat, 0) <> 0 AS significant
    FROM base LEFT JOIN st USING (k) LEFT JOIN ties USING (k)
    ORDER BY {key_col}
    """


def p_chart(
    counts: DataFrame,
    key_col: str = "k",
    n_col: str = "n",
    x_col: str = "x",
    sigma: int = 3,
) -> DataFrame:
    """Proportion control chart (SPC p-chart) over pre-aggregated
    subgroups: each row of ``counts`` is one subgroup with ``n`` trials
    and ``x`` events; a subgroup breaches when its event rate sits more
    than ``sigma`` standard errors from the pooled center line — the
    classic 'is this day/pipeline out of control' screen for failure
    rates.

    The breach test is the cross-multiplied inequality
    ``(x*Nt - Xt*n)^2 > sigma^2 * Xt * (Nt - Xt) * n`` evaluated in
    DECIMAL(38,0) (HUGEINT on DuckDB) — no division, no sqrt, no
    floats, so verdicts are bit-identical cross-engine at any scale
    (the squared term overflows int64 past ~3e9 trial-weighted
    deviations; decimal headroom covers 1e19 subgroup trials).
    ``rate_bp``/``pbar_bp`` are floor-division basis points for
    reporting. One pass over the subgroup frame plus a broadcast
    scalar."""
    s = pin(  # subgroup-sized; feeds totals + verdicts
        counts.select(
            F.col(key_col).alias("k"),
            F.col(n_col).cast("long").alias("n"),
            F.col(x_col).cast("long").alias("x"),
        )
    )
    tot = s.agg(
        F.sum("n").cast("long").alias("nt"), F.sum("x").cast("long").alias("xt")
    )
    dev = "(CAST(x AS DECIMAL(38,0)) * nt - CAST(xt AS DECIMAL(38,0)) * n)"
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias(key_col),
            "n",
            "x",
            F.expr("CAST(CASE WHEN n = 0 THEN 0 ELSE x * 10000L DIV n END AS BIGINT)").alias(
                "rate_bp"
            ),
            F.expr("CAST(CASE WHEN nt = 0 THEN 0 ELSE xt * 10000L DIV nt END AS BIGINT)").alias(
                "pbar_bp"
            ),
            F.expr(
                f"{dev} * {dev} > CAST({sigma * sigma} AS DECIMAL(38,0))"
                " * xt * (nt - xt) * n"
            ).alias("breach"),
            F.expr(f"CAST(sign({dev}) AS INT)").alias("direction"),
        )
        .orderBy(key_col)
    )


def p_chart_sql(
    counts_sql: str,
    key_col: str = "k",
    n_col: str = "n",
    x_col: str = "x",
    sigma: int = 3,
) -> str:
    """DuckDB twin of :func:`p_chart` (HUGEINT cross-multiplication)."""
    dev = "(CAST(x AS HUGEINT) * nt - CAST(xt AS HUGEINT) * n)"
    return f"""
    WITH s AS MATERIALIZED (
      SELECT {key_col} AS k, CAST({n_col} AS BIGINT) AS n,
             CAST({x_col} AS BIGINT) AS x
      FROM ({counts_sql})),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt
            FROM s)
    SELECT k AS {key_col}, n, x,
           CAST(CASE WHEN n = 0 THEN 0 ELSE x * 10000 // n END AS BIGINT) AS rate_bp,
           CAST(CASE WHEN nt = 0 THEN 0 ELSE xt * 10000 // nt END AS BIGINT) AS pbar_bp,
           {dev} * {dev} > CAST({sigma * sigma} AS HUGEINT)
             * xt * (nt - xt) * n AS breach,
           CAST(sign({dev}) AS INT) AS direction
    FROM s, tot ORDER BY {key_col}
    """


def cusum_screen(
    series: DataFrame,
    key_col: str = "k",
    ord_col: str = "o",
    val_col: str = "v",
    k_bp: int = 2500,
    h_bp: int = 20000,
) -> DataFrame:
    """Tabular CUSUM level-shift screen per key — the sequential
    'has the level moved and STAYED moved' monitor (continuous
    periodic anomaly monitoring, reference README.md:10). It catches
    slow sustained drifts the per-point z-score screen
    (rolling_anomaly) misses, and localizes WHEN the shift started,
    which Mann-Kendall's single trend verdict cannot.

    Semantics (two one-sided charts against the key's own pooled mean
    c = total/n): allowance k = k_bp/1e4 * c, decision interval
    h = h_bp/1e4 * c; S+_i = max(0, S+_{i-1} + (v_i - c - k)) alarms
    when S+ > h, S- symmetric. The reset-at-zero recursion is
    expressed as prefix sums minus their running minimum
    (S+_i = P_i - min(0, min_{j<=i} P_j)), so both engines compute it
    with plain window functions — no recursion, no UDF.

    Everything is scaled by 1e4*n so the arithmetic is pure integers
    in DECIMAL(38,0) (HUGEINT on DuckDB): d+_i = 1e4*n*v_i - 1e4*T -
    k_bp*T, alarm when S+_scaled > h_bp*T. Verdicts are bit-identical
    cross-engine at any scale with ~1e38 headroom (safe while
    1e4 * n * total < 1e19 per key-day, far past any daily-count
    series). Output is one summary row per key: alarm counts, first
    alarm ordinal per side, and the peak excursions in basis points
    of the center (floor division).

    Scale: one shuffle on the key for the windows over the
    pre-aggregated (key, day) frame — metadata-sized after the daily
    rollup the caller does; totals ride along via a window, not a
    second scan."""
    s = series.select(
        F.col(key_col).alias("k"),
        F.col(ord_col).alias("o"),
        F.col(val_col).cast("long").alias("v"),
    )
    kw = "(PARTITION BY k)"
    ow = "(PARTITION BY k ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    stepped = s.selectExpr(
        "k",
        "o",
        "v",
        f"CAST(count(*) OVER {kw} AS DECIMAL(38,0)) AS n",
        f"CAST(sum(v) OVER {kw} AS DECIMAL(38,0)) AS t",
    ).selectExpr(
        "k",
        "o",
        "v",
        "n",
        "t",
        f"CAST(10000 AS DECIMAL(38,0)) * n * v - 10000 * t - {int(k_bp)} * t AS dup",
        f"10000 * t - {int(k_bp)} * t - CAST(10000 AS DECIMAL(38,0)) * n * v AS ddn",
    ).selectExpr(
        "k",
        "o",
        "t",
        f"sum(dup) OVER {ow} AS pup",
        f"sum(ddn) OVER {ow} AS pdn",
    ).selectExpr(
        "k",
        "o",
        "t",
        f"pup - least(CAST(0 AS DECIMAL(38,0)), min(pup) OVER {ow}) AS sup",
        f"pdn - least(CAST(0 AS DECIMAL(38,0)), min(pdn) OVER {ow}) AS sdn",
    ).selectExpr(
        "k",
        "o",
        "t",
        "sup",
        "sdn",
        f"sup > {int(h_bp)} * t AS aup",
        f"sdn > {int(h_bp)} * t AS adn",
    )
    return (
        stepped.groupBy(F.col("k").alias(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max(F.col("t")).cast("long").alias("total"),
            F.sum(F.col("aup").cast("long")).cast("long").alias("upper_alarms"),
            F.sum(F.col("adn").cast("long")).cast("long").alias("lower_alarms"),
            F.min(F.when(F.col("aup"), F.col("o").cast("string"))).alias("first_upper"),
            F.min(F.when(F.col("adn"), F.col("o").cast("string"))).alias("first_lower"),
            F.expr("CAST(max(sup) DIV greatest(max(t), 1) AS BIGINT)").alias(
                "peak_upper_bp"
            ),
            F.expr("CAST(max(sdn) DIV greatest(max(t), 1) AS BIGINT)").alias(
                "peak_lower_bp"
            ),
        )
        .withColumn(
            "out_of_control", (F.col("upper_alarms") + F.col("lower_alarms")) > 0
        )
        .orderBy(key_col)
    )


def cusum_screen_sql(
    series_sql: str,
    key_col: str = "k",
    ord_col: str = "o",
    val_col: str = "v",
    k_bp: int = 2500,
    h_bp: int = 20000,
) -> str:
    """DuckDB twin of :func:`cusum_screen` (HUGEINT window arithmetic);
    ``series_sql`` is a SELECT producing (key, ord, val)."""
    kw = "(PARTITION BY k)"
    ow = "(PARTITION BY k ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
    WITH s AS (
      SELECT {key_col} AS k, {ord_col} AS o, CAST({val_col} AS BIGINT) AS v
      FROM ({series_sql})),
    base AS (
      SELECT k, o, v,
             CAST(count(*) OVER {kw} AS HUGEINT) AS n,
             CAST(sum(v) OVER {kw} AS HUGEINT) AS t
      FROM s),
    d AS (
      SELECT k, o, t,
             CAST(10000 AS HUGEINT) * n * v - 10000 * t - {int(k_bp)} * t AS dup,
             10000 * t - {int(k_bp)} * t - CAST(10000 AS HUGEINT) * n * v AS ddn
      FROM base),
    p AS (
      SELECT k, o, t,
             sum(dup) OVER {ow} AS pup,
             sum(ddn) OVER {ow} AS pdn
      FROM d),
    cs AS (
      SELECT k, o, t,
             pup - least(CAST(0 AS HUGEINT), min(pup) OVER {ow}) AS sup,
             pdn - least(CAST(0 AS HUGEINT), min(pdn) OVER {ow}) AS sdn
      FROM p),
    a AS (
      SELECT k, o, t, sup, sdn,
             sup > {int(h_bp)} * t AS aup,
             sdn > {int(h_bp)} * t AS adn
      FROM cs)
    SELECT k AS {key_col},
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(t) AS BIGINT) AS total,
           CAST(sum(CASE WHEN aup THEN 1 ELSE 0 END) AS BIGINT) AS upper_alarms,
           CAST(sum(CASE WHEN adn THEN 1 ELSE 0 END) AS BIGINT) AS lower_alarms,
           min(CASE WHEN aup THEN CAST(o AS VARCHAR) END) AS first_upper,
           min(CASE WHEN adn THEN CAST(o AS VARCHAR) END) AS first_lower,
           CAST(max(sup) // greatest(max(t), 1) AS BIGINT) AS peak_upper_bp,
           CAST(max(sdn) // greatest(max(t), 1) AS BIGINT) AS peak_lower_bp,
           sum(CASE WHEN aup OR adn THEN 1 ELSE 0 END) > 0 AS out_of_control
    FROM a GROUP BY k ORDER BY {key_col}
    """


def changepoint(
    series: DataFrame,
    key_col: str = "k",
    ord_col: str = "o",
    val_col: str = "v",
) -> DataFrame:
    """Single change-point localization per key (binary-segmentation
    step 1): the split t that maximizes the between-segment SSE
    reduction gain(t) = (n*T_t - t*T)^2 / (n * t * (n-t)), where T_t
    is the prefix sum — i.e. WHERE did the level move, complementing
    cusum_screen's WHEN-did-it-start alarm and Mann-Kendall's
    is-it-monotone verdict (continuous periodic anomaly monitoring,
    reference README.md:10).

    The numerator and denominator are pure integers; the argmax is
    taken over the 1e-4-quantized gain ``gain_q = floor(gain * 1e4)``
    with earliest-t tie-break — floor division of identical integers,
    so the chosen split is bit-identical cross-engine (DECIMAL(38,0)
    on Spark, HUGEINT on DuckDB; (n*T_t)^2 * 1e4 needs n*T < ~1e17,
    far past any pre-aggregated monitoring series). Segment means are
    reported in exact basis points by floor division.

    Scale: one keyed-window pass over the (key, day) frame plus a
    per-key top-1 — both metadata-sized after the caller's daily
    rollup."""
    ow = "(PARTITION BY k ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    kw = "(PARTITION BY k)"
    s = series.select(
        F.col(key_col).alias("k"),
        F.col(ord_col).alias("o"),
        F.col(val_col).cast("long").alias("v"),
    )
    scored = s.selectExpr(
        "k",
        "o",
        f"CAST(row_number() OVER (PARTITION BY k ORDER BY o) AS DECIMAL(38,0)) AS t",
        f"CAST(sum(v) OVER {ow} AS DECIMAL(38,0)) AS tt",
        f"CAST(count(*) OVER {kw} AS DECIMAL(38,0)) AS n",
        f"CAST(sum(v) OVER {kw} AS DECIMAL(38,0)) AS tot",
    ).filter("t < n").selectExpr(
        "k",
        "o",
        "t",
        "n",
        "tt",
        "tot",
        "CAST((n * tt - t * tot) * (n * tt - t * tot) * 10000"
        " DIV (n * t * (n - t)) AS BIGINT) AS gain_q",
    )
    best = scored.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY k ORDER BY gain_q DESC, t ASC) AS rn",
    ).filter("rn = 1")
    return best.selectExpr(
        f"k AS {key_col}",
        "CAST(n AS BIGINT) AS n",
        "CAST(t AS BIGINT) AS t_star",
        "CAST(o AS STRING) AS split_ord",
        "gain_q",
        "CAST(tt * 10000 DIV t AS BIGINT) AS mean_left_bp",
        "CAST((tot - tt) * 10000 DIV (n - t) AS BIGINT) AS mean_right_bp",
    ).orderBy(key_col)


def changepoint_sql(
    series_sql: str,
    key_col: str = "k",
    ord_col: str = "o",
    val_col: str = "v",
) -> str:
    """DuckDB twin of :func:`changepoint` (HUGEINT arithmetic);
    ``series_sql`` is a SELECT producing (key, ord, val)."""
    ow = "(PARTITION BY k ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    kw = "(PARTITION BY k)"
    return f"""
    WITH s AS (
      SELECT {key_col} AS k, {ord_col} AS o, CAST({val_col} AS BIGINT) AS v
      FROM ({series_sql})),
    w AS (
      SELECT k, o,
             CAST(row_number() OVER (PARTITION BY k ORDER BY o) AS HUGEINT) AS t,
             CAST(sum(v) OVER {ow} AS HUGEINT) AS tt,
             CAST(count(*) OVER {kw} AS HUGEINT) AS n,
             CAST(sum(v) OVER {kw} AS HUGEINT) AS tot
      FROM s),
    scored AS (
      SELECT k, o, t, n, tt, tot,
             CAST((n * tt - t * tot) * (n * tt - t * tot) * 10000
                  // (n * t * (n - t)) AS BIGINT) AS gain_q
      FROM w WHERE t < n),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY gain_q DESC, t ASC) AS rn
      FROM scored)
    SELECT k AS {key_col},
           CAST(n AS BIGINT) AS n,
           CAST(t AS BIGINT) AS t_star,
           CAST(o AS VARCHAR) AS split_ord,
           gain_q,
           CAST(tt * 10000 // t AS BIGINT) AS mean_left_bp,
           CAST((tot - tt) * 10000 // (n - t) AS BIGINT) AS mean_right_bp
    FROM best WHERE rn = 1 ORDER BY {key_col}
    """


def wasserstein_drift(
    df: DataFrame,
    col: str,
    side_expr: Column,
    bins: int = 256,
) -> DataFrame:
    """Two-sample Wasserstein-1 (earth mover's) screen between two
    slices of one table — the AREA between the binned empirical CDFs,
    where KS is their max gap. W1 sees how FAR mass moved, so a small
    uniform shift that never opens a big CDF gap (invisible to KS
    until n is huge) still registers; together they answer 'did it
    move' (KS) and 'by how much' (W1).

    Same two-pass plan as :func:`ks_drift` (min/max agg -> bins-sized
    histogram, map-side partials), then an integer fold: w1_e6 =
    floor(1e6 * sum_bins |ca*n_b - cb*n_a| / (n_a*n_b*bins)) — W1 as a
    fraction of the observed span, in exact 1e-6 units. Cross products
    run in DECIMAL(38,0)/HUGEINT so the verdict is bit-identical
    cross-engine (n_a*n_b*bins < 1e38 — any realistic table). NULL
    when either slice is empty (undefined, like ks_drift). A NULL
    ``side_expr`` row lands in slice B on both engines (coalesced to
    FALSE — ks_drift's normalization, round-7 ADVICE)."""
    x = F.col(col).cast("double")
    vals = df.select(x.alias("v"), F.coalesce(side_expr, F.lit(False)).alias("is_a")).filter(
        F.col("v").isNotNull()
    )
    mm = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    span = F.col("hi") - F.col("lo")
    bin_ix = F.when(
        span > 0,
        F.least(
            F.floor((F.col("v") - F.col("lo")) / span * bins).cast("int"),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = (
        vals.join(F.broadcast(mm))
        .groupBy(bin_ix.alias("bin"))
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("ct_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("ct_b"),
        )
    )
    hist = binned.agg(
        F.sort_array(F.collect_list(F.struct("bin", "ct_a", "ct_b"))).alias("h"),
        F.sum("ct_a").alias("tot_a"),
        F.sum("ct_b").alias("tot_b"),
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("ca"),
        F.lit(0).cast("long").alias("cb"),
        F.lit(0).cast("int").alias("lb"),
        F.lit(0).cast("decimal(38,0)").alias("s"),
    )

    # a groupBy histogram only materializes NON-empty bins, but the CDF
    # gap persists across empty ones — weight each cumulative gap by the
    # run of bins it spans (e.bin - lb) or the area under-counts comb
    # distributions (trailing bins carry gap 0: both CDFs are complete)
    def step(acc, e):
        gap = F.abs(
            acc["ca"].cast("decimal(38,0)") * F.col("tot_b")
            - acc["cb"].cast("decimal(38,0)") * F.col("tot_a")
        )
        return F.struct(
            (acc["ca"] + e["ct_a"]).alias("ca"),
            (acc["cb"] + e["ct_b"]).alias("cb"),
            e["bin"].alias("lb"),
            (acc["s"] + gap * (e["bin"] - acc["lb"]).cast("decimal(38,0)")).alias("s"),
        )

    # after the last entry both CDFs are complete (gap 0), so the final
    # state needs one more term: the gap BEFORE the last entry's counts
    # never applies past it — fold result is acc.s plus nothing
    s = F.aggregate(F.col("h"), acc0, step, lambda acc: acc["s"])
    return (
        hist.select(
            F.col("tot_a").cast("long").alias("n_a"),
            F.col("tot_b").cast("long").alias("n_b"),
            s.alias("s"),
        )
        .selectExpr(
            f"'{col}' AS column_name",
            "n_a",
            "n_b",
            # integral divide of exact DECIMAL(38,0) integers == the
            # twin's HUGEINT // — no decimal-division half-up rounding
            f"""CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(
                 (s * 1000000) DIV (CAST(n_a AS DECIMAL(38,0))
                  * CAST(n_b AS DECIMAL(38,0)) * {bins}) AS BIGINT) END AS w1_e6""",
        )
    )


def wasserstein_drift_sql(
    table: str, col: str, side_sql: str, bins: int = 256
) -> str:
    """DuckDB twin of :func:`wasserstein_drift` (HUGEINT cross
    products, same binning as ks_drift_sql)."""
    return f"""
    WITH vals AS (
      SELECT CAST({col} AS DOUBLE) AS v, coalesce(({side_sql}), FALSE) AS is_a
      FROM {table} WHERE {col} IS NOT NULL),
    mm AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
    binned AS (
      SELECT CASE WHEN hi > lo
                  THEN least(CAST(floor((v - lo) / (hi - lo) * {bins}) AS INT), {bins - 1})
                  ELSE 0 END AS bin,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ct_a,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS ct_b
      FROM vals, mm GROUP BY 1),
    tot AS (SELECT CAST(sum(ct_a) AS BIGINT) AS tot_a,
                   CAST(sum(ct_b) AS BIGINT) AS tot_b FROM binned),
    cum AS (
      SELECT sum(ct_a) OVER w AS ca, sum(ct_b) OVER w AS cb,
             -- the gap after this bin persists across empty bins up to
             -- the next materialized one (trailing run carries gap 0)
             coalesce(lead(bin) OVER (ORDER BY bin), bin) - bin AS width
      FROM binned
      WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    area AS (
      SELECT CAST(sum(abs(CAST(ca AS HUGEINT) * tot_b
                          - CAST(cb AS HUGEINT) * tot_a) * width) AS HUGEINT) AS s
      FROM cum, tot)
    SELECT '{col}' AS column_name, tot_a AS n_a, tot_b AS n_b,
           CASE WHEN tot_a > 0 AND tot_b > 0
                THEN CAST(s * 1000000 // (CAST(tot_a AS HUGEINT) * tot_b * {bins})
                          AS BIGINT)
                END AS w1_e6
    FROM area, tot
    """


def wasserstein_grouped(
    df: DataFrame,
    col: str,
    side_expr: Column,
    by: str,
    bins: int = 128,
) -> DataFrame:
    """Per-group two-sample Wasserstein-1: :func:`wasserstein_drift`
    keyed by ``by`` — 'how far did each domain/segment move', the
    grouped face of the drift family (like mad_outliers_grouped for
    fences). Each group bins over ITS OWN [min, max] span, so w1_e6 is
    comparable across groups as a fraction-of-own-span.

    Plan: one scan computes per-group min/max (groupBy + join back —
    the group stats frame is key-cardinality-sized, AQE broadcasts
    it), a second bins and counts per (group, side, bin); the area
    fold is a per-group window over the bins frame. Same exact
    DECIMAL(38,0)/HUGEINT cross products, same empty-bin run
    weighting; a group with an empty side reports NULL."""
    x = F.col(col).cast("double")
    vals = df.select(
        F.col(by).alias("g"), x.alias("v"), F.coalesce(side_expr, F.lit(False)).alias("is_a")
    ).filter(F.col("v").isNotNull())
    mm = vals.groupBy("g").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    j = vals.join(mm, "g")
    span = F.col("hi") - F.col("lo")
    bin_ix = F.when(
        span > 0,
        F.least(
            F.floor((F.col("v") - F.col("lo")) / span * bins).cast("int"),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    binned = j.groupBy(F.col("g"), bin_ix.alias("bin")).agg(
        F.sum(F.col("is_a").cast("long")).alias("ct_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("ct_b"),
    )
    ow = "(PARTITION BY g ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    cum = binned.selectExpr(
        "g",
        "bin",
        f"sum(ct_a) OVER {ow} AS ca",
        f"sum(ct_b) OVER {ow} AS cb",
        f"coalesce(lead(bin) OVER (PARTITION BY g ORDER BY bin), bin) - bin AS width",
        f"sum(ct_a) OVER (PARTITION BY g) AS tot_a",
        f"sum(ct_b) OVER (PARTITION BY g) AS tot_b",
    )
    return (
        cum.groupBy(F.col("g").alias(by))
        .agg(
            F.max("tot_a").cast("long").alias("n_a"),
            F.max("tot_b").cast("long").alias("n_b"),
            F.sum(
                F.expr(
                    "abs(CAST(ca AS DECIMAL(38,0)) * tot_b"
                    " - CAST(cb AS DECIMAL(38,0)) * tot_a) * width"
                )
            ).alias("s"),
        )
        .selectExpr(
            by,
            "n_a",
            "n_b",
            f"""CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(
                 (s * 1000000) DIV (CAST(n_a AS DECIMAL(38,0))
                  * CAST(n_b AS DECIMAL(38,0)) * {bins}) AS BIGINT) END AS w1_e6""",
        )
        .orderBy(by)
    )


def wasserstein_grouped_sql(
    table: str, col: str, side_sql: str, by: str, bins: int = 128
) -> str:
    """DuckDB twin of :func:`wasserstein_grouped`."""
    return f"""
    WITH vals AS (
      SELECT {by} AS g, CAST({col} AS DOUBLE) AS v, coalesce(({side_sql}), FALSE) AS is_a
      FROM {table} WHERE {col} IS NOT NULL),
    mm AS (SELECT g, min(v) AS lo, max(v) AS hi FROM vals GROUP BY g),
    binned AS (
      SELECT vals.g,
             CASE WHEN hi > lo
                  THEN least(CAST(floor((v - lo) / (hi - lo) * {bins}) AS INT), {bins - 1})
                  ELSE 0 END AS bin,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ct_a,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS ct_b
      FROM vals JOIN mm ON vals.g = mm.g GROUP BY 1, 2),
    cum AS (
      SELECT g, bin,
             sum(ct_a) OVER w AS ca, sum(ct_b) OVER w AS cb,
             coalesce(lead(bin) OVER (PARTITION BY g ORDER BY bin), bin) - bin AS width,
             sum(ct_a) OVER (PARTITION BY g) AS tot_a,
             sum(ct_b) OVER (PARTITION BY g) AS tot_b
      FROM binned
      WINDOW w AS (PARTITION BY g ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    area AS (
      SELECT g, CAST(max(tot_a) AS BIGINT) AS n_a, CAST(max(tot_b) AS BIGINT) AS n_b,
             CAST(sum(abs(CAST(ca AS HUGEINT) * tot_b
                          - CAST(cb AS HUGEINT) * tot_a) * width) AS HUGEINT) AS s
      FROM cum GROUP BY g)
    SELECT g AS {by}, n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN CAST(s * 1000000 // (CAST(n_a AS HUGEINT) * n_b * {bins})
                          AS BIGINT)
                END AS w1_e6
    FROM area ORDER BY {by}
    """


def seasonality_strength(
    series: DataFrame,
    key_col: str = "k",
    day_col: str = "day",
    val_col: str = "v",
) -> DataFrame:
    """Weekly-seasonality strength per key: the share of a daily
    series' variance explained by day-of-week, strength = 1 -
    SSE_within_dow / SSE_total, in floor-quantized 1e-4 units — the
    'does this stream breathe weekly' verdict that decides whether a
    volume monitor should baseline per-weekday (seasonal z-score) or
    globally, complementing burstiness (rhythm regularity) and
    Mann-Kendall (trend).

    Exactness: per-(key, isodow) integer moments (count, sum, sum of
    squares in DECIMAL(38,0)/HUGEINT) reduce the series once; the
    final ratio is a DOUBLE of those exact integers finished with
    floor(x*1e4). The within-dow SSE is a sum of <=7 doubles, and
    float addition is order-sensitive — so both engines fold the terms
    in EXPLICIT dow order (array_sort + aggregate here, list(ORDER BY
    dow) + list_reduce in the twin) instead of relying on engine/
    partition summation order, which could flip strength_e4 by one at
    a floor boundary (round-7 ADVICE). Bit-stable on identical
    inputs. ISO day-of-week
    (Monday=1) matches between engines, unlike the Sunday-0/Sunday-1
    split of the plain dayofweek functions. ``peak_dow`` is the argmax
    of the exact integer-quantized per-dow mean (lowest dow on ties).
    NULL strength when the series has no variance (SSE_total = 0).

    One keyed rollup to <=7 rows per key, then per-key folds —
    metadata-sized after the caller's daily aggregation."""
    base = series.select(
        F.col(key_col).alias("k"),
        F.expr(f"extract(DAYOFWEEK_ISO FROM {day_col})").cast("int").alias("dow"),
        F.col(val_col).cast("long").alias("v"),
    )
    per_dow = base.groupBy("k", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("v").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("s2"),
    )
    return (
        per_dow.groupBy(F.col("k").alias(key_col))
        .agg(
            F.sum("n_d").cast("long").alias("n_days"),
            F.sum("s1").alias("_s1"),
            F.sum("s2").alias("_s2"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("dow").alias("dow"),
                            (
                                F.col("s2").cast("double")
                                - F.col("s1").cast("double")
                                * F.col("s1").cast("double")
                                / F.col("n_d").cast("double")
                            ).alias("w"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["w"],
            ).alias("_w"),
            F.max(
                F.struct(
                    F.expr("CAST(s1 * 10000 DIV n_d AS BIGINT)").alias("m"),
                    (-F.col("dow")).alias("nd"),
                )
            ).alias("_pk"),
        )
        .selectExpr(
            key_col,
            "n_days",
            """CASE WHEN CAST(_s2 AS DOUBLE)
                      - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE) / n_days > 0
               THEN CAST(floor((1.0 - _w / (CAST(_s2 AS DOUBLE)
                    - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE) / n_days))
                    * 10000) AS BIGINT) END AS strength_e4""",
            "CAST(-_pk.nd AS INT) AS peak_dow",
        )
        .orderBy(key_col)
    )


def seasonality_strength_sql(
    series_sql: str,
    key_col: str = "k",
    day_col: str = "day",
    val_col: str = "v",
) -> str:
    """DuckDB twin of :func:`seasonality_strength` (isodow + HUGEINT
    moments, same floor-quantized ratio)."""
    return f"""
    WITH base AS (
      SELECT {key_col} AS k, CAST(isodow({day_col}) AS INT) AS dow,
             CAST({val_col} AS BIGINT) AS v
      FROM ({series_sql})),
    per_dow AS (
      SELECT k, dow, CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(v) AS HUGEINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
      FROM base GROUP BY k, dow),
    folded AS (
      SELECT k, CAST(sum(n_d) AS BIGINT) AS n_days,
             CAST(sum(s1) AS HUGEINT) AS _s1,
             CAST(sum(s2) AS HUGEINT) AS _s2,
             list_reduce(
               [0.0] || list(CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(n_d AS DOUBLE) ORDER BY dow),
               (a, b) -> a + b) AS _w,
             max(struct_pack(m := CAST(s1 * 10000 // n_d AS BIGINT),
                             nd := -dow)) AS _pk
      FROM per_dow GROUP BY k)
    SELECT k AS {key_col}, n_days,
           CASE WHEN CAST(_s2 AS DOUBLE)
                     - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE) / n_days > 0
                THEN CAST(floor((1.0 - _w / (CAST(_s2 AS DOUBLE)
                     - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE) / n_days))
                     * 10000) AS BIGINT) END AS strength_e4,
           CAST(-_pk.nd AS INT) AS peak_dow
    FROM folded ORDER BY {key_col}
    """
