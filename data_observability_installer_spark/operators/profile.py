"""One-pass column profiling (TestGen task 1).

The reference claims "profiling of 51 data characteristics"
(reference README.md:207); the engine internals are not in-repo, but
the baseline parameters embedded in ``demo/input_data/data_tests.csv``
reveal what profiling must capture (row count, value/distinct counts,
min/max, mean, stddev, sum, fractional sum, max string length,
list-of-values, dominant pattern, date coverage ...). This module
computes 51 characteristics per column, typed by the column's class:

- 8 general:  dtype_class, record_ct, value_ct, null_ct, null_pct,
              distinct_ct, distinct_pct, duplicate_ct
- 17 string:  min_len, max_len, avg_len, blank_ct, lead_space_ct,
              embedded_space_ct, upper_case_ct, lower_case_ct,
              non_ascii_ct, numeric_str_ct, date_str_ct, email_ct,
              zip_ct, state_ct, pattern_distinct_ct, max_pattern,
              min_str/max_str (lexicographic bounds)
- 17 numeric: min_val, max_val, range, avg_val, stddev_val, sum_val,
              frac_sum, zero_ct, neg_ct, int_ct, p05, p25, p50, p75,
              p95, skewness_pop, kurtosis_pop
- 10 date:    min_date, max_date, span_days, distinct_date_ct,
              distinct_month_ct, distinct_week_ct, monthly_gap_ct,
              weekly_gap_ct, future_ct, weekend_ct

Each metric is carried as BOTH a Spark-SQL and a DuckDB-SQL aggregate
expression string; the Spark side is assembled with one ``F.expr`` per
metric and unpivoted with a single ``stack()``, so building a
270-metric plan costs a few hundred py4j calls, not tens of thousands
(measured: ~7 s of driver time down to <1 s — pure plan-construction
overhead that would otherwise be paid per profiled table regardless of
data size). Everything still compiles to ONE ``df.agg(...)`` per pass
— map-side partial aggregation, a single merged row, then the in-plan
unpivot to long form. Skew/kurtosis use explicit power-sum formulas so
the SQL oracle computes the identical quantity.

At 100 TB: ``exact=False`` swaps ``count(DISTINCT)`` for HLL
``approx_count_distinct`` and exact percentiles for
``approx_percentile`` — same plan shape, sketch-sized state.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.driver import local_frame
from ..functions.pin import pinned
from .dq.testtypes import EMAIL_RE, US_STATES, _sql_quote

# Share one persisted scan across profile chunks only when the input is
# big enough that re-scans dominate. Catalyst's sizeInBytes for file
# sources is summed COMPRESSED file bytes (metadata, no job), so the
# threshold is in parquet-file terms: measured crossover sits between
# ~11 MB (sf0.1 lineitem — persist costs ~1 s more than 3 lazy
# re-scans) and ~43 MB (4x replica — persist wins 22.5 s -> 10.6 s).
SHARE_SCAN_MIN_BYTES = 32 * 1024 * 1024


def _est_bytes(df: DataFrame) -> int:
    try:
        # py4j maps scala.math.BigInt straight to a Python int
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimation must never break profiling
        return 1 << 62  # unknown size: assume big (persist is the safe default)


NUMERIC_CLASSES = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}
DATE_CLASSES = {"timestamp", "date", "timestamp_ntz"}


@dataclass(frozen=True)
class Metric:
    name: str
    kind: str  # 'd' -> value (double), 's' -> value_str
    spark: str  # Spark-SQL aggregate expression
    sql: str  # DuckDB aggregate expression (oracle)


def _dtype_class(dtype: str) -> str:
    base = dtype.split("(")[0].lower()
    if base in NUMERIC_CLASSES:
        return "numeric"
    if base in DATE_CLASSES:
        return "date"
    if base == "string" or base == "varchar":
        return "string"
    return "other"


def _spark_quote(v: str) -> str:
    """Spark-SQL string literal: backslash IS an escape character in
    Spark's parser (unlike DuckDB's standard-SQL literals), so double
    it, then escape quotes."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _pattern_sql(c: str) -> str:
    return f"regexp_replace(regexp_replace({c}, '[A-Za-z]', 'A', 'g'), '[0-9]', '9', 'g')"


def _pattern_spark(c: str) -> str:
    return f"regexp_replace(regexp_replace({c}, '[A-Za-z]', 'A'), '[0-9]', '9')"


def _regex_ct(c: str, pattern: str) -> tuple[str, str]:
    spark = f"CAST(sum(CASE WHEN {c} RLIKE {_spark_quote(pattern)} THEN 1 ELSE 0 END) AS DOUBLE)"
    sql = f"CAST(sum(CASE WHEN regexp_matches({c}, {_sql_quote(pattern)}) THEN 1 ELSE 0 END) AS DOUBLE)"
    return spark, sql


def column_metrics(c: str, dtype: str, as_of: str, exact: bool = True) -> list[Metric]:
    """The 51-characteristic metric set applicable to one column."""
    cls = _dtype_class(dtype)
    m: list[Metric] = []

    def d(name: str, spark: str, sql: str | None = None) -> None:
        m.append(Metric(name, "d", spark, sql if sql is not None else spark))

    def s(name: str, spark: str, sql: str | None = None) -> None:
        m.append(Metric(name, "s", spark, sql if sql is not None else spark))

    distinct_sql = f"count(DISTINCT {c})"
    distinct_spark = distinct_sql if exact else f"approx_count_distinct({c})"

    # --- general ---
    s("dtype_class", f"max({_sql_quote(cls)})")
    d("record_ct", "CAST(count(*) AS DOUBLE)")
    d("value_ct", f"CAST(count({c}) AS DOUBLE)")
    d("null_ct", f"CAST(count(*) - count({c}) AS DOUBLE)")
    d("null_pct", f"round(100.0 * (count(*) - count({c})) / nullif(count(*), 0), 4)")
    d("distinct_ct", f"CAST({distinct_spark} AS DOUBLE)", f"CAST({distinct_sql} AS DOUBLE)")
    d("distinct_pct",
      f"round(100.0 * {distinct_spark} / nullif(count({c}), 0), 4)",
      f"round(100.0 * {distinct_sql} / nullif(count({c}), 0), 4)")
    d("duplicate_ct",
      f"CAST(count({c}) - {distinct_spark} AS DOUBLE)",
      f"CAST(count({c}) - {distinct_sql} AS DOUBLE)")

    if cls == "string":
        d("min_len", f"CAST(min(length({c})) AS DOUBLE)")
        d("max_len", f"CAST(max(length({c})) AS DOUBLE)")
        d("avg_len", f"round(avg(length({c})), 4)")
        d("blank_ct", f"CAST(sum(CASE WHEN trim({c}) = '' THEN 1 ELSE 0 END) AS DOUBLE)")
        d("lead_space_ct", f"CAST(sum(CASE WHEN {c} LIKE ' %' THEN 1 ELSE 0 END) AS DOUBLE)")
        d("embedded_space_ct",
          f"CAST(sum(CASE WHEN trim({c}) LIKE '% %' THEN 1 ELSE 0 END) AS DOUBLE)")
        d("upper_case_ct",
          f"CAST(sum(CASE WHEN {c} = upper({c}) AND {c} <> lower({c}) THEN 1 ELSE 0 END) AS DOUBLE)")
        d("lower_case_ct",
          f"CAST(sum(CASE WHEN {c} = lower({c}) AND {c} <> upper({c}) THEN 1 ELSE 0 END) AS DOUBLE)")
        sp, sq = _regex_ct(c, "[^\\x00-\\x7f]")
        d("non_ascii_ct", sp, sq)
        sp, sq = _regex_ct(c, "^[+-]?[0-9]+(\\.[0-9]+)?$")
        d("numeric_str_ct", sp, sq)
        sp, sq = _regex_ct(c, "^[0-9]{4}-[0-9]{2}-[0-9]{2}")
        d("date_str_ct", sp, sq)
        sp, sq = _regex_ct(c, EMAIL_RE)
        d("email_ct", sp, sq)
        sp, sq = _regex_ct(c, "^[0-9]{5}(-[0-9]{4})?$")
        d("zip_ct", sp, sq)
        states_sql = ", ".join(_sql_quote(v) for v in US_STATES)
        d("state_ct",
          f"CAST(sum(CASE WHEN upper({c}) IN ({states_sql}) THEN 1 ELSE 0 END) AS DOUBLE)")
        pat_distinct = f"count(DISTINCT {_pattern_spark(c)})" if exact \
            else f"approx_count_distinct({_pattern_spark(c)})"
        d("pattern_distinct_ct",
          f"CAST({pat_distinct} AS DOUBLE)",
          f"CAST(count(DISTINCT {_pattern_sql(c)}) AS DOUBLE)")
        s("max_pattern", f"max({_pattern_spark(c)})", f"max({_pattern_sql(c)})")
        s("min_str", f"min({c})")
        s("max_str", f"max({c})")

    elif cls == "numeric":
        d("min_val", f"round(CAST(min({c}) AS DOUBLE), 4)")
        d("max_val", f"round(CAST(max({c}) AS DOUBLE), 4)")
        d("range", f"round(CAST(max({c}) - min({c}) AS DOUBLE), 4)")
        d("avg_val", f"round(avg({c}), 4)")
        d("stddev_val", f"round(stddev_samp({c}), 4)")
        d("sum_val", f"round(CAST(sum({c}) AS DOUBLE), 2)")
        d("frac_sum", f"round(sum(abs(CAST({c} AS DOUBLE)) % 1.0), 3)")
        d("zero_ct", f"CAST(sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS DOUBLE)")
        d("neg_ct", f"CAST(sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS DOUBLE)")
        d("int_ct",
          f"CAST(sum(CASE WHEN CAST({c} AS DOUBLE) = floor(CAST({c} AS DOUBLE)) THEN 1 ELSE 0 END) AS DOUBLE)")
        # ONE percentile buffer per column: all five quantiles share a
        # textually-identical array-argument aggregate, which Catalyst
        # dedupes into a single (whole-column) buffer — five scalar
        # percentile() calls would each buffer the column separately.
        qs = [0.05, 0.25, 0.5, 0.75, 0.95]
        q_arr = "array(" + ", ".join(str(q) for q in qs) + ")"
        pct_fn = "percentile" if exact else "approx_percentile"
        for i, nm in enumerate(["p05", "p25", "p50", "p75", "p95"]):
            d(nm,
              f"round({pct_fn}(CAST({c} AS DOUBLE), {q_arr})[{i}], 4)",
              f"round(quantile_cont(CAST({c} AS DOUBLE), {qs[i]}), 4)")
        # population skew/kurtosis from power sums — identical formula on
        # both engines (Spark's skewness()/kurtosis() and DuckDB's builtins
        # use different sample corrections, so we spell it out).
        x = f"CAST({c} AS DOUBLE)"
        # the trailing `+ 0.0` normalizes IEEE negative zero: a tiny
        # negative third moment rounds to -0.0 in DuckDB but 0.0 in
        # Spark (seen on near-symmetric key columns at sf0.1), and the
        # hash gate stringifies them differently
        d("skewness_pop",
          f"round((avg({x}*{x}*{x}) - 3*avg({x})*avg({x}*{x}) + 2*power(avg({x}), 3))"
          f" / nullif(power(avg({x}*{x}) - power(avg({x}), 2), 1.5), 0), 4) + 0.0",
          f"round((avg({x}*{x}*{x}) - 3*avg({x})*avg({x}*{x}) + 2*avg({x})^3)"
          f" / nullif((avg({x}*{x}) - avg({x})^2)^1.5, 0), 4) + 0.0")
        d("kurtosis_pop",
          f"round((avg({x}*{x}*{x}*{x}) - 4*avg({x})*avg({x}*{x}*{x})"
          f" + 6*power(avg({x}), 2)*avg({x}*{x}) - 3*power(avg({x}), 4))"
          f" / nullif(power(avg({x}*{x}) - power(avg({x}), 2), 2), 0) - 3.0, 4) + 0.0",
          f"round((avg({x}*{x}*{x}*{x}) - 4*avg({x})*avg({x}*{x}*{x})"
          f" + 6*avg({x})^2*avg({x}*{x}) - 3*avg({x})^4)"
          f" / nullif((avg({x}*{x}) - avg({x})^2)^2, 0) - 3.0, 4) + 0.0")

    elif cls == "date":
        dq = f"CAST({c} AS DATE)"
        s("min_date", f"CAST(min({dq}) AS STRING)", f"CAST(min({dq}) AS VARCHAR)")
        s("max_date", f"CAST(max({dq}) AS STRING)", f"CAST(max({dq}) AS VARCHAR)")
        d("span_days",
          f"CAST(datediff(max({dq}), min({dq})) AS DOUBLE)",
          f"CAST(datediff('day', min({dq}), max({dq})) AS DOUBLE)")
        d("distinct_date_ct", f"CAST(count(DISTINCT {dq}) AS DOUBLE)")
        ym = f"(year({dq}) * 12 + month({dq}))"
        d("distinct_month_ct", f"CAST(count(DISTINCT {ym}) AS DOUBLE)")
        wk_spark = f"CAST(floor(datediff({dq}, DATE '1970-01-05') / 7) AS BIGINT)"
        wk_sql = f"CAST(floor(datediff('day', DATE '1970-01-05', {dq}) / 7) AS BIGINT)"
        d("distinct_week_ct",
          f"CAST(count(DISTINCT {wk_spark}) AS DOUBLE)",
          f"CAST(count(DISTINCT {wk_sql}) AS DOUBLE)")
        d("monthly_gap_ct",
          f"CAST(max({ym}) - min({ym}) + 1 - count(DISTINCT {ym}) AS DOUBLE)")
        d("weekly_gap_ct",
          f"CAST(max({wk_spark}) - min({wk_spark}) + 1 - count(DISTINCT {wk_spark}) AS DOUBLE)",
          f"CAST(max({wk_sql}) - min({wk_sql}) + 1 - count(DISTINCT {wk_sql}) AS DOUBLE)")
        d("future_ct",
          f"CAST(sum(CASE WHEN {dq} > DATE '{as_of}' THEN 1 ELSE 0 END) AS DOUBLE)")
        # weekday(): 0=Monday in Spark; isodow: 1=Monday in DuckDB
        d("weekend_ct",
          f"CAST(sum(CASE WHEN weekday({dq}) >= 5 THEN 1 ELSE 0 END) AS DOUBLE)",
          f"CAST(sum(CASE WHEN date_part('isodow', {dq}) >= 6 THEN 1 ELSE 0 END) AS DOUBLE)")

    return m


PROFILE_COLUMNS = ["table_name", "column_name", "metric", "value", "value_str"]

# Explicit schema for the driver-assembled (LocalRelation) profile
# result — must match what the stack()-based lazy plan produces.
from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    StringType,
    StructField,
    StructType,
)

_PROFILE_RESULT_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), True),
        StructField("column_name", StringType(), True),
        StructField("metric", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("value_str", StringType(), True),
    ]
)


def profile(
    df: DataFrame,
    table_name: str,
    as_of: str,
    columns: list[str] | None = None,
    exact: bool = True,
    max_exprs_per_pass: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Long-form profile: one row per (column, metric).

    ``materialize=True`` (default) computes a multi-chunk profile
    EAGERLY over a transient shared cache of the pruned input and
    returns the checkpointed metric-sized result — one input scan
    total, nothing cached afterwards. ``materialize=False`` returns
    the fully lazy multi-branch plan (each chunk re-scans the source);
    use it to inspect/compose plans or when the caller manages its own
    persistence.

    Chunking: with ``exact=True`` each pass is capped at ~60 aggregate
    expressions (≈2 columns). Multiple exact-DISTINCT aggregates in one
    pass make Catalyst plan an Expand — input rows are replicated once
    per distinct-expression group — and exact percentiles buffer the
    whole column per pass; measured at sf0.1 this is an 8× cliff
    (225s → 29s once chunked). HLL/approx mode (``exact=False``) has no
    Expand but still caps at 80 exprs/pass: past ~100 aggregate
    expressions the generated code exceeds codegen method limits and
    the stage runs interpreted — a ~3× per-row penalty that no amount
    of cluster amortizes, while an extra pass only costs a re-read.
    Deployments where the SCAN dominates (very wide cold tables) can
    raise ``max_exprs_per_pass`` to trade CPU for I/O."""
    explicit_cap = max_exprs_per_pass is not None
    if max_exprs_per_pass is None:
        # 80-expr passes beat one wide pass in BOTH modes: beyond ~100
        # aggregate expressions the generated class exceeds codegen
        # method limits and the whole stage falls back to interpreted
        # row processing — a ~3x PER-ROW cost (measured at sf0.1: the
        # 270-expr approx pass runs 25 s vs 8 s as family-sized passes),
        # which a bigger cluster does NOT amortize. Extra passes cost
        # one cached-input re-read each, which does.
        max_exprs_per_pass = 60 if exact else 80
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    plan: list[tuple[str, Metric]] = []
    for c in cols:
        for met in column_metrics(c, dtypes[c], as_of, exact):
            plan.append((c, met))

    # Keep DISTINCT-bearing aggregates in their OWN passes: a pass that
    # mixes count(DISTINCT ...) with buffering aggregates (percentile)
    # makes Catalyst's Expand replicate every input row once per
    # distinct group, and every OTHER aggregate in the pass then churns
    # through the replicated null-padded rows too — measured 24 s for a
    # mixed 60-expr pass vs 2.6 s + 4.4 s when segregated (sf0.1
    # lineitem key columns). Per-column metric contiguity is preserved
    # inside each half, so shared percentile buffers still dedup.
    if exact:
        # distinct half keeps the tight cap (Expand cost scales with
        # distinct-column groups per pass); the Expand-free half runs
        # wide like approx mode — fewer stage round-trips
        # 80/pass for the Expand-free half: whole-stage codegen compile
        # time grows superlinearly with expression count (measured at
        # sf0.1: 230 exprs in one pass 12.6 s of which ~8 s is the
        # one-time compile; 3 passes of 80 total 5.4 s). On a real
        # cluster where the scan dominates, raise max_exprs_per_pass —
        # the compile cost amortizes and fewer passes win.
        # widen the Expand-free half to 80 only when the caller took the
        # DEFAULT — an explicit cap (set low to bound codegen size or
        # executor memory) must be honored in both directions
        wide_cap = max_exprs_per_pass if explicit_cap else max(max_exprs_per_pass, 80)
        halves = [
            ([p for p in plan if "DISTINCT" in p[1].spark.upper()], max_exprs_per_pass),
            ([p for p in plan if "DISTINCT" not in p[1].spark.upper()], wide_cap),
        ]
    else:
        halves = [(plan, max_exprs_per_pass)]  # no Expand; one wide pass

    chunks: list[list[tuple[str, Metric]]] = []
    for half, cap in halves:
        for start in range(0, len(half), cap):
            chunks.append(half[start : start + cap])

    # >1 chunk means >1 aggregation branch over the same input inside
    # the one union job -- without a persist each branch re-scans the
    # source (SCALE_BENCH r4: the approx curve hit 4.77x at 8x data,
    # the steepest in the suite, precisely because the fixed 4-scan
    # cost stopped amortizing). The persist is TRANSIENT: fill the
    # cache eagerly at full parallelism (left lazy, the union's
    # branches race on cache-block locks -- measured up to 2x
    # run-to-run variance at 8x), run the chunks against it,
    # checkpoint the metric-sized result, and unpersist before
    # returning. A LINGERING whole-table cache entry would be worse
    # than the re-scans it saves: Spark's cache manager substitutes it
    # into every later plan over the same source, silently replacing
    # parquet pushdown/pruning for unrelated queries (caught by
    # test_plans.py when an earlier version let the entry outlive the
    # call).
    # The caller may hand us an ALREADY-persisted input (cached_profile
    # pins the table before profiling it); persisting a pruned copy
    # would hold a second copy of the whole table for zero benefit.
    transient_src = (
        materialize
        and df.storageLevel == StorageLevel.NONE
        and len(chunks) > 1
        and _est_bytes(df) >= SHARE_SCAN_MIN_BYTES
    )
    src = df.select(*cols) if transient_src else df

    def chunk_agg(batch: list[tuple[str, Metric]]) -> DataFrame:
        aggs = []
        for i, (_, met) in enumerate(batch):
            cast_to = "DOUBLE" if met.kind == "d" else "STRING"
            aggs.append(F.expr(f"CAST(({met.spark}) AS {cast_to}) AS m{i}"))
        return src.agg(*aggs)

    if materialize:
        # Materialized path over a persisted input: the result is
        # metric-sized (one value per (column, metric) — a few hundred
        # rows for the widest table), so assemble it DRIVER-SIDE
        # instead of planning stack()+union+localCheckpoint. Each chunk
        # is one single-row aggregate job; running them from a small
        # thread pool lets the next chunk's tasks back-fill the tail of
        # the previous one (guide §2.6), and the per-chunk collect is
        # one row of <=80 scalars. This removed ~2x of the measured
        # profile wall time at sf0.1 (union+localCheckpoint executed in
        # 6-9 s what the chunk aggregates compute in ~2.5 s) and leaves
        # NO lingering executor state (no checkpoint RDD, no cache
        # entry) — the returned frame is a LocalRelation.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        sc = df.sparkSession.sparkContext

        def run_chunk(ib: tuple[int, list[tuple[str, Metric]]]):
            i, batch = ib
            sc.setJobDescription(f"profile {table_name}: chunk {i}")
            try:
                return chunk_agg(batch).collect()[0]
            finally:
                sc.setJobDescription(None)

        # LPT scheduling: submit the expensive chunks FIRST so the
        # pool's makespan is not "cheap chunks, then the percentile
        # chunk alone at the tail" — exact percentiles buffer the whole
        # column and dominate chunk cost, DISTINCTs come second. The
        # result order is re-assembled by index, so values/rows are
        # untouched.
        def chunk_cost(batch: list[tuple[str, Metric]]) -> int:
            cost = 0
            for _, met in batch:
                up = met.spark.upper()
                cost += 5 if "PERCENTILE" in up else (2 if "DISTINCT" in up else 1)
            return cost

        order = sorted(range(len(chunks)), key=lambda i: -chunk_cost(chunks[i]))
        # each chunk job carries the caller's local properties (job
        # group, scheduler pool) and job tags: wrapped per chunk, so
        # every worker gets its own copy and the per-chunk descriptions
        # never race
        with (
            pinned(src, eager=True) if transient_src else nullcontext(),
            ThreadPoolExecutor(max_workers=min(3, len(chunks))) as pool,
        ):
            futs = [
                pool.submit(
                    inheritable_thread_target(df.sparkSession)(run_chunk), (i, chunks[i])
                )
                for i in order
            ]
            res = [f.result() for f in futs]
        chunk_rows: list = [None] * len(chunks)
        for i, row in zip(order, res):
            chunk_rows[i] = row
        data: list[tuple] = []
        for batch, row in zip(chunks, chunk_rows):
            for i, (c, met) in enumerate(batch):
                v = row[f"m{i}"]
                data.append(
                    (table_name, c, met.name, v if met.kind == "d" else None,
                     v if met.kind == "s" else None)
                )
        return local_frame(df.sparkSession, data, _PROFILE_RESULT_SCHEMA)

    parts: list[DataFrame] = []
    for batch in chunks:
        row = chunk_agg(batch)
        entries = []
        for i, (c, met) in enumerate(batch):
            v = f"m{i}" if met.kind == "d" else "CAST(NULL AS DOUBLE)"
            vs = f"m{i}" if met.kind == "s" else "CAST(NULL AS STRING)"
            entries.append(f"{_spark_quote(c)}, {_spark_quote(met.name)}, {v}, {vs}")
        stack = (
            f"stack({len(batch)}, {', '.join(entries)}) AS (column_name, metric, value, value_str)"
        )
        parts.append(
            row.selectExpr(stack).select(
                F.lit(table_name).alias("table_name"),
                "column_name",
                "metric",
                "value",
                "value_str",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_sql(
    table_sql: str,
    table_name: str,
    schema: list[tuple[str, str]],
    as_of: str,
    columns: list[str] | None = None,
) -> str:
    """DuckDB oracle SQL computing the identical long-form profile."""
    want = set(columns) if columns else None
    plan: list[tuple[str, Metric]] = []
    for c, dtype in schema:
        if want is not None and c not in want:
            continue
        for met in column_metrics(c, dtype, as_of, exact=True):
            plan.append((c, met))
    measures = ", ".join(f"({met.sql}) AS m{i}" for i, (_, met) in enumerate(plan))
    selects = []
    for i, (c, met) in enumerate(plan):
        if met.kind == "d":
            val, vstr = f"CAST(m{i} AS DOUBLE)", "CAST(NULL AS VARCHAR)"
        else:
            val, vstr = "CAST(NULL AS DOUBLE)", f"CAST(m{i} AS VARCHAR)"
        selects.append(
            f"SELECT '{table_name}' AS table_name, '{c}' AS column_name, "
            f"'{met.name}' AS metric, {val} AS value, {vstr} AS value_str FROM m"
        )
    return f"WITH m AS MATERIALIZED (SELECT {measures} FROM {table_sql}) " + " UNION ALL ".join(selects)


def profile_wide(profile_long: DataFrame) -> DataFrame:
    """Pivot the long profile to one row per column (for hygiene screens
    and test generation; the metric set is bounded so the pivot is a
    fixed-width metadata table). String-valued metrics (min_date,
    max_pattern, ...) surface as strings; numeric ones as their string
    repr — consumers cast as needed."""
    metrics = sorted(r.metric for r in profile_long.select("metric").distinct().collect())
    return (
        profile_long.groupBy("table_name", "column_name")
        .pivot("metric", metrics)
        .agg(F.first(F.coalesce(F.col("value").cast("string"), F.col("value_str"))))
    )


# ---------------------------------------------------------------------------
# Incremental profiling: partial mergeable state -> merge -> finalize.
#
# At 100 TB you never re-profile the whole table; you profile each
# arriving partition (day/file-batch) ONCE into a tiny mergeable state
# row-set, fold states associatively, and finalize metrics at read
# time — the same partial/merge/final contract Spark's own aggregates
# use, lifted to the profile level. Covered metrics are the ones with
# exact algebraic merges: counts, sums, min/max, power sums (mean /
# stddev / skew / kurtosis), length stats, date bounds. Distinct
# counts, percentiles, LOV and pattern induction are EXCLUDED by
# design — their mergeable forms are sketches (HLL / KLL / frequent
# items), which `profile(exact=False)` approximates in one shot; a
# sketch-state variant would slot into the same 3-function contract.
# ---------------------------------------------------------------------------

# stat-name prefix encodes the merge operator
_MERGE_SUM, _MERGE_MIN, _MERGE_MAX = "s_", "mn_", "mx_"

PARTIAL_COLUMNS = ["table_name", "column_name", "stat", "value_d", "value_s"]


def _partial_stats(c: str, dtype: str) -> list[tuple[str, str, str]]:
    """(stat, kind 'd'|'s', spark agg expr) per column; stat prefix
    declares how two states merge."""
    cls = _dtype_class(dtype)
    stats: list[tuple[str, str, str]] = [
        ("s_n", "d", "CAST(count(*) AS DOUBLE)"),
        ("s_nv", "d", f"CAST(count({c}) AS DOUBLE)"),
    ]
    if cls == "numeric":
        x = f"CAST({c} AS DOUBLE)"
        stats += [
            ("s_sum1", "d", f"sum({x})"),
            ("s_sum2", "d", f"sum({x}*{x})"),
            ("s_sum3", "d", f"sum({x}*{x}*{x})"),
            ("s_sum4", "d", f"sum({x}*{x}*{x}*{x})"),
            ("s_frac", "d", f"sum(abs({x}) % 1.0)"),
            ("s_zero", "d", f"CAST(sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS DOUBLE)"),
            ("s_neg", "d", f"CAST(sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS DOUBLE)"),
            ("s_int", "d",
             f"CAST(sum(CASE WHEN {x} = floor({x}) THEN 1 ELSE 0 END) AS DOUBLE)"),
            ("mn_min", "d", f"CAST(min({c}) AS DOUBLE)"),
            ("mx_max", "d", f"CAST(max({c}) AS DOUBLE)"),
        ]
    elif cls == "string":
        stats += [
            ("mn_minlen", "d", f"CAST(min(length({c})) AS DOUBLE)"),
            ("mx_maxlen", "d", f"CAST(max(length({c})) AS DOUBLE)"),
            ("s_sumlen", "d", f"CAST(sum(length({c})) AS DOUBLE)"),
            ("s_blank", "d", f"CAST(sum(CASE WHEN trim({c}) = '' THEN 1 ELSE 0 END) AS DOUBLE)"),
            ("mn_minstr", "s", f"min({c})"),
            ("mx_maxstr", "s", f"max({c})"),
        ]
    elif cls == "date":
        dq = f"CAST({c} AS DATE)"
        stats += [
            ("mn_mindate", "s", f"CAST(min({dq}) AS STRING)"),
            ("mx_maxdate", "s", f"CAST(max({dq}) AS STRING)"),
        ]
    return stats


def profile_partial(df: DataFrame, table_name: str, columns: list[str] | None = None) -> DataFrame:
    """ONE aggregation pass -> long mergeable state
    (table, column, stat, value_d, value_s). State size is
    O(columns x ~12 stats) regardless of row count."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    plan: list[tuple[str, str, str, str]] = []
    for c in cols:
        for stat, kind, expr in _partial_stats(c, dtypes[c]):
            plan.append((c, stat, kind, expr))
    aggs = [
        F.expr(f"CAST(({expr}) AS {'DOUBLE' if kind == 'd' else 'STRING'}) AS m{i}")
        for i, (_, _, kind, expr) in enumerate(plan)
    ]
    row = df.agg(*aggs)
    entries = []
    for i, (c, stat, kind, _) in enumerate(plan):
        v = f"m{i}" if kind == "d" else "CAST(NULL AS DOUBLE)"
        vs = f"m{i}" if kind == "s" else "CAST(NULL AS STRING)"
        entries.append(f"{_spark_quote(c)}, {_spark_quote(stat)}, {v}, {vs}")
    stack = f"stack({len(plan)}, {', '.join(entries)}) AS (column_name, stat, value_d, value_s)"
    return row.selectExpr(stack).select(
        F.lit(table_name).alias("table_name"), "column_name", "stat", "value_d", "value_s"
    )


def merge_partials(*partials: DataFrame) -> DataFrame:
    """Associatively fold any number of partial states (e.g. one per
    day-partition). Merge op comes from the stat prefix; the fold is a
    single metadata-sized groupBy."""
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    is_sum = F.col("stat").startswith(_MERGE_SUM)
    is_min = F.col("stat").startswith(_MERGE_MIN)
    return u.groupBy("table_name", "column_name", "stat").agg(
        F.when(is_sum, F.sum("value_d"))
        .when(is_min, F.min("value_d"))
        .otherwise(F.max("value_d"))
        .alias("value_d"),
        F.when(is_min, F.min("value_s")).otherwise(F.max("value_s")).alias("value_s"),
    )


def finalize_profile(partial: DataFrame, as_of: str) -> DataFrame:
    """Partial state -> profile metrics (same long-form schema as
    ``profile()`` for the covered subset). Moments come from power
    sums — the exact merge-safe formulation; the finalize itself is a
    metadata-sized pivot + projection."""
    wide = (
        partial.groupBy("table_name", "column_name")
        .pivot("stat")
        .agg(F.first(F.coalesce(F.col("value_d").cast("string"), F.col("value_s"))))
    )
    have = set(wide.columns)

    def col_d(name: str):
        return F.col(name).cast("double") if name in have else F.lit(None).cast("double")

    n, nv = col_d("s_n"), col_d("s_nv")
    s1, s2, s3, s4 = col_d("s_sum1"), col_d("s_sum2"), col_d("s_sum3"), col_d("s_sum4")
    mean = s1 / F.when(nv != 0, nv)
    ex2, ex3, ex4 = (s / F.when(nv != 0, nv) for s in (s2, s3, s4))
    var_pop = ex2 - mean * mean
    var_samp = (s2 - s1 * s1 / F.when(nv != 0, nv)) / F.when(nv > 1, nv - 1)
    # float cancellation can drive a true-zero variance epsilon-negative;
    # clamp (NULL stays NULL) so sqrt never yields NaN
    var_samp = F.when(var_samp > 0, var_samp).otherwise(
        F.when(var_samp.isNotNull(), F.lit(0.0))
    )
    skew = (ex3 - 3 * mean * ex2 + 2 * F.pow(mean, 3)) / F.when(
        F.pow(var_pop, 1.5) != 0, F.pow(var_pop, 1.5)
    )
    kurt = (
        ex4 - 4 * mean * ex3 + 6 * F.pow(mean, 2) * ex2 - 3 * F.pow(mean, 4)
    ) / F.when(F.pow(var_pop, 2) != 0, F.pow(var_pop, 2)) - 3.0

    metrics: list[tuple[str, object, object]] = [
        ("record_ct", n, None),
        ("value_ct", nv, None),
        ("null_ct", n - nv, None),
        ("null_pct", F.round(100.0 * (n - nv) / F.when(n != 0, n), 4), None),
        ("min_val", F.round(col_d("mn_min"), 4), None),
        ("max_val", F.round(col_d("mx_max"), 4), None),
        ("range", F.round(col_d("mx_max") - col_d("mn_min"), 4), None),
        ("avg_val", F.round(mean, 4), None),
        ("stddev_val", F.round(F.sqrt(var_samp), 4), None),
        ("sum_val", F.round(s1, 2), None),
        ("frac_sum", F.round(col_d("s_frac"), 3), None),
        ("zero_ct", col_d("s_zero"), None),
        ("neg_ct", col_d("s_neg"), None),
        ("int_ct", col_d("s_int"), None),
        # + 0.0 normalizes -0.0 (see column_metrics)
        ("skewness_pop", F.round(skew, 4) + F.lit(0.0), None),
        ("kurtosis_pop", F.round(kurt, 4) + F.lit(0.0), None),
        ("min_len", col_d("mn_minlen"), None),
        ("max_len", col_d("mx_maxlen"), None),
        ("avg_len", F.round(col_d("s_sumlen") / F.when(nv != 0, nv), 4), None),
        ("blank_ct", col_d("s_blank"), None),
        ("min_str", None, "mn_minstr"),
        ("max_str", None, "mx_maxstr"),
        ("min_date", None, "mn_mindate"),
        ("max_date", None, "mx_maxdate"),
        (
            "span_days",
            F.when(
                F.lit("mn_mindate" in have),
                F.datediff(
                    (F.col("mx_maxdate") if "mx_maxdate" in have else F.lit(None)).cast("date"),
                    (F.col("mn_mindate") if "mn_mindate" in have else F.lit(None)).cast("date"),
                ).cast("double"),
            ),
            None,
        ),
    ]
    entries = []
    for name, vd, vs in metrics:
        entries.append(
            F.struct(
                F.lit(name).alias("metric"),
                (vd if vd is not None else F.lit(None).cast("double")).alias("value"),
                (
                    (F.col(vs) if vs in have else F.lit(None).cast("string"))
                    if vs is not None
                    else F.lit(None).cast("string")
                ).alias("value_str"),
            )
        )
    exploded = wide.select(
        "table_name", "column_name", F.explode(F.array(*entries)).alias("m")
    ).select(
        "table_name",
        "column_name",
        F.col("m.metric").alias("metric"),
        F.col("m.value").alias("value"),
        F.col("m.value_str").alias("value_str"),
    )
    # drop metric rows that don't apply to the column's type (their
    # state stats are absent -> both values NULL)
    return exploded.filter(
        F.col("value").isNotNull()
        | F.col("value_str").isNotNull()
        | F.col("metric").isin("record_ct", "value_ct", "null_ct")
    )


def finalize_profile_sql(table: str, schema: list[tuple[str, str]], as_of: str) -> str:
    """DuckDB twin of partial->merge->finalize over the FULL table:
    merging per-partition states then finalizing must equal computing
    the same power-sum formulas in one pass (associativity of the
    state), so the oracle needs no partition plumbing."""
    selects: list[str] = []
    for c, dtype in schema:
        cls = _dtype_class(dtype)
        n, nv = "CAST(count(*) AS DOUBLE)", f"CAST(count({c}) AS DOUBLE)"
        rows: list[tuple[str, str, str]] = [
            ("record_ct", n, "NULL"),
            ("value_ct", nv, "NULL"),
            ("null_ct", f"{n} - {nv}", "NULL"),
            ("null_pct", f"round(100.0 * ({n} - {nv}) / nullif({n}, 0), 4)", "NULL"),
        ]
        if cls == "numeric":
            x = f"CAST({c} AS DOUBLE)"
            s1, s2 = f"sum({x})", f"sum({x}*{x})"
            s3, s4 = f"sum({x}*{x}*{x})", f"sum({x}*{x}*{x}*{x})"
            mean = f"({s1} / nullif({nv}, 0))"
            ex2, ex3, ex4 = (f"({s} / nullif({nv}, 0))" for s in (s2, s3, s4))
            var_pop = f"({ex2} - {mean}*{mean})"
            var_samp_raw = f"(({s2} - {s1}*{s1} / nullif({nv}, 0)) / (CASE WHEN {nv} > 1 THEN {nv} - 1 END))"
            var_samp = f"(CASE WHEN {var_samp_raw} > 0 THEN {var_samp_raw} WHEN {var_samp_raw} IS NOT NULL THEN 0.0 END)"
            skew = (
                f"(({ex3} - 3*{mean}*{ex2} + 2*{mean}^3) / nullif({var_pop}^1.5, 0))"
            )
            kurt = (
                f"(({ex4} - 4*{mean}*{ex3} + 6*{mean}^2*{ex2} - 3*{mean}^4)"
                f" / nullif({var_pop}^2, 0) - 3.0)"
            )
            rows += [
                ("min_val", f"round(CAST(min({c}) AS DOUBLE), 4)", "NULL"),
                ("max_val", f"round(CAST(max({c}) AS DOUBLE), 4)", "NULL"),
                ("range", f"round(CAST(max({c}) AS DOUBLE) - CAST(min({c}) AS DOUBLE), 4)", "NULL"),
                ("avg_val", f"round({mean}, 4)", "NULL"),
                ("stddev_val", f"round(sqrt({var_samp}), 4)", "NULL"),
                ("sum_val", f"round({s1}, 2)", "NULL"),
                ("frac_sum", f"round(sum(abs({x}) % 1.0), 3)", "NULL"),
                ("zero_ct", f"CAST(sum(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS DOUBLE)", "NULL"),
                ("neg_ct", f"CAST(sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS DOUBLE)", "NULL"),
                ("int_ct", f"CAST(sum(CASE WHEN {x} = floor({x}) THEN 1 ELSE 0 END) AS DOUBLE)", "NULL"),
                ("skewness_pop", f"round({skew}, 4) + 0.0", "NULL"),
                ("kurtosis_pop", f"round({kurt}, 4) + 0.0", "NULL"),
            ]
        elif cls == "string":
            rows += [
                ("min_len", f"CAST(min(length({c})) AS DOUBLE)", "NULL"),
                ("max_len", f"CAST(max(length({c})) AS DOUBLE)", "NULL"),
                ("avg_len", f"round(CAST(sum(length({c})) AS DOUBLE) / nullif({nv}, 0), 4)", "NULL"),
                ("blank_ct", f"CAST(sum(CASE WHEN trim({c}) = '' THEN 1 ELSE 0 END) AS DOUBLE)", "NULL"),
                ("min_str", "NULL", f"min({c})"),
                ("max_str", "NULL", f"max({c})"),
            ]
        elif cls == "date":
            dq = f"CAST({c} AS DATE)"
            rows += [
                ("min_date", "NULL", f"CAST(min({dq}) AS VARCHAR)"),
                ("max_date", "NULL", f"CAST(max({dq}) AS VARCHAR)"),
                ("span_days", f"CAST(datediff('day', min({dq}), max({dq})) AS DOUBLE)", "NULL"),
            ]
        for metric, vd, vs in rows:
            selects.append(
                f"SELECT '{table}' AS table_name, '{c}' AS column_name, "
                f"'{metric}' AS metric, CAST({vd} AS DOUBLE) AS value, "
                f"CAST({vs} AS VARCHAR) AS value_str FROM {table}"
            )
    union = " UNION ALL ".join(selects)
    return (
        f"SELECT * FROM ({union}) WHERE value IS NOT NULL OR value_str IS NOT NULL "
        f"OR metric IN ('record_ct', 'value_ct', 'null_ct')"
    )


# ---------------------------------------------------------------------------
# Distribution extras: equi-width histogram + pairwise correlations.
# Profiling's "51 characteristics" summarize each column alone; these
# two answer the next questions a reviewer asks — what does the
# distribution LOOK like, and which columns move together.
# ---------------------------------------------------------------------------


def histogram(df: DataFrame, col: str, bins: int = 32) -> DataFrame:
    """Equi-width histogram: (bucket, lo_edge, ct), empty buckets
    omitted. Two aggregate passes (bounds, then bucketed counts — the
    same shape as the KS screen); the bounds row rides a broadcast
    scalar join, so no driver round-trip and no unpartitioned window.
    Bucket edges use one shared IEEE formula so the DuckDB twin lands
    on identical doubles."""
    bounds = df.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
    )
    with_b = df.filter(F.col(col).isNotNull()).crossJoin(F.broadcast(bounds))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.floor((F.col(col).cast("double") - F.col("lo")) / width).cast("int"),
        )
    )
    return (
        with_b.select(
            bucket.alias("bucket"),
            # floor(x*1e4+0.5), not round(x,4): the edge is a computed
            # double, and round() differs cross-engine at half-ulp
            # boundaries (seen at sf0.001: 98492.9463 vs .9462)
            (
                F.floor((F.col("lo") + bucket.cast("double") * width) * 10000 + F.lit(0.5))
                / 10000
            ).alias("lo_edge"),
        )
        .groupBy("bucket", "lo_edge")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy("bucket")
    )


def histogram_sql(table: str, col: str, bins: int = 32) -> str:
    """DuckDB twin of :func:`histogram` (same edge formula, same
    clamping)."""
    return f"""
    WITH bounds AS (
      SELECT min(CAST({col} AS DOUBLE)) AS lo, max(CAST({col} AS DOUBLE)) AS hi
      FROM {table}),
    b AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE least({bins - 1},
                             CAST(floor((CAST({col} AS DOUBLE) - lo)
                                        / ((hi - lo) / {bins}.0)) AS INT))
             END AS bucket,
             lo, hi
      FROM {table} CROSS JOIN bounds
      WHERE {col} IS NOT NULL)
    SELECT bucket,
           floor((lo + CAST(bucket AS DOUBLE) * ((hi - lo) / {bins}.0)) * 10000 + 0.5)
             / 10000 AS lo_edge,
           count(*) AS ct
    FROM b GROUP BY bucket, lo, hi ORDER BY bucket
    """


def correlations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations for ``cols`` in ONE aggregate pass
    (all C(n,2) ``corr`` states accumulate map-side in the same
    partial), unpivoted to (col_a, col_b, corr) rows. The multi-column
    follow-up to the per-column profile: which measures move together."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    row = df.agg(
        *[
            F.round(F.corr(F.col(a).cast("double"), F.col(b).cast("double")), 4).alias(
                f"c{i}"
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    entries = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
    )
    return row.selectExpr(
        f"stack({len(pairs)}, {entries}) AS (col_a, col_b, corr)"
    ).orderBy("col_a", "col_b")


def correlations_sql(table: str, cols: list[str]) -> str:
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    selects = [
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(corr(CAST({a} AS DOUBLE), CAST({b} AS DOUBLE)), 4) AS corr "
        f"FROM {table}"
        for a, b in pairs
    ]
    return " UNION ALL ".join(selects) + " ORDER BY col_a, col_b"


def profile_delta(
    old: DataFrame, new: DataFrame, rel_tol_bp: int = 1000
) -> DataFrame:
    """Run-over-run profile drift report: join two long-form profiles
    on (column, metric) and flag the characteristics that moved — the
    'compare this refresh's profile against the baselined one' step of
    continuous periodic monitoring (reference README.md:10, task 5),
    turning the 51-characteristic profile into an anomaly screen.

    Numeric metrics report the relative change in basis points via the
    bit-stable floor(x*1e4 + 0.5) idiom — both profile engines agree on
    the joined values (the profile itself is oracle-verified), so the
    delta is bit-identical too. A zero baseline with a nonzero new
    value reports NULL rel change (undefined) but still flags. String
    metrics flag on inequality. Metrics present on one side only
    (schema change) report status ADDED/REMOVED and always flag.

    Cost: the two profile scans are the caller's (one each, cacheable);
    the diff itself joins two metric-sized frames."""
    o = old.select(
        "column_name",
        "metric",
        F.col("value").alias("v_old"),
        F.col("value_str").alias("s_old"),
        F.lit(1).alias("_po"),
    )
    n = new.select(
        "column_name",
        "metric",
        F.col("value").alias("v_new"),
        F.col("value_str").alias("s_new"),
        F.lit(1).alias("_pn"),
    )
    j = o.join(n, ["column_name", "metric"], "full_outer")
    return j.selectExpr(
        "column_name",
        "metric",
        "CASE WHEN _po IS NULL THEN 'ADDED' WHEN _pn IS NULL THEN 'REMOVED'"
        " ELSE 'BOTH' END AS status",
        "v_old",
        "v_new",
        "CASE WHEN v_old IS NOT NULL AND v_new IS NOT NULL AND v_old <> 0 THEN"
        " CAST(floor((v_new - v_old) / abs(v_old) * 10000 + 0.5) AS BIGINT)"
        " WHEN v_old = 0 AND v_new = 0 THEN CAST(0 AS BIGINT) END AS rel_change_bp",
        "s_old",
        "s_new",
        f"""CASE WHEN _po IS NULL OR _pn IS NULL THEN TRUE
             WHEN v_old IS NOT NULL OR v_new IS NOT NULL THEN
               CASE WHEN v_old IS NULL OR v_new IS NULL THEN (v_old IS DISTINCT FROM v_new)
                    WHEN v_old = 0 THEN v_new <> 0
                    ELSE abs(CAST(floor((v_new - v_old) / abs(v_old) * 10000 + 0.5)
                             AS BIGINT)) > {int(rel_tol_bp)} END
             ELSE s_old IS DISTINCT FROM s_new END AS flagged""",
    ).orderBy("column_name", "metric")


def profile_delta_sql(old_sql: str, new_sql: str, rel_tol_bp: int = 1000) -> str:
    """DuckDB twin of :func:`profile_delta`; ``old_sql``/``new_sql``
    are full profile statements (e.g. :func:`profile_sql` outputs)."""
    return f"""
    WITH o AS MATERIALIZED (
      SELECT column_name, metric, value AS v_old, value_str AS s_old, 1 AS _po
      FROM ({old_sql})),
    n AS MATERIALIZED (
      SELECT column_name, metric, value AS v_new, value_str AS s_new, 1 AS _pn
      FROM ({new_sql}))
    SELECT coalesce(o.column_name, n.column_name) AS column_name,
           coalesce(o.metric, n.metric) AS metric,
           CASE WHEN _po IS NULL THEN 'ADDED' WHEN _pn IS NULL THEN 'REMOVED'
                ELSE 'BOTH' END AS status,
           v_old, v_new,
           CASE WHEN v_old IS NOT NULL AND v_new IS NOT NULL AND v_old <> 0 THEN
             CAST(floor((v_new - v_old) / abs(v_old) * 10000 + 0.5) AS BIGINT)
           WHEN v_old = 0 AND v_new = 0 THEN CAST(0 AS BIGINT) END AS rel_change_bp,
           s_old, s_new,
           CASE WHEN _po IS NULL OR _pn IS NULL THEN TRUE
                WHEN v_old IS NOT NULL OR v_new IS NOT NULL THEN
                  CASE WHEN v_old IS NULL OR v_new IS NULL THEN (v_old IS DISTINCT FROM v_new)
                       WHEN v_old = 0 THEN v_new <> 0
                       ELSE abs(CAST(floor((v_new - v_old) / abs(v_old) * 10000 + 0.5)
                                AS BIGINT)) > {int(rel_tol_bp)} END
                ELSE s_old IS DISTINCT FROM s_new END AS flagged
    FROM o FULL OUTER JOIN n
      ON o.column_name = n.column_name AND o.metric = n.metric
    ORDER BY column_name, metric
    """


def write_profile(prof: DataFrame, store: str, run_id: str) -> str:
    """Persist a long-form profile as a stored baseline under a run-id
    partition — the capture half of continuous periodic monitoring
    (reference README.md:10, task 5: each refresh profiles once,
    BASELINES the result, and later refreshes diff against the stored
    profile instead of re-scanning history). The profile is
    metadata-sized (~50 metrics x columns), so it lands as ONE parquet
    file (coalesce(1)); the store grows by one tiny file per run and
    `run_id=` partitioning keeps every historical baseline addressable
    (profile-over-time queries read the whole store with partition
    pruning).

    Returns the written run path."""
    path = _run_dir(store, run_id)
    prof.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_dir(store: str, run_id: str) -> str:
    import os

    return os.path.join(store, f"run_id={run_id}")


def read_profile(spark: SparkSession, store: str, run_id: str | None = None) -> DataFrame:
    """Read a stored baseline profile back. ``run_id=None`` means the
    LATEST run: the store is read with partition discovery (run_id
    becomes a column, directory listing only — no data scan beyond the
    metric-sized files) and filtered to the max run_id with one
    broadcast scalar join, so 'latest' stays a distributed plan rather
    than a driver directory walk. Lexicographic max == newest for
    zero-padded / ISO-timestamp run ids (the write_profile contract)."""
    allp = spark.read.parquet(store)
    if run_id is not None:
        return allp.filter(F.col("run_id") == run_id).drop("run_id")
    latest = allp.groupBy().agg(F.max("run_id").alias("run_id"))
    return allp.join(F.broadcast(latest), "run_id").drop("run_id")


def list_profile_runs(store: str) -> list[str]:
    """run_ids present in a profile store, lexicographically sorted
    (== chronological under the write_profile zero-padded/ISO
    contract). Directory listing only."""
    import os

    if not os.path.isdir(store):
        return []
    return sorted(
        e.split("=", 1)[1]
        for e in os.listdir(store)
        if e.startswith("run_id=")
    )


_PARTIAL_COLS = {"table_name", "column_name", "stat", "value_d", "value_s"}


def vacuum_profile_store(
    spark: SparkSession,
    store: str,
    keep_last_n: int | None = None,
    keep_days: float | None = None,
    keep_before: str | None = None,
    rollup_run_id: str | None = None,
) -> dict:
    """Retention for the profile store. Continuous profiling writes one
    tiny ``run_id=`` partition per micro-batch (streaming/dq.py:
    profile_partial_sink), so an unvacuumed store accretes the same
    small-file/unbounded-listing problem txtable's compact solves for
    data — profile-over-time reads would list and scan every batch
    forever (round-8 verdict, Next round #7).

    Exactly one keep policy: ``keep_last_n`` newest runs,
    ``keep_days`` (ISO-timestamp run ids only: cutoff = now - days,
    compared lexicographically — valid because the write_profile
    contract makes run_ids sort chronologically), or an explicit
    ``keep_before`` lexicographic cutoff.

    ``rollup_run_id``: instead of discarding history, MERGE the dropped
    partitions into one partition with that run_id before deleting them
    — valid only for PARTIAL-state partitions (profile_partial schema),
    whose algebra is associative, so the post-vacuum
    merge-all-then-finalize result is bit-identical to the pre-vacuum
    one. The rollup id must sort below every retained run (it replaces
    OLDER history; violating this would corrupt latest-run selection),
    and must not already exist (re-merging a previous rollup with its
    sources would double-count — a crashed vacuum is re-run by deleting
    the half-written rollup partition first). Rollup lands before any
    delete, so a crash never loses state.

    Returns ``{"dropped": [...], "kept": [...], "rollup": ...}``."""
    import shutil

    policies = [keep_last_n is not None, keep_days is not None, keep_before is not None]
    if sum(policies) != 1:
        raise ValueError("exactly one of keep_last_n | keep_days | keep_before")
    runs = list_profile_runs(store)
    if keep_last_n is not None:
        drop = runs[: max(len(runs) - keep_last_n, 0)]
    else:
        if keep_days is not None:
            import datetime

            keep_before = (
                datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
                - datetime.timedelta(days=keep_days)
            ).isoformat()
        drop = [r for r in runs if r < keep_before]
    kept = [r for r in runs if r not in set(drop)]
    if not drop:
        return {"dropped": [], "kept": kept, "rollup": None}
    if rollup_run_id is not None:
        if rollup_run_id in runs:
            raise ValueError(
                f"rollup run_id {rollup_run_id!r} already exists — a "
                "re-merge would double-count; delete it first if "
                "recovering a crashed vacuum"
            )
        if kept and rollup_run_id >= min(kept):
            raise ValueError(
                f"rollup run_id {rollup_run_id!r} must sort below every "
                f"retained run (oldest kept: {min(kept)!r})"
            )
        parts = [
            spark.read.parquet(_run_dir(store, r)) for r in drop
        ]
        for p in parts:
            if set(p.columns) != _PARTIAL_COLS:
                raise ValueError(
                    "rollup requires partial-state partitions "
                    f"(profile_partial schema); got {sorted(p.columns)}"
                )
        write_profile(merge_partials(*parts), store, rollup_run_id)
    for r in drop:
        shutil.rmtree(_run_dir(store, r))
    return {"dropped": drop, "kept": kept, "rollup": rollup_run_id}


def retain_runs(
    spark: SparkSession,
    store: str,
    keep_last_n: int,
    rollup_run_id: str,
    merge_fn,
) -> dict:
    """IDEMPOTENT retention step for the continuous sinks
    (streaming/dq.py profile_partial_sink, streaming/sketch.py
    cm_sketch_sink): when the store holds more than ``keep_last_n``
    ``run_id=`` partitions, MERGE the oldest surplus into one rollup
    partition via ``merge_fn(list[DataFrame]) -> DataFrame`` (the
    store's merge algebra: merge_partials for profile partials,
    per-cell sums for CM sketches — associative, so the merged store
    stays bit-identical to the unvacuumed one) and delete them.

    Crash safety without vacuum_profile_store's manual-recovery rule:
    after the rollup partition lands, a ``_sources.json`` sidecar
    records exactly which partitions it absorbed, and only then are
    they deleted. A replayed batch (foreachBatch is at-least-once)
    calls this again with the SAME rollup_run_id and resumes from
    whatever the crash left: sidecar present -> finish deleting the
    listed sources; rollup dir without sidecar -> half-written, delete
    and redo. ``rollup_run_id`` must sort below every retained run id
    (use a "00000000_rollup_<batch>" shape against zero-padded batch
    ids) so latest-run selection never sees a rollup as newest.

    Returns ``{"dropped": [...], "kept": [...], "rollup": ...}``."""
    import json as _json
    import os
    import shutil

    if keep_last_n < 1:
        raise ValueError("keep_last_n must be >= 1")
    rdir = _run_dir(store, rollup_run_id)
    side = os.path.join(rdir, "_sources.json")
    if os.path.isdir(rdir):
        if os.path.exists(side):
            # completed rollup from a crashed attempt: finish deletes
            with open(side) as fh:
                for r in _json.load(fh):
                    p = _run_dir(store, r)
                    if os.path.isdir(p):
                        shutil.rmtree(p)
        else:
            shutil.rmtree(rdir)  # half-written rollup: redo from scratch
    runs = [r for r in list_profile_runs(store) if r != rollup_run_id]
    if len(runs) <= keep_last_n:
        return {"dropped": [], "kept": runs, "rollup": None}
    drop = runs[: len(runs) - keep_last_n]
    if os.path.isdir(rdir):
        # this attempt's id was already used and completed (sources all
        # gone) but the store is STILL over budget — the caller passed a
        # non-unique id; refuse rather than double-merge
        raise ValueError(
            f"rollup run_id {rollup_run_id!r} already exists with all "
            "sources deleted; use a fresh id per retention attempt"
        )
    merged = merge_fn(
        [spark.read.parquet(_run_dir(store, r)) for r in drop]
    )
    write_profile(merged, store, rollup_run_id)
    with open(side, "w") as fh:
        _json.dump(drop, fh)
    for r in drop:
        shutil.rmtree(_run_dir(store, r))
    return {"dropped": drop, "kept": runs[len(runs) - keep_last_n:],
            "rollup": rollup_run_id}
