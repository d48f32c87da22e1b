"""The data-quality test-type vocabulary.

Re-implements the 25 observed TestGen test types from the reference
corpus ``demo/input_data/data_tests.csv`` (822 rows; parameter grammar
parsed by the demo at ``demo/demo/demo_helper.py:845-851``), extended
to 35 to cover the product's "auto-generation of 32 data quality
validation tests" claim (reference README.md:209) — the extra types
(LOV_All, Distinct_Shift, New_Shift, Daily_Rec_Ct, Row_Ct_Pct,
Valid_Month, Zip_Code, Variability_Increase/Decrease, Condition_Flag)
follow the public TestGen vocabulary; their exact formulas are not
in-repo, so they are frozen here and locked by unit tests. Each test
is ONE aggregate predicate per (table, column) evaluated against
baseline parameters captured at profiling time.

Design: every test type lowers to
  - an aggregate *measure* expression (pure ``pyspark.sql.functions``
    Column arithmetic — JVM-side, whole-stage-codegen'd, no UDF), and
  - a scalar *violation* comparison ``measure OP bound`` whose bound is
    computed driver-side from the baseline parameters.

Dozens of tests on one table therefore compile into a single
``df.agg(...)`` pass (see ``compiler.py``) — the Spark analog of the
reference's "executed as in-database SQL with no data copies" claim
(reference README.md:209).

Each type also emits equivalent ANSI SQL (DuckDB dialect) for the
correctness oracle, generated from the same spec so the two can never
drift apart.

Frozen semantics (the exact statistical formulas are not in the
reference repo; these are defined here and locked by unit tests):

- two-proportion shift tests (Missing_Pct / Unique_Pct): measure is the
  |z| statistic with baseline-variance standard error
  ``se = sqrt(p1*(1-p1) * (1/n1 + 1/n2))`` (p1 clamped away from 0/1 by
  half a count), violation when ``|z| > Threshold_Value``;
- mean-shift tests (Avg_Shift / Incr_Avg_Shift): measure is the
  Cohen's-d style ``|avg - Baseline_Avg| / Baseline_SD``, violation
  when ``> Threshold_Value`` (corpus uses 0.5);
- a violated test resolves to the spec's severity (default WARNING, the
  only violated state observed in the corpus; Fail is configurable).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spec + params
# ---------------------------------------------------------------------------

TABLE_LEVEL = "N/A"  # column sentinel used by the reference corpus


@dataclass(frozen=True)
class TestSpec:
    """One data-quality test: (table, column, type, baseline params)."""

    __test__ = False  # not a pytest class

    table: str
    column: str  # TABLE_LEVEL for table-level tests (Row_Ct)
    test_type: str
    params: dict = field(default_factory=dict)
    severity: str = "WARNING"  # result when violated: WARNING | FAILED
    description: str = ""

    @property
    def key(self) -> str:
        return f"{self.table}.{self.column}.{self.test_type}"


_PARAM_RE = re.compile(r"(\w+)\s*=")


def parse_params(s: str) -> dict:
    """Parse the corpus's ``"k=v, k=v"`` parameter string.

    Values may contain commas inside quoted tuples, e.g.
    ``Baseline_Value=('No','Yes')`` — a naive split on ``", "`` breaks,
    so split on the *keys* instead.
    """
    s = (s or "").strip()
    if not s:
        return {}
    keys = [(m.group(1), m.start(), m.end()) for m in _PARAM_RE.finditer(s)]
    out = {}
    for i, (k, _, vstart) in enumerate(keys):
        vend = keys[i + 1][1] if i + 1 < len(keys) else len(s)
        out[k] = s[vstart:vend].strip().rstrip(",").strip()
    return out


def _f(params: dict, key: str, default: float | None = None) -> float:
    v = params.get(key)
    if v is None or v == "":
        if default is None:
            raise KeyError(f"missing param {key}")
        return float(default)
    return float(v)


def parse_lov(raw: str) -> list[str]:
    """``('No','Yes')`` / ``('A')`` → ['No','Yes'] / ['A']."""
    return re.findall(r"'((?:[^']|'')*)'", raw or "")


EMAIL_RE = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY", "DC", "PR", "VI", "GU", "AS", "MP",
]


def _sql_quote(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# Lowered form of one test
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Lowered:
    """A test lowered to (aggregate measure, scalar comparison).

    ``measure`` is a zero-arg thunk producing the Column lazily, so that
    oracle-SQL emission (``measure_sql``) never needs a live
    SparkContext (the driver calls ``oracle_sql()`` without one).
    """

    measure: Callable[[], Column]  # thunk -> aggregate expression (DOUBLE)
    measure_sql: str  # DuckDB aggregate SQL for the same measure
    op: str  # violation comparator: measure OP bound
    bound: float  # driver-side scalar from baseline params


LowerFn = Callable[[str, dict, str], Lowered]  # (column, params, as_of_date)

TEST_TYPES: dict[str, LowerFn] = {}


def _register(name: str):
    def deco(fn: LowerFn) -> LowerFn:
        TEST_TYPES[name] = fn
        return fn

    return deco


def _count_if(cond: Column) -> Column:
    return F.sum(cond.cast("int")).cast("double")


# --- volume / completeness / uniqueness ------------------------------------


@_register("Row_Ct")
def _row_ct(col: str, p: dict, as_of: str) -> Lowered:
    """Record count has not decreased from baseline. Threshold_Value is
    the ABSOLUTE minimum count — the corpus sets it equal to
    Baseline_Ct (``data_tests.csv``: ``Baseline_Ct=45707,
    Threshold_Value=45707``), and it defaults to Baseline_Ct here."""
    bound = _f(p, "Threshold_Value", _f(p, "Baseline_Ct", 0))
    return Lowered(
        lambda: F.count(F.lit(1)).cast("double"),
        "CAST(count(*) AS DOUBLE)",
        "<",
        bound,
    )


@_register("Required")
def _required(col: str, p: dict, as_of: str) -> Lowered:
    """No NULLs in column (measure = null count)."""
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: (F.count(F.lit(1)) - F.count(col)).cast("double"),
        f"CAST(count(*) - count({col}) AS DOUBLE)",
        ">",
        t,
    )


@_register("Unique")
def _unique(col: str, p: dict, as_of: str) -> Lowered:
    """No repeated values (measure = duplicate count among non-nulls)."""
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: (F.count(col) - F.countDistinct(col)).cast("double"),
        f"CAST(count({col}) - count(DISTINCT {col}) AS DOUBLE)",
        ">",
        t,
    )


def _ztest(p1: float, n1: float, p2_spark, p2_sql: str, n2_spark, n2_sql: str):
    """|z| for a two-proportion shift with baseline-variance SE.

    ``p2_spark``/``n2_spark`` are thunks producing Columns."""
    p1c = min(max(p1, 0.5 / max(n1, 1.0)), 1.0 - 0.5 / max(n1, 1.0))
    var1 = p1c * (1.0 - p1c)

    def spark() -> Column:
        return F.abs(p2_spark() - F.lit(p1)) / F.sqrt(
            F.lit(var1) * (F.lit(1.0 / n1) + F.lit(1.0) / F.nullif(n2_spark(), F.lit(0.0)))
        )

    sql = f"abs(({p2_sql}) - ({p1!r})) / sqrt({var1!r} * ({1.0 / n1!r} + 1.0 / nullif(CAST({n2_sql} AS DOUBLE), 0)))"
    return spark, sql


@_register("Functional_Dep")
def _functional_dep(col: str, p: dict, as_of: str) -> Lowered:
    """Column functionally determines ``Dependent_Column`` (measure =
    surplus distinct (det, dep) assignments over distinct determinants,
    both non-null — 0 iff every determinant maps to one dependent).
    Emitted by the discovery->generation loop for FDs the evidence
    confirmed; distinct-of-struct keeps the measure a single aggregate
    so it batches into compile_suite like any other test."""
    dep = p["Dependent_Column"]
    t = _f(p, "Threshold_Value", 0)
    cond_sql = f"{col} IS NOT NULL AND {dep} IS NOT NULL"

    def spark() -> Column:
        cond = F.col(col).isNotNull() & F.col(dep).isNotNull()
        return (
            F.countDistinct(F.when(cond, F.struct(col, dep)))
            - F.countDistinct(F.when(cond, F.col(col)))
        ).cast("double")

    return Lowered(
        spark,
        f"CAST(count(DISTINCT CASE WHEN {cond_sql} THEN row({col}, {dep}) END)"
        f" - count(DISTINCT CASE WHEN {cond_sql} THEN {col} END) AS DOUBLE)",
        ">",
        t,
    )


@_register("Unique_Pct")
def _unique_pct(col: str, p: dict, as_of: str) -> Lowered:
    """Shift in % distinct among non-null values vs baseline (|z| test)."""
    n1 = _f(p, "Baseline_Value_Ct")
    p1 = _f(p, "Baseline_Unique_Ct") / max(n1, 1.0)
    t = _f(p, "Threshold_Value", 2)
    p2_s = lambda: F.countDistinct(col) / F.nullif(F.count(col), F.lit(0))  # noqa: E731
    p2_q = f"count(DISTINCT {col}) * 1.0 / nullif(count({col}), 0)"
    z_s, z_q = _ztest(p1, n1, p2_s, p2_q, lambda: F.count(col).cast("double"), f"count({col})")
    return Lowered(z_s, z_q, ">", t)


@_register("Missing_Pct")
def _missing_pct(col: str, p: dict, as_of: str) -> Lowered:
    """Shift in % missing vs baseline (|z| test)."""
    n1 = _f(p, "Baseline_Ct")
    p1 = 1.0 - _f(p, "Baseline_Value_Ct") / max(n1, 1.0)
    t = _f(p, "Threshold_Value", 2)
    p2_s = lambda: (F.count(F.lit(1)) - F.count(col)) / F.nullif(F.count(F.lit(1)), F.lit(0))  # noqa: E731
    p2_q = f"(count(*) - count({col})) * 1.0 / nullif(count(*), 0)"
    z_s, z_q = _ztest(p1, n1, p2_s, p2_q, lambda: F.count(F.lit(1)).cast("double"), "count(*)")
    return Lowered(z_s, z_q, ">", t)


# --- string shape -----------------------------------------------------------


@_register("Alpha_Trunc")
def _alpha_trunc(col: str, p: dict, as_of: str) -> Lowered:
    """Max string length has not dropped vs baseline."""
    b, t = _f(p, "Baseline_Value"), _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.max(F.length(col)).cast("double"),
        f"CAST(max(length({col})) AS DOUBLE)",
        "<",
        b - t,
    )


@_register("Constant")
def _constant(col: str, p: dict, as_of: str) -> Lowered:
    """All values equal the baseline constant (measure = mismatch count)."""
    raw = p.get("Baseline_Value", "")
    vals = parse_lov(raw)
    const = vals[0] if vals else raw.strip()
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: _count_if(F.col(col).cast("string") != F.lit(const)),
        f"CAST(sum(CASE WHEN CAST({col} AS VARCHAR) <> {_sql_quote(const)} THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


@_register("LOV_Match")
def _lov_match(col: str, p: dict, as_of: str) -> Lowered:
    """All values within the baseline list-of-values."""
    lov = parse_lov(p.get("Baseline_Value", ""))
    t = _f(p, "Threshold_Value", 0)
    in_sql = ", ".join(_sql_quote(v) for v in lov) or "''"
    return Lowered(
        lambda: _count_if(~F.col(col).cast("string").isin(lov)),
        f"CAST(sum(CASE WHEN CAST({col} AS VARCHAR) NOT IN ({in_sql}) THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


def _regex_miss(col: str, pattern: str, t: float) -> Lowered:
    """Count of non-null values NOT fully matching the regex."""
    anchored = pattern if pattern.startswith("^") else f"^{pattern}$"
    return Lowered(
        lambda: _count_if(~F.col(col).cast("string").rlike(anchored)),
        f"CAST(sum(CASE WHEN NOT regexp_matches(CAST({col} AS VARCHAR), {_sql_quote(anchored)}) THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


@_register("Pattern_Match")
def _pattern_match(col: str, p: dict, as_of: str) -> Lowered:
    """All values match the baseline pattern (e.g. ``[0-9]{5}``)."""
    return _regex_miss(col, p.get("Baseline_Value", ".*").strip().strip("'"), _f(p, "Threshold_Value", 0))


@_register("Email_Format")
def _email_format(col: str, p: dict, as_of: str) -> Lowered:
    return _regex_miss(col, EMAIL_RE, _f(p, "Threshold_Value", 0))


@_register("US_State")
def _us_state(col: str, p: dict, as_of: str) -> Lowered:
    t = _f(p, "Threshold_Value", 0)
    in_sql = ", ".join(_sql_quote(v) for v in US_STATES)
    return Lowered(
        lambda: _count_if(~F.upper(F.col(col).cast("string")).isin(US_STATES)),
        f"CAST(sum(CASE WHEN upper(CAST({col} AS VARCHAR)) NOT IN ({in_sql}) THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


# --- numeric ----------------------------------------------------------------


@_register("Min_Val")
def _min_val(col: str, p: dict, as_of: str) -> Lowered:
    b, t = _f(p, "Baseline_Value"), _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.min(col).cast("double"), f"CAST(min({col}) AS DOUBLE)", "<", b - t
    )


@_register("Avg_Shift")
def _avg_shift(col: str, p: dict, as_of: str) -> Lowered:
    """Cohen's-d style shift of the mean vs baseline avg/SD."""
    avg, sd = _f(p, "Baseline_Avg"), max(_f(p, "Baseline_SD"), 1e-12)
    t = _f(p, "Threshold_Value", 0.5)
    return Lowered(
        lambda: F.abs(F.avg(col) - F.lit(avg)) / F.lit(sd),
        f"abs(avg({col}) - ({avg!r})) / ({sd!r})",
        ">",
        t,
    )


@_register("Incr_Avg_Shift")
def _incr_avg_shift(col: str, p: dict, as_of: str) -> Lowered:
    """Shift of the mean of *new* values: increment = current totals minus
    (Baseline_Sum, Baseline_Value_Ct); 0 when no new rows."""
    avg, sd = _f(p, "Baseline_Avg"), max(_f(p, "Baseline_SD"), 1e-12)
    bsum = _f(p, "Baseline_Sum")
    bct = _f(p, "Baseline_Value_Ct", _f(p, "Baseline_Ct", 0))
    t = _f(p, "Threshold_Value", 0.5)
    def incr_s() -> Column:
        return (F.sum(col) - F.lit(bsum)) / F.nullif(F.count(col) - F.lit(bct), F.lit(0))

    incr_q = f"(sum({col}) - ({bsum!r})) / nullif(count({col}) - {bct!r}, 0)"
    return Lowered(
        lambda: F.coalesce(F.abs(incr_s() - F.lit(avg)) / F.lit(sd), F.lit(0.0)),
        f"coalesce(abs(({incr_q}) - ({avg!r})) / ({sd!r}), 0.0)",
        ">",
        t,
    )


@_register("Dec_Trunc")
def _dec_trunc(col: str, p: dict, as_of: str) -> Lowered:
    """Sum of fractional parts has not dropped (decimal truncation guard).
    Threshold_Value carries the baseline fractional sum."""
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.round(F.sum(F.abs(F.col(col).cast("double")) % 1.0), 3),
        f"round(sum(abs(CAST({col} AS DOUBLE)) % 1.0), 3)",
        "<",
        t,
    )


def _outlier(col: str, p: dict, above: bool) -> Lowered:
    """% of values beyond mean ± 2 SD (baseline mean/SD)."""
    avg, sd = _f(p, "Baseline_Avg"), _f(p, "Baseline_SD")
    t = _f(p, "Threshold_Value", 5)
    if above:
        cond_s, cond_q = (lambda: F.col(col) > avg + 2 * sd), f"{col} > {avg + 2 * sd!r}"
    else:
        cond_s, cond_q = (lambda: F.col(col) < avg - 2 * sd), f"{col} < {avg - 2 * sd!r}"
    # NULL values count in the denominator as non-outliers on BOTH
    # engines (a NULL-able cast would drop them from the Spark average)
    return Lowered(
        lambda: F.avg(F.when(cond_s(), 1).otherwise(0)) * 100.0,
        f"avg(CASE WHEN {cond_q} THEN 1 ELSE 0 END) * 100.0",
        ">",
        t,
    )


@_register("Outlier_Pct_Above")
def _outlier_above(col: str, p: dict, as_of: str) -> Lowered:
    return _outlier(col, p, True)


@_register("Outlier_Pct_Below")
def _outlier_below(col: str, p: dict, as_of: str) -> Lowered:
    return _outlier(col, p, False)


# --- dates ------------------------------------------------------------------


@_register("Min_Date")
def _min_date(col: str, p: dict, as_of: str) -> Lowered:
    """Earliest date has not receded below baseline earliest; measure is
    days-below-baseline (0 when fine)."""
    b = p.get("Baseline_Value", as_of).strip().strip("'")[:10]
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.datediff(F.lit(b).cast("date"), F.min(F.col(col).cast("date"))).cast("double"),
        f"CAST(datediff('day', min(CAST({col} AS DATE)), DATE {_sql_quote(b)}) AS DOUBLE)",
        ">",
        t,
    )


@_register("Future_Date")
def _future_date(col: str, p: dict, as_of: str) -> Lowered:
    """No dates beyond the test date (measure = future-date count)."""
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: _count_if(F.col(col).cast("date") > F.lit(as_of).cast("date")),
        f"CAST(sum(CASE WHEN CAST({col} AS DATE) > DATE {_sql_quote(as_of)} THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


@_register("Future_Date_1Y")
def _future_date_1y(col: str, p: dict, as_of: str) -> Lowered:
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: _count_if(F.col(col).cast("date") > F.add_months(F.lit(as_of).cast("date"), 12)),
        f"CAST(sum(CASE WHEN CAST({col} AS DATE) > DATE {_sql_quote(as_of)} + INTERVAL 12 MONTH THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


@_register("Recency")
def _recency(col: str, p: dict, as_of: str) -> Lowered:
    """Latest date within N days of the test date (measure = staleness days)."""
    t = _f(p, "Threshold_Value", 15)
    return Lowered(
        lambda: F.datediff(F.lit(as_of).cast("date"), F.max(F.col(col).cast("date"))).cast("double"),
        f"CAST(datediff('day', max(CAST({col} AS DATE)), DATE {_sql_quote(as_of)}) AS DOUBLE)",
        ">",
        t,
    )


@_register("Distinct_Date_Ct")
def _distinct_date_ct(col: str, p: dict, as_of: str) -> Lowered:
    b = _f(p, "Baseline_Value")
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.countDistinct(F.col(col).cast("date")).cast("double"),
        f"CAST(count(DISTINCT CAST({col} AS DATE)) AS DOUBLE)",
        "<",
        b - t,
    )


@_register("Distinct_Value_Ct")
def _distinct_value_ct(col: str, p: dict, as_of: str) -> Lowered:
    """Distinct count unchanged from baseline (measure = |delta|)."""
    b = _f(p, "Baseline_Value_Ct", _f(p, "Baseline_Value", 0))
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: F.abs(F.countDistinct(col) - F.lit(b)).cast("double"),
        f"CAST(abs(count(DISTINCT {col}) - {b!r}) AS DOUBLE)",
        ">",
        t,
    )


@_register("Monthly_Rec_Ct")
def _monthly_rec_ct(col: str, p: dict, as_of: str) -> Lowered:
    """≥1 date per calendar month within the column's min/max range
    (measure = count of empty months). Uses year*12+month arithmetic so
    Spark and the SQL oracle share one formula."""
    t = _f(p, "Threshold_Value", 0)
    def spark() -> Column:
        d = F.col(col).cast("date")
        ym = F.year(d) * 12 + F.month(d)
        return (F.max(ym) - F.min(ym) + 1 - F.countDistinct(ym)).cast("double")

    ym_q = f"(year(CAST({col} AS DATE)) * 12 + month(CAST({col} AS DATE)))"
    sql = f"CAST(max({ym_q}) - min({ym_q}) + 1 - count(DISTINCT {ym_q}) AS DOUBLE)"
    return Lowered(spark, sql, ">", t)


@_register("Weekly_Rec_Ct")
def _weekly_rec_ct(col: str, p: dict, as_of: str) -> Lowered:
    """≥1 date per ISO calendar week within min/max range (measure = count
    of empty weeks). Week id = floor(days since 1970-01-05 / 7), Monday
    epoch anchor — identical arithmetic in both dialects."""
    t = _f(p, "Threshold_Value", 0)
    def spark() -> Column:
        wk = F.floor(F.datediff(F.col(col).cast("date"), F.lit("1970-01-05").cast("date")) / 7)
        return (F.max(wk) - F.min(wk) + 1 - F.countDistinct(wk)).cast("double")

    wk_q = f"CAST(floor(datediff('day', DATE '1970-01-05', CAST({col} AS DATE)) / 7) AS BIGINT)"
    sql = f"CAST(max({wk_q}) - min({wk_q}) + 1 - count(DISTINCT {wk_q}) AS DOUBLE)"
    return Lowered(spark, sql, ">", t)


# --- extension to the 32-type README claim ----------------------------------


@_register("Daily_Rec_Ct")
def _daily_rec_ct(col: str, p: dict, as_of: str) -> Lowered:
    """≥1 record per calendar day within the column's min/max range
    (measure = count of empty days)."""
    t = _f(p, "Threshold_Value", 0)

    def spark() -> Column:
        d = F.col(col).cast("date")
        return (F.datediff(F.max(d), F.min(d)) + 1 - F.countDistinct(d)).cast("double")

    d_q = f"CAST({col} AS DATE)"
    sql = f"CAST(datediff('day', min({d_q}), max({d_q})) + 1 - count(DISTINCT {d_q}) AS DOUBLE)"
    return Lowered(spark, sql, ">", t)


@_register("Row_Ct_Pct")
def _row_ct_pct(col: str, p: dict, as_of: str) -> Lowered:
    """Record count within ±N% of baseline (measure = |pct change|)."""
    b = _f(p, "Baseline_Ct")
    t = _f(p, "Threshold_Value", 5)
    return Lowered(
        lambda: F.round(100.0 * F.abs(F.count(F.lit(1)) - F.lit(b)) / F.lit(max(b, 1.0)), 4),
        f"round(100.0 * abs(count(*) - {b!r}) / {max(b, 1.0)!r}, 4)",
        ">",
        t,
    )


@_register("LOV_All")
def _lov_all(col: str, p: dict, as_of: str) -> Lowered:
    """EVERY baseline value still present (measure = count of baseline
    values missing from the column)."""
    lov = parse_lov(p.get("Baseline_Value", ""))
    t = _f(p, "Threshold_Value", 0)
    in_sql = ", ".join(_sql_quote(v) for v in lov) or "''"

    def spark() -> Column:
        present = F.countDistinct(
            F.when(F.col(col).cast("string").isin(lov), F.col(col).cast("string"))
        )
        return (F.lit(len(lov)) - present).cast("double")

    sql = (
        f"CAST({len(lov)} - count(DISTINCT CASE WHEN CAST({col} AS VARCHAR) IN ({in_sql}) "
        f"THEN CAST({col} AS VARCHAR) END) AS DOUBLE)"
    )
    return Lowered(spark, sql, ">", t)


@_register("New_Shift")
def _new_shift(col: str, p: dict, as_of: str) -> Lowered:
    """Values NEW vs the baseline list-of-values as a share of non-null
    rows (the drift face of LOV_Match: % novel, not count invalid)."""
    lov = parse_lov(p.get("Baseline_Value", ""))
    t = _f(p, "Threshold_Value", 5)
    in_sql = ", ".join(_sql_quote(v) for v in lov) or "''"
    return Lowered(
        lambda: F.round(
            100.0
            * F.sum((~F.col(col).cast("string").isin(lov)).cast("int"))
            / F.nullif(F.count(col), F.lit(0)),
            4,
        ),
        f"round(100.0 * sum(CASE WHEN CAST({col} AS VARCHAR) NOT IN ({in_sql}) THEN 1 ELSE 0 END)"
        f" / nullif(count({col}), 0), 4)",
        ">",
        t,
    )


@_register("Distinct_Shift")
def _distinct_shift(col: str, p: dict, as_of: str) -> Lowered:
    """Shift in distinct-per-value ratio vs baseline (|z| test on
    distinct_ct/value_ct with baseline-variance SE)."""
    n1 = _f(p, "Baseline_Value_Ct")
    p1 = _f(p, "Baseline_Unique_Ct") / max(n1, 1.0)
    t = _f(p, "Threshold_Value", 2)
    p2_s = lambda: F.countDistinct(col) / F.nullif(F.count(col), F.lit(0))  # noqa: E731
    p2_q = f"count(DISTINCT {col}) * 1.0 / nullif(count({col}), 0)"
    z_s, z_q = _ztest(p1, n1, p2_s, p2_q, lambda: F.count(col).cast("double"), f"count({col})")
    return Lowered(z_s, z_q, ">", t)


@_register("Valid_Month")
def _valid_month(col: str, p: dict, as_of: str) -> Lowered:
    """String column holds valid month names/numbers (measure = count
    outside the accepted set)."""
    months = [
        "JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT",
        "NOV", "DEC", "JANUARY", "FEBRUARY", "MARCH", "APRIL", "JUNE", "JULY",
        "AUGUST", "SEPTEMBER", "OCTOBER", "NOVEMBER", "DECEMBER",
    ] + [str(i) for i in range(1, 13)] + [f"{i:02d}" for i in range(1, 10)]
    t = _f(p, "Threshold_Value", 0)
    in_sql = ", ".join(_sql_quote(v) for v in months)
    return Lowered(
        lambda: _count_if(~F.upper(F.trim(F.col(col).cast("string"))).isin(months)),
        f"CAST(sum(CASE WHEN upper(trim(CAST({col} AS VARCHAR))) NOT IN ({in_sql}) "
        f"THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )


@_register("Zip_Code")
def _zip_code(col: str, p: dict, as_of: str) -> Lowered:
    """US ZIP / ZIP+4 format (measure = count not matching)."""
    return _regex_miss(col, "[0-9]{5}(-[0-9]{4})?", _f(p, "Threshold_Value", 0))


def _variability(col: str, p: dict, as_of: str, direction: str) -> Lowered:
    """Sample stddev vs baseline SD ratio: fires when the ratio leaves
    [1/(1+T), 1+T] in the given direction (T as a fraction)."""
    sd = max(_f(p, "Baseline_SD"), 1e-12)
    t = _f(p, "Threshold_Value", 0.25)
    ratio = lambda: F.stddev_samp(col) / F.lit(sd)  # noqa: E731
    ratio_q = f"stddev_samp({col}) / {sd!r}"
    if direction == "up":
        return Lowered(ratio, ratio_q, ">", 1.0 + t)
    return Lowered(ratio, ratio_q, "<", 1.0 / (1.0 + t))


@_register("Variability_Increase")
def _variability_increase(col: str, p: dict, as_of: str) -> Lowered:
    return _variability(col, p, as_of, "up")


@_register("Variability_Decrease")
def _variability_decrease(col: str, p: dict, as_of: str) -> Lowered:
    return _variability(col, p, as_of, "down")


@_register("Condition_Flag")
def _condition_flag(col: str, p: dict, as_of: str) -> Lowered:
    """Free-form SQL condition over the row, flagged when any row
    matches (measure = matching-row count). ``Baseline_Value`` holds
    the boolean SQL expression — it must be engine-portable ANSI
    (column refs, comparisons, AND/OR), which both Spark and DuckDB
    parse identically."""
    cond = p.get("Baseline_Value", "FALSE").strip().strip("'")
    t = _f(p, "Threshold_Value", 0)
    return Lowered(
        lambda: _count_if(F.expr(cond)),
        f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE)",
        ">",
        t,
    )
