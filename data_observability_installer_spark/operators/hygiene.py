"""Hygiene review (TestGen task 2): anomaly screens over the profile.

The reference claims "27 hygiene detectors" (reference README.md:207)
without enumerating them in-repo; SURVEY §2.4 directs us to design
them as predicates over the profile table. This module defines 29
detectors (a superset) as scalar conditions over the wide per-column
profile — pure metadata predicates, so the screen costs nothing
beyond the profile pass itself.

Output: one row per (column, detector) that fired, with the key metric
value as numeric ``evidence`` (details are static strings so the SQL
oracle emits byte-identical rows).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.driver import local_frame


@dataclass(frozen=True)
class Detector:
    name: str
    severity: str  # INFO | WARNING
    cond: Callable[[], Column]  # over wide-profile columns <metric>_v / <metric>_s
    cond_sql: str
    evidence: str  # wide column holding the numeric evidence (``*_v``)
    detail: str


def _v(metric: str) -> Column:
    return F.col(f"{metric}_v")


def _s(metric: str) -> Column:
    return F.col(f"{metric}_s")


def detectors(as_of: str) -> list[Detector]:
    D = Detector
    return [
        # --- completeness ---
        D("all_null_column", "WARNING",
          lambda: (_v("value_ct") == 0) & (_v("record_ct") > 0),
          "value_ct_v = 0 AND record_ct_v > 0", "null_pct",
          "Column contains no values at all."),
        D("high_null_rate", "WARNING",
          lambda: (_v("null_pct") > 50) & (_v("value_ct") > 0),
          "null_pct_v > 50 AND value_ct_v > 0", "null_pct",
          "More than half of the rows are missing a value."),
        # --- cardinality ---
        D("constant_column", "INFO",
          lambda: (_v("distinct_ct") == 1) & (_v("value_ct") > 1),
          "distinct_ct_v = 1 AND value_ct_v > 1", "distinct_ct",
          "Every value is identical."),
        D("near_constant_column", "INFO",
          lambda: (_v("distinct_ct") == 2) & (_v("value_ct") > 100),
          "distinct_ct_v = 2 AND value_ct_v > 100", "distinct_ct",
          "Only two distinct values in a large column."),
        D("unique_id_candidate", "INFO",
          lambda: (_v("distinct_ct") == _v("value_ct")) & (_v("value_ct") > 10),
          "distinct_ct_v = value_ct_v AND value_ct_v > 10", "distinct_ct",
          "Fully unique - likely a key column."),
        D("near_unique_suspect_dups", "WARNING",
          lambda: (_v("duplicate_ct") > 0) & (_v("distinct_pct") >= 99.0) & (_v("distinct_pct") < 100.0),
          "duplicate_ct_v > 0 AND distinct_pct_v >= 99.0 AND distinct_pct_v < 100.0", "duplicate_ct",
          "Almost unique - the few duplicates are suspect."),
        # --- string hygiene ---
        D("blank_values", "WARNING",
          lambda: _v("blank_ct") > 0, "blank_ct_v > 0", "blank_ct",
          "Blank / whitespace-only values present."),
        D("leading_spaces", "WARNING",
          lambda: _v("lead_space_ct") > 0, "lead_space_ct_v > 0", "lead_space_ct",
          "Values with leading spaces present."),
        D("case_inconsistent", "INFO",
          lambda: (_v("upper_case_ct") > 0) & (_v("lower_case_ct") > 0),
          "upper_case_ct_v > 0 AND lower_case_ct_v > 0", "upper_case_ct",
          "Mixed all-upper and all-lower values."),
        D("non_ascii_values", "INFO",
          lambda: _v("non_ascii_ct") > 0, "non_ascii_ct_v > 0", "non_ascii_ct",
          "Non-ASCII characters present."),
        D("numeric_stored_as_string", "WARNING",
          lambda: (_v("numeric_str_ct") > 0) & (_v("numeric_str_ct") == _v("value_ct") - _v("blank_ct")),
          "numeric_str_ct_v > 0 AND numeric_str_ct_v = value_ct_v - blank_ct_v", "numeric_str_ct",
          "All non-blank values are numeric strings."),
        D("date_stored_as_string", "WARNING",
          lambda: (_v("date_str_ct") > 0) & (_v("date_str_ct") == _v("value_ct") - _v("blank_ct")),
          "date_str_ct_v > 0 AND date_str_ct_v = value_ct_v - blank_ct_v", "date_str_ct",
          "All non-blank values look like dates."),
        D("malformed_emails", "WARNING",
          lambda: (_v("email_ct") >= 0.9 * _v("value_ct")) & (_v("email_ct") < _v("value_ct")),
          "email_ct_v >= 0.9 * value_ct_v AND email_ct_v < value_ct_v", "email_ct",
          "Mostly emails, some malformed."),
        D("malformed_zips", "WARNING",
          lambda: (_v("zip_ct") >= 0.9 * _v("value_ct")) & (_v("zip_ct") < _v("value_ct")),
          "zip_ct_v >= 0.9 * value_ct_v AND zip_ct_v < value_ct_v", "zip_ct",
          "Mostly ZIP codes, some malformed."),
        D("malformed_states", "WARNING",
          lambda: (_v("state_ct") >= 0.9 * _v("value_ct")) & (_v("state_ct") < _v("value_ct")),
          "state_ct_v >= 0.9 * value_ct_v AND state_ct_v < value_ct_v", "state_ct",
          "Mostly US state codes, some invalid."),
        D("mixed_patterns", "INFO",
          lambda: _v("pattern_distinct_ct") > 5,
          "pattern_distinct_ct_v > 5", "pattern_distinct_ct",
          "More than five distinct character patterns."),
        D("length_outliers", "INFO",
          lambda: (_v("avg_len") * 3 < _v("max_len")) & (_v("value_ct") > 10),
          "avg_len_v * 3 < max_len_v AND value_ct_v > 10", "max_len",
          "Max length far exceeds average - truncation or blob suspect."),
        # --- numeric hygiene ---
        D("zero_inflated", "INFO",
          lambda: (_v("zero_ct") > 0.5 * _v("value_ct")) & (_v("value_ct") > 0),
          "zero_ct_v > 0.5 * value_ct_v AND value_ct_v > 0", "zero_ct",
          "More than half of the values are zero."),
        D("rare_negatives", "WARNING",
          lambda: (_v("neg_ct") > 0) & (_v("neg_ct") < 0.01 * _v("value_ct")),
          "neg_ct_v > 0 AND neg_ct_v < 0.01 * value_ct_v", "neg_ct",
          "A handful of negative values in a mostly-positive column."),
        D("sentinel_min_value", "WARNING",
          lambda: _v("min_val").isin([-1.0, -9.0, -99.0, -999.0, -9999.0, -99999.0]),
          "min_val_v IN (-1, -9, -99, -999, -9999, -99999)", "min_val",
          "Minimum looks like a sentinel / missing-data code."),
        D("sentinel_max_value", "WARNING",
          lambda: _v("max_val").isin([9999.0, 99999.0, 999999.0, 9999999.0]),
          "max_val_v IN (9999, 99999, 999999, 9999999)", "max_val",
          "Maximum looks like a sentinel / missing-data code."),
        D("outliers_above", "INFO",
          lambda: _v("max_val") > _v("avg_val") + 6 * _v("stddev_val"),
          "max_val_v > avg_val_v + 6 * stddev_val_v", "max_val",
          "Values more than 6 SD above the mean."),
        D("outliers_below", "INFO",
          lambda: _v("min_val") < _v("avg_val") - 6 * _v("stddev_val"),
          "min_val_v < avg_val_v - 6 * stddev_val_v", "min_val",
          "Values more than 6 SD below the mean."),
        D("high_skew", "INFO",
          lambda: F.abs(_v("skewness_pop")) > 3,
          "abs(skewness_pop_v) > 3", "skewness_pop",
          "Strongly skewed distribution."),
        D("heavy_tails", "INFO",
          lambda: _v("kurtosis_pop") > 10,
          "kurtosis_pop_v > 10", "kurtosis_pop",
          "Heavy-tailed distribution (excess kurtosis > 10)."),
        D("integer_stored_as_double", "INFO",
          lambda: (_s("dtype_class") == "numeric") & (_v("frac_sum") == 0)
          & (_v("int_ct") == _v("value_ct")) & (_v("value_ct") > 0),
          "dtype_class_s = 'numeric' AND frac_sum_v = 0 AND int_ct_v = value_ct_v AND value_ct_v > 0",
          "int_ct", "Declared fractional but every value is integral."),
        # --- date hygiene ---
        D("future_dates", "WARNING",
          lambda: _v("future_ct") > 0, "future_ct_v > 0", "future_ct",
          "Dates beyond the as-of date present."),
        D("stale_data", "WARNING",
          lambda: F.datediff(F.lit(as_of).cast("date"), _s("max_date").cast("date")) > 365,
          f"datediff('day', CAST(max_date_s AS DATE), DATE '{as_of}') > 365", "span_days",
          "Latest date is more than a year old."),
        D("calendar_gaps", "INFO",
          lambda: _v("monthly_gap_ct") > 0, "monthly_gap_ct_v > 0", "monthly_gap_ct",
          "Whole calendar months with no records inside the active range."),
    ]


HYGIENE_COLUMNS = ["table_name", "column_name", "detector", "severity", "evidence", "detail"]


def widen(profile_long: DataFrame) -> DataFrame:
    """Wide per-column profile with typed metric columns: ``<metric>_v``
    (double) and ``<metric>_s`` (string). Input is tiny (one row per
    column-metric), so the pivot shuffle is negligible."""
    metrics = sorted(r.metric for r in profile_long.select("metric").distinct().collect())
    return (
        profile_long.groupBy("table_name", "column_name")
        .pivot("metric", metrics)
        .agg(F.first("value").alias("v"), F.first("value_str").alias("s"))
    )


def _widen_sql(profile_sql_text: str, metrics: list[str]) -> str:
    cases = ", ".join(
        f"max(CASE WHEN metric = '{m}' THEN value END) AS {m}_v, "
        f"max(CASE WHEN metric = '{m}' THEN value_str END) AS {m}_s"
        for m in metrics
    )
    return (
        f"SELECT table_name, column_name, {cases} FROM ({profile_sql_text}) "
        "GROUP BY table_name, column_name"
    )


def _ensure_metric_cols(wide: DataFrame, dets: list[Detector]) -> DataFrame:
    """Columns a dtype never produces (e.g. blank_ct on a numeric table)
    are added as NULL so every detector expression resolves."""
    needed: set[str] = set()
    for det in dets:
        for tok in det.cond_sql.replace("(", " ").replace(")", " ").replace(",", " ").split():
            if tok.endswith("_v") or tok.endswith("_s"):
                needed.add(tok)
        needed.add(f"{det.evidence}_v")
    have = set(wide.columns)
    out = wide
    for c in sorted(needed - have):
        out = out.withColumn(c, F.lit(None).cast("string" if c.endswith("_s") else "double"))
    return out


def hygiene(profile_long: DataFrame, as_of: str) -> DataFrame:
    """Run all detectors over a long profile; returns fired rows only.

    The profile input is metric-sized by contract (one row per
    (column, metric) — a few hundred rows for the widest table), and
    the detectors reference only ~45 of the ~540 pivoted metric
    columns. Pivoting driver-side into a LocalRelation pruned to the
    referenced columns replaces the 540-column pivot plan (two stages
    plus ~1 s of per-call planning measured at sf0.1) with one
    metadata collect; detector expressions and their values are
    unchanged."""
    dets = detectors(as_of)
    needed: set[str] = set()
    for det in dets:
        for tok in det.cond_sql.replace("(", " ").replace(")", " ").replace(",", " ").split():
            if tok.endswith("_v") or tok.endswith("_s"):
                needed.add(tok)
        needed.add(f"{det.evidence}_v")
    cols = sorted(needed)
    rows = profile_long.select(
        "table_name", "column_name", "metric", "value", "value_str"
    ).collect()
    per_col: dict[tuple, dict] = {}
    for r in rows:
        per_col.setdefault((r["table_name"], r["column_name"]), {})[r["metric"]] = (
            r["value"],
            r["value_str"],
        )
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [StructField("table_name", StringType(), True),
         StructField("column_name", StringType(), True)]
        + [
            StructField(c, StringType() if c.endswith("_s") else DoubleType(), True)
            for c in cols
        ]
    )
    data = []
    for (tname, cname), metrics_map in sorted(per_col.items()):
        vals = []
        for c in cols:
            pair = metrics_map.get(c[:-2])
            if pair is None:
                vals.append(None)
            else:
                vals.append(pair[1] if c.endswith("_s") else pair[0])
        data.append((tname, cname, *vals))
    wide = local_frame(profile_long.sparkSession, data, schema)
    structs = [
        F.struct(
            F.col("table_name"),
            F.col("column_name"),
            F.lit(det.name).alias("detector"),
            F.lit(det.severity).alias("severity"),
            F.round(F.col(f"{det.evidence}_v"), 4).alias("evidence"),
            F.lit(det.detail).alias("detail"),
            F.coalesce(det.cond(), F.lit(False)).alias("_fired"),
        )
        for det in dets
    ]
    return (
        wide.select(F.explode(F.array(*structs)).alias("o"))
        .select("o.*")
        .filter(F.col("_fired"))
        .drop("_fired")
    )


def hygiene_sql(profile_sql_text: str, metrics: list[str], as_of: str) -> str:
    """DuckDB oracle for ``hygiene`` over the same profile SQL."""
    dets = detectors(as_of)
    have = set(metrics)
    wide = _widen_sql(profile_sql_text, metrics)
    selects = []
    for det in dets:
        # skip detectors whose metrics can't exist for this table's dtypes
        toks = {
            t for t in det.cond_sql.replace("(", " ").replace(")", " ").replace(",", " ").split()
            if t.endswith("_v") or t.endswith("_s")
        }
        toks.add(f"{det.evidence}_v")
        if any(t[:-2] not in have for t in toks):
            continue
        selects.append(
            f"SELECT table_name, column_name, '{det.name}' AS detector, "
            f"'{det.severity}' AS severity, round({det.evidence}_v, 4) AS evidence, "
            f"'{det.detail}' AS detail FROM w WHERE coalesce({det.cond_sql}, false)"
        )
    return f"WITH w AS MATERIALIZED ({wide}) " + " UNION ALL ".join(selects)
