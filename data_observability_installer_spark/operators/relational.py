"""Relational operators the reference implies but Spark lacks as
built-ins: as-of join, hierarchical time-bucket rollup, and rolling
anomaly detection over metric history.

- **as-of join** — SURVEY §2.6 names it as the implementation need
  behind schedule-expectation matching (A3) and generally "for each
  probe row, the latest build row at or before it". Spark has no ASOF
  join; the scalable formulation is the union trick: tag both sides,
  union, one window sort per key, ``last(value, ignorenulls)`` — ONE
  shuffle on the join key, no range-explosion, no skew beyond the key
  distribution itself. (A broadcast-range join would replicate the
  build side per probe interval; the union trick is O(n log n) per
  key and AQE-skew-safe.)
- **time-bucket rollup** — the hypertable-style pre-aggregation:
  ``GROUP BY ROLLUP (coarse -> fine)`` computes every granularity in
  one pass (one Expand + one shuffle, vs one shuffle per level if
  issued separately).
- **rolling anomaly** — TestGen task 5 ("continuous periodic
  monitoring of datasets for anomalies", reference README.md:10):
  z-score of each period's value against the trailing-k window,
  excluding the current row so a spike can't mask itself. One window
  sort per series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.pin import pin


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the right row's value columns from
    the latest right.ts <= left.ts (``backward``; ``forward`` takes the
    earliest right.ts >= left.ts) within the same ``on`` key.

    Right side should be unique per (on, ts) — pre-aggregate if not,
    or ties resolve by which row the sort surfaces last. Matches
    DuckDB/pandas ASOF semantics including the inclusive boundary
    (a build row AT the probe timestamp matches).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    value_cols = value_cols or [c for c in right.columns if c not in (on, ts_col)]
    rtypes, ltypes = dict(right.dtypes), dict(left.dtypes)
    lpass = [c for c in left.columns if c not in (on, ts_col)]
    # matched columns keep their name unless the left side already has
    # it, in which case they surface with a _right suffix
    out_name = {c: (f"{c}_right" if c in lpass else c) for c in value_cols}

    r = right.select(
        on,
        ts_col,
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpass],
    )
    l = left.select(
        on,
        ts_col,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(rtypes[c]).alias(f"_r_{c}") for c in value_cols],
        *[F.col(c) for c in lpass],
    )
    u = r.unionByName(l)
    ts_order = F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc()
    # build rows (_side 0) sort before probe rows at equal ts, so an
    # equal-timestamp build row is visible to the probe (inclusive bound)
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        on,
        ts_col,
        "_side",
        *lpass,
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_m_{c}") for c in value_cols],
    )
    return filled.filter(F.col("_side") == 1).select(
        on,
        ts_col,
        *lpass,
        *[F.col(f"_m_{c}").alias(out_name[c]) for c in value_cols],
    )


def time_bucket_rollup(
    df: DataFrame,
    ts_col: str,
    dims: list[str],
    aggs: list,
    bucket: str = "day",
) -> DataFrame:
    """Hierarchical pre-aggregation: one pass computes (dims..., bucket),
    every prefix of it, and the grand total — ``GROUP BY ROLLUP``.
    Output carries ``grouping_level`` (0 = finest) so consumers select
    their granularity without re-aggregating."""
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    keys = [F.col(d) for d in dims] + [b]
    return (
        df.rollup(*keys)
        .agg(*aggs, F.grouping_id().alias("grouping_level"))
    )


def rolling_anomaly(
    series: DataFrame,
    key_cols: list[str],
    period_col: str,
    value_col: str,
    trailing: int = 7,
    z_threshold: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Flag periods whose value deviates > z_threshold sigmas from the
    trailing-``trailing``-period mean (current period EXCLUDED from its
    own baseline). Emits z-score and baseline so alerts are explainable.
    Periods with < min_history trailing points are never flagged
    (cold-start suppression)."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(period_col)
        .rowsBetween(-trailing, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    hist = F.count(value_col).over(w)
    # constant trailing window -> sd 0 -> z undefined (NULL), not a
    # division error (ANSI mode) or inf
    z = (F.col(value_col) - mean) / F.when(sd != 0, sd)
    return series.select(
        *key_cols,
        period_col,
        value_col,
        F.round(mean, 4).alias("baseline_mean"),
        F.round(sd, 4).alias("baseline_sd"),
        hist.alias("history_ct"),
        F.round(z, 4).alias("z_score"),
        (
            (hist >= min_history) & sd.isNotNull() & (sd > 0) & (F.abs(z) > z_threshold)
        ).alias("is_anomaly"),
    )


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    point_ts: str = "ts",
    on: str | None = None,
    bucket: str = "day",
) -> DataFrame:
    """Range join: attach every point to every interval containing it
    (inclusive bounds), optionally also matching an equality key ``on``.

    A naive theta join (``p.ts BETWEEN i.start AND i.end``) has no
    equality key, so Spark plans a broadcast-nested-loop/cartesian —
    quadratic at scale. Bucketing fixes the shape: each interval
    explodes into the ``bucket``-granularity slots it covers
    (``sequence()`` — intervals are short relative to the bucket in
    the observability workload, so fan-out is small), each point maps
    to its one slot, and the join runs as a plain HASH join on
    (slot [, on]) with the exact containment as a post-filter.
    Long-interval outliers cap the fan-out story: pick the bucket one
    order above the p99 interval length.
    """
    slot = F.explode(
        F.sequence(
            F.date_trunc(bucket, F.col(start_col)),
            F.date_trunc(bucket, F.col(end_col)),
            F.expr(f"INTERVAL 1 {bucket}"),
        )
    ).alias("_slot")
    i = intervals.select("*", slot)
    p = points.withColumn("_slot", F.date_trunc(bucket, F.col(point_ts)))
    keys = (["_slot", on] if on else ["_slot"])
    joined = p.join(i, keys, "inner").filter(
        (F.col(point_ts) >= F.col(start_col)) & (F.col(point_ts) <= F.col(end_col))
    )
    return joined.drop("_slot")


def skew_diagnosis(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    target_per_key: int = 100_000,
) -> DataFrame:
    """Join/aggregation skew triage for a key column: the ``top_k``
    heaviest keys with their row counts, corpus share in integer basis
    points, and the salt factor that would level each key to
    ``target_per_key`` rows per salted sub-key (``ceil(ct / target)``
    as integer arithmetic — bit-stable cross-engine).

    This is the measurement step before the salted-join pattern
    (tests/test_skew.py, SKEW_BENCH.json): at 100 TB you salt the
    MEASURED hot keys, not every key — the diagnosis is one map-side
    combined groupBy (shuffle carries one row per distinct key) plus a
    metadata-sized top-k, so it is cheap enough to run ahead of any
    big join. NULL keys count too: a NULL-heavy foreign key is the
    most common real-world skew (unmatched rows all hash together).
    """
    # key-cardinality rows; feeds both the total and the top-k from ONE
    # input scan
    counts = pin(
        df.groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    total = counts.agg(F.sum("ct").cast("long").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "ct",
            F.expr("CAST(ct * 10000L DIV n AS BIGINT)").alias("share_bp"),
            F.expr(
                f"CAST((ct + {int(target_per_key)}L - 1L)"
                f" DIV {int(target_per_key)}L AS BIGINT)"
            ).alias("suggested_salt"),
        )
        .orderBy(F.desc("ct"), "key")
        .limit(top_k)
    )


def skew_diagnosis_sql(
    table: str, key_col: str, top_k: int = 10, target_per_key: int = 100_000
) -> str:
    return f"""
    WITH c AS (
      SELECT CAST({key_col} AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS ct
      FROM {table} GROUP BY 1),
    t AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM c)
    SELECT key, ct,
           CAST(ct * 10000 // n AS BIGINT) AS share_bp,
           CAST((ct + {int(target_per_key)} - 1) // {int(target_per_key)} AS BIGINT)
             AS suggested_salt
    FROM c, t
    ORDER BY ct DESC, key LIMIT {top_k}
    """
