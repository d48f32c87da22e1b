"""A3 schedule expectations: late-start / late-end detection.

A schedule ``{expectation: BATCH_PIPELINE_START_TIME, schedule: cron,
margin: seconds}`` on a component (demo_helper.py:653-659, :1067-1073)
means: every cron tick, a run must START within ``margin`` seconds, or
the run-state becomes LATE_START (rules match on it,
demo_helper.py:1889-1915). LATE_END analogously via
BATCH_PIPELINE_END_TIME.

Batch shape: expand the cron to expected ticks on the driver
(metadata-sized), then LEFT JOIN actual runs into [tick, tick+margin]
and keep ticks with no match — an anti-join against an interval. The
tick table is broadcast; the runs side stays distributed.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions.cron import Cron
from ...functions.driver import local_frame


def expected_ticks(
    spark: SparkSession,
    schedules: list[dict],
    window_start: dt.datetime,
    window_end: dt.datetime,
) -> DataFrame:
    """Schedules (dicts with component_key/expectation/schedule/margin_s
    and optional ``timezone``, an IANA name — the reference posts
    ``"timezone": "America/New_York"`` with every schedule,
    demo_helper.py:653-659, :1067-1073) -> tick table (component_key,
    expectation, tick_ts, margin_s). The window bounds and emitted
    tick_ts are UTC; the cron expands against wall-clock time in the
    schedule's zone, so non-UTC deployments and DST transitions land
    their expectations at the right instants. The naive-UTC ticks go
    back through :func:`local_frame`, which reads them as UTC, so tick
    instants do not depend on the host's time zone either."""
    rows = []
    cache: dict[tuple, list] = {}  # fleets share few distinct (cron, tz)
    for s in schedules:
        ck = (s["schedule"], s.get("timezone"))
        if ck not in cache:
            cache[ck] = Cron(s["schedule"]).ticks(
                window_start, window_end, tz=s.get("timezone")
            )
        ticks = cache[ck]
        for tick in ticks:
            rows.append((s["component_key"], s.get("expectation", "BATCH_PIPELINE_START_TIME"), tick, int(s["margin_s"])))
    return local_frame(
        spark, rows, "component_key string, expectation string, tick_ts timestamp, margin_s int"
    )


def late_runs(run_rollup: DataFrame, ticks: DataFrame) -> DataFrame:
    """Ticks with no run start/end inside [tick, tick+margin] ->
    LATE_START / LATE_END alert rows.

    Shape: an outer join that preserves the tiny tick side cannot
    broadcast it (Spark only broadcasts the build side), so instead the
    big runs table INNER-joins the broadcast ticks — a streamed
    broadcast-hash join — producing the matched-tick set (≤ |ticks|
    rows), and the miss set is a broadcast anti-join of two tiny
    tables. The run rollup never shuffles.
    """
    event_ts = F.when(
        F.col("t.expectation") == "BATCH_PIPELINE_END_TIME", F.col("r.end_ts")
    ).otherwise(F.col("r.start_ts"))
    matched = (
        run_rollup.alias("r")
        .join(
            F.broadcast(ticks.alias("t")),
            (F.col("r.pipeline_key") == F.col("t.component_key"))
            & (event_ts >= F.col("t.tick_ts"))
            & (event_ts <= F.col("t.tick_ts") + F.col("t.margin_s").cast("long").cast("interval second")),
        )
        .select("t.component_key", "t.expectation", "t.tick_ts")
        .distinct()
    )
    return (
        ticks.join(
            F.broadcast(matched), ["component_key", "expectation", "tick_ts"], "left_anti"
        ).select(
            F.col("component_key"),
            F.col("tick_ts"),
            F.col("margin_s"),
            F.when(F.col("expectation") == "BATCH_PIPELINE_END_TIME", "LATE_END")
            .otherwise("LATE_START")
            .alias("alert_type"),
        )
    )


def ontime_scoreboard(ticks: DataFrame, late_alerts: DataFrame) -> DataFrame:
    """Data-downtime KPI per component: expected schedule ticks vs
    LATE_START misses over the window, with on-time share in integer
    basis points — the scoreboard a3's per-tick alerts roll up into
    (the number an SLA review reads). Both inputs are tick-grained
    (metadata-sized: components x window days); pure integer
    arithmetic, oracle-exact."""
    t = ticks.groupBy("component_key").agg(
        F.count(F.lit(1)).cast("long").alias("ticks_total")
    )
    miss = late_alerts.groupBy("component_key").agg(
        F.count(F.lit(1)).cast("long").alias("ticks_late")
    )
    return (
        t.join(miss, "component_key", "left")
        .select(
            "component_key",
            "ticks_total",
            F.coalesce(F.col("ticks_late"), F.lit(0)).cast("long").alias("ticks_late"),
        )
        .withColumn(
            "ontime_bp",
            F.expr(
                "CAST((ticks_total - ticks_late) * 10000L DIV ticks_total AS BIGINT)"
            ),
        )
        .orderBy("component_key")
    )
