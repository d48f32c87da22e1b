"""The driver hand-back (functions/driver.local_frame): frames built from
driver-side rows equal the list path's rows and schema, plan as a
LocalTableScan and read naive timestamps as UTC on any host."""

from __future__ import annotations

import datetime as dt
import re
import time

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.functions import driver
from data_observability_installer_spark.operators.llm import multimodal, similarity
from data_observability_installer_spark.operators.obs import schedules
from data_observability_installer_spark.plans import registry
from data_observability_installer_spark.sources import events_gen

_SCHEDULES = [
    {"component_key": "c", "schedule": "0 17 * * *", "margin_s": 600},
    {"component_key": "ny", "schedule": "30 9 * * 1", "margin_s": 60,
     "timezone": "America/New_York"},
]
_WINDOW = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 8))

# (module whose local_frame calls are captured, the build that makes them)
_BUILDS = {
    "pq_books": (similarity, lambda s: similarity._pq_books_table(s, similarity.pq_codebooks())),
    "media": (multimodal, multimodal.synth_media),
    "build_demo": (events_gen, events_gen.build_demo),
    "expected_ticks": (schedules, lambda s: schedules.expected_ticks(s, _SCHEDULES, *_WINDOW)),
    "empty_ddl": (driver, lambda s: driver.local_frame(s, [], "a int, b array<bigint>, t timestamp")),
}


@pytest.mark.parametrize("case", sorted(_BUILDS))
def test_local_frame_matches_list_path(spark, monkeypatch, case):
    """Every frame a build hands back equals, row for row and in
    schema, what ``spark.createDataFrame(rows, schema)`` gives for the
    same rows (this host runs in UTC, where the list path's naive
    timestamps are UTC too)."""
    module, build = _BUILDS[case]
    real = driver.local_frame
    calls = []
    monkeypatch.setattr(
        module, "local_frame", lambda s, rows, schema: calls.append((rows, schema)) or real(s, rows, schema)
    )
    build(spark)
    assert calls
    for rows, schema in calls:
        got, want = real(spark, rows, schema), spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


def test_expected_ticks_ignore_host_time_zone(spark, monkeypatch):
    """A naive-UTC cron tick lands at the same instant whatever the
    process time zone: the list path read it in the host's zone
    (``time.mktime``), putting a 17:00 UTC tick at 22:00 under New York."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ticks = schedules.expected_ticks(spark, _SCHEDULES[:1], *_WINDOW)
        got = {r[0] for r in ticks.select(F.date_format("tick_ts", "HH:mm")).collect()}
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == {"17:00"}


def test_a6_literal_tables_are_local_scans(spark, sf_smoke, monkeypatch):
    """a6_out_of_sequence's three literal tables — the instance
    conditions and the components under its pinned run assignment, and
    the DAG closure — each plan as a LocalTableScan."""
    from data_observability_installer_spark.operators.obs import journeys

    handed, real = [], journeys.pin
    monkeypatch.setattr(journeys, "pin", lambda df, *a, **k: handed.append(df) or real(df, *a, **k))
    registry.clear_caches()
    df = registry.QUERIES["a6_out_of_sequence"](spark, sf_smoke)
    df.collect()
    plans = "\n".join(d._jdf.queryExecution().executedPlan().toString() for d in [*handed, df])
    assert len(set(re.findall(r"LocalTableScan \[[^\]]*\]", plans))) == 3, plans
