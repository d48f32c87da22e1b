"""Deterministic observability-demo fixture (SURVEY §2.2 G1-G3, G9-G11).

Replays the reference demo's event grammar with a FIXED anchor instant
(the demo backdates runs -7/-31/-55 h from wall clock,
``demo/demo/observability_demo.py:24``; we backdate from a constant so
tests are reproducible):

- run lifecycle G1: RUNNING → task ladder → COMPLETED/FAILED, run_key
  format ``"<name>:<backdate>:<length>"`` (demo_helper.py:503-527)
- task ladder G3: fixed 8-task warehouse-load sequence with the
  reference's minute offsets (+12,+15,+18,+23,+29,+32, demo_helper.py:769-787)
- journeys G10: fan-out 1→4 (demo_helper.py:1040-1046), diamond
  (:1821-1844), isolated node (:1845-1849); schedules 0 23 * * * with
  600 s margin (:653-659); instance START conditions (:662-677)
- metrics/logs G9: fixed metrics + a Cluster Capacity spike matching
  the metric rule (:1917-1937)
- heartbeats G11: 25 s cadence, one agent goes silent (heartbeat_demo.py)

Planted anomalies for the analytics tests: one FAILED run, one
schedule tick with no run (late start), one out-of-DAG-order pair, and
deliberately shuffled insertion order (event-time ≠ arrival order).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from ..functions.driver import local_frame
from ..schemas import HEARTBEAT, OBS_EVENT

ANCHOR = dt.datetime(2024, 3, 1, 0, 0, 0)

TASK_LADDER = [
    ("Create_Schema", 12),
    ("Load_Raw_Data", 15),
    ("Cleanse", 18),
    ("Load_Dim_Customer", 23),
    ("Load_Dim_Product", 29),
    ("Load_Dim_Date", 32),
    ("Load_Facts", 40),
    ("Run_Tests", 45),
]


def _run_events(
    eid: int,
    pipeline: str,
    backdate_h: int,
    length_min: int,
    failure: bool = False,
    tool: str = "airflow",
    with_tasks: bool = True,
):
    """G1/G3: one run's RUN_STATUS ladder. Returns (rows, next_eid)."""
    t0 = ANCHOR - dt.timedelta(hours=backdate_h)
    run_key = f"{pipeline}:{backdate_h}:{length_min}"
    rows = []

    def ev(ts, status, task=None):
        nonlocal eid
        rows.append(
            {
                "event_id": eid,
                "event_type": "RUN_STATUS",
                "event_timestamp": ts,
                "pipeline_key": pipeline,
                "run_key": run_key,
                "task_key": task,
                "task_name": task,
                "component_tool": tool,
                "status": status,
            }
        )
        eid += 1

    ev(t0, "RUNNING")
    if with_tasks:
        for i, (task, off) in enumerate(TASK_LADDER):
            ev(t0 + dt.timedelta(minutes=off), "RUNNING", task)
            if failure and i == len(TASK_LADDER) - 1:
                ev(t0 + dt.timedelta(minutes=off + 3), "FAILED", task)
            else:
                ev(t0 + dt.timedelta(minutes=off + 2), "COMPLETED", task)
    ev(t0 + dt.timedelta(minutes=length_min), "FAILED" if failure else "COMPLETED")
    return rows, eid, run_key, t0


def build_demo(spark: SparkSession) -> dict:
    rows: list[dict] = []
    eid = 0

    # --- journey 1: fan-out 1→4, nightly schedule on the root ---
    fanout_root = "pipe_main"
    fanout_children = ["dim_a", "dim_b", "dim_c", "facts"]
    # replay three nightly runs; the middle one fails AND starts an hour
    # off-schedule (backdate 30 ≠ the 17:00 tick -> LATE_START fixture)
    for backdate, failure in [(55, False), (30, True), (7, False)]:
        r, eid, _, t0 = _run_events(eid, fanout_root, backdate, 60, failure)
        rows.extend(r)
        for j, child in enumerate(fanout_children):
            cr, eid, _, _ = _run_events(
                eid, child, backdate - 2, 20, False, tool="redshift", with_tasks=False
            )
            rows.extend(cr)

    # --- journey 2: diamond a→(b,c)→d with planted out-of-sequence ---
    r, eid, _, _ = _run_events(eid, "dia_a", 10, 30, with_tasks=False)
    rows.extend(r)
    r, eid, _, _ = _run_events(eid, "dia_b", 9, 30, with_tasks=False)  # ends at -8h30m
    rows.extend(r)
    r, eid, _, _ = _run_events(eid, "dia_c", 9, 10, with_tasks=False)
    rows.extend(r)
    # d starts BEFORE b ends -> OUT_OF_SEQUENCE
    r, eid, _, _ = _run_events(eid, "dia_d", 9, 5, with_tasks=False)
    rows.extend(r)

    # --- G9 metrics: capacity spike crossing the gt-80 rule ---
    for i, val in enumerate([27.0, 45.0, 92.5, 31.0]):
        rows.append(
            {
                "event_id": eid,
                "event_type": "METRIC_LOG",
                "event_timestamp": ANCHOR - dt.timedelta(hours=6, minutes=30 - i),
                "server_key": "warehouse-server",
                "metric_key": "Cluster Capacity Percentage",
                "metric_value": val,
            }
        )
        eid += 1
    # message logs on the failed run
    for lvl, msg, mins in [("INFO", "starting load", 0), ("ERROR", "load aborted", 50)]:
        rows.append(
            {
                "event_id": eid,
                "event_type": "MESSAGE_LOG",
                "event_timestamp": ANCHOR - dt.timedelta(hours=30) + dt.timedelta(minutes=mins),
                "pipeline_key": fanout_root,
                "run_key": f"{fanout_root}:30:60",
                "log_level": lvl,
                "message": msg,
            }
        )
        eid += 1
    # one TestOutcomes event on a dataset component (A7 fixture;
    # shape per demo_helper.py:852-886)
    rows.append(
        {
            "event_id": eid,
            "event_type": "TEST_OUTCOMES",
            "event_timestamp": ANCHOR - dt.timedelta(hours=6),
            "dataset_key": "D_Customer",
            "test_outcomes": [
                {"name": "D_Customer:hcp_id:Unique", "status": "PASSED",
                 "description": "no repeated values", "result": None,
                 "metric_value": "0", "min_threshold": None, "max_threshold": "0",
                 "integrations": None},
                {"name": "D_Customer:hcp_zip:Pattern_Match", "status": "WARNING",
                 "description": "zip pattern", "result": "3 mismatches",
                 "metric_value": "3", "min_threshold": None, "max_threshold": "0",
                 "integrations": None},
                {"name": "D_Customer:hcp_state:US_State", "status": "FAILED",
                 "description": "state codes", "result": "9 invalid",
                 "metric_value": "9", "min_threshold": None, "max_threshold": "0",
                 "integrations": None},
            ],
        }
    )
    eid += 1

    # arrival order ≠ event order (the demo replays history)
    rows.sort(key=lambda r: (r["event_id"] * 2654435761) % 2**32)
    events = local_frame(
        spark, [tuple(r.get(f.name) for f in OBS_EVENT.fields) for r in rows], OBS_EVENT
    )

    # --- catalog ---
    components = local_frame(
        spark,
        [
            (k, "proj", "BATCH_PIPELINE", k.replace("_", " ").title(), k, "airflow")
            for k in [fanout_root, *fanout_children, "dia_a", "dia_b", "dia_c", "dia_d", "island"]
        ]
        + [("warehouse-server", "proj", "SERVER", "Warehouse Server", "warehouse-server", "redshift")],
        "component_id string, project_id string, type string, name string, key string, tool string",
    )
    dag = local_frame(
        spark,
        [("j1", fanout_root, c) for c in fanout_children]
        + [
            ("j2", "dia_a", "dia_b"),
            ("j2", "dia_a", "dia_c"),
            ("j2", "dia_b", "dia_d"),
            ("j2", "dia_c", "dia_d"),
            ("j2", None, "island"),  # isolated node: one side absent
        ],
        "journey_id string, left_id string, right_id string",
    )
    conditions = local_frame(
        spark,
        [("j1", "START", fanout_root), ("j2", "START", "dia_a")],
        "journey_id string, action string, batch_pipeline string",
    )
    journey_components = local_frame(
        spark,
        [("j1", k) for k in [fanout_root, *fanout_children]]
        + [("j2", k) for k in ["dia_a", "dia_b", "dia_c", "dia_d"]],
        "journey_id string, component_key string",
    )
    # nightly 23:00 with 600 s margin; runs start at 17:00 UTC (-7h) etc ->
    # every tick in the window is missed except none: all three runs are
    # late vs 23:00, so the late-start fixture is the tick table itself.
    schedules = [
        {
            "component_key": fanout_root,
            "expectation": "BATCH_PIPELINE_START_TIME",
            "schedule": "0 17 * * *",
            "margin_s": 600,
        }
    ]
    rules = [
        {
            "rule_id": "rule-failed",
            "journey_id": "j1",
            "action": "SEND_EMAIL",
            "conditions": {"when": "all", "conditions": [{"run_state": {"matches": "FAILED"}}]},
        },
        {
            "rule_id": "rule-capacity",
            "journey_id": "j1",
            "action": "CALL_WEBHOOK",
            "component": "warehouse-server",
            "conditions": [
                {"metric_log": {"key": "Cluster Capacity Percentage", "operator": "gt", "static_value": 80}}
            ],
        },
        {
            "rule_id": "rule-ooo",
            "journey_id": "j2",
            "action": "SEND_EMAIL",
            "conditions": [{"instance_alert": {"type_matches": ["OUT_OF_SEQUENCE"]}}],
        },
    ]

    # --- G11 heartbeats: agent-live beats to ANCHOR, agent-dead stops ---
    hb = []
    for agent, beats in [("agent-live", 24), ("agent-dead", 6)]:
        for i in range(beats):
            hb.append(
                (agent, "airflow", "1.0", ANCHOR - dt.timedelta(minutes=10) + dt.timedelta(seconds=25 * i))
            )
    heartbeats = local_frame(spark, hb, HEARTBEAT)

    return {
        "events": events,
        "components": components,
        "dag": dag,
        "conditions": conditions,
        "journey_components": journey_components,
        "schedules": schedules,
        "rules": rules,
        "heartbeats": heartbeats,
        "anchor": ANCHOR,
    }
