"""Observability analytics A1-A9 over the deterministic event-grammar
fixture (event-time logic exercised with shuffled arrival order)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.obs import (
    agent_liveness,
    entity_search,
    evaluate_rules,
    expected_ticks,
    journey_instances,
    late_runs,
    out_of_sequence,
    run_state_rollup,
    transitive_edges,
)
from data_observability_installer_spark.operators.obs.journeys import assign_to_instances
from data_observability_installer_spark.operators.obs.rollup import (
    test_outcome_rollup as outcome_rollup,
)
from data_observability_installer_spark.sources.events_gen import ANCHOR, build_demo


@pytest.fixture(scope="module")
def demo(spark):
    return build_demo(spark)


@pytest.fixture(scope="module")
def rollup(demo):
    return run_state_rollup(demo["events"]).cache()


def test_a1_run_state_rollup(rollup):
    runs = {r.run_key: r for r in rollup.collect()}
    ok = runs["pipe_main:55:60"]
    assert ok.final_status == "COMPLETED" and ok.task_ct == 8 and ok.failed_task_ct == 0
    assert ok.duration_s == 3600.0
    bad = runs["pipe_main:30:60"]
    assert bad.final_status == "FAILED" and bad.failed_task_ct == 1
    assert bad.start_ts == ANCHOR - dt.timedelta(hours=30)
    # children: run-level only
    assert runs["dim_a:53:20"].final_status == "COMPLETED"
    assert runs["dim_a:53:20"].task_ct == 0


def test_a2_journey_instances(spark, demo, rollup):
    inst = journey_instances(rollup, demo["conditions"])
    j1 = [r for r in inst.collect() if r.journey_id == "j1"]
    assert len(j1) == 3  # three nightly boundary runs
    assert [r.instance_id for r in sorted(j1, key=lambda r: r.instance_start)] == [1, 2, 3]
    assigned = assign_to_instances(rollup, inst, demo["journey_components"])
    per_inst = (
        assigned.filter(F.col("journey_id") == "j1")
        .groupBy("instance_id")
        .count()
        .collect()
    )
    # each nightly instance: root + 4 children (children start 2h later)
    assert {r.instance_id: r["count"] for r in per_inst} == {1: 5, 2: 5, 3: 5}


def test_a3_late_start(spark, rollup, demo):
    ticks = expected_ticks(
        spark, demo["schedules"], ANCHOR - dt.timedelta(hours=56), ANCHOR
    )
    assert ticks.count() == 3  # feb 27/28/29 at 17:00
    late = late_runs(rollup, ticks).collect()
    assert len(late) == 1
    assert late[0].alert_type == "LATE_START"
    assert late[0].tick_ts == dt.datetime(2024, 2, 28, 17, 0)


def test_a4_a5_rules(demo, rollup):
    alerts = evaluate_rules(demo["rules"], rollup, metric_events=demo["events"])
    fired = {(r.rule_id, r.alert_type, round(0 if r.detail_key is None else 0)) for r in alerts.collect()}
    rows = alerts.collect()
    failed = [r for r in rows if r.rule_id == "rule-failed"]
    assert len(failed) == 1 and failed[0].detail_key == "pipe_main:30:60"
    cap = [r for r in rows if r.rule_id == "rule-capacity"]
    assert len(cap) == 1 and cap[0].subject_key == "warehouse-server"


def test_a6_out_of_sequence(spark, demo, rollup):
    edges = [(r.left_id, r.right_id) for r in demo["dag"].filter(F.col("journey_id") == "j2").collect()]
    closure = spark.createDataFrame(
        [("j2", u, d) for u, d in transitive_edges(edges)],
        "journey_id string, up_key string, down_key string",
    )
    inst = journey_instances(rollup, demo["conditions"])
    assigned = assign_to_instances(rollup, inst, demo["journey_components"])
    viol = out_of_sequence(assigned, closure)
    got = {(r.up_key, r.down_key) for r in viol.collect()}
    assert got == {("dia_b", "dia_d"), ("dia_c", "dia_d")}


def test_a7_test_outcome_rollup(demo):
    roll = {r.dataset_key: r for r in outcome_rollup(demo["events"]).collect()}
    d = roll["D_Customer"]
    assert (d.outcome_ct, d.passed_ct, d.warning_ct, d.failed_ct) == (3, 1, 1, 1)
    assert d.failed_tests == ["D_Customer:hcp_state:US_State"]


def test_a8_agent_liveness(demo):
    live = {r.agent_key: r for r in agent_liveness(demo["heartbeats"], str(ANCHOR)).collect()}
    assert live["agent-live"].live is True
    assert live["agent-dead"].live is False
    assert live["agent-live"].heartbeat_ct == 24


def test_a9_entity_search(demo):
    hit = entity_search(demo["components"], "Warehouse").collect()
    assert len(hit) == 1 and hit[0].key == "warehouse-server"


def _mk_rollup(spark, rows):
    return spark.createDataFrame(
        rows, "pipeline_key string, run_key string, start_ts timestamp, end_ts timestamp"
    )


def test_a2_end_bounded_instances(spark):
    """END condition closes the instance at the END-pipeline run end
    when that precedes the next START boundary."""
    t = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731
    rollup = _mk_rollup(
        spark,
        [
            ("S", "s:1", t(0), t(1)),
            ("E", "e:1", t(2), t(5)),  # ends inside [0, 10) -> closes inst 1
            ("S", "s:2", t(10), t(11)),
            ("E", "e:2", t(12), t(15)),  # closes inst 2 (no next start)
        ],
    )
    conditions = spark.createDataFrame(
        [("j", "START", "S"), ("j", "END", "E")],
        "journey_id string, action string, batch_pipeline string",
    )
    inst = {r.instance_id: r for r in journey_instances(rollup, conditions).collect()}
    assert inst[1].instance_start == t(0) and inst[1].instance_end == t(5)
    assert inst[2].instance_start == t(10) and inst[2].instance_end == t(15)
    # without the END condition, next-START semantics hold
    start_only = conditions.filter(F.col("action") == "START")
    inst2 = {r.instance_id: r for r in journey_instances(rollup, start_only).collect()}
    assert inst2[1].instance_end == t(10) and inst2[2].instance_end is None


def test_a2_payload_instances(spark):
    from data_observability_installer_spark.operators.obs.journeys import payload_instances

    t = lambda h: dt.datetime(2024, 3, 1, h)  # noqa: E731
    rollup = _mk_rollup(
        spark,
        [
            ("S", "s:1", t(0), t(1)),   # opens p1 and p2
            ("E", "e:1", t(2), t(3)),   # closes p1
            ("E", "e:2", t(4), t(6)),   # closes p2
        ],
    )
    conditions = spark.createDataFrame(
        [("j", "START", "S"), ("j", "END_PAYLOAD", "E")],
        "journey_id string, action string, batch_pipeline string",
    )
    payloads = spark.createDataFrame(
        [("s:1", "p1"), ("s:1", "p2"), ("e:1", "p1"), ("e:2", "p2")],
        "run_key string, payload_key string",
    )
    got = {r.payload_key: r for r in payload_instances(rollup, conditions, payloads).collect()}
    assert got["p1"].instance_start == t(0) and got["p1"].instance_end == t(3)
    assert got["p2"].instance_start == t(0) and got["p2"].instance_end == t(6)


def test_a3_late_runs_broadcasts_ticks(spark, rollup, demo):
    """The tick table must be the build side of every join in the plan —
    a silently-ignored broadcast hint here shuffles the run rollup."""
    ticks = expected_ticks(
        spark, demo["schedules"], ANCHOR - dt.timedelta(hours=56), ANCHOR
    )
    plan = late_runs(rollup, ticks)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan and "SortMergeJoin" not in plan


def test_transitive_closure():
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    clo = transitive_edges(edges)
    assert ("a", "d") in clo and ("a", "b") in clo and len(clo) == 5


def test_cron_expansion():
    from data_observability_installer_spark.functions.cron import Cron

    c = Cron("0 23 * * *")
    ticks = c.ticks(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 4))
    assert ticks == [dt.datetime(2024, 1, d, 23, 0) for d in (1, 2, 3)]
    c2 = Cron("*/15 9-10 * * 1-5")
    t2 = c2.ticks(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))  # a Monday
    assert len(t2) == 8 and t2[0] == dt.datetime(2024, 1, 1, 9, 0)


def test_cron_timezone_dst_expansion():
    """The reference posts an IANA timezone with every schedule
    (demo_helper.py:658,1072) — ticks must expand against wall-clock
    time in that zone and land at UTC instants that SHIFT across the
    DST transition, where naive expansion provably differs."""
    from data_observability_installer_spark.functions.cron import Cron

    c = Cron("0 23 * * *")  # the demo's own nightly schedule
    # US DST starts 2024-03-10 02:00 local: EST (UTC-5) -> EDT (UTC-4)
    tz_ticks = c.ticks(
        dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 12),
        tz="America/New_York",
    )
    assert tz_ticks == [
        dt.datetime(2024, 3, 9, 4, 0),    # Mar 8 23:00 EST
        dt.datetime(2024, 3, 10, 4, 0),   # Mar 9 23:00 EST
        dt.datetime(2024, 3, 11, 3, 0),   # Mar 10 23:00 EDT — shifted
    ]
    naive = c.ticks(dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 12))
    assert naive != tz_ticks  # a naive expansion mis-times every tick

    # spring-forward: 02:30 local does not exist on Mar 10 -> skipped
    spring = Cron("30 2 * * *").ticks(
        dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 12),
        tz="America/New_York",
    )
    assert spring == [
        dt.datetime(2024, 3, 9, 7, 30),   # Mar 9 02:30 EST
        dt.datetime(2024, 3, 11, 6, 30),  # Mar 11 02:30 EDT; Mar 10 skipped
    ]

    # fall-back 2024-11-03: 01:30 local happens twice -> fires ONCE,
    # at the first (EDT) instant — Vixie-cron semantics
    fall = Cron("30 1 * * *").ticks(
        dt.datetime(2024, 11, 3), dt.datetime(2024, 11, 4),
        tz="America/New_York",
    )
    assert fall == [dt.datetime(2024, 11, 3, 5, 30)]  # 01:30 EDT only

    # UTC zone == naive expansion (contract anchor)
    assert c.ticks(
        dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 12), tz="UTC"
    ) == naive


def test_cron_segment_fastpath_matches_minute_loop():
    """r14: ticks() walks constant-offset hour chunks arithmetically
    (one conversion per chunk edge instead of one per minute); this
    pins it against the reference per-minute astimezone loop across
    the paths that could diverge — DST edges inside a chunk,
    fractional offsets (+05:45, 30-minute DST), dense minute fields
    over a fall-back day, and a date-line jump."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    from data_observability_installer_spark.functions.cron import Cron

    def ref_ticks(cron, start, end, tz):
        t = start
        zone = ZoneInfo(tz)
        utc = dt.timezone.utc
        out = []
        while t < end:
            wall = t.replace(tzinfo=utc).astimezone(zone).replace(tzinfo=None)
            if cron.matches(wall):
                first = (
                    wall.replace(tzinfo=zone, fold=0)
                    .astimezone(utc)
                    .replace(tzinfo=None)
                )
                if first == t:
                    out.append(t)
            t += dt.timedelta(minutes=1)
        return out

    cases = [
        ("*/20 * * * *", dt.datetime(2024, 11, 2), dt.datetime(2024, 11, 4), "America/New_York"),
        ("*/7 3,4 10,11 3 *", dt.datetime(2024, 3, 9), dt.datetime(2024, 3, 12), "America/New_York"),
        ("0 12 * * *", dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 20), "Asia/Kathmandu"),
        ("30 10 * * *", dt.datetime(2024, 9, 25), dt.datetime(2024, 10, 12), "Australia/Lord_Howe"),
        ("0 0 1 * *", dt.datetime(2011, 12, 20), dt.datetime(2012, 1, 10), "Pacific/Apia"),
    ]
    for sched, s, e, tz in cases:
        c = Cron(sched)
        assert c.ticks(s, e, tz=tz) == ref_ticks(c, s, e, tz), (sched, tz)


def test_expected_ticks_honors_schedule_timezone(spark):
    """expected_ticks reads the schedule dict's timezone field and
    emits UTC tick_ts; a UTC-zone schedule reproduces the naive
    frame (back-compat). Ticks are read as strings under the UTC
    session, so the check holds whatever the host's time zone."""
    from data_observability_installer_spark.operators.obs.schedules import (
        expected_ticks,
    )

    schedules = [
        {"component_key": "ny", "schedule": "0 23 * * *", "margin_s": 600,
         "timezone": "America/New_York"},
        {"component_key": "utc", "schedule": "0 23 * * *", "margin_s": 600},
    ]
    ticks = expected_ticks(spark, schedules, dt.datetime(2024, 3, 10), dt.datetime(2024, 3, 12))
    tick = F.date_format("tick_ts", "yyyy-MM-dd HH:mm")
    got = set(map(tuple, ticks.select("component_key", tick).collect()))
    assert got == {
        ("ny", "2024-03-10 04:00"),
        ("ny", "2024-03-11 03:00"),
        ("utc", "2024-03-10 23:00"),
        ("utc", "2024-03-11 23:00"),
    }


def test_funnel_strict_ordering(spark):
    """A click BEFORE the first view must not count toward stage 2."""
    from data_observability_installer_spark.operators.obs.funnel import funnel_stages

    rows = [
        # u1: view -> click -> purchase (full funnel)
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 11:00:00", "click"),
        (1, "2024-01-01 12:00:00", "purchase"),
        # u2: click before any view -> stops at stage 1
        (2, "2024-01-01 09:00:00", "click"),
        (2, "2024-01-01 10:00:00", "view"),
        # u3: view only
        (3, "2024-01-01 10:00:00", "view"),
        # u4: never views -> not in funnel at all
        (4, "2024-01-01 10:00:00", "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts string, event_type string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {r.stage: r.entity_ct for r in funnel_stages(ev, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_retention_cohort_offsets(spark):
    from data_observability_installer_spark.operators.obs.funnel import retention_cohorts

    rows = [
        (1, "2024-01-01 10:00:00"),  # Monday, week 0
        (1, "2024-01-09 10:00:00"),  # next week -> offset 1
        (1, "2024-01-16 10:00:00"),  # offset 2
        (2, "2024-01-02 10:00:00"),  # same cohort week as u1
        (2, "2024-01-17 10:00:00"),  # offset 2
        (3, "2024-01-10 10:00:00"),  # cohort week 2024-01-08
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {(r.cohort_week, r.week_offset): r.active_entities
           for r in retention_cohorts(ev).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 2): 2,
        ("2024-01-08", 0): 1,
    }


def test_dag_cycles_detects_and_clears():
    from data_observability_installer_spark.operators.obs.journeys import dag_cycles

    # diamond (a real DAG): no cycles
    assert dag_cycles([("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]) == []
    # b -> c -> d -> b cycle: exactly the cycle members flagged, not 'a'
    assert dag_cycles([("a", "b"), ("b", "c"), ("c", "d"), ("d", "b")]) == ["b", "c", "d"]
    # self-loop
    assert dag_cycles([("x", "x")]) == ["x"]


def test_session_window_exact_gap_boundary_merges(spark):
    """Pins the measured boundary semantics the session_window oracle
    twin encodes: an event arriving EXACTLY gap seconds after its
    predecessor merges into the same session (close-inclusive); only a
    strictly larger silence opens a new one."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    exact = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=1800))], "user_id int, ts timestamp"
    )
    over = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(seconds=1801))], "user_id int, ts timestamp"
    )
    n_exact = exact.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().count()
    n_over = over.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().count()
    assert n_exact == 1 and n_over == 2


def test_critical_path_diamond(spark):
    """Diamond DAG a->(b,c)->d: the longest-duration branch gates d;
    slowest-run-per-component durations; missing components break
    paths."""
    import datetime as dt

    from data_observability_installer_spark.operators.obs.journeys import (
        critical_path,
        dag_depth,
    )

    T = dt.datetime
    rows = [
        # instance 1: a 10s; b 20s; c 5s; d 3s -> d path = 10+20+3 = 33
        (1, "a", "r1", T(2025, 1, 1, 0, 0, 0), T(2025, 1, 1, 0, 0, 10)),
        (1, "b", "r2", T(2025, 1, 1, 0, 1, 0), T(2025, 1, 1, 0, 1, 20)),
        (1, "c", "r3", T(2025, 1, 1, 0, 1, 0), T(2025, 1, 1, 0, 1, 5)),
        (1, "d", "r4", T(2025, 1, 1, 0, 2, 0), T(2025, 1, 1, 0, 2, 3)),
        # b has a second, slower run: max duration (25s) wins
        (1, "b", "r5", T(2025, 1, 1, 0, 1, 30), T(2025, 1, 1, 0, 1, 55)),
        # instance 2: b missing -> d path goes through c: 7+2+4 = 13
        (2, "a", "r6", T(2025, 1, 2, 0, 0, 0), T(2025, 1, 2, 0, 0, 7)),
        (2, "c", "r7", T(2025, 1, 2, 0, 1, 0), T(2025, 1, 2, 0, 1, 2)),
        (2, "d", "r8", T(2025, 1, 2, 0, 2, 0), T(2025, 1, 2, 0, 2, 4)),
    ]
    assigned = spark.createDataFrame(
        rows,
        "instance_id int, pipeline_key string, run_key string, "
        "start_ts timestamp, end_ts timestamp",
    )
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    assert dag_depth(edges) == 2
    got = {
        (r["instance_id"], r["pipeline_key"]): (r["path_s"], r["is_critical"])
        for r in critical_path(assigned, edges).collect()
    }
    assert got[(1, "d")] == (10 + 25 + 3, True)  # slower b run gates
    assert got[(1, "b")] == (10 + 25, False)
    assert got[(1, "c")] == (15.0, False)
    assert got[(2, "d")] == (7 + 2 + 4, True)  # path through c only
    assert got[(2, "a")] == (7.0, False)


def test_burstiness_separates_steady_from_bursty(spark):
    """A perfectly regular clock has CoV = B-index floor -> sigma 0;
    a heavy-tailed stream (99 ticks then one huge hole) scores high."""
    from datetime import datetime, timedelta

    from data_observability_installer_spark.operators.obs.liveness import burstiness

    t0 = datetime(2026, 1, 1)
    steady = [("steady", t0 + timedelta(seconds=60 * i), i) for i in range(50)]
    bursty = [("bursty", t0 + timedelta(seconds=i), 100 + i) for i in range(50)]
    bursty.append(("bursty", t0 + timedelta(days=2), 999))
    df = spark.createDataFrame(
        steady + bursty, "pk string, ts timestamp, event_id long"
    )
    out = {r.pk: r for r in burstiness(df, "pk", "ts", "event_id").collect()}
    s, b = out["steady"], out["bursty"]
    assert s.cov_bp == 0 and s.mean_gap_s == 60  # sigma exactly 0
    assert -10000 <= s.burstiness_bp < 0  # regular -> B < 0 (floor of -1)
    assert b.cov_bp > 30000 and b.burstiness_bp > 5000  # hole dominates
    assert b.max_gap_s > 86400


def test_monitor_pane_agrees_with_its_screens(spark, sf_smoke):
    """The single pane is pure composition: every verdict equals the
    underlying screen's own output."""
    from data_observability_installer_spark.plans import registry

    pane = {
        (r.screen, r.entity): r.flagged
        for r in registry.QUERIES["monitor_events"](spark, sf_smoke).collect()
    }
    mk = {r.k: r.significant for r in registry.QUERIES["mk_trend_events"](spark, sf_smoke).collect()}
    cs = {r.k: r.out_of_control for r in registry.QUERIES["cusum_shift_events"](spark, sf_smoke).collect()}
    assert all(pane[("mk_trend", k)] == v for k, v in mk.items())
    assert all(pane[("cusum", k)] == v for k, v in cs.items())
    # r12: the pane gained the per-pipeline SLA p99 screen (the grouped
    # quantile-sketch serving path) — same composition contract
    sla = {
        r.pipeline_key: r.est
        for r in registry.QUERIES["qsketch_sla_events"](spark, sf_smoke)
        .filter("q_bp = 9900")
        .collect()
    }
    assert all(
        pane[("sla_p99", k)] == (v >= registry._SLA_P99_FLAG_S)
        for k, v in sla.items()
    )
    assert {s for s, _ in pane} == {
        "mk_trend", "cusum", "changepoint", "p_chart", "sla_p99"
    }


def _events_contract_breaches(ev) -> dict:
    """Rows of an events frame that break the contract the run rollup
    (``run_key`` = user_id + day, grouped next to ``user_id``) and the
    lineage ``co_key`` rely on: a null ``user_id`` or a null ``ts``."""
    r = ev.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in ("user_id", "ts")]
    ).first()
    return {c: int(r[c] or 0) for c in ("user_id", "ts")}


def test_events_contract_holds_at_every_sf(spark, sf_smoke):
    """``user_id`` and ``ts`` are never null in ``events`` at any scale
    factor of the test data, and the check fires on a planted null."""
    import glob
    import os

    from data_observability_installer_spark.sources.tables import load_table

    sfs = sorted(glob.glob(os.path.join(os.path.dirname(sf_smoke), "sf*")))
    assert sf_smoke in sfs
    for sf in sfs:
        ev = load_table(spark, sf, "events")
        assert ev.limit(1).count() == 1, sf
        assert _events_contract_breaches(ev) == {"user_id": 0, "ts": 0}, sf
    ev = load_table(spark, sf_smoke, "events")
    first = ev.agg(F.min("event_id")).first()[0]
    for c in ("user_id", "ts"):
        planted = ev.withColumn(
            c, F.when(F.col("event_id") == first, F.lit(None)).otherwise(F.col(c))
        )
        assert _events_contract_breaches(planted) == {
            "user_id": int(c == "user_id"), "ts": int(c == "ts")
        }
