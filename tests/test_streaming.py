"""Structured Streaming variants: replay the event fixture through a
file stream and check streaming results match the batch analytics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.obs import run_state_rollup
from data_observability_installer_spark.schemas import OBS_EVENT
from data_observability_installer_spark.sources.events_gen import build_demo
from data_observability_installer_spark.streaming.rollups import (
    metric_alert_stream,
    run_state_rollup_stream,
    session_rollup_stream,
)
from data_observability_installer_spark.streaming.run_tracker import track_runs_stream


@pytest.fixture(scope="module")
def event_stream_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_json"))
    build_demo(spark)["events"].write.mode("overwrite").json(path)
    return path


def _run_stream(spark, stream_df, mode: str, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_rollup_matches_batch(spark, event_stream_path):
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark, run_state_rollup_stream(stream), "update", "rollup_stream"
    )
    batch = run_state_rollup(spark.read.schema(OBS_EVENT).json(event_stream_path))
    got = {
        (r.pipeline_key, r.run_key): (r.final_status, r.event_ct)
        for r in out.collect()
    }
    want = {
        (r.pipeline_key, r.run_key): (r.final_status, r.event_ct)
        for r in batch.collect()
    }
    assert got == want and len(got) >= 16


def test_streaming_metric_alerts(spark, event_stream_path):
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark,
        metric_alert_stream(stream, "Cluster Capacity Percentage", "gt", 80.0),
        "append",
        "alert_stream",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].metric_value == 92.5


def test_streaming_session_windows(spark, event_stream_path):
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark,
        session_rollup_stream(stream.filter(F.col("event_type") == "RUN_STATUS")),
        "append",
        "session_stream",
    )
    rows = out.filter(F.col("pipeline_key") == "pipe_main").collect()
    # three nightly replays; the newest session stays open (append mode
    # only emits sessions the watermark has sealed), so two rows land
    assert len(rows) == 2
    assert {r.failed_ct > 0 for r in rows} == {True, False}


def test_streaming_outcome_rollup_matches_batch(spark, event_stream_path):
    from data_observability_installer_spark.operators.obs.rollup import (
        test_outcome_rollup as outcome_rollup,
    )
    from data_observability_installer_spark.streaming.rollups import outcome_rollup_stream

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, outcome_rollup_stream(stream), "update", "outcome_stream")
    got = {r.dataset_key: (r.outcome_ct, r.passed_ct, r.failed_ct)
           for r in out.filter(F.col("dataset_key").isNotNull()).collect()}
    batch = spark.read.schema(OBS_EVENT).json(event_stream_path)
    want = {r.dataset_key: (r.outcome_ct, r.passed_ct, r.failed_ct)
            for r in outcome_rollup(batch).collect()}
    assert got == want and len(got) >= 1


def test_streaming_message_log_windows(spark, event_stream_path):
    from data_observability_installer_spark.streaming.rollups import message_log_stream

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    # fixture has 2 MESSAGE_LOGs at 18:00/18:50; the filter pushes below
    # the watermark node so only MESSAGE_LOG rows advance the clock
    # (max 18:50) — a 30m window + 10m watermark seals [18:00, 18:30)
    out = _run_stream(
        spark,
        message_log_stream(stream, window="30 minutes", watermark="10 minutes"),
        "append",
        "msglog_stream",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].pipeline_key == "pipe_main"
    assert rows[0].message_ct == 1
    assert 0.0 <= rows[0].error_rate <= 1.0


def test_streaming_alert_sink_delivers(spark, event_stream_path):
    from data_observability_installer_spark.streaming.rollups import alert_sink

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    alerts = metric_alert_stream(stream, "Cluster Capacity Percentage", "gt", 80.0)
    delivered = []
    q = alert_sink(alerts, lambda rows, bid: delivered.extend(rows), "sink_test")
    q.awaitTermination(120)
    assert len(delivered) == 1 and delivered[0].alert_type == "METRIC_THRESHOLD"


def test_streaming_volume_and_freshness(spark, event_stream_path):
    from data_observability_installer_spark.streaming.dq import (
        freshness_stream,
        volume_anomaly_stream,
    )

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    vol = _run_stream(
        spark,
        volume_anomaly_stream(stream, "event_timestamp", "pipeline_key",
                              expected_per_window=1000.0, tolerance_pct=50.0),
        "append",
        "volume_stream",
    )
    rows = vol.collect()  # fixture rates are far below 1000/h -> all anomalous
    assert rows and all(r.alert_type == "VOLUME_ANOMALY" for r in rows)

    fresh = _run_stream(
        spark,
        freshness_stream(stream, "event_timestamp", "pipeline_key"),
        "update",
        "fresh_stream",
    )
    batch = spark.read.schema(OBS_EVENT).json(event_stream_path)
    want = {r.pipeline_key: r.last_seen for r in
            batch.groupBy("pipeline_key").agg(F.max("event_timestamp").alias("last_seen")).collect()}
    got = {r.pipeline_key: r.last_seen for r in fresh.collect()}
    assert got == want


def test_stateful_run_tracker(spark, event_stream_path):
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, track_runs_stream(stream), "append", "tracker_stream")
    got = {r.run_key: r.final_status for r in out.collect()}
    assert got["pipe_main:30:60"] == "FAILED"
    assert got["pipe_main:7:60"] == "COMPLETED"
    assert got["pipe_main:55:60"] == "COMPLETED"


def test_streaming_late_start_absence_alert(spark, tmp_path):
    """A3 streaming: a scheduled tick with NO timely RUNNING event must
    produce a LATE_START alert once the watermark passes tick+margin —
    alerting on absence, which only a timer-based stateful op can do."""
    import datetime as dt

    from data_observability_installer_spark.streaming.schedules import late_start_stream

    def ev(eid, day, hh, mm, pipeline="sched_pipe"):
        return {
            "event_id": eid,
            "event_type": "RUN_STATUS",
            "event_timestamp": dt.datetime(2025, 1, day, hh, mm),
            "pipeline_key": pipeline,
            "run_key": f"{pipeline}:{day}",
            "task_key": None,
            "status": "RUNNING",
        }

    rows = [
        ev(1, 1, 23, 5),   # day 1: on time (tick 23:00, margin 600 s)
        ev(2, 3, 23, 5),   # day 3: on time; advances watermark past day 2
        # day 2 has NO event -> its 23:00 tick must go LATE_START
    ]
    path = str(tmp_path / "late_events")
    spark.createDataFrame(
        [tuple(r.get(f.name) for f in OBS_EVENT.fields) for r in rows], OBS_EVENT
    ).write.mode("overwrite").json(path)

    stream = spark.readStream.schema(OBS_EVENT).json(path)
    out = late_start_stream(
        stream, {"sched_pipe": ("0 23 * * *", 600)}, watermark="2 hours"
    )
    got = _run_stream(spark, out, "append", "late_start_stream")
    alerts = {(r.pipeline_key, r.tick_ts, r.alert_type) for r in got.collect()}
    assert ("sched_pipe", dt.datetime(2025, 1, 2, 23, 0), "LATE_START") in alerts
    # satisfied ticks never alert
    assert not any(t == dt.datetime(2025, 1, 1, 23, 0) for _, t, _ in alerts)


def test_streaming_dedup_exact_first_arrival_wins(spark, tmp_path):
    import datetime as dt

    from data_observability_installer_spark.streaming.dedup import dedup_exact_stream

    rows = [
        # doc 1 and 3: same content modulo case/punct -> one survivor
        (1, "The Quick, Brown Fox!", dt.datetime(2025, 1, 1, 10, 0)),
        (2, "an entirely different document", dt.datetime(2025, 1, 1, 10, 1)),
        (3, "the quick  brown fox", dt.datetime(2025, 1, 1, 10, 2)),
        (4, "The Quick Brown Fox", dt.datetime(2025, 1, 1, 10, 3)),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, ts timestamp"
    ).write.mode("overwrite").json(path)

    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(path)
    got = _run_stream(
        spark, dedup_exact_stream(stream), "append", "dedup_stream"
    ).collect()
    survivors = {r.doc_id for r in got}
    assert 2 in survivors
    # exactly one of the three fox variants survives
    assert len(survivors & {1, 3, 4}) == 1
    assert len({r.fingerprint for r in got}) == len(got) == 2


def test_streaming_curation_is_stateless_passthrough(spark, tmp_path):
    import datetime as dt

    from data_observability_installer_spark.streaming.dedup import curate_stream

    long_en = (
        "the quick brown fox jumps over the lazy dog and the cat is in the house "
        "with a friend of the family and that is all we know about it today"
    )
    rows = [
        (1, long_en, dt.datetime(2025, 1, 1)),
        (2, "tiny", dt.datetime(2025, 1, 1)),
    ]
    path = str(tmp_path / "cur_docs")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, ts timestamp"
    ).write.mode("overwrite").json(path)
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(path)
    got = {r.doc_id: r for r in _run_stream(
        spark, curate_stream(stream), "append", "curate_stream"
    ).collect()}
    assert got[1].keep and got[2].reason == "too_short"


# ---------------------------------------------------------------------------
# Streaming <-> batch parity. The reference's core premise is that replayed
# history and live events agree — the demo replays runs backdated up to 55 h
# through the same backend as live traffic (demo/demo/observability_demo.py:24).
# Each test feeds the SAME fixture through the streaming operator
# (availableNow) and its batch twin and asserts row-level agreement.
# ``withWatermark`` is a documented no-op on batch frames, so stateless and
# windowed stream functions can serve as their own batch twins; the stateful
# ones compare against the independent batch operators.
# ---------------------------------------------------------------------------


def test_parity_run_tracker_vs_batch_rollup(spark, event_stream_path):
    """Terminal runs from the stateful tracker must be row-identical to
    the batch A1 rollup (start/end/status/event count); non-terminal
    runs are RUNNING in batch and STUCK-or-absent in streaming, so the
    comparison is on the terminal subset both paths define."""
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, track_runs_stream(stream), "append", "tracker_parity")
    batch = run_state_rollup(spark.read.schema(OBS_EVENT).json(event_stream_path))
    want = {
        (r.pipeline_key, r.run_key): (r.start_ts, r.end_ts, r.final_status, r.event_ct)
        for r in batch.filter(F.col("final_status") != "RUNNING").collect()
    }
    got = {
        (r.pipeline_key, r.run_key): (r.start_ts, r.end_ts, r.final_status, r.event_ct)
        for r in out.collect()
        if r.final_status != "STUCK"
    }
    assert got == want and len(want) >= 16


def test_parity_session_windows_vs_batch(spark, event_stream_path):
    """Append mode emits only watermark-sealed sessions; every sealed
    session must appear byte-identical in the batch session_window
    aggregation over the same events (and at least one must seal)."""
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    rs = F.col("event_type") == "RUN_STATUS"
    out = _run_stream(
        spark,
        session_rollup_stream(stream.filter(rs)),
        "append",
        "session_parity",
    )
    batch = session_rollup_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path).filter(rs)
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got <= want


def test_parity_metric_alerts_vs_batch(spark, event_stream_path):
    """The stateless A5 filter is the same plan in both modes — the
    streamed append output must equal the batch filter exactly."""
    args = ("Cluster Capacity Percentage", "gt", 80.0)
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, metric_alert_stream(stream, *args), "append", "a5_parity")
    batch = metric_alert_stream(spark.read.schema(OBS_EVENT).json(event_stream_path), *args)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_parity_message_log_windows_vs_batch(spark, event_stream_path):
    from data_observability_installer_spark.streaming.rollups import message_log_stream

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark,
        message_log_stream(stream, window="30 minutes", watermark="10 minutes"),
        "append",
        "msglog_parity",
    )
    batch = message_log_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path),
        window="30 minutes",
        watermark="10 minutes",
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got <= want


def test_parity_volume_anomaly_vs_batch(spark, event_stream_path):
    from data_observability_installer_spark.streaming.dq import volume_anomaly_stream

    kw = dict(
        ts_col="event_timestamp",
        key_col="pipeline_key",
        expected_per_window=1000.0,
        tolerance_pct=50.0,
    )
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark, volume_anomaly_stream(stream, **kw), "append", "vol_parity"
    )
    batch = volume_anomaly_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path), **kw
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got <= want


def test_parity_liveness_vs_batch(spark, tmp_path):
    from data_observability_installer_spark.schemas import HEARTBEAT
    from data_observability_installer_spark.streaming.rollups import liveness_stream

    hb = build_demo(spark)["heartbeats"]
    path = str(tmp_path / "heartbeats")
    hb.write.mode("overwrite").json(path)
    stream = spark.readStream.schema(HEARTBEAT).json(path)
    out = _run_stream(spark, liveness_stream(stream), "update", "live_parity")
    want = {
        (r.agent_key): (r.last_heartbeat, r.heartbeat_ct)
        for r in hb.groupBy("agent_key")
        .agg(
            F.max("latest_event_timestamp").alias("last_heartbeat"),
            F.count(F.lit(1)).alias("heartbeat_ct"),
        )
        .collect()
    }
    got = {r.agent_key: (r.last_heartbeat, r.heartbeat_ct) for r in out.collect()}
    assert got == want and len(got) == 2


def test_parity_dedup_exact_vs_batch(spark, tmp_path):
    """First-arrival streaming dedup and min-id batch dedup may keep
    different survivors, but the surviving CONTENT is the same: one row
    per distinct normalized fingerprint, identical fingerprint sets."""
    import datetime as dt

    from data_observability_installer_spark.operators.llm.text import fingerprint_col
    from data_observability_installer_spark.streaming.dedup import dedup_exact_stream

    rows = [
        (1, "The Quick, Brown Fox!", dt.datetime(2025, 1, 1, 10, 0)),
        (2, "an entirely different document", dt.datetime(2025, 1, 1, 10, 1)),
        (3, "the quick  brown fox", dt.datetime(2025, 1, 1, 10, 2)),
        (4, "The Quick Brown Fox", dt.datetime(2025, 1, 1, 10, 3)),
    ]
    path = str(tmp_path / "docs_parity")
    bdf = spark.createDataFrame(rows, "doc_id bigint, text string, ts timestamp")
    bdf.write.mode("overwrite").json(path)
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(path)
    got = _run_stream(spark, dedup_exact_stream(stream), "append", "dedup_parity").collect()
    want_fps = {
        r.fp for r in bdf.select(fingerprint_col("text").alias("fp")).distinct().collect()
    }
    assert {r.fingerprint for r in got} == want_fps
    assert len(got) == len(want_fps)


def test_parity_late_start_vs_batch(spark, tmp_path):
    """A3 absence detection: streaming alerts (sealed ticks only) must
    equal the batch cron-anti-join restricted to the same sealed
    horizon — the one equivalence a user running both paths relies on."""
    import datetime as dt

    from data_observability_installer_spark.operators.obs.schedules import (
        expected_ticks,
        late_runs,
    )
    from data_observability_installer_spark.streaming.schedules import late_start_stream

    def ev(eid, day, hh, mm, pipeline="sched_pipe"):
        return {
            "event_id": eid,
            "event_type": "RUN_STATUS",
            "event_timestamp": dt.datetime(2025, 1, day, hh, mm),
            "pipeline_key": pipeline,
            "run_key": f"{pipeline}:{day}",
            "task_key": None,
            "status": "RUNNING",
        }

    rows = [ev(1, 1, 23, 5), ev(2, 3, 23, 5)]  # day 2 silent
    path = str(tmp_path / "late_parity")
    bdf = spark.createDataFrame(
        [tuple(r.get(f.name) for f in OBS_EVENT.fields) for r in rows], OBS_EVENT
    )
    bdf.write.mode("overwrite").json(path)

    stream = spark.readStream.schema(OBS_EVENT).json(path)
    got_rows = _run_stream(
        spark,
        late_start_stream(stream, {"sched_pipe": ("0 23 * * *", 600)}, watermark="2 hours"),
        "append",
        "late_parity",
    ).collect()
    got = {(r.pipeline_key, r.tick_ts) for r in got_rows}

    ticks = expected_ticks(
        spark,
        [{"component_key": "sched_pipe", "schedule": "0 23 * * *", "margin_s": 600}],
        dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 4),
    )
    batch_late = late_runs(run_state_rollup(bdf), ticks)
    # the stream's final watermark: max event time - 2 h; only ticks whose
    # margin window closed before it have been adjudicated by streaming
    wm = dt.datetime(2025, 1, 3, 23, 5) - dt.timedelta(hours=2)
    want = {
        (r.component_key, r.tick_ts)
        for r in batch_late.collect()
        if r.tick_ts + dt.timedelta(seconds=r.margin_s) <= wm
    }
    assert got == want == {("sched_pipe", dt.datetime(2025, 1, 2, 23, 0))}


def test_alert_sink_bounds_pathological_rule(spark, event_stream_path):
    """A rule matching EVERY event must not collect the stream onto the
    driver: delivery is capped at max_rows_per_batch and the overflow
    is flagged to the deliver callable."""
    from data_observability_installer_spark.streaming.rollups import alert_sink

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    # pathological "rule": everything is an alert
    alerts = stream.select("event_id", F.lit("MATCH_ALL").alias("alert_type"))
    seen = []
    q = alert_sink(
        alerts,
        lambda rows, bid, overflowed: seen.append((len(rows), overflowed)),
        "sink_overflow_test",
        max_rows_per_batch=10,
    )
    q.awaitTermination(120)
    assert seen and all(n <= 10 for n, _ in seen)
    assert any(ovf for _, ovf in seen)  # fixture has >10 events per batch


def test_parity_journey_instances_vs_batch(spark, event_stream_path):
    """A2 with EXPLICIT START/END conditions: the streaming state
    machine's closed instances must be row-identical to the batch
    condition-window operator on the same events (the still-open latest
    instance is NULL-ended in batch and unflushed in an availableNow
    stream, so the comparison is on closed windows both paths define)."""
    from data_observability_installer_spark.operators.obs.journeys import (
        journey_instances,
    )
    from data_observability_installer_spark.streaming.journeys import (
        journey_instance_stream,
    )

    conds = [
        {"journey_id": "j_nightly", "action": "START", "batch_pipeline": "pipe_main"},
        {"journey_id": "j_diamond", "action": "START", "batch_pipeline": "dia_a"},
        {"journey_id": "j_diamond", "action": "END", "batch_pipeline": "dia_d"},
    ]
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark, journey_instance_stream(stream, conds), "append", "journey_parity"
    )
    got = {
        (r.journey_id, r.instance_id, r.instance_start, r.instance_end)
        for r in out.collect()
        if r.instance_end is not None
    }

    cond_df = spark.createDataFrame(
        [(c["journey_id"], c["action"], c["batch_pipeline"]) for c in conds],
        "journey_id string, action string, batch_pipeline string",
    )
    batch = journey_instances(
        run_state_rollup(spark.read.schema(OBS_EVENT).json(event_stream_path)), cond_df
    )
    want = {
        (r.journey_id, r.instance_id, r.instance_start, r.instance_end)
        for r in batch.collect()
        if r.instance_end is not None
    }
    assert got == want
    assert {j for j, *_ in got} == {"j_nightly", "j_diamond"}


def test_parity_psi_drift_vs_batch(spark, event_stream_path):
    """Replayed history through the streaming PSI monitor must equal
    the batch evaluation of the same windows — the drift family's
    face of the reference's replay-equals-live premise."""
    from data_observability_installer_spark.streaming.dq import psi_drift_stream

    kw = dict(
        col="metric_value",
        edges=[10.0, 100.0, 1000.0, 10000.0],
        baseline_counts=[10.0, 20.0, 40.0, 20.0, 10.0],
        ts_col="event_timestamp",
        window="1 day",
        watermark="1 hour",  # fixture spans ~55 h; seal both full days
    )
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, psi_drift_stream(stream, **kw), "append", "psi_parity")
    batch = psi_drift_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path), **kw
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got <= want  # sealed windows agree exactly


def test_parity_burn_rate_vs_batch(spark, event_stream_path):
    """Sealed 1h windows from the stream must equal the same windowed
    aggregation run in batch over the identical events."""
    from data_observability_installer_spark.streaming.dq import burn_rate_stream

    kw = dict(
        ts_col="event_timestamp",
        key_col="pipeline_key",
        error_pred=F.col("status") == "FAILED",
        slo=0.01,
    )
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, burn_rate_stream(stream, **kw), "append", "burn_parity")
    batch = burn_rate_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path), **kw
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got <= want  # append emits only watermark-sealed windows


def test_parity_stream_stream_interval_join_vs_batch(spark, event_stream_path):
    """Inner stream-stream matches emit when both sides arrive, so the
    replay equals the batch interval join row-for-row."""
    from data_observability_installer_spark.streaming.rollups import correlate_streams

    def split(df):
        runs = df.filter(F.col("status") == "FAILED")
        alerts = df.filter(F.col("log_level") == "ERROR")
        return runs, alerts

    s = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(spark, correlate_streams(*split(s)), "append", "sjoin_parity")
    b = spark.read.schema(OBS_EVENT).json(event_stream_path)
    batch = correlate_streams(*split(b))
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got and got == want


def test_idempotent_sink_replay_produces_no_duplicates(spark, tmp_path):
    """Redelivering the same micro-batch (the at-least-once failure
    mode) must overwrite its own output, not append: rows after a
    replay equal rows after the first delivery."""
    import json as _json

    from data_observability_installer_spark.sources.sinks import idempotent_batch_sink

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"k": i, "v": f"r{i}"}) for i in range(10))
    )
    out = str(tmp_path / "out")

    stream = spark.readStream.schema("k long, v string").json(str(src))
    q = idempotent_batch_sink(stream, out, "idem1")
    q.awaitTermination(60)
    first = spark.read.parquet(out).orderBy("k").collect()

    # replay: run the SAME source again with a FRESH checkpoint so the
    # identical data re-delivers as batch 0 — the crash-before-commit case
    stream2 = spark.readStream.schema("k long, v string").json(str(src))
    q2 = idempotent_batch_sink(stream2, out, "idem2")
    q2.awaitTermination(60)
    second = spark.read.parquet(out).orderBy("k").collect()

    assert [tuple(r) for r in first] == [tuple(r) for r in second]
    assert len(second) == 10  # no duplicates from redelivery


def test_parity_freshness_vs_batch(spark, event_stream_path):
    """freshness_stream's update-mode final state (last_seen + event_ct
    per key) must equal the identical aggregation over the batch read
    — withWatermark is a no-op on batch frames, so the function is its
    own twin. Extends the smoke check to FULL row parity."""
    from data_observability_installer_spark.streaming.dq import freshness_stream

    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark,
        freshness_stream(stream, "event_timestamp", "pipeline_key"),
        "update",
        "fresh_parity",
    )
    batch = freshness_stream(
        spark.read.schema(OBS_EVENT).json(event_stream_path),
        "event_timestamp",
        "pipeline_key",
    )
    got = {r.pipeline_key: (r.last_seen, r.event_ct) for r in out.collect()}
    want = {r.pipeline_key: (r.last_seen, r.event_ct) for r in batch.collect()}
    assert got == want and len(want) >= 3


def test_parity_schema_drift_vs_batch(spark, event_stream_path):
    """schema_drift_stream is stateless, so its streamed append output
    must be multiset-identical to the batch projection: one anomaly row
    per null in a required-but-nullable column plus one per input row
    for a column absent from the schema entirely."""
    from data_observability_installer_spark.streaming.dq import schema_drift_stream

    expected = ["metric_value", "never_was_a_column", "event_type"]
    stream = spark.readStream.schema(OBS_EVENT).json(event_stream_path)
    out = _run_stream(
        spark, schema_drift_stream(stream, expected), "append", "schema_parity"
    )
    batch_in = spark.read.schema(OBS_EVENT).json(event_stream_path)
    batch = schema_drift_stream(batch_in, expected)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    # the absent column fires once per input row; the nullable one
    # fires only where null — both kinds must actually appear
    n_rows = batch_in.count()
    missing_cts = {c: sum(1 for g in got if g[0] == c) for c in expected}
    assert missing_cts["never_was_a_column"] == n_rows
    assert 0 < missing_cts["metric_value"] < n_rows
    assert missing_cts["event_type"] == 0


def test_parity_lateness_stats_vs_batch(spark, event_stream_path):
    """lateness_stats_stream sealed-window output must match the batch
    run of the same expression over the same events (synthetic
    deterministic arrival delays)."""
    from data_observability_installer_spark.streaming.dq import lateness_stats_stream

    def with_arrival(df):
        return df.withColumn(
            "arrival_ts",
            F.timestamp_seconds(
                F.col("event_timestamp").cast("double")
                + (F.abs(F.hash("run_key")) % 5400).cast("double")
            ),
        )

    stream = with_arrival(spark.readStream.schema(OBS_EVENT).json(event_stream_path))
    out = _run_stream(
        spark,
        lateness_stats_stream(stream, "event_timestamp", "arrival_ts"),
        "append",
        "late_stats_parity",
    )
    batch = lateness_stats_stream(
        with_arrival(spark.read.schema(OBS_EVENT).json(event_stream_path)),
        "event_timestamp",
        "arrival_ts",
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    # append mode emits only watermark-sealed windows: subset, non-empty
    assert got and got <= want
    # the synthetic delays exceed 1 h sometimes -> the calibration
    # signal actually fires
    assert any(r.late_1h_ct > 0 for r in batch.collect())


def test_streaming_heavy_hitters_bounded_state_superset(spark, tmp_path):
    """One-pass sharded Misra–Gries over a document stream: state never
    exceeds shards x capacity, and the final candidate set contains
    every exact phi-heavy hitter (lower-bound estimates <= truth)."""
    from data_observability_installer_spark.operators.sketch import (
        _bigrams,
        heavy_hitters,
    )
    from data_observability_installer_spark.streaming.sketch import (
        heavy_hitters_stream,
    )
    from data_observability_installer_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "docs")
    # several files -> several micro-batches with maxFilesPerTrigger
    docs.repartition(4).write.mode("overwrite").json(path)

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).json(path)
    items = stream.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.length("w") >= 1)
    cap, shards = 500, 4
    got = _run_stream(
        spark,
        heavy_hitters_stream(items, capacity=cap, n_shards=shards),
        "update",
        "hh_stream",
    ).collect()
    # final summary per shard = the emission at that shard's max shard_n
    last_n = {}
    for r in got:
        last_n[r.shard] = max(last_n.get(r.shard, 0), r.shard_n)
    final = {
        r.w: r.est for r in got if r.shard_n == last_n[r.shard]
    }
    per_batch_rows = {}
    for r in got:
        per_batch_rows.setdefault((r.shard, r.shard_n), 0)
        per_batch_rows[(r.shard, r.shard_n)] += 1
    # hard state bound: every emitted summary respects the cap
    assert max(per_batch_rows.values()) <= cap

    batch_items = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.length("w") >= 1)
    exact = heavy_hitters(batch_items, "w", phi_denom=200, capacity=cap).collect()
    true_ct = {r.term: r.ct for r in exact}
    assert true_ct, "fixture must produce heavy hitters"
    for term, ct in true_ct.items():
        assert term in final, f"heavy hitter {term} missing from stream candidates"
        assert final[term] <= ct  # Misra–Gries counters are lower bounds


def test_streaming_lang_mix_matches_batch(spark, tmp_path):
    """The windowed language/quality monitor agrees with the batch
    report on a replayed document stream (same windows, same integer
    bp means)."""
    from data_observability_installer_spark.sources.tables import load_table
    from data_observability_installer_spark.streaming.dedup import lang_mix_stream

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60).alias("ts"),
    )
    path = str(tmp_path / "docs")
    docs.repartition(3).write.mode("overwrite").json(path)
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").json(path)
    got = {
        (r["window_start"], r["pred_lang"]): (r["doc_ct"], r["avg_quality_bp"])
        for r in _run_stream(
            spark, lang_mix_stream(stream), "append", "lang_mix_stream"
        ).collect()
    }
    want = {
        (r["window_start"], r["pred_lang"]): (r["doc_ct"], r["avg_quality_bp"])
        for r in lang_mix_stream(spark.read.schema(
            "doc_id bigint, text string, ts timestamp").json(path)).collect()
    }
    # append mode emits only watermark-CLOSED windows: every emitted
    # row must match batch exactly, and only the trailing open
    # window(s) may be pending
    assert got
    assert all(want[k] == v for k, v in got.items())
    # a window stays open until the watermark (1 h) passes its END, so
    # the trailing watermark+window span may be pending — nothing older
    missing = set(want) - set(got)
    import datetime as dt

    horizon = max(k[0] for k in want) - dt.timedelta(hours=1)
    assert all(k[0] >= horizon for k in missing), missing


def test_streaming_cusum_matches_python_reference(spark, tmp_path):
    """Stateful CUSUM across micro-batches must equal the pure-Python
    fixed-center recursion on the same ordered series: a planted
    sustained shift alarms (and stays alarmed), the flat key never
    does, and state survives batch boundaries (the series spans 4
    files/micro-batches)."""
    from data_observability_installer_spark.streaming.dq import cusum_stream

    center_e4, k_bp, h_bp = 10_0000, 2500, 20000  # center 10.0
    series = [("shift", f"d{i:03d}", 10 if i < 30 else 14) for i in range(60)]
    series += [("flat", f"d{i:03d}", 10) for i in range(60)]

    import json as _json
    import os as _os
    import time as _time

    # one file per 15-ordinal block, written with strictly increasing
    # mtimes: the file source orders batches by modification time, and
    # the operator contract requires non-decreasing ordinals per key
    path = str(tmp_path / "counts")
    _os.makedirs(path, exist_ok=True)
    for blk in range(4):
        rows = [r for r in series if blk * 15 <= int(r[1][1:]) < (blk + 1) * 15]
        with open(_os.path.join(path, f"blk{blk}.json"), "w") as fh:
            for k, o, v in sorted(rows):
                fh.write(_json.dumps({"k": k, "o": o, "v": v}) + "\n")
        _time.sleep(1.1)  # FileStreamSource mtime resolution is 1 s

    stream = spark.readStream.schema("k string, o string, v long").option(
        "maxFilesPerTrigger", 1
    ).json(path)
    got = {
        (r.k, r.o): (r.s_up, r.s_dn, r.alarm_up, r.alarm_dn)
        for r in _run_stream(
            spark,
            cusum_stream(stream, center_e4, k_bp=k_bp, h_bp=h_bp),
            "update",
            "cusum_stream",
        ).collect()
    }

    # pure-Python reference (same scaled integers)
    up_ref = 10000 * center_e4 + k_bp * center_e4
    dn_ref = 10000 * center_e4 - k_bp * center_e4
    h_scaled = h_bp * center_e4
    want = {}
    state = {}
    for k, o, v in sorted(series):
        su, sd = state.get(k, (0, 0))
        su = max(0, su + (100000000 * v - up_ref))
        sd = max(0, sd + (dn_ref - 100000000 * v))
        state[k] = (su, sd)
        want[(k, o)] = (su, sd, su > h_scaled, sd > h_scaled)
    assert got == want
    assert any(a for _, _, a, _ in (want[("shift", f"d{i:03d}")] for i in range(60)))
    assert not any(
        a or b for _, _, a, b in (want[("flat", f"d{i:03d}")] for i in range(60))
    )


def test_streaming_wasserstein_matches_batch(spark, tmp_path):
    """Frozen-baseline W1 per sealed window: the streaming plan must
    equal the same expression evaluated in batch (exact integers), and
    a shifted window must score above a conforming one."""
    import json as _json
    import os as _os
    from datetime import datetime, timedelta

    from data_observability_installer_spark.streaming.dq import wasserstein_stream

    t0 = datetime(2026, 1, 1)
    rows = [(t0 + timedelta(hours=i % 24), float(i % 40)) for i in range(240)]
    rows += [
        (t0 + timedelta(days=2, hours=i % 24), float(i % 40 + 30)) for i in range(240)
    ]
    path = str(tmp_path / "ws")
    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "a.json"), "w") as fh:
        for ts, x in rows:
            fh.write(_json.dumps({"ts": ts.isoformat(sep=" "), "x": x}) + "\n")

    edges, base = [10.0, 20.0, 30.0], [60, 60, 60, 60]
    stream = spark.readStream.schema("ts timestamp, x double").json(path)
    got = {
        r.window_start: (r.n, r.w1_e6)
        for r in _run_stream(
            spark,
            wasserstein_stream(stream, "x", edges, base, watermark="1 hour"),
            "append",
            "ws_stream",
        ).collect()
    }
    batch = spark.read.schema("ts timestamp, x double").json(path)
    want = {
        r.window_start: (r.n, r.w1_e6)
        for r in wasserstein_stream(batch, "x", edges, base).collect()
    }
    # append mode emits only sealed windows: subset, non-empty, exact
    assert got and all(want[k] == v for k, v in got.items())
    w = wasserstein_stream(batch, "x", edges, base).orderBy("window_start").collect()
    assert len(w) == 2  # day 1 has no rows -> no window
    assert w[1].w1_e6 > w[0].w1_e6  # the +30 shifted day scores higher


def test_parity_out_of_sequence_vs_batch(spark, tmp_path):
    """A6 streaming: the per-instance state machine must emit exactly
    the batch operator's alert PAIRS on the same assigned runs —
    including a violation whose two members arrive in different
    micro-batches (state carries the earlier arrival across), a
    transitive-closure edge, and a cross-instance near-miss that must
    NOT alert."""
    import datetime as dt
    import time

    from data_observability_installer_spark.operators.obs.journeys import (
        out_of_sequence,
        transitive_edges,
    )
    from data_observability_installer_spark.streaming.journeys import (
        out_of_sequence_stream,
    )

    T = lambda h, m=0: dt.datetime(2025, 3, 1, h, m)  # noqa: E731
    SCHEMA = (
        "journey_id string, instance_id int, pipeline_key string, "
        "run_key string, start_ts timestamp, end_ts timestamp"
    )
    # DAG a -> b -> c (closure adds a -> c)
    edges = [("a", "b"), ("b", "c")]
    closure = [("j1", u, d) for u, d in transitive_edges(edges)]

    batch1 = [
        # instance 1: b starts before a ends (direct violation) and c
        # starts before a ends (transitive violation, caught vs state
        # in a LATER micro-batch)
        ("j1", 1, "a", "a-r1", T(1), T(3)),
        ("j1", 1, "b", "b-r1", T(2), T(4)),
        # instance 2: clean in-order run (no alert)
        ("j1", 2, "a", "a-r2", T(10), T(11)),
    ]
    batch2 = [
        ("j1", 1, "c", "c-r1", T(2, 30), T(5)),
        # instance 2: would violate only if it shared instance 1's id
        ("j1", 2, "b", "b-r2", T(11, 30), T(12)),
    ]
    path = tmp_path / "oos_runs"
    path.mkdir()
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(str(path))
    time.sleep(1.1)  # file-source batch order follows mtime @ 1 s
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(str(path))

    stream = spark.readStream.schema(SCHEMA).json(str(path))
    got_rows = _run_stream(
        spark,
        out_of_sequence_stream(stream, closure, watermark="1 hour"),
        "append",
        "oos_parity",
    ).collect()
    got = {tuple(r) for r in got_rows}

    all_runs = spark.createDataFrame(batch1 + batch2, SCHEMA)
    closure_df = spark.createDataFrame(
        closure, "journey_id string, up_key string, down_key string"
    )
    want = {tuple(r) for r in out_of_sequence(all_runs, closure_df).collect()}
    assert got == want
    assert {(r[2], r[4]) for r in got} == {("a", "b"), ("a", "c"), ("b", "c")}


def test_streaming_profile_partials_merge_to_batch_profile(spark, tmp_path):
    """Continuous profiling: per-micro-batch partial states written to
    the store must MERGE to exactly the batch profile of all rows —
    the associativity of the partial algebra, across real micro-batch
    boundaries and the parquet round-trip."""
    import time as _time

    from data_observability_installer_spark.operators.profile import (
        finalize_profile,
        merge_partials,
        profile_partial,
    )
    from data_observability_installer_spark.streaming.dq import (
        profile_partial_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [(1, "aa", 1.5), (2, "b", -3.0)]
    rows2 = [(3, None, 0.0), (4, "dddd", 7.25)]
    schema = "k int, s string, x double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").json(str(src))
    _time.sleep(1.1)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").json(str(src))

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    q = profile_partial_sink(stream, store, ckpt, "t", availableNow=True)
    q.awaitTermination(120)

    stored = spark.read.parquet(store)
    assert stored.select("run_id").distinct().count() == 2  # one per batch
    got = finalize_profile(merge_partials(stored.drop("run_id")), "2025-01-01")
    # the mergeable-metric profile of ALL rows in one pass: batch
    # boundaries must be invisible (associativity + parquet round-trip)
    want = finalize_profile(
        profile_partial(spark.createDataFrame(rows1 + rows2, schema), "t"),
        "2025-01-01",
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 20  # real metric coverage, not an empty frame


def test_parity_payload_instances_vs_batch(spark, tmp_path):
    """A2 END_PAYLOAD streaming port: the same events replayed through
    payload_instance_stream must produce exactly the batch operator's
    CLOSED instance windows per (journey, payload_key) — including the
    strictly-after close rule (an END run ending AT the instance start
    closes nothing) and ignoring payload keys that never saw a START."""
    import time as _time

    from data_observability_installer_spark.operators.obs.journeys import (
        payload_instances,
    )
    from data_observability_installer_spark.operators.obs.rollup import (
        run_state_rollup,
    )
    from data_observability_installer_spark.streaming.journeys import (
        payload_instance_stream,
    )

    def ev(eid, ts_h, ts_m, pipe, run, status, keys):
        return {
            "event_id": eid,
            "event_type": "RUN_STATUS",
            "event_timestamp": f"2024-03-01T{ts_h:02d}:{ts_m:02d}:00.000Z",
            "pipeline_key": pipe,
            "run_key": run,
            "status": status,
            "payload_keys": keys,
        }

    early = [
        ev(1, 0, 0, "S", "s:1", "RUNNING", ["p1", "p2"]),
        # END run ending exactly AT p1's instance start: must NOT close
        ev(2, 0, 0, "E", "e:0", "COMPLETED", ["p1"]),
        ev(3, 1, 0, "S", "s:1", "COMPLETED", ["p1", "p2"]),
        ev(4, 2, 0, "E", "e:1", "RUNNING", ["p1"]),
    ]
    late = [
        ev(5, 3, 0, "E", "e:1", "COMPLETED", ["p1"]),
        ev(6, 4, 0, "E", "e:2", "RUNNING", ["p2"]),
        ev(7, 5, 0, "S", "s:2", "RUNNING", ["p3"]),  # never closes
        ev(8, 5, 30, "S", "s:2", "COMPLETED", ["p3"]),
        ev(9, 6, 0, "E", "e:2", "COMPLETED", ["p2"]),
        ev(10, 7, 0, "E", "e:3", "COMPLETED", ["p4"]),  # END w/o START
    ]
    src = tmp_path / "payload_events"
    src.mkdir()
    import json as _json

    (src / "a.json").write_text("\n".join(_json.dumps(e) for e in early))
    _time.sleep(1.1)  # file-source order follows mtime @ 1 s
    (src / "b.json").write_text("\n".join(_json.dumps(e) for e in late))

    conds = [
        {"journey_id": "j", "action": "START", "batch_pipeline": "S"},
        {"journey_id": "j", "action": "END_PAYLOAD", "batch_pipeline": "E"},
    ]
    stream = (
        spark.readStream.schema(OBS_EVENT)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = _run_stream(
        spark, payload_instance_stream(stream, conds), "append", "payload_parity"
    )
    got = {
        (r.journey_id, r.payload_key, r.instance_start, r.instance_end)
        for r in out.collect()
        if r.instance_end is not None
    }

    batch_events = spark.read.schema(OBS_EVENT).json(str(src))
    cond_df = spark.createDataFrame(
        [(c["journey_id"], c["action"], c["batch_pipeline"]) for c in conds],
        "journey_id string, action string, batch_pipeline string",
    )
    payloads = batch_events.select(
        "run_key", F.explode("payload_keys").alias("payload_key")
    ).distinct()
    batch = payload_instances(run_state_rollup(batch_events), cond_df, payloads)
    want = {
        (r.journey_id, r.payload_key, r.instance_start, r.instance_end)
        for r in batch.collect()
        if r.instance_end is not None
    }
    assert got == want
    assert {p for _, p, *_ in got} == {"p1", "p2"}  # p3 open, p4 ignored


def test_pq_near_dup_sink_cumulative_parity_and_replay(spark, tmp_path):
    """Incremental streaming near-dup: the union of per-batch pair
    outputs must equal the full-corpus batch pq_near_dups over
    everything ingested (cross-batch pairs emit when the LATER member
    arrives), and a replayed micro-batch changes nothing (exactly-once
    code commits + idempotent pair partitions)."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups,
        pq_near_dups_incremental,
    )
    from data_observability_installer_spark.sources import txtable as _tx
    from data_observability_installer_spark.streaming.dedup import pq_near_dup_sink

    base = [0.5] * 32 + [-0.5] * 32
    near = list(base); near[0] = 0.49
    far = list(base); far[5] = 0.48          # second near-dup, later batch
    other = [0.3] * 32 + [-0.7] * 32
    onear = list(other); onear[1] = 0.29     # in-batch pair, batch 2
    b1 = [(0, base), (1, near), (10, [0.5, -0.5] * 32)]
    b2 = [(2, far), (20, other), (21, onear)]

    src = tmp_path / "emb_stream"; src.mkdir()
    def dump(rows, name):
        (src / name).write_text(
            "\n".join(_json.dumps({"vec_id": i, "embedding": e}) for i, e in rows)
        )
    dump(b1, "a.json"); _time.sleep(1.1); dump(b2, "b.json")

    code_store = str(tmp_path / "codes")
    pairs_store = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema("vec_id int, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = pq_near_dup_sink(
        stream, code_store, pairs_store, str(tmp_path / "ckpt"),
        threshold=0.9, availableNow=True,
    )
    q.awaitTermination(120)

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_store).collect()
    }
    full_df = spark.createDataFrame(b1 + b2, "vec_id int, embedding array<float>")
    want = {
        (r.id_a, r.id_b)
        for r in pq_near_dups(full_df, min_band_matches=2, threshold=0.9).collect()
    }
    assert got == want
    assert (0, 1) in got and (21, 20) not in got and (20, 21) in got
    # cross-batch pair (0 or 1 from batch 1, 2 from batch 2) found
    assert any(2 in p for p in got)

    # replay the LAST batch (the only replay foreachBatch produces:
    # later batches cannot have committed yet): the code store is
    # unchanged (batch_id dedupe) and the pair output recomputes
    # identically — the batch's own store copy never pairs with itself
    n_versions = len(_tx.history(code_store))
    replay_df = spark.createDataFrame(b2, "vec_id int, embedding array<float>")
    pairs = pq_near_dups_incremental(
        spark, code_store, replay_df, threshold=0.9, batch_id=1
    )
    assert len(_tx.history(code_store)) == n_versions  # exactly-once
    # ROW-identical, not just set-identical: the replayed batch's vids
    # exist in BOTH the store and the new frame; without vid dedup the
    # verification joins would multiply each affected pair row up to 4x
    replay_rows = sorted(
        (r.id_a, r.id_b, r.n_bands, r.score_bp) for r in pairs.collect()
    )
    first_rows = sorted(
        (r.id_a, r.id_b, r.n_bands, r.score_bp)
        for r in spark.read.parquet(f"{pairs_store}/batch_id=1").collect()
    )
    assert replay_rows == first_rows
    assert len(replay_rows) == len({(a, b) for a, b, *_ in replay_rows})


def test_cm_sketch_sink_merged_store_equals_one_pass(spark, tmp_path):
    """Continuous CM: the merged per-batch sketch store must be
    CELL-IDENTICAL to the one-pass sketch over everything ingested
    (per-cell sums are the whole merge algebra), and estimates from the
    merged store never undercount."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )
    from data_observability_installer_spark.streaming.sketch import (
        cm_sketch_sink,
        read_cm_store,
    )

    b1 = ["alpha"] * 30 + ["beta"] * 5
    b2 = ["alpha"] * 20 + ["gamma"] * 7
    src = tmp_path / "words"; src.mkdir()
    (src / "a.json").write_text("\n".join(_json.dumps({"w": w}) for w in b1))
    _time.sleep(1.1)
    (src / "b.json").write_text("\n".join(_json.dumps({"w": w}) for w in b2))

    store = str(tmp_path / "cm_store")
    stream = (
        spark.readStream.schema("w string").option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = cm_sketch_sink(
        stream, store, str(tmp_path / "ckpt"), width=16, depth=4,
        availableNow=True,
    )
    q.awaitTermination(120)

    merged = {(r.row_id, r.bucket): r.ct for r in read_cm_store(spark, store).collect()}
    one_pass = {
        (r.row_id, r.bucket): r.ct
        for r in cm_sketch(
            spark.createDataFrame([(w,) for w in b1 + b2], "w string"),
            width=16, depth=4,
        ).collect()
    }
    assert merged == one_pass

    keys = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "w string")
    est = {
        r.w: r.cm_ct
        for r in cm_estimate(read_cm_store(spark, store), keys, width=16).collect()
    }
    assert est["alpha"] >= 50 and est["beta"] >= 5 and est["gamma"] >= 7


def test_payload_instance_tombstone_is_garbage_collected():
    """State-lifecycle unit check on the raw state function: a
    still-open key that times out flushes its NULL-end row, tombstones,
    AND schedules a follow-up timeout; the next timeout removes the
    tombstone. Without the follow-up timer, EventTimeTimeout never
    fires again and every opened-but-never-closed payload key would
    hold a state row forever."""
    from data_observability_installer_spark.streaming.journeys import (
        _payload_instances,
    )

    class FakeState:
        def __init__(self, value=None, timed_out=False, wm=0):
            self._v = value
            self.hasTimedOut = timed_out
            self._wm = wm
            self.removed = False
            self.timeout_set = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ts):
            self.timeout_set = ts

        def getCurrentWatermarkMs(self):
            return self._wm

    key = ("j1", "p1")
    # timeout fires on a still-open key: flush + tombstone + NEW timer
    st = FakeState(value=(1_000_000, False), timed_out=True, wm=50_000)
    out = list(_payload_instances(key, iter([]), st))
    assert len(out) == 1 and out[0]["instance_end"].isna().all()
    assert st._v == (1_000_000, True)  # tombstoned
    assert not st.removed
    assert st.timeout_set is not None and st.timeout_set > 50_000

    # the tombstone's own timeout: state is removed, nothing emitted
    st.hasTimedOut = True
    st.timeout_set = None
    out2 = list(_payload_instances(key, iter([]), st))
    assert out2 == []
    assert st.removed


def test_streaming_late_end_matches_batch(spark, tmp_path):
    """A3 END expectation, streaming vs batch: a run that finishes past
    tick+margin (or never) must produce LATE_END exactly where the
    batch operator's BATCH_PIPELINE_END_TIME anti-join does, for every
    tick whose deadline the stream's final watermark sealed."""
    import datetime as dt

    from data_observability_installer_spark.operators.obs import run_state_rollup
    from data_observability_installer_spark.operators.obs.schedules import (
        expected_ticks,
        late_runs,
    )
    from data_observability_installer_spark.streaming.schedules import late_end_stream

    def ev(eid, day, hh, mm, status, pipeline="endpipe"):
        return {
            "event_id": eid,
            "event_type": "RUN_STATUS",
            "event_timestamp": dt.datetime(2025, 1, day, hh, mm),
            "pipeline_key": pipeline,
            "run_key": f"{pipeline}:{day}",
            "task_key": None,
            "status": status,
        }

    rows = [
        ev(1, 1, 21, 50, "RUNNING"),
        ev(2, 1, 22, 5, "COMPLETED"),   # day 1: ended inside [22:00, 22:10]
        ev(3, 2, 21, 55, "RUNNING"),
        ev(4, 2, 23, 30, "COMPLETED"),  # day 2: ended PAST the margin
        ev(5, 3, 22, 3, "COMPLETED"),   # day 3: on time; seals day 2
    ]
    path = str(tmp_path / "late_end_events")
    spark.createDataFrame(
        [tuple(r.get(f.name) for f in OBS_EVENT.fields) for r in rows], OBS_EVENT
    ).write.mode("overwrite").json(path)

    stream = spark.readStream.schema(OBS_EVENT).json(path)
    out = late_end_stream(
        stream, {"endpipe": ("0 22 * * *", 600)}, watermark="2 hours"
    )
    got = {
        (r.pipeline_key, r.tick_ts, r.alert_type)
        for r in _run_stream(spark, out, "append", "late_end_stream").collect()
    }

    batch_events = spark.read.schema(OBS_EVENT).json(path)
    ticks = expected_ticks(
        spark,
        [{"component_key": "endpipe", "expectation": "BATCH_PIPELINE_END_TIME",
          "schedule": "0 22 * * *", "margin_s": 600}],
        dt.datetime(2025, 1, 1),
        dt.datetime(2025, 1, 3),  # day 3's own tick is past the stream's wm
    )
    want = {
        (r.component_key, r.tick_ts, r.alert_type)
        for r in late_runs(run_state_rollup(batch_events), ticks).collect()
    }
    assert got == want == {
        ("endpipe", dt.datetime(2025, 1, 2, 22, 0), "LATE_END")
    }
    # a RUNNING event alone never discharges an END tick: day 2 started
    # on time (21:55) and still went LATE_END


def test_profile_sink_auto_retention_bounded_and_identical(spark, tmp_path):
    """retain= on the continuous profiling sink: N micro-batches leave
    at most retain+1 run partitions (retained runs + one rollup), and
    the merged+finalized profile is bit-identical to the unbounded
    store's — the rollup is pure partial-algebra, never lossy."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.profile import (
        finalize_profile,
        list_profile_runs,
        merge_partials,
    )
    from data_observability_installer_spark.streaming.dq import profile_partial_sink

    src = tmp_path / "vals"; src.mkdir()
    all_rows = []
    for b in range(6):
        rows = [{"x": float(b * 10 + i), "g": f"g{i % 3}"} for i in range(20)]
        all_rows += rows
        (src / f"b{b}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
        _time.sleep(1.1)  # file-source order follows mtime @ 1 s

    def drive(store_name, retain):
        stream = (
            spark.readStream.schema("x double, g string")
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        store = str(tmp_path / store_name)
        q = profile_partial_sink(
            stream, store, str(tmp_path / f"ckpt_{store_name}"), "vals",
            retain=retain, availableNow=True,
        )
        q.awaitTermination(180)
        return store

    bounded = drive("bounded", retain=2)
    unbounded = drive("unbounded", retain=None)

    assert len(list_profile_runs(unbounded)) == 6
    assert len(list_profile_runs(bounded)) <= 3  # retain + 1 rollup

    def final(store):
        parts = [
            spark.read.parquet(f"{store}/run_id={r}")
            for r in list_profile_runs(store)
        ]
        return {
            (r.table_name, r.column_name, r.metric): (r.value, r.value_str)
            for r in finalize_profile(
                merge_partials(*parts), as_of="2026-01-01"
            ).collect()
        }

    assert final(bounded) == final(unbounded)


def test_cm_sink_auto_retention_cells_identical(spark, tmp_path):
    """retain= on the continuous CM sink: the store stays bounded and
    read_cm_store is CELL-identical to the unbounded store (per-cell
    sums are the whole merge algebra)."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.profile import (
        list_profile_runs,
    )
    from data_observability_installer_spark.streaming.sketch import (
        cm_sketch_sink,
        read_cm_store,
    )

    src = tmp_path / "words"; src.mkdir()
    for b in range(5):
        (src / f"b{b}.json").write_text(
            "\n".join(_json.dumps({"w": w})
                      for w in [f"w{b}"] * 10 + ["alpha"] * 5)
        )
        _time.sleep(1.1)

    def drive(name, retain):
        stream = (
            spark.readStream.schema("w string")
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        store = str(tmp_path / name)
        q = cm_sketch_sink(
            stream, store, str(tmp_path / f"ckpt_{name}"), width=16, depth=4,
            retain=retain, availableNow=True,
        )
        q.awaitTermination(180)
        return store

    bounded = drive("cm_bounded", retain=2)
    unbounded = drive("cm_unbounded", retain=None)
    assert len(list_profile_runs(bounded)) <= 3
    assert len(list_profile_runs(unbounded)) == 5

    cells = lambda s: {  # noqa: E731
        (r.row_id, r.bucket): r.ct for r in read_cm_store(spark, s).collect()
    }
    assert cells(bounded) == cells(unbounded)


def test_retain_runs_crash_recovery(spark, tmp_path):
    """retain_runs resumes a crashed attempt: a completed rollup whose
    sidecar lists still-present sources finishes their deletion; a
    half-written rollup (no sidecar) is discarded and redone. Either
    way the merged content is identical to never having crashed."""
    import json as _json
    import os
    import shutil

    from data_observability_installer_spark.operators.profile import (
        list_profile_runs,
        retain_runs,
        write_profile,
    )

    def seed(store):
        for b in range(4):
            write_profile(
                spark.createDataFrame(
                    [(f"r{b}", int(b))], "k string, ct int"
                ),
                store, f"{b:08d}",
            )

    def merge(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def content(store):
        return sorted(
            (r.k, r.ct)
            for rid in list_profile_runs(store)
            for r in spark.read.parquet(f"{store}/run_id={rid}").collect()
        )

    # reference: clean retention, no crash
    clean = str(tmp_path / "clean"); seed(clean)
    retain_runs(spark, clean, 2, "00000000_rollup_a", merge)
    want = content(clean)
    assert len(list_profile_runs(clean)) == 3  # 2 kept + rollup

    # crash AFTER rollup+sidecar, BEFORE deletes: replay finishes them
    crashed = str(tmp_path / "crashed"); seed(crashed)
    rdir = f"{crashed}/run_id=00000000_rollup_a"
    spark.createDataFrame(
        [("r0", 0), ("r1", 1)], "k string, ct int"
    ).coalesce(1).write.parquet(rdir)
    with open(f"{rdir}/_sources.json", "w") as fh:
        _json.dump(["00000000", "00000001"], fh)
    retain_runs(spark, crashed, 2, "00000000_rollup_a", merge)
    assert content(crashed) == want
    assert not os.path.isdir(f"{crashed}/run_id=00000000")

    # crash MID-rollup (no sidecar): the partial rollup is redone
    half = str(tmp_path / "half"); seed(half)
    hdir = f"{half}/run_id=00000000_rollup_a"
    spark.createDataFrame([("junk", 99)], "k string, ct int").coalesce(
        1
    ).write.parquet(hdir)  # half-written: wrong content, no sidecar
    retain_runs(spark, half, 2, "00000000_rollup_a", merge)
    assert content(half) == want
    shutil.rmtree(half)


def test_hll_sketch_sink_merged_store_equals_one_pass(spark, tmp_path):
    """Continuous HLL: the merged per-batch register store must be
    REGISTER-identical to the one-pass sketch over everything ingested
    (max is the whole merge algebra), estimates come straight off the
    merged store, and re-merging the store with itself changes nothing
    (idempotence — the property sums don't have)."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )
    from data_observability_installer_spark.streaming.sketch import (
        hll_sketch_sink,
        read_hll_store,
    )

    b1 = [f"a{i}" for i in range(300)] + ["dup"] * 50
    b2 = [f"b{i}" for i in range(200)] + ["dup"] * 20
    src = tmp_path / "words"; src.mkdir()
    (src / "a.json").write_text("\n".join(_json.dumps({"w": w}) for w in b1))
    _time.sleep(1.1)
    (src / "b.json").write_text("\n".join(_json.dumps({"w": w}) for w in b2))

    store = str(tmp_path / "hll_store")
    stream = (
        spark.readStream.schema("w string").option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = hll_sketch_sink(stream, store, str(tmp_path / "ckpt"), availableNow=True)
    q.awaitTermination(120)

    merged = sorted(map(tuple, read_hll_store(spark, store).collect()))
    one_pass = sorted(
        map(
            tuple,
            hll_sketch(
                spark.createDataFrame([(w,) for w in b1 + b2], "w string")
            ).collect(),
        )
    )
    assert merged == one_pass

    est = hll_estimate(read_hll_store(spark, store)).collect()[0]["est_ct"]
    assert abs(est - 501) / 501 < 0.2


def test_dsir_model_sink_merged_store_equals_one_pass(spark, tmp_path):
    """Continuous DSIR: the merged per-batch model must be
    BUCKET-identical to the one-pass model over everything ingested,
    and scoring a probe corpus against the streamed model must equal
    scoring against the batch-built model (exact integers after the
    per-bucket quantized ln)."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from data_observability_installer_spark.operators.llm.curation import (
        dsir_model,
        dsir_score,
    )
    from data_observability_installer_spark.streaming.sketch import (
        dsir_model_sink,
        read_dsir_model,
    )

    b1 = [(1, "alpha beta alpha", "en"), (2, "gamma delta", "de")]
    b2 = [(3, "alpha beta beta", "en"), (4, "epsilon zeta", "fr")]
    src = tmp_path / "docs"; src.mkdir()
    (src / "a.json").write_text("\n".join(
        _json.dumps({"doc_id": d, "text": t, "lang": g}) for d, t, g in b1))
    _time.sleep(1.1)
    (src / "b.json").write_text("\n".join(
        _json.dumps({"doc_id": d, "text": t, "lang": g}) for d, t, g in b2))

    store = str(tmp_path / "dsir_store")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    q = dsir_model_sink(
        stream, store, str(tmp_path / "ckpt"), F.col("lang") == "en",
        availableNow=True,
    )
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(b1 + b2, "doc_id long, text string, lang string")
    streamed = sorted(map(tuple, read_dsir_model(spark, store).collect()))
    one_pass = sorted(
        map(tuple, dsir_model(all_docs, F.col("lang") == "en").collect())
    )
    assert streamed == one_pass

    probe = spark.createDataFrame(
        [(9, "alpha beta gamma"), (10, "zeta unseen_token")],
        "doc_id long, text string",
    )
    via_stream = sorted(
        map(tuple, dsir_score(probe, read_dsir_model(spark, store)).collect())
    )
    via_batch = sorted(
        map(tuple, dsir_score(
            probe, dsir_model(all_docs, F.col("lang") == "en")).collect())
    )
    assert via_stream == via_batch


def test_semdedup_sink_cumulative_parity_out_of_order_and_replay(spark, tmp_path):
    """Incremental streaming SemDeDup: folding the per-batch witness
    rows by min(dup_of) must reproduce the full-corpus semdedup
    verdicts ROW for ROW — including when a SMALLER id arrives in a
    later batch (it retroactively becomes the keeper and flips earlier
    keeps, since verdicts fold by min, not by arrival) — and a replayed
    micro-batch changes nothing (exactly-once store commits +
    idempotent witness partitions + min idempotence)."""
    import json as _json
    import time as _time

    import numpy as np

    from data_observability_installer_spark.operators.llm.similarity import (
        semdedup,
        semdedup_incremental,
        semdedup_verdicts,
    )
    from data_observability_installer_spark.sources import txtable as _tx
    from data_observability_installer_spark.streaming.dedup import semdedup_sink

    rs = np.random.RandomState(7)
    v0 = rs.uniform(-1, 1, 64)
    v2 = rs.uniform(-1, 1, 64)
    v4 = rs.uniform(-1, 1, 64)

    def fl(a):
        return [float(x) for x in a]

    b1 = [(10, fl(v0)), (11, fl(v0 * 2.0)), (30, fl(v2))]
    # batch 2 carries vid 5 ~ v0: SMALLER than batch 1's 10/11, so the
    # cumulative verdict must flip 10 from keep to dup_of=5
    b2 = [
        (31, fl(v2 + rs.uniform(-0.01, 0.01, 64))),
        (40, fl(v4)),
        (41, fl(v4 * 0.5)),
        (5, fl(v0 * 1.5)),
    ]

    src = tmp_path / "emb_stream"; src.mkdir()
    def dump(rows, name):
        (src / name).write_text(
            "\n".join(_json.dumps({"vec_id": i, "embedding": e}) for i, e in rows)
        )
    dump(b1, "a.json"); _time.sleep(1.1); dump(b2, "b.json")

    store = str(tmp_path / "cells")
    witness_store = str(tmp_path / "witnesses")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = semdedup_sink(
        stream, store, witness_store, str(tmp_path / "ckpt"),
        threshold=0.95, availableNow=True,
    )
    q.awaitTermination(120)

    full_df = spark.createDataFrame(b1 + b2, "vec_id long, embedding array<float>")
    want = sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup(full_df, threshold=0.95).collect()
    )
    got = sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup_verdicts(spark, store, witness_store).collect()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[5][2] and by_id[5][3] is None          # late small id keeps
    assert not by_id[10][2] and by_id[10][3] == 5       # retro-corrected
    assert not by_id[11][2] and by_id[11][3] == 5
    assert not by_id[31][2] and by_id[31][3] == 30      # cross-batch witness
    assert not by_id[41][2] and by_id[41][3] == 40      # in-batch witness

    # hot-cell exemption parity at the read face
    cap = 2
    want_cap = sorted(
        (r.vec_id, r.keep, r.dup_of)
        for r in semdedup(full_df, threshold=0.95, max_cell=cap).collect()
    )
    got_cap = sorted(
        (r.vec_id, r.keep, r.dup_of)
        for r in semdedup_verdicts(
            spark, store, witness_store, max_cell=cap
        ).collect()
    )
    assert got_cap == want_cap

    # replay the LAST batch: store unchanged (exactly-once) and the
    # witness output ROW-identical even though its vectors already
    # landed in the store (vid dedup keeps self-pairs out)
    n_versions = len(_tx.history(store))
    replay_df = spark.createDataFrame(b2, "vec_id long, embedding array<float>")
    w = semdedup_incremental(
        spark, store, replay_df, threshold=0.95, batch_id=1
    )
    assert len(_tx.history(store)) == n_versions
    replay_rows = sorted((r.vid, r.dup_of) for r in w.collect())
    first_rows = sorted(
        (r.vid, r.dup_of)
        for r in spark.read.parquet(f"{witness_store}/run_id=00000001").collect()
    )
    assert replay_rows == first_rows


def test_qsketch_sink_merged_store_within_bound(spark, tmp_path):
    """Continuous quantile sketch: the merged per-batch store must
    answer rank queries within the q-digest bound over EVERYTHING
    ingested (merges are bound-preserving, not bit-identical — the
    published structure's contract), conserve counts exactly, and stay
    sketch-sized."""
    import json as _json
    import math
    import time as _time

    import numpy as np

    from data_observability_installer_spark.operators.sketch import (
        qsketch_quantiles,
    )
    from data_observability_installer_spark.streaming.sketch import (
        qsketch_sink,
        read_qsketch_store,
    )

    rs = np.random.RandomState(6)
    b1 = [int(v) for v in rs.randint(0, 5000, 4000)]
    b2 = [int(v) for v in rs.randint(40000, 65536, 2500)]
    src = tmp_path / "vals"; src.mkdir()
    (src / "a.json").write_text("\n".join(_json.dumps({"v": v}) for v in b1))
    _time.sleep(1.1)
    (src / "b.json").write_text("\n".join(_json.dumps({"v": v}) for v in b2))

    store = str(tmp_path / "qs_store")
    stream = (
        spark.readStream.schema("v long").option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    k, log_u = 64, 16
    q = qsketch_sink(
        stream, store, str(tmp_path / "ckpt"), col="v",
        lo=0, hi=65535, k=k, log_u=log_u, availableNow=True,
    )
    q.awaitTermination(120)

    merged = read_qsketch_store(spark, store)
    rows = merged.collect()
    n = sum(r["cnt"] for r in rows)
    assert n == len(b1) + len(b2)                 # counts conserved
    assert len(rows) <= 2 * (log_u + 1) * (k - 1)  # <= sum of part bounds
    exact = np.sort(np.array(b1 + b2))
    for r in qsketch_quantiles(merged, [2500, 5000, 9000], 0, 65535, log_u).collect():
        target = math.ceil(r["q_bp"] / 10000 * n)
        rank_lo = int(np.searchsorted(exact, r["est"], "left"))
        rank_hi = int(np.searchsorted(exact, r["est"], "right"))
        assert min(abs(rank_lo - target), abs(rank_hi - target)) <= 2 * log_u * n / k


def test_qsketch_sink_grouped_per_key_bounds(spark, tmp_path):
    """Grouped continuous quantiles: per-key merged sketches conserve
    each key's count, stay per-key bounded, and answer per-key ranks
    within the bound — the always-on per-pipeline SLA percentile
    store."""
    import json as _json
    import math
    import time as _time

    import numpy as np

    from data_observability_installer_spark.operators.sketch import (
        qsketch_quantiles,
    )
    from data_observability_installer_spark.streaming.sketch import (
        qsketch_sink,
        read_qsketch_store,
    )

    rs = np.random.RandomState(3)
    b1 = [("a", int(v)) for v in rs.randint(0, 8000, 2000)]
    b1 += [("b", int(v)) for v in rs.randint(30000, 40000, 500)]
    b2 = [("a", int(v)) for v in rs.randint(8000, 16000, 1500)]
    src = tmp_path / "vals"; src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"pipe": p, "v": v}) for p, v in b1))
    _time.sleep(1.1)
    (src / "b.json").write_text(
        "\n".join(_json.dumps({"pipe": p, "v": v}) for p, v in b2))

    store = str(tmp_path / "qs_store")
    stream = (
        spark.readStream.schema("pipe string, v long")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    k, log_u = 64, 16
    q = qsketch_sink(
        stream, store, str(tmp_path / "ckpt"), col="v",
        lo=0, hi=65535, k=k, log_u=log_u, key_col="pipe",
        availableNow=True,
    )
    q.awaitTermination(120)

    merged = read_qsketch_store(spark, store)
    per_key = {}
    for r in merged.collect():
        per_key.setdefault(r["k_key"], []).append(r)
    all_vals = b1 + b2
    for key in ("a", "b"):
        want_n = sum(1 for p, _ in all_vals if p == key)
        assert sum(r["cnt"] for r in per_key[key]) == want_n
        assert len(per_key[key]) <= 2 * (log_u + 1) * (k - 1)
    exact = {
        key: np.sort([v for p, v in all_vals if p == key]) for key in ("a", "b")
    }
    for r in qsketch_quantiles(merged, [5000, 9000], 0, 65535, log_u).collect():
        n = r["n"]
        target = math.ceil(r["q_bp"] / 10000 * n)
        ex = exact[r["k_key"]]
        lo_r = int(np.searchsorted(ex, r["est"], "left"))
        hi_r = int(np.searchsorted(ex, r["est"], "right"))
        assert min(abs(lo_r - target), abs(hi_r - target)) <= 2 * log_u * n / k


def test_semdedup_sink_max_cell_cap_is_parity_safe(spark, tmp_path):
    """The per-batch cost cap: a cell whose cumulative pool crosses
    max_cell stops emitting witnesses mid-stream, yet the read face at
    the SAME cap stays ROW-identical to batch semdedup(max_cell=cap) —
    counts only grow, so every cell that ever skipped is over-cap at
    read time and exempted wholesale; under-cap cells never skipped."""
    import json as _json
    import time as _time

    import numpy as np

    from data_observability_installer_spark.operators.llm.similarity import (
        semdedup,
        semdedup_verdicts,
    )
    from data_observability_installer_spark.streaming.dedup import semdedup_sink

    rs = np.random.RandomState(11)
    v0 = rs.uniform(-1, 1, 64)   # the hot direction
    v2 = rs.uniform(-1, 1, 64)   # a quiet direction

    def fl(a):
        return [float(x) for x in a]

    # hot cell: 6 scaled copies of v0 split across batches (all land in
    # v0's cell; pool crosses cap=4 inside batch 2)
    b1 = [(i, fl(v0 * (1.0 + 0.1 * i))) for i in range(3)]
    b1 += [(100, fl(v2))]
    b2 = [(i, fl(v0 * (2.0 + 0.1 * i))) for i in range(3, 6)]
    b2 += [(101, fl(v2 * 1.5))]  # quiet-cell dup pair stays exact

    src = tmp_path / "emb_stream"; src.mkdir()
    def dump(rows, name):
        (src / name).write_text(
            "\n".join(_json.dumps({"vec_id": i, "embedding": e}) for i, e in rows)
        )
    dump(b1, "a.json"); _time.sleep(1.1); dump(b2, "b.json")

    store = str(tmp_path / "cells")
    witness_store = str(tmp_path / "witnesses")
    cap = 4
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = semdedup_sink(
        stream, store, witness_store, str(tmp_path / "ckpt"),
        threshold=0.95, max_cell=cap, availableNow=True,
    )
    q.awaitTermination(120)

    full_df = spark.createDataFrame(b1 + b2, "vec_id long, embedding array<float>")
    want = sorted(
        (r.vec_id, r.keep, r.dup_of)
        for r in semdedup(full_df, threshold=0.95, max_cell=cap).collect()
    )
    got = sorted(
        (r.vec_id, r.keep, r.dup_of)
        for r in semdedup_verdicts(
            spark, store, witness_store, max_cell=cap
        ).collect()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    # the hot cell crossed the cap -> exempted wholesale (all kept)
    for vid in range(6):
        assert by_id[vid][1] and by_id[vid][2] is None
    # the quiet cell stayed exact
    assert not by_id[101][1] and by_id[101][2] == 100
    # and the cap actually FIRED: batch 2 emitted no hot-cell witnesses
    w2 = spark.read.parquet(f"{witness_store}/run_id=00000001").collect()
    assert all(r.vid > 6 or r.vid in (101,) for r in w2) or not w2


def test_semdedup_sink_retain_bounds_witness_store_bit_identical(spark, tmp_path):
    """retain= folds over-budget witness partitions into a
    min(dup_of)-per-vid rollup (round-11 verdict What's wrong #2):
    the store stays bounded, the verdicts stay BIT-identical to the
    unbounded store's (min is associative/commutative/idempotent),
    a replayed last batch changes nothing, and a crash that left a
    half-written rollup dir is redone cleanly by the sidecar protocol."""
    import json as _json
    import os
    import shutil
    import time as _time

    import numpy as np

    from data_observability_installer_spark.operators.llm.similarity import (
        semdedup,
        semdedup_incremental,
        semdedup_verdicts,
    )
    from data_observability_installer_spark.operators.profile import retain_runs
    from data_observability_installer_spark.streaming.dedup import semdedup_sink
    from pyspark.sql import functions as F

    rs = np.random.RandomState(11)
    base = [rs.uniform(-1, 1, 64) for _ in range(4)]

    def fl(a):
        return [float(x) for x in a]

    # 5 batches; duplicates span batches (scaled copies share cosine=1)
    batches = [
        [(10 * b + j, fl(base[(b + j) % 4] * (1.0 + 0.5 * j)))
         for j in range(3)]
        for b in range(5)
    ]
    src = tmp_path / "emb"; src.mkdir()
    for b, rows in enumerate(batches):
        (src / f"{b}.json").write_text(
            "\n".join(_json.dumps({"vec_id": i, "embedding": e}) for i, e in rows)
        )
        _time.sleep(0.15)

    store = str(tmp_path / "cells")
    witness_store = str(tmp_path / "wit")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = semdedup_sink(
        stream, store, witness_store, str(tmp_path / "ckpt"),
        threshold=0.95, retain=2, availableNow=True,
    )
    q.awaitTermination(120)

    parts = sorted(os.listdir(witness_store))
    runs = [p for p in parts if p.startswith("run_id=")]
    plain = [r for r in runs if "rollup" not in r]
    assert len(plain) <= 2  # bounded: surplus folded, not accreted
    assert any("rollup" in r for r in runs)

    full_df = spark.createDataFrame(
        [r for b in batches for r in b], "vec_id long, embedding array<float>"
    )
    want = sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup(full_df, threshold=0.95).collect()
    )
    got = sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup_verdicts(spark, store, witness_store).collect()
    )
    assert got == want

    # replay of the last batch: exactly-once store commit + overwrite
    # witness partition + retain early-return => nothing changes
    replay_df = spark.createDataFrame(
        batches[-1], "vec_id long, embedding array<float>"
    )
    w = semdedup_incremental(spark, store, replay_df, threshold=0.95, batch_id=4)
    w.coalesce(1).write.mode("overwrite").parquet(
        f"{witness_store}/run_id=00000004"
    )
    retain_runs(
        spark, witness_store, 2, "00000000_rollup_00000004",
        lambda ps: ps[0],
    )
    assert sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup_verdicts(spark, store, witness_store).collect()
    ) == want

    # crash mid-rollup: a half-written rollup dir (no _sources.json)
    # must be discarded and redone without changing verdicts
    def fold(ps):
        out = ps[0]
        for p in ps[1:]:
            out = out.unionByName(p)
        return out.groupBy("vid").agg(F.min("dup_of").alias("dup_of"))

    half = os.path.join(witness_store, "run_id=00000000_rollup_crash")
    os.makedirs(half)
    spark.createDataFrame([(999, 1)], "vid long, dup_of long").coalesce(
        1
    ).write.mode("overwrite").parquet(half)
    shutil.rmtree(os.path.join(half, "_SUCCESS"), ignore_errors=True)
    retain_runs(spark, witness_store, 1, "00000000_rollup_crash", fold)
    assert sorted(
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in semdedup_verdicts(spark, store, witness_store).collect()
    ) == want


def test_entity_match_sink_cumulative_parity_and_replay(spark, tmp_path):
    """Incremental identity resolution: the union of per-batch pair
    partitions, read through entity_match_pairs, must be ROW-identical
    to batch entity_match over everything ingested — including the
    hot-block rule when a block crosses max_block MID-stream (counts
    only grow, so the read-time cap exclusion matches the batch
    operator exactly) — and a replayed micro-batch changes nothing
    (exactly-once store commit + idempotent pair partitions)."""
    import json as _json
    import time as _time

    from data_observability_installer_spark.operators.linkage import (
        entity_match,
        entity_match_incremental,
        entity_match_pairs,
    )
    from data_observability_installer_spark.sources import txtable as _tx
    from data_observability_installer_spark.streaming.linkage import (
        entity_match_sink,
    )

    b1 = [(1, "smith global inc", "london", 1000),
          (2, "smith global incx", "london", 1010),
          (3, "acme widgets ltd", "paris", 5000),
          (4, "zeta systems", "berlin", 700)]
    b2 = [(11, "smith global inc.", "london", 1005),
          (12, "acme widgets ltd", "paris", 5002),
          (13, "acme widgets co", "paris", 5100)]
    # batch 3 pushes the "acme w" block over max_block=4
    b3 = [(21, "zeta systems gmbh", "berlin", 703),
          (22, "acme widgets ltd.", "paris", 5003),
          (23, "acme widgets intl", "rome", 5200)]
    batches = [b1, b2, b3]
    kw = dict(
        block_prefix=6,
        cat_cols=["city"],
        num_cols=[("cents", 1000)],
        threshold_bp=5000,
    )

    src = tmp_path / "records"; src.mkdir()
    for i, rows in enumerate(batches):
        (src / f"{i}.json").write_text(
            "\n".join(
                _json.dumps(
                    {"rid": r[0], "name": r[1], "city": r[2], "cents": r[3]}
                )
                for r in rows
            )
        )
        _time.sleep(0.15)

    store = str(tmp_path / "store")
    pairs_store = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema("rid long, name string, city string, cents long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = entity_match_sink(
        stream, store, pairs_store, str(tmp_path / "ckpt"),
        id_col="rid", name_col="name", max_block=4, availableNow=True,
        **kw,
    )
    q.awaitTermination(120)

    full = spark.createDataFrame(
        [r for b in batches for r in b],
        "rid long, name string, city string, cents long",
    )
    want_capped = sorted(
        map(tuple, entity_match(full, "rid", "name", max_block=4, **kw).collect())
    )
    got_capped = sorted(
        map(
            tuple,
            entity_match_pairs(
                spark, pairs_store, store=store,
                threshold_bp=5000, max_block=4,
            ).collect(),
        )
    )
    assert got_capped == want_capped
    # the cap actually BIT: the acme block crossed it, so its pairs are
    # excluded even though some were emitted while the block was small
    assert not any("acme" in str(t) for t in got_capped)
    assert len(want_capped) >= 2  # smith + zeta matches survive

    # UNcapped incremental parity on a second store (manual batches)
    store2 = str(tmp_path / "store2")
    pairs2 = str(tmp_path / "pairs2")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows, "rid long, name string, city string, cents long"
        )
        p = entity_match_incremental(
            spark, store2, df, "rid", "name", batch_id=i, **kw
        )
        p.coalesce(1).write.mode("overwrite").parquet(
            f"{pairs2}/run_id={i:08d}"
        )
    want = sorted(map(tuple, entity_match(full, "rid", "name", **kw).collect()))
    got = sorted(
        map(
            tuple,
            entity_match_pairs(spark, pairs2, threshold_bp=5000).collect(),
        )
    )
    assert got == want and len(want) > len(want_capped)  # acme pairs back

    # replay of the LAST batch: store unchanged (exactly-once) and the
    # recomputed pairs ROW-identical to the stored partition
    n_versions = len(_tx.history(store2))
    replay = spark.createDataFrame(
        b3, "rid long, name string, city string, cents long"
    )
    p = entity_match_incremental(
        spark, store2, replay, "rid", "name", batch_id=2, **kw
    )
    assert len(_tx.history(store2)) == n_versions
    assert sorted(map(tuple, p.collect())) == sorted(
        map(tuple, spark.read.parquet(f"{pairs2}/run_id=00000002")
            .select("id_a", "id_b", "name_sim_bp", "score_bp", "blk")
            .collect())
    )


def test_entity_match_sink_retain_bounds_pairs_store(spark, tmp_path):
    """retain= on the continuous matcher: the pairs store stays bounded
    (surplus run partitions folded into one rollup) and
    entity_match_pairs reads ROW-identical to batch entity_match before
    and after the fold — including a micro-batch replayed AFTER the
    rollup absorbed its partition (the read-face (id_a, id_b) dedup
    removes the duplicate rows) and a crash mid-rollup (half-written
    rollup redone by the sidecar protocol)."""
    import json as _json
    import os
    import shutil
    import time as _time

    from data_observability_installer_spark.operators.linkage import (
        entity_match,
        entity_match_incremental,
        entity_match_pairs,
    )
    from data_observability_installer_spark.operators.profile import (
        retain_runs,
    )
    from data_observability_installer_spark.streaming.linkage import (
        entity_match_sink,
    )

    b1 = [(1, "smith global inc", "london", 1000),
          (2, "smith global incx", "london", 1010),
          (3, "acme widgets ltd", "paris", 5000)]
    b2 = [(11, "smith global inc.", "london", 1005),
          (12, "acme widgets ltd", "paris", 5002)]
    b3 = [(21, "acme widgets ltd.", "paris", 5003),
          (22, "zeta systems", "berlin", 700)]
    batches = [b1, b2, b3]
    kw = dict(
        block_prefix=6,
        cat_cols=["city"],
        num_cols=[("cents", 1000)],
        threshold_bp=5000,
    )

    src = tmp_path / "records"; src.mkdir()
    for i, rows in enumerate(batches):
        (src / f"{i}.json").write_text(
            "\n".join(
                _json.dumps(
                    {"rid": r[0], "name": r[1], "city": r[2], "cents": r[3]}
                )
                for r in rows
            )
        )
        _time.sleep(0.15)

    store = str(tmp_path / "store")
    pairs_store = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema("rid long, name string, city string, cents long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = entity_match_sink(
        stream, store, pairs_store, str(tmp_path / "ckpt"),
        id_col="rid", name_col="name", retain=1, availableNow=True,
        **kw,
    )
    q.awaitTermination(120)

    runs = sorted(
        p for p in os.listdir(pairs_store) if p.startswith("run_id=")
    )
    plain = [r for r in runs if "rollup" not in r]
    assert len(plain) <= 1 and any("rollup" in r for r in runs)

    full = spark.createDataFrame(
        [r for b in batches for r in b],
        "rid long, name string, city string, cents long",
    )
    want = sorted(map(tuple, entity_match(full, "rid", "name", **kw).collect()))
    got = sorted(
        map(tuple,
            entity_match_pairs(spark, pairs_store, threshold_bp=5000).collect())
    )
    assert got == want and len(want) >= 2

    # batch 2 replays AFTER the rollup absorbed run_id=00000002: the
    # store commit is exactly-once (no new version) and the re-created
    # partition's rows are duplicates the read face folds away
    replay = spark.createDataFrame(
        b3, "rid long, name string, city string, cents long"
    )
    p = entity_match_incremental(
        spark, store, replay, "rid", "name", batch_id=2, **kw
    )
    p.coalesce(1).write.mode("overwrite").parquet(
        f"{pairs_store}/run_id=00000002"
    )
    assert sorted(
        map(tuple,
            entity_match_pairs(spark, pairs_store, threshold_bp=5000).collect())
    ) == want
    # the retention pass the replayed batch would run folds them back
    retain_runs(
        spark, pairs_store, 1, "00000000_rollup_replay",
        lambda ps: ps[0].unionByName(ps[1]).dropDuplicates(["id_a", "id_b"])
        if len(ps) > 1 else ps[0].dropDuplicates(["id_a", "id_b"]),
    )
    assert sorted(
        map(tuple,
            entity_match_pairs(spark, pairs_store, threshold_bp=5000).collect())
    ) == want

    # crash mid-rollup: half-written rollup dir (no _sources.json) is
    # discarded and redone without changing the cumulative pairs
    half = os.path.join(pairs_store, "run_id=00000000_rollup_crash")
    os.makedirs(half)
    spark.createDataFrame(
        [("x", "y")], "id_a string, id_b string"
    ).coalesce(1).write.mode("overwrite").parquet(half)
    shutil.rmtree(os.path.join(half, "_SUCCESS"), ignore_errors=True)

    def fold(ps):
        out = ps[0]
        for q2 in ps[1:]:
            out = out.unionByName(q2)
        return out.dropDuplicates(["id_a", "id_b"])

    retain_runs(spark, pairs_store, 1, "00000000_rollup_crash", fold)
    assert sorted(
        map(tuple,
            entity_match_pairs(spark, pairs_store, threshold_bp=5000).collect())
    ) == want


def test_decontam_sink_batch_parity_replay_and_retain(spark, tmp_path):
    """Streaming decontamination: the cumulative verdict store over N
    micro-batches is ROW-identical to batch decontaminate_fingerprint
    over everything ingested (the benchmark's shingle/fingerprint
    frames are frozen at sink start — the production shape: eval sets
    change rarely, the corpus arrives forever); a replayed batch
    changes nothing, and retain= keeps the store bounded without
    changing verdicts."""
    import json as _json
    import os
    import time as _time

    from data_observability_installer_spark.operators.llm.decontam import (
        decontaminate_fingerprint,
    )
    from data_observability_installer_spark.streaming.decontam import (
        decontam_sink,
        decontam_verdicts,
    )

    bench_rows = [(100, "the quick brown fox jumps over the lazy dog"),
                  (101, "pack my box with five dozen liquor jugs")]
    b1 = [(1, "a clean document about nothing in particular at all here"),
          (2, "the quick brown fox jumps over the lazy dog said the text")]
    b2 = [(3, "pack my box with five dozen liquor jugs every day"),
          (4, "another clean one with fully disjoint words inside it")]
    b3 = [(5, "quick brown fox jumps over the lazy dog and a fox"),
          (6, "completely unrelated sentence goes right here friends")]
    batches = [b1, b2, b3]

    src = tmp_path / "docs"; src.mkdir()
    for i, rows in enumerate(batches):
        (src / f"{i}.json").write_text(
            "\n".join(_json.dumps({"doc_id": r[0], "text": r[1]}) for r in rows)
        )
        _time.sleep(0.15)

    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    store = str(tmp_path / "verdicts")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = decontam_sink(
        stream, bench, store, str(tmp_path / "ckpt"),
        n=5, min_hits=1, retain=1, availableNow=True,
    )
    q.awaitTermination(120)

    runs = sorted(p for p in os.listdir(store) if p.startswith("run_id="))
    assert len([r for r in runs if "rollup" not in r]) <= 1
    assert any("rollup" in r for r in runs)

    full = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    want = sorted(
        map(tuple, decontaminate_fingerprint(full, bench, n=5).collect())
    )
    got = sorted(map(tuple, decontam_verdicts(spark, store).collect()))
    assert got == want
    # the planted contamination actually bit, and clean docs are clean
    verdict = {t[0]: t[2] for t in got}
    assert verdict[2] and verdict[3] and verdict[5]
    assert not verdict[1] and not verdict[4] and not verdict[6]

    # replay of batch 2 AFTER the rollup absorbed its partition:
    # re-created rows are duplicates the read face folds away
    from data_observability_installer_spark.operators.llm.decontam import (
        fingerprint_verdicts,
    )
    from data_observability_installer_spark.operators.llm.dedup import (
        exploded_shingles,
    )
    from pyspark.sql import functions as F

    bench_sh = exploded_shingles(bench, "text", "doc_id", 5).select(
        "sh"
    ).distinct()
    fp = bench_sh.select(F.xxhash64("sh").alias("h")).distinct()
    replay = spark.createDataFrame(b3, "doc_id long, text string")
    fingerprint_verdicts(replay, bench_sh, fp, n=5).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/run_id=00000002")
    assert sorted(map(tuple, decontam_verdicts(spark, store).collect())) == want


def test_monitor_pane_stored_equals_recomputed(spark, tmp_path, sf_smoke):
    """The serving face of the monitoring pane: replay the events table
    through the continuous stores (two agg_sink cubes + the grouped
    qsketch SLA store) in day-aligned micro-batches, then
    monitor_pane_stored over the STORES must be ROW-identical to the
    oracle-checked monitor_events recompute over the raw table — the
    stored pane serves the same verdicts at O(store) latency without
    rescanning the event log."""
    import time as _time

    from pyspark.sql import functions as F

    from data_observability_installer_spark.plans.registry import (
        QUERIES,
    )
    from data_observability_installer_spark.sources.tables import load_table
    from data_observability_installer_spark.streaming.aggstore import (
        agg_sink,
    )
    from data_observability_installer_spark.streaming.monitor import (
        COUNTS_FOLDS,
        COUNTS_KEYS,
        RUNS_FOLDS,
        RUNS_KEYS,
        monitor_pane_stored,
    )
    from data_observability_installer_spark.streaming.sketch import (
        qsketch_sink,
    )

    ev = load_table(spark, sf_smoke, "events")
    # day-aligned chunks: run_key is user:day, so no run spans a batch
    # and each batch's run durations are FINAL (what the run tracker
    # would emit on completion)
    cuts = [(None, "2024-01-11"), ("2024-01-11", "2024-01-21"),
            ("2024-01-21", None)]

    def chunk(i):
        lo, hi = cuts[i]
        out = ev
        if lo:
            out = out.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            out = out.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        return out

    runs_proj = [
        F.concat(F.lit("pipeline-"), (F.col("user_id") % 5).cast("string"))
        .alias("pipeline_key"),
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("run_key"),
        F.col("ts"),
        (F.col("event_type") == "error").cast("long").alias("err"),
        (F.col("event_type") == "purchase").cast("long").alias("pur"),
    ]

    ev_src = tmp_path / "ev"; dur_src = tmp_path / "dur"
    for i in range(3):
        c = chunk(i)
        c.select("event_id", "ts", "user_id", "event_type").coalesce(
            1
        ).write.mode("append" if i else "overwrite").json(str(ev_src))
        (
            c.select(*runs_proj)
            .groupBy("pipeline_key", "run_key")
            .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
            .selectExpr(
                "pipeline_key",
                "(unix_micros(end_ts) - unix_micros(start_ts)) DIV 1000000"
                " AS dur_s",
            )
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .json(str(dur_src))
        )
        _time.sleep(0.15)

    ev_stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(ev_src))
    )
    counts_store = str(tmp_path / "counts")
    q1 = agg_sink(
        ev_stream.select(
            F.col("event_type").alias("k"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("o"),
        ),
        counts_store, str(tmp_path / "ck1"),
        keys=COUNTS_KEYS,
        aggs={"v": F.count(F.lit(1)).cast("long")},
        folds=COUNTS_FOLDS,
        retain=1, availableNow=True,
    )
    runs_store = str(tmp_path / "runs")
    q2 = agg_sink(
        ev_stream.select(*runs_proj),
        runs_store, str(tmp_path / "ck2"),
        keys=RUNS_KEYS,
        aggs={
            "start_ts": F.min("ts"), "end_ts": F.max("ts"),
            "err_ct": F.sum("err"), "pur_ct": F.sum("pur"),
        },
        folds=RUNS_FOLDS,
        availableNow=True,
    )
    # two SLA stores: qs1 ingests every duration in ONE trigger (its
    # merged sketch == the recompute's one-shot sketch, so the pane is
    # bit-identical); qs3 ingests the 3 day chunks — per-batch sketches
    # compress independently, so its estimates carry the q-digest rank
    # bound rather than bit-equality (the documented store contract)
    qs1 = str(tmp_path / "qs1")
    q3 = qsketch_sink(
        spark.readStream.schema("pipeline_key string, dur_s long").json(
            str(dur_src)
        ),
        qs1, str(tmp_path / "ck3"),
        col="dur_s", key_col="pipeline_key", lo=0, hi=(1 << 17) - 1,
        availableNow=True,
    )
    qs3 = str(tmp_path / "qs3")
    q4 = qsketch_sink(
        spark.readStream.schema("pipeline_key string, dur_s long")
        .option("maxFilesPerTrigger", 1)
        .json(str(dur_src)),
        qs3, str(tmp_path / "ck4"),
        col="dur_s", key_col="pipeline_key", lo=0, hi=(1 << 17) - 1,
        availableNow=True,
    )
    for q in (q1, q2, q3, q4):
        q.awaitTermination(120)

    want = sorted(
        map(tuple, QUERIES["monitor_events"](spark, sf_smoke).collect())
    )
    got = sorted(
        map(
            tuple,
            monitor_pane_stored(
                spark, counts_store, runs_store, qs1
            ).collect(),
        )
    )
    assert got == want and len(want) > 10

    got3 = sorted(
        map(
            tuple,
            monitor_pane_stored(
                spark, counts_store, runs_store, qs3
            ).collect(),
        )
    )
    non_sla = [t for t in got3 if t[0] != "sla_p99"]
    assert non_sla == [t for t in want if t[0] != "sla_p99"]
    want_sla = {t[1]: t for t in want if t[0] == "sla_p99"}
    for _, entity, flagged, detail in (t for t in got3 if t[0] == "sla_p99"):
        w = want_sla.pop(entity)
        assert flagged == w[2]  # same SLA verdicts
        # independent per-batch compression: same rank-bound family,
        # estimates agree within the q-digest tolerance, not bit-equal
        assert 0.5 * int(w[3]) <= int(detail) <= 2.0 * int(w[3])
    assert not want_sla


def test_txtable_stream_feeds_monitor_cube(spark, tmp_path):
    """Governed-table subscription end to end: events land in a
    txtable via exactly-once stream commits, a TxTableStream tail
    consumes the commit log and maintains the daily-counts cube
    (agg-store partials keyed by the tail's batch ids), and the folded
    cube equals the one-shot aggregate over the table — monitors
    consuming transactional tables instead of raw file directories."""
    from pyspark.sql import functions as F

    from data_observability_installer_spark.sources.txtable import (
        commit_stream_batch,
        read_table,
        txtable_stream,
    )
    from data_observability_installer_spark.streaming.aggstore import (
        read_agg_store,
    )

    t = str(tmp_path / "tbl")
    for b, lo in enumerate((0, 40, 80)):
        commit_stream_batch(
            t,
            spark.createDataFrame(
                [(i, ["click", "view"][i % 2], f"2024-01-{1 + i % 3:02d}")
                 for i in range(lo, lo + 40)],
                "event_id int, k string, o string",
            ),
            batch_id=b,
        )

    cube = str(tmp_path / "cube")
    tail = txtable_stream(spark, t, str(tmp_path / "ckpt"),
                          max_commits_per_trigger=1)

    def to_cube(df, batch_id):
        df.groupBy("k", "o").agg(
            F.count(F.lit(1)).cast("long").alias("v")
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{cube}/run_id={batch_id:08d}"
        )

    assert tail.process_available(to_cube) == 3
    got = sorted(
        map(tuple,
            read_agg_store(spark, cube, ["k", "o"], {"v": "sum"}).collect())
    )
    want = sorted(
        map(tuple,
            read_table(spark, t).groupBy("k", "o")
            .agg(F.count(F.lit(1)).cast("long").alias("v")).collect())
    )
    assert got == want and len(want) == 6


@pytest.fixture(scope="module")
def retention_src(tmp_path_factory):
    """Three micro-batch files, mtime-ordered, with the columns every
    retention case below reads."""
    import json as _json
    import time as _time

    src = tmp_path_factory.mktemp("retention_src")
    for b in range(3):
        rows = [
            {"doc_id": 10 * b + j, "text": f"alpha beta w{b} t{j % 2} gamma",
             "lang": ["en", "de"][j % 2], "w": f"w{(b * j) % 5}",
             "k": f"g{j % 3}", "v": 100 * b + 7 * j}
            for j in range(6)
        ]
        (src / f"{b}.json").write_text("\n".join(_json.dumps(r) for r in rows))
        _time.sleep(0.15)  # file-source order follows mtime
    return str(src)


def _retention_cases():
    from data_observability_installer_spark.streaming import aggstore, sketch

    folds = {"n": "sum", "lo": "min", "hi": "max"}
    return {
        "hll_sketch_sink": (
            lambda s, st, ck, r: sketch.hll_sketch_sink(
                s, st, ck, m=64, retain=r, availableNow=True),
            lambda sp, st: sketch.read_hll_store(sp, st),
        ),
        "dsir_model_sink": (
            lambda s, st, ck, r: sketch.dsir_model_sink(
                s, st, ck, F.col("lang") == "en", n_buckets=32, retain=r,
                availableNow=True),
            lambda sp, st: sketch.read_dsir_model(sp, st),
        ),
        "qsketch_sink_grouped": (
            lambda s, st, ck, r: sketch.qsketch_sink(
                s, st, ck, col="v", hi=1023, k=8, log_u=10, key_col="k",
                retain=r, availableNow=True),
            lambda sp, st: sketch.read_qsketch_store(sp, st),
        ),
        "agg_sink": (
            lambda s, st, ck, r: aggstore.agg_sink(
                s, st, ck, ["k"],
                {"n": F.count(F.lit(1)).cast("long"), "lo": F.min("v"),
                 "hi": F.max("v")},
                folds, retain=r, availableNow=True),
            lambda sp, st: aggstore.read_agg_store(sp, st, ["k"], folds),
        ),
    }


@pytest.mark.parametrize(
    "sink",
    ["hll_sketch_sink", "dsir_model_sink", "qsketch_sink_grouped", "agg_sink"],
)
def test_store_sink_retain_bounded_and_row_identical(
    spark, tmp_path, retention_src, sink
):
    """retain=1 leaves at most two run partitions (the newest run and
    one rollup), and the store's read face is row-identical to the
    store written with retain=None over the same micro-batches."""
    from data_observability_installer_spark.operators.profile import (
        list_profile_runs,
    )

    start, read = _retention_cases()[sink]

    def drive(retain):
        store = str(tmp_path / f"store_{retain}")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, w string, k string,"
                " v long"
            )
            .option("maxFilesPerTrigger", 1)
            .json(retention_src)
        )
        q = start(stream, store, str(tmp_path / f"ckpt_{retain}"), retain)
        q.awaitTermination(120)
        return store

    bounded, unbounded = drive(1), drive(None)
    assert len(list_profile_runs(unbounded)) == 3
    assert len(list_profile_runs(bounded)) <= 2
    rows = lambda st: sorted(map(tuple, read(spark, st).collect()))  # noqa: E731
    assert rows(bounded) == rows(unbounded) and rows(unbounded)
