"""Streaming throughput/latency bench: replay the events table through
the file source in a fixed number of micro-batches and measure each
stateful operator's per-batch rows/s and trigger latency from the
query's own progress telemetry (StreamingQueryProgress — the same
numbers a production monitor would scrape).

Operators covered (the round-5 verdict's ask): the applyInPandasWithState
run tracker, native session windows, and the bounded-state stream-stream
interval join — plus the plain streaming rollup as the shuffle-only
baseline. Each op also gets its batch-twin wall time on the identical
frame, so a streaming-vs-batch cliff is visible in one artifact
(streaming replays pay per-batch planning + state-store IO; a healthy
ratio is single-digit x of batch, not orders of magnitude).

The replay is derived deterministically from events.parquet (sf dir via
$SPARK_GRAFT_SF_DIR): the user-event stream is projected onto the
OBS_EVENT envelope (hash-derived pipeline/run keys, status and
log-level mixes) so state cardinality (~200 pipelines x hourly runs)
resembles the observability fixtures while the VOLUME is the full
events table.

Usage: python tools/bench_stream.py [--batches N]
Writes one JSON line; the committed artifact lives at STREAM_BENCH.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_observability_installer_spark.session import get_spark  # noqa: E402
from data_observability_installer_spark.schemas import OBS_EVENT  # noqa: E402
from data_observability_installer_spark.streaming.rollups import (  # noqa: E402
    correlate_streams,
    run_state_rollup_stream,
    session_rollup_stream,
)
from data_observability_installer_spark.streaming.run_tracker import (  # noqa: E402
    track_runs_stream,
)


def obs_replay_frame(spark, sf_dir: str):
    """events.parquet -> OBS_EVENT-shaped frame, deterministic."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    pipe = F.concat(F.lit("pipe_"), F.pmod(F.col("user_id"), F.lit(200)))
    return ev.select(
        F.col("event_id"),
        F.lit("RUN_STATUS").alias("event_type"),
        F.col("ts").alias("event_timestamp"),
        pipe.alias("pipeline_key"),
        F.concat(pipe, F.lit(":"), F.date_format("ts", "yyyyMMddHH")).alias("run_key"),
        F.lit(None).cast("string").alias("task_key"),
        F.lit(None).cast("string").alias("task_name"),
        F.lit(None).cast("string").alias("dataset_key"),
        F.lit(None).cast("string").alias("server_key"),
        F.lit(None).cast("string").alias("component_tool"),
        F.when(F.pmod("event_id", F.lit(10)) == 0, "FAILED")
        .when(F.pmod("event_id", F.lit(10)) < 5, "COMPLETED")
        .otherwise("RUNNING")
        .alias("status"),
        F.when(F.pmod("event_id", F.lit(7)) == 0, "ERROR")
        .otherwise("INFO")
        .alias("log_level"),
        F.lit(None).cast("string").alias("message"),
        F.lit(None).cast("string").alias("metric_key"),
        F.col("value").alias("metric_value"),
        F.lit(None).cast("string").alias("external_url"),
        F.lit(None).cast("array<string>").alias("payload_keys"),
        F.expr("CAST(NULL AS array<struct<name:string,status:string,description:string>>)").alias(
            "test_outcomes"
        ),
    )


def write_replay_chunks(df, out_dir: str, n_chunks: int) -> None:
    """Time-ordered chunk files with STRICTLY increasing mtimes so the
    file source's maxFilesPerTrigger replays them as an ordered stream.
    One write job per chunk: a single repartitionByRange write emits
    all part files concurrently with tied mtimes, and the source's
    tie-break would replay them in arbitrary order — silently changing
    watermark advancement and state retention for the stateful
    operators this bench measures."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    bucketed = df.withColumn(
        "_b", F.ntile(n_chunks).over(Window.orderBy("event_timestamp"))
    ).persist()
    bucketed.count()
    for i in range(1, n_chunks + 1):
        (
            bucketed.filter(F.col("_b") == i)
            .drop("_b")
            .coalesce(1)
            .write.mode("append" if i > 1 else "overwrite")
            .json(out_dir)
        )
        time.sleep(0.05)  # guarantee distinct mtimes at FS granularity
    bucketed.unpersist()


def run_streaming(spark, stream_df, mode: str, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    return _drain(q, lambda: spark.table(name).count())


def _drain(q, output_rows_fn):
    """Await a started query and distill its progress telemetry —
    shared by the memory-sink ops above and the foreachBatch SINKS
    (profile store, txtable), whose writer is part of the operator."""
    q.awaitTermination(600)
    prog = [
        p if isinstance(p, dict) else json.loads(p.json if hasattr(p, "json") else str(p))
        for p in q.recentProgress
    ]
    batches = [
        p
        for p in prog
        if p.get("numInputRows", 0) > 0 or p.get("durationMs", {}).get("triggerExecution")
    ]
    rows = sum(p.get("numInputRows", 0) for p in batches)
    lat = sorted(
        p["durationMs"]["triggerExecution"]
        for p in batches
        if "triggerExecution" in p.get("durationMs", {})
    )
    out_rows = output_rows_fn()
    # state-store telemetry from the LAST progress carrying it: peak
    # keyed-state rows and memory — the empirical check on the "state
    # is O(active keys), not O(stream length)" claim
    state_rows = state_mem = None
    for p in batches:
        for s in p.get("stateOperators", []) or []:
            state_rows = max(state_rows or 0, s.get("numRowsTotal", 0))
            state_mem = max(state_mem or 0, s.get("memoryUsedBytes", 0))
    return {
        "input_rows": rows,
        "output_rows": out_rows,
        "micro_batches": len(lat),
        "p50_batch_ms": lat[len(lat) // 2] if lat else None,
        "max_batch_ms": lat[-1] if lat else None,
        "total_trigger_s": round(sum(lat) / 1000.0, 3),
        "rows_per_sec": round(rows / (sum(lat) / 1000.0), 1) if lat and sum(lat) else None,
        "peak_state_rows": state_rows,
        "peak_state_bytes": state_mem,
    }


def timed_batch(fn) -> float:
    t0 = time.monotonic()
    fn()
    return round(time.monotonic() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark = get_spark("bench-stream", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    # recentProgress retains only spark.sql.streaming.numRecentProgressUpdates
    # entries (default 100): raise it above the batch count so the
    # telemetry below never silently undercounts rows/latency samples
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(200, args.batches * 2)),
    )
    # the ~20 MB json replay lives under one temp root, removed however
    # the run ends
    replay_root = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        _bench(spark, args, os.path.join(replay_root, "events_json"))
    finally:
        shutil.rmtree(replay_root, ignore_errors=True)


def _bench(spark, args: argparse.Namespace, replay_dir: str) -> None:
    """Run every streaming measurement over a json replay written to
    ``replay_dir`` and print the result line."""
    obs = obs_replay_frame(spark, args.sf_dir)
    write_replay_chunks(obs, replay_dir, args.batches)

    def read_stream():
        return (
            spark.readStream.schema(OBS_EVENT)
            .option("maxFilesPerTrigger", 1)
            .json(replay_dir)
        )

    batch_df = spark.read.schema(OBS_EVENT).json(replay_dir)

    def split(df):
        return df.filter(F.col("status") == "FAILED"), df.filter(
            F.col("log_level") == "ERROR"
        )

    ops = {}

    ops["rollup"] = run_streaming(
        spark, run_state_rollup_stream(read_stream()), "update", "sb_rollup"
    )
    ops["rollup"]["batch_twin_s"] = timed_batch(
        lambda: run_state_rollup_stream(batch_df).count()
    )

    ops["run_tracker"] = run_streaming(
        spark, track_runs_stream(read_stream()), "append", "sb_tracker"
    )
    # the tracker's batch twin is the set-fold rollup over the same rows
    ops["run_tracker"]["batch_twin_s"] = ops["rollup"]["batch_twin_s"]

    ops["session_windows"] = run_streaming(
        spark, session_rollup_stream(read_stream()), "append", "sb_sessions"
    )
    ops["session_windows"]["batch_twin_s"] = timed_batch(
        lambda: session_rollup_stream(batch_df).count()
    )

    # Stream-stream joins keep 4 state stores PER SHUFFLE PARTITION and
    # each pays a commit every micro-batch; at this replay's low rate
    # that fixed cost dominates, so the honest measurement sizes state
    # partitions to the stream (r10 verdict #8: was 333 rows/s at the
    # session's 32 partitions). Both rows are recorded — the unsized
    # one documents the knob's cost, not a different operator.
    default_parts = spark.conf.get("spark.sql.shuffle.partitions")
    ops["interval_join_unsized_parts32"] = run_streaming(
        spark, correlate_streams(*split(read_stream())), "append", "sb_join32"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        ops["interval_join"] = run_streaming(
            spark, correlate_streams(*split(read_stream())), "append", "sb_join"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_parts)
    ops["interval_join"]["state_partitions"] = 4
    ops["interval_join"]["note"] = (
        "state partitions sized to the stream's rate (4): a "
        "stream-stream join commits 4 state stores per partition per "
        "micro-batch, so partition count is a constant-cost-vs-"
        "parallelism knob pinned at the query's first start; the "
        "_unsized_parts32 row is the same operator at the session "
        "default for comparison"
    )
    ops["interval_join"]["batch_twin_s"] = timed_batch(
        lambda: correlate_streams(*split(batch_df)).count()
    )

    # round-7: one-pass sharded Misra–Gries heavy hitters — the
    # hard-capped-state claim measured on a real stream (items =
    # whitespace words of the MessageLog payload text)
    from data_observability_installer_spark.streaming.sketch import (
        heavy_hitters_stream,
    )

    def hh_items(df):
        # 3 items per event with a realistic skew profile: status (3
        # very heavy values), pipeline (200 heavy), token tail (5000)
        return df.select(
            F.explode(
                F.array(
                    F.col("status"),
                    F.col("pipeline_key"),
                    F.concat(F.lit("tok_"), F.pmod("event_id", F.lit(5000))),
                )
            ).alias("w")
        )

    ops["heavy_hitters"] = run_streaming(
        spark,
        heavy_hitters_stream(hh_items(read_stream()), capacity=2000, n_shards=8),
        "update",
        "sb_hh",
    )
    from data_observability_installer_spark.operators.sketch import heavy_hitters

    ops["heavy_hitters"]["batch_twin_s"] = timed_batch(
        lambda: heavy_hitters(hh_items(batch_df), "w", phi_denom=1000).count()
    )

    # round-7: stateful integer CUSUM — two int64s of state per key,
    # the smallest state footprint in the family; counts = events per
    # (pipeline, day), fixed center 10.0
    from data_observability_installer_spark.streaming.dq import cusum_stream

    def daily_counts(df):
        return df.groupBy(
            F.col("pipeline_key").alias("k"),
            F.date_format(F.date_trunc("day", "event_timestamp"), "yyyy-MM-dd").alias(
                "o"
            ),
        ).agg(F.count(F.lit(1)).alias("v"))

    # streaming groupBy needs a watermark; feed the tracker's per-event
    # stream through a stateless projection instead: one count per event
    # row keyed by pipeline (ordinal = event day), CUSUM folds per key
    ops["cusum"] = run_streaming(
        spark,
        cusum_stream(
            read_stream().select(
                F.col("pipeline_key").alias("k"),
                F.date_format(
                    F.date_trunc("day", "event_timestamp"), "yyyy-MM-dd"
                ).alias("o"),
                F.lit(1).cast("long").alias("v"),
            ),
            center_e4=10_0000,
        ),
        "update",
        "sb_cusum",
    )
    from data_observability_installer_spark.operators.drift import cusum_screen

    ops["cusum"]["batch_twin_s"] = timed_batch(
        lambda: cusum_screen(daily_counts(batch_df)).count()
    )

    # round-7: frozen-baseline W1 per sealed window — one windowed agg,
    # bins+1 counters of state per window
    from data_observability_installer_spark.streaming.dq import wasserstein_stream

    _W1_EDGES = [20.0, 40.0, 60.0, 80.0]
    _W1_BASE = [20, 20, 20, 20, 20]

    ops["wasserstein"] = run_streaming(
        spark,
        wasserstein_stream(
            read_stream().selectExpr(
                "event_timestamp AS ts", "CAST(metric_value AS DOUBLE) AS x"
            ),
            "x",
            _W1_EDGES,
            _W1_BASE,
            watermark="2 hours",
        ),
        "append",
        "sb_w1",
    )
    ops["wasserstein"]["batch_twin_s"] = timed_batch(
        lambda: wasserstein_stream(
            batch_df.selectExpr(
                "event_timestamp AS ts", "CAST(metric_value AS DOUBLE) AS x"
            ),
            "x",
            _W1_EDGES,
            _W1_BASE,
        ).count()
    )

    # round-8: A6 out-of-sequence as a per-instance state machine —
    # state = the instance's run list (DAG-sized), alerts on DAG-edge
    # overlap; the replay is mapped to ~100k instances x ~tens of runs
    from data_observability_installer_spark.operators.obs.journeys import (
        out_of_sequence,
        transitive_edges,
    )
    from data_observability_installer_spark.streaming.journeys import (
        out_of_sequence_stream,
    )

    _OOS_EDGES = [
        ("pipeline-0", "pipeline-1"),
        ("pipeline-1", "pipeline-2"),
        ("pipeline-0", "pipeline-3"),
    ]
    _OOS_CLOSURE = [("jb", u, d) for u, d in transitive_edges(_OOS_EDGES)]

    def assigned_runs(df):
        # 64 consecutive events = one instance (close in event time, so
        # the variable-length runs genuinely overlap and alert);
        # pipelines cycle within the instance so DAG edges apply
        return df.select(
            F.lit("jb").alias("journey_id"),
            (F.col("event_id") / 64).cast("int").alias("instance_id"),
            F.concat(F.lit("pipeline-"), F.pmod("event_id", F.lit(4))).alias(
                "pipeline_key"
            ),
            F.col("event_id").cast("string").alias("run_key"),
            F.col("event_timestamp").alias("start_ts"),
            F.expr(
                "event_timestamp + make_interval(0,0,0,0,0,0, pmod(event_id, 300))"
            ).alias("end_ts"),
        )

    ops["out_of_sequence"] = run_streaming(
        spark,
        out_of_sequence_stream(
            assigned_runs(read_stream()), _OOS_CLOSURE, watermark="2 hours"
        ),
        "append",
        "sb_oos",
    )
    closure_df = spark.createDataFrame(
        _OOS_CLOSURE, "journey_id string, up_key string, down_key string"
    )
    ops["out_of_sequence"]["batch_twin_s"] = timed_batch(
        lambda: out_of_sequence(assigned_runs(batch_df), closure_df).count()
    )

    # round-9: A2 END_PAYLOAD — per-(journey, payload_key) two-scalar
    # state; remap the replay onto one START and one END_PAYLOAD
    # pipeline with ~20k payload keys so state cardinality is the
    # payload-key space, not the event count
    from data_observability_installer_spark.operators.obs.journeys import (
        payload_instances,
    )
    from data_observability_installer_spark.operators.obs.rollup import (
        run_state_rollup,
    )
    from data_observability_installer_spark.streaming.journeys import (
        payload_instance_stream,
    )

    _PL_CONDS = [
        {"journey_id": "jp", "action": "START", "batch_pipeline": "P0"},
        {"journey_id": "jp", "action": "END_PAYLOAD", "batch_pipeline": "P1"},
    ]

    def payload_events(df):
        return df.withColumn(
            "pipeline_key", F.concat(F.lit("P"), F.pmod("event_id", F.lit(2)))
        ).withColumn(
            "payload_keys",
            F.array(F.concat(F.lit("pl_"), F.pmod("event_id", F.lit(20000)))),
        )

    ops["payload_instances"] = run_streaming(
        spark,
        payload_instance_stream(payload_events(read_stream()), _PL_CONDS,
                                watermark="2 hours"),
        "append",
        "sb_payload",
    )
    _pl_batch = payload_events(batch_df)
    _pl_cond_df = spark.createDataFrame(
        [(c["journey_id"], c["action"], c["batch_pipeline"]) for c in _PL_CONDS],
        "journey_id string, action string, batch_pipeline string",
    )
    ops["payload_instances"]["batch_twin_s"] = timed_batch(
        lambda: payload_instances(
            run_state_rollup(_pl_batch),
            _pl_cond_df,
            _pl_batch.select(
                "run_key", F.explode("payload_keys").alias("payload_key")
            ).distinct(),
        ).count()
    )

    # round-10: A3 END expectation — absence alerting via event-time
    # timers. 200 pipelines x hourly ticks, margin 1800 s: state per
    # pipeline is O(undecided ticks) (watermark-bounded), and a tick
    # with no run-level terminal event inside [T, T+margin] emits
    # LATE_END only once the watermark seals its deadline.
    from data_observability_installer_spark.operators.obs.schedules import (
        expected_ticks,
        late_runs,
    )
    from data_observability_installer_spark.streaming.schedules import (
        late_end_stream,
    )

    _LE_SCHEDS = {f"pipe_{i}": ("0 * * * *", 1800) for i in range(200)}
    ops["late_end"] = run_streaming(
        spark,
        late_end_stream(read_stream(), _LE_SCHEDS, watermark="2 hours"),
        "append",
        "sb_late_end",
    )
    _le_bounds = batch_df.agg(
        F.min("event_timestamp"), F.max("event_timestamp")
    ).first()
    _le_dicts = [
        {"component_key": k, "expectation": "BATCH_PIPELINE_END_TIME",
         "schedule": expr, "margin_s": margin}
        for k, (expr, margin) in _LE_SCHEDS.items()
    ]
    ops["late_end"]["batch_twin_s"] = timed_batch(
        lambda: late_runs(
            run_state_rollup(batch_df),
            expected_ticks(spark, _le_dicts, _le_bounds[0], _le_bounds[1]),
        ).count()
    )

    # round-9: the two foreachBatch SINKS the round-8 verdict wanted
    # telemetry for. Zero keyed state by design (durability lives in the
    # store/commit log), so the interesting numbers are throughput and
    # per-batch store growth.
    from data_observability_installer_spark.operators.profile import (
        list_profile_runs,
    )
    from data_observability_installer_spark.sources import txtable as _tx
    from data_observability_installer_spark.streaming.dq import (
        profile_partial_sink,
    )

    sink_root = tempfile.mkdtemp(prefix="stream_bench_sinks_")
    pstore = os.path.join(sink_root, "profile_store")
    q = profile_partial_sink(
        read_stream().select("event_timestamp", "pipeline_key", "metric_value"),
        pstore,
        os.path.join(sink_root, "ckpt_profile"),
        "events_replay",
        availableNow=True,
    )
    ops["profile_partial_sink"] = _drain(
        q,
        lambda: spark.read.parquet(pstore).count(),
    )
    ops["profile_partial_sink"]["store_partitions"] = len(list_profile_runs(pstore))
    from data_observability_installer_spark.operators.profile import profile_partial

    ops["profile_partial_sink"]["batch_twin_s"] = timed_batch(
        lambda: profile_partial(
            batch_df.select("event_timestamp", "pipeline_key", "metric_value"),
            "events_replay",
        ).count()
    )

    tpath = os.path.join(sink_root, "txtable")
    q = _tx.txtable_sink(
        read_stream().select("event_id", "event_timestamp", "pipeline_key",
                             "status", "metric_value"),
        tpath,
        os.path.join(sink_root, "ckpt_txtable"),
        availableNow=True,
    )
    ops["txtable_sink"] = _drain(
        q, lambda: _tx.read_table(spark, tpath).count()
    )
    hist = _tx.history(tpath)
    ops["txtable_sink"]["commits"] = len(hist)
    ops["txtable_sink"]["files_per_commit_avg"] = round(
        sum(h["added"] for h in hist) / max(len(hist), 1), 2
    )
    ops["txtable_sink"]["batch_twin_s"] = timed_batch(
        lambda: _tx.write_table(
            spark,
            os.path.join(sink_root, "txtable_batch"),
            batch_df.select("event_id", "event_timestamp", "pipeline_key",
                            "status", "metric_value"),
        )
    )

    # round-12 (re-based round-13 on merge_dv): exactly-once streaming
    # MERGE — keyed upsert per micro-batch (latest state per
    # pipeline_key). Since round 13 each batch commits deletion-vector
    # sidecars + its own rows instead of rewriting the snapshot, so
    # per-batch cost tracks the BATCH size; the accumulated sidecars
    # fold away on a purge_dvs/compact maintenance cadence. State keys
    # here: pipeline_key cardinality, not stream length.
    upath = os.path.join(sink_root, "txtable_upsert")
    q = _tx.txtable_upsert_sink(
        read_stream().select(
            "pipeline_key",
            F.col("event_timestamp").alias("last_seen"),
            "status",
        ),
        upath,
        ["pipeline_key"],
        os.path.join(sink_root, "ckpt_txtable_upsert"),
        availableNow=True,
    )
    ops["txtable_upsert_sink"] = _drain(
        q, lambda: _tx.read_table(spark, upath).count()
    )
    ops["txtable_upsert_sink"]["commits"] = len(_tx.history(upath))
    ops["txtable_upsert_sink"]["note"] = "keyed streaming MERGE via deletion vectors (merge_dv, the strategy='dv' default): one atomic commit per micro-batch (batch_id replay guard = exactly-once) marking retired key versions in sidecars and appending only the batch's rows; output_rows is the entity count (latest state per key). NOTE: this fixture's snapshot is tiny (200 keys), where the DV machinery's fixed overhead exceeds a snapshot rewrite — strategy='rewrite' (merge_cdc) is the right pick for small dimension tables, while the DV default wins as keyed state outgrows a batch (write bytes flat vs linear, SCALE_BENCH txtable_merge_{dv,cdc}_lineitem)"

    # round-13: streaming READ of a txtable — tail the commit log the
    # txtable_sink above just wrote, one commit per trigger. Each
    # trigger is a plain parquet scan of exactly that commit's added
    # files (no directory listing, no mtime heuristics); the checkpoint
    # advances after each batch, so rows/s here is the end-to-end
    # subscribe-to-governed-table rate including offset persistence.
    tail = _tx.txtable_stream(
        spark, tpath, os.path.join(sink_root, "ckpt_tail"),
        max_commits_per_trigger=1,
    )
    tailed = {"rows": 0}
    trig_lat: list[float] = []

    def _tail_batch(df, batch_id):
        t0 = time.monotonic()
        tailed["rows"] += df.count()
        trig_lat.append((time.monotonic() - t0) * 1000.0)

    n_triggers = tail.process_available(_tail_batch)
    trig_lat.sort()
    total_s = sum(trig_lat) / 1000.0
    ops["txtable_stream_source"] = {
        "input_rows": tailed["rows"],
        "output_rows": tailed["rows"],
        "micro_batches": n_triggers,
        "p50_batch_ms": round(trig_lat[len(trig_lat) // 2], 1) if trig_lat else None,
        "max_batch_ms": round(trig_lat[-1], 1) if trig_lat else None,
        "total_trigger_s": round(total_s, 3),
        "rows_per_sec": round(tailed["rows"] / total_s, 1) if total_s else None,
        "peak_state_rows": None,
        "peak_state_bytes": None,
        "note": (
            "commit-log tail of the txtable_sink table (1 commit per "
            "trigger, checkpointed high-water version): the streaming "
            "READ face — batch-parity and replay contracts in "
            "tests/test_txtable.py"
        ),
    }
    ops["txtable_stream_source"]["batch_twin_s"] = timed_batch(
        lambda: _tx.read_table(spark, tpath).count()
    )
    # round-9: incremental PQ near-dup sink — per-batch encode + band
    # join against the accumulated txtable code store (never a corpus
    # self-join). Embeddings synthesize deterministically from
    # event_id; input capped to every 5th event (~20k vectors) because
    # the 8-argmin encode costs ~1 ms/row interpreted.
    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups,
    )
    from data_observability_installer_spark.streaming.dedup import (
        pq_near_dup_sink,
    )

    def synth_emb(df):
        # hash-random components (near-orthogonal vectors — a lattice
        # formula here produced 2.7M pairs from 20k vectors, pure
        # fixture self-similarity) with a planted twin for ~1 in 20
        # vectors via a colliding embedding seed
        return df.filter(F.pmod("event_id", F.lit(5)) == 0).select(
            F.col("event_id").cast("int").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), i -> "
                "CAST(pmod(abs(hash(pmod(event_id, 95000), i)), 1001)"
                " AS DOUBLE) / 500.0 - 1.0)"
            ).cast("array<float>").alias("embedding"),
            "event_timestamp",
        )

    sink_root2 = tempfile.mkdtemp(prefix="stream_bench_pqnd_")
    q = pq_near_dup_sink(
        synth_emb(read_stream()).drop("event_timestamp"),
        os.path.join(sink_root2, "codes"),
        os.path.join(sink_root2, "pairs"),
        os.path.join(sink_root2, "ckpt"),
        threshold=0.9,
        availableNow=True,
    )
    ops["pq_near_dup_sink"] = _drain(
        q,
        lambda: spark.read.parquet(os.path.join(sink_root2, "pairs")).count(),
    )
    from data_observability_installer_spark.sources import txtable as _tx2

    ops["pq_near_dup_sink"]["code_store_commits"] = len(
        _tx2.history(os.path.join(sink_root2, "codes"))
    )
    ops["pq_near_dup_sink"]["batch_twin_s"] = timed_batch(
        lambda: pq_near_dups(
            synth_emb(batch_df).drop("event_timestamp"),
            min_band_matches=2,
            threshold=0.9,
        ).count()
    )
    # store-growth curve (VERDICT r9 #3): per-batch cost of the
    # incremental near-dup as the code store accumulates. Constant
    # batch size, fresh store, one pairs-compute + code-append per
    # step — the batch-side encode is constant, the store side of the
    # band join scans the (1/64-size) code table, so per-batch seconds
    # should grow at most linearly in store size with a small slope;
    # a super-linear step here would mean the store self-joins.
    from data_observability_installer_spark.operators.llm.similarity import (
        pq_near_dups_incremental,
    )

    growth_root = tempfile.mkdtemp(prefix="stream_bench_pqnd_growth_")
    gstore = os.path.join(growth_root, "codes")
    n_growth_batches = 8
    gbatch = 2000
    growth = []
    for b in range(n_growth_batches):
        bdf = (
            spark.range(b * gbatch, (b + 1) * gbatch)
            .select(
                F.col("id").cast("int").alias("vec_id"),
                F.expr(
                    "transform(sequence(0, 63), i -> "
                    "CAST(pmod(abs(hash(pmod(id, 15000), i)), 1001)"
                    " AS DOUBLE) / 500.0 - 1.0)"
                ).cast("array<float>").alias("embedding"),
            )
        )
        t0 = time.monotonic()
        pq_near_dups_incremental(
            spark, gstore, bdf, threshold=0.9, batch_id=b
        ).count()
        growth.append(round(time.monotonic() - t0, 3))
    ops["pq_near_dup_sink"]["store_growth"] = {
        "batch_rows": gbatch,
        "per_batch_s": growth,
        "store_rows_final": n_growth_batches * gbatch,
        "last_vs_first_ratio": round(growth[-1] / max(growth[0], 1e-9), 2),
        "note": (
            "constant-size batches against an accumulating txtable code "
            "store; the store side of the band join grows linearly, so "
            "the honest asymptote is per-batch cost linear in store size "
            "(codes are 1/64 of the float bytes; at 100 TB the store "
            "scan is the bounded cost an unbounded ingest pays per "
            "arrival instead of a corpus self-join)"
        ),
    }
    shutil.rmtree(growth_root, ignore_errors=True)
    shutil.rmtree(sink_root2, ignore_errors=True)

    # round-11: incremental SemDeDup sink — per-batch cell assignment
    # against frozen centroids + within-cell join against the
    # accumulated txtable cell store; witnesses fold by min(dup_of).
    from data_observability_installer_spark.operators.llm.similarity import (
        semdedup,
        semdedup_incremental,
    )
    from data_observability_installer_spark.streaming.dedup import semdedup_sink

    sink_root_sd = tempfile.mkdtemp(prefix="stream_bench_semdedup_")
    q = semdedup_sink(
        synth_emb(read_stream()).drop("event_timestamp"),
        os.path.join(sink_root_sd, "cells"),
        os.path.join(sink_root_sd, "witnesses"),
        os.path.join(sink_root_sd, "ckpt"),
        threshold=0.9,
        retain=4,  # r12: production shape — witness store stays bounded
        availableNow=True,
    )
    ops["semdedup_sink"] = _drain(
        q,
        lambda: spark.read.parquet(
            os.path.join(sink_root_sd, "witnesses")
        ).count(),
    )
    ops["semdedup_sink"]["cell_store_commits"] = len(
        _tx2.history(os.path.join(sink_root_sd, "cells"))
    )
    # r12 (retain=4): the witness read fan-in is BOUNDED — at most
    # retain plain partitions + rollups, not one per micro-batch
    # forever; min(dup_of) folding keeps verdicts bit-identical
    ops["semdedup_sink"]["witness_partitions_final"] = len([
        d for d in os.listdir(os.path.join(sink_root_sd, "witnesses"))
        if d.startswith("run_id=")
    ])
    # NOTE: .count() alone would let Catalyst eliminate the left join
    # onto the witness aggregate (and the whole pair stage with it);
    # filtering on the witness column forces the real work
    ops["semdedup_sink"]["batch_twin_s"] = timed_batch(
        lambda: semdedup(
            synth_emb(batch_df).drop("event_timestamp"), threshold=0.9
        ).filter(F.col("dup_of").isNotNull()).count()
    )
    # store-growth curve: constant batches against an accumulating cell
    # store. The batch x store within-cell join grows linearly in store
    # size per batch (the whole point vs re-running full-corpus
    # semdedup, which re-pays sum(cell^2) over EVERYTHING per run); a
    # super-linear step here would mean the store self-joins.
    growth_root_sd = tempfile.mkdtemp(prefix="stream_bench_semdedup_growth_")
    gstore_sd = os.path.join(growth_root_sd, "cells")
    growth_sd = []
    for b in range(n_growth_batches):
        bdf = (
            spark.range(b * gbatch, (b + 1) * gbatch)
            .select(
                F.col("id").cast("int").alias("vec_id"),
                F.expr(
                    "transform(sequence(0, 63), i -> "
                    "CAST(pmod(abs(hash(pmod(id, 15000), i)), 1001)"
                    " AS DOUBLE) / 500.0 - 1.0)"
                ).cast("array<float>").alias("embedding"),
            )
        )
        t0 = time.monotonic()
        semdedup_incremental(
            spark, gstore_sd, bdf, threshold=0.9, batch_id=b
        ).count()
        growth_sd.append(round(time.monotonic() - t0, 3))
    ops["semdedup_sink"]["store_growth"] = {
        "batch_rows": gbatch,
        "per_batch_s": growth_sd,
        "store_rows_final": n_growth_batches * gbatch,
        "last_vs_first_ratio": round(growth_sd[-1] / max(growth_sd[0], 1e-9), 2),
        "note": (
            "constant-size batches against an accumulating txtable cell "
            "store; per-batch cost is batch x same-cell store rows "
            "(linear in store size at fixed K), vs full-corpus semdedup "
            "re-paying sum(cell^2) over everything ingested per run — "
            "at 100 TB pass trained cents (K scaling with the corpus) "
            "so cell occupancy stays bounded"
        ),
    }
    shutil.rmtree(growth_root_sd, ignore_errors=True)
    shutil.rmtree(sink_root_sd, ignore_errors=True)

    # round-13: continuous benchmark decontamination — the benchmark's
    # shingle/fingerprint frames are frozen (pinned) at sink start, so
    # each micro-batch is a stateless broadcast-semi-join nominate +
    # exact verify with ZERO accumulated state. Docs synthesize from
    # event ids as 12 hash words; every 10th doc embeds a benchmark
    # 6-gram (planted contamination, so the verify stage has real work).
    from data_observability_installer_spark.operators.llm.decontam import (
        decontaminate_fingerprint,
    )
    from data_observability_installer_spark.streaming.decontam import (
        decontam_sink,
        decontam_verdicts,
    )

    def synth_docs(df):
        i = F.col("event_id").cast("long")
        words = F.expr(
            "concat_ws(' ', transform(sequence(0, 11), j -> "
            "substr(md5(concat(CAST(event_id AS STRING), '_', j)), 1, 8)))"
        )
        planted = F.concat(
            words, F.lit(" "),
            F.concat_ws(
                " ",
                *[F.concat(F.lit("bench"), (F.pmod(i, F.lit(40)) + k).cast("string"))
                  for k in range(6)],
            ),
        )
        return df.select(
            i.alias("doc_id"),
            F.when(F.pmod(i, F.lit(10)) == 0, planted).otherwise(words)
            .alias("text"),
        )

    bench_docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 45), j -> "
            "concat('bench', CAST(id + j AS STRING))))"
        ).alias("text"),
    )
    sink_root_dc = tempfile.mkdtemp(prefix="stream_bench_decontam_")
    dstore = os.path.join(sink_root_dc, "verdicts")
    q = decontam_sink(
        synth_docs(read_stream()),
        bench_docs,
        dstore,
        os.path.join(sink_root_dc, "ckpt"),
        n=5,
        retain=4,
        availableNow=True,
    )
    ops["decontam_sink"] = _drain(
        q, lambda: decontam_verdicts(spark, dstore)
        .filter("contaminated").count()
    )
    ops["decontam_sink"]["verdict_partitions_final"] = len([
        d for d in os.listdir(dstore) if d.startswith("run_id=")
    ])
    ops["decontam_sink"]["retain"] = 4
    ops["decontam_sink"]["note"] = (
        "stateless per-batch nominate+verify against the frozen eval "
        "set's pinned fingerprint frames (eval suites change rarely; "
        "the corpus arrives forever); output_rows = contaminated docs; "
        "retain=4 bounds the verdict store partitions"
    )
    ops["decontam_sink"]["batch_twin_s"] = timed_batch(
        lambda: decontaminate_fingerprint(
            synth_docs(batch_df), bench_docs, n=5
        ).filter("contaminated").count()
    )
    shutil.rmtree(sink_root_dc, ignore_errors=True)

    # round-12: incremental entity matching — per-batch prefix-block
    # join against the accumulating txtable reference store (never a
    # store self-join); pairs land per-batch, read face re-applies the
    # hot-block cap. Store-growth curve: constant batches, block sizes
    # grow with the store, so per-batch cost grows linearly in store
    # size (the blocked-join floor), vs batch entity_match re-paying
    # the FULL sum(block^2) self-join per refresh.
    from data_observability_installer_spark.operators.linkage import (
        entity_match,
        entity_match_incremental,
    )
    from data_observability_installer_spark.streaming.linkage import (
        entity_match_sink,
    )

    def synth_records(df, id_col="event_id"):
        # hash-distinct names (md5 hex: same-block non-twins sit ~27
        # edits apart, scoring far below threshold) with a planted
        # 1-in-8 single-typo twin sharing region and cents — matches
        # are SPARSE (~n/8 pairs), the realistic linkage shape. The
        # first fixture derived names from a small base id: every
        # same-block pair matched, and the global sort of ~60M passing
        # pairs OOM'd the heap — a fixture bug, not an operator cost.
        i = F.col(id_col).cast("long")
        base = F.when(F.pmod(i, F.lit(8)) == 0, i - 1).otherwise(i)
        return df.select(
            i.alias("rid"),
            F.concat(
                F.md5(base.cast("string")),
                F.when(F.pmod(i, F.lit(8)) == 0, F.lit("x")).otherwise(
                    F.lit("")
                ),
            ).alias("name"),
            F.pmod(base, F.lit(17)).cast("string").alias("region"),
            (F.pmod(base, F.lit(100000)) * 10).alias("cents"),
        )

    em_kw = dict(
        block_prefix=4,  # 65536 hex blocks: bounded block sizes
        cat_cols=["region"],
        num_cols=[("cents", 10000)],
        threshold_bp=6000,
    )
    sink_root_em = tempfile.mkdtemp(prefix="stream_bench_entitymatch_")
    q = entity_match_sink(
        synth_records(read_stream()),
        os.path.join(sink_root_em, "store"),
        os.path.join(sink_root_em, "pairs"),
        os.path.join(sink_root_em, "ckpt"),
        id_col="rid",
        name_col="name",
        max_block=64,
        retain=4,
        availableNow=True,
        **em_kw,
    )
    ops["entity_match_sink"] = _drain(
        q,
        lambda: spark.read.parquet(
            os.path.join(sink_root_em, "pairs")
        ).count(),
    )
    ops["entity_match_sink"]["store_commits"] = len(
        _tx2.history(os.path.join(sink_root_em, "store"))
    )
    # round-13: retain=4 bounds the pairs store — surplus run
    # partitions fold into one rollup (exactly-once pair rows, so the
    # fold is a concat + (id_a, id_b) dedup), keeping the cumulative
    # read's fan-in constant instead of one partition per micro-batch
    ops["entity_match_sink"]["pairs_partitions_final"] = len([
        d for d in os.listdir(os.path.join(sink_root_em, "pairs"))
        if d.startswith("run_id=")
    ])
    ops["entity_match_sink"]["retain"] = 4
    em_batch = synth_records(batch_df)
    # limit=200 (the production head): TakeOrdered still scores EVERY
    # candidate pair, so the twin charges the full blocked join — a
    # huge limit instead makes Spark allocate a limit-sized top-K
    # buffer per task (guava TopKSelector), which is an instant OOM
    ops["entity_match_sink"]["batch_twin_s"] = timed_batch(
        lambda: entity_match(
            em_batch, "rid", "name", max_block=64, **em_kw
        ).count()
    )
    growth_root_em = tempfile.mkdtemp(prefix="stream_bench_em_growth_")
    gstore_em = os.path.join(growth_root_em, "store")
    growth_em = []
    # growth uses a SMALLER block space (256 two-hex-char blocks) so
    # block sizes grow with the store — the cost driver the curve is
    # meant to expose (the sink's 65536-block space keeps them ~flat
    # at this row count)
    gkw = dict(em_kw, block_prefix=2)
    for b in range(n_growth_batches):
        bdf = synth_records(
            spark.range(b * gbatch, (b + 1) * gbatch), id_col="id"
        )
        t0 = time.monotonic()
        entity_match_incremental(
            spark, gstore_em, bdf, "rid", "name",
            max_block=10**6, batch_id=b, **gkw,
        ).count()
        growth_em.append(round(time.monotonic() - t0, 3))
    ops["entity_match_sink"]["store_growth"] = {
        "batch_rows": gbatch,
        "per_batch_s": growth_em,
        "store_rows_final": n_growth_batches * gbatch,
        "last_vs_first_ratio": round(
            growth_em[-1] / max(growth_em[0], 1e-9), 2
        ),
        "note": (
            "constant-size batches against an accumulating txtable "
            "reference store; per-batch cost = batch x same-block "
            "store rows, linear in store size with bounded blocks — "
            "vs batch entity_match re-paying the full blocked "
            "self-join (sum(block^2)) every refresh; max_block bounds "
            "the hot-block tail and the read face re-applies it "
            "parity-safely"
        ),
    }
    shutil.rmtree(growth_root_em, ignore_errors=True)
    shutil.rmtree(sink_root_em, ignore_errors=True)

    # round-10: continuous HLL distinct counter — per-batch register
    # tables (<= 256 rows each), merged store == one-pass sketch; items
    # are the same skewed word mix as the heavy-hitters row
    from data_observability_installer_spark.operators.sketch import (
        hll_estimate,
        hll_sketch,
    )
    from data_observability_installer_spark.streaming.sketch import (
        dsir_model_sink,
        hll_sketch_sink,
        read_dsir_model,
        read_hll_store,
    )

    sink_root3 = tempfile.mkdtemp(prefix="stream_bench_hll_")
    q = hll_sketch_sink(
        hh_items(read_stream()),
        os.path.join(sink_root3, "hll"),
        os.path.join(sink_root3, "ckpt_hll"),
        availableNow=True,
    )
    ops["hll_sketch_sink"] = _drain(
        q,
        lambda: read_hll_store(spark, os.path.join(sink_root3, "hll")).count(),
    )
    ops["hll_sketch_sink"]["est_distinct"] = int(
        hll_estimate(read_hll_store(spark, os.path.join(sink_root3, "hll")))
        .collect()[0]["est_ct"]
    )
    ops["hll_sketch_sink"]["batch_twin_s"] = timed_batch(
        lambda: hll_sketch(hh_items(batch_df)).count()
    )

    # round-11: continuous quantile sketch — per-batch dyadic sketches
    # of metric_value (milli-units), merged store answers whole-history
    # percentiles; keyed by pipeline for the per-key SLA shape
    from data_observability_installer_spark.operators.sketch import (
        qsketch,
        qsketch_quantiles,
    )
    from data_observability_installer_spark.streaming.sketch import (
        qsketch_sink,
        read_qsketch_store,
    )

    def qs_vals(df):
        return df.filter(F.col("metric_value").isNotNull()).select(
            "pipeline_key",
            F.expr("CAST(floor(metric_value * 1000 + 0.5) AS BIGINT)").alias("mv"),
        )

    q = qsketch_sink(
        qs_vals(read_stream()),
        os.path.join(sink_root3, "qs"),
        os.path.join(sink_root3, "ckpt_qs"),
        col="mv", lo=0, hi=(1 << 20) - 1, key_col="pipeline_key",
        availableNow=True,
    )
    ops["qsketch_sink"] = _drain(
        q,
        lambda: read_qsketch_store(spark, os.path.join(sink_root3, "qs")).count(),
    )
    ops["qsketch_sink"]["p50_p99_keys"] = qsketch_quantiles(
        read_qsketch_store(spark, os.path.join(sink_root3, "qs")),
        [5000, 9900], lo=0, hi=(1 << 20) - 1,
    ).count()
    ops["qsketch_sink"]["batch_twin_s"] = timed_batch(
        lambda: qsketch(
            qs_vals(batch_df), "mv", lo=0, hi=(1 << 20) - 1, key_col="pipeline_key"
        ).count()
    )

    # round-10: continuous DSIR model — per-batch (bucket, n_r, n_t)
    # counts; documents synthesized from the event stream (text = the
    # same 3-word mix, target = ERROR-status events)
    from data_observability_installer_spark.operators.llm.curation import dsir_model

    def as_docs(df):
        return df.select(
            F.col("event_id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.col("status"),
                F.col("pipeline_key"),
                F.concat(F.lit("tok_"), F.pmod("event_id", F.lit(5000))),
            ).alias("text"),
            F.col("status").alias("status"),
        )

    q = dsir_model_sink(
        as_docs(read_stream()),
        os.path.join(sink_root3, "dsir"),
        os.path.join(sink_root3, "ckpt_dsir"),
        F.col("status") == "ERROR",
        availableNow=True,
    )
    ops["dsir_model_sink"] = _drain(
        q,
        lambda: read_dsir_model(spark, os.path.join(sink_root3, "dsir")).count(),
    )
    ops["dsir_model_sink"]["batch_twin_s"] = timed_batch(
        lambda: dsir_model(as_docs(batch_df), F.col("status") == "ERROR").count()
    )
    shutil.rmtree(sink_root3, ignore_errors=True)
    shutil.rmtree(sink_root, ignore_errors=True)

    result = {
        "metric": "stream_bench",
        "unit": "rows_per_sec",
        "sf": args.sf_dir,
        "micro_batch_files": args.batches,
        "ops": ops,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
