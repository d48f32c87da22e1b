"""A2 journey-instance windowing, A6 out-of-sequence detection.

A2: instance conditions ``{action: START|END|END_PAYLOAD,
batch_pipeline}`` (demo_helper.py:279-287) declare which pipeline's
runs open/close a journey instance. Batch semantics implemented here:
each START-pipeline run start opens an instance; the instance spans
until the next START (or the END-pipeline run end when an END
condition exists). Component runs join to instances by interval
containment — a range join against a *tiny* boundary table, so Spark
broadcasts it; no O(n²) shuffle.

A6: within an instance, a run violates the journey DAG when an
upstream component's run ends AFTER a downstream component's run
starts (rule payload ``type_matches: [OUT_OF_SEQUENCE]``,
demo_helper.py:1939-1956). DAGs are tiny (≤ dozens of nodes), so the
transitive closure is computed driver-side and shipped as a literal
edge table; the detection itself is two broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ...functions.driver import local_frame
from ...functions.pin import pin


def journey_instances(run_rollup: DataFrame, conditions: DataFrame) -> DataFrame:
    """Instance windows per journey from {action: START|END} conditions
    (demo_helper.py:279-287; END-bounded journeys at :1851-1875).

    Every START-pipeline run start opens an instance. The instance
    closes at whichever comes first: the next START boundary, or — when
    the journey declares an END condition — the first END-pipeline run
    END after the instance opens. A journey with no END condition (the
    common case) degrades to pure next-START windows, and the END path
    is a join against an empty side, so one plan serves both.

    Returns (journey_id, instance_id, instance_start, instance_end);
    instance_end is NULL for a still-open latest instance.
    """
    starts = conditions.filter(F.col("action") == "START").select(
        "journey_id", F.col("batch_pipeline").alias("pipeline_key")
    )
    boundary = run_rollup.join(F.broadcast(starts), "pipeline_key")
    # run_key tie-break: equal start_ts boundaries must number
    # identically in every engine (the oracle replays this in SQL)
    w = Window.partitionBy("journey_id").orderBy("start_ts", "run_key")
    base = boundary.select(
        "journey_id",
        F.row_number().over(w).alias("instance_id"),
        F.col("start_ts").alias("instance_start"),
        F.lead("start_ts").over(w).alias("next_start"),
    )
    ends = conditions.filter(F.col("action") == "END").select(
        "journey_id", F.col("batch_pipeline").alias("pipeline_key")
    )
    # conditions are metadata-sized; probing them driver-side lets the
    # common START-only journey skip the END machinery entirely (the
    # range join below is a nested-loop shape — fine against real END
    # runs, waste against a provably empty side)
    if ends.limit(1).count() == 0:
        return base.withColumnRenamed("next_start", "instance_end")
    end_runs = run_rollup.join(F.broadcast(ends), "pipeline_key").select(
        F.col("journey_id").alias("e_journey_id"), F.col("end_ts").alias("e_end_ts")
    )
    # first END-run end strictly after each instance start; the boundary
    # table is the small side, so it broadcasts into the end-run stream
    first_end = (
        end_runs.join(
            F.broadcast(base),
            (F.col("e_journey_id") == F.col("journey_id"))
            & (F.col("e_end_ts") > F.col("instance_start")),
        )
        .groupBy("journey_id", "instance_id")
        .agg(F.min("e_end_ts").alias("first_end"))
    )
    return (
        base.join(F.broadcast(first_end), ["journey_id", "instance_id"], "left")
        .select(
            "journey_id",
            "instance_id",
            "instance_start",
            F.when(
                F.col("first_end").isNotNull()
                & (F.col("next_start").isNull() | (F.col("first_end") < F.col("next_start"))),
                F.col("first_end"),
            )
            .otherwise(F.col("next_start"))
            .alias("instance_end"),
        )
    )


def payload_instances(
    run_rollup: DataFrame, conditions: DataFrame, run_payloads: DataFrame
) -> DataFrame:
    """END_PAYLOAD instance windows: one instance per (journey,
    payload_key) (payload keys at demo_helper.py:1106-1116).

    ``run_payloads`` is (run_key, payload_key), many-to-many. The
    instance opens at the earliest START-boundary run carrying the key
    and closes at the first END_PAYLOAD-pipeline run end after that
    (NULL while the payload is still in flight).
    """
    starts = conditions.filter(F.col("action") == "START").select(
        "journey_id", F.col("batch_pipeline").alias("pipeline_key")
    )
    endp = conditions.filter(F.col("action") == "END_PAYLOAD").select(
        "journey_id", F.col("batch_pipeline").alias("pipeline_key")
    )
    opens = (
        run_rollup.join(F.broadcast(starts), "pipeline_key")
        .join(run_payloads, "run_key")
        .groupBy("journey_id", "payload_key")
        .agg(F.min("start_ts").alias("instance_start"))
    )
    end_runs = (
        run_rollup.join(F.broadcast(endp), "pipeline_key")
        .join(run_payloads, "run_key")
        .select("journey_id", "payload_key", "end_ts")
    )
    closed = (
        opens.alias("o")
        .join(
            end_runs.alias("e"),
            (F.col("o.journey_id") == F.col("e.journey_id"))
            & (F.col("o.payload_key") == F.col("e.payload_key"))
            & (F.col("e.end_ts") > F.col("o.instance_start")),
            "left",
        )
        .groupBy("o.journey_id", "o.payload_key", "o.instance_start")
        .agg(F.min("e.end_ts").alias("instance_end"))
    )
    w = Window.partitionBy("journey_id").orderBy("instance_start", "payload_key")
    return closed.select(
        F.col("journey_id"),
        F.row_number().over(w).alias("instance_id"),
        F.col("payload_key"),
        F.col("instance_start"),
        F.col("instance_end"),
    )


def assign_to_instances(
    run_rollup: DataFrame, instances: DataFrame, journey_components: DataFrame
) -> DataFrame:
    """Attach each component run to the journey instance whose window
    contains its start.

    A raw interval join has only the journey id as an equality key, so
    Spark plans a broadcast NESTED-LOOP join — O(runs × instances per
    journey) comparisons. Instead each instance window explodes into
    the calendar days it covers (windows are hours-to-days wide, so
    1-2 rows each; open-ended windows extend to the newest run day, a
    one-row scalar), and the join runs as a broadcast HASH join on
    (journey_id, day) with the range test as a residual filter — each
    run probes only its own day's instances.
    """
    runs = run_rollup.join(
        F.broadcast(journey_components.select("journey_id", F.col("component_key").alias("pipeline_key"))),
        "pipeline_key",
    ).withColumn("day", F.to_date("start_ts"))
    max_day = run_rollup.agg(F.max(F.to_date("start_ts")).alias("max_day"))
    inst_days = (
        instances.crossJoin(F.broadcast(max_day))
        .withColumn(
            "day",
            F.explode(
                F.sequence(
                    F.to_date("instance_start"),
                    F.coalesce(F.to_date("instance_end"), F.col("max_day")),
                )
            ),
        )
        .drop("max_day")
    )
    cond = (F.col("r.start_ts") >= F.col("i.instance_start")) & (
        F.col("i.instance_end").isNull() | (F.col("r.start_ts") < F.col("i.instance_end"))
    )
    return (
        runs.alias("r")
        .join(
            F.broadcast(inst_days.alias("i")),
            (F.col("r.journey_id") == F.col("i.journey_id"))
            & (F.col("r.day") == F.col("i.day"))
            & cond,
        )
        .select(
            F.col("r.journey_id").alias("journey_id"),
            "instance_id",
            "pipeline_key",
            "run_key",
            "start_ts",
            "end_ts",
            "final_status",
        )
    )


def transitive_edges(edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side closure over a tiny DAG edge list (left ⇝ right)."""
    adj: dict[str, set[str]] = {}
    for l, r in edges:
        if l is not None and r is not None:
            adj.setdefault(l, set()).add(r)
    out: set[tuple[str, str]] = set()

    def dfs(src: str, node: str, seen: set[str]) -> None:
        for nxt in adj.get(node, ()):  # DAG: no cycle guard needed beyond seen
            if nxt not in seen:
                seen.add(nxt)
                out.add((src, nxt))
                dfs(src, nxt, seen)

    for src in adj:
        dfs(src, src, set())
    return sorted(out)


def dag_cycles(edges: list[tuple[str, str]]) -> list[str]:
    """Nodes on a cycle in a journey DAG definition (empty when the
    graph is a real DAG). A cyclic definition makes topological order —
    and therefore out-of-sequence detection (A6) — undefined, so
    callers should validate edges at journey-assembly time and reject
    the PUT rather than emit garbage alerts. A node reaches itself in
    :func:`transitive_edges` iff it sits on a cycle."""
    return sorted({a for a, b in transitive_edges(edges) if a == b})


def out_of_sequence(assigned: DataFrame, closure: DataFrame) -> DataFrame:
    """A6: upstream run ends after downstream run starts, within one
    instance. ``closure`` columns: (journey_id, up_key, down_key).

    ``assigned`` feeds BOTH sides of the self-join; pinned (projected
    to the six consumed columns) so the assignment pipeline — window,
    day-explode, two joins — executes once, not once per side.
    ``assigned`` is runs-sized, the same size class the callers already
    checkpoint for the rollup."""
    assigned = pin(
        assigned.select(
            "journey_id", "instance_id", "pipeline_key", "run_key", "start_ts", "end_ts"
        )
    )
    up = assigned.alias("u")
    down = assigned.alias("d")
    e = F.broadcast(closure).alias("e")
    return (
        up.join(
            e,
            (F.col("u.journey_id") == F.col("e.journey_id"))
            & (F.col("u.pipeline_key") == F.col("e.up_key")),
        )
        .join(
            down,
            (F.col("d.journey_id") == F.col("u.journey_id"))
            & (F.col("d.instance_id") == F.col("u.instance_id"))
            & (F.col("d.pipeline_key") == F.col("e.down_key")),
        )
        .filter(F.col("d.start_ts") < F.col("u.end_ts"))
        .select(
            F.col("u.journey_id").alias("journey_id"),
            F.col("u.instance_id").alias("instance_id"),
            F.col("u.pipeline_key").alias("up_key"),
            F.col("u.run_key").alias("up_run"),
            F.col("d.pipeline_key").alias("down_key"),
            F.col("d.run_key").alias("down_run"),
            F.lit("OUT_OF_SEQUENCE").alias("alert_type"),
        )
    )


def dag_depth(edges: list[tuple[str, str]]) -> int:
    """Longest chain length (edge count) of a journey DAG — driver-side
    metadata, bounds the relaxation rounds in :func:`critical_path`."""
    succ: dict[str, list[str]] = {}
    for u, v in edges:
        succ.setdefault(u, []).append(v)
    memo: dict[str, int] = {}

    def depth(v: str) -> int:
        if v not in memo:
            memo[v] = 1 + max((depth(w) for w in succ.get(v, [])), default=-1)
        return memo[v]

    return max((depth(u) for u, _ in edges), default=0)


def critical_path(assigned: DataFrame, edges: list[tuple[str, str]]) -> DataFrame:
    """Duration-weighted longest path through the journey DAG, per
    instance: which component chain gates the journey's end-to-end
    latency. Returns one row per (instance, component) with ``path_s``
    (the longest total duration of any DAG path ending at that
    component, using each component's slowest run in the instance) and
    ``is_critical`` (it attains the instance maximum).

    Durations are ``CAST(ts AS DOUBLE)`` differences (micros exact in
    a double, and DuckDB's epoch() keeps them — the unix_timestamp
    trap). The DAG is metadata, so the longest path runs as
    ``dag_depth`` relaxation rounds — each one broadcast edge join +
    one (instance, component)-keyed max — over a frame of
    instances x components rows, never the event count. The twin
    enumerates all root-to-node paths with a recursive CTE and takes
    the same max."""
    spark = assigned.sparkSession
    dur = pin(  # instances x components rows
        assigned.select(
            "instance_id",
            "pipeline_key",
            (
                F.col("end_ts").cast("double") - F.col("start_ts").cast("double")
            ).alias("dur_s"),
        )
        .groupBy("instance_id", "pipeline_key")
        .agg(F.max("dur_s").alias("dur_s"))
    )
    e = local_frame(spark, edges, "up_key string, down_key string")
    dist = dur.withColumn("path_s", F.col("dur_s"))
    for _ in range(dag_depth(edges)):
        best = (
            dist.join(F.broadcast(e), dist.pipeline_key == e.up_key)
            .groupBy("instance_id", F.col("down_key").alias("pipeline_key"))
            .agg(F.max("path_s").alias("best_pred"))
        )
        dist = dur.join(best, ["instance_id", "pipeline_key"], "left").select(
            "instance_id",
            "pipeline_key",
            "dur_s",
            (F.col("dur_s") + F.coalesce(F.col("best_pred"), F.lit(0.0))).alias(
                "path_s"
            ),
        )
    w = Window.partitionBy("instance_id")
    return (
        dist.withColumn("is_critical", F.col("path_s") == F.max("path_s").over(w))
        .select("instance_id", "pipeline_key", "path_s", "is_critical")
        .orderBy("instance_id", "pipeline_key")
    )
