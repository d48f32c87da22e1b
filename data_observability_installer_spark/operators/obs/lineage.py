"""Lineage extraction from metadata (north-star surface: "Spark jobs
for data profiling, quality checks, and lineage extraction from
metadata").

The reference carries lineage in two metadata forms:

- **Journey DAG edges** — ``PUT /journeys/{id}/dag`` with
  ``{left, right}`` component ids (demo_helper.py:252-276): explicit,
  user-declared component-to-component lineage.
- **Run-scoped event co-occurrence** — RunStatus events reference a
  pipeline (``pipeline_key``/``run_key``) while dataset events
  reference ``dataset_key`` (demo_helper.py:313-331, 192-206); a run
  that *reads* dataset A and *writes* dataset B is observed lineage
  A -> (pipeline) -> B, the same inference warehouse catalogs make
  from query logs.

Everything here is DataFrame -> DataFrame and shuffle-lean:

- ``dataset_edges`` — one self-join on ``run_key`` (runs touch a
  handful of datasets each, so the join fan-out is bounded by
  reads-per-run x writes-per-run, not |events|²) followed by a
  distinct. Both are one shuffle each on keys Spark hash-partitions.
- ``transitive_closure`` — frontier BFS (semi-naive evaluation: only
  the pairs first reached in the previous round are extended by an
  edge). Lineage graphs are metadata-sized even for 100 TB warehouses
  (edges ~ #tables x avg-degree, not data volume), so the edge list is
  collected once and the BFS runs on the driver while both the edges
  and the closure stay under ``functions.driver.DRIVER_ROWS`` rows; the
  result goes back through Arrow as a ``LocalTableScan``. Above the cap
  each round is a Spark hash join whose pin truncates the logical plan
  so 10 iterations don't compile a 10-deep join tree; for those rounds
  at cluster scale set ``spark.dataobs.pin.mode`` to ``persist`` or
  ``reliable`` — the default ``localCheckpoint`` blocks are lost on
  executor failure.
- ``impact_downstream`` — broadcast semi-join of the (tiny) seed set
  against the closure.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ...functions import driver
from ...functions.driver import capped_columns, local_frame
from ...functions.pin import pin


def io_records(
    events: DataFrame,
    run_key_col: str = "run_key",
    dataset_col: str = "dataset_key",
    direction_col: str = "direction",
    co_key: str | None = None,
) -> DataFrame:
    """Normalize an event stream into distinct (run, dataset, READ|WRITE)
    records. Input must already carry the three columns; this is the
    canonical shape every lineage consumer takes.

    ``co_key`` (r14, guide §2.4): an optional extra column that is
    functionally determined by ``run_key`` (non-null — e.g. the agent
    id the run key embeds) and matches the input's physical hash
    partitioning. Carrying it through the distinct (and the downstream
    run-key self-join via :func:`dataset_edges`) lets those operators
    satisfy their clustering from the scan's keyed partitioning and
    skip their exchanges; the distinct ROWS are unchanged because the
    extra column adds no new groups."""
    cols = ([co_key] if co_key else []) + [run_key_col, dataset_col, direction_col]
    return events.select(*cols).distinct()


def dataset_edges(io: DataFrame, co_key: str | None = None) -> DataFrame:
    """Observed dataset-level lineage: ``src -> dst`` whenever one run
    READs src and WRITEs dst (src != dst).

    Plan shape: the io records are pre-distinct'd per (run, dataset,
    direction), then self-joined on ``run_key``. The join key is the
    run, so the shuffle moves each run's handful of io records to one
    partition — fan-out is bounded per run, never all-pairs over
    datasets. Skewed runs (a run touching thousands of datasets) are
    the one hazard; AQE skew-join handles them. With ``co_key`` (see
    :func:`io_records`) the self-join keys on (co_key, run_key) —
    identical pairs, since co_key is determined by run_key — and both
    sides inherit the scan's keyed partitioning, so the join adds no
    exchange of its own.
    """
    keys = ([co_key] if co_key else []) + ["run_key"]
    r = io.filter(F.col("direction") == "READ").select(
        *keys, F.col("dataset_key").alias("src")
    )
    w = io.filter(F.col("direction") == "WRITE").select(
        *keys, F.col("dataset_key").alias("dst")
    )
    return (
        r.join(w, keys)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pipeline_edges(io: DataFrame, pipeline_col: str = "pipeline_key") -> DataFrame:
    """Pipeline-level lineage through shared datasets: ``P1 -> P2`` when
    P1 WRITEs a dataset some P2 READs. The join key is the dataset —
    hub datasets (written once, read by hundreds of pipelines) are the
    skew case; the distinct collapses the fan-out before it leaves the
    exchange (partial aggregation)."""
    w = io.filter(F.col("direction") == "WRITE").select(
        F.col(pipeline_col).alias("src"), "dataset_key"
    )
    r = io.filter(F.col("direction") == "READ").select(
        F.col(pipeline_col).alias("dst"), "dataset_key"
    )
    return (
        w.join(r, "dataset_key")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def transitive_closure(edges: DataFrame, max_depth: int = 8) -> DataFrame:
    """Reachability with minimum hop count: (src, dst, depth) for every
    pair connected by a path of <= max_depth edges, depth = shortest.
    A source on a cycle reaches itself: (a, a) carries the shortest
    cycle's length.

    Semi-naive BFS: only the frontier — the pairs FIRST reached at the
    previous depth — is extended by an edge each round. Equivalent to
    ANSI ``WITH RECURSIVE`` with a depth cap + min(depth) rollup (the
    DuckDB oracle twin in plans/registry.py states it exactly).

    Hybrid execution. The distinct edge list is collected once, capped
    at ``DRIVER_ROWS + 1`` rows — the only Spark action on the driver
    path. When at most ``DRIVER_ROWS`` edges come back, one BFS per
    source runs on the driver over an adjacency dict and the closure
    returns through :func:`local_frame` (a ``LocalTableScan``). The
    closure can be quadratic in the node count, so a driver BFS whose
    output passes ``DRIVER_ROWS`` rows is abandoned for the Spark
    rounds too.

    Spark rounds (edges or closure above the cap). Termination: no pair
    is first reached at the new depth (graph exhausted, incl. cycles —
    the min(depth) rollup folds revisits into the pairs already known)
    or depth cap. The pinned (src, dst, depth) table is the round's
    ONLY input: the hop join keeps every known row (extending those at
    the frontier depth) and one min(depth) rollup yields the next
    table. One reference per round keeps the plan linear in rounds
    under every pin mode: ``persist`` keeps lineage, and a second
    reference (a separate frontier and known set) grows that plan ~2.6x
    per round. In the default mode each round's eager pin
    (``localCheckpoint``) truncates lineage, so the returned closure is
    the last round's pin, a leaf; the per-round ``limit(1).count()``
    emptiness probe is metadata-sized work against it.

    Both paths return ``edges``' src/dst fields and a non-nullable int
    ``depth``.
    """
    e = edges.select("src", "dst").distinct()
    cols = capped_columns(e)
    if cols is not None:
        closure = _driver_closure(zip(*cols), max_depth)
        if closure is not None:
            schema = StructType(e.schema.fields + [StructField("depth", IntegerType(), False)])
            return local_frame(edges.sparkSession, closure, schema)
    e = pin(e)
    known = pin(e.withColumn("depth", F.lit(1)))
    for depth in range(2, max_depth + 1):
        hop = known.alias("k").join(
            e.alias("e"),
            (F.col("k.depth") == depth - 1) & (F.col("k.dst") == F.col("e.src")),
            "left",
        )
        pairs = F.explode(
            F.array(
                F.struct("k.src", "k.dst", "k.depth"),
                # matched hop: e.src equals a non-null k.dst (a null
                # e.dst is a real edge end and extends like any other)
                F.when(
                    F.col("e.src").isNotNull(),
                    F.struct(
                        F.col("k.src").alias("src"),
                        F.col("e.dst").alias("dst"),
                        F.lit(depth).alias("depth"),
                    ),
                ),
            )
        )
        grown = pin(
            hop.select(pairs.alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy("p.src", "p.dst")
            # every group holds a row, so the min is never null; the
            # coalesce only keeps ``depth`` non-nullable in the schema
            .agg(F.coalesce(F.min("p.depth"), F.lit(depth)).alias("depth"))
        )
        if grown.filter(F.col("depth") == depth).limit(1).count() == 0:
            break
        known = grown
    return known


def _driver_closure(edges: Iterable[tuple], max_depth: int) -> list[tuple] | None:
    """The closure rows of the (src, dst) ``edges``: one BFS per source,
    each node's depth its first-reach hop count, at most ``max_depth``
    hops (the first hop always runs, as in the Spark rounds). None once
    the output passes ``DRIVER_ROWS`` rows. A null node never matches
    an edge's src (SQL join semantics), so it is reached but never
    extended."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    out: list[tuple] = []
    for src, first in adj.items():
        seen = dict.fromkeys(first, 1)
        frontier = first
        for depth in range(2, max_depth + 1):
            nxt = []
            for n in frontier:
                for d in adj.get(n, ()) if n is not None else ():
                    if d not in seen:
                        seen[d] = depth
                        nxt.append(d)
            if not nxt:
                break
            frontier = nxt
        out.extend((src, d, k) for d, k in seen.items())
        if len(out) > driver.DRIVER_ROWS:
            return None
    return out


def impact_downstream(closure: DataFrame, seeds: DataFrame) -> DataFrame:
    """Downstream impact set: every (seed, affected, depth) where seed
    is in ``seeds.dataset_key`` and affected is reachable from it.
    Seeds are alert-sized -> broadcast to avoid shuffling the closure."""
    s = seeds.select(F.col("dataset_key").alias("src")).distinct()
    return closure.join(F.broadcast(s), "src").select(
        F.col("src").alias("seed"),
        F.col("dst").alias("affected"),
        "depth",
    )


def declared_edges(dag_edges: DataFrame, left_col: str = "left", right_col: str = "right") -> DataFrame:
    """Journey DAG edges ({left, right} component ids posted to
    PUT /journeys/{id}/dag — demo_helper.py:252-276) as lineage
    (src, dst). Rows with either side absent (un-edged nodes) drop."""
    return (
        dag_edges.filter(F.col(left_col).isNotNull() & F.col(right_col).isNotNull())
        .select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .distinct()
    )


def unified_edges(declared: DataFrame, observed: DataFrame) -> DataFrame:
    """Merge user-declared DAG lineage with run-observed lineage,
    keeping provenance: (src, dst, declared bool, observed bool).
    Edges only declared-but-never-observed surface stale DAGs; edges
    observed-but-never-declared surface undocumented dependencies —
    both are hygiene signals, so the flags matter as much as the union.
    One groupBy on the edge key."""
    d = declared.select("src", "dst").withColumn("_src", F.lit("declared"))
    o = observed.select("src", "dst").withColumn("_src", F.lit("observed"))
    return (
        d.unionByName(o)
        .groupBy("src", "dst")
        .agg(
            F.max((F.col("_src") == "declared").cast("int")).cast("boolean").alias("declared"),
            F.max((F.col("_src") == "observed").cast("int")).cast("boolean").alias("observed"),
        )
    )


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over the lineage graph — "which
    datasets does everything depend on" as a single centrality number
    (Page et al. 1999; simplified form without dangling-mass
    redistribution, adequate for ranking hub datasets).

    Each iteration is one edges->ranks join on ``src`` plus one
    groupBy(dst) — the standard message-passing shape, so an iteration
    costs two key-partitioned shuffles regardless of graph size, and a
    fixed iteration count keeps the plan finite (the same bounded-
    depth discipline as ``transitive_closure``). The node count rides
    a broadcast scalar (never a driver collect), and every float
    constant is derived from the SAME Python double the SQL twin
    embeds via repr(), so both engines iterate on bit-identical
    values."""
    # the edge list is graph-sized but its lineage is the full
    # event-scan extraction; every iteration (plus nodes/outdeg) is a
    # consumer, so pin it — events scan once, not 2+2*iterations times
    edges = pin(edges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy(F.col("src").alias("od_src")).agg(
        F.count(F.lit(1)).alias("od")
    )
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    base_num = 1.0 - damping  # embed THIS double in the twin via repr()
    for _ in range(iterations):
        contribs = (
            edges.join(pr, edges.src == pr.node)
            .join(F.broadcast(outdeg), edges.src == F.col("od_src"))
            .groupBy(F.col("dst").alias("c_node"))
            # Accumulate integer NANO-UNITS, not raw doubles: a float
            # sum's value depends on accumulation order (partition- and
            # engine-dependent), and over iterations last-ulp drift can
            # compound until the 1e-6 output floor flips on a boundary.
            # floor(pr/od * 1e9 + .5) is bit-identical per term on both
            # engines, and integer addition is exact and associative, so
            # every iteration's pr vector is bit-identical by induction.
            # 1e9 scale: terms <= 1e9, so even 1e6 in-edges per hub keep
            # the sum < 2^53 (exact in the final double divide).
            .agg(
                (
                    F.sum(F.floor(F.col("pr") / F.col("od") * 1e9 + F.lit(0.5)))
                    / F.lit(1e9)
                ).alias("s")
            )
        )
        pr = (
            nodes.join(contribs, nodes.node == F.col("c_node"), "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.lit(base_num) / F.col("n")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        "node", (F.floor(F.col("pr") * 1e6 + 0.5) / 1e6).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "node")


def pagerank_sql(edges_cte: str, iterations: int = 3, damping: float = 0.85) -> str:
    """DuckDB twin of :func:`pagerank`: the iterations are UNROLLED
    CTEs (p0 -> p1 -> ... ), constants embedded as repr() of the exact
    Python doubles the Spark side uses."""
    base_num = repr(1.0 - damping)
    d = repr(damping)
    parts = [
        f"""nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
    p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn)"""
    ]
    for i in range(iterations):
        parts.append(
            f"""p{i + 1} AS (
      SELECT no.node,
             {base_num} / (SELECT n FROM nn)
               + {d} * coalesce(s.s, 0.0) AS pr
      FROM nodes no LEFT JOIN (
        SELECT e.dst AS node,
               sum(CAST(floor(p{i}.pr / od.od * 1e9 + 0.5) AS BIGINT)) / 1e9 AS s
        FROM e JOIN p{i} ON p{i}.node = e.src
        JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst) s ON s.node = no.node)"""
        )
    return (
        edges_cte
        + ",\n    "
        + ",\n    ".join(parts)
        + f"""
    SELECT node, floor(pr * 1e6 + 0.5) / 1e6 AS pagerank
    FROM p{iterations} ORDER BY pagerank DESC, node"""
    )


def cycle_nodes(closure: DataFrame) -> DataFrame:
    """Feedback-loop detection over the lineage graph: a dataset is on
    a cycle iff the transitive closure reaches it from itself, and the
    min-depth closure row (src == dst) IS the shortest cycle through
    it. Lineage with cycles breaks every 'rebuild downstream of X'
    plan, so this is the screen a catalog runs before trusting
    impact_downstream. Cost: one filter over the already-built closure
    — reuses the cached BFS, no new scan."""
    return (
        closure.filter(F.col("src") == F.col("dst"))
        .select(
            F.col("src").alias("dataset_key"),
            F.col("depth").cast("int").alias("cycle_len"),
        )
        .orderBy("dataset_key")
    )


def rebuild_plan(
    edges: DataFrame, seeds: DataFrame, max_depth: int = 8
) -> DataFrame:
    """Topological rebuild schedule after bad data landed in ``seeds``:
    every affected node with its rebuild wave = the LONGEST edge
    distance from any seed, computed by ``max_depth`` relaxation
    rounds — wave 0 is the seeds, and on a DAG everything in wave k
    depends only on waves < k, so each wave rebuilds in parallel once
    the previous finished. This is the actionable output impact
    analysis feeds an orchestrator.

    Longest distance, not shortest: a node reachable both directly and
    through a longer chain must wait for the LAST upstream path — the
    min-depth transitive closure CANNOT answer this (a diamond
    short-circuits), hence the dedicated max-relaxation. On a cyclic
    graph waves saturate at ``max_depth`` (run ``cycle_nodes`` first;
    a cycle has no topological order).

    Each round is one broadcast-sized frontier join against the edge
    list + a max rollup; per-round pins cap lineage like the closure
    BFS."""
    e = pin(edges.select("src", "dst").distinct())
    known = pin(
        seeds.select(F.col("dataset_key").alias("node")).distinct().withColumn("wave", F.lit(0))
    )
    frontier = known
    for depth in range(1, max_depth + 1):
        grown = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), F.lit(depth).alias("wave"))
            .distinct()
        )
        frontier = pin(grown)
        if frontier.limit(1).count() == 0:
            break
        known = pin(
            known.select(F.col("node").alias("node"), F.col("wave").alias("wave"))
            .unionByName(frontier)
            .groupBy("node")
            .agg(F.max("wave").alias("wave"))
        )
    return known.select(
        F.col("node").alias("dataset_key"), F.col("wave").cast("int").alias("wave")
    ).orderBy("wave", "dataset_key")
