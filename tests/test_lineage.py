"""Lineage extraction: edge derivation, BFS transitive closure vs
hand-computed shortest paths (chain / diamond / cycle), impact sets,
and row/schema parity of the closure's driver BFS and Spark rounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_observability_installer_spark.operators.obs.lineage import (
    dataset_edges,
    impact_downstream,
    io_records,
    pipeline_edges,
    transitive_closure,
)


def _io(spark, rows):
    return spark.createDataFrame(
        rows, "run_key string, dataset_key string, direction string, pipeline_key string"
    )


def test_dataset_edges_from_run_io(spark):
    io = io_records(
        _io(
            spark,
            [
                # run r1 on pipeline P1: reads a, writes b and c
                ("r1", "a", "READ", "P1"),
                ("r1", "b", "WRITE", "P1"),
                ("r1", "c", "WRITE", "P1"),
                # run r2 on P2: reads b, writes d; duplicate io records collapse
                ("r2", "b", "READ", "P2"),
                ("r2", "b", "READ", "P2"),
                ("r2", "d", "WRITE", "P2"),
                # run r3 reads and writes the same dataset -> no self edge
                ("r3", "e", "READ", "P3"),
                ("r3", "e", "WRITE", "P3"),
            ],
        ).drop("pipeline_key")
    )
    edges = {(r.src, r.dst) for r in dataset_edges(io).collect()}
    assert edges == {("a", "b"), ("a", "c"), ("b", "d")}


def test_pipeline_edges_through_shared_datasets(spark):
    io = _io(
        spark,
        [
            ("r1", "a", "WRITE", "P1"),
            ("r2", "a", "READ", "P2"),   # P1 -> P2 via dataset a
            ("r3", "a", "READ", "P3"),   # P1 -> P3 via dataset a (hub fan-out)
            ("r4", "b", "WRITE", "P2"),
            ("r5", "b", "READ", "P2"),   # self-loop dropped
        ],
    )
    edges = {(r.src, r.dst) for r in pipeline_edges(io).collect()}
    assert edges == {("P1", "P2"), ("P1", "P3")}


def test_closure_chain_min_depth(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {(r.src, r.dst): r.depth for r in transitive_closure(e).collect()}
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "d"): 1,
        ("a", "c"): 2, ("b", "d"): 2,
        ("a", "d"): 3,
    }


def test_closure_diamond_takes_shortest_path(spark):
    # a->b->d and a->c->d plus shortcut a->d: depth(a,d) must be 1
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")],
        "src string, dst string",
    )
    got = {(r.src, r.dst): r.depth for r in transitive_closure(e).collect()}
    assert got[("a", "d")] == 1
    assert got[("b", "d")] == 1
    assert ("d", "a") not in got


def test_closure_cycle_terminates_and_self_reaches(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {(r.src, r.dst): r.depth for r in transitive_closure(e, max_depth=10).collect()}
    # 3-cycle: every ordered pair reachable; self-reach at depth 3
    assert len(got) == 9
    assert got[("a", "a")] == 3
    assert got[("a", "c")] == 2


def test_closure_depth_cap(spark):
    e = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)], "src string, dst string"
    )
    got = transitive_closure(e, max_depth=3)
    assert got.agg(F.max("depth")).first()[0] == 3
    assert got.filter((F.col("src") == "n0") & (F.col("dst") == "n4")).count() == 0


def test_impact_downstream_broadcasts_seeds(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    closure = transitive_closure(e)
    seeds = spark.createDataFrame([("a",)], "dataset_key string")
    got = {(r.seed, r.affected): r.depth for r in impact_downstream(closure, seeds).collect()}
    assert got == {("a", "b"): 1, ("a", "c"): 2}


def test_declared_and_unified_edges_provenance(spark):
    from data_observability_installer_spark.operators.obs.lineage import (
        dataset_edges,
        declared_edges,
        unified_edges,
    )

    dag = spark.createDataFrame(
        [("a", "b"), ("b", "c"), (None, "d"), ("e", None)],
        "left string, right string",
    )
    decl = declared_edges(dag)
    assert {(r.src, r.dst) for r in decl.collect()} == {("a", "b"), ("b", "c")}

    io = io_records(
        spark.createDataFrame(
            [("r1", "b", "READ"), ("r1", "c", "WRITE"),   # observed b->c (also declared)
             ("r2", "c", "READ"), ("r2", "x", "WRITE")],  # observed c->x (undocumented)
            "run_key string, dataset_key string, direction string",
        )
    )
    uni = {(r.src, r.dst): (r.declared, r.observed)
           for r in unified_edges(decl, dataset_edges(io)).collect()}
    assert uni[("a", "b")] == (True, False)   # stale/declared-only
    assert uni[("b", "c")] == (True, True)    # confirmed
    assert uni[("c", "x")] == (False, True)   # undocumented dependency


def test_cycle_nodes_flags_only_cycle_members(spark):
    from data_observability_installer_spark.operators.obs.lineage import (
        cycle_nodes,
        transitive_closure,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f")],
        "src string, dst string",
    )
    out = {r.dataset_key: r.cycle_len for r in cycle_nodes(transitive_closure(edges)).collect()}
    assert out == {"a": 3, "b": 3, "c": 3}  # acyclic chain d->e->f absent


def test_cycle_nodes_self_loop_is_length_one_cycle(spark):
    from data_observability_installer_spark.operators.obs.lineage import (
        cycle_nodes,
        transitive_closure,
    )

    edges = spark.createDataFrame([("x", "x"), ("x", "y")], "src string, dst string")
    out = {r.dataset_key: r.cycle_len for r in cycle_nodes(transitive_closure(edges)).collect()}
    assert out == {"x": 1}


def test_rebuild_plan_waves_are_topological(spark):
    """Wave = LONGEST seed distance: a dataset reachable directly AND
    through a longer chain waits for the last path; seeds are wave 0."""
    from data_observability_installer_spark.operators.obs.lineage import rebuild_plan

    #   s -> a -> b -> c   and   s -> c  (short-circuit)
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("s", "c"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "dataset_key string")
    out = {r.dataset_key: r.wave for r in rebuild_plan(edges, seeds).collect()}
    assert out == {"s": 0, "a": 1, "b": 2, "c": 3}  # c waits for the long path
    # disconnected x/y are absent: nothing downstream of the seed

    # a cycle saturates at the hop cap instead of looping forever
    cyc = spark.createDataFrame([("s", "a"), ("a", "s")], "src string, dst string")
    capped = {r.dataset_key: r.wave for r in rebuild_plan(cyc, seeds, max_depth=4).collect()}
    assert capped["a"] <= 4 and capped["s"] <= 4


# Graphs for the driver/Spark parity checks: (edges, max_depth).
_PARITY_GRAPHS = {
    "chain_past_cap": ([(f"n{i}", f"n{i + 1}") for i in range(6)], 3),
    "diamond_shortcut": ([("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d"), ("d", "e")], 8),
    "three_cycle": ([("a", "b"), ("b", "c"), ("c", "a")], 8),
    "self_loop": ([("x", "x"), ("x", "y"), ("y", "z")], 8),
    "two_components": ([("a", "b"), ("b", "c"), ("p", "q"), ("q", "p"), ("q", "r")], 8),
    "null_node": ([(None, "a"), ("a", None), ("a", "b")], 8),
    "empty": ([], 8),
}


def _closure_both_ways(spark, monkeypatch, edges, max_depth, cap):
    """The closure of ``edges`` on the driver path, then with the cap
    patched to ``cap`` (Spark rounds), as (rows, schema) pairs."""
    from data_observability_installer_spark.operators.obs import lineage

    e = spark.createDataFrame(edges, "src string, dst string")
    driver = transitive_closure(e, max_depth=max_depth)
    assert "LocalTableScan" in driver._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(lineage.driver, "DRIVER_ROWS", cap)
    rounds = transitive_closure(e, max_depth=max_depth)
    assert "LocalTableScan" not in rounds._jdf.queryExecution().executedPlan().toString()
    return [(sorted(map(tuple, df.collect()), key=repr), df.schema) for df in (driver, rounds)]


@pytest.mark.parametrize("graph", sorted(_PARITY_GRAPHS))
def test_closure_driver_path_matches_spark_rounds(spark, monkeypatch, graph):
    """The driver BFS and the Spark rounds give row-identical
    (src, dst, depth) and one schema. A cap of -1 sends even an empty
    edge list (which fits a cap of 0) to the Spark rounds."""
    edges, max_depth = _PARITY_GRAPHS[graph]
    driver, rounds = _closure_both_ways(spark, monkeypatch, edges, max_depth, cap=-1)
    assert driver == rounds
    assert bool(driver[0]) == bool(edges)
    depth = driver[1]["depth"]
    assert (depth.dataType.simpleString(), depth.nullable) == ("int", False)


def test_closure_output_over_cap_takes_spark_rounds(spark, monkeypatch):
    """Edges that fit the cap but a closure that does not (a 3-cycle:
    3 edges, 9 closure rows) fall through to the Spark rounds with the
    same rows."""
    from data_observability_installer_spark.operators.obs import lineage

    edges, max_depth = _PARITY_GRAPHS["three_cycle"]
    assert len(lineage._driver_closure(edges, max_depth)) == 9
    monkeypatch.setattr(lineage.driver, "DRIVER_ROWS", 5)
    assert lineage._driver_closure(edges, max_depth) is None
    monkeypatch.undo()
    driver, rounds = _closure_both_ways(spark, monkeypatch, edges, max_depth, cap=5)
    assert driver == rounds
