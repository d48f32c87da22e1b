#!/usr/bin/env python
"""Core-scaling probe (r14, VERDICT r13 #4): the sf0.1 bench is
stage-latency-bound (8 cores ≈ 32 cores, BENCH_r13_c8), so it cannot
confirm the 100 TB scaling claims. This probe times the heaviest
registry queries on a x4 key-shifted replication of sf0.1 (~sf0.4) at
a chosen core count so compute-bound operators have enough work for
core count to matter.

Replication preserves each operator's data contract (same tricks as
tools/bench_scale.py): join keys shift consistently across tables
(orderkey/custkey/partkey * k + rep), document replicas share zero
shingles (per-rep word suffix — pair counts scale linearly, not
quadratically by construction), embedding replicas land in disjoint
label blocks (block size constant, block count scales).

Usage::

    SPARK_GRAFT_CPUS=32 python tools/bench_cores.py [--build-only]
    SPARK_GRAFT_CPUS=8  python tools/bench_cores.py

Writes plans/r14/SCALE_CORES_<cpus>.json. Timing methodology matches
bench.py (cold data / warm code: one untimed execution, release all
cached/persisted state, time the second; min of 2 timed reps).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "4"))
OUT_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", f"/tmp/scale_x{K}")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

QUERIES = [
    "topk_ivfpq_trained_embeddings",
    "pq_near_dups_embeddings",
    "semdedup_trained_embeddings",
    "profile_lineitem",
    "mad_outliers_lineitem",
    "profile_delta_lineitem",
    "canonical_docs_documents",
    "minhash_pairs_documents",
    "monitor_events",
    "range_join_error_runs",
    "qsketch_sla_events",
    "entity_match_customer",
]


def _rep(spark, df):
    return df.crossJoin(
        F.broadcast(spark.range(K).withColumnRenamed("id", "rep"))
    )


def build(spark) -> None:
    out = Path(OUT_DIR)
    if (out / "_SCALE_OK").exists():
        return
    out.mkdir(parents=True, exist_ok=True)
    rd = lambda n: spark.read.parquet(f"{SF_DIR}/{n}.parquet")  # noqa: E731
    wr = lambda df, n: df.repartition(32).write.mode("overwrite").parquet(  # noqa: E731
        f"{OUT_DIR}/{n}.parquet"
    )

    li = _rep(spark, rd("lineitem"))
    wr(
        li.withColumn("l_orderkey", F.col("l_orderkey") * K + F.col("rep"))
        .withColumn("l_partkey", F.col("l_partkey") * K + F.col("rep"))
        .drop("rep"),
        "lineitem",
    )
    o = _rep(spark, rd("orders"))
    wr(
        o.withColumn("o_orderkey", F.col("o_orderkey") * K + F.col("rep"))
        .withColumn("o_custkey", F.col("o_custkey") * K + F.col("rep"))
        .drop("rep"),
        "orders",
    )
    c = _rep(spark, rd("customer"))
    wr(
        c.withColumn("c_custkey", F.col("c_custkey") * K + F.col("rep"))
        # keep c_name aligned with the shifted key's formatting contract
        # is NOT needed by the probe queries (entity_match blocks on the
        # original name text; replicas collide into the same blocks,
        # which GROWS block size — the honest worst case for it)
        .drop("rep"),
        "customer",
    )
    ev = _rep(spark, rd("events"))
    wr(
        ev.withColumn("event_id", F.col("event_id") * K + F.col("rep"))
        .withColumn("user_id", F.col("user_id") * K + F.col("rep"))
        .drop("rep"),
        "events",
    )
    d = _rep(spark, rd("documents"))
    wr(
        d.withColumn("doc_id", F.col("doc_id") * K + F.col("rep"))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("_"), F.col("rep").cast("string")),
                ),
                " ",
            ),
        )
        .drop("rep"),
        "documents",
    )
    e = _rep(spark, rd("embeddings"))
    wr(
        e.withColumn("vec_id", F.col("vec_id") * K + F.col("rep"))
        .withColumn("label", F.col("label") + F.col("rep") * 10)
        .drop("rep"),
        "embeddings",
    )
    for small in ("nation", "region", "supplier", "part"):
        wr(rd(small), small)
    (out / "_SCALE_OK").touch()


def main() -> None:
    from data_observability_installer_spark.session import get_spark
    from data_observability_installer_spark.plans import registry

    spark = get_spark("bench-cores", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    build(spark)
    if "--build-only" in sys.argv:
        print("built", OUT_DIR)
        return

    def release():
        spark.catalog.clearCache()
        registry.clear_caches()
        try:
            for jrdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                try:
                    jrdd.unpersist(False)
                except Exception:  # noqa: BLE001
                    pass
        except Exception:  # noqa: BLE001
            pass
        gc.collect()

    qs = registry.queries()
    out: dict[str, list[float] | None] = {}
    for name in QUERIES:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench-cores {name}")
        try:
            release()
            fn(spark, OUT_DIR).collect()  # warm code
            ts = []
            for _ in range(2):
                release()
                t0 = time.monotonic()
                fn(spark, OUT_DIR).collect()
                ts.append(round(time.monotonic() - t0, 3))
            out[name] = ts
            print(f"{name}: {ts}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            out[name] = None
            print(f"{name} FAILED: {exc}", file=sys.stderr)
    res = {"cpus": CPUS, "k": K, "base_sf": SF_DIR, "queries": out}
    path = Path(__file__).resolve().parent.parent / "plans" / "r14" / f"SCALE_CORES_{CPUS}.json"
    with open(path, "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({"wrote": str(path), **{k: v for k, v in res.items() if k != 'queries'}}))


if __name__ == "__main__":
    main()
