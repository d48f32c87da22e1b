"""Parquet warehouse-table loaders for the driver-generated testdata.

Tables per TESTDATA.md / FIXTURES.md group A. At 100 TB these would be
date/key-partitioned external tables; the loader deliberately keeps the
scan lazy so Catalyst can push filters/column pruning into the parquet
reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Static schemas (FIXTURES.md group A) — used to emit oracle SQL without a
# live SparkSession; dtypes are Spark-style lowercase names.
STATIC_SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"), ("c_name", "string"), ("c_nationkey", "int"),
        ("c_acctbal", "double"), ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"), ("s_name", "string"), ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
        ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
        ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint"),
    ],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array"), ("label", "int")],
}


# (rowgroups, bytes) per parquet path — pyarrow footer read, once per path
_LAYOUT_CACHE: dict[str, tuple[int, int]] = {}

# Repartition key per table for _distribute: hash-partitioning on the
# table's primary join/group key instead of round-robin. Two wins
# (guide §2.4/§2.5): (1) round-robin pays a LOCAL SORT of every row
# first (spark.sql.execution.sortBeforeRepartition, required so task
# retries reproduce the assignment — measured at sf0.1 it is HALF the
# repartition cost: full-materialize 1.23 s round-robin vs 0.61 s
# hash); a deterministic hash key needs no sort and stays
# retry-correct, which is exactly the guide's recommendation over
# synthetic random keys. (2) downstream joins/aggregations keyed on
# the same column (orders ⋈ lineitem on orderkey, per-order rollups)
# satisfy their ClusteredDistribution from the scan's partitioning and
# skip their own Exchange outright. Keys are high-cardinality
# (>=1,500 distinct over 32 partitions), so hash spread is even.
_DIST_KEYS: dict[str, str] = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _parquet_layout(path: str) -> tuple[int, int]:
    if path not in _LAYOUT_CACHE:
        try:
            import pyarrow.parquet as pq

            _LAYOUT_CACHE[path] = (
                pq.ParquetFile(path).metadata.num_row_groups,
                os.path.getsize(path),
            )
        except Exception:  # noqa: BLE001 — remote/odd files: assume splittable
            _LAYOUT_CACHE[path] = (1 << 30, 0)
    return _LAYOUT_CACHE[path]


def _distribute(
    spark: SparkSession, df: DataFrame, path: str, key: str | None = None
) -> DataFrame:
    """Parquet can only split at row-group boundaries. The harness
    files are written as ONE row group, so every downstream aggregate
    would run on one core of local[32] (measured: exact lineitem
    profile 30 s -> 19 s, approx 14 s -> 6 s once distributed). A
    repartition after the scan restores parallelism; filters and
    column pruning still push through the exchange into the scan
    (asserted in tests/test_plans.py). Real warehouse files carry
    many row groups, making this a no-op there — the guard keys on
    the actual footer metadata, not an sf heuristic.

    With ``key`` (see _DIST_KEYS) the exchange hash-partitions on the
    table's primary key instead of round-robin: no sort-before-
    repartition pass, deterministic under task retry, and same-keyed
    downstream joins/groupBys reuse the partitioning (guide §2.4).
    Unknown tables keep the round-robin fallback.

    Two keyed-path costs, accepted deliberately (round-13 ADVICE):
    the key column is forced into EVERY scan of the table, so queries
    that never touch it pay one extra column read (measured ≤1.1x on
    the narrowest single-column aggregates, vs 0.55-0.66x on the keyed
    joins/rollups); and a key with too few distinct values would
    collapse parallelism (guide §2.5's 20-100x-keys-per-partition
    rule). A runtime distinct-count probe would cost a scan per load,
    so the floor is asserted per dataset instead
    (tests/test_plans.py::test_dist_keys_have_spread pins every
    _DIST_KEYS entry at >=20x the local core count — a low-cardinality
    dataset variant must drop its entry rather than ship a hot key)."""
    rowgroups, nbytes = _parquet_layout(path)
    parallelism = spark.sparkContext.defaultParallelism
    # a single row group is one task on any multi-core session; from 8
    # cores up, files with fewer than cores/4 row groups distribute too
    if rowgroups < max(parallelism // 4, min(parallelism, 2)) and nbytes > 1 << 20:
        if key is not None and key in df.columns:
            return df.repartition(parallelism, key)
        return df.repartition(parallelism)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Testdata vintages differ: TIMESTAMP(NANOS) (Spark's reader
        # rejects it — read raw int64 and convert; integer DIV, a double
        # division would lose precision above 2^53 ns) or TIMESTAMP(MICROS)
        # without a timezone annotation (loads as TIMESTAMP_NTZ, on which
        # Spark 4 forbids numeric casts). Normalise both to TIMESTAMP so
        # downstream epoch arithmetic always sees one type.
        from ..session import ensure_nanos_conf

        ensure_nanos_conf(spark)
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # session TZ is UTC (session.get_spark), so this cast is an
            # identity on the epoch value
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return _distribute(spark, df, path, key=_DIST_KEYS.get(name))
    return _distribute(
        spark, spark.read.parquet(path), path, key=_DIST_KEYS.get(name)
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
