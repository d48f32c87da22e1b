"""Warehouse sinks — the write half of the 100 TB story.

The reference persists to Postgres/MySQL through an API; the engine
analog is columnar warehouse tables laid out so the NEXT query is
cheap:

- ``write_partitioned``: date/key-partitioned parquet — partition
  pruning turns time-scoped scans (the dominant observability access
  pattern) into touching only matching directories.
- ``write_bucketed``: ``bucketBy(key)`` saved tables — two tables
  bucketed on the same key hash-join WITHOUT a shuffle (the co-located
  join for orders⨝lineitem-shaped facts; at 100 TB the exchange this
  removes is the single largest cost in the join).
- ``write_jsonl``: event-stream export (TestOutcomes / alert feeds),
  the S4 transport format the reference's export verbs emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.pin import pinned


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed managed table. Joins/aggregations keyed on
    ``bucket_col`` between tables sharing (col, num_buckets) skip the
    exchange entirely."""
    w = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def idempotent_batch_sink(stream, out_dir: str, query_name: str = "idempotent_sink"):
    """Exactly-once-style delivery for ``foreachBatch``: each
    micro-batch writes to ``out_dir/batch_id=<id>`` with mode
    ``overwrite``, so a replayed batch (restart after a sink failure,
    before the checkpoint commit) OVERWRITES its own previous partial
    output instead of appending duplicates — Structured Streaming's
    at-least-once batch redelivery plus a (batch_id-keyed, overwrite)
    sink is the standard exactly-once recipe for file targets. Readers
    see one directory per batch; the batch_id column is the replay
    audit trail."""
    from pyspark.sql import functions as F

    def _write(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_write)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def start_batch_query(stream, commit, checkpoint: str, **trigger):
    """Start ``stream`` as a checkpointed ``foreachBatch(commit)``
    query — the one start every continuous sink shares. ``trigger``
    passes through to ``DataStreamWriter.trigger`` when given (e.g.
    ``availableNow=True``); Spark's default trigger applies otherwise.

    Returns the started StreamingQuery."""
    writer = stream.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


class ContractViolation(RuntimeError):
    """Raised by :func:`guarded_write` when the outgoing data fails its
    contract suite; carries the failing outcome rows."""

    def __init__(self, failures: list):
        self.failures = failures
        lines = ", ".join(
            f"{r['column_name']}.{r['test_type']}={r['measure']}" for r in failures[:5]
        )
        super().__init__(
            f"contract gate: {len(failures)} test(s) failed ({lines}); nothing written"
        )


def guarded_write(
    df: DataFrame,
    path: str,
    specs: list,
    as_of: str,
    mode: str = "overwrite",
    fail_on_warning: bool = False,
) -> list:
    """Contract-gated sink: run a DQ test suite against the OUTGOING
    frame and only commit the write when nothing fails — the write-side
    twin of the read-side suites (a data contract enforced in the
    pipeline, which is the reference's whole premise applied at the
    producer boundary instead of after the fact).

    The suite compiles to one aggregate pass over ``df``
    (`operators/dq/compiler.py: compile_suite`) and collects only the
    outcome rows (metadata-sized: one row per test). On any FAILED row
    (or WARNING with ``fail_on_warning``) raises
    :class:`ContractViolation` BEFORE any output exists — the gate is
    atomic because nothing is staged until the suite passes. At scale
    this costs one extra scan of the output; for expensive frames,
    persist upstream or point the suite at a sample.

    Returns the outcome rows on success so callers can log/export them
    (e.g. through ``export_outcomes_json``) as evidence the contract
    held for this publish.

    The frame is pinned (MEMORY_AND_DISK persist) before the suite runs
    and released after the write, so the ROWS THE SUITE VALIDATED are
    the rows that get committed: without the pin, a nondeterministic
    frame (sampling, current_timestamp, source files changing between
    the two jobs) could pass the gate on one computation and write a
    different, contract-violating one. MEMORY_AND_DISK spills rather
    than evicts, so partitions are not recomputed between the two
    actions on a healthy cluster (executor loss still recomputes — for
    a hard guarantee on nondeterministic frames, checkpoint upstream).

    A caller-persisted frame is left as it is: ``pinned`` neither
    re-persists nor evicts it, so later caller actions keep reading the
    rows that were just validated."""
    from ..operators.dq.compiler import compile_suite

    with pinned(df):
        outcomes = compile_suite(df, specs, as_of).collect()
        bad_states = {"FAILED"} | ({"WARNING"} if fail_on_warning else set())
        failures = [r.asDict() for r in outcomes if r["result"] in bad_states]
        if failures:
            raise ContractViolation(failures)
        df.write.mode(mode).parquet(path)
        return [r.asDict() for r in outcomes]


def backfill_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Partition-selective rewrite: overwrite ONLY the partitions
    present in ``df``, leaving every other partition of the table
    untouched — the "re-run day X" maintenance primitive. At 100 TB a
    whole-table overwrite to fix one day is both a 1000x write
    amplification and an availability hole; dynamic partition overwrite
    replaces exactly the affected directories, atomically per
    partition.

    Implemented with Spark's ``partitionOverwriteMode=dynamic`` (set
    per-write via the DataFrameWriter option, so the session default is
    not mutated). Idempotent: re-running the same backfill converges to
    the same table state, so a failed driver can simply retry."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


# --- format-generic table IO ------------------------------------------------
#
# parquet is the house format; ORC is the interchange columnar format
# warehouses hand over (same pushdown/pruning machinery in Spark), and
# csv/jsonl cover export feeds. One seam so pipelines swap formats per
# table without touching operator code.

_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    **options,
) -> None:
    """Write ``df`` at ``path`` in any supported format. CSV defaults
    to a header row (schema survives the round trip together with
    ``read_table_fmt``'s schema argument)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if fmt == "csv":
        options.setdefault("header", "true")
    w.options(**options).format(fmt).save(path)


def read_table_fmt(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
):
    """Read a table written by :func:`write_table`. Columnar formats
    (parquet/ORC) keep predicate pushdown and column pruning — pinned
    by an executed-plan pytest on the ORC path; csv/json readers take
    an explicit schema to avoid the inference scan."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return r.options(**options).format(fmt).load(path)
