"""The driver hand-back: the one way rows held on the driver become a
Spark frame, and the one row cap for driver-side rounds.

Every metadata-sized result the engine computes on the driver (profiles,
sketches, cron ticks, codebooks, BPE merges, discovered FDs/FKs, graph
closures, literal lookup tables, empty seeds) goes back to Spark
through :func:`local_frame`; a test pins ``createDataFrame`` to this
module. It builds one Arrow table in the schema's Arrow types and hands
it over as ``pa.Table``, which plans as a ``LocalTableScan`` (empty
rows give a typed empty one). The list path it replaces, Python rows
sent through an RDD, plans as ``Scan ExistingRDD`` and starts Python
workers when it executes: a warm ``collect()`` of two rows took
0.18-0.29 s there against 0.03 s here, the first one in a fresh session
4.1 s (4 vCPUs, ``local[2]``). It also read a naive ``datetime`` in the
HOST's time zone (``TimestampType.toInternal`` calls ``time.mktime``),
so on a non-UTC host naive-UTC instants such as cron ticks landed hours
off; Arrow's ``timestamp[us, UTC]`` reads them as UTC on any host.

Operators over metadata-sized inputs run on the driver while the input
fits under :data:`DRIVER_ROWS`, and every such branch reads its input
through one capped Arrow collect, :func:`capped_table` (or its column
lists, :func:`capped_columns`); None sends the operator to its Spark
form. The graph rounds (lineage closure, near-dup groups) replace a
Spark job, a pin and an emptiness probe per round with one BFS or
union-find; the near-dup family's exact shingle overlap
(``operators/llm/dedup.driver_overlap``) counts the shingle index, or
the MinHash candidates and then their docs' shingles, while the
self-join's output stays under the cap; the q-digest assembly and
quantile scan (``operators/sketch.py``) run their closed forms over the
sketch nodes. Each hands its rows back through :func:`local_frame`.
Callers read the cap as ``driver.DRIVER_ROWS`` at call time, so one
setting of it moves every branch.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

__all__ = ["DRIVER_ROWS", "capped_columns", "capped_table", "local_frame"]

#: most rows a driver-side round collects or emits; past it the Spark
#: rounds run instead
DRIVER_ROWS = 1_000_000


def capped_table(df: DataFrame) -> pa.Table | None:
    """``df`` from one Arrow collect capped at ``DRIVER_ROWS + 1`` rows;
    None when it holds more than ``DRIVER_ROWS``. A frame that plans as
    a ``LocalTableScan`` (its rows are already on the driver, e.g. a
    :func:`local_frame` result) is read with ``collect()``, which runs
    no Spark job where the Arrow collect runs one."""
    capped = df.limit(DRIVER_ROWS + 1)
    if capped._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan":
        # collect() hands TimestampType values back as naive HOST-local
        # datetimes; aware ones keep the instant through Arrow
        ts = {i for i, f in enumerate(capped.schema) if isinstance(f.dataType, TimestampType)}
        table = _arrow_table(
            [
                [v.astimezone(timezone.utc) if i in ts and v is not None else v
                 for i, v in enumerate(r)]
                for r in capped.collect()
            ],
            capped.schema,
        )
    else:
        table = capped.toArrow()
    return None if table.num_rows > DRIVER_ROWS else table


def capped_columns(df: DataFrame) -> list[list] | None:
    """:func:`capped_table`'s columns as Python lists."""
    table = capped_table(df)
    return None if table is None else [c.to_pylist() for c in table.columns]


def _arrow_table(rows: Sequence[Sequence], schema: StructType) -> pa.Table:
    """``rows`` transposed into one Arrow array per field of ``schema``."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; structs as dicts,
    binary as ``bytes``/``bytearray``, timestamps as naive-UTC or aware
    ``datetime``) as a ``LocalTableScan`` DataFrame carrying exactly
    ``schema``, a ``StructType`` or a DDL string."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(_arrow_table(rows, schema), schema)
