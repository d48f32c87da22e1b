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

Graph operators over metadata-sized inputs (lineage edges, near-dup
pair lists) run their rounds on the driver while the input fits under
:data:`DRIVER_ROWS`: one bounded ``collect`` replaces a Spark job (plus
its pin and its emptiness probe) per round. Above the cap the operator
keeps its distributed rounds. The near-dup family's exact shingle
overlap (``operators/llm/dedup.driver_overlap``) has the same shape:
one capped collect of the shingle index, or of the MinHash candidates
and then their docs' shingles, a local count while the self-join's
output stays under the cap, and the overlap rows handed back here.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["DRIVER_ROWS", "local_frame"]

#: most rows a driver-side round collects or emits; past it the Spark
#: rounds run instead
DRIVER_ROWS = 1_000_000


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; structs as dicts,
    binary as ``bytes``/``bytearray``, timestamps as naive-UTC or aware
    ``datetime``) as a ``LocalTableScan`` DataFrame carrying exactly
    ``schema``, a ``StructType`` or a DDL string."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
