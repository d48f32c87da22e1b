"""Driver-side rounds for metadata-sized graphs: the one row cap and the
one way a driver-computed result goes back to Spark.

Graph operators whose inputs are metadata-sized (lineage edges,
near-dup pair lists) run their rounds on the driver when the input fits
under :data:`DRIVER_ROWS`: one bounded ``collect`` replaces a Spark job
(plus its pin and its emptiness probe) per round. Above the cap the
operator keeps its distributed rounds.

:func:`local_frame` hands the driver's rows back as an Arrow table,
which plans as a ``LocalTableScan``. A list of tuples would plan as
``Scan ExistingRDD`` instead, and executing that starts Python
workers: 0.45-0.67 s against 0.05-0.21 s for the Arrow path at 300 and
10k rows (warm, 4 vCPUs). The table is built from pandas and handed over
as ``pa.Table`` rather than as the pandas frame: PySpark sends an
EMPTY pandas frame down the list path whatever the session's Arrow
setting, and an Arrow table never falls back.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["DRIVER_ROWS", "local_frame"]

#: most rows a driver-side round collects or emits; past it the Spark
#: rounds run instead
DRIVER_ROWS = 1_000_000


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a
    ``LocalTableScan`` DataFrame carrying exactly ``schema``."""
    pdf = pd.DataFrame.from_records(rows, columns=schema.names)
    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    return spark.createDataFrame(table)
