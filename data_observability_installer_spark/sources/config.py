"""S2/S3: JSON config scan + entity-catalog sink/lookup.

The reference drives everything from JSON configuration — journey /
component / schedule / rule documents POSTed to a REST catalog
(``demo/demo/demo_helper.py`` builds them; ``dk-installer.py`` ships
``demo/input_data/*.json``). The engine analog:

- ``load_config`` (S2): one ``spark.read.json`` per document family
  with an EXPLICIT schema (schema inference on config files is a
  correctness trap: an absent optional field must still exist, typed,
  downstream), normalized into the exact DataFrames the A2-A6
  operators consume (conditions, components, rules, schedules).
- ``upsert_entities`` (S3): the GET-by-key-else-POST catalog idiom as
  a batch merge — incoming rows win on conflict unless
  ``prefer='existing'`` (the reference never mutates an entity it
  found by key). One shuffle on the key; both sides usually metadata-
  sized, so AQE broadcasts.
- ``lookup_entity`` (S3): keyed point lookup, the engine face of
  ``GET /components?search=`` (entity_search handles the substring
  face).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.driver import local_frame

CONDITION_SCHEMA = T.StructType(
    [
        T.StructField("journey_id", T.StringType()),
        T.StructField("action", T.StringType()),  # START | END | END_PAYLOAD
        T.StructField("batch_pipeline", T.StringType()),
    ]
)

COMPONENT_SCHEMA = T.StructType(
    [
        T.StructField("component_id", T.StringType()),
        T.StructField("project_id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)

DAG_SCHEMA = T.StructType(
    [
        T.StructField("journey_id", T.StringType()),
        T.StructField("left_id", T.StringType()),
        T.StructField("right_id", T.StringType()),
    ]
)

RULE_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType()),
        T.StructField("journey_id", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("component", T.StringType()),
        T.StructField("conditions", T.StringType()),  # raw JSON condition doc
    ]
)

SCHEDULE_SCHEMA = T.StructType(
    [
        T.StructField("component_key", T.StringType()),
        T.StructField("expectation", T.StringType()),
        T.StructField("schedule", T.StringType()),
        T.StructField("margin_s", T.IntegerType()),
    ]
)

FAMILY_SCHEMAS = {
    "conditions": CONDITION_SCHEMA,
    "components": COMPONENT_SCHEMA,
    "dag": DAG_SCHEMA,
    "rules": RULE_SCHEMA,
    "schedules": SCHEDULE_SCHEMA,
}


def load_config(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Config directory (``<family>.json`` JSONL files, absent families
    fine) -> typed DataFrames. Always returns every family, empty when
    the file is missing, so downstream operators never branch."""
    import os

    out: dict[str, DataFrame] = {}
    for family, schema in FAMILY_SCHEMAS.items():
        p = os.path.join(path, f"{family}.json")
        if os.path.exists(p):
            out[family] = spark.read.schema(schema).json(p)
        else:
            out[family] = local_frame(spark, [], schema)
    return out


def upsert_entities(
    catalog: DataFrame, incoming: DataFrame, key: str = "key", prefer: str = "existing"
) -> DataFrame:
    """Catalog merge with the reference's GET-else-POST semantics:
    rows whose key exists keep the catalog version (``prefer=
    'existing'``), new keys append. ``prefer='incoming'`` flips it
    (a PATCH-style sink)."""
    if prefer == "existing":
        keep_new = incoming.join(catalog.select(key), key, "left_anti")
        return catalog.unionByName(keep_new)
    keep_old = catalog.join(incoming.select(key), key, "left_anti")
    return incoming.unionByName(keep_old)


def lookup_entity(catalog: DataFrame, key_value: str, key: str = "key") -> DataFrame:
    """Keyed point lookup (GET /entity/<key>). The key predicate pushes
    into the catalog scan."""
    return catalog.filter(F.col(key) == key_value)
