"""The materialized-view-equivalent extract stage.

Reference parity: ``member_quest_data_extract`` (scripts/setup_redshift.sh:90-104,
sql/create_materialized_view.sql:18-32) — decode the Kinesis payload, extract
the envelope scalars, parse the ``dynamodb`` sub-document into a navigable
column, and keep the transport metadata.

Spark-first shape: ONE ``from_json`` against the typed envelope schema
replaces Redshift's six ``json_extract_path_text`` calls + ``json_parse``.
It stays one parse per row: left alone, Catalyst's ``OptimizeCsvJsonExprs``
rewrites every field access on the parsed struct into its own single-field
``from_json``, so the payload would be parsed once per extracted field (7
times). The rule leaves a ``from_json`` that carries options alone, which is
why ``build_extract`` passes the default mode explicitly.

Physical layout parity:
- DISTKEY(5) (hash-distribute on eventID)   -> optional repartition(eventID)
- SORTKEY(1) (zone-map on arrival ts)       -> sortWithinPartitions at write
Both are write-time options on `write_extract`; at query time Catalyst inserts
exchanges where needed, so the default path adds no gratuitous shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import ENVELOPE_SCHEMA

# Mirrors the MV column list (scripts/setup_redshift.sh:90-104).
EXTRACT_COLUMNS = [
    "approximatearrivaltimestamp",
    "partitionkey",
    "shardid",
    "sequencenumber",
    "eventID",
    "awsRegion",
    "eventName",
    "userIdentity",
    "tableName",
    "eventSource",
    "pk",
    "sk",
    "eventData",
]

# Declared column lengths from the MV DDL (scripts/setup_redshift.sh:95-102):
# Redshift's ::varchar(n)/::char(n) casts TRUNCATE, so an oversized value
# silently shortens; we enforce the same bound (SURVEY F6).
MV_DECLARED_LENGTHS = {
    "eventID": 30,  # varchar(30)
    "awsRegion": 36,  # character(36)
    "eventName": 20,  # varchar(20)
    "userIdentity": 20,  # varchar(20)
    "tableName": 20,  # varchar(20)
    "eventSource": 100,  # varchar(100)
    "pk": 50,  # varchar(50)
    "sk": 50,  # varchar(50)
}


def build_extract(records: DataFrame, raw_col: str | None = None) -> DataFrame:
    """records (KINESIS_RECORD_SCHEMA shape, batch or streaming) -> extract.

    Works identically on a streaming DataFrame — it is a pure projection.

    Null semantics (SURVEY F1), layered over the quarantine contract:

    - payload unparseable, or JSON without an ``eventID`` (not a change
      event): ALL scalars NULL — ``eventID IS NULL`` is the quarantine
      marker. Intentional divergence from Redshift, which would surface
      such rows with ''-scalars and silently drop them at the pk-prefix
      filter; we make bad producers observable (streaming/pipeline.py).
    - envelope present but an individual field missing / json-null: that
      field extracts as '' — exactly ``json_extract_path_text``'s
      missing-path return — so e.g. an envelope without ``userIdentity``
      lands '' in the MV, as Redshift does.

    Each scalar is truncated to its declared varchar length
    (MV_DECLARED_LENGTHS) after the coalesce, in Redshift's cast order —
    ``::varchar(n)`` TRUNCATES, so an oversized pk shortens identically.

    ``raw_col``: optionally append the decoded payload string under this
    name — NULL for valid envelopes, populated only when the payload failed
    to parse (``eventID IS NULL`` marks it). Lets the caller split
    valid/invalid rows from ONE parse instead of re-parsing the batch per
    consumer, while the (overwhelmingly common) valid rows pay nothing to
    carry the column through a cache.
    """
    decoded = F.decode(F.col("kinesis_data"), "UTF-8")  # from_varbyte(...,'utf-8')
    # json_parse + extracts, in one. The explicit (default) options keep
    # OptimizeCsvJsonExprs from splitting this into one parse per field.
    env = F.from_json(decoded, ENVELOPE_SCHEMA, {"mode": "PERMISSIVE"})
    is_envelope = env["eventID"].isNotNull()

    def scalar(field: F.Column, name: str) -> F.Column:
        # '' for missing-in-envelope, NULL for quarantine rows, truncated
        # to the declared width — json_extract_path_text(...)::varchar(n)
        return F.when(
            is_envelope,
            F.substring(F.coalesce(field, F.lit("")), 1, MV_DECLARED_LENGTHS[name]),
        ).alias(name)

    extra = [F.when(~is_envelope, decoded).alias(raw_col)] if raw_col else []
    return records.select(
        F.col("approximate_arrival_timestamp").alias("approximatearrivaltimestamp"),
        F.col("partition_key").alias("partitionkey"),
        F.col("shard_id").alias("shardid"),
        F.col("sequence_number").alias("sequencenumber"),
        F.substring(env["eventID"], 1, MV_DECLARED_LENGTHS["eventID"]).alias(
            "eventID"
        ),
        scalar(env["awsRegion"], "awsRegion"),
        scalar(env["eventName"], "eventName"),
        scalar(env["userIdentity"], "userIdentity"),
        scalar(env["tableName"], "tableName"),
        scalar(env["eventSource"], "eventSource"),
        scalar(env["dynamodb"]["Keys"]["pk"]["S"], "pk"),
        scalar(env["dynamodb"]["Keys"]["sk"]["S"], "sk"),
        env["dynamodb"].alias("eventData"),
        *extra,
    )


def write_extract(extract: DataFrame, path: str, mode: str = "append") -> None:
    """Persist the extract with the reference's physical layout hints:
    distribute on eventID (DISTKEY 5), sort within partitions on arrival
    timestamp (SORTKEY 1) so parquet row-group min/max stats prune time
    predicates."""
    (
        extract.repartition(F.col("eventID"))
        .sortWithinPartitions("approximatearrivaltimestamp")
        .write.mode(mode)
        .parquet(path)
    )
