"""Debezium envelope parser → canonical ChangeRow columns.

Debezium envelope, per the reference's
``pipeline/DebeziumPipeLine.java:200-235`` (DebeziumRecord):
``{"payload": {"op": c|r|u|d, "ts_ms": ..., "before": {...},
"after": {...}}}`` — op r (snapshot read) and c (create) both map to
INSERT; DELETE reads its tuple from ``before``; rows without a
payload are dropped (``DebeziumPipeLine.java:91-95``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.operators.cdc import key_string


def debezium_envelope_schema(data_schema: StructType) -> StructType:
    payload = (
        StructType()
        .add("op", "string")
        .add("ts_ms", "long")
        .add("before", data_schema)
        .add("after", data_schema)
    )
    return StructType().add("payload", payload)


def _parser(
    json_col: str,
    envelope: StructType,
    decode: Callable[[Column], Column],
    key_fields: Sequence[str],
    source: str,
) -> Callable[[DataFrame], DataFrame]:
    """The Debezium parse as a function of the input frame, shared by
    the relational and MongoDB envelopes: ``envelope`` types the outer
    JSON and ``decode`` turns the op's before/after field into the
    data struct."""
    env = F.from_json(F.col(json_col), envelope)
    has_payload = F.col("_env.payload").isNotNull()

    op_raw = F.col("_env.payload.op")
    op = (
        F.when(op_raw.isin("c", "r"), "I")
        .when(op_raw == "u", "U")
        .when(op_raw == "d", "D")
        .otherwise(F.lit(None).cast("string"))
    )
    data: Column = decode(
        F.when(op_raw == "d", F.col("_env.payload.before")).otherwise(F.col("_env.payload.after"))
    )
    key = key_string([F.col(f"_data.{k}") for k in key_fields])
    change_cols = [
        F.lit(source).alias("source"),
        F.lit(source).alias("origin_table"),
        op.alias("op"),
        F.col("_env.payload.ts_ms").alias("produce_time_ms"),
        key.alias("key"),
        F.col("_data").alias("data"),
    ]
    is_change = F.col("op").isNotNull()

    def parse(df: DataFrame) -> DataFrame:
        parsed = df.withColumn("_env", env).where(has_payload).withColumn("_data", data)
        return parsed.select(*df.columns, *change_cols).where(is_change)

    return parse


def debezium_parser(
    json_col: str,
    data_schema: StructType,
    key_fields: Sequence[str],
    source: str = "debezium",
) -> Callable[[DataFrame], DataFrame]:
    """:func:`parse_debezium`, built once and applied per frame (see
    :func:`bireme_spark.sources.maxwell.maxwell_parser`)."""
    envelope = debezium_envelope_schema(data_schema)
    return _parser(json_col, envelope, lambda tuple_col: tuple_col, key_fields, source)


def parse_debezium(
    df: DataFrame,
    json_col: str,
    data_schema: StructType,
    key_fields: Sequence[str],
    source: str = "debezium",
) -> DataFrame:
    """Parse Debezium JSON into ChangeRow columns ``source,
    origin_table, op, produce_time_ms, key, data (struct)``.

    The effective tuple is ``after`` for c/r/u and ``before`` for d
    (DebeziumRecord constructor, ``DebeziumPipeLine.java:206-229``).
    """
    return debezium_parser(json_col, data_schema, key_fields, source)(df)


def mongo_envelope_schema() -> StructType:
    """Debezium MongoDB envelope: ``before``/``after`` are extended-
    JSON *strings*, not structs (the connector serializes the BSON
    document), so the outer schema types them as string and a second
    ``from_json`` decodes the payload."""
    payload = (
        StructType()
        .add("op", "string")
        .add("ts_ms", "long")
        .add("before", "string")
        .add("after", "string")
    )
    return StructType().add("payload", payload)


def _strip_extended_json(col: Column) -> Column:
    """Collapse the common MongoDB extended-JSON wrappers to plain
    scalars so a typed ``from_json`` can read them:

    ``{"$numberLong": "7"}`` / ``{"$numberInt": "7"}`` /
    ``{"$numberDouble": "7.5"}`` / ``{"$numberDecimal": "7.5"}`` → the
    number; ``{"$oid": "..."}`` → the hex string; ``{"$date": 123}``
    → the epoch-ms long. Pure JVM ``regexp_replace`` chain — stays in
    whole-stage codegen; wrappers we don't rewrite simply parse NULL
    for that field (typed from_json), never crash the row.
    """
    num = r'\{\s*"\$number(?:Long|Int)"\s*:\s*"(-?\d+)"\s*\}'
    dbl = r'\{\s*"\$number(?:Double|Decimal)"\s*:\s*"(-?[\d.eE+-]+)"\s*\}'
    oid = r'\{\s*"\$oid"\s*:\s*("[0-9a-fA-F]+")\s*\}'
    date = r'\{\s*"\$date"\s*:\s*(-?\d+)\s*\}'
    out = F.regexp_replace(col, num, "$1")
    out = F.regexp_replace(out, dbl, "$1")
    out = F.regexp_replace(out, oid, "$1")
    out = F.regexp_replace(out, date, "$1")
    return out


def parse_debezium_mongo(
    df: DataFrame,
    json_col: str,
    data_schema: StructType,
    key_fields: Sequence[str],
    source: str = "debezium-mongo",
) -> DataFrame:
    """Debezium *MongoDB* envelope → canonical ChangeRow columns.

    The reference advertises MongoDB sources
    (``/root/reference/README.md:9``) and routes every connector
    through the same DebeziumRecord op mapping
    (``pipeline/DebeziumPipeLine.java:206-229``); the Mongo connector
    differs only in payload shape — ``after``/``before`` arrive as
    extended-JSON strings. Parse = outer ``from_json`` (string
    payload fields) → pick before/after by op → strip extended-JSON
    wrappers → second ``from_json`` with the caller's typed schema.
    Both passes are JVM-side; at 100 TB this is a pure map stage with
    zero shuffle.
    """

    def decode(doc: Column) -> Column:
        return F.from_json(_strip_extended_json(doc), data_schema)

    return _parser(json_col, mongo_envelope_schema(), decode, key_fields, source)(df)
