"""Maxwell envelope parser → canonical ChangeRow columns.

Maxwell (MySQL binlog → Kafka JSON) envelope, per the reference's
``pipeline/MaxwellPipeLine.java:127-154`` (MaxwellRecord):
``{"database": d, "table": t, "type": insert|update|delete,
"ts": epoch_seconds, "data": {...}, "old": {...}}`` — produce time is
``ts * 1000`` ms; ``old`` carries pre-update values (used for PK
changes, ``MaxwellPipeLine.java:104-112``).

Spark-first: one ``from_json`` per batch (JVM, codegen), the data
payload typed by the target-table schema the way bireme types columns
from ``Table.java``. No per-row Python.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.operators.cdc import key_string

OP_MAP = {"insert": "I", "update": "U", "delete": "D"}


def maxwell_envelope_schema(data_schema: StructType) -> StructType:
    # xid/commit are Maxwell's transaction framing (xid = binlog
    # transaction id, commit = true on a transaction's last row);
    # absent fields parse as null, so pre-existing fixtures without
    # them are unaffected.
    return (
        StructType()
        .add("database", "string")
        .add("table", "string")
        .add("type", "string")
        .add("ts", "long")
        .add("xid", "long")
        .add("commit", "boolean")
        .add("data", data_schema)
        .add("old", data_schema)
    )


def _op_col(type_col: Column) -> Column:
    m = F.create_map(*[F.lit(x) for kv in OP_MAP.items() for x in kv])
    return m[type_col]


def maxwell_parser(
    json_col: str,
    data_schema: StructType,
    key_fields: Sequence[str],
    source: str = "maxwell",
) -> Callable[[DataFrame], DataFrame]:
    """:func:`parse_maxwell`, built once and applied per frame: a
    streaming runner that parses every micro-batch builds the column
    expressions (hundreds of py4j round trips) only once."""
    env = F.from_json(F.col(json_col), maxwell_envelope_schema(data_schema))

    def key_of(struct_col: str) -> Column:
        return key_string([F.col(f"{struct_col}.{k}") for k in key_fields])

    # Maxwell's `old` holds only changed fields; a PK field present in
    # `old` means the PK changed — old key = old PK value, other key
    # fields fall back to `data` (jsonGetIgnoreCase fallback chain,
    # BiremeUtility.java:44-64).
    old_key_parts = [
        F.coalesce(F.col(f"_env.old.{k}").cast("string"), F.col(f"_env.data.{k}").cast("string"))
        for k in key_fields
    ]
    pk_changed = F.lit(False)
    for k in key_fields:
        pk_changed = pk_changed | F.col(f"_env.old.{k}").isNotNull()

    change_cols = [
        F.lit(source).alias("source"),
        F.concat_ws(".", F.lit(source), F.col("_env.database"), F.col("_env.table")).alias(
            "origin_table"
        ),
        _op_col(F.col("_env.type")).alias("op"),
        (F.col("_env.ts") * 1000).alias("produce_time_ms"),
        key_of("_env.data").alias("key"),
        F.when((F.col("_env.type") == "update") & pk_changed, key_string(old_key_parts))
        .otherwise(F.lit(None).cast("string"))
        .alias("old_key"),
        F.col("_env.xid").alias("xid"),
        F.coalesce(F.col("_env.commit"), F.lit(False)).alias("commit_flag"),
        F.col("_env.data").alias("data"),
        F.col("_env.old").alias("old"),
    ]
    # Only DML rows become ChangeRows: the reference's type switch
    # (MaxwellPipeLine.java:141-153) has no branch for bootstrap-*/ddl
    # messages, so they never reach the merge — drop them here (op is
    # null for unmapped types, and for unparseable JSON the whole
    # envelope struct is null).
    is_dml = F.col("op").isNotNull()

    def parse(df: DataFrame) -> DataFrame:
        return df.withColumn("_env", env).select(*df.columns, *change_cols).where(is_dml)

    return parse


def parse_maxwell(
    df: DataFrame,
    json_col: str,
    data_schema: StructType,
    key_fields: Sequence[str],
    source: str = "maxwell",
) -> DataFrame:
    """Parse a column of Maxwell JSON strings into ChangeRow columns:
    ``source, origin_table, op, produce_time_ms, key, old_key, data
    (struct), old (struct)`` plus passthrough of the input columns.

    ``key`` / ``old_key`` are the concatenated PK fields (bireme
    formats keys as a delimited string tuple, ``Row.java:keys``);
    ``old_key`` is null unless the update changed the PK
    (``MaxwellPipeLine.java:107-111``).
    """
    return maxwell_parser(json_col, data_schema, key_fields, source)(df)
