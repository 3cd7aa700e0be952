"""Parquet table loaders for the test warehouse.

The warehouse star schema mirrors the tables bireme would maintain in
Greenplum; here they are parquet directories readable by
``spark.read.parquet`` with full predicate/projection pushdown.

Each table's inferred schema is memoized per SparkSession, keyed by the
table's files (path, mtime_ns, size of each) and the session confs that
steer parquet schema inference: a later ``load_table`` of the same files
reads with that schema pinned, which starts no schema-inference job. A
changed file re-infers; only a local file or dir is memoized, any other
path (a URI) infers on every read.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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
)

# The only dimensions safe to ALWAYS broadcast: nation (25 rows) and
# region (5) are fixed-cardinality at any fact scale. customer/
# supplier/part grow linearly with SF (customer = 150k×SF rows — TBs
# at 100 TB fact scale), so they get NO forced hint; the
# autoBroadcastJoinThreshold + AQE picks broadcast while they fit and
# shuffle joins when they don't.
BROADCAST_DIMS = frozenset({"region", "nation"})


# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)
# per session: path → (files and confs it was inferred from, schema)
_schemas: WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    WeakKeyDictionary()
)


def _files(path: str) -> tuple | None:
    """``(path, mtime_ns, size)`` of every file of a local parquet table
    (one file, or a dir walked in order), or None when ``path`` is not a
    local file or dir."""
    if "://" in path or path.startswith("file:") or not os.path.exists(path):
        return None
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = [
            os.path.join(root, f)
            for root, dirs, files in sorted(os.walk(path))
            for f in sorted(files)
        ]
    return tuple((p, (st := os.stat(p)).st_mtime_ns, st.st_size) for p in paths)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the session's memoized schema
    pinned when it was inferred from the same files under the same
    confs."""
    files = _files(path)
    if files is None:
        return spark.read.parquet(path)
    seen = (files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    memo = _schemas.setdefault(spark, {})
    if path in memo and memo[path][0] == seen:
        return spark.read.schema(memo[path][1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (seen, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS). How Spark surfaces it has
    # shifted across releases, so normalize every variant to a session-tz
    # TIMESTAMP (LTZ) — watermarks/windows require LTZ event time:
    #   * LongType       — legacy nanosAsLong conf honored (old PySpark):
    #                      ns → µs integer division (ns exceeds double
    #                      precision; DuckDB truncates to µs the same way).
    #   * TimestampNTZType — PySpark 4.1.x default read of TIMESTAMP(NANOS):
    #                      µs-truncated naive value; cast reinterprets it in
    #                      the session zone (forced UTC), matching DuckDB's
    #                      naive-UTC TIMESTAMP exactly.
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can also be driven via spark.sql."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
