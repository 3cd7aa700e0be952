"""SparkSession factory with scale-aware defaults.

Defaults are tuned so the same plan shape that runs on local[32]
survives a 1000-executor cluster: AQE on (runtime re-plan + skew
join), explicit shuffle partition count, Arrow enabled for the few
Pandas-UDF operators, UTC session timezone (matches the DuckDB
oracle's naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bireme-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) * 2, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark ≤4.0 honors nanosAsLong for parquet TIMESTAMP(NANOS);
        # 4.1.x ignores it and reads TIMESTAMP_NTZ. load_table normalizes
        # BOTH shapes to session-tz TIMESTAMP, so keeping the conf is a
        # harmless back-compat no-op on 4.1.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # local[32] puts all 32 executor threads in the driver JVM —
        # size the heap for them (the test box has 128 GiB; a real
        # cluster sets executor memory instead).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Python workers start in the JVM's cwd; put the directory that
        # holds this package on their path so a UDF over a package
        # function imports from any launch directory.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine defaults to an externally provided session (the
    driver hands us its own SparkSession in ``__spark_entry__``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:  # pragma: no cover - conf may be fixed on a real cluster
        pass
    return spark
