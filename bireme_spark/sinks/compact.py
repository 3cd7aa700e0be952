"""Small-file compaction for parquet targets.

A CDC sink that commits every micro-batch (sinks/versioned.py
writes per-batch bucket files; the reference commits per
`ChangeLoader.java` round) accretes many small files per partition —
and at 100 TB, scan cost is dominated by file-open overhead and
footer reads long before bytes. Compaction is the standing
maintenance job every table format schedules (Iceberg's
rewrite_data_files, Delta OPTIMIZE); this is the dependency-free
parquet twin.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Inspect a parquet directory and plan the rewrite: number of
    data files, total bytes, and the output file count that lands
    each output near ``target_bytes`` (Spark's own
    maxPartitionBytes-shaped sizing, never zero)."""
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, (total + target_bytes - 1) // target_bytes)
    return {"n_files": len(files), "total_bytes": total, "n_output_files": int(n_out)}


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite ``path`` into ``out_path`` with ~target_bytes files.

    The rewrite is ONE narrow job: `coalesce(n_out)` merges input
    splits without a shuffle (each output task reads a handful of
    small files sequentially), so compaction cost is a single
    read+write pass of the data — the same plan Iceberg's binpack
    strategy produces. For a partitioned layout, run per partition
    directory so the merge never crosses partition boundaries.

    Returns the plan dict plus the rewritten row count.
    """
    plan = plan_compaction(spark, path, target_bytes)
    df = spark.read.parquet(path)
    df.coalesce(plan["n_output_files"]).write.mode("overwrite").parquet(out_path)
    out_rows = spark.read.parquet(out_path).count()
    plan["rows"] = out_rows
    return plan
