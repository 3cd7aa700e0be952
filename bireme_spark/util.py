"""Small shared helpers for the bench/gate harnesses.

``timed_run`` is the one timed query run: bench.py and
scripts/measure.py clock through it, and it splits off the builder's
share (``build_s``). ``drop_persisted_blocks`` is the
hygiene hook it (and scripts/driver_sim.py) calls between runs.
"""

from __future__ import annotations

import gc
import itertools
import time
from typing import NamedTuple

_groups = itertools.count()


def drop_persisted_blocks(spark) -> None:
    """Unpersist every cached/locally-checkpointed RDD.

    ``spark.catalog.clearCache()`` only drops SQL-cached relations;
    the checkpoint-heavy queries (graph/iterative family) otherwise
    leak storage blocks across runs until the shared JVM GC-thrashes
    (r10 opt round: observed 44 GB RSS and a 6x slowdown after ~30
    runs in one session). Dropping them between runs keeps every
    query measured on a clean executor — the same conditions the
    BASELINE.md floors were measured under.

    MUST only run when no cross-query checkpointed frames are live:
    localCheckpoint truncates lineage, so a dropped block is
    unrecoverable — any future harness that memoizes a checkpointed
    frame across queries has to stop calling this between them.
    """
    gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    for rdd in spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
        jsc.getPersistentRDDs()
    ).values():
        rdd.unpersist(False)


class TimedRun(NamedTuple):
    """One clocked run: ``wall_s`` from the builder call to the end of
    the count; ``build_s`` the part of it inside the builder, before the
    count (driver-side planning, schema inference, a builder's own eager
    actions)."""

    wall_s: float
    rows: int
    jobs: int
    df: object
    build_s: float


def timed_run(spark, fn, sf_dir: str) -> TimedRun:
    """Clock ``fn(spark, sf_dir).count()`` on a clean executor.

    Clears SQL-cached relations and persisted blocks, tags the run's
    jobs with a fresh job group, and returns a :class:`TimedRun`;
    ``jobs`` counts what the statusTracker saw in that group.
    """
    spark.catalog.clearCache()
    drop_persisted_blocks(spark)
    sc = spark.sparkContext
    group = f"timed-run-{next(_groups)}"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    built = time.perf_counter()
    rows = df.count()
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return TimedRun(wall, rows, jobs, df, built - t0)
