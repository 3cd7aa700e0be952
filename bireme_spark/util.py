"""Small shared helpers for the bench/gate harnesses.

``drop_persisted_blocks`` is the one hygiene hook every timing
harness (bench.py, scripts/driver_sim.py, scripts/ab_code.py,
scripts/ab_op.py, scripts/ab_conf.py, scripts/floor_measure.py,
scripts/profile_bench.py) calls between timed runs; it was
copy-pasted three times before r11.
"""

from __future__ import annotations

import gc


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
