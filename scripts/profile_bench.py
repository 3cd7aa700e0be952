"""Per-query profiler: wall time (interleaved min-of-N, the house
A/B discipline) plus the number of Spark JOBS each query triggers —
job count x fixed scheduler overhead is the tell for iteration-heavy
operators where a scalar-collect / job-fusion restructure pays
(guide §1: measure first; §2: count what each branch re-does).

Usage:
    python scripts/profile_bench.py [--sf DIR] [--reps N] name [name ...]

Prints one line per query: min wall, per-rep walls, job count, rows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        print("need query names")
        return 2

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bireme_spark import registry
    from bireme_spark.session import get_spark
    from bireme_spark.util import drop_persisted_blocks

    spark = get_spark("profiler")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs["q1_pricing_summary"](spark, sf_dir).count()  # JVM/codegen warm

    walls: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, int] = {}
    rows: dict[str, int] = {}
    sc = spark.sparkContext
    for rep in range(reps):
        for name in names:
            spark.catalog.clearCache()
            drop_persisted_blocks(spark)
            group = f"prof-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            rows[name] = df.count()
            walls[name].append(time.perf_counter() - t0)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("idle", "idle")
    for name in names:
        w = walls[name]
        print(
            f"{name}: min {min(w):.3f}s  reps {[round(x, 3) for x in w]}  "
            f"jobs {jobs[name]}  rows {rows[name]}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
