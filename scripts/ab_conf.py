"""A/B a runtime-settable SQL conf over a query subset, interleaved
min-of-N in ONE session (the house A/B discipline): for each rep the
conf flips A→B before any query repeats, so shared-box noise hits
both arms equally.

Usage:
    python scripts/ab_conf.py --conf spark.sql.join.preferSortMergeJoin \
        --a true --b false [--sf DIR] [--reps 3] name [name ...]
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
    conf = None
    val_a = val_b = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--conf":
            conf = args[i + 1]
            i += 2
        elif args[i] == "--a":
            val_a = args[i + 1]
            i += 2
        elif args[i] == "--b":
            val_b = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not (conf and val_a is not None and val_b is not None and names):
        print("need --conf/--a/--b and query names")
        return 2

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bireme_spark import registry
    from bireme_spark.session import get_spark
    from bireme_spark.util import drop_persisted_blocks

    spark = get_spark("ab-conf")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs["q1_pricing_summary"](spark, sf_dir).count()

    walls: dict[tuple[str, str], list[float]] = {}
    for rep in range(reps):
        for arm, val in (("a", val_a), ("b", val_b)):
            spark.conf.set(conf, val)
            for name in names:
                spark.catalog.clearCache()
                drop_persisted_blocks(spark)
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).count()
                walls.setdefault((name, arm), []).append(time.perf_counter() - t0)
    spark.conf.unset(conf)
    tot_a = tot_b = 0.0
    for name in names:
        a = min(walls[(name, "a")])
        b = min(walls[(name, "b")])
        tot_a += a
        tot_b += b
        mark = "B-WINS" if b < a * 0.95 else ("A-WINS" if a < b * 0.95 else "tie")
        print(f"{name}: a={a:.3f} b={b:.3f} {mark}")
    print(f"TOTAL: a={tot_a:.3f} b={tot_b:.3f} ({conf} a={val_a} b={val_b})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
