"""Interleaved min-of-N floor measurement (house perf discipline:
compare/measure only within ONE session, interleave passes so shared-
box noise bursts hit every query equally).

Usage: python scripts/floor_measure.py [sf_dir] [passes] name...
Prints a BASELINE.md-ready `| name | floor |` table to stdout.
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    names = sys.argv[3:]
    if not names:
        print("no query names given", file=sys.stderr)
        return 2

    from bireme_spark import registry
    from bireme_spark.session import get_spark
    from bireme_spark.util import drop_persisted_blocks

    spark = get_spark("floor-measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    # warmup: codegen + parquet footer caches
    qs["q1_pricing_summary"](spark, sf_dir).count()

    best: dict[str, float] = {}
    for p in range(passes):
        for name in names:
            spark.catalog.clearCache()
            drop_persisted_blocks(spark)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            if name not in best or dt < best[name]:
                best[name] = dt
            print(f"# pass {p + 1} {name}: {dt:.3f}s (best {best[name]:.3f})",
                  file=sys.stderr, flush=True)
    for name in names:
        print(f"| {name} | {best[name]:.3f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
