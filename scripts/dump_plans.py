"""Dump `.explain("formatted")` for queries, before (a git rev's
module source) and after (working tree), into plans/<tag>/.

Usage:
    python scripts/dump_plans.py --tag r10 [--rev HEAD] [--sf DIR] \
        [--no-ckpt] name [name ...]

The before arm is measure.py's old arm: each query's module and every
package module changed since the rev, exec'd at the rev and installed
into sys.modules around the before-arm plan build — an operator-level
change does not leak the NEW operator into the "before" plan.

Writes plans/<tag>/<name>_before.txt and _after.txt. Only the plan is
computed (no execution) — safe to run alongside nothing else.
"""

from __future__ import annotations

import argparse
import os

from measure import ROOT, SF_DIR, load_rev, swapped


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--tag", default="r10")
    ap.add_argument("--no-ckpt", action="store_true")
    args = ap.parse_args(argv)

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bireme_spark import registry
    from bireme_spark.plans import formatted_plan
    from bireme_spark.session import get_spark

    if args.no_ckpt:
        # Show the FULL logical plan for builders that return a
        # localCheckpoint'd frame (whose own plan is just Scan
        # ExistingRDD): patch checkpointing to identity so the
        # pre-checkpoint lineage reaches the explain. Plan-shape
        # inspection only — execution behavior is NOT representative.
        from pyspark.sql import DataFrame as _DF

        _DF.localCheckpoint = lambda self, eager=True: self
        try:  # Spark 4.x concrete subclass overrides the method
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            _CDF.localCheckpoint = lambda self, eager=True: self
        except ImportError:
            pass

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    new_qs = registry.queries()
    old_qs, old_mods = load_rev(args.rev, args.names)

    out_dir = ROOT / "plans" / args.tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in args.names:
        with swapped(old_mods):
            before = old_qs[name](spark, args.sf)
        for arm, df in (("before", before), ("after", new_qs[name](spark, args.sf))):
            path = out_dir / f"{name}_{arm}.txt"
            path.write_text(formatted_plan(df))
            print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
