"""Plan audit: print the formatted physical plan of representative
queries with the properties that matter at 1000 executors.

Usage: python scripts/plan_audit.py [sf_dir] [name ...]

PLANS.md summarizes this output; re-run after optimizer-relevant
changes and refresh the excerpts there.
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

DEFAULT = [
    "q1_pricing_summary",
    "cdc_apply",
    "cdc_merge_into",
    "dedup_ngram_jaccard",
    "corpus_dsir_select",
    "asof_join_nearest",
    "events_changepoint",
    "market_basket_lift",
    "lineitem_winsorized_stats",
    "graph_triangle_count",
    "bucketed_colocated_join",
    "fk_integrity_audit",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT

    from bireme_spark import registry
    from bireme_spark.plans import formatted_plan
    from bireme_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = formatted_plan(df)
        print(f"\n{'=' * 72}\n{name}\n{'=' * 72}")
        print(plan)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
