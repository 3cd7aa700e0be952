"""Local replica of the driver's correctness gate: runs every
``queries()`` entry from ``__spark_entry__.py`` against its
``oracle_sql()`` twin via DuckDB and reports per-query MATCH/MISMATCH.

Usage:
    python scripts/driver_sim.py [sf_dir] [name_filter...]
    python scripts/driver_sim.py --tiers name [name...]   # three-tier gate

``--tiers`` runs the named queries at sf0.01, sf0.1 AND the sf1
replica (testdata_sf1) in ONE session — the at-commit default for
every new operator (VERDICT r9 item 3: each tier has caught real
boundaries the others passed: ROUND-tie splits at sf0.1, stride/
overflow blowups at sf1).
"""

from __future__ import annotations

import importlib.util
import math
import pathlib
import sys
import time

import duckdb

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bireme_spark.sources.tables import TABLES  # noqa: E402
from bireme_spark.util import drop_persisted_blocks  # noqa: E402

TIERS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1", str(ROOT / "testdata_sf1"))
ENTRY = ROOT / "__spark_entry__.py"


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def run_gate(spark, mod, sf: str, only: set[str]) -> list[str]:
    """One tier: every (filtered) queries() entry vs its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, osql = mod.queries(), mod.oracle_sql()
    fails = []
    t_total = time.monotonic()
    # registry insertion order — the real driver appears to iterate this way
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # drop leaked checkpoint/persist blocks between queries — over
        # a 560-query sweep they otherwise pile up tens of GB in the
        # shared JVM and GC drag inflates the whole gate (r10 opt)
        drop_persisted_blocks(spark)
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {e}")
            fails.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in osql:
            # Driver canonicalizer replica: rows-only output must
            # survive pandas sort_values over every column (r4:
            # array<double> crashed the real gate's _canon).
            try:
                if len(sdf.columns):
                    sdf.sort_values(by=list(sdf.columns), kind="mergesort")
            except Exception as e:  # noqa: BLE001
                print(f"{name}: CANON ERROR {e}")
                fails.append(name)
                continue
            print(f"{name}: rows-only, {len(sdf)} rows [{dt:.2f}s]")
            continue
        try:
            ddf = con.execute(osql[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {e}")
            fails.append(name)
            continue
        sc, dc = sorted(sdf.columns), sorted(ddf.columns)
        if sc != dc:
            print(f"{name}: COLUMN MISMATCH spark={sc} duck={dc}")
            fails.append(name)
            continue
        if len(sdf) != len(ddf):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(sdf)} duck={len(ddf)}")
            fails.append(name)
            continue
        a = sorted(
            ([str(norm(v)) for v in r] for r in sdf[sc].itertuples(index=False)), key=repr
        )
        b = sorted(
            ([str(norm(v)) for v in r] for r in ddf[dc].itertuples(index=False)), key=repr
        )
        if a != b:
            bad = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            print(f"{name}: VALUE MISMATCH at sorted row {bad}:\n  spark={a[bad]}\n  duck ={b[bad]}")
            fails.append(name)
        else:
            print(f"{name}: MATCH ({len(sdf)} rows) [{dt:.2f}s]")
    print(f"TOTAL WALL: {time.monotonic() - t_total:.1f}s")
    con.close()
    return fails


def main() -> int:
    args = sys.argv[1:]
    tiers_mode = "--tiers" in args
    if tiers_mode:
        args.remove("--tiers")
        only = set(args)
        if not only:
            print("--tiers needs explicit query names (a full 3-tier sweep is a round-close job)")
            return 2
        sf_dirs = list(TIERS)
    else:
        sf_dirs = [args[0] if args else "/root/testdata/sf0.01"]
        only = set(args[1:])

    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # the tuned factory, not a bare builder: a default 1g driver heap
    # survives sf0.01 but OOM-kills the JVM mid-run at sf0.1 (seen on
    # the graph queries — every later query then reports
    # "Connection refused")
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from bireme_spark.session import get_spark

    spark = get_spark("driver-sim", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    df = mod.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows")
    assert n > 0

    all_fails: list[str] = []
    for sf in sf_dirs:
        if len(sf_dirs) > 1:
            print(f"=== tier {sf} ===")
        fails = run_gate(spark, mod, sf, only)
        all_fails.extend(f"{f}@{sf.rsplit('/', 1)[-1]}" if len(sf_dirs) > 1 else f for f in fails)
    print("FAILED:", all_fails if all_fails else "none")
    return 1 if all_fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
