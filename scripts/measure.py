"""The one query measurement loop: interleaved min-of-N in ONE session
(the house A/B discipline), every run clocked by
``bireme_spark.util.timed_run`` — the same timed body bench.py uses.

Usage:
    python scripts/measure.py [--sf DIR] [--reps 3] name [name ...]
    python scripts/measure.py --rev HEAD [--sf DIR] [--reps 3] name [name ...]
    python scripts/measure.py --conf KEY A B [--sf DIR] [--reps 3] name [name ...]

One arm (no flag): per query the min wall, the min builder time
(``build``: the builder call, before the count — schema inference and
planning land here), per-rep walls, jobs and rows, then a
BASELINE.md-ready ``| name | floor |`` table. Two arms print both
arms' min wall and min builder time per query.

``--rev REV``: the working tree against REV. The old arm execs, at
REV, the ``bireme_spark.queries`` module that holds each named query
plus every other package module ``git diff --name-only REV`` lists,
and installs them into ``sys.modules`` around its runs, so top-level
and local imports both resolve to the arm's code.

``--conf KEY A B``: the runtime SQL conf KEY set to A, then B.

Each arm first runs each query once, untimed, in its own context (the
cold start lands there). Per rep the arms then run in turn (the first
arm alternates), each query once per arm. With two arms every run is
value-hashed after the clock stops; a hash mismatch prints HASH-DIFF
and exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import pathlib
import subprocess
import sys
import types

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.1"
sys.path.insert(0, str(ROOT))

from bireme_spark.util import timed_run  # noqa: E402


def _hash_df(df) -> str:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    rows = sorted([str(v) for v in r] for r in pdf[cols].itertuples(index=False))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), *args], capture_output=True, text=True, check=True
    ).stdout


@contextlib.contextmanager
def swapped(mods: dict[str, types.ModuleType]):
    """Install ``mods`` into ``sys.modules`` for the block's duration."""
    saved = {name: sys.modules.get(name) for name in mods}
    sys.modules.update(mods)
    try:
        yield
    finally:
        for name, prev in saved.items():
            if prev is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = prev


def load_rev(rev: str, names: list[str]):
    """The old arm: ``(queries, modules)`` with each named query taken
    from its query module as it stands at ``rev``; ``modules`` is what
    ``swapped`` installs around the old arm's calls."""
    from bireme_spark import registry

    registry.queries()  # imports every query module
    homes = {
        name: mod.__name__
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("bireme_spark.queries.")
        for name in getattr(mod, "QUERIES", {})
        if name in names
    }
    at_rev = set(_git("ls-tree", "-r", "--name-only", rev, "--", "bireme_spark").split())
    changed = [
        p
        for p in _git("diff", "--name-only", rev, "--", "bireme_spark").split()
        # a package's __init__/__main__ cannot stand in for it
        if p in at_rev and p.endswith(".py") and not p.rsplit("/", 1)[-1].startswith("__")
    ]
    query_paths = sorted({m.replace(".", "/") + ".py" for m in homes.values()})
    mods: dict[str, types.ModuleType] = {}
    for path in [p for p in changed if p not in query_paths] + query_paths:
        name = path.removesuffix(".py").replace("/", ".")
        # a __name__ no process can import: Spark then pickles the old
        # arm's functions by value, or its Python workers would import
        # and run the working tree's code for them
        mod = types.ModuleType(f"{rev}:{name}")
        mod.__file__ = f"<{rev}:{path}>"
        mod.__package__ = name.rpartition(".")[0]
        with swapped(mods):  # modules exec'd so far import as the old arm
            exec(compile(_git("show", f"{rev}:{path}"), mod.__file__, "exec"), mod.__dict__)
        mods[name] = mod
    return {name: mods[home].QUERIES[name] for name, home in homes.items()}, mods


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def measure(spark, arms, names: list[str], sf_dir: str, reps: int):
    """Warm, then run reps × arms × names; ``arms`` is a list of
    ``(label, queries, context)`` and the first arm alternates on every
    rep. The warm pass runs each query once per arm, untimed.

    Returns ``(runs, bad)``: ``runs[(name, label)]`` lists one
    ``(wall_s, rows, jobs, build_s)`` per rep; ``bad`` names the queries whose
    value hashes differ (hashed only with two or more arms)."""
    runs: dict[tuple[str, str], list[tuple[float, int, int, float]]] = {}
    hashes: dict[str, set[str]] = {}
    # one untimed run of each query per arm, in the arm's context: the
    # cold start (JIT, codegen, Python workers) lands here, not on
    # whichever arm happens to run first
    for label, qs, context in arms:
        with context():
            for name in names:
                timed_run(spark, qs[name], sf_dir)
    for rep in range(reps):
        for label, qs, context in arms if rep % 2 == 0 else arms[::-1]:
            with context():
                for name in names:
                    wall, rows, jobs, df, build = timed_run(spark, qs[name], sf_dir)
                    runs.setdefault((name, label), []).append((wall, rows, jobs, build))
                    if len(arms) > 1:
                        hashes.setdefault(name, set()).add(_hash_df(df))
                    print(
                        f"# rep {rep + 1} {label} {name}: {wall:.3f}s (build {build:.3f}s)",
                        file=sys.stderr,
                        flush=True,
                    )
    return runs, [name for name in names if len(hashes.get(name, ())) > 1]


def report(runs, labels: list[str], names: list[str], bad: list[str]) -> int:
    """Print the result lines; the exit code is 1 on a value mismatch."""

    def walls(name, label):
        return [r[0] for r in runs[(name, label)]]

    def build(name, label):
        return min(r[3] for r in runs[(name, label)])

    if len(labels) == 1:
        (label,) = labels
        for name in names:
            _, rows, jobs, _ = runs[(name, label)][-1]
            w = walls(name, label)
            print(
                f"{name}: min {min(w):.3f}s  build {build(name, label):.3f}s  "
                f"reps {[round(x, 3) for x in w]}  jobs {jobs}  rows {rows}"
            )
        for name in names:
            print(f"| {name} | {min(walls(name, label)):.3f} |")
        return 0
    a, b = labels
    for name in names:
        ta, tb = min(walls(name, a)), min(walls(name, b))
        mark = f"{b.upper()}-WINS" if tb < ta * 0.95 else (f"{a.upper()}-WINS" if ta < tb * 0.95 else "tie")
        print(
            f"{name}: {a}={ta:.3f} {b}={tb:.3f} {mark} {'HASH-DIFF' if name in bad else 'HASH-EQ'}  "
            f"build {build(name, a):.3f}/{build(name, b):.3f}s  "
            f"jobs {runs[(name, a)][-1][2]}/{runs[(name, b)][-1][2]}  "
            f"{a} reps {[round(x, 2) for x in walls(name, a)]} {b} reps {[round(x, 2) for x in walls(name, b)]}"
        )
    if bad:
        print(f"VALUE MISMATCH in: {bad}")
        return 1
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--reps", type=int, default=3)
    arm = ap.add_mutually_exclusive_group()
    arm.add_argument("--rev")
    arm.add_argument("--conf", nargs=3, metavar=("KEY", "A", "B"))
    args = ap.parse_args(argv)

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from bireme_spark import registry
    from bireme_spark.session import get_spark

    spark = get_spark("measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2
    if args.rev:
        old_qs, old_mods = load_rev(args.rev, args.names)
        arms = [("old", old_qs, lambda: swapped(old_mods)), ("new", qs, contextlib.nullcontext)]
    elif args.conf:
        key, val_a, val_b = args.conf
        arms = [(label, qs, lambda v=v: _conf(spark, key, v)) for label, v in (("a", val_a), ("b", val_b))]
    else:
        arms = [("run", qs, contextlib.nullcontext)]

    runs, bad = measure(spark, arms, args.names, args.sf, args.reps)
    return report(runs, [label for label, _, _ in arms], args.names, bad)


if __name__ == "__main__":
    raise SystemExit(main())
