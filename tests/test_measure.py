"""scripts/measure.py: the one interleaved measurement loop, its
old-arm loader, and scripts that resolve their own checkout."""

from __future__ import annotations

import contextlib
import importlib.util
import pathlib
import shutil
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
needs_git = pytest.mark.skipif(not (ROOT / ".git").exists(), reason="needs a git checkout")


def _load_script(path: pathlib.Path, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def measure():
    return _load_script(ROOT / "scripts" / "measure.py", "_measure_script")


@needs_git
def test_head_arm_matches_working_tree(spark, sf_dir, measure):
    from bireme_spark import registry

    name = "q1_pricing_summary"
    old_qs, old_mods = measure.load_rev("HEAD", [name])
    assert any(m.__file__.startswith("<HEAD:bireme_spark/queries/") for m in old_mods.values())
    # unimportable names: Spark pickles the old arm's functions by value
    assert not any(m.__name__ in sys.modules for m in old_mods.values())
    arms = [
        ("old", old_qs, lambda: measure.swapped(old_mods)),
        ("new", registry.queries(), contextlib.nullcontext),
    ]
    runs, bad = measure.measure(spark, arms, [name], sf_dir, reps=1)
    assert bad == []
    ((_, rows_old, _, _),) = runs[(name, "old")]
    for label in ("old", "new"):
        ((wall, rows, jobs, build),) = runs[(name, label)]
        assert wall > 0 and rows == rows_old > 0 and jobs >= 1
        assert 0 < build < wall


def test_different_rows_are_a_mismatch(spark, sf_dir, measure, capsys):
    from bireme_spark import registry

    q1 = registry.queries()["q1_pricing_summary"]
    arms = [
        ("a", {"q": q1}, contextlib.nullcontext),
        ("b", {"q": lambda s, d: q1(s, d).limit(1)}, contextlib.nullcontext),
    ]
    runs, bad = measure.measure(spark, arms, ["q"], sf_dir, reps=1)
    assert bad == ["q"]
    assert measure.report(runs, ["a", "b"], ["q"], bad) == 1
    assert "HASH-DIFF" in capsys.readouterr().out


def test_each_arm_warms_its_queries_untimed_first(spark, sf_dir, measure):
    """With two arms and --reps 1, each arm runs each query once,
    untimed and inside its own context, before its timed run: a query
    whose first call per arm returns other rows (a stand-in for its
    cold start) never reaches the timings or the hashes."""
    from bireme_spark import registry

    q1 = registry.queries()["q1_pricing_summary"]
    calls: list[tuple[str, tuple[str, ...]]] = []
    active: list[str] = []

    def arm(label):
        @contextlib.contextmanager
        def context():
            active.append(label)
            try:
                yield
            finally:
                active.pop()

        def query(s, d):
            first = label not in [c[0] for c in calls]
            calls.append((label, tuple(active)))
            return q1(s, d).limit(1) if first else q1(s, d)

        return label, {"q": query}, context

    runs, bad = measure.measure(spark, [arm("a"), arm("b")], ["q"], sf_dir, reps=1)
    assert calls == [("a", ("a",)), ("b", ("b",)), ("a", ("a",)), ("b", ("b",))]
    full = q1(spark, sf_dir).count()
    assert full > 1
    assert [r[1] for r in runs[("q", "a")]] == [full] == [r[1] for r in runs[("q", "b")]]
    assert bad == []


@needs_git
def test_scripts_resolve_their_own_checkout(tmp_path, monkeypatch, measure):
    monkeypatch.chdir(tmp_path)
    assert measure.ROOT == ROOT
    old_qs, _ = measure.load_rev("HEAD", ["q1_pricing_summary"])
    assert set(old_qs) == {"q1_pricing_summary"}

    (tmp_path / "scripts").mkdir()
    shutil.copy(ROOT / "scripts" / "driver_sim.py", tmp_path / "scripts")
    monkeypatch.setattr(sys, "path", list(sys.path))  # undo the copy's insert
    sim = _load_script(tmp_path / "scripts" / "driver_sim.py", "_driver_sim_copy")
    assert sim.ENTRY == tmp_path / "__spark_entry__.py"
    assert sim.TIERS[-1] == str(tmp_path / "testdata_sf1")
