"""End-to-end Structured Streaming CDC: the streaming pipeline's
final state must equal the batch changelog snapshot (same operators,
same semantics — bireme's LoadTask chain in micro-batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bireme_spark.queries.streaming import streaming_cdc_pipeline
from bireme_spark.sources.tables import load_table
from bireme_spark.streaming.stats import PipelineStatListener
import pytest

# Deep recompute / e2e tests are marked slow and deselected from the
# default pytest path (`pytest -m ""` runs everything). The sink's
# commit contract and each runner entry point's tiny-input tests run
# by default: they guard the write path and the router every runner
# shares.


@pytest.mark.slow
def test_streaming_equals_batch_snapshot(spark, sf_dir):
    listener = PipelineStatListener()
    spark.streams.addListener(listener)
    try:
        got = {
            (r.o_orderkey, round(r.o_totalprice, 2), r.o_orderstatus)
            for r in streaming_cdc_pipeline(spark, sf_dir).collect()
        }
    finally:
        spark.streams.removeListener(listener)

    o = load_table(spark, sf_dir, "orders").limit(2000)
    expected = {
        (
            r.o_orderkey,
            round(r.o_totalprice + (10.0 if r.o_orderkey % 3 == 0 else 0.0), 2),
            r.o_orderstatus,
        )
        for r in o.collect()
        if r.o_orderkey % 5 != 0
    }
    assert got == expected

    # PipeLineStat twin saw the run
    state = listener.state()["source"]
    assert state, "listener recorded no queries"
    assert sum(s.get("total_rows", 0) for s in state.values()) > 0


def _run_two_batch_pipeline(spark, tmp_path, keys_b1, keys_b2):
    """Two-micro-batch Maxwell replay over a tiny keyed table; returns
    the pipeline config (target layout inspected by callers)."""
    import json as _json

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import run_cdc_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime
    from pyspark.sql.types import StructType

    src = str(tmp_path / "in")
    import os

    os.makedirs(src, exist_ok=True)

    def envelope(k, price, op, ts):
        return _json.dumps(
            {
                "database": "testdb",
                "table": "t",
                "type": op,
                "ts": ts,
                "data": {"k": k, "price": price},
            }
        )

    seen: set[str] = set()
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(envelope(k, float(k), "insert", 1000) for k in keys_b1))
    stamp_batch_mtime(src, 0, seen)
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(envelope(k, float(k) + 0.5, "update", 2000) for k in keys_b2))
    stamp_batch_mtime(src, 1, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="maxwell", kind="file", path=src)],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=8,
    )
    schema = StructType().add("k", "long").add("price", "double")
    q = run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    q.awaitTermination(120)
    return cfg


_KEYS, _UPD = list(range(1, 41)), [1, 2, 3]


@pytest.fixture(scope="module")
def two_batch_sink(spark, tmp_path_factory):
    """Keys 1..40 inserted, then keys 1..3 updated, in two micro-batches
    (read-only for its users: a test that writes copies the target)."""
    return _run_two_batch_pipeline(spark, tmp_path_factory.mktemp("two_batch"), _KEYS, _UPD)


def test_incremental_sink_rewrites_only_changed_buckets(spark, two_batch_sink):
    """Batch 2 updates 3 of 40 keys and appends: it writes ONE delta
    file holding exactly those keys and no bucket version — every
    bucket keeps v=1, so the batch writes O(|batch|) rows, not
    O(|changed buckets|) or O(base)."""
    import os

    from bireme_spark.sinks.versioned import delta_dir, read_state, snapshot

    keys, upd, cfg = _KEYS, _UPD, two_batch_sink
    target = cfg.target_dir

    versions = snapshot(target).versions
    assert versions.delta is not None
    on_disk = {
        int(d.split("=")[1]): sorted(os.listdir(f"{target}/{d}"))
        for d in os.listdir(target)
        if d.startswith("_sb=")
    }
    assert on_disk and all(vs == ["_sv=1"] for vs in on_disk.values()), on_disk
    assert dict(versions) == dict.fromkeys(on_disk, 1)
    delta = delta_dir(target, versions.delta)
    assert os.listdir(os.path.dirname(delta)) == [os.path.basename(delta)]
    assert len(_data_files(delta)) == 1
    rows = {(r.k, r.in_insert) for r in spark.read.parquet(delta).collect()}
    assert rows == {(k, True) for k in upd}

    state = {(r.k, r.price) for r in read_state(spark, target).collect()}
    assert state == {(k, float(k) + (0.5 if k in upd else 0.0)) for k in keys}


def test_composite_key_sync_keeps_parts_apart(spark, tmp_path):
    """A two-column primary key (a, b) syncs into base columns
    (a, b, v): keys whose parts would run together without a separator
    — (1, 12) and (11, 2) — stay two rows, an update replaces its row,
    and a delete removes only its own key."""
    import json
    import os

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import run_cdc_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    src = str(tmp_path / "in")
    os.makedirs(src)

    def envelope(a, b, v, op, ts):
        return json.dumps(
            {"database": "db", "table": "t", "type": op, "ts": ts,
             "data": {"a": a, "b": b, "v": v}}
        )

    seen: set[str] = set()
    batch1 = [(1, 12, 1.0), (11, 2, 2.0), (1, 2, 3.0), (2, 1, 4.0), (3, 4, 5.0)]
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(envelope(a, b, v, "insert", 1000) for a, b, v in batch1))
    stamp_batch_mtime(src, 0, seen)
    with open(f"{src}/b2.json", "w") as f:
        f.write(
            "\n".join(
                [envelope(1, 12, 10.0, "update", 2000), envelope(2, 1, 4.0, "delete", 2000)]
            )
        )
    stamp_batch_mtime(src, 1, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="maxwell", kind="file", path=src)],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=4,
    )
    schema = StructType().add("a", "long").add("b", "long").add("v", "double")
    q = run_cdc_pipeline(
        spark, cfg, schema, key_fields=("a", "b"), base_columns=("a", "b", "v"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None

    rows = [(r.a, r.b, r.v) for r in read_state(spark, cfg.target_dir).collect()]
    assert sorted(rows) == [(1, 2, 3.0), (1, 12, 10.0), (3, 4, 5.0), (11, 2, 2.0)]


def _data_files(version_dir: str) -> list[str]:
    import os

    return sorted(f for f in os.listdir(version_dir) if f.endswith(".parquet"))


def _committed_dirs(target: str) -> list[str]:
    from bireme_spark.sinks.versioned import snapshot, version_dir

    return [version_dir(target, b, v) for b, v in sorted(snapshot(target).versions.items())]


def _commit(spark, target, rows, changed, batch_id):
    """One sink commit: stage the changed buckets, then the manifest."""
    from bireme_spark.sinks.versioned import stage, write_manifest

    write_manifest(target, stage(spark, target, rows, changed, batch_id), batch_id)


def _merge_changes(spark, target, batch_id, changes, nb=4):
    """Commit one batch through the pipeline's merge step. ``changes``
    are ``(k, op, price)`` or, for an update that changes the key,
    ``(k, "update", price, old_k)``; a batch's ``ts`` is its id + 1."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming import pipeline as pl

    schema = StructType().add("k", "long").add("price", "double")
    lines = []
    for i, (k, op, price, *old) in enumerate(changes):
        env = {"database": "d", "table": "t", "type": op, "ts": batch_id + 1,
               "data": {"k": k, "price": price}}
        if old:
            env["old"] = {"k": old[0]}
        lines.append((json.dumps(env), 0, i))
    raw = spark.createDataFrame(lines, "value string, src_partition long, src_offset long")
    step = pl._merge_step(nb)(target, pl.TableSpec(schema, ("k",), ("k", "price")), True)
    step(parse_maxwell(raw, "value", schema, ("k",)), batch_id)


def _state(spark, target) -> set:
    from bireme_spark.sinks.versioned import read_state

    return {(r.k, r.price) for r in read_state(spark, target).collect()}


def test_each_committed_version_is_one_data_file(spark, two_batch_sink, tmp_path):
    """A fold rewrites exactly delta′'s buckets — the committed delta's
    keys plus the batch's — each as ONE parquet data file, and commits
    no delta; every other bucket keeps its version. An erase after it
    keeps one file per committed version too."""
    import shutil

    from bireme_spark.sinks.versioned import appends, bucket_col, erase_predicate, snapshot

    target = str(tmp_path / "target")
    shutil.copytree(two_batch_sink.target_dir, target)
    nb = two_batch_sink.num_buckets
    before = snapshot(target).versions
    # the committed 3-key delta is larger on disk than a 5-row bucket
    assert before.delta is not None and not appends(target, before)

    _merge_changes(spark, target, 2, [(4, "update", 9.0), (40, "update", 9.0)], nb=nb)
    after = snapshot(target).versions
    touched = {
        r.b
        for r in spark.createDataFrame([(k,) for k in (*_UPD, 4, 40)], "k long")
        .select(bucket_col("k", nb).alias("b"))
        .collect()
    }
    assert after.delta is None
    assert {b for b in after if after[b] != before[b]} == touched
    assert all(after[b] == before[b] + 1 for b in touched)
    files = {p: _data_files(p) for p in _committed_dirs(target)}
    assert len(files) == nb and all(len(f) == 1 for f in files.values()), files
    want = {(k, float(k) + (0.5 if k in _UPD else 0.0)) for k in _KEYS if k not in (4, 40)}
    assert _state(spark, target) == want | {(4, 9.0), (40, 9.0)}

    stats = erase_predicate(spark, target, "k % 2 = 0", batch_id=3)
    assert stats["buckets_rewritten"] > 0
    files = {p: _data_files(p) for p in _committed_dirs(target)}
    assert len(files) == nb
    assert all(len(f) == 1 for f in files.values()), files
    assert {k for k, _ in _state(spark, target)} == {k for k in _KEYS if k % 2}


def _delta_kind(target) -> str:
    from bireme_spark.sinks.versioned import snapshot

    return "fold" if snapshot(target).versions.delta is None else "append"


# 200 keys over 2 buckets: a bucket outweighs a delta of a few keys, so
# small batches append until the delta grows past a bucket
_BASE = [(k, "insert", float(k)) for k in range(200)]


def test_sync_that_appends_and_folds_equals_the_batch_snapshot(spark, tmp_path):
    """Six micro-batches through the streaming runner both append and
    fold, and the synced state equals the batch compaction of the whole
    changelog — including a key inserted and then deleted while it
    lived only in the delta, and an update that changes the key."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime

    batches = [
        _BASE,
        [(1000, "insert", 1.0), (0, "update", 0.5), (1, "update", 1.5)],
        # 1000 lives only in the delta; 5 becomes 1005
        [(1000, "delete", 1.0), (1005, "update", 5.5, 5)],
        [(k, "update", k + 0.25) for k in range(100, 180)],
        [(7, "update", 7.5), (8, "delete", 8.0)],
        [(9, "update", 9.5), (1000, "insert", 2.0)],
    ]
    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    for i, changes in enumerate(batches):
        lines = []
        for k, op, price, *old in changes:
            env = {"database": "d", "table": "t", "type": op, "ts": 100 + i,
                   "data": {"k": k, "price": price}}
            if old:
                env["old"] = {"k": old[0]}
            lines.append(json.dumps(env))
        (src / f"b{i}.json").write_text("\n".join(lines))
        stamp_batch_mtime(str(src), i, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m", kind="file", path=str(src))],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    schema = StructType().add("k", "long").add("price", "double")
    kinds = []
    real = pl._write_manifest

    def record(target_dir, versions, batch_id):
        real(target_dir, versions, batch_id)
        kinds.append(_delta_kind(target_dir))

    pl._write_manifest = record
    try:
        q = pl.run_cdc_pipeline(spark, cfg, schema, ("k",), ("k", "price"), available_now=True)
        q.awaitTermination(180)
    finally:
        pl._write_manifest = real
    assert q.exception() is None
    assert kinds == ["fold", "append", "append", "append", "fold", "append"], kinds

    raw = spark.read.text(str(src)).select(
        "value", F.lit(0).cast("long").alias("src_partition"), F.lit(None).cast("long").alias("src_offset")
    )
    parsed = parse_maxwell(raw, "value", schema, ("k",))
    batch = pl._compact_parsed(parsed, pl._fold(["price"], True))
    want = {(int(r.key), r.price) for r in batch.where("in_insert").collect()}
    assert (1000, 2.0) in want and 1005 in {k for k, _ in want} and 5 not in {k for k, _ in want}
    assert _state(spark, cfg.target_dir) == want


def test_crash_before_an_append_or_fold_commit_keeps_the_previous_state(
    spark, tmp_path, monkeypatch
):
    """A batch that dies after staging its delta, or after a fold's
    bucket renames, but before the manifest write commits nothing:
    readers keep the previous commit, and the retry commits the batch."""
    import os

    from bireme_spark.sinks.versioned import appends, bucket_dir, snapshot
    from bireme_spark.streaming import pipeline as pl

    target = str(tmp_path / "t")
    _merge_changes(spark, target, 0, _BASE, nb=2)
    base_state = _state(spark, target)

    def crash(*_):
        raise RuntimeError("simulated crash before the manifest commit")

    b1 = [(0, "update", 0.5), (1000, "insert", 1.0)]
    with monkeypatch.context() as m:
        m.setattr(pl, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _merge_changes(spark, target, 1, b1, nb=2)
    assert os.listdir(f"{target}/_delta")  # the delta was staged
    assert snapshot(target) == ({0: 1, 1: 1}, 0) and snapshot(target).versions.delta is None
    assert _state(spark, target) == base_state
    _merge_changes(spark, target, 1, b1, nb=2)
    assert _delta_kind(target) == "append"
    appended = _state(spark, target)
    assert appended == (base_state - {(0, 0.0)}) | {(0, 0.5), (1000, 1.0)}

    b2 = [(k, "update", k + 0.25) for k in range(100, 180)]
    _merge_changes(spark, target, 2, b2, nb=2)
    grown = snapshot(target)
    assert not appends(target, grown.versions)  # the next batch folds
    grown_state = _state(spark, target)
    b3 = [(7, "delete", 7.0)]
    with monkeypatch.context() as m:
        m.setattr(pl, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _merge_changes(spark, target, 3, b3, nb=2)
    assert all("_sv=2" in os.listdir(bucket_dir(target, b)) for b in (0, 1))  # renamed
    assert snapshot(target) == grown
    assert snapshot(target).versions.delta == grown.versions.delta
    assert _state(spark, target) == grown_state
    _merge_changes(spark, target, 3, b3, nb=2)
    assert _delta_kind(target) == "fold"
    assert _state(spark, target) == grown_state - {(7, 7.0)}


def test_replayed_append_and_fold_batches_are_idempotent(spark, tmp_path):
    """Re-applying a committed batch — one committed as an append, one
    committed as a fold — leaves the state as the first apply left it,
    whichever way the replay itself commits."""
    target = str(tmp_path / "t")
    _merge_changes(spark, target, 0, _BASE, nb=2)
    b1 = [(0, "update", 0.5), (1000, "insert", 1.0), (3, "delete", 3.0), (1004, "update", 4.5, 4)]
    _merge_changes(spark, target, 1, b1, nb=2)
    assert _delta_kind(target) == "append"
    once = _state(spark, target)
    _merge_changes(spark, target, 1, b1, nb=2)
    assert _state(spark, target) == once

    _merge_changes(spark, target, 2, [(k, "update", k + 0.25) for k in range(100, 180)], nb=2)
    b3 = [(1000, "delete", 1.0), (9, "update", 9.5)]
    _merge_changes(spark, target, 3, b3, nb=2)
    assert _delta_kind(target) == "fold"
    once = _state(spark, target)
    _merge_changes(spark, target, 3, b3, nb=2)
    assert _state(spark, target) == once
    assert (1000, 1.0) not in once and (9, 9.5) in once and (1004, 4.5) in once


def test_vacuum_keeps_the_committed_delta_and_reaps_other_deltas(spark, tmp_path, monkeypatch):
    """vacuum_versions never removes the committed delta, reaps a
    superseded delta beyond ``keep`` and an orphan one a crashed batch
    staged, and once a fold commits no delta, reaps every delta dir."""
    import os

    from bireme_spark.sinks.versioned import delta_dir, snapshot, vacuum_versions
    from bireme_spark.streaming import pipeline as pl

    target = str(tmp_path / "t")
    deltas = f"{target}/_delta"
    _merge_changes(spark, target, 0, _BASE, nb=2)
    for i in (1, 2):
        _merge_changes(spark, target, i, [(i, "update", i + 0.5)], nb=2)
    committed = snapshot(target).versions.delta
    assert committed == 2 and sorted(os.listdir(deltas)) == ["_sv=1", "_sv=2"]
    state = _state(spark, target)
    assert vacuum_versions(target, keep=2)["superseded_removed"] == 0
    stats = vacuum_versions(target, keep=1)
    assert stats["superseded_removed"] == 1 and stats["orphans_removed"] == 0, stats
    assert os.listdir(deltas) == ["_sv=2"]

    def crash(*_):
        raise RuntimeError("simulated crash before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(pl, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _merge_changes(spark, target, 3, [(3, "update", 3.5)], nb=2)
    assert sorted(os.listdir(deltas)) == ["_sv=2", "_sv=3"]
    stats = vacuum_versions(target, keep=1)
    assert stats["orphans_removed"] == 1 and stats["superseded_removed"] == 0, stats
    assert os.listdir(deltas) == ["_sv=2"] and os.path.isdir(delta_dir(target, committed))
    assert _state(spark, target) == state

    _merge_changes(spark, target, 3, [(k, "update", k + 0.25) for k in range(100, 180)], nb=2)
    _merge_changes(spark, target, 4, [(4, "update", 4.5)], nb=2)
    assert _delta_kind(target) == "fold"
    state = _state(spark, target)
    vacuum_versions(target, keep=1)
    assert os.listdir(deltas) == []
    assert _state(spark, target) == state


def test_erase_and_clone_see_the_delta(spark, tmp_path):
    """erase_predicate removes a matching key that lives only in the
    delta, and a shallow clone of a target with a delta links the delta
    and reads equal to its origin."""
    from bireme_spark.sinks.versioned import erase_predicate, shallow_clone, snapshot

    origin = str(tmp_path / "origin")
    _merge_changes(spark, origin, 0, _BASE, nb=2)
    _merge_changes(spark, origin, 1, [(1000, "insert", 5.0), (1001, "insert", 6.0),
                                      (3, "update", 3.5)], nb=2)
    assert _delta_kind(origin) == "append"
    before = _state(spark, origin)

    clone = str(tmp_path / "clone")
    stats = shallow_clone(origin, clone)
    assert stats["files_linked"] + stats["files_copied"] >= 3
    assert snapshot(clone).versions.delta == snapshot(origin).versions.delta
    assert _state(spark, clone) == before

    stats = erase_predicate(spark, origin, "k = 1000", batch_id=2)
    assert stats["rows_erased"] == 1 and stats["buckets_rewritten"] == 1, stats
    assert _state(spark, origin) == before - {(1000, 5.0)}
    assert erase_predicate(spark, origin, "k = 1000", batch_id=3)["rows_erased"] == 0
    assert _state(spark, clone) == before


def test_read_state_over_a_committed_target_starts_no_job(spark, tmp_path):
    """The manifest records the column DDL, so building read_state over
    committed buckets and a delta infers no schema: no Spark job starts
    until the frame is read. The same holds for a bucket-only commit
    staged by hand, as the sink_vacuum_retention gate query does."""
    from bireme_spark.sinks.versioned import (
        Versions, read_state, snapshot, version_dir, write_manifest,
    )

    target = str(tmp_path / "t")
    _merge_changes(spark, target, 0, _BASE, nb=2)
    _merge_changes(spark, target, 1, [(1000, "insert", 1.0)], nb=2)
    assert snapshot(target).versions.ddl and _delta_kind(target) == "append"

    by_hand = str(tmp_path / "by_hand")
    rows = spark.createDataFrame([(k, f"v{k}") for k in range(6)], "k long, val string")
    for b in (0, 1):
        rows.where(f"k % 2 = {b}").write.parquet(version_dir(by_hand, b, 1))
    write_manifest(by_hand, Versions({0: 1, 1: 1}, ddl=rows.schema.toDDL()), 1)

    sc = spark.sparkContext
    for name, path, n in (("merged", target, 201), ("by-hand", by_hand, 6)):
        group = f"read-state-{name}-{tmp_path.name}"
        sc.setJobGroup(group, "read_state build")
        try:
            state = read_state(spark, path)
            built = sc.statusTracker().getJobIdsForGroup(group)
            assert state.count() == n, name
            read = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(built) == [], name
        assert len(read) > 0, name


def _persistent_rdd_ids(spark) -> set[int]:
    jvm, sc = spark.sparkContext._jvm, spark.sparkContext._jsc.sc()
    return set(jvm.scala.collection.JavaConverters.mapAsJavaMap(sc.getPersistentRDDs()).keySet())


def test_merge_releases_its_batch_checkpoint(spark, tmp_path):
    """Each merge checkpoints its compacted batch; a sync that never
    stops must not keep those blocks. Inserts, updates and an empty
    batch all leave the set of persisted RDDs as they found it."""
    from pyspark.sql.types import StructType

    from bireme_spark.sinks.versioned import snapshot
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming import pipeline as pl

    schema = StructType().add("k", "long").add("price", "double")
    target = str(tmp_path / "target")
    step = pl._merge_step(4)(target, pl.TableSpec(schema, ("k",), ("k", "price")), True)

    def merge(batch_id, changes):
        raw = spark.createDataFrame(
            [
                ('{"database": "d", "table": "t", "type": "%s", "ts": %d, '
                 '"data": {"k": %d, "price": %s}}' % (op, batch_id + 1, k, k + batch_id), 0, i)
                for i, (k, op) in enumerate(changes)
            ],
            "value string, src_partition long, src_offset long",
        )
        step(parse_maxwell(raw, "value", schema, ("k",)), batch_id)

    before = _persistent_rdd_ids(spark)
    merge(0, [(k, "insert") for k in range(20)])
    merge(1, [(k, "update") for k in range(5)])
    merge(2, [])
    assert _persistent_rdd_ids(spark) - before == set()
    assert snapshot(target).batch_id == 1
    got = {(r.k, r.price) for r in pl.read_state(spark, target).collect()}
    assert got == {(k, float(k + (1 if k < 5 else 0))) for k in range(20)}


def test_multi_table_batch_without_mapped_rows_commits_nothing(spark, tmp_path):
    """A micro-batch whose lines are all unmapped-table changes or
    malformed runs the per-table merge with no emptiness probe: it has
    no changed buckets, so the manifest and its committed_batch stay
    as the previous batch left them and no staging dir is left."""
    import json
    import os

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import TableSpec, run_multi_table_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(table, k, ts):
        return json.dumps(
            {"database": "d", "table": table, "type": "insert", "ts": ts,
             "data": {"k": k, "v": float(k)}}
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    (src / "b0.txt").write_text("\n".join(env("t", k, 100) for k in range(10)))
    stamp_batch_mtime(str(src), 0, seen)
    (src / "b1.txt").write_text(
        "\n".join([env("audit", k, 200) for k in range(5)] + ["{not json", '{"type": 7}'])
    )
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(name="m", kind="file", path=str(src), table_map={"m.d.t": "public.t"})
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    spec = TableSpec(StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v"))
    q = run_multi_table_pipeline(spark, cfg, {"public.t": spec}, available_now=True)
    q.awaitTermination(120)

    # both micro-batches ran to completion
    assert {f for f in os.listdir(f"{cfg.checkpoint_dir}/commits") if f.isdigit()} == {"0", "1"}
    target = f"{cfg.target_dir}/public.t"
    with open(f"{target}/_manifest.json", encoding="utf-8") as f:
        assert json.load(f) == {
            "committed_batch": 0,
            "versions": {"0": 1, "1": 1},
            "key_cols": ["k"],
            "ddl": "k BIGINT,v DOUBLE",
        }
    assert not [d for d in os.listdir(target) if d.startswith(".staging-")]
    assert {(r.k, r.v) for r in read_state(spark, target).collect()} == {
        (k, float(k)) for k in range(10)
    }


def test_runners_route_before_parse_through_the_module_hooks(spark, tmp_path, monkeypatch):
    """The single- and multi-table runners share one router: from a file
    that mixes a mapped table's rows, another table's rows on the same
    keys and a malformed line, only the mapped rows land (at target_dir
    for run_cdc_pipeline, at target_dir/<target> for the multi-table
    runner). Both reach the sink through the module globals that
    perfbench's tracer and CommitClock wrap, with batch_id at the
    positions they read."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(table, k, v):
        return json.dumps(
            {"database": "d", "table": table, "type": "insert", "ts": 100,
             "data": {"k": k, "v": v}}
        )

    src = tmp_path / "in"
    src.mkdir()
    lines = [env("t", k, float(k)) for k in range(6)]
    lines += [env("audit", k, -1.0) for k in range(3)] + ["{not json"]
    (src / "b0.txt").write_text("\n".join(lines))
    stamp_batch_mtime(str(src), 0, set())

    batch_arg = {
        "_compact_parsed": None,
        "_merge_compacted_versioned": 7,
        "_write_changed_buckets": 4,
        "_write_manifest": 2,
    }
    calls: dict[str, list] = {}
    for name, pos in batch_arg.items():
        def counting(*args, _orig=getattr(pl, name), _name=name, _pos=pos, **kw):
            # the batch id where perfbench's tracer reads it
            if _pos is None:
                calls[_name].append(None)
            else:
                calls[_name].append(args[_pos] if len(args) > _pos else kw["batch_id"])
            return _orig(*args, **kw)

        monkeypatch.setattr(pl, name, counting)

    def cfg(name):
        return PipelineConfig(
            sources=[SourceConfig(name="m", kind="file", path=str(src),
                                  table_map={"m.d.t": "public.t"})],
            target_dir=str(tmp_path / name),
            checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
            num_buckets=2,
        )

    schema = StructType().add("k", "long").add("v", "double")
    want = {(k, float(k)) for k in range(6)}
    runs = {
        "single": lambda c: pl.run_cdc_pipeline(
            spark, c, schema, ("k",), ("k", "v"), available_now=True
        ),
        "multi": lambda c: pl.run_multi_table_pipeline(
            spark, c, {"public.t": pl.TableSpec(schema, ("k",), ("k", "v"))}, available_now=True
        ),
    }
    for name, run in runs.items():
        calls.update({n: [] for n in batch_arg})
        c = cfg(name)
        run(c).awaitTermination(120)
        target = c.target_dir if name == "single" else f"{c.target_dir}/public.t"
        assert {(r.k, r.v) for r in pl.read_state(spark, target).collect()} == want, name
        assert calls == {
            "_compact_parsed": [None],
            "_merge_compacted_versioned": [0],
            "_write_changed_buckets": [0],
            "_write_manifest": [0],
        }, name


def test_a_warm_merge_batch_builds_its_plan_in_few_py4j_calls(spark, tmp_path):
    """The route's parse, fold and merge build their Columns once per
    route, not per batch: a warmed second batch of a five-column Maxwell
    route makes at most 250 py4j round trips from its parse to its first
    Spark job (about 1,180 when every batch rebuilt its plan), through
    the latest-state step and through the SCD2 step alike."""
    import gc
    import json
    import threading
    import time

    from pyspark.sql.types import StructType

    from bireme_spark.sources.maxwell import maxwell_parser
    from bireme_spark.streaming import pipeline as pl

    schema = (
        StructType().add("k", "long").add("a", "string").add("b", "double")
        .add("c", "long").add("d", "string")
    )
    spec = pl.TableSpec(schema, ("k",), ("k", "a", "b", "c", "d"))
    parse = maxwell_parser("value", schema, spec.key_fields, source="m")
    want: dict[int, tuple] = {}

    def batch(batch_id, changes):
        lines = []
        for k, op, *old in changes:
            row = (f"a{k}.{batch_id}", k / 2, k * batch_id, "d" * (k % 3))
            env = {"database": "d", "table": "t", "type": op, "ts": batch_id + 1,
                   "data": dict(zip(("k", "a", "b", "c", "d"), (k, *row)))}
            if old:
                env["old"] = {"k": old[0]}
                want.pop(old[0], None)
            if op == "delete":
                want.pop(k, None)
            else:
                want[k] = row
            lines.append((json.dumps(env), 0, len(lines)))
        return spark.createDataFrame(lines, "value string, src_partition long, src_offset long")

    first = batch(0, [(k, "insert") for k in range(40)])
    raw = batch(1, [(k, "update") for k in range(10)] + [(20, "delete"), (50, "update", 30)])

    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()

    def calls_before_first_job(step, name) -> int:
        """py4j round trips of ``step(parse(raw), 1)`` before its first job."""
        sent: list[float] = []

        def counting(*args, **kwargs):
            if threading.get_ident() == me:  # not another thread's calls
                sent.append(time.time())
            return send(*args, **kwargs)

        group = f"py4j-budget-{name}-{tmp_path.name}"
        sc.setJobGroup(group, group)
        gc.collect()
        gc.disable()  # no collector-driven py4j object releases inside the count
        client.send_command = counting
        try:
            step(parse(raw), 1)
        finally:
            client.send_command = send
            gc.enable()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        first_job = min(sc.statusTracker().getJobIdsForGroup(group))
        started = sc._jsc.sc().statusStore().job(first_job).submissionTime().get().getTime()
        return sum(t < started / 1000 for t in sent)

    steps = {"merge": pl._merge_step(4), "scd2": pl._scd2_step(4)}
    for name, make_step in steps.items():
        step = make_step(str(tmp_path / name), spec, True)
        step(parse(first), 0)
        calls = calls_before_first_job(step, name)
        assert 0 < calls <= 250, (name, calls)

    state = pl.read_state(spark, str(tmp_path / "merge"))
    assert {r.k: (r.a, r.b, r.c, r.d) for r in state.collect()} == want
    # the key-changing update closes key 30's open version
    history = pl.read_state(spark, str(tmp_path / "scd2")).where("is_current")
    assert {int(r.key): (r.a, r.b, r.c, r.d) for r in history.collect()} == want


def test_tables_sharing_payload_names_keep_their_own_types(spark, tmp_path):
    """Each route builds its own plan pieces: one multi-table run maps
    two tables whose payload columns share names but whose payload and
    key types differ.
    Each target keeps its own types and equals the batch snapshot of
    its own changelog."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.operators.cdc import snapshot
    from bireme_spark.streaming.pipeline import TableSpec, read_state, run_multi_table_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    # per table: (key, op, ts, v, w) changes in two batches
    changes = {
        "a": [
            [(k, "insert", 100 + k, k * 1.5, f"a{k}") for k in range(6)],
            [(1, "update", 200, 9.5, "a1b"), (2, "delete", 201, 3.0, "a2"),
             (7, "insert", 202, 7.5, "a7")],
        ],
        "b": [
            [(f"k{k}", "insert", 100 + k, k * 10, f"b{k}") for k in range(6)],
            [("k3", "update", 200, 33, "b3b"), ("k0", "delete", 201, 0, "b0"),
             ("k9", "insert", 202, 90, "b9")],
        ],
    }
    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    for i in range(2):
        lines = [
            json.dumps({"database": "d", "table": t, "type": op, "ts": ts,
                        "data": {"k": k, "v": v, "w": w}})
            for t in ("a", "b")
            for k, op, ts, v, w in changes[t][i]
        ]
        (src / f"b{i}.txt").write_text("\n".join(lines))
        stamp_batch_mtime(str(src), i, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m", kind="file", path=str(src),
                              table_map={"m.d.a": "a", "m.d.b": "b"})],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    types = {"a": ("long", "double"), "b": ("string", "long")}
    specs = {
        t: TableSpec(
            StructType().add("k", kt).add("v", vt).add("w", "string"), ("k",), ("k", "v", "w")
        )
        for t, (kt, vt) in types.items()
    }
    run_multi_table_pipeline(spark, cfg, specs, available_now=True).awaitTermination(120)

    for t, (kt, vt) in types.items():
        state = read_state(spark, f"{cfg.target_dir}/{t}")
        assert state.schema.simpleString() == specs[t].data_schema.simpleString(), t
        log = spark.createDataFrame(
            [(str(k), {"insert": "I", "update": "U", "delete": "D"}[op], ts, 0, v, w)
             for batch in changes[t] for k, op, ts, v, w in batch],
            f"key string, op string, ts long, seq long, v {vt}, w string",
        )
        want = snapshot(log, ("key",), ("ts", "seq"), payload_cols=("v", "w"))
        assert {(str(r.k), r.v, r.w) for r in state.collect()} == {
            (r.key, r.v, r.w) for r in want.collect()
        }, t


def test_a_config_with_two_sources_is_refused(spark, tmp_path):
    """One pipeline syncs one source: a config that lists two is
    refused by every runner, naming the source that would go unsynced,
    and no streaming query starts."""
    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming import pipeline as pl

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m1", kind="file", path=str(tmp_path / "in1"),
                              table_map={"m1.d.t": "t"}),
                 SourceConfig(name="m2", kind="file", path=str(tmp_path / "in2"),
                              table_map={"m2.d.t": "t"})],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    for name in ("in1", "in2"):
        (tmp_path / name).mkdir()
    schema = StructType().add("k", "long").add("v", "double")
    runs = [
        lambda: pl.run_cdc_pipeline(spark, cfg, schema, ("k",), ("k", "v"), available_now=True),
        lambda: pl.run_multi_table_pipeline(
            spark, cfg, {"t": pl.TableSpec(schema, ("k",), ("k", "v"))}, available_now=True
        ),
        lambda: pl.run_scd2_pipeline(spark, cfg, schema, ("k",), available_now=True),
    ]
    active = len(spark.streams.active)
    for run in runs:
        with pytest.raises(ValueError, match="'m2' would not be synced"):
            run()
    assert len(spark.streams.active) == active


@pytest.mark.slow
def test_same_timestamp_fold_is_deterministic(spark, tmp_path):
    """Two same-key changes in one batch with the SAME seconds-level
    produce time must fold by file/offset order every run (ADVICE:
    monotonic-id tiebreak was partition-layout-dependent)."""
    import json as _json
    import os

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import run_cdc_pipeline
    from pyspark.sql.types import StructType

    for run in range(2):
        work = tmp_path / f"run{run}"
        src = str(work / "in")
        os.makedirs(src)
        rows = []
        # 100 keys × 2 same-second updates each, later line wins
        for k in range(100):
            for price in (1.0, 2.0):
                rows.append(
                    _json.dumps(
                        {
                            "database": "testdb",
                            "table": "t",
                            "type": "insert" if price == 1.0 else "update",
                            "ts": 1000,
                            "data": {"k": k, "price": price},
                        }
                    )
                )
        with open(f"{src}/b.json", "w") as f:
            f.write("\n".join(rows))
        cfg = PipelineConfig(
            sources=[SourceConfig(name="maxwell", kind="file", path=src)],
            target_dir=str(work / "target"),
            checkpoint_dir=str(work / "ckpt"),
            num_buckets=4,
        )
        schema = StructType().add("k", "long").add("price", "double")
        q = run_cdc_pipeline(
            spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
            available_now=True,
        )
        q.awaitTermination(120)
        state = {(r.k, r.price) for r in read_state(spark, cfg.target_dir).collect()}
        assert state == {(k, 2.0) for k in range(100)}, f"run {run}"


@pytest.mark.slow
def test_kafka_reader_options_mirror_reference_consumer():
    """KafkaPipeLine.java:198-207 createConsumer props, knob-for-knob
    (no broker in the sandbox — the option dict IS the testable seam;
    a deployment feeds it into readStream.format("kafka"))."""
    import pytest

    from bireme_spark.config import SourceConfig
    from bireme_spark.streaming.pipeline import kafka_reader_options

    src = SourceConfig(
        name="maxwell1",
        kind="maxwell",
        kafka_server="127.0.0.1:9092",
        kafka_topic="topic_name1",
        kafka_groupid="bireme",
    )
    opts = kafka_reader_options(src, max_events=50_000)
    assert opts == {
        "kafka.bootstrap.servers": "127.0.0.1:9092",  # bootstrap.servers
        "subscribe": "topic_name1",                   # consumer.subscribe(topic)
        "kafka.group.id": "bireme",                   # group.id
        "kafka.session.timeout.ms": "60000",          # session.timeout.ms
        "startingOffsets": "earliest",                # auto.offset.reset
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "50000",              # RowCache batch_size
    }
    # no per-trigger cap configured -> option absent (unbounded trigger)
    assert "maxOffsetsPerTrigger" not in kafka_reader_options(src)
    # transport misconfiguration fails fast, not at stream start
    with pytest.raises(ValueError, match="kafka_server"):
        kafka_reader_options(SourceConfig(name="bad", kind="maxwell"))


@pytest.mark.slow
def test_reference_etc_config_builds_kafka_options():
    """End-to-end config seam: the reference's own config.properties
    (when present) parses into SourceConfigs whose Kafka option dicts
    are ready for readStream."""
    import os

    import pytest

    from bireme_spark.config import PipelineConfig
    from bireme_spark.streaming.pipeline import kafka_reader_options

    path = "/root/reference/etc/config.properties"
    if not os.path.isfile(path):
        pytest.skip("reference etc not present")
    cfg = PipelineConfig.from_properties_file(path)
    by_name = {s.name: s for s in cfg.sources}
    opts = kafka_reader_options(by_name["maxwell1"], cfg.max_events_per_trigger)
    assert opts["kafka.bootstrap.servers"] == "127.0.0.1:9092"
    assert opts["subscribe"] == "topic_name1"
    assert opts["maxOffsetsPerTrigger"] == "50000"


def test_manifest_commit_is_atomic_and_crash_safe(spark, tmp_path):
    """The versioned-parquet sink's commit point is the single
    manifest replace: a crashed batch that renamed some bucket dirs
    but died before its manifest write must be invisible to readers,
    and the retry must (a) read the committed base, (b) version past
    the orphan dirs, (c) reap them once superseded."""
    from bireme_spark.sinks.versioned import read_state, snapshot, version_dir

    target = str(tmp_path / "target")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _commit(spark, target, b0, [0], batch_id=0)
    assert snapshot(target).versions == {0: 1}
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a"), (2, "b")}

    # crash simulation: a later attempt staged bucket 0 at v=2 (with
    # rows that must NOT appear) but died before the manifest commit
    orphan = spark.createDataFrame([(9, "ORPHAN")], "k long, val string")
    orphan.write.parquet(version_dir(target, 0, 2))
    assert _committed_dirs(target) == [version_dir(target, 0, 1)]
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a"), (2, "b")}

    # retry of the batch: versions past the orphan, commits v=3
    b1 = spark.createDataFrame([(1, "a2"), (2, "b")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _commit(spark, target, b1, [0], batch_id=1)
    assert snapshot(target).versions == {0: 3}
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {(1, "a2"), (2, "b")}

    # one more batch: retention reaps everything below the old commit,
    # including the orphan
    b2 = spark.createDataFrame([(1, "a3")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _commit(spark, target, b2, [0], batch_id=2)
    import os

    left = sorted(os.listdir(f"{target}/_sb=0"))
    assert "_sv=2" not in left and "_sv=1" not in left, left


def test_scd2_pipeline_batch_replay_is_idempotent(spark, tmp_path):
    """The post-manifest-commit / pre-checkpoint-commit retry window:
    re-running the SAME batches against already-committed SCD2 state
    (simulated by deleting the streaming checkpoint and replaying the
    whole input) must leave the history byte-identical — versions are
    neither re-closed at their own valid_from nor appended twice."""
    import json
    import shutil as sh

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import run_scd2_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(op, k, price, ts):
        return json.dumps(
            {"database": "d", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    (src / "b0.txt").write_text("\n".join(env("insert", k, 1.0, 100 + k) for k in range(20)))
    stamp_batch_mtime(str(src), 0, seen)
    (src / "b1.txt").write_text(
        "\n".join(env("update", k, 2.0, 200 + k) for k in range(0, 20, 2))
    )
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m", kind="file", path=str(src))],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    schema = StructType().add("k", "long").add("price", "double")

    def run():
        q = run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
        q.awaitTermination(120)
        return sorted(
            (r.key, r.price, r.valid_from, r.valid_to, r.is_current)
            for r in read_state(spark, cfg.target_dir).collect()
        )

    first = run()
    # full replay against committed state = the retry window writ large
    sh.rmtree(cfg.checkpoint_dir)
    second = run()
    assert second == first
    # sanity: updated keys have a closed insert version + open update
    by_key = [row for row in first if row[0] == "0"]
    assert len(by_key) == 2
    closed, opened = sorted(by_key, key=lambda r: r[2])
    assert closed[4] is False and closed[3] == opened[2] and opened[4] is True


def test_scd2_pipeline_with_pk_changes_equals_the_batch_history(spark, tmp_path):
    """A Maxwell update that changes the primary key closes the old
    key's open version at its time, in the stream as in the batch: the
    streamed history over three micro-batches (key 3 moves to 50, then
    50 moves back to 3) equals the one-shot batch ``scd2(...,
    old_key_col="old_key")`` of the concatenated changelog."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.operators.cdc import scd2
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.streaming.pipeline import run_scd2_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(op, k, price, ts, old=None):
        doc = {"database": "d", "table": "t", "type": op, "ts": ts,
               "data": {"k": k, "price": price}}
        if old is not None:
            doc["old"] = {"k": old}
        return json.dumps(doc)

    batches = [
        [env("insert", k, 1.0, 100 + k) for k in range(8)],
        [env("update", 50, 2.0, 200, old=3), env("update", 1, 2.0, 201),
         env("delete", 2, 1.0, 202)],
        [env("update", 3, 3.0, 300, old=50), env("update", 60, 3.0, 301, old=4)],
    ]
    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    for i, lines in enumerate(batches):
        (src / f"b{i}.txt").write_text("\n".join(lines))
        stamp_batch_mtime(str(src), i, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="m", kind="file", path=str(src))],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    schema = StructType().add("k", "long").add("price", "double")
    q = run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
    q.awaitTermination(120)

    def rows(df):
        return {(r.key, r.price, r.valid_from, r.valid_to, r.is_current) for r in df.collect()}

    raw = spark.createDataFrame([(line,) for b in batches for line in b], "value string")
    changes = parse_maxwell(raw, "value", schema, ("k",)).select(
        "key", "op", "produce_time_ms", "old_key", "data.price"
    )
    want = rows(scd2(changes, ("key",), ("produce_time_ms",), old_key_col="old_key"))
    assert rows(read_state(spark, cfg.target_dir)) == want
    current = {r[0] for r in want if r[4]}
    assert current == {"0", "1", "3", "5", "6", "7", "60"}


def test_corrupt_manifest_raises_not_falls_back(spark, tmp_path):
    """A manifest that EXISTS but is unreadable, or names buckets
    without their column DDL, must fail loudly: silently downgrading to
    the max-version dir scan, or to schema inference, would adopt
    uncommitted orphan versions as committed state."""
    import json

    import pytest

    from bireme_spark.sinks.versioned import read_state, snapshot, version_dir

    target = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, "a")], "k long, val string").withColumn(
        "_sb", F.lit(0)
    )
    _commit(spark, target, b0, [0], batch_id=0)
    # orphan from a crashed batch + corrupted manifest
    spark.createDataFrame([(9, "ORPHAN")], "k long, val string").write.parquet(
        version_dir(target, 0, 2)
    )
    no_ddl = json.dumps({"committed_batch": 0, "versions": {"0": 1}})
    for body in ("{truncated", no_ddl):
        with open(f"{target}/_manifest.json", "w") as f:
            f.write(body)
        with pytest.raises(Exception, match="corrupt sink manifest"):
            snapshot(target)
        with pytest.raises(Exception, match="corrupt sink manifest"):
            read_state(spark, target)


def test_first_batch_crash_before_manifest_commits_nothing(spark, tmp_path, monkeypatch):
    """A first batch that renamed its bucket dirs into a fresh target
    but died before the manifest write committed nothing: readers see
    no state, vacuum reaps its dirs as orphans, and the retried batch
    commits exactly its rows."""
    import os
    import shutil

    from bireme_spark.sinks.versioned import bucket_col, read_state, snapshot, vacuum_versions
    from bireme_spark.streaming import pipeline as pl

    target = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(k, f"v{k}") for k in range(8)], "k long, val string"
    ).withColumn("_sb", bucket_col("k", 4))
    want = {(k, f"v{k}") for k in range(8)}

    def crash(*_):
        raise RuntimeError("simulated crash before the manifest commit")

    with monkeypatch.context() as m:
        m.setattr(pl, "_write_manifest", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            pl._write_changed_buckets(spark, target, rows, list(range(4)), 0)
    buckets = sorted(d for d in os.listdir(target) if d.startswith("_sb="))
    assert len(buckets) == 4  # the renames happened

    assert read_state(spark, target) is None

    reaped = str(tmp_path / "reaped")
    shutil.copytree(target, reaped)
    stats = vacuum_versions(reaped)
    assert stats["orphans_removed"] == 4 and stats["versions_after"] == 0, stats
    assert not [v for b in buckets for v in os.listdir(f"{reaped}/{b}")]

    pl._write_changed_buckets(spark, target, rows, list(range(4)), 0)
    assert snapshot(target) == ({b: 2 for b in range(4)}, 0)
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == want
    assert sorted(os.listdir(f"{target}/{buckets[0]}")) == ["_sv=2"]  # orphan reaped


def test_multi_table_pipeline_debezium_envelopes(spark, tmp_path):
    """Whole-database sync with DEBEZIUM envelopes: routing reads
    payload.source.db/table (the real Debezium shape), each table
    parses with its own schema, deletes read their tuple from
    `before` — two tables land in their own versioned targets."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import TableSpec, run_multi_table_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(db, table, op, ts, before, after):
        return json.dumps(
            {
                "payload": {
                    "op": op,
                    "ts_ms": ts,
                    "before": before,
                    "after": after,
                    "source": {"db": db, "table": table},
                }
            }
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    b0 = [env("d", "t1", "r", 1000 + i, None, {"k": i, "v": 1.0}) for i in range(10)]
    b0 += [env("d", "t2", "c", 1000 + i, None, {"id": i, "x": "a"}) for i in range(5)]
    (src / "b0.txt").write_text("\n".join(b0))
    stamp_batch_mtime(str(src), 0, seen)
    b1 = [env("d", "t1", "u", 2000 + i, {"k": i, "v": 1.0}, {"k": i, "v": 9.0}) for i in (0, 2)]
    b1 += [env("d", "t2", "d", 2000, {"id": 4, "x": "a"}, None)]
    (src / "b1.txt").write_text("\n".join(b1))
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="dbz",
                kind="debezium",
                path=str(src),
                table_map={"dbz.d.t1": "public.t1", "dbz.d.t2": "public.t2"},
            )
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    specs = {
        "public.t1": TableSpec(
            StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v")
        ),
        "public.t2": TableSpec(
            StructType().add("id", "long").add("x", "string"), ("id",), ("id", "x")
        ),
    }
    q = run_multi_table_pipeline(spark, cfg, specs, available_now=True)
    q.awaitTermination(120)

    t1 = {(r.k, r.v) for r in read_state(spark, f"{cfg.target_dir}/public.t1").collect()}
    assert t1 == {(i, 9.0 if i in (0, 2) else 1.0) for i in range(10)}
    t2 = {(r.id, r.x) for r in read_state(spark, f"{cfg.target_dir}/public.t2").collect()}
    assert t2 == {(i, "a") for i in range(4)}  # id=4 deleted via `before`


def test_multi_table_pipeline_consolidates_sharded_origins(spark, tmp_path):
    """Many-to-one table_map (sharded source tables t_0/t_1 → one
    target): BOTH origins' changes must land — routing ORs across
    every mapped origin, not just one."""
    import json

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.pipeline import TableSpec, run_multi_table_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(table, k, v, ts):
        return json.dumps(
            {"database": "d", "table": table, "type": "insert", "ts": ts,
             "data": {"k": k, "v": v}}
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    rows = [env("t_0", k, 1.0, 100 + k) for k in range(5)]
    rows += [env("t_1", k, 2.0, 200 + k) for k in range(10, 15)]
    (src / "b0.txt").write_text("\n".join(rows))
    stamp_batch_mtime(str(src), 0, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="m",
                kind="file",
                path=str(src),
                table_map={"m.d.t_0": "public.t", "m.d.t_1": "public.t"},
            )
        ],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=2,
    )
    spec = TableSpec(StructType().add("k", "long").add("v", "double"), ("k",), ("k", "v"))
    q = run_multi_table_pipeline(spark, cfg, {"public.t": spec}, available_now=True)
    q.awaitTermination(120)
    got = {(r.k, r.v) for r in read_state(spark, f"{cfg.target_dir}/public.t").collect()}
    assert got == {(k, 1.0) for k in range(5)} | {(k, 2.0) for k in range(10, 15)}


@pytest.mark.slow
class TestStreamingEwma:
    def test_stream_state_equals_batch_fold_exactly(self, spark, sf_dir):
        """Micro-batch boundaries must be invisible: the carried
        6dp-rounded EWMA state after the replay equals the one-shot
        batch fold bit-for-bit."""
        from bireme_spark.queries.streaming_sessions import streaming_ewma_monitor
        from bireme_spark.sources.tables import load_table
        from bireme_spark.streaming.ewma import ewma_batch

        got = [tuple(r) for r in streaming_ewma_monitor(spark, sf_dir).collect()]
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_id", "event_type", "value"
        )
        want = [tuple(r) for r in ewma_batch(ev).collect()]
        assert got == want

    def test_fold_series_rounding_contract(self):
        from bireme_spark.streaming.ewma import fold_series

        assert fold_series([]) is None
        assert fold_series([1.25]) == 1.25
        # second step: 0.2*2 + 0.8*1.25 = 1.4
        assert fold_series([1.25, 2.0]) == 1.4
        # splitting the series at any point with the carried state
        # reproduces the unsplit fold (the stream==batch property)
        vals = [3.7, 1.2, 9.9, 0.4, 5.5]
        whole = fold_series(vals)
        for cut in range(1, len(vals)):
            assert fold_series(vals[cut:], fold_series(vals[:cut])) == whole


@pytest.mark.slow
class TestCheckpointResume:
    def test_restart_processes_only_new_files(self, spark, sf_dir, tmp_path):
        """Operational contract behind every foreachBatch sink here:
        a restarted query with the same checkpoint directory must NOT
        reprocess already-committed micro-batches — only files that
        arrived while it was down."""
        from bireme_spark.sources.tables import load_table
        from bireme_spark.streaming.replay import stamp_batch_mtime

        ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
        first = ev.where(F.col("event_id") % 2 == 0)
        second = ev.where(F.col("event_id") % 2 == 1)
        src = str(tmp_path / "in")
        ckpt = str(tmp_path / "ckpt")
        seen_files: set = set()
        first.coalesce(1).write.mode("append").parquet(src)
        stamp_batch_mtime(src, 0, seen_files)

        processed: list[int] = []

        def sink(batch_df, batch_id):
            processed.extend(r.event_id for r in batch_df.select("event_id").collect())

        def run_once():
            q = (
                spark.readStream.schema("event_id long, event_type string")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        n_first = len(processed)
        assert n_first == first.count()

        second.coalesce(1).write.mode("append").parquet(src)
        stamp_batch_mtime(src, 1, seen_files)
        run_once()

        assert len(processed) == ev.count(), "second run must add only the new file"
        assert len(set(processed)) == len(processed), "no event processed twice"


def test_vacuum_versions_retention_and_orphans(spark, tmp_path):
    """vacuum_versions must (a) always reap orphan versions above the
    committed one, (b) keep exactly `keep` committed-window versions
    per bucket, (c) NEVER delete the manifest-committed version even
    with keep=1, and (d) leave read_state's answer unchanged."""
    import os

    from bireme_spark.sinks.versioned import Versions, read_state, vacuum_versions, write_manifest

    target = str(tmp_path / "t")
    for b in (0, 1):
        for v in (1, 2, 3):
            spark.createDataFrame(
                [(b * 10 + v, f"v{v}")], "k long, val string"
            ).write.parquet(f"{target}/_sb={b}/_sv={v}")
    # bucket 0 also has an orphan above the commit
    spark.createDataFrame([(99, "ORPHAN")], "k long, val string").write.parquet(
        f"{target}/_sb=0/_sv=4"
    )
    write_manifest(target, Versions({0: 3, 1: 3}, ddl="k BIGINT,val STRING"), batch_id=0)

    # keep=2: committed + one prior survive; orphan goes
    stats = vacuum_versions(target, keep=2)
    assert stats == {
        "n_buckets": 2,
        "versions_before": 7,
        "versions_after": 4,
        "orphans_removed": 1,
        "superseded_removed": 2,
    }
    assert sorted(os.listdir(f"{target}/_sb=0")) == ["_sv=2", "_sv=3"]
    assert sorted(os.listdir(f"{target}/_sb=1")) == ["_sv=2", "_sv=3"]
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {
        (3, "v3"),
        (13, "v3"),
    }

    # keep=1: only the committed version survives; idempotent after
    stats = vacuum_versions(target, keep=1)
    assert stats["versions_after"] == 2 and stats["superseded_removed"] == 2
    assert vacuum_versions(target, keep=1)["superseded_removed"] == 0
    assert {(r.k, r.val) for r in read_state(spark, target).collect()} == {
        (3, "v3"),
        (13, "v3"),
    }


def test_crash_after_sink_commit_resumes_and_stays_idempotent(spark, tmp_path, monkeypatch):
    """Reference restart semantics (`AbstractCommitCallback` persists
    the commit bookkeeping; `KafkaPipeLine` resumes from the last
    committed offset): kill the streaming query in the WORST window —
    after the sink committed micro-batch 1's manifest but before
    Spark wrote the batch's checkpoint commit — then restart from the
    same checkpoint. Spark replays batch 1 against state that already
    contains it; the pessimistic merge must keep that idempotent, and
    the resumed run must finish batch 2 so the final sink state is
    row-identical to a cold batch apply of all three batches."""
    import json as _json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import snapshot
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime
    from pyspark.sql.types import StructType

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)

    def envelope(k, price, op, ts):
        return _json.dumps(
            {"database": "testdb", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    seen: set[str] = set()
    keys = range(1, 41)
    with open(f"{src}/b1.json", "w") as f:
        f.write("\n".join(envelope(k, float(k), "insert", 1000) for k in keys))
    stamp_batch_mtime(src, 0, seen)
    with open(f"{src}/b2.json", "w") as f:
        f.write("\n".join(envelope(k, k + 0.5, "update", 2000) for k in keys if k % 3 == 0))
    stamp_batch_mtime(src, 1, seen)
    with open(f"{src}/b3.json", "w") as f:
        f.write("\n".join(envelope(k, 0.0, "delete", 3000) for k in keys if k % 5 == 0))
    stamp_batch_mtime(src, 2, seen)

    cfg = PipelineConfig(
        sources=[SourceConfig(name="maxwell", kind="file", path=src)],
        target_dir=str(tmp_path / "target"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        num_buckets=8,
    )
    schema = StructType().add("k", "long").add("price", "double")

    real_merge = pl._merge_compacted_versioned
    merged_batches: list[int] = []

    def crash_after_commit(*args, batch_id):
        real_merge(*args, batch_id=batch_id)
        merged_batches.append(batch_id)
        if batch_id == 1:
            raise RuntimeError("simulated crash after sink commit of batch 1")

    monkeypatch.setattr(pl, "_merge_compacted_versioned", crash_after_commit)
    q = pl.run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    # the sink DID commit batch 1 before the crash
    assert merged_batches == [0, 1]
    assert snapshot(cfg.target_dir).batch_id == 1

    # restart from the same checkpoint, crash injector removed
    monkeypatch.setattr(pl, "_merge_compacted_versioned", real_merge)
    q2 = pl.run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"),
        available_now=True,
    )
    q2.awaitTermination(120)

    got = {(r.k, r.price) for r in pl.read_state(spark, cfg.target_dir).collect()}
    expected = {
        (k, k + 0.5 if k % 3 == 0 else float(k)) for k in keys if k % 5 != 0
    }
    assert got == expected


@pytest.mark.slow
class TestKafkaSeamExecutesOptions:
    """Drive kafka_reader_options through the protocol-level fake
    (streaming/kafka_fake.py): option names AND semantics execute
    against an in-memory broker, so a key that drifts from
    KafkaPipeLine.java:198-207 / Spark-source semantics fails here
    instead of silently no-opping on a real cluster."""

    def _source(self):
        from bireme_spark.config import SourceConfig

        return SourceConfig(
            name="maxwell1",
            kind="maxwell",
            kafka_server="127.0.0.1:9092",
            kafka_topic="topic_name1",
            kafka_groupid="bireme",
        )

    def _broker(self):
        from bireme_spark.streaming.kafka_fake import FakeBroker

        broker = FakeBroker()
        for i in range(6):
            broker.produce("topic_name1", i % 2, f"m{i}")
        return broker

    def test_options_replay_from_earliest_without_group_commit(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        src = FakeKafkaSource(broker, kafka_reader_options(self._source()))
        got = src.pull_batch()
        # earliest startingOffsets: the full log, both partitions
        assert sorted(got) == [
            (0, 0, "m0"), (0, 1, "m2"), (0, 2, "m4"),
            (1, 0, "m1"), (1, 1, "m3"), (1, 2, "m5"),
        ]
        # consumer props landed where the reference sets them
        assert src.consumer_props["group.id"] == "bireme"
        assert src.consumer_props["session.timeout.ms"] == "60000"
        # progress is checkpoint-side only: NOTHING committed to the
        # broker group (bireme commits after load; Spark never here)
        assert broker.group_commits == []
        assert src.pull_batch() == []  # positions advanced

    def test_max_events_caps_each_trigger(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        src = FakeKafkaSource(
            self._broker(), kafka_reader_options(self._source(), max_events=4)
        )
        assert len(src.pull_batch()) == 4  # RowCache batch_size twin
        assert len(src.pull_batch()) == 2  # remainder next trigger

    def test_expired_offsets_resume_from_retained_not_crash(self):
        from bireme_spark.streaming.kafka_fake import FakeKafkaSource
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        src = FakeKafkaSource(broker, kafka_reader_options(self._source(), 2))
        assert len(src.pull_batch()) == 2  # positions now mid-log
        # retention expires offsets the checkpoint still points at
        broker.expire_below("topic_name1", 0, 3)
        broker.expire_below("topic_name1", 1, 2)
        # failOnDataLoss=false (the builder sets it): resume from the
        # earliest retained offset — the reference's reconnect behavior
        got = src.pull_batch()
        assert got == [(1, 2, "m5")]

    def test_drifted_option_key_is_rejected(self):
        import pytest

        from bireme_spark.streaming.kafka_fake import FakeKafkaSource, OptionDriftError
        from bireme_spark.streaming.pipeline import kafka_reader_options

        broker = self._broker()
        good = kafka_reader_options(self._source())
        # a renamed source option (what the real source would IGNORE)
        bad = dict(good)
        bad["starting0ffsets"] = bad.pop("startingOffsets")
        with pytest.raises(OptionDriftError, match="unknown kafka source option"):
            FakeKafkaSource(broker, bad)
        # a consumer prop outside the reference's createConsumer set
        bad2 = dict(good)
        bad2["kafka.sesion.timeout.ms"] = bad2.pop("kafka.session.timeout.ms")
        with pytest.raises(OptionDriftError, match="unknown consumer property"):
            FakeKafkaSource(broker, bad2)
        # losing the kafka. prefix must not silently pass either
        bad3 = dict(good)
        bad3["bootstrap.servers"] = bad3.pop("kafka.bootstrap.servers")
        with pytest.raises(OptionDriftError):
            FakeKafkaSource(broker, bad3)


@pytest.mark.slow
def test_scd2_crash_after_commit_resumes_correct_history(spark, tmp_path, monkeypatch):
    """SCD2 twin of the CDC crash test: kill the streaming query
    after the HISTORY sink committed micro-batch 1 but before Spark's
    checkpoint commit, restart from the checkpoint (batch 1 replays
    against state that already contains it), and require the final
    version history to be row-identical to an uninterrupted cold run
    — versions neither re-closed nor double-appended."""
    import json as _json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.sinks.versioned import snapshot
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(op, k, price, ts):
        return _json.dumps(
            {"database": "d", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    def write_input(src):
        os.makedirs(src, exist_ok=True)
        seen: set[str] = set()
        with open(f"{src}/b0.txt", "w") as f:
            f.write("\n".join(env("insert", k, 1.0, 100 + k) for k in range(20)))
        stamp_batch_mtime(src, 0, seen)
        with open(f"{src}/b1.txt", "w") as f:
            f.write("\n".join(env("update", k, 2.0, 200 + k) for k in range(0, 20, 2)))
        stamp_batch_mtime(src, 1, seen)
        with open(f"{src}/b2.txt", "w") as f:
            f.write("\n".join(env("delete", k, 0.0, 300 + k) for k in range(0, 20, 5)))
        stamp_batch_mtime(src, 2, seen)

    schema = StructType().add("k", "long").add("price", "double")

    def cfg_for(name, src):
        return PipelineConfig(
            sources=[SourceConfig(name="m", kind="file", path=src)],
            target_dir=str(tmp_path / name / "target"),
            checkpoint_dir=str(tmp_path / name / "ckpt"),
            max_events_per_trigger=1,
            num_buckets=2,
        )

    def history(cfg):
        return sorted(
            (r.key, r.price, r.valid_from, r.valid_to, r.is_current)
            for r in pl.read_state(spark, cfg.target_dir).collect()
        )

    # --- reference: uninterrupted cold run ---
    src_ref = str(tmp_path / "in_ref")
    write_input(src_ref)
    cfg_ref = cfg_for("ref", src_ref)
    q = pl.run_scd2_pipeline(spark, cfg_ref, schema, key_fields=("k",), available_now=True)
    q.awaitTermination(120)
    expected = history(cfg_ref)

    # --- crashed run: die after batch 1's sink commit ---
    src = str(tmp_path / "in")
    write_input(src)
    cfg = cfg_for("crash", src)
    real_write = pl._write_changed_buckets

    def crash_after_commit(bspark, target_dir, merged, changed, batch_id, **kw):
        real_write(bspark, target_dir, merged, changed, batch_id, **kw)
        if batch_id == 1:
            raise RuntimeError("simulated crash after scd2 sink commit of batch 1")

    monkeypatch.setattr(pl, "_write_changed_buckets", crash_after_commit)
    q = pl.run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert snapshot(cfg.target_dir).batch_id == 1

    # --- restart from the checkpoint, crash injector removed ---
    monkeypatch.setattr(pl, "_write_changed_buckets", real_write)
    q2 = pl.run_scd2_pipeline(spark, cfg, schema, key_fields=("k",), available_now=True)
    q2.awaitTermination(120)
    assert history(cfg) == expected


@pytest.mark.slow
def test_kafka_fake_drives_cdc_merge_end_to_end(spark, tmp_path):
    """VERDICT r8 item 6 (`KafkaPipeLine.java:60-120` consume→load→
    commit loop): the protocol Kafka fake as an ACTUAL source for the
    CDC merge, not just option validation. The option dict comes from
    the real wiring (`kafka_reader_options`), each pulled micro-batch
    flows through the SAME parse→compact→merge operators as
    `run_cdc_pipeline`'s foreachBatch, and progress lives ONLY in the
    checkpointed positions: replay-from-committed after a mid-stream
    restart must equal a cold full replay, and the broker's consumer
    group must see ZERO commits (the Spark source never commits —
    bireme commits after load, which the checkpoint models)."""
    import json as _json

    from pyspark.sql.types import StructType

    from bireme_spark.config import SourceConfig
    from bireme_spark.sources.maxwell import parse_maxwell
    from bireme_spark.sinks.versioned import snapshot
    from bireme_spark.streaming import pipeline as pl
    from bireme_spark.streaming.kafka_fake import FakeBroker, FakeKafkaSource

    def env(k, price, op, ts):
        return _json.dumps(
            {"database": "testdb", "table": "orders", "type": op, "ts": ts,
             "data": {"k": k, "price": price}}
        )

    broker = FakeBroker()
    topic = "cdc.orders"
    for k in range(1, 41):  # snapshot inserts, 2 partitions
        broker.produce(topic, k % 2, env(k, float(k), "insert", 1000))
    for k in range(3, 41, 3):  # updates
        broker.produce(topic, k % 2, env(k, k + 0.5, "update", 2000))
    for k in range(5, 41, 5):  # deletes
        broker.produce(topic, k % 2, env(k, 0.0, "delete", 3000))

    source = SourceConfig(
        name="maxwell", kind="maxwell",
        kafka_server="fake:9092", kafka_topic=topic,
    )
    opts = pl.kafka_reader_options(source, max_events=25)
    schema = StructType().add("k", "long").add("price", "double")

    def apply_batches(src, target, first_batch_id, max_batches=None):
        """The foreachBatch body, driven by fake pulls: pulled rows →
        the kafka-shape frame `_open_stream` emits → parse_maxwell →
        the route's latest-state step."""
        batch_id = first_batch_id
        step = pl._merge_step(4)(target, pl.TableSpec(schema, ("k",), ("k", "price")), True)
        while max_batches is None or batch_id - first_batch_id < max_batches:
            recs = src.pull_batch()
            if not recs:
                break
            assert len(recs) <= 25  # maxOffsetsPerTrigger honored
            raw = spark.createDataFrame(
                [(v, p, o) for p, o, v in recs],
                "value string, src_partition long, src_offset long",
            )
            step(parse_maxwell(raw, "value", schema, ("k",)), batch_id)
            batch_id += 1
        return batch_id

    def state_rows(target):
        return sorted(
            (r.k, r.price) for r in pl.read_state(spark, target).collect()
        )

    # --- run 1: consume TWO micro-batches, then 'crash' -------------
    target_a = str(tmp_path / "target_a")
    src1 = FakeKafkaSource(broker, opts)
    next_id = apply_batches(src1, target_a, first_batch_id=0, max_batches=2)
    committed_positions = dict(src1.positions)  # the checkpoint
    assert snapshot(target_a).batch_id == next_id - 1

    # restart: a NEW consumer resumes from the checkpointed positions
    # (NOT from any broker-side group offset) and drains the topic
    src2 = FakeKafkaSource(broker, opts)
    src2.positions = committed_positions
    apply_batches(src2, target_a, first_batch_id=next_id)

    # --- run 2: cold replay from earliest into a fresh target -------
    target_b = str(tmp_path / "target_b")
    apply_batches(FakeKafkaSource(broker, opts), target_b, first_batch_id=0)

    expected = sorted(
        (k, k + 0.5 if k % 3 == 0 else float(k)) for k in range(1, 41) if k % 5 != 0
    )
    assert state_rows(target_a) == expected
    assert state_rows(target_b) == expected

    # --- replay-from-committed idempotency: re-pull the LAST batch --
    # (restart from a stale checkpoint — the batch was already merged)
    src3 = FakeKafkaSource(broker, opts)
    src3.positions = committed_positions
    apply_batches(src3, target_a, first_batch_id=next_id)  # re-applies
    assert state_rows(target_a) == expected

    # the source NEVER commits to the broker's consumer group
    assert broker.group_commits == []
