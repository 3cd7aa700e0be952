"""The bucket-versioned parquet sink: the on-disk format a CDC batch is
committed into, and the one place that knows it. bireme's loader owns
the same thing — how a batch becomes visible, via DELETE+COPY in one
transaction (``ChangeLoader.java:205-330``).

Layout — PK-hash-bucketed versioned parquet with an atomic manifest
commit:

    <target>/_sb=<b>/_sv=<n>/part-*.parquet   ← ONE data file per version
    <target>/_manifest.json        ← bucket→version map, os.replace'd
                                     once per batch (the commit point)

The layout dir prefixes ``_sb``/``_sv`` are reserved, collision-proof
names: user tables may have columns named ``bucket``/``v``.

The manifest is the ONLY source of committed state (``snapshot``): a
bucket the manifest does not list has no committed version, and a
target without a manifest is empty. Version dirs on disk are never
read to guess what was committed — a crashed batch's dirs stay
invisible until a retry supersedes them or ``vacuum_versions`` reaps
them.

Commit — ``stage(...) → versions``, then ``write_manifest(target_dir,
versions, batch_id)``: staging slots each changed bucket's next version
in, invisible to readers, and the one manifest replace flips them all
at once (readers see the whole batch or none of it).

Only changed buckets are read or written, so per-batch write
amplification is O(|changed buckets|), not O(|base|). On a cluster
you'd swap this sink for Delta/Iceberg MERGE (same bucket-pruned plan
with atomic commit) or a Greenplum/JDBC DELETE+COPY writer; versioned
bucket dirs keep the test environment dependency-free while exercising
the same incremental plan.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_manifest.json"


def bucket_dir(target_dir: str, b: int) -> str:
    return f"{target_dir}/_sb={b}"


def version_dir(target_dir: str, b: int, v: int) -> str:
    return f"{target_dir}/_sb={b}/_sv={v}"


def _dir_ints(parent: str, prefix: str) -> list[int]:
    """The ``n`` of every ``<prefix>=<n>`` dir under ``parent``, ascending."""
    if not os.path.isdir(parent):
        return []
    head = prefix + "="
    ns = (d.removeprefix(head) for d in os.listdir(parent) if d.startswith(head))
    return sorted(int(n) for n in ns if n.isdigit())


def bucket_col(key, num_buckets: int):
    """PK-hash bucket: hash the STRING form of the key so base rows
    (typed PK) and changelog rows (concatenated string key) agree.
    ``key`` is a column name or a Column."""
    key = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(num_buckets)).cast("int")


class Snapshot(NamedTuple):
    """The committed state of a target: bucket→version, and the
    batch_id of the commit (None when nothing is committed)."""

    versions: dict[int, int]
    batch_id: int | None


def snapshot(target_dir: str) -> Snapshot:
    """The last manifest commit. No manifest means nothing is committed
    (an empty snapshot). A manifest that EXISTS but cannot be parsed
    raises: guessing from the version dirs would adopt uncommitted
    orphan versions as committed state — the exact exposure the
    manifest prevents."""
    path = os.path.join(target_dir, _MANIFEST)
    if not os.path.exists(path):
        return Snapshot({}, None)
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        versions = doc["versions"] if isinstance(doc, dict) else None
        if not isinstance(versions, dict):
            raise ValueError("manifest body is not {versions: {...}}")
        batch = doc.get("committed_batch")
        return Snapshot(
            {int(k): int(v) for k, v in versions.items()},
            int(batch) if batch is not None else None,
        )
    except (OSError, ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"corrupt sink manifest {path!r}: {e} — refusing to guess the "
            "committed state from the version dirs (it could surface "
            "uncommitted batches); restore the manifest"
        ) from e


def write_manifest(target_dir: str, versions: dict[int, int], batch_id: int) -> None:
    """THE commit point of a batch: the bucket version dirs are staged
    first, then this single ``os.replace`` (atomic on POSIX) flips
    every bucket at once. Readers see the whole batch or none of it —
    per-bucket renames alone expose mixed versions to a reader that
    lands mid-batch, and a crash between renames would otherwise make
    the half-written state look current."""
    os.makedirs(target_dir, exist_ok=True)
    tmp = os.path.join(target_dir, f".{_MANIFEST}.tmp-{batch_id}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(
            {"committed_batch": batch_id, "versions": {str(k): v for k, v in versions.items()}},
            f,
        )
    os.replace(tmp, os.path.join(target_dir, _MANIFEST))


def read_buckets(
    spark: SparkSession, target_dir: str, buckets: Sequence[int] | None = None
) -> DataFrame | None:
    """The committed rows of ``buckets`` (every bucket when None) with
    their ``_sb`` bucket column, or None when none of them holds a
    committed version. The read is pruned to those version dirs."""
    paths = [
        p
        for b, v in sorted(snapshot(target_dir).versions.items())
        if (buckets is None or b in buckets) and os.path.isdir(p := version_dir(target_dir, b, v))
    ]
    if not paths:
        return None
    return spark.read.option("basePath", target_dir).parquet(*paths).drop("_sv")


def read_state(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Latest synced state: union of every bucket's committed version."""
    state = read_buckets(spark, target_dir)
    return None if state is None else state.drop("_sb")


class StaleWriterError(RuntimeError):
    """A writer presented a batch_id OLDER than the committed one —
    the zombie-writer signature (a superseded job attempting to
    clobber a newer epoch's commit). The sink refuses; only the
    current epoch may advance the manifest."""


def stage(
    spark: SparkSession,
    target_dir: str,
    rows: DataFrame,
    changed: Sequence[int],
    batch_id: int,
    fence: bool = False,
) -> dict[int, int]:
    """Write the next version of every ``changed`` bucket from ``rows``
    (which carry their ``_sb`` bucket column) and return the
    bucket→version map to commit with ``write_manifest``.

    One job writes every changed bucket's rows, clustered by ``_sb``
    before ``partitionBy`` so each bucket's rows land in one task:
    every committed ``_sv=`` version holds exactly ONE data file (a
    reader opens ``|buckets|`` files, not tasks × buckets). This
    clustering is the write's only shuffle. Renames slot each bucket
    dir in as its next version (empty buckets — all keys deleted — get
    an explicit empty version so stale state clears). Retention keeps
    (committed, next): readers holding the old manifest keep their
    snapshot, anything older — including orphan versions from a
    crashed batch that never reached its manifest commit — is garbage.

    Crash/retry safety: a batch that dies after some renames leaves
    orphan v-dirs but the manifest still points at the committed
    state, so the retry reads the SAME base it read the first time
    (``next_v`` skips past orphans to avoid collisions)."""
    # OPT-IN writer fencing (Delta txn-version twin): with fence=True a
    # batch_id BELOW the committed one is treated as a zombie — a
    # superseded writer epoch racing a newer one — and refused. EQUAL
    # is always allowed (a foreachBatch retry replays the same
    # batch_id; merges are value-idempotent on the same input). The
    # default stays unfenced because deliberate FULL REPLAY after
    # checkpoint loss re-presents old batch ids by design
    # (tests/test_streaming.py replay-idempotence contract) — fence
    # only when writer epochs are externally managed.
    versions, committed_batch = snapshot(target_dir)
    if fence and committed_batch is not None and batch_id < committed_batch:
        raise StaleWriterError(
            f"stale writer fenced: batch {batch_id} < committed {committed_batch}"
            f" at {target_dir!r}"
        )
    staging = f"{target_dir}/.staging-{batch_id}"
    rows.repartition("_sb").write.partitionBy("_sb").mode("overwrite").parquet(staging)
    for b in changed:
        bdir = bucket_dir(target_dir, b)
        committed = versions.get(b)
        present = _dir_ints(bdir, "_sv")
        # past any orphan dirs a crashed attempt left behind
        next_v = max([*present, committed or 0]) + 1
        os.makedirs(bdir, exist_ok=True)
        src = bucket_dir(staging, b)
        if os.path.isdir(src):
            os.rename(src, version_dir(target_dir, b, next_v))
        else:
            empty = spark.createDataFrame([], rows.drop("_sb").schema)
            empty.write.parquet(version_dir(target_dir, b, next_v))
        for v in present:
            if v < (committed or next_v):
                shutil.rmtree(version_dir(target_dir, b, v), ignore_errors=True)
        versions[b] = next_v
    shutil.rmtree(staging, ignore_errors=True)
    return versions


def vacuum_versions(target_dir: str, keep: int = 1) -> dict[str, int]:
    """Sink VACUUM (Delta ``VACUUM`` / Iceberg ``expire_snapshots``
    twin): reap (a) ORPHAN version dirs above the committed version
    (every version of a bucket the manifest does not list) — debris of
    batches that crashed between the per-bucket renames and the
    manifest commit (safe to drop: ``stage`` computes ``next_v`` past
    any existing dir, committed state never references them) — and
    (b) SUPERSEDED versions beyond a retention window of ``keep``
    versions up to and including the committed one (readers pinned to
    an older manifest snapshot need ``keep > 1`` to keep their basis
    alive; the committed version itself is never deleted).

    Metadata-only: walks version DIRECTORIES, no data read — at any
    scale this is an O(#buckets) filesystem pass, never a Spark job.
    Returns exact counts so a scheduler can alert on runaway debris.
    """
    committed_of = snapshot(target_dir).versions
    stats = dict.fromkeys(
        ("n_buckets", "versions_before", "versions_after", "orphans_removed", "superseded_removed"),
        0,
    )
    for b in _dir_ints(target_dir, "_sb"):
        committed = committed_of.get(b, 0)
        vs = _dir_ints(bucket_dir(target_dir, b), "_sv")
        stats["n_buckets"] += 1
        stats["versions_before"] += len(vs)
        retained_floor_idx = max(0, len([v for v in vs if v <= committed]) - keep)
        retained = set(vs[retained_floor_idx:])
        for v in vs:
            if v > committed:
                shutil.rmtree(version_dir(target_dir, b, v), ignore_errors=True)
                stats["orphans_removed"] += 1
            elif v not in retained:
                shutil.rmtree(version_dir(target_dir, b, v), ignore_errors=True)
                stats["superseded_removed"] += 1
            else:
                stats["versions_after"] += 1
    return stats


def erase_predicate(
    spark: SparkSession,
    target_dir: str,
    predicate,
    batch_id: int,
) -> dict[str, int]:
    """GDPR / retention erase — DELETE every committed row matching
    ``predicate`` (a Column or SQL string), the maintenance verb a
    warehouse operator reaches for next to compaction and vacuum
    (Delta ``DELETE FROM t WHERE ...`` twin for the manifest sink).

    Two-phase, bucket-minimal:

    1. ONE scan of the committed state aggregates per-bucket match
       counts (map-side combined; O(#buckets) rows to the driver) —
       buckets with zero matches are left byte-identical, keeping the
       erase cost proportional to the AFFECTED data, not the sink.
    2. Only affected buckets are re-read (partition-pruned via the
       retained ``_sb`` dir column), filtered to survivors, and
       staged as each bucket's next version; ONE atomic manifest
       replace commits the whole erase, so a reader never sees a
       half-erased sink and a crashed erase leaves only reapable
       orphans.

    A NULL predicate keeps the row (DELETE semantics: the condition
    must be TRUE to fire — the merge_into contract). Idempotent: a
    re-run finds zero matches and rewrites nothing. Returns exact
    counts so an erasure job can be audited."""
    stats = {"n_buckets": 0, "buckets_rewritten": 0, "rows_erased": 0, "rows_kept": 0}
    state = read_buckets(spark, target_dir)
    if state is None:
        return stats
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    hit = F.coalesce(cond, F.lit(False))
    per_bucket = (
        state.groupBy("_sb")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).alias("n_match"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    )
    stats["n_buckets"] = len(snapshot(target_dir).versions)
    affected = sorted(int(r["_sb"]) for r in per_bucket if r["n_match"] > 0)
    stats["rows_erased"] = int(sum(r["n_match"] for r in per_bucket))
    stats["rows_kept"] = int(sum(r["n_rows"] - r["n_match"] for r in per_bucket))
    stats["buckets_rewritten"] = len(affected)
    if affected:
        kept = state.where(F.col("_sb").isin(affected)).where(~hit)
        write_manifest(target_dir, stage(spark, target_dir, kept, affected, batch_id), batch_id)
    return stats


def shallow_clone(src_dir: str, dst_dir: str, batch_id: int = 1) -> dict[str, int]:
    """Zero-copy snapshot clone (Delta ``CREATE TABLE ... SHALLOW
    CLONE`` twin for the manifest sink): replicate ONLY the committed
    version dir of each bucket by HARDLINKING its files (same-device;
    falls back to a byte copy across filesystems), then commit the
    clone with one atomic manifest write. Correctness rests on the
    sink's immutability contract — writers always stage a NEW
    ``_sv=`` dir and never mutate committed files — so origin and
    clone share bytes safely: a later erase/compact/merge on either
    side rewrites into fresh dirs, and reaping an origin dir only
    drops a directory entry (the clone's links keep the inodes
    alive).

    Metadata-only cost: O(#files) link() calls, no data read, no
    Spark job — cloning a 100 TB sink is a filesystem pass. Returns
    exact counts so a caller can assert zero-copy (files_copied ==
    0 on one device)."""
    versions = snapshot(src_dir).versions
    stats = {"n_buckets": len(versions), "files_linked": 0, "files_copied": 0, "bytes_shared": 0}
    for b, v in sorted(versions.items()):
        src_v = version_dir(src_dir, b, v)
        dst_v = version_dir(dst_dir, b, v)
        os.makedirs(dst_v, exist_ok=True)
        for name in os.listdir(src_v):
            s, d = os.path.join(src_v, name), os.path.join(dst_v, name)
            if not os.path.isfile(s):
                continue
            try:
                os.link(s, d)
                stats["files_linked"] += 1
            except OSError as exc:
                # copy ONLY for cross-device / no-hardlink filesystems;
                # a pre-existing destination (EEXIST) means a dirty or
                # reused dst_dir and must fail, not be papered over
                if exc.errno not in (errno.EXDEV, errno.EPERM, errno.EOPNOTSUPP):
                    raise
                shutil.copy2(s, d)
                stats["files_copied"] += 1
            stats["bytes_shared"] += os.path.getsize(s)
    write_manifest(dst_dir, versions, batch_id)
    return stats
