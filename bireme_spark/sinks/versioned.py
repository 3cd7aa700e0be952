"""The bucket-versioned parquet sink: the on-disk format a CDC batch is
committed into, and the one place that knows it. bireme's loader owns
the same thing — how a batch becomes visible, via DELETE+COPY in one
transaction (``ChangeLoader.java:205-330``).

Layout — PK-hash-bucketed versioned parquet, at most one delta, and
an atomic manifest commit:

    <target>/_sb=<b>/_sv=<n>/part-*.parquet   ← ONE data file per version
    <target>/_delta/_sv=<n>/part-*.parquet    ← ONE file: keys changed
                                                since the last fold
    <target>/_manifest.json        ← bucket→version map, the delta
                                     version, the key columns and the
                                     column DDL; os.replace'd once per
                                     batch (the commit point)

Every read is pinned to the manifest's column DDL (``spark.read.schema``),
so no read starts a parquet schema-inference job: a manifest that names
a bucket or a delta without its DDL is corrupt.

The layout dir names ``_sb``/``_sv``/``_delta`` are reserved,
collision-proof names: user tables may have columns named
``bucket``/``v``.

The manifest is the ONLY source of committed state (``snapshot``): a
bucket the manifest does not list has no committed version, a delta
it does not name is not committed, and a target without a manifest is
empty. Version dirs on disk are never read to guess what was
committed — a crashed batch's dirs stay invisible until a retry
supersedes them or ``vacuum_versions`` reaps them.

Committed rows are the buckets ⊕ the delta. The delta holds one row
per key changed since the last fold, in the compacted batch's shape —
the key columns, the payload, ``in_insert`` (False: a tombstone) and
``_sb``. ``apply_delta`` — the DELETE+COPY step: anti-join on the key,
then union the live rows — is how every reader applies it and how a
fold merges it into the buckets.

Commit — ``stage(...) → versions``, then ``write_manifest(target_dir,
versions, batch_id)``. A latest-state batch first computes delta′: the
committed delta without the batch's keys, plus the batch's rows. Then
it either

* **appends** — while the committed delta is smaller on disk than the
  mean committed bucket (``appends``): delta′ is written as the next
  delta version, one file, and every bucket keeps its version; or
* **folds** — delta′ is merged into exactly delta′'s buckets, each
  staged as its next version, and the commit names no delta.

Staging slots the new dirs in, invisible to readers, and the one
manifest replace flips them all at once (readers see the whole batch
or none of it). Copy-on-write callers (SCD2, erase, the maintenance
queries) stage buckets only.

A batch's write cost follows the files it writes, not its rows (a
500-row and a 30k-row write of 16 bucket files cost about the same),
so an append writes ONE small file and reads no bucket; a fold
rewrites only the buckets its delta touches. On a cluster you'd swap
this sink for Delta/Iceberg MERGE (same plan with atomic commit and
merge-on-read deletes) or a Greenplum/JDBC DELETE+COPY writer;
versioned bucket dirs keep the test environment dependency-free while
exercising the same incremental plan.
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

from bireme_spark.operators.cdc import apply_changes

_MANIFEST = "_manifest.json"
_DELTA = "_delta"
# the delta's insert-or-tombstone flag: the compacted batch's own column
LIVE = "in_insert"


def bucket_dir(target_dir: str, b: int) -> str:
    return f"{target_dir}/_sb={b}"


def version_dir(target_dir: str, b: int, v: int) -> str:
    return f"{target_dir}/_sb={b}/_sv={v}"


def delta_dir(target_dir: str, v: int) -> str:
    return f"{target_dir}/{_DELTA}/_sv={v}"


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


class Versions(dict):
    """What one commit records: bucket→version, plus the delta version
    (None: the buckets hold every committed row), the key columns the
    delta applies on, and the column DDL of the committed rows (every
    read's schema; None only while nothing is committed). The extra
    fields ride inside the map because the commit is
    ``write_manifest(target_dir, versions, batch_id)``."""

    def __init__(self, buckets=(), delta: int | None = None, key_cols: Sequence[str] = (),
                 ddl: str | None = None) -> None:
        super().__init__(buckets)
        self.delta = delta
        self.key_cols = tuple(key_cols)
        self.ddl = ddl


class Snapshot(NamedTuple):
    """The committed state of a target: its ``Versions``, and the
    batch_id of the commit (None when nothing is committed)."""

    versions: Versions
    batch_id: int | None


def snapshot(target_dir: str) -> Snapshot:
    """The last manifest commit. No manifest means nothing is committed
    (an empty snapshot). A manifest that EXISTS but cannot be parsed,
    or names a bucket or a delta without the column DDL, raises:
    guessing from the version dirs would adopt uncommitted orphan
    versions as committed state — the exact exposure the manifest
    prevents."""
    path = os.path.join(target_dir, _MANIFEST)
    if not os.path.exists(path):
        return Snapshot(Versions(), None)
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        versions = doc["versions"] if isinstance(doc, dict) else None
        if not isinstance(versions, dict):
            raise ValueError("manifest body is not {versions: {...}}")
        batch, delta = doc.get("committed_batch"), doc.get("delta")
        ddl = doc.get("ddl")
        if (versions or delta is not None) and not isinstance(ddl, str):
            raise ValueError("manifest names committed files but no column ddl")
        return Snapshot(
            Versions(
                {int(k): int(v) for k, v in versions.items()},
                int(delta) if delta is not None else None,
                [str(k) for k in doc.get("key_cols", ())],
                ddl,
            ),
            int(batch) if batch is not None else None,
        )
    except (OSError, ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"corrupt sink manifest {path!r}: {e} — refusing to guess the "
            "committed state from the version dirs (it could surface "
            "uncommitted batches); restore the manifest"
        ) from e


def write_manifest(target_dir: str, versions: Versions, batch_id: int) -> None:
    """THE commit point of a batch: the bucket version dirs and the
    delta are staged first, then this single ``os.replace`` (atomic on
    POSIX) flips them all at once. Readers see the whole batch or none
    of it — per-bucket renames alone expose mixed versions to a reader
    that lands mid-batch, and a crash between renames would otherwise
    make the half-written state look current."""
    doc = {"committed_batch": batch_id, "versions": {str(k): v for k, v in versions.items()}}
    if versions.delta is not None:
        doc["delta"] = versions.delta
    if versions.key_cols:
        doc["key_cols"] = list(versions.key_cols)
    if versions.ddl is not None:
        doc["ddl"] = versions.ddl
    os.makedirs(target_dir, exist_ok=True)
    tmp = os.path.join(target_dir, f".{_MANIFEST}.tmp-{batch_id}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(target_dir, _MANIFEST))


def read_base(
    spark: SparkSession,
    target_dir: str,
    versions: Versions,
    buckets: Sequence[int] | None = None,
) -> DataFrame | None:
    """The committed bucket versions of ``buckets`` (every bucket when
    None) with their ``_sb`` bucket column, without the delta; None when
    none of them holds a committed version. The read is pruned to those
    version dirs and pinned to the manifest's DDL."""
    paths = [
        p
        for b, v in sorted(versions.items())
        if (buckets is None or b in buckets) and os.path.isdir(p := version_dir(target_dir, b, v))
    ]
    if not paths:
        return None
    reader = spark.read.schema(versions.ddl).option("basePath", target_dir)
    return reader.parquet(*paths).drop("_sv")


def read_delta(spark: SparkSession, target_dir: str, versions: Versions) -> DataFrame | None:
    """The committed delta (key columns, payload, ``in_insert``,
    ``_sb``), or None when the commit names no delta."""
    if versions.delta is None:
        return None
    ddl = f"{versions.ddl}, {LIVE} boolean, _sb int"
    return spark.read.schema(ddl).parquet(delta_dir(target_dir, versions.delta))


def apply_delta(base: DataFrame, delta: DataFrame, keys: Sequence[str]) -> DataFrame:
    """base ⊕ delta, the DELETE+COPY step every reader and the fold
    share: drop each base row whose key the delta holds, then add the
    delta's live rows. Both sides and the result carry ``_sb``."""
    return apply_changes(base, delta, keys, keys)


def read_buckets(
    spark: SparkSession, target_dir: str, versions: Versions | None = None
) -> DataFrame | None:
    """Every committed row with its ``_sb`` bucket column — the buckets
    ⊕ the delta — or None when nothing is committed. ``versions`` is the
    caller's snapshot (read from the manifest when None). A commit names
    a delta only once a bucket is committed (``appends``)."""
    versions = snapshot(target_dir).versions if versions is None else versions
    base = read_base(spark, target_dir, versions)
    delta = read_delta(spark, target_dir, versions)
    return base if delta is None else apply_delta(base, delta, versions.key_cols)


def read_state(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Latest synced state: every bucket's committed version ⊕ the delta."""
    state = read_buckets(spark, target_dir)
    return None if state is None else state.drop("_sb")


def _bytes(path: str) -> int:
    """Bytes of the data files in one version dir."""
    if not os.path.isdir(path):
        return 0
    names = (n for n in os.listdir(path) if not n.startswith((".", "_")))
    return sum(os.path.getsize(os.path.join(path, n)) for n in names)


def appends(target_dir: str, versions: Versions) -> bool:
    """Whether a latest-state batch appends its delta′ (True) or folds
    it into the buckets: it appends while the committed delta is
    smaller on disk than the mean committed bucket, so a reader never
    applies much more than a bucket's worth of delta. Derived from the
    files, not set: a target with no bucket yet always folds."""
    if not versions:
        return False
    mean = sum(_bytes(version_dir(target_dir, b, v)) for b, v in versions.items()) / len(versions)
    delta = 0 if versions.delta is None else _bytes(delta_dir(target_dir, versions.delta))
    return delta < mean


class StaleWriterError(RuntimeError):
    """A writer presented a batch_id OLDER than the committed one —
    the zombie-writer signature (a superseded job attempting to
    clobber a newer epoch's commit). The sink refuses; only the
    current epoch may advance the manifest."""


def _next_version(parent: str, committed: int | None) -> tuple[int, list[int]]:
    """The next ``_sv`` under ``parent`` — past any orphan dirs a crashed
    attempt left behind — and the versions present now."""
    present = _dir_ints(parent, "_sv")
    return max([*present, committed or 0]) + 1, present


def stage(
    spark: SparkSession,
    target_dir: str,
    rows: DataFrame | None,
    changed: Sequence[int],
    batch_id: int,
    fence: bool = False,
    *,
    snap: Snapshot | None = None,
    delta: DataFrame | None = None,
    keys: Sequence[str] | None = None,
) -> Versions:
    """Stage one commit and return the ``Versions`` to commit with
    ``write_manifest``: the next version of every ``changed`` bucket from
    ``rows`` (which carry their ``_sb`` bucket column), and ``delta`` as
    the next delta version. With ``delta=None`` the commit names no
    delta: a caller that rewrites buckets of a target with a delta
    folds or restages it. ``snap`` is the caller's snapshot (read from
    the manifest when None); ``keys`` are the key columns the delta
    applies on (the snapshot's when None).

    One job writes every changed bucket's rows, clustered by ``_sb``
    before ``partitionBy`` so each bucket's rows land in one task:
    every committed ``_sv=`` version holds exactly ONE data file (a
    reader opens ``|buckets|`` files, not tasks × buckets). This
    clustering is the write's only shuffle. Renames slot each bucket
    dir in as its next version (empty buckets — all keys deleted — get
    an explicit empty version so stale state clears). The delta is one
    file written straight into its next version dir. Retention keeps
    (committed, next): readers holding the old manifest keep their
    snapshot, anything older — including orphan versions from a
    crashed batch that never reached its manifest commit — is garbage.

    Crash/retry safety: a batch that dies after some renames leaves
    orphan v-dirs but the manifest still points at the committed
    state, so the retry reads the SAME base it read the first time
    (the next version skips past orphans to avoid collisions)."""
    # OPT-IN writer fencing (Delta txn-version twin): with fence=True a
    # batch_id BELOW the committed one is treated as a zombie — a
    # superseded writer epoch racing a newer one — and refused. EQUAL
    # is always allowed (a foreachBatch retry replays the same
    # batch_id; merges are value-idempotent on the same input). The
    # default stays unfenced because deliberate FULL REPLAY after
    # checkpoint loss re-presents old batch ids by design
    # (tests/test_streaming.py replay-idempotence contract) — fence
    # only when writer epochs are externally managed.
    versions, committed_batch = snapshot(target_dir) if snap is None else snap
    if fence and committed_batch is not None and batch_id < committed_batch:
        raise StaleWriterError(
            f"stale writer fenced: batch {batch_id} < committed {committed_batch}"
            f" at {target_dir!r}"
        )
    out = Versions(versions, None, versions.key_cols if keys is None else keys, versions.ddl)
    if changed:
        out.ddl = rows.drop("_sb").schema.toDDL()
        staging = f"{target_dir}/.staging-{batch_id}"
        rows.repartition("_sb").write.partitionBy("_sb").mode("overwrite").parquet(staging)
        for b in changed:
            bdir = bucket_dir(target_dir, b)
            committed = versions.get(b)
            next_v, present = _next_version(bdir, committed)
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
            out[b] = next_v
        shutil.rmtree(staging, ignore_errors=True)
    if delta is not None:
        out.ddl = out.ddl or delta.drop(LIVE, "_sb").schema.toDDL()
        out.delta, present = _next_version(f"{target_dir}/{_DELTA}", versions.delta)
        delta.coalesce(1).write.parquet(delta_dir(target_dir, out.delta))
        for v in present:
            if v < (versions.delta or out.delta):
                shutil.rmtree(delta_dir(target_dir, v), ignore_errors=True)
    return out


def vacuum_versions(target_dir: str, keep: int = 1) -> dict[str, int]:
    """Sink VACUUM (Delta ``VACUUM`` / Iceberg ``expire_snapshots``
    twin): reap (a) ORPHAN version dirs above the committed version
    (every version of a bucket the manifest does not list, every delta
    when it names none) — debris of batches that crashed between
    staging and the manifest commit, or deltas a fold superseded (safe
    to drop: ``stage`` versions past any existing dir, committed state
    never references them) — and (b) SUPERSEDED versions beyond a
    retention window of ``keep`` versions up to and including the
    committed one (readers pinned to an older manifest snapshot need
    ``keep > 1`` to keep their basis alive; the committed version
    itself is never deleted). The delta dir's versions count like one
    more bucket's, but not in ``n_buckets``.

    Metadata-only: walks version DIRECTORIES, no data read — at any
    scale this is an O(#buckets) filesystem pass, never a Spark job.
    Returns exact counts so a scheduler can alert on runaway debris.
    """
    versions = snapshot(target_dir).versions
    stats = dict.fromkeys(
        ("n_buckets", "versions_before", "versions_after", "orphans_removed", "superseded_removed"),
        0,
    )
    series = [(bucket_dir(target_dir, b), versions.get(b, 0)) for b in _dir_ints(target_dir, "_sb")]
    stats["n_buckets"] = len(series)
    series.append((f"{target_dir}/{_DELTA}", versions.delta or 0))
    for parent, committed in series:
        vs = _dir_ints(parent, "_sv")
        stats["versions_before"] += len(vs)
        retained_floor_idx = max(0, len([v for v in vs if v <= committed]) - keep)
        retained = set(vs[retained_floor_idx:])
        for v in vs:
            if v > committed:
                shutil.rmtree(f"{parent}/_sv={v}", ignore_errors=True)
                stats["orphans_removed"] += 1
            elif v not in retained:
                shutil.rmtree(f"{parent}/_sv={v}", ignore_errors=True)
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

    1. ONE scan of the committed state (buckets ⊕ delta) aggregates
       per-bucket match counts (map-side combined; O(#buckets) rows to
       the driver) — buckets with zero matches are left byte-identical,
       keeping the erase cost proportional to the AFFECTED data, not
       the sink.
    2. Only affected buckets are re-read (partition-pruned via the
       retained ``_sb`` dir column), filtered to survivors, and
       staged as each bucket's next version. Their delta rows are now
       folded in, so the delta is restaged without them. ONE atomic
       manifest replace commits the whole erase, so a reader never
       sees a half-erased sink and a crashed erase leaves only
       reapable orphans.

    A NULL predicate keeps the row (DELETE semantics: the condition
    must be TRUE to fire — the merge_into contract). Idempotent: a
    re-run finds zero matches and rewrites nothing. Returns exact
    counts so an erasure job can be audited."""
    stats = {"n_buckets": 0, "buckets_rewritten": 0, "rows_erased": 0, "rows_kept": 0}
    snap = snapshot(target_dir)
    state = read_buckets(spark, target_dir, snap.versions)
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
    stats["n_buckets"] = len(snap.versions)
    affected = sorted(int(r["_sb"]) for r in per_bucket if r["n_match"] > 0)
    stats["rows_erased"] = int(sum(r["n_match"] for r in per_bucket))
    stats["rows_kept"] = int(sum(r["n_rows"] - r["n_match"] for r in per_bucket))
    stats["buckets_rewritten"] = len(affected)
    if affected:
        kept = state.where(F.col("_sb").isin(affected)).where(~hit)
        delta = read_delta(spark, target_dir, snap.versions)
        if delta is not None:
            delta = delta.where(~F.col("_sb").isin(affected))
        versions = stage(spark, target_dir, kept, affected, batch_id, snap=snap, delta=delta)
        write_manifest(target_dir, versions, batch_id)
    return stats


def _link_files(src: str, dst: str, stats: dict[str, int]) -> None:
    """Hardlink every file of dir ``src`` into a new dir ``dst``."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
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


def shallow_clone(src_dir: str, dst_dir: str, batch_id: int = 1) -> dict[str, int]:
    """Zero-copy snapshot clone (Delta ``CREATE TABLE ... SHALLOW
    CLONE`` twin for the manifest sink): replicate ONLY the committed
    version dir of each bucket, and the committed delta, by HARDLINKING
    their files (same-device; falls back to a byte copy across
    filesystems), then commit the clone with one atomic manifest write.
    Correctness rests on the sink's immutability contract — writers
    always stage a NEW ``_sv=`` dir and never mutate committed files —
    so origin and clone share bytes safely: a later erase/compact/merge
    on either side rewrites into fresh dirs, and reaping an origin dir
    only drops a directory entry (the clone's links keep the inodes
    alive).

    Metadata-only cost: O(#files) link() calls, no data read, no
    Spark job — cloning a 100 TB sink is a filesystem pass. Returns
    exact counts so a caller can assert zero-copy (files_copied ==
    0 on one device)."""
    versions = snapshot(src_dir).versions
    stats = {"n_buckets": len(versions), "files_linked": 0, "files_copied": 0, "bytes_shared": 0}
    for b, v in sorted(versions.items()):
        _link_files(version_dir(src_dir, b, v), version_dir(dst_dir, b, v), stats)
    if versions.delta is not None:
        _link_files(delta_dir(src_dir, versions.delta), delta_dir(dst_dir, versions.delta), stats)
    write_manifest(dst_dir, versions, batch_id)
    return stats
