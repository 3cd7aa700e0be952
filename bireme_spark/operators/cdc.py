"""CDC batch operators: compaction, apply (merge), snapshot, offset
dedup — the Spark-first re-expression of bireme's row-merge + load
path.

Reference semantics (studied, not copied):

- ``RowCache.java:158-216`` (RowBatchMerger): fold a batch of change
  rows in arrival order into a LoadTask with a *delete set* (keys
  seen as DELETE or UPDATE, incl. old PK on PK-change) and an
  *insert set* (last tuple per key unless the last op is DELETE).
- ``ChangeLoader.java:205-330``: apply = DELETE (delete set ∪ insert
  keys — the reference's pessimistic mode, the only one here) then
  COPY the insert set.

The reference folds sequentially per pipeline thread; here the fold
is a distributed aggregation: ``max_by`` over the (produce_time, seq)
ordering gives the last-write per key with map-side partial
aggregation — one shuffle on the PK hash, no driver-side loop, and
AQE handles skewed keys. At 100 TB the same plan holds: the changelog
shuffles once on PK; the base-table anti-join co-partitions on the
same key.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Canonical ChangeRow op codes (Row.java RowType INSERT/UPDATE/DELETE).
OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

# A ChangeRow's ``key`` is the primary key as one string: its parts
# cast to string and joined by a byte no key value carries, so a
# composite key's parts stay apart ((1, 12) is not (11, 2)). A
# one-column key is that column as a string.
KEY_SEP = "\x01"


def key_string(parts: Sequence[Column]) -> Column:
    """The ChangeRow ``key`` string of a primary key's columns."""
    return F.concat_ws(KEY_SEP, *[p.cast("string") for p in parts])


def _ord_struct(order_cols: Sequence[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def old_key_deleter(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
    old_key_col: str | None,
) -> Callable[[DataFrame], DataFrame]:
    """A PK-changing UPDATE as bireme folds it (``RowCache.java:194-205``):
    delete the old key, then write the new one. Each change row yields
    itself and, when its ``old_key_col`` is set, a synthetic DELETE of
    that old key with the row's order and payload columns — so in the
    old key's order it lands where the UPDATE does. One generator over
    one scan of the batch, no union; the frame returned has the key,
    op, order and payload columns. With ``old_key_col`` None the
    changes pass through."""
    if old_key_col is None:
        return lambda changes: changes
    key = key_cols[0]
    pk = F.posexplode(F.array(F.col(key), F.col(old_key_col))).alias("_syn", "_pk")
    synthetic = F.col("_syn") == 1
    kept = ~synthetic | F.col("_pk").isNotNull()
    out = [
        F.col("_pk").alias(key),
        F.when(synthetic, F.lit(OP_DELETE)).otherwise(F.col(op_col)).alias(op_col),
        *[F.col(c) for c in (*key_cols[1:], *order_cols, *payload_cols)],
    ]
    return lambda changes: changes.select("*", pk).where(kept).select(*out)


def compactor(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
    old_key_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """:func:`compact`, built once and applied per frame: a streaming
    runner that folds every micro-batch builds the column expressions
    (hundreds of py4j round trips) only once."""
    key_cols = list(key_cols)
    op = F.col(op_col)
    expand = old_key_deleter(key_cols, order_cols, op_col, payload_cols, old_key_col)
    aggs = [
        F.max_by(
            F.struct(op.alias("_op"), *[F.col(c).alias(c) for c in payload_cols]),
            _ord_struct(order_cols),
        ).alias("_last"),
        F.max(F.when(op.isin(OP_UPDATE, OP_DELETE), F.lit(1)).otherwise(F.lit(0))).alias(
            "_del_flag"
        ),
    ]
    final_op = F.col("_last._op")
    out = [
        *[F.col(c) for c in key_cols],
        final_op.alias("final_op"),
        (F.col("_del_flag") == 1).alias("in_delete"),
        (final_op != OP_DELETE).alias("in_insert"),
        *[F.when(final_op != OP_DELETE, F.col(f"_last.{c}")).alias(c) for c in payload_cols],
    ]

    def fold(changes: DataFrame) -> DataFrame:
        return expand(changes).groupBy(*key_cols).agg(*aggs).select(*out)

    return fold


def compact(
    changes: DataFrame,
    key_cols: Sequence[str] = ("key",),
    order_cols: Sequence[str] = ("produce_time_ms", "seq"),
    op_col: str = "op",
    payload_cols: Sequence[str] | None = None,
    old_key_col: str | None = None,
) -> DataFrame:
    """Fold a change batch into delete/insert membership per key.

    Returns one row per key:
    ``key_cols..., final_op, in_delete, in_insert, payload_cols...``
    where ``payload_cols`` carry the *last* tuple per key (null for
    keys whose final op is DELETE, mirroring LoadTask.insert).

    ``old_key_col``: when an UPDATE changes the PK, bireme deletes the
    old key and inserts the new one (``RowCache.java:194-205``). Each
    such row also yields a synthetic delete of its old key before
    folding (:func:`old_key_deleter`).
    """
    if payload_cols is None:
        skip = set(key_cols) | set(order_cols) | {op_col, old_key_col}
        payload_cols = [c for c in changes.columns if c not in skip]
    return compactor(key_cols, order_cols, op_col, payload_cols, old_key_col)(changes)


def apply_changes(
    base: DataFrame,
    compacted: DataFrame,
    base_key_cols: Sequence[str],
    compact_key_cols: Sequence[str] | None = None,
    payload_map: dict[str, str] | None = None,
) -> DataFrame:
    """DELETE + COPY merge (ChangeLoader.executeTask semantics): drop
    every base row whose key appears in the compacted batch (delete
    set ∪ insert keys), then append the insert set.

    This is always the reference's *pessimistic* mode. Its optimistic
    mode (``ChangeLoader.java:212-222``) skips the DELETE for a batch
    with no deletes or updates and relies on a primary-key violation
    to detect a wrong guess (``:283-290``). The sinks here get no such
    signal (parquet has no constraints, nor do the staging tables
    Spark's JDBC writer creates), so a skipped DELETE would corrupt
    silently whenever a batch is re-applied — a foreachBatch retry after a partial sink
    write, or a source that re-delivers an INSERT for an existing key.
    The unconditional anti-join is what makes DELETE+COPY idempotent
    per batch.

    ``payload_map`` maps base column → compacted payload column; keys
    map positionally from ``base_key_cols`` to ``compact_key_cols``.
    Scale: both sides hash-partition on the PK for the anti-join; the
    appended insert set is already compacted (unique per key).
    """
    if compact_key_cols is None:
        compact_key_cols = list(compacted.columns[: len(base_key_cols)])
    cond = None
    for b, c in zip(base_key_cols, compact_key_cols):
        clause = base[b] == compacted[c]
        cond = clause if cond is None else cond & clause
    survivors = base.join(compacted, cond, "left_anti")

    if payload_map is None:
        payload_map = {c: c for c in base.columns if c not in base_key_cols}
    types = {f.name: f.dataType.simpleString() for f in base.schema.fields}
    sources = {**dict(zip(base_key_cols, compact_key_cols)), **payload_map}
    inserts = compacted.where(compacted["in_insert"]).select(
        *[compacted[src].cast(types[dst]).alias(dst) for dst, src in sources.items()]
    )
    return survivors.unionByName(inserts)


def snapshot(
    changes: DataFrame,
    key_cols: Sequence[str] = ("key",),
    order_cols: Sequence[str] = ("produce_time_ms", "seq"),
    op_col: str = "op",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Changelog → current state: last write per key, dropping keys
    whose final op is DELETE. Single hash-aggregation, no window sort."""
    c = compact(changes, key_cols, order_cols, op_col, payload_cols)
    return c.where(F.col("in_insert")).drop("final_op", "in_delete", "in_insert")


def incremental_snapshot(
    chunks: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str] = ("key",),
    order_cols: Sequence[str] = ("produce_time_ms", "seq"),
    op_col: str = "op",
    watermark_col: str = "wm_ms",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """DBLog-style chunked-snapshot ∪ changelog reconciliation
    (Andreakis & Papapanagiotou, "DBLog: A Watermark Based Change-
    Data-Capture Framework", arXiv:2010.12597; the mechanism behind
    Debezium incremental snapshots). Bireme's initial load is a
    single big COPY before streaming starts; at 100 TB the snapshot
    must instead be read in PK-range chunks WHILE changes keep
    flowing, and a chunk's rows may be stale the moment they're read.

    Inputs: ``chunks`` — snapshot chunk reads carrying the payload
    plus ``watermark_col`` = the changelog position (first
    ``order_cols`` value) already reflected in that chunk's read;
    ``changes`` — the changelog (may include rows before the
    watermark; they're superseded by the chunk read).

    Rule per key: the last change STRICTLY AFTER the key's chunk
    watermark wins (DELETE ⇒ absent); otherwise the chunk row is
    current; a key in neither (or whose only history is a pre-
    watermark DELETE with no chunk row) is absent. The result equals
    a one-shot ``snapshot`` of the full history — chunking must be
    semantically invisible (property the oracle checks).

    Plan: one hash-agg of the changelog (max_by, map-side partial)
    and one full-outer sort-merge join, both keyed on the PK — the
    chunk frame is table-sized, so nothing is broadcast and no
    driver state exists; AQE splits skewed keys.
    """
    key_cols = list(key_cols)
    order_cols = list(order_cols)
    if payload_cols is None:
        payload_cols = [
            c
            for c in changes.columns
            if c not in set(key_cols) | set(order_cols) | {op_col}
        ]
    last = F.max_by(
        F.struct(
            F.col(op_col).alias("_op"),
            F.col(order_cols[0]).alias("_pos"),
            *[F.col(c).alias(c) for c in payload_cols],
        ),
        _ord_struct(order_cols),
    ).alias("_last")
    folded = changes.groupBy(*key_cols).agg(last)

    snap = chunks.select(
        *key_cols,
        F.col(watermark_col).alias("_wm"),
        F.lit(True).alias("_has_snap"),
        *[F.col(c).alias(f"_snap_{c}") for c in payload_cols],
    )
    j = folded.join(snap, on=key_cols, how="full_outer")
    use_change = F.col("_last").isNotNull() & (
        F.col("_wm").isNull() | (F.col("_last._pos") > F.col("_wm"))
    )
    alive = F.when(use_change, F.col("_last._op") != OP_DELETE).otherwise(
        F.coalesce(F.col("_has_snap"), F.lit(False))
    )
    return j.where(alive).select(
        *key_cols,
        *[
            F.when(use_change, F.col(f"_last.{c}"))
            .otherwise(F.col(f"_snap_{c}"))
            .alias(c)
            for c in payload_cols
        ],
    )


def incremental_sum_agg(
    base: DataFrame,
    compacted: DataFrame,
    base_key: str,
    compact_key: str,
    group_col: str,
    value_col: str,
    payload_group_col: str | None = None,
    payload_value_col: str | None = None,
) -> DataFrame:
    """Incremental view maintenance for a (group, SUM(value), COUNT)
    aggregate under a compacted changelog: instead of re-aggregating
    the merged base (ChangeLoader applies then Greenplum rescans),
    fold per-key deltas into the existing aggregate — remove each
    changed key's old contribution, add the new one.

    Returns ``(group_col, total, n)`` equal to aggregating
    ``apply_changes(base, compacted)`` — but the base is scanned once
    for old values and never re-aggregated: at 100 TB the work is
    sized by the changelog (join on PK + one tiny group shuffle), not
    the fact table. Sum inputs should be DECIMAL for exactness.
    """
    pg = payload_group_col or group_col
    pv = payload_value_col or value_col
    base_agg = base.groupBy(group_col).agg(
        F.sum(value_col).alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    old = base.select(
        F.col(base_key).alias("_bk"),
        F.col(group_col).alias("_og"),
        F.col(value_col).alias("_ov"),
    )
    keyed = compacted.withColumn("_ck", F.col(compact_key).cast(base.schema[base_key].dataType))
    # every compacted key that existed in base loses its old contribution
    removes = keyed.join(old, keyed["_ck"] == old["_bk"]).select(
        F.col("_og").alias(group_col),
        (-F.col("_ov")).alias("_d"),
        F.lit(-1).cast("bigint").alias("_dn"),
    )
    # every key whose final op is not DELETE gains its new contribution
    adds = keyed.where(F.col("in_insert")).select(
        F.col(pg).alias(group_col),
        F.col(pv).alias("_d"),
        F.lit(1).cast("bigint").alias("_dn"),
    )
    delta = (
        removes.unionByName(adds)
        .groupBy(group_col)
        .agg(F.sum("_d").alias("_dsum"), F.sum("_dn").alias("_dn"))
    )
    zero = F.lit(0).cast(base.schema[value_col].dataType)
    return (
        base_agg.join(delta, group_col, "full_outer")
        .select(
            group_col,
            (F.coalesce(F.col("_sum"), zero) + F.coalesce(F.col("_dsum"), zero)).alias("total"),
            (F.coalesce(F.col("_n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))).alias("n"),
        )
        .where(F.col("n") > 0)
    )


def scd2_versioner(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
    old_key_col: str | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """:func:`scd2`, built once and applied per frame (see
    :func:`compactor`)."""
    from pyspark.sql import Window

    expand = old_key_deleter(key_cols, order_cols, op_col, payload_cols, old_key_col)
    ts_col = order_cols[0]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    valid_to = F.lead(F.col(ts_col)).over(w).alias("valid_to")
    live = F.col(op_col) != OP_DELETE
    out = [
        *[F.col(c) for c in key_cols],
        *[F.col(c) for c in payload_cols],
        F.col(ts_col).alias("valid_from"),
        F.col("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    ]

    def version(changes: DataFrame) -> DataFrame:
        return expand(changes).select("*", valid_to).where(live).select(*out)

    return version


def scd2(
    changes: DataFrame,
    key_cols: Sequence[str] = ("key",),
    order_cols: Sequence[str] = ("produce_time_ms", "seq"),
    op_col: str = "op",
    payload_cols: Sequence[str] | None = None,
    old_key_col: str | None = None,
) -> DataFrame:
    """Changelog → SCD Type-2 history: every non-delete change becomes
    a version row valid over [valid_from, valid_to); ``valid_to`` is
    the next change's time for the same key (any op, including the
    closing DELETE), null while current.

    ``old_key_col``: an UPDATE that changes the PK also closes the old
    key's open version at its time, as :func:`compact` deletes it.

    Where ``apply_changes`` mirrors bireme's overwrite merge
    (``ChangeLoader.java:205-330``), this keeps the full history the
    warehouse side of such a sync typically materializes. One shuffle
    on the PK hash (same partitioning as compact/apply — at 100 TB the
    window sorts within each PK partition, no extra exchange).
    """
    if payload_cols is None:
        skip = set(key_cols) | set(order_cols) | {op_col, old_key_col}
        payload_cols = [c for c in changes.columns if c not in skip]
    return scd2_versioner(key_cols, order_cols, op_col, payload_cols, old_key_col)(changes)


def dedup_offsets(
    changes: DataFrame,
    identity_cols: Sequence[str] = ("source", "kafka_partition", "kafka_offset"),
) -> DataFrame:
    """Exactly-once replay protection: a Kafka re-read after a crash
    re-delivers (topic, partition, offset) rows (bireme relies on
    commitSync bookkeeping, ``KafkaPipeLine.java:141-182``); here we
    keep the first-arriving row per offset identity via min_by over
    the full row — deterministic, partial-aggregatable."""
    other = [c for c in changes.columns if c not in identity_cols]
    first = F.min_by(F.struct(*[F.col(c).alias(c) for c in other]), _ord_struct(list(other))).alias(
        "_first"
    )
    return (
        changes.groupBy(*identity_cols)
        .agg(first)
        .select(*identity_cols, *[F.col(f"_first.{c}").alias(c) for c in other])
    )


def merge_into(
    base: DataFrame,
    source: DataFrame,
    base_key_cols: Sequence[str],
    source_key_cols: Sequence[str],
    matched_delete=None,
    matched_update: dict[str, object] | None = None,
    matched_update_cond=None,
    not_matched_insert: dict[str, object] | None = None,
    not_matched_insert_cond=None,
) -> DataFrame:
    """General MERGE INTO (Delta/Iceberg/ANSI MERGE semantics) as ONE
    full-outer PK join — the warehouse-side generalization of bireme's
    DELETE+COPY (``ChangeLoader.java:205-330``), which only expresses
    "delete every changed key, re-insert survivors". MERGE keeps the
    untouched base row co-resident in the same shuffle, so conditional
    clauses can compare old vs new values:

    * ``matched_delete``       — Column over base+source; matched rows
                                 satisfying it are dropped.
    * ``matched_update``       — {base_col: Column} applied to matched
                                 rows (optionally gated by
                                 ``matched_update_cond``, e.g. "only if
                                 source price > target price"); other
                                 matched rows pass through unchanged.
    * ``not_matched_insert``   — {base_col: Column} building new rows
                                 from source-only keys (optionally
                                 gated by ``not_matched_insert_cond``).

    Condition/value Columns may reference both sides via the fixed
    aliases ``t`` (target/base) and ``s`` (source).

    Caller contract: ``source`` must be unique per key (run
    :func:`compact` first) — ANSI MERGE raises on multi-match;
    here the join would fan out instead, so compaction is mandatory.

    Scale: one full-outer shuffle join on the PK hash (both sides
    partition once; AQE skew-split handles hot keys). No second pass
    over the base, unlike DELETE+COPY's anti-join ∪ append — at 100 TB
    this halves the fact-table traffic for mixed batches.
    """
    t = base.alias("t")
    s = source.alias("s")
    cond = None
    for bk, sk in zip(base_key_cols, source_key_cols):
        clause = F.col(f"t.{bk}") == F.col(f"s.{sk}")
        cond = clause if cond is None else cond & clause
    joined = t.join(s, cond, "full_outer")

    # matched ⇔ both sides' key present (keys are non-null by contract)
    matched = F.col(f"t.{base_key_cols[0]}").isNotNull() & F.col(
        f"s.{source_key_cols[0]}"
    ).isNotNull()
    source_only = F.col(f"t.{base_key_cols[0]}").isNull()

    # ANSI MERGE clause conditions fire only when TRUE — a NULL
    # condition (nullable source column) must behave like FALSE, so
    # every user condition is coalesced before combining
    def _true(cond):
        return F.coalesce(cond, F.lit(False))

    drop = matched & _true(matched_delete) if matched_delete is not None else F.lit(False)
    if not_matched_insert is not None:
        ins_ok = source_only & (
            _true(not_matched_insert_cond)
            if not_matched_insert_cond is not None
            else F.lit(True)
        )
    else:
        ins_ok = F.lit(False)
    kept = joined.where(~drop & (~source_only | ins_ok))

    upd = matched
    if matched_update_cond is not None:
        upd = upd & _true(matched_update_cond)
    matched_update = matched_update or {}
    not_matched_insert = not_matched_insert or {}
    out_cols = []
    for c in base.columns:
        col = F.col(f"t.{c}")
        if c in matched_update:
            col = F.when(upd, matched_update[c]).otherwise(col)
        if c in not_matched_insert:
            col = F.when(source_only, not_matched_insert[c]).otherwise(col)
        elif c in dict(zip(base_key_cols, source_key_cols)):
            sk = dict(zip(base_key_cols, source_key_cols))[c]
            col = F.when(source_only, F.col(f"s.{sk}")).otherwise(col)
        out_cols.append(col.cast(base.schema[c].dataType).alias(c))
    return kept.select(*out_cols)


def filter_complete_transactions(
    changes: DataFrame,
    xid_col: str = "xid",
    commit_col: str = "commit_flag",
) -> tuple[DataFrame, DataFrame]:
    """Transaction-boundary gate: split a changelog into rows whose
    binlog transaction is COMPLETE (a ``commit: true`` row with the
    same ``xid`` was observed — Maxwell frames transactions this way)
    and the held tail of in-flight transactions.

    The reference applies batches atomically at commit boundaries
    (``AbstractCommitCallback.java`` commits consumer offsets only
    after the batch loads; partial transactions never reach the
    sink). Spark-first: committed xids are ONE distinct-filter
    aggregate of the changelog; membership is a semi/anti join on the
    xid hash — no per-row Python, no driver state. At 100 TB the
    committed-xid side is commit-marker-sized (one row per
    transaction), far smaller than the changelog, so AQE broadcasts
    it in practice; the fallback is a co-partitioned shuffle join on
    xid.

    Returns ``(applied, held)`` — both retain all input columns.
    """
    committed = (
        changes.where(F.col(commit_col)).select(F.col(xid_col)).distinct()
    )
    applied = changes.join(committed, on=xid_col, how="left_semi")
    held = changes.join(committed, on=xid_col, how="left_anti")
    return applied, held
