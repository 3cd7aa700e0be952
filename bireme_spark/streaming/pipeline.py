"""Structured-Streaming CDC pipeline: the end-to-end runtime twin of
bireme's PipeLine → RowCache → ChangeLoader chain
(``pipeline/PipeLine.java:60-200``, ``RowCache.java``,
``ChangeLoader.java``).

Shape — one runner (``_run``) behind every entry point, one query per
source:

    readStream (kafka | file) of envelope JSON
      → foreachBatch: persist the raw batch, then for each table route
          → route (pre-parse database/table match on the envelope)
          → parse (Maxwell/Debezium from_json, the table's schema)
          → the entry point's apply step

The entry points differ only in their routes and apply step:
``run_cdc_pipeline`` is one route into ``target_dir`` (compact →
DELETE+COPY merge, or the JDBC merge sink), ``run_multi_table_pipeline``
one route per mapped target into ``target_dir/<target>``, and
``run_scd2_pipeline`` one route whose step appends version history.

Each micro-batch IS bireme's LoadTask: the batch compaction and the
anti-join merge are exactly the batch operators
(operators/cdc.compact / apply_changes), so batch and streaming
semantics provably agree (tested in tests/test_streaming.py).

Per-batch job chain (per table) — one fold, one snapshot, one file
written per batch unless it folds, like bireme's one RowCache fold +
one DELETE+COPY per LoadTask:

    1. fold: the compacted batch in the sink's delta shape, merged with
       the committed delta into delta′ (per key the batch's row, else
       the delta's), is materialized by one eager local checkpoint; the
       same job observes delta′'s bucket set (≤ num_buckets values) and
       whether the batch had rows, so nothing runs twice;
    2. append — while the committed delta is smaller on disk than the
       mean committed bucket: delta′ is written as ONE file, the next
       delta version. No bucket is read or written;
    3. or fold: the base read prunes to delta′'s buckets' committed
       versions (schema pinned by the manifest: no inference job), the
       sink's ``apply_delta`` (the pessimistic anti-join, a small delta′
       broadcast) merges delta′ in, and each of those buckets is staged
       as its next version, one file each;
    4. commit: one manifest replace (``bireme_spark/sinks/versioned.py``
       owns the on-disk layout) names the new delta or bucket versions;
    5. release: the checkpoint's blocks are dropped once the manifest is
       committed (or the batch fails), so a sync that runs without end
       holds no storage from past batches.

Built once, applied per batch, in one place: at query start ``_run``
builds each route's routing filter and parse, and the entry point's
step for the route (``make_step``) builds its Columns — the fold and
delta shaping of the latest-state step, the fold of the JDBC step, the
version fold and closing Columns of the SCD2 step. Per batch the driver
only applies DataFrame operations to the batch — a Column costs several
py4j round trips to build, and building the plan per batch had cost
~1,180 of them before the first job.

The manifest is read once per table and batch; that snapshot is what
the batch is computed against and staged on. A batch with no rows for
a table commits nothing — there is no separate emptiness probe.
Buckets outside delta′ are never read or written. SCD2 stays
copy-on-write: it rewrites the buckets of its changed keys.

Ordering: within a batch, same-key changes fold by
``(produce_time_ms, src_partition, src_offset)``. Maxwell's produce
time is seconds-granular, so the Kafka (partition, offset) pair — the
order the reference consumes in — is the real tiebreaker; CDC topics
are keyed by PK, so per-key order is total. The file/replay source
has no broker offsets; it falls back to ``monotonically_increasing_id``
(deterministic for a fixed file list, the test/replay case).

Kafka ingestion follows the same ``readStream.format("kafka")``
options bireme's consumer config maps to (``KafkaPipeLine.java:
190-208``); the file source is the test/replay path.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.config import PipelineConfig, SourceConfig
from bireme_spark.operators.cdc import KEY_SEP, compactor, key_string
from bireme_spark.operators.cdc import old_key_deleter, scd2_versioner
from bireme_spark.sinks import versioned
from bireme_spark.sinks.versioned import bucket_col
from bireme_spark.sinks.versioned import read_state  # noqa: F401 (pl.read_state stays public)
# a module global: the runner commits through it, so a wrapper bound
# here (perfbench's CommitClock and tracer) sees every commit
from bireme_spark.sinks.versioned import write_manifest as _write_manifest
from bireme_spark.sources.debezium import debezium_parser
from bireme_spark.sources.maxwell import maxwell_parser


def kafka_reader_options(source: SourceConfig, max_events: int | None = None) -> dict[str, str]:
    """Structured-Streaming option dict for a bireme Kafka source —
    the twin of the reference consumer config (``KafkaPipeLine.java:
    198-207`` createConsumer), mapped knob-for-knob:

    | reference (consumer props)      | Spark kafka source option      |
    | ------------------------------- | ------------------------------ |
    | bootstrap.servers               | kafka.bootstrap.servers        |
    | group.id                        | kafka.group.id                 |
    | auto.offset.reset = earliest    | startingOffsets = earliest     |
    | session.timeout.ms = 60000      | kafka.session.timeout.ms       |
    | enable.auto.commit = false      | (implicit: the source NEVER    |
    |                                 | auto-commits — progress lives  |
    |                                 | in the checkpoint, committed   |
    |                                 | after the batch is applied,    |
    |                                 | bireme's commit-after-load)    |
    | batch_size (RowCache)           | maxOffsetsPerTrigger           |

    ``failOnDataLoss=false`` mirrors the reference's tolerance of
    expired offsets on reconnect (it resumes from earliest retained).
    Pure function so the wiring is unit-testable without a broker —
    the sandbox has none, which is the documented seam: on a real
    deployment ``_open_stream`` feeds these straight into
    ``readStream.format("kafka")``.
    """
    if not source.kafka_server or not source.kafka_topic:
        raise ValueError(
            f"source {source.name!r}: kafka transport needs kafka_server + kafka_topic"
        )
    opts = {
        "kafka.bootstrap.servers": source.kafka_server,
        "subscribe": source.kafka_topic,
        "kafka.group.id": source.kafka_groupid,
        "kafka.session.timeout.ms": "60000",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    if max_events:
        opts["maxOffsetsPerTrigger"] = str(max_events)
    return opts


def _open_stream(spark: SparkSession, source: SourceConfig, max_files: int | None):
    """Envelope stream with provenance order columns
    ``(src_partition, src_offset)`` — Kafka's real consume order; the
    file source substitutes a deterministic per-batch row id."""
    if source.kind == "file" or source.path:
        reader = spark.readStream.format("text")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        # File replay's offset twin: file mtime orders across files
        # (the replay batch order); within a file the text source has
        # no row index (_metadata.row_index is parquet-only), so
        # src_offset stays null and the fold falls back to a
        # batch-local id — the documented file-source fallback.
        return reader.load(source.path).select(
            F.col("value"),
            F.unix_millis(F.col("_metadata.file_modification_time")).alias("src_partition"),
            F.lit(None).cast("long").alias("src_offset"),
        )
    # Kafka transport (no path configured): bireme's consumer
    # settings via the unit-tested option builder. max_files doubles
    # as the per-trigger row cap (batch_size twin) on this path.
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(source, max_files).items():
        reader = reader.option(k, v)
    return reader.load().selectExpr(
        "CAST(value AS STRING) AS value",
        "partition AS src_partition",
        "offset AS src_offset",
    )


# same-key changes fold in this order (see the module docstring)
_ORDER = ("produce_time_ms", "src_partition", "src_offset")


def _write_changed_buckets(
    bspark: SparkSession,
    target_dir: str,
    rows: DataFrame | None,
    changed: Sequence[int],
    batch_id: int,
    snap: versioned.Snapshot | None = None,
    delta: DataFrame | None = None,
    keys: Sequence[str] | None = None,
) -> None:
    """Stage a commit — the next version of every changed bucket from
    ``rows``, and ``delta`` as the next delta on key columns ``keys``
    (an append changes no bucket) — then commit it with one manifest
    replace (``bireme_spark/sinks/versioned.py``). ``snap`` is the
    snapshot the batch was computed against."""
    versions = versioned.stage(
        bspark, target_dir, rows, changed, batch_id, snap=snap, delta=delta, keys=keys
    )
    _write_manifest(target_dir, versions, batch_id)


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a frame returned by ``localCheckpoint()``.
    Left alone they are freed only when the JVM garbage-collects the
    RDD, and a live sync checkpoints every table of every batch (see
    ``bireme_spark/util.py`` for what leaked blocks cost). The frame
    cannot be read afterwards: the checkpoint cut its lineage."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _observed(bucket: Column, fresh: Column) -> tuple[Column, Column]:
    """What ``_checkpointed`` observes: the set of ``bucket`` values and
    whether any row is ``fresh``."""
    return F.collect_set(bucket).alias("b"), F.max(fresh).alias("fresh")


@contextmanager
def _checkpointed(frame: DataFrame, observed: tuple[Column, Column]):
    """``frame`` materialized by one eager local checkpoint, and the
    sorted bucket values of its rows — ``observed`` (see ``_observed``)
    by the same job, so nothing runs twice and the bucket set costs no
    extra scan. The buckets are empty when no row is fresh (from this
    batch): a batch with no rows for the table commits nothing, with no
    separate emptiness probe. An eager checkpoint, not ``persist()``:
    readers of the cached AQE plan ran at the full shuffle-partition
    width and lost the gain. The checkpoint's blocks are released on
    exit."""
    seen = Observation()
    frame = frame.observe(seen, *observed).localCheckpoint()
    try:
        got = seen.get
        yield frame, sorted(got["b"]) if got["fresh"] else []
    finally:
        _release_checkpoint(frame)


def _changes(payload_cols: Sequence[str], old_key: str | None) -> list[Column]:
    """The select list that makes a parsed batch fold input: key, op,
    the order columns, the ``old_key`` column when the parse carries
    one, then the payload."""
    return [
        F.col("key"),
        F.col("op"),
        F.col("produce_time_ms"),
        F.col("src_partition"),
        # Kafka: the real broker offset. File: batch-local row id
        # (deterministic for a fixed file list read order).
        F.coalesce(F.col("src_offset"), F.monotonically_increasing_id()).alias("src_offset"),
        *([F.col(old_key)] if old_key else []),
        *[F.col(f"data.{c}").alias(c) for c in payload_cols],
    ]


def _fold(payload_cols: Sequence[str], carries_old_key: bool) -> Callable[[DataFrame], DataFrame]:
    """A route's fold: parsed ChangeRow micro-batch → compacted
    delete/insert sets (the per-batch RowBatchMerger fold, shared by
    every sink). ``carries_old_key``: the parse has an ``old_key``
    column (a key-changing update also deletes its old key)."""
    old_key = "old_key" if carries_old_key else None
    changes = _changes(payload_cols, old_key)
    fold = compactor(("key",), _ORDER, "op", payload_cols, old_key)
    return lambda parsed: fold(parsed.select(*changes))


def _compact_parsed(parsed: DataFrame, fold: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """``parsed`` compacted by the route's ``fold`` (``_fold``): a
    module global, so a wrapper bound here sees every table's
    compaction."""
    return fold(parsed)


class _DeltaStep(NamedTuple):
    """A route's built-once half of ``_merge_compacted_versioned``."""

    keys: tuple[str, ...]
    shape: Callable[[DataFrame], DataFrame]  # compacted batch → delta rows
    fold: Callable[[DataFrame, DataFrame], DataFrame]  # (committed, batch) → delta′
    observed: tuple[Column, Column]


def _delta_step(spec: TableSpec, nb: int) -> _DeltaStep:
    """The delta shaping of ``spec``'s table into ``nb`` buckets. The
    first ``len(key_fields)`` base columns are the key — the batch
    carries it as the joined ``key`` string (``KEY_SEP`` between the
    parts), split back into typed parts here — then the payload,
    ``in_insert`` and ``_sb``, which hashes the typed key exactly as the
    base's rows do."""
    types = {f.name: f.dataType.simpleString() for f in spec.data_schema.fields}
    # key column of the base table keeps the parsed-string key type
    types = {c: types.get(c, "string") for c in spec.base_columns}
    n = len(spec.key_fields)
    keys, payload = spec.base_columns[:n], spec.base_columns[n:]
    if len(keys) == 1:
        typed = [F.col("key").cast(types[keys[0]])]
        sb = bucket_col(typed[0], nb)
    else:
        parts = F.split(F.col("key"), KEY_SEP)
        typed = [parts[i].cast(types[k]) for i, k in enumerate(keys)]
        sb = bucket_col(key_string(typed), nb)
    shaped = [
        *[t.alias(k) for t, k in zip(typed, keys)],
        *[F.col(c).cast(types[c]).alias(c) for c in payload],
        F.col("in_insert").alias(versioned.LIVE),
        sb.alias("_sb"),
        F.lit(True).alias("_fresh"),
    ]
    stale = [F.col("*"), F.lit(False).alias("_fresh")]
    # per key the batch's row, else the committed one: the struct max
    # orders by _fresh first
    newest = F.max(F.struct("_fresh", *payload, versioned.LIVE, "_sb")).alias("_row")
    unpacked = [*[F.col(k) for k in keys], F.col("_row.*")]

    def fold(committed: DataFrame, delta: DataFrame) -> DataFrame:
        both = committed.select(*stale).unionByName(delta)
        return both.groupBy(*keys).agg(newest).select(*unpacked)

    return _DeltaStep(
        keys,
        lambda compacted: compacted.select(*shaped),
        fold,
        _observed(F.col("_sb"), F.col("_fresh")),
    )


def _merge_compacted_versioned(
    target_dir: str, compacted: DataFrame, step: _DeltaStep, *, batch_id: int
) -> None:
    """Commit one table's compacted batch into its bucket-versioned
    parquet state: one fold, one file written per delta or bucket
    version, one atomic manifest commit.

    The route's ``step`` (``_delta_step``) shapes the batch into delta
    rows in the base's shape. delta′ (the committed delta without the
    batch's keys, plus the batch; one aggregation over their union, so
    the batch's fold runs once) is checkpointed; then the batch appends
    delta′ as the next delta, or folds it into delta′'s buckets
    (``versioned.appends`` decides from the files on disk). A fold into
    buckets with no committed version yet writes delta′'s live rows."""
    bspark = compacted.sparkSession
    delta = step.shape(compacted)
    snap = versioned.snapshot(target_dir)
    committed = versioned.read_delta(bspark, target_dir, snap.versions)
    if committed is not None:
        delta = step.fold(committed, delta)
    with _checkpointed(delta, step.observed) as (delta, changed):
        if not changed:
            return
        delta = delta.drop("_fresh")
        if versioned.appends(target_dir, snap.versions):
            _write_changed_buckets(bspark, target_dir, None, (), batch_id, snap, delta, step.keys)
            return
        base = versioned.read_base(bspark, target_dir, snap.versions, changed)
        if base is None:
            merged = delta.where(versioned.LIVE).drop(versioned.LIVE)
        else:
            merged = versioned.apply_delta(base, delta, step.keys)
        _write_changed_buckets(bspark, target_dir, merged, changed, batch_id, snap, keys=step.keys)


class TableSpec:
    """Per-table sync spec: one route of the streaming runner."""

    def __init__(
        self,
        data_schema: StructType,
        key_fields: Sequence[str],
        base_columns: Sequence[str],
    ) -> None:
        self.data_schema = data_schema
        self.key_fields = tuple(key_fields)
        self.base_columns = tuple(base_columns)
        self.payload_cols = tuple(
            f.name for f in data_schema.fields if f.name not in self.key_fields
        )


def _run(
    spark: SparkSession,
    config: PipelineConfig,
    routes: Sequence[tuple[str, Sequence[str] | None, TableSpec]],
    make_step: Callable[[str, TableSpec, bool], Callable[[DataFrame, int], None]],
    available_now: bool,
):
    """The one streaming runner behind every entry point: ONE query per
    source, like bireme's one PipeLine per source whose Transformers
    route each change to its table's RowCache/loader (``PipeLine.java``
    / per-table caches in ``RowCache.java``).

    Routing happens BEFORE JSON payload typing: the envelope's
    database/table fields — Maxwell's top-level ``database``/``table``,
    Debezium's ``payload.source.db``/``payload.source.table`` — are
    extracted with ``get_json_object`` (one cheap JVM projection) so
    each table's ``from_json`` parse runs only over its own rows — N
    small typed parses, not N full-batch parses. Each route is
    ``(target_dir, origins, spec)``: ``origins`` are table_map keys
    (``"<source>.<database>.<table>"``), ``None`` takes every row. Rows
    of unmapped tables are never parsed, which is exactly bireme's
    filter() semantics. Each route's parsed rows go to
    ``apply(parsed, batch_id)``, the step the entry point's
    ``make_step(target_dir, spec, carries_old_key)`` builds for the
    route at query start (``carries_old_key``: the parse has an
    ``old_key`` column, as Maxwell's does and Debezium's does not). A
    step commits through an idempotent sink, so the batch may replay
    after a crash before Spark's checkpoint commit.

    A config that lists more than one source is refused (``ValueError``,
    see ``single_source``): one query syncs one source.
    """
    source = single_source(config)
    if source.kind == "debezium":
        parser, carries_old_key = debezium_parser, False
        db_path, tbl_path = "$.payload.source.db", "$.payload.source.table"
    else:
        parser, carries_old_key = maxwell_parser, True
        db_path, tbl_path = "$.database", "$.table"

    def router(origins, spec):
        """The route's step from the raw batch to its parsed changes."""
        parse = parser("value", spec.data_schema, spec.key_fields, source=source.name)
        if origins is None:
            return parse
        # bireme's table_map is many-to-one (sharded sources consolidate
        # into one target table), so routing ORs across every origin
        cond = None
        for origin in origins:
            _, db, tbl = origin.split(".", 2)
            c = (F.get_json_object("value", db_path) == db) & (
                F.get_json_object("value", tbl_path) == tbl
            )
            cond = c if cond is None else cond | c
        return lambda rows: parse(rows.where(cond))

    # built once, not per batch: building a route's parse and step
    # costs hundreds of py4j round trips
    routed = [
        (router(origins, spec), make_step(target_dir, spec, carries_old_key))
        for target_dir, origins, spec in routes
    ]

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist: every route re-reads the micro-batch — uncached, each
        # read re-reads the SOURCE (re-polls Kafka) and re-derives the
        # monotonically_increasing_id offsets, which must be stable
        # within the batch.
        batch_df = batch_df.persist()
        try:
            for route, apply in routed:
                apply(route(batch_df), batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        _open_stream(spark, source, config.max_events_per_trigger)
        .writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", config.checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=config.trigger_interval)
    return writer.start()


def single_source(config: PipelineConfig) -> SourceConfig:
    """The one source a pipeline syncs. A config that lists several is
    refused, naming the sources that would go unsynced: run one pipeline
    (one config) per source."""
    if not config.sources:
        raise ValueError("config declares no data_source")
    if len(config.sources) > 1:
        dropped = ", ".join(repr(s.name) for s in config.sources[1:])
        raise ValueError(
            f"config lists {len(config.sources)} sources, but one pipeline syncs one source: "
            f"{dropped} would not be synced; run one pipeline per source"
        )
    return config.sources[0]


def _single_route(config: PipelineConfig, spec: TableSpec):
    """A single-table sync: every mapped origin of the source (every row
    when it has no table_map) into ``target_dir`` itself."""
    return [(config.target_dir, list(single_source(config).table_map or ()) or None, spec)]


def _merge_step(nb: int):
    """The latest-state step factory (see ``_run``): compact the batch,
    then the DELETE+COPY merge into the table's bucket-versioned state
    of ``nb`` buckets."""

    def make(target_dir: str, spec: TableSpec, carries_old_key: bool):
        fold = _fold(spec.payload_cols, carries_old_key)
        step = _delta_step(spec, nb)

        def apply(parsed: DataFrame, batch_id: int) -> None:
            compacted = _compact_parsed(parsed, fold)
            _merge_compacted_versioned(target_dir, compacted, step, batch_id=batch_id)

        return apply

    return make


def _scd2_step(nb: int):
    """The SCD2 step factory (see ``_run``): append the batch's version
    rows and close the open versions of the keys it touches, in the
    history's ``nb`` buckets. With ``carries_old_key`` a key-changing
    update also touches its old key: the batch's changes carry that
    key's synthetic DELETE (``old_key_deleter``), so the old key's
    open version closes at the update's time and its bucket is
    rewritten."""

    def make(target_dir: str, spec: TableSpec, carries_old_key: bool):
        payload_cols = spec.payload_cols
        old_key = "old_key" if carries_old_key else None
        changes_cols = _changes(payload_cols, old_key)
        expand = old_key_deleter(("key",), _ORDER, "op", payload_cols, old_key)
        observed = _observed(bucket_col("key", nb), F.lit(True))
        history = scd2_versioner(("key",), _ORDER, "op", payload_cols)
        first_ts = F.min("produce_time_ms").alias("first_ts")
        # Close the open version of every touched key at the batch's
        # first change time; untouched keys in the bucket pass through.
        # RETRY IDEMPOTENCY (the post-manifest-commit, pre-checkpoint-
        # commit window: Structured Streaming re-runs the batch against
        # state that already contains it):
        #  * only close versions that OPENED BEFORE this batch
        #    (valid_from < first_ts) — a replay sees the batch's own
        #    open version (valid_from ≥ first_ts) and leaves it alone;
        #  * anti-join the batch's version rows against the base on the
        #    SCD2 version identity (key, valid_from) so already-applied
        #    rows are not appended twice.
        closing = (
            F.col("is_current")
            & F.col("first_ts").isNotNull()
            & (F.col("valid_from") < F.col("first_ts"))
        )
        closed_cols = [
            F.col("key"),
            *[F.col(c) for c in payload_cols],
            F.col("valid_from"),
            F.when(closing, F.col("first_ts")).otherwise(F.col("valid_to")).alias("valid_to"),
            (F.col("is_current") & (F.col("first_ts").isNull() | ~closing)).alias("is_current"),
        ]
        version_id = [F.col("key"), F.col("valid_from")]
        sb = bucket_col("key", nb).alias("_sb")

        def merge(base: DataFrame | None, changes: DataFrame) -> DataFrame:
            rows = history(changes)
            if base is not None:  # else the history's first versions in these buckets
                firsts = changes.groupBy("key").agg(first_ts)
                closed = base.join(firsts, "key", "left").select(*closed_cols)
                fresh = rows.join(base.select(*version_id), ["key", "valid_from"], "left_anti")
                rows = closed.unionByName(fresh)
            return rows.select("*", sb)

        def apply(parsed: DataFrame, batch_id: int) -> None:
            # the version fold, the first-change agg and the retry
            # anti-join all read the checkpointed batch: parse it once
            bspark = parsed.sparkSession
            snap = versioned.snapshot(target_dir)
            batch = expand(parsed.select(*changes_cols))
            with _checkpointed(batch, observed) as (changes, changed):
                if not changed:
                    return
                base = versioned.read_base(bspark, target_dir, snap.versions, changed)
                rows = merge(None if base is None else base.drop("_sb"), changes)
                _write_changed_buckets(bspark, target_dir, rows, changed, batch_id, snap=snap)

        return apply

    return make


def run_cdc_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    data_schema: StructType,
    key_fields: Sequence[str],
    base_columns: Sequence[str],
    available_now: bool = False,
):
    """Launch the CDC sync for one source (the multi-source case runs
    one query per source, like bireme's one PipeLine per partition).

    ``base_columns``: target-table column order (key first); payload
    columns are taken from the parsed ``data`` struct.
    """
    spec = TableSpec(data_schema, key_fields, base_columns)
    if config.target_jdbc_url:
        # Greenplum/warehouse path: DELETE+COPY merge through the
        # staged-key JDBC transaction (ChangeLoader semantics).
        from bireme_spark.sinks.jdbc import JdbcMergeSink

        sink = JdbcMergeSink(
            url=config.target_jdbc_url,
            target_table=config.target_table or "public.target",
            key_cols=("key",),
            payload_cols=("key", *spec.payload_cols),
            properties=config.jdbc_properties,
        )

        def make_step(_target_dir: str, spec: TableSpec, carries_old_key: bool):
            fold = _fold(spec.payload_cols, carries_old_key)

            def apply(parsed: DataFrame, batch_id: int) -> None:
                compacted = _compact_parsed(parsed, fold)
                sink(compacted.withColumnRenamed("final_op", "op"), batch_id)

            return apply

    else:
        make_step = _merge_step(config.num_buckets)
    return _run(spark, config, _single_route(config, spec), make_step, available_now)


def run_multi_table_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    tables: dict[str, TableSpec],
    available_now: bool = False,
):
    """ONE streaming query syncs EVERY mapped table of a source —
    bireme's actual deployment shape (a pipeline consumes a whole
    database's binlog topic). ``tables`` maps the mapped target name
    (the table_map right-hand side) to its :class:`TableSpec`; each
    target syncs into ``<target_dir>/<target>/`` with the same
    changed-bucket pruning + atomic manifest commit as the
    single-table pipeline. A target with no mapping entry is skipped,
    and a table with no rows in a batch commits nothing.
    """
    table_map = single_source(config).table_map or {}
    routes = [
        (f"{config.target_dir}/{target}", origins, spec)
        for target, spec in tables.items()
        if (origins := [o for o, t in table_map.items() if t == target])
    ]
    return _run(spark, config, routes, _merge_step(config.num_buckets), available_now)


def run_scd2_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    data_schema: StructType,
    key_fields: Sequence[str],
    available_now: bool = False,
):
    """Streaming SCD Type-2 maintenance: where ``run_cdc_pipeline``
    keeps only latest state (bireme's overwrite merge), this sink
    accretes the full version history incrementally — each micro-batch
    appends its own version rows (the batch `scd2` fold) and closes
    the previously-open version of every key the batch touches, with
    the SAME bucket-pruned write path: only buckets containing
    changed keys are read or rewritten, so per-trigger cost is
    O(batch + touched history), never O(|history|).

    Across batches the result provably equals the one-shot batch
    ``scd2`` over the concatenated changelog: within a batch the lead
    window closes versions, and the batch's first change per key
    closes the base's open version at exactly the timestamp lead()
    would have seen (tested; the gate query hash-matches the batch
    oracle). A Maxwell update that changes the PK closes the old key's
    open version at its time, as the latest-state merge deletes that
    key: the equal batch history is ``scd2(..., old_key_col="old_key")``.
    """
    # the history layout (key, payload, validity) is fixed: no base columns
    spec = TableSpec(data_schema, key_fields, ())
    make_step = _scd2_step(config.num_buckets)
    return _run(spark, config, _single_route(config, spec), make_step, available_now)
