"""Table-maintenance queries: the standing jobs a 100 TB parquet
warehouse schedules around the CDC sink (small-file compaction —
Iceberg rewrite_data_files / Delta OPTIMIZE twin, sinks/compact.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bireme_spark.sinks.compact import compact_parquet
from bireme_spark.sources.tables import load_table

_N_FRAGMENTS = 32


def _scratch(prefix: str) -> str:
    """mkdtemp that is reaped at interpreter exit — these builders run
    eagerly (gate, plan tests, plan dumps) and would otherwise leave a
    full table copy in /tmp per invocation."""
    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end compaction run: fragment the events table into 32
    small files (the state a per-micro-batch CDC sink leaves behind),
    compact to ~16 MB targets, and report the before/after file
    counts plus the row count — which must survive the rewrite
    exactly. File counts and rows are deterministic, so the oracle is
    closed-form; byte sizes are not (encoder variance) and stay out
    of the result."""
    work = _scratch("bireme_compact_")
    src = os.path.join(work, "fragmented")
    dst = os.path.join(work, "compacted")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    e.repartition(_N_FRAGMENTS).write.mode("overwrite").parquet(src)
    plan = compact_parquet(spark, src, dst, target_bytes=16 * 1024 * 1024)
    return spark.createDataFrame(
        [(plan["n_files"], plan["n_output_files"], plan["rows"])],
        "n_files int, n_output_files int, n_rows bigint",
    ).select("n_files", "n_output_files", F.col("n_rows"))


SINK_COMPACTION_SQL = f"""
SELECT {_N_FRAGMENTS} AS n_files, 1 AS n_output_files,
       (SELECT COUNT(*) FROM events) AS n_rows
"""

QUERIES = {"sink_compaction": sink_compaction}
ORACLE = {"sink_compaction": SINK_COMPACTION_SQL}


def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning — the layout a
    100 TB events warehouse actually uses: write the table
    ``partitionBy(event_date)``, then answer a narrow date-range
    question by reading ONLY those partition directories. The
    formatted plan must show the date predicate as a
    ``PartitionFilters`` entry (directory pruning — zero IO outside
    the range), not a post-scan filter; tests/test_plans.py asserts
    exactly that on the read this query performs.

    The oracle answers the same range question from the raw events
    table, value-checking that layout + pruning preserve semantics."""
    work = _scratch("bireme_part_")
    path = os.path.join(work, "events_by_day")
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    e.select("event_id", "user_id", "event_type", "value", "event_date").write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path).where(
        F.col("event_date").between("2024-01-10", "2024-01-12")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


PARTITIONED_PRUNE_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["partitioned_sink_prune"] = partitioned_sink_prune
ORACLE["partitioned_sink_prune"] = PARTITIONED_PRUNE_SQL


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fact-fact join story as a query: materialize orders
    and lineitem bucketed + sorted on the order key (the write-time
    shuffle you pay ONCE), then join and aggregate — and the entire
    read-side plan runs with ZERO shuffle exchanges: the sort-merge
    join consumes the bucket layout directly and the per-order agg
    inherits the join's clustering. ``tests/test_bucketed.py``
    asserts `Exchange`-free on this very plan. 8 buckets here; the
    bucket count is the only thing that changes at 100 TB (pick
    ~2× executor-cores so every core owns whole buckets).

    The oracle runs the same join/agg over the plain tables — layout
    must not change semantics.
    """
    work = _scratch("bireme_bucket_")
    # Per-run table names (scratch dir basename is unique per run):
    # two sessions sharing a metastore must not clobber each other's
    # bucketed tables mid-read.
    tok = os.path.basename(work.rstrip("/")).replace("bireme_bucket_", "")
    t_orders = f"bireme_orders_bkt_{tok}"
    t_lineitem = f"bireme_lineitem_bkt_{tok}"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
    spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")
    (
        o.write.mode("overwrite")
        .option("path", os.path.join(work, "orders_bkt"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(t_orders)
    )
    (
        li.write.mode("overwrite")
        .option("path", os.path.join(work, "lineitem_bkt"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(t_lineitem)
    )
    ob = spark.table(t_orders)
    lb = spark.table(t_lineitem)
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias(
                "total_price"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


BUCKETED_JOIN_SQL = """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_items
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey
ORDER BY total_qty DESC, o.o_orderkey
LIMIT 20
"""

QUERIES["bucketed_colocated_join"] = bucketed_colocated_join
ORACLE["bucketed_colocated_join"] = BUCKETED_JOIN_SQL


def jsonl_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSONL ingestion with corrupt-record quarantine —
    the landing-zone pattern for feeds that aren't parquet yet: the
    documents table round-trips through JSON-lines (one valid line
    per doc, plus injected malformed lines), is read back PERMISSIVE
    with an explicit schema + ``_corrupt_record`` column, and the
    audit reports per-source good-row counts, the exact char budget,
    and the quarantine size.

    Scale design: the JSON read is a plain distributed text scan with
    per-line parsing (no shuffle); explicit schema means no sampling
    inference pass at 100 TB; the only exchange is the per-source
    agg. Corrupt rows are COUNTED, never dropped silently (the
    no-silent-caps rule).
    """
    work = _scratch("bireme_jsonl_")
    path = os.path.join(work, "docs_jsonl")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d.write.mode("overwrite").json(path)
    # inject malformed lines: one per (deterministic) 100-doc block
    n_bad = max(1, d.count() // 100)
    with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
        for i in range(n_bad):
            fh.write(f'{{"doc_id": "not-a-number", "source": "bad{i}", truncated\n')
    back = spark.read.schema(
        "doc_id long, source string, n_chars long, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)
    # Spark forbids corrupt-column-ONLY projections (UNSUPPORTED_
    # FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the quarantine
    # size is derived as total lines − good rows instead of counting
    # the corrupt column directly.
    from pyspark.sql import Window

    total = back.count()
    good = back.where(F.col("_corrupt_record").isNull())
    per_source = good.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    per_source = per_source.withColumn(
        "n_quarantined",
        (F.lit(int(total)) - F.sum("n_docs").over(Window.partitionBy())).cast("int"),
    )
    return per_source.select(
        "source", "n_docs", "total_chars", "n_quarantined"
    ).orderBy("source")


_JSONL_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(GREATEST(1, (SELECT COUNT(*) FROM documents) // 100) AS INTEGER) AS n_quarantined
FROM documents GROUP BY source ORDER BY source
"""

QUERIES["jsonl_ingest_audit"] = jsonl_ingest_audit
ORACLE["jsonl_ingest_audit"] = _JSONL_SQL


def _zexpr() -> str:
    """Bit-interleave expression for z = interleave(x, y), 16 bits
    each — generated once, used verbatim by BOTH engines (>> & << |
    are identical integer ops in Spark SQL and DuckDB)."""
    terms = []
    for i in range(16):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout audit — the multi-column
    data-skipping story behind OPTIMIZE ZORDER: interleaving the bits
    of (custkey, orderdate) gives a single sort key whose range
    buckets are simultaneously range-bounded in BOTH dimensions, so
    min/max file statistics prune scans filtered on either column. A
    write path would ``repartitionByRange`` on the z-value; this
    query derives the layout and reports the per-bucket bounds a
    reader's skipping logic would consume.

    Scale design: the z-value is pure per-row integer bit math
    (whole-stage codegen, zero shuffle); the ONLY exchange is the
    16-bucket min/max aggregation (map-side combined). The interleave
    expression is generated once and evaluated verbatim by both
    engines — 32 shift/mask terms, no UDF.

    Output: per z-bucket (top 4 bits) row counts and both dims'
    min/max — adjacent buckets should show tight, largely disjoint
    custkey × date boxes (the property that makes skipping work)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).alias("yd"),
    )
    # range-normalize each dim to the full 16-bit space first (what a
    # real z-order writer does — otherwise the interleaved key leaves
    # most of z-space empty and range buckets collapse); min/max are
    # one broadcast scalar row, the normalization is exact int math
    bounds = o.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min("yd").alias("ymin"),
        F.max("yd").alias("ymax"),
    )
    o = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "o_orderdate",
        F.expr(
            "CAST(((o_custkey - cmin) * 65536) DIV (cmax - cmin + 1) AS BIGINT)"
        ).alias("x"),
        F.expr("CAST(((yd - ymin) * 65536) DIV (ymax - ymin + 1) AS BIGINT)").alias(
            "y"
        ),
    )
    z = o.withColumn("z", F.expr(_zexpr()))
    # 16 equal-width range buckets over the OBSERVED z domain (the
    # repartitionByRange a writer would do): bucket = ⌊z·16/(zmax+1)⌋
    # — exact integer math, engine-identical, no percentile sort
    zmax = z.agg(F.max("z").alias("zmax"))
    z = z.crossJoin(F.broadcast(zmax))
    return (
        z.groupBy(
            F.expr(
                "CAST((CAST(z AS BIGINT) * 16) DIV (CAST(zmax AS BIGINT) + 1) AS INT)"
            ).alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        )
        .orderBy("zbucket")
    )


ORDERS_ZORDER_SQL = f"""
WITH raw AS (
  SELECT o_custkey, o_orderdate,
         datediff('day', DATE '1970-01-01', o_orderdate) AS yd
  FROM orders
),
b AS (
  SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
         MIN(yd) AS ymin, MAX(yd) AS ymax
  FROM raw
),
dims AS (
  SELECT o_custkey, o_orderdate,
         ((o_custkey - cmin) * 65536) // (cmax - cmin + 1) AS x,
         ((yd - ymin) * 65536) // (ymax - ymin + 1) AS y
  FROM raw, b
),
zed AS (SELECT *, {_zexpr()} AS z FROM dims),
zm AS (SELECT MAX(z) AS zmax FROM zed)
SELECT CAST((CAST(z AS BIGINT) * 16) // (CAST(zmax AS BIGINT) + 1) AS INTEGER) AS zbucket,
       COUNT(*) AS n_rows,
       MIN(o_custkey) AS min_custkey,
       MAX(o_custkey) AS max_custkey,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
FROM zed, zm
GROUP BY 1 ORDER BY 1
"""

QUERIES["orders_zorder_layout"] = orders_zorder_layout
ORACLE["orders_zorder_layout"] = ORDERS_ZORDER_SQL


def sink_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink VACUUM end-to-end (Delta VACUUM / Iceberg
    expire_snapshots twin for the manifest parquet sink,
    sinks/versioned.py): build a bucketed sink carrying THREE
    version generations — v1 superseded, v2 committed (the manifest
    points at it), v3 an orphan of a crashed batch that never reached
    its manifest commit (only half the buckets got their rename) —
    then vacuum with keep=1 and prove (a) the exact debris counts and
    (b) that the committed state is untouched: the post-vacuum
    read_state must still reconcile row count and DECIMAL value total
    with the source table.

    Scale: vacuum is a metadata-only O(#buckets) directory walk — no
    Spark job, no data read — so retention runs at any sink size cost
    file-listing, not IO."""
    import shutil

    from bireme_spark.sinks.versioned import (
        Versions,
        bucket_col,
        bucket_dir,
        read_state,
        vacuum_versions,
        version_dir,
        write_manifest,
    )

    n_buckets = 8
    work = _scratch("bireme_vacuum_")
    target = os.path.join(work, "sink")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_totalprice").alias("price"),
    )
    bucketed = o.withColumn("_sb", bucket_col("key", n_buckets))

    def write_version(df, version, buckets=None):
        staging = os.path.join(work, f"stage-v{version}")
        df.write.partitionBy("_sb").mode("overwrite").parquet(staging)
        for b in range(n_buckets):
            if buckets is not None and b not in buckets:
                continue
            src = bucket_dir(staging, b)
            if not os.path.isdir(src):
                continue
            os.makedirs(bucket_dir(target, b), exist_ok=True)
            os.rename(src, version_dir(target, b, version))
        shutil.rmtree(staging, ignore_errors=True)

    write_version(bucketed.withColumn("price", F.col("price") - 1), 1)
    write_version(bucketed, 2)
    write_version(
        bucketed.withColumn("price", F.col("price") + 99), 3, buckets={0, 2, 4, 6}
    )
    write_manifest(target, Versions({b: 2 for b in range(n_buckets)}, ddl=o.schema.toDDL()), 2)

    stats = vacuum_versions(target, keep=1)
    state = read_state(spark, target)
    agg = state.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )
    return agg.select(
        F.lit(stats["n_buckets"]).alias("n_buckets"),
        F.lit(stats["versions_before"]).alias("versions_before"),
        F.lit(stats["versions_after"]).alias("versions_after"),
        F.lit(stats["orphans_removed"]).alias("orphans_removed"),
        F.lit(stats["superseded_removed"]).alias("superseded_removed"),
        "n_rows",
        "total_value",
    )


SINK_VACUUM_SQL = """
SELECT 8 AS n_buckets, 20 AS versions_before, 8 AS versions_after,
       4 AS orphans_removed, 8 AS superseded_removed,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        FROM orders) AS total_value
"""

QUERIES["sink_vacuum_retention"] = sink_vacuum_retention
ORACLE["sink_vacuum_retention"] = SINK_VACUUM_SQL


def sink_erase_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erase end-to-end (Delta ``DELETE FROM t WHERE ...`` twin
    for the manifest sink — VERDICT r5 #8, the missing maintenance
    verb next to compaction and vacuum): commit an orders snapshot,
    erase every row of the to-be-forgotten customers
    (``custkey % 89 = 0``) via ``erase_predicate``, then prove
    (a) the exact erased count, (b) zero surviving matches, (c) the
    kept rows reconcile count + DECIMAL value total with the source,
    and (d) REWRITE MINIMALITY from the manifest itself: exactly the
    buckets holding matches were bumped to a new version, every other
    bucket still points at its v1 dir byte-untouched.

    Scale: phase 1 is one map-side-combined scan emitting #buckets
    rows; phase 2 re-reads ONLY affected buckets (dir-pruned on
    ``_sb``) — erase cost tracks the affected data, and the atomic
    manifest flip means readers never see a half-erased sink."""
    from bireme_spark.sinks.versioned import (
        bucket_col,
        erase_predicate,
        read_state,
        snapshot,
        stage,
        write_manifest,
    )

    n_buckets = 8
    work = _scratch("bireme_erase_")
    target = os.path.join(work, "sink")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    bucketed = o.withColumn("_sb", bucket_col("key", n_buckets))
    write_manifest(target, stage(spark, target, bucketed, range(n_buckets), 1), 1)
    v1 = snapshot(target).versions

    stats = erase_predicate(
        spark, target, F.col("custkey") % 89 == 0, batch_id=2
    )
    v2 = snapshot(target).versions
    bumped = sorted(b for b in v2 if v2[b] != v1[b])
    affected_ok = len(bumped) == stats["buckets_rewritten"]
    untouched_ok = all(v2[b] == v1[b] == 1 for b in v2 if b not in bumped)

    state = read_state(spark, target)
    agg = state.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(12,2)")).cast("double").alias("total_value"),
        F.sum(F.when(F.col("custkey") % 89 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("survivors_matching"),
    )
    return agg.select(
        F.lit(stats["rows_erased"]).cast("bigint").alias("rows_erased"),
        "n_rows",
        "total_value",
        "survivors_matching",
        F.lit(bool(affected_ok)).alias("rewrite_minimal"),
        F.lit(bool(untouched_ok)).alias("untouched_preserved"),
    )


SINK_ERASE_SQL = """
SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 89 = 0) AS BIGINT)
         AS rows_erased,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 89 <> 0) AS BIGINT)
         AS n_rows,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        FROM orders WHERE o_custkey % 89 <> 0) AS total_value,
       CAST(0 AS BIGINT) AS survivors_matching,
       TRUE AS rewrite_minimal,
       TRUE AS untouched_preserved
"""

QUERIES["sink_erase_predicate"] = sink_erase_predicate
ORACLE["sink_erase_predicate"] = SINK_ERASE_SQL


def sink_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy snapshot clone end-to-end (Delta ``SHALLOW CLONE``
    twin — sinks/versioned.py ``shallow_clone``): commit an orders
    snapshot, clone it metadata-only (hardlinks + one manifest write,
    no Spark job), then ERASE rows from the ORIGIN and prove the
    clone is a stable snapshot: (a) the clone still holds every
    pre-erase row including all erased matches, (b) the origin lost
    exactly the matches, (c) the clone was zero-copy (every file
    hardlinked, none byte-copied), (d) both sides reconcile a
    DECIMAL value total with the source.

    Scale: the clone is O(#files) link() metadata calls — cloning a
    100 TB sink costs a directory walk, which is exactly why shallow
    clones are the dev/test/branching verb warehouses reach for; the
    sink's immutable version dirs make shared bytes safe."""
    from bireme_spark.sinks.versioned import (
        bucket_col,
        erase_predicate,
        read_state,
        shallow_clone,
        stage,
        write_manifest,
    )

    n_buckets = 8
    work = _scratch("bireme_clone_")
    origin = os.path.join(work, "origin")
    clone = os.path.join(work, "clone")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("price"),
    )
    bucketed = o.withColumn("_sb", bucket_col("key", n_buckets))
    write_manifest(origin, stage(spark, origin, bucketed, range(n_buckets), 1), 1)

    stats = shallow_clone(origin, clone)
    erased = erase_predicate(spark, origin, F.col("custkey") % 97 == 0, batch_id=2)

    c = read_state(spark, clone).agg(
        F.count(F.lit(1)).alias("clone_rows"),
        F.sum(F.when(F.col("custkey") % 97 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("clone_matches"),
        F.sum(F.col("price").cast("decimal(12,2)")).cast("double").alias("clone_value"),
    )
    og = read_state(spark, origin).agg(
        F.count(F.lit(1)).alias("origin_rows"),
        F.sum(F.when(F.col("custkey") % 97 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("origin_matches"),
    )
    return c.crossJoin(og).select(
        "clone_rows",
        "clone_matches",
        "origin_rows",
        "origin_matches",
        "clone_value",
        F.lit(erased["rows_erased"]).cast("bigint").alias("rows_erased"),
        F.lit(bool(stats["files_copied"] == 0 and stats["files_linked"] > 0)).alias(
            "zero_copy"
        ),
        F.lit(int(stats["n_buckets"])).cast("int").alias("n_buckets"),
    )


SINK_CLONE_SQL = """
SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS clone_rows,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 97 = 0) AS BIGINT)
         AS clone_matches,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 97 <> 0) AS BIGINT)
         AS origin_rows,
       CAST(0 AS BIGINT) AS origin_matches,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        FROM orders) AS clone_value,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 97 = 0) AS BIGINT)
         AS rows_erased,
       TRUE AS zero_copy,
       8 AS n_buckets
"""

QUERIES["sink_shallow_clone"] = sink_shallow_clone
ORACLE["sink_shallow_clone"] = SINK_CLONE_SQL
