"""Driver-facing streaming query (rows-only): the full Structured
Streaming CDC pipeline run end-to-end on Maxwell envelopes derived
from orders — file source (Kafka replay path), two micro-batches
(inserts, then updates+deletes), foreachBatch DELETE+COPY merge into
a versioned parquet target. Returns the final synced state.

tests/test_streaming.py asserts this equals the batch cdc snapshot;
the driver records the weaker rows-only check (no stable SQL oracle
for a multi-batch streaming run)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.config import PipelineConfig, SourceConfig
from bireme_spark.sinks.versioned import read_state
from bireme_spark.sources.tables import load_table
from bireme_spark.streaming.pipeline import run_cdc_pipeline

DATA_SCHEMA = (
    StructType()
    .add("o_orderkey", "long")
    .add("o_totalprice", "double")
    .add("o_orderstatus", "string")
)


def _maxwell_json(o: DataFrame, op: str, ts_shift_days: int, price_shift: float) -> DataFrame:
    data = F.struct(
        F.col("o_orderkey"),
        (F.col("o_totalprice") + F.lit(price_shift)).alias("o_totalprice"),
        F.col("o_orderstatus"),
    )
    return o.select(
        F.to_json(
            F.struct(
                F.lit("testdb").alias("database"),
                F.lit("orders").alias("table"),
                F.lit(op).alias("type"),
                (F.unix_timestamp("o_orderdate") + ts_shift_days * 86400).alias("ts"),
                data.alias("data"),
            )
        ).alias("value")
    )


def streaming_cdc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="bireme_stream_")
    input_dir = f"{work}/input"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        o = load_table(spark, sf_dir, "orders").limit(2000).cache()
        o.count()

        from bireme_spark.streaming.replay import stamp_batch_mtime

        # micro-batch 1: snapshot inserts
        seen: set[str] = set()
        _maxwell_json(o, "insert", 0, 0.0).coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 0, seen)  # mtime slots keep batch order, no sleep
        # micro-batch 2: updates (every 3rd) then deletes (every 5th)
        upd = _maxwell_json(o.where(F.col("o_orderkey") % 3 == 0), "update", 1, 10.0)
        dele = _maxwell_json(o.where(F.col("o_orderkey") % 5 == 0), "delete", 2, 0.0)
        upd.unionByName(dele).coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 1, seen)
        o.unpersist()  # envelopes written; don't pin across the stream run

        cfg = PipelineConfig(
            sources=[
                SourceConfig(
                    name="maxwell",
                    kind="file",
                    path=input_dir,
                    table_map={"maxwell.testdb.orders": "public.orders"},
                )
            ],
            target_dir=f"{work}/target",
            checkpoint_dir=f"{work}/ckpt",
            max_events_per_trigger=1,  # one file per micro-batch
            num_buckets=4,  # tiny replay: fewer bucket files per batch
        )
        q = run_cdc_pipeline(
            spark,
            cfg,
            DATA_SCHEMA,
            key_fields=("o_orderkey",),
            base_columns=("o_orderkey", "o_totalprice", "o_orderstatus"),
            available_now=True,
        )
        q.awaitTermination(300)
        state = read_state(spark, cfg.target_dir)
        assert state is not None, "pipeline produced no state"
        # Lazy read of the parquet state — no driver materialization;
        # the target dir outlives this call (input/ckpt are cleaned).
        return state.select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderstatus",
        ).orderBy("o_orderkey")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(input_dir, ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


def streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD Type-2 maintenance run end-to-end
    (``run_scd2_pipeline``): Maxwell envelopes derived from the WHOLE
    orders table replay as two micro-batches (snapshot inserts; then
    updates on key%3 a day later + deletes on key%5 two days later),
    the foreachBatch sink accretes version history incrementally
    (bucket-pruned: only touched buckets are read/rewritten), and the
    final history must hash-match the one-shot batch SCD2 SQL over
    the concatenated changelog — the incremental-equals-batch
    equivalence claim, value-checked."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="bireme_scd2_")
    input_dir = f"{work}/input"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        from bireme_spark.streaming.pipeline import run_scd2_pipeline
        from bireme_spark.streaming.replay import stamp_batch_mtime

        o = load_table(spark, sf_dir, "orders").cache()
        o.count()
        seen: set[str] = set()
        _maxwell_json(o, "insert", 0, 0.0).coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 0, seen)
        upd = _maxwell_json(o.where(F.col("o_orderkey") % 3 == 0), "update", 1, 10.0)
        dele = _maxwell_json(o.where(F.col("o_orderkey") % 5 == 0), "delete", 2, 0.0)
        upd.unionByName(dele).coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 1, seen)
        # envelope files are written — release the cached table before
        # the (long) stream run instead of pinning it for the session
        o.unpersist()

        cfg = PipelineConfig(
            sources=[
                SourceConfig(
                    name="maxwell",
                    kind="file",
                    path=input_dir,
                    table_map={"maxwell.testdb.orders": "public.orders"},
                )
            ],
            target_dir=f"{work}/target",
            checkpoint_dir=f"{work}/ckpt",
            max_events_per_trigger=1,
            num_buckets=4,
        )
        q = run_scd2_pipeline(
            spark, cfg, DATA_SCHEMA, key_fields=("o_orderkey",), available_now=True
        )
        q.awaitTermination(300)
        hist = read_state(spark, cfg.target_dir)
        assert hist is not None, "scd2 pipeline produced no history"
        return hist.select(
            F.col("key").cast("bigint").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("o_orderstatus").alias("status"),
            F.col("valid_from").cast("bigint").alias("valid_from"),
            F.col("valid_to").cast("bigint").alias("valid_to"),
            "is_current",
        ).orderBy("o_orderkey", "valid_from")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(input_dir, ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


STREAMING_SCD2_SQL = """
WITH changelog AS (
  SELECT o_orderkey, 'I' AS op, epoch_ms(o_orderdate) AS t,
         o_totalprice AS price, o_orderstatus AS status
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', epoch_ms(o_orderdate) + 86400000,
         o_totalprice + 10.0, o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'D', epoch_ms(o_orderdate) + 172800000, NULL, NULL
  FROM orders WHERE o_orderkey % 5 = 0
)
SELECT o_orderkey, price AS totalprice, status,
       t AS valid_from, valid_to, valid_to IS NULL AS is_current
FROM (
  SELECT *, LEAD(t) OVER (PARTITION BY o_orderkey ORDER BY t) AS valid_to
  FROM changelog
) v
WHERE op <> 'D'
ORDER BY o_orderkey, valid_from
"""


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: each purchase event joins the
    same user's click events from the preceding 30 minutes. Both sides
    carry a 1-hour watermark + the event-time range constraint, so
    state for either side is dropped once the watermark passes —
    bounded state at any stream length (the unbounded-state join is
    the classic streaming OOM). availableNow replay of a single file
    makes the append-mode result equal the batch interval join, which
    is exactly the DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    work = tempfile.mkdtemp(prefix="bireme_ssj_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
        e.where(F.col("event_type").isin("purchase", "click")).coalesce(1).write.parquet(
            f"{work}/in"
        )
        schema = spark.read.parquet(f"{work}/in").schema
        stream = spark.readStream.schema(schema).parquet(f"{work}/in")
        p = (
            stream.where(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        c = (
            stream.where(F.col("event_type") == "click")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        joined = p.join(
            c,
            F.expr(
                "p_user = user_id AND click_ts >= purchase_ts - INTERVAL 30 MINUTES"
                " AND click_ts <= purchase_ts"
            ),
        ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
        # parquet sink + lazy read-back — the memory sink would pull
        # every joined row onto the driver
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.read.parquet(f"{work}/out")
            .select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
            .orderBy("purchase_id", "click_id")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


def cdc_multi_table_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-database sync through ONE stream — bireme's deployment
    shape (a pipeline consumes a database's binlog topic and routes
    every table through its own cache/loader): orders AND customer
    envelopes interleave in the same two micro-batches; the
    multi-table pipeline routes by envelope (database, table), parses
    each table with its own schema, and merges into per-table
    bucket-versioned targets. The oracle predicts both final states
    from the base tables directly."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="bireme_multi_")
    input_dir = f"{work}/input"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        from bireme_spark.streaming.pipeline import (
            TableSpec,
            run_multi_table_pipeline,
        )
        from bireme_spark.streaming.replay import stamp_batch_mtime

        o = (
            load_table(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") % 7 == 0)
            .select(
                "o_orderkey",
                "o_totalprice",
                F.unix_timestamp("o_orderdate").alias("base_ts"),
            )
        )
        c = (
            load_table(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % 11 == 0)
            .select(
                "c_custkey",
                "c_acctbal",
                (F.lit(1_000_000_000) + F.col("c_custkey")).alias("base_ts"),
            )
        )
        # both base frames feed multiple envelope projections
        o, c = o.cache(), c.cache()
        o.count(), c.count()

        def env(df: DataFrame, table: str, op: str, data, ts_shift: int) -> DataFrame:
            return df.select(
                F.to_json(
                    F.struct(
                        F.lit("testdb").alias("database"),
                        F.lit(table).alias("table"),
                        F.lit(op).alias("type"),
                        (F.col("base_ts") + ts_shift).alias("ts"),
                        data.alias("data"),
                    )
                ).alias("value")
            )

        o_data = F.struct(F.col("o_orderkey"), F.col("o_totalprice"))
        c_data = F.struct(F.col("c_custkey"), F.col("c_acctbal"))
        seen: set[str] = set()
        b1 = env(o, "orders", "insert", o_data, 0).unionByName(
            env(c, "customer", "insert", c_data, 0)
        )
        b1.coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 0, seen)
        o_upd = F.struct(
            F.col("o_orderkey"), (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice")
        )
        o_del = F.struct(
            F.col("o_orderkey"), F.lit(None).cast("double").alias("o_totalprice")
        )
        c_upd = F.struct(
            F.col("c_custkey"), (F.col("c_acctbal") + F.lit(5.0)).alias("c_acctbal")
        )
        b2 = (
            env(o.where(F.col("o_orderkey") % 3 == 0), "orders", "update", o_upd, 86_400)
            .unionByName(
                env(o.where(F.col("o_orderkey") % 5 == 0), "orders", "delete", o_del, 172_800)
            )
            .unionByName(
                env(c.where(F.col("c_custkey") % 2 == 0), "customer", "update", c_upd, 86_400)
            )
        )
        b2.coalesce(1).write.mode("append").text(input_dir)
        stamp_batch_mtime(input_dir, 1, seen)
        o.unpersist(), c.unpersist()  # envelopes written

        table_map = {
            "maxwell.testdb.orders": "public.orders",
            "maxwell.testdb.customer": "public.customer",
        }
        cfg = PipelineConfig(
            sources=[
                SourceConfig(name="maxwell", kind="file", path=input_dir, table_map=table_map)
            ],
            target_dir=f"{work}/target",
            checkpoint_dir=f"{work}/ckpt",
            max_events_per_trigger=1,
            num_buckets=4,
        )
        specs = {
            "public.orders": TableSpec(
                StructType().add("o_orderkey", "long").add("o_totalprice", "double"),
                ("o_orderkey",),
                ("o_orderkey", "o_totalprice"),
            ),
            "public.customer": TableSpec(
                StructType().add("c_custkey", "long").add("c_acctbal", "double"),
                ("c_custkey",),
                ("c_custkey", "c_acctbal"),
            ),
        }
        q = run_multi_table_pipeline(spark, cfg, specs, available_now=True)
        q.awaitTermination(300)
        so = read_state(spark, f"{cfg.target_dir}/public.orders")
        sc = read_state(spark, f"{cfg.target_dir}/public.customer")
        assert so is not None and sc is not None, "multi-table sync produced no state"
        orders_out = so.select(
            F.lit("public.orders").alias("target_table"),
            F.col("o_orderkey").cast("bigint").alias("key"),
            F.col("o_totalprice").cast("double").alias("val"),
        )
        cust_out = sc.select(
            F.lit("public.customer").alias("target_table"),
            F.col("c_custkey").cast("bigint").alias("key"),
            F.col("c_acctbal").cast("double").alias("val"),
        )
        return orders_out.unionByName(cust_out).orderBy("target_table", "key")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(input_dir, ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


CDC_MULTI_TABLE_SQL = """
SELECT 'public.customer' AS target_table, c_custkey AS key,
       CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 5.0 ELSE c_acctbal END AS val
FROM customer WHERE c_custkey % 11 = 0
UNION ALL
SELECT 'public.orders', o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END
FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
ORDER BY 1, 2
"""


def streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the hard half of
    streaming joins: a purchase with no qualifying click can only
    emit (with nulls) once the watermark PROVES no matching click can
    still arrive, i.e. state eviction is the null-emission trigger.
    The replay is time-split (no late rows), a far-future sentinel
    click pushes the final watermark past every real purchase, and
    Spark's no-data micro-batch then flushes all unmatched state — so
    the append-mode result equals the batch LEFT JOIN oracle exactly.
    Without the outer join, pipelines LOSE every conversion-less
    purchase (the rows funnel analyses need most)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    work = tempfile.mkdtemp(prefix="bireme_ssjo_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        from bireme_spark.streaming.replay import (
            read_replay,
            replay_to_files,
            stamp_batch_mtime,
        )

        e = load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", "ts"
        ).where(F.col("event_type").isin("purchase", "click"))
        flush_ts = e.agg((F.max("ts") + F.expr("INTERVAL 10 DAYS")).alias("f")).first().f
        replay_to_files(e, "ts", f"{work}/in", halves=2)
        # Sentinels on BOTH sides: the global watermark is the MIN of
        # the per-input watermarks, and each side's watermark only
        # advances on its own filtered events — a click-only sentinel
        # would leave the purchase watermark at max(purchase)-1h and
        # strand the tail purchases' unmatched state forever.
        import os

        pre = {
            os.path.join(f"{work}/in", f) for f in os.listdir(f"{work}/in")
        }
        sent = spark.createDataFrame(
            [(-1, -1, "purchase", flush_ts), (-1, -2, "click", flush_ts)],
            "user_id long, event_id long, event_type string, ts timestamp",
        )
        sent.coalesce(1).write.mode("append").parquet(f"{work}/in")
        stamp_batch_mtime(f"{work}/in", 2, pre)
        stream = read_replay(
            spark, f"{work}/in", "user_id long, event_id long, event_type string, ts timestamp"
        )
        p = (
            stream.where(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
            )
        )
        c = (
            stream.where(F.col("event_type") == "click")
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
        )
        joined = p.join(
            c,
            F.expr(
                "p_user = c_user AND click_ts >= purchase_ts - INTERVAL 30 MINUTES"
                " AND click_ts <= purchase_ts"
            ),
            "leftOuter",
        ).select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            "purchase_ts",
            "click_ts",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.read.parquet(f"{work}/out")
            .where(F.col("user_id") >= 0)  # drop the flush sentinels
            .select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
            .orderBy("purchase_id", "click_id")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


STREAM_JOIN_OUTER_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       p.ts AS purchase_ts, c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
ORDER BY purchase_id, click_id
"""


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup — the Spark-native twin of the
    reference's at-least-once Kafka delivery dedup (bireme drops
    redelivered rows by (partition, offset); `KafkaPipeLine.java`).
    A deterministic subset of events is re-delivered (every 3rd id
    duplicated), then `dropDuplicatesWithinWatermark` on event_id
    removes the redeliveries with BOUNDED state: unlike plain
    dropDuplicates (state grows with every key ever seen — the
    classic unbounded-state leak), keys are evicted once the
    watermark passes their event time, so state is O(events within
    the watermark window) at any stream length.

    The deduped stream goes to a parquet sink (no driver
    materialization); the returned frame aggregates the sink
    batch-side, and the oracle is the same aggregate over the
    original events — redeliveries must vanish exactly."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    work = tempfile.mkdtemp(prefix="bireme_sdd_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        from bireme_spark.streaming.replay import read_replay, replay_to_files

        e = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        # at-least-once simulation: every 3rd event arrives twice
        # (identical payload, same event time → same replay batch,
        # always within the watermark of its twin)
        feed = e.unionAll(e.where(F.col("event_id") % 3 == 0))
        replay_to_files(feed, "ts", f"{work}/in", halves=2)
        stream = read_replay(
            spark,
            f"{work}/in",
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", f"{work}/out")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        return (
            spark.read.parquet(f"{work}/out")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
            )
            .orderBy("event_type")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/ckpt", ignore_errors=True)


STREAMING_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1 ORDER BY 1
"""


STREAM_JOIN_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       p.ts AS purchase_ts, c.ts AS click_ts
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, click_id
"""


QUERIES = {
    "streaming_dedup": streaming_dedup,
    "streaming_cdc_pipeline": streaming_cdc_pipeline,
    "streaming_scd2": streaming_scd2,
    "streaming_stream_join": streaming_stream_join,
    "streaming_stream_join_outer": streaming_stream_join_outer,
    "cdc_multi_table_sync": cdc_multi_table_sync,
}
ORACLE: dict[str, str] = {
    "cdc_multi_table_sync": CDC_MULTI_TABLE_SQL,
    "streaming_dedup": STREAMING_DEDUP_SQL,
    "streaming_scd2": STREAMING_SCD2_SQL,
    "streaming_stream_join": STREAM_JOIN_SQL,
    "streaming_stream_join_outer": STREAM_JOIN_OUTER_SQL,
}
