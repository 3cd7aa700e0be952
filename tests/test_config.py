"""Properties-file config loading (Config.java twin) and the HTTP
StateServer (StateServer.java twin). The reference's own etc/ files
round-trip as the fixture when present."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

from bireme_spark.config import PipelineConfig, load_properties

REF_ETC = "/root/reference/etc"


def test_load_properties_syntax(tmp_path):
    p = tmp_path / "x.properties"
    p.write_text(
        "# comment\n"
        "! also comment\n"
        "a = 1\n"
        "b:2\n"
        "c = with = equals\n"
        "long = one\\\n"
        "two\n"
        "\n"
    )
    assert load_properties(str(p)) == {
        "a": "1",
        "b": "2",
        "c": "with = equals",
        "long": "onetwo",
    }


@pytest.mark.skipif(
    not os.path.isfile(f"{REF_ETC}/config.properties"), reason="reference etc not present"
)
def test_reference_etc_round_trips():
    cfg = PipelineConfig.from_properties_file(f"{REF_ETC}/config.properties")
    names = {s.name: s for s in cfg.sources}
    assert set(names) == {"maxwell1", "debezium1"}
    assert names["maxwell1"].kind == "maxwell"
    assert names["maxwell1"].kafka_server == "127.0.0.1:9092"
    assert names["maxwell1"].kafka_topic == "topic_name1"
    assert names["debezium1"].kind == "debezium"
    # reference merge.interval is milliseconds
    assert cfg.trigger_interval == "10000 milliseconds"
    assert cfg.max_events_per_trigger == 50000
    assert cfg.target_jdbc_url == "jdbc:postgresql://127.0.0.1:5432/postgres"
    assert cfg.jdbc_properties == {"user": "postgres", "password": "postgres"}
    assert cfg.state_server_addr == "0.0.0.0"
    assert cfg.state_server_port == 8080
    # per-source table-map file: demo.table1 = public.table1
    assert names["maxwell1"].table_map == {"maxwell1.demo.table1": "public.table1"}


def test_events_ts_loads_as_session_tz_timestamp(spark, sf_dir):
    """NTZ hygiene guard (round-3 regression): events.ts is parquet
    TIMESTAMP(NANOS); PySpark ≤4.0 surfaced it as LongType under
    nanosAsLong, 4.1.x as TIMESTAMP_NTZ. Every ts consumer
    (withWatermark, window, sessionize, gap_fill, asof) requires
    session-tz TIMESTAMP — assert load_table always delivers it, so
    the next PySpark bump can't silently flip timestamp semantics."""
    from pyspark.sql.types import TimestampType

    from bireme_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), df.schema["ts"].dataType
    # and the value stream is µs-truncated UTC wall time (what DuckDB's
    # naive TIMESTAMP sees): spot-check one deterministic row
    row = df.orderBy("event_id").select("ts").first()
    assert row.ts.year >= 2020
    # a watermark must now be accepted (the exact round-3 failure mode)
    df.withWatermark("ts", "1 hour")


def test_register_views_enables_spark_sql(spark, sf_dir):
    """register_views: the spark.sql entry path over the warehouse
    tables (same loader fixups — events.ts arrives as TIMESTAMP)."""
    from bireme_spark.sources.tables import register_views

    register_views(spark, sf_dir, "nation", "events")
    n = spark.sql("SELECT COUNT(*) AS n FROM nation").first().n
    assert n == 25
    t = spark.sql("SELECT typeof(ts) AS t FROM events LIMIT 1").first().t
    assert t == "timestamp"


def _jobs_while(spark, what, fn):
    """``fn()`` and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"jobs-{what}"
    sc.setJobGroup(group, what)
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_load_table_infers_a_table_schema_once_per_session(spark, tmp_path):
    """load_table memoizes each table's inferred schema per session,
    keyed by its files: a second load of an unchanged table starts no
    schema-inference job, and a file overwritten with another schema is
    inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bireme_spark.sources.tables import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    first, inferred = _jobs_while(spark, "first-load", lambda: load_table(spark, str(tmp_path), "t"))
    again, built = _jobs_while(spark, "second-load", lambda: load_table(spark, str(tmp_path), "t"))
    assert inferred and built == []
    assert again.schema == first.schema
    assert sorted(tuple(r) for r in again.collect()) == [(1, "x"), (2, "y")]

    pq.write_table(pa.table({"a": [1.5], "c": [True]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema.simpleString() == "struct<a:double,c:boolean>"
    assert [tuple(r) for r in df.collect()] == [(1.5, True)]


def test_state_server_serves_listener_state():
    from bireme_spark.streaming.state_server import StateServer
    from bireme_spark.streaming.stats import PipelineStatListener

    listener = PipelineStatListener()
    # inject state the way onQueryStarted/Progress would
    listener._by_query["qid-1"] = {
        "name": "maxwell1",
        "status": "running",
        "batches": 3,
        "total_rows": 1500,
        "last_rows_per_sec": 500.0,
        "last_batch_ms": 40,
    }
    srv = StateServer(listener, port=0).start()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        root = json.loads(urllib.request.urlopen(f"{base}/").read())
        assert root["source"]["qid-1"]["total_rows"] == 1500
        by_name = json.loads(urllib.request.urlopen(f"{base}/maxwell1").read())
        assert by_name["batches"] == 3
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/nope")
        assert ei.value.code == 404
    finally:
        srv.stop()


def test_bireme_state_shape_matches_reference_fields():
    """StateServer.java:194-216 field parity: Source{source_name,
    type, pipelines[]} / Stat{name, latest, delay, state}; delay in
    SECONDS (the reference divides ms by 1000)."""
    from bireme_spark.streaming.stats import PipelineStatListener, bireme_state

    listener = PipelineStatListener()
    listener._by_query["qid-1"] = {
        "name": "maxwell1",
        "status": "running",
        "batches": 3,
        "total_rows": 1500,
        "last_rows_per_sec": 500.0,
        "last_batch_ms": 2500,
    }
    out = bireme_state(listener, source_name="mysql_src", source_type="maxwell")
    assert set(out) == {"source_name", "type", "pipelines"}
    assert out["source_name"] == "mysql_src" and out["type"] == "maxwell"
    (p,) = out["pipelines"]
    assert set(p) == {"name", "latest", "delay", "state"}
    assert p["name"] == "maxwell1" and p["state"] == "running"
    assert p["delay"] == 2.5  # ms → seconds, reference convention


def test_bireme_state_latest_is_last_progress_time():
    """``latest`` is the last progress event's timestamp, not the time
    the snapshot is rendered."""
    from types import SimpleNamespace

    from bireme_spark.streaming.stats import PipelineStatListener, bireme_state

    listener = PipelineStatListener()
    listener.onQueryStarted(SimpleNamespace(id="qid-1", name="maxwell1"))
    ts = "2020-01-02T03:04:05.678Z"
    progress = SimpleNamespace(
        id="qid-1",
        numInputRows=10,
        processedRowsPerSecond=5.0,
        durationMs={"triggerExecution": 40},
        timestamp=ts,
    )
    listener.onQueryProgress(SimpleNamespace(progress=progress))
    (p,) = bireme_state(listener)["pipelines"]
    assert p["latest"] == ts


def test_state_server_during_live_stream(spark, tmp_path):
    """StateServer.java behavior: state is fetchable WHILE a query
    runs; after the run it reports the processed totals."""
    from bireme_spark.streaming.state_server import StateServer
    from bireme_spark.streaming.stats import PipelineStatListener

    listener = PipelineStatListener()
    spark.streams.addListener(listener)
    srv = StateServer(listener, port=0).start()
    try:
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.txt").write_text("\n".join(str(i) for i in range(100)))
        q = (
            spark.readStream.format("text")
            .load(str(src))
            .writeStream.format("noop")
            .queryName("liveq")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener progress events are delivered asynchronously
        import time

        state = {}
        for _ in range(50):
            state = json.loads(
                urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/liveq").read()
            )
            if state.get("total_rows"):
                break
            time.sleep(0.2)
        assert state["total_rows"] == 100
    finally:
        srv.stop()
        spark.streams.removeListener(listener)
