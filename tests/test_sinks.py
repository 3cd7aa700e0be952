"""JDBC merge-sink SQL generation (the DB-free half of the
ChangeLoader twin; the live-warehouse path needs a JDBC driver jar
and a running Greenplum/Postgres)."""

from __future__ import annotations

from bireme_spark.sinks.jdbc import (
    JdbcMergeSink,
    delete_sql,
    drop_sql,
    insert_sql,
    staging_table_name,
)


def test_staging_name_unique_per_batch():
    assert staging_table_name("public.orders", 7) != staging_table_name("public.orders", 8)
    assert "public__orders" in staging_table_name("public.orders", 7)


def test_delete_sql_composite_key():
    sql = delete_sql("public.t", "t_stage", ("k1", "k2"))
    assert sql == (
        'DELETE FROM "public"."t" WHERE EXISTS '
        '(SELECT 1 FROM t_stage WHERE "public"."t"."k1" = t_stage."k1" '
        'AND "public"."t"."k2" = t_stage."k2")'
    )


def test_insert_sql_excludes_deletes():
    sql = insert_sql("t", "t_stage", ("id", "val"))
    assert sql == (
        'INSERT INTO "t" ("id", "val") SELECT "id", "val" FROM t_stage '
        "WHERE \"op\" <> 'D'"
    )


def test_identifier_quoting_resists_injection():
    # user-controlled identifiers (target table, columns) are quoted
    sql = delete_sql('x"; DROP TABLE users; --', "s", ("k",))
    assert 'DELETE FROM "x""; DROP TABLE users; --"' in sql


def test_merge_statement_order():
    sink = JdbcMergeSink(
        url="jdbc:postgresql://db/w",
        target_table="public.orders",
        key_cols=("o_orderkey",),
        payload_cols=("o_orderkey", "o_totalprice"),
    )
    stmts = sink.merge_statements("public__orders__stage_1")
    assert [s.split()[0] for s in stmts] == ["DELETE", "INSERT", "DROP"]
    # upsert = delete-then-insert: the DELETE must come first
    assert "EXISTS" in stmts[0] and "<> 'D'" in stmts[1]


# ---------------------------------------------------------------------------
# Live transaction path against embedded Derby (on Spark's classpath for the
# Hive metastore) — the in-process stand-in for the Greenplum target the
# reference's ChangeLoader.java:206-290 talks to.
# ---------------------------------------------------------------------------


def _derby_exec(spark, url, *statements):
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        for s in statements:
            stmt.execute(s)
    finally:
        conn.close()


def _derby_rows(spark, url, sql):
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            out.append(tuple(rs.getObject(i + 1) for i in range(n)))
        return out
    finally:
        conn.close()


def test_merge_transaction_commits_against_derby(spark):
    """Stage-write → DELETE+INSERT+DROP in one transaction: upserts
    replace, deletes remove, untouched rows survive."""
    url = "jdbc:derby:memory:sinkdb;create=true"
    _derby_exec(
        spark,
        url,
        'CREATE TABLE "target" ("key" VARCHAR(64) PRIMARY KEY, "price" DOUBLE)',
        "INSERT INTO \"target\" VALUES ('1', 10.0), ('2', 20.0), ('3', 30.0)",
    )
    batch = spark.createDataFrame(
        [("2", 21.0, "U"), ("3", None, "D"), ("4", 40.0, "I")],
        "key string, price double, op string",
    )
    sink = JdbcMergeSink(
        url=url,
        target_table="target",
        key_cols=("key",),
        payload_cols=("key", "price"),
        # Derby can't compare CLOBs (Spark's default Derby mapping for
        # strings) — type the staged key explicitly
        properties={"createTableColumnTypes": "key VARCHAR(64), op VARCHAR(1)"},
    )
    sink(batch, batch_id=1)

    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
    assert rows == {"1": 10.0, "2": 21.0, "4": 40.0}
    # staging table dropped by the transaction's last statement
    from bireme_spark.sinks.jdbc import staging_table_name

    import pytest as _pytest

    with _pytest.raises(Exception, match="does not exist"):
        _derby_rows(spark, url, f'SELECT * FROM "{staging_table_name("target", 1)}"')


def test_merge_transaction_rolls_back_on_error(spark):
    """A failing INSERT (check-constraint violation) must roll back
    the already-executed DELETE — target state is untouched."""
    url = "jdbc:derby:memory:rollbackdb;create=true"
    _derby_exec(
        spark,
        url,
        'CREATE TABLE "target" ("key" VARCHAR(64) PRIMARY KEY,'
        ' "price" DOUBLE CHECK ("price" >= 0))',
        "INSERT INTO \"target\" VALUES ('1', 10.0), ('2', 20.0)",
    )
    batch = spark.createDataFrame(
        [("1", -5.0, "U")], "key string, price double, op string"
    )
    sink = JdbcMergeSink(
        url=url,
        target_table="target",
        key_cols=("key",),
        payload_cols=("key", "price"),
        properties={"createTableColumnTypes": "key VARCHAR(64), op VARCHAR(1)"},
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        sink(batch, batch_id=2)

    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
    assert rows == {"1": 10.0, "2": 20.0}, "DELETE must have been rolled back"


def test_replayed_batch_lands_once_on_live_derby(spark):
    """foreachBatch retry semantics against a live PK-constrained
    target: the same batch applied twice — its update and its insert
    already present the second time — lands once, because every
    staged key is deleted before the insert set is copied."""
    url = "jdbc:derby:memory:replaydb;create=true"
    _derby_exec(
        spark,
        url,
        'CREATE TABLE "target" ("key" VARCHAR(64) PRIMARY KEY, "price" DOUBLE)',
        "INSERT INTO \"target\" VALUES ('1', 10.0), ('2', 20.0)",
    )
    batch = spark.createDataFrame(
        [("2", 21.0, "U"), ("3", 30.0, "I")], "key string, price double, op string"
    )
    sink = JdbcMergeSink(
        url=url,
        target_table="target",
        key_cols=("key",),
        payload_cols=("key", "price"),
        properties={"createTableColumnTypes": "key VARCHAR(64), op VARCHAR(1)"},
    )
    for batch_id in (7, 8):
        sink(batch, batch_id=batch_id)
        rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
        assert rows == {"1": 10.0, "2": 21.0, "3": 30.0}


def test_get_primary_keys_discovery(spark):
    """GetPrimaryKeys.java twin: composite PK comes back in key order
    and feeds key_fields without hand-typing."""
    from bireme_spark.sinks.jdbc import get_primary_keys

    url = "jdbc:derby:memory:pkdb;create=true"
    _derby_exec(
        spark,
        url,
        "CREATE TABLE orders (o_orderkey BIGINT NOT NULL,"
        " o_line INT NOT NULL, o_price DOUBLE,"
        " PRIMARY KEY (o_orderkey, o_line))",
    )
    assert get_primary_keys(spark, url, "orders") == ["O_ORDERKEY", "O_LINE"]
    assert get_primary_keys(spark, url, "no_such_table") == []


def test_streaming_pipeline_into_jdbc_warehouse(spark, tmp_path):
    """Bireme's ACTUAL production loop end-to-end: Maxwell envelopes →
    Structured Streaming replay (availableNow, one file per
    micro-batch) → foreachBatch compaction → JdbcMergeSink DELETE+COPY
    transactions into an embedded Derby warehouse (the in-process
    Greenplum stand-in). Two micro-batches: snapshot inserts, then
    updates+deletes; the warehouse must land on exactly
    inserts ∪ updates − deletes."""
    import json
    import os

    from pyspark.sql.types import StructType

    from bireme_spark.config import PipelineConfig, SourceConfig
    from bireme_spark.streaming.pipeline import run_cdc_pipeline
    from bireme_spark.streaming.replay import stamp_batch_mtime

    url = "jdbc:derby:memory:streamwh;create=true"
    _derby_exec(
        spark, url, 'CREATE TABLE "orders" ("key" VARCHAR(64) PRIMARY KEY, "price" DOUBLE)'
    )

    def env(op, k, price, ts):
        return json.dumps(
            {
                "database": "testdb",
                "table": "orders",
                "type": op,
                "ts": ts,
                "data": {"k": k, "price": price},
            }
        )

    src = tmp_path / "in"
    src.mkdir()
    seen: set[str] = set()
    (src / "b0.txt").write_text(
        "\n".join(env("insert", k, 1.0, 1_000_000 + k) for k in range(60))
    )
    stamp_batch_mtime(str(src), 0, seen)
    lines = [env("update", k, 2.0, 2_000_000 + k) for k in range(0, 60, 3)]
    lines += [env("delete", k, None, 3_000_000 + k) for k in range(0, 60, 5)]
    (src / "b1.txt").write_text("\n".join(lines))
    stamp_batch_mtime(str(src), 1, seen)

    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="maxwell",
                kind="file",
                path=str(src),
                table_map={"maxwell.testdb.orders": "public.orders"},
            )
        ],
        target_dir=str(tmp_path / "unused"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_events_per_trigger=1,
        target_jdbc_url=url,
        target_table="orders",
        jdbc_properties={"createTableColumnTypes": "key VARCHAR(64), op VARCHAR(1)"},
    )
    schema = StructType().add("k", "long").add("price", "double")
    q = run_cdc_pipeline(
        spark, cfg, schema, key_fields=("k",), base_columns=("k", "price"), available_now=True
    )
    q.awaitTermination(120)

    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "orders"'))
    want = {
        str(k): (2.0 if k % 3 == 0 else 1.0) for k in range(60) if k % 5 != 0
    }
    assert rows == want
    assert os.path.isdir(cfg.checkpoint_dir)  # progress tracked for restart


def _commit(spark, target, rows, changed, batch_id, fence=False):
    """One sink commit: stage the changed buckets, then the manifest."""
    from bireme_spark.sinks.versioned import stage, write_manifest

    write_manifest(target, stage(spark, target, rows, changed, batch_id, fence), batch_id)


def _build_sink(spark, tmp_path, n_buckets=4):
    from pyspark.sql import functions as F

    from bireme_spark.sinks.versioned import bucket_col

    target = str(tmp_path / "erase_sink")
    df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("key"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("val"),
    )
    bucketed = df.withColumn("_sb", bucket_col("key", n_buckets))
    _commit(spark, target, bucketed, list(range(n_buckets)), batch_id=1)
    return target


def test_erase_predicate_removes_only_matches(spark, tmp_path):
    from bireme_spark.sinks.versioned import erase_predicate, read_state

    target = _build_sink(spark, tmp_path)
    stats = erase_predicate(spark, target, "grp = 3", batch_id=2)
    # ids where id % 7 == 3: 3, 10, ..., 199-ish → ceil((200-3)/7)
    assert stats["rows_erased"] == len([i for i in range(200) if i % 7 == 3])
    state = read_state(spark, target)
    assert state.where("grp = 3").count() == 0
    assert state.count() == 200 - stats["rows_erased"]
    # survivors keep their payload intact
    assert state.where("CAST(key AS BIGINT) * 3 <> val").count() == 0


def test_erase_predicate_bumps_only_affected_buckets(spark, tmp_path):
    from pyspark.sql import functions as F

    from bireme_spark.sinks.versioned import erase_predicate, snapshot

    target = _build_sink(spark, tmp_path)
    v1 = snapshot(target).versions
    # erase exactly ONE key → exactly one bucket rewritten
    stats = erase_predicate(spark, target, F.col("key") == "42", batch_id=2)
    assert stats["rows_erased"] == 1
    assert stats["buckets_rewritten"] == 1
    v2 = snapshot(target).versions
    bumped = [b for b in v2 if v2[b] != v1[b]]
    assert len(bumped) == 1
    assert all(v2[b] == v1[b] for b in v2 if b not in bumped)


def test_erase_predicate_idempotent_and_null_safe(spark, tmp_path):
    from bireme_spark.sinks.versioned import erase_predicate, read_state, snapshot

    target = _build_sink(spark, tmp_path)
    erase_predicate(spark, target, "grp = 1", batch_id=2)
    v_after = snapshot(target).versions
    # re-run: zero matches left, nothing rewritten, manifest untouched
    stats2 = erase_predicate(spark, target, "grp = 1", batch_id=3)
    assert stats2["rows_erased"] == 0
    assert stats2["buckets_rewritten"] == 0
    assert snapshot(target).versions == v_after
    # NULL predicate keeps the row (DELETE fires only on TRUE)
    stats3 = erase_predicate(
        spark, target, "CASE WHEN grp = 2 THEN NULL ELSE grp = 0 END", batch_id=4
    )
    state = read_state(spark, target)
    assert state.where("grp = 2").count() > 0  # NULL-condition rows survived
    assert state.where("grp = 0").count() == 0
    assert stats3["rows_erased"] > 0


def test_erase_predicate_empties_bucket_with_all_matches(spark, tmp_path):
    from bireme_spark.sinks.versioned import erase_predicate, read_state

    target = _build_sink(spark, tmp_path, n_buckets=2)
    # erase everything: both buckets rewritten to explicit empty versions
    stats = erase_predicate(spark, target, "val >= 0", batch_id=2)
    assert stats["rows_erased"] == 200
    assert stats["buckets_rewritten"] == 2
    state = read_state(spark, target)
    assert state.count() == 0
    # schema survives the empty rewrite
    assert set(state.columns) == {"key", "grp", "val"}


def test_shallow_clone_snapshot_survives_origin_erase(spark, tmp_path):
    from bireme_spark.sinks.versioned import erase_predicate, read_state, shallow_clone

    origin = _build_sink(spark, tmp_path)
    clone = str(tmp_path / "the_clone")
    stats = shallow_clone(origin, clone)
    assert stats["files_copied"] == 0 and stats["files_linked"] > 0  # zero-copy
    erase_predicate(spark, origin, "grp = 5", batch_id=2)
    # clone is a stable snapshot: full pre-erase state, matches intact
    cl = read_state(spark, clone)
    assert cl.count() == 200
    assert cl.where("grp = 5").count() == len([i for i in range(200) if i % 7 == 5])
    # origin really lost them
    assert read_state(spark, origin).where("grp = 5").count() == 0


def test_shallow_clone_is_hardlinked_and_manifest_equal(spark, tmp_path):
    import os

    from bireme_spark.sinks.versioned import shallow_clone, snapshot, version_dir

    def committed_dirs(target):
        return [version_dir(target, b, v) for b, v in snapshot(target).versions.items()]

    origin = _build_sink(spark, tmp_path)
    clone = str(tmp_path / "clone2")
    shallow_clone(origin, clone)
    assert snapshot(clone).versions == snapshot(origin).versions
    src_inodes = {
        (os.path.relpath(p, origin), n): os.stat(os.path.join(p, n)).st_ino
        for p in committed_dirs(origin)
        for n in os.listdir(p)
        if os.path.isfile(os.path.join(p, n))
    }
    for p in committed_dirs(clone):
        for n in os.listdir(p):
            fp = os.path.join(p, n)
            if os.path.isfile(fp):
                st = os.stat(fp)
                assert st.st_nlink >= 2  # shared inode, not a byte copy
                assert src_inodes.get((os.path.relpath(p, clone), n)) == st.st_ino


def test_shallow_clone_then_write_divergence(spark, tmp_path):
    from pyspark.sql import functions as F

    from bireme_spark.sinks.versioned import erase_predicate, read_state, shallow_clone

    origin = _build_sink(spark, tmp_path)
    clone = str(tmp_path / "clone3")
    shallow_clone(origin, clone)
    # writes on the CLONE stage new version dirs; origin never sees them
    erase_predicate(spark, clone, F.col("grp") == 0, batch_id=2)
    assert read_state(spark, clone).where("grp = 0").count() == 0
    assert read_state(spark, origin).where("grp = 0").count() > 0


def test_stale_writer_is_fenced(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from bireme_spark.sinks.versioned import StaleWriterError, bucket_col, read_state, snapshot

    target = _build_sink(spark, tmp_path)  # commits batch_id=1
    df = spark.range(500, 510).select(
        F.col("id").cast("string").alias("key"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("val"),
    ).withColumn("_sb", bucket_col("key", 4))
    _commit(spark, target, df, list(range(4)), batch_id=5)
    v_after = snapshot(target).versions
    rows_after = read_state(spark, target).count()

    # zombie epoch: batch 3 < committed 5 must refuse and change nothing
    with pytest.raises(StaleWriterError):
        _commit(spark, target, df, list(range(4)), batch_id=3, fence=True)
    assert snapshot(target).versions == v_after
    assert read_state(spark, target).count() == rows_after

    # equal batch_id is a foreachBatch RETRY and must be allowed even fenced
    _commit(spark, target, df, list(range(4)), batch_id=5, fence=True)
    assert read_state(spark, target).count() == rows_after

    # UNfenced lower batch_id stays allowed: deliberate full replay
    # after checkpoint loss re-presents old ids (value-idempotent)
    _commit(spark, target, df, list(range(4)), batch_id=3)
    assert read_state(spark, target).count() == rows_after


def test_sink_layout_is_spelled_only_in_the_sink_module():
    """The on-disk layout belongs to sinks/versioned.py: no other
    package module spells a layout dir (the delta dir included) or the
    manifest name, so every reader and writer goes through that module's
    snapshot and commit."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "bireme_spark"
    owner = pkg / "sinks" / "versioned.py"
    literals = ("_sb=", "_sv=", "_manifest.json", '"_delta"', "/_delta")
    assert all(lit in owner.read_text(encoding="utf-8") for lit in literals)
    hits = [
        f"{path.relative_to(pkg)}: {lit}"
        for path in sorted(pkg.rglob("*.py"))
        if path != owner
        for lit in literals
        if lit in path.read_text(encoding="utf-8")
    ]
    assert not hits, hits


def test_shallow_clone_refuses_dirty_destination(spark, tmp_path):
    """Re-cloning onto an existing clone must FAIL, not silently
    overwrite (ADVICE r6: a bare except OSError treated EEXIST as
    the cross-device case and copy2'd over the dirty dst)."""
    import pytest

    from bireme_spark.sinks.versioned import shallow_clone

    origin = _build_sink(spark, tmp_path)
    clone = str(tmp_path / "dirty_clone")
    shallow_clone(origin, clone)
    with pytest.raises(OSError):
        shallow_clone(origin, clone)
