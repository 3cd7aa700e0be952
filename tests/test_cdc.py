"""Unit tests for CDC operators against hand-built fixtures —
mirrors the reference's integration-test flows (RowBatchMerger fold
order, PK-change old-key deletes, DELETE+COPY apply)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bireme_spark.operators.cdc import apply_changes, compact, dedup_offsets, scd2, snapshot
from bireme_spark.sources.debezium import parse_debezium
from bireme_spark.sources.maxwell import parse_maxwell


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "key string, op string, produce_time_ms long, seq long, val string"
    )


class TestCompact:
    def test_insert_then_delete_removes_from_insert_set(self, spark):
        # RowCache.java:185-191 — DELETE drops a same-batch INSERT.
        df = _changes(spark, [("k1", "I", 1, 1, "a"), ("k1", "D", 2, 2, None)])
        out = compact(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.final_op == "D" and r.in_delete and not r.in_insert and r.val is None

    def test_delete_then_reinsert_keeps_both_sets(self, spark):
        df = _changes(spark, [("k1", "D", 1, 1, None), ("k1", "I", 2, 2, "new")])
        r = compact(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()[0]
        assert r.final_op == "I" and r.in_delete and r.in_insert and r.val == "new"

    def test_update_wins_by_time_not_arrival(self, spark):
        # Later produce_time wins even if it arrives first in the frame.
        df = _changes(spark, [("k1", "U", 9, 9, "late"), ("k1", "I", 1, 1, "early")])
        r = compact(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()[0]
        assert r.val == "late" and r.in_delete  # update ⇒ delete-set membership

    def test_pk_change_deletes_old_key(self, spark):
        # MaxwellPipeLine.java:104-112 + RowCache.java:194-199: an
        # UPDATE that changes the PK deletes the old key and inserts
        # the new one.
        df = spark.createDataFrame(
            [("k2", "U", 2, 2, "moved", "k1"), ("k1", "I", 1, 1, "orig", None)],
            "key string, op string, produce_time_ms long, seq long, val string, old_key string",
        )
        out = {
            r.key: r
            for r in compact(
                df,
                ("key",),
                ("produce_time_ms", "seq"),
                payload_cols=("val",),
                old_key_col="old_key",
            ).collect()
        }
        assert out["k1"].in_delete and not out["k1"].in_insert
        assert out["k2"].in_insert and out["k2"].val == "moved"

    def test_insert_only_key_not_in_delete_set(self, spark):
        df = _changes(spark, [("k1", "I", 1, 1, "a")])
        r = compact(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()[0]
        assert not r.in_delete and r.in_insert


class TestApply:
    def _base(self, spark):
        return spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
        )

    def test_apply_upsert_and_delete(self, spark):
        base = self._base(spark)
        ch = _changes(
            spark,
            [("2", "U", 1, 1, "b2"), ("3", "D", 1, 2, None), ("9", "I", 1, 3, "i")],
        )
        c = compact(ch, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",))
        out = {
            r.id: r.val
            for r in apply_changes(
                base, c, base_key_cols=("id",), compact_key_cols=("key",)
            ).collect()
        }
        assert out == {1: "a", 2: "b2", 9: "i"}

    def test_mixed_batch_keeps_anti_join_and_result(self, spark):
        """Every merge deletes the batch's keys first: the anti-join is
        in the plan, and updates and deletes land."""
        base = self._base(spark)
        ch = _changes(
            spark,
            [("2", "U", 1, 1, "b2"), ("3", "D", 1, 2, None), ("9", "I", 1, 3, "i")],
        )
        c = compact(ch, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",))
        out = apply_changes(base, c, ("id",), ("key",))
        plan = out._jdf.queryExecution().toString()
        assert "LeftAnti" in plan or "left_anti" in plan.lower()
        assert sorted((r.id, r.val) for r in out.collect()) == [(1, "a"), (2, "b2"), (9, "i")]

    def test_apply_idempotent(self, spark):
        # Re-applying the same compacted batch yields the same state
        # (bireme's DELETE+COPY is naturally idempotent per batch).
        base = self._base(spark)
        ch = _changes(spark, [("2", "U", 1, 1, "b2")])
        c = compact(ch, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",))
        once = apply_changes(base, c, ("id",), ("key",))
        twice = apply_changes(once, c, ("id",), ("key",))
        assert sorted((r.id, r.val) for r in twice.collect()) == sorted(
            (r.id, r.val) for r in once.collect()
        )

    def test_pure_insert_reapply_idempotent_only_pessimistic(self, spark):
        """The retry contract the streaming pipeline relies on: a
        PURE-INSERT batch re-applied (a batch re-run after a partial
        sink write) still lands once, because the merge deletes its
        keys before appending — it never assumes insert keys are new."""
        base = self._base(spark)
        ch = _changes(spark, [("9", "I", 1, 1, "i")])
        c = compact(ch, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",))
        once = apply_changes(base, c, ("id",), ("key",))
        twice = apply_changes(once, c, ("id",), ("key",))
        assert sorted((r.id, r.val) for r in twice.collect()) == sorted(
            (r.id, r.val) for r in once.collect()
        )


class TestParsers:
    def test_maxwell_update_with_pk_change(self, spark):
        js = (
            '{"database":"db","table":"t","type":"update","ts":100,'
            '"data":{"id":7,"v":"new"},"old":{"id":3}}'
        )
        schema = StructType().add("id", "long").add("v", "string")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_maxwell(df, "value", schema, key_fields=("id",)).collect()[0]
        assert r.op == "U" and r.key == "7" and r.old_key == "3"
        assert r.produce_time_ms == 100_000 and r.origin_table == "maxwell.db.t"

    def test_maxwell_update_without_pk_change_has_null_old_key(self, spark):
        js = (
            '{"database":"db","table":"t","type":"update","ts":100,'
            '"data":{"id":7,"v":"new"},"old":{"v":"old"}}'
        )
        schema = StructType().add("id", "long").add("v", "string")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_maxwell(df, "value", schema, key_fields=("id",)).collect()[0]
        assert r.op == "U" and r.key == "7" and r.old_key is None

    def test_debezium_delete_reads_before(self, spark):
        js = '{"payload":{"op":"d","ts_ms":5,"before":{"id":1,"v":"x"},"after":null}}'
        schema = StructType().add("id", "long").add("v", "string")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_debezium(df, "value", schema, key_fields=("id",)).collect()[0]
        assert r.op == "D" and r.key == "1" and r.data.v == "x"

    def test_debezium_snapshot_read_maps_to_insert(self, spark):
        js = '{"payload":{"op":"r","ts_ms":5,"before":null,"after":{"id":2,"v":"y"}}}'
        schema = StructType().add("id", "long").add("v", "string")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_debezium(df, "value", schema, key_fields=("id",)).collect()[0]
        assert r.op == "I" and r.key == "2"

    def test_debezium_mongo_extended_json_insert(self, spark):
        from bireme_spark.sources.debezium import parse_debezium_mongo

        js = (
            '{"payload":{"op":"c","ts_ms":9,"after":'
            '"{\\"_id\\": {\\"$oid\\": \\"64dbeef0aa\\"}, '
            '\\"n\\": {\\"$numberLong\\": \\"42\\"}, '
            '\\"d\\": {\\"$date\\": 1700000000000}, '
            '\\"x\\": 1.5, \\"s\\": \\"hi\\"}"}}'
        )
        schema = (
            StructType()
            .add("_id", "string")
            .add("n", "long")
            .add("d", "long")
            .add("x", "double")
            .add("s", "string")
        )
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_debezium_mongo(df, "value", schema, key_fields=("_id",)).collect()[0]
        assert r.op == "I" and r.key == "64dbeef0aa"
        assert r.data.n == 42 and r.data.d == 1700000000000
        assert r.data.x == 1.5 and r.data.s == "hi"
        assert r.produce_time_ms == 9

    def test_debezium_mongo_delete_reads_before_string(self, spark):
        from bireme_spark.sources.debezium import parse_debezium_mongo

        js = (
            '{"payload":{"op":"d","ts_ms":3,'
            '"before":"{\\"_id\\": \\"k1\\", \\"v\\": \\"gone\\"}","after":null}}'
        )
        schema = StructType().add("_id", "string").add("v", "string")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_debezium_mongo(df, "value", schema, key_fields=("_id",)).collect()[0]
        assert r.op == "D" and r.key == "k1" and r.data.v == "gone"

    def test_debezium_mongo_unknown_wrapper_nulls_field_not_row(self, spark):
        from bireme_spark.sources.debezium import parse_debezium_mongo

        js = (
            '{"payload":{"op":"c","ts_ms":1,"after":'
            '"{\\"_id\\": \\"a\\", \\"t\\": {\\"$timestamp\\": '
            '{\\"t\\": 1, \\"i\\": 2}}, \\"v\\": 7}"}}'
        )
        schema = StructType().add("_id", "string").add("t", "long").add("v", "long")
        df = spark.createDataFrame([(js,)], "value string")
        r = parse_debezium_mongo(df, "value", schema, key_fields=("_id",)).collect()[0]
        assert r.op == "I" and r.key == "a" and r.data.v == 7
        assert r.data.t is None  # unhandled wrapper degrades to NULL field

    def test_debezium_tombstone_dropped(self, spark):
        # Kafka log-compaction tombstones have no payload
        # (DebeziumPipeLine.java:91-95).
        js = '{"payload":null}'
        schema = StructType().add("id", "long")
        df = spark.createDataFrame([(js,)], "value string")
        assert parse_debezium(df, "value", schema, key_fields=("id",)).count() == 0


class TestDedupOffsets:
    def test_replayed_offsets_collapse(self, spark):
        df = spark.createDataFrame(
            [("s", 0, 1, "a"), ("s", 0, 1, "a"), ("s", 0, 2, "b"), ("s", 1, 1, "c")],
            "source string, kafka_partition int, kafka_offset long, v string",
        )
        out = dedup_offsets(df).collect()
        assert len(out) == 3


class TestSnapshot:
    def test_snapshot_drops_deleted_keys(self, spark):
        df = _changes(
            spark,
            [
                ("k1", "I", 1, 1, "a"),
                ("k2", "I", 1, 2, "b"),
                ("k2", "D", 2, 3, None),
                ("k1", "U", 3, 4, "a2"),
            ],
        )
        out = snapshot(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()
        assert {(r.key, r.val) for r in out} == {("k1", "a2")}


class TestNonDmlMessages:
    def test_maxwell_bootstrap_and_ddl_dropped(self, spark):
        from pyspark.sql.types import StructType

        from bireme_spark.sources.maxwell import parse_maxwell

        schema = StructType().add("id", "long").add("v", "string")
        rows = [
            ('{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"v":"a"}}',),
            ('{"database":"d","table":"t","type":"bootstrap-start","ts":1,"data":{}}',),
            ('{"database":"d","table":"t","type":"bootstrap-insert","ts":1,"data":{"id":2,"v":"b"}}',),
            ('{"database":"d","table":"t","type":"ddl","ts":2}',),
            ("not json at all",),
        ]
        df = spark.createDataFrame(rows, "value string")
        out = parse_maxwell(df, "value", schema, ("id",)).collect()
        assert [r.op for r in out] == ["I"]
        assert out[0].key == "1"


class TestScd2:
    def test_versions_tile_and_delete_closes(self, spark):
        df = _changes(
            spark,
            [
                ("k1", "I", 10, 1, "a"),
                ("k1", "U", 20, 2, "b"),
                ("k1", "D", 30, 3, None),
                ("k2", "I", 15, 4, "x"),
            ],
        )
        out = scd2(df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)).collect()
        k1 = sorted([r for r in out if r.key == "k1"], key=lambda r: r.valid_from)
        # D emits no row but closes the last version.
        assert [(r.val, r.valid_from, r.valid_to, r.is_current) for r in k1] == [
            ("a", 10, 20, False),
            ("b", 20, 30, False),
        ]
        (k2,) = [r for r in out if r.key == "k2"]
        assert k2.valid_to is None and k2.is_current and k2.val == "x"

    def test_intervals_never_overlap(self, spark):
        rows = [("k", "I", 1, 1, "v0")] + [
            ("k", "U", t, t, f"v{t}") for t in range(2, 12)
        ]
        out = scd2(
            spark.createDataFrame(
                rows, "key string, op string, produce_time_ms long, seq long, val string"
            ),
            ("key",),
            ("produce_time_ms", "seq"),
            payload_cols=("val",),
        ).collect()
        ordered = sorted(out, key=lambda r: r.valid_from)
        for a, b in zip(ordered, ordered[1:]):
            assert a.valid_to == b.valid_from  # tiles exactly, no gaps/overlap
        assert sum(r.is_current for r in ordered) == 1
        assert ordered[-1].valid_to is None


class TestTableChecksum:
    """sqlCheckSum.py twin: order-insensitive distributed checksum."""

    def test_invariant_under_layout_and_sensitive_to_data(self, spark):
        from pyspark.sql import functions as F

        from bireme_spark.operators.checksum import table_checksum

        df = spark.createDataFrame(
            [(i, f"name{i}", None if i % 7 == 0 else i * 1.5) for i in range(500)],
            "id long, name string, score double",
        ).select("id", "name", F.col("score").cast("decimal(10,2)").alias("score"))
        base = table_checksum(df).first()
        shuffled = table_checksum(df.repartition(13).sortWithinPartitions("name")).first()
        assert (base.n_rows, base.checksum) == (shuffled.n_rows, shuffled.checksum)

        tweaked = df.withColumn(
            "score",
            F.when(F.col("id") == 250, F.lit(9.99).cast("decimal(10,2)")).otherwise(
                F.col("score")
            ),
        )
        assert table_checksum(tweaked).first().checksum != base.checksum

    def test_null_vs_empty_string_distinct(self, spark):
        from bireme_spark.operators.checksum import table_checksum

        a = spark.createDataFrame([(1, None)], "id long, s string")
        b = spark.createDataFrame([(1, "")], "id long, s string")
        assert table_checksum(a).first().checksum != table_checksum(b).first().checksum


class TestCompactProperties:
    """Property check: the distributed max_by fold ≡ a sequential
    RowBatchMerger (RowCache.java:158-216) replay of the same batch in
    arrival order, on randomized changelogs (random ops over a small
    key space with produce-time ties broken by seq, exactly the Kafka
    ordering contract)."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # key (hot, collides)
            st.sampled_from(["I", "U", "D"]),
            st.text(alphabet="abc", min_size=0, max_size=2),  # payload
        ),
        min_size=0,
        max_size=25,
    )

    @given(rows)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_fold_matches_sequential_replay(self, spark, batch):
        data = [
            (str(k), op, i // 3, i, v if op != "D" else None)
            for i, (k, op, v) in enumerate(batch)
        ]
        df = spark.createDataFrame(
            data, "key string, op string, produce_time_ms long, seq long, val string"
        )
        got = {
            r.key: (r.final_op, r.in_delete, r.in_insert, r.val)
            for r in compact(
                df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)
            ).collect()
        }
        # sequential replay in arrival order
        state: dict[str, tuple] = {}
        seen_del: dict[str, bool] = {}
        for key, op, _t, _s, val in data:
            state[key] = (op, val)
            seen_del[key] = seen_del.get(key, False) or op in ("U", "D")
        want = {
            k: (op, seen_del[k], op != "D", val if op != "D" else None)
            for k, (op, val) in state.items()
        }
        assert got == want
        # snapshot = the insert set of the fold
        snap = {
            r.key: r.val
            for r in snapshot(
                df, ("key",), ("produce_time_ms", "seq"), payload_cols=("val",)
            ).collect()
        }
        assert snap == {k: v for k, (op, _d, ins, v) in want.items() if ins}

    rows_pk = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # key
            st.sampled_from(["I", "U", "D"]),
            st.text(alphabet="ab", min_size=0, max_size=2),  # payload
            st.one_of(st.none(), st.integers(min_value=0, max_value=4)),  # old key
        ),
        min_size=0,
        max_size=25,
    )

    @given(rows_pk)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_fold_with_pk_change_matches_replay(self, spark, batch):
        """PK-changing updates (RowCache.java:194-205): an UPDATE whose
        `old` payload carries a different PK must behave exactly like
        DELETE(old key) immediately followed by the update itself, for
        ANY interleaving with other ops on either key. Maxwell only
        emits `old` PK fields when the PK actually changed, so
        old_key == key never occurs (the generator mirrors that)."""
        data = []
        for i, (k, op, v, ok) in enumerate(batch):
            old = str(ok) if (op == "U" and ok is not None and ok != k) else None
            data.append((str(k), op, i // 3, i, v if op != "D" else None, old))
        df = spark.createDataFrame(
            data,
            "key string, op string, produce_time_ms long, seq long,"
            " val string, old_key string",
        )
        got = {
            r.key: (r.final_op, r.in_delete, r.in_insert, r.val)
            for r in compact(
                df,
                ("key",),
                ("produce_time_ms", "seq"),
                payload_cols=("val",),
                old_key_col="old_key",
            ).collect()
        }
        state: dict[str, tuple] = {}
        seen_del: dict[str, bool] = {}
        for key, op, _t, _s, val, old in data:
            if old is not None:
                state[old] = ("D", None)
                seen_del[old] = True
            state[key] = (op, val)
            seen_del[key] = seen_del.get(key, False) or op in ("U", "D")
        want = {
            k: (op, seen_del[k], op != "D", val if op != "D" else None)
            for k, (op, val) in state.items()
        }
        assert got == want


def test_partitioned_changelog_prunes_time_travel_scan(spark, sf_dir, tmp_path):
    """The cdc_time_travel docstring claims 'at 100 TB the changelog
    is date-partitioned so the cutoff prunes partitions outright' —
    prove it: write the changelog partitioned by produce date, read
    with the cutoff predicate, and assert the scan's partition filters
    eliminated the out-of-range directories."""
    from bireme_spark.queries.cdc import build_changelog

    ch = build_changelog(spark, sf_dir).withColumn(
        "produce_date", F.to_date(F.timestamp_millis(F.col("produce_time_ms")))
    )
    path = str(tmp_path / "changelog")
    ch.write.partitionBy("produce_date").parquet(path)

    cutoff_ms = 802_224_000_000  # 1995-06-04 — mid-range
    cutoff_date = "1995-06-04"
    back = spark.read.parquet(path).where(F.col("produce_date") <= F.lit(cutoff_date))
    from tests.test_plans import _physical_plan

    plan = _physical_plan(back)
    assert "PartitionFilters" in plan
    # the filter must actually reference the partition column
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "produce_date" in pf and "PartitionFilters: []" not in pf
    # and the pruned read returns exactly the cutoff subset
    n_pruned = back.count()
    n_full = spark.read.parquet(path).count()
    n_expected = build_changelog(spark, sf_dir).where(
        F.col("produce_time_ms") <= cutoff_ms + 86_399_999  # whole cutoff day
    ).count()
    assert n_pruned < n_full
    assert n_pruned == n_expected


class TestMergeInto:
    """merge_into: one full-outer PK join, every clause conditional."""

    def _frames(self, spark):
        from pyspark.sql import Row

        base = spark.createDataFrame(
            [Row(k=1, price=100.0, st="O"), Row(k=2, price=100.0, st="O"),
             Row(k=3, price=100.0, st="O"), Row(k=4, price=100.0, st="O")]
        )
        src = spark.createDataFrame(
            [
                Row(key=1, op="D", new_price=0.0, new_st="X"),    # matched delete
                Row(key=2, op="U", new_price=50.0, new_st="X"),   # update cond FALSE (lower)
                Row(key=3, op="U", new_price=150.0, new_st="X"),  # update cond TRUE
                Row(key=5, op="I", new_price=70.0, new_st="N"),   # not-matched insert
                Row(key=6, op="D", new_price=0.0, new_st="X"),    # not-matched delete: no-op
            ]
        )
        return base, src

    def _merge(self, base, src):
        from bireme_spark.operators.cdc import merge_into

        return merge_into(
            base,
            src,
            base_key_cols=("k",),
            source_key_cols=("key",),
            matched_delete=F.col("s.op") == "D",
            matched_update={"price": F.col("s.new_price")},
            matched_update_cond=(F.col("s.op") == "U")
            & (F.col("s.new_price") > F.col("t.price")),
            not_matched_insert={
                "k": F.col("s.key"),
                "price": F.col("s.new_price"),
                "st": F.col("s.new_st"),
            },
            not_matched_insert_cond=F.col("s.op") != "D",
        )

    def test_all_clause_branches(self, spark):
        base, src = self._frames(spark)
        got = {r.k: (r.price, r.st) for r in self._merge(base, src).collect()}
        assert got == {
            2: (100.0, "O"),  # conditional update skipped (stale decrease)
            3: (150.0, "O"),  # conditional update applied
            4: (100.0, "O"),  # untouched base row passes through
            5: (70.0, "N"),   # inserted from source
        }  # 1 deleted; 6's not-matched delete is a no-op

    def test_no_clauses_is_identity_for_matched(self, spark):
        from bireme_spark.operators.cdc import merge_into

        base, src = self._frames(spark)
        out = merge_into(base, src, ("k",), ("key",))
        # no clauses: matched and base-only rows pass through, source-only dropped
        assert {r.k for r in out.collect()} == {1, 2, 3, 4}

    def test_plan_is_single_join_no_second_base_pass(self, spark):
        base, src = self._frames(spark)
        plan = self._merge(base, src)._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Join FullOuter") == 1
        assert "Join LeftAnti" not in plan

    def test_null_clause_condition_behaves_as_false(self, spark):
        # ANSI MERGE fires a clause only when its condition is TRUE: a
        # NULL condition (nullable source column) must not delete.
        from pyspark.sql import Row

        from bireme_spark.operators.cdc import merge_into

        base = spark.createDataFrame([Row(k=1, price=100.0)])
        src = spark.createDataFrame(
            [Row(key=1, flag=None)], "key long, flag string"
        )
        out = merge_into(
            base,
            src,
            ("k",),
            ("key",),
            matched_delete=F.col("s.flag") == "D",
        ).collect()
        assert [(r.k, r.price) for r in out] == [(1, 100.0)]


class TestMergeIntoProperties:
    """Property check: merge_into ≡ a sequential ANSI-MERGE reference
    on randomized base/source tables — every clause combination, NULL
    source columns included (clause conditions fire only when TRUE)."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    base_rows = st.dictionaries(
        st.integers(min_value=0, max_value=6),  # key
        st.integers(min_value=0, max_value=100),  # price
        max_size=5,
    )
    src_rows = st.dictionaries(
        st.integers(min_value=0, max_value=6),
        st.tuples(
            st.sampled_from(["I", "U", "D", None]),  # op (None ⇒ NULL column)
            st.integers(min_value=0, max_value=150),  # new price
        ),
        max_size=5,
    )

    @given(base_rows, src_rows)
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_matches_sequential_merge(self, spark, base, src):
        from bireme_spark.operators.cdc import merge_into

        bdf = spark.createDataFrame(
            [(k, float(v)) for k, v in base.items()] or [],
            "k long, price double",
        )
        sdf = spark.createDataFrame(
            [(k, op, float(p)) for k, (op, p) in src.items()] or [],
            "key long, op string, new_price double",
        )
        got = {
            r.k: r.price
            for r in merge_into(
                bdf,
                sdf,
                ("k",),
                ("key",),
                matched_delete=F.col("s.op") == "D",
                matched_update={"price": F.col("s.new_price")},
                matched_update_cond=(F.col("s.op") == "U")
                & (F.col("s.new_price") > F.col("t.price")),
                not_matched_insert={
                    "k": F.col("s.key"),
                    "price": F.col("s.new_price"),
                },
                not_matched_insert_cond=F.col("s.op") != "D",
            ).collect()
        }
        # sequential ANSI MERGE reference: conditions must be TRUE
        want = dict((k, float(v)) for k, v in base.items())
        for k, (op, p) in src.items():
            if k in base:
                if op == "D":
                    del want[k]
                elif op == "U" and float(p) > float(base[k]):
                    want[k] = float(p)
            else:
                if op is not None and op != "D":
                    want[k] = float(p)
        assert got == want


class TestIncrementalSnapshot:
    """DBLog chunked-snapshot reconciliation (operators/cdc.py::
    incremental_snapshot): the chunk watermark decides whether the
    snapshot row or the changelog tail wins, per key."""

    def _run(self, spark, chunks, changes):
        from bireme_spark.operators.cdc import incremental_snapshot

        cdf = spark.createDataFrame(
            chunks, "key string, wm_ms long, v string"
        ) if chunks else spark.createDataFrame([], "key string, wm_ms long, v string")
        hdf = spark.createDataFrame(
            changes, "key string, op string, produce_time_ms long, seq long, v string"
        ) if changes else spark.createDataFrame(
            [], "key string, op string, produce_time_ms long, seq long, v string"
        )
        out = incremental_snapshot(
            cdf, hdf, key_cols=("key",), order_cols=("produce_time_ms", "seq"),
            watermark_col="wm_ms", payload_cols=("v",),
        )
        return {r.key: r.v for r in out.collect()}

    def test_post_watermark_change_supersedes_chunk_row(self, spark):
        got = self._run(
            spark,
            chunks=[("k", 100, "stale")],
            changes=[("k", "U", 150, 1, "fresh")],
        )
        assert got == {"k": "fresh"}

    def test_pre_watermark_change_superseded_by_chunk_row(self, spark):
        got = self._run(
            spark,
            chunks=[("k", 100, "snap")],
            changes=[("k", "U", 50, 1, "old")],
        )
        assert got == {"k": "snap"}

    def test_post_watermark_delete_removes_snapshotted_key(self, spark):
        got = self._run(
            spark,
            chunks=[("k", 100, "snap")],
            changes=[("k", "D", 150, 1, None)],
        )
        assert got == {}

    def test_key_only_in_chunk_survives(self, spark):
        assert self._run(spark, [("k", 100, "snap")], []) == {"k": "snap"}

    def test_key_only_in_tail_inserts(self, spark):
        got = self._run(spark, [], [("k", "I", 150, 1, "new")])
        assert got == {"k": "new"}

    def test_pre_watermark_delete_without_chunk_row_stays_absent(self, spark):
        # key was deleted before its chunk was read: the chunk
        # (correctly) has no row, and the stale D must not resurrect it
        got = self._run(spark, [], [("k", "D", 50, 1, None)])
        assert got == {}

    def test_watermark_boundary_is_exclusive(self, spark):
        # change exactly AT the watermark is already in the chunk read
        got = self._run(
            spark,
            chunks=[("k", 100, "snap-incl")],
            changes=[("k", "U", 100, 1, "at-wm")],
        )
        assert got == {"k": "snap-incl"}


class TestRangeChecksums:
    def test_single_row_drift_localizes_to_one_bucket(self, spark):
        from bireme_spark.operators.checksum import table_checksum_by_range

        rows = [(i, f"v{i}") for i in range(1, 161)]  # keys 1..160
        src = spark.createDataFrame(rows, "k long, v string")
        drifted = [(k, ("DRIFT" if k == 37 else v)) for k, v in rows]
        dst = spark.createDataFrame(drifted, "k long, v string")
        a = {r.bucket: (r.n_rows, r.checksum) for r in table_checksum_by_range(src, "k").collect()}
        b = {r.bucket: (r.n_rows, r.checksum) for r in table_checksum_by_range(dst, "k").collect()}
        assert set(a) == set(b) and len(a) == 16
        diff = [bk for bk in a if a[bk] != b[bk]]
        assert diff == [37 * 16 // 161]  # exactly the drifted key's bucket
        # row counts still agree everywhere (value drift, not row drift)
        assert all(a[bk][0] == b[bk][0] for bk in a)

    def test_bucket_sums_fold_to_whole_table_checksum(self, spark):
        from bireme_spark.operators.checksum import (
            table_checksum,
            table_checksum_by_range,
        )

        df = spark.createDataFrame([(i, f"x{i}") for i in range(1, 101)], "k long, v string")
        whole = table_checksum(df).collect()[0]
        parts = table_checksum_by_range(df, "k").collect()
        assert sum(r.n_rows for r in parts) == whole.n_rows
        folded = sum(int(r.checksum) for r in parts) % (1 << 64)
        assert folded == int(whole.checksum)  # modular sum is mergeable
