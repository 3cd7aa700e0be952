"""JDBC DELETE+COPY merge sink — the Spark twin of bireme's
ChangeLoader (``ChangeLoader.java:206-290`` executeTask: load the
delete set, then the insert set; ``:359`` the DELETE..WHERE EXISTS
against a staged key table; ``:460`` the ON COMMIT DELETE ROWS
temporary table).

Flow per micro-batch (from ``foreachBatch``), per target table:

1. ``df.write.jdbc`` the compacted batch into a staging table —
   Spark's parallel JDBC writer is the COPY: every partition opens
   its own connection and streams batched inserts, so load
   parallelism scales with the cluster, not one loader thread pool
   (bireme caps at loader_conn_size connections; here the executor
   count is the cap).
2. One driver-side transaction applies the merge:
   ``DELETE FROM target WHERE EXISTS (staged keys)`` then
   ``INSERT INTO target SELECT payload FROM staging WHERE op <> 'D'``,
   then drops the staging table. Keys-only SQL — the row payload
   never moves through the driver.

The merge is always the reference's pessimistic mode: the DELETE runs
for every staged key, so a replayed batch lands once (see
``bireme_spark.operators.cdc.apply_changes``).

The SQL builders are pure functions (unit-tested without a DB); the
executor needs a JDBC driver jar on the Spark classpath and is
exercised against embedded Derby in the tests and the gate.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def _qident(name: str) -> str:
    """Quote an SQL identifier (ANSI double-quote, doubled quotes)."""
    parts = name.split(".")
    return ".".join('"' + p.replace('"', '""') + '"' for p in parts)


def staging_table_name(target_table: str, batch_id: int) -> str:
    """Per-batch staging table (bireme reuses one temp table per
    connection; a batch-suffixed name keeps concurrent pipelines and
    retries from colliding — idempotent re-runs drop it first)."""
    return f"{target_table.replace('.', '__')}__stage_{batch_id}"


def delete_sql(target_table: str, staging_table: str, key_cols: Sequence[str]) -> str:
    """``DELETE FROM target WHERE EXISTS (SELECT 1 FROM staging ...)``
    — the exact merge-delete shape of ``ChangeLoader.java:359``, with
    the staging table carrying BOTH delete-keys and upsert-keys (an
    upsert is delete+insert, ``executeTask:212-229``)."""
    # The staging table was created UNQUOTED by Spark's JDBC writer
    # (df.write.jdbc passes dbtable through raw), so every dialect
    # case-folds it the same way on reference — quoting it here would
    # mismatch Derby (upper-fold) vs Postgres (lower-fold). Its name
    # is internally generated ([a-z0-9_]), never user input.
    on = " AND ".join(
        f"{_qident(target_table)}.{_qident(k)} = {staging_table}.{_qident(k)}"
        for k in key_cols
    )
    return (
        f"DELETE FROM {_qident(target_table)} WHERE EXISTS "
        f"(SELECT 1 FROM {staging_table} WHERE {on})"
    )


def insert_sql(target_table: str, staging_table: str, payload_cols: Sequence[str]) -> str:
    """Insert the surviving (non-delete) staged rows into the target."""
    cols = ", ".join(_qident(c) for c in payload_cols)
    return (
        f"INSERT INTO {_qident(target_table)} ({cols}) "
        f"SELECT {cols} FROM {staging_table} "
        "WHERE \"op\" <> 'D'"
    )


def drop_sql(staging_table: str, if_exists: bool = True) -> str:
    # Derby has no DROP TABLE IF EXISTS; the sink passes if_exists
    # per-dialect (the staging table always exists at this point in
    # the transaction, so plain DROP is safe there).
    opt = "IF EXISTS " if if_exists else ""
    return f"DROP TABLE {opt}{staging_table}"


@dataclass
class JdbcMergeSink:
    """foreachBatch-compatible DELETE+COPY merge into a JDBC warehouse.

    ``sink = JdbcMergeSink(url, "public.orders", ("o_orderkey",),
    ("o_orderkey", "o_totalprice"), properties={"user": ...})``
    then ``writeStream.foreachBatch(sink)``.
    """

    url: str
    target_table: str
    key_cols: Sequence[str]
    payload_cols: Sequence[str]
    properties: dict = field(default_factory=dict)

    def merge_statements(self, staging: str) -> list[str]:
        """The driver-side transaction, in order (pure; testable)."""
        return [
            delete_sql(self.target_table, staging, self.key_cols),
            insert_sql(self.target_table, staging, self.payload_cols),
            drop_sql(staging, if_exists="derby" not in self.url),
        ]

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        staging = staging_table_name(self.target_table, batch_id)
        cols = list(dict.fromkeys([*self.key_cols, *self.payload_cols, "op"]))
        (
            batch_df.select(*cols)
            .write.mode("overwrite")
            .options(**self.properties)
            .jdbc(self.url, staging)
        )
        self._execute_transaction(batch_df.sparkSession, self.merge_statements(staging))

    def _execute_transaction(self, spark, statements: Sequence[str]) -> None:
        """Run the merge statements in one JDBC transaction via the
        JVM DriverManager (driver-side, keys-only SQL — no row data)."""
        jvm = spark._sc._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            conn.setAutoCommit(False)
            stmt = conn.createStatement()
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()


def get_primary_keys(
    spark, url: str, table: str, properties: dict | None = None
) -> list[str]:
    """Primary-key columns of a JDBC table, in key order — the twin of
    the reference's ``GetPrimaryKeys.java:28-95`` (which queries
    ``information_schema`` so users never hand-type key lists). Uses
    JDBC ``DatabaseMetaData.getPrimaryKeys``, which is portable across
    Postgres/Greenplum/Derby; feed the result to ``PipelineConfig`` /
    ``run_cdc_pipeline(key_fields=...)``.

    ``table`` may be schema-qualified. Unquoted identifiers are looked
    up as stored; case-folded variants (Derby upper, Postgres lower)
    are retried automatically."""
    jvm = spark._sc._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, str(v))
    schema, _, name = table.rpartition(".")
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        md = conn.getMetaData()
        for s, t in (
            (schema or None, name),
            ((schema or "").upper() or None, name.upper()),
            ((schema or "").lower() or None, name.lower()),
        ):
            rs = md.getPrimaryKeys(None, s, t)
            keys = []
            while rs.next():
                keys.append((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
            rs.close()
            if keys:
                return [c for _, c in sorted(keys)]
        return []
    finally:
        conn.close()
