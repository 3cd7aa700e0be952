"""Local re-implementation of the driver's DuckDB-oracle comparison:
row count + column names + order-insensitive value comparison."""

from __future__ import annotations

import math

import duckdb

from bireme_spark.sources.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    """Compare a Spark DataFrame against DuckDB SQL output, order- and
    column-order-insensitively (sorts columns by name, like the driver)."""
    sdf = spark_df.toPandas()
    ddf = con.execute(sql).fetchdf()
    s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
    if s_cols != d_cols:
        return False, f"columns differ: spark={s_cols} duck={d_cols}"
    if len(sdf) != len(ddf):
        return False, f"row count differs: spark={len(sdf)} duck={len(ddf)}"
    srows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=repr,
    )
    drows = sorted(
        (tuple(_norm(v) for v in row) for row in ddf[d_cols].itertuples(index=False)),
        key=repr,
    )
    for i, (a, b) in enumerate(zip(srows, drows)):
        sa, sb = [str(x) for x in a], [str(x) for x in b]
        if sa != sb:
            return False, f"row {i} differs:\n  spark={a}\n  duck ={b}"
    return True, "ok"
