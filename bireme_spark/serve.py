"""Supervised daemon entrypoint — the Spark twin of the reference's
``bin/bireme`` launcher + ``Bireme.java:80-200`` lifecycle (parse
config → discover table metadata → start pipelines + StateServer →
run until stopped → graceful shutdown).

Differences by design (studied, not copied): a Spark cluster manager
owns process supervision/restart, so this is a *thin* foreground
runner — no pid files or jsvc double-fork; SIGTERM/SIGINT trigger the
same graceful stop the reference wires through ``Daemon.stop()``.
Table metadata comes from ``target.schema`` / ``target.key``
properties instead of a live-database PK probe (GetPrimaryKeys.java),
because the parquet sink has no catalog to ask.

    python -m bireme_spark serve --config etc/config.properties
    python -m bireme_spark serve --config ... --available-now   # one sync pass, then exit
"""

from __future__ import annotations

import signal
import sys

from bireme_spark.config import PipelineConfig


def serve(
    config_path: str,
    available_now: bool = False,
    timeout: float | None = None,
    _print=print,
    _after_sync=None,
) -> int:
    """Run the CDC sync daemon for one config file.

    Lifecycle (Bireme.java:80-200): load config → build session →
    attach the stats listener + StateServer → start the pipeline →
    await (or drain once under ``available_now``) → stop the query,
    the state server, and the listener in reverse order.
    Returns a process exit code.
    """
    from pyspark.sql.types import _parse_datatype_string

    from bireme_spark.session import get_spark
    from bireme_spark.streaming.pipeline import (
        TableSpec,
        run_cdc_pipeline,
        run_multi_table_pipeline,
        single_source,
    )
    from bireme_spark.streaming.state_server import StateServer
    from bireme_spark.streaming.stats import PipelineStatListener

    cfg = PipelineConfig.from_properties_file(config_path)
    try:
        source = single_source(cfg)
    except ValueError as e:
        _print(f"serve: {e}", file=sys.stderr)
        return 2
    multi = bool(cfg.table_schemas)
    if not multi and (not cfg.target_schema_ddl or not cfg.key_fields):
        _print(
            "serve: target.schema/target.key (or per-table "
            "table.<target>.schema/.key) are required "
            "(the parquet sink has no live catalog to probe)",
            file=sys.stderr,
        )
        return 2

    def table_spec(ddl: str, keys) -> TableSpec:
        schema = _parse_datatype_string(f"struct<{ddl}>")
        keys = tuple(keys)  # base column order: key first
        payload = tuple(f.name for f in schema.fields if f.name not in keys)
        return TableSpec(schema, keys, keys + payload)

    spark = get_spark(app_name="bireme-serve")
    listener = PipelineStatListener()
    spark.streams.addListener(listener)

    server = None
    if cfg.state_server_port is not None:
        server = StateServer(
            listener, addr=cfg.state_server_addr or "127.0.0.1", port=cfg.state_server_port
        ).start()
        _print(f"serve: state endpoint on http://{cfg.state_server_addr or '127.0.0.1'}:{server.port}/")

    if multi:
        # one streaming query syncs EVERY mapped table of the source —
        # bireme's deployment shape (a whole database binlog topic)
        tables = {t: table_spec(ddl, keys) for t, (ddl, keys) in cfg.table_schemas.items()}
        query = run_multi_table_pipeline(spark, cfg, tables, available_now=available_now)
        _print(
            f"serve: multi-table pipeline started ({source.name} → "
            f"{sorted(tables)} under {cfg.target_dir})"
        )
    else:
        spec = table_spec(cfg.target_schema_ddl, cfg.key_fields)
        query = run_cdc_pipeline(
            spark,
            cfg,
            spec.data_schema,
            key_fields=spec.key_fields,
            base_columns=spec.base_columns,
            available_now=available_now,
        )
        _print(
            f"serve: pipeline started ({source.name} → "
            f"{cfg.target_dir or cfg.target_jdbc_url})"
        )

    stopping = False

    def _graceful(signum, frame):  # noqa: ARG001 (signal API)
        nonlocal stopping
        if stopping:
            return
        stopping = True
        _print(f"serve: signal {signum} — stopping pipeline")
        try:
            query.stop()
        except Exception:  # stream may already be down — still exit cleanly
            pass

    prev_handlers = {}
    for sig in (signal.SIGINT, signal.SIGTERM):
        try:
            prev_handlers[sig] = signal.signal(sig, _graceful)
        except ValueError:  # not the main thread (tests) — rely on timeout/stop()
            pass

    code = 0
    try:
        if timeout is not None:
            finished = query.awaitTermination(int(timeout * 1000))
            if not finished:
                query.stop()
                query.awaitTermination(60_000)
        else:
            query.awaitTermination()
    except Exception as e:  # stream failure → nonzero exit, like the daemon
        _print(f"serve: pipeline failed: {e}", file=sys.stderr)
        code = 1
    else:
        if _after_sync is not None:  # test seam: probe /state before teardown
            _after_sync(server, listener)
    finally:
        for sig, h in prev_handlers.items():
            signal.signal(sig, h)
        if server is not None:
            server.stop()
        spark.streams.removeListener(listener)
    _print("serve: stopped")
    return code
