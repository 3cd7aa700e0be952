"""`python -m bireme_spark serve` lifecycle test (VERDICT r9 item 6):
config.properties → start → sync one availableNow pass → GET /state →
graceful stop — the `bin/bireme` + `Bireme.java:80-200` daemon
lifecycle driven end-to-end against the file transport and the
versioned-parquet sink."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request


def _envelope(k: int, v: str, op: str, ts: int) -> str:
    return json.dumps(
        {
            "database": "testdb",
            "table": "t",
            "type": op,
            "ts": ts,
            "data": {"k": k, "v": v},
        }
    )


def test_serve_lifecycle_available_now(spark, tmp_path):
    from bireme_spark.serve import serve
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.replay import stamp_batch_mtime

    input_dir = tmp_path / "input"
    input_dir.mkdir()
    seen: set[str] = set()
    # micro-batch 1: snapshot inserts
    (input_dir / "b0.json").write_text(
        "\n".join(_envelope(k, f"v{k}", "insert", 1_000) for k in range(1, 5)) + "\n"
    )
    stamp_batch_mtime(str(input_dir), 0, seen)
    # micro-batch 2: update k=2, delete k=3
    (input_dir / "b1.json").write_text(
        _envelope(2, "v2b", "update", 2_000) + "\n" + _envelope(3, "v3", "delete", 3_000) + "\n"
    )
    stamp_batch_mtime(str(input_dir), 1, seen)

    target = tmp_path / "target"
    cfg_path = tmp_path / "config.properties"
    cfg_path.write_text(
        "\n".join(
            [
                "data_source = mx",
                "mx.type = maxwell",
                f"mx.path = {input_dir}",
                f"target.dir = {target}",
                f"checkpoint.dir = {tmp_path / 'ckpt'}",
                "merge.batch.size = 1",  # one file per micro-batch
                "target.buckets = 4",
                "target.schema = k BIGINT, v STRING",
                "target.key = k",
                "state.server.addr = 127.0.0.1",
                "state.server.port = 0",  # ephemeral
            ]
        )
        + "\n"
    )

    probed: dict = {}

    def probe(server, listener):
        assert server is not None
        # listener events are async: poll until both batches landed
        deadline = time.time() + 30
        while time.time() < deadline:
            with urllib.request.urlopen(f"http://127.0.0.1:{server.port}/") as r:
                state = json.loads(r.read())
            stats = list(state["source"].values())
            if stats and stats[0].get("batches", 0) >= 2:
                probed.update(state=state, port=server.port)
                return
            time.sleep(0.2)
        raise AssertionError(f"state endpoint never showed 2 batches: {state}")

    rc = serve(str(cfg_path), available_now=True, _print=lambda *a, **k: None, _after_sync=probe)
    assert rc == 0

    # /state reported real progress mid-lifecycle. numInputRows counts
    # every source row each batch's jobs read; the merge reads its
    # persisted micro-batch once, with no emptiness probe on top, so
    # the total is exactly the 6 envelope lines
    stats = list(probed["state"]["source"].values())[0]
    assert stats["total_rows"] == 6  # 4 inserts + update + delete
    assert stats["batches"] >= 2

    # graceful stop: the HTTP socket is closed after serve() returns
    try:
        urllib.request.urlopen(f"http://127.0.0.1:{probed['port']}/", timeout=2)
        raise AssertionError("state server still serving after stop")
    except (urllib.error.URLError, ConnectionError, OSError):
        pass

    # the sync itself merged correctly: insert → update/delete applied
    state = read_state(spark, str(target))
    rows = {r.k: r.v for r in state.collect()}
    assert rows == {1: "v1", 2: "v2b", 4: "v4"}


def test_serve_rejects_missing_schema(tmp_path):
    from bireme_spark.serve import serve

    cfg = tmp_path / "config.properties"
    cfg.write_text("data_source = mx\nmx.type = maxwell\nmx.path = /tmp/x\n")
    assert serve(str(cfg), _print=lambda *a, **k: None) == 2


def test_serve_refuses_a_second_source_before_starting_spark(tmp_path, monkeypatch):
    """A config listing two sources would sync the first and drop the
    second; serve prints the error naming it and exits 2 before it
    builds a Spark session."""
    import bireme_spark.session
    from bireme_spark.serve import serve

    def no_spark(*args, **kwargs):
        raise AssertionError("serve started Spark")

    monkeypatch.setattr(bireme_spark.session, "get_spark", no_spark)
    cfg = tmp_path / "config.properties"
    cfg.write_text(
        "data_source = mx, my\nmx.path = /tmp/x\nmy.path = /tmp/y\n"
        f"target.dir = {tmp_path / 't'}\ncheckpoint.dir = {tmp_path / 'c'}\n"
        "target.schema = k BIGINT, v STRING\ntarget.key = k\n"
    )
    printed: list[str] = []
    assert serve(str(cfg), _print=lambda *a, **k: printed.append(" ".join(map(str, a)))) == 2
    assert any("'my' would not be synced" in p for p in printed), printed


def test_serve_multi_table_lifecycle(spark, tmp_path):
    """Multi-table serve: one config.properties + <source>.properties
    pair (the reference deployment shape) syncs TWO mapped tables out
    of one envelope stream, each into its own bucket-versioned target
    under <target.dir>/<table>/."""
    import json

    from bireme_spark.serve import serve
    from bireme_spark.sinks.versioned import read_state
    from bireme_spark.streaming.replay import stamp_batch_mtime

    def env(table, data, op, ts):
        return json.dumps(
            {"database": "testdb", "table": table, "type": op, "ts": ts, "data": data}
        )

    input_dir = tmp_path / "input"
    input_dir.mkdir()
    seen: set[str] = set()
    (input_dir / "b0.json").write_text(
        "\n".join(
            [env("orders", {"k": 1, "price": 10.0}, "insert", 1000),
             env("orders", {"k": 2, "price": 20.0}, "insert", 1000),
             env("custs", {"cid": 7, "name": "ann"}, "insert", 1000)]
        )
        + "\n"
    )
    stamp_batch_mtime(str(input_dir), 0, seen)
    (input_dir / "b1.json").write_text(
        env("orders", {"k": 2, "price": 21.0}, "update", 2000)
        + "\n"
        + env("custs", {"cid": 7, "name": "ann2"}, "update", 2000)
        + "\n"
    )
    stamp_batch_mtime(str(input_dir), 1, seen)

    target = tmp_path / "target"
    (tmp_path / "mx.properties").write_text(
        "testdb.orders = public.orders\ntestdb.custs = public.custs\n"
    )
    cfg_path = tmp_path / "config.properties"
    cfg_path.write_text(
        "\n".join(
            [
                "data_source = mx",
                "mx.type = maxwell",
                f"mx.path = {input_dir}",
                f"target.dir = {target}",
                f"checkpoint.dir = {tmp_path / 'ckpt'}",
                "merge.batch.size = 1",
                "target.buckets = 2",
                "table.public.orders.schema = k BIGINT, price DOUBLE",
                "table.public.orders.key = k",
                "table.public.custs.schema = cid BIGINT, name STRING",
                "table.public.custs.key = cid",
            ]
        )
        + "\n"
    )
    rc = serve(str(cfg_path), available_now=True, _print=lambda *a, **k: None)
    assert rc == 0
    orders = {r.k: r.price for r in read_state(spark, f"{target}/public.orders").collect()}
    custs = {r.cid: r.name for r in read_state(spark, f"{target}/public.custs").collect()}
    assert orders == {1: 10.0, 2: 21.0}
    assert custs == {7: "ann2"}
