"""The session factory: a Spark session built by ``get_spark`` runs
the package's Python UDFs wherever it is launched from."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_executors_import_the_package_outside_the_repo_root(tmp_path):
    """An applyInPandas over a package function, launched from a
    directory that does not hold the package: the driver finds it on
    its own sys.path, and the Python workers must find it too."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from bireme_spark.session import get_spark
        from bireme_spark.streaming.ewma import _OUT_SCHEMA, _fold_group

        spark = get_spark("outside-root", shuffle_partitions=2)
        events = spark.createDataFrame(
            [("a", 1, 1, 1.0), ("a", 2, 2, 3.0)],
            "event_type string, us long, event_id long, value double",
        )
        row = events.groupBy("event_type").applyInPandas(_fold_group, _OUT_SCHEMA).first()
        print("n_events", row.n_events)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "n_events 2" in out.stdout
