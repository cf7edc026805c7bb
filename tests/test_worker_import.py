"""Workers must import ``timedb_spark`` regardless of the driver's cwd.

applyInPandas / applyInPandasWithState functions are module-level and
cloudpickle serialises them BY REFERENCE, so the Python workers re-import
the package. Before ``ensure_package_shipped`` (session.py), that import
silently relied on the driver's cwd being the repo root (workers inherit
cwd on sys.path in local mode) — a driver-session run from any other
directory died with ``ModuleNotFoundError: timedb_spark`` inside the task.
This test runs a Pandas-UDF-backed query from a foreign cwd in a bare
subprocess session to pin the addPyFile shipping path.
"""

import os
import subprocess
import sys
import textwrap


def test_worker_import_is_cwd_independent(tmp_path):
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .appName("cwd-independence")
            .getOrCreate()
        )
        from timedb_spark.operators import timeseries

        # holt_winters routes through applyInPandas -> workers must import
        # the package to unpickle its module-level smoothing function.
        n = timeseries.holt_winters(spark, "/root/testdata/sf0.001").count()
        assert n > 0, n

        # holt_winters' UDF is a nested function, pickled by value: probe
        # the worker-side import directly as well
        def probe(it):
            import timedb_spark

            yield timedb_spark.__name__

        got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        assert got == ["timedb_spark"], got
        spark.stop()
        print("WORKER_IMPORT_OK")
        """
    )
    # no inherited PYTHONPATH: only addPyFile may bring the package to the
    # workers
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])


def test_v2_drain_is_cwd_independent(tmp_path):
    """``transformWithStateInPandas`` runs the processor's ``init()`` in a
    Python process the JVM launches on the driver, which ``addPyFile``
    never reaches: ``get_spark`` must hand the package root to the JVM's
    environment. Runs a v2 drain from a foreign cwd with no PYTHONPATH."""
    from pathlib import Path

    from timedb_spark.streaming.state_v2 import _HAVE_TWS, _TWS_MISSING

    if not _HAVE_TWS:
        import pytest

        pytest.skip(f"transformWithStateInPandas gated: missing {_TWS_MISSING}")
    root = str(Path(__file__).resolve().parents[1])
    script = textwrap.dedent(
        f"""
        import os
        import sys
        sys.path.insert(0, {root!r})
        import pandas as pd
        from timedb_spark.session import get_spark
        from timedb_spark.streaming import run_available_now
        from timedb_spark.streaming.state_v2 import stream_latest_state_v2

        spark = get_spark("v2-cwd-independence", extra_conf={{
            "spark.sql.shuffle.partitions": "2",
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        }})
        # the root is exported only while the JVM starts
        assert {root!r} not in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        t = pd.Timestamp("2024-01-01", tz="UTC")
        rows = spark.createDataFrame(pd.DataFrame({{
            "series_id": [1, 1, 2], "valid_time": [t, t, t],
            "knowledge_time": [t, t + pd.Timedelta("1h"), t], "change_time": [t, t, t],
            "value": [1.0, 2.0, 3.0],
        }}))
        rows.write.parquet("landing")
        stream = spark.readStream.schema(rows.schema).parquet("landing")
        got = run_available_now(stream_latest_state_v2(stream, per_valid_time=True), "update").collect()
        assert sorted((r.series_id, r.value) for r in got) == [(1, 2.0), (2, 3.0)], got
        spark.stop()
        print("V2_DRAIN_OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "V2_DRAIN_OK" in r.stdout, (r.stdout[-1000:], r.stderr[-3000:])
