"""The state stream of ``forecast_cycle``: a file landing zone of every
forecast run issued, drained ``availableNow`` through v1
``streaming.stream_latest_state`` (``applyInPandasWithState``, the default
state store) and v2 ``stream_latest_state_v2(per_valid_time=True)``
(``transformWithStateInPandas``, RocksDB state store, which the v2 API
requires).

Set-up stages the history with ``streaming.stage_ordered_landing`` into a
fixed number of files, so the landing zone does not follow the host's core
count; each cycle adds its run as one more file. A drain is one micro-batch
over the whole zone: v1 dispatches once per series, v2 once per
(series, valid_time) key, so both the per-batch fixed cost and v2's per-key
state-server round trips show.
"""

from __future__ import annotations

import json
import os

import pandas as pd

N_HISTORY_FILES = 2
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
KEYS = ["series_id", "valid_time"]

#: StreamingQueryProgress fields reported per API, as (metric, path)
PROGRESS_FIELDS = [
    ("add_batch_ms", ("durationMs", "addBatch")),
    ("query_planning_ms", ("durationMs", "queryPlanning")),
    ("wal_commit_ms", ("durationMs", "walCommit")),
    ("commit_offsets_ms", ("durationMs", "commitOffsets")),
]
ROCKSDB_FIELDS = [
    ("state.rocksdb_commit_file_sync_ms", "rocksdbCommitFileSyncLatencyMs"),
    ("state.rocksdb_get_count", "rocksdbGetCount"),
    ("state.rocksdb_put_count", "rocksdbPutCount"),
]
STREAM_METRICS = (
    ["batches"]
    + [m for m, _ in PROGRESS_FIELDS]
    + ["state.rows_updated", "state.memory_bytes"]
    + [m for m, _ in ROCKSDB_FIELDS]
)


def landing_rows(rows: pd.DataFrame) -> pd.DataFrame:
    """Model rows (epoch-µs columns) as ``series_values``-shaped stream
    rows; a run's change_time is its knowledge_time."""
    vt = pd.to_datetime(rows["valid_time"].to_numpy(), unit="us", utc=True).as_unit("us")
    kt = pd.to_datetime(rows["knowledge_time"].to_numpy(), unit="us", utc=True).as_unit("us")
    return pd.DataFrame(
        {
            "series_id": rows["series_id"].to_numpy(dtype="int64"),
            "valid_time": vt,
            "knowledge_time": kt,
            "change_time": kt,
            "value": rows["value"].to_numpy(dtype="float64"),
        }
    )


def stage_history(rows, path: str) -> None:
    """Stage a Spark DataFrame of :func:`landing_rows` into the landing zone."""
    from timedb_spark.streaming import stage_ordered_landing

    stage_ordered_landing(rows, path, N_HISTORY_FILES, "knowledge_time")


def land_run(rows: pd.DataFrame, path: str, cycle: int) -> None:
    """One more landing file holding a whole forecast run (tz-aware UTC
    timestamps, which Spark reads as TimestampType like the staged files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(landing_rows(rows), preserve_index=False),
                   os.path.join(path, f"run-{cycle + 1:05d}.parquet"))


def final_state(emitted: pd.DataFrame) -> pd.DataFrame:
    """Per (series_id, valid_time), the emitted row with the largest
    (knowledge_time, change_time): the state after the drain."""
    last = emitted.sort_values(["knowledge_time", "change_time"], kind="stable").drop_duplicates(KEYS, keep="last")
    return last[["series_id", "valid_time", "value"]].reset_index(drop=True)


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """A drain's streaming-layer counters, summed over its batches (memory:
    the maximum)."""
    out = {m: 0.0 for m in STREAM_METRICS}
    out["batches"] = len(progress)
    for p in progress:
        for m, (a, b) in PROGRESS_FIELDS:
            out[m] += float((p.get(a) or {}).get(b, 0))
        for so in p.get("stateOperators") or []:
            out["state.rows_updated"] += float(so.get("numRowsUpdated", 0))
            out["state.memory_bytes"] = max(out["state.memory_bytes"], float(so.get("memoryUsedBytes", 0)))
            custom = so.get("customMetrics") or {}
            for m, k in ROCKSDB_FIELDS:
                out[m] += float(custom.get(k, 0))
    return out


def drain(spark, api: str, landing: str, schema):
    """(detached result DataFrame, progress dicts) of one ``availableNow``
    drain of the landing zone through ``api`` ("v1" or "v2")."""
    from timedb_spark.streaming import run_available_now_progress
    from timedb_spark.streaming.state import stream_latest_state
    from timedb_spark.streaming.state_v2 import stream_latest_state_v2

    stream = spark.readStream.schema(schema).parquet(landing)
    if api == "v1":
        out, progress = run_available_now_progress(stream_latest_state(stream), "update")
    else:
        prev = spark.conf.get(PROVIDER_CONF, None)
        spark.conf.set(PROVIDER_CONF, ROCKSDB)
        try:
            out, progress = run_available_now_progress(stream_latest_state_v2(stream, per_valid_time=True), "update")
        finally:
            if prev is None:
                spark.conf.unset(PROVIDER_CONF)
            else:
                spark.conf.set(PROVIDER_CONF, prev)
    return out, [json.loads(p.json) for p in progress]
