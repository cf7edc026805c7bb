"""Per-layer metrics of a traced run: every name in :data:`PER_LAYER`, per
op, from the spans, the library's opt-in write phases, the Spark event log
and the workload's own counters. A metric a workload does not exercise is 0
and its reason is listed in ``absent``."""

from __future__ import annotations

import statistics

from perfbench.sparklog import EVENT_FIELDS
from perfbench.stream import STREAM_METRICS

_STREAM_UNITS = {
    "batches": ("count", "lower"),
    "state.rows_updated": ("count", "lower"),
    "state.memory_bytes": ("bytes", "lower"),
    "state.rocksdb_get_count": ("count", "lower"),
    "state.rocksdb_put_count": ("count", "lower"),
}

#: (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("client.write_normalize_ms", "ms", "lower"),
    ("client.write_count_ms", "ms", "lower"),
    ("client.read_build_ms", "ms", "lower"),
    ("client.collect_ms", "ms", "lower"),
    ("store.append_values_ms", "ms", "lower"),
    ("store.append_run_series_ms", "ms", "lower"),
    ("store.read_values_ms", "ms", "lower"),
    ("store.files", "count", "lower"),
    ("store.files_per_partition_max", "count", "lower"),
    ("store.bytes", "bytes", "lower"),
    ("tables.loads", "count", "lower"),
    ("tables.load_ms", "ms", "lower"),
    ("bitemporal.build_ms", "ms", "lower"),
    ("operators.build_ms", "ms", "lower"),
    ("py4j.calls", "count", "lower"),
    ("py4j.ms", "ms", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("scheduler.task_wait_ms", "ms", "lower"),
    ("executor.run_ms", "ms", "lower"),
    ("executor.cpu_ms", "ms", "lower"),
    ("executor.gc_ms", "ms", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("spill.bytes", "bytes", "lower"),
    ("input.bytes", "bytes", "lower"),
    ("output.bytes", "bytes", "lower"),
    *[
        (f"stream.{api}.{m}", *_STREAM_UNITS.get(m, ("ms", "lower")))
        for api in ("v1", "v2")
        for m in STREAM_METRICS
    ],
    ("self.client_ms", "ms", "lower"),
    ("self.store_ms", "ms", "lower"),
    ("self.io_tables_ms", "ms", "lower"),
    ("self.operators_ms", "ms", "lower"),
    ("self.streaming_ms", "ms", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
    ("trace.op_wall_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
]

#: span layer -> self-time metric
SELF_LAYERS = {
    "self.client_ms": ("client.write", "client.read"),
    "self.store_ms": ("store.write", "store.read"),
    "self.io_tables_ms": ("io.tables",),
    "self.operators_ms": ("operators", "bitemporal"),
    "self.streaming_ms": ("streaming",),
}

_NO_CLIENT = "the workload does not call TimeDB or the Store"
_NO_STREAM = "the workload runs no stream"
_NO_TABLES = "forecast_cycle bypasses io.tables"
ABSENT = {
    "headline": {"client.": _NO_CLIENT, "store.": _NO_CLIENT, "self.client_ms": _NO_CLIENT,
                 "self.store_ms": _NO_CLIENT, "stream.": _NO_STREAM, "self.streaming_ms": _NO_STREAM},
    "forecast_cycle": {
        "tables.": _NO_TABLES,
        "self.io_tables_ms": _NO_TABLES,
        "stream.v1.state.rocksdb": "v1 runs on the default (HDFS-backed) state store, which has no RocksDB metrics",
    },
}


def _mean(values: list[float]) -> float:
    return statistics.mean(values) if values else 0.0


def per_layer(workload: str, result: dict, ops, summaries: dict[str, dict], events: dict[str, dict]) -> tuple[dict, dict]:
    """(metrics, absent reasons). ``summaries`` are the tracer's per-op
    summaries, ``events`` the event log's per-op counters; both keyed by the
    traced op's id."""
    n_ops = len(summaries) or 1

    def per_op(values: dict[str, float]) -> float:
        return sum(values.values()) / n_ops

    traced_ops = [o for o in ops if o.traced]
    m: dict[str, float] = {name: 0.0 for name, _u, _b in PER_LAYER}

    def kinds(*ks):
        return [o for o in traced_ops if o.kind in ks]

    writes = kinds("write")
    reads = kinds("read_latest", "read_history", "read_relative")
    span = {op_id: s["span_ms"] for op_id, s in summaries.items()}

    def span_mean(selected, *names):
        return _mean([sum(span[o.detail["id"]].get(n, 0.0) for n in names) for o in selected])

    m["client.write_normalize_ms"] = _mean([o.detail["phases_ms"].get("write.normalize", 0.0) for o in writes])
    m["client.write_count_ms"] = _mean([o.detail["phases_ms"].get("write.skip_unchanged", 0.0) for o in writes])
    m["client.read_build_ms"] = span_mean(reads, "TimeDB.read", "TimeDB.read_relative")
    m["client.collect_ms"] = _mean([o.detail["collect_ms"] for o in reads])
    m["store.append_values_ms"] = span_mean(writes, "store.append_values")
    m["store.append_run_series_ms"] = span_mean(writes, "store.append_run_series")
    m["store.read_values_ms"] = span_mean(traced_ops, "store.read_values")
    m["tables.loads"] = per_op({k: s["span_n"].get("io.tables.load_table", 0) for k, s in summaries.items()})
    m["tables.load_ms"] = per_op({k: s["span_ms"].get("io.tables.load_table", 0.0) for k, s in summaries.items()})
    m["bitemporal.build_ms"] = per_op({k: s["self_ms"].get("bitemporal", 0.0) for k, s in summaries.items()})
    m["operators.build_ms"] = per_op(
        {k: s["self_ms"].get("operators", 0.0) + s["self_ms"].get("bitemporal", 0.0) for k, s in summaries.items()}
    )
    m["py4j.calls"] = per_op({k: s["py4j_calls"] for k, s in summaries.items()})
    m["py4j.ms"] = per_op({k: s["py4j_build_ms"] for k, s in summaries.items()})
    with_cat = [o.detail["catalyst"] for o in traced_ops if "catalyst" in o.detail]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _mean([c[ph] for c in with_cat])
    for name in EVENT_FIELDS:
        m[name] = per_op({k: events.get(k, {}).get(name, 0) for k in summaries})
    for metric_name, layers in SELF_LAYERS.items():
        m[metric_name] = per_op({k: sum(s["self_ms"].get(layer, 0.0) for layer in layers) for k, s in summaries.items()})
    m["trace.unattributed_ms"] = per_op({k: s["unattributed_ms"] for k, s in summaries.items()})
    untraced = [o.ms for o in ops if not o.traced]
    m["trace.op_wall_ms"] = statistics.median([o.ms for o in traced_ops]) if traced_ops else 0.0
    m["trace.overhead_ms"] = m["trace.op_wall_ms"] - (statistics.median(untraced) if untraced else 0.0)
    m.update(result.get("layer_metrics", {}))

    absent = {}
    for name, _u, _b in PER_LAYER:
        if m[name]:
            continue
        for prefix, why in ABSENT.get(workload, {}).items():
            if name.startswith(prefix):
                absent[name] = why
                break
        else:
            absent[name] = "measured as 0 on this run"
    return m, absent
