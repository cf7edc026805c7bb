"""Tracer span arithmetic, wrapper install/uninstall and the event-log
parser, without Spark."""

from __future__ import annotations

import json
import sys
import types

from perfbench.common import latency_stats, quantile
from perfbench.sparklog import OP_PROPERTY, per_op
from perfbench.trace import Tracer


def _fake_module():
    mod = types.ModuleType("perfbench_fake_layer")

    def work(x):
        return x + 1

    mod.work = work
    sys.modules[mod.__name__] = mod
    return mod


class _Client:
    def read(self):
        return "rows"


def test_wrappers_record_nested_spans_and_uninstall_restores():
    mod = _fake_module()
    alias = types.ModuleType("perfbench_fake_alias")
    alias.work = mod.work  # a `from x import work` copy
    sys.modules[alias.__name__] = alias
    original = mod.work
    client = _Client()
    tracer = Tracer()
    try:
        assert tracer.patch_function(original, "fake.work", "operators") == 2
        tracer.patch_method(client, "read", "Client.read", "client.read")
        assert mod.work is not original and alias.work is not original
        assert mod.work(1) == 2  # outside an op: no span
        assert tracer.spans == []
        with tracer.op("op1", "kind"):
            assert client.read() == "rows"
            with tracer.span("outer", "client.read"):
                alias.work(1)
        tracer.uninstall()
        assert mod.work is original and alias.work is original
        assert "read" not in vars(client) and client.read() == "rows"
        assert not tracer.installed
    finally:
        sys.modules.pop(mod.__name__)
        sys.modules.pop(alias.__name__)

    names = [s.name for s in tracer.spans]
    assert names == ["kind", "Client.read", "outer", "fake.work"]
    summary = tracer.op_summaries()["op1"]
    own = tracer.self_ms()
    total_self = sum(own)
    assert abs(total_self - summary["wall_ms"]) < 1e-6  # self times partition the wall
    assert summary["unattributed_ms"] == own[0]
    assert summary["span_n"] == {"Client.read": 1, "outer": 1, "fake.work": 1}


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {OP_PROPERTY: "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 100, "Finish Time": 160, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 40, "Executor Deserialize Time": 5, "Result Serialization Time": 1,
                          "Executor CPU Time": 30_000_000, "JVM GC Time": 2, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
                          "Input Metrics": {"Bytes Read": 50}, "Output Metrics": {"Bytes Written": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}, "Task Metrics": {"Executor Run Time": 99}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = per_op(str(tmp_path))
    assert set(out) == {"a"}
    a = out["a"]
    assert (a["spark.jobs"], a["spark.stages"], a["spark.tasks"]) == (1, 1, 1)
    assert a["executor.run_ms"] == 40 and a["executor.cpu_ms"] == 30
    assert a["scheduler.task_wait_ms"] == 60 - 40 - 5 - 1
    assert a["shuffle.read_bytes"] == 7 and a["input.bytes"] == 50


def test_p90_needs_ten_samples_beyond_it():
    assert latency_stats([1.0] * 99)["p90"] is None
    stats = latency_stats([float(i) for i in range(1, 101)])
    assert stats["p90"] == 90.0 and stats["p50"] == 50.5
    assert quantile([3.0, 1.0, 2.0], 1.0) == 3.0
