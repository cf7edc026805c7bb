"""Scheduler and executor metrics per op, read from the Spark event log of a
traced run after the session stopped.

Each traced op sets the local property ``perfbench.op`` to its op id before
it calls into the program; every job it starts carries the property (a
stream's execution thread inherits it from the thread that started the
query), so stages and tasks are attributed to ops through their jobs.
"""

from __future__ import annotations

import json
import os

OP_PROPERTY = "perfbench.op"

#: per-op counters summed over the op's tasks
TASK_FIELDS = [
    "executor.run_ms",
    "executor.cpu_ms",
    "executor.gc_ms",
    "scheduler.task_wait_ms",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "spill.bytes",
    "input.bytes",
    "output.bytes",
]

EVENT_FIELDS = ["spark.jobs", "spark.stages", "spark.tasks", *TASK_FIELDS]


def _task_values(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    ti = ev.get("Task Info") or {}
    run = tm.get("Executor Run Time", 0)
    deser = tm.get("Executor Deserialize Time", 0)
    ser = tm.get("Result Serialization Time", 0)
    getting = 0
    if ti.get("Getting Result Time", 0):
        getting = ti.get("Finish Time", 0) - ti["Getting Result Time"]
    duration = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    return {
        "executor.run_ms": run,
        "executor.cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "executor.gc_ms": tm.get("JVM GC Time", 0),
        # the Spark UI's scheduler delay: task wall not spent deserializing,
        # running, serializing the result or fetching it
        "scheduler.task_wait_ms": max(0, duration - run - deser - ser - getting),
        "shuffle.write_bytes": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill.bytes": tm.get("Disk Bytes Spilled", 0),
        "input.bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output.bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


def per_op(event_dir: str) -> dict[str, dict[str, float]]:
    """{op id: {"spark.jobs", "spark.stages", "spark.tasks", *TASK_FIELDS}}
    from the one event log file in ``event_dir``."""
    files = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    stage_op: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(op: str) -> dict[str, float]:
        return out.setdefault(op, {k: 0 for k in EVENT_FIELDS})

    with open(os.path.join(event_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                if op:
                    acc(op)["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
            elif kind == "SparkListenerStageCompleted":
                op = stage_op.get((ev.get("Stage Info") or {}).get("Stage ID"))
                if op:
                    acc(op)["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev.get("Stage ID"))
                if op:
                    a = acc(op)
                    a["spark.tasks"] += 1
                    for k, v in _task_values(ev).items():
                        a[k] += v
    return out
