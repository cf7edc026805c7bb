"""Shared plumbing: the run's work directory, Spark session start, host
facts, memory, latency statistics and the result record."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

#: the checkout the benchmark runs in: perfbench/..
REPO_ROOT = Path(__file__).resolve().parent.parent


class BenchError(RuntimeError):
    """A set-up failure: the run prints no result and exits non-zero."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """``<checkout>/.perfbench_work/<pid>``: every file the run writes —
    inputs, the store, Spark's local dirs, the JVM temp dir, stream
    checkpoints and the event log — lives here and is removed at the end."""

    def __init__(self) -> None:
        self.path = REPO_ROOT / ".perfbench_work" / str(os.getpid())
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        self.tmp = self.path / "tmp"
        self.tmp.mkdir()

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = self.path.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def prepare_environment(work: WorkDir) -> None:
    """Process environment the JVM and its Python workers inherit.

    The checkout goes on ``PYTHONPATH`` explicitly: the state API v2 runner
    (``transformWithStateInPandas``) starts Python processes that the
    package zip shipped by ``session.ensure_package_shipped`` does not reach,
    so without it a v2 drain started outside the checkout fails with
    ``No module named 'timedb_spark'``."""
    prev = os.environ.get("PYTHONPATH", "")
    parts = [p for p in prev.split(os.pathsep) if p]
    if str(REPO_ROOT) not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([str(REPO_ROOT), *parts])
    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))
    os.environ["TMPDIR"] = str(work.tmp)
    tempfile.tempdir = str(work.tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work.sub("spark-local"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))


def start_spark(work: WorkDir, app: str, *, event_log: bool):
    """The library's tuned session (``session.get_spark``), with the JVM's
    temp dir (stream checkpoints included) and the warehouse inside the work dir and, for traced runs,
    an uncompressed event log."""
    from timedb_spark.session import get_spark

    conf = {
        # the JVM's temp dir in the work dir; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} -XX:+PerfDisableSharedMem",
        "spark.sql.warehouse.dir": str(work.sub("warehouse")),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work.sub("eventlog")),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM's, MB.
    Spark's Python worker processes are not included."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    (default: this process) and every live descendant: this Python process,
    the JVM it launched and Spark's Python workers. Time the hypervisor
    stole from the host's vCPUs is not charged to any of them."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while scanning
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / _CLK_TCK


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python loop on this process: a
    reading of the host's speed (clock, contention, steal) beside the run's
    own numbers, for telling a slower host from a slower program."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def host_facts(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_heap": spark.conf.get("spark.driver.memory", None),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


def latency_stats(ms: list[float]) -> dict:
    """Median and p90 of op latencies. p90 is given only when at least ten
    samples lie beyond it (n >= 100); otherwise it is null with the reason."""
    out = {"n": len(ms), "p50": statistics.median(ms) if ms else None}
    if len(ms) >= 100:
        out["p90"] = quantile(ms, 0.9)
    else:
        out["p90"] = None
        out["p90_absent"] = f"{len(ms)} samples; p90 needs >= 100 so that ten lie beyond it"
    return out


@dataclass
class Op:
    """One timed operation of a closed loop."""

    kind: str
    ms: float
    ok: bool = True
    cpu_ms: float = 0.0
    traced: bool = False
    detail: dict = field(default_factory=dict)


class Timer:
    """Wall time of a block; with ``cpu=True`` also the CPU time of the
    process tree (:func:`process_tree_cpu_s`), read outside the wall."""

    def __init__(self, cpu: bool = False):
        self.cpu = cpu
        self.cpu_ms = 0.0

    def __enter__(self):
        if self.cpu:
            self.cpu0 = process_tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.ms = (time.perf_counter() - self.t0) * 1000.0
        if self.cpu:
            self.cpu_ms = (process_tree_cpu_s() - self.cpu0) * 1000.0
        return False


def metric(value, unit: str, n: int | None = None, **extra) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    out.update(extra)
    return out


def end_to_end(ops: list[Op], setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics every workload reports (ops measured
    untraced). Timed wall is the sum of the ops' latencies: a closed loop
    with the correctness checks outside it."""
    lat = latency_stats([o.ms for o in ops])
    timed_s = sum(o.ms for o in ops) / 1000.0
    failed = sum(not o.ok for o in ops)
    out = {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(len(ops) / timed_s if timed_s else 0.0, "ops/s", len(ops)),
        "latency_p50_ms": metric(lat["p50"], "ms", lat["n"]),
        "cpu_ms_per_op": metric(sum(o.cpu_ms for o in ops) / len(ops) if ops else 0.0, "ms", len(ops),
                                note="CPU of this Python process, the JVM and Spark's Python workers per op"),
        "latency_p90_ms": metric(lat["p90"], "ms", lat["n"], **({"absent": lat["p90_absent"]} if lat["p90"] is None else {})),
        "error_frac": metric(failed / len(ops) if ops else 1.0, "fraction", len(ops)),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }
    return out


def kind_p50(ops: list[Op], kind: str) -> dict:
    ms = [o.ms for o in ops if o.kind == kind]
    return metric(statistics.median(ms) if ms else None, "ms", len(ms))


def dump(obj) -> str:
    return json.dumps(obj, sort_keys=False, default=str)
