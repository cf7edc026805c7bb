"""The repo's benchmark: one closed-loop client in one process, Spark on
``local[nproc]``.

    python3 perfbench/run.py --workload {headline,forecast_cycle}
                             --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Prints a report line (every end-to-end metric that applies to the workload,
by name with unit and sample count; with ``--trace 1`` every per-layer
metric, the per-op unattributed remainders and the tracing overhead) and,
as the last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: the metrics of ``BENCHMARK.json``'s ``end_to_end`` list
(``--trace 0``) or ``per_layer`` list (``--trace 1``). Exits 1 when any
output was wrong, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import (  # noqa: E402
    REPO_ROOT,
    BenchError,
    Timer,
    WorkDir,
    cpu_probe_ms,
    cpu_steal_ticks,
    dump,
    end_to_end,
    host_facts,
    peak_rss_mb,
    prepare_environment,
)

WORKLOADS = ("headline", "forecast_cycle")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    size: str
    work: WorkDir
    tracer: object | None


def _workload_module(name: str):
    if name == "headline":
        from perfbench import headline as mod
    else:
        from perfbench import forecast as mod
    return mod


def benchmark_spec() -> dict:
    with open(REPO_ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (Spark's
    Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)

    if not (REPO_ROOT / "timedb_spark").is_dir() or not (REPO_ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no timedb_spark checkout at {REPO_ROOT}", file=sys.stderr)
        return 2
    spec = benchmark_spec()

    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    work = WorkDir()
    try:
        prepare_environment(work)
        from perfbench.common import start_spark
        from perfbench.trace import Tracer

        with Timer() as t:
            spark = start_spark(work, f"perfbench-{args.workload}", event_log=bool(args.trace))
        session_s = t.ms / 1000.0
        tracer = Tracer() if args.trace else None
        ctx = Context(spark, args.seed, args.seconds, args.size, work, tracer)
        try:
            steal0 = cpu_steal_ticks()
            with Timer() as t:
                result = _workload_module(args.workload).run(ctx)
            steal1 = cpu_steal_ticks()
            result["info"]["workload_wall_s"] = t.ms / 1000.0
            if tracer is not None and tracer.installed:
                raise BenchError("wrappers still installed after the workload")
            rss = peak_rss_mb(spark)
            host = host_facts(spark)
            # share of the host's CPU time the hypervisor stole while the
            # workload ran: the main source of run-to-run spread on shared VMs
            host["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
            host["cpu_probe_ms"] = cpu_probe_ms()
        finally:
            stop_spark(spark)
        report = assemble(args, spec, result, session_s, rss, host, tracer, work)
    finally:
        work.close()
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tempdir

    print(dump(report))
    print(dump(report["result"]))
    return 0 if report["result"]["correct"] else 1


def assemble(args, spec, result, session_s, rss, host, tracer, work) -> dict:
    ops = result["ops"]
    measured = [o for o in ops if not o.traced]
    checks = result["checks"]
    setup_s = session_s + result["input_build_s"]
    e2e = end_to_end(measured, setup_s, rss)
    e2e.update(result["workload_metrics"])
    attempted = len(ops) + len(checks)
    failed = sum(not o.ok for o in ops) + sum(not ok for ok in checks.values())
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "host": host,
        "setup": {"session_start_s": session_s, "input_builds_s": result["setup_builds_s"]},
        "end_to_end": e2e,
        "checks": checks,
        "info": result["info"],
        "op_log": [{"kind": o.kind, "ms": o.ms, "cpu_ms": o.cpu_ms, "ok": o.ok, "traced": o.traced}
                   for o in ops],
    }
    if args.trace:
        from perfbench import layers, sparklog

        summaries = tracer.op_summaries()
        events = sparklog.per_op(str(work.path / "eventlog"))
        per_layer, absent = layers.per_layer(args.workload, result, ops, summaries, events)
        report["per_layer"] = per_layer
        report["absent"] = absent
        report["ops"] = [
            {"id": k, "kind": s["kind"], "wall_ms": s["wall_ms"], "unattributed_ms": s["unattributed_ms"],
             "self_ms": s["self_ms"]}
            for k, s in summaries.items()
        ]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {name: {"value": per_layer[name], "unit": unit} for name, unit in units.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]} for m in spec["end_to_end"]}
    report["result"] = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
