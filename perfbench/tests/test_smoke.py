"""End-to-end smoke runs of every workload at the smallest size
(``--size tiny``), traced and untraced, plus the run's output format: the result
line's shape, the end-to-end metrics each workload must print, a value or
a stated reason for every per-layer metric, no wrappers in untraced runs,
v1 and v2 stream drains started outside the checkout, and a non-zero exit
where the program is missing. Each run starts its own Spark session
(30-60 s)."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "perfbench" / "run.py"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

COMMON = ["setup_s", "ops_per_s", "latency_p50_ms", "latency_p90_ms", "cpu_ms_per_op", "error_frac", "peak_rss_mb"]
APPLIES = {
    "headline": COMMON,
    "forecast_cycle": COMMON + ["ingest_rows_per_s", "drain_rows_per_s", "write_p50_ms", "read_latest_p50_ms",
                                "read_history_p50_ms", "read_relative_p50_ms", "drain_v1_p50_ms", "drain_v2_p50_ms",
                                "stored_bytes_per_row"],
}


PROGRAM_LAYERS = {"client.write", "client.read", "store.write", "store.read", "io.tables", "operators",
                  "bitemporal", "streaming"}
#: op kinds whose wall includes a Spark action the benchmark calls itself
ACTION_KINDS = {"tpch_q1", "tpch_q3", "tpch_q5", "events_window", "asof_join", "bt_read_latest",
                "bt_read_overlapping", "bt_read_latest_changes", "bt_read_relative", "read_latest",
                "read_history", "read_relative"}


def _run(workload: str, trace: int, cwd: Path = ROOT, seed: int = 1) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def _check_result(result: dict, names: list[str], units: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == names
    for name in names:
        m = result["metrics"][name]
        assert set(m) == {"value", "unit"} and m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(APPLIES))
def test_untraced_run_prints_every_end_to_end_metric(workload, tmp_path):
    # forecast_cycle runs from a directory outside the checkout: the v2
    # stream runner must still import timedb_spark
    cwd = tmp_path if workload == "forecast_cycle" else ROOT
    code, report, result = _run(workload, 0, cwd=cwd)
    assert code == 0
    e2e = SPEC["end_to_end"]
    _check_result(result, [m["name"] for m in e2e], {m["name"]: m["unit"] for m in e2e})
    for name in e2e:
        assert result["metrics"][name["name"]]["value"] > 0
    for name in APPLIES[workload]:
        m = report["end_to_end"][name]
        assert m["unit"], name
        assert m["value"] is not None or m.get("absent"), name
        if name.endswith(("_ms", "_per_s")) or name in ("error_frac", "cpu_ms_per_op"):
            assert m["n"] >= 1, name
    assert report["end_to_end"]["error_frac"]["value"] == 0.0
    assert "per_layer" not in report and "ops" not in report  # no tracer ran
    assert all(report["checks"].values())
    assert not list(tmp_path.iterdir())  # nothing written outside the checkout
    assert not (ROOT / ".perfbench_work").exists()


@pytest.mark.parametrize("workload", sorted(APPLIES))
def test_traced_run_reports_every_per_layer_metric(workload):
    code, report, result = _run(workload, 1)
    assert code == 0
    pl = SPEC["per_layer"]
    _check_result(result, [m["name"] for m in pl], {m["name"]: m["unit"] for m in pl})
    for m in pl:
        name = m["name"]
        assert report["per_layer"][name] or name in report["absent"], name
    assert report["ops"], "no traced op"
    for op in report["ops"]:
        assert op["unattributed_ms"] >= 0
        assert op["unattributed_ms"] + sum(op["self_ms"].values()) == pytest.approx(op["wall_ms"], abs=1e-3)
        # layer self time comes only from spans around program entry points
        assert set(op["self_ms"]) <= PROGRAM_LAYERS, op
    # the Spark action a headline op or a read runs on the returned
    # DataFrame lies outside every program entry point: unattributed
    actions = [op for op in report["ops"] if op["kind"] in ACTION_KINDS]
    assert actions and all(op["unattributed_ms"] > 0.2 * op["wall_ms"] for op in actions)
    assert "trace.overhead_ms" in report["per_layer"]


def test_untraced_run_installs_no_wrappers(monkeypatch, capsys):
    """In-process untraced run with every wrapper installer booby-trapped."""
    from perfbench import run, trace

    def boom(*_a, **_k):
        raise AssertionError("an untraced run installed a wrapper")

    for name in ("install_library", "install_client", "patch_function", "patch_method", "patch_py4j"):
        monkeypatch.setattr(trace.Tracer, name, boom)
    from timedb_spark.io import tables
    from timedb_spark.operators import bitemporal

    before = (tables.load_table, bitemporal.latest)
    code = run.main(["--workload", "headline", "--seed", "3", "--seconds", "1", "--trace", "0", "--size", "tiny"])
    assert code == 0
    assert (tables.load_table, bitemporal.latest) == before
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["correct"] is True


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark's files:
    non-zero exit, no result line."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        SPEC["command"] + ["--workload", "headline", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
