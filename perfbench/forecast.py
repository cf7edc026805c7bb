"""``forecast_cycle``: the reference's own surface, ``TimeDB`` on a
directory-format ``Store``, plus the state stream over the same forecast
feed.

Set-up bulk-loads a seeded history (series x hourly valid times x daily
vintages) in one large write and stages the same rows as the stream's
landing zone (``stream.stage_history``); three times, into three stores and
zones; the median is the input-build time and the last build is used. Only
the program's calls are timed: the history is generated before. Each timed
cycle then makes six calls:

- ``write`` of the next forecast run with ``skip_unchanged=True``; a seeded
  share of its rows repeats the stored value, so ``skipped > 0``. The run is
  also landed as one more file of the landing zone (outside the timed call);
- ``read`` latest over a seeded series subset and valid-time window;
- ``read(include_knowledge_time=True)`` over the same slice (the history);
- ``read_relative(days_ahead=1, time_of_day=12:00)`` over the same slice;
- one ``availableNow`` drain of the landing zone through v1
  ``stream_latest_state`` and one through v2 ``stream_latest_state_v2``.

Reads are collected to pandas; a drain's result is detached by the library.
Every ``WriteResult`` is checked against the generator's expected counts,
every read against the pandas model of all rows written, and every drain's
final state against the model's latest state, outside the timed calls. A
first cycle warms every path and is checked but not counted; then at least
``MIN_CYCLES`` cycles are timed, more while ``--seconds`` have not passed.
At the end the whole store's latest and history reads are checked too. A
traced run alternates traced and untraced cycles.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from datetime import time as dt_time

import numpy as np
import pandas as pd

from perfbench import stream
from perfbench.common import Op, Timer, kind_p50, metric
from perfbench.inputs import ForecastModel
from perfbench.sparklog import OP_PROPERTY
from perfbench.trace import catalyst_phases

SIZES = {
    "full": {"n_series": 12, "horizon_h": 120, "n_history": 6, "read_series": 6},
    "tiny": {"n_series": 4, "horizon_h": 48, "n_history": 2},
}
SETUP_BUILDS = 3
#: timed cycles at least: a cycle takes 10-14 s, so a run of a few seconds
#: would otherwise rest on one sample of each call
MIN_CYCLES = 2
NOON = dt_time(12)


def _plain(df: pd.DataFrame) -> pd.DataFrame:
    """Timestamp columns (naive or tz-aware) as int64 epoch microseconds."""
    out = df.copy()
    for c in out.columns:
        col = out[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(col.dtype):
            out[c] = col.to_numpy().astype("datetime64[us]").astype("int64")
    return out


def frames_equal(got: pd.DataFrame, expected: pd.DataFrame, keys: list[str]) -> bool:
    """Same rows (order-insensitive): keys and values exactly equal."""
    if len(got) != len(expected) or set(got.columns) != set(expected.columns):
        return False
    g = _plain(got).sort_values(keys).reset_index(drop=True)
    e = _plain(expected).sort_values(keys).reset_index(drop=True)
    return all(np.array_equal(g[c].to_numpy(), e[c].to_numpy()) for c in expected.columns)


def store_layout(root: str) -> dict:
    """Files and bytes under the store root; data files per
    (retention, vt_month) partition."""
    files = 0
    total = 0
    per_part: dict[str, int] = {}
    for d, _dirs, fs in os.walk(root):
        for f in fs:
            files += 1
            total += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet") and "vt_month=" in d:
                per_part[d] = per_part.get(d, 0) + 1
    return {"files": files, "bytes": total, "partitions": len(per_part),
            "files_per_partition_max": max(per_part.values(), default=0)}


def _build(ctx, k: int) -> tuple:
    """One input build: a fresh model, store (created, history written in
    one call) and landing zone (history staged). Returns the build's
    objects and the seconds spent in the program's calls."""
    from timedb_spark import TimeDB

    model = ForecastModel(ctx.seed, **SIZES[ctx.size])
    (frame,) = model.history(1)
    staged = ctx.spark.createDataFrame(stream.landing_rows(model.stored))
    root = str(ctx.work.sub(f"store{k}"))
    landing = str(ctx.work.path / f"landing{k}")
    with Timer() as t:
        db = TimeDB(ctx.spark, root)
        db.create()
        db.write(frame)
        stream.stage_history(staged, landing)
    return (model, db, root, landing, len(frame)), t.ms / 1000.0


def run(ctx) -> dict:
    from timedb_spark import profiling

    spark = ctx.spark
    builds = []
    for k in range(SETUP_BUILDS):
        (model, db, root, landing, history_rows), build_s = _build(ctx, k)
        builds.append(build_s)
        if k:
            shutil.rmtree(ctx.work.sub(f"store{k - 1}"))
            shutil.rmtree(ctx.work.path / f"landing{k - 1}")
    schema = spark.read.parquet(landing).schema

    tracer = ctx.tracer
    ops: list[Op] = []
    checks: dict[str, bool] = {}
    drains: dict[str, list[dict]] = {"v1": [], "v2": []}
    rows_written = history_rows
    landed_rows = history_rows
    c = -1  # cycle -1 warms every path: checked, not counted
    while True:
        if c == 0:
            t_start = time.perf_counter()
        traced = tracer is not None and c >= 0 and c % 2 == 0
        if traced:
            tracer.install_library(spark)
            tracer.install_client(db)
        frame, kt, exp_written, exp_skipped = model.next_run()
        sids, start, end = model.read_slice()

        def call(kind, fn, check):
            op_id = f"c{c}:{kind}"
            detail = {"id": op_id}
            if traced:
                spark.sparkContext.setLocalProperty(OP_PROPERTY, op_id)
                profiling.enable()
                profiling.reset()
                with tracer.op(op_id, kind) as root_span:
                    out = fn(detail)
                ms, cpu_ms = root_span.ms, 0.0
                detail["phases_ms"] = {k: v * 1000.0 for k, v in profiling.collect().items()}
                profiling.disable()
                spark.sparkContext.setLocalProperty(OP_PROPERTY, None)
                if "plan" in detail:  # outside the op's wall
                    detail["catalyst"] = catalyst_phases(detail.pop("plan"))
            else:
                with Timer(cpu=True) as t:
                    out = fn(detail)
                ms, cpu_ms = t.ms, t.cpu_ms
            ok = check(out, detail)
            if c < 0:
                checks[f"warmup_{kind}"] = ok
            else:
                ops.append(Op(kind, ms, ok, cpu_ms, traced=traced, detail=detail))
            return out

        def collect(df, detail):
            if not traced:
                return df.toPandas()
            detail["plan"] = df
            with Timer() as t:
                out = df.toPandas()
            detail["collect_ms"] = t.ms
            return out

        def drain(api, detail):
            detail["rows"] = landed_rows
            return stream.drain(spark, api, landing, schema)

        def drained_ok(api):
            def check(out, detail):
                emitted, progress = out
                drains[api].append({"id": detail["id"], "traced": traced, **stream.progress_totals(progress)})
                return frames_equal(stream.final_state(emitted.toPandas()), model.expect_latest(), stream.KEYS)

            return check

        res = call("write", lambda d: db.write(frame, knowledge_time=kt, skip_unchanged=True),
                   lambda r, d: (r.written, r.skipped) == (exp_written, exp_skipped))
        stream.land_run(model.pending_rows, landing, c)
        model.commit()
        rows_written += res.written
        landed_rows += len(frame)
        call("read_latest",
             lambda d: collect(db.read(series_ids=sids, start_valid=start, end_valid=end), d),
             lambda pdf, d: frames_equal(pdf, model.expect_latest(sids, start, end), stream.KEYS))
        call("read_history",
             lambda d: collect(db.read(series_ids=sids, start_valid=start, end_valid=end,
                                       include_knowledge_time=True), d),
             lambda pdf, d: frames_equal(pdf, model.expect_history(sids, start, end),
                                         ["series_id", "knowledge_time", "valid_time"]))
        call("read_relative",
             lambda d: collect(db.read_relative(series_ids=sids, start_valid=start, end_valid=end,
                                                days_ahead=1, time_of_day=NOON), d),
             lambda pdf, d: frames_equal(pdf, model.expect_day_ahead(sids, start, end), stream.KEYS))
        for api in ("v1", "v2"):
            call(f"drain_{api}", lambda d, api=api: drain(api, d), drained_ok(api))
        if traced:
            tracer.uninstall()
        c += 1
        if c >= MIN_CYCLES and time.perf_counter() - t_start >= ctx.seconds:
            break

    # -- end-of-run checks: the whole store against the model -----------------
    all_ids = [int(s) for s in model.series_ids]
    checks |= {
        "final_latest": frames_equal(db.read(series_ids=all_ids).toPandas(), model.expect_latest(), stream.KEYS),
        "final_history": frames_equal(db.read(series_ids=all_ids, include_knowledge_time=True).toPandas(),
                                      model.expect_history(), ["series_id", "knowledge_time", "valid_time"]),
    }
    layout = store_layout(root)
    measured = [o for o in ops if not o.traced]
    writes = [o for o in measured if o.kind == "write"]
    drained = [o for o in measured if o.kind.startswith("drain_")]
    layer = {"store.files": layout["files"], "store.files_per_partition_max": layout["files_per_partition_max"],
             "store.bytes": layout["bytes"]}
    for api, ds in drains.items():
        traced_drains = [d for d in ds if d["traced"]]
        for m in stream.STREAM_METRICS:
            layer[f"stream.{api}.{m}"] = statistics.mean(d[m] for d in traced_drains) if traced_drains else 0.0
    return {
        "setup_builds_s": builds,
        "input_build_s": statistics.median(builds),
        "ops": ops,
        "checks": checks,
        "workload_metrics": {
            "ingest_rows_per_s": metric(len(frame) * len(writes) / (sum(o.ms for o in writes) / 1000.0),
                                        "rows/s", len(writes), note="rows passed to write per second of write wall"),
            "drain_rows_per_s": metric(sum(o.detail["rows"] for o in drained) / (sum(o.ms for o in drained) / 1000.0),
                                       "rows/s", len(drained), note="landing-zone rows per second of drain wall"),
            "write_p50_ms": kind_p50(measured, "write"),
            "read_latest_p50_ms": kind_p50(measured, "read_latest"),
            "read_history_p50_ms": kind_p50(measured, "read_history"),
            "read_relative_p50_ms": kind_p50(measured, "read_relative"),
            "drain_v1_p50_ms": kind_p50(measured, "drain_v1"),
            "drain_v2_p50_ms": kind_p50(measured, "drain_v2"),
            "stored_bytes_per_row": metric(layout["bytes"] / rows_written, "bytes", rows_written),
        },
        "info": {
            "size": SIZES[ctx.size],
            "history_rows": history_rows,
            "rows_per_run": len(frame),
            "cycles": c,
            "rows_stored": rows_written,
            "rows_landed": landed_rows,
            "store": layout,
            "drains": drains,
        },
        "layer_metrics": layer,
    }
