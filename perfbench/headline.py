"""``headline``: the nine ``bench.py`` HEADLINE queries, each materialized to
the ``noop`` sink, over the repo's fixed fixture (``inputs.fixture_dir``).

Set-up is what the program does before the first query: the session start
(timed by ``run.py``) and opening every input table through
``io.tables.load_table``, three times; the median is the set-up's input
part. The warm-up pass, not counted, collects every query and checks it
against its DuckDB ``oracle_sql()`` twin with ``tools/parity.py``'s
normalization; the oracles run in a thread beside it. Timed passes then run
whole passes, each in a seeded query order, until ``--seconds`` have passed
and at least ``MIN_PASSES`` ran. A traced run alternates traced and
untraced passes.
"""

from __future__ import annotations

import importlib.util
import statistics
import sys
import threading
import time

from perfbench.common import REPO_ROOT, Op, Timer, metric
from perfbench.inputs import HEADLINE_TABLES, fixture_dir, query_orders
from perfbench.sparklog import OP_PROPERTY
from perfbench.trace import catalyst_phases

#: fixture scale factor per --size. bench.py reads sf 0.1; at 0.01 a run
#: takes about 30 s, of which JVM start and the cold check pass take about 20
SIZES = {"full": "0.01", "tiny": "0.001"}
SETUP_OPENS = 3
#: timed passes at least: one pass right after the cold warm-up pass is still
#: warming up, and a traced run needs a traced and an untraced pass
MIN_PASSES = 2


def _load_parity():
    """``tools/parity.py`` as a module (tools/ is not a package). Its
    import-time ``sys.path`` edit is undone."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("perfbench_parity", REPO_ROOT / "tools" / "parity.py")
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def headline_names() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def _oracles(tables_dir: str, names: list[str], oracle_sql: dict[str, str], out: dict) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for t in HEADLINE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        for name in names:
            rel = con.sql(oracle_sql[name])
            out[name] = (rel.columns, rel.fetchall())
    finally:
        con.close()


def run(ctx) -> dict:
    import __spark_entry__ as entry

    from timedb_spark.io.tables import load_table

    spark = ctx.spark
    tables_dir = str(fixture_dir(SIZES[ctx.size]))
    names = headline_names()
    queries, oracle_sql = entry.queries(), entry.oracle_sql()

    # -- set-up: open every input table, three times ---------------------------
    opens = []
    for _ in range(SETUP_OPENS):
        with Timer() as t:
            for name in HEADLINE_TABLES:
                load_table(spark, tables_dir, name)
        opens.append(t.ms / 1000.0)

    # -- warm-up pass = correctness pass (not counted) ------------------------
    t_warm = time.perf_counter()
    parity = _load_parity()
    duck: dict = {}
    oracle_thread = threading.Thread(target=_oracles, args=(tables_dir, names, oracle_sql, duck))
    oracle_thread.start()
    spark_rows = {}
    for name in names:
        sdf = queries[name](spark, tables_dir)
        spark_rows[name] = (sdf.columns, [tuple(r) for r in sdf.collect()])
    oracle_thread.join()
    checks = {}
    for name in names:
        s_cols, s_rows = spark_rows[name]
        d_cols, d_rows = duck[name]
        checks[name] = (
            sorted(s_cols) == sorted(d_cols)
            and len(s_rows) == len(d_rows)
            and parity._norm_rows(s_cols, s_rows) == parity._norm_rows(d_cols, d_rows)
        )
    del spark_rows, duck
    warmup_s = time.perf_counter() - t_warm

    # -- timed passes ----------------------------------------------------------
    tracer = ctx.tracer
    orders = query_orders(ctx.seed, names)
    ops: list[Op] = []
    per_pass: list[dict[str, float]] = []
    t_start = time.perf_counter()
    p = 0
    while True:
        traced = tracer is not None and p % 2 == 0
        if traced:
            tracer.install_library(spark)
        times = {}
        for name in next(orders):
            op_id = f"p{p}:{name}"
            if traced:
                spark.sparkContext.setLocalProperty(OP_PROPERTY, op_id)
                with tracer.op(op_id, name) as root:
                    with tracer.span(f"query.{name}", "operators"):
                        df = queries[name](spark, tables_dir)
                    df.write.format("noop").mode("overwrite").save()
                ms = root.ms
                spark.sparkContext.setLocalProperty(OP_PROPERTY, None)
                phases = catalyst_phases(df)  # outside the op's wall
                ops.append(Op(name, ms, checks[name], traced=True, detail={"id": op_id, "catalyst": phases}))
            else:
                with Timer(cpu=True) as t:
                    queries[name](spark, tables_dir).write.format("noop").mode("overwrite").save()
                ms = t.ms
                ops.append(Op(name, ms, checks[name], t.cpu_ms, detail={"id": op_id}))
            times[name] = ms
        if traced:
            tracer.uninstall()
        per_pass.append(times)
        p += 1
        if p >= MIN_PASSES and time.perf_counter() - t_start >= ctx.seconds:
            break

    untraced = [t for i, t in enumerate(per_pass) if tracer is None or i % 2 == 1]
    floor_s = sum(min(t[n] for t in untraced) for n in names) / 1000.0
    return {
        "setup_builds_s": opens,
        "input_build_s": statistics.median(opens),
        "ops": ops,
        "checks": {},
        "workload_metrics": {},
        "info": {
            "sf": SIZES[ctx.size],
            "warmup_check_s": warmup_s,
            "passes": len(per_pass),
            "oracle_parity": checks,
            "composite_floor": metric(floor_s, "s", len(untraced),
                                      note="bench.py's floor: sum over queries of each query's minimum across "
                                           "untraced passes; informational, not gated"),
            "per_query_ms": {n: [round(t[n], 3) for t in per_pass] for n in names},
        },
        "layer_metrics": {},
    }
