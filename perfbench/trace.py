"""Spans around calls into the program's layers, recorded from outside.

A traced run installs wrappers on public entry points — ``TimeDB.write`` /
``read`` / ``read_relative``, the store instance's ``append_values`` /
``append_run_series`` / ``read_values``, ``io.tables.load_table`` (under
every name a loaded module imported it as), the ``bitemporal`` functions the
client and the queries call, the streaming entry points — and a counter on
py4j ``send_command``. The workloads add one span of their own around each
headline query builder (``__spark_entry__.queries()``). Each wrapper records
a span (name, layer, start, end, parent, op id) in memory.
:meth:`Tracer.uninstall` restores every patched attribute, so an untraced op
runs the program exactly as shipped.

A span's self time is its duration minus its children's durations. The
root span of an op is the op itself; its self time is the op's
unattributed remainder: wall minus the sum of every layer's self time,
that is the time outside every program entry point — the Spark actions the
benchmark calls on returned DataFrames (a ``noop`` save, ``toPandas``) and
the benchmark's own glue.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: bitemporal operators wrapped in traced runs
BITEMPORAL_FUNCS = [
    "apply_filters",
    "latest",
    "latest_changes",
    "overlapping",
    "overlapping_changes",
    "relative_cutoff",
    "resolve_relative_params",
    "nan_to_null",
]

#: streaming entry points wrapped in traced runs, as (module, function)
STREAMING_FUNCS = [
    ("timedb_spark.streaming.state", "stream_latest_state"),
    ("timedb_spark.streaming.state_v2", "stream_latest_state_v2"),
    ("timedb_spark.streaming", "run_available_now_progress"),
]

#: layers whose py4j time is DataFrame-build round trips (no Spark action)
BUILD_LAYERS = {"client.read", "store.read", "io.tables", "operators", "bitemporal"}


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` and read Catalyst's phase times (ms) from its
    ``QueryExecution`` tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


@dataclass
class Span:
    op: str
    name: str
    layer: str
    start: float
    parent: int | None
    end: float = 0.0
    py4j_calls: int = 0
    py4j_ms: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, bool, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        op_id = op if op is not None else (self.spans[parent].op if parent is not None else "")
        self.spans.append(Span(op_id, name, layer, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def op(self, op_id: str, kind: str):
        """The root span of one op."""
        return self.span(kind, "op", op=op_id)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer._stack:  # outside any op: not part of a measurement
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installing wrappers ---------------------------------------------------

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def _set(self, obj, attr: str, value) -> None:
        had_own = attr in getattr(obj, "__dict__", {})
        self._patches.append((obj, attr, had_own, getattr(obj, attr)))
        setattr(obj, attr, value)

    def patch_method(self, obj, attr: str, name: str, layer: str) -> None:
        """Wrap a bound method on one instance (the class is untouched)."""
        self._set(obj, attr, self.wrap(getattr(obj, attr), name, layer))

    def patch_function(self, fn, name: str, layer: str) -> int:
        """Wrap ``fn`` under every module-global name bound to it in a loaded
        module (``from x import fn`` copies included). Returns the count."""
        wrapped = self.wrap(fn, name, layer)
        n = 0
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for attr, val in list(d.items()):
                if val is fn:
                    self._set(mod, attr, wrapped)
                    n += 1
        return n

    def patch_py4j(self, spark) -> None:
        """Count (and time) every py4j command this process sends, charged to
        the innermost open span."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                if tracer._stack:
                    s = tracer.spans[tracer._stack[-1]]
                    s.py4j_calls += 1
                    s.py4j_ms += (time.perf_counter() - t0) * 1000.0

        self._set(client, "send_command", counted)

    def install_library(self, spark) -> None:
        """py4j counter, ``io.tables.load_table``, the bitemporal operators
        and the streaming entry points."""
        import importlib

        from timedb_spark.io import tables
        from timedb_spark.operators import bitemporal as bt

        self.patch_py4j(spark)
        self.patch_function(tables.load_table, "io.tables.load_table", "io.tables")
        for f in BITEMPORAL_FUNCS:
            self.patch_function(getattr(bt, f), f"bitemporal.{f}", "bitemporal")
        for mod, f in STREAMING_FUNCS:
            self.patch_function(getattr(importlib.import_module(mod), f), f"streaming.{f}", "streaming")

    def install_client(self, db) -> None:
        """``TimeDB.write/read/read_relative`` and the store methods, on the
        given client instance and its store."""
        self.patch_method(db, "write", "TimeDB.write", "client.write")
        self.patch_method(db, "read", "TimeDB.read", "client.read")
        self.patch_method(db, "read_relative", "TimeDB.read_relative", "client.read")
        self.patch_method(db.store, "append_values", "store.append_values", "store.write")
        self.patch_method(db.store, "append_run_series", "store.append_run_series", "store.write")
        self.patch_method(db.store, "read_values", "store.read_values", "store.read")

    def uninstall(self) -> None:
        while self._patches:
            obj, attr, had_own, old = self._patches.pop()
            if had_own:
                setattr(obj, attr, old)
            else:  # a bound method shadowed on the instance: unshadow it
                delattr(obj, attr)

    # -- summaries ---------------------------------------------------------------

    def self_ms(self) -> list[float]:
        own = [s.ms for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.ms
        return own

    def op_summaries(self) -> dict[str, dict]:
        """Per op: wall, self time per layer, unattributed remainder, py4j
        calls and py4j build time, and per-span-name durations and call
        counts."""
        own = self.self_ms()
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s.layer == "op":
                out[s.op] = {"kind": s.name, "wall_ms": s.ms, "unattributed_ms": own[i], "self_ms": {},
                             "span_ms": {}, "span_n": {}, "py4j_calls": 0, "py4j_build_ms": 0.0}
        for i, s in enumerate(self.spans):
            o = out.get(s.op)
            if o is None:
                continue
            o["py4j_calls"] += s.py4j_calls
            if s.layer in BUILD_LAYERS:
                o["py4j_build_ms"] += s.py4j_ms
            if s.layer == "op":
                continue
            o["self_ms"][s.layer] = o["self_ms"].get(s.layer, 0.0) + own[i]
            o["span_n"][s.name] = o["span_n"].get(s.name, 0) + 1
            # outermost span of a name only, so nested same-name calls
            # (relative_cutoff -> latest) are not counted twice
            if s.parent is None or self.spans[s.parent].name != s.name:
                o["span_ms"][s.name] = o["span_ms"].get(s.name, 0.0) + s.ms
        return out
