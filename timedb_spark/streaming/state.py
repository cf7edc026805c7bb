"""Stateful latest-per-series streaming read — the streaming twin of
``operators.bitemporal.latest``.

State is keyed by ``series_id`` and holds the per-``valid_time`` winning
``(knowledge_time, change_time, value)`` map (argmax by ``(kt, ct)``,
exactly the batch ``max_by`` semantics) as parallel arrays. Every
micro-batch emits the (series, hour) rows whose winner changed (update
mode).

Scale posture: state size is O(#live (series,hour) keys) × ~32 bytes — a
bounded hot-state cache, not a history; the full history lives in the
store, this operator serves the "current state, now" query that a batch
read would answer with a full-scan collapse.

Keying: both the v1 adapter (``applyInPandasWithState``) and the v2
adapter (``transformWithStateInPandas``, :class:`LatestHoursProcessor`)
group by ``series_id`` and run the same pure transition,
:func:`fold_latest`, which does the per-hour argmax vectorized inside the
call. Python is dispatched once per touched series per micro-batch, not
once per touched hour; the shuffle key stays as fine-grained as the real
parallelism needs (series count ≫ cores).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

try:
    from pyspark.sql.streaming import StatefulProcessor
except ImportError:  # pragma: no cover - Spark < 4.0; state_v2 gates the v2 path
    StatefulProcessor = object  # type: ignore[assignment,misc]

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.LongType()),
        T.StructField("valid_time", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("knowledge_time", T.TimestampType()),
        T.StructField("change_time", T.TimestampType()),
    ]
)

# state: per-hour winners as parallel arrays (vt/kt/ct as epoch-µs longs:
# GroupState round-trips primitives losslessly; no tz ambiguity).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("vt_us", T.ArrayType(T.LongType())),
        T.StructField("kt_us", T.ArrayType(T.LongType())),
        T.StructField("ct_us", T.ArrayType(T.LongType())),
        T.StructField("value", T.ArrayType(T.DoubleType())),
    ]
)


def fold_latest(
    series_id: int, state: tuple | None, chunks: Iterable[pd.DataFrame]
) -> tuple[tuple | None, pd.DataFrame | None]:
    """The latest-state transition of one series for one micro-batch:
    ``(state arrays | None, input chunks) → (new state | None, changed
    rows | None)``. Both are ``None`` when no hour's winner changed.

    ``state`` is a :data:`STATE_SCHEMA` tuple (parallel ``vt/kt/ct/value``
    sequences, one entry per hour). Per hour the winner is the row with the
    largest ``(kt, ct)``; among equal ``(kt, ct)`` the earliest arrival
    wins — state before this batch, then chunks and rows in order — so a
    new row replaces a stored winner only if strictly greater, and the
    result does not depend on how the batch was chunked. Pure: no Spark."""
    frames = [pdf for pdf in chunks if len(pdf)]
    if not frames:
        return None, None
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    def us(col: str) -> np.ndarray:
        return pdf[col].values.astype("datetime64[us]").astype("int64")

    vt, kt, ct = us("valid_time"), us("knowledge_time"), us("change_time")
    val = pdf["value"].to_numpy(dtype="float64")
    n_state = 0
    if state is not None:
        n_state = len(state[0])
        vt, kt, ct = (
            np.concatenate([np.asarray(s, dtype="int64"), b]) for s, b in zip(state, (vt, kt, ct))
        )
        val = np.concatenate([np.asarray(state[3], dtype="float64"), val])
    # sort by (vt, kt, ct, -arrival): the last row of each equal-vt run is
    # that hour's winner
    order = np.lexsort((-np.arange(len(vt)), ct, kt, vt))
    vts = vt[order]
    win = order[np.nonzero(np.r_[vts[1:] != vts[:-1], True])[0]]
    changed = win[win >= n_state]
    if not len(changed):
        return None, None
    new_state = (vt[win].tolist(), kt[win].tolist(), ct[win].tolist(), val[win].tolist())
    out = pd.DataFrame(
        {
            "series_id": np.full(len(changed), series_id, dtype="int64"),
            "valid_time": vt[changed].astype("datetime64[us]"),
            "value": val[changed],
            "knowledge_time": kt[changed].astype("datetime64[us]"),
            "change_time": ct[changed].astype("datetime64[us]"),
        }
    )
    return new_state, out


def _update_latest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """v1 adapter: :func:`fold_latest` over a ``GroupState``."""
    new_state, out = fold_latest(int(key[0]), state.get if state.exists else None, pdfs)
    if new_state is not None:
        state.update(new_state)
        yield out


class LatestHoursProcessor(StatefulProcessor):
    """v2 adapter: :func:`fold_latest` over one ``ValueState`` per series
    holding the same :data:`STATE_SCHEMA` arrays as v1. It lives here, not
    in ``state_v2``, so a Python worker that unpickles it imports only this
    module."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("latest", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        new_state, out = fold_latest(int(key[0]), self._state.get(), rows)
        if new_state is not None:
            self._state.update(new_state)
            yield out

    def close(self) -> None:
        pass


def stream_latest_state(sv_stream: DataFrame) -> DataFrame:
    """``series_values``-shaped stream → per-(series, valid_time) latest
    state, emitted on change. Update output mode."""
    return sv_stream.groupBy("series_id").applyInPandasWithState(
        _update_latest,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
