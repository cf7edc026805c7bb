"""The latest-state transition shared by the v1 and v2 stream adapters.

``streaming.state.fold_latest`` is pure, so it is checked here without
Spark: random batches, cut into random chunks, are folded batch by batch
and compared with a plain-Python row-by-row replay of the semantics (per
hour the largest ``(knowledge_time, change_time)`` wins, the earliest
arrival among equals; a batch emits the hours whose winner changed).
"""

from __future__ import annotations

import math
import pickle
import subprocess
import sys
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

import numpy as np
import pandas as pd

from timedb_spark.streaming.state import OUTPUT_SCHEMA, LatestHoursProcessor, fold_latest

H = 3_600_000_000  # one hour in µs

#: (valid hour, knowledge hour, change hour, value): small ranges force
#: (kt, ct) ties; NaN values ride along as payload
row = st.tuples(
    st.integers(0, 3),
    st.integers(0, 2),
    st.integers(0, 1),
    st.one_of(st.integers(-3, 3).map(float), st.just(math.nan)),
)
#: one micro-batch: its rows plus the cut points that chunk them
batch = st.lists(row, max_size=12).flatmap(
    lambda rows: st.tuples(st.just(rows), st.lists(st.integers(0, len(rows)), max_size=3))
)


def _chunks(rows, cuts):
    bounds = [0, *sorted(cuts), len(rows)]
    return [
        pd.DataFrame(
            {
                "series_id": np.full(b - a, 7, dtype="int64"),
                "valid_time": np.array([r[0] * H for r in rows[a:b]], dtype="int64").astype("datetime64[us]"),
                "knowledge_time": np.array([r[1] * H for r in rows[a:b]], dtype="int64").astype("datetime64[us]"),
                "change_time": np.array([r[2] * H for r in rows[a:b]], dtype="int64").astype("datetime64[us]"),
                "value": np.array([r[3] for r in rows[a:b]], dtype="float64"),
            }
        )
        for a, b in zip(bounds, bounds[1:])
    ]


def _key(v: float):
    return "nan" if v != v else v


@settings(max_examples=300, deadline=None)
@given(st.lists(batch, min_size=1, max_size=4))
def test_fold_matches_row_by_row_replay(batches):
    state = None
    replay: dict[int, tuple] = {}
    for rows, cuts in batches:
        changed = set()
        for vt, kt, ct, v in rows:
            best = replay.get(vt * H)
            if best is None or (kt * H, ct * H) > best[:2]:
                replay[vt * H] = (kt * H, ct * H, v)
                changed.add(vt * H)

        new_state, out = fold_latest(7, state, _chunks(rows, cuts))

        if not changed:
            assert new_state is None and out is None
            continue
        state = new_state
        assert list(out.columns) == OUTPUT_SCHEMA.names
        assert (out["series_id"] == 7).all()
        got = {
            (int(r.valid_time.value // 1000), int(r.knowledge_time.value // 1000), int(r.change_time.value // 1000), _key(r.value))
            for r in out.itertuples()
        }
        assert got == {(h, *replay[h][:2], _key(replay[h][2])) for h in changed}
        assert len(out) == len(changed)
        assert list(state[0]) == sorted(replay)
        assert [(k, c, _key(v)) for k, c, v in zip(*state[1:])] == [
            (replay[h][0], replay[h][1], _key(replay[h][2])) for h in sorted(replay)
        ]


def test_fold_ignores_empty_chunks_and_keeps_state():
    state = ([0], [H], [0], [1.0])
    assert fold_latest(1, state, []) == (None, None)
    assert fold_latest(1, state, _chunks([], [])) == (None, None)
    # a row equal to the stored winner on (kt, ct) does not replace it
    assert fold_latest(1, state, _chunks([(0, 1, 0, 5.0)], [])) == (None, None)


def test_v2_processor_unpickles_without_state_v2(tmp_path):
    """A Spark Python worker imports the module of each processor it
    unpickles; the v2 latest-state processor's module must not pull in
    ``state_v2`` or its fast-path patches."""
    blob = pickle.dumps(LatestHoursProcessor())
    script = (
        "import pickle, sys\n"
        f"pickle.loads({blob!r})\n"
        "bad = [m for m in sys.modules if m.endswith(('.state_v2', '._tws_fastpath'))]\n"
        "assert 'timedb_spark.streaming.state' in sys.modules\n"
        "assert not bad, bad\n"
        "print('ISOLATED')\n"
    )
    root = str(Path(__file__).resolve().parents[1])
    r = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {root!r})\n" + script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert "ISOLATED" in r.stdout, r.stderr[-3000:]
