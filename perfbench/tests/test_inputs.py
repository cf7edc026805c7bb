"""Seeded inputs: the same seed gives identical inputs, another seed
different ones; the headline fixture matches its pinned hashes. No Spark
needed."""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

from perfbench.inputs import DATA_DIR, HEADLINE_TABLES, ForecastModel, fixture_dir, query_orders

NAMES = [f"q{i}" for i in range(9)]


def _forecast_inputs(seed: int) -> list[pd.DataFrame]:
    model = ForecastModel(seed, n_series=4, horizon_h=48, n_history=2)
    frames = list(model.history(1))
    for _ in range(3):
        frame, kt, written, skipped = model.next_run()
        frames.append(frame.assign(kt=kt, written=written, skipped=skipped))
        model.commit()
        sids, start, end = model.read_slice()
        frames.append(pd.DataFrame({"sids": sids, "start": start, "end": end}))
    return frames


def _headline_inputs(seed: int) -> list[pd.DataFrame]:
    return [pd.DataFrame({"order": order}) for order in itertools.islice(query_orders(seed, NAMES), 4)]


GENERATORS = {
    "headline": _headline_inputs,
    "forecast": _forecast_inputs,
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_inputs(name):
    a, b = GENERATORS[name](7), GENERATORS[name](7)
    assert len(a) == len(b)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_inputs(name):
    a, b = GENERATORS[name](7), GENERATORS[name](8)
    assert any(not x.equals(y) for x, y in zip(a, b))


def test_forecast_runs_repeat_a_share_of_stored_values():
    model = ForecastModel(3, n_series=4, horizon_h=48, n_history=2)
    model.history(1)
    _frame, _kt, written, skipped = model.next_run()
    assert written > 0 and skipped > 0


def test_query_orders_are_permutations():
    for order in itertools.islice(query_orders(5, NAMES), 3):
        assert sorted(order) == NAMES


@pytest.mark.parametrize("sf", ["0.01", "0.001"])
def test_headline_fixture_matches_its_hashes(sf):
    d = fixture_dir(sf)
    assert sorted(p.stem for p in d.glob("*.parquet")) == sorted(HEADLINE_TABLES)


def test_a_changed_fixture_file_is_refused(tmp_path, monkeypatch):
    import shutil

    from perfbench import inputs

    shutil.copytree(DATA_DIR, tmp_path / "data")
    with open(tmp_path / "data" / "sf0.001" / "region.parquet", "ab") as fh:
        fh.write(b"x")
    monkeypatch.setattr(inputs, "DATA_DIR", tmp_path / "data")
    with pytest.raises(ValueError, match="region"):
        inputs.fixture_dir("0.001")
