"""The benchmark's inputs.

- ``headline`` reads the repo's fixed TPC-H-shaped fixture (seed 42, one
  parquet file per table). ``perfbench/data/sf<scale>/`` holds byte-identical
  copies of the tables the nine headline queries read, so the benchmark reads
  only files of its own checkout; ``data/SHA256SUMS`` pins them. The seed
  only sets the query order of each pass (:func:`query_orders`).
- :class:`ForecastModel` generates the forecast store's history and the new
  forecast run of every cycle with seeded numpy generators, and keeps a
  pandas model of every row written so reads, ``WriteResult`` counts and
  stream states can be checked exactly. The program receives only the
  generated frames, so the same seed gives the same inputs on any host.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pandas as pd

US_PER_HOUR = 3_600_000_000
US_PER_DAY = 24 * US_PER_HOUR

DATA_DIR = Path(__file__).resolve().parent / "data"

#: tables the nine headline queries read
HEADLINE_TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]


# ---------------------------------------------------------------------------
# headline: the fixed fixture + a seeded query order
# ---------------------------------------------------------------------------


def fixture_dir(sf: str) -> Path:
    """``perfbench/data/sf<sf>``, after checking every table against
    ``data/SHA256SUMS``."""
    sums = {rel: digest for digest, rel in (line.split() for line in (DATA_DIR / "SHA256SUMS").read_text().splitlines())}
    for t in HEADLINE_TABLES:
        rel = f"sf{sf}/{t}.parquet"
        if hashlib.sha256((DATA_DIR / rel).read_bytes()).hexdigest() != sums[rel]:
            raise ValueError(f"fixture file {rel} does not match data/SHA256SUMS")
    return DATA_DIR / f"sf{sf}"


def query_orders(seed: int, names: list[str]) -> Iterator[list[str]]:
    """The query order of each timed pass, one seeded permutation a pass."""
    rng = np.random.default_rng([seed, 10])
    while True:
        yield [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------------------
# forecast_cycle: history + one new forecast run per cycle
# ---------------------------------------------------------------------------

_TIERS = np.array(["short", "medium", "long", "forever"])


class ForecastModel:
    """Seeded forecast runs plus a pandas model of every row written.

    ``n_series`` series, each in a fixed retention tier. Vintage ``v`` is a
    forecast issued at ``T0 + v days`` (its ``knowledge_time``) for the next
    ``horizon_h`` hourly valid times. The history holds vintages
    ``0 .. n_history - 1``; cycle ``c`` issues vintage ``n_history + c``.
    In a cycle's run, a seeded ``repeat_share`` of the rows that already
    have a stored value repeat it, so ``skip_unchanged`` skips them.

    The model holds (series_id, valid_time, knowledge_time, value) for every
    row actually stored, in epoch microseconds. Every vintage's
    knowledge_time is distinct, so the latest row of a key is its row with
    the largest knowledge_time and change_time never decides a read.
    """

    T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

    def __init__(
        self,
        seed: int,
        *,
        n_series: int = 40,
        horizon_h: int = 240,
        n_history: int = 8,
        repeat_share: float = 0.3,
        read_series: int = 10,
        read_days: int = 7,
    ):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 2])
        self.n_series = n_series
        self.horizon_h = horizon_h
        self.n_history = n_history
        self.repeat_share = repeat_share
        self.read_series = min(read_series, n_series)
        self.read_days = read_days
        self.series_ids = np.sort(self.rng.choice(np.arange(1, 1_000_000), n_series, replace=False)).astype("int64")
        self.tier = dict(zip(self.series_ids.tolist(), self.rng.choice(_TIERS, n_series).tolist()))
        self.level = self.rng.uniform(10.0, 500.0, n_series)
        self.t0_us = int(self.T0.timestamp()) * 1_000_000
        self.next_vintage = 0
        self.stored = pd.DataFrame(
            {"series_id": pd.Series([], dtype="int64"), "valid_time": pd.Series([], dtype="int64"),
             "knowledge_time": pd.Series([], dtype="int64"), "value": pd.Series([], dtype="float64")}
        )

    # -- generation --------------------------------------------------------

    def kt_us(self, vintage: int) -> int:
        return self.t0_us + vintage * US_PER_DAY

    def _vintage_rows(self, vintage: int) -> pd.DataFrame:
        kt = self.kt_us(vintage)
        h = np.arange(self.horizon_h)
        sid = np.repeat(self.series_ids, self.horizon_h)
        vt = kt + np.tile(h, self.n_series) * US_PER_HOUR
        daily = np.sin(2 * np.pi * ((vt // US_PER_HOUR) % 24) / 24.0)
        value = np.repeat(self.level, self.horizon_h) * (1.0 + 0.2 * daily) + self.rng.normal(0.0, 5.0, len(vt))
        return pd.DataFrame(
            {"series_id": sid, "valid_time": vt, "knowledge_time": np.full(len(vt), kt, dtype="int64"),
             "value": np.round(value, 3)}
        )

    def history(self, n_writes: int = 2) -> list[pd.DataFrame]:
        """The history as ``n_writes`` frames of whole vintages, each with a
        per-row ``knowledge_time`` column. Records them as stored."""
        vintages = [self._vintage_rows(v) for v in range(self.n_history)]
        self.next_vintage = self.n_history
        self.stored = pd.concat([self.stored, *vintages], ignore_index=True)
        groups = np.array_split(np.arange(self.n_history), max(1, min(n_writes, self.n_history)))
        return [self.to_client_frame(pd.concat([vintages[i] for i in g], ignore_index=True)) for g in groups]

    def next_run(self) -> tuple[pd.DataFrame, datetime, int, int]:
        """The next cycle's forecast run: (client frame without a
        knowledge_time column, its knowledge_time, expected written,
        expected skipped). ``pending_rows`` holds the whole run as model
        rows. Call :meth:`commit` once the write succeeded."""
        rows = self._vintage_rows(self.next_vintage)
        latest = self.latest_map()
        key = list(zip(rows["series_id"].tolist(), rows["valid_time"].tolist()))
        prev = np.array([latest.get(k, np.nan) for k in key])
        repeat = ~np.isnan(prev) & (self.rng.random(len(rows)) < self.repeat_share)
        rows.loc[repeat, "value"] = prev[repeat]
        unchanged = rows["value"].to_numpy() == prev  # NaN prev never equal
        self.pending_rows, self._unchanged = rows, unchanged
        kt = datetime.fromtimestamp(self.kt_us(self.next_vintage) / 1e6, tz=timezone.utc)
        frame = self.to_client_frame(rows).drop(columns=["knowledge_time"])
        return frame, kt, int((~unchanged).sum()), int(unchanged.sum())

    def commit(self) -> None:
        rows, unchanged = self.pending_rows, self._unchanged
        self.stored = pd.concat([self.stored, rows[~unchanged]], ignore_index=True)
        self.next_vintage += 1

    def to_client_frame(self, rows: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "series_id": rows["series_id"].to_numpy(),
                "valid_time": pd.to_datetime(rows["valid_time"].to_numpy(), unit="us", utc=True),
                "knowledge_time": pd.to_datetime(rows["knowledge_time"].to_numpy(), unit="us", utc=True),
                "value": rows["value"].to_numpy(),
                "retention": [self.tier[s] for s in rows["series_id"].tolist()],
            }
        )

    def read_slice(self) -> tuple[list[int], datetime, datetime]:
        """A seeded (series subset, [start_valid, end_valid)) inside the
        valid-time range the store covers."""
        sids = np.sort(self.rng.choice(self.series_ids, self.read_series, replace=False))
        covered_days = max(1, self.next_vintage + self.horizon_h // 24 - self.read_days)
        start_day = int(self.rng.integers(1, covered_days + 1)) if covered_days > 1 else 0
        start = self.T0 + timedelta(days=start_day)
        return [int(s) for s in sids], start, start + timedelta(days=self.read_days)

    # -- the model's answers -------------------------------------------------

    def latest_map(self) -> dict[tuple[int, int], float]:
        last = self.stored.sort_values("knowledge_time", kind="stable").drop_duplicates(
            ["series_id", "valid_time"], keep="last"
        )
        return dict(zip(zip(last["series_id"].tolist(), last["valid_time"].tolist()), last["value"].tolist()))

    def _scope(self, sids, start: datetime | None, end: datetime | None) -> pd.DataFrame:
        s = self.stored
        if sids is not None:
            s = s[s["series_id"].isin(list(sids))]
        if start is not None:
            s = s[s["valid_time"] >= int(start.timestamp()) * 1_000_000]
        if end is not None:
            s = s[s["valid_time"] < int(end.timestamp()) * 1_000_000]
        return s

    @staticmethod
    def _latest(s: pd.DataFrame) -> pd.DataFrame:
        out = s.sort_values("knowledge_time", kind="stable").drop_duplicates(["series_id", "valid_time"], keep="last")
        return out[["series_id", "valid_time", "value"]].sort_values(["series_id", "valid_time"]).reset_index(drop=True)

    def expect_latest(self, sids=None, start=None, end=None) -> pd.DataFrame:
        return self._latest(self._scope(sids, start, end))

    def expect_history(self, sids=None, start=None, end=None) -> pd.DataFrame:
        s = self._scope(sids, start, end)[["series_id", "knowledge_time", "valid_time", "value"]]
        return s.sort_values(["series_id", "knowledge_time", "valid_time"]).reset_index(drop=True)

    def expect_day_ahead(self, sids, start: datetime, end: datetime, time_of_day_h: int = 12) -> pd.DataFrame:
        """``read_relative(days_ahead=1, time_of_day=hh:00)``: per valid day
        D, the latest value known by D-1 at hh:00."""
        s = self._scope(sids, start, end)
        day_start = (s["valid_time"] // US_PER_DAY) * US_PER_DAY
        cutoff = day_start + time_of_day_h * US_PER_HOUR - US_PER_DAY
        return self._latest(s[s["knowledge_time"] <= cutoff])
