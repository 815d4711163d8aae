"""Seeded market-data generator and the results a correct store must hold.

One ``MarketGen(seed)`` makes every input of the ``stream_ingest``,
``backfill`` and ``read_mostly`` workloads.  The same seed gives
byte-identical inputs: all randomness comes from one numpy PCG64 stream,
event times start at a fixed instant, and stream files are serialised
with fixed formatting.  Knobs: the number of tickers and their Zipf skew,
the share of rows that are exact replays of earlier rows, and the share
that arrive late (event time up to a day before the file's).

``Expected`` folds stream rows handed to the store in plain Python and
answers what the store must report afterwards: distinct rows, versions
per key and per-ticker row counts and time bounds (``table_stats``).
Bars are distinct by construction, so their expectation is the bars
themselves.
"""

from __future__ import annotations

import json
from collections import defaultdict

import numpy as np
import pyarrow as pa

#: 2024-03-04 14:30 UTC, a Monday at the New York open.
T0_S = 1709562600
DAY_S = 86_400
BARS_PER_DAY = 390
STREAM_COLS = (
    "ticker", "timestamp_UTC_ms", "price", "volume",
    "ask_price", "bid_price", "ask_size", "bid_size",
)


def trading_days(first_day: int, n: int) -> list[int]:
    """Day offsets from ``T0_S`` of the first ``n`` weekdays at or after
    ``first_day`` (T0 is a Monday)."""
    out, d = [], first_day
    while len(out) < n:
        if d % 7 < 5:
            out.append(d)
        d += 1
    return out


class MarketGen:
    def __init__(
        self,
        seed: int,
        n_tickers: int = 16,
        zipf_s: float = 1.1,
        dup_share: float = 0.05,
        late_share: float = 0.02,
    ):
        self.rng = np.random.default_rng(seed)
        self.tickers = [f"T{i:03d}" for i in range(n_tickers)]
        w = 1.0 / np.arange(1, n_tickers + 1) ** zipf_s
        self.weights = w / w.sum()
        self.dup_share = dup_share
        self.late_share = late_share
        self._emitted: list[tuple] = []

    def ticker(self) -> str:
        """One Zipf-skewed ticker."""
        return self.tickers[self.rng.choice(len(self.tickers), p=self.weights)]

    # -- stream: trades and quotes -------------------------------------
    def stream_rows(self, n: int, t_ms: int, span_ms: int) -> list[tuple]:
        """``n`` trade/quote rows with event times in
        ``[t_ms, t_ms + span_ms)``; about ``dup_share`` of them replay an
        earlier row verbatim and ``late_share`` are up to a day late."""
        rng = self.rng
        tk = rng.choice(len(self.tickers), size=n, p=self.weights)
        ts = np.sort(t_ms + rng.integers(0, span_ms, size=n))
        late = rng.random(n) < self.late_share
        ts = np.where(late, ts - rng.integers(60_000, DAY_S * 1000, size=n), ts)
        trade = rng.random(n) < 0.6
        px = np.round(50 + 5 * rng.random(n), 2)
        sz = rng.integers(1, 500, size=n)
        spread = np.round(0.01 + 0.04 * rng.random(n), 2)
        dup = rng.random(n) < self.dup_share
        pick = rng.random(n)
        rows = []
        for i in range(n):
            if dup[i] and (self._emitted or rows):
                pool = self._emitted if self._emitted else rows
                rows.append(pool[int(pick[i] * len(pool))])
                continue
            t, p = self.tickers[tk[i]], float(px[i])
            if trade[i]:
                rows.append((t, int(ts[i]), p, int(sz[i]), None, None, None, None))
            else:
                rows.append((
                    t, int(ts[i]), None, None,
                    round(p + float(spread[i]), 2), p, int(sz[i]), int(sz[i]) + 7,
                ))
        self._emitted.extend(rows)
        return rows

    @staticmethod
    def json_lines(rows: list[tuple]) -> bytes:
        return "".join(
            json.dumps(dict(zip(STREAM_COLS, r)), separators=(",", ":")) + "\n"
            for r in rows
        ).encode()

    @staticmethod
    def arrow_bytes(rows: list[tuple]) -> int:
        """Size of the rows as an Arrow table, the encoding ``write_amp``
        divides by for every mode."""
        return pa.table(
            [list(c) for c in zip(*rows)], names=list(STREAM_COLS)).nbytes

    # -- bars ------------------------------------------------------------
    def bars(self, n_tickers: int, days: list[int]) -> pa.Table:
        """1-minute bars for ``n_tickers`` tickers over the given trading
        days, ordered by (time, ticker) as a backfill replays them."""
        rng = self.rng
        ts = (
            T0_S
            + np.asarray(days)[:, None] * DAY_S
            + np.arange(BARS_PER_DAY)[None, :] * 60
        ).ravel()
        n = ts.size * n_tickers
        tks = np.array([f"T{i:03d}" for i in range(n_tickers)])
        drift = rng.standard_normal((ts.size, n_tickers)).cumsum(axis=0) * 0.05
        close = np.round(100 + drift, 2).ravel()
        wiggle = np.round(rng.random(n) * 0.5, 2)
        return pa.table({
            "ticker": np.tile(tks, ts.size),
            "timestamp_UTC_s": np.repeat(ts, n_tickers),
            "open": np.round(close - wiggle / 2, 2),
            "high": np.round(close + wiggle, 2),
            "low": np.round(close - wiggle, 2),
            "close": close,
            "volume": rng.integers(100, 100_000, size=n),
            "interval": np.full(n, "1m"),
        })


class Expected:
    """Plain-Python model of the store's dedup/version contract for stream
    rows: a row is stored unless an identical row (same key and payload)
    was stored before; a key (ticker, timestamp) has one version per
    distinct payload."""

    def __init__(self):
        self.rows: set[tuple] = set()

    def add(self, rows) -> int:
        """Fold rows in; return how many the store should append."""
        before = len(self.rows)
        self.rows.update(rows)
        return len(self.rows) - before

    def max_versions(self) -> int:
        per_key: dict = defaultdict(int)
        for r in self.rows:
            per_key[r[:2]] += 1
        return max(per_key.values(), default=0)

    def table_stats(self) -> dict[str, tuple[int, int, int]]:
        """{ticker: (row_count, min_ts, max_ts)}."""
        out: dict = {}
        for t, ts, *_ in self.rows:
            c = out.get(t)
            out[t] = (1, ts, ts) if c is None else (c[0] + 1, min(c[1], ts), max(c[2], ts))
        return out
