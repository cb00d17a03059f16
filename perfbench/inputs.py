"""The seeded market of the lake workload.

``Market`` is an in-memory market (tickers, splits, daily bars) that feeds
``pipeline.run_bronze`` through the program's ``InMemoryMarketSource``. The
same seed gives the same market; a different seed changes values but never
the shape that drives cost (ticker count, the trading calendar, the number
of splits).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from tickerlake_spark.sources.market import InMemoryMarketSource


class Market:
    """A seeded market of ``n_tickers`` tickers.

    Prices follow per-ticker random walks; on every day 2% of the tickers
    (at least two) carry a volume spike of 4-10x, so every trading day has
    high-volume-candle events and gold's stair-step path runs. The ticker
    universe and the number of splits are fixed; the seed moves prices,
    volumes and which tickers split on which of ``split_days``.
    """

    SPIKE_RATE = 0.02

    def __init__(self, seed: int, n_tickers: int, split_days: list[dt.date]) -> None:
        self.rng = np.random.default_rng(seed)
        self.tickers = [f"T{i:04d}" for i in range(n_tickers)]
        # 8% ETFs, 4% warrants (outside the CS/ETF universe silver keeps)
        idx = np.arange(n_tickers)
        kinds = np.where(idx % 12 == 5, "ETF", np.where(idx % 25 == 3, "WARRANT", "CS"))
        self.ticker_rows = [
            {
                "ticker": t,
                "name": f"Company {t}",
                "type": str(kind),
                "primary_exchange": "XNYS",
                "active": True,
                "cik": str(1_000_000 + i),
            }
            for i, (t, kind) in enumerate(zip(self.tickers, kinds))
        ]
        self.universe = sum(r["type"] in ("CS", "ETF") for r in self.ticker_rows)
        # as many splits as 5% of the tickers
        self.split_rows: list[dict] = []
        for _ in range(max(1, n_tickers // 20)):
            self.add_split(split_days)
        self._close = self.rng.uniform(10.0, 400.0, n_tickers)
        self._volume = self.rng.uniform(2e5, 5e6, n_tickers)

    def add_split(self, days: list[dt.date]) -> None:
        """Announce a 2:1, 3:1 or 4:1 split of a seeded ticker on a seeded
        one of ``days``."""
        self.split_rows.append(
            {
                "id": f"S{len(self.split_rows):05d}",
                "ticker": self.tickers[self.rng.integers(len(self.tickers))],
                "execution_date": days[self.rng.integers(len(days))],
                "split_from": 1.0,
                "split_to": float(self.rng.choice([2.0, 3.0, 4.0])),
            }
        )

    def reference_source(self) -> InMemoryMarketSource:
        """A source with the reference data (tickers, splits) and no bars."""
        return InMemoryMarketSource({}, self.ticker_rows, self.split_rows)

    def _steps(self, k: int) -> dict[str, np.ndarray]:
        """Advance every ticker's random walk by ``k`` trading days; each
        array is shaped (k, tickers)."""
        n = len(self.tickers)
        rng = self.rng
        close = self._close * np.exp(np.cumsum(rng.normal(0.0, 0.02, (k, n)), axis=0))
        prev = np.vstack([self._close[None, :], close[:-1]])
        self._close = close[-1]
        open_ = prev * np.exp(rng.normal(0.0, 0.005, (k, n)))
        volume = self._volume * rng.lognormal(0.0, 0.2, (k, n))
        # the same number of spiking tickers every day, at least two
        n_spikes = max(2, round(self.SPIKE_RATE * n))
        spike = np.zeros((k, n), dtype=bool)
        np.put_along_axis(spike, rng.random((k, n)).argsort(axis=1)[:, :n_spikes], True, axis=1)
        volume = np.where(spike, volume * rng.uniform(4.0, 10.0, (k, n)), volume)
        return {
            "open": open_,
            "high": np.maximum(open_, close) * (1.0 + rng.uniform(0.0, 0.02, (k, n))),
            "low": np.minimum(open_, close) * (1.0 - rng.uniform(0.0, 0.02, (k, n))),
            "close": close,
            "volume": volume.astype(np.int64),
            "transactions": (volume / rng.uniform(80.0, 120.0, (k, n))).astype(np.int64),
        }

    def history(self, days: list[dt.date]) -> pd.DataFrame:
        """Bars for each of ``days`` in the bronze ``stocks`` layout."""
        cols = {k: v.ravel() for k, v in self._steps(len(days)).items()}
        cols["ticker"] = np.tile(self.tickers, len(days))
        cols["date"] = np.repeat(np.array(days, dtype=object), len(self.tickers))
        return pd.DataFrame(cols)
