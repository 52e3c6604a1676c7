"""Seeded input generator for the benchmark.

Everything the program receives is built here from ``--seed``: a
weekday trading calendar, a factor-structured price panel for the
stocks and the five factor ETFs, and a point-in-time universe with
constituent churn (names swapped in and out during the history, so the
universe-gated joins of ``api.Engine`` really drop rows).

The panel is split in two: the *history* is ingested and backfilled,
and the *held* days arrive one per nightly tick. The calendar runs one
trading date past the last held day, because the trading flow only
trades on a date the calendar lists.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pandas as pd

from nt_data_pipelines_spark.config import FACTORS

START = dt.date(2021, 1, 4)
# seed of the history in the shared lake that ``nightly`` and
# ``research`` start from (their own seed draws ticks and reads)
LAKE_SEED = 0
# share of the universe swapped out per 252 trading days (the S&P 500
# replaces roughly 20 of its ~500 names a year)
CHURN_PER_YEAR = 0.04


@dataclasses.dataclass(frozen=True)
class Scale:
    n_tickers: int  # priced names; the universe holds ~85% of them
    n_history: int  # trading days ingested and backfilled
    n_held: int  # trading days held back for nightly ticks
    window: int  # rolling-OLS / covariance window
    half_life: float  # EWMA half-life


SCALES = {
    "bench": Scale(n_tickers=40, n_history=250, n_held=3, window=60, half_life=20.0),
    "smoke": Scale(n_tickers=20, n_history=300, n_held=3, window=60, half_life=20.0),
}


@dataclasses.dataclass
class Inputs:
    scale: Scale
    dates: list[dt.date]  # every trading date: history, held, one extra
    stock_prices: pd.DataFrame
    etf_prices: pd.DataFrame
    universe: pd.DataFrame
    members_per_date: np.ndarray  # universe size on dates[i]

    @property
    def history_end(self) -> dt.date:
        return self.dates[self.scale.n_history - 1]

    @property
    def held_dates(self) -> list[dt.date]:
        s = self.scale
        return self.dates[s.n_history : s.n_history + s.n_held]

    def universe_rows(self, start: int, end: int) -> int:
        """Universe rows on dates[start..end], both ends inclusive."""
        return int(self.members_per_date[start : end + 1].sum())

    def sizes(self) -> dict:
        """Row and byte counts of every generated frame."""
        frames = {
            "stock_prices": self.stock_prices,
            "etf_prices": self.etf_prices,
            "universe": self.universe,
        }
        return {
            name: {"rows": len(df), "bytes": int(df.memory_usage(deep=True).sum())}
            for name, df in frames.items()
        }


def _weekdays(n: int) -> list[dt.date]:
    out, d = [], START
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _bars(rng: np.random.Generator, tickers: list[str], dates, returns: np.ndarray) -> pd.DataFrame:
    """Daily bars from a (days x tickers) return matrix."""
    n_days, n = returns.shape
    close = rng.uniform(20, 200, n) * np.exp(np.cumsum(np.log1p(returns), axis=0))
    spread = np.abs(rng.normal(0.005, 0.002, (n_days, n)))
    frame = pd.DataFrame(
        {
            "ticker": np.repeat(np.array(tickers, dtype=object), n_days),
            "date": np.tile(np.array(dates, dtype=object), n),
            "close": close.T.ravel(),
            "spread": spread.T.ravel(),
        }
    )
    c, sp = frame.pop("close"), frame.pop("spread")
    rows = len(frame)
    frame["year"] = np.tile(np.array([d.year for d in dates], dtype=np.int32), n)
    frame["open"] = c * (1 + rng.normal(0, 0.003, rows))
    frame["high"] = c * (1 + sp)
    frame["low"] = c * (1 - sp)
    frame["close"] = c
    frame["volume"] = rng.integers(100_000, 5_000_000, rows).astype(float)
    frame["trade_count"] = rng.integers(1_000, 50_000, rows).astype(float)
    frame["vwap"] = c * (1 + rng.normal(0, 0.001, rows))
    return frame


def generate(scale: Scale, seed: int, tick_seed: int | None = None) -> Inputs:
    """Inputs drawn from ``seed``. ``tick_seed`` draws the held days'
    returns instead, so inputs that share ``seed`` share their history."""
    rng = np.random.default_rng(seed)
    n_priced = scale.n_history + scale.n_held
    dates = _weekdays(n_priced + 1)
    priced = dates[:n_priced]
    tickers = [f"S{i:03d}" for i in range(scale.n_tickers)]

    # factor returns, then stock returns = betas . factors + idiosyncratic
    k = len(FACTORS)
    f_ret = rng.normal(0.0003, 0.01, (n_priced, k))
    betas = rng.normal(0.2, 0.3, (scale.n_tickers, k))
    s_ret = f_ret @ betas.T + rng.normal(0.0, 0.012, (n_priced, scale.n_tickers))
    if tick_seed is not None:
        tick = np.random.default_rng(tick_seed)
        held = slice(scale.n_history, n_priced)
        f_ret[held] = tick.normal(0.0003, 0.01, (scale.n_held, k))
        s_ret[held] = f_ret[held] @ betas.T + tick.normal(0.0, 0.012, (scale.n_held, scale.n_tickers))
    stock_prices = _bars(rng, tickers, priced, s_ret)
    etf_prices = _bars(rng, list(FACTORS), priced, f_ret)

    # point-in-time universe with seeded churn
    n_members = max(2, int(round(scale.n_tickers * 0.85)))
    members = set(rng.choice(tickers, n_members, replace=False).tolist())
    swaps = max(2, int(round(CHURN_PER_YEAR * n_members * n_priced / 252)))
    swap_days = set(rng.choice(np.arange(1, n_priced), swaps, replace=False).tolist())
    rows, counts = [], np.zeros(len(dates), dtype=np.int64)
    for i, d in enumerate(priced):
        if i in swap_days:
            out = sorted(members)[int(rng.integers(len(members)))]
            outside = sorted(set(tickers) - members)
            members.remove(out)
            members.add(outside[int(rng.integers(len(outside)))])
        rows.extend((d, d.year, t) for t in sorted(members))
        counts[i] = len(members)
    universe = pd.DataFrame(rows, columns=["date", "year", "ticker"])
    universe["year"] = universe["year"].astype(np.int32)
    return Inputs(scale, dates, stock_prices, etf_prices, universe, counts)
