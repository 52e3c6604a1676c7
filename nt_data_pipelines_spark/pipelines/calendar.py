"""Trading-calendar utilities (reference: utils/calendar.py, calendar_flow.py).

- ``last_market_date``: global max over the calendar table (A3,
  utils/calendar.py:8-12)
- ``trading_date_range``: trailing-N trading dates via desc sort +
  limit (O3, utils/calendar.py:15-19)

The daily flows' T2 freshness gate (stock_prices_flow.py:135-144) lives
in ``runner.daily_flow``, read off the same aggregate as its lookbacks.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def last_market_date(calendar: DataFrame, before: dt.date | None = None) -> dt.date:
    """Most recent market date, optionally strictly before ``before``
    (trading_flow.py:240-249 filters the schedule to dates < today)."""
    df = calendar if before is None else calendar.filter(F.col("date") < F.lit(before))
    return df.agg(F.max("date").alias("d")).first()["d"]


def market_is_open(calendar: DataFrame, today: dt.date) -> bool:
    """True when ``today`` is a trading date (trading_flow.py:262-266).

    Distinct from the daily flows' freshness gate: the trading flow
    runs on any open market day (Monday trades using Friday's
    weights), while the data flows gate on the calendar being
    ingested up to yesterday.
    Requires the calendar table to cover ``today`` (the S9 calendar
    ingestion loads the exchange schedule, which includes the current
    day) — an un-ingested calendar reads as closed, never as a trade.
    """
    return calendar.filter(F.col("date") == F.lit(today)).limit(1).count() > 0


def trading_date_range(calendar: DataFrame, window: int) -> DataFrame:
    """Last ``window`` trading dates (the incremental-slice lookback, T3)."""
    return calendar.select("date").distinct().orderBy(F.desc("date")).limit(window)

