"""Trading-calendar utilities (reference: utils/calendar.py, calendar_flow.py).

- ``last_market_date``: global max over the calendar table (A3,
  utils/calendar.py:8-12)
- ``trading_date_range``: trailing-N trading dates via desc sort +
  limit (O3, utils/calendar.py:15-19)
- ``between``: an inclusive date range that prunes year partitions

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


def between(df: DataFrame, start: dt.date, end: dt.date) -> DataFrame:
    """Rows with ``start <= date <= end`` (Polars ``is_between``).

    Catalyst cannot infer year bounds from the date predicate; when
    ``df`` has a ``year`` column, stating them explicitly turns the
    date range into PartitionFilters on a year-partitioned table, so a
    one-month read touches one year's files, not all of them — the
    pruning the reference gets from its hive layout
    (stock_prices_flow.py:112)."""
    out = df.filter(F.col("date").between(F.lit(start), F.lit(end)))
    if "year" in df.columns:
        out = out.filter(F.col("year").between(start.year, end.year))
    return out
