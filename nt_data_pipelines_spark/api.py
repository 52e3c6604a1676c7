"""The engine's public query surface (reference: pipelines/utils/data.py).

An ``Engine`` wraps a :class:`~nt_data_pipelines_spark.catalog.Catalog`
and reproduces every reference accessor with identical semantics
(utils/data.py:10-142, utils/calendar.py:8-19):

- universe-gated accessors LEFT JOIN through the point-in-time
  universe on (date, ticker) — only in-universe rows survive,
- date ranges are inclusive on both ends (Polars ``is_between``),
- measure accessors that smooth (alphas, loadings, idio vol) drop
  null measures after the gate,
- results come back sorted ("ticker", "date") like the reference.

A user of the reference switches by replacing ``get_X(start, end)``
calls with ``engine.get_X(start, end)`` — same names, same columns,
same rows. All accessors stay lazy DataFrames (the reference returns
eager frames only because Polars' query() materializes; callers here
collect when they need rows).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines.calendar import between, last_market_date, trading_date_range


class Engine:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    # ---- internals ----
    def _gated(self, table: str, start: dt.date, end: dt.date) -> DataFrame:
        # Prune BOTH sides before the join, never after: the right
        # table carries a `year` partition column, and a post-join
        # `year BETWEEN` would drop unmatched universe rows (their
        # year is NULL), silently turning the reference's left join
        # into an inner one (utils/data.py keeps those rows with null
        # measures). Pruning the right side pre-join is semantics-
        # preserving — out-of-range rows cannot match an in-range
        # universe key — and keeps PartitionFilters on both scans.
        # No post-join filter is needed: the joined `date` is the
        # universe's, already range-bound.
        universe = between(self.catalog.table("universe"), start, end).select(
            "date", "ticker"
        )
        right = between(self.catalog.table(table), start, end)
        return universe.join(right, ["date", "ticker"], "left")

    # ---- accessors (utils/data.py order) ----
    def get_universe(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            between(self.catalog.table("universe"), start, end)
            .select("date", "ticker")
            .sort("ticker", "date")
        )

    def get_universe_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("stock_returns", start, end)
            .select("date", "ticker", "return")
            .sort("ticker", "date")
        )

    def get_stock_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            between(self.catalog.table("stock_returns"), start, end)
            .select("date", "ticker", "return")
            .sort("ticker", "date")
        )

    def get_etf_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            between(self.catalog.table("etf_returns"), start, end)
            .select("date", "ticker", "return")
            .sort("ticker", "date")
        )

    def get_alphas(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("alphas", start, end)
            .filter(F.col("alpha").isNotNull())
            .select("date", "ticker", "alpha")
            .sort("ticker", "date")
        )

    def get_benchmark_weights(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("benchmark_weights", start, end)
            .select("date", "ticker", "weight")
            .sort("ticker", "date")
        )

    def get_benchmark_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return between(self.catalog.table("benchmark_returns"), start, end)

    def get_factor_loadings(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("factor_loadings", start, end)
            .filter(F.col("loading").isNotNull())
            .select("date", "ticker", "factor", "loading")
            .sort("ticker", "date")
        )

    def get_factor_covariances(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            between(self.catalog.table("factor_covariances"), start, end)
            .select("date", "factor_1", "factor_2", "covariance")
            .sort("date")
        )

    def get_idio_vol(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("idio_vol", start, end)
            .filter(F.col("idio_vol").isNotNull())
            .select("date", "ticker", "idio_vol")
            .sort("ticker", "date")
        )

    def get_portfolio_weights(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            between(self.catalog.table("portfolio_weights"), start, end)
            .select("date", "ticker", "weight")
            .sort("ticker", "date")
        )

    def get_prices(self, start: dt.date, end: dt.date) -> DataFrame:
        return (
            self._gated("stock_prices", start, end)
            .select("date", "ticker", "close")
            .sort("ticker", "date")
        )

    # ---- SQL surface ----
    def register_views(self) -> list[str]:
        """Expose every catalog table as a temp view for spark.sql.

        The reference has no SQL parser (Polars expressions only);
        Spark gives us one for free — after this, any ANSI SQL over
        the lakehouse tables runs through the same Catalyst plans as
        the DataFrame accessors.
        """
        names = self.catalog.list_tables()
        for t in names:
            self.catalog.table(t).createOrReplaceTempView(t)
        return names

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.catalog.spark.sql(query)

    # ---- calendar accessors (utils/calendar.py) ----
    # Delegated to pipelines/calendar: a parallel re-implementation
    # here had already drifted (it dropped trading_date_range's
    # .distinct(), so duplicate calendar rows — e.g. a read between
    # insert and optimize — returned fewer distinct trailing dates).
    def get_last_market_date(self) -> dt.date:
        return last_market_date(self.catalog.table("calendar"))

    def get_trading_date_range(self, window: int) -> DataFrame:
        return trading_date_range(self.catalog.table("calendar"), window)
