"""The engine's public query surface (reference: pipelines/utils/data.py).

An ``Engine`` wraps a :class:`~nt_data_pipelines_spark.catalog.Catalog`
and reproduces every reference accessor with identical semantics
(utils/data.py:10-142, utils/calendar.py:8-19):

- universe-gated accessors LEFT JOIN through the point-in-time
  universe on (date, ticker) — only in-universe rows survive,
- date ranges are inclusive on both ends (Polars ``is_between``),
- measure accessors that smooth (alphas, loadings, idio vol) drop
  null measures after the gate,
- results come back sorted ("ticker", "date") like the reference
  (covariances and benchmark returns by "date").

A user of the reference switches by replacing ``get_X(start, end)``
calls with ``engine.get_X(start, end)`` — same names, same columns,
same rows.

Each range accessor is one :class:`Read` spec run by one of two
paths. A read whose tables :meth:`Catalog.read_arrow` serves (a
local lake, at most ``Catalog._ARROW_READ_MAX_BYTES`` of parquet
opened) is answered on the driver with ``pyarrow``: the result is an
eager snapshot of the tables at call time, wrapped as a DataFrame with
the declared column types. Any other read is a lazy Spark plan, which
is also the oracle the Arrow path is tested against. Either way the
caller gets a DataFrame with the same rows, columns and types.
"""

from __future__ import annotations

import datetime as dt
import re
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines.calendar import between, last_market_date, trading_date_range


class Read(NamedTuple):
    """One range accessor: what both read paths read and how."""

    table: str
    cols: tuple[str, ...]  # output columns, in order
    keys: tuple[str, ...] = ("ticker", "date")  # sort keys, ascending
    gated: bool = False  # left join of the universe onto ``table``
    notnull: str | None = None  # drop rows where this column is null


_DT = ("date", "ticker")

# accessor name -> spec, in utils/data.py order
READS: dict[str, Read] = {
    "get_universe": Read("universe", _DT),
    "get_universe_returns": Read("stock_returns", _DT + ("return",), gated=True),
    "get_stock_returns": Read("stock_returns", _DT + ("return",)),
    "get_etf_returns": Read("etf_returns", _DT + ("return",)),
    "get_alphas": Read("alphas", _DT + ("alpha",), gated=True, notnull="alpha"),
    "get_benchmark_weights": Read("benchmark_weights", _DT + ("weight",), gated=True),
    "get_benchmark_returns": Read("benchmark_returns", ("date", "return"), keys=("date",)),
    "get_factor_loadings": Read(
        "factor_loadings", _DT + ("factor", "loading"), gated=True, notnull="loading"
    ),
    "get_factor_covariances": Read(
        "factor_covariances", ("date", "factor_1", "factor_2", "covariance"), keys=("date",)
    ),
    "get_idio_vol": Read("idio_vol", _DT + ("idio_vol",), gated=True, notnull="idio_vol"),
    "get_portfolio_weights": Read("portfolio_weights", _DT + ("weight",)),
    "get_prices": Read("stock_prices", _DT + ("close",), gated=True),
}


class Engine:
    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    # ---- the two read paths ----
    def _spark_read(self, spec: Read, start: dt.date, end: dt.date) -> DataFrame:
        """The accessor as a lazy Spark plan."""
        df = between(self.catalog.table(spec.table), start, end)
        if spec.gated:
            # Prune BOTH sides before the join, never after: the right
            # table carries a `year` partition column, and a post-join
            # `year BETWEEN` would drop unmatched universe rows (their
            # year is NULL), silently turning the reference's left join
            # into an inner one (utils/data.py keeps those rows with
            # null measures). Pruning the right side pre-join is
            # semantics-preserving — out-of-range rows cannot match an
            # in-range universe key — and keeps PartitionFilters on
            # both scans. No post-join filter is needed: the joined
            # `date` is the universe's, already range-bound.
            universe = between(self.catalog.table("universe"), start, end)
            df = universe.select(*_DT).join(df, list(_DT), "left")
        if spec.notnull:
            df = df.filter(F.col(spec.notnull).isNotNull())
        return df.select(*spec.cols).sort(*spec.keys)

    def _arrow_read(self, spec: Read, start: dt.date, end: dt.date) -> pa.Table | None:
        """The accessor's rows read on the driver, or None when a table
        it reads is not eligible for :meth:`Catalog.read_arrow`. Same
        semantics as :meth:`_spark_read`: both sides pruned before the
        gate's left join, ``is_valid`` keeps NaN as ``isNotNull``
        does, and nulls sort first as in Spark's ascending sort."""
        table = self._arrow_scan(spec.table, spec.cols, start, end)
        if table is None:
            return None
        if spec.gated:
            universe = self._arrow_scan("universe", _DT, start, end)
            if universe is None:
                return None
            table = universe.join(table, list(_DT), join_type="left outer")
        if spec.notnull:
            table = table.filter(pc.is_valid(table[spec.notnull]))
        return table.select(list(spec.cols)).sort_by(
            [(k, "ascending") for k in spec.keys], null_placement="at_start"
        )

    def _arrow_scan(self, name: str, cols, start: dt.date, end: dt.date) -> pa.Table | None:
        # the inclusive range plus the year bound `between` states
        preds = {"date": ("between", start, end)}
        if "year" in self.catalog._meta(name).struct.names:
            preds["year"] = ("between", start.year, end.year)
        return self.catalog.read_arrow(name, list(cols), **preds)

    def _read(self, spec: Read, start: dt.date, end: dt.date) -> DataFrame:
        table = self._arrow_read(spec, start, end)
        if table is None:
            return self._spark_read(spec, start, end)
        declared = self.catalog._meta(spec.table).struct
        # nullable like every column of a Spark file scan
        schema = T.StructType([T.StructField(c, declared[c].dataType) for c in spec.cols])
        return self.catalog.spark.createDataFrame(table, schema=schema)

    # ---- accessors (utils/data.py order) ----
    def get_universe(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_universe"], start, end)

    def get_universe_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_universe_returns"], start, end)

    def get_stock_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_stock_returns"], start, end)

    def get_etf_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_etf_returns"], start, end)

    def get_alphas(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_alphas"], start, end)

    def get_benchmark_weights(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_benchmark_weights"], start, end)

    def get_benchmark_returns(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_benchmark_returns"], start, end)

    def get_factor_loadings(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_factor_loadings"], start, end)

    def get_factor_covariances(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_factor_covariances"], start, end)

    def get_idio_vol(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_idio_vol"], start, end)

    def get_portfolio_weights(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_portfolio_weights"], start, end)

    def get_prices(self, start: dt.date, end: dt.date) -> DataFrame:
        return self._read(READS["get_prices"], start, end)

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
        """Run ``query`` over the catalog's tables. Only the tables the
        query names are resolved: each catalog table whose name is a
        word of the query, case-insensitively as Spark identifiers
        are, gets a fresh view. A spurious match only registers an
        extra view, and a table the query reads always gets a fresh
        one, so an older call's view is never read stale."""
        words = {w.lower() for w in re.findall(r"\w+", query)}
        for t in self.catalog.list_tables():
            if t.lower() in words:
                self.catalog.table(t).createOrReplaceTempView(t)
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
