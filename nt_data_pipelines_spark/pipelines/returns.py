"""Returns pipeline (reference: pipelines/returns_flow.py).

stock/etf prices -> daily simple returns: ``close.pct_change() over
ticker`` with the null head dropped (returns_flow.py:13-24). The
reference also materializes the ``year`` partition column here
(returns_flow.py:19); the catalog derives it on insert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nt_data_pipelines_spark.operators.windows import pct_change


def compute_returns(prices: DataFrame) -> DataFrame:
    """(ticker, date, ...) close prices -> (ticker, date, return)."""
    ret = pct_change(prices, "ticker", "date", "close", out_col="return", drop_null=True)
    return ret.select("ticker", "date", "return")
