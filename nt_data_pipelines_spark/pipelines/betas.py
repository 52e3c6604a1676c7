"""Benchmark-beta pipeline (reference: pipelines/betas_flow.py).

Per ticker: rolling-252 OLS of stock return on [const, benchmark
return]; historical_beta = raw coefficient path (nulls dropped),
predicted_beta = EWMA(half-life 60) of it (betas_flow.py:24-73).
Tickers with < window rows are skipped (betas_flow.py:30-31).

Spark shape: one grouped-map pass per ticker runs the OLS
(``_rolling_ols_numpy``), drops the null betas and smooths the rest
(``ewm_mean_pandas``) — bit-identical to ``rolling_ols`` -> filter ->
``ewm_mean``, without the second shuffle between them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.config import HALF_LIFE, WINDOW
from nt_data_pipelines_spark.operators.ewma import ewm_mean_pandas
from nt_data_pipelines_spark.operators.rolling_ols import _rolling_ols_numpy


def estimate_betas(
    stock_returns: DataFrame,
    benchmark_returns: DataFrame,
    window: int = WINDOW,
    half_life: float = HALF_LIFE,
) -> DataFrame:
    joined = stock_returns.select("ticker", "date", "return").join(
        F.broadcast(benchmark_returns.withColumnRenamed("return", "benchmark_return")),
        "date",
        "left",
    )
    schema = T.StructType(
        [joined.schema["ticker"], joined.schema["date"]]
        + [T.StructField(c, T.DoubleType()) for c in ("historical_beta", "predicted_beta")]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date", kind="mergesort").reset_index(drop=True)
        if len(pdf) < window:
            pdf = pdf.iloc[0:0]  # short tickers vanish; the slice keeps dtypes
        x = pdf["benchmark_return"].to_numpy(dtype=np.float64)
        y = pdf["return"].to_numpy(dtype=np.float64)
        beta = _rolling_ols_numpy(y, np.column_stack([np.ones(len(pdf)), x]), window)[:, 1]
        keep = ~np.isnan(beta)
        out = pdf.loc[keep, ["ticker", "date"]]
        out["historical_beta"] = beta[keep]
        out["predicted_beta"] = ewm_mean_pandas(pd.Series(beta[keep]), half_life).to_numpy()
        return out

    return joined.groupBy("ticker").applyInPandas(fit, schema=schema)
