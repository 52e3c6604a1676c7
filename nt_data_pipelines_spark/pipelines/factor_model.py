"""Factor model pipeline (reference: pipelines/factor_model_flow.py).

stock returns x wide factor returns -> per-ticker rolling-252 OLS
coefficient paths (alpha + 5 betas), residuals, EWMA-smoothed long
loadings, and EWMA-smoothed rolling-252 idio vol.

Faithful semantics:
- tickers with < WINDOW rows are skipped outright
  (factor_model_flow.py:29-39 — their rows never reach the output),
- residual = return - (alpha + sum_f B_f * f_ret)
  (factor_model_flow.py:59-68),
- loadings melt B_<F> -> factor name, then
  ewm_mean(half_life=60).over(ticker, factor)
  (factor_model_flow.py:78-88),
- idio_vol = rolling_std(252) then ewm_mean(60) per ticker, nulls
  from the unfilled window pass through (factor_model_flow.py:94-104).

Spark shape: :func:`fit_factor_model` is the fused kernel the DAG
runs — one grouped-map pass per ticker computes OLS -> residual ->
rolling std -> EWMA of every loading -> EWMA of vol on numpy/pandas
(``_rolling_ols_numpy``, ``rolling_std_numpy``, ``ewm_mean_pandas``),
so nothing between the chained kernels is shuffled or materialized.
:func:`factor_loadings_of` and :func:`idio_vol_of` project its slim
output into the two tables. The composed path —
:func:`estimate_factor_model` (the OLS grouped map) then
:func:`clean_factor_loadings` / :func:`clean_idio_vol` (EWMA grouped
maps and a Spark-window rolling std) — is kept as the independent
oracle the fused kernel must equal bit for bit. The factor pivot is
tiny (dates x 5) and broadcast into the per-ticker join.
"""

from __future__ import annotations

from functools import reduce
from operator import add

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.config import FACTORS, HALF_LIFE, WINDOW
from nt_data_pipelines_spark.operators.ewma import ewm_mean, ewm_mean_pandas
from nt_data_pipelines_spark.operators.rolling_ols import _rolling_ols_numpy, rolling_ols
from nt_data_pipelines_spark.operators.windows import rolling_std, rolling_std_numpy

_LOADING = "loading_"


def pivot_factor_returns(etf_returns: DataFrame, factors: list[str] = FACTORS) -> DataFrame:
    """(ticker, date, return) long -> one column per factor, keyed by date.

    Explicit sorted pivot values: deterministic columns, single pass
    (factor_model_flow.py:18; reference sorts factor keys)."""
    return (
        etf_returns.groupBy("date")
        .pivot("ticker", sorted(factors))
        .agg(F.first("return"))
    )


def estimate_factor_model(
    stock_returns: DataFrame,
    etf_returns: DataFrame,
    factors: list[str] = FACTORS,
    window: int = WINDOW,
) -> DataFrame:
    """Per (ticker, date): return, factor returns, alpha, B_<f>, residual."""
    factors = sorted(factors)
    wide = pivot_factor_returns(etf_returns, factors)
    joined = stock_returns.join(F.broadcast(wide), "date", "left")
    fitted = rolling_ols(
        joined,
        partition_by="ticker",
        order_by="date",
        y_col="return",
        x_cols=factors,
        window=window,
        add_const=True,
        const_name="alpha",
        coef_prefix="B_",
        drop_partial=False,  # keep pre-window rows: loadings EWMA sees the null head
    )
    expected = F.col("alpha") + reduce(
        add, [F.col(f) * F.col(f"B_{f}") for f in factors]
    )
    return fitted.withColumn("residual", F.col("return") - expected)


def clean_factor_loadings(
    fitted: DataFrame, factors: list[str] = FACTORS, half_life: float = HALF_LIFE
) -> DataFrame:
    """Melt B_* to long and EWMA-smooth per (ticker, factor)."""
    factors = sorted(factors)
    long = fitted.select("ticker", "date", *[f"B_{f}" for f in factors]).unpivot(
        ids=["ticker", "date"],
        values=[f"B_{f}" for f in factors],
        variableColumnName="factor",
        valueColumnName="loading_raw",
    )
    long = long.withColumn("factor", F.expr("substring(factor, 3)"))
    smoothed = ewm_mean(
        long,
        partition_by=["ticker", "factor"],
        order_by="date",
        value_col="loading_raw",
        half_life=half_life,
        out_col="loading",
        # unpivot fans out by exactly len(factors); the enrichment
        # joins upstream are 1:1, so this bounds rows-per-scanned-row
        scan_fanout=float(len(factors)),
    )
    return smoothed.select(
        "ticker", "date", F.year("date").cast("int").alias("year"), "factor", "loading"
    )


def clean_idio_vol(fitted: DataFrame, window: int = WINDOW, half_life: float = HALF_LIFE) -> DataFrame:
    """residual -> rolling-``window`` std -> EWMA(60) per ticker."""
    vol = rolling_std(
        fitted.select("ticker", "date", "residual"),
        "ticker",
        "date",
        "residual",
        window,
        out_col="vol_raw",
    )
    smoothed = ewm_mean(
        vol,
        partition_by="ticker",
        order_by="date",
        value_col="vol_raw",
        half_life=half_life,
        out_col="idio_vol",
        # fitted's lineage joins are 1:1 per (ticker, date)
        scan_fanout=1.0,
    )
    return smoothed.select(
        "ticker", "date", F.year("date").cast("int").alias("year"), "idio_vol"
    )


def fit_factor_model(
    stock_returns: DataFrame,
    etf_returns: DataFrame,
    factors: list[str] = FACTORS,
    window: int = WINDOW,
    half_life: float = HALF_LIFE,
) -> DataFrame:
    """Per (ticker, date): ``loading_<F>`` per factor and ``idio_vol``,
    from ONE grouped map per ticker.

    Equal, bit for bit, to :func:`estimate_factor_model` followed by
    :func:`clean_factor_loadings` / :func:`clean_idio_vol`: same input
    join, same OLS (``_rolling_ols_numpy``), the residual in the
    association order of the Spark expression, the Welford order of
    Spark's ``stddev_samp`` (``rolling_std_numpy``) and the same pandas
    EWMA (``ewm_mean_pandas``). Tickers with fewer than ``window`` rows
    are skipped; a qualifying ticker keeps its null pre-window head."""
    factors = sorted(factors)
    wide = pivot_factor_returns(etf_returns, factors)
    joined = stock_returns.select("ticker", "date", "return").join(
        F.broadcast(wide), "date", "left"
    )
    out_cols = [_LOADING + f for f in factors] + ["idio_vol"]
    schema = T.StructType(
        [joined.schema["ticker"], joined.schema["date"]]
        + [T.StructField(c, T.DoubleType()) for c in out_cols]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date", kind="mergesort").reset_index(drop=True)
        if len(pdf) < window:
            # short tickers vanish; a slice (not pd.DataFrame({})) keeps
            # the column dtypes Arrow's date cast needs
            pdf = pdf.iloc[0:0]
        y = pdf["return"].to_numpy(dtype=np.float64)
        fx = pdf[factors].to_numpy(dtype=np.float64)
        coefs = _rolling_ols_numpy(y, np.column_stack([np.ones(len(pdf)), fx]), window)
        betas = coefs[:, 1:]
        # return - (alpha + ((f1*B1 + f2*B2) + ...)), as estimate_factor_model
        expected = coefs[:, 0] + reduce(add, [fx[:, i] * betas[:, i] for i in range(len(factors))])
        vol = rolling_std_numpy(y - expected, window)
        out = pdf[["ticker", "date"]].copy()
        for i, f in enumerate(factors):
            out[_LOADING + f] = ewm_mean_pandas(pd.Series(betas[:, i]), half_life).to_numpy()
        out["idio_vol"] = ewm_mean_pandas(pd.Series(vol), half_life).to_numpy()
        return out

    return joined.groupBy("ticker").applyInPandas(fit, schema=schema)


def factor_loadings_of(fit: DataFrame, factors: list[str] = FACTORS) -> DataFrame:
    """The ``factor_loadings`` rows of :func:`fit_factor_model`'s output."""
    long = fit.unpivot(
        ids=["ticker", "date"],
        values=[_LOADING + f for f in sorted(factors)],
        variableColumnName="factor",
        valueColumnName="loading",
    )
    return long.select(
        "ticker",
        "date",
        F.year("date").cast("int").alias("year"),
        F.expr(f"substring(factor, {len(_LOADING) + 1})").alias("factor"),
        "loading",
    )


def idio_vol_of(fit: DataFrame) -> DataFrame:
    """The ``idio_vol`` rows of :func:`fit_factor_model`'s output."""
    return fit.select("ticker", "date", F.year("date").cast("int").alias("year"), "idio_vol")
