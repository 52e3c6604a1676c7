"""Reversal signal pipeline (reference: pipelines/reversal_flow.py).

signals: value = -1 * rolling_sum(log1p(return), 21) per ticker,
         null head dropped (reversal_flow.py:12-29)
scores:  whole-frame z-score of value (sample std) — global, exactly
         as the backfill computes it (reversal_flow.py:33-43; the
         daily flow is per-date only because its input is one date)
alphas:  IC * score * idio_vol after a left join on (ticker, date)
         (reversal_flow.py:47-62)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nt_data_pipelines_spark.config import IC
from nt_data_pipelines_spark.operators.windows import rolling_sum, zscore

SIGNAL_NAME = "reversal"
REVERSAL_WINDOW = 21


def calculate_signals(
    stock_returns: DataFrame,
    signal_name: str = SIGNAL_NAME,
    window: int = REVERSAL_WINDOW,
) -> DataFrame:
    # Spark log1p(-1) returns NULL, which the full-window count gate
    # would silently drop; Polars yields -inf, which survives the
    # reference's drop_nulls and produces an inf signal
    # (reversal_flow.py:33-43). Map the -100%-return case explicitly
    # so a ticker whose price hits zero matches the reference.
    # (return < -1 cannot occur for simple returns.)
    log_ret = F.when(
        F.col("return") == -1, F.lit(float("-inf"))
    ).otherwise(F.log1p(F.col("return")))
    sig = rolling_sum(
        stock_returns,
        "ticker",
        "date",
        log_ret,
        window,
        out_col="_rsum",
    )
    return sig.filter(F.col("_rsum").isNotNull()).select(
        "ticker",
        "date",
        F.lit(signal_name).alias("signal"),
        (F.col("_rsum") * -1).alias("value"),
    )


def calculate_scores(signals: DataFrame, signal_name: str = SIGNAL_NAME) -> DataFrame:
    scored = zscore(signals, "value", out_col="score", partition_by=None)
    return scored.select("ticker", "date", F.lit(signal_name).alias("signal"), "score")


def calculate_alphas(
    scores: DataFrame, idio_vol: DataFrame, signal_name: str = SIGNAL_NAME
) -> DataFrame:
    joined = scores.join(
        idio_vol.select("ticker", "date", "idio_vol"), ["ticker", "date"], "left"
    )
    return joined.select(
        "ticker",
        "date",
        F.lit(signal_name).alias("signal"),
        (F.lit(IC) * F.col("score") * F.col("idio_vol")).alias("alpha"),
    )
