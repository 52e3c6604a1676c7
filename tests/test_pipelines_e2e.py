"""End-to-end pipeline test on the Family-B synthetic fixtures.

prices -> returns -> factor model -> covariances -> reversal ->
benchmark -> portfolio weights, with the FIXTURES.md edge cases:
short ticker skipped by rolling ops, ghost ticker dropped by the
universe gate, weights long-only and fully invested.

Window sizes are scaled down (WINDOW=120) so the fixture
yields plenty of post-window dates while testing the same gating
logic as the production 252.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.config import FACTORS
from nt_data_pipelines_spark.operators.ewma import ewm_mean
from nt_data_pipelines_spark.operators.rolling_ols import rolling_ols
from nt_data_pipelines_spark.pipelines import (
    calculate_alphas,
    calculate_benchmark_returns,
    calculate_benchmark_weights,
    calculate_scores,
    calculate_signals,
    compute_portfolio_weights,
    compute_returns,
    estimate_factor_model,
)
from nt_data_pipelines_spark.pipelines.betas import estimate_betas
from nt_data_pipelines_spark.pipelines.covariances import estimate_factor_covariances
from nt_data_pipelines_spark.pipelines.factor_model import (
    clean_factor_loadings,
    clean_idio_vol,
    factor_loadings_of,
    fit_factor_model,
    idio_vol_of,
)
from nt_data_pipelines_spark.sources import synthetic as S

WINDOW = 120  # > short ticker's 99 returns, so the skip path triggers
N_DAYS = 300  # >= 2*WINDOW so idio_vol (rolling std of residuals) materializes


@pytest.fixture(scope="module")
def data(spark):
    prices = S.load_stock_prices(spark, N_DAYS).cache()
    etf = S.load_etf_prices(spark, N_DAYS).cache()
    uni = S.load_universe(spark, N_DAYS).cache()
    return prices, etf, uni


@pytest.fixture(scope="module")
def returns(data):
    prices, etf, _ = data
    return compute_returns(prices).cache(), compute_returns(etf).cache()


def test_returns_shape(returns):
    stock_ret, _ = returns
    # pct_change drops exactly one row (the head) per ticker
    per = stock_ret.groupBy("ticker").count().collect()
    counts = {r["ticker"]: r["count"] for r in per}
    assert counts[S.GHOST_TICKER] == N_DAYS - 1
    assert counts[S.SHORT_TICKER] == 100 - 1


def test_universe_gate_drops_ghost(data, returns):
    _, _, uni = data
    stock_ret, _ = returns
    gated = uni.join(stock_ret, ["date", "ticker"], "left").filter(
        F.col("return").isNotNull()
    )
    assert gated.filter(F.col("ticker") == S.GHOST_TICKER).count() == 0
    # exit/enter tickers flip membership at the midpoint
    half_dates = uni.select("date").distinct().count() // 2
    exit_days = gated.filter(F.col("ticker") == S.EXIT_TICKER).count()
    assert 0 < exit_days <= half_dates


def test_factor_model_and_downstream(spark, returns):
    stock_ret, etf_ret = returns
    fitted = estimate_factor_model(stock_ret, etf_ret, FACTORS, window=WINDOW).cache()

    # short ticker dropped entirely (reference skips keys < window)
    short = fitted.filter(F.col("ticker") == S.SHORT_TICKER)
    assert short.count() == 0
    full = fitted.filter((F.col("ticker") == "T00") & F.col("alpha").isNotNull())
    assert full.count() == (N_DAYS - 1) - WINDOW + 1

    # residual identity: return == alpha + sum(B_f * f) + residual
    row = full.orderBy(F.desc("date")).first()
    recon = row["alpha"] + sum(row[f"B_{f}"] * row[f] for f in FACTORS) + row["residual"]
    assert recon == pytest.approx(row["return"], rel=1e-9)

    loadings = clean_factor_loadings(fitted, FACTORS, half_life=20).cache()
    assert loadings.filter(F.col("loading").isNotNull()).count() > 0
    idio = clean_idio_vol(fitted, window=WINDOW, half_life=20).cache()
    pos = idio.filter(F.col("idio_vol").isNotNull())
    assert pos.filter(F.col("idio_vol") <= 0).count() == 0

    # reversal chain
    signals = calculate_signals(stock_ret)
    scores = calculate_scores(signals)
    zs = [r["score"] for r in scores.collect()]
    assert np.mean(zs) == pytest.approx(0.0, abs=1e-9)
    assert np.std(zs, ddof=1) == pytest.approx(1.0, rel=1e-9)
    alphas = calculate_alphas(scores, idio).filter(F.col("alpha").isNotNull()).cache()
    assert alphas.count() > 0


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_fused_factor_model_equals_composed_path(returns):
    """The DAG's fused per-ticker kernel writes exactly what the
    composed oracle (OLS grouped map, Spark-window rolling std, EWMA
    grouped maps) writes: no tolerance, nulls in the same places."""
    stock_ret, etf_ret = returns
    hole = stock_ret.filter(F.col("ticker") == "T01").orderBy("date").collect()[WINDOW + 80]
    stock_ret = stock_ret.withColumn(
        "return",
        F.when(
            (F.col("ticker") == "T01") & (F.col("date") == F.lit(hole["date"])), None
        ).otherwise(F.col("return")),
    )
    fitted = estimate_factor_model(stock_ret, etf_ret, FACTORS, window=WINDOW)
    fit = fit_factor_model(stock_ret, etf_ret, FACTORS, WINDOW, half_life=20).cache()
    loadings = _rows(factor_loadings_of(fit, FACTORS))
    idio = _rows(idio_vol_of(fit))
    assert loadings == _rows(clean_factor_loadings(fitted, FACTORS, half_life=20))
    assert idio == _rows(clean_idio_vol(fitted, window=WINDOW, half_life=20))
    # the cases the equality covers: the short ticker is skipped, and a
    # full ticker keeps its null pre-window head (rows sort by date)
    assert S.SHORT_TICKER not in {r[0] for r in idio}
    t00 = [r[-1] for r in idio if r[0] == "T00"]
    assert len(t00) == N_DAYS - 1
    assert t00[2 * WINDOW - 3] is None and t00[2 * WINDOW - 2] is not None
    spy = [r[-1] for r in loadings if r[0] == "T00" and r[3] == "SPY"]
    assert spy[WINDOW - 2] is None and spy[WINDOW - 1] is not None
    assert (hole["ticker"], hole["date"]) in {(r[0], r[1]) for r in idio}


def test_fused_betas_equal_composed_path(data, returns):
    """``estimate_betas``' one kernel per ticker equals the composition
    it fuses: rolling OLS, drop the null betas, EWMA per ticker."""
    _, _, uni = data
    stock_ret, _ = returns
    uni_ret = uni.join(
        stock_ret.select("date", "ticker", "return"), ["date", "ticker"], "left"
    ).filter(F.col("return").isNotNull())
    bret = calculate_benchmark_returns(uni_ret, calculate_benchmark_weights(uni_ret)).cache()
    joined = stock_ret.join(
        F.broadcast(bret.withColumnRenamed("return", "benchmark_return")), "date", "left"
    )
    fitted = rolling_ols(
        joined,
        partition_by="ticker",
        order_by="date",
        y_col="return",
        x_cols=["benchmark_return"],
        window=WINDOW,
        const_name="alpha",
        coef_prefix="beta_",
        drop_partial=True,
    )
    raw = fitted.filter(F.col("beta_benchmark_return").isNotNull()).select(
        "ticker", "date", F.col("beta_benchmark_return").alias("historical_beta")
    )
    composed = ewm_mean(
        raw, "ticker", "date", "historical_beta", half_life=20, out_col="predicted_beta",
        scan_fanout=1.0,
    ).select(
        "ticker", "date", F.year("date").cast("int").alias("year"),
        "historical_beta", "predicted_beta",
    )
    got = _rows(estimate_betas(stock_ret, bret, window=WINDOW, half_life=20))
    assert got == _rows(composed)
    assert S.SHORT_TICKER not in {r[0] for r in got}
    assert len([r for r in got if r[0] == "T00"]) == (N_DAYS - 1) - WINDOW + 1


def test_covariances_symmetric_full_grid(returns):
    _, etf_ret = returns
    covs = estimate_factor_covariances(etf_ret, FACTORS, window=WINDOW, half_life=20).cache()
    k = len(FACTORS)
    per_date = covs.groupBy("date").count().select("count").distinct().collect()
    assert [r["count"] for r in per_date] == [k * k]
    # symmetry of the *raw* pairs survives EWMA (same pair series mirrored)
    a = covs.filter((F.col("factor_1") == "MTUM") & (F.col("factor_2") == "SPY"))
    b = covs.filter((F.col("factor_1") == "SPY") & (F.col("factor_2") == "MTUM"))
    ja = {r["date"]: r["covariance"] for r in a.collect()}
    jb = {r["date"]: r["covariance"] for r in b.collect()}
    assert all(ja[d] == pytest.approx(jb[d], rel=1e-12) for d in ja)


def test_benchmark_equal_weight(data, returns):
    _, _, uni = data
    stock_ret, _ = returns
    uni_ret = uni.join(stock_ret.select("date", "ticker", "return"), ["date", "ticker"], "left").filter(
        F.col("return").isNotNull()
    )
    weights = calculate_benchmark_weights(uni_ret)
    sums = weights.groupBy("date").agg(F.sum("weight").alias("s")).collect()
    assert all(r["s"] == pytest.approx(1.0, rel=1e-9) for r in sums)
    bret = calculate_benchmark_returns(uni_ret, weights)
    assert bret.filter(F.col("return").isNull()).count() == 0


def test_betas_pipeline(data, returns):
    _, _, uni = data
    stock_ret, _ = returns
    uni_ret = uni.join(stock_ret.select("date", "ticker", "return"), ["date", "ticker"], "left").filter(
        F.col("return").isNotNull()
    )
    weights = calculate_benchmark_weights(uni_ret)
    bret = calculate_benchmark_returns(uni_ret, weights)
    betas = estimate_betas(stock_ret, bret, window=WINDOW, half_life=20)
    got = betas.cache()
    assert got.filter(F.col("ticker") == S.SHORT_TICKER).count() == 0
    # betas of a diversified market ~ spread around 1
    avg = got.agg(F.avg("predicted_beta")).first()[0]
    assert 0.2 < avg < 2.0


def test_portfolio_weights_end_to_end(spark, data, returns):
    _, _, uni = data
    stock_ret, etf_ret = returns
    fitted = estimate_factor_model(stock_ret, etf_ret, FACTORS, window=WINDOW)
    loadings = clean_factor_loadings(fitted, FACTORS, half_life=20)
    idio = clean_idio_vol(fitted, window=WINDOW, half_life=20)
    covs = estimate_factor_covariances(etf_ret, FACTORS, window=WINDOW, half_life=20)
    signals = calculate_signals(stock_ret)
    scores = calculate_scores(signals)
    alphas = calculate_alphas(scores, idio)

    uni_ret = uni.join(stock_ret.select("date", "ticker", "return"), ["date", "ticker"], "left").filter(
        F.col("return").isNotNull()
    )
    bweights = calculate_benchmark_weights(uni_ret)

    last_dates = [r["date"] for r in covs.select("date").distinct().orderBy(F.desc("date")).limit(2).collect()]
    sliced = F.col("date").isin(last_dates)
    weights = compute_portfolio_weights(
        alphas.filter(sliced),
        bweights.filter(sliced),
        loadings.filter(sliced),
        covs.filter(sliced),
        idio.filter(sliced),
        FACTORS,
    ).cache()
    assert weights.count() > 0
    sums = weights.groupBy("date").agg(F.sum("weight").alias("s")).collect()
    assert all(r["s"] == pytest.approx(1.0, abs=1e-6) for r in sums)
    assert weights.filter(F.col("weight") < -1e-9).count() == 0
    assert weights.filter(F.col("lambda") <= 0).count() == 0


def test_ewma_of_constant_is_constant(spark):
    import pandas as pd

    pdf = pd.DataFrame({"k": "a", "t": range(50), "x": 3.14})
    out = ewm_mean(spark.createDataFrame(pdf), "k", "t", "x", 10.0, out_col="e").collect()
    assert all(r["e"] == pytest.approx(3.14, rel=1e-12) for r in out)


def test_reversal_total_loss_return_matches_polars_inf(spark):
    """A -100% return maps to -inf log-return (Polars log1p parity):
    windows containing it emit an inf signal row instead of being
    silently dropped by the null gate."""
    import numpy as np
    import pandas as pd

    dates = pd.date_range("2024-01-01", periods=25).date
    pdf = pd.DataFrame(
        {
            "ticker": "Z",
            "date": dates,
            "return": [0.01] * 10 + [-1.0] + [0.01] * 14,
        }
    )
    sig = calculate_signals(spark.createDataFrame(pdf), window=21).toPandas()
    # every 21-row window over 25 rows contains the -1 at position 10
    assert len(sig) == 5
    assert np.isinf(sig["value"]).all() and (sig["value"] > 0).all()
