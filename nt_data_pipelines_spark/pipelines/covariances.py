"""Factor covariances pipeline (reference: factor_covariances_flow.py).

Wide factor-return matrix -> rolling-252 pairwise sample covariance
(all K x K ordered pairs, min_periods = window) -> long format ->
EWMA(60) per (factor_1, factor_2).

The reference does pandas ``rolling(252).cov()`` on a 5-column frame
(factor_covariances_flow.py:11-29). Spark-first: K^2 windowed
``covar_samp`` expressions over ONE window spec — a single shuffle
on nothing (the frame is dates x 5, trivially small) but the same
code path scales to arbitrary K via the generated column list. Rows
where any pair's window is unfilled are dropped (the reference's
``drop_nulls`` on the wide frame, flow line 35).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.config import FACTORS, HALF_LIFE, WINDOW
from nt_data_pipelines_spark.operators.ewma import ewm_mean
from nt_data_pipelines_spark.pipelines.factor_model import pivot_factor_returns


def estimate_factor_covariances(
    etf_returns: DataFrame,
    factors: list[str] = FACTORS,
    window: int = WINDOW,
    half_life: float = HALF_LIFE,
) -> DataFrame:
    """-> (date, factor_1, factor_2, covariance), EWMA-smoothed."""
    factors = sorted(factors)
    wide = pivot_factor_returns(etf_returns, factors)
    # BOUNDED partitionless window: `wide` is one row per trading DATE
    # by construction (pivoted factor returns), so the single-task sort
    # sees ~250 rows/year — thousands of rows at any horizon, never
    # corpus-scale. Whitelisted in the plan-shape sweep
    # (tests/test_plan_shape2.py) for exactly this reason.
    w = Window.orderBy("date").rowsBetween(-(window - 1), 0)

    def gated_pair(f1: str, f2: str):
        # per-pair gate: pandas rolling(min_periods=window).cov() needs
        # `window` pairwise-complete observations — counting only one
        # factor's non-nulls would pass windows with nulls in the other
        both = F.when(F.col(f1).isNotNull() & F.col(f2).isNotNull(), F.lit(1))
        gate = F.count(both).over(w) == window
        return F.when(gate, F.covar_samp(f1, f2).over(w)).alias(f"cov__{f1}__{f2}")

    pair_cols = [gated_pair(f1, f2) for f1 in factors for f2 in factors]
    covs = wide.select("date", *pair_cols).na.drop()
    long = covs.unpivot(
        ids=["date"],
        values=[f"cov__{f1}__{f2}" for f1 in factors for f2 in factors],
        variableColumnName="pair",
        valueColumnName="cov_raw",
    )
    long = long.select(
        "date",
        F.split("pair", "__").getItem(1).alias("factor_1"),
        F.split("pair", "__").getItem(2).alias("factor_2"),
        "cov_raw",
    )
    smoothed = ewm_mean(
        long,
        partition_by=["factor_1", "factor_2"],
        order_by="date",
        value_col="cov_raw",
        half_life=half_life,
        out_col="covariance",
        # pivot first SHRINKS to one row per date, then the k^2-pair
        # unpivot fans out — net rows per scanned return row stay ~1
        # for any ticker universe wider than k^2; k^2 is the hard
        # bound. Deliberately loose (ADVICE r12): a tighter bound
        # needs the universe width, which itself costs a job, so
        # mid-size inputs (leaf bytes within k^2x of the budget) pay
        # one column-pruned count instead — bounded, and cheaper than
        # the job the tighter bound would spend every time.
        scan_fanout=float(len(factors) * len(factors)),
    )
    return smoothed.select("date", "factor_1", "factor_2", "covariance")
