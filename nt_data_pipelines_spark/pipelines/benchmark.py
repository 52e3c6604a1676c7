"""Equal-weight benchmark pipeline (reference: pipelines/benchmark_flow.py).

weights: 1/N per date over the universe-gated returns
         (benchmark_flow.py:11-18)
returns: weighted sum per date after re-joining the returns
         (benchmark_flow.py:21-31)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nt_data_pipelines_spark.operators.windows import partition_count


def calculate_benchmark_weights(universe_returns: DataFrame) -> DataFrame:
    counted = partition_count(universe_returns, "date", out_col="_n")
    return counted.select("ticker", "date", (F.lit(1.0) / F.col("_n")).alias("weight"))


def calculate_benchmark_returns(
    universe_returns: DataFrame, benchmark_weights: DataFrame
) -> DataFrame:
    joined = benchmark_weights.join(
        universe_returns.select("date", "ticker", "return"), ["date", "ticker"], "left"
    )
    return joined.groupBy("date").agg(F.sum(F.col("return") * F.col("weight")).alias("return"))
