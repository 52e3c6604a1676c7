"""Window & time-series operators (SURVEY.md §2.5).

Every rolling operator here reproduces the reference's *full-window*
semantics: Polars ``rolling_sum/rolling_std(window_size=N)`` and
pandas ``rolling(N, min_periods=N)`` emit null until the window holds
exactly N observations (reference: pipelines/reversal_flow.py:12-29,
pipelines/factor_model_flow.py:94-104,
pipelines/factor_covariances_flow.py:21). Spark window frames happily
aggregate partial windows, so each rolling op pairs the aggregate
with a COUNT gate over the same frame.

All functions are pure DataFrame -> DataFrame, stay JVM-side
(built-in ``pyspark.sql.functions`` only — no Python UDFs), and keep
a single window spec per partition+ordering so Catalyst computes
sibling window functions in one shuffle/sort pass. The exception is
:func:`rolling_std_numpy`, the bit-identical numpy twin of
:func:`rolling_std` that fused per-key kernels call.

Scale notes: a window over ``partitionBy(key)`` shuffles once on
``key``; all window ops sharing (partition, order) reuse that
exchange. Skewed keys are the main 100 TB risk — for per-ticker /
per-user series the per-key row count is bounded (days x 1), so no
salting is needed.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _cols(names: Sequence[str] | str) -> list[str]:
    return [names] if isinstance(names, str) else list(names)


def keyed_window(partition_by: Sequence[str] | str, order_by: Sequence[str] | str) -> WindowSpec:
    return Window.partitionBy(*_cols(partition_by)).orderBy(*_cols(order_by))


def pct_change(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    out_col: str = "pct_change",
    drop_null: bool = True,
    zero_base: str = "inf",
) -> DataFrame:
    """W1 — ``x / lag(x) - 1`` per key, null first row per partition.

    Reference: pipelines/returns_flow.py:13-24 (Polars
    ``pct_change().over("ticker")`` then ``drop_nulls``).

    ``zero_base`` picks the semantics for a zero previous value:
    "inf" (default) matches Polars/IEEE float division (x/0 -> +-inf
    with the SIGN of both operands honored — x/-0.0 flips it, as
    IEEE-754 defines; 0/0 -> NaN; the row survives drop_nulls),
    "null" matches SQL engines (DuckDB x/0 -> NULL; the row is
    dropped) — the oracle-paired query uses "null". Signed-zero
    detection is IEEE division itself, so types without a negative
    zero (int/decimal) take the +zero branch, as they should.
    """
    w = keyed_window(partition_by, order_by)
    prev = F.lag(value_col, 1).over(w)
    if zero_base == "null":
        ratio = F.try_divide(F.col(value_col), prev)
    else:
        x = F.col(value_col)
        # SQL equality folds -0.0 == 0.0 and signum(-0.0) == 0, so the
        # zero's IEEE sign is only recoverable arithmetically:
        # pow(prev, -1) == -inf iff prev is -0.0 (Math.pow — stays in
        # codegen with no string allocation, and unlike `/` it carries
        # no ANSI divide-by-zero guard; atan2 won't do — Spark
        # normalizes its -0.0 operands). Property fuzzing caught the
        # +inf-for-x/-0.0 case.
        zero_sign = F.when(
            F.pow(prev, F.lit(-1.0)) == F.lit(float("-inf")), F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        ratio = F.when(prev != 0, x / prev).when(
            prev == 0,
            F.when(x > 0, zero_sign * F.lit(float("inf")))
            .when(x < 0, zero_sign * F.lit(float("-inf")))
            .otherwise(F.lit(float("nan"))),
        )  # prev NULL (first row) -> NULL
    out = df.withColumn(out_col, ratio - 1)
    return out.filter(F.col(out_col).isNotNull()) if drop_null else out


def _gated(agg: Column, gate_count: Column, window_size: int) -> Column:
    return F.when(gate_count == window_size, agg)


def rolling_sum(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str | Column,
    window_size: int,
    out_col: str = "rolling_sum",
) -> DataFrame:
    """W2 — trailing ``window_size``-row sum, null until full.

    Reference: pipelines/reversal_flow.py:12-29
    (``rolling_sum(21).over("ticker")``).
    """
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    w = keyed_window(partition_by, order_by).rowsBetween(-(window_size - 1), 0)
    return df.withColumn(out_col, _gated(F.sum(col).over(w), F.count(col).over(w), window_size))


def rolling_std(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    window_size: int,
    out_col: str = "rolling_std",
) -> DataFrame:
    """W3 — trailing sample std (ddof=1), null until full.

    Reference: pipelines/factor_model_flow.py:94-104
    (``rolling_std(window_size=252)`` per ticker).
    """
    w = keyed_window(partition_by, order_by).rowsBetween(-(window_size - 1), 0)
    return df.withColumn(
        out_col,
        _gated(F.stddev_samp(value_col).over(w), F.count(value_col).over(w), window_size),
    )


def rolling_std_numpy(x: np.ndarray, window_size: int) -> np.ndarray:
    """:func:`rolling_std` of one date-ordered series, for grouped-map
    kernels; NaN stands for null, as Arrow hands nulls to pandas.

    Bit-identical to the Spark window: a sliding row frame re-aggregates
    each window from its first row with ``stddev_samp``'s update
    (``delta = x - avg; deltaN = delta / n; avg += deltaN;
    m2 += delta * (delta - deltaN)``), here run over all windows at
    once, then ``sqrt(m2 / (n - 1))``. Same gate: null unless all
    ``window_size`` rows are non-null. A two-pass ``np.std(ddof=1)``
    differs in the last ulp on some windows."""
    out = np.full(len(x), np.nan)
    if len(x) < window_size:
        return out
    win = sliding_window_view(x, window_size)
    avg = np.zeros(len(win))
    m2 = np.zeros(len(win))
    for i in range(window_size):
        delta = win[:, i] - avg
        delta_n = delta / (i + 1.0)
        avg += delta_n
        m2 += delta * (delta - delta_n)
    full = ~np.isnan(win).any(axis=1)
    out[window_size - 1 :] = np.where(full, np.sqrt(m2 / (window_size - 1.0)), np.nan)
    return out


def rolling_mean(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    window_size: int,
    out_col: str = "rolling_mean",
) -> DataFrame:
    w = keyed_window(partition_by, order_by).rowsBetween(-(window_size - 1), 0)
    return df.withColumn(
        out_col,
        _gated(F.avg(value_col).over(w), F.count(value_col).over(w), window_size),
    )


def rolling_cov(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    x_col: str,
    y_col: str,
    window_size: int,
    out_col: str = "rolling_cov",
) -> DataFrame:
    """W5 — trailing sample covariance (ddof=1) of two columns.

    Reference: pipelines/factor_covariances_flow.py:11-29 (pandas
    ``rolling(252, min_periods=252).cov()`` on the wide factor-return
    matrix). The K x K pairwise version is built by looping this over
    factor pairs (K=5 -> 15 upper-triangle pairs) on the *pivoted*
    frame — see pipelines/covariances.py.
    """
    w = keyed_window(partition_by, order_by).rowsBetween(-(window_size - 1), 0)
    both = F.when(F.col(x_col).isNotNull() & F.col(y_col).isNotNull(), F.col(x_col))
    return df.withColumn(
        out_col,
        _gated(F.covar_samp(x_col, y_col).over(w), F.count(both).over(w), window_size),
    )


def zscore(
    df: DataFrame,
    value_col: str,
    out_col: str = "zscore",
    partition_by: Sequence[str] | str | None = None,
) -> DataFrame:
    """A5 — ``(x - mean) / std`` with sample std.

    ``partition_by=None`` reproduces the reference's *whole-frame*
    z-score (pipelines/reversal_flow.py:33-43 — the backfill scores
    across all dates at once); passing ``["date"]`` gives the
    cross-sectional per-date variant the daily flow effectively
    computes. An empty ``Window.partitionBy()`` makes Catalyst compute
    the global moments with a single-partition window — fine because
    the moments are two scalars; at 100 TB prefer the agg+crossJoin
    form below which keeps the data path fully parallel.
    """
    if partition_by:
        w = Window.partitionBy(*_cols(partition_by))
        return df.withColumn(
            out_col,
            F.try_divide(F.col(value_col) - F.avg(value_col).over(w), F.stddev_samp(value_col).over(w)),
        )
    # Global moments via scalar aggregate + broadcast cross join: no
    # single-partition window bottleneck, safe at any scale.
    moments = df.agg(
        F.avg(value_col).alias("__mu"), F.stddev_samp(value_col).alias("__sigma")
    )
    return (
        df.crossJoin(F.broadcast(moments))
        .withColumn(out_col, F.try_divide(F.col(value_col) - F.col("__mu"), F.col("__sigma")))
        .drop("__mu", "__sigma")
    )


def partition_count(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    out_col: str = "n",
    method: str = "broadcast-join",
) -> DataFrame:
    """A6/W8 — row count per partition as a column (1/N weights).

    Reference: pipelines/benchmark_flow.py:16
    (``pl.lit(1).truediv(pl.len()).over("date")``).

    Default method aggregates the counts (map-side partial combine)
    and broadcast-joins them back: no full-table sort, and the
    broadcast side is one row per group. The ``"window"`` method is
    the textbook count-over-partition — same values, but WindowExec
    sorts every row by the partition key, which is the slower plan at
    any scale (measured 90ms vs 35ms at sf0.1, and the gap widens
    with data volume).
    """
    keys = _cols(partition_by)
    if method == "window":
        w = Window.partitionBy(*keys)
        return df.withColumn(out_col, F.count(F.lit(1)).over(w))
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out_col))
    return df.join(F.broadcast(counts), keys)


def lag_col(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    n: int = 1,
    out_col: str = "lag",
) -> DataFrame:
    return df.withColumn(
        out_col, F.lag(value_col, n).over(keyed_window(partition_by, order_by))
    )


def rolling_median(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    window_size: int,
    out_col: str = "med",
    method: str = "auto",
    max_sort_window: int = 64,
) -> DataFrame:
    """Gated rolling exact median per key (full windows only).

    Two physical strategies with identical results:

    - ``"sort"``: ``element_at(array_sort(collect_list(x) over w), mid)``
      — pure JVM expression, one shuffle, but O(W log W) work per ROW,
      so it is refused above ``max_sort_window`` (the cost at W=252
      is ~40x the W=21 plan the registry benchmarks).
    - ``"grouped"``: Arrow-batched ``applyInPandas`` per key running
      pandas ``rolling(W).median()`` — an incremental skiplist kernel,
      O(log W) per row, the right plan for large windows. Needs each
      key's full series in one task (bounded for per-user/per-ticker
      series: days x 1), the same contract as the grouped-map
      RollingOLS kernel (rolling_ols.py).

    ``"auto"`` picks sort for W <= max_sort_window, else grouped.
    Both forms handle odd and even windows (even W averages the two
    middle order statistics — pandas' linear interpolation at the
    exact midpoint).
    """
    keys, order = _cols(partition_by), _cols(order_by)
    if method == "auto":
        method = "sort" if window_size <= max_sort_window else "grouped"
    if method == "sort":
        if window_size > max_sort_window:
            raise ValueError(
                f"method='sort' resorts the whole {window_size}-row frame per row "
                f"(O(W log W)); use method='grouped' above max_sort_window="
                f"{max_sort_window}, or raise max_sort_window explicitly"
            )
        w = keyed_window(keys, order).rowsBetween(-(window_size - 1), 0)
        gate = F.count(value_col).over(w) == window_size
        sorted_arr = F.array_sort(F.collect_list(value_col).over(w))
        if window_size % 2 == 1:
            med = F.element_at(sorted_arr, (window_size + 1) // 2)
        else:
            mid = window_size // 2
            med = (
                F.element_at(sorted_arr, mid).cast("double")
                + F.element_at(sorted_arr, mid + 1).cast("double")
            ) / F.lit(2.0)
        return df.withColumn(out_col, F.when(gate, med))

    if method != "grouped":
        raise ValueError(f"method must be auto|sort|grouped, got {method!r}")
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )

    def kernel(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        pdf[out_col] = (
            pdf[value_col].rolling(window_size, min_periods=window_size).median()
        )
        return pdf

    return df.groupBy(*keys).applyInPandas(kernel, out_schema)


def forward_returns(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    horizons: Sequence[int] = (1, 5),
    prefix: str = "fwd_ret_",
) -> DataFrame:
    """Multi-horizon forward returns: lead(x, h)/x - 1 per key.

    The label-generation twin of :func:`pct_change` (reference
    returns_flow.py:13-24 looks backward; training pipelines need the
    forward shift for supervised targets). All horizons share ONE
    window spec, so Catalyst evaluates them in a single sort/exchange
    — adding a horizon adds no shuffle. Tail rows (fewer than h rows
    ahead) are null, as pandas' shift(-h) would produce.
    """
    w = keyed_window(partition_by, order_by)
    out = df
    for h in horizons:
        out = out.withColumn(
            f"{prefix}{h}", F.lead(F.col(value_col), h).over(w) / F.col(value_col) - 1
        )
    return out


def drawdown(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    out_col: str = "drawdown",
    peak_col: str = "running_peak",
) -> DataFrame:
    """Running peak and drawdown (x/cummax(x) - 1) per key.

    One cumulative window (unbounded preceding), no extra shuffle
    beyond the key partition. Division is IEEE-deterministic, so the
    oracle needs no rounding.
    """
    w = keyed_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max(F.col(value_col)).over(w)
    return df.withColumn(peak_col, peak).withColumn(
        out_col, F.col(value_col) / F.col(peak_col) - 1
    )


def forward_fill(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Gap-fill: carry the last non-null observation forward per key.

    ``last(x, ignorenulls=True)`` over an unbounded-preceding row
    frame — the standard Spark forward-fill, one window over the key
    partition (reference upsamples calendars then fills; same shape).
    Leading nulls (no prior observation) stay null.
    """
    w = keyed_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    filled = F.last(F.col(value_col), ignorenulls=True).over(w)
    return df.withColumn(out_col or value_col, filled)


def xsec_rank(
    df: DataFrame,
    group_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    rank_col: str = "rank",
    ntile_col: str | None = "decile",
    buckets: int = 10,
) -> DataFrame:
    """Cross-sectional rank (and quantile bucket) within each group.

    The per-date signal-ranking primitive: rank of each security's
    value across the date's cross-section, plus the ntile bucket
    portfolio construction sorts into. One shuffle on the group key;
    both functions share the window. ``order_by`` should end with a
    unique tiebreak column so ranks are deterministic.
    """
    w = Window.partitionBy(*_cols(group_by)).orderBy(*_cols(order_by))
    out = df.withColumn(rank_col, F.rank().over(w))
    if ntile_col:
        out = out.withColumn(ntile_col, F.ntile(buckets).over(w))
    return out


def winsorize(
    df: DataFrame,
    group_by: Sequence[str] | str,
    value_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Clip values to per-group exact percentile bounds.

    Two-pass shape: a grouped exact-percentile aggregate (map-side
    partial, one shuffle on the group key) produces one tiny bounds
    row per group, broadcast back onto the rows — the fact table is
    never re-shuffled. The cross-sectional outlier-clipping primitive
    quant pipelines run per date before z-scoring; group cardinality
    is dates, so the broadcast side stays driver-small even at 100 TB
    of rows.
    """
    keys = _cols(group_by)
    bounds = df.groupBy(*keys).agg(
        F.percentile(F.col(value_col), F.lit(lower)).alias("__lo"),
        F.percentile(F.col(value_col), F.lit(upper)).alias("__hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    # NULL stays NULL: greatest/least SKIP nulls (SQL semantics), so an
    # ungated clip would fabricate the lower bound for every missing
    # observation — an invented extreme-low data point
    gated = F.when(F.col(value_col).isNotNull(), clipped)
    return (
        df.join(F.broadcast(bounds), keys)
        .withColumn(out_col or value_col, gated)
        .drop("__lo", "__hi")
    )


def rolling_skew_kurt(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    window_size: int,
    skew_col: str = "skew",
    kurt_col: str = "kurt",
) -> DataFrame:
    """Trailing sample skewness + excess kurtosis, null until full window.

    pandas-compatible adjusted estimators (Fisher-Pearson G1, excess
    G2) computed from raw power sums: powers are explicit double
    multiplications (IEEE-identical across engines) summed as decimals
    (order-independent), so a SQL oracle reproducing the same algebra
    matches to the last rounded digit.
    Requires ``window_size >= 4`` (G2's denominator needs n > 3).

    Physical form: RUNNING decimal sums (unbounded-preceding frame —
    O(1) per row in Spark's incremental frame) differenced with
    ``lag(cum, W)``. Decimal subtraction is exact, so this equals the
    framed sum bit-for-bit while avoiding the O(W)-per-row
    re-aggregation a sliding decimal frame costs (measured 6x on the
    sf0.1 events series — a naive form also duplicated every power
    sum inside both the skew and kurt expressions). The count gate
    rides the same trick.

    Tail-risk labeling for return series: skew flags crash asymmetry,
    kurtosis flags fat tails — both standard screens before a
    vol-targeted portfolio construction.
    """
    if window_size < 4:
        raise ValueError("rolling_skew_kurt needs window_size >= 4")
    wo = keyed_window(partition_by, order_by)
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x = F.col(value_col).cast("double")
    pows = [x, x * x, x * x * x, x * x * x * x]
    with_cums = df.select(
        "*",
        *[
            F.sum(p.cast("decimal(38,8)")).over(wcum).alias(f"__c{i}")
            for i, p in enumerate(pows)
        ],
        F.count(value_col).over(wcum).alias("__cn"),
    )
    zero = F.lit(0).cast("decimal(38,8)")
    with_sums = with_cums.select(
        "*",
        *[
            (
                F.col(f"__c{i}")
                - F.coalesce(F.lag(f"__c{i}", window_size).over(wo), zero)
            )
            .cast("double")
            .alias(f"__s{i}")
            for i in range(4)
        ],
        (
            F.col("__cn") - F.coalesce(F.lag("__cn", window_size).over(wo), F.lit(0))
        ).alias("__wn"),
    )
    n = F.lit(float(window_size))
    s1, s2, s3, s4 = (F.col(f"__s{i}") for i in range(4))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    )
    g1 = m3 / F.pow(m2, F.lit(1.5))
    skew = g1 * F.sqrt(n * (n - 1)) / (n - 2)
    g2 = m4 / (m2 * m2) - 3
    kurt = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    gate = F.col("__wn") == window_size
    return (
        with_sums.withColumn(skew_col, F.when(gate, skew))
        .withColumn(kurt_col, F.when(gate, kurt))
        .drop(*[f"__c{i}" for i in range(4)], "__cn", *[f"__s{i}" for i in range(4)], "__wn")
    )


def rsi(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    period: int = 14,
    out_col: str = "rsi",
) -> DataFrame:
    """Relative Strength Index, simple-moving-average variant.

    Cutler's RSI: average gain / average loss over the trailing
    ``period`` price DIFFS (so a full window spans period+1 prices),
    null until full. The classic Wilder recursion is an EWMA — that
    variant belongs to the stateful :mod:`operators.ewma` kernel; the
    SMA form stays a pure window expression (one shuffle, codegen) and
    is SQL-oracle-expressible. All-zero-loss windows pin RSI at 100,
    all-zero-gain at 0 (both by the limit of the formula).

    Physical form: running decimal gain/loss sums differenced with
    ``lag(cum, period)`` — exact (decimal subtraction), O(1) per row,
    same trick as :func:`rolling_skew_kurt`.
    """
    w_ord = keyed_window(partition_by, order_by)
    wcum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diff = F.col(value_col) - F.lag(value_col, 1).over(w_ord)
    with_diff = df.withColumn("__d", diff)

    gain = F.greatest(F.col("__d"), F.lit(0.0))
    loss = F.greatest(-F.col("__d"), F.lit(0.0))
    with_cums = with_diff.select(
        "*",
        F.sum(gain.cast("decimal(38,8)")).over(wcum).alias("__cg"),
        F.sum(loss.cast("decimal(38,8)")).over(wcum).alias("__cl"),
        F.count("__d").over(wcum).alias("__cn"),
    )
    zero = F.lit(0).cast("decimal(38,8)")
    ag = (F.col("__cg") - F.coalesce(F.lag("__cg", period).over(w_ord), zero)).cast(
        "double"
    )
    al = (F.col("__cl") - F.coalesce(F.lag("__cl", period).over(w_ord), zero)).cast(
        "double"
    )
    cnt = F.col("__cn") - F.coalesce(F.lag("__cn", period).over(w_ord), F.lit(0))
    val = (
        F.when(al == 0, F.lit(100.0))
        .otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + ag / al))
    )
    return with_cums.withColumn(out_col, F.when(cnt == period, val)).drop(
        "__d", "__cg", "__cl", "__cn"
    )


def robust_zscore(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    value_col: str,
    out_col: str = "robust_z",
    consistency: float = 0.6744897501960817,
) -> DataFrame:
    """Median/MAD z-score per group — the outlier-immune A5 variant.

    ``0.6745 * (x - median) / MAD`` (MAD = median absolute deviation;
    the consistency constant makes MAD estimate sigma under
    normality). Winsorize/clip pipelines standardize with THIS when
    the raw z-score's own mean/std would be dragged by the outliers
    being hunted.

    Physical shape: per-group exact median (one agg) broadcast back,
    per-group MAD over the deviations (second agg) broadcast back —
    the fact table shuffles zero times; both broadcast sides are one
    row per group. A zero-MAD group (constant values) yields null.
    """
    keys = _cols(partition_by)
    med = df.groupBy(*keys).agg(F.median(value_col).alias("__med"))
    with_med = df.join(F.broadcast(med), keys)
    mad = (
        with_med.groupBy(*keys)
        .agg(F.median(F.abs(F.col(value_col) - F.col("__med"))).alias("__mad"))
    )
    return (
        with_med.join(F.broadcast(mad), keys)
        .withColumn(
            out_col,
            F.lit(consistency)
            * F.try_divide(
                F.col(value_col) - F.col("__med"),
                F.nullif(F.col("__mad"), F.lit(0.0)),
            ),
        )
        .drop("__med", "__mad")
    )
