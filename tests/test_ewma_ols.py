"""Golden tests for the applyInPandas kernels (W4 EWMA, W6 rolling OLS).

statsmodels/polars are not in this container; goldens are the pandas
``ewm`` (the semantics Polars ewm_mean(adjust=True) matches) and a
direct numpy lstsq per window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.operators.ewma import ewm_mean
from nt_data_pipelines_spark.operators.rolling_ols import _rolling_ols_numpy, rolling_ols


@pytest.fixture(scope="module")
def keyed_pdf():
    rng = np.random.RandomState(7)
    frames = []
    for k in ("a", "b", "c"):
        n = 120
        frames.append(
            pd.DataFrame(
                {"k": k, "t": np.arange(n), "x": rng.normal(0, 1, n).cumsum()}
            )
        )
    return pd.concat(frames, ignore_index=True)


def test_ewma_matches_pandas(spark, keyed_pdf):
    df = spark.createDataFrame(keyed_pdf)
    got = (
        ewm_mean(df, "k", "t", "x", half_life=60.0, out_col="e")
        .orderBy("k", "t")
        .toPandas()
    )
    want = (
        keyed_pdf.sort_values(["k", "t"])
        .groupby("k")["x"]
        .transform(lambda s: s.ewm(halflife=60, adjust=True).mean())
    )
    np.testing.assert_allclose(got["e"].to_numpy(), want.to_numpy(), rtol=1e-12)


def test_ewma_closed_form_small():
    """y_t = sum (1-a)^i x_{t-i} / sum (1-a)^i with a = 1 - 0.5^(1/hl)."""
    s = pd.Series([1.0, 2.0, 3.0])
    hl = 2.0
    alpha = 1 - 0.5 ** (1 / hl)
    got = s.ewm(halflife=hl, adjust=True).mean()
    w = (1 - alpha) ** np.arange(2, -1, -1)
    assert got.iloc[2] == pytest.approx(np.dot(w, s) / w.sum())


def test_ewma_leading_nulls_pass_through(spark):
    pdf = pd.DataFrame({"k": "a", "t": range(5), "x": [None, None, 1.0, 2.0, 3.0]})
    got = ewm_mean(spark.createDataFrame(pdf), "k", "t", "x", 60.0, out_col="e").orderBy("t").collect()
    assert got[0]["e"] is None and got[1]["e"] is None
    assert got[2]["e"] == pytest.approx(1.0)


def test_ewma_bucketed_groups_never_cross(spark):
    """The kernel coarsens key groups into hash buckets; with far more
    groups than buckets every bucket frame holds MANY groups, and the
    groupby.ewm result must realign by row label (caught live: group
    order inside the Arrow worker mismatched frame order, blending
    series across groups)."""
    rng = np.random.RandomState(23)
    n, g = 4000, 40  # 40 groups >> the test session's 4 shuffle partitions
    pdf = pd.DataFrame(
        {"k": rng.randint(0, g, n), "t": np.arange(n), "x": rng.normal(size=n)}
    )
    got = (
        ewm_mean(spark.createDataFrame(pdf), "k", "t", "x", 15.0, out_col="e")
        .orderBy("k", "t")
        .toPandas()
    )
    want = (
        pdf.sort_values(["k", "t"])
        .groupby("k")["x"]
        .transform(lambda s: s.ewm(halflife=15, adjust=True).mean())
    )
    np.testing.assert_allclose(got["e"].to_numpy(), want.to_numpy(), rtol=1e-12)


def test_rolling_ols_numpy_matches_lstsq():
    rng = np.random.RandomState(11)
    n, k, w = 80, 3, 30
    X = np.column_stack([np.ones(n), rng.normal(size=(n, k - 1))])
    y = X @ np.array([0.5, 1.5, -2.0]) + rng.normal(0, 0.1, n)
    got = _rolling_ols_numpy(y, X, w)
    assert np.isnan(got[: w - 1]).all()
    for t in (w - 1, n // 2, n - 1):
        want, *_ = np.linalg.lstsq(X[t - w + 1 : t + 1], y[t - w + 1 : t + 1], rcond=None)
        np.testing.assert_allclose(got[t], want, rtol=1e-8)


def test_rolling_ols_missing_drop_semantics():
    # statsmodels RollingOLS(missing='drop'): a non-finite row is
    # dropped from the fit, the window still estimates from the valid
    # subset. min_valid=window restores the strict NULL behavior.
    rng = np.random.RandomState(17)
    n, w = 40, 20
    X = np.column_stack([np.ones(n), rng.normal(size=n)])
    beta = np.array([0.5, 2.0])
    y = X @ beta + rng.normal(0, 0.01, n)
    y_bad = y.copy()
    y_bad[25] = np.nan  # inside the tail windows
    got = _rolling_ols_numpy(y_bad, X, w)
    t = n - 1  # window [20, 39] contains the bad row 25
    mask = np.ones(n, bool)
    mask[25] = False
    rows = np.arange(t - w + 1, t + 1)
    rows = rows[mask[rows]]
    want, *_ = np.linalg.lstsq(X[rows], y[rows], rcond=None)
    np.testing.assert_allclose(got[t], want, rtol=1e-8)
    # strict variant: the same window is NaN
    strict = _rolling_ols_numpy(y_bad, X, w, min_valid=w)
    assert np.isnan(strict[t]).all()
    # clean windows agree between the two modes
    np.testing.assert_allclose(strict[w - 1 : 25], got[w - 1 : 25], rtol=1e-12)


def test_rolling_ols_spark_kernel(spark):
    rng = np.random.RandomState(13)
    frames = []
    for key, (b0, b1) in {"a": (1.0, 2.0), "b": (-0.5, 3.0)}.items():
        n = 60
        f = rng.normal(size=n)
        frames.append(
            pd.DataFrame(
                {
                    "ticker": key,
                    "t": np.arange(n),
                    "f": f,
                    "y": b0 + b1 * f + rng.normal(0, 1e-9, n),
                }
            )
        )
    # a short key that must be skipped entirely (reference behavior)
    frames.append(pd.DataFrame({"ticker": "short", "t": [0, 1], "f": [0.1, 0.2], "y": [1.0, 1.1]}))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    got = rolling_ols(
        df, "ticker", "t", "y", ["f"], window=20, add_const=True,
        const_name="c", coef_prefix="b_", drop_partial=True,
    ).toPandas()
    assert set(got["ticker"]) == {"a", "b"}  # 'short' skipped
    a = got[got.ticker == "a"]
    np.testing.assert_allclose(a["c"], 1.0, atol=1e-6)
    np.testing.assert_allclose(a["b_f"], 2.0, atol=1e-6)
    assert len(a) == 60 - 20 + 1


def test_rolling_ols_keep_partial_nulls(spark):
    pdf = pd.DataFrame({"ticker": "a", "t": range(10), "f": np.arange(10.0), "y": np.arange(10.0)})
    got = (
        rolling_ols(spark.createDataFrame(pdf), "ticker", "t", "y", ["f"], window=5, drop_partial=False)
        .orderBy("t")
        .collect()
    )
    assert len(got) == 10
    assert all(got[i]["beta_f"] is None or np.isnan(got[i]["beta_f"]) for i in range(4))
    assert got[9]["beta_f"] == pytest.approx(1.0)


def test_ewma_bucket_count_grows_with_rows():
    """VERDICT r10 #5: bucket count must not stay pinned to a small
    session conf when the input is large — each bucket is ONE pandas
    frame, so conf=2 on a 50M-row input would mean 25M-row frames."""
    from nt_data_pipelines_spark.operators.ewma import (
        TARGET_ROWS_PER_BUCKET,
        _n_buckets,
    )

    assert _n_buckets(2, 1_000) == 2  # conf floor for small inputs
    assert _n_buckets(2, 50_000_000) == -(-50_000_000 // TARGET_ROWS_PER_BUCKET)
    assert _n_buckets(200, 50_000_000) == 200  # prod conf still wins
    # monotone in rows, never below conf
    prev = 0
    for rows in (1, 10**6, 10**7, 10**8, 10**9):
        b = _n_buckets(8, rows)
        assert b >= 8 and b >= prev
        prev = b


def test_ewma_bucket_count_never_changes_values(spark):
    """The bucket count only changes which executor a key's frame lands
    on, never the math. ``spark.sql.shuffle.partitions`` is the bucket
    floor, so two settings give two bucket counts."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"k": ["a", "b"] * 40, "t": list(range(40)) * 2, "x": [float(i) for i in range(80)]}
    )
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for partitions in ("4", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            got.append(
                ewm_mean(spark.createDataFrame(pdf), "k", "t", "x", 20.0, out_col="e")
                .orderBy("k", "t")
                .collect()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf)
    assert [r.e for r in got[0]] == [r.e for r in got[1]]


def test_ewma_auto_buckets_two_tier():
    """The free byte estimate must avoid the count job for inputs that
    cannot exceed the per-bucket budget; large or unknown estimates pay
    one count and size by rows."""
    from nt_data_pipelines_spark.operators.ewma import (
        _EST_BYTES_PER_BUCKET,
        _auto_buckets,
    )

    def boom():
        raise AssertionError("count job must not run on the cheap path")

    # small estimate: conf buckets, no count
    assert _auto_buckets(8, 10_000_000, boom) == 8
    assert _auto_buckets(8, 8 * _EST_BYTES_PER_BUCKET, boom) == 8
    # big estimate or unknown: count runs and rows govern
    assert _auto_buckets(2, 8 * _EST_BYTES_PER_BUCKET + 1, lambda: 50_000_000) == 10
    assert _auto_buckets(2, None, lambda: 50_000_000) == 10
    assert _auto_buckets(200, None, lambda: 50_000_000) == 200


def test_ewma_estimated_bytes_real_scan(spark):
    from nt_data_pipelines_spark.operators.ewma import _estimated_bytes
    from nt_data_pipelines_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    est = _estimated_bytes(ev.select("user_id", "value"))
    assert est is not None and est > 0


def test_ewma_auto_buckets_row_growing_lineage():
    """ADVICE r11: leaf bytes only bound SCANNED data — when the
    lineage grows rows (join/explode/expand), the cheap path is
    trusted only with a caller-declared scan_fanout bound; undeclared
    fan-out must pay the count."""
    from nt_data_pipelines_spark.operators.ewma import (
        _EST_BYTES_PER_BUCKET,
        _auto_buckets,
    )

    def boom():
        raise AssertionError("count job must not run on the cheap path")

    small = 10_000_000  # well under 8 * _EST_BYTES_PER_BUCKET
    # non-growing lineage: estimate trusted as before
    assert _auto_buckets(8, small, boom, grows_rows=False) == 8
    # growing lineage, no declared bound: count runs, rows govern
    assert _auto_buckets(8, small, lambda: 50_000_000, grows_rows=True) == 10
    # growing lineage, declared bound keeps estimate under budget: cheap
    assert _auto_buckets(8, small, boom, grows_rows=True, scan_fanout=2.0) == 8
    # declared bound pushes the estimate OVER budget: count runs
    big_fanout = (8 * _EST_BYTES_PER_BUCKET / small) + 1
    assert (
        _auto_buckets(8, small, lambda: 50_000_000, grows_rows=True,
                      scan_fanout=big_fanout)
        == 10
    )
    # unknown estimate always counts, growing or not
    assert _auto_buckets(2, None, lambda: 50_000_000, grows_rows=True) == 10


def test_ewma_plan_grows_rows_detection(spark):
    """_plan_grows_rows must flag joins, explodes and unpivots on real
    optimized plans, and stay quiet for scan->filter->project."""
    from pyspark.sql import functions as F

    from nt_data_pipelines_spark.operators.ewma import _plan_grows_rows
    from nt_data_pipelines_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer")

    linear = ev.select("user_id", "value").filter(F.col("value") > 0)
    assert not _plan_grows_rows(linear)

    agg = ev.groupBy("user_id").agg(F.sum("value").alias("s"))
    assert not _plan_grows_rows(agg)

    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    assert _plan_grows_rows(joined)

    exploded = ev.select("user_id", F.explode(F.array("value", "value")).alias("v"))
    assert _plan_grows_rows(exploded)

    unpivoted = cust.select("c_custkey", "c_acctbal", "c_nationkey").unpivot(
        ids=["c_custkey"],
        values=["c_acctbal", "c_nationkey"],
        variableColumnName="k",
        valueColumnName="v",
    )
    assert _plan_grows_rows(unpivoted)

    # a grouped map can emit ANY number of rows per group — its output
    # is not bounded by the leaves either (tree-walk upgrade, r12)
    grouped_map = ev.select("user_id", "value").groupBy("user_id").applyInPandas(
        lambda pdf: pdf, schema="user_id long, value double"
    )
    assert _plan_grows_rows(grouped_map)

    # sample-with-replacement at fraction > 1 emits more rows than it
    # scans (ADVICE r12) — Sample must count as a growing node
    sampled = ev.select("user_id", "value").sample(True, 2.0, seed=7)
    assert _plan_grows_rows(sampled)

    # a column literally named "Join" must not false-positive
    named_join = ev.select("user_id", F.col("value").alias("Join"))
    assert not _plan_grows_rows(named_join)


def test_ewma_scan_fanout_validated(spark):
    """A non-positive (or NaN) scan_fanout would make the byte-budget
    compare hold vacuously and silently disable the row-growth guard
    — must raise instead (review r12)."""
    import pandas as pd
    import pytest

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "t": [0], "x": [1.0]})
    )
    for bad in (0.0, -1.0, float("nan")):
        with pytest.raises(ValueError, match="scan_fanout"):
            ewm_mean(df, "k", "t", "x", 20.0, scan_fanout=bad)


def test_ewma_values_identical_on_join_lineage(spark):
    """End-to-end: a join in the lineage changes only the bucket
    sizing path, never the math — with and without scan_fanout the
    EWMA values match the no-join baseline."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "k": ["a", "b"] * 30,
            "t": list(range(30)) * 2,
            "x": [float(i) for i in range(60)],
        }
    )
    df = spark.createDataFrame(pdf)
    dim = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "w": [1.0, 1.0]}))
    joined = df.join(dim, "k").withColumn("x", df.x * F.col("w"))

    base = ewm_mean(df, "k", "t", "x", 20.0, out_col="e").orderBy("k", "t").collect()
    counted = ewm_mean(joined, "k", "t", "x", 20.0, out_col="e")
    hinted = ewm_mean(
        joined, "k", "t", "x", 20.0, out_col="e", scan_fanout=1.0
    )
    for variant in (counted, hinted):
        got = variant.orderBy("k", "t").collect()
        assert [r.e for r in got] == [r.e for r in base]
