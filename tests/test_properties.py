"""Property-based tests (SURVEY.md §5.4) with hypothesis.

Spark round-trips per example are expensive, so example counts are
small; the properties are the point:
- union of per-year batches == one full-range query (S8 chunking)
- PK upsert is idempotent and order-respecting under random replays
- z-score output is moment-normalized for any input
"""

from __future__ import annotations

import datetime as dt
import random
from functools import reduce

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.operators.windows import zscore

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=700),  # day offset
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=40,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, rows):
    base = dt.date(2020, 1, 1)
    data = [(k, base + dt.timedelta(days=d), float(v)) for k, d, v in rows]
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("date", T.DateType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(data, schema)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_union_of_year_batches_equals_full_range(spark, rows):
    df = _df(spark, rows)
    full = df.filter(F.col("date") <= F.lit(dt.date(2021, 12, 31)))
    batches = [
        df.filter(F.year("date") == y) for y in (2020, 2021)
    ]
    unioned = reduce(DataFrame.unionByName, batches)
    assert sorted(map(tuple, unioned.collect())) == sorted(map(tuple, full.collect()))


@pytest.mark.slow
@given(rows=ROWS, replays=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_upsert_idempotent_under_replay(spark, tmp_path_factory, rows, replays):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("prop") / "lake"))
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("date", T.DateType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    cat.create("t", schema, None, ["k", "date"], mode="replace")
    df = _df(spark, rows)
    for _ in range(replays):
        cat.upsert("t", df)
    got = cat.table("t")
    # count equals distinct PK count, and last write (max ingest) won —
    # with identical replays the payload is whatever df holds per PK last
    assert got.count() == df.select("k", "date").distinct().count()


@given(rows=ROWS, factor=st.integers(min_value=2, max_value=6))
@settings(**_SETTINGS)
def test_salted_join_equivalence(spark, rows, factor):
    from nt_data_pipelines_spark.operators.skew import salted_join

    large = _df(spark, rows)
    keys = sorted({k for k, _, _ in rows})
    small = spark.createDataFrame([(k, f"d{k}") for k in keys[::2]], "k int, label string")
    plain = sorted(map(tuple, large.join(small, "k").collect()))
    salted = sorted(map(tuple, salted_join(large, small, "k", factor=factor, salt_from="x").collect()))
    assert salted == plain


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_minhash_candidates_superset_of_exact_dups(spark, rows):
    """Byte-identical texts always collide in every LSH band."""
    from nt_data_pipelines_spark.operators.dedup import minhash_lsh_candidates

    # build texts from the integer rows; force at least one exact dup
    texts = [(i, f"w{k} w{d % 7} w{int(abs(v)) % 5}") for i, (k, d, v) in enumerate(rows)]
    texts.append((len(texts), texts[0][1]))  # duplicate of doc 0
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    dup_pair = (0, len(texts) - 1)
    assert dup_pair in cands


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_ewma_bounded_by_input_range(spark, rows):
    from nt_data_pipelines_spark.operators.ewma import ewm_mean

    df = _df(spark, rows)
    out = ewm_mean(df, "k", "date", "x", half_life=5.0, out_col="e").collect()
    by_key: dict = {}
    for k, _, v in rows:
        by_key.setdefault(k, []).append(v)
    for r in out:
        lo, hi = min(by_key[r["k"]]), max(by_key[r["k"]])
        assert lo - 1e-9 <= r["e"] <= hi + 1e-9  # convex combination stays in range


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_zscore_moments(spark, rows):
    xs = {v for _, _, v in rows}
    df = _df(spark, rows)
    out = [r["z"] for r in zscore(df, "x", out_col="z").collect()]
    if len(xs) < 2:  # zero variance -> all null (try_divide semantics)
        assert all(z is None for z in out)
        return
    vals = [z for z in out if z is not None]
    n = len(vals)
    mean = sum(vals) / n
    var = sum((z - mean) ** 2 for z in vals) / (n - 1)
    assert mean == pytest.approx(0.0, abs=1e-7)
    assert var == pytest.approx(1.0, rel=1e-6)


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user
        st.integers(min_value=0, max_value=20000),  # second offset
    ),
    min_size=1,
    max_size=30,
)


@given(evs=EVENTS)
@settings(**_SETTINGS)
def test_sessionize_matches_gap_count(spark, evs):
    """Per user: #sessions == 1 + #gaps>threshold over the sorted
    (ts, id) sequence, and session ids are contiguous from 1."""
    from nt_data_pipelines_spark.operators.sessions import sessionize

    gap = 600
    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=s), 0.0)
        for i, (u, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(data, ["event_id", "user_id", "ts", "value"])
    got = sessionize(df, "user_id", "ts", "event_id", gap_seconds=gap).collect()
    by_user = {}
    for r in sorted(got, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        expected = 1
        seqs = [rows[0]["session_seq"]]
        for a, b in zip(rows, rows[1:]):
            if (b["ts"] - a["ts"]).total_seconds() > gap:
                expected += 1
            seqs.append(b["session_seq"])
        assert seqs == sorted(seqs)  # non-decreasing along time
        assert max(seqs) == expected
        assert sorted(set(seqs)) == list(range(1, expected + 1))


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_forward_fill_matches_pandas_ffill(spark, rows):
    """forward_fill == pandas groupby.ffill for arbitrary series with
    injected nulls (every 3rd row nulled, deterministically)."""
    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import forward_fill

    data = [
        (k, d, None if i % 3 == 0 else float(v))
        for i, (k, d, v) in enumerate(rows)
    ]
    # unique (k, d) so ordering is total
    seen, uniq = set(), []
    for k, d, v in data:
        if (k, d) not in seen:
            seen.add((k, d))
            uniq.append((k, d, v))
    df = spark.createDataFrame(uniq, "k long, d long, x double")
    got = {
        (r["k"], r["d"]): r["filled"]
        for r in forward_fill(df, "k", "d", "x", out_col="filled").collect()
    }
    pdf = pd.DataFrame(uniq, columns=["k", "d", "x"]).sort_values(["k", "d"])
    pdf["filled"] = pdf.groupby("k")["x"].ffill()
    for r in pdf.itertuples():
        want = None if pd.isna(r.filled) else r.filled
        assert got[(r.k, r.d)] == want


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_winsorize_bounds_and_interior(spark, rows):
    """winsorized values always lie within the group's exact
    percentile bounds, and interior values pass through untouched."""
    import numpy as np

    from nt_data_pipelines_spark.operators.windows import winsorize

    uniq = list({(k, d): float(v) for k, d, v in rows}.items())
    data = [(k, d, v) for (k, d), v in uniq]
    df = spark.createDataFrame(data, "k long, d long, x double")
    out = winsorize(df, "k", "x", lower=0.25, upper=0.75, out_col="w").collect()
    by_key: dict[int, list[float]] = {}
    for k, d, v in data:
        by_key.setdefault(k, []).append(v)
    for r in out:
        vals = by_key[r["k"]]
        lo = np.percentile(vals, 25)
        hi = np.percentile(vals, 75)
        assert lo - 1e-9 <= r["w"] <= hi + 1e-9
        if lo <= r["x"] <= hi:
            assert r["w"] == r["x"]


@pytest.mark.slow
@given(rows=ROWS, batch=ROWS)
@settings(**_SETTINGS)
def test_merge_equals_antijoin_plus_insert(spark, tmp_path_factory, rows, batch):
    """merge(batch) == (target rows not keyed by batch) ∪ batch, for
    pure upsert batches deduped on the key — the algebraic contract of
    CDC apply-changes without tombstones."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("mrg") / "lake"))
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("date", T.DateType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    cat.create("t", schema, None, ["k", "date"], mode="replace")
    df = _df(spark, rows).dropDuplicates(["k", "date"])
    src = _df(spark, batch).dropDuplicates(["k", "date"])
    cat.insert("t", df)
    cat.merge("t", src)
    got = sorted(map(tuple, cat.table("t").collect()))
    expect = sorted(
        map(tuple, df.join(src, ["k", "date"], "left_anti").unionByName(src).collect())
    )
    assert got == expect
    # and merging the same batch again changes nothing (idempotence)
    cat.merge("t", src)
    assert sorted(map(tuple, cat.table("t").collect())) == expect


# ---- systematic PPS sampling invariants (round 10) ----

PPS_WEIGHTS = st.lists(
    st.integers(min_value=1, max_value=10_000), min_size=2, max_size=60
)


@given(weights=PPS_WEIGHTS, m=st.integers(min_value=1, max_value=40))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pps_sample_invariants(spark, weights, m):
    """For ANY positive integer weights and any m:
    (1) realized picks sum to exactly m (zero-variance size);
    (2) each row's multiplicity is within 1 of its expectation
        w*m/total (systematic sampling's bracketing property);
    (3) the result is a pure function of the data (partitioning-
        independent)."""
    from nt_data_pipelines_spark.operators.sampling import pps_systematic_sample

    rows = list(enumerate(weights))
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {
        r["doc_id"]: r["n_picks"]
        for r in pps_systematic_sample(df, "doc_id", "w", m).collect()
    }
    total = sum(weights)
    assert sum(got.values()) == m
    for i, w in rows:
        exp = w * m / total
        picks = got.get(i, 0)
        assert exp - 1 < picks < exp + 1 or abs(picks - exp) < 1 + 1e-9, (
            i, w, picks, exp,
        )
    re_got = {
        r["doc_id"]: r["n_picks"]
        for r in pps_systematic_sample(df.repartition(5), "doc_id", "w", m).collect()
    }
    assert re_got == got


# Band/nearest joins: adversarial floats cluster near multiples of
# delta (the floor-flip boundary the +-2 slack exists for), mixed
# with uniform draws and negatives.
_DELTA = 5.0
_BAND_VALS = st.one_of(
    st.integers(min_value=-40, max_value=40).map(
        # values an ulp's nudge around k*delta: floor(v/delta) can
        # land on either side, exactly the recall corner case
        lambda k: k * _DELTA + (1e-9 if k % 2 == 0 else -1e-9)
    ),
    st.floats(min_value=-200.0, max_value=200.0, allow_nan=False, width=32),
)
_BAND_SETS = st.tuples(
    st.lists(_BAND_VALS, min_size=1, max_size=18),
    st.lists(_BAND_VALS, min_size=1, max_size=18),
)


@given(sets=_BAND_SETS)
@settings(**_SETTINGS)
def test_band_join_recall_equals_brute_force(spark, sets):
    """For ANY float inputs (including values straddling bucket
    boundaries), numeric_band_join's pair set must equal the O(n*m)
    brute-force |a-b| <= delta set — the exact-recall contract the
    +-2 slack claims (docstring: exact for |val|/delta < 2^51)."""
    from nt_data_pipelines_spark.operators.interval import numeric_band_join

    lvals, rvals = sets
    left = spark.createDataFrame(list(enumerate(lvals)), "lid long, lv double")
    right = spark.createDataFrame(list(enumerate(rvals)), "rid long, rv double")
    rows = numeric_band_join(left, right, "lv", "rv", _DELTA).collect()
    got = {(r["lid"], r["rid"]) for r in rows}
    expect = {
        (li, ri)
        for li, a in enumerate(lvals)
        for ri, b in enumerate(rvals)
        if abs(a - b) <= _DELTA
    }
    assert got == expect
    # and the reported gap is the row-level IEEE difference, exact
    for r in rows:
        assert r["band_gap"] == abs(lvals[r["lid"]] - rvals[r["rid"]])


@given(sets=_BAND_SETS)
@settings(**_SETTINGS)
def test_nearest_join_equals_brute_force_with_duplicate_keys(spark, sets):
    """nearest_value_join resolves per (left_key, left_value) row to
    the brute-force argmin by (gap, right_val, right_key) — pinned
    WITH duplicate left keys carrying different values, the case the
    r12 oracle fix mirrors (rank partitions by key AND value)."""
    from nt_data_pipelines_spark.operators.interval import nearest_value_join

    lvals, rvals = sets
    # duplicate every left key across two values: key i holds
    # lvals[i] AND (when available) lvals[i+1]
    lrows = [(i, v) for i, v in enumerate(lvals)] + [
        (i, lvals[i + 1]) for i in range(len(lvals) - 1)
    ]
    # drop (key, value) duplicates the construction can produce —
    # identical rows collapse to one output row by the contract
    lrows = sorted(set(lrows))
    left = spark.createDataFrame(lrows, "lk long, lv double")
    right = spark.createDataFrame(list(enumerate(rvals)), "rk long, rv double")
    rows = nearest_value_join(left, right, "lk", "lv", "rk", "rv", _DELTA).collect()
    got = {(r["lk"], r["lv"]): (r["rk"], r["rv"]) for r in rows}
    assert len(rows) == len(got), "one output row per (key, value)"
    for lk, lv in lrows:
        cands = [
            (abs(lv - rv), rv, rk)
            for rk, rv in enumerate(rvals)
            if abs(lv - rv) <= _DELTA
        ]
        if not cands:
            assert (lk, lv) not in got
        else:
            gap, rv, rk = min(cands)
            assert got[(lk, lv)] == (rk, rv), (lk, lv, cands)


# As-of join vs pandas merge_asof: random multi-key event streams,
# both directions, with and without tolerance — ties (equal
# timestamps on either side) included deliberately via the small
# second-offset domain.
_ASOF_CASE = st.tuples(
    st.lists(  # left: (key, second offset)
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=120),
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=120),
        ),
        min_size=1,
        max_size=25,
    ),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 10.0]),
)


@given(case=_ASOF_CASE)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_randomized(spark, case):
    """For ANY keyed event streams (duplicate timestamps allowed on
    the RIGHT side; pandas rejects them on the left), both directions
    and an optional tolerance, asof_join's carried value must equal
    pd.merge_asof on the same frames."""
    import datetime as _dt

    import pandas as pd

    from nt_data_pipelines_spark.operators.asof import asof_join

    lrows, rrows, direction, tol = case
    base = _dt.datetime(2024, 1, 1)
    # pandas merge_asof requires strictly sorted 'on' per frame and
    # no duplicate left timestamps WITHIN a by-group for a stable
    # compare: dedupe left on (key, ts), keep right duplicates (the
    # tie contract is exercised by equal left/right stamps instead)
    lrows = sorted(set(lrows))
    rrows = sorted(rrows)
    lpdf = pd.DataFrame(
        {
            "k": [k for k, _ in lrows],
            "ts": [base + _dt.timedelta(seconds=s) for _, s in lrows],
            "x": [float(i) for i in range(len(lrows))],
        }
    ).sort_values(["ts", "k"], kind="mergesort").reset_index(drop=True)
    rpdf = pd.DataFrame(
        {
            "k": [k for k, _ in rrows],
            "ts": [base + _dt.timedelta(seconds=s) for _, s in rrows],
            "y": [float(i) for i in range(len(rrows))],
        }
    ).sort_values(["ts", "k"], kind="mergesort").reset_index(drop=True)
    # pandas keeps the LAST right row on duplicate (key, ts) for
    # backward; our operator pins the same tie rule (test_asof.py) —
    # dedupe right per (k, ts) keeping the max y to make the compare
    # well-defined under BOTH engines' tie rules
    rpdf = rpdf.groupby(["k", "ts"], as_index=False).agg({"y": "max"})
    rpdf = rpdf.sort_values(["ts", "k"], kind="mergesort").reset_index(drop=True)

    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            on="ts",
            by="k",
            direction=direction,
            tolerance_seconds=tol,
        )
        .orderBy("ts", "k")
        .toPandas()
    )
    want = pd.merge_asof(
        lpdf,
        rpdf,
        on="ts",
        by="k",
        direction=direction,
        tolerance=None if tol is None else pd.Timedelta(seconds=tol),
    ).sort_values(["ts", "k"], kind="mergesort")
    lhs = got.sort_values(["ts", "k"], kind="mergesort")["right_y"].to_numpy()
    rhs = want["y"].to_numpy()
    assert ((lhs == rhs) | (pd.isna(lhs) & pd.isna(rhs))).all(), (
        direction,
        tol,
        list(zip(lhs, rhs)),
    )


# Connected components: random multigraphs over a small id space so
# clusters merge through duplicate edges, self-loops and cross-links
# — the adversarial interleavings for min-label + pointer jumping.
_CC_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=0, max_value=60),
    ),
    min_size=1,
    max_size=50,
)


@given(edges=_CC_EDGES)
@settings(**_SETTINGS)
def test_distributed_cc_equals_union_find_on_random_graphs(spark, edges):
    """resolve_dup_groups_distributed (the 100-TB min-label +
    pointer-jumping path) must produce EXACTLY the driver union-find's
    (node, canonical_id) mapping on ANY multigraph — self-loops,
    duplicate/reversed edges and chains merged mid-round included."""
    from nt_data_pipelines_spark.operators.dedup import (
        resolve_dup_groups,
        resolve_dup_groups_distributed,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {
        r["doc_id"]: r["canonical_id"] for r in resolve_dup_groups(pairs).collect()
    }
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in resolve_dup_groups_distributed(pairs).collect()
    }
    assert got == want


# Rolling-window kernels vs pandas on random keyed series: the W1-W3
# quant surface already has fixed goldens; this closes the randomized
# tier (full-window gating, ddof=1, per-key isolation, null seams).
_SERIES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=60,
)


@given(rows=_SERIES, window=st.sampled_from([2, 3, 5]))
@settings(**_SETTINGS)
def test_rolling_sum_std_match_pandas_randomized(spark, rows, window):
    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import rolling_std, rolling_sum

    pdf = pd.DataFrame(
        {
            "k": [k for k, _ in rows],
            "t": list(range(len(rows))),
            "x": [v for _, v in rows],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        rolling_std(
            rolling_sum(df, "k", "t", "x", window, out_col="rs"),
            "k",
            "t",
            "x",
            window,
            out_col="rstd",
        )
        .orderBy("k", "t")
        .toPandas()
    )
    g = pdf.sort_values(["k", "t"], kind="mergesort").groupby("k")["x"]
    want_rs = g.rolling(window, min_periods=window).sum().reset_index(drop=True)
    # EXACT per-window recompute for the std oracle: pandas'
    # .rolling().std() uses an add/retract accumulator whose relative
    # precision collapses when a large-magnitude value precedes a tiny
    # window (e.g. 887 then [0, 0, 0.015625] at window=3 is off by
    # 3.6e-7 relative — Spark's per-frame recompute and numpy agree to
    # 1e-15 there, so the OLD oracle was the inaccurate side).
    want_rstd = (
        g.rolling(window, min_periods=window)
        .apply(lambda a: np.std(a, ddof=1), raw=True)
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        got["rs"].to_numpy(dtype=float), want_rs.to_numpy(dtype=float),
        rtol=1e-9, atol=1e-9, equal_nan=True,
    )
    np.testing.assert_allclose(
        got["rstd"].to_numpy(dtype=float), want_rstd.to_numpy(dtype=float),
        rtol=1e-7, atol=1e-9, equal_nan=True,
    )


# 70 fixed values on which a two-pass np.std(ddof=1) differs from the
# Welford order in the last ulp for every window size tested
_PROBE_RNG = random.Random(0)
_ULP_PROBE = [round(_PROBE_RNG.uniform(-1e3, 1e3), 3) for _ in range(70)]


@pytest.mark.parametrize("window", [2, 3, 60])
@example(values=_ULP_PROBE, gaps=[])
@given(
    values=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), min_size=2, max_size=150
    ),
    gaps=st.lists(st.integers(min_value=0, max_value=149), max_size=4),
)
@settings(**_SETTINGS)
def test_rolling_std_numpy_equals_spark_window(spark, window, values, gaps):
    """The fused kernels' numpy rolling std is bit-identical to the
    Spark window it replaces, null gaps (NaN on the numpy side) and
    the full-window gate included — no tolerance."""
    import numpy as np

    from nt_data_pipelines_spark.operators.windows import rolling_std, rolling_std_numpy

    xs = [None if i in gaps else v for i, v in enumerate(values)]
    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("t", T.IntegerType()),
         T.StructField("x", T.DoubleType())]
    )
    df = spark.createDataFrame([(0, i, x) for i, x in enumerate(xs)], schema)
    spark_std = rolling_std(df, "k", "t", "x", window, out_col="s").orderBy("t")
    got = [r["s"] for r in spark_std.collect()]
    twin = rolling_std_numpy(np.array([np.nan if x is None else x for x in xs]), window)
    want = [None if np.isnan(v) else float(v) for v in twin]
    assert got == want


@given(rows=_SERIES)
@settings(**_SETTINGS)
def test_pct_change_matches_pandas_randomized(spark, rows):
    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import pct_change

    pdf = pd.DataFrame(
        {
            "k": [k for k, _ in rows],
            "t": list(range(len(rows))),
            "x": [v for _, v in rows],
        }
    )
    # zero bases make pandas emit inf while the operator's default
    # zero_base='inf' matches; keep zeros IN deliberately
    df = spark.createDataFrame(pdf)
    got = (
        pct_change(df, "k", "t", "x", drop_null=False)
        .orderBy("k", "t")
        .toPandas()["pct_change"]
        .to_numpy(dtype=float)
    )
    want = (
        pdf.sort_values(["k", "t"], kind="mergesort")
        .groupby("k")["x"]
        .pct_change(fill_method=None)
        .reset_index(drop=True)
        .to_numpy(dtype=float)
    )
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=0, equal_nan=True)


# EWMA kernel vs pandas on random keyed series WITH nulls: the fixed
# goldens use one seed; this randomizes keys, values and null seams
# (adjust=True, ignore_na=False — the Polars-exact contract).
_EWMA_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.one_of(
            st.none(),
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32),
        ),
    ),
    min_size=2,
    max_size=50,
)


@given(rows=_EWMA_ROWS, half_life=st.sampled_from([1.0, 10.0, 60.0]))
@settings(**_SETTINGS)
def test_ewma_matches_pandas_randomized(spark, rows, half_life):
    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.operators.ewma import ewm_mean

    pdf = pd.DataFrame(
        {
            "k": [k for k, _ in rows],
            "t": list(range(len(rows))),
            "x": [v for _, v in rows],
        }
    )
    got = (
        ewm_mean(spark.createDataFrame(pdf), "k", "t", "x", half_life, out_col="e")
        .orderBy("k", "t")
        .toPandas()["e"]
        .to_numpy(dtype=float)
    )
    want = (
        pdf.sort_values(["k", "t"], kind="mergesort")
        .groupby("k")["x"]
        .apply(
            lambda s: s.ewm(halflife=half_life, adjust=True, ignore_na=False).mean()
        )
        .reset_index(drop=True)
        .to_numpy(dtype=float)
    )
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12, equal_nan=True)


@given(rows=_SERIES, window=st.sampled_from([2, 3, 5]))
@settings(**_SETTINGS)
def test_rolling_cov_matches_pandas_randomized(spark, rows, window):
    """Pair-complete gated rolling covariance vs pandas
    rolling(min_periods=window).cov() on random keyed pairs — the
    gate must count PAIRWISE-complete rows, not either column's."""
    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import rolling_cov

    pdf = pd.DataFrame(
        {
            "k": [k for k, _ in rows],
            "t": list(range(len(rows))),
            "x": [v for _, v in rows],
            "y": [v * 0.5 + (i % 7) for i, (_, v) in enumerate(rows)],
        }
    )
    got = (
        rolling_cov(spark.createDataFrame(pdf), "k", "t", "x", "y", window)
        .orderBy("k", "t")
        .toPandas()["rolling_cov"]
        .to_numpy(dtype=float)
    )
    srt = pdf.sort_values(["k", "t"], kind="mergesort")
    pieces = [
        g["x"].rolling(window, min_periods=window).cov(g["y"])
        for _, g in srt.groupby("k", sort=True)
    ]
    want = pd.concat(pieces).to_numpy(dtype=float)
    np.testing.assert_allclose(got, want, rtol=1e-7, atol=1e-9, equal_nan=True)


@given(rows=_SERIES)
@settings(**_SETTINGS)
def test_drawdown_matches_cummax_formula_randomized(spark, rows):
    """Running peak/drawdown per key equals the pure-python cummax
    recurrence x/max_so_far - 1 for ANY keyed series."""
    import math

    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import drawdown

    pdf = pd.DataFrame(
        {
            "k": [k for k, _ in rows],
            "t": list(range(len(rows))),
            # keep values positive: price-like domain (a zero/negative
            # running peak makes the ratio sign-ambiguous by design)
            "x": [abs(v) + 1.0 for _, v in rows],
        }
    )
    got = {
        (r["k"], r["t"]): (r["running_peak"], r["drawdown"])
        for r in drawdown(spark.createDataFrame(pdf), "k", "t", "x").collect()
    }
    peaks: dict = {}
    for _, row in pdf.sort_values(["k", "t"], kind="mergesort").iterrows():
        k = row["k"]
        peaks[k] = max(peaks.get(k, -math.inf), row["x"])
        g_peak, g_dd = got[(k, row["t"])]
        assert g_peak == peaks[k]
        assert g_dd == row["x"] / peaks[k] - 1


# OHLC bars: random (key, minute, value) points with unique (key, ts)
# so open/close are well-defined without engine tie rules; the
# operator's (ts, id) tie-break is separately pinned on crafted ties
# in tests/test_sessions_resample.py.
_OHLC_POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=5_000),  # minute offset
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),
)


@given(points=_OHLC_POINTS)
@settings(**_SETTINGS)
def test_resample_ohlc_matches_reference_randomized(spark, points):
    import datetime as _dt

    import pandas as pd

    from nt_data_pipelines_spark.operators.sessions import resample_ohlc

    base = _dt.datetime(2024, 3, 1)
    pdf = pd.DataFrame(
        {
            "k": [str(k) for k, _, _ in points],
            "ts": [base + _dt.timedelta(minutes=m) for _, m, _ in points],
            "v": [v for _, _, v in points],
            "eid": list(range(len(points))),
        }
    )
    bars = resample_ohlc(
        spark.createDataFrame(pdf), ["k"], "ts", "v", "eid", freq="hour"
    ).collect()
    got = {
        (r["k"], r["bucket"]): (r["open"], r["high"], r["low"], r["close"], r["n_points"])
        for r in bars
    }
    # independent reference: pure-python bucketing
    ref: dict = {}
    for _, row in pdf.iterrows():
        b = row["ts"].replace(minute=0, second=0, microsecond=0)
        ref.setdefault((row["k"], b), []).append((row["ts"], row["v"]))
    assert set(got) == set(ref)
    for key, pts in ref.items():
        pts.sort()
        o, h, lo, c, n = got[key]
        vals = [v for _, v in pts]
        assert (o, c) == (pts[0][1], pts[-1][1])
        assert (h, lo) == (max(vals), min(vals))
        assert n == len(pts)


@given(rows=_SERIES)
@settings(**_SETTINGS)
def test_robust_zscore_matches_numpy_randomized(spark, rows):
    """Median/MAD z-score per group vs numpy medians — even-count
    middle-averaging, the consistency constant, and the zero-MAD ->
    null contract on arbitrary keyed values."""
    import numpy as np

    from nt_data_pipelines_spark.operators.windows import robust_zscore

    data = [(k, float(i), v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, rid double, x double")
    got = {
        (r["k"], r["rid"]): r["robust_z"]
        for r in robust_zscore(df, "k", "x").collect()
    }
    by_key: dict = {}
    for k, rid, v in data:
        by_key.setdefault(k, []).append((rid, v))
    C = 0.6744897501960817
    for k, members in by_key.items():
        vals = np.array([v for _, v in members])
        med = np.median(vals)
        mad = np.median(np.abs(vals - med))
        for rid, v in members:
            if mad == 0:
                assert got[(k, rid)] is None
            else:
                assert got[(k, rid)] == pytest.approx(
                    C * (v - med) / mad, rel=1e-9, abs=1e-12
                )


# Interval join: random points and random (start, end) spans with
# small integer minute offsets so boundary-equal (ts == start or
# ts == end) cases occur constantly; compare to the O(n*m) scan.
_IJ_CASE = st.tuples(
    st.lists(st.integers(min_value=0, max_value=80), min_size=1, max_size=20),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=80),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([60, 600, 3600]),
)


@given(case=_IJ_CASE)
@settings(**_SETTINGS)
def test_interval_join_equals_brute_force_randomized(spark, case):
    """Bucketed interval join == brute-force BETWEEN for ANY points,
    spans (including zero-length and boundary-touching) and bucket
    size — the recall contract of the time-bucket blocking."""
    import datetime as _dt

    from nt_data_pipelines_spark.operators.interval import interval_join

    minutes, spans, bucket_seconds = case
    base = _dt.datetime(2024, 5, 1)
    points = spark.createDataFrame(
        [(i, base + _dt.timedelta(minutes=m)) for i, m in enumerate(minutes)],
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (
                100 + j,
                base + _dt.timedelta(minutes=s),
                base + _dt.timedelta(minutes=s + d),
            )
            for j, (s, d) in enumerate(spans)
        ],
        "iid long, start_ts timestamp, end_ts timestamp",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, intervals, "ts", "start_ts", "end_ts", bucket_seconds=bucket_seconds
        ).collect()
    }
    expect = {
        (i, 100 + j)
        for i, m in enumerate(minutes)
        for j, (s, d) in enumerate(spans)
        if s <= m <= s + d
    }
    assert got == expect


# Sequence packing / chunking: random word-count docs, random
# capacity — compare against an independent greedy replay.
_PACK_DOCS = st.lists(
    st.integers(min_value=0, max_value=40),  # words per doc
    min_size=1,
    max_size=30,
)


@given(n_words=_PACK_DOCS, capacity=st.sampled_from([8, 16, 64]))
@settings(**_SETTINGS)
def test_pack_sequences_matches_greedy_replay(spark, n_words, capacity):
    """Within every shard, bin_id must equal floor(offset/capacity) of
    an id-ordered greedy cumsum — replayed independently in python —
    and every document must appear exactly once."""
    from nt_data_pipelines_spark.operators.text import pack_sequences

    # pure-letter words: token_count's regex counts "w10" as TWO
    # tokens (letter run + digit run); single letters count as one
    docs = [
        (i, " ".join("abcdefghij"[j % 10] for j in range(n)))
        for i, n in enumerate(n_words)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_sequences(df, "doc_id", capacity=capacity, num_shards=4).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(len(docs)))
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        offset = 0
        for r in sorted(members, key=lambda r: r["doc_id"]):
            assert r["n_tokens"] == n_words[r["doc_id"]]
            assert r["bin_id"] == offset // capacity
            offset += r["n_tokens"]


_CHUNK_CASE = st.tuples(
    st.integers(min_value=0, max_value=60),  # words in the doc
    st.integers(min_value=2, max_value=10),  # chunk_size
    st.integers(min_value=0, max_value=8),  # overlap (< chunk_size enforced)
)


@given(case=_CHUNK_CASE)
@settings(**_SETTINGS)
def test_chunk_documents_covers_doc_randomized(spark, case):
    """For ANY doc length and (chunk_size, overlap): chunks start at
    step multiples, reassemble to the full word sequence with the
    declared overlap, and no chunk is fully contained in another."""
    from nt_data_pipelines_spark.operators.text import chunk_documents

    n, chunk_size, overlap = case
    overlap = min(overlap, chunk_size - 1)
    words = [f"w{i}" for i in range(n)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    got = sorted(
        chunk_documents(df, "doc_id", chunk_size=chunk_size, overlap=overlap).collect(),
        key=lambda r: r["chunk_start"],
    )
    if n == 0:
        # split-on-space semantics: '' has one (empty) word — engine
        # and DuckDB oracle agree (string_split('', ' ') = ['']), so
        # an empty doc yields exactly one empty chunk
        assert [(r["chunk_start"], r["n_chunk_words"], r["chunk_text"]) for r in got] == [
            (0, 1, "")
        ]
        return
    step = chunk_size - overlap
    covered: set = set()
    prev_end = -1
    for r in got:
        s, cn = r["chunk_start"], r["n_chunk_words"]
        assert s % step == 0
        assert r["chunk_text"] == " ".join(words[s : s + cn])
        assert cn == min(chunk_size, n - s)
        end = s + cn
        assert end > prev_end, "chunk fully contained in its predecessor"
        prev_end = end
        covered.update(range(s, end))
    assert covered == set(range(n)), "chunks must cover every word"


_JACCARD_DOCS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
        min_size=1,
        max_size=8,
    ),
    min_size=2,
    max_size=10,
)


@given(docs=_JACCARD_DOCS, threshold=st.sampled_from([0.2, 0.5, 0.8]))
@settings(**_SETTINGS)
def test_ngram_jaccard_pairs_equals_set_jaccard(spark, docs, threshold):
    """The verify tier's exact Jaccard must equal python set Jaccard
    for every pair over ANY small vocabulary (word repeats collapse
    to sets; pairs below threshold or sharing nothing are absent)."""
    from nt_data_pipelines_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", threshold=threshold).collect()
    }
    sets = [set(ws) for ws in docs]
    expect = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= threshold:
                expect[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    assert got == expect


@given(rows=_SERIES)
@settings(**_SETTINGS)
def test_xsec_rank_matches_pandas_randomized(spark, rows):
    """Cross-sectional rank per group == pandas rank(method='min') on
    ANY keyed values (ties included via the coarse float domain);
    deciles partition each group into contiguous rank blocks."""
    import pandas as pd

    from nt_data_pipelines_spark.operators.windows import xsec_rank

    pdf = pd.DataFrame(
        {
            "g": [k for k, _ in rows],
            "rid": list(range(len(rows))),
            # quantize to force ties
            "x": [round(v / 100.0) for _, v in rows],
        }
    )
    got = (
        xsec_rank(spark.createDataFrame(pdf), "g", ["x", "rid"], buckets=3)
        .orderBy("g", "rid")
        .toPandas()
    )
    want = (
        pdf.sort_values(["g", "rid"], kind="mergesort")
        .groupby("g")[["x", "rid"]]
        .apply(lambda t: t[["x", "rid"]].apply(tuple, axis=1).rank(method="min"))
        .to_numpy(dtype=float)
    )
    assert (got["rank"].to_numpy(dtype=float) == want.ravel()).all()
    # ntile: within each group, bucket ids are non-decreasing in rank
    # and sizes differ by at most one
    for _, grp in got.groupby("g"):
        srt = grp.sort_values("rank")
        assert (srt["decile"].diff().fillna(0) >= 0).all()
        sizes = srt.groupby("decile").size()
        assert sizes.max() - sizes.min() <= 1


_MIX_DOCS = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1", "s2"]),
        st.integers(min_value=1, max_value=20),  # words per doc
    ),
    min_size=1,
    max_size=30,
)


@given(docs=_MIX_DOCS, budget=st.sampled_from([5, 25, 100]))
@settings(**_SETTINGS)
def test_mix_sources_budget_and_determinism(spark, docs, budget):
    """For ANY corpus and budget: under-budget sources pass through
    whole, over-budget sources keep a subset, the kept set replays
    identically under repartitioning (content-hash, not RNG), and
    kept docs are a SUBSET selected by the md5 bucket — never
    invented rows."""
    from nt_data_pipelines_spark.operators.text import mix_sources_to_budget

    rows = [
        (i, src, " ".join("abcde"[j % 5] for j in range(n)))
        for i, (src, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = {
        r["doc_id"]: r["n_tokens"]
        for r in mix_sources_to_budget(df, "source", "doc_id", budget).collect()
    }
    totals: dict = {}
    for i, (src, n) in enumerate(docs):
        totals[src] = totals.get(src, 0) + n
        assert kept.get(i, n) == n  # token counts pass through unchanged
    for src, total in totals.items():
        members = [i for i, (s, _) in enumerate(docs) if s == src]
        kept_members = [i for i in members if i in kept]
        if total <= budget:
            assert kept_members == members, f"under-budget {src} must be whole"
        else:
            assert set(kept_members) <= set(members)
    re_kept = {
        r["doc_id"]: r["n_tokens"]
        for r in mix_sources_to_budget(
            df.repartition(7), "source", "doc_id", budget
        ).collect()
    }
    assert re_kept == kept


@given(rows=ROWS, p=st.sampled_from([0.0, 0.3, 1.0]))
@settings(**_SETTINGS)
def test_stratified_sample_deterministic_and_monotone(spark, rows, p):
    """Content-hash Bernoulli: p=0 keeps nothing, p=1 keeps all, the
    kept set is partitioning-independent, and raising the fraction
    only ADDS rows (bucket-threshold monotonicity — the property that
    makes backfill resume stable when a split is widened)."""
    from nt_data_pipelines_spark.operators.text import (
        deterministic_stratified_sample,
    )

    data = [(i, "a" if k % 2 == 0 else "b") for i, (k, _, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, stratum string")

    def keep(frac_a, frame):
        return {
            r["id"]
            for r in deterministic_stratified_sample(
                frame, "stratum", "id", {"a": frac_a}, default_fraction=0.5
            ).collect()
        }

    got = keep(p, df)
    a_ids = {i for i, s in data if s == "a"}
    if p == 0.0:
        assert got & a_ids == set()
    if p == 1.0:
        assert a_ids <= got
    assert keep(p, df.repartition(5)) == got
    wider = keep(min(p + 0.3, 1.0), df)
    assert got <= wider, "widening the fraction must only add rows"


_PR_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=20,
)


@given(edges=_PR_EDGES, iterations=st.sampled_from([1, 3]))
@settings(**_SETTINGS)
def test_pagerank_matches_python_power_iteration(spark, edges, iterations):
    """Damped PageRank vs a pure-python replay of the same integer
    micro-rank recurrence (multi-edges add, dangling mass
    redistributes uniformly, integer pico update + half-up per
    iteration) on ANY small digraph — self-loops included. The
    arithmetic contract is exact (the per-edge share is the same
    two IEEE ops on the same operands), so ranks must match
    BIT-FOR-BIT and preserve total mass up to the micro grid."""
    import math

    from nt_data_pipelines_spark.operators.graph import pagerank

    d_micro = 850_000
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            iterations=iterations,
            damping=0.85,
        ).collect()
    }
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out: dict = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    rank = {v: (2 * 1_000_000 + n) // (2 * n) for v in nodes}  # micro
    for _ in range(iterations):
        in_pico = {v: 0 for v in nodes}
        for a, b in edges:
            # replicate the engine's floating share exactly:
            # (rank_micro·1e6) · (w/out), each op correctly rounded
            in_pico[b] += math.floor(
                (float(rank[a]) * 1000000.0) * (1.0 / float(out[a]))
            )
        dang = sum(rank[v] for v in nodes if v not in out)  # micro, exact
        rank = {
            v: (
                2 * (
                    ((1_000_000 - d_micro) * 1_000_000) // n
                    + (d_micro * (in_pico[v] + (dang * 1_000_000) // n))
                    // 1_000_000
                )
                + 1_000_000
            )
            // 2_000_000
            for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == float(rank[v]) / 1000000.0, (v, got[v], rank[v])
    assert abs(sum(got.values()) - 1.0) <= n * 1e-6


_FUNNEL_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # user
        st.sampled_from(["A", "B", "C"]),  # event type
        st.integers(min_value=0, max_value=50),  # second offset
    ),
    min_size=1,
    max_size=30,
)


@given(evs=_FUNNEL_EVENTS)
@settings(**_SETTINGS)
def test_funnel_conversion_matches_python_replay(spark, evs):
    """Strictly-ordered funnel vs a per-user python replay: step i's
    reach time is the earliest step-i event STRICTLY after the
    step-(i-1) reach time — equal timestamps must NOT convert."""
    import datetime as _dt

    from nt_data_pipelines_spark.operators.events import funnel_conversion

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (u, t, base + _dt.timedelta(seconds=s)) for u, t, s in evs
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    steps = ["A", "B", "C"]
    got = {
        r["step"]: r["n_users"]
        for r in funnel_conversion(df, steps).collect()
    }
    # python replay
    by_user: dict = {}
    for u, t, ts in rows:
        by_user.setdefault(u, []).append((ts, t))
    counts = {1: 0, 2: 0, 3: 0}
    for u, events_u in by_user.items():
        reach = None
        for i, step in enumerate(steps):
            times = [
                ts
                for ts, t in events_u
                if t == step and (reach is None if i == 0 else ts > reach)
            ]
            if not times:
                break
            reach = min(times)
            counts[i + 1] += 1
    assert got == counts


@given(evs=_FUNNEL_EVENTS)
@settings(**_SETTINGS)
def test_cohort_retention_matches_python_replay(spark, evs):
    """Cohort x age counts vs a python replay: users cohort by their
    FIRST event's day; each (cohort, age) counts distinct users
    active that day — duplicate events must not double-count."""
    import datetime as _dt

    from nt_data_pipelines_spark.operators.events import cohort_retention

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (u, base + _dt.timedelta(hours=s * 13))  # spread across days
        for u, _, s in evs
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort"], r["age"]): r["n_users"]
        for r in cohort_retention(df, period="day").collect()
    }
    first: dict = {}
    for u, ts in rows:
        d = ts.date()
        first[u] = min(first.get(u, d), d)
    expect: dict = {}
    for u, d in {(u, ts.date()) for u, ts in rows}:
        key = (first[u], (d - first[u]).days)
        expect[key] = expect.get(key, 0) + 1
    assert got == expect


@given(evs=_FUNNEL_EVENTS)
@settings(**_SETTINGS)
def test_event_transitions_match_python_replay(spark, evs):
    """Markov transition counts vs a python replay over the same
    (ts, event_id) tie-broken per-user order — pair counts must match
    exactly for arbitrary interleavings including equal timestamps."""
    import datetime as _dt

    from nt_data_pipelines_spark.operators.events import event_transitions

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t, base + _dt.timedelta(seconds=s))
        for i, (u, t, s) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transitions(df).collect()
    }
    by_user: dict = {}
    for i, u, t, ts in rows:
        by_user.setdefault(u, []).append((ts, i, t))
    expect: dict = {}
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == expect


# ---------------------------------------------------------------------------
# Streaming batch-boundary fuzz (VERDICT r12 #4): the fixed-layout
# parity tests in tests/test_streaming*.py pin ONE batch split; these
# properties let hypothesis choose the cut points over the same event
# stream and assert the stateful operators are split-invariant — the
# defining property of a correct cross-batch state recursion.
# ---------------------------------------------------------------------------

_CUTS = st.lists(st.integers(min_value=1, max_value=35), min_size=1, max_size=3, unique=True)
# the RSI stream is 46 events long, so its cut points range wider
_CUTS46 = st.lists(st.integers(min_value=1, max_value=45), min_size=1, max_size=3, unique=True)


def _stream_events(n=36, nan_every=None):
    """Deterministic 3-key event stream, globally ts-ordered."""
    import numpy as np

    rng = np.random.RandomState(97)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(n):
        v = float(rng.uniform(1, 100))
        if nan_every and i % nan_every == 0 and i > 0:
            v = float("nan")
        rows.append((i, base + dt.timedelta(minutes=i), i % 3, "view", v, "{}"))
    return rows


def _write_slices(spark, rows, cuts, src):
    """One parquet file per slice -> one micro-batch per slice
    (maxFilesPerTrigger=1); slices are ts-contiguous so the per-key
    cross-batch monotone-order contract holds for ANY cut set."""
    from nt_data_pipelines_spark.streaming.incremental import EVENT_SCHEMA

    bounds = [0] + sorted(cuts) + [len(rows)]
    for lo, hi in zip(bounds, bounds[1:]):
        if lo < hi:
            spark.createDataFrame(rows[lo:hi], EVENT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)


def _drain(spark, src, op, ckpt):
    from nt_data_pipelines_spark.streaming.incremental import EVENT_SCHEMA

    collected: list = []
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        op(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _e: collected.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return collected


@pytest.mark.slow
@given(cuts=_CUTS)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_streaming_ewma_split_invariant(spark, tmp_path, cuts):
    """EWMA over ANY batch split == pandas ewm over the unsplit series
    (adjust=True, ignore_na=False — NaN rows decay but don't seed)."""
    import uuid

    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.streaming.stateful import streaming_ewma

    d = tmp_path / uuid.uuid4().hex
    rows = _stream_events(nan_every=7)
    _write_slices(spark, rows, cuts, str(d / "src"))
    got = pd.DataFrame(
        [r.asDict() for r in _drain(spark, str(d / "src"), lambda s: streaming_ewma(s, half_life=10.0), str(d / "ckpt"))]
    )
    assert len(got) == len(rows)
    all_rows = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    for k in (0, 1, 2):
        series = all_rows[all_rows.user_id == k].sort_values("ts")["value"]
        want = series.ewm(halflife=10.0, adjust=True).mean().to_numpy()
        got_k = got[got.user_id == k].sort_values("ts")["ewma"].astype(float).to_numpy()
        np.testing.assert_allclose(got_k, want, rtol=1e-12)


@pytest.mark.slow
@given(cuts=_CUTS)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_streaming_drawdown_split_invariant(spark, tmp_path, cuts):
    """Running peak / drawdown over ANY batch split == cummax over the
    unsplit per-key series."""
    import uuid

    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.streaming.stateful import streaming_drawdown

    d = tmp_path / uuid.uuid4().hex
    rows = _stream_events()
    _write_slices(spark, rows, cuts, str(d / "src"))
    got = pd.DataFrame(
        [r.asDict() for r in _drain(spark, str(d / "src"), streaming_drawdown, str(d / "ckpt"))]
    )
    assert len(got) == len(rows)
    all_rows = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    for k in (0, 1, 2):
        series = all_rows[all_rows.user_id == k].sort_values("ts")["value"]
        want_peak = series.cummax().to_numpy()
        want_dd = series.to_numpy() / want_peak - 1.0
        gk = got[got.user_id == k].sort_values("ts")
        np.testing.assert_allclose(gk["running_peak"].to_numpy(), want_peak, rtol=0)
        np.testing.assert_allclose(gk["drawdown"].to_numpy(), want_dd, rtol=1e-12)


_DEDUP_PERM = st.permutations(list(range(12)))
_DEDUP_CUTS = st.lists(st.integers(min_value=1, max_value=11), min_size=1, max_size=3, unique=True)


@pytest.mark.slow
@given(perm=_DEDUP_PERM, cuts=_DEDUP_CUTS)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_streaming_dedup_split_and_order_invariant(spark, tmp_path, perm, cuts):
    """dedup_foreach_batch converges to the batch exact_dedup survivor
    set for ANY doc arrival order and ANY batch split — unlike the
    time-keyed operators, dedup has no ordering contract at all, so
    hypothesis shuffles the rows AND cuts the batches."""
    import uuid

    from nt_data_pipelines_spark.operators.dedup import exact_dedup
    from nt_data_pipelines_spark.streaming import dedup_foreach_batch, run_available_now
    from nt_data_pipelines_spark.streaming.incremental import DEDUP_STATE_SCHEMA

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    texts = ["alpha", "beta", "gamma", "alpha", "delta", "beta", None, "alpha",
             "epsilon", "gamma", "zeta", "delta"]
    docs = [(100 + i, texts[i]) for i in range(12)]
    shuffled = [docs[i] for i in perm]

    d = tmp_path / uuid.uuid4().hex
    src = str(d / "docs")
    bounds = [0] + sorted(cuts) + [len(shuffled)]
    for lo, hi in zip(bounds, bounds[1:]):
        if lo < hi:
            spark.createDataFrame(shuffled[lo:hi], doc_schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

    cat = Catalog(spark, str(d / "lake"))
    cat.create("doc_dedup", DEDUP_STATE_SCHEMA, None, ["text_hash"])
    stream = (
        spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_available_now(
        stream, dedup_foreach_batch(cat, "doc_dedup"), str(d / "ckpt"), output_mode="append"
    )

    full = spark.createDataFrame(docs, doc_schema)
    want = {
        (r["text_hash"], r["survivor_id"])
        for r in exact_dedup(full, "doc_id").select("text_hash", "survivor_id").collect()
    }
    got = {(r["text_hash"], r["survivor_id"]) for r in cat.table("doc_dedup").collect()}
    assert got == want


@pytest.mark.slow
@given(cuts=_CUTS46)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_streaming_rsi_split_invariant(spark, tmp_path, cuts):
    """Wilder RSI over ANY batch split == a python replay of the
    seed-then-smooth recursion over the unsplit per-key series (46
    events / 3 keys gives each key one full 14-diff seed window plus
    smoothed rows on both sides of most cuts)."""
    import math
    import uuid

    import numpy as np
    import pandas as pd

    from nt_data_pipelines_spark.streaming.stateful import streaming_rsi

    PERIOD = 14
    d = tmp_path / uuid.uuid4().hex
    rows = _stream_events(n=46)
    _write_slices(spark, rows, cuts, str(d / "src"))
    got = pd.DataFrame(
        [r.asDict() for r in _drain(spark, str(d / "src"), lambda s: streaming_rsi(s, period=PERIOD), str(d / "ckpt"))]
    )
    assert len(got) == len(rows)
    all_rows = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])

    def replay(series):
        ag = al = 0.0
        prev = float("nan")
        n = 0
        out = []
        for x in series:
            if math.isnan(prev):
                out.append(None)
                prev = x
                continue
            diff = x - prev
            prev = x
            n += 1
            g, l = max(diff, 0.0), max(-diff, 0.0)
            if n <= PERIOD:
                # seed accumulation: simple average of first PERIOD diffs
                ag += g / PERIOD
                al += l / PERIOD
                out.append(None if n < PERIOD else _rsi(ag, al))
            else:
                ag = (ag * (PERIOD - 1) + g) / PERIOD
                al = (al * (PERIOD - 1) + l) / PERIOD
                out.append(_rsi(ag, al))
        return out

    def _rsi(ag, al):
        return 100.0 if al == 0 else 100.0 - 100.0 / (1.0 + ag / al)

    for k in (0, 1, 2):
        series = all_rows[all_rows.user_id == k].sort_values("ts")["value"].tolist()
        want = replay(series)
        got_k = got[got.user_id == k].sort_values("ts")["rsi"].tolist()
        assert len(got_k) == len(want)
        for g, w in zip(got_k, want):
            if w is None:
                assert g is None or (isinstance(g, float) and math.isnan(g))
            else:
                np.testing.assert_allclose(g, w, rtol=1e-12)
