"""Model-based catalog fuzz: random op sequences vs an in-memory model.

The storage layer's contract is simple to state — a table IS a map
from primary key to the last-written row — and easy to break in edge
interactions (merge after delete, upsert over tombstones, rewrites
interleaved with appends). Hypothesis drives random op sequences
through every commit mode and checks the table equals the model after
every step.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
    ]
)

KEYS = st.integers(min_value=0, max_value=6)
ROW = st.tuples(KEYS, st.integers(min_value=-50, max_value=50))
BATCH = st.lists(ROW, min_size=1, max_size=4, unique_by=lambda r: r[0])

OP = st.one_of(
    st.tuples(st.just("insert"), BATCH),
    st.tuples(st.just("upsert"), BATCH),
    st.tuples(st.just("merge"), BATCH),
    st.tuples(st.just("merge_delete"), BATCH, st.lists(KEYS, max_size=2, unique=True)),
    st.tuples(st.just("delete"), st.lists(KEYS, min_size=1, max_size=3)),
    st.tuples(st.just("optimize")),
)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame([(k, float(v)) for k, v in rows], SCHEMA)


def _run_sequence(spark, tmp, mode, ops):
    cat = Catalog(spark, str(tmp / f"lake_{mode}"), commit_mode=mode)
    cat.create("t", SCHEMA, None, ["k"], mode="replace")
    model: dict[int, float] = {}
    for op in ops:
        kind = op[0]
        if kind == "insert":
            cat.insert("t", _df(spark, op[1]))
            # duplicates vs existing rows persist until optimize; the
            # final reconciliation optimizes, where last write wins
            for k, v in op[1]:
                model[k] = float(v)
        elif kind == "upsert":
            cat.upsert("t", _df(spark, op[1]))
            for k, v in op[1]:
                model[k] = float(v)
        elif kind == "merge":
            cat.merge("t", _df(spark, op[1]))
            for k, v in op[1]:
                model[k] = float(v)
        elif kind == "merge_delete":
            rows, dels = op[1], op[2]
            wide = T.StructType(list(SCHEMA.fields) + [T.StructField("d", T.BooleanType())])
            payload = [(k, float(v), False) for k, v in rows if k not in dels]
            payload += [(k, 0.0, True) for k in dels]
            cat.merge("t", spark.createDataFrame(payload, wide), delete_col="d")
            for k, v, d in payload:
                if d:
                    model.pop(k, None)
                else:
                    model[k] = v
        elif kind == "delete":
            keys = spark.createDataFrame([(k,) for k in op[1]], "k int")
            cat.delete_matching("t", keys, on="k")
            for k in op[1]:
                model.pop(k, None)
        elif kind == "optimize":
            cat.optimize("t")
    # final reconciliation: after optimize the table must equal the model
    cat.optimize("t")
    got = {r["k"]: r["v"] for r in cat.table("t").collect()}
    assert got == model, f"mode={mode} ops={ops}"
    if mode == "filelist":
        # stats-pruned scans agree with the model after any op mix
        # (k is an indexed stats column)
        pruned = {r["k"]: r["v"] for r in cat.scan_pruned("t", k=3).collect()}
        assert pruned == {k: v for k, v in model.items() if k == 3}, ops
        rng = {r["k"] for r in cat.scan_pruned("t", k=("between", 2, 4)).collect()}
        assert rng == {k for k in model if 2 <= k <= 4}, ops


@pytest.mark.parametrize("mode", ["rename", "filelist"])
@given(ops=st.lists(OP, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_catalog_matches_model_under_random_ops(spark, tmp_path_factory, mode, ops):
    _run_sequence(spark, tmp_path_factory.mktemp("fuzz"), mode, ops)


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["filelist"])
@given(ops=st.lists(OP, min_size=6, max_size=14))
@settings(
    max_examples=100,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_catalog_matches_model_deep_histories(spark, tmp_path_factory, mode, ops):
    """Deep profile (--runslow): 100 examples in filelist mode with
    histories long enough that filelist runs routinely CROSS the
    checkpoint-cadence boundary (every commit is a generation, so a
    10-op sequence passes gen 10) — the surgical merge/delete/optimize
    mutators interleave with appends across checkpoint AND delta
    manifests, checked against the dict-model after every history."""
    _run_sequence(spark, tmp_path_factory.mktemp("fuzzdeep"), mode, ops)
