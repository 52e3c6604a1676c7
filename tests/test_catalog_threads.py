"""One ``Catalog`` shared by several writer threads.

The flows run independent DAG stages from several threads on one
catalog, so the ingest seq and the ``_catalog.json`` state file are
shared. These tests pin:

- an upsert probing the seq its own insert stamped, not the seq that
  was next when it started: another thread's insert landing in between
  must not let a batch with an internal duplicate skip optimize;
- eight threads upserting eight tables at once: every batch gets its
  own seq, the state file stays parseable, and every table holds
  exactly its last-write-wins content.
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import INGEST_COL, Catalog

SCHEMA = T.StructType(
    [T.StructField("k", T.IntegerType()), T.StructField("v", T.DoubleType())]
)
MODES = ("rename", "filelist")


def _content(cat, name):
    return sorted((r["k"], r["v"]) for r in cat.table(name).collect())


@pytest.mark.parametrize("mode", MODES)
def test_upsert_dedups_when_another_insert_takes_the_next_seq(
    spark, tmp_path, mode, monkeypatch
):
    """Thread B inserts into another table after A's upsert has started
    but before A stamps its batch. A's batch holds a duplicate key on an
    empty base, so only the dup probe over A's OWN seq can send it to
    optimize; probing the seq B took finds no rows and would leave the
    duplicate in."""
    cat = Catalog(spark, str(tmp_path / "lake"), commit_mode=mode)
    for name in ("a", "b"):
        cat.create(name, SCHEMA, None, ["k"])

    orig = Catalog._check_constraints
    raced = []

    def check_then_race(self, name, df):
        orig(self, name, df)
        if name == "a" and not raced:
            raced.append(name)
            rival = threading.Thread(
                target=lambda: cat.insert("b", spark.createDataFrame([(7, 7.0)], SCHEMA))
            )
            rival.start()
            rival.join(timeout=120)
            assert not rival.is_alive()

    monkeypatch.setattr(Catalog, "_check_constraints", check_then_race)
    cat.upsert("a", spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], SCHEMA))

    assert raced == ["a"]
    assert [k for k, _ in _content(cat, "a")] == [1, 2]
    assert _content(cat, "b") == [(7, 7.0)]


@pytest.mark.parametrize("mode", MODES)
def test_eight_threads_upsert_eight_tables(spark, tmp_path, mode):
    """Each thread upserts a clean batch (empty-base fast path), then an
    overlapping one (full optimize), into its own table — more writer
    threads than cores, so seq allocations and state-file writes
    interleave."""
    root = tmp_path / "lake"
    cat = Catalog(spark, str(root), commit_mode=mode)
    names = [f"t{i}" for i in range(8)]
    for name in names:
        cat.create(name, SCHEMA, None, ["k"])
    seq0 = cat._state["next_seq"]
    errors = []

    def writer(i, name):
        try:
            cat.upsert(name, spark.createDataFrame([(k, float(i)) for k in (0, 1, 2)], SCHEMA))
            cat.upsert(name, spark.createDataFrame([(k, i + 0.5) for k in (2, 3)], SCHEMA))
        except Exception as exc:  # surfaced below, with the table name
            errors.append((name, exc))

    threads = [threading.Thread(target=writer, args=(i, n)) for i, n in enumerate(names)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the seq read-modify-write finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

    for i, name in enumerate(names):
        assert _content(cat, name) == [
            (0, float(i)), (1, float(i)), (2, i + 0.5), (3, i + 0.5)
        ], name

    # both batches of every table survive (keys 0-1 and 2-3), each
    # under a seq no other batch got
    seqs = [
        r[0]
        for name in names
        for r in cat._raw_table(name).select(INGEST_COL).distinct().collect()
    ]
    assert len(seqs) == 16 and len(set(seqs)) == 16
    assert set(seqs) == set(range(seq0, seq0 + 16))

    with open(os.path.join(root, "_catalog.json")) as f:
        state = json.load(f)
    assert state["next_seq"] == seq0 + 16 == cat._state["next_seq"]
    assert set(names) <= set(state["tables"])
    reopened = Catalog(spark, str(root), commit_mode=mode)
    assert all(
        reopened.table(n).agg(F.count(F.lit(1))).first()[0] == 4 for n in names
    )
