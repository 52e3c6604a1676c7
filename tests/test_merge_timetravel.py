"""Catalog MERGE (CDC apply-changes) and filelist-mode time travel."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("close", T.DoubleType()),
    ]
)

D1 = dt.date(2024, 1, 2)
D2 = dt.date(2025, 1, 3)


def _rows(spark, data):
    return spark.createDataFrame([(t, d, d.year, c) for t, d, c in data], SCHEMA)


def _cdc(spark, data):
    """(ticker, date, close, deleted) change rows."""
    return spark.createDataFrame(
        [(t, d, d.year, c, x) for t, d, c, x in data],
        T.StructType(list(SCHEMA.fields) + [T.StructField("deleted", T.BooleanType())]),
    )


def _state(cat, name):
    return sorted((r["ticker"], r["close"]) for r in cat.table(name).collect())


def test_merge_update_insert_delete(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "lake"))
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0), ("C", D1, 3.0)]))
    batch = _cdc(
        spark,
        [
            ("A", D1, 10.0, False),  # update
            ("C", D1, 0.0, True),    # delete
            ("D", D2, 4.0, False),   # insert
            ("E", D2, 0.0, True),    # tombstone for a row we never had: no-op
        ],
    )
    cat.merge("px", batch, delete_col="deleted")
    assert _state(cat, "px") == [("A", 10.0), ("B", 2.0), ("D", 4.0)]
    # merge is idempotent for pure upserts (reapplying the same batch)
    cat.merge("px", batch, delete_col="deleted")
    assert _state(cat, "px") == [("A", 10.0), ("B", 2.0), ("D", 4.0)]


def test_merge_without_delete_col_and_guards(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "lake"))
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))
    cat.merge("px", _rows(spark, [("A", D1, 5.0), ("B", D2, 7.0)]))
    assert _state(cat, "px") == [("A", 5.0), ("B", 7.0)]
    with pytest.raises(ValueError, match="multiple rows"):
        cat.merge("px", _rows(spark, [("A", D1, 1.0), ("A", D1, 2.0)]))
    with pytest.raises(ValueError, match="not in table schema"):
        cat.merge("px", _rows(spark, [("A", D1, 1.0)]), on="nope")
    nopk = T.StructType([T.StructField("v", T.DoubleType())])
    cat.create("flat", nopk, None, None, mode="replace")
    with pytest.raises(ValueError, match="no primary keys"):
        cat.merge("flat", spark.createDataFrame([(1.0,)], nopk))


def test_merge_atomic_in_filelist_mode(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "mlake"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    g = cat._current_gen("px")
    cat.merge("px", _cdc(spark, [("A", D1, 9.0, False), ("B", D2, 0.0, True)]),
              delete_col="deleted")
    assert cat._current_gen("px") == g + 1  # one commit
    assert _state(cat, "px") == [("A", 9.0)]
    fresh = Catalog(spark, str(tmp_path / "mlake"), commit_mode="filelist")
    assert _state(fresh, "px") == [("A", 9.0)]


def test_time_travel_reads_retained_generations(spark, tmp_path):
    cat = Catalog(
        spark, str(tmp_path / "tt"), commit_mode="filelist", time_travel=2
    )
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    for v in (2.0, 3.0, 4.0):
        cat.merge("m", _rows(spark, [("A", D1, v)]))
    gens = [h["generation"] for h in cat.history("m")]
    cur = gens[-1]
    # current + 2 retained; the empty creation snapshot needs no files
    assert gens == [0, cur - 2, cur - 1, cur]
    assert [r["close"] for r in cat.table_at("m", cur).collect()] == [4.0]
    assert [r["close"] for r in cat.table_at("m", cur - 2).collect()] == [2.0]
    # beyond retention: GC'd
    with pytest.raises(LookupError, match="GC'd|not readable"):
        cat.table_at("m", cur - 3).collect()


def test_time_travel_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="time_travel requires"):
        Catalog(spark, str(tmp_path / "x"), time_travel=2)
    with pytest.raises(ValueError, match="time_travel must be"):
        Catalog(spark, str(tmp_path / "x"), commit_mode="filelist", time_travel=True)
    with pytest.raises(ValueError, match="time_travel must be"):
        Catalog(spark, str(tmp_path / "x"), commit_mode="filelist", time_travel=99)
    cat = Catalog(spark, str(tmp_path / "r"))
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    with pytest.raises(ValueError, match="requires commit_mode='filelist'"):
        cat.history("m")
    with pytest.raises(ValueError, match="requires commit_mode='filelist'"):
        cat.table_at("m", 0)
