"""Engine reads served from Arrow on the driver (``Catalog.read_arrow``).

Small hand-made lakes: the Arrow path must equal the Spark plan in
both commit modes, see every commit, skip what Spark's file index
skips, prune year partitions without opening their files, and hand
ineligible reads (over the byte bound, a remote root) to Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pytest

from nt_data_pipelines_spark.api import READS, Engine
from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines.runner import TABLES

from test_api import assert_sorted, canon

Y23, Y24 = dt.date(2023, 12, 29), dt.date(2024, 1, 2)
NAN = float("nan")


def make_lake(spark, root, mode: str = "rename", tables=("universe", "stock_returns", "alphas")):
    """Two years, one unmatched universe key (ZZZ), a null and a NaN
    measure."""
    cat = Catalog(spark, root, commit_mode=mode)
    for name in tables:
        spec = TABLES[name]
        cat.create(name, spec["schema"], spec["partition"], spec["pk"], generated={"year": "year(date)"})
    rows = {
        "universe": [(d, t) for d in (Y23, Y24) for t in ("AAA", "BBB", "ZZZ")],
        "stock_returns": [
            ("AAA", Y23, 0.01), ("AAA", Y24, NAN), ("BBB", Y23, None), ("BBB", Y24, 0.02),
        ],
        "alphas": [
            ("AAA", Y23, "r", 0.1), ("AAA", Y24, "r", NAN), ("BBB", Y23, "r", 0.2),
            ("BBB", Y24, "r", None),
        ],
        "stock_prices": [
            (t, d, 10.0 + i) for i, d in enumerate((Y23, Y24)) for t in ("AAA", "BBB")
        ],
    }
    ddl = {
        "universe": "date date, ticker string",
        "stock_returns": "ticker string, date date, return double",
        "alphas": "ticker string, date date, signal string, alpha double",
        "stock_prices": "ticker string, date date, close double",
    }
    for name in tables:
        df = spark.createDataFrame(rows[name], ddl[name])
        if name == "stock_prices":
            df = df.selectExpr("*", *[f"CAST(NULL AS double) AS {c}" for c in (
                "open", "high", "low", "volume", "trade_count", "vwap")])
        cat.upsert(name, df)
    return cat


def assert_paths_agree(engine, accessor, start, end):
    spec = READS[accessor]
    arrow = engine._arrow_read(spec, start, end)
    assert arrow is not None
    oracle = engine._spark_read(spec, start, end).toArrow()
    served = getattr(engine, accessor)(start, end).toArrow()
    assert served.schema == oracle.schema
    assert canon(arrow) == canon(served) == canon(oracle)
    assert_sorted(served, spec.keys)
    return served


@pytest.mark.parametrize("mode", ["rename", "filelist"])
def test_arrow_equals_spark_on_hand_made_lake(spark, tmp_path, mode):
    eng = Engine(make_lake(spark, str(tmp_path / "lake"), mode))
    for start, end in ((Y23, Y24), (Y24, Y24)):
        for accessor in ("get_universe", "get_universe_returns", "get_stock_returns", "get_alphas"):
            assert_paths_agree(eng, accessor, start, end)
    uret = {
        (r["ticker"], r["date"]): r["return"]
        for r in eng.get_universe_returns(Y23, Y24).toArrow().to_pylist()
    }
    assert uret[("ZZZ", Y23)] is None and uret[("BBB", Y23)] is None  # left join keeps them
    assert uret[("AAA", Y24)] != uret[("AAA", Y24)]  # NaN survives
    alphas = canon(eng.get_alphas(Y23, Y24).toArrow())
    # the null alpha and the unmatched key drop, the NaN stays
    assert alphas == canon(pa.Table.from_pylist([
        {"date": Y23, "ticker": "AAA", "alpha": 0.1},
        {"date": Y23, "ticker": "BBB", "alpha": 0.2},
        {"date": Y24, "ticker": "AAA", "alpha": NAN},
    ]))


@pytest.mark.parametrize("mode", ["rename", "filelist"])
def test_read_after_upsert_sees_it(spark, tmp_path, mode):
    cat = make_lake(spark, str(tmp_path / "lake"), mode, tables=("universe", "stock_returns"))
    eng = Engine(cat)
    before = eng.get_universe_returns(Y24, Y24).toArrow().to_pylist()
    assert {r["ticker"]: r["return"] for r in before}["BBB"] == 0.02
    cat.upsert(
        "stock_returns",
        spark.createDataFrame([("BBB", Y24, 0.5), ("ZZZ", Y24, 0.7)], "ticker string, date date, return double"),
    )
    after = assert_paths_agree(eng, "get_universe_returns", Y24, Y24).to_pylist()
    got = {r["ticker"]: r["return"] for r in after}
    assert got["BBB"] == 0.5 and got["ZZZ"] == 0.7


def test_hidden_dirs_are_not_listed(spark, tmp_path):
    """Files under ``_temporary/`` or ``.spark-staging-*`` dirs are an
    uncommitted write's: Spark's file index skips them, and so must
    ``data_files`` and the Arrow read."""
    cat = make_lake(spark, str(tmp_path / "lake"), tables=("universe", "stock_returns"))
    committed = cat.data_files("stock_returns")
    table_dir = os.path.join(cat.root, "stock_returns")
    src = next(p for p, _ in committed if "year=2024" in p)
    for hidden in (
        "year=2024/_temporary/0/_temporary/attempt_0/part-00000-x.c000.snappy.parquet",
        "year=2024/.spark-staging-1/part-00000-y.c000.snappy.parquet",
        "_temporary/0/year=2024/part-00000-z.c000.snappy.parquet",
    ):
        dst = os.path.join(table_dir, hidden)
        os.makedirs(os.path.dirname(dst))
        shutil.copy(src, dst)
    assert sorted(cat.data_files("stock_returns")) == sorted(committed)
    eng = Engine(cat)
    assert_paths_agree(eng, "get_stock_returns", Y23, Y24)
    assert eng.get_stock_returns(Y24, Y24).count() == 2


def test_arrow_read_skips_other_years_files(spark, tmp_path, monkeypatch):
    """Year pruning on the Arrow path: a garbage file in another year's
    partition is never opened by an in-year read."""
    cat = make_lake(spark, str(tmp_path / "lake"), tables=("universe", "stock_prices"))
    for path, _ in cat.data_files("stock_prices"):
        if "year=2023" in path:
            with open(path, "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):  # the garbage would break a read that opened it
        cat.read_arrow("stock_prices", ["close"], date=("between", Y23, Y24))
    spark_reads = []
    monkeypatch.setattr(Engine, "_spark_read", lambda *a: spark_reads.append(a))
    got = Engine(cat).get_prices(Y24, dt.date(2024, 1, 31)).toArrow().to_pylist()
    assert not spark_reads
    assert got == [
        {"date": Y24, "ticker": "AAA", "close": 11.0},
        {"date": Y24, "ticker": "BBB", "close": 11.0},
        {"date": Y24, "ticker": "ZZZ", "close": None},
    ]


def test_over_the_byte_bound_spark_serves(spark, tmp_path, monkeypatch):
    cat = make_lake(spark, str(tmp_path / "lake"), tables=("universe", "stock_returns"))
    eng = Engine(cat)
    want = canon(eng.get_universe_returns(Y23, Y24).toArrow())
    spark_reads = []
    spark_read = Engine._spark_read

    def spy(self, spec, start, end):
        spark_reads.append(spec.table)
        return spark_read(self, spec, start, end)

    monkeypatch.setattr(Engine, "_spark_read", spy)
    assert canon(eng.get_universe_returns(Y23, Y24).toArrow()) == want
    assert spark_reads == []
    monkeypatch.setattr(Catalog, "_ARROW_READ_MAX_BYTES", 1)
    assert cat.read_arrow("stock_returns", ["return"], date=Y24) is None
    assert canon(eng.get_universe_returns(Y23, Y24).toArrow()) == want
    assert spark_reads == ["stock_returns"]


def test_remote_root_is_not_eligible(spark, tmp_path, monkeypatch):
    """A remote root is decided from the root string alone: no file
    system is opened."""
    cat = make_lake(spark, str(tmp_path / "lake"), tables=("universe",))
    cat.root = "s3a://bucket/lake"

    def no_fs(path):
        raise AssertionError(f"opened {path}")

    monkeypatch.setattr(cat, "_hfs", no_fs)
    assert cat.read_arrow("universe", ["ticker"], date=Y24) is None
