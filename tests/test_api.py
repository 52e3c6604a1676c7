"""Public Engine accessors: universe gating, inclusive ranges, null drops."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.api import READS, Engine
from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines.runner import backfill_flow, ensure_tables
from nt_data_pipelines_spark.sources import synthetic as S

N_DAYS = 150  # halved from 300 (same assertions hold; fixture is the suite's slowest setup)
WINDOW = 60


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("api") / "lake"))
    ensure_tables(cat)
    cat.upsert("calendar", S.load_calendar(spark, N_DAYS))
    cat.upsert("universe", S.load_universe(spark, N_DAYS))
    cat.upsert("stock_prices", S.load_stock_prices(spark, N_DAYS))
    cat.upsert("etf_prices", S.load_etf_prices(spark, N_DAYS))
    backfill_flow(spark, cat, window=WINDOW, half_life=20.0)
    return Engine(cat)


@pytest.fixture(scope="module")
def span(engine):
    cal = sorted(r["date"] for r in engine.catalog.table("calendar").collect())
    return cal[0], cal[-1]


def test_inclusive_between(engine, span):
    start, end = span
    uni = engine.get_universe(start, end)
    dates = uni.select("date").distinct()
    assert dates.agg(F.min("date")).first()[0] == start  # both endpoints included
    assert dates.agg(F.max("date")).first()[0] == end


def test_universe_gate_in_accessors(engine, span):
    start, end = span
    # ghost ticker has prices but is never in the universe
    prices = engine.get_prices(start, end)
    assert prices.filter(F.col("ticker") == S.GHOST_TICKER).count() == 0
    # ungated stock_returns accessor still carries it
    raw = engine.get_stock_returns(start, end)
    assert raw.filter(F.col("ticker") == S.GHOST_TICKER).count() > 0


def test_measure_accessors_drop_nulls(engine, span):
    start, end = span
    for df, col in [
        (engine.get_alphas(start, end), "alpha"),
        (engine.get_factor_loadings(start, end), "loading"),
        (engine.get_idio_vol(start, end), "idio_vol"),
    ]:
        assert df.count() > 0
        assert df.filter(F.col(col).isNull()).count() == 0


def test_columns_match_reference_surface(engine, span):
    start, end = span
    assert engine.get_universe_returns(start, end).columns == ["date", "ticker", "return"]
    assert engine.get_benchmark_weights(start, end).columns == ["date", "ticker", "weight"]
    assert engine.get_factor_covariances(start, end).columns == [
        "date", "factor_1", "factor_2", "covariance",
    ]
    assert engine.get_portfolio_weights(start, end).columns == ["date", "ticker", "weight"]


def test_sql_surface(engine, span):
    start, end = span
    got = engine.sql(
        """
        SELECT u.ticker, COUNT(*) AS n_days
        FROM universe u JOIN stock_returns r
          ON u.date = r.date AND u.ticker = r.ticker
        GROUP BY u.ticker ORDER BY u.ticker
        """
    )
    rows = {r["ticker"]: r["n_days"] for r in got.collect()}
    assert S.GHOST_TICKER not in rows  # SQL path hits the same gated tables
    assert rows and all(n > 0 for n in rows.values())
    # SQL inner join == the accessor's left join minus null-return rows
    # (the reference accessor keeps universe rows with no return yet)
    df_count = (
        engine.get_universe_returns(start, end).filter(F.col("return").isNotNull()).count()
    )
    assert sum(rows.values()) == df_count


def test_gate_keeps_unmatched_universe_rows(spark, tmp_path):
    """Left-join semantics survive partition pruning (ADVICE r2, high).

    A universe member with NO row at all in the measure table must come
    back from the gated accessor with a null measure — the reference's
    left join (utils/data.py:21-29) keeps it. A post-join
    `year BETWEEN` filter would silently drop it (its year is NULL),
    so the pruning must be applied per-side, pre-join.
    """
    from nt_data_pipelines_spark.pipelines.runner import TABLES

    cat = Catalog(spark, str(tmp_path / "lake"))
    for name in ("universe", "stock_returns"):
        spec = TABLES[name]
        cat.create(name, spec["schema"], spec["partition"], spec["pk"])
    d = dt.date(2024, 3, 4)
    cat.upsert(
        "universe",
        spark.createDataFrame([(d, 2024, "AAA"), (d, 2024, "ZZZ")], TABLES["universe"]["schema"]),
    )
    cat.upsert(
        "stock_returns",
        spark.createDataFrame([("AAA", d, 2024, 0.01)], TABLES["stock_returns"]["schema"]),
    )
    eng = Engine(cat)
    got = {r["ticker"]: r["return"] for r in eng.get_universe_returns(d, d).collect()}
    assert got == {"AAA": 0.01, "ZZZ": None}


def test_calendar_accessors(engine, span):
    start, end = span
    assert engine.get_last_market_date() == end
    rng = engine.get_trading_date_range(21)
    assert rng.count() == 21
    assert rng.agg(F.max("date")).first()[0] == end


def test_sql_resolves_only_the_tables_it_names(engine, monkeypatch):
    """``Engine.sql`` registers the catalog tables its query names,
    matched case-insensitively, and no other."""
    cat = engine.catalog
    resolved = []
    table = cat.table

    def spy(name):
        resolved.append(name)
        return table(name)

    monkeypatch.setattr(cat, "table", spy)
    got = engine.sql("SELECT COUNT(*) AS n FROM STOCK_PRICES").first()["n"]
    assert resolved == ["stock_prices"]
    assert got == table("stock_prices").count()


def canon(table) -> Counter:
    """A result's rows as a multiset; NaN made equal to itself."""
    return Counter(
        tuple("NaN" if isinstance(v, float) and v != v else v for v in row.values())
        for row in table.to_pylist()
    )


def assert_sorted(table, keys) -> None:
    rows = list(zip(*(table[k].to_pylist() for k in keys)))
    assert rows == sorted(rows)


@pytest.mark.parametrize("accessor", sorted(READS))
def test_arrow_path_equals_spark_path(engine, span, accessor):
    """Every range accessor, one window per band (1-10, 11-63 and
    64-252 trading days): the Arrow read equals the Spark plan in rows
    (as a multiset, nulls and NaN included) and in ``toArrow()``
    schema, and comes back sorted by the accessor's keys."""
    spec = READS[accessor]
    cal = sorted(r["date"] for r in engine.catalog.table("calendar").collect())
    windows = [cal[-7:], cal[70:110], cal[10:140]]
    for days in windows:
        start, end = days[0], days[-1]
        arrow = engine._arrow_read(spec, start, end)
        assert arrow is not None  # a small local read is served from Arrow
        served = getattr(engine, accessor)(start, end).toArrow()
        oracle = engine._spark_read(spec, start, end).toArrow()
        assert served.schema == oracle.schema
        assert canon(served) == canon(oracle) == canon(arrow)
        assert_sorted(served, spec.keys)
    assert oracle.num_rows > 0
