"""Full-DAG runner over the catalog + source/sink adapters (S7-S13, T2, §3.1)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines.calendar import last_market_date, trading_date_range
from nt_data_pipelines_spark.pipelines.runner import (
    TABLES,
    _lookback,
    backfill_flow,
    daily_flow,
    ensure_tables,
)
from nt_data_pipelines_spark.pipelines.trading import notional_deltas, target_notionals
from nt_data_pipelines_spark.sinks import (
    RecordingBroker,
    RecordingMessageSink,
    daily_summary,
    place_orders,
)
from nt_data_pipelines_spark.sources import synthetic as S
from nt_data_pipelines_spark.sources.market_data import (
    SyntheticBarClient,
    fetch_bars,
    year_chunks,
)

N_DAYS = 300
WINDOW = 120


def test_year_chunks():
    got = list(year_chunks(dt.date(2021, 3, 1), dt.date(2023, 2, 1)))
    assert got == [
        (dt.date(2021, 3, 1), dt.date(2021, 12, 31)),
        (dt.date(2022, 1, 1), dt.date(2022, 12, 31)),
        (dt.date(2023, 1, 1), dt.date(2023, 2, 1)),
    ]


def test_fetch_bars_chunked_union_and_empty_schema(spark):
    pdf = S.stock_prices_pdf(50)
    client = SyntheticBarClient(pdf)
    lo, hi = pdf.date.min(), pdf.date.max()
    got = fetch_bars(spark, client, ["T00", "T01"], lo, hi)
    assert got.count() == int((pdf.ticker.isin(["T00", "T01"])).sum())
    empty = fetch_bars(spark, client, ["T00"], dt.date(1990, 1, 1), dt.date(1990, 2, 1))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields][:3] == ["ticker", "date", "open"]


def test_calendar_utils_and_freshness_gate(spark, tmp_path):
    cal = S.load_calendar(spark, 30)
    last = last_market_date(cal)
    dates = sorted(r["date"] for r in cal.collect())
    assert trading_date_range(cal, 5).count() == 5
    end, starts = _lookback(cal, last + dt.timedelta(days=1), (5, 100))
    assert end == last
    assert starts == {5: dates[-5], 100: dates[0]}  # fewer than 100: all of them

    # daily_flow's gate is _lookback's end == yesterday. Only the
    # calendar exists, so an open gate fails on the first stage's read
    # and a closed one returns False before any stage starts.
    cat = Catalog(spark, str(tmp_path / "lake"))
    spec = TABLES["calendar"]
    cat.create("calendar", spec["schema"], spec["partition"], spec["pk"])
    cat.insert("calendar", cal)
    calls = []

    def run(today):
        return daily_flow(
            spark, cat, today, window=5, half_life=2.0,
            on_failure=lambda exc: calls.append((today, type(exc))),
        )

    with pytest.raises(KeyError, match="does not exist"):
        run(last + dt.timedelta(days=1))
    assert calls == [(last + dt.timedelta(days=1), KeyError)]
    assert run(last + dt.timedelta(days=3)) is False  # gap days: stale calendar
    assert run(dates[0]) is False  # no market date before today: closed, no raise
    assert len(calls) == 1


@pytest.mark.slow
def test_full_dag_backfill(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)

    cat.upsert("calendar", S.load_calendar(spark, N_DAYS))
    cat.upsert("universe", S.load_universe(spark, N_DAYS))
    cat.upsert("stock_prices", S.load_stock_prices(spark, N_DAYS))
    cat.upsert("etf_prices", S.load_etf_prices(spark, N_DAYS))

    backfill_flow(spark, cat, window=WINDOW, half_life=20.0)

    # every derived table materialized
    for t in ("stock_returns", "factor_loadings", "idio_vol", "factor_covariances",
              "signals", "scores", "alphas", "benchmark_weights", "benchmark_returns",
              "betas", "portfolio_weights", "portfolio_metrics"):
        assert cat.table(t).count() > 0, t

    # portfolio invariants on the final table
    w = cat.table("portfolio_weights")
    sums = w.groupBy("date").agg(F.sum("weight").alias("s")).collect()
    assert all(r["s"] == pytest.approx(1.0, abs=1e-6) for r in sums)
    assert w.filter(F.col("weight") < -1e-9).count() == 0

    # rerunning the whole DAG converges (T4 idempotence via PK upsert)
    before = {t: cat.table(t).count() for t in ("stock_returns", "portfolio_weights")}
    backfill_flow(spark, cat, window=WINDOW, half_life=20.0)
    after = {t: cat.table(t).count() for t in ("stock_returns", "portfolio_weights")}
    assert before == after

    # trading tail: weights -> notionals -> deltas -> orders + summary
    # (re-acquire the handle: optimize() rewrote files, old DataFrames
    # pin the old listing — catalog contract is fresh table() per read)
    w = cat.table("portfolio_weights")
    last_date = w.agg(F.max("date")).first()[0]
    todays = w.filter(F.col("date") == last_date).select("ticker", "weight")
    targets = target_notionals(todays, equity=1_000_000.0)
    positions = spark.createDataFrame([("T00", 50_000.0)], ["ticker", "notional"])
    deltas = notional_deltas(targets, positions)
    broker, slack = RecordingBroker(), RecordingMessageSink()
    n = place_orders(deltas, broker)
    assert n == deltas.count() and len(broker.orders) == n
    text = daily_summary(deltas, 1_000_000.0, slack)
    assert "equity: 1,000,000.00" in text and slack.messages == [text]


def test_failure_hook_fires(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "lake2"))
    ensure_tables(cat)  # tables exist but are empty -> pipeline should fail
    calls = []
    with pytest.raises(ValueError, match="No values found") as info:
        backfill_flow(spark, cat, window=10, half_life=5.0, on_failure=calls.append)
    assert calls == [info.value]


def test_failure_hook_receives_exception_and_formats_blocks(spark, tmp_path):
    """Failure-handler parity (reference slack_failure_handler.py:11-148):
    the hook gets the actual exception, and the Block-Kit formatter
    renders flow name, error type/message, context, and the formatted
    traceback (tail-truncated)."""
    from nt_data_pipelines_spark.summary import (
        RecordingBlockSink,
        build_flow_failure_blocks,
        create_failure_handler,
    )

    cat = Catalog(spark, str(tmp_path / "lake3"))
    ensure_tables(cat)  # empty tables -> backfill raises "No values found"
    sink = RecordingBlockSink()
    hook = create_failure_handler("backfill", sink, context={"run_id": "r-42"})
    with pytest.raises(ValueError, match="No values found"):
        backfill_flow(spark, cat, window=10, half_life=5.0, on_failure=hook)

    assert len(sink.sent) == 1
    text, blocks = sink.sent[0]
    assert text == "Flow Failed: backfill"
    assert blocks[0]["type"] == "header"
    rendered = " ".join(str(b) for b in blocks)
    assert "ValueError" in rendered and "No values found" in rendered
    assert "r-42" in rendered
    assert "Traceback (most recent call last)" in rendered
    assert any(b.get("type") == "divider" for b in blocks)

    # plain-text sinks get a faithful rendering through the same hook
    plain = RecordingMessageSink()
    hook2 = create_failure_handler("backfill", plain)
    with pytest.raises(ValueError):
        backfill_flow(spark, cat, window=10, half_life=5.0, on_failure=hook2)
    assert plain.messages and "Flow Failed: backfill" in plain.messages[0]
    assert "ValueError" in plain.messages[0]


def test_failure_blocks_truncate_long_traceback():
    from nt_data_pipelines_spark.summary import build_flow_failure_blocks

    try:
        raise RuntimeError("x" * 5000)
    except RuntimeError as e:
        text, blocks = build_flow_failure_blocks("f", e, max_traceback_chars=2000)
    tb_block = blocks[-1]["text"]["text"]
    # the marker LEADS the retained tail: it is the HEAD that was cut
    assert "(truncated) ..." in tb_block
    assert tb_block.rstrip("`\n").endswith("x" * 20)  # raising frame kept
    assert len(tb_block) < 2200  # code fence + label + capped body
    # parameters are capped at ~200 chars too
    try:
        raise ValueError("boom")
    except ValueError as e:
        _, blocks = build_flow_failure_blocks(
            "f", e, context={"parameters": {"k": "v" * 500}}
        )
    ctx = " ".join(str(b) for b in blocks)
    assert "..." in ctx and "v" * 250 not in ctx
