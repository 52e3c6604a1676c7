"""Universe reconstruction (U5) + trading DataFrame stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.pipelines.trading import (
    notional_deltas,
    positions_to_close,
    target_notionals,
)
from nt_data_pipelines_spark.pipelines.universe import construct_universe
from nt_data_pipelines_spark.sources import synthetic as S

N_DAYS = 60


def test_universe_reconstruction_roundtrip(spark, tmp_path):
    """Walking the change log backwards from final membership must
    reproduce the synthetic per-date universe (ignoring the short
    ticker's price-driven absence, which is not membership). Committed
    to the ``universe`` table, the rows get ``year`` from their date."""
    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines.runner import ensure_tables

    calendar = S.load_calendar(spark, N_DAYS)
    changes = S.load_constituent_changes(spark, N_DAYS)
    final_members = [
        t for t in S.TICKERS if t != S.EXIT_TICKER
    ]  # after the midpoint swap
    got = construct_universe(spark, final_members, changes, calendar).cache()

    dates = sorted(r["date"] for r in calendar.collect())
    half = len(dates) // 2
    before = got.filter(F.col("date") == dates[half - 1])
    after = got.filter(F.col("date") == dates[half])
    before_set = {r["ticker"] for r in before.collect()}
    after_set = {r["ticker"] for r in after.collect()}
    assert S.EXIT_TICKER in before_set and S.EXIT_TICKER not in after_set
    assert S.ENTER_TICKER not in before_set and S.ENTER_TICKER in after_set
    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)
    cat.upsert("universe", got)
    committed = cat.table("universe")
    assert committed.count() == got.count()
    assert committed.filter(~F.col("year").eqNullSafe(F.year("date"))).count() == 0


def test_trading_daily_flow_end_to_end(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines.runner import ensure_tables
    from nt_data_pipelines_spark.pipelines.trading import trading_daily_flow
    from nt_data_pipelines_spark.sinks import RecordingBroker, RecordingMessageSink
    from nt_data_pipelines_spark.sources.broker import SyntheticBroker

    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)
    cat.upsert("calendar", S.load_calendar(spark, 30))
    # trade on the latest trading date, with weights from the one before
    cal_dates = sorted(r["date"] for r in cat.table("calendar").collect())
    today, prev = cal_dates[-1], cal_dates[-2]
    weights = spark.createDataFrame(
        [("T00", prev, prev.year, 0.6), ("T01", prev, prev.year, 0.4)],
        ["ticker", "date", "year", "weight"],
    )
    cat.upsert("portfolio_weights", weights)

    class Broker(SyntheticBroker, RecordingBroker):
        def __init__(self):
            SyntheticBroker.__init__(self, equity=100_000.0, holdings=[("T01", 70_000.0), ("T09", 5_000.0)])
            RecordingBroker.__init__(self)

    broker, slack = Broker(), RecordingMessageSink()

    # gate: a non-trading day (not in the calendar) -> no action
    skipped = trading_daily_flow(cat, broker, slack, today=today + dt.timedelta(days=5))
    assert skipped == {"ran": False, "reason": "market closed"}
    assert broker.orders == []

    # an open market day trades with the PREVIOUS market date's weights
    result = trading_daily_flow(cat, broker, slack, today=today)
    assert result["ran"] is True
    # T09 held with no target -> sold via delta (target 0 not listed -> deltas)
    placed = dict(broker.orders)
    assert placed["T00"] == 60_000.0  # buy to target
    assert placed["T01"] == -30_000.0  # trim 70k -> 40k
    assert placed["T09"] == -5_000.0  # full exit
    assert slack.messages and "equity: 100,000.00" in slack.messages[0]
    # instant-fill broker: polling tier reconciles every placed order
    assert result["all_filled"] is True and result["fills"] == 3
    assert "fills: 3" in result["fill_summary"]
    assert "filled buy T00 60,000.00" in slack.messages[1]


def test_order_fill_polling_and_timeout(spark):
    """Slow-fill broker exercises the poll loop; a never-filling one
    exercises the 10-min budget (reference trading_flow.py:137-221)."""
    from nt_data_pipelines_spark.sinks import (
        RecordingBroker,
        RecordingMessageSink,
        fills_summary,
        wait_for_orders_to_fill,
    )
    from nt_data_pipelines_spark.sources.broker import load_fills

    slow = RecordingBroker(fill_after_polls=3)
    slow.market_order("T00", 1000.0)
    slow.market_order("T01", -250.0)
    sleeps: list[float] = []
    assert wait_for_orders_to_fill(slow, 10, 60, sleep=sleeps.append) is True
    assert sleeps == [60, 60, 60]  # polled 4 times, slept between

    fills = load_fills(spark, slow)
    got = {r["ticker"]: (r["side"], r["filled_qty"], r["notional"]) for r in fills.collect()}
    assert got == {"T00": ("buy", 10.0, 1000.0), "T01": ("sell", 2.5, 250.0)}
    sink = RecordingMessageSink()
    text = fills_summary(fills, 50_000.0, sink)
    assert "fills: 2" in text and "filled sell T01 250.00" in text

    # never fills inside the budget -> False after budget/interval polls
    stuck = RecordingBroker(fill_after_polls=10_000)
    stuck.market_order("T02", 500.0)
    sleeps = []
    assert wait_for_orders_to_fill(stuck, 10, 60, sleep=sleeps.append) is False
    assert len(sleeps) == 10  # 10 minutes / 60s interval
    assert load_fills(spark, stuck).count() == 0  # nothing filled


def test_target_notionals_clip_round(spark):
    w = spark.createDataFrame([("A", 0.6004), ("B", -0.2), ("C", 0.4)], ["ticker", "weight"])
    got = {r["ticker"]: r["target_notional"] for r in target_notionals(w, 1000.0).collect()}
    assert got == {"A": 600.4, "B": 0.0, "C": 400.0}


def test_positions_to_close_semi_join(spark):
    targets = spark.createDataFrame(
        [("A", 500.0), ("B", 0.0), ("C", 0.0)], ["ticker", "target_notional"]
    )
    positions = spark.createDataFrame([("B", 120.0), ("D", 80.0)], ["ticker", "notional"])
    got = positions_to_close(targets, positions).collect()
    assert [(r["ticker"], r["notional"]) for r in got] == [("B", 120.0)]


def test_notional_deltas_full_outer(spark):
    targets = spark.createDataFrame(
        [("A", 500.0), ("B", 100.0), ("E", 0.5)], ["ticker", "target_notional"]
    )
    positions = spark.createDataFrame([("B", 300.0), ("C", 50.0)], ["ticker", "notional"])
    got = {r["ticker"]: r["notional_delta"] for r in notional_deltas(targets, positions).collect()}
    # A: buy 500 (target only); B: sell 200; C: sell 50 (held only); E: <$1 dropped
    assert got == {"A": 500.0, "B": -200.0, "C": -50.0}
    assert "E" not in got


def test_block_summary_structure(spark):
    """Block-Kit-shaped daily summary: header + fields, buys/sells
    totals, top-3 per side, top-5 positions, empty-day short form
    (reference utils/slack_daily_summary.py:47-202)."""
    from nt_data_pipelines_spark.summary import (
        RecordingBlockSink,
        build_daily_summary_blocks,
        render_blocks_text,
        send_daily_trading_summary,
    )

    fills = [
        {"ticker": t, "side": s, "filled_qty": q, "filled_avg_price": p, "notional": q * p}
        for t, s, q, p in [
            ("A", "buy", 10.0, 100.0), ("B", "buy", 5.0, 50.0), ("C", "buy", 2.0, 30.0),
            ("D", "buy", 1.0, 10.0), ("E", "sell", 4.0, 25.0),
        ]
    ]
    positions = [{"ticker": f"P{i}", "value": float(1000 - i)} for i in range(7)]
    text, blocks = build_daily_summary_blocks(fills, 123_456.0, positions, 120_000.0)
    assert text == "Daily Trading Summary"
    assert blocks[0]["type"] == "header"
    fields = [f["text"] for f in blocks[1]["fields"]]
    assert any("$123,456.00" in f for f in fields)
    assert any("Day P&L" in f and "+2.88%" in f for f in fields)  # 3456/120000
    assert any("7 open" in f for f in fields)
    joined = render_blocks_text(blocks)
    assert "*Buys:* 4 · $1,320.00" in joined and "*Sells:* 1 · $100.00" in joined
    top_buys = next(b for b in blocks if "Top 3 Buys" in str(b))
    assert top_buys["text"]["text"].index("`A`") < top_buys["text"]["text"].index("`B`")
    assert "`D`" not in top_buys["text"]["text"]  # only top 3
    top_pos = next(b for b in blocks if "Top 5 Positions" in str(b))
    assert "`P5`" not in top_pos["text"]["text"]  # only top 5 by value

    # empty day short form
    text0, blocks0 = build_daily_summary_blocks([], 99_000.0)
    assert text0 == "No trades executed today" and len(blocks0) == 1

    # transport: block sink gets blocks, plain sink gets rendered text
    from nt_data_pipelines_spark.sinks import RecordingMessageSink
    from nt_data_pipelines_spark.sources.broker import FILL_SCHEMA

    import datetime as _dt

    fdf = spark.createDataFrame(
        [("o1", "A", "buy", 10.0, 100.0, _dt.datetime(2024, 1, 2, 14, 30))], FILL_SCHEMA
    ).withColumn("notional", F.col("filled_qty") * F.col("filled_avg_price"))
    bsink = RecordingBlockSink()
    send_daily_trading_summary(fdf, 1000.0, bsink)
    assert bsink.sent and bsink.sent[0][0] == "Daily Trading Summary"
    tsink = RecordingMessageSink()
    send_daily_trading_summary(fdf, 1000.0, tsink)
    assert tsink.messages and "*Top 3 Buys*" in tsink.messages[0]


def test_stale_open_orders_cancelled_before_placement(spark, tmp_path):
    """A stale unfilled order from a prior run must be cancelled at the
    top of the daily flow (reference trading_flow.py:283-286 +
    cancel_all_orders :101-104) — otherwise it survives into today and
    double-executes against the fresh deltas."""
    import datetime as dt

    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines.runner import ensure_tables
    from nt_data_pipelines_spark.pipelines.trading import trading_daily_flow
    from nt_data_pipelines_spark.sinks import RecordingBroker, RecordingMessageSink
    from nt_data_pipelines_spark.sources.broker import SyntheticBroker

    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)
    cat.upsert("calendar", S.load_calendar(spark, 30))
    cal_dates = sorted(r["date"] for r in cat.table("calendar").collect())
    today, prev = cal_dates[-1], cal_dates[-2]
    weights = spark.createDataFrame(
        [("T00", prev, prev.year, 1.0)], ["ticker", "date", "year", "weight"]
    )
    cat.upsert("portfolio_weights", weights)

    class Broker(SyntheticBroker, RecordingBroker):
        def __init__(self):
            SyntheticBroker.__init__(self, equity=10_000.0, holdings=[])
            RecordingBroker.__init__(self)

    broker, slack = Broker(), RecordingMessageSink()
    broker.market_order("STALE", 1_234.0)  # yesterday's never-filled order
    broker.orders.clear()  # it predates today's run
    assert len(broker._open) == 1

    result = trading_daily_flow(cat, broker, slack, today=today)
    assert result["ran"] is True
    assert result["cancelled"] == 1
    assert [o["ticker"] for o in broker.cancelled] == ["STALE"]
    # the stale order never fills — only today's placement does
    assert result["all_filled"] is True
    filled_tickers = {o["ticker"] for o in broker.filled_orders()}
    assert "STALE" not in filled_tickers and "T00" in filled_tickers
    assert dict(broker.orders) == {"T00": 10_000.0}


def test_universe_weekend_change_applies_next_trading_day(spark):
    """Regression (review finding): a change effective on a weekend
    must take effect at the FIRST trading date after it — exact-date
    matching silently dropped the inversion and corrupted every
    earlier snapshot. Unparseable date strings raise."""
    import datetime as dt

    from pyspark.sql import types as T

    cal = spark.createDataFrame(
        [(dt.date(2024, 1, d),) for d in (4, 5, 8, 9)],  # Thu Fri Mon Tue
        T.StructType([T.StructField("date", T.DateType())]),
    )
    ch_schema = "effective_date string, ticker string, action string"
    # NEW added effective Saturday Jan 6 -> visible from Monday Jan 8
    changes = spark.createDataFrame(
        [("January 6, 2024", "NEW", "Added")], ch_schema
    )
    uni = construct_universe(spark, ["AAA", "NEW"], changes, cal)
    by_date = {
        d: {r["ticker"] for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(uni.collect(), key=lambda r: r["date"]), key=lambda r: r["date"]
        )
    }
    assert by_date[dt.date(2024, 1, 5)] == {"AAA"}          # before effect
    assert by_date[dt.date(2024, 1, 8)] == {"AAA", "NEW"}   # next open day
    bad = spark.createDataFrame([("June 31st-ish, 2024", "X", "Added")], ch_schema)
    with pytest.raises(ValueError, match="unparseable"):
        construct_universe(spark, ["AAA"], bad, cal)


def test_daily_summary_blocks_only_sink(spark):
    """Regression (review finding): a sink implementing only
    send_blocks must not crash daily_summary AFTER orders are live."""
    from nt_data_pipelines_spark.sinks import daily_summary
    from nt_data_pipelines_spark.summary import RecordingBlockSink

    deltas = spark.createDataFrame(
        [("A", 10.0, 0.0, 10.0)],
        ["ticker", "target_notional", "current_notional", "notional_delta"],
    )
    sink = RecordingBlockSink()
    text = daily_summary(deltas, 100.0, sink)
    assert sink.sent and sink.sent[0][0] == text


def test_freshness_gate_tolerates_future_calendar(spark):
    """Regression (review finding): the ingested calendar covers today
    and future schedule dates (market_is_open REQUIRES it) — the gate
    must bound by today or the nightly DAG silently stops forever."""
    import datetime as dt

    from pyspark.sql import types as T

    from nt_data_pipelines_spark.pipelines.runner import _lookback

    today = dt.date(2024, 1, 9)
    cal = spark.createDataFrame(
        [(dt.date(2024, 1, d),) for d in (5, 8, 9, 10, 11)],  # incl. future
        T.StructType([T.StructField("date", T.DateType())]),
    )

    def gate(t):  # daily_flow's gate
        return _lookback(cal, t, ())[0] == t - dt.timedelta(days=1)

    # lookbacks stop at the last date before today, future dates unseen
    assert _lookback(cal, today, (1, 2, 9)) == (
        dt.date(2024, 1, 8),
        {1: dt.date(2024, 1, 8), 2: dt.date(2024, 1, 5), 9: dt.date(2024, 1, 5)},
    )
    assert gate(today)                     # last before 9th = 8th
    assert gate(dt.date(2024, 1, 11))      # last before 11th = 10th
    assert not gate(dt.date(2024, 1, 13))  # last before 13th = 11th
    # no date before today: an empty array, NULLs rather than an error
    assert _lookback(cal, dt.date(2024, 1, 5), (2,)) == (None, {2: None})
    assert not gate(dt.date(2024, 1, 5))
