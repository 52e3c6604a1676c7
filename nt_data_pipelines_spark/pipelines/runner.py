"""DAG runner: the reference's nightly flow graph over the catalog.

Reproduces ``daily_flow`` / the backfill entry points
(__main__.py:22-49) as one dependency-scheduled stage graph. The
edges are declared once, in :data:`GRAPH`, and both flows run it.
Edges are table-level: a stage starts the moment every table it reads
has committed, even while the stage writing it is still running, so
independent branches (returns, factor model, covariances, signals,
benchmark) submit their Spark jobs concurrently instead of leaving
the cores idle behind one job at a time::

    stage               reads                          upserts, in order
    stock_returns       -                              stock_returns
    etf_returns         -                              etf_returns
    factor_model        stock_returns, etf_returns     idio_vol, factor_loadings
    factor_covariances  etf_returns                    factor_covariances
    signals             stock_returns                  signals, scores
    benchmark           stock_returns                  benchmark_weights,
                                                       benchmark_returns
    betas               stock_returns,                 betas
                        benchmark_returns
    alphas              scores, idio_vol               alphas
    portfolio           alphas, benchmark_weights,     portfolio_weights,
                        factor_loadings,               portfolio_metrics
                        factor_covariances, idio_vol

``alphas`` starts once ``idio_vol`` lands, while ``factor_model``
still writes the loadings, and ``portfolio`` does not wait on
``benchmark_returns``. Each stage reads its inputs from catalog tables
and upserts its outputs — the same read -> transform ->
create/insert/optimize lifecycle as the reference (SURVEY.md §3.1).
Cron scheduling and failure webhooks are deployment concerns;
``on_failure(exc)`` is a pluggable callback.

Both flows run one set of stage bodies, :func:`_stages`, written in
the tick's form. A daily tick passes its lookback span: the T2
freshness gate has passed, each stage reads a T3 tail window and
keeps only ``date == end`` before upserting. Both reads go through
``calendar.between``, which bounds ``year`` too, so a tick's scans of
the year-partitioned tables open only the years its span covers. The
backfill is the same stages over the full history (T5): with no span,
the tail and end-date filters keep every row. ``signals`` and
``uni_ret`` are pinned in both flows, and both run the reference's
"No values found" guards.

No stage writes ``year``: :func:`ensure_tables` declares it generated
from ``date`` on every year-partitioned table, and the catalog adds it
on insert.
"""

from __future__ import annotations

import datetime as dt
import queue
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.config import FACTORS
from nt_data_pipelines_spark.pin import pin
from nt_data_pipelines_spark.pipelines import (
    calculate_alphas,
    calculate_benchmark_returns,
    calculate_benchmark_weights,
    calculate_scores,
    calculate_signals,
    compute_portfolio_weights,
    compute_returns,
)
from nt_data_pipelines_spark.pipelines.betas import estimate_betas
from nt_data_pipelines_spark.pipelines.calendar import between
from nt_data_pipelines_spark.pipelines.covariances import estimate_factor_covariances
from nt_data_pipelines_spark.pipelines.factor_model import (
    factor_loadings_of,
    fit_factor_model,
    idio_vol_of,
)
from nt_data_pipelines_spark.pipelines.reversal import REVERSAL_WINDOW

_D = T.DoubleType()
_S = T.StringType()
_DT = T.DateType()
_I = T.IntegerType()


def _st(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


PRICE_SCHEMA = _st(
    ("ticker", _S), ("date", _DT), ("year", _I), ("open", _D), ("high", _D), ("low", _D),
    ("close", _D), ("volume", _D), ("trade_count", _D), ("vwap", _D),
)
RETURN_SCHEMA = _st(("ticker", _S), ("date", _DT), ("year", _I), ("return", _D))

# Table registry: schema / partition / PK per SURVEY.md §1.2. The
# catalog owns `year`: ensure_tables declares it generated from `date`
# on every year-partitioned table (on a lake created before, once the
# committed rows agree), so stages never write it, and a batch that
# carries it, as the ingest tables' outside input does, is checked.
TABLES: dict[str, dict] = {
    "calendar": {"schema": _st(("date", _DT)), "partition": None, "pk": ["date"]},
    "universe": {
        "schema": _st(("date", _DT), ("year", _I), ("ticker", _S)),
        "partition": ["year"], "pk": ["date", "ticker"],
    },
    # year-partitioned like the reference (stock_prices_flow.py:112-113,
    # etf_prices_flow.py:101): date-ranged scans prune whole years
    "stock_prices": {"schema": PRICE_SCHEMA, "partition": ["year"], "pk": ["date", "ticker"]},
    "etf_prices": {"schema": PRICE_SCHEMA, "partition": ["year"], "pk": ["date", "ticker"]},
    "stock_returns": {"schema": RETURN_SCHEMA, "partition": ["year"], "pk": ["ticker", "date"]},
    "etf_returns": {"schema": RETURN_SCHEMA, "partition": ["year"], "pk": ["ticker", "date"]},
    "factor_loadings": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("factor", _S), ("loading", _D)),
        "partition": ["year"], "pk": ["date", "ticker", "factor"],
    },
    "idio_vol": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("idio_vol", _D)),
        "partition": ["year"], "pk": ["date", "ticker"],
    },
    "factor_covariances": {
        "schema": _st(("date", _DT), ("year", _I), ("factor_1", _S), ("factor_2", _S), ("covariance", _D)),
        "partition": ["year"], "pk": ["date", "factor_1", "factor_2"],
    },
    "signals": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("signal", _S), ("value", _D)),
        "partition": ["year"], "pk": ["ticker", "date", "signal"],
    },
    "scores": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("signal", _S), ("score", _D)),
        "partition": ["year"], "pk": ["ticker", "date", "signal"],
    },
    "alphas": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("signal", _S), ("alpha", _D)),
        "partition": ["year"], "pk": ["ticker", "date", "signal"],
    },
    "benchmark_weights": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("weight", _D)),
        "partition": ["year"], "pk": ["date", "ticker"],
    },
    "benchmark_returns": {
        "schema": _st(("date", _DT), ("return", _D)), "partition": None, "pk": ["date"],
    },
    "betas": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("historical_beta", _D), ("predicted_beta", _D)),
        "partition": ["year"], "pk": ["ticker", "date"],
    },
    "portfolio_weights": {
        "schema": _st(("ticker", _S), ("date", _DT), ("year", _I), ("weight", _D)),
        "partition": ["year"], "pk": ["date", "ticker"],
    },
    "portfolio_metrics": {
        "schema": _st(("date", _DT), ("lambda", _D), ("active_risk", _D)),
        "partition": None, "pk": ["date"],
    },
    # per-minute equity curve from the broker (portfolio_history_flow.py:74-83)
    "portfolio_history": {
        "schema": _st(("timestamp", T.TimestampType()), ("equity", _D)),
        "partition": None, "pk": ["timestamp"],
    },
}


def ingest_portfolio_history(spark: SparkSession, cat: Catalog, broker) -> None:
    """S11 ingestion: broker equity curve -> PK-upserted table
    (reference: portfolio_history_flow.py:44-86)."""
    from nt_data_pipelines_spark.sources.broker import load_portfolio_history

    cat.upsert("portfolio_history", load_portfolio_history(spark, broker))


def ensure_tables(cat: Catalog) -> None:
    for name, spec in TABLES.items():
        gen = {"year": "year(date)"} if spec["partition"] == ["year"] else None
        cat.create(name, spec["schema"], spec["partition"], spec["pk"], mode="skip", generated=gen)


class Stage(NamedTuple):
    """One :data:`GRAPH` stage: the derived tables it reads (the ingest
    tables — calendar, universe, prices — are always there) and the
    tables it upserts, in commit order."""

    reads: tuple[str, ...]
    writes: tuple[str, ...]


# The DAG both flows run, with table-level edges: a stage starts the
# moment every table it reads has committed, even while the stage that
# writes it is still running. A pinned frame never leaves the stage
# that pins it, so one thread first touches it (under AQE the pin
# itself already runs the frame's shuffle-map stages). tests/
# test_dag_graph.py checks every stage's reads and writes against
# these declarations.
GRAPH: dict[str, Stage] = {
    "stock_returns": Stage((), ("stock_returns",)),
    "etf_returns": Stage((), ("etf_returns",)),
    # one fused kernel; idio_vol first: alphas waits only on it
    "factor_model": Stage(("stock_returns", "etf_returns"), ("idio_vol", "factor_loadings")),
    "factor_covariances": Stage(("etf_returns",), ("factor_covariances",)),
    "signals": Stage(("stock_returns",), ("signals", "scores")),
    # uni_ret is pinned in both flows: the guard and both upserts read it
    "benchmark": Stage(("stock_returns",), ("benchmark_weights", "benchmark_returns")),
    "betas": Stage(("stock_returns", "benchmark_returns"), ("betas",)),
    "alphas": Stage(("scores", "idio_vol"), ("alphas",)),
    "portfolio": Stage(
        ("alphas", "benchmark_weights", "factor_loadings", "factor_covariances", "idio_vol"),
        ("portfolio_weights", "portfolio_metrics"),
    ),
}


class _CommitReporter:
    """The two catalog calls a stage body makes. ``upsert`` reports the
    table to the scheduler once ``Catalog.upsert`` has returned, so
    the stages that read it can start."""

    def __init__(self, cat: Catalog, events: queue.Queue):
        self._cat = cat
        self._events = events

    def table(self, name: str) -> DataFrame:
        return self._cat.table(name)

    def upsert(self, name: str, df: DataFrame) -> None:
        self._cat.upsert(name, df)
        self._events.put(name)


def _run_graph(
    spark: SparkSession,
    cat: Catalog,
    build: Callable[[_CommitReporter], dict[str, Callable[[], None]]],
) -> None:
    """Run each stage of :data:`GRAPH` once, as soon as every table it
    reads has committed. ``build`` makes the stage bodies over a
    catalog whose ``upsert`` reports each commit.

    A thread is started only for a ready stage with no idle thread to
    take it, so the pool never grows past the graph's width — there is
    no size to tune. Stages run under
    ``inheritable_thread_target(spark)``: the caller's job group, tags
    and scheduler pool reach every job a stage starts. After the first
    stage error no stage starts; the running ones finish, every thread
    is joined, and the error propagates with its traceback. A stage
    that returns without committing a table it declares raises
    ``RuntimeError``, and so does a stage left waiting on a table no
    stage committed: nothing hangs and nothing is silently skipped."""
    events: queue.Queue = queue.Queue()
    stages = build(_CommitReporter(cat, events))
    waiting = dict(GRAPH)
    running: dict[Future, str] = {}
    committed: set[str] = set()
    with ThreadPoolExecutor(max_workers=len(GRAPH), thread_name_prefix="nt-dag") as pool:
        while True:
            for name in [n for n, st in waiting.items() if committed.issuperset(st.reads)]:
                del waiting[name]
                fut = pool.submit(inheritable_thread_target(spark)(stages[name]))
                running[fut] = name
                # queued after the stage's commits: its thread put those first
                fut.add_done_callback(events.put)
            if not running:
                break
            event = events.get()
            if isinstance(event, str):
                committed.add(event)
                continue
            name = running.pop(event)
            event.result()
            missing = [t for t in GRAPH[name].writes if t not in committed]
            if missing:
                raise RuntimeError(
                    f"stage {name!r} returned without committing {missing[0]!r}"
                )
    if waiting:
        raise RuntimeError(
            f"stages {sorted(waiting)} wait on tables no stage committed: "
            f"{sorted({t for st in waiting.values() for t in st.reads} - committed)}"
        )


def _upsert_portfolio(cat: Catalog, weights: DataFrame) -> None:
    """The QP's weights and its per-date metrics, from one computation."""
    weights = weights.cache()
    try:
        cat.upsert("portfolio_weights", weights.select("ticker", "date", "weight"))
        cat.upsert("portfolio_metrics", weights.select("date", "lambda", "active_risk").distinct())
    finally:
        weights.unpersist()


def _require_rows(df: DataFrame, what: str) -> None:
    """Empty-result guard: the reference's flows raise rather than
    silently writing nothing (reversal_flow.py:189-190). ``isEmpty``
    reads only as many partitions as it needs to find one row."""
    if df.isEmpty():
        raise ValueError(f"No values found for {what}")


class _Span(NamedTuple):
    """A tick's lookback: ``end`` and, per lookback size n, the first
    of the last n market dates up to ``end`` (:func:`_lookback`)."""

    end: dt.date | None
    starts: dict[int, dt.date | None]


def _stages(
    cat: Catalog, window: int, half_life: float, span: _Span | None = None
) -> dict[str, Callable[[], None]]:
    """The body of every :data:`GRAPH` stage, written once for both
    flows. A tick (``span`` set) reads each input over its trailing
    lookback (``tail``) and upserts only the end date (``at_end``); the
    backfill (``span=None``) runs the same bodies over the full
    history, where both helpers return ``df`` unchanged."""

    def tail(df, n_dates: int):
        return df if span is None else between(df, span.starts[n_dates], span.end)

    def at_end(df):
        return df if span is None else between(df, span.end, span.end)

    # returns recompute over FULL price history in both flows, like the
    # reference (returns_flow.py has only a full-replace variant, no
    # tail) — so a ticker resuming after any gap still gets its
    # end-date return from the last available close.
    def stock_returns():
        cat.upsert("stock_returns", at_end(compute_returns(cat.table("stock_prices"))))

    def etf_returns():
        cat.upsert("etf_returns", at_end(compute_returns(cat.table("etf_prices"))))

    def factor_model():
        # pinned: BOTH upserts read `fit` — unpinned, the fused kernel
        # (the flow's most expensive stage) executes twice
        fit = pin(
            fit_factor_model(
                tail(cat.table("stock_returns"), 2 * window),
                tail(cat.table("etf_returns"), 2 * window),
                FACTORS,
                window,
                half_life,
            )
        )
        cat.upsert("idio_vol", at_end(idio_vol_of(fit)))
        cat.upsert("factor_loadings", at_end(factor_loadings_of(fit, FACTORS)))

    def factor_covariances():
        cat.upsert(
            "factor_covariances",
            at_end(
                estimate_factor_covariances(
                    tail(cat.table("etf_returns"), window), FACTORS, window, half_life
                )
            ),
        )

    def signals():
        # NOTE: the reference's daily reversal flow uses exactly a
        # 21-date lookback (get_trading_date_range(window=21)), so a
        # ticker missing one of those dates loses its end-date signal —
        # faithful zero-slack behavior, same as the reference.
        # pinned: the guard and the upsert read it — unpinned, the
        # rolling window runs once for each
        signals = pin(at_end(calculate_signals(tail(cat.table("stock_returns"), REVERSAL_WINDOW))))
        _require_rows(signals, "signals")
        cat.upsert("signals", signals)
        cat.upsert("scores", calculate_scores(at_end(cat.table("signals"))))

    def benchmark():
        # pinned: the guard and both upserts read uni_ret — unpinned,
        # the universe x returns join runs once for each
        uni_ret = pin(
            at_end(cat.table("universe"))
            .join(
                at_end(cat.table("stock_returns")).select("date", "ticker", "return"),
                ["date", "ticker"],
                "left",
            )
            .filter(F.col("return").isNotNull())
        )
        _require_rows(uni_ret, "universe returns")
        cat.upsert("benchmark_weights", calculate_benchmark_weights(uni_ret))
        cat.upsert(
            "benchmark_returns",
            calculate_benchmark_returns(uni_ret, at_end(cat.table("benchmark_weights"))),
        )

    def betas():
        cat.upsert(
            "betas",
            at_end(
                estimate_betas(
                    tail(cat.table("stock_returns"), 2 * window),
                    tail(cat.table("benchmark_returns"), 2 * window),
                    window,
                    half_life,
                )
            ),
        )

    def alphas():
        cat.upsert(
            "alphas", calculate_alphas(at_end(cat.table("scores")), at_end(cat.table("idio_vol")))
        )

    def portfolio():
        _upsert_portfolio(
            cat,
            compute_portfolio_weights(
                at_end(cat.table("alphas")),
                at_end(cat.table("benchmark_weights")),
                at_end(cat.table("factor_loadings")),
                at_end(cat.table("factor_covariances")),
                at_end(cat.table("idio_vol")),
                FACTORS,
            ),
        )

    return {
        "stock_returns": stock_returns,
        "etf_returns": etf_returns,
        "factor_model": factor_model,
        "factor_covariances": factor_covariances,
        "signals": signals,
        "benchmark": benchmark,
        "betas": betas,
        "alphas": alphas,
        "portfolio": portfolio,
    }


def backfill_flow(
    spark: SparkSession,
    cat: Catalog,
    window: int,
    half_life: float,
    on_failure=None,
) -> None:
    """Run the full DAG from the ingested price/universe tables: the
    tick's stages over the full history (T5).

    Expects ``calendar``, ``universe``, ``stock_prices``, ``etf_prices``
    already loaded (the ingestion flows S6-S9 write them). Every stage
    upserts, so reruns converge (T4). ``on_failure(exc)`` is called
    with any exception before it propagates.
    """
    try:
        for src in ("stock_prices", "etf_prices"):
            _require_rows(cat.table(src), src)
        _run_graph(spark, cat, lambda c: _stages(c, window, half_life))
    except Exception as exc:
        if on_failure is not None:
            on_failure(exc)
        raise


def _lookback(cal: DataFrame, today, sizes: tuple[int, ...]) -> _Span:
    """The :class:`_Span` ending on the last market date before
    ``today``: per lookback size n, the first of the last n market
    dates up to ``end`` (all of them when fewer than n exist) — one
    aggregate. ``end`` and every start are None when no date precedes
    ``today``.

    Lookbacks are windows of COMPLETED market dates: the calendar
    covers today and future schedule dates, and an unbounded last-N
    would silently shift (or empty) every factor window."""
    d = F.sort_array(F.collect_set("date"), asc=False)
    # get() is 0-based and NULL out of bounds; element_at raises on an
    # empty array under ANSI
    row = (
        cal.filter(F.col("date") < F.lit(today))
        .agg(d.alias("d"))
        .select(
            F.get("d", 0).alias("end"),
            *[F.get("d", F.least(F.lit(n), F.size("d")) - 1).alias(f"s{n}") for n in sizes],
        )
        .first()
    )
    return _Span(row["end"], {n: row[f"s{n}"] for n in sizes})


def daily_flow(
    spark: SparkSession,
    cat: Catalog,
    today,
    window: int,
    half_life: float,
    on_failure=None,
) -> bool:
    """The nightly incremental run (reference daily_*_flow semantics).

    T2: skip unless yesterday was the last market date before
    ``today`` (the calendar covers today and future schedule dates, so
    the bound is what keeps the gate from closing forever); returns
    whether the flow ran. T3: each stage
    recomputes over its trailing lookback (2xWINDOW for regressions,
    WINDOW for covariances, REVERSAL_WINDOW for reversal) read through
    ``calendar.between``, whose explicit ``year`` bound prunes a
    year-partitioned scan to the years the lookback covers (Catalyst
    derives no year bound from a date filter), then keeps only the end
    date and PK-upserts, so reruns are idempotent (T4). ``on_failure(exc)`` is
    called with any exception before it propagates.

    Faithful reference caveat: EWMA-smoothed outputs (loadings,
    idio vol, covariances, betas) are recomputed over the truncated
    tail exactly as the reference does, so they drift slightly from
    full-history backfill values — that approximation is the
    reference's own (factor_model_flow.py:179-199).
    """
    cal = cat.table("calendar")
    try:
        # the gate and the lookback come from one aggregate: end is the
        # last COMPLETED market day, never a future one
        span = _lookback(cal, today, (2 * window, window, REVERSAL_WINDOW))
        if span.end != today - dt.timedelta(days=1):
            return False
        _run_graph(spark, cat, lambda c: _stages(c, window, half_life, span))
        return True
    except Exception as exc:
        if on_failure is not None:
            on_failure(exc)
        raise
