"""The benchmark's workloads over the paper's nightly DAG.

- ``backfill``: ingest a seeded history into a lake whose tables exist
  but are empty, then rebuild all 13 derived tables with one
  ``backfill_flow``.
- ``nightly``: one trading day per tick on a backfilled lake. A tick
  upserts that day's bars, runs ``daily_flow``, then
  ``trading_daily_flow`` against the recording broker below.
- ``research``: a closed loop with one client reading a backfilled lake
  through the ``Engine`` accessors and one ``Engine.sql`` aggregate,
  each over a seeded window of 1 to 252 trading days, collected with
  ``toArrow()``.

The empty and the backfilled lake are built once per checkout by
:func:`build_lakes` (the backfilled one from the fixed ``LAKE_SEED``
history) and copied into place at the start of each run; ``backfill``
measures the rebuild itself. Every operation is checked; an operation
that raises or fails its check counts as failed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nt_data_pipelines_spark.api import Engine
from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.config import FACTORS, TARGET_ACTIVE_RISK
from nt_data_pipelines_spark.pipelines import runner, trading
from nt_data_pipelines_spark.pipelines.factor_model import clean_factor_loadings, estimate_factor_model
from nt_data_pipelines_spark.pipelines.portfolio_weights import compute_portfolio_weights
from perfbench.inputs import LAKE_SEED, Scale, generate
from perfbench.trace import Tracer

DERIVED = [
    "stock_returns", "etf_returns", "factor_loadings", "idio_vol", "factor_covariances",
    "signals", "scores", "alphas", "benchmark_weights", "benchmark_returns", "betas",
    "portfolio_weights", "portfolio_metrics",
]
ACCESSORS = [
    "get_alphas", "get_factor_loadings", "get_factor_covariances", "get_idio_vol",
    "get_portfolio_weights", "get_universe_returns", "get_prices", "get_benchmark_weights",
]
READS = ACCESSORS + ["sql"]
# accessors whose rows are exactly the universe rows of the window
UNIVERSE_SHAPED = {"get_universe_returns", "get_prices", "get_benchmark_weights"}
SQL = (
    "SELECT ticker, COUNT(*) AS n, AVG(close) AS avg_close FROM stock_prices "
    "WHERE date BETWEEN DATE'{start}' AND DATE'{end}' GROUP BY ticker ORDER BY ticker"
)
# window lengths in trading days: each read kind cycles through the bands
WINDOW_BANDS = ((1, 10), (11, 63), (64, 252))
EQUITY = 1_000_000.0


class Broker:
    """Recording broker double: holds positions, fills every order at
    once, and records what the trading flow asked for."""

    def __init__(self):
        self.holdings: dict[str, float] = {}
        self.orders: list[tuple[str, float]] = []
        self.closed: list[str] = []
        self._open: list[dict] = []
        self._filled: list[dict] = []

    def account_equity(self) -> float:
        return EQUITY

    def positions(self) -> list[tuple[str, float]]:
        return sorted(self.holdings.items())

    def market_order(self, ticker: str, notional: float) -> None:
        self.orders.append((ticker, notional))
        self._open.append({"ticker": ticker, "notional": notional})

    def close_position(self, ticker: str) -> None:
        self.closed.append(ticker)

    def cancel_all_orders(self) -> int:
        n, self._open = len(self._open), []
        return n

    def open_orders(self) -> list[dict]:
        stamp = dt.datetime(2024, 1, 2, 14, 30)
        for o in self._open:
            self._filled.append(
                {
                    "order_id": f"o{len(self._filled)}",
                    "ticker": o["ticker"],
                    "side": "buy" if o["notional"] > 0 else "sell",
                    "filled_qty": abs(o["notional"]) / 100.0,
                    "filled_avg_price": 100.0,
                    "filled_at": stamp,
                }
            )
        self._open = []
        return []

    def filled_orders(self) -> list[dict]:
        return list(self._filled)

    def settle(self) -> None:
        """End of day: the book becomes what was traded."""
        for ticker, notional in self.orders:
            self.holdings[ticker] = self.holdings.get(ticker, 0.0) + notional
        for ticker in self.closed:
            self.holdings.pop(ticker, None)
        self.orders, self.closed, self._filled = [], [], []


class MessageSink:
    def __init__(self):
        self.messages: list[str] = []

    def send(self, text: str) -> None:
        self.messages.append(text)


def expected_orders(weights: dict[str, float], held: dict[str, float]):
    """The trades ``trading_daily_flow`` must place: targets are
    weight x equity (cents, floored at 0); held names with a zero
    target are closed; every other non-zero delta of at least $1 is
    ordered."""
    targets = {t: round(max(w * EQUITY, 0.0), 2) for t, w in weights.items()}
    closing = {t for t in held if t in targets and targets[t] <= 0}
    deltas = {}
    for t in (set(targets) | set(held)) - closing:
        d = round(targets.get(t, 0.0) - held.get(t, 0.0), 2)
        if abs(d) >= 1.0:
            deltas[t] = d
    return deltas, closing


def lake_files(root: str) -> tuple[int, int]:
    """(parquet files, bytes) on disk under the lake root."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def lake_rows(root: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                rows += pq.read_metadata(os.path.join(dirpath, f)).num_rows
    return rows


def ingest_history(spark, cat: Catalog, inp) -> None:
    """Load the calendar, the universe and the history's bars."""
    sp, ep = inp.stock_prices, inp.etf_prices
    cat.upsert("calendar", spark.createDataFrame(pd.DataFrame({"date": inp.dates})))
    cat.upsert("universe", spark.createDataFrame(inp.universe))
    cat.upsert("stock_prices", spark.createDataFrame(sp[sp["date"] <= inp.history_end]))
    cat.upsert("etf_prices", spark.createDataFrame(ep[ep["date"] <= inp.history_end]))


def build_lakes(spark, lake: str, scale: Scale, dest: str) -> dict:
    """Build the two lakes the runs start from, at ``lake`` (the path
    every run uses, so the catalog's recorded file paths stay valid),
    and store them under ``dest``: ``empty`` (all 17 tables created)
    and ``built`` (the ``LAKE_SEED`` history ingested and backfilled,
    checked like a ``backfill`` run)."""
    timings = {}
    shutil.rmtree(lake, ignore_errors=True)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cat = Catalog(spark, lake)
    t = time.perf_counter()
    runner.ensure_tables(cat)
    timings["create_s"] = time.perf_counter() - t
    shutil.copytree(lake, os.path.join(tmp, "empty"))
    inp = generate(scale, LAKE_SEED)
    t = time.perf_counter()
    ingest_history(spark, cat, inp)
    runner.backfill_flow(spark, cat, window=scale.window, half_life=scale.half_life)
    timings["build_s"] = time.perf_counter() - t
    rec = {}
    if not check_build(cat, rec):
        raise RuntimeError(f"backfilled lake fails its check: {rec['why']}")
    shutil.copytree(lake, os.path.join(tmp, "built"))
    shutil.rmtree(lake)
    os.replace(tmp, dest)
    return timings


def check_build(cat: Catalog, rec: dict) -> bool:
    """bench_dag's invariants: long-only weights summing to 1 on every
    optimization date, median active risk near target."""
    w = (
        cat.table("portfolio_weights")
        .groupBy("date")
        .agg(F.sum("weight").alias("s"), F.min("weight").alias("mn"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.abs(F.col("s") - 1.0)).alias("err"),
            F.min("mn").alias("mn"),
        )
        .first()
    )
    med = cat.table("portfolio_metrics").agg(
        F.expr("percentile_approx(active_risk, 0.5)").alias("med")
    ).first()["med"]
    rec["why"] = f"dates={w['n']} sum_err={w['err']} min={w['mn']} risk_med={med}"
    return (
        w["n"] > 0
        and w["err"] < 1e-6
        and w["mn"] > -1e-9
        and med is not None
        and 0.2 * TARGET_ACTIVE_RISK < med < 5.0 * TARGET_ACTIVE_RISK
    )


class Bench:
    def __init__(self, spark, work_dir: str, lake: str, scale: Scale, seed: int, tracer: Tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.lake = lake
        self.scale = scale
        self.seed = seed
        self.tracer = tracer
        self.timings: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []  # every checked operation
        self._ref_counts: dict[str, np.ndarray] | None = None

    # ---- bookkeeping ----
    def _op(self, kind: str, fn, check) -> dict:
        """Run one operation, time it, check it; failures are counted,
        never raised."""
        self.attempted += 1
        rec = {"kind": kind, "phase": self.tracer.phase, "ok": False}
        self.records.append(rec)
        t0 = time.perf_counter()
        try:
            out = fn()
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = bool(check(out, rec))
        except Exception:
            rec.setdefault("s", time.perf_counter() - t0)
            traceback.print_exc(file=sys.stderr)
        if not rec["ok"]:
            self.failed += 1
            print(f"# failed: {kind} {rec.get('why', '')}", file=sys.stderr)
        return rec

    # ---- set-up ----
    def warm_up(self, catalog: bool) -> None:
        """Take class loading, JIT and codegen out of the first timed
        operation. With ``catalog``, run a tiny DAG on a scratch
        catalog: create a table, upsert into it twice (the fast path,
        then a full optimize), read it back. Then start a Python worker
        on every core."""
        spark = self.spark
        if catalog:
            ep = self.inp.etf_prices
            cat = Catalog(spark, os.path.join(self.work_dir, "warmup"))
            spec = runner.TABLES["etf_prices"]
            cat.create("etf_prices", spec["schema"], spec["partition"], spec["pk"])
            for day in self.inp.dates[:2]:
                cat.upsert("etf_prices", spark.createDataFrame(ep[ep["date"] == day]))
            cat.table("etf_prices").groupBy("ticker").count().toArrow()
        n = spark.sparkContext.defaultParallelism
        df = spark.range(0, 1000 * n, numPartitions=n)
        df.mapInPandas(lambda batches: batches, df.schema).write.format("noop").mode("overwrite").save()

    def instrument(self) -> None:
        """Open a span around every call into the program's layers
        (a no-op when tracing is off)."""
        tr = self.tracer
        for method in ("upsert", "insert", "optimize", "compact"):
            tr.instrument(Catalog, method, f"catalog.{method}", label=lambda _cat, name, *_: name)
        tr.instrument(runner, "backfill_flow", "runner.flow")
        tr.instrument(runner, "daily_flow", "runner.flow")
        tr.instrument(trading, "trading_daily_flow", "trading.flow")

    def set_up(self, workload: str, lakes: str) -> None:
        """Copy the workload's starting lake into place, load what the
        workload ingests, warm up."""
        t = time.perf_counter()
        if workload == "backfill":
            self.inp = generate(self.scale, self.seed)
        else:
            # the shared history; nightly's own seed draws the tick days
            tick_seed = self.seed if workload == "nightly" else None
            self.inp = generate(self.scale, LAKE_SEED, tick_seed=tick_seed)
        self.timings["inputs_s"] = time.perf_counter() - t

        t = time.perf_counter()
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.copytree(os.path.join(lakes, "empty" if workload == "backfill" else "built"), self.lake)
        self.cat = Catalog(self.spark, self.lake)
        self.engine = Engine(self.cat)
        self.broker = Broker()
        self.sink = MessageSink()
        self.timings["lake_copy_s"] = time.perf_counter() - t

        self.instrument()
        if workload == "backfill":
            t = time.perf_counter()
            ingest_history(self.spark, self.cat, self.inp)
            self.timings["ingest_s"] = time.perf_counter() - t

        if workload != "research":
            # the backfill's ingest has already run the write path
            t = time.perf_counter()
            self.tracer.phase = "warmup"
            self.warm_up(catalog=workload == "nightly")
            self.tracer.phase = "setup"
            self.timings["warmup_s"] = time.perf_counter() - t
        else:
            # reads write nothing and start no Python worker; the first
            # call of each plans and compiles it, so one untimed pass
            # over every kind is their warm-up
            t = time.perf_counter()
            self.reference_counts()
            for kind in READS:
                self.read(kind, 0, 0)
            self.timings["read_warmup_s"] = time.perf_counter() - t

    # ---- backfill ----
    def backfill(self) -> dict:
        files0 = lake_files(self.lake)[0] if self.tracer.enabled else 0

        def run():
            with self.tracer.span("backfill"):
                runner.backfill_flow(
                    self.spark, self.cat, window=self.scale.window, half_life=self.scale.half_life
                )

        def check(_out, rec):
            if self.tracer.enabled:
                rec["files_added"] = lake_files(self.lake)[0] - files0
            return check_build(self.cat, rec)

        return self._op("backfill", run, check)

    # ---- nightly ----
    def tick(self, k: int) -> dict:
        inp, spark, cat = self.inp, self.spark, self.cat
        end = inp.held_dates[k]
        trade_day = inp.dates[inp.scale.n_history + k + 1]
        sp, ep = inp.stock_prices, inp.etf_prices
        held = dict(self.broker.holdings)
        files0 = lake_files(self.lake)[0] if self.tracer.enabled else 0

        def run():
            with self.tracer.span("tick"):
                cat.upsert("stock_prices", spark.createDataFrame(sp[sp["date"] == end]))
                cat.upsert("etf_prices", spark.createDataFrame(ep[ep["date"] == end]))
                ran = runner.daily_flow(
                    spark, cat, today=end + dt.timedelta(days=1),
                    window=self.scale.window, half_life=self.scale.half_life,
                )
                res = trading.trading_daily_flow(
                    cat, self.broker, self.sink, today=trade_day, sleep=lambda _s: None
                )
            return ran, res

        def check(out, rec):
            ran, res = out
            rec["orders"] = res.get("orders", 0)
            if self.tracer.enabled:
                rec["files_added"] = lake_files(self.lake)[0] - files0
            ok = self.check_tick(end, ran, res, held, rec)
            self.broker.settle()
            return ok

        return self._op("tick", run, check)

    def check_tick(self, end, ran, res, held, rec) -> bool:
        if not ran or not res.get("ran"):
            rec["why"] = f"flow did not run: {ran} {res}"
            return False
        for t in ("signals", "portfolio_weights"):
            r = (
                self.cat.table(t)
                .agg(
                    F.max("date").alias("mx"),
                    F.sum((F.col("date") == F.lit(end)).cast("int")).alias("n"),
                )
                .first()
            )
            if r["mx"] != end or not r["n"]:
                rec["why"] = f"{t}: last date {r['mx']}, {r['n']} rows on {end}"
                return False
        weights = {
            r["ticker"]: r["weight"]
            for r in self.cat.table("portfolio_weights").filter(F.col("date") == F.lit(end)).collect()
        }
        total = sum(weights.values())
        if abs(total - 1.0) > 1e-6 or min(weights.values()) < -1e-9:
            rec["why"] = f"weights on {end} sum to {total}"
            return False
        deltas, closing = expected_orders(weights, held)
        placed = dict(self.broker.orders)
        if (
            len(placed) != len(self.broker.orders)
            or placed.keys() != deltas.keys()
            or any(abs(placed[t] - d) > 0.011 for t, d in deltas.items())
            or set(self.broker.closed) != closing
        ):
            rec["why"] = f"orders {len(placed)} vs deltas {len(deltas)}"
            return False
        return True

    # ---- research ----
    def reference_counts(self) -> dict[str, np.ndarray]:
        """Per-date row counts of the lake-derived accessors, from plain
        inner joins against the universe (cumulative, by date index)."""
        if self._ref_counts is None:
            cat = self.cat
            uni = cat.table("universe").select("date", "ticker")

            def gated(table, col):
                return uni.join(
                    cat.table(table).filter(F.col(col).isNotNull()), ["date", "ticker"]
                )

            plans = {
                "get_alphas": gated("alphas", "alpha"),
                "get_factor_loadings": gated("factor_loadings", "loading"),
                "get_idio_vol": gated("idio_vol", "idio_vol"),
                "get_portfolio_weights": cat.table("portfolio_weights"),
                "get_factor_covariances": cat.table("factor_covariances"),
            }
            per_kind = None
            for kind, df in plans.items():
                df = df.groupBy("date").count().withColumn("kind", F.lit(kind))
                per_kind = df if per_kind is None else per_kind.unionByName(df)
            index = {d: i for i, d in enumerate(self.inp.dates)}
            counts = {kind: np.zeros(len(index) + 1, dtype=np.int64) for kind in plans}
            for r in per_kind.collect():
                counts[r["kind"]][index[r["date"]] + 1] = r["count"]
            out = {kind: np.cumsum(c) for kind, c in counts.items()}
            self._ref_counts = out
        return self._ref_counts

    def expected_rows(self, kind: str, i0: int, i1: int) -> int:
        if kind in UNIVERSE_SHAPED:
            return self.inp.universe_rows(i0, i1)
        if kind == "sql":
            return self.scale.n_tickers
        c = self.reference_counts()[kind]
        return int(c[i1 + 1] - c[i0])

    def read_blocks(self, rng: np.random.Generator):
        """Seeded reads, one block at a time. A block is a permutation
        of every read kind; each kind's window length cycles through
        ``WINDOW_BANDS`` from block to block (seeded start band, length
        and dates within the band), so every run reads the same mix."""
        hist = self.scale.n_history
        offsets = rng.integers(0, len(WINDOW_BANDS), len(READS))
        b = 0
        while True:
            block = []
            for j in rng.permutation(len(READS)):
                lo, hi = WINDOW_BANDS[(b + offsets[j]) % len(WINDOW_BANDS)]
                days = int(rng.integers(min(lo, hist), min(hi, hist) + 1))
                i0 = int(rng.integers(0, hist - days + 1))
                block.append((READS[j], i0, i0 + days - 1))
            yield block
            b += 1

    def read(self, kind: str, i0: int, i1: int) -> dict:
        start, end = self.inp.dates[i0], self.inp.dates[i1]

        def run():
            with self.tracer.span(f"api.{kind}") as sp:
                if kind == "sql":
                    table = self.engine.sql(SQL.format(start=start, end=end)).toArrow()
                else:
                    table = getattr(self.engine, kind)(start, end).toArrow()
                if sp is not None:
                    sp["rows"] = table.num_rows
            return table

        def check(table, rec):
            rec["rows"] = table.num_rows
            want = self.expected_rows(kind, i0, i1)
            cols = table.to_pandas()
            if kind == "sql":
                ok = cols["n"].sum() == self.scale.n_tickers * (i1 - i0 + 1)
                ok = ok and cols["ticker"].is_monotonic_increasing
            elif kind == "get_factor_covariances":
                ok = cols["date"].is_monotonic_increasing
            else:
                key = list(zip(cols["ticker"], cols["date"]))
                ok = all(a <= b for a, b in zip(key, key[1:]))
            rec["why"] = f"{kind} [{start}, {end}]: {table.num_rows} rows, want {want}, sorted={ok}"
            return ok and table.num_rows == want

        return self._op(kind, run, check)

    # ---- traced-only probe ----
    def kernel_probe(self) -> None:
        """Time each kernel on the lake's inputs, materialized to a
        no-op sink: rolling OLS, EWMA loadings, per-date QP."""
        from pyspark import StorageLevel

        cat, tr, s = self.cat, self.tracer, self.scale
        self.qp_dates = cat.table("portfolio_weights").select("date").distinct().count()
        with tr.span("kernel.rolling_ols"):
            fitted = estimate_factor_model(
                cat.table("stock_returns"), cat.table("etf_returns"), FACTORS, s.window
            ).localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        with tr.span("kernel.ewma"):
            clean_factor_loadings(fitted, FACTORS, s.half_life).write.format("noop").mode(
                "overwrite"
            ).save()
        with tr.span("kernel.qp"):
            compute_portfolio_weights(
                cat.table("alphas"), cat.table("benchmark_weights"),
                cat.table("factor_loadings"), cat.table("factor_covariances"),
                cat.table("idio_vol"), FACTORS,
            ).write.format("noop").mode("overwrite").save()


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q * len(v))) - 1))]


def run_workload(bench: Bench, workload: str, seconds: float) -> None:
    """The measured loop, then, in traced runs, the probe."""
    tr = bench.tracer
    tr.phase = "loop"
    t0 = time.perf_counter()
    if workload == "backfill":
        # the rebuild starts from an empty lake: one per run
        bench.backfill()
    elif workload == "nightly":
        for k in range(bench.scale.n_held):
            bench.tick(k)
            if time.perf_counter() - t0 >= seconds:
                break
    else:
        # whole blocks only, so every kind is read equally often; at
        # least two, so that a slow machine does not halve the sample
        for b, block in enumerate(bench.read_blocks(np.random.default_rng(bench.seed))):
            for kind, i0, i1 in block:
                bench.read(kind, i0, i1)
            if b >= 1 and time.perf_counter() - t0 >= seconds:
                break
    bench.timings["loop_s"] = time.perf_counter() - t0
    if tr.enabled:
        # every layer reports on every workload: the probe runs the
        # kernels, plus one block of reads and one tick where the loop
        # ran none
        tr.phase = "probe"
        bench.kernel_probe()
        if workload != "research":
            for kind, i0, i1 in next(bench.read_blocks(np.random.default_rng(bench.seed + 2))):
                bench.read(kind, i0, i1)
        if workload != "nightly":
            bench.tick(0)
