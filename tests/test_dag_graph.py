"""The flows' dependency-scheduled stage graph (``runner.GRAPH``).

- coverage: every stage, run on its own against a catalog proxy that
  records ``table``/``upsert`` calls, upserts exactly the tables it
  declares, in the declared order, and reads only ingest tables, its
  own outputs and the tables it declares — a stage that reads a table
  without declaring it would race its writer;
- scheduling: with fake stages, a reader starts once the table it
  needs commits, while its writer still runs, and a stage that skips
  a declared upsert raises instead of leaving its readers waiting;
- determinism: two concurrent backfill + daily runs on identical inputs
  write identical tables, equal to a run of the stages one at a time
  in dependency order;
- failure: a mid-graph stage error reaches the caller with its
  traceback, fires ``on_failure`` once, starts no later stage and
  leaks no thread;
- job group: every Spark job a flow starts carries the caller's group.
"""

from __future__ import annotations

import datetime as dt
import shutil
import threading
import traceback

import pytest
from pyspark.sql import functions as F

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.pipelines import runner
from nt_data_pipelines_spark.pipelines.runner import (
    GRAPH,
    Stage,
    _backfill_stages,
    _daily_stages,
    _lookback,
    backfill_flow,
    daily_flow,
    ensure_tables,
)
from nt_data_pipelines_spark.sources import synthetic as S

N_DAYS = 100
WINDOW = 30
HL = 10.0
REVERSAL = 21
INGEST = {"calendar", "universe", "stock_prices", "etf_prices"}
DERIVED = (
    "stock_returns", "etf_returns", "factor_loadings", "idio_vol",
    "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
    "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics",
)


def _topo_order() -> list[str]:
    order: list[str] = []
    committed: set[str] = set()
    while len(order) < len(GRAPH):
        ready = [
            n for n, st in GRAPH.items() if n not in order and set(st.reads) <= committed
        ]
        assert ready, f"GRAPH has a cycle among {set(GRAPH) - set(order)}"
        order += ready
        committed.update(t for n in ready for t in GRAPH[n].writes)
    return order


class _Recorder:
    """The two catalog calls a stage body makes, recorded. Any other
    attribute raises, so a stage reading through another API fails
    here instead of escaping the check."""

    def __init__(self, cat: Catalog):
        self._cat = cat
        self.reads: set[str] = set()
        self.writes: list[str] = []

    def table(self, name):
        self.reads.add(name)
        return self._cat.table(name)

    def upsert(self, name, df):
        self.writes.append(name)
        self._cat.upsert(name, df)


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """A lake holding everything but the last market day, and that day."""
    root = tmp_path_factory.mktemp("dag") / "ingested"
    cat = Catalog(spark, str(root))
    ensure_tables(cat)
    prices = S.load_stock_prices(spark, N_DAYS)
    etf = S.load_etf_prices(spark, N_DAYS)
    last = prices.agg(F.max("date")).first()[0]
    cat.upsert("calendar", S.load_calendar(spark, N_DAYS))
    cat.upsert("universe", S.load_universe(spark, N_DAYS))
    cat.upsert("stock_prices", prices.filter(F.col("date") < F.lit(last)))
    cat.upsert("etf_prices", etf.filter(F.col("date") < F.lit(last)))
    day = {
        "stock_prices": prices.filter(F.col("date") == F.lit(last)),
        "etf_prices": etf.filter(F.col("date") == F.lit(last)),
    }
    return root, last, day


def _copy(spark, ingested, dst) -> Catalog:
    shutil.copytree(ingested[0], dst)
    return Catalog(spark, str(dst))


def _add_last_day(cat, ingested) -> None:
    for name, df in ingested[2].items():
        cat.upsert(name, df)


@pytest.fixture(scope="module")
def sequential(spark, ingested, tmp_path_factory):
    """Backfill, the last day's bars, then the daily stages — every
    stage run alone, in dependency order, through a recorder. Returns
    the catalog and ``{(flow, stage): recorder}``."""
    cat = _copy(spark, ingested, tmp_path_factory.mktemp("dag") / "sequential")
    records = {}
    for name in _topo_order():
        rec = records["backfill", name] = _Recorder(cat)
        _backfill_stages(rec, WINDOW, HL)[name]()
    _add_last_day(cat, ingested)
    today = ingested[1] + dt.timedelta(days=1)
    end, starts = _lookback(cat.table("calendar"), today, (2 * WINDOW, WINDOW, REVERSAL))
    assert end == ingested[1]
    for name in _topo_order():
        rec = records["daily", name] = _Recorder(cat)
        _daily_stages(rec, end, starts, WINDOW, HL, REVERSAL)[name]()
    return cat, records


def test_graph_is_a_dag_over_one_stage_set():
    assert set(_topo_order()) == set(GRAPH)
    writes = [t for st in GRAPH.values() for t in st.writes]
    # every derived table has exactly one writer, and every read has one
    assert sorted(writes) == sorted(DERIVED)
    assert all(set(st.reads) <= set(writes) for st in GRAPH.values())
    assert set(_backfill_stages(None, WINDOW, HL)) == set(GRAPH)
    assert set(_daily_stages(None, None, {}, WINDOW, HL, REVERSAL)) == set(GRAPH)


def test_stage_reads_are_declared_edges(sequential):
    _, records = sequential
    for flow in ("backfill", "daily"):
        for stage, st in GRAPH.items():
            rec = records[flow, stage]
            assert rec.writes == list(st.writes), (flow, stage)
            undeclared = rec.reads - (INGEST | set(st.writes) | set(st.reads))
            assert not undeclared, (
                f"{flow} stage {stage!r} reads {sorted(undeclared)} without "
                "declaring them in GRAPH"
            )


def _sorted_tables(cat: Catalog) -> dict[str, list]:
    return {t: sorted(tuple(r) for r in cat.table(t).collect()) for t in DERIVED}


def test_concurrent_flows_are_deterministic(spark, ingested, sequential, tmp_path):
    today = ingested[1] + dt.timedelta(days=1)
    got = []
    for lake in ("a", "b"):
        cat = _copy(spark, ingested, tmp_path / lake)
        backfill_flow(spark, cat, window=WINDOW, half_life=HL)
        _add_last_day(cat, ingested)
        assert daily_flow(spark, cat, today=today, window=WINDOW, half_life=HL) is True
        got.append(_sorted_tables(cat))
    assert all(got[0][t] for t in DERIVED)
    assert got[0] == got[1]
    # ... and equal to running the stages one at a time
    assert got[0] == _sorted_tables(sequential[0])


def test_stage_failure_propagates_once_and_joins_threads(
    spark, ingested, tmp_path, monkeypatch
):
    cat = _copy(spark, ingested, tmp_path / "lake")
    boom = RuntimeError("covariance estimation failed")

    def failing_covariances(*_args, **_kw):
        raise boom

    monkeypatch.setattr(runner, "estimate_factor_covariances", failing_covariances)
    threads_before = set(threading.enumerate())
    calls = []
    with pytest.raises(RuntimeError) as info:
        backfill_flow(spark, cat, window=WINDOW, half_life=HL, on_failure=calls.append)

    assert info.value is boom
    frames = [f.name for f in traceback.extract_tb(info.value.__traceback__)]
    assert "failing_covariances" in frames
    assert calls == [boom]
    # portfolio needs the covariances: it never started
    assert cat._raw_table("portfolio_weights").count() == 0
    assert cat._raw_table("portfolio_metrics").count() == 0
    leaked = [t for t in set(threading.enumerate()) - threads_before if t.is_alive()]
    assert leaked == []


def _job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _probe_job(spark, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(_job_ids(sc, group))


def test_daily_flow_jobs_carry_callers_group(spark, ingested, sequential, tmp_path):
    """Stage threads inherit the caller's job group: every job started
    between two probe jobs belongs to it."""
    shutil.copytree(sequential[0].root, tmp_path / "lake")
    cat = Catalog(spark, str(tmp_path / "lake"))
    sc = spark.sparkContext
    today = ingested[1] + dt.timedelta(days=1)
    first = _probe_job(spark, "dag-probe-before")
    sc.setJobGroup("dag-caller", "nightly tick")
    try:
        assert daily_flow(spark, cat, today=today, window=WINDOW, half_life=HL) is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    last = _probe_job(spark, "dag-probe-after")
    grouped = sorted(_job_ids(sc, "dag-caller"))
    assert grouped and grouped == list(range(first + 1, last))


TIMEOUT = 30.0


class _FakeCatalog:
    def __init__(self):
        self.tables: dict[str, int] = {}

    def table(self, name):
        return self.tables[name]

    def upsert(self, name, value):
        self.tables[name] = value


def _run_bounded(spark, cat, build) -> None:
    """``_run_graph`` on a thread joined with a timeout: a scheduler
    that hangs fails the test instead of the suite."""
    errors: list[BaseException] = []

    def run():
        try:
            runner._run_graph(spark, cat, build)
        except BaseException as e:  # noqa: BLE001 — handed to the test thread
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(TIMEOUT)
    assert not t.is_alive(), "the scheduler hung"
    if errors:
        raise errors[0]


def test_reader_starts_when_its_table_commits(spark, monkeypatch):
    """Edges are table-level: the reader of ``a`` runs while ``a``'s
    writer is still running. Stage-level scheduling would start the
    reader only after the writer returned, so the writer's wait for it
    would time out."""
    monkeypatch.setattr(
        runner,
        "GRAPH",
        {"writer": Stage((), ("a", "b")), "reader": Stage(("a",), ("c",))},
    )
    cat = _FakeCatalog()
    reader_ran = threading.Event()

    def build(c):
        def writer():
            c.upsert("a", 1)
            assert reader_ran.wait(TIMEOUT / 2), "the reader did not start on 'a'"
            c.upsert("b", 2)

        def reader():
            c.upsert("c", c.table("a") + 1)
            reader_ran.set()

        return {"writer": writer, "reader": reader}

    _run_bounded(spark, cat, build)
    assert cat.tables == {"a": 1, "b": 2, "c": 2}


def test_missing_commit_raises_instead_of_waiting(spark, monkeypatch):
    """A stage that returns without one of its declared upserts raises,
    naming the stage and the table, and its reader never starts; a
    stage reading a table no stage writes raises too."""
    cat = _FakeCatalog()

    def build(c):
        return {
            "writer": lambda: c.upsert("a", 1),
            "reader": lambda: c.upsert("c", 3),
        }

    monkeypatch.setattr(
        runner,
        "GRAPH",
        {"writer": Stage((), ("a", "b")), "reader": Stage(("b",), ("c",))},
    )
    with pytest.raises(RuntimeError, match="'writer' returned without committing 'b'"):
        _run_bounded(spark, cat, build)
    assert cat.tables == {"a": 1}

    monkeypatch.setattr(
        runner,
        "GRAPH",
        {"writer": Stage((), ("a",)), "reader": Stage(("z",), ("c",))},
    )
    with pytest.raises(RuntimeError, match=r"\['reader'\] wait on tables .*\['z'\]"):
        _run_bounded(spark, cat, build)
    assert "c" not in cat.tables
