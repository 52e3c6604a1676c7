"""Physical-plan regression guards: pushdown, pruning, join strategy.

These assert the *shape* of the plans Catalyst produces for the
headline queries — the properties that matter at 100 TB. If a refactor
silently breaks predicate pushdown or flips a broadcast join to
sort-merge, these fail before any benchmark would notice.
"""

from __future__ import annotations

import re

from nt_data_pipelines_spark import plans

SF = "/root/testdata/sf0.001"


def _explain(spark, name: str) -> str:
    df = plans.REGISTRY[name].fn(spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_scalar_suite_pushdown_and_pruning(spark):
    plan = _explain(spark, "p_scalar_suite")
    assert "GreaterThanOrEqual(l_extendedprice,1000.0)" in plan  # filter reached the scan
    # column pruning: untouched columns never read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_suppkey" not in read_schema and "l_tax" not in read_schema


def _op_count(plan: str, op: str) -> int:
    # each physical operator appears once as a "(n) Op" detail header
    return len(re.findall(rf"^\(\d+\) {op}$", plan, flags=re.M))


def test_q3_join_is_broadcast_single_shuffle(spark):
    plan = _explain(spark, "j2_shipping_priority")
    assert _op_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert _op_count(plan, "Exchange") == 1  # only the final groupBy shuffles
    # lineitem scan reads only the needed 4 columns
    li_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln][0]
    assert "l_quantity" not in li_line


def test_window_reuses_single_exchange(spark):
    plan = _explain(spark, "w2_rolling_sum21")
    # the gated rolling sum (sum + count over the same frame) must not
    # add a second shuffle
    assert _op_count(plan, "Exchange") == 1


def test_universe_gate_broadcasts_small_side(spark):
    plan = _explain(spark, "j1_universe_gated_join")
    assert "BroadcastHashJoin" in plan


def test_events_scan_prunes_columns(spark):
    plan = _explain(spark, "w1_pct_change")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read and "event_type" not in read


def test_price_scan_prunes_year_partitions(spark, tmp_path):
    """A date-ranged get_prices read must hit PartitionFilters on year.

    The prices tables are year-partitioned on write (the reference's
    hive layout); the Engine adds explicit year bounds because
    Catalyst cannot derive them from the date predicate. At 100x data
    this is the difference between scanning one year and every year.
    """
    import datetime as dt

    from nt_data_pipelines_spark.api import Engine
    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines.runner import ensure_tables
    from nt_data_pipelines_spark.sources import synthetic as S

    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)
    cat.upsert("stock_prices", S.load_stock_prices(spark, 600))  # spans >1 year
    cat.upsert("universe", S.load_universe(spark, 600))
    years = sorted(
        r["year"] for r in cat.table("stock_prices").select("year").distinct().collect()
    )
    assert len(years) >= 2  # the fixture must actually span years
    lo = dt.date(years[-1], 1, 5)
    df = Engine(cat).get_prices(lo, lo + dt.timedelta(days=30))
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # both scans (prices + universe) carry year partition filters
    assert len(scan_lines) >= 2
    assert all(f"year#" in ln or "year" in ln for ln in scan_lines)
    assert f"(year" in plan  # non-empty filter, not PartitionFilters: []


def _partition_filters(plan: str, table: str) -> list[str]:
    """The PartitionFilters of every scan of ``table``, ids stripped."""
    return [
        re.sub(r"#\d+", "", ln)
        for block in plan.split("\n\n")
        if re.search(rf"Location: .*/{table}\]", block)
        for ln in block.splitlines()
        if ln.startswith("PartitionFilters")
    ]


def test_tick_reads_prune_year_partitions(spark, tmp_path):
    """A tick's lookback (``tail``) and end-date (``at_end``) reads of a
    year-partitioned table carry year PartitionFilters, like the
    Engine's ranged reads: Catalyst derives none from the date filter,
    so without them every year's files are opened."""
    import datetime as dt

    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.pipelines.reversal import REVERSAL_WINDOW
    from nt_data_pipelines_spark.pipelines.runner import _Span, _stages, ensure_tables

    cat = Catalog(spark, str(tmp_path / "lake"))
    ensure_tables(cat)
    days = [dt.date(y, 6, 1) for y in (2020, 2021, 2022)]
    for name, cols in (
        ("stock_returns", "ticker string, date date, return double"),
        ("scores", "ticker string, date date, signal string, score double"),
        ("idio_vol", "ticker string, date date, idio_vol double"),
    ):
        width = len(cols.split(",")) - 2
        rows = [("T00", d, *(["reversal", 1.0] if width == 2 else [1.0])) for d in days]
        cat.upsert(name, spark.createDataFrame(rows, cols))
    end, window = dt.date(2022, 3, 1), 30
    start = dt.date(2021, 11, 15)  # the tick's lookback starts in the year before
    span = _Span(end, {n: start for n in (2 * window, window, REVERSAL_WINDOW)})
    plans_by_table = {}

    class Capture:
        def table(self, name):
            return cat.table(name)

        def upsert(self, name, df):
            plans_by_table[name] = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )

    stages = _stages(Capture(), window, 10.0, span)
    stages["betas"]()  # tail(stock_returns)
    stages["alphas"]()  # at_end(scores), at_end(idio_vol)
    bounds = {
        ("betas", "stock_returns"): "(year >= 2021), (year <= 2022)",
        ("alphas", "scores"): "(year >= 2022), (year <= 2022)",
        ("alphas", "idio_vol"): "(year >= 2022), (year <= 2022)",
    }
    for (written, read), bound in bounds.items():
        filters = _partition_filters(plans_by_table[written], read)
        assert filters and all(bound in f for f in filters), (written, read, filters)


def test_sessionize_single_shuffle(spark):
    # window (lag + cumsum) and the per-session groupBy share the
    # user-key hash partitioning: exactly one exchange end-to-end
    plan = _explain(spark, "w_sessionize")
    assert _op_count(plan, "Exchange") == 1


def test_ohlc_single_shuffle_single_sort(spark):
    # open and close both derive from ONE ascending sort (close via
    # rn == partition count), so the bar query is 1 exchange + 1 sort
    plan = _explain(spark, "w_ohlc_resample")
    assert _op_count(plan, "Exchange") == 1
    assert len(re.findall(r"^\(\d+\) Sort", plan, flags=re.M)) == 1


def test_xsec_rank_single_shuffle(spark):
    # rank + ntile share one window: exactly one exchange on the day key
    plan = _explain(spark, "w_xsec_rank")
    assert _op_count(plan, "Exchange") == 1
    assert _op_count(plan, "Window") == 1


def test_forward_returns_share_one_window_sort(spark):
    # both horizons evaluate in a single Window over one exchange+sort
    plan = _explain(spark, "w_forward_returns")
    assert _op_count(plan, "Exchange") == 1
    assert _op_count(plan, "Window") == 1
    assert _op_count(plan, "Sort") == 1


def test_winsorize_broadcasts_bounds(spark):
    # per-day bounds join back by broadcast — the fact table must not
    # shuffle for the join (one exchange total: the bounds aggregate)
    plan = _explain(spark, "p_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zipf_slope_topk_is_two_phase(spark):
    # the per-source rank must never sort a source's full vocab in one
    # window task: a local top-k per (source, input partition) prunes
    # first, then the global rank runs over <= k*partitions rows
    plan = _explain(spark, "t_zipf_slope")
    assert _op_count(plan, "Window") == 2
    assert "SPARK_PARTITION_ID" in plan  # the local phase keys on pid


def test_cdc_occurrence_count_is_join_not_window(spark):
    # chunk-hash occurrence counting must be groupBy + join-back (AQE
    # can split a skewed join, not a skewed window partition): a
    # corpus-wide boilerplate chunk must never pin one window task
    plan = _explain(spark, "t_cdc_chunks")
    # every Window is the per-doc position cumsum (keyed on doc_id) —
    # none may partition by chunk_hash (the join duplicates the linear
    # chunk-derivation subtree; that recompute is skew-free, a
    # chunk_hash window is not)
    win_args = re.findall(
        r"^\(\d+\) Window\n(?:(?!^\(\d+\) ).+\n)*", plan, flags=re.M
    )
    assert win_args and all("chunk_hash" not in w for w in win_args)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_dup_ngram_fraction_is_linear(spark):
    # the span-dedup signal must stay two linear shuffles (gram df +
    # doc roll-up) plus the join back — never a pairwise doc join
    plan = _explain(spark, "d_dup_ngram_fraction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
