"""Metrics of one benchmark run.

End-to-end metrics come from the untraced run (``--trace 0``);
per-layer metrics from the traced run (``--trace 1``), computed from
its spans. ``BENCHMARK.json`` lists the same names; ``README.md``
says which end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import statistics

from perfbench.trace import duration, subtree
from perfbench.workloads import DERIVED, READS, Bench, lake_files, lake_rows, pct

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = dict(
    [
        ("catalog.upserts", "count"),
        ("catalog.optimize_calls", "count"),
        ("catalog.compact_calls", "count"),
        ("catalog.fastpath_ratio", "ratio"),
        ("catalog.upsert_s", "s"),
        ("catalog.insert_s", "s"),
        ("catalog.optimize_share", "ratio"),
        ("catalog.files_added", "count"),
        ("runner.flow_s", "s"),
    ]
    + [(f"stage.{t}_s", "s") for t in DERIVED]
    + [
        ("session.jobs", "count"),
        ("session.stages", "count"),
        ("session.tasks", "count"),
        ("ingest.upsert_s", "s"),
        ("trading.flow_s", "s"),
        ("trading.orders", "count"),
    ]
    + [(f"api.{k}_p50_ms", "ms") for k in READS]
    + [
        ("api.rows_per_query", "count"),
        ("read.session.jobs", "count"),
        ("read.session.stages", "count"),
        ("read.session.tasks", "count"),
        ("kernel.rolling_ols_s", "s"),
        ("kernel.ewma_s", "s"),
        ("kernel.qp_s", "s"),
        ("kernel.qp_dates_per_s", "1/s"),
        ("catalog.files", "count"),
        ("catalog.lake_bytes", "bytes"),
        ("catalog.bytes_per_row", "bytes"),
        ("trace.op_p50_ms", "ms"),
        ("trace.self_s", "s"),
    ]
)
PRICE_TABLES = ("stock_prices", "etf_prices")


def loop_records(bench: Bench) -> list[dict]:
    return [r for r in bench.records if r["phase"] == "loop"]


def e2e_metrics(bench: Bench, peak_rss_mb: float) -> dict[str, float]:
    secs = [r["s"] for r in loop_records(bench)]
    return {
        "setup_s": sum(v for k, v in bench.timings.items() if k != "loop_s"),
        "op_p50_ms": 1000.0 * statistics.median(secs),
        "ops_per_s": len(secs) / sum(secs),
        "peak_rss_mb": peak_rss_mb,
    }


def _busy(spans: list[dict], name: str, n: int = 1) -> float:
    return sum(duration(s) for s in spans if s["name"] == name) / n


def _session(spans: list[dict], n: int, prefix: str = "") -> dict[str, float]:
    return {f"{prefix}session.{k}": sum(s[k] for s in spans) / n for k in ("jobs", "stages", "tasks")}


def layer_metrics(bench: Bench) -> dict[str, float]:
    spans = [s for s in bench.tracer.spans if s["phase"] != "warmup"]
    roots = [s for s in spans if s["parent"] is None]
    out: dict[str, float] = {}

    # per DAG run: the loop's backfill or ticks, or research's probe tick
    dags = [s for s in roots if s["name"] in ("backfill", "tick") and s["phase"] == "loop"]
    dags = dags or [s for s in roots if s["name"] == "tick"]
    n = len(dags)
    dag = [s for d in dags for s in subtree(bench.tracer.spans, d)]
    ups = [s for s in dag if s["name"] == "catalog.upsert"]
    optimized = {s["parent"] for s in dag if s["name"] == "catalog.optimize"}
    out["catalog.upserts"] = len(ups) / n
    out["catalog.optimize_calls"] = sum(s["name"] == "catalog.optimize" for s in dag) / n
    out["catalog.compact_calls"] = sum(s["name"] == "catalog.compact" for s in dag) / n
    out["catalog.fastpath_ratio"] = sum(u["id"] not in optimized for u in ups) / len(ups)
    out["catalog.upsert_s"] = _busy(dag, "catalog.upsert", n)
    out["catalog.insert_s"] = _busy(dag, "catalog.insert", n)
    out["catalog.optimize_share"] = _busy(dag, "catalog.optimize") / _busy(dag, "catalog.upsert")
    dag_recs = [r for r in bench.records if r["kind"] in ("backfill", "tick") and r["phase"] == dags[0]["phase"]]
    out["catalog.files_added"] = sum(r.get("files_added", 0) for r in dag_recs) / n
    out["runner.flow_s"] = _busy(dag, "runner.flow", n)
    for t in DERIVED:
        out[f"stage.{t}_s"] = sum(duration(s) for s in ups if s.get("table") == t) / n
    out.update(_session(dag, n))

    # the price upserts: the history's (backfill set-up) or the day's
    ingest = [
        s for s in dag + [s for s in roots if s["phase"] == "setup"]
        if s["name"] == "catalog.upsert" and s.get("table") in PRICE_TABLES
    ]
    out["ingest.upsert_s"] = sum(duration(s) for s in ingest) / n
    trades = [s for s in spans if s["name"] == "trading.flow"]
    out["trading.flow_s"] = _busy(trades, "trading.flow", len(trades))
    ticks = [r for r in bench.records if r["kind"] == "tick"]
    out["trading.orders"] = sum(r.get("orders", 0) for r in ticks) / len(ticks)

    # reads: research's loop, or one block in the probe
    reads = [s for s in roots if s["name"].startswith("api.") and s["phase"] != "setup"]
    for kind in READS:
        out[f"api.{kind}_p50_ms"] = statistics.median(
            1000.0 * duration(s) for s in reads if s["name"] == f"api.{kind}"
        )
    out["api.rows_per_query"] = sum(s.get("rows", 0) for s in reads) / len(reads)
    out.update(_session(reads, len(reads), "read."))

    kernel = {s["name"]: duration(s) for s in roots if s["name"].startswith("kernel.")}
    out["kernel.rolling_ols_s"] = kernel["kernel.rolling_ols"]
    out["kernel.ewma_s"] = kernel["kernel.ewma"]
    out["kernel.qp_s"] = kernel["kernel.qp"]
    out["kernel.qp_dates_per_s"] = bench.qp_dates / kernel["kernel.qp"]

    files, size = lake_files(bench.lake)
    out["catalog.files"] = files
    out["catalog.lake_bytes"] = size
    out["catalog.bytes_per_row"] = size / max(1, lake_rows(bench.lake))

    out["trace.op_p50_ms"] = 1000.0 * statistics.median(r["s"] for r in loop_records(bench))
    out["trace.self_s"] = bench.tracer.self_s
    if set(out) != set(PER_LAYER_UNITS):
        raise AssertionError(set(out) ^ set(PER_LAYER_UNITS))
    return out


def percentiles(bench: Bench) -> dict[str, float]:
    """Loop latencies: overall p50 / p90 / max and the p50 of each
    operation kind."""
    recs = loop_records(bench)
    secs = [r["s"] for r in recs]
    kinds = sorted({r["kind"] for r in recs})
    return {
        "n": len(secs),
        "p50": statistics.median(secs),
        "p90": pct(secs, 0.9),
        "max": max(secs),
        "kind_p50": {k: statistics.median(r["s"] for r in recs if r["kind"] == k) for k in kinds},
    }
