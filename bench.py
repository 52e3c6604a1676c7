"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Mirrors BASELINE.md's DuckDB measurement protocol: warm runs, median
of 5, full materialization (Arrow collect). Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The seven headline queries map 1:1 to the baseline's operator classes
(W1 lag, W2 rolling sum, A5 z-score, A6+A1 weighted agg, J-class
3-way join, R2 pivot, O3 top-k).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nt_data_pipelines_spark import plans
from nt_data_pipelines_spark.session import get_spark

HEADLINE = {
    "q1_lag_pct_change": "w1_pct_change",
    "q2_rolling_sum21": "w2_rolling_sum21",
    "q3_zscore_global": "a5_zscore_global",
    "q4_equal_weight_agg": "a6_equal_weight_benchmark",
    "q5_threeway_join_agg": "j2_shipping_priority",
    "q6_pivot": "r2_pivot_event_type",
    "q7_topk_dates": "o3_topk_dates",
}

WARMUP_RUNS = 2
TIMED_RUNS = 7
BENCHDATA = Path(__file__).resolve().parent / "benchdata"


def materialize(df) -> int:
    # Arrow-batched transfer, materialized AS ARROW — the exact
    # equivalent of the DuckDB side's fetch_arrow_table() below.
    # toPandas() additionally pays an Arrow->pandas conversion the
    # baseline never pays (measured: +36 ms on the 100k-row W1 result
    # alone); row-based collect() would benchmark Py4J serialization,
    # not the engine.
    return df.toArrow().num_rows


_JOB_GROUP_SEQ = [0]  # unique job-group ids across all blocks


def _time_queries(
    run_one,
    warmup: int,
    timed: int,
    names: dict[str, str] | None = None,
    sc=None,
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per query: (median, spread). Spread carries min/median/max/stdev
    of the timed runs so round-over-round artifact comparisons can tell
    scheduling noise from real regression (a single-run outlier shows
    as max >> median with a stable min).

    With ``sc`` (a SparkContext), one extra post-timing run executes
    under a unique job group and records ``n_jobs`` in the spread
    (VERDICT r8 #7): the sub-50 ms queries sit on local-mode's
    ~25 ms-per-job scheduling floor, so a round-over-round latency
    move WITHOUT a job-count move is box noise, while a job-count
    change is a real plan regression and must fail loudly in review.
    """
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for label, qname in (names or HEADLINE).items():
        prepared = run_one(qname)
        for _ in range(warmup):
            prepared()
        runs = []
        last = None
        for _ in range(timed):
            t0 = time.perf_counter()
            last = prepared()
            runs.append(time.perf_counter() - t0)
        timings[label] = round(statistics.median(runs), 4)
        spread[label] = {
            "min": round(min(runs), 4),
            "median": timings[label],
            "max": round(max(runs), 4),
            "stdev": round(statistics.stdev(runs), 4) if len(runs) > 1 else 0.0,
        }
        if type(last) is int:
            # materialize() returns the row count: recorded so
            # output-bound rows (c1's ~64M-pair all-pairs materialization)
            # are self-explaining in the artifact (VERDICT r13 #6); an
            # exact type check, since a bool return is an int too
            spread[label]["output_rows"] = last
        if sc is not None:
            _JOB_GROUP_SEQ[0] += 1
            group = f"bench_njobs_{_JOB_GROUP_SEQ[0]}"
            sc.setJobGroup(group, group)
            try:
                prepared()
                spread[label]["n_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(group)
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
    return timings, spread


def _contention_probe(spark, jobs: int = 8) -> dict:
    """Fixed-work calibration anchor (VERDICT r12 #2).

    Three consecutive rounds needed a manual idle-box re-run to tell
    driver-box contention from a code regression (r10/r11 c7 drift,
    r12 dag backfill 60.6 s vs idle 32.4 s). This probe times the same
    two fixed workloads alongside every block that has no same-run
    DuckDB anchor:

    - ``cpu_secs``: a single-thread arithmetic loop (~0.1 s idle) —
      moves with CPU steal/oversubscription;
    - ``sched_secs_per_job``: median of ``jobs`` empty Spark SQL jobs
      — moves with the local-mode job-scheduling floor, which is what
      actually bounds the job-count-heavy blocks (curate, streaming,
      DAG backfill).

    Round-over-round adjudication: a block whose value moves WITH its
    probe (stable ``ratio_to_*``) is box contention; a value move
    against a flat probe is a real regression. No hand re-runs needed.
    """
    acc = 0
    t0 = time.perf_counter()
    for i in range(2_000_000):
        acc += i * i
    cpu = time.perf_counter() - t0
    for _ in range(2):
        spark.range(1).count()  # warm the path so the probe times the floor
    runs = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        spark.range(1).count()
        runs.append(time.perf_counter() - t0)
    # fixed PARALLEL workload (VERDICT r13 #8): a constant-size
    # CPU-bound Spark job whose wall time scales ~linearly with usable
    # cores, so the artifact carries core-scaling evidence the sub-50ms
    # headline queries (pinned at the scheduling floor) cannot express:
    # the driver's low-core rerun shows this value growing ~cores-ratio
    # while sched_secs_per_job stays flat.
    runq = lambda: spark.range(128_000_000).selectExpr(
        "sum(cast(xxhash64(id) as double)) s"
    ).collect()
    runq()  # warm: codegen/plan cache, so block 1's probe equals block N's
    t0 = time.perf_counter()
    runq()
    par = time.perf_counter() - t0
    return {
        "cpu_secs": round(cpu, 4),
        "sched_secs_per_job": round(statistics.median(runs), 4),
        "parallel_cpu_secs": round(par, 4),
    }


def _attach_probe(block: dict, spark) -> None:
    """Record the probe + the block's ratio-to-probe in the block."""
    probe = _contention_probe(spark)
    block["contention_probe"] = probe
    v = block.get("value")
    # explicit None/zero checks: a 0.0-rounded block value must still
    # record ratios where possible, and a probe denominator that
    # rounds to 0.0 must not kill the bench with ZeroDivisionError
    if v is not None:
        if probe["cpu_secs"] > 0:
            block["contention_probe"]["ratio_to_cpu"] = round(v / probe["cpu_secs"], 1)
        if probe["sched_secs_per_job"] > 0:
            block["contention_probe"]["ratio_to_job"] = round(
                v / probe["sched_secs_per_job"], 1
            )


def _duck_connect(data_dir: str):
    """DuckDB connection with the testdata tables registered as views
    over the same parquet Spark reads — the same-run oracle side."""
    import duckdb

    from nt_data_pipelines_spark.sources.testdata import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        glob = p if os.path.isfile(p) else f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    # scaled benchdata stores events.ts as int64 nanos (make_benchdata.py)
    (ts_type,) = [r[1] for r in con.execute("DESCRIBE events").fetchall() if r[0] == "ts"]
    if ts_type == "BIGINT":
        ev = os.path.join(data_dir, "events.parquet")
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
            f"(make_timestamp(ts // 1000) AS ts) FROM read_parquet('{ev}/*.parquet')"
        )
    return con


def _duck_runner(con):
    def duck_one(qname):
        sql = plans.REGISTRY[qname].oracle
        return lambda: con.execute(sql).fetch_arrow_table()

    return duck_one


def _production_block(spark, data_dir: str) -> dict:
    """Headline queries at a scaled benchdata dir in production config,
    Spark vs the same DuckDB oracles on the same parquet.

    The sf0.1 latency numbers sit inside local-mode's ~25 ms per-job
    scheduling floor for the cheap queries; at sf1+ real work dominates
    and the engine's actual ratio vs DuckDB becomes visible. Emitted
    into the one-line artifact so the official bench reflects the
    engine, not the scheduler — and so the artifact carries the
    SCALING CURVE (the ratio improves with every 10x: ~0.9x at sf0.1,
    ~0.23x at sf1, ~0.08x at sf5 on this box).
    """
    # production config for this pass: AQE on, environment-sized shuffle
    from nt_data_pipelines_spark.session import default_parallelism

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))

    def spark_one(qname):
        df = plans.REGISTRY[qname].fn(spark, data_dir)
        return lambda: materialize(df)

    spark_t, spark_spread = _time_queries(
        spark_one, warmup=1, timed=3, sc=spark.sparkContext
    )
    # grouped-map hot paths (VERDICT r8 #5): the only applyInPandas
    # kernels in the headline tier — tracked Spark-side at sf1+ so a
    # kernel regression is a bench diff, not "timing informational"
    gm_t, gm_spread = _time_queries(
        spark_one,
        warmup=1,
        timed=3,
        names={
            "g1_ewma_halflife": "w4_ewma_halflife",
            "g2_rolling_ols": "w6_rolling_regression",
        },
        sc=spark.sparkContext,
    )

    con = _duck_connect(data_dir)
    duck_t, _ = _time_queries(_duck_runner(con), warmup=1, timed=3)
    spark_total, duck_total = round(sum(spark_t.values()), 4), round(sum(duck_t.values()), 4)
    return {
        "config": "prod(aqe=on)",
        "value": spark_total,
        "queries": spark_t,
        "queries_spread": spark_spread,
        "grouped_map_queries": gm_t,
        "grouped_map_spread": gm_spread,
        "grouped_map_value": round(sum(gm_t.values()), 4),
        "duckdb_value": duck_total,
        "duckdb_queries": duck_t,
        "ratio_vs_duckdb": round(spark_total / duck_total, 4) if duck_total else None,
    }


# corpus-tier rows with DuckDB oracles in the registry — the
# SQL-expressible anchors for ratio tracking (BASELINE.md)
CORPUS_ORACLE = {
    "c4_exact_dedup": "d_exact_dedup",
    "c5_dup_ngram_fraction": "d_dup_ngram_fraction",
}


def _corpus_block(spark, data_dir: str, heavy: bool = True) -> dict:
    """Corpus/dedup-tier bench at a scaled benchdata dir (VERDICT r6 #2).

    Times the tier's flagship compositions — LSH candidate generation,
    dup-group resolution (spanning edges -> connected components), and
    the full curation pipeline with every optional stage enabled — in
    production config. These have no DuckDB equivalent (iterative CC,
    grouped-map kernels), so the wall times stand alone as the
    round-over-round regression signal; the two SQL-expressible rows
    (exact dedup, dup-ngram fraction) additionally run against the
    DuckDB oracle on the same parquet for a ratio anchor.

    Each curate run is built FRESH and its stage-boundary blocks
    dropped after materialization — curate_corpus pins stage
    boundaries (localCheckpoint by default), and a reused lineage
    would time the blocks, not the engine.

    ``heavy=False`` (the sf5 profile) SKIPS the two long compositions —
    the all-pairs candidate op (its output is ~320 M pairs at 50x: a
    single run exceeds 5 minutes) and the full curation pipeline — and
    records WHY under ``skipped`` so the cap is loud, not silent; both
    stay tracked at sf1 every round. The heavy entries run 3 timed
    runs with no warmup (VERDICT r7 #4: median-of-1 gave a degenerate
    stdev=0 spread, so a 20% regression was indistinguishable from
    noise) — real medians cost ~3 extra minutes but make the two
    entries the block exists to guard actually comparable round over
    round.
    """
    from nt_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_spanning_edges,
        minhash_verified_dup_edges,
        resolve_dup_groups_auto,
    )
    from nt_data_pipelines_spark.pipelines.corpus import (
        CurationConfig,
        curate_corpus,
    )
    from nt_data_pipelines_spark.session import default_parallelism
    from nt_data_pipelines_spark.sources.testdata import load_table

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))

    def fresh_docs():
        return load_table(spark, data_dir, "documents")

    def run_candidates():
        return materialize(minhash_lsh_candidates(fresh_docs(), "doc_id"))

    def run_groups():
        edges = minhash_lsh_spanning_edges(fresh_docs(), "doc_id")
        return materialize(resolve_dup_groups_auto(edges))

    def run_groups_distributed():
        # VERDICT r10 #6: the auto-route picks the driver union-find at
        # bench scale (edges <= 2M), so the 100-TB path — min-label
        # propagation — had correctness tests but no tracked wall time.
        # Force it on the same edges to record the driver-vs-distributed
        # spread every round.
        edges = minhash_lsh_spanning_edges(fresh_docs(), "doc_id")
        return materialize(resolve_dup_groups_auto(edges, mode="distributed"))

    def run_curate():
        emb = load_table(spark, data_dir, "embeddings").withColumnRenamed(
            "vec_id", "doc_id"
        )
        packed, accounting = curate_corpus(
            fresh_docs(),
            config=CurationConfig(
                token_budget_per_source=2000,
                max_docs_per_source=None,
                perplexity_band=(0.1, 0.9),
                quality_model_threshold=0.05,
                remove_dup_spans_n=8,
                semantic_threshold=0.99,
            ),
            embeddings=emb,
        )
        n = materialize(packed) + materialize(accounting)
        # stage boundaries are localCheckpoint blocks (not SQL cache):
        # unpersist them explicitly so back-to-back timed runs don't
        # accumulate block-manager state across iterations
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        return n

    def spark_composed(qname):
        return thunks[qname]

    skipped: dict[str, str] = {}
    spark_t: dict[str, float] = {}
    spark_spread: dict[str, dict[str, float]] = {}

    thunks = {
        "c2_dup_groups": run_groups,
        "c2_dup_groups_distributed": run_groups_distributed,
    }
    t, s = _time_queries(spark_composed, 1, 3, {k: k for k in thunks}, sc=spark.sparkContext)
    spark_t.update(t)
    spark_spread.update(s)
    if heavy:
        from pyspark.sql import functions as F

        from nt_data_pipelines_spark.operators.text import (
            benchmark_contamination,
            bloom_contamination,
        )

        # decontamination pair: the broadcast-exact check vs the
        # Bloom-prefiltered form (same exact output) — the bloom row's
        # value at scale is the map-side gram pruning; tracking both
        # keeps the overhead of building/probing the bitset honest
        # against what it saves on the verify join
        def run_decon_exact():
            docs = fresh_docs()
            return materialize(
                benchmark_contamination(
                    docs.filter(F.col("source") != "src0"),
                    docs.filter(F.col("source") == "src0"),
                    "doc_id",
                    n=3,
                )
            )

        def run_decon_bloom():
            docs = fresh_docs()
            return materialize(
                bloom_contamination(
                    docs.filter(F.col("source") != "src0"),
                    docs.filter(F.col("source") == "src0"),
                    "doc_id",
                    n=3,
                )
            )

        # record-linkage pair (VERDICT r9 #7): the one operator with a
        # quadratic failure mode (hot-gram candidate blow-up) gets a
        # tracked capped-vs-uncapped spread. Strings are 32-char
        # document prefixes over a deterministic 1/20 doc subsample
        # (~2.5k distinct at sf1; part names are too few to exercise
        # the join) — the hottest trigram's df is ~965, so cap=200
        # genuinely stop-lists grams (8,443 -> 3,331 pairs at
        # threshold 0.6: the recall trade is visible, and a cap
        # regression moves BOTH the time and the uncapped/capped gap)
        from nt_data_pipelines_spark.operators.linkage import fuzzy_string_pairs

        def run_linkage(cap):
            names = (
                fresh_docs()
                .filter(F.col("doc_id") % 20 == 0)
                .groupBy(F.substring("text", 1, 32).alias("name"))
                .agg(F.min("doc_id").alias("id"))
            )

            def go():
                return materialize(
                    fuzzy_string_pairs(
                        names.select("id", "name"),
                        "id",
                        "name",
                        threshold=0.6,
                        max_gram_df=cap,
                    )
                )

            return go

        # lossless prefix-filter path (round-10 batch 8): same exact
        # output as c7_linkage_uncapped (verified: 8,443 = 8,443 rows),
        # candidates from rarest-gram prefixes only — the trio
        # (uncapped / capped / prefix) tracks the exact-quadratic,
        # bounded-recall, and exact-self-pruning strategies on the same
        # input. Measured honestly: on THIS input (hottest trigram df
        # ~965 over ~2.5k strings) prefix costs ~2x the uncapped join
        # (9.3 vs 4.9 s single-run) — the df-rank window + extra joins
        # outweigh the candidate savings until skew is heavier; the row
        # exists so the crossover is tracked, not assumed
        from nt_data_pipelines_spark.operators.linkage import prefix_filtered_pairs

        def run_linkage_prefix():
            names = (
                fresh_docs()
                .filter(F.col("doc_id") % 20 == 0)
                .groupBy(F.substring("text", 1, 32).alias("name"))
                .agg(F.min("doc_id").alias("id"))
            )
            return materialize(
                prefix_filtered_pairs(names.select("id", "name"), "id", "name", 3, 5)
            )

        # PPS sampler (round-10 batch 7): tracks the exact-distributed-
        # prefix-sum pattern (md5-first-byte range partition, one corpus
        # window shuffle + 256-row offsets broadcast) — a plan
        # regression here (extra scan / extra corpus shuffle) moves
        # this row well outside spread
        from nt_data_pipelines_spark.operators.sampling import pps_systematic_sample

        def run_pps():
            return materialize(
                pps_systematic_sample(fresh_docs(), "doc_id", "n_chars", m=10000)
            )

        thunks = {
            "c1_minhash_candidates": run_candidates,
            "c3_curate_full": run_curate,
            "c6_decontaminate_exact": run_decon_exact,
            "c6_decontaminate_bloom": run_decon_bloom,
            "c7_linkage_capped": run_linkage(200),
            "c7_linkage_uncapped": run_linkage(None),
            "c7_linkage_prefix": run_linkage_prefix,
            "c8_pps_prefix_sum": run_pps,
        }
        t, s = _time_queries(spark_composed, 0, 3, {k: k for k in thunks}, sc=spark.sparkContext)
        spark_t.update(t)
        spark_spread.update(s)
    else:
        # sf5 flagship signal (VERDICT r8 #4): the two long compositions
        # stay skipped (below), but their SCALE-PATH twins run — the
        # bounded verified-edge candidate generation that curation
        # actually uses, and a linear-stage curate profile (rules +
        # bounded near-dup + source mixing + packing; the optional
        # span/perplexity/classifier/semantic stages stay sf1-only).
        def run_bounded_edges():
            return materialize(
                minhash_verified_dup_edges(fresh_docs(), "doc_id", bucket_cap=64)
            )

        def run_curate_linear():
            packed, accounting = curate_corpus(
                fresh_docs(),
                config=CurationConfig(token_budget_per_source=2000),
            )
            n = materialize(packed) + materialize(accounting)
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            return n

        thunks = {
            "c1_bounded_edges": run_bounded_edges,
            "c3_curate_linear": run_curate_linear,
        }
        t, s = _time_queries(spark_composed, 0, 3, {k: k for k in thunks}, sc=spark.sparkContext)
        spark_t.update(t)
        spark_spread.update(s)
        skipped["c1_minhash_candidates"] = (
            "all-pairs candidate output is O(copies x base pairs) "
            "(~320M rows here); single run >5 min — tracked at sf1; "
            "the bounded scale path runs here as c1_bounded_edges"
        )
        skipped["c3_curate_full"] = (
            "full pipeline is ~30 sequential jobs; >5 min here — "
            "tracked at sf1; the linear-stage profile runs here as "
            "c3_curate_linear"
        )

    def spark_oracle_row(qname):
        df = plans.REGISTRY[qname].fn(spark, data_dir)
        return lambda: materialize(df)

    st2, sp2 = _time_queries(spark_oracle_row, 1, 3, CORPUS_ORACLE, sc=spark.sparkContext)
    spark_t.update(st2)
    spark_spread.update(sp2)

    import duckdb

    from nt_data_pipelines_spark.sources.testdata import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        glob = p if os.path.isfile(p) else f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

    def duck_one(qname):
        sql = plans.REGISTRY[qname].oracle
        return lambda: con.execute(sql).fetch_arrow_table()

    duck_t, _ = _time_queries(duck_one, 1, 3, CORPUS_ORACLE)
    sub_spark = round(sum(spark_t[k] for k in CORPUS_ORACLE), 4)
    sub_duck = round(sum(duck_t.values()), 4)
    out = {
        "config": "prod(aqe=on)",
        "value": round(sum(spark_t.values()), 4),
        "queries": spark_t,
        "queries_spread": spark_spread,
        "duckdb_queries": duck_t,
        "duckdb_subset_value": sub_duck,
        "subset_ratio_vs_duckdb": round(sub_spark / sub_duck, 4) if sub_duck else None,
    }
    if skipped:
        out["skipped"] = skipped
    _attach_probe(out, spark)
    return out


def _streaming_block(spark, data_dir: str, n_batches: int = 3) -> dict:
    """Streaming-tier bench (VERDICT r7 #5): drive both foreachBatch
    sinks over ``n_batches`` micro-batches of the scaled corpus and
    record per-batch wall time + final state-table sizes.

    The thing this makes visible round-over-round: the per-batch cost
    of the verified near-dup tier's state joins (batch bands vs the
    accumulated signature table, candidate word-set verification, PK
    upserts into three state tables) and of IVF-PQ index maintenance.
    Batch_i times are expected to GROW with state size — a slope
    change, not the absolute, is the regression signal. Batches are
    deterministic doc_id/vec_id % n_batches slices, so the workload is
    identical every round.

    The minhash tier runs on a deterministic 1/``docs_mod`` subsample:
    the full sf1 corpus's verified pair set is ~44 M rows (the salted
    copies carry big TRUE near-dup cliques, and the contract pair
    table is all verified pairs — quadratic per clique), which puts a
    single pass at ~6 min of mostly pairs-table rewrite. The subsample
    keeps every join shape and the state-growth slope at ~1/25 the
    pair volume; being id-deterministic, it is the same workload every
    round.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nt_data_pipelines_spark.catalog import Catalog
    from nt_data_pipelines_spark.operators.ivf import kmeans_train
    from nt_data_pipelines_spark.operators.pq import pq_train
    from nt_data_pipelines_spark.session import default_parallelism
    from nt_data_pipelines_spark.sources.testdata import load_table
    from nt_data_pipelines_spark.streaming import (
        ann_index_foreach_batch,
        minhash_foreach_batch,
    )
    from nt_data_pipelines_spark.streaming.incremental import (
        ANN_INDEX_SCHEMA,
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    lake = tempfile.mkdtemp(prefix="bench_streaming_")
    out: dict = {"config": "prod(aqe=on)", "n_batches": n_batches}
    try:
        cat = Catalog(spark, lake, commit_mode="filelist")
        cat.create("sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
        cat.create("pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
        cat.create("words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
        sink = minhash_foreach_batch(
            cat, "sigs", "pairs", words_table="words", verify_threshold=0.7,
            state_bucket_cap=64, edges_per_doc=4,
        )
        docs_mod = 5
        out["docs_mod"] = docs_mod
        docs = (
            load_table(spark, data_dir, "documents")
            .filter(F.col("doc_id") % docs_mod == 0)
            .select("doc_id", "text")
        )
        batch_secs = []
        for i in range(n_batches):
            b = docs.filter(F.col("doc_id") % n_batches == i)
            t0 = time.perf_counter()
            sink(b, epoch_id=i)
            batch_secs.append(round(time.perf_counter() - t0, 4))
        out["minhash_verified"] = {
            "batch_secs": batch_secs,
            "value": round(sum(batch_secs), 4),
            "state_rows": {
                "sigs": cat.table("sigs").count(),
                "pairs": cat.table("pairs").count(),
                "words": cat.table("words").count(),
            },
        }

        emb = load_table(spark, data_dir, "embeddings").select("vec_id", "embedding")
        seed = emb.filter(F.col("vec_id") < 2000)
        cents = kmeans_train(seed, n_cells=16, iterations=2)
        cb = pq_train(seed, m=4, k=16, dim=64, iterations=1)
        cat.create("ann_idx", ANN_INDEX_SCHEMA, None, ["vec_id"])
        asink = ann_index_foreach_batch(cat, "ann_idx", cents, cb, m=4, dim=64)
        ann_secs = []
        for i in range(n_batches):
            b = emb.filter(F.col("vec_id") % n_batches == i)
            t0 = time.perf_counter()
            asink(b, epoch_id=i)
            ann_secs.append(round(time.perf_counter() - t0, 4))
        out["ann_index"] = {
            "batch_secs": ann_secs,
            "value": round(sum(ann_secs), 4),
            "state_rows": {"ann_idx": cat.table("ann_idx").count()},
        }
        out["value"] = round(
            out["minhash_verified"]["value"] + out["ann_index"]["value"], 4
        )
        _attach_probe(out, spark)
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    return out


def _hot_bucket_block(spark, n_hot: int = 200_000, n_bg: int = 50_000) -> dict:
    """Adversarial hot-bucket dedup evidence (VERDICT r12 #5).

    Synthesizes an sf5-sized corpus whose shape is the 100-TB failure
    mode: ONE boilerplate cluster of ``n_hot`` near-identical docs
    (shared 40-word template + 1 unique word each, Jaccard ~0.95, so
    every doc lands in the same (band, band_hash) bucket in every
    band) plus ``n_bg`` unique background docs. On this corpus the
    naive all-pairs candidate join materializes ~bands * n_hot^2 / 2
    pairs (~8e10 here — recorded as ``naive_projected_pairs`` from the
    actual bucket histogram, never materialized); the block times the
    linear-size paths that replace it:

    - ``spanning_edges_secs``: chain-per-bucket edges (O(bucket) rows);
    - ``verified_edges_secs``: capped candidates + exact Jaccard
      (star-to-hub on the hot bucket, default ``bucket_cap``);
    - ``cc_driver_secs`` / ``cc_distributed_secs``: union-find vs
      min-label pointer-jumping on the SAME materialized edge set,
      with a hard component-equality assertion between the two
      (both label every node with its component minimum, so the
      labelings must be row-identical — exceptAll both ways).

    Corpus and edge set are localCheckpoint-materialized before the
    clock starts, so each row times one path, not the shared lineage.
    Single timed run per row: the block is scale evidence with a
    contention probe for round-over-round adjudication, not a
    median-tracked latency row.
    """
    from pyspark.sql import functions as F

    from nt_data_pipelines_spark.operators.dedup import (
        banded_minhash,
        minhash_lsh_spanning_edges,
        minhash_verified_dup_edges,
        resolve_dup_groups,
        resolve_dup_groups_distributed,
    )
    from nt_data_pipelines_spark.session import default_parallelism

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    # snapshot pre-existing persistent RDD ids: the cleanup at the end
    # must release ONLY this block's checkpoints — unpersisting a
    # checkpointed RDD someone else still references destroys data
    # lineage can no longer recompute
    pre_existing = {
        r.id() for r in spark.sparkContext._jsc.getPersistentRDDs().values()
    }

    boiler = " ".join(f"boiler{w}" for w in range(40))
    hot = spark.range(n_hot).select(
        F.concat(F.lit("h"), F.lpad(F.col("id").cast("string"), 7, "0")).alias(
            "doc_id"
        ),
        F.concat(F.lit(boiler + " u"), F.col("id").cast("string")).alias("text"),
    )
    bg = spark.range(n_bg).select(
        F.concat(F.lit("b"), F.lpad(F.col("id").cast("string"), 7, "0")).alias(
            "doc_id"
        ),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(20)),
                lambda k: F.md5(F.concat(F.col("id").cast("string"), F.lit("_"), k)),
            ),
            " ",
        ).alias("text"),
    )
    docs = hot.unionByName(bg).repartition(default_parallelism()).localCheckpoint(
        eager=True
    )

    out: dict = {"n_hot": n_hot, "n_bg": n_bg}
    # the naive form's cost, from the real bucket histogram
    buckets = (
        banded_minhash(docs, "doc_id")
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
            F.max("n").alias("max_bucket"),
        )
        .collect()[0]
    )
    out["naive_projected_pairs"] = int(buckets["pairs"])
    out["max_bucket"] = int(buckets["max_bucket"])

    t0 = time.perf_counter()
    edges = minhash_lsh_spanning_edges(docs, "doc_id").localCheckpoint(eager=True)
    out["spanning_edges_secs"] = round(time.perf_counter() - t0, 4)
    out["spanning_edges_rows"] = edges.count()

    t0 = time.perf_counter()
    vedges = minhash_verified_dup_edges(docs, "doc_id").localCheckpoint(eager=True)
    # stop the clock at the eager checkpoint, BEFORE the count —
    # mirroring the spanning row above, so the two are comparable
    out["verified_edges_secs"] = round(time.perf_counter() - t0, 4)
    out["verified_edges_rows"] = vedges.count()
    # the production path: groups from VERIFIED edges only. The hot
    # cluster resolves to one group; the unique background docs must
    # not appear in any group (over-merging them is the corpus-deleting
    # failure the verify tier exists to prevent).
    vlab = resolve_dup_groups(vedges)
    out["n_groups_verified"] = vlab.select("canonical_id").distinct().count()
    out["n_docs_grouped_verified"] = vlab.count()
    out["bg_docs_grouped"] = vlab.filter(F.col("doc_id").startswith("b")).count()

    t0 = time.perf_counter()
    lab_driver = resolve_dup_groups(edges).localCheckpoint(eager=True)
    out["cc_driver_secs"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    lab_dist = resolve_dup_groups_distributed(edges)
    out["cc_distributed_secs"] = round(time.perf_counter() - t0, 4)

    # component equality: both paths label every node with the
    # component min, so the (doc_id, canonical_id) sets must match
    mism = lab_driver.exceptAll(lab_dist).count() + lab_dist.exceptAll(
        lab_driver
    ).count()
    out["components_equal"] = mism == 0
    # spanning CC over-merges by design (unverified band collisions
    # chain transitively — see minhash_verified_dup_edges docstring);
    # recorded to show WHY the verified tier is the production path
    out["n_groups_spanning"] = lab_driver.select("canonical_id").distinct().count()
    if mism:
        raise AssertionError(
            f"hot-bucket CC mismatch: driver vs distributed differ on {mism} rows"
        )
    out["value"] = round(
        out["spanning_edges_secs"]
        + out["verified_edges_secs"]
        + out["cc_driver_secs"]
        + out["cc_distributed_secs"],
        4,
    )
    # the block's localCheckpoints (corpus, edge sets, labelings) live
    # in the block manager, not the SQL cache — release them so a
    # bench invocation that runs more work afterwards starts clean,
    # but ONLY the ones this block created (see pre_existing above)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        if rdd.id() not in pre_existing:
            rdd.unpersist()
    _attach_probe(out, spark)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    profile = os.environ.get("SPARK_GRAFT_BENCH_SESSION", "latency")
    # no stage-progress bars: anything the JVM writes around the one
    # JSON contract line risks the driver's tail capture clipping it
    quiet = {"spark.ui.showConsoleProgress": "false"}
    if profile == "prod":
        # The config a real batch job ships with: AQE on, default
        # shuffle sizing. Use for sf>=1 runs (scripts/make_benchdata.py)
        # where the work dwarfs AQE's re-planning overhead — the
        # headline number at that scale is the production config's.
        spark = get_spark("bench", extra_conf=quiet)
    else:
        # Latency profile for sub-second queries: AQE's between-stage
        # re-optimization costs 2-3x at this scale (measured: 57ms vs
        # 23ms for top-k dates), so bench runs with it off. shuffle=8
        # won the round-7 idle-box re-sweep (4/8/16: 0.259/0.250/0.327 s
        # headline total — 16-partition stages pay ~2x task overhead on
        # 100k-row shuffles; the round-2 sweep that picked 16 predates
        # half the current headline plans). Batch jobs at real scale
        # keep the session defaults (AQE on) — see session.py /
        # docs/SCALE.md.
        spark = get_spark(
            "bench",
            shuffle_partitions=8,
            extra_conf={"spark.sql.adaptive.enabled": "false", **quiet},
        )
    spark.sparkContext.setLogLevel("ERROR")

    # Build each logical plan once and time repeated executions — the
    # DuckDB baseline likewise re-runs a parsed query; Python-side
    # DataFrame re-construction (~100ms of py4j chatter) is API
    # overhead, not engine time.
    def spark_one(qname):
        df = plans.REGISTRY[qname].fn(spark, sf_dir)
        return lambda: materialize(df)

    timings, spread = _time_queries(
        spark_one, WARMUP_RUNS, TIMED_RUNS, sc=spark.sparkContext
    )

    # Same-run DuckDB measurement of the SAME seven queries on the
    # SAME parquet (VERDICT r10 #2): BASELINE.md's static numbers were
    # measured once on a round-1 box, so a contended bench box was
    # indistinguishable from a code regression (BENCH_r10's headline
    # read 3.7x worse while the code was flat-to-better). The in-run
    # ratio makes the artifact interpretable by itself; BASELINE.md
    # remains the historical anchor only.
    duck_headline_t, _ = _time_queries(
        _duck_runner(_duck_connect(sf_dir)), warmup=1, timed=TIMED_RUNS
    )
    duck_headline_total = round(sum(duck_headline_t.values()), 4)

    headline_ratio = (
        round(sum(timings.values()) / duck_headline_total, 4)
        if duck_headline_total
        else None
    )
    out = {
        "metric": "headline_median_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_spread": spread,
        "duckdb_value": duck_headline_total,
        "duckdb_queries": duck_headline_t,
        "ratio_vs_duckdb": headline_ratio,
        "ratio_vs_duckdb_queries": {
            k: round(timings[k] / duck_headline_t[k], 4) if duck_headline_t[k] else None
            for k in timings
        },
        "sf": sf,
    }
    if sf >= 1.0:
        # A bench invocation targeting sf>=1 DIRECTLY skips that dir in
        # the scaled-blocks loop below, so the acceptance gate
        # (BASELINE.md round-11 addendum) must be evaluated on the
        # headline's own same-run ratio or the dedicated sf1 run would
        # carry no verdict.
        out["gate"] = {
            "threshold": 2.0,
            "ratio": headline_ratio,
            "pass": bool(headline_ratio is not None and headline_ratio <= 2.0),
        }
    # Scaled production-config results — one block per benchdata/sf*
    # dir, so the artifact carries the whole scaling curve. Skip any
    # dir this invocation already targets explicitly.
    prod_keys: list[str] = []
    scaled = os.environ.get("SPARK_GRAFT_BENCH_SCALED", "1") != "0"
    if scaled and BENCHDATA.is_dir():
        for d in sorted(BENCHDATA.glob("sf*"), key=lambda p: float(p.name[2:])):
            if d.is_dir() and os.path.realpath(sf_dir) != os.path.realpath(str(d)):
                key = f"{d.name}_prod"
                out[key] = _production_block(spark, str(d))
                if d.name == "sf1":
                    # The acceptance gate (BASELINE.md round-11
                    # addendum): within 2x of same-run DuckDB at sf1,
                    # where real work dominates the local job floor.
                    r = out[key].get("ratio_vs_duckdb")
                    out[key]["gate"] = {
                        "threshold": 2.0,
                        "ratio": r,
                        "pass": bool(r is not None and r <= 2.0),
                    }
                prod_keys.append(key)
                ckey = f"{d.name}_corpus"
                out[ckey] = _corpus_block(
                    spark, str(d), heavy=float(d.name[2:]) <= 1
                )
                prod_keys.append(ckey)
                if float(d.name[2:]) <= 1:
                    skey = f"{d.name}_streaming"
                    out[skey] = _streaming_block(spark, str(d))
                    prod_keys.append(skey)
    # Scheduled-DAG e2e at reference universe scale (VERDICT r10 #8):
    # backfill + one daily tick on an S&P-sized panel, invariants
    # asserted inside (weight sums, active-risk band, end-date writes)
    # — a pipeline-LEVEL wall-time row, not just per-operator ones.
    if scaled:
        import shutil
        import tempfile

        from nt_data_pipelines_spark.pipelines.bench_dag import run_dag_benchmark

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        lake = tempfile.mkdtemp(prefix="dag_bench_")
        try:
            out["dag_e2e"] = run_dag_benchmark(spark, os.path.join(lake, "lake"))
            out["dag_e2e"]["value"] = round(
                out["dag_e2e"]["backfill_secs"] + out["dag_e2e"]["daily_secs"], 4
            )
            _attach_probe(out["dag_e2e"], spark)
        finally:
            shutil.rmtree(lake, ignore_errors=True)
        # Adversarial hot-bucket dedup evidence (VERDICT r12 #5): the
        # one-giant-boilerplate-cluster corpus where the naive form
        # goes quadratic; proves the cap + chain-edge + pointer-jump
        # paths at sf5-equivalent size with a component-equality gate.
        out["c9_hot_bucket"] = _hot_bucket_block(spark)
    # The FULL artifact (spreads, per-query prod detail) goes to a
    # file so it survives any capture window — the round-5 official
    # sf0.1 headline was lost because the driver's tail capture
    # clipped one very long stdout line mid-JSON.
    with open(Path(__file__).resolve().parent / "bench_last.json", "w") as f:
        json.dump(out, f, indent=2)
    # The printed contract line stays SHORT: headline + per-query
    # medians + a compact scaling curve (totals and ratios only).
    slim: dict = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "duckdb_value",
            "ratio_vs_duckdb",
            "sf",
        )
    }
    if "gate" in out:
        slim["gate"] = out["gate"]
    if "dag_e2e" in out:
        slim["dag_e2e"] = {
            k: out["dag_e2e"][k]
            for k in ("backfill_secs", "daily_secs", "opt_dates", "contention_probe")
            if k in out["dag_e2e"]
        }
    if "c9_hot_bucket" in out:
        slim["c9_hot_bucket"] = {
            k: out["c9_hot_bucket"][k]
            for k in (
                "value",
                "naive_projected_pairs",
                "max_bucket",
                "spanning_edges_secs",
                "verified_edges_secs",
                "cc_driver_secs",
                "cc_distributed_secs",
                "components_equal",
                "n_groups_spanning",
                "n_groups_verified",
                "n_docs_grouped_verified",
                "bg_docs_grouped",
                "contention_probe",
            )
            if k in out["c9_hot_bucket"]
        }
    for key in prod_keys:
        block = out[key]
        slim[key] = {
            k: block[k]
            for k in (
                "value",
                "duckdb_value",
                "ratio_vs_duckdb",
                "duckdb_subset_value",
                "subset_ratio_vs_duckdb",
                "gate",
                "contention_probe",
            )
            if k in block
        }
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
