"""Structured Streaming: watermarked window agg + upsert foreachBatch sink."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog
from nt_data_pipelines_spark.streaming import (
    run_available_now,
    streaming_event_counts,
    upsert_foreach_batch,
)
from nt_data_pipelines_spark.streaming.incremental import EVENT_SCHEMA, streaming_sessions


def _write_events(spark, path, start_hour):
    rows = []
    base = dt.datetime(2024, 1, 1, start_hour)
    for i in range(100):
        rows.append(
            (
                start_hour * 1000 + i,
                base + dt.timedelta(minutes=i % 60),
                i % 5,
                ["view", "click"][i % 2],
                float(i),
                "{}",
            )
        )
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(path)


def test_streaming_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src, 1)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    agg = streaming_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_counts").collect()
    assert len(got) == 2  # one window x two event types
    assert {r["event_type"] for r in got} == {"view", "click"}
    assert all(r["n"] == 50 for r in got)


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """Rows older than (max event time - watermark) must be excluded
    once their window is finalized — bounded state is the property
    that keeps the stream runnable forever."""
    src = str(tmp_path / "late_events")
    # batch 1: hour-10 data; batch 2 advances the clock to hour 14
    # (finalizing the hour-10 window); batch 3 delivers one very late
    # hour-10 row that must be discarded
    _write_events(spark, src, 10)
    late = [(9999, dt.datetime(2024, 1, 1, 10, 5), 1, "view", 1.0, "{}")]
    fresh = [
        (8000 + i, dt.datetime(2024, 1, 1, 14, i % 60), i % 5, "view", 1.0, "{}")
        for i in range(60)
    ]
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = streaming_event_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_counts")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # drain batch 1 (watermark -> 09:00)
        spark.createDataFrame(fresh, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # clock advances; hour-10 window finalizes
        spark.createDataFrame(late, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()  # late row arrives behind the watermark
    finally:
        q.stop()
    got = {
        (r["window_start"].hour, r["event_type"]): r["n"]
        for r in spark.sql("select * from late_counts").collect()
    }
    # the finalized hour-10 window emitted WITHOUT the late row
    hour10 = [v for (h, _t), v in got.items() if h == 10]
    assert sum(hour10) == 100  # the original 100 events, late row dropped


def test_streaming_session_windows(spark, tmp_path):
    src = str(tmp_path / "sess_events")
    base = dt.datetime(2024, 1, 1, 9)
    rows = []
    # user 1: two bursts separated by > 30min gap -> two sessions
    for i in range(5):
        rows.append((i, base + dt.timedelta(minutes=i), 1, "view", 1.0, "{}"))
    for i in range(3):
        rows.append((100 + i, base + dt.timedelta(minutes=90 + i), 1, "view", 1.0, "{}"))
    # user 2: one continuous session
    for i in range(4):
        rows.append((200 + i, base + dt.timedelta(minutes=10 * i), 2, "view", 2.0, "{}"))
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sessions").collect()
    per_user = {}
    for r in got:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [3, 5]  # two sessions
    assert per_user[2] == [4]  # one merged session (gaps < 30min)


def test_streaming_upsert_sink_idempotent(spark, tmp_path):
    src = str(tmp_path / "events2")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src, 2)

    cat = Catalog(spark, str(tmp_path / "lake"))
    cat.create(
        "event_counts",
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        partition_keys=None,
        primary_keys=["event_type"],
        mode="replace",
    )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sink = upsert_foreach_batch(cat, "event_counts")
    run_available_now(counts, sink, ckpt)
    got = {r["event_type"]: r["n"] for r in cat.table("event_counts").collect()}
    assert got == {"view": 50, "click": 50}

    # replaying the same batch (new checkpoint) converges — PK upsert
    run_available_now(counts, sink, str(tmp_path / "ckpt2"))
    got2 = {r["event_type"]: r["n"] for r in cat.table("event_counts").collect()}
    assert got2 == got


def test_streaming_near_dup_matches_batch_lsh(spark, tmp_path):
    """A near-duplicate arriving in a LATER batch lands in the same dup
    group the from-scratch batch LSH run produces — and replays are
    idempotent (incremental signature upsert + band-bucket join)."""
    from nt_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        resolve_dup_groups,
    )
    from nt_data_pipelines_spark.streaming import (
        minhash_foreach_batch,
        run_available_now,
        streaming_dup_groups,
    )
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    # identical word SETS (order/multiplicity differ) collide on every
    # band; distinct texts never share a bucket
    b1 = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different words entirely here"),
        (7, None),
    ]
    b2 = [
        (3, "lazy dog the quick brown fox jumps over"),  # near-dup of 1, later batch
        (4, "words completely entirely different here"),  # near-dup of 2
        (5, "nothing in common with any other document"),
    ]
    src = str(tmp_path / "nd_docs")
    spark.createDataFrame(b1, doc_schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, doc_schema).coalesce(1).write.mode("append").parquet(src)

    cat = Catalog(spark, str(tmp_path / "nd_lake"))
    cat.create("mh_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("mh_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    sink = minhash_foreach_batch(cat, "mh_sigs", "mh_pairs")
    stream = (
        spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_available_now(stream, sink, str(tmp_path / "nd_ckpt"), output_mode="append")

    full = spark.createDataFrame(b1 + b2, doc_schema).filter(F.col("text").isNotNull())
    want_pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(full, "doc_id").collect()
    }
    got_pairs = {(r["id_a"], r["id_b"]) for r in cat.table("mh_pairs").collect()}
    assert got_pairs == want_pairs and (1, 3) in got_pairs and (2, 4) in got_pairs

    want_groups = {
        (r["doc_id"], r["canonical_id"])
        for r in resolve_dup_groups(minhash_lsh_candidates(full, "doc_id")).collect()
    }
    got_groups = {
        (r["doc_id"], r["canonical_id"])
        for r in streaming_dup_groups(cat, "mh_pairs").collect()
    }
    assert got_groups == want_groups
    assert (3, 1) in got_groups and (4, 2) in got_groups  # cross-batch grouping

    # failure retry: re-apply batch 2 directly — state unchanged
    sink(spark.createDataFrame(b2, doc_schema), epoch_id=99)
    assert {(r["id_a"], r["id_b"]) for r in cat.table("mh_pairs").collect()} == want_pairs


def test_streaming_near_dup_retracts_mutated_doc(spark, tmp_path):
    """A doc_id re-delivered with CHANGED text must not leave stale
    candidate pairs behind: the sink retracts pairs computed from the
    old signature, so streaming groups equal a from-scratch batch run
    over the LATEST version of every document."""
    from nt_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        resolve_dup_groups,
    )
    from nt_data_pipelines_spark.streaming import minhash_foreach_batch, streaming_dup_groups
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    text_a = "the quick brown fox jumps over the lazy dog"
    text_b = "completely different words entirely here"
    b1 = [(1, text_a), (2, text_b), (3, "lazy dog the quick brown fox jumps over")]
    b2 = [(3, "words completely entirely different here")]  # 3 mutates: now near 2

    cat = Catalog(spark, str(tmp_path / "mut_lake"))
    cat.create("mh_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("mh_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    sink = minhash_foreach_batch(cat, "mh_sigs", "mh_pairs")
    sink(spark.createDataFrame(b1, doc_schema), epoch_id=0)
    assert (1, 3) in {
        (r["id_a"], r["id_b"]) for r in cat.table("mh_pairs").collect()
    }
    sink(spark.createDataFrame(b2, doc_schema), epoch_id=1)

    latest = spark.createDataFrame([(1, text_a), (2, text_b)] + b2, doc_schema)
    want_pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(latest, "doc_id").collect()
    }
    got_pairs = {(r["id_a"], r["id_b"]) for r in cat.table("mh_pairs").collect()}
    assert got_pairs == want_pairs          # stale (1,3) retracted...
    assert (2, 3) in got_pairs              # ...new-content pair present
    want_groups = {
        (r["doc_id"], r["canonical_id"])
        for r in resolve_dup_groups(minhash_lsh_candidates(latest, "doc_id")).collect()
    }
    got_groups = {
        (r["doc_id"], r["canonical_id"])
        for r in streaming_dup_groups(cat, "mh_pairs").collect()
    }
    assert got_groups == want_groups
    # replaying the mutation batch is a no-op (same text -> no change)
    sink(spark.createDataFrame(b2, doc_schema), epoch_id=2)
    assert {(r["id_a"], r["id_b"]) for r in cat.table("mh_pairs").collect()} == want_pairs


def test_streaming_dedup_converges_to_batch_result(spark, tmp_path):
    """Overlapping document batches through the dedup sink converge to
    the batch exact_dedup survivor set — including on batch REPLAY."""
    from nt_data_pipelines_spark.operators.dedup import exact_dedup
    from nt_data_pipelines_spark.streaming import dedup_foreach_batch, run_available_now
    from nt_data_pipelines_spark.streaming.incremental import DEDUP_STATE_SCHEMA

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = str(tmp_path / "docs")
    # batch 1: ids 10..14; batch 2 OVERLAPS content (same texts, higher
    # and LOWER ids) so the survivor must settle on the global min id
    b1 = [(10, "alpha"), (11, "beta"), (12, "gamma"), (13, "alpha"), (14, None)]
    b2 = [(5, "alpha"), (20, "beta"), (21, "delta"), (22, "gamma")]
    spark.createDataFrame(b1, doc_schema).write.mode("append").parquet(src)
    spark.createDataFrame(b2, doc_schema).write.mode("append").parquet(src)

    cat = Catalog(spark, str(tmp_path / "lake"))
    cat.create("doc_dedup", DEDUP_STATE_SCHEMA, None, ["text_hash"])
    sink = dedup_foreach_batch(cat, "doc_dedup")
    stream = (
        spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_available_now(stream, sink, str(tmp_path / "ckpt"), output_mode="append")

    full = spark.createDataFrame(b1 + b2, doc_schema)
    want = {
        (r["text_hash"], r["survivor_id"])
        for r in exact_dedup(full, "doc_id").select("text_hash", "survivor_id").collect()
    }
    got = {
        (r["text_hash"], r["survivor_id"]) for r in cat.table("doc_dedup").collect()
    }
    assert got == want  # alpha->5, beta->11, gamma->12, delta->21; null text dropped

    # simulate a failure retry: re-apply batch 2 directly — idempotent
    sink(spark.createDataFrame(b2, doc_schema), epoch_id=99)
    got2 = {
        (r["text_hash"], r["survivor_id"]) for r in cat.table("doc_dedup").collect()
    }
    assert got2 == want


def test_streaming_sessions_match_batch_sessionize(spark, tmp_path):
    """The native session_window stream and the batch lag-gap cumsum
    agree on the session partition (per-user event-count multisets)
    for gaps away from the exact boundary (the half-open window edge
    is the one definitional difference)."""
    from nt_data_pipelines_spark.operators.sessions import session_stats

    src = str(tmp_path / "parity_events")
    base = dt.datetime(2024, 1, 1, 6)
    rows = []
    eid = 0
    # deterministic pseudo-random gaps: minutes in a pattern that
    # crosses the 30-min threshold at varied points, never exactly
    offs = [0, 7, 13, 55, 61, 64, 130, 131, 205, 290, 291, 299]
    for u in range(3):
        for i, m in enumerate(offs):
            if (u + i) % 4 == 0 and i:  # vary per user
                continue
            rows.append((eid, base + dt.timedelta(minutes=m, seconds=u), u, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {}
    for r in spark.sql("select user_id, n_events from sess_parity").collect():
        streamed.setdefault(r["user_id"], []).append(r["n_events"])

    batch_df = spark.createDataFrame(rows, EVENT_SCHEMA)
    batch = {}
    for r in session_stats(batch_df, "user_id", "ts", "event_id", "value", 1800).collect():
        batch.setdefault(r["user_id"], []).append(r["n_events"])

    assert {u: sorted(v) for u, v in streamed.items()} == {
        u: sorted(v) for u, v in batch.items()
    }


def test_streaming_dedup_ids_drops_replays(spark, tmp_path):
    """Replayed event ids within the watermark collapse to one row;
    distinct ids all survive (at-least-once -> effectively-once)."""
    import datetime as dt

    from nt_data_pipelines_spark.streaming.incremental import streaming_dedup_ids

    src = str(tmp_path / "dup_events")
    base = dt.datetime(2024, 1, 1, 9)
    rows = []
    for i in range(40):
        rows.append((i, base + dt.timedelta(minutes=i), i % 3, "view", float(i), "{}"))
    # redeliveries: same ids, slightly later event times (retry clock skew)
    for i in range(0, 40, 4):
        rows.append((i, base + dt.timedelta(minutes=i, seconds=30), i % 3, "view", float(i), "{}"))
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(src)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    deduped = streaming_dedup_ids(stream, watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_ids")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select event_id from dedup_ids").collect()
    ids = [r["event_id"] for r in got]
    assert sorted(ids) == list(range(40))  # every id exactly once


def test_streaming_upsert_sink_on_filelist_catalog(spark, tmp_path):
    """The exactly-once upsert sink composes with the filelist commit
    protocol: every micro-batch upsert is an atomic snapshot commit and
    replays converge."""
    src = str(tmp_path / "events_fl")
    _write_events(spark, src, 3)
    cat = Catalog(spark, str(tmp_path / "fl_lake"), commit_mode="filelist")
    cat.create(
        "event_counts",
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        partition_keys=None,
        primary_keys=["event_type"],
        mode="replace",
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sink = upsert_foreach_batch(cat, "event_counts")
    run_available_now(counts, sink, str(tmp_path / "c1"))
    got = {r["event_type"]: r["n"] for r in cat.table("event_counts").collect()}
    assert got == {"view": 50, "click": 50}
    run_available_now(counts, sink, str(tmp_path / "c2"))  # replay
    got2 = {r["event_type"]: r["n"] for r in cat.table("event_counts").collect()}
    assert got2 == got


def test_same_batch_doc_versions_yield_coherent_signature(spark, tmp_path):
    """Regression (review finding): two versions of one doc_id in a
    SINGLE micro-batch used to merge their shingle sets into a
    signature belonging to neither text. The sink must pick ONE
    deterministic version, store ITS signature, and pair accordingly."""
    from nt_data_pipelines_spark.operators.dedup import banded_minhash
    from nt_data_pipelines_spark.streaming import minhash_foreach_batch
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    v_a = "the quick brown fox jumps over the lazy dog"
    v_b = "completely different words entirely here"
    cat = Catalog(spark, str(tmp_path / "sbm_lake"))
    cat.create("sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    sink = minhash_foreach_batch(cat, "sigs", "pairs")
    # doc 1 arrives TWICE in one batch with different texts
    sink(spark.createDataFrame([(1, v_a), (1, v_b)], doc_schema), epoch_id=0)
    stored = {
        (r["band"], r["band_hash"]) for r in cat.table("sigs").collect()
    }
    sig_of = lambda text: {
        (r["band"], r["band_hash"])
        for r in banded_minhash(
            spark.createDataFrame([(1, text)], doc_schema), "doc_id", "text"
        ).collect()
    }
    # the stored signature is EXACTLY one version's — never a blend
    assert stored in (sig_of(v_a), sig_of(v_b))
    # replaying the same batch changes nothing (deterministic winner)
    sink(spark.createDataFrame([(1, v_b), (1, v_a)], doc_schema), epoch_id=1)
    assert {
        (r["band"], r["band_hash"]) for r in cat.table("sigs").collect()
    } == stored


@pytest.mark.slow  # ~15s: heaviest of its parity family; cheaper siblings stay default
def test_same_batch_vector_versions_yield_coherent_index_row(spark, tmp_path):
    """Regression (review finding): two versions of one vec_id in a
    single micro-batch could store one version's IVF cell with a MIX
    of both versions' PQ codes. The indexed row must equal the batch
    encode of exactly one version."""
    import numpy as np

    from nt_data_pipelines_spark.operators.ivf import assign_cells, kmeans_train
    from nt_data_pipelines_spark.operators.pq import pq_encode, pq_train
    from nt_data_pipelines_spark.streaming import ann_index_foreach_batch
    from nt_data_pipelines_spark.streaming.incremental import ANN_INDEX_SCHEMA

    dim, m = 16, 4
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    rng = np.random.default_rng(5)
    seed_rows = [
        (i, [float(x) for x in rng.normal(size=dim).round(3)]) for i in range(12)
    ]
    seed = spark.createDataFrame(seed_rows, emb_schema)
    cents = kmeans_train(seed, n_cells=2, iterations=1)
    cb = pq_train(seed, m=m, k=4, dim=dim)
    cat = Catalog(spark, str(tmp_path / "chim_lake"))
    cat.create("idx", ANN_INDEX_SCHEMA, None, ["vec_id"])
    sink = ann_index_foreach_batch(cat, "idx", cents, cb, m=m, dim=dim)
    v1 = [float(x) for x in rng.normal(size=dim).round(3)]
    v2 = [float(x) for x in rng.normal(size=dim).round(3)]
    sink(spark.createDataFrame([(99, v1), (99, v2)], emb_schema), epoch_id=0)
    row = cat.table("idx").filter(F.col("vec_id") == 99).collect()
    assert len(row) == 1

    def expect(vec):
        one = spark.createDataFrame([(99, vec)], emb_schema)
        cell = assign_cells(one, cents, "vec_id", "embedding").first()["cell"]
        codes = pq_encode(one, cb, m=m, dim=dim).first()["codes"]
        return int(cell), list(codes)

    got = (int(row[0]["cell"]), list(row[0]["codes"]))
    assert got in (expect(v1), expect(v2))  # one coherent version, no chimera


@pytest.mark.slow  # ~15s: heaviest of its parity family; cheaper siblings stay default
def test_streaming_minhash_verified_tier_matches_batch(spark, tmp_path):
    """Verified streaming dedup (round 7): with words_table +
    verify_threshold the accumulated pair set equals the batch
    LSH-candidates-then-exact-Jaccard set over the latest version of
    every doc — soft band collisions never persist, so group
    resolution cannot collapse the corpus. Covers cross-batch
    near-dups, a soft-collision candidate that must be REJECTED,
    mutation retraction, and replay idempotence."""
    from nt_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from nt_data_pipelines_spark.streaming import (
        minhash_foreach_batch,
        run_available_now,
        streaming_dup_groups,
    )
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = [
        (1, base),
        # shares 5/10 words with doc 1: a plausible soft-collision
        # candidate that exact verification must reject
        (2, "alpha beta gamma delta epsilon one two three four five"),
    ]
    b2 = [
        (3, base + " extra"),  # true near-dup of 1, later batch
        (4, "totally unrelated content with fresh vocabulary only"),
    ]
    src = str(tmp_path / "vd_docs")
    spark.createDataFrame(b1, doc_schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, doc_schema).coalesce(1).write.mode("append").parquet(src)

    cat = Catalog(spark, str(tmp_path / "vd_lake"))
    cat.create("v_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("v_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    cat.create("v_words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
    sink = minhash_foreach_batch(
        cat, "v_sigs", "v_pairs", words_table="v_words", verify_threshold=0.7
    )
    stream = (
        spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_available_now(stream, sink, str(tmp_path / "vd_ckpt"), output_mode="append")

    def batch_verified(rows):
        full = spark.createDataFrame(rows, doc_schema)
        cand = minhash_lsh_candidates(full, "doc_id")
        true = ngram_jaccard_pairs(full, "doc_id", threshold=0.7).select("id_a", "id_b")
        return {
            (r["id_a"], r["id_b"])
            for r in cand.join(true, ["id_a", "id_b"], "left_semi").collect()
        }

    want = batch_verified(b1 + b2)
    got = {(r["id_a"], r["id_b"]) for r in cat.table("v_pairs").collect()}
    assert got == want
    assert (1, 3) in got            # cross-batch true near-dup
    assert (1, 2) not in got        # soft collision rejected by verify
    groups = {
        (r["doc_id"], r["canonical_id"])
        for r in streaming_dup_groups(cat, "v_pairs").collect()
    }
    assert (3, 1) in groups and all(d not in (2, 4) for d, _ in groups)

    # mutation: doc 3 re-delivered as a DUP OF DOC 2's text — its old
    # (1,3) pair must be retracted and the new (2,3) pair verified in
    b3 = [(3, b1[1][1])]
    sink(spark.createDataFrame(b3, doc_schema), epoch_id=50)
    latest = [b1[0], b1[1], (3, b1[1][1]), b2[1]]
    want2 = batch_verified(latest)
    got2 = {(r["id_a"], r["id_b"]) for r in cat.table("v_pairs").collect()}
    assert got2 == want2 and (2, 3) in got2 and (1, 3) not in got2

    # replay of the mutation batch: state unchanged (idempotent)
    sink(spark.createDataFrame(b3, doc_schema), epoch_id=51)
    assert {(r["id_a"], r["id_b"]) for r in cat.table("v_pairs").collect()} == want2


def test_streaming_pairs_state_is_linear_in_cluster_size(spark, tmp_path):
    """A k-copy dup cluster arriving over several batches must persist
    O(k x edges_per_doc) pair rows, not the k^2/2 full closure — and
    group resolution over the bounded edges still yields ONE group."""
    from nt_data_pipelines_spark.streaming import (
        minhash_foreach_batch,
        streaming_dup_groups,
    )
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    k, e = 12, 2
    cat = Catalog(spark, str(tmp_path / "lin_lake"))
    cat.create("l_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("l_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    cat.create("l_words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
    sink = minhash_foreach_batch(
        cat, "l_sigs", "l_pairs", words_table="l_words", verify_threshold=0.7,
        edges_per_doc=e,
    )
    for batch_start in range(1, k + 1, 3):
        rows = [(d, text) for d in range(batch_start, min(batch_start + 3, k + 1))]
        sink(spark.createDataFrame(rows, doc_schema), epoch_id=batch_start)
    n_pairs = cat.table("l_pairs").count()
    assert n_pairs <= k * e, f"pairs state quadratic? {n_pairs} rows for k={k}"
    assert n_pairs < k * (k - 1) // 2
    groups = {
        (r["doc_id"], r["canonical_id"])
        for r in streaming_dup_groups(cat, "l_pairs").collect()
    }
    assert groups >= {(d, 1) for d in range(2, k + 1)}  # one cluster, canonical 1
    assert {g for _, g in groups} == {1}


def test_streaming_state_band_join_is_bucket_capped(spark, tmp_path):
    """With a hot state bucket (one giant dup cluster), a new batch
    doc's candidate join must touch only state_bucket_cap min-id state
    members per bucket — pinned by counting the pairs a single new doc
    can produce with edges_per_doc=None (cap is then the only bound)."""
    from nt_data_pipelines_spark.streaming import minhash_foreach_batch
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
    )

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    cap = 5
    cat = Catalog(spark, str(tmp_path / "cap_lake"))
    cat.create("c_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("c_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    sink = minhash_foreach_batch(
        cat, "c_sigs", "c_pairs", state_bucket_cap=cap, edges_per_doc=None
    )
    # seed a hot bucket: 20 identical docs = one bucket of 20 per band
    seed = [(d, text) for d in range(1, 21)]
    sink(spark.createDataFrame(seed, doc_schema), epoch_id=0)
    before = cat.table("c_pairs").count()
    # one new member of the cluster: uncapped it would add 20 pairs;
    # capped it can reach only the cap min-id members
    sink(spark.createDataFrame([(99, text)], doc_schema), epoch_id=1)
    new99 = cat.table("c_pairs").filter(F.col("id_b") == 99).count()
    assert 0 < new99 <= cap
    assert cat.table("c_pairs").count() == before + new99
    # the uncapped opt-out reproduces the full join
    cat2 = Catalog(spark, str(tmp_path / "cap_lake2"))
    cat2.create("c_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat2.create("c_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    sink2 = minhash_foreach_batch(
        cat2, "c_sigs", "c_pairs", state_bucket_cap=None, edges_per_doc=None
    )
    sink2(spark.createDataFrame(seed, doc_schema), epoch_id=0)
    sink2(spark.createDataFrame([(99, text)], doc_schema), epoch_id=1)
    assert cat2.table("c_pairs").filter(F.col("id_b") == 99).count() == 20


@pytest.mark.slow
def test_streaming_bounded_groups_converge_sf01(spark, tmp_path):
    """Convergence at bench scale (VERDICT r8 #8): streaming verified
    near-dup with the BOUNDED state (capped state band join + per-doc
    edge bound) on the sf0.1 corpus streamed over 3 batches:

    - pairs state is linear in corpus size (the r8 quadratic-state fix);
    - SOUND: every streaming cluster is a subset of a full-recall
      verified cluster (bounded recall can only split, never falsely
      merge — each persisted edge passed the exact-Jaccard verify);
    - recall: >= 97% of the full-recall batch memberships, and at
      least as many as the batch BOUNDED path recovers (the capped
      state join sees up to cap min-id members per hot bucket, vs the
      batch hub-star's single hub).

    All quantities are deterministic (md5 hashing, fixed batches), so
    the asserted floors are exact facts about this corpus, not flaky
    statistics.
    """
    from collections import defaultdict

    from nt_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_verified_dup_edges,
        ngram_jaccard_pairs,
        resolve_dup_groups,
    )
    from nt_data_pipelines_spark.sources.testdata import load_table
    from nt_data_pipelines_spark.streaming import (
        minhash_foreach_batch,
        streaming_dup_groups,
    )
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.1", "documents")
        .filter(F.col("doc_id") % 5 == 0)  # the bench block's subsample
        .select("doc_id", "text")
    )
    cat = Catalog(spark, str(tmp_path / "conv_lake"), commit_mode="filelist")
    cat.create("sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    cat.create("words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
    sink = minhash_foreach_batch(
        cat, "sigs", "pairs", words_table="words", verify_threshold=0.7
    )
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), epoch_id=i)

    # 1. linear state (r8: 1.77M pair rows for 40k docs at sf1)
    n_docs = docs.count()
    n_pairs = cat.table("pairs").count()
    assert n_pairs <= 4 * n_docs, (n_pairs, n_docs)  # edges_per_doc default

    got = {
        (r["doc_id"], r["canonical_id"])
        for r in streaming_dup_groups(cat, "pairs").collect()
    }
    full_cand = minhash_lsh_candidates(docs, "doc_id")
    true = ngram_jaccard_pairs(docs, "doc_id", threshold=0.7).select("id_a", "id_b")
    full = full_cand.join(true, ["id_a", "id_b"], "left_semi")
    want = {
        (r["doc_id"], r["canonical_id"])
        for r in resolve_dup_groups(full).collect()
    }

    def clusters(memberships):
        d = defaultdict(set)
        for doc, c in memberships:
            d[c].add(doc)
        return [v for v in d.values()]

    # 2. soundness: no streaming cluster spans two full-recall clusters
    full_of = {}
    for cl in clusters(want):
        for doc in cl:
            full_of[doc] = min(cl)
    for cl in clusters(got):
        owners = {full_of.get(doc) for doc in cl}
        assert len(owners) == 1 and None not in owners, (
            f"false merge: streaming cluster {sorted(cl)[:5]}... spans {owners}"
        )

    # 3. recall floors (deterministic on this corpus)
    assert len(got) >= 0.97 * len(want), (len(got), len(want))
    bounded_edges = minhash_verified_dup_edges(docs, "doc_id", threshold=0.7)
    batch_bounded = {
        (r["doc_id"], r["canonical_id"])
        for r in resolve_dup_groups(bounded_edges.select("id_a", "id_b")).collect()
    }
    assert len(got) >= len(batch_bounded), (len(got), len(batch_bounded))


def test_minhash_sink_mixed_explicit_none_and_default_bounds(spark, tmp_path):
    """Regression (review, r9): an explicit ``None`` on ONE bound must
    not crash sink construction (the old warning formatted both params
    with int(), so edges_per_doc=None raised TypeError) nor silence
    the OTHER bound's default warning — each resolves independently."""
    import warnings as W

    from nt_data_pipelines_spark.streaming import minhash_foreach_batch
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
    )

    cat = Catalog(spark, str(tmp_path / "mx_lake"))
    cat.create("mx_sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("mx_pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])

    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        sink = minhash_foreach_batch(cat, "mx_sigs", "mx_pairs", edges_per_doc=None)
    msgs = [str(w.message) for w in rec if "bounded-recall" in str(w.message)]
    assert len(msgs) == 1
    assert "state_bucket_cap" in msgs[0] and "edges_per_doc=" not in msgs[0]
    # the prose describes ONLY the bound in effect: edges are unbounded
    # here, so the edges clause must be absent
    assert "buckets are capped" in msgs[0] and "spanning edges" not in msgs[0]

    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        minhash_foreach_batch(cat, "mx_sigs", "mx_pairs", state_bucket_cap=None)
    msgs = [str(w.message) for w in rec if "bounded-recall" in str(w.message)]
    assert len(msgs) == 1
    assert "edges_per_doc" in msgs[0] and "state_bucket_cap=" not in msgs[0]
    assert "spanning edges" in msgs[0] and "buckets are capped" not in msgs[0]

    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        minhash_foreach_batch(
            cat, "mx_sigs", "mx_pairs", state_bucket_cap=None, edges_per_doc=None
        )
    assert not [w for w in rec if "bounded-recall" in str(w.message)]

    # the unbounded-edges sink actually runs (None reaches the write path)
    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    sink(
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "lazy dog the quick brown fox jumps over"),
            ],
            doc_schema,
        ),
        epoch_id=0,
    )
    got = {(r["id_a"], r["id_b"]) for r in cat.table("mx_pairs").collect()}
    assert got == {(1, 2)}


def test_bloom_probe_filters_a_stream(spark, tmp_path):
    """Streaming decontamination: the Bloom probe is a stateless
    codegen filter, so it applies to a readStream unchanged — flagged
    docs divert in-flight without any state store."""
    from nt_data_pipelines_spark.operators.text import (
        bloom_bitset,
        bloom_might_contain,
    )

    bench = spark.createDataFrame(
        [("the held out benchmark question",)], "text string"
    )
    bench_grams = bench.select(
        F.explode(F.split("text", " ")).alias("gram")
    ).distinct()
    num_bits, num_hashes = 1024, 4
    bits = bloom_bitset(bench_grams, "gram", num_bits, num_hashes)

    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = str(tmp_path / "bl_docs")
    spark.createDataFrame(
        [
            (1, "this repeats the held out benchmark question verbatim"),
            (2, "totally clean words nobody benchmarked ever"),
        ],
        doc_schema,
    ).coalesce(1).write.parquet(src)

    flagged = (
        spark.readStream.schema(doc_schema)
        .parquet(src)
        .select("doc_id", F.explode(F.split("text", " ")).alias("gram"))
        .where(bloom_might_contain(bits, F.col("gram"), num_bits, num_hashes))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("bl_flagged")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["n_flagged_grams"] for r in spark.sql(
        "SELECT * FROM bl_flagged"
    ).collect()}
    # doc 1 carries the benchmark's words; doc 2 may only FP-collide
    assert got.get(1, 0) >= 4
    assert got.get(2, 0) <= 1


def test_minhash_verified_sink_joins_signature_thread_on_words_error(
    spark, tmp_path, monkeypatch
):
    """The verified tier computes signatures on a background thread
    while the words phase runs. A words-phase failure must join that
    thread before the error propagates — a leaked thread would keep
    submitting Spark jobs beside foreachBatch's retry of the batch."""
    import time

    import pyspark

    from nt_data_pipelines_spark.operators import dedup
    from nt_data_pipelines_spark.streaming import minhash_foreach_batch
    from nt_data_pipelines_spark.streaming.incremental import (
        DUP_PAIR_SCHEMA,
        MINHASH_STATE_SCHEMA,
        WORD_STATE_SCHEMA,
    )

    threads = []

    class SlowThread(pyspark.InheritableThread):
        def __init__(self, target, *args, **kwargs):
            def slow():
                time.sleep(1.0)  # still running when the words phase fails
                target()

            super().__init__(slow, *args, **kwargs)
            threads.append(self)

    def failing_word_arrays(*_args, **_kwargs):
        raise RuntimeError("words phase failed")

    monkeypatch.setattr(pyspark, "InheritableThread", SlowThread)
    monkeypatch.setattr(dedup, "word_arrays", failing_word_arrays)
    cat = Catalog(spark, str(tmp_path / "lake"))
    cat.create("sigs", MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
    cat.create("pairs", DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])
    cat.create("words", WORD_STATE_SCHEMA, None, ["doc_id", "word"])
    sink = minhash_foreach_batch(
        cat, "sigs", "pairs", words_table="words", verify_threshold=0.7,
        state_bucket_cap=None, edges_per_doc=None,
    )
    doc_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    batch = spark.createDataFrame([(1, "alpha beta gamma delta")], doc_schema)
    with pytest.raises(RuntimeError, match="words phase failed"):
        sink(batch, 0)
    assert len(threads) == 1
    assert not threads[0].is_alive(), "signature thread leaked past the error"
