"""Structured Streaming layer (additive — SURVEY.md §2.9).

The reference has no streaming runtime; its incremental story is
scheduled batch + PK-upsert (T1-T5). This module adds the native
Spark equivalents so the engine covers both modes:

- ``streaming_event_counts``: watermarked tumbling-window aggregation
  over a file stream — the canonical late-data-tolerant incremental
  aggregate.
- ``upsert_foreach_batch``: the reference's append+optimize upsert
  (S5/T4) as an exactly-once ``foreachBatch`` sink into a
  :class:`~nt_data_pipelines_spark.catalog.Catalog` table — each
  micro-batch is an idempotent PK upsert, so replays converge.
- ``run_available_now``: Trigger.AvailableNow runner — the streaming
  twin of the reference's nightly batch (T1): drain everything
  available, checkpoint, stop.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def streaming_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums with a late-data watermark.

    State is bounded by the watermark: windows older than (max event
    time - watermark) are finalized and evicted — the property that
    keeps this runnable forever at 100 TB/day.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time sessionization with the native session window.

    The streaming twin of the batch lag-gap cumsum (plans/timeseries
    t_sessionize): a session closes after ``gap`` of inactivity per
    key, state bounded by the watermark. Session windows merge as
    late-but-in-watermark events arrive — logic a hand-rolled
    stateful op would have to reimplement.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup_ids(
    events: DataFrame,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """At-least-once -> effectively-once: drop replayed event ids.

    ``dropDuplicatesWithinWatermark`` keeps one row per id among rows
    whose event times fall within the watermark of each other — the
    standard repair for sources that redeliver on retry (Kafka
    producers, at-least-once collectors). State is one entry per id
    seen inside the watermark horizon and is evicted as the watermark
    advances, so memory is bounded by (arrival rate x watermark), not
    by stream lifetime. A duplicate arriving LATER than the watermark
    is by contract no longer deduplicated — pick the watermark from
    the source's real redelivery window.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a dimension table.

    The static side is re-planned every micro-batch, so a dim table
    updated between batches is picked up without restarting the query
    (Spark's documented stream-static semantics). Scale: the dim side
    goes through the normal join planning — small dims auto-broadcast
    per batch, so the stream never shuffles; a huge dim falls back to
    a shuffle join per micro-batch, at which point pre-bucketing the
    dim (operators/bucketed.py) is the right layout.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return stream.join(dim, keys, how)


def streaming_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    within: str | None = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with bounded state.

    Both sides are watermarked and, when ``within`` is given, the join
    carries an event-time range predicate (right within [left - within,
    left]); watermark + range bound is what lets Spark EVICT buffered
    rows instead of holding both streams forever — without them a
    stream-stream join's state grows monotonically, which is the #1
    production failure of naive streaming joins. ``within=None`` keeps
    the pure equi-join (state bounded by the watermarks alone).

    Output columns: every left column, then the right side's non-key
    columns renamed ``right_<name>`` where the bare name would clash.
    A raw two-sided projection would carry DUPLICATE column names
    (both ``ts``, both key columns) — unselectable downstream and
    rejected outright by file sinks and by ``catalog.insert``'s
    by-name select.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lcol = F.col(f"__l.{left_ts}")
    rcol = F.col(f"__r.{right_ts}")
    cond = None
    for k in keys:
        c = F.col(f"__l.{k}") == F.col(f"__r.{k}")
        cond = c if cond is None else cond & c
    if within is not None:
        cond = cond & rcol.between(lcol - F.expr(f"INTERVAL {within}"), lcol)
    joined = lw.alias("__l").join(rw.alias("__r"), cond, "inner")
    left_names = list(left.columns)
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left_names]
    taken = set(left_names)
    for c in right.columns:
        if c in keys:
            continue  # equal to the left key by construction
        name = c if c not in taken else f"right_{c}"
        taken.add(name)
        out_cols.append(F.col(f"__r.{c}").alias(name))
    return joined.select(*out_cols)


def upsert_foreach_batch(catalog, table: str):
    """foreachBatch sink: each micro-batch append+optimize upserts.

    Because the catalog write is a last-write-wins PK upsert, replayed
    batches (failure/retry) converge to the same table state — the
    exactly-once-effect pattern for non-transactional sinks.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        catalog.upsert(table, batch_df)

    return write_batch


DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("text_hash", T.StringType()),
        T.StructField("survivor_id", T.LongType()),
    ]
)


def dedup_foreach_batch(catalog, table: str, id_col: str = "doc_id", text_col: str = "text"):
    """foreachBatch sink: incremental exact-dedup over a document stream.

    The state table (PK ``text_hash``) maps each content hash to the
    minimum document id seen so far. Each micro-batch reduces to its
    per-hash min id, merges with the current state via ``least``, and
    PK-upserts. Because min is idempotent and commutative, replayed,
    reordered, or overlapping batches all converge to the same fixed
    point — the global min id per content, exactly the batch
    :func:`~nt_data_pipelines_spark.operators.dedup.exact_dedup`
    survivor set (T4 for the documents corpus).

    Deliberately NOT tracked: per-hash duplicate counts. A count is
    not replay-idempotent on a non-transactional sink (a retried batch
    would double-count); the survivor mapping is the dedup contract.

    Create the state table as::

        catalog.create(table, DEDUP_STATE_SCHEMA, None, ["text_hash"])
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_min = (
            batch_df.filter(F.col(text_col).isNotNull())
            .select(
                F.md5(F.col(text_col)).alias("text_hash"),
                F.col(id_col).cast("long").alias("survivor_id"),
            )
            .groupBy("text_hash")
            .agg(F.min("survivor_id").alias("survivor_id"))
        )
        existing = catalog.table(table).select(
            "text_hash", F.col("survivor_id").alias("__prev_id")
        )
        merged = batch_min.join(existing, "text_hash", "left").select(
            "text_hash",
            F.least(
                F.col("survivor_id"), F.coalesce("__prev_id", F.col("survivor_id"))
            ).alias("survivor_id"),
        )
        catalog.upsert(table, merged)

    return write_batch


MINHASH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.StringType()),
        T.StructField("band_hash", T.StringType()),
    ]
)

DUP_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)


WORD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("word", T.StringType()),
    ]
)


class _Defaulted(int):
    """Marks a bound that came from the module default, not the caller."""


_DEFAULT_STATE_CAP = _Defaulted(64)
_DEFAULT_EDGES = _Defaulted(4)


def _bounded_new_edges(
    pairs: DataFrame, batch_ids: DataFrame, edges_per_doc: int | None
) -> DataFrame:
    """Bound a batch's new dup edges to ``edges_per_doc`` min-id
    partners per batch doc (a pair survives if either BATCH endpoint
    keeps it — batch-vs-state pairs are ranked under their batch
    endpoint only, so the state partner never votes and such edges are
    capped more aggressively than batch-vs-batch ones) — the
    linear-state twin of the batch tier's bounded spanning edges.
    ``batch_ids`` carries one column ``doc_id``."""
    if edges_per_doc is None:
        return pairs
    da = pairs.select(F.col("id_a").alias("__d"), F.col("id_b").alias("__p"), "id_a", "id_b")
    db = pairs.select(F.col("id_b").alias("__d"), F.col("id_a").alias("__p"), "id_a", "id_b")
    long = da.unionByName(db).join(
        batch_ids.withColumnRenamed("doc_id", "__d"), "__d", "left_semi"
    )
    w = Window.partitionBy("__d").orderBy("__p")
    return (
        long.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= edges_per_doc)
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_foreach_batch(
    catalog,
    sig_table: str,
    pairs_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    words_table: str | None = None,
    verify_threshold: float | None = None,
    state_bucket_cap: int | None = _DEFAULT_STATE_CAP,
    edges_per_doc: int | None = _DEFAULT_EDGES,
):
    """foreachBatch sink: incremental NEAR-dup candidates over a
    document stream — the streaming tier of MinHash-LSH.

    Per micro-batch:

    1. compute the batch's banded MinHash signatures and PK-upsert
       them into ``sig_table`` (PK (doc_id, band)) — the accumulated
       signature state for the whole corpus seen so far;
    2. equi-join the batch's bands against the (now updated) state on
       (band, band_hash) — candidates are batch-vs-everything, never
       all-pairs, so per-batch cost is proportional to the batch, not
       the corpus;
    3. normalize pairs to (min, max) and PK-upsert into
       ``pairs_table``.

    Every step is an idempotent PK upsert of deterministic values
    (md5-seeded MinHash), so replayed/reordered batches converge to
    exactly the batch :func:`minhash_lsh_candidates` pair set over the
    union of all batches, and group resolution over the accumulated
    pairs (:func:`streaming_dup_groups`) matches the batch run — a
    near-duplicate arriving days later lands in its group.

    Mutated documents are handled, not just appends: when a re-
    delivered ``doc_id`` arrives with DIFFERENT text, its old
    signature's candidate pairs are stale. The sink detects signature
    changes against the pre-upsert state and retracts every pair
    touching a changed doc (distributed anti-join delete) before
    joining the new signatures — so ``streaming_dup_groups`` matches a
    from-scratch batch run over the latest version of every document.
    A replayed batch re-delivers the SAME text, sees no signature
    change, and retracts nothing — idempotence is preserved.

    Create the state tables as::

        catalog.create(sig_table, MINHASH_STATE_SCHEMA, None, ["doc_id", "band"])
        catalog.create(pairs_table, DUP_PAIR_SCHEMA, None, ["id_a", "id_b"])

    **Verified tier** (``words_table`` + ``verify_threshold``): band
    collision is a soft similarity test and connected components
    amplify its false positives transitively — resolving groups over
    RAW candidates collapses a shared-vocabulary corpus exactly like
    the batch case (operators/dedup.minhash_verified_dup_edges
    documents the measured failure). With both parameters set, the
    sink additionally maintains the corpus's word-set state (PK
    (doc_id, word)) and upserts only candidate pairs whose EXACT
    word-set Jaccard meets the threshold, so ``pairs_table`` converges
    to the batch LSH-candidates-then-verify pair set over the latest
    version of every document (the `d_lsh_verified_dedup` contract).
    Verification cost per batch is O(batch candidates x words), never
    corpus-quadratic. Change detection upgrades from signature diff to
    word-set diff (a strict superset: an edit can change the Jaccard
    of stored pairs without moving any MinHash component). Create the
    extra state table as::

        catalog.create(words_table, WORD_STATE_SCHEMA, None, ["doc_id", "word"])

    **Bounded state** (the 100-TB shape, same trades as the batch
    tier's ``_bounded_band_candidates`` / bounded spanning edges —
    both bounds are ON by default, and a one-time warning fires at
    sink construction when either comes from the default, because
    they change results vs the unbounded forms; pass explicit ints,
    or ``None`` to disable):

    - ``state_bucket_cap``: the batch-vs-state band join reads only
      the ``cap`` min-id STATE members per (band, band_hash) bucket
      the batch touches (buckets are selected by a broadcast semi-join
      on the batch's keys, so the corpus-sized state is never windowed
      wholesale). A hot boilerplate bucket therefore contributes
      O(batch x cap) candidates, not O(batch x bucket); a true
      near-dup ranked past the cap in one band still collides in the
      other ``bands - 1`` bands.
    - ``edges_per_doc``: each batch doc persists at most this many
      min-id verified partners (a pair survives if either endpoint
      keeps it), so a k-copy dup cluster stores O(k x edges_per_doc)
      pair rows over its lifetime, never the k^2/2 full closure —
      group resolution over spanning edges is CC-equivalent for the
      clique-shaped clusters dedup targets. Trade: min-id anchors
      concentrate connectivity, so if ALL of a doc's kept partners
      mutate in the same interval a group can split until a later
      arrival (or a batch rebuild) re-links it; raise ``edges_per_doc``
      for more mutation robustness, or None for the full closure.
    """
    if (words_table is None) != (verify_threshold is None):
        raise ValueError(
            "words_table and verify_threshold enable the verified tier "
            "together — set both or neither"
        )
    # one warning at sink construction, mirroring the batch tier's
    # _resolve_bucket_cap: bounded recall must be knowing, not silent.
    # Each bound resolves independently — an explicit None on one must
    # not crash or silence the other's default.
    defaulted = {
        name: val
        for name, val in (
            ("state_bucket_cap", state_bucket_cap),
            ("edges_per_doc", edges_per_doc),
        )
        if isinstance(val, _Defaulted)
    }
    if defaulted:
        # describe only the bounds actually in effect — with one bound
        # explicitly None (unbounded), a blanket "state is capped"
        # sentence would be factually wrong for this configuration
        clause = {
            "state_bucket_cap": (
                "hot state buckets are capped to min-id members"
            ),
            "edges_per_doc": (
                "each batch doc persists at most edges_per_doc spanning edges"
            ),
        }
        in_effect = ", ".join(f"{n}={int(v)}" for n, v in defaulted.items())
        effects = "; ".join(clause[n] for n in defaulted)
        warnings.warn(
            f"minhash_foreach_batch: bounded-recall default(s) in effect "
            f"({in_effect}): {effects}. Pass explicit ints (or None for "
            "the unbounded forms) to silence this warning.",
            stacklevel=2,
        )
    if isinstance(state_bucket_cap, _Defaulted):
        state_bucket_cap = int(state_bucket_cap)
    if isinstance(edges_per_doc, _Defaulted):
        edges_per_doc = int(edges_per_doc)
    from nt_data_pipelines_spark.operators.dedup import banded_minhash, word_arrays

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.filter(F.col(text_col).isNotNull())
        # ONE version per doc_id within the batch: two versions of a
        # mutated doc in the same micro-batch would otherwise merge
        # their shingle sets inside the signature groupBy-min — a
        # signature belonging to NEITHER text, which breaks the
        # retraction comparison below. Winner is deterministic
        # (content-hash order), so replays stay idempotent.
        wv = Window.partitionBy(id_col).orderBy(
            F.desc(F.xxhash64(F.col(text_col))), F.col(text_col)
        )
        docs = (
            docs.withColumn("__v", F.row_number().over(wv))
            .filter(F.col("__v") == 1)
            .drop("__v")
        )
        def _bands() -> DataFrame:
            # pinned once: the signature aggregation (shingle explode +
            # 16 min-hashes) is the dominant per-batch cost and is
            # used THREE times below (change detection, upsert, pair
            # join)
            return banded_minhash(
                docs, id_col, text_col, num_hashes, bands,
            ).select(
                F.col(id_col).cast("long").alias("doc_id"), "band", "band_hash"
            ).localCheckpoint(eager=True)

        bands_long = None
        bands_bg = None
        if words_table is not None:
            # Overlap the signature pin with the words phase (guide
            # §2.6): the verified tier does not touch bands_long until
            # the sig upsert, and the words phase (word-array pin,
            # change detection, words upsert) is a serial chain of
            # small jobs that leaves most cores idle — the signature
            # jobs back-fill them. Pure Spark compute on the side
            # thread; every catalog mutation stays on this thread.
            from pyspark import InheritableThread

            bands_res: dict = {}

            def _bands_bg():
                try:
                    bands_res["df"] = _bands()
                except BaseException as e:  # re-raised on join below
                    bands_res["exc"] = e

            bands_bg = InheritableThread(target=_bands_bg)
            bands_bg.start()
        else:
            bands_long = _bands()
        warr = None
        if words_table is not None:
            try:
                # Verified tier: word-set state + word-diff change
                # detection (a strict superset of signature diff — an edit
                # can change stored pairs' Jaccard without moving any
                # MinHash component). ONE pinned word-ARRAY relation (one
                # row per batch doc, array_distinct word set) carries the
                # batch's tokenization for all three consumers: the change
                # detection below, the words upsert (exploded view over
                # the pinned blocks — exactly word_set's rows), and the
                # verify tier's batch-side word sets (no words-table
                # re-scan, no re-aggregation). Guide §2.3/§2.4 — the
                # round-13 batch-tier rewrite, applied per micro-batch.
                warr = (
                    word_arrays(docs, id_col, text_col)
                    .select(F.col(id_col).cast("long").alias("doc_id"), "__ws")
                    .localCheckpoint(eager=True)
                )
                words_long = warr.select("doc_id", F.explode("__ws").alias("word"))
                # change detection as ONE array comparison: stored word
                # sets of the batch's docs aggregate once; a doc changed
                # iff either set difference is non-empty. Brand-new docs
                # (no stored rows) drop out of the inner join — additions,
                # not changes, same as the old added/removed anti-join
                # form (equivalence: stored_words was already restricted
                # to batch ids, so every old 'removed' doc joins here too).
                stored_sets = (
                    catalog.table(words_table)
                    .join(warr.select("doc_id"), "doc_id", "left_semi")
                    .groupBy("doc_id")
                    .agg(F.collect_set("word").alias("__sw"))
                )
                changed = (
                    warr.join(stored_sets, "doc_id")
                    .filter(
                        (F.size(F.array_except("__ws", "__sw")) > 0)
                        | (F.size(F.array_except("__sw", "__ws")) > 0)
                    )
                    .select("doc_id")
                    .localCheckpoint(eager=True)  # pin pre-upsert view
                )
                if changed.limit(1).count():
                    catalog.rewrite(
                        pairs_table,
                        lambda df: df.join(
                            changed.select(F.col("doc_id").alias("id_a")), "id_a", "left_anti"
                        ).join(
                            changed.select(F.col("doc_id").alias("id_b")), "id_b", "left_anti"
                        ),
                    )
                    catalog.rewrite(
                        words_table,
                        lambda df: df.join(changed, "doc_id", "left_anti"),
                    )
                catalog.upsert(words_table, words_long)
            finally:
                # joined before any words-phase error propagates: a
                # leaked signature thread would keep submitting Spark
                # jobs beside a foreachBatch retry of the same batch
                bands_bg.join()
            if "exc" in bands_res:
                raise bands_res["exc"]
            bands_long = bands_res["df"]
        else:
            # Retraction pass: docs whose signature CHANGED vs the
            # stored state carry stale pairs computed from their old
            # content.
            prev = catalog.table(sig_table)
            changed = (
                bands_long.alias("n")
                .join(prev.alias("o"), ["doc_id", "band"])
                .filter(F.col("n.band_hash") != F.col("o.band_hash"))
                .select("doc_id")
                .distinct()
            )
            changed = changed.localCheckpoint(eager=True)  # pin pre-upsert view
            if changed.limit(1).count():
                catalog.rewrite(
                    pairs_table,
                    lambda df: df.join(
                        changed.select(F.col("doc_id").alias("id_a")), "id_a", "left_anti"
                    ).join(
                        changed.select(F.col("doc_id").alias("id_b")), "id_b", "left_anti"
                    ),
                )
        catalog.upsert(sig_table, bands_long)
        state = catalog.table(sig_table)
        a = bands_long.select(F.col("doc_id").alias("__a"), "band", "band_hash")
        b = state.select(F.col("doc_id").alias("__b"), "band", "band_hash")
        if state_bucket_cap is not None:
            # hot-bucket cap on the STATE side: restrict to buckets the
            # batch touches (broadcast semi-join — the corpus-sized
            # state is never shuffled wholesale), then keep the cap
            # min-id members per bucket. Per-batch candidate cost is
            # O(batch x cap x bands) regardless of bucket heat.
            touched_keys = a.select("band", "band_hash").distinct()
            w_bucket = Window.partitionBy("band", "band_hash").orderBy("__b")
            b = (
                b.join(F.broadcast(touched_keys), ["band", "band_hash"], "left_semi")
                .withColumn("__r", F.row_number().over(w_bucket))
                .filter(F.col("__r") <= state_bucket_cap)
                .drop("__r")
            )
        new_pairs = (
            a.join(b, ["band", "band_hash"])
            .filter(F.col("__a") != F.col("__b"))
            .select(
                F.least("__a", "__b").alias("id_a"),
                F.greatest("__a", "__b").alias("id_b"),
            )
            .distinct()
        )
        batch_ids = (
            warr.select("doc_id")
            if warr is not None  # one row per doc by construction
            else bands_long.select("doc_id").distinct()
        )
        if words_table is not None:
            # verify the batch's candidates against the (now updated)
            # word state: only exact Jaccard >= threshold pairs persist.
            # Word-ARRAY form (the batch verify tier's rewrite, guide
            # §2.3): each pair moves two word arrays; |A∩B|/sizes are
            # codegen array ops. Batch-side endpoints read their
            # arrays straight from the pinned ``warr`` blocks — the
            # post-upsert words-table state for a batch doc IS its
            # batch word set (changed docs' old rows were retracted
            # above, and the upsert is a PK LWW) — so the words-table
            # scan+collect_set narrows to NON-batch partners only
            # (state is PK-distinct, so collect_set is the exact
            # set). The explicit __nc >= 1 filter reproduces the old
            # inner common-join semantics exactly (a zero-overlap
            # pair never appeared there), independent of the
            # threshold value.
            ws = catalog.table(words_table)
            ids = (
                new_pairs.select(F.col("id_a").alias("doc_id"))
                .unionByName(new_pairs.select(F.col("id_b").alias("doc_id")))
                .distinct()
            )
            state_sets = (
                ws.join(ids, "doc_id", "left_semi")
                .join(warr.select("doc_id"), "doc_id", "left_anti")
                .groupBy("doc_id")
                .agg(F.collect_set("word").alias("__ws"))
            )
            wsets = (
                warr.join(ids, "doc_id", "left_semi")
                .unionByName(state_sets)
                .localCheckpoint(eager=False)  # read by both pair sides
            )
            wa = wsets.select(F.col("doc_id").alias("id_a"), F.col("__ws").alias("__wa"))
            wb = wsets.select(F.col("doc_id").alias("id_b"), F.col("__ws").alias("__wb"))
            verified = (
                new_pairs.join(wa, "id_a")
                .join(wb, "id_b")
                .select(
                    "id_a",
                    "id_b",
                    F.size(F.array_intersect("__wa", "__wb")).alias("__nc"),
                    F.size("__wa").alias("__sa"),
                    F.size("__wb").alias("__sb"),
                )
                .filter(
                    (F.col("__nc") >= 1)
                    & (
                        F.col("__nc")
                        / (F.col("__sa") + F.col("__sb") - F.col("__nc")).cast("double")
                        >= verify_threshold
                    )
                )
                .select("id_a", "id_b")
            )
            catalog.upsert(
                pairs_table, _bounded_new_edges(verified, batch_ids, edges_per_doc)
            )
        else:
            catalog.upsert(
                pairs_table, _bounded_new_edges(new_pairs, batch_ids, edges_per_doc)
            )

    return write_batch


ANN_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.LongType())),
    ]
)


def ann_index_foreach_batch(
    catalog,
    index_table: str,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
):
    """foreachBatch sink: incremental IVF-PQ index maintenance.

    The serving pattern for a growing embedding corpus: the coarse
    quantizer (``centroids``) and PQ ``codebook`` are trained offline
    on a seed corpus (codebook retraining is a batch job — swapping
    codebooks invalidates every stored code, so it is a reindex, not a
    stream update). Each micro-batch of new/updated vectors is
    assigned its IVF cell and PQ codes (both against BROADCAST
    codebooks — per-batch cost is proportional to the batch, never
    the corpus) and PK-upserted into ``index_table``. Re-delivered ids
    converge last-write-wins, so replays are idempotent and a vector
    update re-indexes it. Searches read the accumulated table through
    :func:`~nt_data_pipelines_spark.operators.pq.ivfpq_search`.

    Create the index table as::

        catalog.create(index_table, ANN_INDEX_SCHEMA, None, ["vec_id"])
    """
    from nt_data_pipelines_spark.operators.ivf import assign_cells
    from nt_data_pipelines_spark.operators.pq import pq_encode

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        # ONE version per vec_id within the batch: assign_cells picks
        # its winner per id while pq_encode picks per (id, block) —
        # with two versions of the same id in one micro-batch the
        # stored row could pair one version's cell with a MIX of both
        # versions' codes (a vector that never existed). Deterministic
        # winner keeps replays idempotent; cross-batch updates stay
        # last-write-wins via the PK upsert.
        wv = Window.partitionBy(id_col).orderBy(
            F.desc(F.xxhash64(F.col(vec_col).cast("array<double>").cast("string")))
        )
        batch_one = (
            batch_df.withColumn("__v", F.row_number().over(wv))
            .filter(F.col("__v") == 1)
            .drop("__v")
            .localCheckpoint(eager=True)  # reused by both encoders
        )
        cells = assign_cells(batch_one, centroids, id_col, vec_col).select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col("cell").cast("int").alias("cell"),
        )
        codes = pq_encode(batch_one, codebook, id_col, vec_col, m=m, dim=dim).select(
            F.col(id_col).cast("long").alias("vec_id"), "codes"
        )
        catalog.upsert(index_table, cells.join(codes, "vec_id"))

    return write_batch


def search_ann_index(
    catalog,
    index_table: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ search over the streaming-maintained index table.

    ``id_col``/``vec_col`` name the QUERY frame's columns; the index
    table's id column is always ``vec_id`` (ANN_INDEX_SCHEMA) — the
    query ids are normalized onto it before the search so a corpus
    keyed by e.g. ``doc_id`` searches correctly. IMPORTANT: the
    default ``exclude_self=True`` drops index rows whose vec_id equals
    the (casted) query id — right when querying the index's own
    corpus, WRONG for an externally-keyed query frame where the id
    collision is coincidence (a true top-1 neighbor that happens to
    share the number would silently vanish) — pass ``False`` there.
    """
    from nt_data_pipelines_spark.operators.pq import ivfpq_search

    indexed = catalog.table(index_table)
    q = queries.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias(vec_col)
    )
    return ivfpq_search(
        indexed, q, centroids, codebook,
        id_col="vec_id", vec_col=vec_col, k=k, n_probe=n_probe, m=m, dim=dim,
        exclude_self=exclude_self,
    )


def streaming_dup_groups(catalog, pairs_table: str) -> DataFrame:
    """(doc_id, canonical_id) over the accumulated streaming pair set —
    the same connected-components resolution as the batch tier, so the
    streaming corpus' groups equal a from-scratch batch run."""
    from nt_data_pipelines_spark.operators.dedup import resolve_dup_groups

    return resolve_dup_groups(catalog.table(pairs_table))


def run_available_now(
    stream_df: DataFrame, sink_fn, checkpoint: str, output_mode: str = "update"
) -> StreamingQuery:
    """Drain all available input through ``foreachBatch`` and stop.

    ``update`` output mode hands each micro-batch only the changed
    aggregate rows — combined with a PK-upsert sink that is exactly
    the reference's incremental append+optimize contract (T3/T4).
    """
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
