"""End-to-end training-corpus curation: the composed pipeline.

Chains the engine's training-data operators in the order a real
curation run applies them (the individual stages are oracle-paired
registry queries; this module is the production composition):

1. normalize text (canonical form),
2. exact dedup on normalized content,
3. near-dup removal — MinHash-LSH bounded candidate edges, exact
   Jaccard verification (default; unverified spanning edges opt-in)
   → connected components → keep each group's canonical (min-id) doc,
4. optional semantic (embedding-cosine) dedup — the paraphrase tier,
5. optional exact-substring rewrite — corpus-wide repeated word
   spans cut from every occurrence (Lee et al. 2021 ExactSubstr),
6. span-dedup filter — drop docs whose word-shingle duplicate
   fraction exceeds a threshold,
7. quality + language gate (length / alpha-ratio / stopword signals,
   n-gram language ID),
8. optional model-based quality gate (fixed-weight logistic over
   the quality features — the classifier tier),
9. optional perplexity band filter (corpus-unigram surprisal — the
   CCNet head/middle/tail cut, keeping the middle),
10. optional per-source document cap and/or token-budget mixing,
11. PII scrub,
12. chunk to training windows and pack into fixed-capacity bins,
13. per-source token accounting (+ optional shard materialization).

Every stage is a linear shuffle or a broadcast; nothing is pairwise.
The function returns (packed chunks, per-stage survivor accounting) —
the accounting frame is the curation report a data run signs off on.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nt_data_pipelines_spark.operators import text as TX
from nt_data_pipelines_spark.operators.dedup import (
    containment_pairs as minhash_containment_pairs,
    exact_dedup,
    minhash_lsh_spanning_edges,
    minhash_verified_dup_edges,
    resolve_dup_groups_auto,
)


@dataclass(frozen=True)
class CurationConfig:
    min_words: int = 10
    min_alpha_ratio: float = 0.5
    keep_langs: tuple[str, ...] = ("en",)
    max_dup_ngram_frac: float = 0.9
    ngram_n: int = 8
    # near-dup tier: candidate edges are Jaccard-VERIFIED at this
    # threshold before connected components. Verification is the
    # default because band collision is a soft test (P = J^r per band)
    # and CC amplifies false positives transitively — unverified, a
    # shared-vocabulary corpus collapses into one giant dup group
    # (operators/dedup.minhash_verified_dup_edges documents the
    # measured failure). None restores the unverified spanning-edge
    # graph for corpora where banding alone is tuned sharp enough.
    near_dup_jaccard: float | None = 0.7
    minhash_num_hashes: int = 16
    minhash_bands: int = 4
    # containment stage: drop docs whose word set is >= this contained
    # in a larger surviving doc (doc-inside-doc duplication Jaccard
    # misses — quotes, aggregator pages); the SUPERSET doc survives.
    # None disables. Bands are shorter than the symmetric tier's
    # because size-skewed pairs match each MinHash component only with
    # p = |A∩B|/|A∪B| (see operators/dedup.containment_pairs).
    containment_threshold: float | None = None
    containment_bands: int = 8
    # all-pairs candidate edges for LSH buckets up to this size; hot
    # buckets above it connect via a verified hub-star (O(bucket))
    dup_bucket_cap: int = 64
    chunk_size: int = 64
    chunk_overlap: int = 16
    pack_capacity: int = 512
    # per-source token budget for the mixing stage; None = no mixing
    token_budget_per_source: int | None = None
    # hard per-source document cap (md5-deterministic subset);
    # None = uncapped
    max_docs_per_source: int | None = None
    # perplexity band (CCNet-style): keep docs whose corpus-unigram
    # bits/token falls inside these quantiles of the surviving
    # distribution; None disables the stage
    perplexity_band: tuple[float, float] | None = None
    # exact-substring rewrite (Lee et al. 2021 ExactSubstr): word
    # n-grams repeated corpus-wide at least twice are CUT from every
    # occurrence before the quality gates see the text (docs emptied
    # by the cut fall to the min_words rule downstream); None disables
    remove_dup_spans_n: int | None = None
    # model-based quality score gate: drop docs whose logistic
    # quality score (operators/text.quality_logit_score) falls below
    # this threshold — the classifier tier after the rule-based gate;
    # None disables the stage
    quality_model_threshold: float | None = None
    # eval-set decontamination: drop docs whose word-n-gram overlap
    # with the `benchmark` frame passed to curate_corpus EXCEEDS this
    # ratio (Bloom-prefiltered exact check, operators/
    # text.bloom_contamination — the non-broadcastable-eval-suite
    # scale path); None disables the stage
    decontaminate_overlap: float | None = None
    decontaminate_ngram: int = 3
    # embedding-cosine semantic dedup: docs whose embeddings exceed
    # this cosine threshold collapse to one canonical survivor
    # (requires an `embeddings` frame passed to curate_corpus);
    # None disables the stage
    semantic_threshold: float | None = None
    # embedding outlier pruning: drop docs whose cosine to their OWN
    # source's centroid falls below this floor (off-topic / garbage-
    # embedded docs; requires `embeddings`); None disables the stage
    centroid_floor: float | None = None
    # chunk-level dedup rewrite (content-defined chunking): repeated
    # chunks survive only in their first corpus-wide occurrence;
    # the value is the CDC boundary modulus (expected chunk length in
    # words); None disables the stage
    cdc_dedup_mod: int | None = None
    semantic_planes: int = 8      # planes per band
    semantic_bands: int = 4       # OR-amplified bands (recall 1-(1-p^k)^L)
    semantic_dim: int = 64
    source_col: str = "source"
    # dup-group resolution routing: 'auto' probes the candidate-pair
    # count and switches to distributed min-label propagation when the
    # edge set could exceed driver memory; 'driver'/'distributed'
    # force a path (operators/dedup.resolve_dup_groups_auto)
    dup_group_resolver: str = "auto"
    max_driver_edges: int = 2_000_000
    # when set, the packed corpus materializes under this path as one
    # parquet file per shard (operators/shards.write_training_shards),
    # bins contiguous and ordered within each file
    output_path: str | None = None
    # how each of the up-to-11 stage boundaries is pinned:
    #
    # - "local_checkpoint" (default): localCheckpoint(eager=True, since
    #   round 14 — eager so the pinned partition count is observable
    #   for the scale-adaptive parallelism floor; same jobs, run at
    #   stage-build instead of first downstream touch) —
    #   TRUNCATES the logical plan to the checkpointed RDD. This is
    #   load-bearing, not a convenience: with plain persist(), every
    #   downstream plan tree embeds every upstream stage's full plan
    #   (InMemoryRelation keeps its cachedPlan as innerChildren), and
    #   under AQE the driver regenerates the plan-description string
    #   over that nested tree after every query stage — measured 22 s
    #   of pure TreeNode.generateTreeString per FRESH count at stage
    #   depth 8 (sf1, all caches hot; jstack-confirmed). Truncated,
    #   the same count is milliseconds. Blocks store MEMORY_AND_DISK;
    #   an executor loss makes the run fail-and-restart rather than
    #   recompute — acceptable for single-node and dedicated clusters.
    # - "checkpoint": reliable checkpoint to spark's checkpoint dir
    #   (caller must have set sparkContext.setCheckpointDir) — the
    #   multi-tenant-cluster choice: survives executor loss, same
    #   plan-truncation benefit, costs a durable write per stage.
    # - "persist": StorageLevel.MEMORY_ONLY cache, pure recompute
    #   semantics (no action can fail from a lost block) — carries
    #   the deep-lineage driver cost above; prefer it only with AQE
    #   disabled or shallow configs.
    stage_boundary: str = "local_checkpoint"


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    config: CurationConfig = CurationConfig(),
    embeddings: DataFrame | None = None,
    benchmark: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation chain; returns (packed, accounting).

    ``packed``: the chunk->bin assignment (columns: chunk_uid, shard,
    n_tokens, bin_id); chunk text is re-joined internally when
    ``output_path`` materializes shards — join ``chunk_uid`` against
    :func:`~nt_data_pipelines_spark.operators.text.chunk_documents`
    output to recover text otherwise.
    ``accounting``: one row per stage with the surviving doc count —
    computed lazily from counts, so the whole report is a handful of
    small jobs over the same cached lineage.

    The default stage boundary (``"local_checkpoint"``) pins EAGERLY:
    calling this function runs every stage's Spark jobs, so building
    the plan alone (explain, a dry run) costs the whole pipeline. When
    a pinned stage lands on fewer partitions than the environment's
    parallelism it is repartitioned and pinned a second time.
    ``CurationConfig(stage_boundary="checkpoint")`` or ``"persist"``
    pin lazily.
    """
    stages: list[tuple[str, DataFrame]] = []

    def stage(name: str, frame: DataFrame) -> DataFrame:
        # Pin every stage boundary: the accounting report counts each
        # frame AND later stages extend it — unpinned, each of the
        # up-to-11 counts would re-execute the entire upstream chain
        # (O(stages^2) replays of the LSH/span shuffles). The pin mode
        # trades fault-tolerance against plan size — see
        # CurationConfig.stage_boundary for the measured rationale.
        from pyspark import StorageLevel

        if config.stage_boundary == "local_checkpoint":
            frame = frame.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            # Parallelism floor (guide §2.5/§6, round 14). AQE
            # coalesces shuffle outputs by BYTES and a broadcast join
            # inherits its stream side's layout, so a filtered text
            # corpus can land on 1-2 partitions — and the pin then
            # FREEZES that layout, putting every downstream per-row
            # text op (n-gram explode, quality features, minhash) on
            # 1-2 cores. Measured at sf1: every stage after the
            # semantic tier pinned at np=1, with the span-gram pin
            # alone 3.1 s single-core. Repartitioning the pinned
            # blocks is a RAM-local shuffle (~0.3 s here), and the
            # branch is scale-adaptive: it fires only below half the
            # environment parallelism, which a real-scale stage output
            # (thousands of partitions) never hits. Eager pins also
            # make the np observable without re-triggering AQE stages.
            from nt_data_pipelines_spark.session import default_parallelism

            n = default_parallelism()
            if frame.rdd.getNumPartitions() < n:
                frame = frame.repartition(n).localCheckpoint(
                    eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
                )
        elif config.stage_boundary == "checkpoint":
            frame = frame.checkpoint(eager=False)
        elif config.stage_boundary == "persist":
            frame = frame.persist(StorageLevel.MEMORY_ONLY)
        else:
            raise ValueError(
                "stage_boundary must be 'local_checkpoint', 'checkpoint'"
                f" or 'persist', got {config.stage_boundary!r}"
            )
        stages.append((name, frame))
        return frame

    # Input parallelism (guide §2.5 "input skew: repartition after the
    # read" / §6): a corpus laid out in fewer files than cores scans —
    # and runs the normalize pass, the pipeline's single biggest
    # per-row stage — on that many cores (sf5: 16 files on 32 cores,
    # 17.3 s). The repartition sits BELOW the normalize projection, so
    # raw bytes shuffle once and the normalize runs n-way inside the
    # pin. Scale-adaptive: never fires when the scan already carries
    # >= env-parallelism partitions (any real-scale corpus).
    if config.stage_boundary == "local_checkpoint":
        from nt_data_pipelines_spark.session import default_parallelism

        n_par = default_parallelism()
        if docs.rdd.getNumPartitions() < n_par:
            docs = docs.repartition(n_par)
    norm = stage("input", docs.withColumn(text_col, TX.normalize_text(text_col)))

    survivors = exact_dedup(norm, id_col, text_col).select(
        F.col("survivor_id").alias(id_col)
    )
    exact = stage("exact_dedup", norm.join(survivors, id_col, "left_semi"))

    # bounded candidate edges + exact-Jaccard verification by default
    # (see CurationConfig.near_dup_jaccard); the unverified spanning
    # graph keeps O(bucket) edges but trusts the soft band test, which
    # transitive closure turns into corpus-collapse on dense corpora
    if config.near_dup_jaccard is not None:
        pairs = minhash_verified_dup_edges(
            exact,
            id_col,
            text_col,
            threshold=config.near_dup_jaccard,
            num_hashes=config.minhash_num_hashes,
            bands=config.minhash_bands,
            bucket_cap=config.dup_bucket_cap,
        ).select("id_a", "id_b")
    else:
        pairs = minhash_lsh_spanning_edges(
            exact,
            id_col,
            text_col,
            num_hashes=config.minhash_num_hashes,
            bands=config.minhash_bands,
        )
    groups = resolve_dup_groups_auto(  # (doc_id, canonical_id)
        pairs,
        max_driver_edges=config.max_driver_edges,
        mode=config.dup_group_resolver,
    )
    near = (
        # the resolver's output id column is literally "doc_id" — align
        # it with the caller's id_col (same as the semantic tier below)
        exact.join(groups.withColumnRenamed("doc_id", id_col), id_col, "left")
        .filter(
            F.col("canonical_id").isNull()
            | (F.col("canonical_id") == F.col(id_col))
        )
        .drop("canonical_id")
    )
    near = stage("near_dedup", near)

    if config.semantic_threshold is not None:
        if embeddings is None:
            raise ValueError(
                "semantic_threshold set but no embeddings frame was passed"
            )
        from nt_data_pipelines_spark.operators.similarity import (
            banded_hyperplane_pairs,
        )

        # lexical near-dedup catches shared text; the embedding tier
        # catches PARAPHRASES — same content, different words. Pairs
        # come from LSH buckets + exact cosine verify; groups collapse
        # to the min-id canonical, same contract as the lexical tier.
        # the embedding frame's FIRST column is its id; align it with
        # the document id so the semi-join and group mapping share keys
        emb = embeddings.withColumnRenamed(embeddings.columns[0], id_col)
        surviving_emb = emb.join(near.select(id_col), id_col, "left_semi")
        # banded (OR-amplified) candidates: a single signature's
        # recall is p^k (~0.43 at threshold 0.95, k=8); L=4 bands lift
        # it to ~0.90 at linear cost — measured in docs/SCALE.md
        sem_pairs = banded_hyperplane_pairs(
            surviving_emb,
            id_col,
            "embedding",
            threshold=config.semantic_threshold,
            planes_per_band=config.semantic_planes,
            num_bands=config.semantic_bands,
            dim=config.semantic_dim,
        )
        sem_groups = resolve_dup_groups_auto(
            sem_pairs,
            max_driver_edges=config.max_driver_edges,
            mode=config.dup_group_resolver,
        )
        near = (
            near.join(sem_groups.withColumnRenamed("doc_id", id_col), id_col, "left")
            .filter(
                F.col("canonical_id").isNull()
                | (F.col("canonical_id") == F.col(id_col))
            )
            .drop("canonical_id")
        )
        near = stage("semantic_dedup", near)

    if config.centroid_floor is not None:
        if embeddings is None:
            raise ValueError("centroid_floor set but no embeddings frame was passed")
        from nt_data_pipelines_spark.operators.similarity import (
            source_centroid_outliers,
        )

        # outlier tier: semantic dedup removes near-IDENTICAL points;
        # this removes points that belong to no cluster at all —
        # off-topic or garbage-embedded docs score far from their own
        # source's centroid. Centroids are computed over the CURRENT
        # survivors so earlier dedup stages don't skew the mean.
        emb_o = embeddings.withColumnRenamed(embeddings.columns[0], id_col)
        scores = source_centroid_outliers(
            near.select(id_col, config.source_col),
            emb_o,
            id_col=id_col,
            source_col=config.source_col,
            vec_id_col=id_col,
        )
        # drop only docs whose score EXISTS and falls below the floor:
        # a doc with no embedding row (or a zero-norm vector, which
        # scores as NULL) has no evidence of being off-topic, and the
        # semantic_dedup stage above tolerates missing embeddings the
        # same way — a left_semi on keepers would silently drop them.
        drop_ids = scores.filter(
            F.col("centroid_cosine") < config.centroid_floor
        ).select(id_col)
        near = stage("centroid_outlier", near.join(drop_ids, id_col, "left_anti"))

    if config.containment_threshold is not None:
        # doc-inside-doc tier: drop the contained (smaller-set) doc,
        # keep the superset; ties keep the min id. Not transitive by
        # design — this drops CONTAINED docs, it does not group them.
        cp = minhash_containment_pairs(
            near,
            id_col,
            text_col,
            threshold=config.containment_threshold,
            num_hashes=config.minhash_num_hashes,
            bands=config.containment_bands,
            bucket_cap=config.dup_bucket_cap,
        )
        losers = cp.select(
            F.when(F.col("size_a") < F.col("size_b"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col)
        ).distinct()
        near = stage(
            "containment_dedup", near.join(losers, id_col, "left_anti")
        )

    if config.cdc_dedup_mod is not None:
        # chunk-level rewrite: repeated content-defined chunks keep
        # their FIRST corpus-wide occurrence only (span removal below
        # cuts every occurrence; this preserves one canonical copy)
        rewritten = TX.cdc_dedup_documents(
            near, id_col, text_col, boundary_mod=config.cdc_dedup_mod
        )
        near = near.drop(text_col).join(
            rewritten.select(id_col, F.col("clean_text").alias(text_col)),
            id_col,
        )
        near = stage("chunk_rewrite", near)

    if config.remove_dup_spans_n is not None:
        rewritten = TX.remove_duplicate_spans(
            near, id_col, text_col, n=config.remove_dup_spans_n
        )
        near = near.drop(text_col).join(
            rewritten.select(id_col, F.col("clean_text").alias(text_col)),
            id_col,
        )
        near = stage("span_rewrite", near)

    span = TX.duplicated_ngram_fraction(near, id_col, text_col, n=config.ngram_n)
    spanned = near.join(
        span.filter(F.col("dup_ngram_frac") <= config.max_dup_ngram_frac).select(id_col),
        id_col,
        "left_semi",
    )
    spanned = stage("span_dedup", spanned)

    # ONE codegen projection for the whole gate: quality features and
    # the per-row language argmax (TX.language_pred_cols) are both
    # pure column expressions over the text, so the old
    # q JOIN language_id(spanned) — two extra corpus scans plus an
    # id-keyed shuffle join — collapses into a filter on one pass.
    # Identical result: ids are unique, so the inner join was 1:1.
    q = TX.quality_features(spanned, text_col)
    pred_lang, _ = TX.language_pred_cols(text_col)
    gated = q.filter(
        (F.col("q_words") >= config.min_words)
        & (F.col("q_alpha_ratio") >= config.min_alpha_ratio)
        & pred_lang.isin(*config.keep_langs)
    ).select(*spanned.columns)
    gated = stage("quality_lang_gate", gated)

    if config.quality_model_threshold is not None:
        scored = TX.quality_logit_score(
            gated, id_col, text_col, threshold=config.quality_model_threshold
        )
        gated = gated.join(
            scored.filter(F.col("keep") == 1).select(id_col), id_col, "left_semi"
        )
        gated = stage("quality_model_gate", gated)

    if config.decontaminate_overlap is not None:
        if benchmark is None:
            raise ValueError(
                "decontaminate_overlap set but no benchmark frame was passed"
            )
        # the benchmark gets the same normalization the corpus got at
        # the input stage, so grams compare like-for-like. Building
        # the Bloom bitset runs benchmark-sized actions here (never
        # corpus-sized); overlap_ratio is NULL for gram-less docs,
        # which the > comparison keeps (no evidence of leakage).
        rep = TX.bloom_contamination(
            gated.select(id_col, text_col),
            benchmark.withColumn(text_col, TX.normalize_text(text_col)),
            id_col,
            text_col=text_col,
            n=config.decontaminate_ngram,
        )
        dirty = rep.filter(
            F.col("overlap_ratio") > config.decontaminate_overlap
        ).select(id_col)
        gated = stage("decontaminate", gated.join(dirty, id_col, "left_anti"))

    if config.perplexity_band is not None:
        from nt_data_pipelines_spark.operators.lm import perplexity_band_filter

        lo, hi = config.perplexity_band
        gated = perplexity_band_filter(
            gated, id_col, text_col, lo_quantile=lo, hi_quantile=hi
        ).drop("bits_per_token")
        gated = stage("perplexity_band", gated)

    if config.max_docs_per_source is not None:
        gated = TX.cap_per_group(
            gated, config.source_col, id_col, config.max_docs_per_source
        )
        gated = stage("source_cap", gated)

    if config.token_budget_per_source is not None:
        gated = TX.mix_sources_to_budget(
            gated, config.source_col, id_col,
            config.token_budget_per_source, text_col,
        ).drop("n_tokens")
        gated = stage("source_mix", gated)

    scrubbed = TX.scrub_pii(gated, text_col)
    chunks = TX.chunk_documents(
        scrubbed, id_col, text_col,
        chunk_size=config.chunk_size, overlap=config.chunk_overlap,
    )
    packed = TX.pack_sequences(
        chunks.withColumn("chunk_uid", F.concat_ws("#", id_col, "chunk_start")),
        "chunk_uid", "chunk_text", capacity=config.pack_capacity,
    )

    if config.output_path is not None:
        from nt_data_pipelines_spark.operators.shards import write_training_shards

        with_text = packed.join(
            chunks.select(
                F.concat_ws("#", id_col, "chunk_start").alias("chunk_uid"),
                "chunk_text",
            ),
            "chunk_uid",
        )
        write_training_shards(
            with_text,
            config.output_path,
            id_col="chunk_uid",
            shard_col="shard",
            order_by=["bin_id", "chunk_uid"],
        )

    # One tagged union -> one groupBy: a single action materializes
    # the whole report (map-side partial counts make the shuffle one
    # row per partition per stage, so this holds at any scale), and
    # the left join against the stage-name list keeps fully-filtered
    # stages in the report as 0 rather than silently absent.
    tagged = None
    for name, frame in stages:
        part = frame.select(F.lit(name).alias("stage"))
        tagged = part if tagged is None else tagged.unionByName(part)
    counts = tagged.groupBy("stage").agg(F.count(F.lit(1)).alias("docs"))
    names = docs.sparkSession.createDataFrame(
        [(n,) for n, _ in stages], "stage string"
    )
    accounting = names.join(counts, "stage", "left").select(
        "stage", F.coalesce("docs", F.lit(0)).alias("docs")
    )
    return packed, accounting
