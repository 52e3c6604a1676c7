"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring how ANN works at 100 TB:

- brute-force cosine top-k: the exact baseline. The query set is
  broadcast; the corpus scan is embarrassingly parallel; per-row cost
  is a fused JVM expression (zip_with + aggregate — no Python, no
  shuffle until the final per-query top-k).
- LSH-bucketed ANN: random-hyperplane signatures (signs derived
  deterministically from md5 so any engine reproduces them), bucket
  equi-join, exact re-rank within buckets. The cross product never
  materializes; the shuffle key is the bucket.

An IVF variant (k-means coarse quantizer) is the natural next tier;
the bucket-join skeleton here is exactly what it would reuse with
learned centroids instead of hash planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.pin import pin


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic summation order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors yield NULL (DuckDB /0 semantics),
    # instead of raising under ANSI mode.
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    Returns (query_id, rank, neighbor_id, cosine). Ranking uses the
    6-decimal-rounded cosine with id tie-break so results are stable
    across engines and runs. ``exclude_self`` drops corpus rows whose
    id equals the query's — corpus-self semantics; pass False when the
    query frame's ids come from a DIFFERENT keyspace (the id equality
    is coincidence there and would silently drop a true neighbor).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("c_vec")
    )
    pair_cond = (
        F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True)
    )
    scored = (
        c.join(F.broadcast(q), pair_cond)
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6) + 0.0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Quadratic — correct as an oracle-checkable definition and fine for
    re-ranking candidate buckets; at corpus scale generate candidates
    with :func:`lsh_signatures` buckets first.
    """
    a = corpus.select(F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("vec_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("vec_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6) + 0.0
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Scale path for :func:`near_dup_pairs` — LSH candidates, exact verify.

    Candidates are pairs sharing a random-hyperplane bucket (equi-join
    on the signature; the cross product never materializes), then the
    exact cosine check keeps pairs at/above ``threshold``. Same output
    contract as the quadratic form, restricted to bucket-cohabiting
    pairs — the standard recall/cost trade of hash-blocked dedup
    (more planes → smaller buckets → cheaper + lower recall).
    """
    # pinned: the bucket self-join reads the signature relation (k
    # hyperplane dot products per row) twice; ditto the vector
    # projection for both verify sides
    sig = pin(lsh_signatures(corpus, id_col, vec_col, num_planes, dim))
    a = sig.select(F.col(id_col).alias("id_a"), "bucket")
    b = sig.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = pin(corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v")))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("vec_a"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vec_b"))
    cos = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6) + 0.0
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 parity.

    Reproducible in any engine with md5 — no RNG, no seed state.
    """
    import hashlib

    comps = []
    for j in range(dim):
        h = hashlib.md5(f"{plane}:{j}".encode()).hexdigest()
        comps.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return comps


def lsh_signatures(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, bucket) random-hyperplane LSH signature per vector.

    bucket = the concatenated sign bits of <v, h_p> for each plane.
    Hyperplane literals are inlined into the plan (tiny arrays) — the
    comparison stays a fused JVM expression per row.
    """
    v = as_double_array(vec_col)
    # A vector shorter/longer than `dim` would silently zip against
    # nulls and collapse into one bucket — fail loudly instead.
    guard = F.assert_true(
        F.size(v) == dim, F.lit(f"embedding length must equal dim={dim}")
    )
    bits = []
    for p in range(num_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(p, dim)])
        bits.append(F.when(dot(v, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return corpus.select(
        F.col(id_col), F.when(guard.isNull(), F.concat(*bits)).alias("bucket")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within matching LSH
    bucket. ``exclude_self`` as in :func:`brute_force_topk`."""
    sig_c = lsh_signatures(corpus, id_col, vec_col, num_planes, dim).withColumnsRenamed(
        {id_col: "neighbor_id"}
    )
    sig_q = lsh_signatures(queries, id_col, vec_col, num_planes, dim).withColumnsRenamed(
        {id_col: "query_id"}
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("q_vec"))
    cand = sig_q.join(sig_c, "bucket")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = (
        cand
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6) + 0.0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def banded_hyperplane_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes_per_band: int = 8,
    num_bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """OR-amplified hyperplane LSH candidates + exact cosine verify.

    A single signature's recall is p^k (p = per-plane collision
    probability, k = planes) — measured 1.7% at k=8 on the synthetic
    fixture's 0.3-cosine pairs, matching (1 - acos(s)/pi)^k exactly.
    Banding amplifies it to 1 - (1 - p^k)^L with L independent bands:
    the same construction MinHash dedup already uses, applied to the
    embedding tier. Band b draws planes [b*k, (b+1)*k) from the shared
    md5 family, so bands are deterministic and independent; candidates
    join on (band, bucket), the cross product never materializes, and
    the exact verify keeps only pairs at/above ``threshold``. Cost
    scales linearly with L — recall/cost is the dial, and
    :func:`lsh_recall`'s sibling below measures where to set it.
    """
    v = as_double_array(vec_col)
    guard = F.assert_true(
        F.size(v) == dim, F.lit(f"embedding length must equal dim={dim}")
    )
    band_rows = []
    for b in range(num_bands):
        bits = []
        for j in range(planes_per_band):
            plane = F.array(*[F.lit(x) for x in _hyperplane(b * planes_per_band + j, dim)])
            bits.append(F.when(dot(v, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
        band_rows.append(
            F.struct(F.lit(b).alias("band"), F.concat(*bits).alias("bucket"))
        )
    # a generator cannot nest inside WHEN — evaluate the length guard
    # as a (always-true-or-throwing) filter, then explode
    sig = pin(
        corpus.filter(guard.isNull())
        .select(F.col(id_col), F.explode(F.array(*band_rows)).alias("s"))
        .select(id_col, "s.band", "s.bucket")
    )  # pinned: L*k dot products per row, read by both self-join sides
    a = sig.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = sig.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = pin(corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v")))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("vec_a"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vec_b"))
    cos = F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6) + 0.0
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def md5_sample(
    corpus: DataFrame, id_col: str = "vec_id", sample_size: int = 500
) -> DataFrame:
    """Deterministic fixed-size sample, computed DISTRIBUTED.

    The top ``sample_size`` rows by (md5(id), id) — the same sample a
    global ``row_number`` window would pick, but ``orderBy().limit()``
    plans as TakeOrderedAndProject: every partition keeps its local
    top-N and only those reach the driver-side merge. The window form
    moves the ENTIRE corpus through one task (Spark's "No Partition
    Defined" warning) — at 100 TB the harness would die before
    sampling. Plan shape pinned by tests/test_plan_shape2.py.
    """
    return corpus.orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(sample_size)


def banded_lsh_recall(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes_per_band: int = 8,
    num_bands: int = 4,
    dim: int = 64,
    sample_size: int = 500,
) -> dict:
    """:func:`lsh_recall` for the banded tier — same deterministic
    sample and exact ground truth, measuring the 1-(1-p^k)^L gain."""
    sample = md5_sample(corpus, id_col, sample_size).localCheckpoint(eager=True)
    exact = near_dup_pairs(sample, id_col, vec_col, threshold)
    approx = banded_hyperplane_pairs(
        sample, id_col, vec_col, threshold, planes_per_band, num_bands, dim
    )
    n_exact = exact.count()
    hits = exact.join(approx.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").count()
    return {
        "exact_pairs": n_exact,
        "lsh_pairs": approx.count(),
        "hits": hits,
        "recall": round(hits / n_exact, 6) if n_exact else None,
    }


def lsh_recall(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    sample_size: int = 500,
) -> dict:
    """Measured recall of the LSH candidate tier vs exact ground truth.

    The tuning instrument for ``num_planes``: more planes cut cost but
    drop recall, and the right setting depends on the corpus's
    similarity distribution — so measure it. Ground truth is the exact
    quadratic pair set over a DETERMINISTIC md5-ranked sample of
    ``sample_size`` vectors (quadratic stays affordable by
    construction: the sample is fixed-size no matter the corpus, and
    :func:`md5_sample` computes it distributed — TakeOrderedAndProject,
    not a single-partition window);
    recall = |LSH pairs ∩ exact pairs| / |exact pairs| over the same
    sample. Returns {exact_pairs, lsh_pairs, hits, recall} — recall is
    None when the sample has no qualifying pairs (raise the sample or
    lower the threshold; an empty denominator is not 100%).
    """
    sample = md5_sample(corpus, id_col, sample_size).localCheckpoint(eager=True)
    exact = near_dup_pairs(sample, id_col, vec_col, threshold)
    approx = lsh_near_dup_pairs(sample, id_col, vec_col, threshold, num_planes, dim)
    n_exact = exact.count()
    n_lsh = approx.count()
    hits = exact.join(approx.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").count()
    return {
        "exact_pairs": n_exact,
        "lsh_pairs": n_lsh,
        "hits": hits,
        "recall": round(hits / n_exact, 6) if n_exact else None,
    }


def _cap_hot_buckets(
    sig: DataFrame, id_col: str, bucket_cap: int | None
) -> DataFrame:
    """Split any LSH bucket above ``bucket_cap`` rows into salt groups.

    A boilerplate-heavy embedding corpus puts near-identical vectors
    in ONE bucket, and the per-bucket self-join is O(bucket²) — one
    10⁶-row hot bucket is 10¹² candidate rows. Extra hash planes
    cannot split identical vectors, so the bound has to be a salt:
    rows of an oversized bucket are assigned to ``ceil(n/cap)``
    deterministic md5 groups and pair only within their group, making
    the candidate count O(bucket × cap). Buckets at/below the cap keep
    a single group — their pair set (and therefore the output
    contract) is unchanged. The cost is recall ACROSS salt groups of a
    hot bucket — exactly the rows that are near-identical anyway, so
    each row still ranks a full group of closest neighbors.
    """
    if bucket_cap is None:
        return sig.withColumn("__salt", F.lit(0))
    if bucket_cap < 2:
        raise ValueError(f"bucket_cap must be >= 2, got {bucket_cap}")
    # pinned: the bucket-count aggregate and the join back both read
    # the signature relation
    sig = pin(sig)
    counts = sig.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"))
    groups = F.ceil(F.col("__n") / F.lit(bucket_cap)).cast("long")
    # md5, not xxhash64: the salt changes which pairs are candidates,
    # so it must be reproducible in any engine (same family as the
    # hyperplane signs)
    digit = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return (
        sig.join(counts, "bucket")
        .withColumn("__salt", F.pmod(digit.cast("long"), groups))
        .drop("__n")
    )


def knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    num_planes: int = 6,
    dim: int = 64,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """Approximate k-NN graph over the whole corpus (LSH-blocked).

    For every vector, its top-k cosine neighbors among vectors sharing
    its random-hyperplane bucket — the adjacency list semantic-dedup
    and clustering tiers consume. Unlike :func:`lsh_ann_topk` (a small
    query set against the corpus) the graph ranks EVERY corpus row, so
    a broadcast of one side is impossible; the bucket equi-join is the
    only scale-viable shape (the candidate set is linear in corpus
    size times bucket occupancy, never the N^2 cross product).
    Vectors in singleton buckets get no edges — the standard LSH
    recall trade (fewer planes -> denser graph, bigger buckets).
    Buckets above ``bucket_cap`` rows are salt-split so one hot bucket
    (near-identical boilerplate embeddings) cannot go quadratic — see
    :func:`_cap_hot_buckets`; pass None to disable.

    Returns (src_id, rank, dst_id, cosine), rank 1..k by round-6
    cosine with dst-id tie-break (engine-stable).
    """
    edges = _knn_candidates(corpus, id_col, vec_col, num_planes, dim, bucket_cap)
    vecs = pin(corpus.select(F.col(id_col), as_double_array(vec_col).alias("__v")))
    va = vecs.select(F.col(id_col).alias("src_id"), F.col("__v").alias("va"))
    vb = vecs.select(F.col(id_col).alias("dst_id"), F.col("__v").alias("vb"))
    cand = (
        edges.join(va, "src_id")
        .join(vb, "dst_id")
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 6) + 0.0)
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("dst_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("src_id", "rank", "dst_id", "cosine")
    )


def _knn_candidates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    dim: int = 64,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """(src_id, dst_id) candidate edges for :func:`knn_graph` — the
    per-(bucket, salt) self-join, exposed so tests can pin the
    candidate count bound directly."""
    # pinned: the per-(bucket, salt) self-join reads the capped
    # signature relation twice (and the cap itself joins the raw
    # signatures against their bucket counts — pinned inside)
    sig = pin(
        _cap_hot_buckets(
            lsh_signatures(corpus, id_col, vec_col, num_planes, dim), id_col, bucket_cap
        )
    )
    a = sig.select(F.col(id_col).alias("src_id"), "bucket", "__salt")
    b = sig.select(F.col(id_col).alias("dst_id"), "bucket", "__salt")
    return (
        a.join(b, ["bucket", "__salt"])
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric int quantization (storage tier for ANN).

    Each vector gets one float scale (its max |component| / (2^(b-1)-1))
    and an int array ``round(x / scale)`` — the standard 4x shrink
    before a 100 TB embedding corpus goes to disk; search dequantizes
    with one multiply. Rounding is spelled ``floor(x/s + 0.5)`` so any
    engine reproduces it bit-for-bit (ROUND() is half-up in Spark,
    half-even in DuckDB — the known parity trap). Zero vectors keep
    scale 0 and quantize to zeros. Pure JVM array expressions
    (transform/aggregate) — no shuffle, no Python.
    """
    qmax = float((1 << (bits - 1)) - 1)
    v = as_double_array(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = amax / F.lit(qmax)
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
        )
    )
    return df.select(
        F.col(id_col), scale.alias("q_scale"), q.alias("q_vec")
    )


def dequantize_error(
    df: DataFrame,
    quantized: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reconstruction check: max abs error per vector after dequant —
    bounded by scale/2 for symmetric rounding (the test tier for
    :func:`quantize_embeddings`)."""
    v = as_double_array(vec_col)
    joined = df.select(id_col, v.alias("__v")).join(quantized, id_col)
    err = F.aggregate(
        F.zip_with(
            "__v",
            "q_vec",
            lambda x, q: F.abs(x - q.cast("double") * F.col("q_scale")),
        ),
        F.lit(0.0),
        lambda acc, e: F.greatest(acc, e),
    )
    return joined.select(id_col, "q_scale", err.alias("max_abs_err"))


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Fuse N ranked candidate lists by reciprocal-rank fusion.

    RRF (Cormack et al. 2009): score(d) = sum over lists of
    1 / (k + rank_d), with documents absent from a list contributing
    0. The standard trick for hybrid retrieval — fusing a lexical
    (BM25) list with an embedding-cosine list without score
    calibration, since only RANKS enter the fusion.

    Each input frame carries (id_col, rank_col) for its own candidate
    list. Lists are small (top-k per retriever), so the fusion is a
    union + one groupBy over at most N*k rows — negligible at any
    corpus scale; the cost lives in the retrievers. The fused score is
    rounded to 6 decimals (engine-parity rule 2) with id tie-break.

    RRF is defined over ONE rank per document per list; a frame that
    carries a document twice (an un-deduped candidate list) is
    defensively collapsed to its best (minimum) rank before fusing, so
    duplicate rows cannot inflate rrf_score beyond the definition.
    """
    if not rankings:
        raise ValueError("rankings must contain at least one ranked frame")
    tagged = None
    for r in rankings:
        best = r.groupBy(id_col).agg(F.min(rank_col).alias("__rank"))
        part = best.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k) + F.col("__rank").cast("double"))).alias("__rr"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    # decimal sum: order-independent addition, bit-stable across
    # engines; the round-6 of the (12-decimal rational) sum runs in
    # integer half-up form (registry rule 3)
    pico = F.sum(
        (F.col("__rr").cast("decimal(38,12)") * 1000000000000).cast("decimal(38,0)")
    )
    return (
        tagged.groupBy(id_col)
        .agg(pico.alias("__pico"))
        .select(
            id_col,
            (
                F.expr(
                    "CAST((2 * __pico + 1000000) DIV 2000000 AS DOUBLE)"
                )
                / 1000000.0
                + 0.0
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
    )


def source_centroid_outliers(
    docs: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    source_col: str = "source",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Per-document cosine to its OWN source's embedding centroid —
    the outlier-pruning signal for embedding-based curation
    (SemDeDup-adjacent: SemDeDup removes near-identical points,
    centroid distance removes points that belong to no cluster at all
    — mislabeled, off-topic, or garbage-embedded documents score low).

    Scale shape: one posexplode of the joined vectors for the centroid
    aggregate (linear, map-side partial per (source, dim)); centroids
    collapse to one ~sources x dim frame that BROADCASTS back, so the
    scoring pass is a single codegen stage over the corpus — no
    per-pair work, no second shuffle of the vectors.

    Engine parity: centroid components are exact decimal means; the
    cosine is a sequential fold rounded to 6 decimals (the module's
    standard). Returns (id, source, centroid_cosine).
    """
    v = embeddings.select(
        F.col(vec_id_col).alias(id_col), as_double_array(vec_col).alias("__v")
    )
    joined = docs.select(id_col, F.col(source_col).alias("source")).join(v, id_col)
    longf = joined.select("source", F.posexplode("__v").alias("__i", "__x"))
    cent = longf.groupBy("source", "__i").agg(
        (
            F.sum(F.col("__x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__c")
    )
    carr = cent.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "__c"))), lambda s: s["__c"]
        ).alias("__cv")
    )
    return joined.join(F.broadcast(carr), "source").select(
        id_col,
        "source",
        (F.round(cosine(F.col("__v"), F.col("__cv")), 6) + 0.0).alias(
            "centroid_cosine"
        ),
    )
