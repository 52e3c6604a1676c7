"""Deduplication operators for training-data pipelines.

Five dedup strategies, each chosen for a different scale/precision
point, all expressed relationally so Catalyst plans them (shuffles on
content hashes; no Python in the hot path):

- exact:      md5(text) hash-groupBy — O(n), removes byte-identical dups
- n-gram Jaccard: word-shingle self-join — exact set similarity on
              candidate pairs (quadratic per shingle bucket; used to
              *verify* candidates, not to generate them at scale)
- MinHash+LSH: k md5-seeded min-hashes, banded into LSH buckets —
              the scale path: near-dup candidates come from equi-join
              on (band, band_hash), so the only shuffle is on bucket
              keys and cost is ~linear in corpus size
- SimHash:    16-bit weighted-bit fingerprint, hamming-distance
              candidates within identical fingerprint buckets
- embedding cosine: see operators/similarity.py (near_dup_pairs)

All hashes are md5 so any engine (DuckDB oracle included) reproduces
them bit-for-bit — MinHash "permutations" are min-over md5(seed:word),
a standard trick that needs no engine-specific hash function.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.operators.text import words
from nt_data_pipelines_spark.pin import pin

DEFAULT_BUCKET_CAP = 64


class _DefaultCap(int):
    """Marks a bucket cap that came from the module default, not the caller."""


_DEFAULT_CAP = _DefaultCap(DEFAULT_BUCKET_CAP)


def _resolve_bucket_cap(cap: int | None, fn_name: str) -> int | None:
    """Surface the bounded-recall default instead of applying it silently.

    The hot-bucket cap trades recall for a linear candidate bound (a
    pair ranked past the cap in EVERY band's bucket is dropped), which
    flips results versus the uncapped form — callers relying on the
    default get a one-time warning so the trade is knowing, not silent.
    Pass ``bucket_cap=DEFAULT_BUCKET_CAP`` (or any explicit int/None)
    to opt in quietly.
    """
    if isinstance(cap, _DefaultCap):
        warnings.warn(
            f"{fn_name}: bucket_cap defaults to {int(cap)} (bounded recall: "
            "hot LSH buckets emit a hub-star instead of all pairs). Pass "
            "bucket_cap explicitly (int, or None for the uncapped "
            "quadratic form) to silence this warning.",
            stacklevel=3,
        )
        return int(cap)
    return cap


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-id row per identical text; returns (survivor_id, n_dups, text_hash).

    Null texts are excluded: md5(NULL) is NULL, which would otherwise
    collapse every null-text document into one bogus duplicate group.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_set(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, word) distinct pairs — the shingle relation for set-similarity ops."""
    return df.select(id_col, F.explode(words(text_col)).alias("word")).distinct()


def _set_size(arr: Column) -> Column:
    # size() is INT; every consumer exposes set sizes as BIGINT (the
    # legacy count() type), and the integer round-6 expressions
    # (2 * n * 1000000) overflow 32 bits past n ~ 1073.
    return F.size(arr).cast("long")


def word_arrays(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, __ws) — each row's DISTINCT word set as an array column.

    The codegen twin of :func:`word_set` for per-pair set operations:
    ``size(__ws)`` is the set size and ``size(array_intersect(a, b))``
    the exact intersection count, so a verify tier can compute Jaccard
    with NO explode fan-out, no per-pair groupBy, and no shuffle of a
    (id, word) relation — each candidate edge moves two word arrays
    once instead of |A|+|B| shingle rows through two exchanges
    (optimization guide §2.3/§2.4). Null texts are dropped, matching
    word_set (explode of split(NULL) emits no rows)."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.array_distinct(words(text_col)).alias("__ws")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity on word sets for all colliding pairs.

    Pairs (a < b) sharing at least one word; jaccard = |A∩B| / |A∪B|.
    At 100 TB you never run this on the full corpus — generate
    candidates with MinHash-LSH first, then verify with this on the
    (tiny) candidate set. Kept standalone for the oracle check.
    """
    # pinned: both sides of the word self-join read the same exploded
    # relation — unpinned, the scan+explode+distinct runs twice
    shingles = pin(word_set(df, id_col, text_col))
    # set sizes per row (codegen), not a third pass over the shingle
    # relation — the exploded form is still needed below because the
    # word self-join IS the candidate generation here.
    sizes = word_arrays(df, id_col, text_col).select(
        id_col, _set_size(F.col("__ws")).alias("set_size")
    )
    a = shingles.withColumnsRenamed({id_col: "id_a"})
    b = shingles.withColumnsRenamed({id_col: "id_b"})
    common = (
        a.join(b, "word")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnsRenamed({id_col: "id_a", "set_size": "size_a"})
    sb = sizes.withColumnsRenamed({id_col: "id_b", "set_size": "size_b"})
    jac = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
    )
    # int/int rational: integer half-up round-6 (registry rule 3)
    j6 = F.expr(
        "CAST((2 * n_common * 1000000 + (size_a + size_b - n_common)) "
        "DIV (2 * (size_a + size_b - n_common)) AS DOUBLE)"
    ) / 1000000.0
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_common", "size_a", "size_b", j6.alias("jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", num_hashes: int = 16
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) MinHash signature per document.

    One exploded-shingle aggregation computes all k components in a
    single shuffle (no per-seed passes). Catalyst removes word_set's
    distinct under the duplicate-insensitive min aggregates, so the
    md5s stream map-side through the partial aggregation. A per-row
    ``array_min(transform(...))`` form was measured in the round-13
    optimization pass (OPTIMIZATION_r13.md): it removes the explode
    and the SortAggregate's per-partition sort but materializes 16
    md5-string arrays per row, and benched a wash-to-slightly-slower
    at sf1 — so the streaming aggregation form stays.
    """
    shingles = word_set(df, id_col, text_col)
    return shingles.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(s)), F.col("word")))
            ).alias(f"mh_{s}")
            for s in range(num_hashes)
        ]
    )


def band_signatures(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banding step alone: precomputed (id, mh_0..mh_{k-1}) signatures ->
    long-form (id, band, band_hash) LSH bucket relation.

    Factored out of :func:`banded_minhash` so a caller that already
    holds signatures (the estimate tier, a persisted corpus state
    table) never pays the exploded-shingle aggregation shuffle twice.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature components would be silently ignored"
        )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band_{b}"))
    banded = sigs.select(id_col, *band_cols)
    return banded.unpivot(
        ids=[id_col],
        values=[f"band_{b}" for b in range(bands)],
        variableColumnName="band",
        valueColumnName="band_hash",
    )


def banded_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, band_hash) — the long-form LSH bucket relation.

    Signature split into ``bands`` bands of k/bands rows, each band
    hashed to one bucket key. This is the join-able form both the
    batch candidate generator and the streaming signature state table
    share: equality on (band, band_hash) == band collision.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    return band_signatures(sigs, id_col, num_hashes, bands)


def _bounded_band_candidates(
    long: DataFrame,
    id_col: str,
    bucket_cap: int | None,
    hub_order: list[Column] | None = None,
) -> DataFrame:
    """Long-form band relation -> candidate pairs with LINEAR edge count.

    Buckets with <= ``bucket_cap`` members emit all pairs (full recall
    where affordable, max cap^2/2 per bucket); hot buckets — the
    boilerplate-corpus case where an uncapped self-join is O(bucket^2)
    — emit a star to one hub per bucket: the first member under
    ``hub_order`` (default: min id). Members not similar to the hub
    lose this bucket's edge but collide with their own cluster again
    in the other bands (see minhash_verified_dup_edges's recall
    argument). Output (id_a, id_b) distinct with id_a < id_b.

    ``bucket_cap=None`` is the explicit uncapped opt-out: the plain
    all-pairs bucket self-join (full recall, O(bucket^2) — diagnostic
    scale only).
    """
    if bucket_cap is None:
        long = pin(long)
        a = long.select("band", "band_hash", F.col(id_col).alias("id_a"))
        b = long.select("band", "band_hash", F.col(id_col).alias("id_b"))
        return (
            a.join(b, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    w = Window.partitionBy("band", "band_hash")
    order = hub_order if hub_order is not None else [F.col(id_col)]
    wo = w.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sized = pin(
        long.select(
            F.col(id_col),
            "band",
            "band_hash",
            F.count(F.lit(1)).over(w).alias("bsize"),
            F.first(id_col).over(wo).alias("hub"),
        )
    )
    small = sized.filter(F.col("bsize") <= bucket_cap)
    a = small.select("band", "band_hash", F.col(id_col).alias("id_a"))
    b = small.select("band", "band_hash", F.col(id_col).alias("id_b"))
    small_pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    star = sized.filter(
        (F.col("bsize") > bucket_cap) & (F.col(id_col) != F.col("hub"))
    ).select(
        F.least("hub", F.col(id_col)).alias("id_a"),
        F.greatest("hub", F.col(id_col)).alias("id_b"),
    )
    return small_pairs.unionByName(star).distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Documents colliding on any band's hash become a candidate pair.
    The pair-generation join is an equi-join on (band, band_hash):
    that is the whole point — at scale the shuffle key is the bucket,
    never the cross product.
    """
    long = pin(banded_minhash(df, id_col, text_col, num_hashes, bands))
    a = long.withColumnsRenamed({id_col: "id_a"})
    b_ = long.withColumnsRenamed({id_col: "id_b"})
    return (
        a.join(b_, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_spanning_edges(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Linear-size edge set with the SAME connected components as
    :func:`minhash_lsh_candidates`.

    The hot-bucket problem: a boilerplate-heavy corpus drops thousands
    of near-identical documents into ONE (band, band_hash) bucket, and
    the all-pairs candidate join emits O(bucket^2) rows — at 100 TB a
    single million-doc bucket is 10^12 pairs. Dup-GROUP resolution
    never needed the clique: connecting each bucket's members in a
    CHAIN (consecutive ids after a per-bucket sort) reaches exactly
    the same transitive closure with O(bucket) edges. Use this when
    the pairs feed connected components; use the all-pairs form when
    each candidate pair is individually verified (a chain edge's
    Jaccard says nothing about the other members).

    One extra shuffle (the per-bucket window sort) replaces the
    self-join; output is (id_a, id_b) distinct with id_a < id_b.
    """
    long = banded_minhash(df, id_col, text_col, num_hashes, bands)
    w = Window.partitionBy("band", "band_hash").orderBy(id_col)
    chained = long.select(
        F.col(id_col).alias("id_a"),
        F.lead(id_col).over(w).alias("id_b"),
    ).filter(F.col("id_b").isNotNull())
    return chained.select("id_a", "id_b").distinct()


def minhash_verified_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Verified near-dup edges: LSH buckets -> BOUNDED candidate edges ->
    exact word-set Jaccard >= ``threshold``. Feed the result to
    :func:`resolve_dup_groups_auto` for dup groups.

    Why verification is not optional for dup GROUPS: a band collision at
    r rows/band is a soft similarity test (P = J^r per band — at r=4 a
    J=0.3 pair still collides with p~0.008 per band), and connected
    components amplify every false positive TRANSITIVELY. On any corpus
    with a shared vocabulary the unverified candidate graph densifies
    into one giant component — measured on the sf0.1 documents table,
    spanning-edge CC puts 4,988 of 4,992 docs into a single group, i.e.
    near-dedup would silently delete the corpus. At 100 TB that failure
    is catastrophic and invisible: every stage downstream still "works".

    Candidate edges stay linear in corpus size:
    - buckets <= ``bucket_cap``: all pairs (max cap^2/2 per bucket) —
      full recall where it is affordable;
    - hot buckets (> cap, the boilerplate case): a star to the bucket's
      min-id hub, O(bucket) edges. If the bucket is one true dup
      cluster (the common reason a bucket is hot) every spoke passes
      verification and the star connects it exactly; members NOT
      similar to the hub are dropped here but collide with their own
      cluster again in the other ``bands-1`` bands.

    Verification then runs on this linear-size edge set only — the
    shingle join fans each edge out by its word count, never all pairs.
    """
    bucket_cap = _resolve_bucket_cap(bucket_cap, "minhash_verified_dup_edges")
    long = banded_minhash(df, id_col, text_col, num_hashes, bands)
    cand = _bounded_band_candidates(long, id_col, bucket_cap)

    # Exact verify via per-row word ARRAYS (guide §2.3/§2.4): the old
    # shingle form joined each edge against two exploded (id, word)
    # relations — an |A∪B|-row fan-out per edge through two exchanges
    # plus a per-pair groupBy. Here each edge moves two word arrays
    # once; |A∩B| and the set sizes are codegen array ops. Identical
    # output (array_distinct/array_intersect are exact set semantics;
    # measured 0-row diff at sf1 and on the hot-bucket corpus).
    # Pinned: both sides of the edge join read the same relation, and
    # unpinned each side re-tokenizes the full corpus.
    wsets = pin(word_arrays(df, id_col, text_col))
    wa = wsets.select(F.col(id_col).alias("id_a"), F.col("__ws").alias("__wa"))
    wb = wsets.select(F.col(id_col).alias("id_b"), F.col("__ws").alias("__wb"))
    jac = (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            _set_size(F.array_intersect("__wa", "__wb")).alias("n_common"),
            _set_size(F.col("__wa")).alias("size_a"),
            _set_size(F.col("__wb")).alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
    )
    j6 = F.expr(
        "CAST((2 * n_common * 1000000 + (size_a + size_b - n_common)) "
        "DIV (2 * (size_a + size_b - n_common)) AS DOUBLE)"
    ) / 1000000.0  # integer half-up round-6 (registry rule 3)
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", j6.alias("jaccard")
    )


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs whose SimHash fingerprints differ in at most
    ``max_hamming`` bits.

    Quadratic in corpus size as written (fingerprints are tiny longs,
    so the pair scan is cheap JVM bit math) — kept as the verify-tier /
    oracle form. The scale path is :func:`simhash_banded_pairs`, which
    produces the identical pair set via a pigeonhole chunk equi-join.
    """
    a = fingerprints.select(F.col(id_col).alias("id_a"), F.col(fp_col).alias("fp_a"))
    b = fingerprints.select(F.col(id_col).alias("id_b"), F.col(fp_col).alias("fp_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_banded_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """Scale path for :func:`simhash_near_pairs` — same result, no pair scan.

    Pigeonhole blocking: split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` contiguous chunks. Two fingerprints within
    ``max_hamming`` bits of each other differ in at most ``max_hamming``
    chunks, so at least one chunk is EQUAL — candidates are an
    equi-join on (chunk index, chunk value) with guaranteed recall,
    then an exact hamming verify on the (small) candidate set. The
    shuffle key is the chunk bucket; nothing is quadratic in corpus
    size. Same contract as the O(n²) scan: (id_a, id_b, hamming).
    """
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks but the "
            f"fingerprint has only {bits} bits"
        )
    # nearly-equal chunk widths; boundaries fixed by (bits, n_chunks)
    base, extra = divmod(bits, n_chunks)
    bounds, lo = [], 0
    for i in range(n_chunks):
        hi = lo + base + (1 if i < extra else 0)
        bounds.append((lo, hi))
        lo = hi
    # Integer bit ops, not float division: floor(fp / 2^lo) % 2^w is
    # only exact for non-negative fingerprints inside a double's 53-bit
    # mantissa — at bits=64 (signed long simhash) it computes wrong
    # chunks and silently misses near-dup pairs. shiftrightunsigned +
    # mask is exact for the full 64-bit range, negatives included.
    fp_long = F.col(fp_col).cast("long")

    def _chunk(lo: int, hi: int):
        shifted = F.shiftrightunsigned(fp_long, lo)
        if hi - lo >= 64:  # whole word; the mask literal would overflow
            return shifted
        return shifted.bitwiseAND(F.lit((1 << (hi - lo)) - 1).cast("long"))

    chunk_cols = [_chunk(lo, hi).alias(f"c_{i}") for i, (lo, hi) in enumerate(bounds)]
    chunked = fingerprints.select(F.col(id_col), F.col(fp_col), *chunk_cols)
    long = pin(
        chunked.unpivot(
            ids=[id_col, fp_col],
            values=[f"c_{i}" for i in range(n_chunks)],
            variableColumnName="chunk",
            valueColumnName="chunk_val",
        )
    )
    a = long.select(
        F.col(id_col).alias("id_a"), F.col(fp_col).alias("fp_a"), "chunk", "chunk_val"
    )
    b = long.select(
        F.col(id_col).alias("id_b"), F.col(fp_col).alias("fp_b"), "chunk", "chunk_val"
    )
    cand = (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Estimated Jaccard for LSH candidate pairs from signature
    agreement alone: est = (matching MinHash components) / num_hashes.

    The O(1)-per-pair verification tier: exact word-set verification
    joins each candidate against both docs' shingle relations
    (O(words) per pair); the signature estimate needs only the 2 x
    num_hashes components already computed for banding. Unbiased
    (P[component match] = J exactly), stderr = sqrt(J(1-J)/k) — at
    k=16 that is ~0.12 worst-case, so use it to ORDER and TRIAGE
    candidates (or raise num_hashes for tighter bands), and keep the
    exact verify for accept/reject thresholds near the decision
    boundary. Output: (id_a, id_b, n_match, est_jaccard), id_a < id_b.

    Candidates are the same BOUNDED edge set as
    :func:`minhash_verified_dup_edges` (all pairs for buckets <=
    ``bucket_cap``, min-id hub-star above): a triage tier must never
    cost more than the verify tier it triages for, and the uncapped
    bucket self-join is O(bucket^2) on exactly the boilerplate-heavy
    corpora where triage matters. Signatures are computed ONCE and
    banded from that frame — no second shingle-aggregation shuffle.
    """
    bucket_cap = _resolve_bucket_cap(bucket_cap, "minhash_jaccard_estimate")
    # referenced three times below (banding + both signature sides):
    # pinned so the shingle aggregation runs once, not three times
    sigs = pin(minhash_signatures(df, id_col, text_col, num_hashes))
    band_long = band_signatures(sigs, id_col, num_hashes, bands)
    cand = _bounded_band_candidates(band_long, id_col, bucket_cap)
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            matches.alias("n_match"),
            F.round(matches / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER word set is mostly
    contained in the larger (|A∩B| / min(|A|, |B|) >= ``threshold``).

    Jaccard misses doc-inside-doc duplication by construction — a
    paragraph quoted inside a 10x-longer article has J ≈ 0.1 but
    containment ≈ 1.0, and training corpora are full of exactly that
    (aggregator pages, quote chains, boilerplate-wrapped articles).
    Candidates come from the same banded MinHash buckets as the
    symmetric tier (recall for high-containment pairs is lower than
    for high-Jaccard pairs — the longer doc's extra words can steal
    min-hash slots — so pair this with a smaller rows-per-band setting
    when the size skew is extreme); the exact containment verify runs
    on candidates only. Output: (id_a, id_b, n_common, size_a, size_b,
    containment) with id_a < id_b — the sizes let a caller pick the
    SUPERSET doc as survivor (pipelines/corpus containment stage).

    Hot buckets (> ``bucket_cap`` members) emit a star to the bucket's
    LARGEST doc (ties: min id) instead of all O(bucket^2) pairs —
    boilerplate-wrapped articles, containment's stated use case, are
    precisely what makes buckets hot. The largest doc is the natural
    hub: it is the superset-survivor candidate for every contained
    member, so hub spokes are the pairs the corpus containment stage
    acts on anyway.
    """
    bucket_cap = _resolve_bucket_cap(bucket_cap, "containment_pairs")
    # pinned: referenced three times (sizes + both edge sides) — the
    # corpus would otherwise be re-tokenized per reference
    wsets = pin(word_arrays(df, id_col, text_col))
    sizes = wsets.select(id_col, _set_size(F.col("__ws")).alias("set_size"))
    long = banded_minhash(df, id_col, text_col, num_hashes, bands).join(
        sizes, id_col
    )
    cand = _bounded_band_candidates(
        long, id_col, bucket_cap,
        hub_order=[F.col("set_size").desc(), F.col(id_col)],
    )
    # per-row word arrays instead of the exploded shingle join — see
    # minhash_verified_dup_edges (same rewrite, same exact-output
    # argument); n_common/sizes are codegen array ops per edge.
    wa = wsets.select(F.col(id_col).alias("id_a"), F.col("__ws").alias("__wa"))
    wb = wsets.select(F.col(id_col).alias("id_b"), F.col("__ws").alias("__wb"))
    out = (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            _set_size(F.array_intersect("__wa", "__wb")).alias("n_common"),
            _set_size(F.col("__wa")).alias("size_a"),
            _set_size(F.col("__wb")).alias("size_b"),
        )
        .withColumn(
            "containment",
            F.col("n_common") / F.least("size_a", "size_b").cast("double"),
        )
    )
    c6 = F.expr(
        "CAST((2 * n_common * 1000000 + LEAST(size_a, size_b)) "
        "DIV (2 * LEAST(size_a, size_b)) AS DOUBLE)"
    ) / 1000000.0  # integer half-up round-6 (registry rule 3)
    return out.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "n_common", "size_a", "size_b",
        c6.alias("containment"),
    )


def corpus_dedup_state(
    corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """(bands, shingles) state frames for incremental corpus dedup.

    Compute ONCE per corpus snapshot and persist both as tables (the
    streaming tier maintains the same two shapes as its state tables,
    streaming/incremental.py); feed them to
    :func:`dedup_new_against_corpus` as ``corpus_bands`` /
    ``corpus_shingles`` so each ingestion round joins against stored
    state instead of re-scanning and re-tokenizing the full corpus.
    Shapes: bands (id, band, band_hash); shingles (id, word) distinct.
    """
    return (
        banded_minhash(corpus, id_col, text_col, num_hashes, bands),
        word_set(corpus, id_col, text_col),
    )


def dedup_new_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
    corpus_bucket_cap: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Incremental-ingestion dedup: keep the NEW batch's docs that are
    not near-dups (exact word-set Jaccard >= ``threshold``) of any
    document already in the corpus.

    The continuous-training-data shape: every ingestion round dedups
    its delta against the accumulated corpus instead of re-deduping
    the world. Candidates are a (band, band_hash) equi-join of the
    batch's MinHash bands against the corpus's — cost O(batch x
    bucket), never corpus x corpus, and only candidate pairs pay the
    exact-verify shingle join. Duplicates WITHIN the new batch are out
    of scope by design (run the batch through curate_corpus /
    minhash_verified_dup_edges first); this operator answers only "is
    it already in the corpus".

    **Persisted state is the scale path**: pass ``corpus_bands`` and
    ``corpus_shingles`` (from :func:`corpus_dedup_state`, persisted as
    tables and maintained incrementally — append each kept batch's
    bands/shingles after the round) and the 100-TB corpus is never
    re-scanned or re-tokenized per batch; only the state tables are
    read. ``corpus`` may then be None. When the precomputed frames are
    omitted the operator derives both from ``corpus`` — correct, but a
    full corpus recompute per call; fine for one-shot use only.

    ``corpus_bucket_cap`` bounds the candidate join on hot corpus
    buckets: only the ``cap`` min-id corpus docs per (band, band_hash)
    join the batch, so a boilerplate bucket contributes O(batch x cap)
    pairs, not O(batch x bucket). Recall argument: a corpus that is
    itself near-deduped (the maintained-state regime) has no giant
    true-dup buckets, so a hot bucket is shared-vocabulary soft
    collisions, and a genuine near-dup of a new doc still collides in
    the other ``bands - 1`` bands. None disables the cap.
    """
    corpus_bucket_cap = _resolve_bucket_cap(
        corpus_bucket_cap, "dedup_new_against_corpus"
    )
    if corpus_bands is None or corpus_shingles is None:
        if corpus is None:
            raise ValueError(
                "either corpus or both corpus_bands and corpus_shingles "
                "must be provided"
            )
        if corpus_bands is None:
            corpus_bands = banded_minhash(corpus, id_col, text_col, num_hashes, bands)
        if corpus_shingles is None:
            corpus_shingles = word_set(corpus, id_col, text_col)
    nb = banded_minhash(new_docs, id_col, text_col, num_hashes, bands)
    cb = corpus_bands
    if corpus_bucket_cap is not None:
        wb = Window.partitionBy("band", "band_hash").orderBy(id_col)
        cb = (
            cb.withColumn("_brank", F.row_number().over(wb))
            .filter(F.col("_brank") <= corpus_bucket_cap)
            .drop("_brank")
        )
    # NOT pinned, deliberately: tests pin the contract that the state
    # path's lineage exposes the state parquet through inputFiles()
    # (no corpus re-scan can hide), and a checkpoint would truncate
    # that. The candidate set is referenced twice below (corpus-side
    # word aggregation semi-join + verify join) — a batch-sized
    # double-execution, far cheaper than the corpus-wide size
    # aggregation the array rewrite removed.
    cand = (
        nb.withColumnsRenamed({id_col: "id_new"})
        .join(cb.withColumnsRenamed({id_col: "id_old"}), ["band", "band_hash"])
        .select("id_new", "id_old")
        .distinct()
    )
    # Word-ARRAY verify (the batch/streaming verify tiers' rewrite,
    # guide §2.3): the old shape joined each candidate against the
    # exploded new-batch and corpus shingle relations (a per-pair
    # word fan-out through two exchanges plus a per-pair groupBy) and
    # re-ran both explodes for the size aggregates. Now the candidate
    # endpoints' word sets aggregate ONCE into arrays — the corpus
    # side restricted to candidate ids first, so the corpus-sized
    # state is never aggregated wholesale — and intersection/sizes
    # are codegen array ops. The explicit n_common >= 1 filter
    # reproduces the old inner common-join semantics exactly.
    nw = pin(
        word_set(new_docs, id_col, text_col)
        .withColumnsRenamed({id_col: "id_new"})
        .groupBy("id_new")
        .agg(F.collect_set("word").alias("__wn"))
    )
    ow = (
        corpus_shingles.withColumnsRenamed({id_col: "id_old"})
        .join(cand.select("id_old").distinct(), "id_old", "left_semi")
        .groupBy("id_old")
        .agg(F.collect_set("word").alias("__wo"))
    )
    dup_new = (
        cand.join(nw, "id_new")
        .join(ow, "id_old")
        .select(
            "id_new",
            _set_size(F.array_intersect("__wn", "__wo")).alias("n_common"),
            _set_size(F.col("__wn")).alias("size_new"),
            _set_size(F.col("__wo")).alias("size_old"),
        )
        .filter(
            (F.col("n_common") >= 1)
            & (
                F.col("n_common")
                / (F.col("size_new") + F.col("size_old") - F.col("n_common")).cast(
                    "double"
                )
                >= threshold
            )
        )
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return new_docs.join(dup_new, id_col, "left_anti")


def resolve_dup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup pairs -> (doc_id, canonical_id) via connected components.

    The final stage of a dedup pipeline: pairs from LSH+verify form an
    undirected graph; each component keeps its minimum id as the
    canonical survivor. The pair set is orders of magnitude smaller
    than the corpus (only near-dups appear), so union-find runs
    driver-side on the collected edges — the same driver-sized-result
    pattern as the reference's order sink. For pathological corpora
    where even the edge set is huge, the iterative label-propagation
    (min-id broadcast) variant replaces this with K Spark joins.
    """
    edges = pairs.select(id_a, id_b).collect()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id root so the canonical member is deterministic
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for r in edges:
        union(r[id_a], r[id_b])
    mapping = [(x, find(x)) for x in parent]
    spark = pairs.sparkSession
    # explicit schema: an empty mapping (clean corpus) cannot be inferred
    id_type = dict(pairs.dtypes)[id_a]
    return spark.createDataFrame(
        mapping, f"doc_id {id_type}, canonical_id {id_type}"
    )


def resolve_dup_groups_auto(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_driver_edges: int = 2_000_000,
    mode: str = "auto",
) -> DataFrame:
    """Route dup-group resolution by edge-set size.

    ``mode='driver'`` / ``'distributed'`` force a path;  ``'auto'``
    (default) bounds the candidate-pair count with an early-stopping
    probe (``limit(N+1).count()`` — never a full count) and switches
    to min-label propagation when the edge set could exceed driver
    memory. On a boilerplate-heavy web corpus near-dup clusters are
    huge and the pair set alone can be tens of GB — collecting it
    driver-side (the small-corpus fast path) would OOM the driver.
    The pair frame is persisted across probe + resolution so the LSH
    lineage is computed once, and unpersisted before returning (both
    resolvers materialize eagerly: collect() or per-round
    localCheckpoint)."""
    if mode not in ("auto", "driver", "distributed"):
        raise ValueError(f"mode must be auto|driver|distributed, got {mode!r}")
    if mode == "driver":
        return resolve_dup_groups(pairs, id_a, id_b)
    if mode == "distributed":
        return resolve_dup_groups_distributed(pairs, id_a, id_b)
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        oversize = pairs.limit(max_driver_edges + 1).count() > max_driver_edges
        if oversize:
            return resolve_dup_groups_distributed(pairs, id_a, id_b)
        return resolve_dup_groups(pairs, id_a, id_b)
    finally:
        pairs.unpersist()


def resolve_dup_groups_distributed(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Distributed connected components via min-label propagation.

    The scale path for :func:`resolve_dup_groups` when the edge set
    itself is too large to collect: every node starts labeled with its
    own id; each round, a node adopts the minimum label among itself
    and its neighbors, then POINTER-JUMPS (label := label's label).
    The jump halves label-path lengths each round, so convergence is
    O(log diameter), not O(diameter) — load-bearing because
    :func:`minhash_lsh_spanning_edges` deliberately connects each hot
    bucket as a CHAIN (a 1M-doc boilerplate bucket is a path of
    diameter 1M; plain propagation would need 1M rounds and silently
    return wrong components when capped). Each round is two shuffles
    on node id; stops early when no label changes and raises — never
    returns wrong groups — if ``max_iterations`` is genuinely too
    small. The default 30 covers diameters to ~2^30 (a billion-doc
    chain): because of the early stop, a generous cap costs NOTHING
    when the graph converges sooner, while the old cap of 20 sat
    exactly at a 1M-doc boilerplate chain's log2 diameter — the
    round-13 hot-bucket bench (182k chain, ~18 rounds) showed how
    thin that margin was at real bucket sizes.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialized ONCE: every round joins this table, and without
        # the cut the union+distinct (a full shuffle of the pair set —
        # itself often an expensive LSH lineage) re-executes per round.
        # Measured on a 200k-doc hot-bucket corpus (round 13): 446 s ->
        # 21 s for the whole resolution.
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # pinned like every round below: the first round reads it 4x
        .localCheckpoint(eager=True)
    )
    # Round structure (round 14, guide §2.4): ONE checkpoint per round.
    # The old shape pinned an intermediate `prop` so the fresh jump's
    # self-join would not re-execute the edges⋈labels propagation —
    # two eager checkpoints + a count per round. Jumping through the
    # PREVIOUS round's pinned label table instead needs no second pin:
    # the jump is one join against blocks that already exist, and the
    # label-only-decreases / label-is-a-component-member invariants
    # (the convergence proof) hold for any mix of propagation and
    # stale jumps. A stale jump still composes the previous round's
    # mapping, so label-path lengths keep halving (one extra round vs
    # the fresh jump on a chain). Measured on the c9 hot-bucket edge
    # set (286k edges, 182k-doc chain component), interleaved A/B:
    # old 21.8s / 189 jobs -> 18.5s / 167 jobs median (1.18x, faster
    # in every pair). A TWO-jump variant (fewer rounds, 122 jobs)
    # benched SLOWER (25.9s): by the second jump most labels have
    # converged to the component min, so the join key is maximally
    # skewed and the extra join costs more than the rounds it saves.
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        cur = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("plabel"),
                F.col("label").alias("old_label"),
            )
        )
        # pointer jumping through the previous round's pinned labels
        # (labels are node ids, so every label has a row there)
        hop = labels.select(
            F.col("node").alias("__hnode"), F.col("label").alias("__hlabel")
        )
        cur = (
            cur.join(hop, cur.plabel == hop.__hnode, "left")
            .select(
                "node",
                F.least(
                    F.col("plabel"),
                    F.coalesce(F.col("__hlabel"), F.col("plabel")),
                ).alias("plabel"),
                "old_label",
            )
        )
        # materialize the round so the next one doesn't re-derive the
        # whole lineage, and check convergence on the same blocks
        updated = cur.select(
            "node", F.col("plabel").alias("new_label"), "old_label"
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("new_label") != F.col("old_label")).limit(1).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
            )
    raise RuntimeError(
        f"connected components did not converge in {max_iterations} rounds — "
        "component diameter exceeds ~2^max_iterations; raise max_iterations"
    )


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint from word md5s (JVM-side bit math).

    Bit b of the fingerprint is the sign of sum over words of
    (+1 if bit b of md5(word) else -1). Near-dups share most bits, so
    identical-fingerprint (or low-hamming) buckets are dedup groups.

    The hash source width SCALES with ``bits`` (ceil(bits/4) md5 hex
    digits): a fixed 4-digit source would leave every bit above 15
    constantly zero — fingerprints with half their bits frozen, and
    banded chunks that collide for ALL documents.
    """
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    n_hex = -(-bits // 4)
    hsrc = F.conv(F.substring(F.md5(F.col("word")), 1, n_hex), 16, 10).cast("long")
    shingles = word_set(df, id_col, text_col).withColumn("h", hsrc)
    bit_weights = [
        F.sum(
            F.when(F.floor(F.col("h") / (1 << b)) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"w_{b}")
        for b in range(bits)
    ]
    per_doc = shingles.groupBy(id_col).agg(*bit_weights)
    fingerprint = sum(
        [F.when(F.col(f"w_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(bits)],
        F.lit(0),
    )
    return per_doc.select(id_col, fingerprint.cast("long").alias("simhash"))


def cross_source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    fingerprint: Column | None = None,
) -> DataFrame:
    """Pairwise source-overlap matrix over duplicate fingerprints: for
    every unordered source pair, how many DISTINCT fingerprints appear
    in both — the contamination/mirror audit run before trusting
    per-source mixing weights (two crawl feeds syndicating the same
    pages double-count every shared document).

    ``fingerprint`` defaults to ``md5(text)`` (exact duplication);
    pass any deterministic content key for near-mirror audits (the
    registered query uses a sorted-vocabulary-prefix fingerprint —
    robust to word order and local edits).

    Scale shape: one (fingerprint, source) distinct shuffle, then a
    self-equi-join ON THE FINGERPRINT whose fan-out per key is bounded
    by the source count (a text in s sources contributes C(s,2) rows —
    sources are dozens, never corpus-sized), aggregated to the
    sources^2-bounded matrix. Null texts are excluded (md5(NULL) would
    collapse them into one bogus shared key).

    Returns (source_a, source_b, n_shared_texts) with source_a <
    source_b, only pairs sharing at least one fingerprint.
    """
    key = fingerprint if fingerprint is not None else F.md5(F.col(text_col))
    h = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            key.alias("__h"),
            F.col(source_col).alias("__s"),
        )
        .distinct()
    )
    return (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__s") < F.col("b.__s")),
        )
        .groupBy(
            F.col("a.__s").alias("source_a"), F.col("b.__s").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )


def minhash_estimate_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = _DEFAULT_CAP,
) -> DataFrame:
    """Calibration audit of the MinHash Jaccard ESTIMATOR against the
    exact word-set Jaccard, over the same bounded LSH candidate set —
    the QA query run before trusting signature-only triage thresholds
    (is the k=16 estimator's error actually distributed like
    sqrt(J(1-J)/k) on THIS corpus, or did short docs / hot shingles
    skew it?).

    Per candidate pair the error |est - exact| is bucketed in
    SIXTEENTHS (the estimator's own granularity) with pure integer
    arithmetic — bucket = |n_match * union - k * n_common| DIV union —
    so both engines bucket identically even though the exact Jaccard
    is not binary-representable. Output: one row per occupied bucket,
    (err_bucket_16ths, n_pairs, pair_share), err 0 = estimate within
    1/16 of truth.

    Scale shape: signatures and shingles each computed once; the
    estimate join is O(1) per pair on the signature frame, the exact
    join is the verify tier's shingle join over the SAME bounded
    candidates — by construction this audit costs what one verify
    pass costs.
    """
    bucket_cap = _resolve_bucket_cap(bucket_cap, "minhash_estimate_calibration")
    # referenced three times (banding + both estimate sides): pinned so
    # the shingle aggregation runs once
    sigs = pin(minhash_signatures(df, id_col, text_col, num_hashes))
    band_long = band_signatures(sigs, id_col, num_hashes, bands)
    cand = _bounded_band_candidates(band_long, id_col, bucket_cap)

    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
    )
    n_match = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", n_match.cast("long").alias("__m"))
    )

    # exact tier via per-row word arrays (see minhash_verified_dup_edges);
    # pinned: both edge sides read it
    wsets = pin(word_arrays(df, id_col, text_col))
    wa = wsets.select(F.col(id_col).alias("id_a"), F.col("__ws").alias("__wa"))
    wb = wsets.select(F.col(id_col).alias("id_b"), F.col("__ws").alias("__wb"))
    per_pair = (
        est.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "__m",
            _set_size(F.array_intersect("__wa", "__wb")).alias("__c"),
            _set_size(F.col("__wa")).alias("__za"),
            _set_size(F.col("__wb")).alias("__zb"),
        )
        .select(
            F.expr(
                f"ABS(__m * (__za + __zb - __c) - {num_hashes} * __c) "
                "DIV (__za + __zb - __c)"
            ).alias("err_bucket_16ths")
        )
    )
    # pinned: `total` re-aggregates `buckets`, so unpinned the whole
    # candidate+verify pipeline above would execute twice
    buckets = pin(
        per_pair.groupBy("err_bucket_16ths").agg(
            F.count(F.lit(1)).alias("n_pairs")
        )
    )
    total = buckets.agg(F.sum("n_pairs").alias("__t"))
    return (
        buckets.crossJoin(F.broadcast(total))
        .select(
            F.col("err_bucket_16ths").cast("long").alias("err_bucket_16ths"),
            "n_pairs",
            (
                F.expr(
                    "CAST((2 * n_pairs * 1000000 + __t) DIV (2 * __t) AS DOUBLE)"
                )
                / 1000000.0
                + 0.0
            ).alias("pair_share"),
        )
    )
