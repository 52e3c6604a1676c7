"""Record linkage: fuzzy string matching via blocked similarity join.

Entity-resolution primitive the training-data tier uses for catalog /
metadata reconciliation (vendor names, titles, author strings): an
all-pairs string comparison is O(n^2), so candidates come from a
BLOCKING equi-join on character n-grams — only strings sharing at
least one gram ever meet — and the verify metric (exact set Jaccard)
falls out of the same join for free: with per-string distinct grams,
the per-pair match count IS |A ∩ B|.

Scale shape: one gram explode + one gram-keyed equi-join (shuffle is
gram-bucketed, never string x string), two broadcast-or-shuffle joins
against the per-string gram counts. Skew risk is a hot gram (an "ing"
shared by half the catalog): like the dedup tier's hot-bucket caps,
the stop-gram bound is DEFAULT-ON with a one-time warning
(``_resolve_bucket_cap``, operators/dedup.py) — pass ``max_gram_df``
explicitly (int, or None for the uncapped quadratic form) to opt in
quietly.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.pin import pin

DEFAULT_GRAM_DF = 1000


class _DefaultGramDf(int):
    """Marks a cap that came from the module default, not the caller."""


_DEFAULT_GRAM_DF = _DefaultGramDf(DEFAULT_GRAM_DF)


def _resolve_gram_cap(cap: int | None, fn_name: str) -> int | None:
    """Surface the bounded-recall default instead of applying it
    silently — the dedup tier's ``_resolve_bucket_cap`` convention."""
    if isinstance(cap, _DefaultGramDf):
        warnings.warn(
            f"{fn_name}: max_gram_df defaults to {int(cap)} (bounded recall: "
            "grams shared by more strings are dropped from candidate "
            "generation; reported Jaccards are still exact). Pass "
            "max_gram_df explicitly (int, or None for the uncapped "
            "quadratic form) to silence this warning.",
            stacklevel=3,
        )
        return int(cap)
    return cap


def _char_ngrams(text: Column, n: int) -> Column:
    """Distinct character n-grams; strings shorter than n fall back to
    one whole-string gram (mirrored in the SQL oracle)."""
    return F.when(
        F.length(text) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(text) - n + 1),
                lambda i: F.substring(text, i, F.lit(n)),
            )
        ),
    ).otherwise(F.array(text))


def fuzzy_string_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
    max_gram_df: int | None = _DEFAULT_GRAM_DF,
) -> DataFrame:
    """All id pairs whose strings' character-``ngram`` Jaccard meets
    ``threshold``; returns (id_a, id_b, name_jaccard) with id_a < id_b.

    The Jaccard is a ratio of integers (IEEE-exact, engine-identical),
    so the threshold compare is differential-safe; the reported value
    rounds to 6 per the registry convention. Callers resolving
    entities should first collapse exact duplicates (groupBy the
    string, min id) — matching distinct strings shrinks the join
    quadratically and is the realistic linkage shape.

    ``max_gram_df`` is the scale path for hot-gram skew, DEFAULT-ON at
    ``DEFAULT_GRAM_DF`` with a one-time warning (the dedup tier's cap
    convention): grams whose document frequency exceeds the cap are
    dropped from CANDIDATE GENERATION only (an "ing" shared by half
    the catalog contributes O(df^2) candidate rows and almost no
    signal), and the Jaccard is then recomputed EXACTLY per candidate
    via array_intersect over the full gram arrays — so reported values
    never change, only recall can: a pair sharing nothing but
    stop-grams is missed, and a true match at ``threshold`` shares
    ~threshold/(1+threshold) of its grams, so it survives unless ALL
    of those are hot. Pass None explicitly for the uncapped
    single-join exact form (where the match count IS the intersection
    size).
    """
    max_gram_df = _resolve_gram_cap(max_gram_df, "fuzzy_string_pairs")
    t = F.col(text_col)
    # pinned: the gram-array build is read by the size frame, the
    # exploded blocking relation and (capped branch) both verify sides
    base = pin(
        df.select(F.col(id_col).alias("id"), _char_ngrams(t, ngram).alias("__g"))
    )
    sz = base.select("id", F.size("__g").cast("long").alias("n_g"))
    # pinned: self-joined (and df-counted in the capped branch)
    g = pin(base.select("id", F.explode("__g").alias("gram")))
    if max_gram_df is None:
        pairs = (
            g.alias("a")
            .join(
                g.alias("b"),
                (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("__inter"))
        )
    else:
        rare = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_gram_df)
            .select("gram")
        )
        gr = g.join(rare, "gram")
        cand = (
            gr.alias("a")
            .join(
                gr.alias("b"),
                (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # pair-level exact verify over the FULL gram arrays — the
        # cap bounds candidate count, never the metric
        pairs = (
            cand.join(base.select(F.col("id").alias("id_a"), F.col("__g").alias("__ga")), "id_a")
            .join(base.select(F.col("id").alias("id_b"), F.col("__g").alias("__gb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__ga", "__gb")).cast("long").alias("__inter"),
            )
        )
    jac = F.col("__inter") / (
        F.col("__na") + F.col("__nb") - F.col("__inter")
    ).cast("double")
    # int/int rational: integer half-up round-6 (registry rule 3)
    j6 = F.expr(
        "CAST((2 * __inter * 1000000 + (__na + __nb - __inter)) "
        "DIV (2 * (__na + __nb - __inter)) AS DOUBLE)"
    ) / 1000000.0
    return (
        pairs.join(sz.select(F.col("id").alias("id_a"), F.col("n_g").alias("__na")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("n_g").alias("__nb")), "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", (j6 + 0.0).alias("name_jaccard"))
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
    ngram: int = 3,
    max_gram_df: int | None = _DEFAULT_GRAM_DF,
) -> DataFrame:
    """All id pairs within Levenshtein distance ``max_dist``, among
    candidates sharing at least one character ``ngram``; returns
    (id_a, id_b, edit_distance) with id_a < id_b.

    The typo-tolerant companion to :func:`fuzzy_string_pairs`: set
    Jaccard is order-blind ("cold rod" vs "rod cold" look identical),
    Levenshtein is the POSITIONAL metric record-linkage rules usually
    want for near-identical strings. Blocking is the same gram
    equi-join (with the tier's default-on ``max_gram_df`` stop-gram
    cap); two exact prunes run BEFORE the O(len^2) Levenshtein DP —
    ``abs(len_a - len_b) <= max_dist`` (the length gap lower-bounds
    the distance) — and the DP itself is JVM codegen
    (``F.levenshtein``), never Python. The distance is an integer, so
    parity with the SQL oracle is exact, no rounding machinery.

    Recall contract: a pair sharing NO (surviving) gram is never
    compared — at ``max_dist`` edits over strings of length L, at
    least L - ngram + 1 - ngram * max_dist grams are untouched, so
    true matches are missed only when the strings are shorter than
    ~``ngram * (max_dist + 1)`` or every shared gram is stop-listed.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    max_gram_df = _resolve_gram_cap(max_gram_df, "edit_distance_pairs")
    # pinned: read by the exploded blocking relation and both string
    # sides of the verify join
    base = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("__s"),
            _char_ngrams(F.col(text_col), ngram).alias("__g"),
        )
    )
    g = base.select("id", F.explode("__g").alias("gram"))
    if max_gram_df is not None:
        rare = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_gram_df)
            .select("gram")
        )
        g = g.join(rare, "gram")
    # pinned: the blocking self-join reads g twice (its lineage also
    # carries the df-count join in the capped branch)
    g = pin(g)
    cand = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    strs = base.select("id", "__s")
    return (
        cand.join(strs.select(F.col("id").alias("id_a"), F.col("__s").alias("__sa")), "id_a")
        .join(strs.select(F.col("id").alias("id_b"), F.col("__s").alias("__sb")), "id_b")
        # length-gap prune: |len_a - len_b| > k implies distance > k,
        # so the DP never runs on hopeless pairs
        .filter(
            F.abs(F.length("__sa") - F.length("__sb")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__sa", "__sb").cast("int").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_dist)
    )


def prefix_filtered_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int,
    t_den: int,
    ngram: int = 3,
) -> DataFrame:
    """All id pairs with character-``ngram`` Jaccard >= t_num/t_den,
    via LOSSLESS prefix filtering (SSJoin/PPJoin family: Chaudhuri et
    al. ICDE'06, Xiao et al. WWW'08) — same output as the uncapped
    :func:`fuzzy_string_pairs`, without its full-inverted-index join
    OR the stop-gram cap's recall trade.

    Principle: order every set's grams by one global total order
    (ascending document frequency, ties by gram — rarest first). If
    Jaccard(A, B) >= t then |A∩B| >= t/(1+t)·(|A|+|B|), so A and B
    must share a gram among the first ``|A| - ceil(t·|A|) + 1``
    (resp. B's prefix) grams of each: skipping a whole prefix would
    leave too few grams to meet the overlap bound. Only PREFIX grams
    enter the candidate join — for meaningful thresholds that is a
    small slice of each set, and because prefixes hold the RAREST
    grams, the join keys are exactly the ones with small df: the
    hot-gram quadratic blow-up prunes itself, losslessly.

    The threshold is a rational (t_num/t_den) so the prefix length
    ``n - ceil(t*n) + 1`` computes in integers on both engines —
    never a float ceil. Verification is the exact set Jaccard over
    full gram arrays; the reported value uses the rule-3 integer
    half-up micro form, same as fuzzy_string_pairs.

    Scale shape: one df-count shuffle (map-side partial), one per-id
    rank window (bounded by set size), a prefix-only equi-join, and
    the pair-level verify. Returns (id_a, id_b, name_jaccard).
    """
    if not (0 < t_num <= t_den):
        raise ValueError(f"need 0 < t_num <= t_den, got {t_num}/{t_den}")
    t = F.col(text_col)
    # pinned: read by the size frame, the exploded relation and both
    # verify sides
    base = pin(
        df.select(F.col(id_col).alias("id"), _char_ngrams(t, ngram).alias("__g"))
    )
    sz = base.select("id", F.size("__g").cast("long").alias("n_g"))
    # pinned: the df-count aggregate and the rank join both read it
    g = pin(base.select("id", F.explode("__g").alias("gram")))
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    ranked = g.join(dfreq, "gram").withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("__df"), F.asc("gram"))
        ),
    )
    # prefix length n - ceil(t*n) + 1, all-integer ceil
    prefix = (
        ranked.join(sz, "id")
        .filter(
            F.col("__rk")
            <= F.col("n_g")
            - F.expr(f"({t_num} * n_g + {t_den} - 1) DIV {t_den}")
            + 1
        )
        .select("id", "gram")
    )
    # pinned: the candidate join reads the prefix relation twice —
    # unpinned, the whole rank-window lineage executes per side
    prefix = pin(prefix)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pairs = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("__g").alias("__ga")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("__g").alias("__gb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ga", "__gb")).cast("long").alias("__inter"),
        )
        .join(sz.select(F.col("id").alias("id_a"), F.col("n_g").alias("__na")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("n_g").alias("__nb")), "id_b")
    )
    # integer threshold compare: inter/union >= t_num/t_den
    keep = (
        F.col("__inter") * t_den
        >= (F.col("__na") + F.col("__nb") - F.col("__inter")) * t_num
    )
    j6 = F.expr(
        "CAST((2 * __inter * 1000000 + (__na + __nb - __inter)) "
        "DIV (2 * (__na + __nb - __inter)) AS DOUBLE)"
    ) / 1000000.0
    return pairs.filter(keep).select("id_a", "id_b", (j6 + 0.0).alias("name_jaccard"))
