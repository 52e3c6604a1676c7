"""Corpus language-model scoring (perplexity-proxy quality tier).

CCNet-style curation ranks documents by the perplexity of a language
model over the corpus; the cheap, fully-distributed stand-in is the
corpus's own unigram distribution: a document whose tokens are
globally rare (or rare-in-corpus gibberish) scores a high
bits-per-token surprisal, boilerplate scores low, and the middle of
the distribution is the "natural text" band CCNet keeps.

Scale shape (100 TB): token counts are one linear shuffle on the word
key with map-side partial aggregation; the global token total is a
scalar broadcast; the per-document roll-up is a second linear shuffle
on the doc key. No pairwise joins, no Python — everything is codegen
expressions. The word-count join is a plain shuffle join (the vocab
of a web corpus is far too large to broadcast safely).

Engine parity: per-token surprisal is rounded to 6 decimals, then
summed through DECIMAL so the per-document total is exact and
independent of shuffle order (registry rule 1/2). The per-document
MEAN divides that exact total by the token count — and an exact
6-decimal sum over an integer count lands EXACTLY on a round-6
midpoint whenever micro_sum ≡ n/2 (mod n), where Spark (half-up on
the nearest double) and DuckDB disagree by one ulp (hit in practice:
two docs at sf0.1). So the mean's rounding runs in INTEGER space:
micro = sum x 10^6 as a long (exact through decimal), and
round-half-up(micro / n) = (2*micro + n) DIV (2*n) — pure integer
ops both engines evaluate identically; the result divides by 10^6 in
double (exact, six decimals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nt_data_pipelines_spark.operators.text import words
from nt_data_pipelines_spark.pin import pin


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bits_per_token",
) -> DataFrame:
    """Per-document mean unigram surprisal (bits/token) under the
    corpus's own unigram MLE distribution.

    surprisal(w) = -log2(count(w) / total_tokens); every observed
    token has count >= 1, so probabilities are never zero and no
    smoothing constant is needed. Documents with no tokens (empty
    text) return n_tokens = 0 and NULL bits_per_token.

    Returns (id, n_tokens, bits_per_token).
    """
    # pinned: the vocabulary count and the surprisal join both read
    # the exploded token relation
    toks = pin(
        df.select(F.col(id_col), F.explode(words(text_col)).alias("word")).filter(
            F.col("word") != ""
        )
    )
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("__cw"))
    total = counts.agg(F.sum("__cw").alias("__T"))
    surprisal = F.round(
        -F.log2(F.col("__cw").cast("double") / F.col("__T")), 6
    )
    per_doc = (
        toks.join(counts, "word")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), surprisal.alias("__s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                (F.col("__s").cast("decimal(28,6)") * 1000000).cast("long")
            ).alias("__micro"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            (
                F.expr(
                    "CAST((2 * __micro + n_tokens) DIV (2 * n_tokens) AS DOUBLE)"
                )
                / 1000000.0
            ).alias(out_col),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bigram_bits_per_token",
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own
    bigram MLE: p(w2|w1) = c(w1 w2) / c(w1 ·), with c(w1 ·) the count
    of w1 as a bigram PREFIX (proper conditional normalization).

    The context-sensitive sibling of :func:`unigram_logprob`: word
    salad built from common words fools a unigram model (every token
    is frequent) but scores high bigram surprisal because the
    TRANSITIONS are rare. Every document's bigrams exist in the corpus
    by construction, so probabilities never hit zero. Documents with
    fewer than two tokens return NULL. Scale shape: bigram counts and
    prefix counts are two linear shuffles on the gram/prefix keys; the
    per-doc roll-up is a third — no pairwise joins, no Python.
    """
    from nt_data_pipelines_spark.operators.text import _word_ngrams

    # pinned: gram counts, prefix counts and the surprisal join all
    # read the exploded bigram relation
    grams = pin(
        df.select(
            F.col(id_col), F.explode(_word_ngrams(text_col, 2)).alias("gram")
        ).withColumn("prefix", F.substring_index("gram", " ", 1))
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__cg"))
    prefix_counts = grams.groupBy("prefix").agg(F.count(F.lit(1)).alias("__cp"))
    surprisal = F.round(
        -F.log2(F.col("__cg").cast("double") / F.col("__cp")), 6
    )
    per_doc = (
        grams.join(counts, "gram")
        .join(prefix_counts, "prefix")
        .select(F.col(id_col), surprisal.alias("__s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                (F.col("__s").cast("decimal(28,6)") * 1000000).cast("long")
            ).alias("__micro"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            (
                F.expr(
                    "CAST((2 * __micro + n_bigrams) DIV (2 * n_bigrams) AS DOUBLE)"
                )
                / 1000000.0
            ).alias(out_col),
        )
    )


def perplexity_band_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lo_quantile: float = 0.1,
    hi_quantile: float = 0.9,
) -> DataFrame:
    """Keep documents inside the central surprisal band (CCNet's
    "head/middle/tail" cut, keeping the middle).

    The band bounds are EXACT quantiles of the per-document
    bits-per-token distribution, computed with percentile on the tiny
    per-doc score table and broadcast back — the corpus itself never
    shuffles a second time. Zero-token documents are dropped (no
    signal to rank them by).
    """
    if not 0.0 <= lo_quantile < hi_quantile <= 1.0:
        raise ValueError("need 0 <= lo_quantile < hi_quantile <= 1")
    # pinned: the quantile aggregate and the band filter both read the
    # scored relation — unpinned, the whole unigram pipeline runs twice
    scored = pin(
        unigram_logprob(df, id_col, text_col).filter(F.col("n_tokens") > 0)
    )
    bounds = scored.agg(
        F.percentile("bits_per_token", lo_quantile).alias("__lo"),
        F.percentile("bits_per_token", hi_quantile).alias("__hi"),
    )
    kept = (
        scored.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("bits_per_token") >= F.col("__lo"))
            & (F.col("bits_per_token") <= F.col("__hi"))
        )
        .select(id_col, "n_tokens", "bits_per_token")
    )
    return df.join(kept, id_col).select(
        *[F.col(c) for c in df.columns], "bits_per_token"
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information.

    The classic collocation extractor (Church & Hanks 1990): over the
    corpus's adjacent word pairs, PMI(x, y) = log2(p(x,y) / (p(x)p(y)))
    with the marginals taken over the SAME pair population — p(x,.) is
    x's count as a pair LEFT, p(.,y) is y's count as a pair RIGHT, and
    N is the total pair count, so the three distributions share one
    sample space and PMI is exactly zero under independence. Pairs
    below ``min_count`` are dropped first (rare-pair PMI is noise —
    a pair seen once between two hapaxes maxes the score).

    Scale shape: one pair-count shuffle, two marginal-count shuffles
    (left word, right word), a join back on bounded keys, then a
    global top-k via TakeOrdered (no full sort). The pair-count filter
    runs BEFORE the marginal joins, so the join input is the heavy
    tail only.

    Engine parity: the ranking score N * c_xy / (c_left * c_right) is
    computed double-first in one fixed operation order — every step is
    a correctly-rounded IEEE op on identical operands, so even its
    rounded value is bit-identical across engines and the (score desc,
    pair asc) order is total and stable. The reported PMI rounds
    log2(score) to 6 decimals (registry rule 2; a round-6 midpoint
    needs log2 of a double to be a .5-ending rational — log2 of a
    rational is integer or irrational, so unreachable except at exact
    integers, which both engines print exactly).
    """
    from nt_data_pipelines_spark.operators.text import _word_ngrams

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    # pinned: four aggregates (pairs, both marginals, total) read the
    # exploded pair relation
    grams = pin(
        df.select(F.explode(_word_ngrams(text_col, 2)).alias("gram")).select(
            F.substring_index("gram", " ", 1).alias("w1"),
            F.substring_index("gram", " ", -1).alias("w2"),
        )
    )
    pairs = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    left = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("__cl"))
    right = grams.groupBy("w2").agg(F.count(F.lit(1)).alias("__cr"))
    n_pairs = grams.groupBy().count().withColumnRenamed("count", "__n")
    scored = (
        pairs.filter(F.col("pair_count") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n_pairs))
        .withColumn(
            "__score",
            (F.col("pair_count").cast("double") * F.col("__n"))
            / (F.col("__cl").cast("double") * F.col("__cr")),
        )
    )
    return (
        scored.select(
            "w1",
            "w2",
            "pair_count",
            F.round(F.log2("__score"), 6).alias("pmi"),
            "__score",
        )
        .orderBy(F.desc("__score"), F.asc("w1"), F.asc("w2"))
        .limit(k)
        .drop("__score")
    )
