"""Text-analysis operators for training-data pipelines.

Not part of the reference (a market-data system), but first-class
capabilities of this engine for large-scale corpus work: language ID,
quality scoring, token counting, and document fingerprinting — all
expressed with built-in JVM-side functions (no Python UDFs), so they
whole-stage-codegen and scale linearly with the corpus.

Determinism notes: hashes are md5 (identical in any engine), word
splitting is single-space (the testdata convention; swap the
delimiter regex for real corpora).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nt_data_pipelines_spark.pin import pin

# Tiny public stopword lexicons (top function words per language).
STOPWORD_LEXICON: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"],
    "fr": ["le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "une"],
    "zh": ["的", "一", "是", "不", "了", "人", "我", "在", "有", "他"],
}

# A BPE-ish tokenizer regex: alphabetic runs, digit runs, single
# non-alphanumeric marks. Compatible across Java regex and RE2.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / marks)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0))


def normalize_text(text: Column | str) -> Column:
    """Cleaning normalization: lowercase, strip non-alphanumerics to
    spaces, squeeze runs of whitespace, trim. The canonical form fed
    to exact dedup so case/punctuation variants collapse."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append length / word / character-class quality features.

    All built-in expressions — one codegen stage over the corpus scan.
    """
    t = F.col(text_col)
    ws = words(t)
    n_chars = F.length(t)
    n_words = F.size(ws)
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(t, "[^0-9]", ""))
    n_space = F.length(F.regexp_replace(t, "[^ ]", ""))
    stop_hits = F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in STOPWORD_LEXICON["en"]])))
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        F.try_divide(n_chars.cast("double"), n_words).alias("q_avg_word_len"),
        F.try_divide(n_alpha.cast("double"), n_chars).alias("q_alpha_ratio"),
        F.try_divide(n_digit.cast("double"), n_chars).alias("q_digit_ratio"),
        F.try_divide(n_space.cast("double"), n_chars).alias("q_space_ratio"),
        F.try_divide(stop_hits.cast("double"), n_words).alias("q_en_stopword_distinct_ratio"),
        token_count(t).alias("q_tokens"),
    )


def language_scores(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Long-format (id, lang, hits): stopword-lexicon hit counts.

    The lexicon is a literal-backed DataFrame (broadcast join against
    the exploded corpus) — the idiomatic shape for dictionary lookups
    at scale.
    """
    spark = df.sparkSession
    lex = spark.createDataFrame(
        [(lang, w) for lang, ws in STOPWORD_LEXICON.items() for w in ws], ["lang", "word"]
    )
    exploded = df.select(id_col, F.explode(words(text_col)).alias("word"))
    return (
        exploded.join(F.broadcast(lex), "word")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def language_pred_cols(text_col: str = "text") -> tuple[Column, Column]:
    """(pred_lang, lex_hits) as pure per-row codegen Columns.

    Same contract as :func:`language_id` — per-OCCURRENCE stopword hit
    counts, argmax over languages with ties broken on ascending lang
    name, ``('und', 0)`` when no lexicon word occurs — but computed
    with array expressions over the word split instead of an explode +
    broadcast join + two shuffles + join-back. The struct array_min
    implements the (hits DESC, lang ASC) ranking: minimizing
    (-hits, lang) field-by-field is exactly that order. Exposed so
    compositions (the curate quality gate) can fuse the language
    column into an existing projection with NO extra scan or join."""
    ws_raw = words(text_col)
    # null text: explode emitted no rows -> ('und', 0); an empty array
    # reproduces that through the zero-hits guard below
    ws = F.coalesce(ws_raw, F.array().cast("array<string>"))
    entries = []
    for lang in sorted(STOPWORD_LEXICON):
        lex = F.array(*[F.lit(w) for w in STOPWORD_LEXICON[lang]])
        hits = F.size(F.filter(ws, lambda w: F.array_contains(lex, w)))
        entries.append(
            F.struct(
                (-hits).alias("nh"), F.lit(lang).alias("lang"), hits.alias("h")
            )
        )
    best = F.array_min(F.array(*entries))
    pred = F.when(best["h"] >= 1, best["lang"]).otherwise(F.lit("und"))
    lex_hits = (
        F.when(best["h"] >= 1, best["h"]).otherwise(F.lit(0)).cast("long")
    )
    return pred, lex_hits


def language_id(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Argmax language per document; deterministic tie-break on lang name.

    One codegen projection (see :func:`language_pred_cols`) — the old
    exploded-join form shuffled the corpus's word explosion twice and
    joined back per doc; result is identical (parity-checked against
    the exploded SQL oracle)."""
    pred, lex_hits = language_pred_cols(text_col)
    return df.select(
        F.col(id_col), pred.alias("pred_lang"), lex_hits.alias("lex_hits")
    )


def bigram_fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint: min md5 over word bigrams.

    A winnowing-lite fingerprint — robust to word appends/prepends,
    cheap to compare (string equality). Documents shorter than two
    words fall back to the md5 of the whole text.
    """
    ws = words(text_col)
    # Guard: sequence(0, -1) would produce a *descending* range for
    # single-word docs; gate on size >= 2 and fall back to md5(text).
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.md5(F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2))),
        ),
    )
    fp = F.array_min(bigrams)
    return df.select(
        id_col, F.coalesce(fp, F.md5(F.col(text_col))).alias("fingerprint")
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition features per document.

    Quality-filtering signals from "Scaling Language Models" (Rae et
    al. 2021, §A1.1 repetition filters), computed relationally:

    - ``dup_word_ratio``: fraction of word occurrences that are
      repeats (1 - distinct/total),
    - ``top_word_ratio``: frequency share of the single most common
      word,
    - ``dup_bigram_ratio``: same as dup_word_ratio over word bigrams.

    Array expressions handle the per-row set sizes (no shuffle); the
    top-word count is the wordcount shape — explode + two-level agg,
    linear with map-side partial aggregation. High values mark
    boilerplate/spam for corpus filtering.
    """
    ws = words(text_col)
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).alias("__dw"),
        F.size(bigrams).alias("__tb"),
        F.size(F.array_distinct(bigrams)).alias("__db"),
    )
    top = (
        df.select(id_col, F.explode(ws).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("top_word_count"))
    )
    # int/int rationals: round-6 in integer half-up form (registry
    # rule 3 — ROUND of a rational can land on an exact midpoint
    # where the engines split by one ulp)
    def ratio6(num: str, den: str) -> Column:
        return (
            F.expr(f"CAST((2 * ({num}) * 1000000 + ({den})) DIV (2 * ({den})) AS DOUBLE)")
            / 1000000.0
            + 0.0
        )

    return base.join(top, id_col).select(
        id_col,
        "n_words",
        ratio6("n_words - __dw", "n_words").alias("dup_word_ratio"),
        ratio6("top_word_count", "n_words").alias("top_word_ratio"),
        (
            F.when(F.col("__tb") > 0, ratio6("__tb - __db", "__tb")) + 0.0
        ).alias("dup_bigram_ratio"),
    )



def md5_bucket(id_col: str, modulus: int):
    """Deterministic uniform bucket in [0, modulus): the first EIGHT
    md5 hex digits of the id, mod ``modulus``. Eight digits (32 bits),
    not four: 65536 % 10000 != 0, so a 16-bit source gives buckets
    0..5535 a 7/6 higher mass — up to a 3.4-point skew between
    nominally-equal splits; at 32 bits the residual bias is < 1e-5.
    Reproducible in any engine with md5 — the SQL twin is
    ``CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS
    BIGINT) % modulus``. Pure codegen, no shuffle.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(modulus),
    )

def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling that is REPRODUCIBLE across engines/runs.

    ``Bernoulli(p)`` via content hashing, not RNG: a row survives iff
    ``md5(id) mod 10000 < p * 10000``. Any engine computing the same
    md5 keeps the same rows — resumable backfills and train/eval
    splits stay stable under retries, repartitioning, and engine
    swaps (unlike ``df.sampleBy``, whose seed is partition-dependent).
    Pure codegen expression; no shuffle.
    """
    bucket = md5_bucket(id_col, 10000)
    frac = F.lit(default_fraction)
    for value, p in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(p)).otherwise(frac)
    return df.filter(bucket < frac * 10000)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    capacity: int = 512,
    num_shards: int = 64,
) -> DataFrame:
    """Greedy contiguous sequence packing for training batches.

    Documents are tokenized (``token_count``), sharded by hash, and
    packed within each shard by cumulative token count in ``id_col``
    order: a document whose running offset crosses a ``capacity``
    boundary starts that bin. Output: (id, shard, n_tokens, bin_id).

    One window per shard — the cumsum never needs a global order, so
    the plan is a single hash shuffle on shard followed by an
    in-partition sort: embarrassingly parallel at corpus scale, and
    deterministic (hash shard + id order), so re-runs pack
    identically. Documents longer than ``capacity`` still get a bin
    (they span several capacities; downstream splits them).
    """
    from pyspark.sql import Window

    shard = md5_bucket(id_col, num_shards)
    toks = df.select(
        F.col(id_col),
        shard.alias("shard"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / capacity).alias("bin_id"),
    )


# PII scrub patterns — conservative, identical semantics in Java
# regex and RE2 (no lookaround, no backrefs).
PII_EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_LONG_DIGITS_REGEX = "[0-9][0-9 -]{6,}[0-9]"


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Redact emails and long digit runs (phone/account numbers).

    Order matters: emails first (their local part may contain digits),
    then 8+-char digit/space/dash runs. Pure codegen regexp_replace —
    linear scan, no Python.
    """
    out_col = out_col or text_col
    t = F.col(text_col)
    scrubbed = F.regexp_replace(t, PII_EMAIL_REGEX, "[EMAIL]")
    scrubbed = F.regexp_replace(scrubbed, PII_LONG_DIGITS_REGEX, "[NUMBER]")
    return df.withColumn(out_col, scrubbed)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    max_rows: int,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group, chosen deterministically.

    The per-domain cap every web-corpus recipe applies (a handful of
    boilerplate-heavy hosts would otherwise dominate the token
    budget): rows rank by md5(id) within their group, so the kept
    subset is a uniform-ish, engine/retry/repartition-stable sample —
    no RNG state, identical on every run.

    Scale shape: the rank is TWO-PHASE (the zipf_slope /
    o3_topk_dates bounded-key pattern). A straight
    ``row_number().over(partitionBy(group))`` puts an entire group in
    one window task — at web scale a single host can be a billion
    rows, and AQE cannot split a skewed window partition. Phase 1
    ranks per (group, input partition) and prunes to ``max_rows``
    rows — every global top-``max_rows`` row is top-``max_rows``
    within its own partition, so the prune loses nothing — and phase
    2 ranks the survivors, so the group-keyed window sees at most
    ``max_rows * input-partitions`` rows per group. Groups at or
    under the cap pass through whole.
    """
    if max_rows < 1:
        raise ValueError("max_rows must be >= 1")
    pri = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    wl = Window.partitionBy("__pid", group_col).orderBy(*pri)
    pre = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrn", F.row_number().over(wl))
        .filter(F.col("__lrn") <= max_rows)
        .drop("__lrn", "__pid")
    )
    w = Window.partitionBy(group_col).orderBy(*pri)
    return (
        pre.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__rn")
    )


def pseudonymize(
    df: DataFrame,
    cols: str | list[str],
    salt: str,
    length: int = 16,
) -> DataFrame:
    """Replace identifier columns with salted, consistent pseudonyms.

    The de-identification companion to :func:`scrub_pii`: scrubbing
    destroys linkage, pseudonymization PRESERVES it — the same
    (salt, id) always maps to the same token, so joins and
    per-entity analytics still work across tables and runs, while the
    raw identifier never leaves the cluster. sha2-256 truncated to
    ``length`` hex chars; the salt is the secret — without it the
    mapping is preimage-resistant, with it an authorized party can
    recompute (not reverse) the mapping. Pure codegen, no shuffle.
    NULL ids stay NULL (a hashed NULL would fabricate an entity).
    """
    if not salt:
        raise ValueError("salt must be non-empty — unsalted hashes are re-identifiable")
    if length < 8 or length > 64:
        raise ValueError("length must be in [8, 64] hex chars")
    out = df
    for c in [cols] if isinstance(cols, str) else list(cols):
        # hash the salt FIRST: concat(salt, ':', id) is ambiguous when
        # a salt contains ':' (salt 'a:b' + id 'c' == salt 'a' + id
        # 'b:c'), which would let one salt universe forge another's
        # tokens; sha2(salt) is fixed-width, so the encoding is unique
        token = F.substring(
            F.sha2(
                F.concat(
                    F.sha2(F.lit(salt), 256), F.lit(":"), F.col(c).cast("string")
                ),
                256,
            ),
            1, length,
        )
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), token))
    return out


def gram_key(gram: Column | str) -> Column:
    """60-bit integer shuffle key for an n-gram string.

    The corpus-wide gram-frequency shuffles (duplicated_ngram_fraction,
    remove_duplicate_spans) hash their n-gram to a fixed-width BIGINT —
    first 15 md5 hex chars, base-16 — instead of shuffling the raw
    ~50-byte 8-word string: ~6x fewer key bytes on the dominant
    exchange, and long comparisons instead of string ones in the
    aggregate. md5 keeps the key engine-reproducible (DuckDB mirror:
    ``CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)``). 60-bit
    collisions conflate two grams' counts — immaterial for a
    repetition *signal*, and for span removal a false extra removal
    needs a colliding gram pair inside one corpus at rate n_grams^2 /
    2^61.
    """
    g = F.col(gram) if isinstance(gram, str) else gram
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def _word_ngrams(text_col: str, n: int):
    """Array of word n-grams (space-joined); empty for short docs."""
    ws = words(text_col)
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing word
    n-grams with a benchmark corpus.

    The standard contamination check (GPT-3 appendix C / PaLM-class
    n-gram overlap): a training document whose n-grams overlap a held-
    out benchmark is leakage and must be dropped before training.
    Output per corpus doc: distinct n-gram count, how many also occur
    anywhere in the benchmark, and the overlap ratio.

    Scale shape: both sides explode to DISTINCT n-grams; the join key
    is the gram, so the shuffle is gram-bucketed (never doc x doc).
    Benchmarks are small by nature — Spark/AQE broadcasts that side,
    making the probe map-side.
    """
    grams = _word_ngrams(text_col, n)
    # one gram-array pass over the corpus, pinned: the probe join and
    # the per-doc totals both read it — unpinned, the n-gram build
    # (regex/split + concat per position) runs twice over the corpus
    garr = pin(
        corpus.select(F.col(id_col), F.array_distinct(grams).alias("__g"))
    )
    corpus_grams = garr.select(F.col(id_col), F.explode("__g").alias("gram"))
    bench_grams = benchmark.select(F.explode(grams).alias("gram")).distinct()
    totals = garr.select(
        F.col(id_col), F.size("__g").cast("long").alias("n_grams")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return _contamination_result(totals, hits, id_col)


def _contamination_result(totals: DataFrame, hits: DataFrame, id_col: str) -> DataFrame:
    """(doc, n_grams) x (doc, n_contaminated) -> the contamination report.

    overlap_ratio is an int/int rational, so its round-6 runs in
    integer half-up form (registry rule 3 — ROUND of a rational can
    land on an exact midpoint where the engines split by one ulp).
    """
    ratio = F.expr(
        "CAST((2 * n_contaminated * 1000000 + n_grams) "
        "DIV (2 * n_grams) AS DOUBLE)"
    ) / 1000000.0
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_grams",
            "n_contaminated",
            (F.when(F.col("n_grams") > 0, ratio) + 0.0).alias("overlap_ratio"),
        )
    )


def _bloom_bit_positions(gram: Column, num_bits: int, num_hashes: int, h) -> Column:
    """Bit position of hash ``h`` (a Column or int) for one gram:
    pmod(xxhash64(gram # h), m). Build and probe share this so the
    two sides cannot drift."""
    hc = F.lit(str(h)) if isinstance(h, int) else h.cast("string")
    return F.pmod(F.xxhash64(F.concat_ws("#", gram, hc)), F.lit(num_bits))


def bloom_bitset(
    df: DataFrame, gram_col: str, num_bits: int, num_hashes: int
) -> bytes:
    """Bloom filter over a gram column as driver-held ``bytes``
    (``num_bits / 8`` long, byte i holds bits 8i..8i+7). The bitset
    aggregates DISTRIBUTEDLY (explode hash seeds -> per-byte bit_or),
    so the collect is bounded by num_bits/8 bytes regardless of how
    many grams went in — never by the input's row count. Bytes — not
    an array<long> — because the probe side ships the bitset as ONE
    BinaryType literal: a list literal of the same size costs a py4j
    round-trip per element (measured ~60 s for 131k longs) and a
    131k-node expression tree."""
    nbytes = (num_bits + 7) // 8
    pos = _bloom_bit_positions(F.col(gram_col), num_bits, num_hashes, F.col("__h"))
    rows = (
        df.select(
            F.col(gram_col),
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("__h"),
        )
        .select(
            F.shiftright(pos, 3).cast("int").alias("__byte"),
            F.call_function(
                "shiftleft", F.lit(1), F.pmod(pos, F.lit(8)).cast("int")
            ).alias("__b"),
        )
        .groupBy("__byte")
        .agg(F.bit_or("__b").alias("__bits"))
        .collect()
    )
    buf = bytearray(nbytes)
    for r in rows:
        buf[r["__byte"]] = r["__bits"]
    return bytes(buf)


def bloom_might_contain(
    bits: bytes, gram: Column, num_bits: int, num_hashes: int
) -> Column:
    """Codegen membership probe against a :func:`bloom_bitset`: the
    bitset rides along as a single binary literal; each of the
    num_hashes probes reads its byte via substring + hex decode, then
    shift + mask — no UDF, no join. (b >> k) & 1 reads bit k correctly
    under Spark's arithmetic shift: sign extension only touches bits
    above k."""
    bf = F.lit(bits)
    cond = F.lit(True)
    for h in range(num_hashes):
        p = _bloom_bit_positions(gram, num_bits, num_hashes, h)
        byte = F.conv(
            F.hex(F.substring(bf, F.shiftright(p, 3).cast("int") + 1, F.lit(1))),
            16,
            10,
        ).cast("int")
        cond = cond & (
            F.call_function(
                "shiftright", byte, F.pmod(p, F.lit(8)).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
    return cond


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_bits: int | None = None,
    num_hashes: int = 4,
) -> DataFrame:
    """:func:`benchmark_contamination` with a Bloom prefilter — the
    SAME exact result (gram-identical output), built for benchmarks
    too large to broadcast.

    The plain check broadcasts the benchmark's gram set, which works
    while that set fits in every executor (a single eval set). A full
    eval-SUITE union can reach 10^8+ distinct grams — too big to
    broadcast, so the exact join degenerates into shuffling the
    corpus's entire gram explosion (trillions of rows at 100 TB)
    against it. Here the benchmark side instead collapses into a
    fixed-size Bloom bitset that prefilters corpus grams MAP-SIDE —
    Bloom filters have no false negatives, so every truly contaminated
    gram survives, and the exact verify join afterwards discards the
    false positives. Only hits + FP noise ever shuffle; the verify
    join is left to AQE (no forced broadcast) because this variant
    exists precisely for the non-broadcastable benchmark.

    Sizing: the default is 16 bits/gram (FPR ~0.2% at 4 hashes),
    CAPPED at 16M bits (a 2 MB literal — the bitset ships inside the
    task binary, so an unbounded literal would tax every task launch).
    Above ~1M benchmark grams the capped default dilutes; below ~4
    bits/gram the filter is saturated and the prefilter stops pruning
    (results stay exact — the verify join carries correctness), so
    that condition WARNS: pass a larger explicit ``num_bits``, ship
    the bitset some other way, or fall back to the shuffle join.

    (Spark's own ``bloom_filter_agg``/``might_contain`` are internal
    to the runtime-filter rule, not registered SQL functions, so the
    bitset is built from public primitives: xxhash64 positions,
    per-byte bit_or, a single binary-literal probe — all
    codegen, no UDF. Sizing + building runs actions over the
    BENCHMARK side only, never the corpus; the gram set is pinned
    once (localCheckpoint) and reused by the sizing count, the bitset
    build, and the verify join.)

    Exactness is by construction, so the differential oracle is the
    same SQL as the plain check's.
    """
    import warnings

    grams = _word_ngrams(text_col, n)
    # one gram-array pass over the corpus, pinned (see
    # benchmark_contamination — probe + totals share it)
    garr = pin(
        corpus.select(F.col(id_col), F.array_distinct(grams).alias("__g"))
    )
    corpus_grams = garr.select(F.col(id_col), F.explode("__g").alias("gram"))
    # pinned once: the benchmark gram explosion feeds THREE consumers
    # (sizing count, bitset build, verify join) — unpinned, each would
    # re-run the scan + explode + distinct
    bench_grams = (
        benchmark.select(F.explode(grams).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    totals = garr.select(
        F.col(id_col), F.size("__g").cast("long").alias("n_grams")
    )
    n_bench = bench_grams.count()
    if num_bits is None:
        num_bits = min(max(1024, 16 * n_bench), 16 * 1024 * 1024)
    if num_bits <= 0:
        raise ValueError("num_bits must be positive")
    if n_bench > 0 and num_bits < 4 * n_bench:
        warnings.warn(
            f"bloom_contamination: {num_bits} bits for {n_bench} benchmark "
            f"grams ({num_bits / n_bench:.1f} bits/gram) saturates the "
            "filter — the prefilter passes most corpus grams and the "
            "verify join degenerates toward the full shuffle (results "
            "stay exact). Pass a larger num_bits or use "
            "benchmark_contamination.",
            stacklevel=2,
        )
    bits = bloom_bitset(bench_grams, "gram", num_bits, num_hashes)
    if not any(bits):  # empty benchmark: nothing can be contaminated
        hits = totals.select(id_col).limit(0).withColumn(
            "n_contaminated", F.lit(0).cast("long")
        )
        return _contamination_result(totals, hits, id_col)
    candidates = corpus_grams.where(
        bloom_might_contain(bits, F.col("gram"), num_bits, num_hashes)
    )
    hits = (
        candidates.join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return _contamination_result(totals, hits, id_col)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = in-doc count / doc word count; idf = ln(N / df). Ranking is
    by the ROUND-6 tf-idf score (word tie-break) — ranking on an
    integer proxy like (count desc, df asc) is NOT equivalent across
    terms with different df (a stopword with df = N has tf-idf exactly
    0 yet the highest count); rounding to 6 decimals is the same
    cross-engine determinism rule every other scored ranking in the
    registry uses.

    Scale: two shuffles — (doc, word) count, then word df — both on
    high-cardinality keys with map-side partial aggregation; N is a
    scalar broadcast.  The final top-k window partitions by doc.
    """
    n_docs = df.count()
    exploded = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("word")
    )
    # pinned: doc lengths, document frequencies and the score join all
    # read the per-(doc, word) count relation
    wc = pin(exploded.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("c")))
    doc_len = wc.groupBy(id_col).agg(F.sum("c").alias("n_words"))
    dfreq = wc.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    tfidf6 = (
        F.round(
            F.col("c") / F.col("n_words") * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        )
        + 0.0
    )
    rank_w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )
    return (
        wc.join(dfreq, "word")
        .join(doc_len, id_col)
        .withColumn("tfidf", tfidf6)
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "word",
            "rank",
            F.col("c").alias("term_count"),
            F.col("df").alias("doc_freq"),
            "tfidf",
        )
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    posting_cap: int = 20,
) -> DataFrame:
    """Word -> (doc frequency, capped sorted posting list).

    The posting list is ``sort_array(collect_set(...))`` truncated to
    ``posting_cap`` ids — deterministic regardless of shuffle order.
    Scale: one shuffle on the word key; collect_set is bounded per
    word only by df, so genuinely building a full-corpus index would
    swap the capped list for an exploded (word, doc) postings TABLE —
    this operator is the summary/lookup tier.
    """
    exploded = df.select(
        F.col(id_col), F.explode(F.array_distinct(words(text_col))).alias("word")
    )
    return (
        exploded.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.sort_array(F.collect_set(id_col)), 1, posting_cap).alias(
                "postings"
            ),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping word chunks for training.

    Chunks start every ``chunk_size - overlap`` words; the final chunk
    is clipped.  Emits (id, chunk_start, n_chunk_words, chunk_text) —
    chunk_start doubles as the stable in-doc chunk key, so no
    ordinality pass is needed.  Scale: pure per-row array expressions
    plus one explode — no shuffle at all; fan-out is bounded by
    doc length / step.

    Start generation stops at ``len - overlap - 1``: a tail start at
    or past ``len - overlap`` yields a chunk fully CONTAINED in its
    predecessor (the previous chunk already reached the end), which
    would ship duplicated training text beyond the intended overlap.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    ws = words(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(ws) - overlap - 1, F.lit(0)), F.lit(step)
    )
    return (
        df.select(F.col(id_col), ws.alias("__ws"), F.explode(starts).alias("chunk_start"))
        .withColumn("__ws", F.slice("__ws", F.col("chunk_start") + 1, chunk_size))
        .select(
            id_col,
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size("__ws").cast("long").alias("n_chunk_words"),
            F.array_join("__ws", " ").alias("chunk_text"),
        )
    )


def mix_sources_to_budget(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_budget_per_source: int,
    text_col: str = "text",
) -> DataFrame:
    """Down-sample each source to roughly a per-source token budget.

    Data-mixing tier: sources over budget keep a deterministic
    md5-bucketed fraction of documents (rate = budget / source total);
    sources under budget pass through whole.  Content hashing makes
    the sample identical across engines, retries and repartitioning.
    Scale: per-source totals are a tiny aggregate broadcast back onto
    the corpus — the corpus itself never shuffles.
    """
    toks = df.withColumn("__t", token_count(text_col).cast("long"))
    totals = toks.groupBy(source_col).agg(F.sum("__t").alias("__total"))
    rate = F.least(
        F.lit(1.0), F.lit(float(token_budget_per_source)) / F.col("__total")
    )
    bucket = md5_bucket(id_col, 10000)
    # explicit FLOOR: Spark's double->int cast truncates but DuckDB's
    # rounds, so the threshold must be floored before comparing
    return (
        toks.join(F.broadcast(totals), source_col)
        .filter(bucket < F.floor(rate * 10000))
        .drop("__total")
        .withColumnRenamed("__t", "n_tokens")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document scores for a fixed query-term set.

    Lucene-style idf = ln((N - df + 0.5)/(df + 0.5) + 1).  Per-term
    scores are rounded to 6 decimals and summed through DECIMAL so the
    document total is exact and shuffle-order-independent (float
    addition is non-associative; a plain double SUM over the matched
    terms could differ between engines).

    Scale: one (doc, term) count shuffle over terms pre-filtered to
    the query set (the explode never materializes non-query words),
    the tiny per-term df and the global (N, total-length) scalars are
    broadcast back; final per-doc sum shuffles matched rows only.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    ws = words(text_col)
    # pinned: the corpus scalars and the term-frequency explode both
    # read the tokenized relation
    docs = pin(
        df.select(F.col(id_col), ws.alias("__ws")).withColumn(
            "dl", F.size("__ws").cast("long")
        )
    )
    g = docs.agg(
        F.count(F.lit(1)).alias("N"), F.sum("dl").alias("S")
    )
    tf = (
        docs.select(id_col, "dl", F.explode("__ws").alias("word"))
        .filter(F.col("word").isin(query_terms))
        .groupBy(id_col, "dl", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # pinned: the per-term df aggregate and the score join both read tf
    tf = pin(tf)
    dft = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dft"))
    avgdl = F.col("S").cast("double") / F.col("N")
    idf = F.log((F.col("N") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1)
    denom = F.col("tf") + k1 * (1 - b + (F.lit(b) * F.col("dl")) / avgdl)
    score = F.round(idf * F.col("tf") * (k1 + 1) / denom, 6)
    return (
        tf.join(F.broadcast(dft), "word")
        .crossJoin(F.broadcast(g))
        .select(id_col, score.alias("__sc"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.sum(F.col("__sc").cast("decimal(18,6)")).cast("double").alias("bm25"),
        )
    )


def duplicated_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    out_col: str = "dup_ngram_frac",
) -> DataFrame:
    """Per-doc fraction of word n-grams shared with ANY other document.

    The exact-substring-dedup signal (RefinedWeb/FineWeb-style line
    and span dedup, adapted to word shingles): documents whose content
    largely re-occurs elsewhere score near 1 and get dropped or
    trimmed by curation. Scale shape: shingles are distinct within a
    doc before the explode, the doc-frequency aggregate shuffles on
    the GRAM key (map-side partial count), and the per-doc roll-up
    shuffles on the doc key — two linear shuffles, never a pairwise
    join. Short docs (< n words) have no shingles and score 0.
    """
    # hash each gram to a fixed-width long BEFORE the distinct and the
    # corpus-wide frequency shuffle (see gram_key: ~6x fewer key bytes).
    # Pinned: the frequency aggregate and the per-doc roll-up join both
    # read this relation — unpinned, the n-gram build runs twice.
    grams = pin(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.transform(_word_ngrams(text_col, n), lambda g: gram_key(g))
                )
            ).alias("gram"),
        )
    )
    # grams are per-doc distinct, so COUNT(*) per gram == doc frequency
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    per_doc = (
        grams.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") > 1, 1).otherwise(0)).alias("__dup"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("__dup") / F.col("n_grams"), F.lit(0.0)).alias(out_col),
        )
    )


def novelty_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    out_col: str = "novel_frac",
) -> DataFrame:
    """Per-doc marginal novelty: the fraction of its distinct word
    n-grams whose corpus-wide FIRST occurrence (minimum ``id_col``) is
    this document.

    The order-aware complement of :func:`duplicated_ngram_fraction`:
    where dup_ngram_frac says "this content exists elsewhere", novelty
    says "this document is where the corpus first saw it". Under an
    ingestion-ordered id (crawl snapshots, feed batches) this is the
    curation signal for diminishing returns — later recrawls of a
    mostly-static site trend toward 0, and ranking sources by novel
    gram mass decides which feed is still worth ingesting (the
    sum-of-novelty view is exactly D4-style "new data added" per
    slice).

    Scale shape is dup_ngram_fraction's, with min-id in place of the
    doc-frequency count: grams hash to 60-bit keys and dedup within
    the doc BEFORE the explode, the first-seen aggregate shuffles on
    the gram key (map-side partial MIN), the roll-up shuffles on the
    doc key — two linear shuffles, no pairwise join. Short docs
    (< n words) have no grams and score 0.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(_word_ngrams(text_col, n), lambda g: gram_key(g))
            )
        ).alias("gram"),
    )
    first_seen = grams.groupBy("gram").agg(F.min(id_col).alias("__first"))
    per_doc = (
        grams.join(first_seen, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            ).alias("__novel"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("__novel").cast("long"), F.lit(0)).alias("n_novel_grams"),
            F.coalesce(F.col("__novel") / F.col("n_grams"), F.lit(0.0)).alias(out_col),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_doc_frac: float = 0.3,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style boilerplate removal: drop lines shared by too many docs.

    Navigation menus, cookie banners, and footer chrome repeat across
    a large fraction of a web crawl; a line whose document frequency
    exceeds ``max_doc_frac`` of the corpus (and at least ``min_docs``
    docs, so tiny corpora don't nuke everything) is removed from every
    document. Docs whose every line is boilerplate drop out entirely —
    they carried no original content.

    Output: (id, clean text) with surviving lines rejoined in their
    original order.

    Scale shape: posexplode -> line document-frequency (one shuffle on
    the line) -> anti-join lines against the boilerplate set (same
    key, same shuffle partitioning) -> per-doc reassembly (one shuffle
    on the doc id). The corpus-size scalar broadcasts; nothing is
    pairwise, and the boilerplate line set is tiny by construction
    (only lines repeating across >max_doc_frac of all docs).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    )
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    line_df = lines.groupBy("__line").agg(
        F.count_distinct(id_col).alias("__docfreq")
    )
    boiler = line_df.crossJoin(F.broadcast(n_docs)).filter(
        (F.col("__docfreq") >= min_docs)
        & (F.col("__docfreq") > F.lit(max_doc_frac) * F.col("__n"))
    )
    kept = lines.join(boiler.select("__line"), "__line", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
                sep,
            ).alias("clean_text")
        )
    )


def temperature_mix_weights(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based sampling weights per source (multilingual-LM mixing).

    The standard up/down-weighting rule for mixing data sources when
    training on imbalanced corpora: sample source s with probability
    proportional to (token share)^alpha. alpha=1 reproduces natural
    frequencies; alpha->0 approaches uniform; 0.3-0.7 is the usual
    range for boosting low-resource sources.

    Output: (source, n_docs, n_tokens, weight) — weight rounded to 6
    decimals, summing to ~1. One shuffle (the groupBy); the per-source
    totals are a handful of rows, so the normalizing constant is a
    broadcast crossJoin, never a second pass over data.
    """
    from nt_data_pipelines_spark.plans.registry import dsum

    per_source = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        dsum(token_count(text_col), 0).cast("long").alias("n_tokens"),
    )
    powered = per_source.withColumn(
        "__p", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    )
    total = powered.select(F.sum("__p").alias("__z"))
    return (
        powered.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            (F.round(F.col("__p") / F.col("__z"), 6) + F.lit(0.0)).alias("weight"),
        )
    )


def assign_splits(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash.

    The same md5-bucket trick as
    :func:`deterministic_stratified_sample`: a row's split follows
    from its id alone, so assignments survive retries, repartitioning,
    engine swaps, and incremental appends (a new batch never reshuffles
    old rows between splits — the failure mode of RNG or modulo-on-
    row-number splits). Buckets are 0..9999; split boundaries are the
    cumulative weights in SORTED split-name order (deterministic
    regardless of dict order).

    Output: original columns + ``split``. Pure codegen expression, no
    shuffle.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = md5_bucket(id_col, 10000)
    expr = None
    cum = 0.0
    for name, w in sorted(weights.items()):
        cum += w
        cond = bucket < int(round(cum * 10000))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # float-rounding guard: the final boundary is exactly 10000
    last = sorted(weights)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def corpus_stats(
    df: DataFrame,
    by: list[str] | str = ("source", "lang"),
    text_col: str = "text",
    short_doc_words: int = 50,
) -> DataFrame:
    """Per-slice corpus report card — the sanity sheet before training.

    For each group: document count, exact total tokens, mean document
    length in tokens (rounded 6), and the fraction of short docs
    (under ``short_doc_words`` whitespace words — a high share flags a
    slice of stubs/navigation pages).

    One shuffle; token counts are codegen expressions, totals are
    decimal sums (order-independent, engine-parity safe).
    """
    keys = [by] if isinstance(by, str) else list(by)
    toks = token_count(text_col)
    n_words = F.size(words(text_col))
    # int/int rationals: integer half-up round-6 (registry rule 3).
    # The micro numerator rides as decimal(38,0): a group past ~4.6e12
    # tokens (plausible at the 100-TB target) would silently wrap an
    # int64 numerator in non-ANSI Spark while DuckDB's BIGINT errors —
    # same treatment as source_unigram_divergence's micro-bit sum.
    def r6(num, den):
        micro = num.cast("decimal(38,0)") * 1000000
        return (
            F.call_function("div", 2 * micro + den, 2 * den).cast("double")
            / 1000000.0
            + 0.0
        )

    n = F.count(F.lit(1))
    tok_sum = F.sum(toks.cast("decimal(38,0)"))
    n_short = F.sum(F.when(n_words < short_doc_words, 1).otherwise(0))
    return (
        df.groupBy(*keys)
        .agg(
            n.alias("n_docs"),
            tok_sum.cast("long").alias("n_tokens"),
            r6(tok_sum, n).alias("mean_tokens"),
            r6(n_short, n).alias("short_doc_frac"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Global paragraph-level exact dedup, keeping the FIRST occurrence.

    Splits every document on ``sep``, and keeps each distinct
    paragraph only at its first occurrence corpus-wide (ordered by
    document id, then position within the document — deterministic).
    Later repeats, including repeats inside the same document, are
    removed; documents reassemble from their surviving paragraphs in
    original order, and documents left empty drop out. This is the
    paragraph-granular sibling of exact document dedup — the standard
    middle tier between full-doc hashing and shingle fuzziness for
    crawl corpora where quotes/syndication duplicate passages, not
    whole pages.

    Scale shape: posexplode -> one shuffle on the paragraph to pick
    the (min doc, min pos) winner -> semi-join occurrences against
    winners on the same key -> one shuffle on the doc id to
    reassemble. Linear; no pairwise comparison; the winner set is one
    row per distinct paragraph.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__para"),
    )
    winners = paras.groupBy("__para").agg(
        F.min(F.struct(F.col(id_col).alias("__wid"), F.col("__pos").alias("__wpos"))).alias(
            "__w"
        )
    )
    kept = paras.join(
        winners.select(
            "__para", F.col("__w.__wid").alias(id_col), F.col("__w.__wpos").alias("__pos")
        ),
        ["__para", id_col, "__pos"],
        "left_semi",
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias("clean_text")
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality-rule signals and a composite keep flag.

    The heuristic document filter from "Scaling Language Models" (Rae
    et al. 2021, §A1.1): word-count bounds, mean-word-length band,
    symbol-to-word ratio (# and ... marks), bullet-started and
    ellipsis-ended line fractions, fraction of words containing an
    alphabetic character, and a required minimum of distinct common
    stopwords. Complements :func:`repetition_stats` (the same paper's
    repetition tier) — rules here are structural, not repetition.

    All signals are built-in expressions — one codegen stage over the
    corpus scan, no shuffle, scale-free. Ratios are rounded to 6
    decimals BEFORE the threshold comparisons so the keep flag is
    bit-stable across engines (registry parity rule 2).
    """
    t = F.col(text_col)
    ws = words(t)
    n_words = F.size(ws)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)

    # int/int rationals: integer half-up round-6 (registry rule 3)
    def r(num: Column, den: Column) -> Column:
        num, den = num.cast("long"), den.cast("long")
        return (
            F.when(
                den > 0,
                F.call_function("div", 2 * num * 1000000 + den, 2 * den).cast(
                    "double"
                )
                / 1000000.0,
            )
            + 0.0
        )

    mean_wl = r(
        F.aggregate(ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w)),
        n_words,
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell_chars = F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    # (hashes + ellipsis_chars/3) / words == (3*hashes + ellipsis_chars)
    # / (3*words) — kept as exact integers for the midpoint-safe round
    symbol_ratio = r(3 * n_hash + ell_chars, 3 * n_words)
    bullet_frac = r(F.size(F.filter(lines, lambda l: l.rlike("^[-*•]"))), n_lines)
    ellipsis_frac = r(
        F.size(F.filter(lines, lambda l: l.rlike("\\.\\.\\.$"))), n_lines
    )
    alpha_frac = r(F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))), n_words)
    # explicit per-word contains-sum (not array_intersect) so the SQL
    # oracle can mirror it with list_contains without relying on either
    # engine's set-dedup semantics
    stop_hits = sum(
        (
            F.when(F.array_contains(ws, w), F.lit(1)).otherwise(F.lit(0))
            for w in STOPWORD_LEXICON["en"]
        ),
        F.lit(0),
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return out.withColumn("keep", F.coalesce(keep, F.lit(False)).cast("int"))


# Hand-set weights standing in for a trained quality classifier (the
# CCNet / fastText-style "model-based filtering" tier). The FEATURES
# and the inference plumbing are the real deliverable — swap these for
# learned coefficients without touching the plan shape.
QUALITY_LOGIT_BIAS = -2.0
QUALITY_LOGIT_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("q_alpha_ratio", 2.5),
    ("q_en_stopword_distinct_ratio", 5.0),
    ("q_digit_ratio", -3.0),
    ("q_log_words", 0.25),
    ("q_avg_word_len", -0.05),
)


def quality_logit_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality score: logistic over the quality features.

    The model-inference tier of corpus filtering (CCNet's fastText LM
    filter, FineWeb's quality classifier): a linear model over cheap
    per-document features, applied corpus-wide. Here the coefficients
    are fixed and documented (QUALITY_LOGIT_WEIGHTS) — a deterministic
    stand-in for trained weights; the Spark side (feature extraction +
    broadcast-free codegen arithmetic, one stage, no shuffle) is the
    production shape either way.

    Engine parity: the linear term is rounded to 6 decimals before the
    sigmoid and the score after it (registry rule 2 — exp/ln differ in
    final ulps across libm implementations).
    """
    feats = quality_features(df, text_col).withColumn(
        "q_log_words", F.log1p(F.col("q_words").cast("double"))
    )
    z = F.lit(QUALITY_LOGIT_BIAS)
    for name, w in QUALITY_LOGIT_WEIGHTS:
        z = z + F.lit(w) * F.col(name)
    z = F.round(z, 6) + 0.0
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6) + 0.0
    return feats.select(
        F.col(id_col),
        score.alias("quality_score"),
        (score >= F.lit(threshold)).cast("int").alias("keep"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup: cut globally repeated word spans from docs.

    The ExactSubstr tier of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2021), re-expressed
    relationally at word granularity: any word n-gram occurring >=
    ``min_count`` times in the corpus (across OR within documents)
    marks its n positions for removal in every occurrence; surviving
    words re-join in order. Pigeonhole gives the suffix-array
    guarantee at word level: every repeated span of >= n words is
    covered by repeated n-grams, so all such spans are removed in one
    pass — no suffix array, no driver state.

    Scale shape: one posexplode of n-grams (O(total words) rows), one
    count shuffle, one equi-join back, one anti-join, one per-doc
    regroup — all linear, no pairwise work. Documents shorter than
    ``n`` words carry no n-grams and pass through; documents whose
    every position is covered return an empty string (the row is
    KEPT, so accounting sees the survivor-with-no-text case
    explicitly).

    Returns (id_col, clean_text, n_removed_words).
    """
    if n < 2:
        raise ValueError("span length n must be >= 2 (n=1 removes every repeated word)")
    ws = words(text_col)
    # pinned: referenced by the gram explosion, the position explosion
    # and the final rebuild join — one tokenize pass instead of three
    base = pin(
        df.select(F.col(id_col), ws.alias("__ws"), F.size(ws).alias("__nw"))
    )

    # n-gram strings with their 0-based start positions
    starts = F.when(
        F.col("__nw") >= n, F.sequence(F.lit(0), F.col("__nw") - n)
    ).otherwise(F.array().cast("array<int>"))
    # hashed to a fixed-width long before the corpus-wide count shuffle
    # and the join back (see gram_key)
    # pinned: the repeated-gram count and the covered-position join
    # both read this relation — unpinned, the tokenize + per-position
    # gram hashing (the dominant per-row cost) runs twice
    grams = pin(
        base.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: gram_key(F.array_join(F.slice("__ws", i + 1, n), " ")),
                )
            ).alias("__p", "__g"),
        )
    )
    repeated = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__g")
    )
    covered = (
        grams.join(repeated, "__g")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("__p"), F.col("__p") + n - 1)).alias("__q"),
        )
        .distinct()
    )
    positions = base.select(
        F.col(id_col), F.posexplode("__ws").alias("__q", "__w")
    )
    kept = positions.join(covered, [id_col, "__q"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__q", "__w"))),
                lambda s: s["__w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__nw") - F.coalesce("__kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_words"),
        )
    )


def source_unigram_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    out_col: str = "kl_bits",
) -> DataFrame:
    """Per-source KL divergence (bits/token) of the source's unigram
    distribution from the whole corpus's.

    The corpus-QA drift signal for source mixing: a source whose token
    distribution diverges sharply from the pool (KL >> 0) is
    over-contributing vocabulary the rest of the corpus never uses —
    the quantity DoReMi-style reweighting and mixture audits monitor.
    KL(P_s || Q) = (1/N_s) * sum_w c_sw * log2((c_sw * N) / (N_s * c_w))
    over the source's observed words; every observed word has corpus
    count >= its source count >= 1, so no smoothing is needed.

    Scale shape: one (word, source) count shuffle and one word-level
    count shuffle, joined on the word key (linear — the per-word join
    fans out by number of sources carrying the word, bounded by the
    source count); corpus totals broadcast as scalars. No pairwise
    source-x-source work.

    Engine parity: each word's term is rounded to 6 decimals before an
    exact decimal sum (registry rules 1+2 — log2 may differ in the
    last ulp across engines).

    Returns (source, n_tokens, kl_bits) — one row per source.
    """
    toks = df.select(F.col(source_col).alias("source"), F.explode(words(text_col)).alias("word")).filter(
        F.col("word") != ""
    )
    sw = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("__csw"))
    w = sw.groupBy("word").agg(F.sum("__csw").alias("__cw"))
    ns = sw.groupBy("source").agg(F.sum("__csw").alias("__ns"))
    total = w.agg(F.sum("__cw").alias("__N"))
    # ratio built in doubles (a long*long numerator could overflow at
    # corpus scale); the division order is pinned so both engines
    # evaluate bit-identically before the round
    term = F.round(
        F.col("__csw")
        * F.log2(
            (F.col("__csw").cast("double") * F.col("__N"))
            / (F.col("__ns").cast("double") * F.col("__cw"))
        ),
        6,
    )
    # integer-exact half-up mean (registry rule 3): rounding the
    # DOUBLE mean hits engine-divergent midpoints. micro rides as
    # decimal(38,0) (a 100-TB source's micro-bit sum can pass int64);
    # the clamp covers the theoretical KL==0 all-terms-round-down
    # edge, where the dividend could dip below zero and Spark's
    # truncating div and DuckDB's flooring // would disagree.
    return (
        sw.join(w, "word")
        .join(ns, "source")
        .crossJoin(F.broadcast(total))
        .select("source", F.col("__ns").alias("n_tokens"), term.alias("__t"))
        .groupBy("source", "n_tokens")
        .agg(
            F.sum(
                (F.col("__t").cast("decimal(28,6)") * 1000000).cast("decimal(38,0)")
            ).alias("__micro")
        )
        .select(
            "source",
            "n_tokens",
            (
                F.expr(
                    "CAST(GREATEST(2 * __micro + n_tokens, 0) "
                    "DIV (2 * n_tokens) AS DOUBLE)"
                )
                / 1000000.0
            ).alias(out_col),
        )
    )


def source_lang_mi(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mutual information (bits) between a document's source and its
    predicted language — the corpus-composition audit scalar.

    MI(source; lang) = sum over occupied cells of
    p(s,l) * log2(p(s,l) / (p(s) p(l))). Near 0 the language mix is
    the same in every source (language filtering can be tuned
    globally); large values mean language and source are entangled —
    per-source thresholds, mixing weights, and eval slices must be
    conditioned on language or the blend silently shifts when one
    feed's share changes. Composes :func:`language_id` (deterministic
    stopword-lexicon argmax), so the label side is exactly the tier's
    own language column.

    Scale shape: one per-doc language pass (language_id's bounded
    per-doc window), one (source, lang) count shuffle; everything
    after runs on the sources-by-languages cell frame (tiny by
    construction), with per-source/per-lang margins as partitioned
    windows over that frame and the grand total as a partially-
    aggregated scalar broadcast back (no single-task global window —
    the registry-wide plan sweep pins this). Engine
    parity follows the KL pattern (source_unigram_divergence): the
    log ratio is built in doubles with pinned evaluation order, each
    cell term n_sl * log2(...) is rounded to 6 (irrational unless the
    ratio is a power of two, and then the term is exact — no
    reachable midpoint), terms sum as decimal micro units, and the
    final mean over N is integer half-up, clamped at 0 (MI >= 0; the
    clamp also keeps Spark's truncating DIV and DuckDB's flooring //
    agreeing near zero).

    Returns ONE row: (n_docs, n_cells, mi_bits).
    """
    langs = language_id(df, id_col, text_col).select(id_col, "pred_lang")
    joint = (
        df.select(F.col(id_col), F.col(source_col).alias("__src"))
        .join(langs, id_col)
        .groupBy("__src", "pred_lang")
        .agg(F.count(F.lit(1)).alias("__nsl"))
    )
    ws = Window.partitionBy("__src")
    wl = Window.partitionBy("pred_lang")
    grand = joint.groupBy().agg(F.sum("__nsl").alias("__n"))
    cells = joint.select(
        "__nsl",
        F.sum("__nsl").over(ws).alias("__ns"),
        F.sum("__nsl").over(wl).alias("__nl"),
    ).crossJoin(F.broadcast(grand))
    term = F.round(
        F.col("__nsl")
        * F.log2(
            (F.col("__nsl").cast("double") * F.col("__n"))
            / (F.col("__ns").cast("double") * F.col("__nl"))
        ),
        6,
    )
    return (
        cells.select(F.col("__n"), term.alias("__t"))
        .groupBy("__n")
        .agg(
            F.sum(
                (F.col("__t").cast("decimal(28,6)") * 1000000).cast("decimal(38,0)")
            ).alias("__micro"),
            F.count(F.lit(1)).alias("__cells"),
        )
        .select(
            F.col("__n").cast("long").alias("n_docs"),
            F.col("__cells").cast("long").alias("n_cells"),
            (
                F.expr(
                    "CAST(GREATEST(2 * __micro + __n, 0) DIV (2 * __n) AS DOUBLE)"
                )
                / 1000000.0
            ).alias("mi_bits"),
        )
    )


def zipf_slope(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    k: int = 25,
) -> DataFrame:
    """Per-source Zipf slope: OLS slope of ln(count) on ln(rank) over
    the source's top-``k`` tokens.

    Natural language follows rank^-s with s near 1, so the fitted
    slope sits near -1; machine-generated or template-heavy sources
    flatten (slope toward 0, counts near-uniform) or steepen (a few
    boilerplate tokens dominate). The audit complement to
    :func:`source_unigram_divergence`: KL says a source's vocabulary
    DIFFERS from the pool, the slope says its internal frequency
    structure stopped looking like text at all.

    Scale shape: one (source, word) count shuffle (map-side partial);
    the top-k is TWO-PHASE — a local rank per (source, input
    partition) prunes to k rows per partition before the global
    per-source rank window, so no task ever sorts a source's entire
    vocab (a 10^8-distinct-word source would otherwise be one
    straggler window task AQE can't split; the global window now sees
    at most k * shuffle-partitions rows per source). Ranks tie-break
    on the token so both engines rank identically; the slope is an
    algorithmic stat, rounded to 6 (registry rule 2).

    Returns (source, n_terms, zipf_slope) — one row per source.
    """
    toks = df.select(
        F.col(source_col).alias("source"), F.explode(words(text_col)).alias("word")
    ).filter(F.col("word") != "")
    counts = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("__cnt"))
    # phase 1: local top-k per (source, physical partition) — every
    # global top-k row is top-k within its own partition, so pruning
    # to k rows per (source, pid) loses nothing
    wl = Window.partitionBy("source", "__pid").orderBy(
        F.desc("__cnt"), F.asc("word")
    )
    pruned = (
        counts.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(wl))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__pid")
    )
    # phase 2: global rank over the pruned (≤ k·partitions)-row frame
    rw = Window.partitionBy("source").orderBy(F.desc("__cnt"), F.asc("word"))
    ranked = pruned.withColumn("__rnk", F.row_number().over(rw)).filter(
        F.col("__rnk") <= k
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            (
                F.round(
                    F.regr_slope(
                        F.log(F.col("__cnt").cast("double")),
                        F.log(F.col("__rnk").cast("double")),
                    ),
                    6,
                )
                + 0.0
            ).alias("zipf_slope"),
        )
    )


def _cdc_chunk_frame(
    df: DataFrame, id_col: str, text_col: str, boundary_mod: int
) -> DataFrame:
    """The shared CDC derivation: (id, __chunk, n_words, chunk_text,
    chunk_hash) — no occurrence counts, so consumers that don't need
    them (``cdc_dedup_documents``) don't pay the count's join."""
    if boundary_mod < 2:
        raise ValueError("boundary_mod must be >= 2")
    pos = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("__p", "__w")
    ).filter(F.col("__w") != "")
    wdoc = Window.partitionBy(id_col).orderBy("__p")
    # boundary word closes its chunk: chunk_id = boundaries seen BEFORE
    # this position
    is_boundary = (gram_key(F.col("__w")) % boundary_mod == 0).cast("long")
    chunked = pos.select(
        F.col(id_col),
        "__p",
        "__w",
        (
            F.sum(is_boundary).over(wdoc.rowsBetween(Window.unboundedPreceding, -1))
        ).alias("__chunk"),
    ).fillna({"__chunk": 0})
    chunks = chunked.groupBy(id_col, "__chunk").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__w"))),
                lambda s: s["__w"],
            ),
            " ",
        ).alias("chunk_text"),
    )
    return chunks.withColumn("chunk_hash", F.md5("chunk_text"))


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking at word granularity: a word whose
    :func:`gram_key` hash is 0 mod ``boundary_mod`` CLOSES the current
    chunk, so expected chunk length is ``boundary_mod`` words and
    boundaries depend only on content — an insertion or edit moves
    boundaries locally instead of re-shifting every downstream chunk
    the way fixed-width windows do (the property that makes chunk-hash
    dedup stable across crawl snapshots; Gear/FastCDC's rationale at
    word level).

    Output per chunk: (id, chunk_id, n_words, chunk_text, chunk_hash,
    n_occurrences) where n_occurrences counts byte-identical chunks
    corpus-wide (via md5 of the chunk text) — >1 marks shared
    boilerplate/quotation blocks for chunk-level dedup. Scale shape:
    one per-doc window (position cumsum) on the doc-id shuffle, one
    groupBy per (doc, chunk); occurrence counting is a map-side-partial
    count joined back on chunk_hash rather than a chunk_hash window — a
    corpus-wide boilerplate chunk would land every copy (full
    chunk_text payload included) in ONE window partition, and AQE
    cannot split skewed window partitions, whereas the join-back gets
    AQE's skew-join splitting for free. All linear; no pairwise
    comparisons. (Catalyst plans the count side as a recompute of the
    chunk derivation — both sides are skew-free linear stages; callers
    chaining further work should checkpoint if recompute matters.)

    Docs with no tokens yield no chunks.
    """
    hashed = _cdc_chunk_frame(df, id_col, text_col, boundary_mod)
    occ = hashed.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return (
        hashed.join(occ, "chunk_hash")
        .select(
            F.col(id_col),
            F.col("__chunk").cast("long").alias("chunk_id"),
            "n_words",
            "chunk_text",
            "chunk_hash",
            "n_occurrences",
        )
    )


def cdc_dedup_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_mod: int = 8,
    min_chunk_words: int = 2,
) -> DataFrame:
    """Chunk-level dedup: rewrite each document keeping only the FIRST
    corpus-wide occurrence of every repeated content-defined chunk.

    The snapshot-stable middle ground between document dedup (misses
    partial duplication) and exact-substring span removal (cuts every
    occurrence including the first): repeated boilerplate blocks
    survive exactly once — in the earliest (min id, min chunk_id)
    document — and disappear from every later copy. Because chunk
    boundaries come from :func:`cdc_chunks`' content-defined rule, a
    re-crawled page with one edited paragraph re-chunks only around
    the edit, so the unchanged blocks still hash identically and still
    dedup against the previous snapshot.

    Chunks shorter than ``min_chunk_words`` are never removed (a 1-2
    word chunk hash carries too little content to call two occurrences
    "the same block" — removing them would eat common short phrases).

    Scale shape: :func:`cdc_chunks`' linear shuffles, plus one
    min-over-(chunk_hash) aggregate joined back, one per-doc regroup.
    Returns (id, clean_text, n_removed_chunks, n_removed_words);
    every input doc keeps a row (empty string if everything was a
    later duplicate).
    """
    chunks = _cdc_chunk_frame(df, id_col, text_col, boundary_mod).withColumn(
        "chunk_id", F.col("__chunk").cast("long")
    )
    first = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_id"))).alias("__first")
    )
    tagged = chunks.join(first, "chunk_hash").withColumn(
        "__keep",
        (F.col("n_words") < min_chunk_words)
        | (
            (F.col("__first")[id_col] == F.col(id_col))
            & (F.col("__first")["chunk_id"] == F.col("chunk_id"))
        ),
    )
    rebuilt = (
        tagged.filter(F.col("__keep"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    removed = (
        tagged.filter(~F.col("__keep"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_removed_chunks"),
            F.sum("n_words").alias("n_removed_words"),
        )
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_removed_chunks", F.lit(0)).cast("long").alias("n_removed_chunks"),
            F.coalesce("n_removed_words", F.lit(0)).cast("long").alias("n_removed_words"),
        )
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy (bits/char) of the non-space
    character distribution — the cheapest "is this text at all"
    signal: natural language sits ~4-4.5 bits, base64/hex blobs higher,
    single-character runs and template padding near 0. Complements
    :func:`repetition_stats` (word-level) at character level.

    Scale shape: the char explode collapses map-side into per-(doc,
    char) counts (bounded by docs x alphabet, NOT corpus characters);
    the per-doc total rides a doc-keyed window over those <= ~100
    rows/doc. Engine parity follows source_unigram_divergence's KL
    pattern exactly: each term c*log2(n/c) is rounded to 6 (rule 2 —
    irrational unless n/c is a power of two, and then the term is an
    exact integer, so no reachable midpoint), summed as decimal micro
    units, and the mean over n is integer half-up (rule 3).

    Returns (id, n_chars_nospace, char_entropy_bits); docs with no
    non-space characters keep a row with 0 / NULL.
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("__c")
    ).filter((F.col("__c") != "") & (F.col("__c") != " "))
    counts = chars.groupBy(id_col, "__c").agg(F.count(F.lit(1)).alias("__cnt"))
    wd = Window.partitionBy(id_col)
    term = F.round(
        F.col("__cnt")
        * F.log2(F.col("__n").cast("double") / F.col("__cnt").cast("double")),
        6,
    )
    per_doc = (
        counts.withColumn("__n", F.sum("__cnt").over(wd))
        .select(F.col(id_col), "__n", term.alias("__t"))
        .groupBy(id_col, "__n")
        .agg(
            F.sum(
                (F.col("__t").cast("decimal(28,6)") * 1000000).cast("decimal(38,0)")
            ).alias("__micro")
        )
        .select(
            F.col(id_col),
            F.col("__n").cast("long").alias("n_chars_nospace"),
            (
                F.expr(
                    "CAST(GREATEST(2 * __micro + __n, 0) DIV (2 * __n) AS DOUBLE)"
                )
                / 1000000.0
            ).alias("char_entropy_bits"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chars_nospace", F.lit(0)).cast("long").alias(
                "n_chars_nospace"
            ),
            "char_entropy_bits",
        )
    )


def source_token_concentration(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-mass concentration: how many documents hold
    half the source's tokens, and what share of tokens the top decile
    of documents holds — the heavy-hitter audit for mixing weights (a
    source whose token mass concentrates in a few mega-documents
    contributes far less diversity than its token count suggests).

    EXACT distributed order statistics WITHOUT a per-source document
    sort: documents aggregate to the (source, token_count) VALUE
    domain first (bounded by max document length, not corpus size —
    the same domain-sized-frame trick as zipf_slope's vocab), the
    cumulative walk runs desc over that frame, and the boundary value
    group is split arithmetically: docs needed for half the mass =
    docs above the boundary value + ceil(remaining / boundary value).
    Every quantity is integer (token counts, doc counts), the two
    reported ratios use the integer half-up micro form (rule 3), so
    both engines agree bit-for-bit.

    Returns (source, n_docs, total_tokens, n_docs_half_tokens,
    half_docs_frac, top_decile_token_share).
    """
    toks = df.select(
        F.col(source_col).alias("source"), token_count(text_col).alias("__t")
    )
    # value-domain frame: one row per (source, distinct token count)
    vals = toks.groupBy("source", "__t").agg(F.count(F.lit(1)).alias("__nd"))
    wv = Window.partitionBy("source").orderBy(F.desc("__t"))
    cum = vals.select(
        "source",
        "__t",
        "__nd",
        F.sum(F.col("__nd") * F.col("__t"))
        .over(wv.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__tok_above"),
        F.sum("__nd")
        .over(wv.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__docs_above"),
    ).fillna({"__tok_above": 0, "__docs_above": 0})
    totals = vals.groupBy("source").agg(
        F.sum("__nd").cast("long").alias("n_docs"),
        F.sum(F.col("__nd") * F.col("__t")).cast("long").alias("total_tokens"),
    )
    j = cum.join(totals, "source")
    # docs needed s.t. their token mass >= ceil(total/2) == (total+1) DIV 2
    need_half = F.expr("(total_tokens + 1) DIV 2")
    # boundary row for the half-mass walk: first value (desc) whose
    # cumulative-through mass reaches the need
    half_row = (
        j.filter(
            (F.col("__tok_above") < need_half)
            & (F.col("__tok_above") + F.col("__nd") * F.col("__t") >= need_half)
            & (F.col("__t") > 0)
        )
        .select(
            "source",
            (
                F.col("__docs_above")
                + F.expr("((total_tokens + 1) DIV 2 - __tok_above + __t - 1) DIV __t")
            )
            .cast("long")
            .alias("n_docs_half_tokens"),
        )
    )
    # top-decile mass: k = ceil(n_docs / 10) docs; boundary group split
    k = F.expr("(n_docs + 9) DIV 10")
    top_row = (
        j.filter(
            (F.col("__docs_above") < k)
            & (F.col("__docs_above") + F.col("__nd") >= k)
        )
        .select(
            "source",
            (
                F.col("__tok_above")
                + (k - F.col("__docs_above")) * F.col("__t")
            )
            .cast("long")
            .alias("__top_toks"),
        )
    )
    # micro numerator rides as decimal(38,0): 2 * token-mass * 1e6
    # wraps int64 past ~4.6e12 tokens per source (the corpus_stats
    # ADVICE class); DuckDB mirrors with HUGEINT ('//' on DECIMAL
    # degrades to double division there)
    micro = (
        "CAST((2 * CAST({num} AS DECIMAL(38,0)) * 1000000 + {den}) "
        "DIV (2 * {den}) AS DOUBLE) / 1000000.0"
    )
    return (
        totals.join(half_row, "source", "left")
        .join(top_row, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.coalesce("n_docs_half_tokens", F.lit(0)).cast("long").alias(
                "n_docs_half_tokens"
            ),
            (
                F.expr(
                    micro.format(
                        num="COALESCE(n_docs_half_tokens, 0)", den="n_docs"
                    )
                )
                + 0.0
            ).alias("half_docs_frac"),
            (
                F.expr(
                    micro.format(num="COALESCE(__top_toks, 0)", den="total_tokens")
                )
                + 0.0
            ).alias("top_decile_token_share"),
        )
    )


def source_vocab_jaccard(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise source-vocabulary Jaccard matrix (upper triangle).

    The vocabulary-level companion to cross_source_overlap (which
    matches whole-document fingerprints): two sources can share zero
    documents yet draw on nearly the same vocabulary — the signal
    mixture audits use to spot redundant sources before weighting.
    For each unordered source pair (a < b):
    J(a, b) = |V_a intersect V_b| / |V_a union V_b|.

    Scale shape: the corpus collapses to DISTINCT (source, word) rows
    (one linear shuffle); the intersection self-join keys on the word,
    so each word fans out by (sources carrying it choose 2) — bounded
    by the SOURCE count squared, never by corpus size; per-source
    vocab sizes are one more linear agg. No doc x doc work anywhere.

    Engine parity: intersection/union sizes are exact integers; the
    ratio uses the integer half-up micro form (registry rule 3).
    """
    vocab = (
        df.select(F.col(source_col).alias("__src"), F.explode(words(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
        .distinct()
    )
    sizes = vocab.groupBy("__src").agg(F.count(F.lit(1)).alias("__n"))
    a = vocab.select(F.col("__src").alias("source_a"), "__w")
    b = vocab.select(F.col("__src").alias("source_b"), "__w")
    inter = (
        a.join(b, "__w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__src", "source_a").withColumnRenamed("__n", "__na"), "source_a")
        .join(sizes.withColumnRenamed("__src", "source_b").withColumnRenamed("__n", "__nb"), "source_b")
        .select(
            "source_a",
            "source_b",
            "intersection_size",
            (F.col("__na") + F.col("__nb") - F.col("intersection_size")).alias("union_size"),
            (
                F.expr(
                    "CAST((2 * intersection_size * 1000000 + (__na + __nb - intersection_size)) "
                    "DIV (2 * (__na + __nb - intersection_size)) AS DOUBLE)"
                )
                / 1000000.0
            ).alias("jaccard"),
        )
    )
