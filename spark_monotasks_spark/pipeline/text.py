"""Text analysis operators: tokenization, quality, language-ID, fingerprints.

All pure `pyspark.sql.functions` — JVM-side, codegen'd, no Python UDFs —
so a 100 TB documents table is one linear scan per metric.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_monotasks_spark.partitioning import spread_to_cluster as _spread

# NOTE (r8): the corpus-pass operators below _spread their input
# before gram/token explodes — per-row work (slice, hash, digest)
# dominates IO there, and a single-file local scan (one split) would
# otherwise pin the whole pass to ONE task.  No-op when the scan is
# already wide, i.e. at production scale.

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic.  Deliberately small — the point is the Spark-side shape
#: (broadcast map + array intersection), not lexicography.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "las"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "nicht"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

#: languages written without whitespace between words — stopword hits
#: are counted as CHARACTER occurrences in the raw text, not token
#: intersections (which would always be zero).  Extend this set when
#: adding ja/th/... to LANG_STOPWORDS.
UNSEGMENTED_LANGS: frozenset[str] = frozenset({"zh"})


def tokens(col: Column | str, sep: str = " ") -> Column:
    """Tokenization on a LITERAL separator (escaped before the
    regex-based split, so '.'/'|' work as given)."""
    return F.split(col, re.escape(sep))


def token_count(col: Column | str, sep: str = " ") -> Column:
    return F.size(tokens(col, sep))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token/char statistics per document — one narrow projection.
    Counts are long (DuckDB len/length return BIGINT — keeps the oracle
    schema identical, not just the values)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    return df.select(
        "*",
        n_tokens.cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("text_len"),
        F.round(F.length(text_col) / n_tokens, 4).alias("chars_per_token"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring (length / punctuation / stopword ratios).

    Mirrors the standard pretraining-corpus filters (C4/Gopher-style
    rules) with pure built-ins: every signal is a Column expression, so
    the whole scorer is one whole-stage-codegen'd pass.
    """
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    text_len = F.length(text_col)
    stop_en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, stop_en))
    # Unicode classes: Java \w is ASCII-only and would count every
    # accented/CJK letter as punctuation; \p{Z} likewise keeps NBSP /
    # ideographic space (HTML- and CJK-corpus whitespace) out of n_punct
    n_punct = text_len - F.length(
        F.regexp_replace(text_col, r"[^\p{L}\p{N}\s\p{Z}]", "")
    )
    avg_token_len = (text_len - n_tokens + 1) / n_tokens
    score = (
        F.when((n_tokens >= 5) & (n_tokens <= 100000), 0.25).otherwise(0.0)
        + F.when((avg_token_len >= 2.0) & (avg_token_len <= 12.0), 0.25).otherwise(0.0)
        + F.when(n_punct / F.greatest(text_len, F.lit(1)) <= 0.2, 0.25).otherwise(0.0)
        + F.when(n_stop > 0, 0.25).otherwise(0.0)
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        F.round(avg_token_len, 4).alias("avg_token_len"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        F.round(score, 2).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID (n-gram heuristic family).

    Scores each language by |tokens ∩ stopwords(lang)| and takes the
    argmax via a struct-array max (ties resolve to the lexicographically
    greatest language code — deterministic).  No shuffle, no UDF.
    """
    toks = tokens(text_col)

    def lang_score(lang: str, words: list[str]) -> Column:
        if lang in UNSEGMENTED_LANGS:
            return F.size(
                F.filter(
                    F.array(*[F.lit(w) for w in words]),
                    lambda w: F.contains(F.col(text_col), w),
                )
            )
        return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))

    scores = F.array(
        *[
            F.struct(
                lang_score(lang, words).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_STOPWORDS.items())
        ]
    )
    best = F.array_max(scores)
    return df.select(
        "*",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        best["score"].alias("lang_score"),
    )


#: BPE-ish pre-tokenization pattern (GPT-2-style segmentation without a
#: merges table): optional-space letter runs, digit runs, punctuation
#: runs.  Counting these chunks approximates subword token counts far
#: better than whitespace splitting on punctuation-heavy text.
BPE_ISH_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish segmentation — one JVM regex pass
    (regexp_count), no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def with_bpe_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace vs BPE-ish token counts side by side — the pair a
    training-data pipeline budgets against."""
    ws = token_count(text_col)
    bpe = bpe_ish_token_count(text_col)
    return df.select(
        "*",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(bpe / F.greatest(ws, F.lit(1)), 4).alias("bpe_per_word"),
    )


def rolling_fingerprint(col: Column | str, sep: str = " ") -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    h = fold(h * 31 + xxhash64(token)).  A content-defined fingerprint
    that (unlike md5-of-text) can be computed incrementally per chunk
    and composed — the shape used for shift-tolerant dedup.  JVM-side
    higher-order fold; engine-specific (xxhash64) so rows-only in the
    oracle contract."""
    return F.aggregate(
        tokens(col, sep),
        F.lit(0).cast("bigint"),
        lambda acc, tok: acc * F.lit(31).cast("bigint") + F.xxhash64(tok),
    )


def fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """Deterministic 64-bit-ish document fingerprint: md5 of the
    normalized text, truncated to 16 hex chars.  md5 (not xxhash64) so
    external engines (the DuckDB oracle) reproduce it byte-for-byte."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.substring(F.md5(c.cast("binary")), 1, 16)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select("*", fingerprint(text_col).alias("fingerprint"))


#: default redaction rules — RE2-compatible (no backrefs/lookaround) so
#: the same pattern strings run in Spark (java.util.regex) AND external
#: engines (DuckDB/re2); order matters (emails before digit runs).
REDACT_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{6,}", "<NUM>"),
)


def redact(col: Column | str, rules: tuple[tuple[str, str], ...] = REDACT_RULES) -> Column:
    """PII-style redaction: sequential regexp_replace rules, all
    JVM-side in one projection (a single codegen stage — no Python, no
    extra pass per rule at 100 TB)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, replacement in rules:
        c = F.regexp_replace(c, pattern, replacement)
    return c


def with_redacted(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select("*", redact(text_col).alias("redacted"))


def split_bucket(col: Column | str, n_buckets: int = 10_000) -> Column:
    """Deterministic engine-portable bucket in [0, n_buckets): first 8
    hex chars of md5(id-as-string) parsed as an int.  md5 (not
    xxhash64/crc32) so any system — including the DuckDB oracle and
    whatever serves the trained model — reproduces the assignment
    byte-for-byte from the id alone."""
    c = F.col(col) if isinstance(col, str) else col
    hex8 = F.substring(F.md5(c.cast("string").cast("binary")), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % n_buckets).alias("bucket")


def train_split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    n_buckets: int = 10_000,
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id.

    The split is a pure function of the id — stable across runs,
    engines, partitionings, and corpus growth (a doc keeps its split
    when new data arrives, unlike randomSplit), which is the property a
    training pipeline needs for leak-free eval sets.  One projection,
    no shuffle."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {weights}")
    bucket = split_bucket(id_col, n_buckets)
    expr: Column | None = None
    cum = 0.0
    for name, w in weights.items():
        cum += w
        bound = int(round(cum * n_buckets))
        cond = bucket < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float-rounding slack: anything at the top boundary joins the last
    return df.select(
        "*", F.coalesce(expr, F.lit(list(weights)[-1])).alias("split")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing for LLM training batches.

    Documents are laid end-to-end in deterministic (shard, id) order and
    chunked into fixed ``budget``-token training sequences — the
    standard pretraining packing scheme (a doc may span two sequences;
    the tokenizer's EOS handles the boundary).  Emits per doc:
    ``shard``, byte-deterministic from the id; ``seq_id``, the sequence
    its FIRST token lands in; ``seq_offset``, that token's position.

    Scale shape: the running total is a window over ``shard`` — 100 TB
    packs as ``n_shards`` independent ordered partitions instead of one
    global sort.  ``n_shards`` CAPS both parallelism and per-task window
    size, so it must scale with the input: when omitted it is derived as
    ``max(input scan partitions, defaultParallelism)`` — scan partitions
    already approximate ``input_bytes / maxPartitionBytes``, so a 100×
    bigger input gets ~100× more shards without a config change.  Pass
    it explicitly only when downstream layout requires a fixed shard
    count (then size it ≈ input_bytes / target_shard_bytes yourself —
    a fixed 32 at 100 TB would push ~3 TB through each window task).
    Pure built-ins, engine-portable (shard is md5-derived, so the DuckDB
    oracle reproduces it bit-for-bit).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards is None:
        n_shards = max(
            df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism,
        )
    shard = split_bucket(id_col, n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(token_col).over(w) - F.col(token_col)).alias("_start")
    return (
        df.select(id_col, token_col, shard)
        .select(id_col, token_col, "shard", start)
        .select(
            id_col,
            F.col(token_col).cast("long").alias(token_col),
            "shard",
            (F.col("_start") / budget).cast("long").alias("seq_id"),
            (F.col("_start") % budget).cast("long").alias("seq_offset"),
        )
    )


def pack_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int | None = None,
) -> DataFrame:
    """Per-sequence packing manifest: what a training data loader
    actually consumes.  One row per (shard, seq_id) with the ordered doc
    spans filling that sequence — ``spans`` is ``doc:offset:len`` comma-
    joined (offset = position inside the sequence), so a loader can
    fetch exactly the byte ranges for one training sequence without
    scanning the corpus.

    A document crossing a sequence boundary contributes a span to EACH
    sequence it touches (explode over its seq range) — the loader-side
    contract of pack_sequences' concat-and-chunk layout.  Same shard
    derivation and scale shape as pack_sequences; the explode adds at
    most ceil(n_tokens/budget) rows per doc, so output stays linear in
    corpus tokens.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards is None:
        n_shards = max(
            df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism,
        )
    shard = split_bucket(id_col, n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.col(token_col).cast("long")
    base = df.select(F.col(id_col), n.alias("_n"), shard).select(
        id_col, "_n", "shard", (F.sum("_n").over(w) - F.col("_n")).alias("_start")
    )
    seq_first = (F.col("_start") / budget).cast("long")
    seq_last = ((F.col("_start") + F.col("_n") - 1) / budget).cast("long")
    spans = base.select(
        id_col,
        "_n",
        "shard",
        "_start",
        F.explode(F.sequence(seq_first, seq_last)).alias("seq_id"),
    ).select(
        id_col,
        "shard",
        "seq_id",
        F.greatest(F.col("_start") - F.col("seq_id") * budget, F.lit(0))
        .cast("long")
        .alias("_off"),
        (
            F.least(
                F.col("_start") + F.col("_n") - F.col("seq_id") * budget,
                F.lit(budget),
            )
            - F.greatest(F.col("_start") - F.col("seq_id") * budget, F.lit(0))
        )
        .cast("long")
        .alias("_len"),
    )
    entry = F.struct(
        F.col("_off").alias("off"), F.col(id_col).alias("doc"), F.col("_len").alias("len")
    )
    return (
        spans.groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(entry)),
                    lambda x: F.concat_ws(":", x["doc"], x["off"], x["len"]),
                ),
                ",",
            ).alias("spans"),
        )
    )


def ngram_fold(toks: Column, n: int, sep: str = " ") -> Column:
    """Overlapping word n-grams of a token array (``size - n + 1``
    entries, NOT distinct), built by folding ``n-1`` shifted-slice
    ``zip_with`` concat passes: gram[i] = toks[i] ‖ sep ‖ … ‖
    toks[i+n-1].  One O(len) pass per shift beats
    ``transform(sequence(...), i -> join(slice(toks, i, n)))`` — an
    O(n) slice+join per *index* under an interpreted lambda — by ~5× at
    sf0.1.  Arrays shorter than ``n`` yield an empty array (guarded:
    Spark's ``sequence(1, 0)`` would DESCEND, not empty; the slice
    length is clamped at 0 so speculative evaluation stays legal)."""
    n_grams = F.greatest(F.size(toks) - n + 1, F.lit(0))
    acc = F.slice(toks, 1, n_grams)
    for k in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + k, n_grams),
            lambda a, b: F.concat(a, F.lit(sep), b),
        )
    return F.when(F.size(toks) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def ngram_hash_fold(toks: Column, n: int) -> Column:
    """int64 fingerprints of overlapping word n-grams — the same
    shifted-slice ``zip_with`` fold as :func:`ngram_fold` but
    accumulating a chained ``xxhash64`` instead of a concatenated
    string: hash[i] = xxhash64(…xxhash64(toks[i], toks[i+1])…,
    toks[i+n-1]).  No gram string is ever materialized, and the
    downstream explode/shuffle carries 8-byte longs instead of
    arbitrary-width text — the 100 TB path for repetition screening.
    Distinct grams keep distinct hashes up to 64-bit collisions
    (~grams²/2⁶⁴); the chained form also avoids the separator-aliasing
    concern of hashing a joined string.  Arrays shorter than ``n``
    yield an empty array."""
    n_grams = F.greatest(F.size(toks) - n + 1, F.lit(0))
    if n == 1:
        acc = F.transform(toks, lambda t: F.xxhash64(t))
    else:
        acc = F.zip_with(
            F.slice(toks, 1, n_grams),
            F.slice(toks, 2, n_grams),
            lambda a, b: F.xxhash64(a, b),
        )
        for k in range(2, n):
            acc = F.zip_with(
                acc,
                F.slice(toks, 1 + k, n_grams),
                lambda h, t: F.xxhash64(h, t),
            )
    return F.when(F.size(toks) >= n, acc).otherwise(
        F.array().cast("array<bigint>")
    )


def word_ngrams(col: Column | str, n: int = 5) -> Column:
    """Distinct word n-grams of a document as an array<string> — one
    higher-order-function expression, no explode until the caller
    chooses to.  Docs shorter than ``n`` tokens yield an empty array."""
    return F.array_distinct(ngram_fold(tokens(col), n))


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination screen: n-gram overlap per training doc.

    The standard decontamination pass (GPT-3/PaLM style): any training
    document sharing enough word n-grams with an eval benchmark is
    flagged before training.  Returns (id, n_grams, n_hits, hit_frac)
    for every doc in ``df``.

    Scale shape: the benchmark's distinct n-grams are a SMALL relation
    (eval sets are MBs, the corpus is TBs) — the corpus side explodes
    its n-grams and inner-joins them against the benchmark grams, which
    Spark/AQE broadcasts, so the 100 TB side never shuffles; the only
    aggregation is the per-doc hit count.
    """
    grams = word_ngrams(F.col(text_col), n)
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
        .distinct()
        .select("g", F.lit(1).alias("_hit"))
    )
    # ONE gram-construction pass: explode_outer keeps zero-gram docs
    # (count("g") skips their null), the broadcast LEFT join marks
    # benchmark grams in-stream, and a single aggregate produces both
    # the gram count (word_ngrams is distinct per doc, so the exploded
    # row count IS n_grams) and the hit count.
    exploded = _spread(df).select(
        F.col(id_col).alias("id"), F.explode_outer(grams).alias("g")
    ).join(F.broadcast(bench_grams), on="g", how="left")
    n_hits = F.coalesce(F.sum("_hit"), F.lit(0)).cast("long")
    return exploded.groupBy("id").agg(
        F.count("g").alias("n_grams"),
        n_hits.alias("n_hits"),
        F.round(n_hits / F.greatest(F.count("g"), F.lit(1)), 4).alias("hit_frac"),
    )


def gopher_quality_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_frac: float = 0.6,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher/MassiveText-style document quality rules (Rae et al. 2021,
    §A1.1 heuristics), restricted to ENGINE-PORTABLE expressions so the
    whole rule set carries a DuckDB oracle (unlike quality_score, whose
    punctuation regex is engine-specific).

    Per doc: word count bounds, mean word length bounds, fraction of
    purely alphabetic words, and ≥ ``min_stop_hits`` distinct stopword
    hits (the "real prose" signal).  Emits each rule's measurement plus
    its boolean and the conjunction ``keep`` — a filter pipeline wants
    the per-rule bits for ablation, not just the verdict.  One narrow
    codegen'd projection: no shuffle, no UDF; at 100 TB the cost is the
    corpus scan."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks).cast("long")
    # chars-excluding-separators / words
    mean_wl = (F.length(text_col) - (n_words - 1)) / n_words
    alpha = F.size(F.filter(toks, lambda x: x.rlike("^[A-Za-z]+$")))
    alpha_frac = alpha / F.greatest(n_words, F.lit(1))
    stop_en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(
        F.array_intersect(F.transform(toks, F.lower), stop_en)
    ).cast("long")
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = stop_hits >= min_stop_hits
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        r_words.alias("ok_words"),
        r_wl.alias("ok_word_len"),
        r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        (r_words & r_wl & r_alpha & r_stop).alias("keep"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """WITHIN-document repetition signals (Gopher §A1.1 repetition
    filters — the complement of cross-corpus dedup): per doc, the
    fraction of duplicate lines, the fraction of duplicate word
    ``n``-grams, and the share of the single most frequent n-gram.
    Machine-generated and boilerplate text scores high on all three.

    Shape (r5 — ONE pass): a single scan explodes to (doc, gram) rows
    with the per-doc line fraction riding along, then aggregates twice
    — both groupBys hash on doc-prefixed keys, so partial aggregation
    collapses each doc's grams map-side and the shuffle carries
    ~distinct-grams-per-doc rows, not the corpus token stream.
    ``explode_outer`` keeps gram-less docs (shorter than ``n`` tokens
    score 0) so no second scan + join-back is needed; the r4 two-branch
    form re-scanned the corpus for the line stats and paid a join
    exchange — the one-pass shape measured ~10% faster (string grams)
    and ~25% faster (hashed) at sf0.1.  Deriving dup/top fractions from
    the agg COUNTS (ints) keeps every array expression
    single-evaluation; three "zero-shuffle" row-local alternatives
    measured SLOWER at sf0.1 (struct-fold longest-run ~1.3×, per-index
    element_at run bounds ~10×, array_distinct-in-projection ~1.7× —
    interpreted higher-order lambdas and double-evaluated array exprs
    lose to Tungsten's compiled hash aggregate).

    ``hash_grams=True`` is the 100 TB path: grams become int64 BEFORE
    the shuffle (no gram string is ever built), shrinking shuffle width
    ~2×.  r6 moved the hashing out of the interpreted ``zip_with`` fold
    (``ngram_hash_fold``) into a fully codegen shape — ``arrays_zip``
    of the n shifted slices, explode, scalar chained ``xxhash64`` —
    same hash values, measured warm median 1.45s vs 2.4s at sf0.1
    (fresh-session isolation; the r4 ≤1.5s target).  Counts can merge
    on a 64-bit collision (probability ~grams²/2⁶⁴ per doc — ~1e-12
    for 10⁴-gram docs), so the exact string form stays the default and
    the oracle target; tests assert both forms agree on the corpus.
    """
    toks = tokens(F.col(text_col))
    lines = F.split(F.col(text_col), "\n")
    dup_line_frac = F.round(
        1 - F.size(F.array_distinct(lines)) / F.size(lines), 4
    )
    if hash_grams:
        # r6 shape: arrays_zip the n shifted slices (a codegen
        # expression — no higher-order lambda), explode, and hash the
        # struct fields with SCALAR chained xxhash64 in the same
        # projection.  Values are identical to ngram_hash_fold's
        # interpreted zip_with fold (same chain, same inputs), but
        # every per-token operation stays whole-stage-compiled; the
        # groupBy's map-side partial agg still means only (id, int64)
        # rows reach the shuffle.
        n_grams = F.greatest(F.size(toks) - n + 1, F.lit(0))
        sliced = _spread(df).select(
            F.col(id_col),
            dup_line_frac.alias("_dlf"),
            *[
                F.slice(toks, 1 + i, n_grams).alias(f"_s{i}")
                for i in range(n)
            ],
        )
        zipped = sliced.select(
            F.col(id_col),
            "_dlf",
            F.explode_outer(
                F.arrays_zip(*[F.col(f"_s{i}") for i in range(n)])
            ).alias("_z"),
        )
        acc = F.xxhash64(F.col("_z._s0")) if n == 1 else F.xxhash64(
            F.col("_z._s0"), F.col("_z._s1")
        )
        for k in range(2, n):
            acc = F.xxhash64(acc, F.col(f"_z._s{k}"))
        rows = zipped.select(
            F.col(id_col),
            "_dlf",
            # xxhash64 of an all-NULL struct row would yield the seed,
            # not NULL — keep gram-less docs' sentinel NULL explicit
            F.when(F.col("_z").isNull(), F.lit(None).cast("long"))
            .otherwise(acc)
            .alias("_gram"),
        )
    else:
        rows = _spread(df).select(
            F.col(id_col),
            dup_line_frac.alias("_dlf"),
            F.explode_outer(ngram_fold(toks, n)).alias("_gram"),
        )
    per_gram = rows.groupBy(id_col, "_gram").agg(
        F.count("*").alias("_c"), F.first("_dlf").alias("_dlf")
    )
    gram_row = F.col("_gram").isNotNull()
    agg = per_gram.groupBy(id_col).agg(
        F.first("_dlf").alias("dup_line_frac"),
        F.sum(F.when(gram_row, F.col("_c"))).alias("_total"),
        F.count("_gram").alias("_distinct"),
        F.max(F.when(gram_row, F.col("_c"))).alias("_top"),
    )
    return agg.select(
        id_col,
        "dup_line_frac",
        F.coalesce(
            F.round(1 - F.col("_distinct") / F.col("_total"), 4), F.lit(0.0)
        ).alias(f"dup_{n}gram_frac"),
        F.coalesce(
            F.round(F.col("_top") / F.col("_total"), 4), F.lit(0.0)
        ).alias(f"top_{n}gram_frac"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with contiguous ids — the tokenizer-training
    step: token → (count, token_id), ids assigned by (count desc, token
    asc) so the mapping is deterministic across runs and engines.

    Scale shape: the corpus-sized work is the explode + count groupBy
    (map-side partial aggregation collapses each partition's token
    stream first).  The ranking window is global-order BUT runs on the
    already-aggregated vocab table — bounded by distinct-token count
    (~10^5-10^6 for natural language regardless of corpus bytes), so the
    single-partition sort is over a small frame, not the corpus.
    """
    # r8: NOT _spread — tokenize+count is too light to amortize the
    # round-robin text shuffle (bench median 0.47s unspread vs 0.77s
    # spread at sf0.1); the heavy corpus passes below do spread.
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    vocab = counts.select(
        "token", "n", (F.row_number().over(w) - 1).alias("token_id")
    )
    if max_size is not None:
        vocab = vocab.filter(F.col("token_id") < max_size)
    return vocab


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """Encode each document's token stream as vocabulary ids (comma
    string — scalar catalog contract), preserving order; out-of-vocab
    tokens map to ``unk_id``.  The vocab broadcasts (it is bounded, see
    build_vocab); the corpus side is one explode + one map-side join +
    one per-doc reassembly groupBy on posexploded order."""
    pos = _spread(df).select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    joined = pos.join(F.broadcast(vocab.select("token", "token_id")),
                      on="token", how="left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token_id"))
                    ),
                    lambda x: F.coalesce(
                        x["token_id"], F.lit(unk_id)
                    ).cast("string"),
                ),
                ",",
            ).alias("token_ids")
        )
    )


def mixture_sample(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "source",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-source subsampling to hit a target data
    mixture — the "domain mixing" step of a training-data pipeline
    (e.g. keep 100% of books, 30% of common-crawl).

    Like :func:`train_split_assign`, membership is a pure function of
    the id (md5 bucket < fraction·n_buckets): re-running on a grown
    corpus keeps every previously-selected doc selected, and any
    engine can reproduce the exact row set — unlike ``sample()``, whose
    seed semantics are engine-private.  One projection + filter, no
    shuffle, fully pushdown-friendly.  Groups absent from ``fractions``
    are dropped (a mixture is a whitelist)."""
    pairs: list[Column] = []
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0,1], got {frac}")
        pairs += [F.lit(name), F.lit(int(round(frac * n_buckets)))]
    bound = F.create_map(*pairs)[F.col(group_col)]
    return df.filter(split_bucket(id_col, n_buckets) < bound)


def rolling_fingerprint_portable(
    col: Column | str, sep: str = " ", mod_bits: int = 40
) -> Column:
    """Order-sensitive polynomial rolling fingerprint any engine can
    reproduce: token hash = first 12 hex chars of md5(token) base-16
    (48 bits), folded as  h' = (h·31 + hash(tok)) mod 2^mod_bits.

    The explicit modulus keeps every intermediate below 2^54 — no
    64-bit wraparound, so the SAME fold runs in DuckDB/Trino/anything
    with exact bigint arithmetic (the xxhash64 variant above relies on
    Java long overflow and is engine-private).  Audit/parity variant;
    :func:`rolling_fingerprint` remains the single-hash-call scale
    path."""
    m = F.lit(1 << mod_bits).cast("bigint")
    return F.aggregate(
        tokens(col, sep),
        F.lit(0).cast("bigint"),
        lambda acc, tok: F.pmod(
            acc * F.lit(31).cast("bigint")
            + F.conv(F.substring(F.md5(tok.cast("binary")), 1, 12), 16, 10).cast(
                "bigint"
            ),
            m,
        ),
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own
    unigram distribution (add-alpha smoothed) — the CCNet-style
    LM-quality proxy: gibberish and boilerplate-free natural text score
    near the corpus mode, token soup and rare-token spam score low.

    logp(tok) = ln((count(tok) + alpha) / (N + alpha·V)); the doc score
    is the mean over its tokens.

    Scale shape: one explode + count groupBy builds the unigram table
    (bounded by vocabulary size, not corpus bytes); it broadcasts back
    onto the exploded stream, and the per-doc mean is a partial-final
    aggregate.  No Python, no per-row UDFs."""
    toks = _spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("N_total"), F.count("*").alias("V_size")
    )
    scored = toks.join(F.broadcast(counts), on="token").crossJoin(
        F.broadcast(tot)
    )
    logp = F.log(
        (F.col("n") + F.lit(alpha))
        / (F.col("N_total") + F.lit(alpha) * F.col("V_size"))
    )
    return toks.select(id_col).distinct().join(
        scored.groupBy(id_col).agg(
            F.round(F.avg(logp), 4).alias("logprob")
        ),
        on=id_col,
        how="left",
    )


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-doc mean CONDITIONAL bigram log-probability under the
    corpus's own add-alpha-smoothed bigram model — the second-order
    companion of :func:`unigram_logprob_score` (the CCNet-style
    perplexity filter): token soup with plausible unigrams but
    implausible transitions ("the the of and") scores low here while
    passing the unigram screen.

    logp(w₂|w₁) = ln((c(w₁w₂) + α) / (c₁(w₁) + α·V)) where c₁(w₁) is
    w₁'s PREFIX count (Σ_w c(w₁w)) and V the unigram vocabulary size;
    the doc score is the mean over its bigrams.  Docs with fewer than
    two tokens have no bigrams and score NULL.

    Scale shape: one explode builds the bigram stream (shifted-slice
    zip_with fold — no per-index lambda); the bigram table is a count
    groupBy bounded by DISTINCT bigrams, and the prefix table derives
    from it (vocabulary-bounded second groupBy, never a corpus rescan).
    Neither join is forced broadcast: the bigram table outgrows a
    broadcast at corpus scale, so AQE picks broadcast at small SF and
    shuffle-hash at 100 TB.  Only the 1-row vocab total is an explicit
    broadcast.  ln() differs across engines by ulps; round(4) of the
    mean absorbs it (same contract as the unigram scorer)."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    # r8: NOT _spread — three consumers re-execute the spread's text
    # shuffle, which outweighs the explode parallelism here (full-bench
    # medians 1.66s unspread vs 1.87s spread at sf0.1).  Two heavier
    # rewrites were measured and rejected: per-(doc,gram) pre-counts
    # (column pruning specializes the subtree per consumer, so the
    # explode still ran 3x — 1.95s) and a localCheckpoint barrier on
    # the counts (2.09s; materialization beats nothing here because
    # the wall is AQE job scheduling, not the explode).
    grams = df.select(F.col(id_col), F.explode(ngram_fold(toks, 2)).alias("g"))
    bg = grams.groupBy("g").agg(F.count("*").alias("nb"))
    c1 = bg.groupBy(F.substring_index("g", " ", 1).alias("_w1")).agg(
        F.sum("nb").alias("n1")
    )
    vocab = df.select(F.explode(toks).alias("_t")).agg(
        F.count_distinct("_t").alias("v")
    )
    scored = (
        grams.withColumn("_w1", F.substring_index("g", " ", 1))
        .join(bg, on="g")
        .join(c1, on="_w1")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.log(
        (F.col("nb") + F.lit(alpha))
        / (F.col("n1") + F.lit(alpha) * F.col("v"))
    )
    return df.select(id_col).join(
        scored.groupBy(id_col).agg(F.round(F.avg(logp), 4).alias("logprob")),
        on=id_col,
        how="left",
    )


def dsir_importance_weights(
    df: DataFrame,
    target_source: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    num_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    doc by how much its HASHED-n-gram profile looks like a target
    domain rather than the raw pool, so a general crawl can be
    resampled toward a high-quality target without training a
    classifier.

    Features are md5-hashed bigram buckets (``split_bucket`` — the
    engine-portable hash, bounded feature space of ``num_buckets``);
    both the target distribution p_t and the raw distribution p_r are
    add-``alpha``-smoothed bucket unigram models, and the per-doc
    weight is the MEAN over the doc's bigram instances of
    ln p_t(b) − ln p_r(b) (length-normalized log importance — the
    per-feature-count sum of the paper divided by doc gram count, so
    long docs don't dominate selection).  Docs with <2 tokens have no
    features and are not scored (NULL-free output by omission), same
    contract as :func:`bigram_logprob_score`.

    Scale shape: one explode pass over the corpus; both count tables
    collapse to ≤ ``num_buckets`` rows (bounded by the hash space, not
    corpus bytes), so the λ table broadcasts back onto the gram stream
    and the weight is a partial-final average — no corpus-sized
    shuffle beyond the single bucket groupBy.  round(4) absorbs ln()
    and summation-order ulps (the established scorer contract)."""
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    grams = _spread(df).select(
        F.col(id_col),
        F.col(source_col),
        F.explode(ngram_fold(toks, 2)).alias("g"),
    )
    b = grams.select(
        id_col, source_col, split_bucket(F.col("g"), num_buckets)
    )
    raw = b.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt = (
        b.filter(F.col(source_col) == target_source)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    tot = b.agg(
        F.count("*").alias("nr"),
        F.count(F.when(F.col(source_col) == target_source, 1)).alias("nt"),
    )
    denom = F.lit(alpha) * F.lit(float(num_buckets))
    lam_tbl = (
        raw.join(tgt, on="bucket", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + F.lit(alpha))
                    / (F.col("nt") + denom)
                )
                - F.log((F.col("cr") + F.lit(alpha)) / (F.col("nr") + denom))
            ).alias("lam"),
        )
    )
    return (
        b.join(F.broadcast(lam_tbl), on="bucket")
        .groupBy(id_col, source_col)
        .agg(F.round(F.avg("lam"), 4).alias("weight"))
    )


def stratified_sample_k(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample: rank rows inside each
    group by md5(id) (an engine-portable pseudo-random but stable
    order) and keep the first k — the balanced-eval-set builder.
    Unlike sampleBy, the selection is a pure function of the ids: any
    engine reproduces it, and k is EXACT per group, not expected.

    One shuffle on the group key; the rank window is per-group so no
    global sort exists.  At 100 TB prefer a high-cardinality
    ``group_col`` or pre-aggregation — a 5-group corpus funnels
    everything through 5 window tasks."""
    order = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "w1",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): each row draws u ∈ (0,1) as a pure function of
    md5(seed ‖ id) and scores key = u^(1/w); the k largest keys are the
    sample — inclusion probability rises with weight, selection is
    deterministic (same seed ⇒ same sample on any cluster layout), and
    a new epoch is just a new seed.  The quality-weighted subsampling
    primitive: w = quality score ⇒ better documents survive downsizing
    more often, without a sort by score (which would bias content).

    Rows with NULL or non-positive weight cannot be drawn (excluded,
    like NULL keys in aggregation).  Plan shape: one narrow projection
    + TakeOrderedAndProject — no shuffle beyond the bounded top-k.

    Rows-only in the catalog: key = u^(1/w) is transcendental, and
    libm pow may differ in the last ulp across engines, which could
    flip an order at the boundary — the selection properties are
    asserted in tests instead (equal weights reduce EXACTLY to the
    integer md5 ranking; determinism; weight monotonicity).
    """
    u_int = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(seed + "#"), F.col(id_col).cast("string")).cast(
                    "binary"
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    u = (u_int + 1.0) / float((1 << 48) + 2)  # strictly inside (0,1)
    w = F.col(weight_col).cast("double")
    key = F.pow(u, 1.0 / w)
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("_skey", key)
        .orderBy(F.col("_skey").desc(), F.col(id_col))
        .limit(k)
        .drop("_skey")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cluster_col: str | None = None,
    weights: tuple[int, int, int] = (8, 1, 1),
    seed: str = "split1",
) -> DataFrame:
    """Train/val/test assignment that cannot leak duplicates across
    splits: the split is a pure function of the DUPLICATE-CLUSTER key,
    not the document id, so every member of a cluster lands in the
    same split (the eval-contamination failure mode of naive random
    splits — a test doc whose near-twin sits in train).  Default
    cluster key is the exact-dedup fingerprint ``md5(text)``; pass
    ``cluster_col`` (e.g. near_duplicate_clusters' ``cluster``) to
    make the guarantee transitive over NEAR-dups.

    Assignment: bucket = 48-bit md5(seed ‖ cluster_key) mod
    sum(weights); buckets [0, w_train) → train, [w_train,
    w_train+w_val) → val, rest → test.  Deterministic across runs and
    engines (pure integer arithmetic on the digest), rebalanced only
    by changing ``seed``.  One narrow projection — no shuffle, no
    state; the invariant "same cluster ⇒ same split" holds by
    construction rather than by join."""
    key = (
        F.col(cluster_col).cast("string")
        if cluster_col
        else F.md5(F.col(text_col).cast("binary"))
    )
    total = sum(weights)
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + "#"), key).cast("binary")), 1, 12
        ),
        16,
        10,
    ).cast("long") % total
    split = (
        F.when(bucket < weights[0], F.lit("train"))
        .when(bucket < weights[0] + weights[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(F.col(id_col), split.alias("split"))


def select_to_token_budget(
    df: DataFrame,
    budget: int,
    value_col: Column | str,
    score_col: Column | str,
    descending: bool = True,
    id_col: str = "doc_id",
    total_col: str = "cum_tokens",
) -> DataFrame:
    """Greedy quality-ordered corpus selection under a token budget:
    walk documents best-``score_col``-first (ties broken by id) and
    keep each doc whose cumulative ``value_col`` total, itself
    included, still fits ``budget`` — the standard "take the best N
    tokens" cut when assembling a training mix from a scored corpus.

    Exactly ``sum(value) OVER (ORDER BY score, id) <= budget``, but
    planned scalably: the running total
    (operators.indexing.running_total — the zip_with_index two-pass
    shape generalized to sums) runs over a NARROW (id, score, value)
    projection, and survivors rejoin the corpus by id — the document
    text never passes through the prefix-sum machinery.  Keeps every
    input column plus ``total_col``."""
    from spark_monotasks_spark.operators.indexing import running_total

    value = F.col(value_col) if isinstance(value_col, str) else value_col
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    narrow = df.select(F.col(id_col), value.alias("_v"), score.alias("_q"))
    order = [
        F.col("_q").desc() if descending else F.col("_q").asc(),
        F.col(id_col),
    ]
    run = running_total(narrow, "_v", order, total_col=total_col)
    kept = run.filter(F.col(total_col) <= budget).select(id_col, total_col)
    return df.join(kept, on=id_col, how="inner")


def cap_per_group(
    df: DataFrame,
    cap: int,
    value_col: Column | str,
    score_col: Column | str,
    group_col: str = "source",
    descending: bool = True,
    id_col: str = "doc_id",
    total_col: str = "cum_in_group",
) -> DataFrame:
    """Per-group contribution cap — the domain-cap curation rule: within
    each ``group_col`` (source / domain / site), walk documents
    best-``score_col``-first (ties by id) and keep each doc while the
    group's cumulative ``value_col`` total, itself included, still fits
    ``cap``.  Bounds any single domain's share of the training mix —
    the standard defense against one crawl host dominating the corpus.

    Scale shape: the running sum is a window PARTITIONED by the group
    key over a NARROW (id, group, score, value) projection — groups
    are domains, so parallelism is wide; survivors rejoin the corpus
    by id and the text never enters the window.  A pathologically
    giant single domain would skew one partition; for that case run
    :func:`select_to_token_budget` on the one domain instead (its
    two-pass prefix sum has no per-key partition)."""
    from pyspark.sql import Window

    value = F.col(value_col) if isinstance(value_col, str) else value_col
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    narrow = df.select(
        F.col(id_col), F.col(group_col), value.alias("_v"), score.alias("_q")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(
            F.col("_q").desc() if descending else F.col("_q").asc(),
            F.col(id_col),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = narrow.withColumn(total_col, F.sum("_v").over(w))
    kept = run.filter(F.col(total_col) <= cap).select(id_col, total_col)
    return df.join(kept, on=id_col, how="inner")


def ngram_novelty(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    sep: str = " ",
) -> DataFrame:
    """Novelty of each candidate doc against a REFERENCE corpus: the
    fraction of the doc's distinct k-token shingles absent from the
    reference's shingle set — high novelty flags genuinely new
    content, low novelty flags recombinations of already-held text
    (the diversity-selection / redundancy-screen signal; contamination
    screening is the k-gram EQUI-join twin, see contamination_check).

    Output: (id, n_grams, n_novel, novelty) with novelty rounded to 6
    (one IEEE-exact divide).  Scale shape: both sides reduce to
    (gram) / (id, gram) keys before the join — the reference corpus
    collapses to its DISTINCT gram set once (vocabulary-bounded) and
    never ships text; the join strategy is AQE's call (broadcast when
    the reference gram set is small, shuffle-hash at scale)."""
    from spark_monotasks_spark.pipeline.dedup import shingles

    cand = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), k, sep)).alias("g"),
    )
    ref_grams = (
        ref.select(F.explode(shingles(F.col(text_col), k, sep)).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        cand.join(ref_grams, on="g", how="left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_seen"),
        )
        .select(
            "id",
            F.col("n_grams").cast("long").alias("n_grams"),
            (F.col("n_grams") - F.col("n_seen")).cast("long").alias("n_novel"),
            F.round(
                (F.col("n_grams") - F.col("n_seen")).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("novelty"),
        )
    )


#: classic UTF-8-decoded-as-Latin-1 artifacts ("Ã©", "â€™", the
#: replacement char) — RE2-compatible like REDACT_RULES so external
#: engines can re-run the screen
MOJIBAKE_RE = "(Ã.|â€.|ï¿½|�)"
#: C0 control chars except tab/newline/carriage-return
CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def encoding_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encoding-damage screen — the QA pass that catches mojibake
    (UTF-8 bytes decoded as Latin-1: "Ã©" for "é", "â€™" for "'"),
    replacement characters, and stray C0 control bytes before they
    poison a tokenizer's vocabulary.  Counts per doc plus an
    ``encoding_ok`` verdict (both counts zero).  One codegen regex
    projection — zero shuffle, linear, and the patterns are
    RE2-compatible so any engine replays the screen exactly."""
    c = F.col(text_col)
    n_moji = F.size(F.regexp_extract_all(c, F.lit(MOJIBAKE_RE), 0))
    n_ctl = F.size(F.regexp_extract_all(c, F.lit(CONTROL_RE), 0))
    return df.select(
        F.col(id_col),
        F.length(c).cast("long").alias("n_chars"),
        n_moji.cast("long").alias("n_mojibake"),
        n_ctl.cast("long").alias("n_control"),
        ((n_moji == 0) & (n_ctl == 0)).alias("encoding_ok"),
    )


def duplicate_downweight(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_col: str = "sample_weight",
) -> DataFrame:
    """Soft dedup: keep EVERY copy but weight each document by the
    reciprocal of its exact-duplicate cluster size (1/n_copies) — the
    alternative to hard removal when duplication frequency itself is
    signal (popular licenses, boilerplate) but a training epoch should
    see each distinct text with total weight 1.  One fingerprint
    groupBy (ids + counts only, the payload never shuffles) joined
    back by the fingerprint; the weight is one IEEE-exact divide."""
    fp = F.md5(F.col(text_col).cast("binary"))
    with_fp = df.withColumn("_fp", fp)
    counts = with_fp.groupBy("_fp").agg(F.count("*").alias("_n"))
    return (
        with_fp.join(counts, on="_fp")
        .withColumn(
            weight_col, F.round(F.lit(1.0) / F.col("_n"), 6)
        )
        .drop("_fp", "_n")
    )


def corpus_data_card(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The per-slice corpus report a dataset release ships (the "data
    card"): document and token counts, size, and the corpus-wide
    exact-duplicate exposure of every (source, lang) slice — the first
    table anyone asks for before training on a mix.

    ``dup_docs`` counts a slice's docs whose text also appears
    elsewhere in the WHOLE corpus (cluster size > 1 under the global
    fingerprint), so a slice that only copies another slice is
    exposed.  One fingerprint count join-back (ids + counts, payload
    never shuffles) + one grouped aggregate; ``avg_chars`` and
    ``dup_frac`` are single IEEE-exact divides."""
    fp = F.md5(F.col(text_col).cast("binary"))
    with_fp = df.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col),
        F.length(F.col(text_col)).alias("_chars"),
        F.size(F.split(F.col(text_col), " ")).alias("_toks"),
        fp.alias("_fp"),
    )
    counts = with_fp.groupBy("_fp").agg(F.count("*").alias("_n"))
    return (
        with_fp.join(counts, on="_fp")
        .groupBy(*group_cols)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_toks").cast("long").alias("n_tokens"),
            F.sum("_chars").cast("long").alias("n_chars"),
            F.round(
                F.sum("_chars").cast("double") / F.count("*"), 6
            ).alias("avg_chars"),
            F.sum((F.col("_n") > 1).cast("long")).alias("dup_docs"),
            F.round(
                F.sum((F.col("_n") > 1).cast("long")).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_frac"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): per ``group_col``, rank documents by LM
    quality and split into equal thirds — the curation step that feeds
    'head' into pretraining mixes.  The score here is the corpus's own
    smoothed unigram log-probability (:func:`unigram_logprob_score` —
    CCNet proper uses an external KenLM; the bucketing logic is
    identical and the scorer is swappable).  Higher logprob = less
    perplexed = head.  Ranks break ties on the ROUNDED score then
    ``id_col``, so the assignment is deterministic and replayable.

    Scale shape: the scoring pass is the unigram operator's (explode +
    vocabulary-bounded count table broadcast back); the exact thirds
    need one rank window PARTITIONED by group (gate-safe — no global
    window).  At 100 TB replace the exact rank with approx-percentile
    score thresholds broadcast back (the
    :func:`top_fraction_per_group` ``exact=False`` pattern) — buckets
    then cost one linear map-side comparison and ties at the cut
    survive into the better bucket."""
    scored = unigram_logprob_score(df, id_col, text_col, alpha).join(
        df.select(id_col, group_col), on=id_col
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("logprob").desc(), F.col(id_col)
    )
    n_w = Window.partitionBy(group_col)
    ranked = scored.select(
        id_col,
        group_col,
        "logprob",
        F.row_number().over(w).alias("_rk"),
        F.count("*").over(n_w).alias("_n"),
    )
    bucket = (
        F.when(F.col("_rk") * 3 <= F.col("_n"), F.lit("head"))
        .when(F.col("_rk") * 3 <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(id_col, group_col, "logprob", bucket.alias("bucket"))


def weighted_sample_k_pow2(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: str = "w1",
    max_exp: int = 30,
) -> DataFrame:
    """:func:`weighted_sample_k` with weights quantized to powers of
    two — the ENGINE-PORTABLE twin (r6, the temperature_mixture
    IEEE-exactness playbook): w_q = 2^floor(log2 w), so the A-Res key
    u^(1/w_q) is floor(log2 w) chained ``sqrt`` calls.  Every step —
    the 48-bit md5 draw, the (u+1)/(2^48+2) division, each sqrt — is
    an IEEE-754 correctly-rounded operation, so the keys (and hence
    the top-k selection) are BIT-IDENTICAL in any IEEE engine; no
    libm ``pow`` ulp wobble.  The exponent bucket is a literal
    comparison chain (no log2 call, whose last-ulp could disagree at
    exact powers of two).

    Rows with NULL or < 1 weight are excluded (the quantization needs
    w ≥ 1; the true-weight form handles (0, 1)).  Quantization coarsens
    inclusion probabilities by at most 2× within a weight octave —
    acceptable for curation mixes, and the price of exact cross-engine
    replay; :func:`weighted_sample_k` remains the true-weight path.
    """
    u_int = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit(seed + "#"), F.col(id_col).cast("string")).cast(
                    "binary"
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double")
    u = (u_int + 1.0) / float((1 << 48) + 2)  # strictly inside (0,1)
    w = F.col(weight_col).cast("double")
    # descending guard chain: first match wins = floor(log2 w)
    exp_expr = F.when(w >= float(1 << max_exp), F.lit(max_exp))
    for j in range(max_exp - 1, -1, -1):
        exp_expr = exp_expr.when(w >= float(1 << j), F.lit(j))
    chained = u
    key = F.when(exp_expr == 0, chained)
    for j in range(1, max_exp + 1):
        chained = F.sqrt(chained)
        key = key.when(exp_expr == j, chained)
    return (
        df.filter(w.isNotNull() & (w >= 1.0))
        .withColumn("_skey", key)
        .orderBy(F.col("_skey").desc(), F.col(id_col))
        .limit(k)
        .drop("_skey")
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "epoch1",
    top_k: int | None = None,
) -> DataFrame:
    """Reproducible global shuffle: order by md5(seed ‖ id) — the
    training-loader epoch permutation.  A pure function of ids, so any
    engine (and any rerun, any partitioning) produces the identical
    order; the next epoch is just the next seed.  Adds ``shuffle_pos``
    (1-based).

    Two scale-safe shapes (r5 — the old single shape was an
    un-partitioned ``row_number`` window, a one-task sort of the corpus
    whenever no rank filter followed it, and its docstring wrongly
    claimed range partitioning):

    * ``top_k=None`` (full permutation): the distributed two-pass
      zipWithIndex (operators/indexing.py) — a genuine sampled
      range-partitioned sort on the hash key plus broadcast offsets.
    * ``top_k=k`` (permutation prefix): ``row_number`` window + rank
      filter, which Catalyst's LimitPushDownThroughWindow rewrites to a
      bounded TakeOrderedAndProject heap BELOW the window — only k rows
      ever reach one task; the right plan when k ≪ corpus.
    """
    h = F.md5(
        F.concat(F.lit(seed + "#"), F.col(id_col).cast("string")).cast("binary")
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.orderBy(h.asc(), F.col(id_col).asc())
        return (
            df.withColumn("shuffle_pos", F.row_number().over(w))
            .filter(F.col("shuffle_pos") <= top_k)
        )
    from spark_monotasks_spark.operators.indexing import zip_with_index

    indexed = zip_with_index(
        df.withColumn("_h", h),
        order_cols=[F.col("_h"), F.col(id_col)],
        index_col="_idx",
    )
    return indexed.select(
        *[c for c in df.columns],
        (F.col("_idx") + 1).alias("shuffle_pos"),
    )


# ---------------------------------------------------------------------------
# text cleaning + URL/domain curation (C4 / RefinedWeb-style web filters)
# ---------------------------------------------------------------------------

#: C0 control characters (minus \t \n \r, which are whitespace) + DEL.
#: Literal-class pattern runs identically under java.util.regex (Spark)
#: and RE2 (DuckDB oracle) — no engine-specific escapes.
CONTROL_CHARS_RE = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

#: zero-width space/joiners + BOM — invisible codepoints that survive
#: naive scraping and poison tokenizers; literal chars, engine-portable.
ZERO_WIDTH_RE = "[​‌‍﻿]"


def clean_text(col: Column | str, collapse_whitespace: bool = True) -> Column:
    """Web-scrape text normalization: strip control + zero-width
    characters, then (optionally) collapse whitespace runs to single
    spaces and trim.

    Reference analogy: none — the reference has no text-curation layer;
    beyond-reference brief item (the C4 §2.1 cleanup step every corpus
    build runs before dedup/quality passes).  Scale shape: three
    chained ``regexp_replace`` in ONE codegen projection — no Python,
    no extra pass per rule, no shuffle; at 100 TB this fuses into the
    scan stage."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, CONTROL_CHARS_RE, "")
    c = F.regexp_replace(c, ZERO_WIDTH_RE, "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


#: HTML extraction patterns — lookaround-free, backref-free, non-greedy
#: with inline (?is)/(?s) flags, so java.util.regex (Spark codegen) and
#: RE2 (DuckDB oracles) agree token-for-token.  Element CONTENT of
#: script/style must go before generic tag stripping (a `1 < 2` inside
#: a script would otherwise glue onto the next tag).
HTML_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"<[^>]*>"
HTML_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"

#: the half-dozen named entities that dominate real crawl text; &amp;
#: decodes LAST so "&amp;lt;" correctly yields the literal "&lt;".
HTML_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_extract_text(col: Column | str) -> Column:
    """HTML → visible text extraction: drop script/style element content
    and comments, strip tags (as word boundaries — a space, so
    ``</td><td>`` separated cells don't merge), decode the common named
    entities, collapse whitespace.  The trafilatura/resiliparse step
    every CommonCrawl-derived corpus runs before any quality or dedup
    pass.

    Reference analogy: none — beyond-reference brief item (web-scrape
    ingestion for the training-data pipeline layer).  Scale shape: a
    chain of ``regexp_replace``/``replace`` in ONE codegen projection —
    no Python, no shuffle; at 100 TB this fuses into the scan stage
    exactly like :func:`clean_text`."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, HTML_SCRIPT_RE, " ")
    c = F.regexp_replace(c, HTML_STYLE_RE, " ")
    c = F.regexp_replace(c, HTML_COMMENT_RE, " ")
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_extract_title(col: Column | str) -> Column:
    """First ``<title>`` element's text (entity-decoded, trimmed); empty
    string when absent — the page-level metadata web curation keys on."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.regexp_extract(c, HTML_TITLE_RE, 1)
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


#: PII patterns — deliberately lookaround-free and backref-free so
#: java.util.regex (Spark codegen) and RE2 (DuckDB oracles) agree
#: token-for-token.  These are the high-precision "structured PII"
#: detectors every public curation pipeline ships (C4 removed pages on
#: blocklists; Dolma/FineWeb redact emails+IPs+phones in place —
#: redaction keeps the document, which preserves corpus statistics).
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Structured-PII detection + in-place redaction: emails, E.164-ish
    phone numbers, and IPv4 literals are counted and replaced by typed
    placeholder tokens (``[EMAIL]``/``[PHONE]``/``[IP]``) — the
    Dolma/FineWeb-style redaction pass that sanitizes a training corpus
    without dropping documents.

    Returns ``(id, n_emails, n_phones, n_ips, redacted)``.  Scale
    shape: three ``regexp_extract_all`` counts + three chained
    ``regexp_replace`` in ONE codegen projection — fuses into the scan
    at 100 TB, no shuffle, no Python.  Redaction order (phone → email
    → ip) is fixed so placeholder text can never be re-matched by a
    later pattern; the patterns share no overlap on well-formed input,
    making the order immaterial there, but fixing it keeps the output
    a pure function of the text.

    Reference analogy: none — beyond-reference brief item (the privacy
    pass of the training-data pipeline layer)."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0))
    n_ips = F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), 0))
    red = F.regexp_replace(c, PII_PHONE_RE, "[PHONE]")
    red = F.regexp_replace(red, PII_EMAIL_RE, "[EMAIL]")
    red = F.regexp_replace(red, PII_IPV4_RE, "[IP]")
    return df.select(
        F.col(id_col).alias("id"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        red.alias("redacted"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document gzip compression ratio — the Gopher/Dolma quality
    signal that catches machine-generated and highly repetitive text
    (boilerplate compresses far below natural prose; the rule fires
    where token-level repetition stats miss long-range structure).

    Returns ``(id, n_bytes, n_compressed, ratio)`` with ratio =
    compressed/raw rounded to 4 (empty text → ratio NULL).
    Deterministic: zlib with a fixed level is a canonical encoder, so
    the column is stable across runs and machines — but no SQL engine
    re-states a DEFLATE stream, so catalog exposure is terminally
    rows-only with planted-structure invariant tests (CATALOG.md
    dispositions).

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass (zlib is
    C-speed per batch, stdlib — no extra dependency), no shuffle; at
    100 TB this pipelines with the scan exactly like the multimodal
    codec operators.  A row-at-a-time Python UDF would be the gated
    anti-pattern; the batch form amortizes the Python round trip.

    Reference analogy: none — beyond-reference brief item (quality
    scoring family of the training-data pipeline layer)."""
    import pandas as pd

    out_schema = "id long, n_bytes long, n_compressed long, ratio double"

    def batches(it):
        import zlib

        for pdf in it:
            texts = pdf[text_col]
            raw = [
                t.encode("utf-8") if isinstance(t, str) else b""
                for t in texts
            ]
            comp = [len(zlib.compress(b, level)) if b else None for b in raw]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_bytes": [len(b) for b in raw],
                    "n_compressed": comp,
                    "ratio": [
                        round(c / len(b), 4) if c is not None else None
                        for c, b in zip(comp, raw)
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


#: scheme://… up to whitespace or common HTML delimiters; identical
#: semantics in java.util.regex and RE2 (no lookaround, no backrefs).
URL_RE = r"""https?://[^\s<>"']+"""

#: capture the host: skip optional userinfo, stop at port/path/end.
URL_HOST_RE = r"""https?://(?:[^/@\s<>"']+@)?([^/:\s<>"']+)"""


#: URL decomposition — scheme / optional userinfo / host / optional
#: port / path / optional query / (fragment implicitly dropped).
#: Non-capturing groups only; identical in java.util.regex and RE2.
URL_PARTS_RE = (
    r"""^(https?)://(?:[^/@?#\s]+@)?([^/:?#\s]+)(?::(\d+))?"""
    r"""([^?#\s]*)(?:\?([^#\s]*))?"""
)

#: query parameters that never identify content — the standard strip
#: set for re-crawl dedup (RE2/Java-identical prefix alternation).
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref)="


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of a URL for re-crawl/duplicate-fetch dedup (the
    CommonCrawl-curation normalization): lowercase scheme+host, drop
    userinfo and fragments, strip default ports (80/http, 443/https),
    strip tracking query parameters (``TRACKING_PARAM_RE``), preserve
    the order of surviving parameters, and trim trailing slashes from
    the path.  One codegen projection — decomposition is a single
    regex, the parameter filter is an array filter over the split
    query string; every step replays identically in an RE2 engine.
    Non-http(s) input canonicalizes to NULL (the regex doesn't match)."""
    c = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(c, URL_PARTS_RE, 1))
    host = F.lower(F.regexp_extract(c, URL_PARTS_RE, 2))
    port = F.regexp_extract(c, URL_PARTS_RE, 3)
    path = F.regexp_extract(c, URL_PARTS_RE, 4)
    query = F.regexp_extract(c, URL_PARTS_RE, 5)
    port_kept = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path_c = F.regexp_replace(path, r"/+$", "")
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    query_kept = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        scheme == "", F.lit(None).cast("string")
    ).otherwise(
        F.concat(scheme, F.lit("://"), host, port_kept, path_c, query_kept)
    )


def dedup_by_canonical_url(
    df: DataFrame, url_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Group fetches by canonical URL: ``(canonical_url, n_variants,
    keep_id)`` — min-``id_col`` survivor per canonical target, the
    re-crawl screen that collapses tracking-parameter / casing /
    default-port / trailing-slash variants of the same page.  Rows
    whose URL fails to canonicalize (non-http) group under NULL like
    null keys in aggregation.  One hash groupBy on the canonical
    string; the page payload never shuffles (ids only — recover
    survivors with a semi join, the exact-dedup pattern)."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            canonicalize_url(url_col).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("_id").alias("keep_id"),
        )
    )


def extract_urls(col: Column | str) -> Column:
    """All http(s) URLs in a document as ``array<string>`` (JVM-side
    ``regexp_extract_all`` — one pass, no explode until the caller
    decides granularity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(URL_RE), 0)


def url_domain(col: Column | str) -> Column:
    """Lower-cased host of a URL (scheme/userinfo/port/path stripped)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, URL_HOST_RE, 1))


def domain_counts(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-domain URL frequency across the corpus: ``(domain, n_urls,
    n_docs)`` — the curation signal behind domain-level quality and
    blocklist decisions (RefinedWeb §3.1 URL filtering).

    Scale shape: the explode emits (domain, id) pairs ONLY — document
    text never leaves the scan stage; one hash aggregate with map-side
    partials on a low-cardinality key."""
    pairs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(extract_urls(text_col)).alias("_url"),
    ).select(url_domain(F.col("_url")).alias("domain"), "_id")
    return pairs.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("_id").alias("n_docs"),
    )


def blocklist_filter(
    df: DataFrame,
    blocked_domains: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every document containing at least one URL whose domain is
    in ``blocked_domains`` (a 1-column ``domain`` DataFrame).

    Scale shape: the blocklist (thousands of rows) is explicitly
    broadcast; matching is a broadcast LEFT SEMI over exploded
    (id, domain) pairs — text never shuffles — and the surviving-doc
    set comes back as a broadcast-able anti-join on ids."""
    pairs = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(extract_urls(text_col)).alias("_url"),
    ).select("_id", url_domain(F.col("_url")).alias("domain"))
    hit_ids = (
        pairs.join(F.broadcast(blocked_domains), on="domain", how="left_semi")
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
    return df.join(hit_ids, on=id_col, how="left_anti")


def top_fraction_per_group(
    df: DataFrame,
    score_col: str,
    frac: float,
    group_cols: list[str] | tuple[str, ...] = ("lang",),
    id_col: str = "doc_id",
    exact: bool = True,
    relative_error: float = 0.001,
) -> DataFrame:
    """Quantile-calibrated filter: keep the top ``frac`` fraction of
    rows per group by ``score_col`` — the "keep the best X% per
    language" curation step, where the threshold is learned from the
    data instead of hand-tuned.

    Two shapes:

    * ``exact=True`` (the audit path): partitioned ``row_number`` rank
      ≤ ceil(n·frac), deterministic under the (score desc, id) order
      and exactly reproducible by any engine — the catalog oracle.
      One shuffle on the group key; each group sorts within its
      partition, so a group holding half the corpus funnels into one
      task — fine for bounded groups (languages, sources), wrong for
      high-skew keys at 100 TB.
    * ``exact=False`` (the scale path): per-group
      ``approx_percentile(score, 1-frac)`` — a tiny mergeable-sketch
      aggregate — broadcast back as thresholds, then a map-side
      ``score >= thr`` filter.  Linear, skew-immune, two passes over
      the data and no per-group sort; the kept fraction is approximate
      within the sketch's ``relative_error`` (and ties at the
      threshold all survive).
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    gcols = list(group_cols)
    if exact:
        from pyspark.sql import Window

        w = Window.partitionBy(*gcols).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        n = Window.partitionBy(*gcols)
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(n))
            .filter(F.col("_rk") <= F.ceil(F.col("_n") * frac))
            .drop("_rk", "_n")
        )
    thr = df.groupBy(*gcols).agg(
        F.percentile_approx(
            score_col, 1.0 - frac, int(1.0 / relative_error)
        ).alias("_thr")
    )
    return (
        df.join(F.broadcast(thr), on=gcols)
        .filter(F.col(score_col) >= F.col("_thr"))
        .drop("_thr")
    )


def temperature_mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture sampling: keep a deterministic subset
    whose per-group allocation follows p_g ∝ n_g^alpha (the multilingual
    up-sampling recipe — alpha=1 preserves natural proportions, alpha→0
    flattens toward uniform, boosting small groups), scaled so the
    expected total is ``target_fraction`` of the corpus; per-group
    rates cap at 1 (a group can't be sampled above its size).

    Unlike :func:`mixture_sample`, the fractions are LEARNED from the
    corpus distribution — no hand-tuned dict, no driver round-trip: the
    group counts are a tiny aggregate, the weight normalization is a
    window over those few rows, and the rates broadcast back onto a
    map-side md5-bucket filter (same pure-function-of-id membership as
    mixture_sample: stable under corpus growth, reproducible by any
    engine).

    Bit-exact portability: weights are floored to integers
    (floor(n^alpha·1000)) before normalizing, so the only float ops an
    external engine must reproduce are one division and one
    multiply-chain on identical inputs — and for alpha=0.5 the power
    is IEEE-exact ``sqrt``, making the whole rate computation
    bit-identical across engines (the catalog oracle's configuration).
    Other alphas go through ``pow``, which engines may round off by an
    ulp — fine for sampling, not for value audits."""
    from pyspark.sql import Window

    if not 0.0 <= target_fraction <= 1.0:
        raise ValueError(f"target_fraction must be in [0,1], got {target_fraction}")
    if alpha < 0.0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_g"))
    wexpr = F.sqrt("n_g") if alpha == 0.5 else F.pow("n_g", F.lit(alpha))
    w = counts.withColumn("wg", F.floor(wexpr * 1000).cast("long"))
    # the window's input is the bounded group-count aggregate (a few
    # dozen rows), not the corpus — the unbounded-window plan gate
    # recognizes the Aggregate child
    wall = Window.partitionBy()
    q = w.withColumn("W", F.sum("wg").over(wall)).withColumn(
        "N", F.sum("n_g").over(wall)
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(float(target_fraction))
        * F.col("N")
        * (F.col("wg") / F.col("W"))
        / F.col("n_g"),
    )
    rates = q.select(group_col, rate.alias("_rate"))
    bound = F.floor(F.col("_rate") * n_buckets).cast("long")
    return (
        df.join(F.broadcast(rates), on=group_col)
        .filter(split_bucket(id_col, n_buckets) < bound)
        .drop("_rate")
    )


# ---------------------------------------------------------------------------
# drop-set rewrite (shared by boilerplate, segment, span and scrub cuts)
# ---------------------------------------------------------------------------

def _rewrite_without(
    df: DataFrame,
    drops: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
    sep: str,
    unit: int = 1,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """Join the per-doc drop sets ``drops`` (``id_col``, ``_drop_pos``)
    back to ``df`` and add ``out_col``: the text split on ``sep``, less
    every part whose index div ``unit`` is in the drop set, re-joined
    with ``sep``.  Then add the ``extra`` columns, which may read
    ``_drop_pos``; it is dropped last.

    Only the drop sets shuffle back to the doc partition; the text
    never does, and the rebuild is a map-side array filter.  Documents
    without a drop set (NULL after the left join) keep their text
    VERBATIM without entering the filter lambda, which is interpreted
    per element and is the expensive part (measured ~10% faster
    end-to-end at sf0.1 where 40% of docs are untouched).  For
    sep-canonical text (single separators, no leading/trailing)
    verbatim equals re-joined, asserted over random corpora in
    tests/test_merge_properties.py."""
    parts = F.split(F.col(text_col), re.escape(sep))
    drop = F.col("_drop_pos")
    index = (lambda i: i) if unit == 1 else (lambda i: F.floor(i / unit).cast("int"))
    kept = F.filter(
        parts, lambda p, i: ~F.coalesce(F.array_contains(drop, index(i)), F.lit(False))
    )
    rebuilt = F.when(drop.isNull(), F.col(text_col)).otherwise(F.concat_ws(sep, kept))
    return (
        df.join(drops, on=id_col, how="left")
        .withColumns({out_col: rebuilt, **(extra or {})})
        .drop("_drop_pos")
    )


# ---------------------------------------------------------------------------
# boilerplate line removal (CCNet §4.1 / RefinedWeb line-wise filtering)
# ---------------------------------------------------------------------------

def _line_occurrences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None,
) -> DataFrame:
    """(id[, group], pos, fp1, fp2) for every line of every document —
    the 128-bit fingerprint pair of the TRIMMED line (leading/trailing
    whitespace never distinguishes boilerplate); line text itself is
    dropped before anything shuffles."""
    gcols = [group_col] if group_col else []
    occ = _spread(df).select(
        F.col(id_col).alias("id"),
        *gcols,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_line"),
    )
    key = F.trim(F.col("_line"))
    return occ.select(
        "id",
        *gcols,
        "pos",
        F.xxhash64(key, F.lit(1)).alias("fp1"),
        F.xxhash64(key, F.lit(2)).alias("fp2"),
    )


def boilerplate_line_fps(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
    min_docs: int = 3,
) -> DataFrame:
    """Fingerprints of boilerplate lines: lines whose trimmed form
    appears in at least ``min_docs`` DISTINCT documents (within
    ``group_col`` when given — per-domain headers/footers/nav bars are
    boilerplate for *their* site, not globally).

    Reference analogy: none — beyond-reference brief item (the CCNet
    §4.1 / RefinedWeb §3.2 line-frequency signal behind "remove lines
    repeated across pages of the same domain").

    Scale shape: the shuffle key is ([group,] fp1, fp2) — 16 bytes of
    line fingerprint, never line text; COUNT(DISTINCT id) plans the
    standard two-phase expand aggregate with map-side partials.  Output
    is the (small) boilerplate set only."""
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    gcols = [group_col] if group_col else []
    occ = _line_occurrences(df, id_col, text_col, group_col)
    return (
        occ.groupBy(*gcols, "fp1", "fp2")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "source",
    min_docs: int = 3,
) -> DataFrame:
    """Strip boilerplate lines (every occurrence — unlike segment dedup
    there is no first-survivor: a nav bar is noise in ALL its pages)
    and reassemble each document from its surviving lines, appending
    ``text_clean``, ``n_lines_kept`` and ``n_lines_removed``.

    Scale shape (the drop-positions idiom of
    :func:`~spark_monotasks_spark.pipeline.dedup.drop_duplicate_segments`):
    shuffle #1 aggregates 16-byte line fingerprints into the (small)
    boilerplate set; matching it back is a join on those fingerprints
    carrying (id, pos) only; shuffle #2 ships per-doc drop-position
    SETS to the doc partition; the rebuild is :func:`_rewrite_without`
    with the line as the unit."""
    gcols = [group_col] if group_col else []
    occ = _line_occurrences(df, id_col, text_col, group_col)
    bp = boilerplate_line_fps(df, id_col, text_col, group_col, min_docs)
    drops = (
        occ.join(bp, on=[*gcols, "fp1", "fp2"], how="left_semi")
        .groupBy("id")
        .agg(F.collect_set("pos").alias("_drop_pos"))
        .withColumnRenamed("id", id_col)
    )
    n_total = F.size(F.split(F.col(text_col), "\n"))
    n_drop = F.coalesce(F.size("_drop_pos"), F.lit(0))
    return _rewrite_without(
        df,
        drops,
        id_col,
        text_col,
        "text_clean",
        "\n",
        extra={
            "n_lines_kept": (n_total - n_drop).cast("long"),
            "n_lines_removed": n_drop.cast("long"),
        },
    )


# ---------------------------------------------------------------------------
# overlapping-window document chunking (context-length preparation)
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
    sep: str = " ",
) -> DataFrame:
    """Split each document into overlapping fixed-width token windows —
    the context-length preparation step for training/embedding
    pipelines (chunk c covers tokens [c·stride, c·stride+chunk_tokens);
    stride < chunk_tokens overlaps consecutive chunks so no boundary
    loses context).  Output: (id, chunk_id, chunk_text, n_chunk_tokens).

    Reference analogy: none — beyond-reference brief item.  Scale
    shape: one map-side projection per document (split → bounded
    ``sequence`` of starts → ``posexplode`` → ``slice``); zero
    shuffles, fan-out ≤ ceil(n_tokens/stride) rows per doc, and the
    slice re-derives chunk text from the doc row itself so nothing
    wider than the document ever materializes.  The trailing partial
    window is kept (its tokens appear in no later chunk); documents
    shorter than one stride yield exactly one chunk.  The starts
    sequence and the token array live in one exploded row, so the
    explode and the slice stay in one codegen stage (no self-join)."""
    import re as _re

    if chunk_tokens < 1 or stride < 1:
        raise ValueError(
            f"chunk_tokens ({chunk_tokens}) and stride ({stride}) must be >= 1"
        )
    toks = F.split(F.col(text_col), _re.escape(sep))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = df.select(
        F.col(id_col).alias("id"),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        "id",
        "chunk_id",
        F.concat_ws(sep, chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
    )


def reassemble_chunks(
    chunks: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "id",
    chunk_id_col: str = "chunk_id",
    chunk_text_col: str = "chunk_text",
    sep: str = " ",
    out_col: str = "text",
) -> DataFrame:
    """Exact inverse of :func:`chunk_documents`: rebuild each document
    from its overlapping windows — the de-chunking step after
    chunk-level processing (embedding, scoring, redaction) when the
    pipeline must emit documents again.  Chunk 0 contributes whole;
    every later chunk contributes only its NEW tail (drop the first
    ``chunk_tokens - stride`` overlap tokens; a trailing window fully
    covered by its predecessor contributes nothing).  One groupBy on
    the doc id — the shuffle reassembly inherently needs — then a
    map-side sort + splice per doc; ``reassemble(chunk(df)) == df``
    exactly (the catalog entry's oracle IS the original table)."""
    import re as _re

    if stride > chunk_tokens:
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}): windows "
            "would skip tokens and reassembly would be lossy"
        )
    ov = chunk_tokens - stride
    grouped = chunks.groupBy(F.col(id_col)).agg(
        F.array_sort(
            F.collect_list(F.struct(chunk_id_col, chunk_text_col))
        ).alias("_cs")
    )
    esc = _re.escape(sep)
    def tail(s):
        # drop the first `ov` overlap tokens; slice length must be the
        # EXACT remaining count (start+length overflows int with a
        # "rest of array" sentinel like INT_MAX)
        arr = F.split(s[chunk_text_col], esc)
        return F.concat_ws(
            sep, F.slice(arr, ov + 1, F.greatest(F.size(arr) - ov, F.lit(0)))
        )

    pieces = F.transform(
        F.col("_cs"),
        lambda s: F.when(s[chunk_id_col] == 0, s[chunk_text_col]).otherwise(
            tail(s)
        ),
    )
    return grouped.select(
        F.col(id_col),
        F.concat_ws(
            sep, F.filter(pieces, lambda p: p != F.lit(""))
        ).alias(out_col),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training — distributed merge learning
# ---------------------------------------------------------------------------

def bpe_word_freq(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The ONE corpus pass of BPE training: lowercase, whitespace-split,
    count word frequencies.  Everything after this operates on the
    DISTINCT-word table (vocab-sized, not corpus-sized) — the property
    that makes BPE training feasible at 100 TB: the 10^11-document scan
    happens once, the merge loop touches ~10^8 distinct words."""
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))


def _sym_pairs(sym_col: Column) -> Column:
    """Adjacent symbol pairs of a space-separated symbol string."""
    syms = F.split(sym_col, " ")
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(syms) - 1, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.element_at(syms, i), F.element_at(syms, i + 1)
            ),
        ),
        lambda p: p.contains(" "),
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """The inner counting step of BPE training: corpus-weighted adjacent
    CHARACTER-pair frequencies (the argmax pair is the next merge).
    Word-freq aggregate first, pair explosion over distinct words only."""
    wf = bpe_word_freq(df, text_col)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    sym = F.concat_ws(" ", chars)
    pairs = wf.select(
        F.explode(_sym_pairs(sym)).alias("pair"), "freq"
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    return counts.orderBy(F.col("n").desc(), "pair").limit(top_k)


def _greedy_merge_fold(sym_str: Column, a: Column, b: Column) -> Column:
    """Apply ONE merge (a, b) to a space-separated symbol string via the
    greedy left-to-right fold: the accumulator's last symbol fuses with
    the next when they equal (a, b), else the next appends — exactly
    BPE's non-overlapping merge application."""
    syms = F.split(sym_str, " ")
    return F.aggregate(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.element_at(syms, 1),
        lambda acc, x: F.when(
            (F.regexp_extract(acc, "[^ ]+$", 0) == a) & (x == b),
            F.concat(F.regexp_replace(acc, "[^ ]+$", ""), a, b),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE with a learned BPE merge list — the serving half of
    tokenizer training: per document, the subword token count after
    applying ``merges`` in order.

    Scale shape: the merge folds run over the DISTINCT-word table only
    (each merge is one more fold pass over the vocab, never the
    corpus); per-doc counts come from one word-explode joined against
    the encoded vocab (AQE broadcasts it when small; at web scale it is
    a plain shuffle join on the word — both sides slim).  Returns
    (id_col, n_words, n_tokens)."""
    if not merges:
        raise ValueError("merges must be non-empty")
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    vocab = words.select("w").distinct()
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    sym = F.concat_ws(" ", chars)
    for a, b in merges:
        sym = _greedy_merge_fold(sym, F.lit(a), F.lit(b))
    enc = vocab.select("w", F.size(F.split(sym, " ")).alias("_n_sub"))
    return (
        words.join(enc, on="w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_n_sub").alias("n_tokens"),
        )
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    barrier_every: int = 1,
    reliable: bool = False,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges, fully distributed — no
    driver-side values anywhere: each round's best pair is a 1-row
    DataFrame broadcast-cross-joined into the re-segmentation fold, so
    the loop is pure plan construction (Sennrich et al.'s algorithm 1
    re-expressed; production trainers batch the top-k pairs per round
    — same algebra, fewer rounds).

    Returns (step, pair_a, pair_b, n): the merge learned at each step
    and its corpus-weighted frequency.  Re-segmentation is a greedy
    left-to-right fold: the accumulator is the symbol string built so
    far; when its last symbol equals pair_a and the next symbol equals
    pair_b they fuse (``a b`` → ``ab``), else append — exactly BPE's
    non-overlapping merge application.

    ``barrier_every`` (default 1) checkpoints the vocab-sized segment
    table after every k-th merge: it bounds plan depth AND splits one
    giant whole-stage-codegen compile of n nested folds into n small
    ones (measured: 3 nested folds cost ~9 s cold vs ~3 s barriered at
    sf0.1 — compile time, not data).  Pass 0 to disable (pure plan
    construction, useful for plan inspection)."""
    from spark_monotasks_spark.barrier import barrier as _barrier

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    wf = bpe_word_freq(df, text_col)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    seg = wf.select(F.concat_ws(" ", chars).alias("s"), "freq")

    merge_rows = []
    for step in range(1, n_merges + 1):
        pair_counts = (
            seg.select(F.explode(_sym_pairs(F.col("s"))).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        best = (
            pair_counts.orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                F.split("pair", " ").getItem(0).alias("pair_a"),
                F.split("pair", " ").getItem(1).alias("pair_b"),
                "n",
            )
        )
        merge_rows.append(best)
        folded = _greedy_merge_fold(
            F.col("s"), F.col("pair_a"), F.col("pair_b")
        )
        seg = (
            seg.crossJoin(F.broadcast(best.select("pair_a", "pair_b")))
            .select(folded.alias("s"), "freq")
        )
        if barrier_every and step < n_merges and step % barrier_every == 0:
            seg = _barrier(seg, reliable)
    out = merge_rows[0]
    for b in merge_rows[1:]:
        out = out.unionByName(b)
    return out
