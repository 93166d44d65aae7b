"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point of these shapes):

- **exact**: one hash-groupBy on a fingerprint — shuffle is O(|docs|)
  with tiny rows, the canonical first pass at 100 TB.
- **MinHash+LSH**: per-doc signature in ONE linear pass (element-wise
  min over shingle hash arrays — no |shingles|×|hashes| row blow-up),
  then banding so the candidate-pair join is bucket-local.  All-pairs
  O(n²) never happens; the only quadratic term is within-bucket, which
  banding keeps tiny.
- **SimHash**: 64-bit signature via per-bit majority vote, again one
  linear pass + one groupBy; near-dup candidates via band equality.
- **n-gram Jaccard**: exact verification on candidate pairs only.

Everything is built-in F.* higher-order functions — no Python UDFs.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_monotasks_spark.barrier import pin
from spark_monotasks_spark.graph.algorithms import (
    _component_labels,
    connected_components_star,
)

#: seed for the MinHash affine rehash family — fixed so signatures are
#: deterministic across runs/sessions (a near-dup index built yesterday
#: stays joinable with today's).
_REHASH_SEED = 42


from spark_monotasks_spark.partitioning import spread_to_cluster as _spread
from spark_monotasks_spark.pipeline.text import _rewrite_without
from spark_monotasks_spark.pipeline.text import ngram_fold as _ngram_fold


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical texts: fingerprint → (n_copies, keep_id, dup_ids).

    ``keep_id`` = min id (deterministic canonical survivor); ``dup_ids``
    = every member id, sorted (ids only — the payload never shuffles).
    """
    fp = F.md5(F.col(text_col).cast("binary"))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly one row (min id) per distinct text — the scalable
    survivor-selection pattern: min-id per fingerprint then semi join,
    never a full-row shuffle of the payload."""
    keep = exact_duplicates(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def shingles(col: Column | str, k: int = 3, sep: str = " ") -> Column:
    """Token k-shingles as an array<string> (distinct).  For k=1 this is
    the token set.  ``sep`` is treated as a literal separator (escaped
    before the regex-based split, so '.' or '|' work as given).  NULL
    text has NULL shingles at every k; empty text has ``['']``."""
    toks = F.split(col, re.escape(sep))
    if k == 1:
        return F.array_distinct(toks)
    # shifted-slice zip_with fold (see text.ngram_fold) — ~5× faster
    # than an index lambda doing slice+join per position
    return F.when(
        F.size(toks) >= k, F.array_distinct(_ngram_fold(toks, k, sep))
    ).when(toks.isNotNull(), F.array(F.concat_ws(sep, toks)))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-doc MinHash signature as (id, sig array<bigint>).

    Shape: explode to (id, shingle) rows, hash each shingle ONCE with
    codegen ``xxhash64``, then ONE hash aggregate computing all
    ``num_hashes`` permutation minima as conditional-free
    ``min(h*a_i + b_i)`` expressions (per-index odd multipliers — the
    multiply-shift universal family; wrap-around long overflow IS the
    mod-2^64, which is why the catalog pins ansi.enabled=false) —
    whole-stage-compiled end to end.  The map-side partial aggregate
    collapses each doc to ``num_hashes`` longs before the exchange.
    The ``(a_i, b_i)`` come from ``_REHASH_SEED``, so signatures are the
    same in every session.

    The aggregate is ONE ``F.expr`` string, ``array(min(...), ...)``:
    every ``F.*`` call and Column operator costs several Py4J round
    trips, so building the same expression as ``num_hashes`` Column
    trees takes over ten times the Py4J calls.
    """
    sh = _shingle_sets(df, id_col, text_col, shingle_k)
    return _minhash_of_shingles(sh, num_hashes)


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, *extra: Column
) -> DataFrame:
    """The ``(id, *extra, sh)`` frame of per-doc shingle sets: the one
    place a shingle set is built.  The shingle build (split, slice and
    distinct per doc) is the CPU-heavy front of every MinHash and
    blocked-pair pass, so it runs over the spread corpus: a one-split
    scan would otherwise run it in one task."""
    return _spread(df).select(
        F.col(id_col).alias("id"),
        *extra,
        shingles(F.col(text_col), k=shingle_k).alias("sh"),
    )


def _jaccard(a: str, b: str) -> Column:
    """Set Jaccard of two array columns, rounded to 4 places."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 4)


def _minhash_of_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """:func:`minhash_signatures` over an ``(id, sh)`` frame of shingle
    sets, so a caller that needs the shingle sets again builds them
    once."""
    rng = random.Random(_REHASH_SEED)
    ab = [
        (rng.randrange(1, 1 << 61) | 1, rng.randrange(1, 1 << 61))
        for _ in range(num_hashes)
    ]
    rows = sh.select("id", F.explode_outer("sh").alias("_s"))
    # xxhash64 ignores NULL inputs (hashes to the seed) — keep NULL
    # shingles NULL so NULL docs get [NULL, ...] signatures
    h0 = F.when(F.col("_s").isNull(), F.lit(None).cast("long")).otherwise(
        F.xxhash64(F.col("_s"))
    )
    hs = rows.select("id", h0.alias("_h"))
    mins = ", ".join(f"min(_h * {a}L + {b}L)" for a, b in ab)
    return hs.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def minhash_bands(sig: Column, num_bands: int = 16, rows_per_band: int = 4) -> Column:
    """Split a signature into LSH bands; each band → one 64-bit bucket
    hash.  Returns array<struct<band:int, bucket:bigint>>, or NULL for
    a NULL signature or one whose first hash is NULL (NULL text).

    Measured note: an unrolled ``F.array(*[struct(lit(b),
    xxhash64(sig[i]...))])`` over literal getItems — nominally pure
    codegen vs this interpreted ``transform`` lambda — benched ~2x
    SLOWER at sf0.1 (0.77s vs 0.35s warm for the banding pass), so the
    transform form stays."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )
    # a NULL signature (NULL text) has no bands: concat_ws drops NULLs,
    # so its bands would all hash '' and pair every NULL-text document
    return F.when(sig[0].isNotNull(), bands)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.5,
    reliable: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape: shingle the corpus once into a pinned ``(id, sh)`` frame
    → linear signature pass over it → explode bands (|docs|×bands rows,
    SMALL — ids + two longs only, never the shingle arrays) → bucket
    self-join (shuffle on bucket) → distinct candidate id pairs → join
    the pinned shingle sets back in (two hash joins on id) → exact
    Jaccard → filter.  Keeping the quadratic join payload to bare ids is
    the scale lever: at 100 TB the banding shuffle is |docs|×bands×24
    bytes instead of carrying every document's shingle set bands× times,
    and the verify joins are bounded by the candidate pairs.  The corpus
    is scanned once; at scale the shingle pin spills to disk
    (MEMORY_AND_DISK) rather than re-scanning the text.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    if num_bands < 1 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"num_bands ({num_bands}); otherwise bands are empty or hashes "
            "are silently discarded"
        )
    rows_per_band = num_hashes // num_bands
    # Two pins.  The shingle sets feed the signatures and both sides of
    # the verify join; pinned, the corpus is scanned and shingled once.
    # The (id, band, bucket) rows feed both sides of the self-join; a
    # pin on the signatures would still leave each side to build the
    # bands from them, and the bands pin holds three narrow columns
    # instead of a num_hashes-long array per doc.
    # The candidate pairs are not pinned: they have one consumer, and a
    # pin over the self-join, which AQE may plan as a broadcast join,
    # would keep the broadcast hash relation alive in the driver (see
    # barrier.pin).
    sh = pin(_shingle_sets(df, id_col, text_col, shingle_k), reliable)
    sigs = _minhash_of_shingles(sh, num_hashes)
    base = sigs.select(
        "id",
        minhash_bands(F.col("sig"), num_bands, rows_per_band).alias("bands"),
    )
    banded = pin(
        base.select("id", F.explode("bands").alias("bb")).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        ),
        reliable,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # No join hints: AQE broadcasts the shingle side from runtime sizes
    # when it is small, and a degenerate corpus (near-identical
    # boilerplate at scale) degrades to shuffle joins instead of
    # running the driver out of memory.
    pairs = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), on="id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
    return pairs.select(
        "id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard")
    ).filter(F.col("jaccard") >= jaccard_threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """Per-doc 64-bit SimHash as (id, sig bigint): per-bit majority vote
    of xxhash64(token) bit patterns (frequency-weighted — repeated
    tokens vote repeatedly).

    Zero-shuffle shape: hash the token stream once per doc, then the 64
    per-bit majority votes are 64 ``size(filter(hashes, h -> h & mask
    != 0))`` counts with literal masks (no column shifts — higher-order
    lambdas run interpreted, keep the inner expression to one AND).
    vote_i = 2*ones_i - n  >  0  ⇔ majority; bit values are disjoint
    powers of two so their SUM is the bitwise OR (bit 63 via the
    two's-complement sign value -2^63).  One narrow projection, nothing
    shuffles.

    The 64 votes are ONE ``F.expr`` string: built as Column trees they
    cost about 4,000 Py4J calls per build, as a string under 100.

    NULL text gives a NULL signature, which pairs with nothing."""
    if bits != 64:
        raise ValueError(f"only 64-bit signatures are supported, got {bits}")
    df = _spread(df)
    hs = F.transform(
        F.split(F.col(text_col), " "), lambda t: F.xxhash64(t)
    ).alias("_hs")
    base = df.select(F.col(id_col).alias("id"), hs)
    # two's-complement long for bit 63 (1 << 63 overflows Java long)
    masks = [1 << i for i in range(63)] + [-(1 << 63)]
    votes = " + ".join(
        f"CASE WHEN size(filter(_hs, h -> (h & {m}L) != 0)) * 2 > size(_hs) "
        f"THEN CAST({m}L AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for m in masks
    )
    # NULL text has no signature; without the guard every bit loses its
    # vote (size(NULL) is -1) and all NULL-text docs share signature 0
    sig = f"CASE WHEN _hs IS NULL THEN NULL ELSE {votes} END"
    return base.select("id", F.expr(sig).alias("sig"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_bands: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into
    ``num_bands`` 16-bit chunks (pigeonhole: hamming ≤ bands-1 ⇒ some
    band equal), bucket-join, verify hamming distance exactly.
    Returns (id_a, id_b, hamming)."""
    if max_hamming > num_bands - 1:
        raise ValueError(
            f"max_hamming ({max_hamming}) > num_bands-1 ({num_bands - 1}) "
            "breaks the pigeonhole guarantee: pairs whose differing bits "
            "touch every band would be silently missed.  Raise num_bands."
        )
    if num_bands < 2 or 64 % num_bands != 0:
        raise ValueError(
            f"num_bands ({num_bands}) must divide 64 and be >= 2 (bands of "
            "64/num_bands bits; num_bands=1 would need an unrepresentable "
            "64-bit mask, non-divisors silently drop the top bits)"
        )
    band_width = 64 // num_bands
    # pin before banding: the signature is a projection, and without a
    # pin Catalyst's projection collapse would substitute the 64-filter
    # expression into every band chunk and both self-join sides; id +
    # one bigint per doc is cheaper than any shuffle of the same rows.
    base = pin(simhash_signatures(df, id_col, text_col), reliable)
    banded = base.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), b * band_width).bitwiseAND(
                        (1 << band_width) - 1
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate verification or small sets)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.3,
    allow_unblocked: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs within a blocking key.

    ``block_col`` bounds the quadratic term (all-pairs only within a
    block — at scale, pass a coarse cluster/bucket id, e.g. an LSH
    band or language+length bucket).  ``block_col=None`` raises unless
    the caller explicitly opts into the all-pairs plan with
    ``allow_unblocked=True`` (tiny/test inputs only) — the API must not
    silently plan O(n²), same contract as fuzzy_pairs_levenshtein.
    """
    pairs = _blocked_shingle_pairs(
        "ngram_jaccard_pairs", df, id_col, text_col, block_col, n, allow_unblocked
    )
    return pairs.select(
        "id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _blocked_shingle_pairs(
    op: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None,
    n: int,
    allow_unblocked: bool,
) -> DataFrame:
    """``(id_a, id_b, sh_a, sh_b)``: every pair of docs with
    ``id_a < id_b`` in one ``block_col`` block, with their n-shingle
    sets.  Refuses the unblocked all-pairs plan unless the caller
    ``op`` opted in with ``allow_unblocked``.  One shuffle on the block
    key; the shingle sets ride once per side."""
    if block_col is None and not allow_unblocked:
        raise ValueError(
            f"{op} requires a bounded blocking column; an "
            "unblocked self-join is all-pairs O(n^2).  Pass a "
            "content-derived block_col (e.g. a 1-band MinHash bucket), or "
            "allow_unblocked=True for small/test inputs only"
        )
    blk = F.col(block_col) if block_col else F.lit(0)
    base = _shingle_sets(df, id_col, text_col, n, blk.alias("blk"))
    a = base.alias("a")
    b = base.alias("b")
    return a.join(
        b, on=(F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    allow_unblocked: bool = False,
) -> DataFrame:
    """ASYMMETRIC shingle containment over pairs within a blocking key
    (r6): ``c_in_b = |A∩B| / |A|`` and ``c_in_a = |A∩B| / |B|`` — the
    excerpt/quotation detector Jaccard misses by construction (a
    200-token doc fully embedded in a 20k-token doc has Jaccard ≈ 0.01
    but containment 1.0; the standard screen for docs that merely
    QUOTE benchmark or licensed content rather than duplicating it).
    A pair is emitted when EITHER direction reaches ``threshold``.

    Blocking contract and plan shape are identical to
    :func:`ngram_jaccard_pairs`: the quadratic term exists only within
    ``block_col`` blocks (content-derived — e.g. a 1-band MinHash
    bucket, whose recall for containment C is ≈ C when the min shingle
    of the contained side also appears in the container), and an
    unblocked call raises (:func:`_blocked_shingle_pairs`)."""
    pairs = _blocked_shingle_pairs(
        "containment_pairs", df, id_col, text_col, block_col, n, allow_unblocked
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_a_in_b = inter / F.greatest(F.size("sh_a"), F.lit(1))
    c_b_in_a = inter / F.greatest(F.size("sh_b"), F.lit(1))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(c_a_in_b, 4).alias("containment_a_in_b"),
            F.round(c_b_in_a, 4).alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
    )


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> components -> canonical survivor
# ---------------------------------------------------------------------------

def near_duplicate_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.5,
    reliable: bool = False,
) -> DataFrame:
    """Cluster near-duplicates: MinHash pairs -> connected components.

    Pairwise near-dup detection alone under-deduplicates chains (A~B,
    B~C but A!~C must still collapse to ONE kept doc — the standard
    transitive-closure step in pretraining dedup, cf. the reference's
    lib/ConnectedComponents.scala used here via graph.algorithms).

    Scale shape: the label-propagation join runs ONLY on the pair graph
    (docs that matched at least one near-dup — orders of magnitude
    smaller than the corpus); the full corpus is touched by exactly one
    extra left join at the end to give singletons their own cluster id.
    Returns (id, cluster) where cluster = min doc id in the component.
    """
    pairs = minhash_near_duplicates(
        df, id_col, text_col, shingle_k, num_hashes, num_bands,
        jaccard_threshold, reliable=reliable,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # large-star/small-star: O(log n) rounds regardless of chain length
    # (a near-dup chain A~B~C~... is exactly the high-diameter shape
    # min-label propagation is worst at); same (id, min-id) labels
    comps = connected_components_star(edges, reliable=reliable)
    return _component_labels(df.select(F.col(id_col).alias("id")), comps)


def drop_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    jaccard_threshold: float = 0.5,
    reliable: bool = False,
) -> DataFrame:
    """Keep one representative (min id) per near-duplicate cluster.

    Survivor selection shuffles only (id, cluster) longs; the document
    payload re-enters via a final left-semi join on the id — the same
    payload-never-shuffles discipline as drop_exact_duplicates.
    """
    clusters = near_duplicate_clusters(
        df, id_col, text_col, shingle_k, num_hashes, num_bands,
        jaccard_threshold, reliable=reliable,
    )
    keep = clusters.groupBy("cluster").agg(F.min("id").alias(id_col))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# corpus-wide segment dedup (C4-style line dedup on token windows)
# ---------------------------------------------------------------------------

def segments(col: Column | str, seg_tokens: int = 4, sep: str = " ") -> Column:
    """Non-overlapping fixed-width token segments as array<string> —
    the unit of corpus-level duplicate removal.  With ``sep='\\n'`` and
    a 1-token width this degenerates to line-level dedup (the C4 §2.2
    shape); the testdata's documents have no newlines, so the catalog
    demos token windows instead."""
    toks = F.split(col, re.escape(sep))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest((n - 1) / seg_tokens, F.lit(0)).cast("int"))
    return F.transform(
        idx, lambda i: F.concat_ws(sep, F.slice(toks, i * seg_tokens + 1, seg_tokens))
    )


def duplicate_segment_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 4,
    sep: str = " ",
    fingerprint: str = "xxhash128",
) -> DataFrame:
    """(id, pos) of every NON-FIRST occurrence of each distinct segment
    corpus-wide; first occurrence = min (id, pos).

    100 TB shape: the exploded relation carries (fp, id, pos) ONLY —
    16+8+4 bytes per segment occurrence; the segment text itself never
    enters the shuffle (it is re-derived map-side from the original doc
    partition at reassembly, see :func:`drop_duplicate_segments`).

    ``fingerprint`` picks the 128-bit key (a plain 64-bit hash would
    birthday-collide at corpus scale, ~4·10⁹ distinct segments):

    * ``"xxhash128"`` (default): two independently-seeded xxhash64
      values of the segment string — pair-collision odds ~2⁻¹²⁸ under
      the standard seeded-family independence assumption (the same one
      MinHash banding rests on); measured ~15% faster end-to-end than
      md5 at sf0.1.
    * ``"md5"``: the RAW 16-byte digest (``unhex``) — unconditional
      cryptographic collision bound, for audit parity with external
      systems.  (r5: the md5 HEX form used before doubled the shuffle
      width the docstring claimed — 32 chars vs 16 bytes — and measured
      ~1.4× slower.)

    Two alternatives measured and REJECTED at sf0.1: a concat-free
    chained per-token xxhash64 (~2.1× slower — the per-index
    ``element_at`` lambda it needs is interpreted per token, losing far
    more than the concat it saves) and a
    collect_list+array_sort+slice aggregation in place of the rank
    window (~1.13× slower — the hash agg's per-group array builds cost
    more than the partition sort they avoid)."""
    return _non_first(
        *_unit_fingerprints(
            df, id_col, text_col, seg_tokens, sep, fingerprint, sliding=False
        )
    )


def drop_duplicate_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 4,
    sep: str = " ",
) -> DataFrame:
    """C4-style corpus-level dedup: remove every repeated segment except
    its first occurrence (ordered by id, position), reassembling each
    document from its surviving segments (``text_dedup`` column).

    Reference analogy: the reference has no corpus-level text dedup —
    beyond-reference brief item.  Scale shape: shuffle #1 groups 28-byte
    (fp,id,pos) keys; shuffle #2 ships the drop-position SETS (tiny —
    only docs that lose segments have one) back to the doc partition;
    the corpus text itself is never shuffled (:func:`_rewrite_without`;
    untouched documents keep their text verbatim).

    The rebuild itself is TOKEN-level: dropping segment p is exactly
    dropping the tokens with index div seg_tokens == p, so one filter
    lambda over the token array (int division + small-array
    array_contains per token) replaces the earlier
    segment-struct transform → filter → transform → per-segment
    slice+concat chain — measured 1.5× faster end-to-end at sf0.1
    (1.75 → 1.17 s), identical output on canonical text."""
    drops = (
        duplicate_segment_positions(df, id_col, text_col, seg_tokens, sep)
        .groupBy("id")
        .agg(F.collect_set("pos").alias("_drop_pos"))
        .withColumnRenamed("id", id_col)
    )
    return _rewrite_without(
        df, drops, id_col, text_col, "text_dedup", sep, unit=seg_tokens
    )


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard similarity join (PPJoin family)
# ---------------------------------------------------------------------------

def jaccard_join_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    sep: str = " ",
    shingle_k: int | None = None,
) -> DataFrame:
    """ALL pairs with token-set Jaccard >= ``threshold`` — exact, via
    prefix filtering (the PPJoin family: Chaudhuri et al. 2006 SSJoin /
    Xiao et al. 2008).  Unlike the MinHash/SimHash paths this blocking
    is LOSSLESS: sort each doc's distinct tokens by one global
    (frequency, token) total order and keep only the first
    ``n - ceil(t*n) + 1`` as its prefix; any pair with J >= t must
    share a prefix token (with the size filter ``|B| >= t*|A|``, the
    required overlap ``ceil(t*(|A|+|B|)/(1+t)) >= ceil(t*|A|)``, so
    the prefixes cannot be disjoint) — candidates only MISS nothing,
    and exact verification on candidates trims false positives.

    100 TB shape: the candidate join keys on the globally RAREST
    tokens (frequency-ascending order puts heavy stopwords at the
    array tail, outside every prefix), so bucket sizes shrink as the
    corpus grows common-token-heavy; the shuffles carry (token, id, n)
    prefix rows and token arrays only for verified candidates.  The
    frequency table is vocabulary-sized — AQE broadcasts it at small
    SF and shuffle-hashes at scale.  Output: (id_a, id_b, jaccard)
    with id_a < id_b, jaccard rounded to 6 (one IEEE-exact divide).

    Reference analogy: none — beyond-reference brief item (similarity
    join for near-dup candidate generation with an exactness
    guarantee)."""
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    # set universe: raw tokens, or k-token shingles (``shingle_k``) —
    # shingles separate near-dups far better on vocabulary-dense
    # corpora, where bare token SETS of unrelated docs already overlap
    units = (
        shingles(F.col(text_col), shingle_k, sep)
        if shingle_k
        else F.split(F.col(text_col), re.escape(sep))
    )
    # persist() the two multiply-consumed frames instead of a
    # localCheckpoint barrier: ``toks`` feeds the prefix chain AND both
    # verify sides (3 consumers), ``prefixes`` both sides of the
    # candidate self-join — without a pin, AQE's serial broadcast-build
    # jobs re-execute the full shingle+freq+sort chain once per
    # consumer (r7 measured: 5.2s -> 2.5s at sf0.1 from these two
    # pins; an eager localCheckpoint measured ~2x WORSE than no pin —
    # it forfeits AQE coalescing and broadcast planning below the cut).
    # MEMORY_AND_DISK (persist default) spills rather than OOMs at
    # scale.  The pins live until unpersist (see barrier.pin): the
    # CacheManager entry holds them, so the ContextCleaner does not
    # reap them when the caller drops the returned plan, and AQE
    # broadcasts occ ⋈ freq below ``prefixes``, so that pin also keeps
    # the broadcast hash relation in the driver.
    # _spread: the shingle build (split + slice + distinct per doc) is
    # the CPU-heavy front of all three consumers — never leave it on a
    # one-split local scan (r8; no-op on wide scans)
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.array_distinct(units).alias("s")
    ).persist()
    occ = toks.select("id", F.explode("s").alias("tok"))
    freq = occ.groupBy("tok").agg(F.count("*").alias("freq"))
    ordered = (
        occ.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "tok"))),
                lambda s: s["tok"],
            ).alias("ord")
        )
        .select("id", "ord", F.size("ord").alias("n"))
    )
    # ceil over a float product can round UP spuriously (t*n a hair
    # above the true integer), which would shorten the prefix below the
    # lossless bound — nudge down by an epsilon far under 1/n so the
    # prefix can only err LONGER (extra candidates, never missed pairs)
    p_len = (F.col("n") - F.ceil(F.lit(t) * F.col("n") - 1e-9) + 1).cast("int")
    prefixes = ordered.select(
        "id",
        "n",
        F.posexplode(F.slice("ord", F.lit(1), p_len)).alias("pos", "tok"),
    ).persist()
    a, b = prefixes.alias("a"), prefixes.alias("b")
    # PPJoin positional filter: both token lists share ONE global sort
    # order, so a prefix match at 0-based positions (pa, pb) bounds the
    # total overlap by min(|A|-pa, |B|-pb) — matches can only come from
    # the match itself plus the suffixes behind it.  J >= t needs
    # overlap >= ceil(t/(1+t)·(|A|+|B|)) (epsilon-guarded like the
    # prefix length, so FP ceil can only LOWER the demanded overlap —
    # extra candidates, never missed pairs).  On a shingle-sparse
    # corpus this prunes the dominant cost: the verify join's input.
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a.n") + F.col("b.n")) - 1e-9
    )
    ubound = F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            (F.lit(t) * F.greatest("a.n", "b.n") <= F.least("a.n", "b.n"))
            & (ubound >= alpha)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = toks.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    sb = toks.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


# ---------------------------------------------------------------------------
# exact-substring (maximal duplicated span) dedup — Lee et al. 2022 shape
# ---------------------------------------------------------------------------

def _unit_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int,
    sep: str,
    fingerprint: str,
    sliding: bool,
) -> tuple[DataFrame, list[str]]:
    """(id, pos, fp...) of every ``width``-token unit of every doc — the
    shared front of segment dedup, span dedup and span decontamination.
    ``sliding`` picks OVERLAPPING grams (one per token offset; docs
    shorter than one gram have none), else :func:`segments`' aligned
    blocks.  Units are built and hashed map-side; downstream shuffles
    carry (fp, id, pos) only, never text.  Returns the frame plus the
    fingerprint column names: the seeded xxhash64 pair for
    ``"xxhash128"``, the raw digest for ``"md5"`` (the choice is
    described at :func:`duplicate_segment_positions`)."""
    if width < 1:
        raise ValueError(f"the unit width must be at least 1 token, got {width}")
    if sliding:
        toks = F.split(F.col(text_col), re.escape(sep))
        n = F.size(toks)
        units = F.transform(
            F.sequence(F.lit(0), (n - width).cast("int")),
            lambda i: F.concat_ws(sep, F.slice(toks, i + 1, width)),
        )
        # _spread (r8): the gram posexplode multiplies each doc into
        # ~|tokens| rows and hashes every one — with a single-file local
        # scan (one split) the whole pass pins to ONE task
        df = _spread(df.filter(n >= width))
    else:
        units = segments(F.col(text_col), width, sep)
    occ = df.select(
        F.col(id_col).alias("id"), F.posexplode(units).alias("pos", "unit")
    )
    if fingerprint == "md5":
        fps = [F.unhex(F.md5(F.col("unit").cast("binary"))).alias("fp1")]
    elif fingerprint == "xxhash128":
        fps = [
            F.xxhash64("unit", F.lit(1)).alias("fp1"),
            F.xxhash64("unit", F.lit(2)).alias("fp2"),
        ]
    else:
        raise ValueError(f"unknown fingerprint {fingerprint!r}")
    return occ.select("id", "pos", *fps), [f"fp{i + 1}" for i in range(len(fps))]


def _non_first(occ: DataFrame, fp_cols: list[str]) -> DataFrame:
    """(id, pos) of every NON-FIRST occurrence of each fingerprint in
    ``occ`` (first = min (id, pos)): one rank window partitioned by the
    fingerprint."""
    w = Window.partitionBy(*fp_cols).orderBy("id", "pos")
    return (
        occ.select("id", "pos", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") > 1)
        .select("id", "pos")
    )


def _span_islands(marked: DataFrame, k: int) -> DataFrame:
    """(id, span_start, span_end): the maximal runs covered by the
    k-grams at the marked (id, pos) rows.  Marked grams at positions
    p < q of one doc coalesce iff q <= p + k (their covers [p, p+k-1]
    and [q, q+k-1] touch or overlap) — the classic gaps-and-islands
    window, computed over the MARKED rows only, partitioned by doc."""
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    flagged = marked.withColumn(
        "_new", F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0)
    )
    islands = flagged.withColumn("_isl", F.sum("_new").over(w))
    return (
        islands.groupBy("id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select("id", "span_start", "span_end")
    )


def duplicate_span_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    sep: str = " ",
    fingerprint: str = "xxhash128",
) -> DataFrame:
    """Maximal duplicated token spans, ExactSubstr-style (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    one row ``(id, span_start, span_end)`` per maximal token run, on a
    non-first-occurrence doc, every one of whose ``min_tokens``-wide
    sliding windows repeats somewhere earlier in the corpus.  The
    k-gram cover replaces the paper's suffix array — the right trade on
    Spark: a distributed suffix array needs global order; the gram
    cover is one explode + one rank window, finds exactly the runs of
    length >= min_tokens (a duplicated run's every k-window is
    duplicated; a shorter one has no k-window), and over-marks only
    when ADJACENT duplicated runs chain through distinct sources —
    documented, and irrelevant for removal purposes.

    Reference analogy: none (the reference has no corpus-level text
    dedup) — beyond-reference brief item, sibling of the aligned
    :func:`duplicate_segment_positions`; the sliding window — unlike
    :func:`segments`' aligned blocks — is what finds duplicated runs at
    ANY offset.  Runs merge as in :func:`_span_islands`."""
    marked = _non_first(
        *_unit_fingerprints(
            df, id_col, text_col, min_tokens, sep, fingerprint, sliding=True
        )
    )
    return _span_islands(marked, min_tokens)


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    sep: str = " ",
    fingerprint: str = "xxhash128",
) -> DataFrame:
    """ExactSubstr cut: remove every token covered by a duplicated
    >=min_tokens-run's non-first occurrence, keeping the corpus-wide
    first copy; rebuilt text in ``text_dedup``.  Same rebuild contract
    as :func:`drop_duplicate_segments`: only docs that lose tokens pay
    the (interpreted-lambda) rebuild, untouched docs pass through
    VERBATIM; the drop sets shipped back to the doc partition are
    token INDICES — tiny — and the corpus text never shuffles."""
    k = min_tokens
    marked = _non_first(
        *_unit_fingerprints(df, id_col, text_col, k, sep, fingerprint, sliding=True)
    )
    drops = (
        marked.select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("_ti"),
        )
        .groupBy("id")
        .agg(F.collect_set("_ti").alias("_drop_pos"))
        .withColumnRenamed("id", id_col)
    )
    return _rewrite_without(df, drops, id_col, text_col, "text_dedup", sep)


def contaminated_span_positions(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
    min_tokens: int = 5,
    sep: str = " ",
    fingerprint: str = "md5",
) -> DataFrame:
    """Maximal token spans of ``df`` that a held-out REFERENCE corpus
    (a benchmark/eval set) contains verbatim — the span-level
    decontamination primitive (Lee et al. 2022 §decontamination; the
    whole-doc variant is ``contamination_check``): one row ``(id,
    span_start, span_end)`` per maximal run whose every
    ``min_tokens``-wide sliding window appears somewhere in the
    reference.  Unlike whole-doc dropping, span removal keeps the
    clean 99% of a long document that merely quotes a benchmark item.

    Shape: both corpora collapse to gram fingerprints map-side; the
    reference ships as a DISTINCT fp set (vocabulary-bounded — at
    100 TB the benchmark side is megabytes); the probe is one
    left-semi join of (fp, id, pos) keys; the gaps-and-islands merge
    runs over MARKED rows only, partitioned by doc."""
    k = min_tokens
    occ, fp_cols = _unit_fingerprints(
        df, id_col, text_col, k, sep, fingerprint, sliding=True
    )
    ref_occ, _ = _unit_fingerprints(
        reference, ref_id_col, ref_text_col, k, sep, fingerprint, sliding=True
    )
    marked = occ.join(
        ref_occ.select(*fp_cols).distinct(), on=fp_cols, how="left_semi"
    ).select("id", "pos")
    return _span_islands(marked, k)


def scrub_contaminated_spans(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_id_col: str = "doc_id",
    ref_text_col: str = "text",
    min_tokens: int = 5,
    sep: str = " ",
    fingerprint: str = "md5",
) -> DataFrame:
    """Span-level decontamination cut: every token covered by a
    reference-contaminated span (:func:`contaminated_span_positions`)
    is removed and the text rebuilt in ``text_clean``; ``n_spans`` and
    ``tokens_removed`` quantify the cut (0 for untouched docs, whose
    text passes through VERBATIM — the drop_duplicate_spans rebuild
    contract).  Spans are disjoint by construction (islands merged),
    so ``tokens_removed`` is a plain span-length sum and the per-doc
    drop set ships back as token INDICES only — text never shuffles."""
    spans = contaminated_span_positions(
        df, reference, id_col, text_col, ref_id_col, ref_text_col,
        min_tokens, sep, fingerprint,
    )
    per = (
        spans.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                "tokens_removed"
            ),
            F.flatten(
                F.collect_list(F.sequence("span_start", "span_end"))
            ).alias("_drop_pos"),
        )
        .withColumnRenamed("id", id_col)
    )
    return _rewrite_without(
        df,
        per,
        id_col,
        text_col,
        "text_clean",
        sep,
        extra={
            "n_spans": F.coalesce(F.col("n_spans"), F.lit(0)),
            "tokens_removed": F.coalesce(F.col("tokens_removed"), F.lit(0)),
        },
    )


# ---------------------------------------------------------------------------
# engine-portable MinHash (md5 family) — the value-auditable variant
# ---------------------------------------------------------------------------

def minhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signature any engine can reproduce byte-for-byte: hash
    family i maps shingle s → first 12 hex chars of md5(s || '#' || i)
    parsed base-16 (48 bits — fits a signed 64-bit int in every
    engine, no overflow semantics in play).

    This is the PARITY/audit variant: O(|shingles| × num_hashes) md5
    calls make it ~an order costlier than :func:`minhash_signatures`'s
    hash-once + affine rehash, so the xxhash64 family remains the scale
    path; this one exists so an external system (the DuckDB oracle, a
    second pipeline) can verify or join signatures exactly.  Output is
    one scalar column per hash (h0..h{n-1}) — catalog-safe schema."""
    sh = _shingle_sets(df, id_col, text_col, shingle_k)

    # NB: a two-parameter lambda would make F.transform bind the SECOND
    # parameter to the array index — the family tag must enter via a
    # one-arg closure.
    def family(i: int):
        tag = F.lit(f"#{i}")
        return lambda s: F.conv(
            F.substring(F.md5(F.concat(s, tag).cast("binary")), 1, 12), 16, 10
        ).cast("long")

    cols = [
        F.array_min(F.transform(F.col("sh"), family(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.select("id", *cols)


# ---------------------------------------------------------------------------
# blocked fuzzy join (edit-distance record linkage)
# ---------------------------------------------------------------------------

def fuzzy_pairs_levenshtein(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    max_distance: int = 60,
) -> DataFrame:
    """Record-linkage fuzzy self-join: candidate pairs from a bounded
    blocking key, verified by edit distance ≤ ``max_distance``.

    Like every pair operator here, the join is NEVER all-pairs: callers
    must supply a content-derived ``block_col`` (e.g. a 1-band MinHash
    bucket) whose cardinality grows with the corpus.  The JVM-side
    ``levenshtein(l, r, threshold)`` 3-arg form abandons a pair as soon
    as the running distance exceeds the bound — O(threshold·n) instead
    of O(n²) per pair — and returns -1 for over-threshold pairs, which
    we filter.  Output (id_a, id_b, edit_dist)."""
    if block_col is None:
        raise ValueError(
            "fuzzy_pairs_levenshtein requires a bounded blocking column; "
            "an unblocked self-join is all-pairs O(n^2)"
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        F.col(block_col).alias("_blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        F.col(block_col).alias("_blk"),
    )
    pairs = a.join(b, on="_blk").filter(F.col("id_a") < F.col("id_b"))
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance)
    return (
        pairs.select("id_a", "id_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
    )


def minhash_candidate_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    min_matches: int = 4,
) -> DataFrame:
    """The banding CANDIDATE stage of the portable MinHash path on its
    own: pairs (id_a < id_b) sharing ≥ ``min_matches`` of
    ``num_hashes`` md5-family minima, with the match count — the edge
    set near_duplicate_clusters_portable closes over, exposed so the
    banding's quality can be EVALUATED against exact ground truth
    (see the lsh_banding_pr_eval catalog entry).  Ships melted
    (fam, h, id) keys only; the match join's output is collision-
    bounded, never corpus-quadratic."""
    melted = melted_minhash_signatures(
        df, id_col, text_col, shingle_k, num_hashes, family="md5"
    )
    return _vote_pairs(melted, min_matches)


def _vote_pairs(melted: DataFrame, min_matches: int) -> DataFrame:
    """(id_a, id_b, n_match): the pairs of ids (id_a < id_b) of a melted
    ``(id, fam, h)`` signature frame that share at least
    ``min_matches`` family minima — one ``(fam, h)`` self-join and one
    count per pair."""
    a = melted.select(F.col("id").alias("id_a"), "fam", "h")
    b = melted.select(F.col("id").alias("id_b"), "fam", "h")
    return (
        a.join(b, on=["fam", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_match"))
        .filter(F.col("n_match") >= min_matches)
    )


def near_duplicate_clusters_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    min_matches: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """Near-dup clustering on the ENGINE-PORTABLE MinHash family:
    candidate pairs share ≥ ``min_matches`` of ``num_hashes`` md5-family
    minima (estimated Jaccard ≥ min_matches/num_hashes), then collapse
    transitively via iterative connected components.

    The portability is the point: every stage — signatures, banding
    join, match counting, and even the TRANSITIVE CLOSURE — can be
    recomputed by an external engine (the catalog oracle does the
    closure with a recursive CTE), so the iterative Spark algorithm is
    value-audited end-to-end, not rows-only.  Scale shape matches
    near_duplicate_clusters: the match join ships (hash, id) pairs, the
    component iteration runs on the pair graph only, and the corpus is
    touched once at the end for singleton ids."""
    edges = minhash_candidate_pairs_portable(
        df, id_col, text_col, shingle_k, num_hashes, min_matches
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comps = connected_components_star(edges, reliable=reliable)
    return _component_labels(df.select(F.col(id_col).alias("id")), comps)


# ---------------------------------------------------------------------------
# incremental dedup against a persistent fingerprint store
# ---------------------------------------------------------------------------

def incremental_exact_dedup(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against itself AND a persistent fingerprint
    store — the steady-state form of corpus dedup: history is never
    rescanned, only its 16-byte-per-doc fingerprint index is consulted.

    Returns ``(survivors, store_delta)``: ``survivors`` is the batch
    rows that are first-seen (min-``id_col`` within the batch per
    fingerprint, and fingerprint absent from ``store``);
    ``store_delta`` is the (fp, keep_id) rows to append to the store so
    the next batch dedups against this one too.  ``store`` is a
    DataFrame with a ``fp`` column (extra columns ignored) or None for
    the first batch.

    Scale shape: the batch payload never shuffles — within-batch
    survivor selection shuffles (fp, id) pairs only, and the final
    payload recovery is a semi join on ``id_col``.  The store join
    shuffles fingerprints on ``fp``; persist the store bucketed by
    ``fp`` (``save_as_table(bucket_by=('fp', n))``) and successive
    batches co-locate against it without re-shuffling history.
    Append-only store + min-id-per-batch survivor choice make the
    operation idempotent: re-running a batch against the updated store
    yields zero survivors.

    NULL handling: rows with NULL ``text_col`` hash to a NULL
    fingerprint, which groupBy treats as one group — they dedup as a
    single "null document" across batches.  The store anti-join is
    null-safe (``eqNullSafe``) so the NULL-fp winner is recognized on
    later batches instead of surviving (and re-appending) forever.
    """
    fp = F.md5(F.col(text_col).cast("binary"))
    pairs = batch.select(F.col(id_col).alias("_bid"), fp.alias("fp"))
    winners = pairs.groupBy("fp").agg(F.min("_bid").alias("keep_id"))
    if store is not None:
        # eqNullSafe (<=>) is still an equi-join to the planner — it
        # hash-partitions both sides; NULL <=> NULL matches, so the
        # null-fingerprint group stays idempotent across batches
        store_fps = store.select(F.col("fp").alias("_store_fp")).distinct()
        winners = winners.join(
            store_fps,
            on=F.col("fp").eqNullSafe(F.col("_store_fp")),
            how="left_anti",
        )
    survivors = batch.join(
        winners.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )
    return survivors, winners.select("fp", "keep_id")


# ---------------------------------------------------------------------------
# incremental NEAR-dup dedup against a persistent signature store
# ---------------------------------------------------------------------------

def md5mod_multipliers(n: int) -> list[int]:
    """The md5mod family's fixed odd multipliers ``c_i < 2^20`` —
    deterministic (seeded) so signatures stay joinable across runs and
    so oracles can embed the same literals."""
    rng = random.Random(_REHASH_SEED)
    return [rng.randrange(1, 1 << 20) | 1 for _ in range(n)]


def melted_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    family: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature in join-ready melted form
    ``(id, fam, h)`` — one row per hash family.  ``family`` picks
    ``"xxhash64"`` (the engine-native scale path,
    :func:`minhash_signatures`), ``"md5"`` (the engine-portable audit
    family, :func:`minhash_signatures_portable`, reproducible by the
    DuckDB oracle byte-for-byte), or ``"md5mod"`` (portable AND cheap:
    ONE md5 per shingle instead of ``num_hashes``, families derived by
    per-family multiplicative permutations mod 2^40).

    The md5mod family (r6 — replaces r5's "md5affine"): ``h`` = first
    10 hex chars of md5(shingle) parsed base-16 (40 bits); family
    ``i`` value = ``(c_i * h) mod 2^40`` with fixed odd multipliers
    ``c_i < 2^20`` (:func:`md5mod_multipliers`) — the product stays
    below 2^60, so the arithmetic is exact signed-64-bit in every
    engine (DuckDB: ``(c * CAST('0x'||substr(md5(x),1,10) AS BIGINT))
    % 1099511627776``).  Odd ``c`` makes each family a BIJECTION of
    Z_2^40 — an independent multiplicative permutation of the uniform
    digest values, the same structure as the xxhash64 scale family's
    per-index odd-multiplier rehash.  r5's "md5affine" family
    (``a + i*b`` from the digest halves) was structurally unsound for
    k-of-n voting: family minima follow the LOWER ENVELOPE of lines in
    ``i``, so neighboring families usually share a winning shingle and
    the 4-of-8 vote fired in correlated bursts — at sf0.001 it decided
    57 of ~230 survivor calls differently from the independent
    families, while md5mod and the 8-digest "md5" family agree with
    xxhash64 exactly (pinned by
    tests/test_pipeline.py::test_incremental_minhash_family_equivalence_corpus).
    Shape: explode to (id, shingle) rows so the shingle array is built
    ONCE (the wide h0..h7 projection re-evaluates the per-family md5
    8×), digest each row once, posexplode the ``num_hashes`` modular
    products, and let the partial ``min`` collapse map-side — one
    digest per shingle vs the ``"md5"`` family's ``num_hashes``."""
    if family == "xxhash64":
        # minhash_signatures' r6 explode→codegen-hash→one-agg shape
        # (measured 3× faster than the r5 interpreted array-fold at
        # sf0.1/8 families); posexplode AFTER the aggregate so the
        # exchange carries one num_hashes-long array per doc
        sigs = minhash_signatures(
            df, id_col, text_col, shingle_k=shingle_k, num_hashes=num_hashes
        )
        return sigs.select("id", F.posexplode("sig").alias("fam", "h"))
    if family == "md5":
        sigs = minhash_signatures_portable(
            df, id_col, text_col, shingle_k=shingle_k, num_hashes=num_hashes
        )
        fh = F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("fam"), F.col(f"h{i}").alias("h"))
                    for i in range(num_hashes)
                ]
            )
        )
        return sigs.select("id", fh.alias("fh")).select(
            "id", F.col("fh.fam").alias("fam"), F.col("fh.h").alias("h")
        )
    if family == "md5mod":
        # explode_outer: a NULL-text doc keeps its (fam, NULL) rows,
        # matching the wide families' array_min(NULL) = NULL semantics
        rows = _shingle_sets(df, id_col, text_col, shingle_k).select(
            "id", F.explode_outer("sh").alias("_s")
        )
        d = F.md5(F.col("_s").cast("binary"))
        hs = rows.select(
            "id",
            F.conv(F.substring(d, 1, 10), 16, 10).cast("long").alias("_h"),
        )
        mods = F.array(
            *[
                (F.lit(c) * F.col("_h")) % F.lit(1 << 40)
                for c in md5mod_multipliers(num_hashes)
            ]
        )
        return (
            hs.select("id", F.posexplode(mods).alias("fam", "h"))
            .groupBy("id", "fam")
            .agg(F.min("h").alias("h"))
        )
    raise ValueError(f"unknown minhash family {family!r}")


def incremental_minhash_dedup(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    min_matches: int = 4,
    family: str = "xxhash64",
    reliable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """NEAR-dup dedup of a new batch against itself AND a persistent
    MinHash signature store — the steady-state ingest form of
    :func:`near_duplicate_clusters`: history text is NEVER rescanned,
    only its melted signature index ``(fam, h, id)`` is consulted.

    Semantics (deterministic, transitive-consistent):

    * a batch doc is a HISTORY HIT if it shares ≥ ``min_matches`` of
      ``num_hashes`` family minima with any store doc (estimated
      Jaccard ≥ min_matches/num_hashes — the same rule the one-shot
      clusterers use);
    * within-batch candidate pairs (same rule) collapse transitively
      via large-star/small-star connected components;
    * a whole cluster is CONTAMINATED if ANY member is a history hit —
      its members are all transitively near history content, so none
      survive (the convention that keeps batch-order invariance: a doc
      never survives merely because its history-matching twin was
      processed in the same batch instead of an earlier one);
    * otherwise the min-``id_col`` member of each clean cluster
      (singletons included) survives.

    Returns ``(survivors, store_delta)``: the surviving batch rows and
    their melted signatures to append to the store.  Append-only store
    + min-id survivor choice make the operation idempotent: re-running
    a batch against the updated store yields zero survivors (every
    previous survivor now self-matches all ``num_hashes`` families in
    the store; every previous casualty is dropped for the same reason
    it was before, or by its surviving cluster-mate's signatures).

    Scale shape: batch text is read once for signatures (the melt's
    partial-min agg ships ~8·num_hashes bytes/doc); the store join ships melted
    ``(fam, h)`` keys + ids only — persist the store bucketed by
    ``(fam, h)`` (``save_as_table(bucket_by=...)``) and successive
    batches co-locate against it without re-shuffling history, which at
    1 B docs × 8 families is the difference between a ~200 GB shuffle
    per batch and none.  The within-batch CC runs on the candidate-pair
    graph only (O(log n) star rounds; ``reliable=True`` for durable
    checkpoints)."""
    # materialized once: the melted index feeds the history probe, BOTH
    # sides of the within-batch self-join, and the store delta — without
    # a pin each consumer would re-scan the batch and re-hash every
    # shingle.  persist(), not localCheckpoint, on the non-reliable
    # path (r7): melted is multi-consumer but NOT iterative, so it
    # needs reuse, not a lineage cut — persist keeps AQE planning below
    # it and measured ~40% faster end-to-end (5.97s -> 3.68s at sf0.1
    # together with the edges pin below).  Both pins live until
    # unpersist (see barrier.pin): the CacheManager entry holds them,
    # so the ContextCleaner does not reap them when the caller drops
    # the plan.
    melted = pin(
        melted_minhash_signatures(batch, id_col, text_col, shingle_k, num_hashes, family),
        reliable,
    )
    if store is not None:
        hits = (
            melted.join(
                store.select("fam", "h", F.col("id").alias("_sid")),
                on=["fam", "h"],
            )
            .groupBy("id", "_sid")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") >= min_matches)
            .select("id")
            .distinct()
        )
    else:
        hits = melted.select("id").limit(0)
    edges = (
        _vote_pairs(melted, min_matches)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        # pinned: connected_components_star consumes its edge input
        # twice (the canon barrier AND the vertex-universe distinct) —
        # without the cache the candidate self-join above runs twice.
        # AQE plans that self-join as a broadcast, so the pin also keeps
        # its hash relation in the driver; dropping the pin measured
        # slower cold, so it stays
        .persist()
    )
    comps = connected_components_star(edges, reliable=reliable)
    clustered = _component_labels(
        batch.select(F.col(id_col).alias("id")), comps
    ).join(hits.withColumn("_hit", F.lit(True)), on="id", how="left")
    clean_keepers = (
        clustered.groupBy("cluster")
        .agg(
            F.min("id").alias("keep_id"),
            F.max(F.coalesce(F.col("_hit"), F.lit(False))).alias("_contaminated"),
        )
        .filter(~F.col("_contaminated"))
        .select(F.col("keep_id").alias(id_col))
    )
    survivors = batch.join(clean_keepers, on=id_col, how="left_semi")
    store_delta = melted.join(
        clean_keepers.withColumnRenamed(id_col, "id"), on="id", how="left_semi"
    ).select("fam", "h", "id")
    return survivors, store_delta


def simhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """32-bit SimHash any engine can reproduce byte-for-byte: token
    hash = first 8 hex chars of md5(token) parsed base-16, signature =
    per-bit frequency-weighted majority vote (ties → 0, same rule as
    :func:`simhash_signatures`).

    The PARITY/audit twin of the xxhash64 scale path, mirroring
    :func:`minhash_signatures_portable`: per-token md5 makes it ~an
    order costlier, so it exists for external verification (the DuckDB
    oracle, a second pipeline) and cross-system signature joins, not
    for the 100 TB hot path.  Same ZERO-shuffle shape — one narrow
    projection, 32 ``size(filter(...))`` counts with literal masks,
    written as ONE ``F.expr`` string as in :func:`simhash_signatures`.
    NULL text gives a NULL signature."""
    hs = F.transform(
        F.split(F.col(text_col), " "),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast(
            "long"
        ),
    ).alias("_hs")
    base = _spread(df).select(F.col(id_col).alias("id"), hs)
    votes = " + ".join(
        f"CASE WHEN size(filter(_hs, h -> (h & {1 << i}L) != 0)) * 2 > size(_hs) "
        f"THEN CAST({1 << i}L AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(32)
    )
    sig = f"CASE WHEN _hs IS NULL THEN NULL ELSE {votes} END"
    return base.select("id", F.expr(sig).alias("sig"))
