"""Pipeline operator invariants: dedup / similarity / text / multimodal.

These cover what the DuckDB oracle can't: planted-duplicate recall,
LSH-vs-brute-force agreement, stub plumbing shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_monotasks_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different content about spark query engines and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "unrelated text mentioning embeddings vectors and cosine distance"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


# --- exact dedup -----------------------------------------------------------

def test_exact_duplicates(spark, docs_with_dups):
    groups = dedup.exact_duplicates(docs_with_dups).collect()
    by_keep = {r.keep_id: r.n_copies for r in groups}
    assert by_keep[0] == 2  # docs 0 and 3
    assert len(groups) == 4


def test_drop_exact_duplicates(spark, docs_with_dups):
    kept = dedup.drop_exact_duplicates(docs_with_dups)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 2, 4]


# --- shingles / minhash ----------------------------------------------------

def test_shingles_basic(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    got = df.select(dedup.shingles(F.col("t"), k=2).alias("s")).first().s
    assert sorted(got) == ["a b", "b c", "c d"]
    short = spark.createDataFrame([("a b",)], "t string")
    got2 = short.select(dedup.shingles(F.col("t"), k=3).alias("s")).first().s
    assert got2 == ["a b"]  # below-k fallback: whole text


def test_minhash_finds_planted_near_dup(spark, docs_with_dups):
    pairs = dedup.minhash_near_duplicates(
        docs_with_dups, shingle_k=2, jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 3) in found  # exact dup always collides
    assert (0, 1) in found or (1, 3) in found  # near-dup
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(0, 3)] == 1.0
    for (a, b) in found:
        assert {a, b} != {2, 4}  # unrelated docs never pair


def test_minhash_signature_deterministic(spark, docs_with_dups):
    s1 = dedup.minhash_signatures(docs_with_dups, num_hashes=16).collect()
    s2 = dedup.minhash_signatures(docs_with_dups, num_hashes=16).collect()
    assert {r.id: r.sig for r in s1} == {r.id: r.sig for r in s2}
    sigs = {r.id: r.sig for r in s1}
    assert sigs[0] == sigs[3]  # identical text → identical signature
    overlap_near = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    overlap_far = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert overlap_near > overlap_far


# --- simhash ---------------------------------------------------------------

def test_simhash_identical_and_near(spark, docs_with_dups):
    sigs = {r.id: r.sig for r in dedup.simhash_signatures(docs_with_dups).collect()}
    assert sigs[0] == sigs[3]
    ham = lambda x, y: bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")  # noqa: E731
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    pairs = dedup.simhash_near_duplicates(docs_with_dups, max_hamming=3)
    found = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert found[(0, 3)] == 0


@pytest.fixture(scope="module")
def docs_with_null_text(spark):
    """40 NULL-text documents beside one real near-duplicate pair."""
    rows = [(i, None) for i in range(40)] + [
        (100, "the quick brown fox jumps over the lazy dog near the river bank"),
        (101, "the quick brown fox jumps over the lazy dog near the river bend"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_null_text_has_no_signature(spark, docs_with_null_text):
    """NULL text has a NULL SimHash, so NULL-text documents never pair:
    a signature of 0 for each of them paired all 780 of their pairs at
    hamming 0."""
    sigs = dedup.simhash_signatures(docs_with_null_text).collect()
    sigs = {r.id: r.sig for r in sigs}
    assert [i for i, s in sigs.items() if s is None] == list(range(40))
    pairs = dedup.simhash_near_duplicates(
        docs_with_null_text, max_hamming=6, num_bands=8
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(100, 101)]


def test_simhash_portable_null_text_has_no_signature(spark, docs_with_null_text):
    """The portable SimHash also gives NULL text a NULL signature;
    without the guard every vote loses (size(NULL) is -1) and all 40
    NULL-text documents got signature 0."""
    sigs = dedup.simhash_signatures_portable(docs_with_null_text).collect()
    sigs = {r.id: r.sig for r in sigs}
    assert [i for i, s in sigs.items() if s is None] == list(range(40))
    assert sigs[100] is not None and sigs[101] is not None


def test_minhash_bands_of_null_signature_are_null(spark, docs_with_null_text):
    """A NULL signature, or one of NULL hashes (NULL text at k >= 2),
    has no LSH bands, so NULL-text documents never enter the banding
    self-join; with bands they all hashed '' and shared every bucket."""
    sigs = spark.createDataFrame(
        [(0, None), (1, [None] * 64), (2, list(range(64)))],
        "id long, sig array<bigint>",
    )
    bands = {
        r.id: r.bands
        for r in sigs.select("id", dedup.minhash_bands(F.col("sig")).alias("bands"))
        .collect()
    }
    assert bands[0] is None and bands[1] is None
    assert [b.band for b in bands[2]] == list(range(16))
    pairs = dedup.minhash_near_duplicates(
        docs_with_null_text, shingle_k=2, jaccard_threshold=0.4
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(100, 101)]


def test_signature_values_pinned(spark, docs_with_dups):
    """MinHash (16 and 64 hashes) and SimHash signature values are a
    stored format: a near-dup index built with one release must stay
    joinable with the next one's, so a rewrite of the signature
    expressions must reproduce these digests exactly."""
    import hashlib

    def digest(rows):
        return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    got = {
        f"minhash{n}": digest(
            (r.id, list(r.sig))
            for r in dedup.minhash_signatures(docs_with_dups, num_hashes=n).collect()
        )
        for n in (16, 64)
    }
    got["simhash"] = digest(
        (r.id, r.sig) for r in dedup.simhash_signatures(docs_with_dups).collect()
    )
    assert got == {
        "minhash16": "65de76d567a45820a9c6b34e980e7cc2f0444e969c10dddf378d20976fe68149",
        "minhash64": "0195b4319533b95e2c1341c6cf137d9b593b5afca710ef6eca6dc8bde5598904",
        "simhash": "b7a97bd24ba9bf139e075c6dfca5fa01d31f6dfde24fb0ff09d0bea4cc21928f",
    }


def test_signature_builders_make_few_py4j_calls(spark, docs_with_dups):
    """Building a signature frame is driver work paid on every
    execution: each ``F.*`` call or Column operator is several Py4J
    round trips, so 64 hashes built as 64 Column trees cost thousands
    of calls.  The builders write their wide expressions as one SQL
    string; the count after the first build repeats exactly."""
    from tools.trace_query import count_py4j_calls

    for build in (
        dedup.minhash_signatures,
        dedup.simhash_signatures,
        dedup.simhash_signatures_portable,
    ):
        build(docs_with_dups)
        with count_py4j_calls(spark) as n:
            build(docs_with_dups)
        assert n[0] <= 300, (build.__name__, n[0])


def test_trace_compare_reports_counter_differences():
    """``tools/trace_query.py --compare`` names each exact counter that
    moved, per pass and entry, and ignores the counters that vary
    between identical runs (compiles, tasks, times)."""
    from tools.trace_query import compare

    base = {"cold": [{"name": "q", "metrics": {
        "sched.jobs": 2, "cache.pins": 1, "sched.tasks": 8, "wall_s": 1.0}}]}
    same = {"cold": [{"name": "q", "metrics": {
        "sched.jobs": 2, "cache.pins": 1, "sched.tasks": 9, "wall_s": 2.0}}]}
    moved = {"cold": [
        {"name": "q", "metrics": {"sched.jobs": 3, "cache.pins": 0}},
        {"name": "new", "metrics": {}},
    ]}
    assert compare(same, base) == []
    assert compare(moved, base) == [
        "cold/q: sched.jobs 2 -> 3",
        "cold/q: cache.pins 1 -> 0",
        "cold/new: not in the base run",
    ]


# --- ngram jaccard ---------------------------------------------------------

def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(
        df, n=1, threshold=0.0, allow_unblocked=True
    ).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == pytest.approx(3 / 5)  # {a,b,c} / {a,b,c,d,e}
    assert jac[(1, 3)] == 0.0
    # the unblocked all-pairs plan must be an explicit opt-in
    with pytest.raises(ValueError, match="blocking column"):
        dedup.ngram_jaccard_pairs(df, n=1, threshold=0.0)


def test_ngram_jaccard_catalog_blocks_bounded(spark, tables):
    """The ngram_jaccard_block catalog entry must block on a key whose
    cardinality grows with the corpus (minhash bucket), never a fixed
    low-cardinality column — the round-2 `lang` demo made the self-join
    O(n²/5).  Guard: max block size stays a small fraction of n."""
    import pyspark.sql.functions as F

    docs = tables["documents"]
    sh = dedup.shingles(F.col("text"), k=3)
    blocks = (
        docs.withColumn("mh_bucket", F.array_min(F.transform(sh, lambda s: F.md5(s))))
        .groupBy("mh_bucket")
        .count()
    )
    n = docs.count()
    max_block = blocks.agg(F.max("count")).first()[0]
    # planted near-dup clusters are tiny; anything over ~2% of the corpus
    # in one bucket means the blocking key degenerated
    assert max_block <= max(8, n // 50), (n, max_block)


def test_ngram_jaccard_catalog_finds_planted_dups(spark, tables):
    """Single-band minhash blocking still surfaces the planted
    near-identical pairs (J≈1 ⇒ same min-shingle-hash w.p. ≈1)."""
    from spark_monotasks_spark.queries.pipeline_queries import ngram_jaccard_block
    from tests.conftest import SF_TEST_DIR

    out = ngram_jaccard_block(spark, SF_TEST_DIR)
    high = out.filter("jaccard >= 0.8").count()
    assert high > 0


# --- similarity ------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark, tables):
    return tables["embeddings"]


def test_brute_force_self_top1(spark, embeddings):
    q = similarity.query_by_id(embeddings, 7)
    top = similarity.brute_force_topk(embeddings, q, k=1).first()
    assert top.vec_id == 7 and top.sim == 1.0


def test_lsh_topk_finds_query_and_bounds(spark, embeddings):
    # this corpus is near-uniform random (top-10 cosines cluster ~0.3-0.5,
    # see BASELINE notes) so set-recall@10 is meaningless; assert the
    # structural guarantees instead: self-retrieval, k rows, sims bounded
    # by the exact maximum.
    q = similarity.query_by_id(embeddings, 3)
    exact_top = similarity.brute_force_topk(embeddings, q, k=1).first()
    approx = similarity.lsh_bucket_topk(
        embeddings, q, dim=64, k=10, n_planes=5, multiprobe_bits=1
    ).collect()
    ids = [r.vec_id for r in approx]
    assert 3 in ids and len(ids) == 10
    assert all(r.sim <= exact_top.sim for r in approx)


def test_lsh_topk_planted_duplicate(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((99, [0.999, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # ~= vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.query_by_id(df, 0)
    got = similarity.lsh_bucket_topk(df, q, dim=8, k=2, n_planes=6).collect()
    assert [r.vec_id for r in got][:2] == [0, 99]  # self, then the planted dup


def test_embedding_near_dups_planted(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),  # planted near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(
        df, dim=4, threshold=0.99, n_planes=6
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
    assert pairs[0].sim >= 0.99


def test_semantic_dedup_planted(spark):
    """SemDeDup semantics: exact/near-identical embeddings collapse to
    the min id transitively; distinct vectors survive; duplicates in
    DIFFERENT cells are (by design) not compared — here everything is
    axis-aligned so near-dups share a cell."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0, 0.0]),   # near-dup of 0
        (5, [0.998, 0.002, 0.0, 0.0]),   # near-dup of 1 (and 0 transitively)
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_literal_centroids(4, 4, seed=5)
    surv = sorted(
        r.vec_id
        for r in similarity.semantic_dedup(df, cents, threshold=0.99).collect()
    )
    assert surv == [0, 2, 3]  # 1 and 5 collapse into 0


# --- text ------------------------------------------------------------------

def test_token_stats(spark):
    df = spark.createDataFrame([(1, "a bb ccc")], "doc_id long, text string")
    r = text.with_token_stats(df).first()
    assert r.n_tokens == 3 and r.text_len == 8


def test_quality_score_bounds(spark, tables):
    scored = text.quality_score(tables["documents"])
    rows = scored.select("quality_score").collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)


def test_language_id_english(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and it is a good day for the cat"),
            (2, "el gato de la casa es un animal que vive en la ciudad"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in text.language_id(df).collect()}
    assert got[1] == "en" and got[2] == "es"


def test_language_id_chinese(spark):
    # zh has no whitespace tokens — detection must work on characters
    df = spark.createDataFrame(
        [(1, "我是在这里的人了就不和有")], "doc_id long, text string"
    )
    assert text.language_id(df).first().pred_lang == "zh"


def test_quality_score_unicode_not_punct(spark):
    # accented/CJK letters are letters, not punctuation (Java \w is
    # ASCII-only; the scorer must use \p{L}\p{N})
    df = spark.createDataFrame(
        [(1, "café naïve übermensch señor garçon déjà"), (2, "!!!???;;;###$$$%%%")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_punct for r in text.quality_score(df).collect()}
    assert got[1] == 0
    assert got[2] == 18


def test_quality_score_unicode_whitespace_not_punct(spark):
    # NBSP (HTML corpora) and ideographic space (CJK) are whitespace,
    # not punctuation — Java \s alone misses them
    df = spark.createDataFrame(
        [(1, "café word　next")], "doc_id long, text string"
    )
    assert text.quality_score(df).first().n_punct == 0


def test_rolling_fingerprint_literal_separator(spark):
    # sep='.' must split literally, matching tokens() semantics
    df = spark.createDataFrame(
        [(1, "a.b.c"), (2, "a b c")], "doc_id long, text string"
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id",
            F.when(
                F.col("doc_id") == 1, text.rolling_fingerprint("text", ".")
            )
            .otherwise(text.rolling_fingerprint("text"))
            .alias("fp"),
        ).collect()
    }
    assert fps[1] == fps[2]  # same token stream under both separators


def test_tokens_literal_separator(spark):
    # '.' and '|' are regex metachars — must split literally
    df = spark.createDataFrame([(1, "a.b.c"), (2, "x|y")], "doc_id long, text string")
    got = {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id",
            F.when(F.col("doc_id") == 1, text.tokens("text", "."))
            .otherwise(text.tokens("text", "|"))
            .alias("toks"),
        ).collect()
    }
    assert got[1] == ["a", "b", "c"]
    assert got[2] == ["x", "y"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df).collect()}
    assert fps[1] == fps[2] != fps[3]
    assert len(fps[1]) == 16


# --- multimodal plumbing ---------------------------------------------------

def test_media_feature_extraction_shape(spark):
    media = multimodal.synthetic_media(spark, n=12, real_blobs=True)
    feats = multimodal.extract_image_features(media, strict=False)
    rows = feats.collect()
    # images only (every 3rd synthetic row) — audio/video never reach
    # the decode UDF (metadata-first pruning)
    assert len(rows) == 4
    assert feats.schema == multimodal.IMAGE_FEATURES_SCHEMA
    assert all(len(r.features) == 8 for r in rows)
    # REAL decode: gradient PNG pixel(x,y,c) = x+y+c (no mod wrap at
    # 16x12), so channel means are (w-1)/2 + (h-1)/2 + c = 13, 14, 15
    for r in rows:
        assert (r.width, r.height) == (16, 12)
        assert [round(v, 3) for v in r.features[:3]] == [13.0, 14.0, 15.0]


def test_media_feature_extraction_undecodable_yields_nulls(spark):
    media = multimodal.synthetic_media(spark, n=12)  # noise blobs
    rows = multimodal.extract_image_features(media, strict=False).collect()
    assert len(rows) == 4
    assert all(r.features is None and r.width is None for r in rows)


def test_media_strict_mode_raises(spark):
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        multimodal.extract_image_features(media, strict=True).collect()


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, n=9)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    # videos are every 3rd row, 5000ms duration → 5 frames each
    n_videos = sum(1 for i in range(9) if i % 3 == 2)
    assert len(rows) == n_videos * 5
    assert {r.frame_ts_ms for r in rows} == {0, 1000, 2000, 3000, 4000}


def test_frame_sample_null_and_huge_durations(spark):
    rows = [
        # NULL / zero / negative duration: un-probed or corrupt
        # metadata → contribute NO frames
        (0, None, ("video", None, None, None, None, None)),
        (2, None, ("video", None, None, None, 0, None)),
        (3, None, ("video", None, None, None, -1, None)),
        # ~69-day stream with coarse sampling: frame timestamps exceed
        # int32 — must not wrap negative
        (1, None, ("video", None, None, None, 6_000_000_000, None)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    got = multimodal.frame_sample_plan(media, every_ms=600_000_000).collect()
    assert all(r.media_id == 1 for r in got)
    ts = sorted(r.frame_ts_ms for r in got)
    assert ts == [i * 600_000_000 for i in range(10)]
    assert ts[-1] == 5_400_000_000  # would be negative under int32 math


def test_audio_features_shape(spark):
    import math

    media = multimodal.synthetic_media(spark, n=12, real_blobs=True)
    feats = multimodal.extract_audio_features(media)
    rows = feats.collect()
    # audio rows are every 3rd (i % 3 == 1)
    assert len(rows) == 4
    # REAL decode: 3200 ramp samples / (16000 Hz * 25 ms) = 8 windows
    assert all(r.n_windows == 8 for r in rows)
    assert all(len(r.mfcc) == 13 for r in rows)
    assert all(math.isfinite(v) for r in rows for v in r.mfcc)
    # identical blobs → identical real MFCCs
    assert rows[0].mfcc == rows[1].mfcc


def test_audio_strict_raises(spark):
    media = multimodal.synthetic_media(spark, n=3)
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|audio decode"):
        multimodal.extract_audio_features(media, strict=True).collect()


def test_resize_plan_dims(spark):
    media = multimodal.synthetic_media(spark, n=6)  # images are 640x480
    plan = multimodal.resize_plan(media, max_side=256)
    rows = plan.collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.width, r.height) == (640, 480)
        assert r.needs_resize
        assert r.target_width == 256  # 640 * 256/640
        assert r.target_height == 192  # 480 * 0.4


def test_bpe_token_count_segments(spark):
    df = spark.createDataFrame(
        [(1, "hello, world! x42"), (2, "abc")], "doc_id long, text string"
    )
    got = {r.doc_id: r.bpe_tokens for r in text.with_bpe_token_stats(df).collect()}
    # "hello" "," " world" "!" " x" "42" → 6 ; "abc" → 1
    assert got == {1: 6, 2: 1}


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "c b a")], "doc_id long, text string"
    )
    got = {r.doc_id: r.h for r in df.select(
        "doc_id", text.rolling_fingerprint("text").alias("h")
    ).collect()}
    assert got[1] == got[2]        # deterministic
    assert got[1] != got[3]        # order-sensitive (md5 fp also differs,
                                   # but rolling hash must catch REORDERING)


def test_ivf_topk_planted_duplicate(spark):
    # 3 tight clusters around axes + a planted near-dup of vec 0
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        axis = i % 3
        base = [0.0] * 6
        base[axis] = 1.0
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    rows.append((999, rows[0][1][:]))  # exact dup of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = similarity.ivf_index(df, n_lists=3, max_iter=10)
    q = similarity.query_by_id(df, 0)
    got = similarity.ivf_topk(assigned, cents, q, k=2, n_probe=1).collect()
    assert [r.vec_id for r in got] == [0, 999]
    assert got[1].sim == 1.0


def test_ivf_sampled_fit_still_assigns_full_corpus(spark):
    # force the bounded-fit path (max_fit_rows < corpus size): the fit
    # sees a sample, but every corpus row must still get a cell and the
    # planted duplicate must still be retrievable from its probe cell
    import random

    rng = random.Random(11)
    rows = []
    for i in range(300):
        axis = i % 3
        base = [0.0] * 6
        base[axis] = 1.0
        rows.append((i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    rows.append((999, rows[0][1][:]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = similarity.ivf_index(df, n_lists=3, max_iter=10, max_fit_rows=90)
    assert assigned.count() == df.count()          # assignment is full-corpus
    assert assigned.filter(F.col("cell").isNull()).count() == 0
    q = similarity.query_by_id(df, 0)
    got = similarity.ivf_topk(assigned, cents, q, k=2, n_probe=1).collect()
    assert [r.vec_id for r in got] == [0, 999]


def test_ivf_fit_sample_plans_no_corpus_pass(spark):
    """The fit-input plan must be Scan -> Limit [-> Sample] — bounded
    early-terminating read, with NO Aggregate (the old full count()
    was one extra 100 TB pass just to compute a sample fraction)."""
    df = spark.range(1000).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    # oversized corpus path: limit + sample, no aggregate
    fit = similarity._bounded_fit_sample(df, max_fit_rows=100, seed=1)
    plan = fit._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit" in plan or "LocalLimit" in plan
    assert "Sample" in plan
    assert "Aggregate" not in plan
    # the sampled fit input is bounded near the target
    n = fit.count()
    assert 0 < n <= 4 * 100
    # small-corpus path: every row reaches the fit (prefix under-full)
    small = df.limit(50)
    fit_small = similarity._bounded_fit_sample(small, max_fit_rows=100, seed=1)
    assert fit_small.count() == 50
    assert "Aggregate" not in (
        fit_small._jdf.queryExecution().optimizedPlan().toString()
    )
    # empty corpus still raises the explicit error downstream
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty corpus"):
        similarity.ivf_index(df.limit(0), n_lists=2)


def test_ivf_probe_bounds_scan(spark, tables):
    emb = tables["embeddings"]
    assigned, cents = similarity.ivf_index(emb, n_lists=8, max_iter=5)
    q = similarity.query_by_id(emb, 0)
    exact = similarity.brute_force_topk(emb, q, k=1).first()
    got = similarity.ivf_topk(assigned, cents, q, k=10, n_probe=3).collect()
    ids = [r.vec_id for r in got]
    assert 0 in ids and len(ids) == 10
    assert all(r.sim <= exact.sim for r in got)


def test_minhash_candidate_broadcast_gate(spark, docs_with_dups):
    """No FORCED broadcast anywhere in the plan, so a degenerate corpus
    degrades to shuffle joins instead of running the driver out of
    memory.  The corpus is shingled once into one pin, which the
    signatures and both verify joins read, and the run leaves exactly
    two pins (shingle sets and bands).  No pin it leaves holds a
    broadcast exchange: a cached plan keeps its broadcast hash relation
    (a 64 MiB page on a local session) alive in the driver for as long
    as the cache entry lives."""
    from tools.trace_query import holds_broadcast, new_pins, physical_nodes

    # a frame of its own: the CacheManager reuses the entries of an equal
    # plan that an earlier test pinned, and then adds none
    docs = spark.createDataFrame(docs_with_dups.collect(), docs_with_dups.schema)
    with new_pins(spark) as pins:
        out = dedup.minhash_near_duplicates(docs, shingle_k=2)
        # no unconditional hint anywhere in the analyzed plan
        assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
        # collect() first: the FINAL adaptive plans only exist after execution
        rows = sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())
    assert rows  # non-degenerate
    assert len(pins) == 2, len(pins)
    scans = [
        name
        for fragment in (out._jdf.queryExecution().executedPlan(), *pins)
        for name in (n.getClass().getSimpleName() for n in physical_nodes(fragment))
        if name.endswith("ScanExec") and name != "InMemoryTableScanExec"
    ]
    assert len(scans) == 1, scans
    assert not any(map(holds_broadcast, pins)), [p.toString() for p in pins]


def test_dedup_param_guards(spark, docs_with_dups):
    with pytest.raises(ValueError, match="positive multiple"):
        dedup.minhash_near_duplicates(docs_with_dups, num_hashes=16, num_bands=32)
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_duplicates(docs_with_dups, max_hamming=6, num_bands=4)


def test_redact_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at bob.smith+x@mail.example.org today"),
            (2, "card 1234567890 and pin 12345"),
            (3, "clean text stays untouched"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.redacted for r in text.with_redacted(df).collect()}
    assert got[1] == "reach me at <EMAIL> today"
    assert got[2] == "card <NUM> and pin 12345"  # <6 digits stays
    assert got[3] == "clean text stays untouched"


def test_train_split_deterministic_and_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = text.train_split_assign(df, id_col="doc_id")
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # ratios within tolerance of 90/5/5
    assert abs(counts["train"] / 2000 - 0.9) < 0.03
    # assignment is a pure function of the id: repartitioning the input
    # (different task layout) must not move any row between splits
    b = text.train_split_assign(df.repartition(17), id_col="doc_id")
    assert sorted((r.doc_id, r.split) for r in a.collect()) == sorted(
        (r.doc_id, r.split) for r in b.collect()
    )
    with pytest.raises(ValueError, match="sum to 1"):
        text.train_split_assign(df, weights={"train": 0.5, "test": 0.4})


# --- near-dup clustering (pairs -> connected components) -------------------

def test_near_dup_clusters_collapse_chain(spark):
    # 0~1, 1~2 form a chain (0 and 2 need not match directly) -> one cluster
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda mu"),
        (3, "totally unrelated document about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.id: r.cluster
        for r in dedup.near_duplicate_clusters(
            df, shingle_k=2, jaccard_threshold=0.5
        ).collect()
    }
    assert got[0] == got[1] == got[2] == 0  # min id in the component
    assert got[3] == 3  # singleton keeps its own id


def test_drop_near_duplicates_keeps_one_per_cluster(spark, docs_with_dups):
    kept = sorted(
        r.doc_id
        for r in dedup.drop_near_duplicates(
            docs_with_dups, shingle_k=2, jaccard_threshold=0.5
        ).collect()
    )
    # 0/1/3 collapse to 0; 2 and 4 survive
    assert kept == [0, 2, 4]


# --- sequence packing ------------------------------------------------------

def test_pack_sequences_invariants(spark):
    rows = [(i, 700) for i in range(10)]  # 700 tokens each, budget 2048
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = text.pack_sequences(df, budget=2048, n_shards=2).collect()
    assert len(got) == 10
    by_shard: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        # offsets are the running total mod budget, seq ids never decrease
        start = 0
        for r in shard_rows:
            assert r.seq_id == start // 2048
            assert r.seq_offset == start % 2048
            start += r.n_tokens


def test_pack_sequences_budget_guard(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="budget"):
        text.pack_sequences(df, budget=0)


# --- contamination check ---------------------------------------------------

def test_contamination_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "intro text then the quick brown fox jumps over the lazy dog end"),
            (1, "nothing in common with the benchmark document at all here"),
            (2, "tiny"),  # shorter than n -> zero grams, zero hits
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in text.contamination_check(corpus, bench, n=5).collect()}
    assert got[0].n_hits > 0 and got[0].hit_frac > 0
    assert got[1].n_hits == 0 and got[1].hit_frac == 0.0
    assert got[2].n_grams == 0 and got[2].n_hits == 0


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c",)], "t string")
    got = df.select(text.word_ngrams(F.col("t"), n=3).alias("g")).collect()
    assert got[0].g == []
    assert got[1].g == ["a b c"]


def test_media_header_codecs_roundtrip():
    """Pure-python codec checks: every encoder's output parses back to
    the exact parameters, PNG IDAT is genuinely zlib-valid, corrupt and
    truncated inputs degrade to None fields (never raise)."""
    import struct
    import zlib

    p = multimodal.parse_media_header(multimodal.encode_png(33, 21))
    assert (p["codec"], p["width"], p["height"]) == ("png", 33, 21)
    j = multimodal.parse_media_header(multimodal.encode_jpeg_header(640, 480))
    assert (j["codec"], j["width"], j["height"]) == ("jpeg", 640, 480)
    w = multimodal.parse_media_header(multimodal.encode_wav(16000, 4800))
    assert (w["codec"], w["sample_rate"], w["duration_ms"]) == ("wav", 16000, 300)
    # stereo WAV: byte_rate doubles, duration math must still hold
    st = multimodal.parse_media_header(multimodal.encode_wav(8000, 2000, channels=2))
    assert (st["sample_rate"], st["duration_ms"]) == (8000, 250)
    # PNG IDAT decompresses to filtered RGB scanlines of the right size
    b = multimodal.encode_png(16, 8)
    idat_len = struct.unpack(">I", b[33:37])[0]
    assert len(zlib.decompress(b[41 : 41 + idat_len])) == (1 + 3 * 16) * 8
    for junk in (None, b"", b"xx", b"garbage-bytes-here", b"\x89PNG\r\n\x1a\nxx"):
        out = multimodal.parse_media_header(junk)
        assert out["codec"] is None or junk is not None
        assert out["width"] is None and out["duration_ms"] is None


def test_probe_media_meta_distributed(spark):
    """probe_media_meta over a generated media table: headers parse in
    Arrow batches, corrupt blobs yield NULL fields not task failures."""
    ids = spark.range(0, 30).withColumnRenamed("id", "media_id")
    media = multimodal.media_from_ids(ids)
    got = {r.media_id: r for r in multimodal.probe_media_meta(media).collect()}
    assert len(got) == 30
    assert got[0].codec == "png" and got[0].width == 16 and got[0].height == 16
    assert got[4].codec == "jpeg" and got[4].width == 36 and got[4].height == 28
    assert got[5].codec == "wav" and got[5].sample_rate == 12000
    assert got[5].duration_ms == 100  # (5%5+1)*100
    # corrupt row: parse degrades, no exception
    import pandas as pd  # noqa: F401
    corrupt = spark.createDataFrame(
        [(99, bytearray(b"not-a-container"))], "media_id long, blob binary"
    )
    row = multimodal.probe_media_meta(corrupt).first()
    assert row.codec is None and row.width is None


#: sha256 of each multimodal operator's sorted rows over the inputs of
#: test_multimodal_outputs_pinned
_MULTIMODAL_PINS = {
    "audio_band_fingerprint":
        "bb4b0469591ed610a8dcac56ce2872684b11f992b5ee43696b6c02adc052ab22",
    "audio_band_fingerprint_4":
        "6ad4aa2918f54a36a63fb8faf5a1a412434f441680e07ec7bf48f38803e40790",
    "audio_content_signature":
        "46cbf4cc5f3757c07b08ca045ad833857d53404d636c0e16efc9e3d864d59ffd",
    "audio_from_ids":
        "0636dc1382515d382dfbc7d88f7e695abfdfa0731c015513e3fe3f8f6f81db5b",
    "audio_sample_stats":
        "d2412b2d3cbd66f99a8cc6b3757faead89b8e9257ba4e5d64751c98c954fdacb",
    "extract_audio_features":
        "bba4de83b77ff374ab09a890715daa92114d494dae8d54303d92294566f51458",
    "extract_audio_features_synthetic_False":
        "77739f14d945a29dddec55bdf686067f78e1ca81d74f7d92667a19f5ddc7eeba",
    "extract_audio_features_synthetic_True":
        "8568a2b38c5455ecfb2b49bf3ff8ef76cb2a2e68139ec5e2ab4ab91c1a94aef0",
    "extract_image_features":
        "dcba5ce601cf420697c9f8f72ba1cb365e68601ef6e4f382d1953605557c6eda",
    "extract_image_features_synthetic_False":
        "85ae6f71bd4d63d06259f5753f057b0b718710b13117e81d3fc4a7a93299f5e4",
    "extract_image_features_synthetic_True":
        "4e477ebfc04c47600fd3ac9c452dc15ca9ae26abafecd5ad3faccc1249fcdb8c",
    "image_ahash":
        "ed5e21f3c7dc462fe25dfcef69d309d9938698eb0968e998002b5bbc7dfff2f2",
    "image_pixel_stats":
        "e033bda53af94bcfc08b34dde15baca72dd96455fe6314fd6d73a5a4cc0da4f8",
    "media_from_ids":
        "688d32a11b58631e9e159e5d8d444f1a0386b4862ab7d5515d2cd7cfe969b857",
    "noise_media_from_ids":
        "6233aeb5f51429ad1594a5b1fe7be5427d006286e8b40543d4d1fe8f5af9bc16",
    "probe_media_meta":
        "5ca4d545ee915f2effe829d9f1de54160906ef6a69c386bfd6ecd74ee24668d9",
    "video_frame_stats":
        "02ee18e7e8e09492e696c80d57bed8dc3afc4162150087e42b51d1886ad5819c",
    "video_from_ids":
        "8d630c029682292f304ab4f831090157631741ddaedb9cec89c99819105a7696",
    "video_probe_meta":
        "82cd2e5b2c09c416f86d09669af166104510457fe722006e031e05d82384bbe3",
    "video_signature":
        "b251432d7960d5f7b442ff5a31994834e4e8d2593d11063d8a603a3325155bb8",
    "video_signature_4":
        "9ddc02ad2a6f62927dd0ae52d422b205a09140acba6bb272cc330ef9e2d8d3c3",
}


def test_multimodal_outputs_pinned(spark):
    """Every multimodal operator's rows, pinned by sha256 of the sorted
    row reprs (NULL and NaN stay distinct).  The inputs are the four
    id→blob generators' output (their own rows pinned too), edge blobs
    (NULL, junk, empty, truncated RIFFs, a bare PNG signature, a PNG
    smaller than the aHash grid, a WAV shorter than the band count, a
    stereo WAV, a header-only JPEG) and real and noise
    ``synthetic_media``.  A rewrite of the Python-worker plumbing must
    reproduce every digest; an empty input must give an empty frame
    with the declared schema; strict decoders must raise their
    messages."""
    import hashlib

    def digest(df):
        return digest_rows(df.collect())

    def digest_rows(rows):
        rows = sorted(repr(tuple(r)) for r in rows)
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    def ids(n):
        return spark.range(0, n).withColumnRenamed("id", "media_id")

    generated = {
        "media_from_ids": multimodal.media_from_ids(ids(120)),
        "video_from_ids": multimodal.video_from_ids(
            ids(24), fps_fn=lambda i: 10 + i % 3
        ),
        "audio_from_ids": multimodal.audio_from_ids(
            spark.range(0, 40), id_col="id",
            extra_chunk_fn=lambda i: b"pad" * (i % 3) or None,
        ),
        "noise_media_from_ids": multimodal.noise_media_from_ids(ids(16)),
    }
    got = {}
    rows = []
    for k, (name, gen) in enumerate(generated.items()):
        gen_rows = gen.collect()
        got[name] = digest_rows(gen_rows)
        rows += [(1000 * k + r.media_id, r.blob) for r in gen_rows]
    wav = multimodal.encode_wav(8000, 400, pattern="ramp")
    edge = [
        None, b"junk", b"", wav[:30], wav[:51], b"\x89PNG\r\n\x1a\n",
        multimodal.encode_png(4, 4, pattern="gradient"),
        multimodal.encode_wav(8000, 5, pattern="ramp"),
        multimodal.encode_wav(8000, 200, channels=2, pattern="ramp"),
        multimodal.encode_jpeg_header(64, 48),
    ]
    rows += [(9000 + j, b) for j, b in enumerate(edge)]
    blobs = spark.createDataFrame(rows, "media_id long, blob binary")
    empty = spark.createDataFrame([], "media_id long, blob binary")

    def typed(df, media_type):
        return df.withColumn("meta", F.struct(F.lit(media_type).alias("media_type")))

    ops = {
        "probe_media_meta": multimodal.probe_media_meta,
        "image_pixel_stats": multimodal.image_pixel_stats,
        "audio_sample_stats": multimodal.audio_sample_stats,
        "audio_band_fingerprint": multimodal.audio_band_fingerprint,
        "audio_band_fingerprint_4": lambda m: multimodal.audio_band_fingerprint(
            m, n_bands=4
        ),
        "video_probe_meta": multimodal.video_probe_meta,
        "video_frame_stats": multimodal.video_frame_stats,
        "image_ahash": multimodal.image_ahash,
        "audio_content_signature": multimodal.audio_content_signature,
        "video_signature": multimodal.video_signature,
        "video_signature_4": lambda m: multimodal.video_signature(m, grid=4),
        "extract_image_features": lambda m: multimodal.extract_image_features(
            typed(m, "image")
        ),
        "extract_audio_features": lambda m: multimodal.extract_audio_features(
            typed(m, "audio"), window_ms=40
        ),
    }
    for name, op in ops.items():
        got[name] = digest(op(blobs))
        out = op(empty)
        assert out.collect() == [], name
        assert out.schema == op(blobs).schema, name
    for real in (False, True):
        media = multimodal.synthetic_media(spark, n=24, real_blobs=real)
        for op in (
            multimodal.extract_image_features, multimodal.extract_audio_features
        ):
            got[f"{op.__name__}_synthetic_{real}"] = digest(op(media))
    real = multimodal.synthetic_media(spark, n=24, real_blobs=True)
    for op in (multimodal.extract_image_features, multimodal.extract_audio_features):
        assert digest(op(real, strict=True)) == got[f"{op.__name__}_synthetic_True"]
    noise = multimodal.synthetic_media(spark, n=6)
    for op, msg in (
        (multimodal.extract_image_features,
         "pixel decode implemented for PNG-RGB8 and baseline 4:4:4 JPEG"),
        (multimodal.extract_audio_features,
         "sample decode implemented for PCM16 WAV only"),
    ):
        with pytest.raises(Exception, match=msg):
            op(noise, strict=True).collect()
    assert got == _MULTIMODAL_PINS


def test_pack_sequences_shards_scale_with_input(spark):
    """Derived n_shards must grow with input partitioning — a fixed
    shard count caps parallelism (and window size) regardless of data
    scale.  64-partition input ⇒ at least 64 shards."""
    df = (
        spark.range(0, 20_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", (F.col("doc_id") % 500 + 1).cast("long"))
        .repartition(64)
    )
    got = text.pack_sequences(df, budget=1024)
    n_shards = got.select("shard").distinct().count()
    assert n_shards >= 48  # 64 derived buckets, minus empty-bucket slack
    # explicit n_shards still honored (fixed downstream layouts)
    fixed = text.pack_sequences(df, budget=1024, n_shards=4)
    assert fixed.select("shard").distinct().count() == 4


def test_pack_manifest_boundary_spans(spark):
    """Hand-computed manifest: a doc crossing a sequence boundary must
    appear in BOTH sequences with complementary spans summing to its
    token count, and every interior sequence must be exactly full."""
    df = spark.createDataFrame(
        [(1, 600), (2, 600), (3, 600)], "doc_id long, n_tokens long"
    )
    rows = text.pack_manifest(df, budget=1000, n_shards=1).collect()
    by_seq = {r.seq_id: r for r in sorted(rows, key=lambda r: r.seq_id)}
    # layout: doc1 [0,600) seq0; doc2 [600,1200) → seq0 [600..1000)=400
    # + seq1 [0..200); doc3 [1200,1800) → seq1 [200..800)
    assert by_seq[0].spans == "1:0:600,2:600:400"
    assert by_seq[1].spans == "2:0:200,3:200:600"
    assert by_seq[0].n_docs == 2 and by_seq[1].n_docs == 2
    # spans in seq 0 fill the whole budget (interior sequences are full)
    lens0 = [int(s.split(":")[2]) for s in by_seq[0].spans.split(",")]
    assert sum(lens0) == 1000


def test_gopher_quality_rules_planted(spark):
    """Each rule fires on its planted violation and only there."""
    rows = [
        (1, "the cat sat on the mat and it is fine for all"),  # clean
        (2, "a b"),                                             # too few words
        (3, "the " + "supercalifragilistic " * 20 + "of it is"),  # long words
        (4, "the 123 456 789 000 111 222 333 444 of"),          # low alpha
        (5, "zebra quartz jumps vexing wizard fbord klyx m"),   # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.gopher_quality_rules(df).collect()}
    assert got[1].keep
    assert not got[2].ok_words and not got[2].keep
    assert not got[3].ok_word_len and not got[3].keep
    assert not got[4].ok_alpha and not got[4].keep
    assert not got[5].ok_stopwords and not got[5].keep
    # per-rule bits stay independently observable
    assert got[2].n_words == 2 and got[5].stop_hits == 0


def test_repetition_stats_planted(spark):
    """Hand-computed repetition fractions: a repeated-line doc, a
    looping-2gram doc, and a clean doc."""
    rows = [
        (1, "one two three four five"),               # clean: all distinct
        (2, "spam ham\nspam ham\nspam ham"),          # 3 lines, 1 distinct
        (3, "go go go go"),                           # 2-grams: "go go" x3
        (4, "x"),                                     # shorter than n: zeros
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert got[1].dup_line_frac == 0.0
    assert got[1].dup_2gram_frac == 0.0 and got[1].top_2gram_frac == 0.25
    assert got[2].dup_line_frac == pytest.approx(1 - 1 / 3, abs=1e-4)
    assert got[3].dup_2gram_frac == pytest.approx(1 - 1 / 3, abs=1e-4)
    assert got[3].top_2gram_frac == 1.0  # every 2-gram is "go go"
    assert got[4].dup_2gram_frac == 0.0 and got[4].top_2gram_frac == 0.0


def test_build_vocab_and_encode(spark):
    df = spark.createDataFrame(
        [(1, "b a a c"), (2, "a b b")], "doc_id long, text string"
    )
    vocab = text.build_vocab(df)
    rows = {r.token: (r.n, r.token_id) for r in vocab.collect()}
    # counts: a=3, b=3, c=1; ties break lexicographically → a=0, b=1, c=2
    assert rows == {"a": (3, 0), "b": (3, 1), "c": (1, 2)}
    capped = text.build_vocab(df, max_size=2)
    assert {r.token for r in capped.collect()} == {"a", "b"}
    enc = {r.doc_id: r.token_ids for r in text.encode_tokens(df, capped).collect()}
    # doc 1: b a a c → 1,0,0,<unk>; doc 2: a b b → 0,1,1
    assert enc == {1: "1,0,0,-1", 2: "0,1,1"}


def test_repetition_stats_hashed_matches_exact(spark, tables):
    """The hash_grams scale path must produce identical fractions on a
    real corpus (collisions are ~2^-64-scale events)."""
    docs = tables["documents"]
    exact = {r.doc_id: (r.dup_2gram_frac, r.top_2gram_frac)
             for r in text.repetition_stats(docs).collect()}
    hashed = {r.doc_id: (r.dup_2gram_frac, r.top_2gram_frac)
              for r in text.repetition_stats(docs, hash_grams=True).collect()}
    assert exact == hashed


def test_repetition_stats_edge_docs_both_paths(spark):
    """Degenerate docs — empty, single-token (no grams), all-identical
    tokens, a planted half-duplicate — must score identically on the
    string and hashed paths AND match hand-computed fractions, for the
    default bigram and a trigram screen (exercises the n>2 chained
    xxhash fold)."""
    rows = [
        (1, ""),                      # 0 tokens
        (2, "solo"),                  # 1 token, no bigrams
        (3, "a a a a"),               # one distinct bigram, 3 copies
        (4, "p q p q r"),             # 4 bigrams: pq qp pq qr -> 1 dup
        (5, "x y z"),                 # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n, expect in [
        (2, {1: (0.0, 0.0), 2: (0.0, 0.0), 3: (round(2 / 3, 4), 1.0),
             4: (0.25, 0.5), 5: (0.0, 0.5)}),
        (3, {1: (0.0, 0.0), 2: (0.0, 0.0), 3: (0.5, 1.0),
             4: (0.0, round(1 / 3, 4)), 5: (0.0, 1.0)}),
    ]:
        for hashed in (False, True):
            got = {
                r.doc_id: (r[f"dup_{n}gram_frac"], r[f"top_{n}gram_frac"])
                for r in text.repetition_stats(
                    df, n=n, hash_grams=hashed
                ).collect()
            }
            assert got == expect, (n, hashed, got)


# --- corpus-wide segment dedup (C4-style) ---------------------------------

def test_segment_dedup_planted(spark):
    # docs 10 and 20 share the exact 4-token prefix segment; the later
    # occurrence (doc 20) loses it, first occurrence survives verbatim
    rows = [
        (10, "alpha beta gamma delta unique tail ten one two"),
        (20, "alpha beta gamma delta other tail twenty one two"),
        (30, "totally distinct words here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text_dedup
        for r in dedup.drop_duplicate_segments(df, seg_tokens=4).collect()
    }
    assert out[10] == rows[0][1]
    # doc 20 loses the shared prefix segment AND its trailing "two"
    # segment (doc 10's final 1-token segment is also "two")
    assert out[20] == "other tail twenty one"
    assert out[30] == rows[2][1]


def test_segment_dedup_within_doc_repeat(spark):
    # a segment repeated INSIDE one doc is also deduped (pos ordering)
    df = spark.createDataFrame(
        [(1, "a b c d a b c d x y z w")], "doc_id long, text string"
    )
    out = dedup.drop_duplicate_segments(df, seg_tokens=4).collect()[0]
    assert out.text_dedup == "a b c d x y z w"


def test_segment_dedup_all_dropped_yields_empty(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text_dedup
           for r in dedup.drop_duplicate_segments(df, seg_tokens=4).collect()}
    assert out == {1: "a b c d", 2: ""}


# --- mixture sampling ------------------------------------------------------

def test_mixture_sample_deterministic_and_nested(spark):
    rows = [(i, f"text {i}", "web" if i % 2 else "books") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    half = text.mixture_sample(df, {"web": 0.5, "books": 1.0})
    quarter = text.mixture_sample(df, {"web": 0.25, "books": 1.0})
    half_ids = {r.doc_id for r in half.collect()}
    quarter_ids = {r.doc_id for r in quarter.collect()}
    # all books kept in both
    assert all(i in half_ids and i in quarter_ids for i in range(0, 400, 2))
    # nesting: lowering a fraction only removes rows, never adds
    assert quarter_ids <= half_ids
    # deterministic across runs
    assert {r.doc_id for r in half.collect()} == half_ids
    # unlisted sources are dropped
    none = text.mixture_sample(df, {"code": 1.0})
    assert none.count() == 0


def test_mixture_sample_fraction_guard(spark):
    df = spark.createDataFrame([(1, "t", "web")],
                               "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="fraction"):
        text.mixture_sample(df, {"web": 1.5})


# --- portable minhash / rolling fingerprint --------------------------------

def test_minhash_portable_matches_python(spark):
    import hashlib

    txt = "w0 w1 w2 w3 w4"
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    got = dedup.minhash_signatures_portable(df, num_hashes=2).collect()[0]
    toks = txt.split(" ")
    sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    for i, col in [(0, got.h0), (1, got.h1)]:
        expect = min(
            int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:12], 16) for s in sh
        )
        assert col == expect


def test_rolling_fingerprint_portable_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    out = {r.doc_id: r.f for r in df.select(
        "doc_id", text.rolling_fingerprint_portable("text").alias("f")
    ).collect()}
    assert out[1] != out[2]
    assert all(0 <= v < 1 << 40 for v in out.values())


# --- REAL pixel/sample decoders -------------------------------------------

def test_png_decode_all_filter_types():
    """Encode filtered scanlines with each PNG filter type by applying
    the spec's forward filters to a known image, then check
    decode_png_pixels inverts every one of them exactly."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    rng = np.random.RandomState(7)
    w, h = 5, 5
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    flat = img.reshape(h, 3 * w).astype(np.int64)
    stride = 3 * w
    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        enc = np.empty(stride, dtype=np.int64)
        for x in range(stride):
            a = line[x - 3] if x >= 3 else 0
            b_up = prev[x]
            c_ul = prev[x - 3] if x >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b_up
            elif ftype == 3:
                pred = (a + b_up) >> 1
            else:  # paeth
                p = a + b_up - c_ul
                pa, pb, pc = abs(p - a), abs(p - b_up), abs(p - c_ul)
                pred = a if (pa <= pb and pa <= pc) else (b_up if pb <= pc else c_ul)
            enc[x] = (line[x] - pred) % 256
        raw += bytes([ftype]) + bytes(enc.astype(np.uint8))

    def chunk(tag, payload):
        crc = _zlib.crc32(tag + payload) & 0xFFFFFFFF
        return _struct.pack(">I", len(payload)) + tag + payload + _struct.pack(">I", crc)

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = multimodal.decode_png_pixels(png)
    assert got is not None and (got == img).all()


def test_png_decode_rejects_garbage():
    assert multimodal.decode_png_pixels(b"not a png") is None
    assert multimodal.decode_png_pixels(None) is None
    # truncated real PNG → None, not an exception
    good = multimodal.encode_png(8, 8, pattern="gradient")
    assert multimodal.decode_png_pixels(good[:30]) is None


def test_png_gradient_roundtrip_exact():
    import numpy as np

    px = multimodal.decode_png_pixels(multimodal.encode_png(20, 10, "gradient"))
    assert px.shape == (10, 20, 3)
    x = np.arange(20)[None, :, None]
    y = np.arange(10)[:, None, None]
    c = np.arange(3)[None, None, :]
    assert (px == ((x + y + c) % 256)).all()


def test_wav_decode_roundtrip_exact():
    import numpy as np

    b = multimodal.encode_wav(8000, 1000, channels=2, pattern="ramp")
    rate, ch, samples = multimodal.decode_wav_samples(b)
    assert (rate, ch) == (8000, 2)
    assert samples.shape == (1000, 2)
    expect = np.array([((i * 37) % 201) - 100 for i in range(1000)])
    assert (samples[:, 0] == expect).all() and (samples[:, 1] == expect).all()
    assert multimodal.decode_wav_samples(b"RIFFjunk") is None


def test_mfcc_distinguishes_tones():
    """Real MFCC sanity: two pure tones an octave apart must produce
    different coefficient vectors; identical input → identical output."""
    import numpy as np

    t = np.arange(4000) / 16000.0
    low = np.sin(2 * np.pi * 440 * t)
    high = np.sin(2 * np.pi * 880 * t)
    m_low = multimodal._mfcc_mean(low, 16000)
    m_high = multimodal._mfcc_mean(high, 16000)
    assert len(m_low) == len(m_high) == 13
    assert m_low == multimodal._mfcc_mean(low, 16000)
    assert max(abs(a - b) for a, b in zip(m_low, m_high)) > 0.5


def test_unigram_logprob_orders_common_vs_rare(spark):
    # doc 1 repeats the corpus-dominant token; doc 2 is all hapaxes →
    # doc 1 must score strictly higher (closer to 0)
    rows = [
        (1, "the the the the the"),
        (2, "zyx qwv plk mnb vcx"),
        (3, "the the zyx the the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.logprob for r in
           text.unigram_logprob_score(df).collect()}
    assert got[1] > got[3] > got[2]
    assert all(v < 0 for v in got.values())


def test_bigram_logprob_orders_transitions(spark):
    # docs 1-2 share identical unigram content ("a b" ×4 worth of
    # tokens) but doc 2 scrambles the transitions, so only the bigram
    # score separates them; doc 3 is too short for any bigram → NULL;
    # doc 4 is empty → NULL.
    rows = [
        (1, "a b a b a b a b"),
        (2, "a a b b a a b b"),
        (3, "solo"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.logprob for r in
           text.bigram_logprob_score(df).collect()}
    assert len(got) == 4
    assert got[1] > got[2]
    assert got[3] is None and got[4] is None
    assert got[1] < 0 and got[2] < 0


def test_fuzzy_pairs_requires_block(spark, docs_with_dups):
    with pytest.raises(ValueError, match="blocking"):
        dedup.fuzzy_pairs_levenshtein(docs_with_dups, block_col=None)


def test_fuzzy_pairs_finds_near_dup_and_bounds(spark, docs_with_dups):
    sh = dedup.shingles(F.col("text"), k=2)
    docs = docs_with_dups.withColumn(
        "blk", F.array_min(F.transform(sh, lambda s: F.md5(s)))
    )
    pairs = {
        (r.id_a, r.id_b): r.edit_dist
        for r in dedup.fuzzy_pairs_levenshtein(
            docs, block_col="blk", max_distance=10
        ).collect()
    }
    assert pairs[(0, 3)] == 0  # exact dup
    assert 0 < pairs[(0, 1)] <= 10  # planted near-dup ("bank"→"bend")
    # over-threshold / cross-block pairs never emitted
    assert all(d <= 10 for d in pairs.values())


def test_normalize_embeddings_arrow_unit_norm_and_zero_safe(spark):
    import math

    rows = [(0, [3.0, 4.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.id: r for r in similarity.normalize_embeddings_arrow(
        df, dim=4).collect()}
    assert out[0].norm == pytest.approx(5.0)
    assert out[0].normalized == pytest.approx([0.6, 0.8, 0.0, 0.0])
    # zero vector: norm 0 reported, vector passes through un-divided
    assert out[1].norm == 0.0
    assert out[1].normalized == [0.0, 0.0, 0.0, 0.0]
    renorm = math.sqrt(sum(v * v for v in out[0].normalized))
    assert renorm == pytest.approx(1.0)


def test_near_dup_clusters_portable_collapses_chain(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base + " extra"),           # near-dup of 0
        (2, base + " extra more"),      # near-dup of 1 (chain 0~1~2)
        (9, "totally different words nothing shared here at all today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.cluster
           for r in dedup.near_duplicate_clusters_portable(
               df, min_matches=3).collect()}
    assert got[0] == got[1] == got[2] == 0  # chain collapses to min id
    assert got[9] == 9  # singleton keeps its own id


# --- baseline JPEG codec (pipeline/jpeg.py) --------------------------------

def test_jpeg_roundtrip_bounded_error():
    import numpy as np

    from spark_monotasks_spark.pipeline import jpeg

    x = np.arange(24)[None, :, None]
    y = np.arange(16)[:, None, None]
    c = np.arange(3)[None, None, :]
    img = ((x * 3 + y * 5 + c * 10) % 200 + 20).astype(np.uint8)
    dec = jpeg.decode_jpeg_pixels(jpeg.encode_jpeg_pixels(img, quality=90))
    assert dec is not None and dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 2.0 and err.max() <= 12  # smooth content ≈ lossless
    # channel means survive DC quantization nearly exactly
    assert abs(float(dec.mean()) - float(img.mean())) < 1.0


def test_jpeg_decoder_rejects_out_of_profile():
    import struct

    import numpy as np

    from spark_monotasks_spark.pipeline import jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    good = jpeg.encode_jpeg_pixels(img)
    assert jpeg.decode_jpeg_pixels(good) is not None
    # flip SOF0 (C0) to progressive SOF2 (C2) → None, not an exception
    i = good.find(b"\xff\xc0")
    progressive = good[:i] + b"\xff\xc2" + good[i + 2:]
    assert jpeg.decode_jpeg_pixels(progressive) is None
    assert jpeg.decode_jpeg_pixels(b"\xff\xd8junk") is None
    assert jpeg.decode_jpeg_pixels(good[:40]) is None


def test_jpeg_blobs_decode_in_feature_batch(spark):
    """media_from_ids' JPEG rows now carry full scans: the image
    feature extractor must return REAL dims + stats for them."""
    ids = spark.createDataFrame([(1,), (4,), (7,)], "media_id long")
    media = multimodal.media_from_ids(ids)  # ids %3==1 → JPEG
    meta = multimodal.probe_media_meta(media)
    full = media.join(
        meta.withColumnRenamed("media_id", "mid"),
        F.col("media_id") == F.col("mid"),
    ).select(
        "media_id",
        "blob",
        F.struct(
            F.lit("image").alias("media_type"),
            F.col("codec"),
            F.col("width"),
            F.col("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )
    rows = multimodal.extract_image_features(full, strict=True).collect()
    assert len(rows) == 3
    for r in rows:
        i = r.media_id
        assert (r.width, r.height) == (32 + i % 64, 24 + i % 40)
        # gradient mean_r ≈ (w-1)/2 + (h-1)/2 within JPEG loss
        expect = (r.width - 1) / 2 + (r.height - 1) / 2
        assert abs(r.features[0] - expect) < 1.5, (i, r.features[0], expect)


def test_jpeg_decode_stats_bounded_error(spark, tables):
    from spark_monotasks_spark.queries.pipeline_queries import jpeg_decode_stats
    from tests.conftest import SF_TEST_DIR

    rows = jpeg_decode_stats(spark, SF_TEST_DIR).collect()
    assert rows and all(r.width is not None for r in rows)
    for r in rows:
        i = r.media_id
        assert (r.width, r.height) == (32 + i % 64, 24 + i % 40)
        expect = (r.width - 1) / 2 + (r.height - 1) / 2
        # JPEG loss bounds: channel means within 1.5 grey levels
        assert abs(r.mean_r - expect) < 1.5
        assert abs(r.mean_g - (expect + 1)) < 1.5
        assert abs(r.mean_b - (expect + 2)) < 1.5


#: sha256 of the codec's output over `_jpeg_pin_corpus`: encoded bytes,
#: decoded pixels, and the decode of seeded truncations and byte flips
#: (None included), so a rewrite of either codec half must be
#: byte-identical and return None in the same cases
_JPEG_PIN = {
    "encoded": "c05497a32afed59be61f68e4c0156e317b332480e574363ab712c6e2beea9658",
    "decoded": "22b09b21c35913cded54be0adf7bbc31d1fec61199df3053a612616eb982d822",
    "damaged": "0527032a4a67c791883b2cefb656147f1a914d74e6b0254766eb8af1d45db32a",
}


def _jpeg_pin_corpus():
    """(image, quality) pairs: catalog-shaped gradients and uniform noise,
    sides 1-69 (1x1, non-multiples of 8), qualities 10, 50 and 92."""
    import numpy as np

    rng = np.random.default_rng(20261020)
    sides = [(1, 1), (1, 8), (8, 1), (2, 3), (7, 9), (8, 8), (9, 16),
             (17, 15), (24, 31), (40, 33), (48, 64), (13, 57), (69, 69)]
    sides += [tuple(int(s) for s in rng.integers(1, 70, 2)) for _ in range(4)]
    images = []
    for h, w in sides:
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        images.append(((x + y + c) % 256).astype(np.uint8))
        images.append(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))
    return [(img, q) for img in images for q in (10, 50, 92)]


def test_jpeg_codec_output_pinned():
    import hashlib

    import numpy as np

    from spark_monotasks_spark.pipeline import jpeg

    def digest(parts):
        h = hashlib.sha256()
        for p in parts:
            h.update(b"None" if p is None else
                     repr(p.shape).encode() + p.tobytes())
        return h.hexdigest()

    blobs = [jpeg.encode_jpeg_pixels(img, quality=q)
             for img, q in _jpeg_pin_corpus()]
    encoded = hashlib.sha256(b"".join(
        len(b).to_bytes(4, "big") + b for b in blobs)).hexdigest()
    decoded = [jpeg.decode_jpeg_pixels(b) for b in blobs]
    assert all(d is not None for d in decoded)

    rng = np.random.default_rng(7)
    damaged = []
    for b in blobs[::5]:
        scan = b.find(b"\xff\xda") + 14  # SOS segment: 2 + 12 bytes
        cut = int(rng.integers(scan, len(b)))
        damaged.append(b[:cut])
        flip = bytearray(b)
        for at in rng.integers(scan, len(b) - 2, 3):
            flip[at] ^= int(rng.integers(1, 256))
        damaged.append(bytes(flip))
    got = {
        "encoded": encoded,
        "decoded": digest(decoded),
        "damaged": digest(jpeg.decode_jpeg_pixels(b) for b in damaged),
    }
    assert got == _JPEG_PIN

    # out of profile or broken: None, never an exception
    for b in blobs[::7]:
        scan = b.find(b"\xff\xda") + 14
        i = b.find(b"\xff\xc0")
        assert jpeg.decode_jpeg_pixels(b[:-3]) is None  # truncated scan
        assert jpeg.decode_jpeg_pixels(b[:scan]) is None  # no scan at all
        assert jpeg.decode_jpeg_pixels(
            b[:i] + b"\xff\xc2" + b[i + 2:]) is None  # progressive
        assert jpeg.decode_jpeg_pixels(
            b[:scan] + b"\xff\x00" * 4 + b"\xff\xd9") is None  # bad code
        dht = b.find(b"\xff\xc4")
        assert jpeg.decode_jpeg_pixels(b[:dht + 12]) is None  # cut in DHT


# --- count-min sketch (pipeline/sketches.py) -------------------------------

def test_cms_estimate_overestimates_and_exact_when_wide(spark):
    """CMS never underestimates; with width >> distinct keys and no
    collisions the estimate equals the exact count."""
    from spark_monotasks_spark.pipeline import sketches

    rows = [(f"k{i % 7}",) for i in range(200)] + [("hot",)] * 50
    df = spark.createDataFrame(rows, "key string")
    exact = {r.key: r.n for r in df.groupBy("key").count()
             .withColumnRenamed("count", "n").collect()}
    sk = sketches.cms_build(df, "key", depth=4, width=4096)
    est = {r.key: r.est for r in sketches.cms_estimate(
        sk, df.select("key").distinct(), "key", depth=4, width=4096).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # 8 keys into 4096 buckets x 4 rows: a collision in EVERY row is
    # (8/4096)^4-improbable; the planted counts must come back exact
    assert est == exact


def test_cms_merge_equals_single_build(spark):
    """union+sum of shard sketches == one sketch over the whole input
    (counter addition is exact), so per-shard rollups lose nothing."""
    from spark_monotasks_spark.pipeline import sketches

    df = spark.createDataFrame(
        [(i % 13, i % 3) for i in range(300)], "key int, shard int"
    )
    whole = sketches.cms_build(df, "key", depth=3, width=512)
    parts = [
        sketches.cms_build(df.filter(F.col("shard") == s), "key",
                           depth=3, width=512)
        for s in (0, 1, 2)
    ]
    merged = sketches.cms_merge(*parts)
    a = {(r.row, r.bucket): r.cnt for r in whole.collect()}
    b = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    assert a == b


def test_cms_weighted_and_guards(spark):
    from spark_monotasks_spark.pipeline import sketches
    import pytest as _pytest

    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 7), (None, 99)], "key string, w int"
    )
    sk = sketches.cms_build(df, "key", depth=2, width=256, weight_col="w")
    est = {r.key: r.est for r in sketches.cms_estimate(
        sk, df.filter(F.col("key").isNotNull()).select("key").distinct(),
        "key", depth=2, width=256).collect()}
    assert est == {"a": 15, "b": 7}  # NULL key skipped, weights summed
    with _pytest.raises(ValueError):
        sketches.cms_build(df, "key", depth=0)


def test_cms_xxhash64_family_same_guarantees(spark):
    """The xxhash64 scale family obeys the same sketch guarantees as
    the portable md5 family (overestimate bound; exact in the
    collision-free regime), just without cross-engine reproducibility."""
    from spark_monotasks_spark.pipeline import sketches

    df = spark.createDataFrame(
        [(f"k{i % 11}",) for i in range(330)], "key string"
    )
    exact = {r.key: r.n for r in df.groupBy("key").count()
             .withColumnRenamed("count", "n").collect()}
    sk = sketches.cms_build(df, "key", depth=4, width=4096,
                            hash_family="xxhash64")
    est = {r.key: r.est for r in sketches.cms_estimate(
        sk, df.select("key").distinct(), "key", depth=4, width=4096,
        hash_family="xxhash64").collect()}
    assert est == exact
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sketches.cms_bucket(F.col("key"), 0, 16, "fnv")


# --- incremental dedup (dedup.incremental_exact_dedup) ---------------------

def test_incremental_dedup_cross_batch_and_idempotence(spark):
    from spark_monotasks_spark.pipeline import dedup

    first = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    surv1, store1 = dedup.incremental_exact_dedup(first, None)
    assert sorted(r.doc_id for r in surv1.collect()) == [1, 2]  # 3 dups 1

    second = spark.createDataFrame(
        [(10, "beta text"),    # dup of history -> dropped
         (11, "gamma text"),   # new -> kept
         (12, "gamma text"),   # within-batch dup of 11 -> dropped
         (13, "delta text")],  # new -> kept
        "doc_id long, text string",
    )
    surv2, delta2 = dedup.incremental_exact_dedup(second, store1)
    assert sorted(r.doc_id for r in surv2.collect()) == [11, 13]
    # delta carries exactly the first-seen fingerprints of this batch
    assert sorted(r.keep_id for r in delta2.collect()) == [11, 13]

    # idempotence: appending the delta and replaying the batch yields 0
    store2 = store1.select("fp").unionAll(delta2.select("fp"))
    surv_replay, _ = dedup.incremental_exact_dedup(second, store2)
    assert surv_replay.count() == 0


# --- histogram quantile sketch (pipeline/sketches.py) ----------------------

def test_histogram_quantiles_bounded_error_and_merge(spark):
    from spark_monotasks_spark.pipeline import sketches

    vals = [float(i) for i in range(1000)]  # uniform 0..999
    df = spark.createDataFrame([(v, int(v) % 3) for v in vals],
                               "v double, shard int")
    h = sketches.histogram_build(df, "v", bin_width=10.0)
    got = {r.q: r.value for r in sketches.histogram_quantiles(
        h, [0.5, 0.9, 0.99], bin_width=10.0).collect()}
    # true p50=499.5 -> bin 49 -> upper edge 500; error <= bin_width
    assert abs(got[0.5] - 500.0) < 1e-9
    assert abs(got[0.9] - 900.0) < 1e-9
    assert abs(got[0.99] - 990.0) < 1e-9

    # shard histograms merge to exactly the whole-input histogram
    parts = [sketches.histogram_build(df.filter(F.col("shard") == s), "v", 10.0)
             for s in (0, 1, 2)]
    merged = sketches.histogram_merge(*parts)
    a = {(r.bin): r.cnt for r in h.collect()}
    b = {(r.bin): r.cnt for r in merged.collect()}
    assert a == b
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sketches.histogram_build(df, "v", 0)
    with _pytest.raises(ValueError):
        sketches.histogram_quantiles(h, [], bin_width=10.0)


def test_incremental_dedup_null_text_is_one_group(spark):
    """NULL-text rows hash to a NULL fingerprint; the null-safe store
    anti-join must recognize it so the null group dedups across batches
    instead of surviving (and re-appending a store row) every batch."""
    from spark_monotasks_spark.pipeline import dedup

    first = spark.createDataFrame(
        [(1, None), (2, "real text"), (3, None)], "doc_id long, text string"
    )
    surv1, store1 = dedup.incremental_exact_dedup(first, None)
    # within-batch: the two NULL rows collapse to the min id
    assert sorted(r.doc_id for r in surv1.collect()) == [1, 2]

    second = spark.createDataFrame(
        [(10, None), (11, "other")], "doc_id long, text string"
    )
    surv2, delta2 = dedup.incremental_exact_dedup(second, store1)
    # cross-batch: the NULL group is already in the store -> dropped
    assert [r.doc_id for r in surv2.collect()] == [11]
    assert [r.keep_id for r in delta2.collect()] == [11]

    # idempotence holds for the NULL group too
    store2 = store1.select("fp").unionAll(delta2.select("fp"))
    surv_replay, delta_replay = dedup.incremental_exact_dedup(first, store2)
    assert surv_replay.count() == 0 and delta_replay.count() == 0


# --- weighted sampling + deterministic shuffle -----------------------------

def test_weighted_sample_equal_weights_is_md5_ranking(spark):
    """With equal weights, u^(1/w) is monotone in u, so the sample must
    be EXACTLY the top-k rows by the integer md5 draw — checkable
    without any float comparison."""
    import hashlib

    from spark_monotasks_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(200)], "doc_id long, w double"
    )
    got = sorted(
        r.doc_id for r in T.weighted_sample_k(df, 20, "w", seed="s1").collect()
    )
    draws = {
        i: int(hashlib.md5(f"s1#{i}".encode()).hexdigest()[:12], 16)
        for i in range(200)
    }
    expect = sorted(sorted(draws, key=lambda i: (-draws[i], i))[:20])
    assert got == expect


def test_weighted_sample_determinism_and_weight_pull(spark):
    from spark_monotasks_spark.pipeline import text as T

    rows = [(i, 1.0) for i in range(500)] + [(1000, 1e9), (1001, None),
                                             (1002, 0.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = sorted(r.doc_id for r in T.weighted_sample_k(df, 25, "w").collect())
    b = sorted(r.doc_id for r in T.weighted_sample_k(df, 25, "w").collect())
    assert a == b  # deterministic
    assert 1000 in a  # the 1e9-weight row is effectively certain
    assert 1001 not in a and 1002 not in a  # NULL/zero weight undrawable
    c = sorted(r.doc_id
               for r in T.weighted_sample_k(df, 25, "w", seed="other").collect())
    assert a != c  # a new seed is a new epoch


def test_weighted_sample_pow2_matches_true_form_on_pow2_weights(spark):
    """When every weight IS a power of two, the quantization is the
    identity, so the pow2 portable twin must select the same rows the
    true-weight A-Res does (sqrt chains vs pow agree: u^(1/2^e) by
    repeated sqrt equals pow(u, 2^-e) up to pow's ulp, and selection
    is md5-separated well beyond one ulp on this input)."""
    from spark_monotasks_spark.pipeline import text as T

    rows = [(i, float(1 << (i % 8))) for i in range(400)]
    rows += [(1001, None), (1002, 0.5)]  # NULL and <1 undrawable (pow2)
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = sorted(
        r.doc_id for r in T.weighted_sample_k_pow2(df, 30, "w", seed="s2").collect()
    )
    want = sorted(
        r.doc_id
        for r in T.weighted_sample_k(
            df.filter("w >= 1.0"), 30, "w", seed="s2"
        ).collect()
    )
    assert got == want
    assert 1001 not in got and 1002 not in got


def test_deterministic_shuffle_is_engine_stable(spark):
    import hashlib

    from spark_monotasks_spark.pipeline import text as T

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    got = {r.doc_id: r.shuffle_pos
           for r in T.deterministic_shuffle(df, seed="ep2").collect()}
    order = sorted(
        range(100),
        key=lambda i: (hashlib.md5(f"ep2#{i}".encode()).hexdigest(), i),
    )
    expect = {doc: pos + 1 for pos, doc in enumerate(order)}
    assert got == expect
    # repartitioning must not change the permutation
    got2 = {r.doc_id: r.shuffle_pos
            for r in T.deterministic_shuffle(
                df.repartition(7), seed="ep2").collect()}
    assert got2 == expect
    # the top_k rank-filter shape agrees with the full permutation's
    # prefix (different plan — bounded TakeOrdered heap — same values)
    got_k = {r.doc_id: r.shuffle_pos
             for r in T.deterministic_shuffle(
                 df, seed="ep2", top_k=10).collect()}
    assert got_k == {d: p for d, p in expect.items() if p <= 10}


# --- text cleaning + URL/domain curation -----------------------------------

def test_clean_text_strips_and_collapses(spark):
    rows = [
        (0, "plain text stays"),
        (1, "tab\tand\nnewline   runs"),
        (2, "bell\x07control\x00chars\x1fgone"),
        (3, "zero​width‌joiners‍and﻿bom"),
        (4, "  padded  both  ends  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.c
           for r in df.select("doc_id",
                              text.clean_text("text").alias("c")).collect()}
    assert got[0] == "plain text stays"
    assert got[1] == "tab and newline runs"
    assert got[2] == "bellcontrolcharsgone"
    assert got[3] == "zerowidthjoinersandbom"
    assert got[4] == "padded both ends"
    # idempotent: cleaning clean text is identity
    df2 = spark.createDataFrame([(k, v) for k, v in got.items()],
                                "doc_id long, text string")
    again = {r.doc_id: r.c
             for r in df2.select("doc_id",
                                 text.clean_text("text").alias("c")).collect()}
    assert again == got


def test_clean_text_no_collapse_keeps_whitespace(spark):
    df = spark.createDataFrame([(0, "a  b\x07c")], "doc_id long, text string")
    (r,) = df.select(
        text.clean_text("text", collapse_whitespace=False).alias("c")
    ).collect()
    assert r.c == "a  bc"


def test_extract_urls_and_domains(spark):
    rows = [
        (0, "see https://EN.Example.com/Path?q=1 and http://user:pw@host.org:8080/x"),
        (1, "no links here"),
        (2, "trailing http://a.b.c stop ftp://not.matched http://last.one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.urls
           for r in df.select("doc_id",
                              text.extract_urls("text").alias("urls")).collect()}
    assert got[0] == ["https://EN.Example.com/Path?q=1",
                      "http://user:pw@host.org:8080/x"]
    assert got[1] == []
    assert got[2] == ["http://a.b.c", "http://last.one"]
    doms = [r.d for r in
            spark.createDataFrame([(u,) for u in got[0]], "url string")
            .select(text.url_domain("url").alias("d")).collect()]
    # host lower-cased; userinfo and port stripped
    assert doms == ["en.example.com", "host.org"]


def test_domain_counts(spark):
    rows = [
        (0, "x http://a.com/1 y http://a.com/2 z https://b.com"),
        (1, "only https://A.COM/3"),
        (2, "nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.domain: (r.n_urls, r.n_docs)
           for r in text.domain_counts(df).collect()}
    assert got == {"a.com": (3, 2), "b.com": (1, 1)}


def test_blocklist_filter(spark):
    rows = [
        (0, "links http://bad.com/x"),
        (1, "links http://good.com/x"),
        (2, "no urls at all"),
        (3, "both http://good.com and https://u@BAD.com:443/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    kept = sorted(r.doc_id for r in
                  text.blocklist_filter(df, blocked).collect())
    assert kept == [1, 2]  # 0 and 3 hit the blocklist; 2 (no URLs) survives
    # empty blocklist keeps everything
    empty = spark.createDataFrame([], "domain string")
    assert text.blocklist_filter(df, empty).count() == 4


# --- incremental near-dup dedup vs a persistent signature store ------------

@pytest.fixture(scope="module")
def inc_minhash_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river"
    hist = spark.createDataFrame(
        [(0, base + " bank"),
         (1, "completely unrelated historical text about query engines")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, base + " bend"),          # near-dup of history doc 0
         (11, "fresh content on shuffle partitioning and skew salting plans"),
         (12, "fresh content on shuffle partitioning and skew salting maps"),
         # 12 ~ 11 within batch; 11 (min id) survives
         (13, "entirely novel document with no relatives anywhere at all")],
        "doc_id long, text string")
    return hist, batch


@pytest.mark.parametrize("family", ["xxhash64", "md5", "md5mod"])
def test_incremental_minhash_dedup(spark, inc_minhash_corpus, family):
    hist, batch = inc_minhash_corpus
    store = dedup.melted_minhash_signatures(hist, family=family)
    surv, delta = dedup.incremental_minhash_dedup(
        batch, store, min_matches=4, family=family)
    assert sorted(r.doc_id for r in surv.collect()) == [11, 13]
    # delta carries exactly the survivors' melted signatures
    assert sorted(set(r.id for r in delta.collect())) == [11, 13]
    # idempotence: replaying the batch against the updated store
    # yields zero survivors (previous survivors now self-match all
    # families; previous casualties die as before)
    store2 = store.unionByName(delta.select("id", "fam", "h"))
    surv2, _ = dedup.incremental_minhash_dedup(
        batch, store2, min_matches=4, family=family)
    assert surv2.count() == 0


def test_incremental_minhash_family_equivalence_corpus(spark):
    """The benched xxhash64 scale path and the oracle-gated md5mod
    audit family must pick the SAME survivor set on a real corpus —
    the claim that lets the bench time one while the driver
    value-proves the other (r6; sf0.001 odd/even split, the catalog
    entries' exact shape)."""
    from tests.conftest import SF_TEST_DIR

    from spark_monotasks_spark.queries import QUERY_REGISTRY

    scale = QUERY_REGISTRY["incremental_minhash_scale"](spark, SF_TEST_DIR)
    audit = QUERY_REGISTRY["incremental_minhash_batch"](spark, SF_TEST_DIR)
    s_ids = sorted(r.doc_id for r in scale.collect())
    a_ids = sorted(r.doc_id for r in audit.collect())
    assert s_ids, "degenerate 0-survivor result"
    assert s_ids == a_ids


def test_incremental_minhash_scale_staged_store(spark):
    """The benched scale entry reads a PARQUET-STAGED history store
    (r6 verdict ask #1 — the store build must sit outside the timed
    region because production builds it once, not per batch).  Pin
    that (a) staging is idempotent and leaves the _SUCCESS marker the
    skip check gates on, and (b) the staged-store survivor set equals
    the unstaged in-memory form exactly."""
    import os

    from tests.conftest import SF_TEST_DIR

    from spark_monotasks_spark.queries.pipeline_queries import (
        stage_minhash_store,
    )

    path = stage_minhash_store(spark, SF_TEST_DIR)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    # second call must not rebuild: same path, files untouched
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    assert stage_minhash_store(spark, SF_TEST_DIR) == path
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime

    from spark_monotasks_spark.tables import load_tables

    docs = load_tables(spark, SF_TEST_DIR)["documents"]
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    live_store = dedup.melted_minhash_signatures(
        docs.filter(F.col("doc_id") % 2 == 0),
        shingle_k=3, num_hashes=8, family="xxhash64",
    )
    staged_store = spark.read.parquet(path)
    surv_live, _ = dedup.incremental_minhash_dedup(
        batch, live_store, shingle_k=3, num_hashes=8, min_matches=4,
        family="xxhash64")
    surv_staged, _ = dedup.incremental_minhash_dedup(
        batch, staged_store, shingle_k=3, num_hashes=8, min_matches=4,
        family="xxhash64")
    assert sorted(r.doc_id for r in surv_staged.collect()) == sorted(
        r.doc_id for r in surv_live.collect())


def test_incremental_minhash_first_batch_no_store(spark, inc_minhash_corpus):
    _, batch = inc_minhash_corpus
    surv, delta = dedup.incremental_minhash_dedup(batch, None, min_matches=4)
    # no history: within-batch transitive dedup only
    assert sorted(r.doc_id for r in surv.collect()) == [10, 11, 13]
    assert delta.count() == 3 * 8  # 8 families per survivor


def test_incremental_minhash_contaminated_cluster(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist = spark.createDataFrame([(0, base + " one")],
                                 "doc_id long, text string")
    # 20 ~ history; 21 ~ 20 but NOT directly ~ history text: the whole
    # cluster is contaminated, so neither survives
    batch = spark.createDataFrame(
        [(20, base + " two"), (21, base + " three"),
         (22, "untouched standalone content about broadcast join planning")],
        "doc_id long, text string")
    store = dedup.melted_minhash_signatures(hist)
    surv, _ = dedup.incremental_minhash_dedup(batch, store, min_matches=4)
    assert sorted(r.doc_id for r in surv.collect()) == [22]


# --- quantile-calibrated quality filter ------------------------------------

def test_top_fraction_exact_matches_model(spark):
    rows = [(i, "g" + str(i % 2), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    kept = sorted(
        (r.grp, r.doc_id)
        for r in text.top_fraction_per_group(
            df, "score", 0.3, group_cols=["grp"]).collect())
    # each group has 10 members, ceil(10*0.3)=3 → top-3 scores per group
    expect = sorted([("g0", i) for i in (18, 16, 14)]
                    + [("g1", i) for i in (19, 17, 15)])
    assert kept == expect


def test_top_fraction_approx_contains_exact(spark):
    rows = [(i, "g", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    exact = {r.doc_id for r in text.top_fraction_per_group(
        df, "score", 0.2, group_cols=["grp"], exact=True).collect()}
    approx = {r.doc_id for r in text.top_fraction_per_group(
        df, "score", 0.2, group_cols=["grp"], exact=False).collect()}
    # the sketch threshold is an actual data element at/below the
    # quantile and ties at it survive, so approx keeps AT LEAST the
    # top frac — a superset of exact with bounded slack on tight data
    assert approx >= exact
    assert len(approx) <= len(exact) + 1


def test_top_fraction_frac_one_keeps_all_and_validates(spark):
    df = spark.createDataFrame([(0, "g", 1.0)],
                               "doc_id long, grp string, score double")
    assert text.top_fraction_per_group(
        df, "score", 1.0, group_cols=["grp"]).count() == 1
    with pytest.raises(ValueError):
        text.top_fraction_per_group(df, "score", 0.0, group_cols=["grp"])


# --- temperature mixture sampling ------------------------------------------

def test_temperature_mixture_alpha1_is_uniform_rate(spark):
    import hashlib
    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted(r.doc_id for r in text.temperature_mixture_sample(
        df, alpha=1.0, target_fraction=0.25).collect())
    # alpha=1 → every group keeps the same 25% rate; membership is the
    # md5 bucket rule, reproducible driver-side
    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
    expect = sorted(i for i in range(100) if bucket(i) < 2500)
    assert got == expect


def test_temperature_mixture_low_alpha_boosts_small_groups(spark):
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = text.temperature_mixture_sample(
        df, alpha=0.0, target_fraction=0.3).groupBy("source").count().collect()
    by_src = {r.source: r["count"] for r in kept}
    # alpha=0 splits the 300-row budget evenly: ~150 from each group,
    # so the small group's keep RATE far exceeds the big group's
    assert by_src["small"] / 100 > by_src["big"] / 900
    # and the overall take is in the neighborhood of the target
    assert 150 <= sum(by_src.values()) <= 450


def test_temperature_mixture_rate_caps_at_group_size(spark):
    # tiny group + alpha=0: uncapped rate would exceed 1; every member
    # of the tiny group must simply survive
    rows = [(i, "big") for i in range(500)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = text.temperature_mixture_sample(
        df, alpha=0.0, target_fraction=0.5)
    assert kept.filter(F.col("source") == "tiny").count() == 1


def test_temperature_mixture_validates(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        text.temperature_mixture_sample(df, target_fraction=1.5)
    with pytest.raises(ValueError):
        text.temperature_mixture_sample(df, alpha=-0.1)


# ---------------------------------------------------------------------------
# boilerplate line removal
# ---------------------------------------------------------------------------

def _bp_corpus(spark):
    """3 docs of site A share header+footer; doc 13 is all boilerplate;
    doc 20 (site B) has nothing frequent."""
    rows = [
        (10, "A", "HEAD\nalpha prose\nFOOT"),
        (11, "A", "HEAD\nbeta prose\nFOOT"),
        (12, "A", "  HEAD  \ngamma prose\nFOOT"),   # trimmed match
        (13, "A", "HEAD\nFOOT"),                    # all lines boilerplate
        (20, "B", "HEAD\ndelta prose\nFOOT"),       # freq 1 within B
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_remove_boilerplate_strips_frequent_lines(spark):
    from spark_monotasks_spark.pipeline import text as T

    out = {
        r.doc_id: r
        for r in T.remove_boilerplate(_bp_corpus(spark), min_docs=3).collect()
    }
    assert out[10].text_clean == "alpha prose"
    assert out[10].n_lines_kept == 1 and out[10].n_lines_removed == 2
    # trimmed form matches — whitespace-padded header still stripped
    assert out[12].text_clean == "gamma prose"
    # all lines boilerplate -> empty doc
    assert out[13].text_clean == "" and out[13].n_lines_kept == 0
    # same lines under another source are NOT frequent there
    assert out[20].text_clean == "HEAD\ndelta prose\nFOOT"
    assert out[20].n_lines_removed == 0


def test_remove_boilerplate_global_grouping(spark):
    """group_col=None pools frequencies across sources: B's copy of the
    header/footer now counts toward (and suffers) the global threshold."""
    from spark_monotasks_spark.pipeline import text as T

    out = {
        r.doc_id: r
        for r in T.remove_boilerplate(
            _bp_corpus(spark), group_col=None, min_docs=3
        ).collect()
    }
    assert out[20].text_clean == "delta prose"
    assert out[20].n_lines_removed == 2


def test_boilerplate_validates_min_docs(spark):
    from spark_monotasks_spark.pipeline import text as T

    with pytest.raises(ValueError, match="min_docs"):
        T.boilerplate_line_fps(_bp_corpus(spark), min_docs=0)


# ---------------------------------------------------------------------------
# overlapping-window chunking
# ---------------------------------------------------------------------------

def test_chunk_documents_shape_and_coverage(spark):
    from spark_monotasks_spark.pipeline import text as T

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "solo")], "doc_id long, text string"
    )
    out = T.chunk_documents(df, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, {})[r.chunk_id] = r
    # starts 0,3,6,9 -> 4 chunks; trailing partial kept
    assert sorted(by_doc[1]) == [0, 1, 2, 3]
    assert by_doc[1][0].chunk_text == "t0 t1 t2 t3"
    assert by_doc[1][1].chunk_text == "t3 t4 t5 t6"
    assert by_doc[1][3].chunk_text == "t9"
    assert by_doc[1][3].n_chunk_tokens == 1
    # every token index i appears in chunk floor(i/stride) at least
    for i in range(10):
        c = min(i // 3, 3)
        assert f"t{i}" in by_doc[1][c].chunk_text.split()
    # short doc: exactly one chunk, verbatim
    assert sorted(by_doc[2]) == [0]
    assert by_doc[2][0].chunk_text == "solo"


def test_chunk_documents_validates(spark):
    from spark_monotasks_spark.pipeline import text as T

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_tokens"):
        T.chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError, match="chunk_tokens"):
        T.chunk_documents(df, stride=0)


def test_pq_encode_and_adc_match_numpy(spark, embeddings):
    """PQ encode (argmin per subspace) and the ADC estimate must equal
    an independent numpy recompute for EVERY corpus vector — validates
    the argmin tie-break, the slice indexing, and the lookup-table
    plumbing without going through the SQL oracle."""
    import numpy as np

    dim, n_sub, n_cent, seed, qseed = 64, 4, 8, 7, 99
    book = np.array(similarity.pq_codebook(dim, n_sub, n_cent, seed))
    q = similarity.pq_query_vector(dim, qseed)
    table = similarity.pq_adc_table(q, dim, n_sub, n_cent, seed)
    sub_dim = dim // n_sub

    rows = similarity.pq_adc_topk(
        embeddings, q, k=10_000, dim=dim, n_sub=n_sub, n_cent=n_cent, seed=seed
    ).collect()
    raw = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in embeddings.collect()}
    assert len(rows) == len(raw)
    for r in rows:
        v = raw[r.vec_id]
        est = 0.0
        for m in range(n_sub):
            sub = v[m * sub_dim:(m + 1) * sub_dim]
            d = ((book[m] - sub) ** 2).sum(axis=1)
            code = int(np.argmin(d))  # numpy argmin = first minimum = smallest c
            assert getattr(r, f"code_{m}") == code, (r.vec_id, m)
            est += table[m][code]
        assert r.est_dist == round(est, 6), (r.vec_id, r.est_dist, est)


def test_pq_planted_duplicate_ranks_first(spark):
    """A vector equal to the query must get the minimal possible ADC
    estimate (the query's own quantization error) and rank at the top
    among vectors sharing its codes."""
    q = similarity.pq_query_vector(16, seed=5)
    far = [[-x for x in q], [x * 0.5 - 0.25 for x in q]]
    df = spark.createDataFrame(
        [(0, q)] + [(i + 1, v) for i, v in enumerate(far)],
        "vec_id long, embedding array<float>",
    )
    top = similarity.pq_adc_topk(df, q, k=3, dim=16, n_sub=4, n_cent=8).collect()
    assert top[0].vec_id == 0
    assert top[0].est_dist <= min(r.est_dist for r in top[1:])


def test_bpe_pair_counts_hand_example(spark):
    df = spark.createDataFrame([("aaa aaa",), ("ab ab ab",)], "text string")
    rows = [(r.pair, r.n) for r in text.bpe_pair_counts(df, top_k=5).collect()]
    # aaa×2 contributes 2×"a a" each; ab×3 contributes "a b" each
    assert rows == [("a a", 4), ("a b", 3)]


def test_bpe_learn_merges_greedy_hand_example(spark):
    """Exact Sennrich semantics on a hand-computable corpus, including
    the greedy non-overlapping application: 'a a a' under merge (a,a)
    becomes 'aa a' (NOT 'aa aa' or 'a aa'), so step 3 learns (aa, a)."""
    df = spark.createDataFrame([("aaa aaa",), ("ab ab ab",)], "text string")
    out = [
        (r.step, r.pair_a, r.pair_b, r.n)
        for r in text.bpe_learn_merges(df, n_merges=3)
        .orderBy("step")
        .collect()
    ]
    assert out == [(1, "a", "a", 4), (2, "a", "b", 3), (3, "aa", "a", 2)]


def test_bpe_learn_merges_exhausted_pairs_and_validation(spark):
    """When every word collapses to one symbol, later steps have no
    pairs and emit no merge rows (output may be shorter than
    n_merges)."""
    df = spark.createDataFrame([("ab ab",)], "text string")
    out = text.bpe_learn_merges(df, n_merges=3).orderBy("step").collect()
    assert [(r.step, r.pair_a, r.pair_b, r.n) for r in out] == [(1, "a", "b", 2)]
    with pytest.raises(ValueError):
        text.bpe_learn_merges(df, n_merges=0)


def test_bpe_apply_merges_hand_example(spark):
    """Encode counts after ordered merges: 'ther' under merges
    (e,r) then (t,h) segments t|h|e|r -> (e,r): t h er -> (t,h): th er
    = 2 tokens; order matters — (t,h) first then (e,r) gives the same
    here, but 'her' shows the greedy fold: h e r -> h er (2)."""
    df = spark.createDataFrame(
        [(1, "ther her xx"), (2, "er er")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.bpe_apply_merges(
        df, [("e", "r"), ("t", "h")]).collect()}
    # doc 1: ther->2, her->2, xx->2 tokens; doc 2: er->1 twice
    assert (out[1].n_words, out[1].n_tokens) == (3, 6)
    assert (out[2].n_words, out[2].n_tokens) == (2, 2)
    with pytest.raises(ValueError):
        text.bpe_apply_merges(df, [])


def test_audio_sample_stats_of_zero_sample_wav(spark):
    """A valid PCM16 WAV with no samples has its rate, zero samples and
    NULL mean, RMS and peak; the peak of an empty array used to raise
    and fail the whole task."""
    media = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_wav(8000, 0))),
         (2, bytearray(multimodal.encode_wav(8000, 5, pattern="ramp")))],
        "media_id long, blob binary",
    )
    got = {r.media_id: tuple(r)[1:] for r in multimodal.audio_sample_stats(media).collect()}
    assert got[1] == (8000, 0, None, None, None)
    assert got[2][:2] == (8000, 5) and got[2][4] is not None


def test_simhash_portable_near_dup_hamming(spark):
    """Portable simhash: near-identical docs land within small hamming
    distance, unrelated docs far — and the signature is deterministic
    across computations (md5, no engine salt)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "entirely different words about spark plans and shuffles here"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.id: r.sig for r in dedup.simhash_signatures_portable(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])
    assert ham(sigs[1], sigs[2]) <= 10
    sigs2 = {r.id: r.sig for r in dedup.simhash_signatures_portable(docs).collect()}
    assert sigs == sigs2
    assert all(0 <= s < (1 << 32) for s in sigs.values())


def test_video_roundtrip_meta_and_bounded_pixel_error(spark):
    """MJPEG-AVI: container meta is EXACT; decoded frame luma tracks
    the generative gradient within JPEG tolerance; temporal order is
    preserved (luma strictly increases with frame index: pixel =
    x+y+3f+c)."""
    import numpy as np

    ids = spark.range(0, 12).select(F.col("id").alias("media_id"))
    media = multimodal.video_from_ids(ids)
    meta = {r.media_id: r for r in multimodal.video_probe_meta(media).collect()}
    stats = {r.media_id: r for r in multimodal.video_frame_stats(media).collect()}
    for i in range(12):
        m, s = meta[i], stats[i]
        assert (m.width, m.height) == (16 + (i % 3) * 8, 16 + (i % 2) * 8)
        assert m.n_frames == 2 + i % 4 == s.n_frames
        assert m.us_per_frame == 100000
        # generative luma of frame f: mean(x) + mean(y) + 3f + mean(c)
        w, h, n = m.width, m.height, m.n_frames
        base = (w - 1) / 2 + (h - 1) / 2 + 1.0
        exp_first, exp_last = base, base + 3 * (n - 1)
        assert abs(s.first_frame_luma - exp_first) < 2.0, (i, s)
        assert abs(s.last_frame_luma - exp_last) < 2.0, (i, s)
        if n > 1:
            assert s.last_frame_luma > s.first_frame_luma
        exp_mean = base + 3 * (n - 1) / 2
        assert abs(s.mean_luma - exp_mean) < 2.0


def test_video_decode_rejects_malformed(spark):
    from spark_monotasks_spark.pipeline.multimodal import (
        decode_avi_frames, decode_avi_meta, encode_avi_mjpeg,
    )
    import numpy as np

    assert decode_avi_meta(b"not an avi") is None
    assert decode_avi_frames(None) is None
    frame = np.zeros((16, 16, 3), dtype=np.uint8)
    good = encode_avi_mjpeg([frame])
    assert decode_avi_meta(good)["n_frames"] == 1
    assert decode_avi_frames(good[:40]) is None  # truncated movi
    with pytest.raises(ValueError):
        encode_avi_mjpeg([])


def test_containment_pairs_asymmetric(spark):
    """An excerpt fully inside a container scores containment 1.0 in
    one direction and small in the other — the case Jaccard misses;
    unrelated docs emit nothing; unblocked calls raise."""
    import pytest as _pt

    container = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu nu xi omicron pi rho sigma tau")
    rows = [
        (0, container),
        (1, "alpha beta gamma delta epsilon"),    # excerpt of 0
        (2, "totally unrelated words about completely other topics"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): (r.containment_a_in_b, r.containment_b_in_a)
           for r in dedup.containment_pairs(
               df, threshold=0.5, allow_unblocked=True).collect()}
    assert set(out) == {(0, 1)}
    a_in_b, b_in_a = out[(0, 1)]
    assert b_in_a == 1.0          # the excerpt (id 1 = b side) is contained
    assert a_in_b < 0.5           # the container is not contained back
    with _pt.raises(ValueError, match="blocking"):
        dedup.containment_pairs(df)


def test_perplexity_buckets_thirds_and_order(spark):
    """Bucket sizes are the ceil/floor thirds per group, and every head
    doc scores >= every middle doc >= every tail doc within its group
    (rank is on the rounded score, ties broken by id)."""
    rows = [(i, "en" if i < 12 else "de",
             "common words " * (i % 6 + 1) + f"rare{i}") for i in range(18)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = text.perplexity_buckets(df).collect()
    for lang, total in (("en", 12), ("de", 6)):
        grp = [r for r in out if r.lang == lang]
        assert len(grp) == total
        sizes = {b: sum(1 for r in grp if r.bucket == b)
                 for b in ("head", "middle", "tail")}
        assert sizes == {"head": total // 3, "middle": total // 3,
                         "tail": total - 2 * (total // 3)}
        lo_head = min(r.logprob for r in grp if r.bucket == "head")
        hi_mid = max(r.logprob for r in grp if r.bucket == "middle")
        lo_mid = min(r.logprob for r in grp if r.bucket == "middle")
        hi_tail = max(r.logprob for r in grp if r.bucket == "tail")
        assert lo_head >= hi_mid >= lo_mid >= hi_tail


def test_canonicalize_url_cases(spark):
    cases = [
        # case + default port + tracking params
        ("https://WWW.Example.COM:443/p/5?utm_source=a&gclid=b",
         "https://www.example.com/p/5"),
        # http default port, userinfo, fragment, trailing slash
        ("http://user:pw@Site.org:80/a/b/?x=1#frag",
         "http://site.org/a/b?x=1"),
        # non-default port and content params survive, order preserved
        ("https://h.io:8443/q?b=2&utm_medium=m&a=1",
         "https://h.io:8443/q?b=2&a=1"),
        # root path trims to empty; all params tracking
        ("https://h.io/?ref=rss", "https://h.io"),
        # non-http input canonicalizes to NULL
        ("ftp://h.io/x", None),
        ("not a url", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {r.i: r.c
           for r in df.select("i", text.canonicalize_url("url").alias("c"))
                      .collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


# --- leakage-safe splitting ------------------------------------------------

def test_leakage_safe_split_exact_dups_share_split(spark, docs_with_dups):
    out = text.leakage_safe_split(docs_with_dups).collect()
    by_id = {r.doc_id: r.split for r in out}
    assert set(by_id) == {0, 1, 2, 3, 4}
    assert set(by_id.values()) <= {"train", "val", "test"}
    # exact duplicates (same md5(text)) can never straddle splits
    assert by_id[0] == by_id[3]


def test_leakage_safe_split_matches_python_md5(spark, docs_with_dups):
    """The assignment is a pure function of md5 — replay it row by row
    in hashlib so a silent change to the bucket arithmetic fails."""
    import hashlib

    rows = docs_with_dups.collect()
    out = {r.doc_id: r.split for r in
           text.leakage_safe_split(docs_with_dups).collect()}
    for r in rows:
        fp = hashlib.md5(r.text.encode()).hexdigest()
        bucket = int(
            hashlib.md5(f"split1#{fp}".encode()).hexdigest()[:12], 16
        ) % 10
        want = "train" if bucket < 8 else ("val" if bucket < 9 else "test")
        assert out[r.doc_id] == want


def test_leakage_safe_split_cluster_col_transitive(spark):
    """With cluster_col, the guarantee is transitive over NEAR-dup
    clusters: every member of a cluster lands in one split even when
    their texts (hence md5 fingerprints) all differ."""
    rows = [(i, f"unique text {i}", i % 7) for i in range(140)]
    df = spark.createDataFrame(rows, "doc_id long, text string, cluster long")
    out = text.leakage_safe_split(df, cluster_col="cluster")
    joined = out.join(df.select("doc_id", "cluster"), "doc_id")
    per_cluster = (
        joined.groupBy("cluster")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    )
    assert all(r.n == 1 for r in per_cluster)


def test_leakage_safe_split_proportions_seed_and_plan(spark):
    rows = [(i, f"document body number {i}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.leakage_safe_split(df)
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 3000
    # 8/1/1 buckets: binomial 3-sigma bands are generous here
    assert 2200 <= counts["train"] <= 2600
    assert 200 <= counts.get("val", 0) <= 400
    assert 200 <= counts.get("test", 0) <= 400
    # deterministic; a new seed is a new assignment
    again = {r.doc_id: r.split for r in
             text.leakage_safe_split(df).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    other = {r.doc_id: r.split for r in
             text.leakage_safe_split(df, seed="split2").collect()}
    assert first != other
    # assignment is one codegen projection — no shuffle anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- exact-substring (maximal duplicated span) dedup ------------------------

def test_duplicate_span_positions_planted(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "uniq1 uniq2 alpha beta gamma delta epsilon zeta eta theta uniq3"),
        (2, "totally different words here nothing shared with others at all"),
        (3, "pre alpha beta gamma delta epsilon zeta eta theta iota kappa post"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = sorted(
        (r.id, r.span_start, r.span_end)
        for r in dedup.duplicate_span_positions(df, min_tokens=8).collect()
    )
    # doc 0 is the corpus-first copy -> untouched; doc 1's 8-token run
    # sits at tokens 2..9; doc 3 repeats the full 10-token run at 1..10
    assert spans == [(1, 2, 9), (3, 1, 10)]


def test_drop_duplicate_spans_cut_and_first_copy_kept(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "uniq1 uniq2 alpha beta gamma delta epsilon zeta eta theta uniq3"),
        (3, "pre alpha beta gamma delta epsilon zeta eta theta iota kappa post"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text_dedup
           for r in dedup.drop_duplicate_spans(df, min_tokens=8).collect()}
    assert out[0] == rows[0][1]          # first copy survives verbatim
    assert out[1] == "uniq1 uniq2 uniq3"
    assert out[3] == "pre post"


def test_duplicate_spans_below_threshold_and_short_docs(spark):
    rows = [
        (0, "a b c d e f g h"),
        (1, "x1 a b c d e f g x2"),  # shared run is 7 tokens < min_tokens=8
        (2, "tiny doc"),             # shorter than one gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.duplicate_span_positions(df, min_tokens=8).count() == 0
    out = {r.doc_id: r.text_dedup
           for r in dedup.drop_duplicate_spans(df, min_tokens=8).collect()}
    assert all(out[i] == t for i, t in rows)


def test_drop_duplicate_spans_matches_python_reference(spark):
    """Replay the whole pipeline — sliding grams, corpus-first rank,
    cover union, cut — in pure Python on a seeded corpus with heavy
    cross-doc copying, and demand exact text equality."""
    import random as _random

    rng = _random.Random(77)
    vocab = [f"w{j}" for j in range(30)]
    base = [rng.choice(vocab) for _ in range(40)]
    docs = []
    for i in range(12):
        toks = [rng.choice(vocab) for _ in range(rng.randint(6, 25))]
        if i % 3 == 1:  # splice a shared slab from the base sequence
            at = rng.randint(0, len(toks))
            start = rng.randint(0, 25)
            toks = toks[:at] + base[start:start + rng.randint(6, 12)] + toks[at:]
        docs.append((i, " ".join(toks)))
    k = 6
    # python reference
    first: dict[tuple, tuple] = {}
    for i, t in docs:
        toks = t.split(" ")
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p:p + k])
            if g not in first:
                first[g] = (i, p)
    expect = {}
    for i, t in docs:
        toks = t.split(" ")
        drop = set()
        for p in range(len(toks) - k + 1):
            if first[tuple(toks[p:p + k])] != (i, p):
                drop.update(range(p, p + k))
        expect[i] = " ".join(tok for j, tok in enumerate(toks) if j not in drop)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.text_dedup
           for r in dedup.drop_duplicate_spans(df, min_tokens=k).collect()}
    assert got == expect
    # md5 portable fingerprint agrees with the xxhash128 scale path
    got_md5 = {r.doc_id: r.text_dedup
               for r in dedup.drop_duplicate_spans(
                   df, min_tokens=k, fingerprint="md5").collect()}
    assert got_md5 == expect


def test_exact_substring_span_families_agree_on_corpus(spark):
    """xxhash128 (scale path) and md5 (oracle audit twin) fingerprints
    group identically absent collisions — the span SETS must match on
    the real corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted((r.id, r.span_start, r.span_end) for r in
               dedup.duplicate_span_positions(
                   docs, min_tokens=5, fingerprint="xxhash128").collect())
    b = sorted((r.id, r.span_start, r.span_end) for r in
               dedup.duplicate_span_positions(
                   docs, min_tokens=5, fingerprint="md5").collect())
    assert a == b and len(a) > 0


#: sha256 of the sorted rows of each near-duplicate result that no
#: DuckDB oracle covers, over the sf0.001 test corpus
_NEAR_DUP_DIGESTS = {
    "contaminated_span_positions_xxhash128": (
        "5482095e3609bcf8bc29c8986335385530504712e8b75dd4b9cda48fa93f39aa"
    ),
    "drop_duplicate_spans": (
        "be9520db382453e022c68bec3d490700d0dda969736a42f7de895dc772da110e"
    ),
    "drop_near_duplicates": (
        "0a4094d502e45ebf60b3d0fb8c83cc34b5cd72f40869adef3770dfba39b5f8f1"
    ),
    "duplicate_segment_positions_md5": (
        "d06128a6418996fbb8f628459fade30794368f90a77a9341e23372a6b0f93d26"
    ),
    "exact_substring_spans_scale": (
        "b70f175f6f479712eab1b1b721911fac7dbbd47e065b9886e24f1f5e486356f3"
    ),
    "incremental_minhash_scale": (
        "0f87a200486e1d82c3f2037eb13ec41c4f3864c6ec08dd8bef6e6015ba0eb4a2"
    ),
    "melted_md5": (
        "0bd82f737f0a485c5d743fe61a881b00ad15ed154b054270ba07427f83a10d1c"
    ),
    "melted_md5mod": (
        "ae38a956d6fb5d267b75cf2c9967d928f0ec55d94c101bfd40e4dcc633851a77"
    ),
    "melted_xxhash64": (
        "f916aae6190b09e67ac9162d438ff841c67e5aa29d8cac7f72be1c80c821bb3f"
    ),
    "near_dup_clusters": (
        "07f5ace0159b6b889f4f47e13ce78d3883aac540c470bceccad95ad0a6ec6683"
    ),
}


def test_near_dup_rows_pinned(spark, tables):
    """The near-duplicate operators share their building blocks, so a
    rewrite of one block reaches every operator that calls it.  Pin the
    rows of the results no oracle checks: the rows-only catalog
    entries and the public functions without a catalog entry."""
    import hashlib

    from tests.conftest import SF_TEST_DIR

    from spark_monotasks_spark.queries import QUERY_REGISTRY

    def digest(df):
        rows = sorted(tuple(r) for r in df.collect())
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    docs = tables["documents"].select("doc_id", "text")
    reference = docs.filter(F.col("doc_id") % 5 == 0)
    got = {
        name: digest(QUERY_REGISTRY[name](spark, SF_TEST_DIR))
        for name in (
            "near_dup_clusters",
            "incremental_minhash_scale",
            "exact_substring_spans_scale",
        )
    }
    got["drop_duplicate_spans"] = digest(dedup.drop_duplicate_spans(docs, min_tokens=5))
    got["drop_near_duplicates"] = digest(dedup.drop_near_duplicates(docs))
    got["duplicate_segment_positions_md5"] = digest(
        dedup.duplicate_segment_positions(docs, fingerprint="md5")
    )
    got["contaminated_span_positions_xxhash128"] = digest(
        dedup.contaminated_span_positions(docs, reference, fingerprint="xxhash128")
    )
    for family in ("xxhash64", "md5", "md5mod"):
        got[f"melted_{family}"] = digest(
            dedup.melted_minhash_signatures(docs, family=family)
        )
    assert got == _NEAR_DUP_DIGESTS


def test_span_and_segment_widths_below_one_rejected(spark):
    """A width below 1 has no grams or segments.  At 0 the span
    operators reported inverted spans and emptied documents; a negative
    width failed late, inside a task.  Each operator refuses it when
    the plan is built."""
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    for width in (0, -2):
        calls = [
            lambda: dedup.duplicate_span_positions(df, min_tokens=width),
            lambda: dedup.drop_duplicate_spans(df, min_tokens=width),
            lambda: dedup.contaminated_span_positions(df, df, min_tokens=width),
            lambda: dedup.scrub_contaminated_spans(df, df, min_tokens=width),
            lambda: dedup.duplicate_segment_positions(df, seg_tokens=width),
            lambda: dedup.drop_duplicate_segments(df, seg_tokens=width),
        ]
        for call in calls:
            with pytest.raises(ValueError, match="at least 1"):
                call()


def test_shingle_passes_spread_one_split_input(spark, tmp_path):
    """Shingling is the CPU-heavy front of the near-duplicate operators.
    On a one-split scan, each operator below must spread the rows
    round-robin before the projection that builds the shingle sets,
    or the whole pass runs in one task."""
    from tools.trace_query import physical_nodes

    path = str(tmp_path / "docs")
    rows = [(i, f"w{i % 7} w{i % 5} w{i % 3} common tail words") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        path
    )
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 1

    def spread_below_shingles(df):
        df.collect()
        for node in physical_nodes(df._jdf.queryExecution().executedPlan()):
            if node.getClass().getSimpleName() == "ProjectExec" and (
                "split(" in node.toString()
            ):
                return any(
                    "RoundRobinPartitioning" in n.toString()
                    for n in physical_nodes(node)
                    if n.getClass().getSimpleName() == "ShuffleExchangeExec"
                )
        raise AssertionError("no shingle projection in the plan")

    built = {
        "minhash_signatures_portable": dedup.minhash_signatures_portable(docs),
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(docs, allow_unblocked=True),
        "containment_pairs": dedup.containment_pairs(docs, allow_unblocked=True),
    }
    assert {k: spread_below_shingles(v) for k, v in built.items()} == dict.fromkeys(
        built, True
    )


# --- prefix-filtered exact Jaccard join --------------------------------------

def test_jaccard_join_prefix_matches_brute_force(spark):
    """Lossless-blocking claim, tested head-on: the prefix-filtered
    join must equal the unblocked all-pairs computation exactly."""
    import itertools
    import random as _random

    rng = _random.Random(11)
    vocab = [f"t{j}" for j in range(25)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14))))
            for i in range(60)]
    # plant a few heavy-overlap pairs
    docs += [(100, docs[5][1]), (101, docs[5][1] + " extraz")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for thresh in (0.3, 0.6, 0.9):
        got = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.jaccard_join_prefix(df, threshold=thresh).collect()
        )
        sets = {i: set(t.split(" ")) for i, t in docs}
        want = []
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sets.items()), 2):
            j = round(len(sa & sb) / len(sa | sb), 6)
            if j >= thresh:
                want.append((ia, ib, j))
        assert got == sorted(want), f"threshold {thresh}"


def test_jaccard_join_prefix_shingles_and_validation(spark):
    rows = [
        (0, "a b c d e f"),
        (1, "a b c d e f"),      # identical -> jaccard 1.0
        (2, "z y x w v u"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.jaccard_join_prefix(df, threshold=0.99, shingle_k=3).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(0, 1, 1.0)]
    with pytest.raises(ValueError):
        dedup.jaccard_join_prefix(df, threshold=0.0)


# --- token-budget selection ---------------------------------------------------

def test_select_to_token_budget_boundary_and_total(spark):
    rows = [
        (0, 5.0, 40),   # q=5 best
        (1, 4.0, 50),
        (2, 3.0, 30),
        (3, 2.0, 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, q double, nt long")
    out = text.select_to_token_budget(df, 100, "nt", "q").orderBy("doc_id")
    got = [(r.doc_id, r.cum_tokens) for r in out.collect()]
    # greedy: 40 (cum 40), 50 (cum 90), 30 would hit 120 > 100 -> cut
    assert got == [(0, 40), (1, 90)]
    # budget covering everything keeps everything
    assert text.select_to_token_budget(df, 10_000, "nt", "q").count() == 4
    # ascending order flips the walk
    asc = text.select_to_token_budget(
        df, 130, "nt", "q", descending=False
    ).orderBy("cum_tokens").collect()
    assert [r.doc_id for r in asc] == [3, 2]


# --- domain cap + novelty -----------------------------------------------------

def test_cap_per_group_boundary_per_group(spark):
    rows = [
        # group A: quality order 0,1,2 -> 40, 90, 120>100 cut
        (0, "A", 5.0, 40), (1, "A", 4.0, 50), (2, "A", 3.0, 30),
        # group B: single huge doc over cap -> nothing survives
        (3, "B", 9.0, 500),
        # group C: everything fits
        (4, "C", 1.0, 10), (5, "C", 2.0, 20),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double, nt long")
    out = text.cap_per_group(df, 100, "nt", "q").orderBy("doc_id").collect()
    assert [(r.doc_id, r.cum_in_group) for r in out] == [
        (0, 40), (1, 90), (4, 30), (5, 20),
    ]


def test_ngram_novelty_exact_fractions(spark):
    ref = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [
            (0, "a b c d e"),        # all 3 shingles seen -> novelty 0
            (1, "x y z w v"),        # none seen -> novelty 1
            (2, "a b c x y"),        # shingles: abc(seen), bcx, cxy -> 2/3
            (3, "a b"),              # below-k fallback: whole text, unseen
        ],
        "doc_id long, text string",
    )
    got = {r.id: (r.n_grams, r.n_novel, r.novelty)
           for r in text.ngram_novelty(cand, ref).collect()}
    assert got[0] == (3, 0, 0.0)
    assert got[1] == (3, 3, 1.0)
    assert got[2] == (3, 2, round(2 / 3, 6))
    assert got[3] == (1, 1, 1.0)


# --- encoding QA + soft dedup -------------------------------------------------

def test_encoding_quality_counts(spark):
    rows = [
        (0, "clean text here"),
        (1, "broken cafÃ© and naÃ¯ve words"),   # 2 mojibake
        (2, "itâ€™s wrong"),                     # 1 mojibake
        (3, "bell\x07and\x01controls"),          # 2 control chars
        (4, "tab\tand\nnewline are fine"),       # whitespace controls OK
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_mojibake, r.n_control, r.encoding_ok)
           for r in text.encoding_quality(df).collect()}
    assert got[0] == (0, 0, True)
    assert got[1] == (2, 0, False)
    assert got[2] == (1, 0, False)
    assert got[3] == (0, 2, False)
    assert got[4] == (0, 0, True)


def test_duplicate_downweight_reciprocal(spark):
    rows = [(0, "a"), (1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.duplicate_downweight(df)
    got = {r.doc_id: r.sample_weight for r in out.collect()}
    assert got == {0: round(1/3, 6), 1: round(1/3, 6), 2: round(1/3, 6),
                   3: 1.0, 4: 0.5, 5: 0.5}
    # every distinct text carries total weight ~1
    assert abs(sum(got.values()) - 3.0) < 1e-5
    assert out.count() == 6  # nothing removed


def test_corpus_data_card_cross_slice_dup_exposure(spark):
    rows = [
        (0, "s0", "en", "shared text body"),
        (1, "s0", "en", "unique zero one"),
        (2, "s1", "en", "shared text body"),   # copies s0's doc across slices
        (3, "s1", "fr", "texte unique ici"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    got = {(r.source, r.lang): r for r in text.corpus_data_card(df).collect()}
    # both slices holding the shared text are exposed, even though
    # neither has an in-slice duplicate
    assert got[("s0", "en")].dup_docs == 1
    assert got[("s1", "en")].dup_docs == 1
    assert got[("s1", "fr")].dup_docs == 0
    assert got[("s0", "en")].n_docs == 2
    assert got[("s0", "en")].n_tokens == 3 + 3
    assert got[("s0", "en")].avg_chars == round(
        (len("shared text body") + len("unique zero one")) / 2, 6
    )


def test_chunk_reassembly_roundtrip_edge_shapes(spark):
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(n)))
            for i, n in enumerate([1, 2, 5, 48, 49, 63, 64, 65, 100, 200])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for ct, st in [(64, 48), (8, 8), (8, 3), (5, 1)]:
        ch = text.chunk_documents(df, chunk_tokens=ct, stride=st)
        back = {r.id: r.text
                for r in text.reassemble_chunks(ch, ct, st).collect()}
        assert back == dict(docs), (ct, st)
    with pytest.raises(ValueError, match="lossy"):
        text.reassemble_chunks(
            text.chunk_documents(df, chunk_tokens=4, stride=8), 4, 8
        )


def test_leakage_safe_split_neardup_twins_share_split(spark):
    """The transitive guarantee on the real corpus: every member of a
    near-dup cluster lands in the same split — including pairs whose
    texts differ (near-dups the exact-fingerprint key would separate)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clusters = dedup.near_duplicate_clusters_portable(docs).withColumnRenamed(
        "id", "doc_id"
    )
    joined = docs.select("doc_id", "text").join(clusters, "doc_id")
    out = text.leakage_safe_split(joined, cluster_col="cluster")
    per_cluster = (
        out.join(clusters, "doc_id")
        .groupBy("cluster")
        .agg(F.countDistinct("split").alias("n"), F.count("*").alias("sz"))
    )
    rows = per_cluster.collect()
    assert all(r.n == 1 for r in rows)
    assert any(r.sz > 1 for r in rows)  # real multi-doc clusters exercised


# --- structured-PII scrub (pipeline.text.pii_scrub, r7) --------------------

def test_pii_scrub_counts_and_redacts(spark):
    from spark_monotasks_spark.pipeline import text as text_ops

    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org or call +1-555-123-4567"),
         (2, "server at 10.0.3.17 and 192.168.1.1 no other pii"),
         (3, "clean document with nothing sensitive"),
         (4, "two mails a@b.io c.d@e-f.net one ip 8.8.8.8")],
        "doc_id long, text string")
    out = {r.id: r for r in text_ops.pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (1, 1, 0)
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 0, 2)
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)
    assert (out[4].n_emails, out[4].n_phones, out[4].n_ips) == (2, 0, 1)
    assert out[1].redacted == "mail me at [EMAIL] or call [PHONE]"
    assert out[2].redacted == "server at [IP] and [IP] no other pii"
    assert out[3].redacted == "clean document with nothing sensitive"
    assert out[4].redacted == "two mails [EMAIL] [EMAIL] one ip [IP]"


def test_compression_ratio_invariants(spark):
    """Planted-structure invariants for the DEFLATE quality signal:
    a highly repetitive document compresses materially harder than
    varied prose, ratios are in (0, ~1.1], and empty text is NULL."""
    from spark_monotasks_spark.pipeline import text as text_ops

    rep = "spam " * 400
    varied = " ".join(f"w{i}x{i*7%97}" for i in range(400))
    df = spark.createDataFrame(
        [(1, rep), (2, varied), (3, "")],
        "doc_id long, text string")
    out = {r.id: r for r in text_ops.compression_ratio(df).collect()}
    assert out[1].ratio < out[2].ratio * 0.5
    assert 0 < out[1].ratio and out[2].ratio <= 1.1
    assert out[3].ratio is None and out[3].n_bytes == 0
    # determinism: identical input -> identical ratio
    again = {r.id: r for r in text_ops.compression_ratio(df).collect()}
    assert out[1].ratio == again[1].ratio


def test_html_extract_text_planted(spark):
    """Planted-page checks for the HTML extractor: script bodies with a
    bare '<' vanish whole, comments and style content vanish, tags act
    as word boundaries (table cells don't merge), entities decode with
    &amp; last (so '&amp;lt;' yields a literal '&lt;'), and the title
    helper pulls only the first <title>."""
    from spark_monotasks_spark.pipeline import text as text_ops

    pages = [
        (1, '<p>a</p><script>if (1 < 2) { b = "x&y"; }</script><p>c</p>'),
        (2, "<table><tr><td>alpha</td><td>beta</td></tr></table>"),
        (3, "<!-- hidden -->visible<style>p {color: red}</style> tail"),
        (4, "Tom &amp; Jerry &lt;tag&gt; &quot;q&quot;&nbsp;&#39;s"),
        (5, "literal &amp;lt; stays"),
        (6, "<title> First &amp; Only </title><title>second</title>x"),
        (7, "no markup at all"),
    ]
    df = spark.createDataFrame(pages, "id long, page string")
    out = {
        r.id: r
        for r in df.select(
            "id",
            text_ops.html_extract_text("page").alias("ex"),
            text_ops.html_extract_title("page").alias("ti"),
        ).collect()
    }
    assert out[1].ex == "a c"
    assert out[2].ex == "alpha beta"
    assert out[3].ex == "visible tail"
    assert out[4].ex == 'Tom & Jerry <tag> "q" \'s'
    assert out[5].ex == "literal &lt; stays"
    assert out[6].ex == "First & Only second x"
    assert out[6].ti == "First & Only"
    assert out[7].ex == "no markup at all"
    assert out[7].ti == ""
