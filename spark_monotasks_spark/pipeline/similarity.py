"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the query
  vector(s), one linear scan, TakeOrderedAndProject bounds the sort.
  The correctness baseline at any scale.
- ``lsh_bucket_topk``: random-hyperplane LSH — signature per row, then
  search only the query's bucket (± multiprobe).  The 100 TB path: scan
  narrows to |bucket| rows; signatures are precomputable/persistable.

Dot products use F.aggregate/F.zip_with (JVM higher-order functions).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — left-to-right double fold,
    deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k of ``query`` (1 row, column ``qvec``) against
    the corpus.  Broadcast-crossJoin keeps the corpus partition-local;
    orderBy+limit plans as TakeOrderedAndProject (no global sort)."""
    q = F.broadcast(query.select(F.col("qvec")))
    scored = embeddings.crossJoin(q).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("qvec")), round_to).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def query_by_id(
    embeddings: DataFrame, vec_id: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """1-row query frame (column ``qvec``) for brute_force_topk."""
    return embeddings.filter(F.col(id_col) == vec_id).select(
        F.col(vec_col).alias("qvec")
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG so
    the planes are reproducible without numpy state pickling)."""
    # Park–Miller state must live in [1, 2^31-2]: 0 is absorbing (every
    # plane would collapse to one constant vector → a single LSH bucket)
    state = (seed % 2147483646) + 1
    planes: list[list[float]] = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            # Park–Miller minimal standard LCG
            state = (state * 48271) % 2147483647
            u1 = state / 2147483647
            state = (state * 48271) % 2147483647
            u2 = state / 2147483647
            # Box–Muller → gaussian component
            vec.append(
                math.sqrt(-2.0 * math.log(max(u1, 1e-12)))
                * math.cos(2.0 * math.pi * u2)
            )
        planes.append(vec)
    return planes


def _dlit(x: float) -> str:
    """Shortest-roundtrip double literal for SQL-string expression
    building — ``repr`` is exact for binary64, the D suffix keeps the
    parser from reading the token as DECIMAL."""
    return repr(float(x)) + "D"


def _arrlit(vals: list[float]) -> str:
    return "array(" + ", ".join(_dlit(x) for x in vals) + ")"


def _dot_sql(vec_sql: str, vals: list[float]) -> str:
    """SQL text of :func:`dot` against a literal vector (same zip_with +
    left-to-right aggregate fold, so values are bit-identical)."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arrlit(vals)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _sq_dist_sql(vec_sql: str, cent: list[float]) -> str:
    """SQL text of Σ (xᵢ-cᵢ)² against a literal centroid — the same
    zip_with + left-to-right fold the Column builder used, emitted as
    text so a literal-heavy plan costs ONE Py4J call instead of one
    per tree node (the JVM↔Python boundary tax applies to plan
    CONSTRUCTION on the driver, not just row execution: the Column
    form of the PQ/IVF builders spent 2.8-4.3 s per query in Py4J
    round-trips before the first job launched)."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arrlit(cent)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def signature_col(vec_col: str, planes: list[list[float]]) -> Column:
    """Bit-pack sign(v·p) over the hyperplanes into a bigint bucket id.
    Takes the vector COLUMN NAME: the expression is assembled as one
    SQL string (n_planes × dim literal tree — per-node Column building
    pays a Py4J round-trip per node)."""
    bits = [
        f"(CASE WHEN {_dot_sql(f'`{vec_col}`', plane)} >= 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END)"
        for i, plane in enumerate(planes)
    ]
    return F.expr(" | ".join(bits))


def with_lsh_signature(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the LSH bucket id.  At scale: persist/bucket the output by
    ``lsh_bucket`` so queries touch one bucket's files only."""
    planes = _hyperplanes(dim, n_planes, seed)
    return embeddings.withColumn("lsh_bucket", signature_col(vec_col, planes))


def lsh_bucket_topk(
    embeddings: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: hash the query, search its bucket plus all
    buckets within ``multiprobe_bits`` bit-flips (multiprobe recovers
    recall lost to quantization).  Candidate set is |bucket| times the
    probe count instead of the full corpus."""
    import itertools

    planes = _hyperplanes(dim, n_planes, seed)
    corpus = with_lsh_signature(embeddings, dim, n_planes, seed, vec_col)
    q = query.select(
        F.col("qvec"), signature_col("qvec", planes).alias("qbucket")
    )
    probes = [F.col("qbucket")]
    for r in range(1, multiprobe_bits + 1):
        for bits in itertools.combinations(range(n_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            probes.append(
                F.col("qbucket").bitwiseXOR(F.lit(mask).cast("bigint"))
            )
    qprobes = F.broadcast(
        q.select("qvec", F.explode(F.array(*probes)).alias("lsh_bucket"))
    )
    cand = corpus.join(qprobes, on="lsh_bucket")
    scored = cand.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("qvec")), 4).alias("sim"),
    ).dropDuplicates([id_col])
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-partitioned scale path
# ---------------------------------------------------------------------------

def _bounded_fit_sample(
    feat: DataFrame, max_fit_rows: int, seed: int
) -> DataFrame:
    """Bounded-read fit input: ``limit(4×max_fit_rows)`` (early-
    terminating prefix scan — never a full corpus pass) then a seeded
    ~1/4 sample to decorrelate row order within the prefix.  Corpora
    smaller than the prefix pass through whole (the sample keeps every
    row only when the prefix is under-full, so we sample conditionally:
    a corpus ≤ max_fit_rows must fit on ALL its rows, which the plain
    fraction-sample cannot promise).  No Aggregate anywhere — the plan
    is Scan → LocalLimit → [Sample], asserted in tests."""
    if not max_fit_rows:
        return feat
    prefix = feat.limit(4 * max_fit_rows)
    # the prefix row count is bounded (≤ 4×max_fit_rows), so this count
    # is a bounded job, not a corpus pass
    n_prefix = prefix.count()
    if n_prefix <= max_fit_rows:
        return prefix
    return prefix.sample(
        fraction=min(1.0, 1.1 * max_fit_rows / n_prefix), seed=seed
    )


def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    vec_col: str = "embedding",
    max_fit_rows: int = 100_000,
):
    """Build an IVF index: k-means the corpus into ``n_lists`` cells.

    Returns (assigned corpus with ``cell`` column, centroids as a list of
    (cell_id, center vector)).  At scale: persist/bucket the assigned
    corpus BY ``cell`` so a probe reads only its cells' files — same
    pruning story as the LSH bucket column, but data-adaptive (cells
    follow density, so recall at fixed probe count beats fixed random
    hyperplanes on clustered corpora).

    The k-means FIT runs on a bounded sample (``max_fit_rows``, seeded)
    — centroid quality converges long before 1e5 rows for realistic
    ``n_lists``, and a full-corpus iterative fit at 100 TB would be the
    index build's bottleneck.  The sample is drawn WITHOUT a full
    corpus ``count()`` (which would be one extra 100 TB pass just to
    compute a fraction): a ``limit(4 × max_fit_rows)`` prefix scan
    early-terminates after a bounded number of rows, and the seeded
    sample decorrelates within that prefix.  The prefix-vs-whole-corpus
    bias is the deliberate tradeoff; callers with pathologically
    file-ordered corpora can pre-shuffle or raise ``max_fit_rows``.
    ASSIGNMENT is always full-corpus (one linear ``transform`` pass) —
    the only full scan the build plans."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn(
        "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    fit_input = _bounded_fit_sample(feat, max_fit_rows, seed)
    # count of the BOUNDED prefix/sample (≤ ~max_fit_rows rows), needed
    # to clamp k; tiny corpus: fewer cells than requested is the sane
    # index (a cell per point) — k > n would fail inside the fit
    n_fit = fit_input.count()
    if n_fit == 0:
        raise ValueError(
            "cannot build an IVF index over an empty corpus — the k-means "
            "cell fit needs at least one embedding row"
        )
    n_lists = min(n_lists, n_fit)
    model = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_features"
    ).fit(fit_input)
    assigned = (
        model.transform(feat)
        .withColumnRenamed("prediction", "cell")
        .drop("_features")
    )
    # the model's cluster centers ARE the cell centroids — driver-side,
    # no extra aggregation job over the corpus
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def ivf_literal_centroids(
    dim: int, n_lists: int = 8, seed: int = 5
) -> list:
    """Deterministic dyadic cell centroids [(cell_id, vector)] — the
    literal counterpart of :func:`ivf_index`'s trained cells, for
    exact cross-engine replay of the assign→probe→rank path (the PQ
    dyadic-codebook playbook; same LCG construction as
    :func:`pq_codebook`).  Production indexes train cells with
    ivf_index; this exists so the IVF *serving* operators can be
    value-audited end to end by an external SQL engine."""
    state = (seed % 2147483646) + 1
    cents = []
    for i in range(n_lists):
        vec = []
        for _ in range(dim):
            state = (state * 48271) % 2147483647
            vec.append(((state % 16) - 8) / 8.0)
        cents.append((i, vec))
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid cell (squared L2,
    smallest cell id on ties via array_sort's struct ordering) — the
    literal-centroid counterpart of ivf_index's ``model.transform``.
    One linear projection; with dyadic centroids every distance is a
    sum of exactly-representable doubles, so an external engine
    reproduces the assignment bit-for-bit.  The n_lists × dim literal
    tree is assembled as ONE SQL string (see :func:`_sq_dist_sql`)."""
    pairs = "array(" + ", ".join(
        f"named_struct('d', {_sq_dist_sql(f'`{vec_col}`', vec)}, "
        f"'c', {int(cid)})"
        for cid, vec in centroids
    ) + ")"
    return df.withColumn("cell", F.expr(f"array_sort({pairs})[0].c"))


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    reliable: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — the embedding-space counterpart of MinHash
    dedup, used for LAION/DataComp-scale curation): assign every
    vector to its nearest centroid cell, call within-cell pairs with
    cosine ≥ ``threshold`` semantic duplicates, collapse them
    transitively, and keep the min-``id_col`` representative of each
    duplicate cluster.  Returns the surviving ``(id, cell)`` rows.

    Scale shape: one linear assignment projection + one shuffle on
    ``cell``; the quadratic comparison is confined WITHIN cells (the
    SemDeDup design point — cells follow density, so cross-cell pairs,
    which are almost never duplicates, are never scored).  The within-
    cell term is O(Σ|cell|²), so ``len(centroids)`` MUST scale with the
    corpus (n_lists ≈ n/target_cell_size — the paper runs tens of
    thousands of k-means clusters at web scale; train them with
    :func:`ivf_index`).  A fixed cell count at growing n degrades
    toward all-pairs — the catalog demo pins 8 literal cells only so
    its oracle can replay the assignment.  The pair
    graph is tiny by construction and collapses via O(log n) star-CC;
    the assigned frame is materialized once behind a barrier because
    it feeds both self-join sides and the survivor anti-join.  With
    literal dyadic centroids (:func:`ivf_literal_centroids`) the whole
    operator — assignment, pair set, closure, survivor choice — is
    replayable by an external SQL engine."""
    from spark_monotasks_spark.barrier import pin
    from spark_monotasks_spark.graph.algorithms import (
        connected_components_star,
    )

    # pinned for its 3 consumers (both self-join sides + the survivor
    # anti-join); persist on the non-reliable path per the r7
    # measurement (cold cost ~2x under localCheckpoint, AQE preserved)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"), "cell"
    )
    assigned = pin(assigned, reliable)
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), "cell"
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), "cell"
    )
    edges = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine(F.col("_va"), F.col("_vb")), round_to)
            >= F.lit(threshold)
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    comps = connected_components_star(edges, reliable=reliable)
    losers = comps.filter(F.col("id") != F.col("component")).select("id")
    return (
        assigned.join(losers, on="id", how="left_anti")
        .select(F.col("id").alias(id_col), "cell")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the ``n_probe`` nearest cells and exact-score only their
    members: the scan shrinks from |corpus| to ~n_probe/n_lists of it.
    Driver work is O(n_lists) centroid distances — negligible."""
    qvec = query.select("qvec").first()[0]
    qv = [float(x) for x in qvec]

    def cos(c):
        num = sum(a * b for a, b in zip(qv, c))
        na = math.sqrt(sum(a * a for a in qv))
        nb = math.sqrt(sum(b * b for b in c))
        return num / (na * nb) if na and nb else 0.0

    probe_cells = [
        cell for cell, _ in sorted(centroids, key=lambda t: -cos(t[1]))[:n_probe]
    ]
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    scored = cand.crossJoin(F.broadcast(query.select("qvec"))).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("qvec")), 4).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def embedding_near_duplicates(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH blocking: pairs share a
    bucket (high-cosine pairs almost surely do at small n_planes), then
    exact cosine verification.  Returns (id_a, id_b, sim)."""
    # Per-row norms are precomputed BEFORE the bucket join: inside the
    # cosine they would be re-folded (interpreted 64-dim lambda) once per
    # CANDIDATE PAIR per plan occurrence — the join condition and the
    # output project each evaluate the expression, so every row's norm
    # was folded O(bucket-mates) times.  Hoisting them is bit-identical
    # (same SQRT(aggregate(...)) value, same divide order in `sim`).
    corpus = with_lsh_signature(embeddings, dim, n_planes, seed, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        "lsh_bucket",
    )
    a = corpus.alias("a")
    b = corpus.alias("b")
    pairs = a.join(
        b,
        on=(F.col("a.lsh_bucket") == F.col("b.lsh_bucket"))
        & (F.col("a.id") < F.col("b.id")),
    )
    sim = dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def normalize_embeddings_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """L2-normalize an embedding column via ``mapInArrow`` — the
    Arrow-NATIVE UDF surface (one step below the pandas_udf family: no
    pandas materialization at all, the list column's value buffer goes
    straight into one numpy matrix per batch).

    This is the shape for bulk vector preprocessing at 100 TB: each
    Arrow batch becomes a single (rows × dim) float32 matrix, one
    vectorized divide normalizes the whole batch, and the rebuilt
    ListArray reuses the computed buffer — per-element Python never
    runs.  Zero-vector rows pass through unscaled (norm clamped to 1)."""
    import numpy as np
    import pyarrow as pa

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("norm", T.DoubleType()),
            T.StructField("normalized", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches):
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            lst = batch.column(batch.schema.get_field_index(vec_col))
            flat = lst.flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(-1, dim).astype(np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            safe = np.where(norms == 0.0, 1.0, norms)
            normalized = (mat / safe[:, None]).astype(np.float32)
            offsets = pa.array(
                np.arange(0, (len(mat) + 1) * dim, dim, dtype=np.int32)
            )
            out_list = pa.ListArray.from_arrays(
                offsets, pa.array(normalized.ravel(), type=pa.float32())
            )
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(norms, type=pa.float64()), out_list],
                names=["id", "norm", "normalized"],
            )

    return df.select(id_col, vec_col).mapInArrow(run, schema=out_schema)


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-vector ANN, the 100 TB memory path
# ---------------------------------------------------------------------------

def pq_codebook(
    dim: int, n_sub: int = 4, n_cent: int = 8, seed: int = 7
) -> list[list[list[float]]]:
    """Deterministic DYADIC codebook: ``book[m][c]`` is the c-th centroid
    of subspace m, every component a multiple of 1/8 in [-1, 1) drawn
    from the same Park–Miller LCG as ``_hyperplanes``.  Dyadic values
    are binary-exact in float32/float64 AND in any SQL literal parser,
    so a DuckDB oracle replicates the encoding bit-for-bit (the
    portability rules that back temperature_mixture).  A production
    deployment would k-means-fit the codebook on a bounded sample
    (``_bounded_fit_sample``) — the encode/search algebra is identical."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_dim = dim // n_sub
    state = (seed % 2147483646) + 1
    book: list[list[list[float]]] = []
    for _ in range(n_sub):
        cents = []
        for _ in range(n_cent):
            vec = []
            for _ in range(sub_dim):
                state = (state * 48271) % 2147483647
                vec.append(((state % 16) - 8) / 8.0)
            cents.append(vec)
        book.append(cents)
    return book


def pq_query_vector(dim: int, seed: int = 99) -> list[float]:
    """Deterministic dyadic query vector (serving-path queries arrive
    from outside the corpus as plain lists)."""
    state = (seed % 2147483646) + 1
    vec = []
    for _ in range(dim):
        state = (state * 48271) % 2147483647
        vec.append(((state % 16) - 8) / 8.0)
    return vec


def pq_encode(
    df: DataFrame,
    dim: int,
    n_sub: int = 4,
    n_cent: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``n_sub`` centroid codes (argmin squared
    distance per subspace, smallest code on ties via array_sort's
    struct ordering).  One linear scan, all JVM-side expressions; the
    output is ``n_sub`` small ints per vector — at 64-dim float32 and
    4×8 codes that is 256 bytes → 4 bytes, the compression that lets a
    100 TB corpus's index live in cluster memory."""
    book = pq_codebook(dim, n_sub, n_cent, seed)
    sub_dim = dim // n_sub
    cols = [F.col(id_col)]
    for m, cents in enumerate(book):
        sub = f"slice(`{vec_col}`, {m * sub_dim + 1}, {sub_dim})"
        pairs = "array(" + ", ".join(
            f"named_struct('d', {_sq_dist_sql(sub, cent)}, 'c', {c})"
            for c, cent in enumerate(cents)
        ) + ")"
        cols.append(F.expr(f"array_sort({pairs})[0].c").alias(f"code_{m}"))
    return df.select(*cols)


def pq_adc_table(
    query: list[float], dim: int, n_sub: int = 4, n_cent: int = 8, seed: int = 7
) -> list[list[float]]:
    """Asymmetric-distance lookup table: ``table[m][c]`` = squared
    distance from the query's m-th subvector to centroid c.  Computed
    once driver-side (the query is a literal), broadcast into the plan
    as literals."""
    book = pq_codebook(dim, n_sub, n_cent, seed)
    sub_dim = dim // n_sub
    table = []
    for m, cents in enumerate(book):
        row = []
        for cent in cents:
            t = 0.0
            for j in range(sub_dim):
                d = query[m * sub_dim + j] - cent[j]
                t = t + d * d
            row.append(t)
        table.append(row)
    return table


def pq_adc_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 20,
    dim: int = 64,
    n_sub: int = 4,
    n_cent: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: encode the corpus
    (or read pre-encoded codes), then the per-row score is ``n_sub``
    literal-array lookups — no vector arithmetic at query time.  Plans
    as one scan + TakeOrderedAndProject; at scale the scan reads ONLY
    the code columns (4 bytes/vector), never the raw embeddings."""
    table = pq_adc_table(query, dim, n_sub, n_cent, seed)
    codes = pq_encode(embeddings, dim, n_sub, n_cent, seed, id_col, vec_col)
    est_sql = " + ".join(
        f"element_at({_arrlit(table[m])}, code_{m} + 1)" for m in range(n_sub)
    )
    ranked = codes.withColumn("_est", F.expr(est_sql))
    return (
        ranked.orderBy("_est", id_col)
        .limit(k)
        .select(
            id_col,
            *[f"code_{m}" for m in range(n_sub)],
            F.round(F.col("_est"), round_to).alias("est_dist"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 60,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) of N rankings:
    rrf(d) = sum_i 1/(k + rank_i(d)) — the standard hybrid-retrieval
    combiner (lexical BM25 + dense ANN feed one fused list).

    Each input frame must carry ``(id_col, rank)`` with rank a dense
    1-based integer (callers produce it with a deterministically
    tiebroken row_number).  Documents missing from a ranking simply
    contribute no term — the usual RRF convention for truncated lists.

    Exactness: each term 1/(k+rank) is ONE double division of exact
    integers, and the fused score is their left-to-right sum in list
    order — the identical expression tree any external engine writes,
    so results match bit-for-bit before the final rounding.

    Scale shape: rankings are top-k-truncated (bounded) in real use;
    the fusion is an outer-join cascade on the id followed by a scalar
    projection — broadcast-sized per query at any corpus scale.
    """
    fused = None
    for i, r in enumerate(rankings):
        r_i = r.select(
            F.col(id_col),
            (1.0 / (F.lit(k) + F.col("rank"))).alias(f"_rrf_{i}"),
        )
        fused = r_i if fused is None else fused.join(r_i, on=id_col, how="full")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(F.col(f"_rrf_{i}"), F.lit(0.0))
        score = term if score is None else score + term
    return fused.select(
        id_col, F.round(score, round_to).alias("rrf_score")
    )


def sqdist(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² via zip_with + aggregate — sub/mul/add in fixed
    left-to-right order on doubles, so the squared Euclidean distance
    is bit-identical cross-engine (the spatial-entry portability rule:
    no sqrt needed for comparisons, none taken)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kcenter_select(
    embeddings: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Greedy k-center selection (farthest-point traversal, Gonzalez
    1985) — the classic 2-approximation coreset/diversity selector a
    training-data pipeline uses to pick maximally-spread exemplars
    (seed dedup centroids, eval probes, diverse few-shot pools).

    Fully distributed, no driver-side vectors: the seed is the min-id
    row (deterministic); each round computes every vector's squared
    distance to its NEAREST selected center as a running `least` column
    (one broadcast of the 1-row newest center per round — never the
    whole selected set), and the next center is the argmax via
    TakeOrderedAndProject with an id tiebreak.  k is small by use-case,
    so the k chained scans are the whole cost: O(k·n) distance
    evaluations, exactly the serial algorithm's work, zero shuffles
    beyond the k 1-row limits.

    Exactness: squared distances fold in fixed order (``sqdist``), so
    argmax choices and radii reproduce bit-for-bit on any engine —
    which is how the catalog entry's DuckDB oracle replays the greedy
    rounds as unrolled CTE stages.

    Output: (sel_round, id, radius) — radius is the chosen point's
    distance² to the previously-selected set (0.0 for the seed),
    rounded; it is the standard k-center coverage-radius curve.
    """
    base = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    seed = base.orderBy("_id").limit(1)
    picked = [
        seed.select(
            F.lit(0).alias("sel_round"),
            F.col("_id").alias(id_col),
            F.lit(0.0).alias("radius"),
        )
    ]
    state = base.crossJoin(
        F.broadcast(seed.select(F.col("_v").alias("_c")))
    ).select("_id", "_v", sqdist(F.col("_v"), F.col("_c")).alias("_md"))
    for r in range(1, k):
        far = state.orderBy(F.col("_md").desc(), "_id").limit(1)
        picked.append(
            far.select(
                F.lit(r).alias("sel_round"),
                F.col("_id").alias(id_col),
                F.round(F.col("_md"), round_to).alias("radius"),
            )
        )
        if r < k - 1:
            state = state.crossJoin(
                F.broadcast(far.select(F.col("_v").alias("_c")))
            ).select(
                "_id",
                "_v",
                F.least(
                    F.col("_md"), sqdist(F.col("_v"), F.col("_c"))
                ).alias("_md"),
            )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted-file cells + product-quantized residuals
# ---------------------------------------------------------------------------

def ivfpq_probe_cells(
    query: list[float], centroids: list, n_probe: int = 3
) -> list[int]:
    """The coarse-quantizer probe choice of IVF-PQ serving: the
    ``n_probe`` cells nearest the query by squared L2 (ascending,
    smallest cell id on ties) — residual quantization makes L2 the
    native cell metric, unlike plain IVF's cosine ranking.  Fixed
    left-to-right fold so the (inlined-literal) choice is the same
    in the builder and in the oracle generator."""
    def sq(c: list[float]) -> float:
        t = 0.0
        for q, x in zip(query, c):
            d = q - x
            t = t + d * d
        return t

    ranked = sorted(centroids, key=lambda cv: (sq(cv[1]), cv[0]))
    return [int(cid) for cid, _ in ranked[:n_probe]]


def ivfpq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 20,
    dim: int = 64,
    n_lists: int = 8,
    cell_seed: int = 5,
    n_sub: int = 4,
    n_cent: int = 8,
    book_seed: int = 7,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """FAISS-style IVF-PQ ANN serving (Jégou et al. 2011): vectors are
    assigned to a coarse cell (:func:`ivf_assign`), their RESIDUAL
    against the cell centroid is product-quantized with one shared
    codebook, and query-time scoring probes only the ``n_probe``
    nearest cells with a per-cell asymmetric-distance table over the
    query's residual — the index the billion-vector deployments run
    (codes + cell id ≈ 5 bytes/vector, so a 100 TB corpus's index fits
    cluster memory AND the scan touches ~n_probe/n_lists of it).

    Everything downstream of the literal dyadic centroids/codebook is
    exact-arithmetic (subtract/multiply of dyadic rationals plus
    fixed-order folds), so the full assign → residual → encode → ADC
    ranking is value-replayable by an external SQL engine; the catalog
    entry's DuckDB oracle does exactly that.

    Plan shape: one scan computing cell + codes (index build — batch
    at ingest in production), a probe-cell filter, a literal-lookup
    projection, and TakeOrderedAndProject.  No joins, no windows; the
    only shuffle is the final top-k.

    Measured alternative (rejected): unrolling every distance into
    element_at sums with per-cell CASE chains (the codegen-over-lambda
    rule that won for hash aggregates) is 3-7x SLOWER here (19.7-60s
    vs 5.3-9.7s per fresh-session rep at sf0.1) — the 3x8x16-term CASE
    tree explodes compile time and spills out of whole-stage codegen,
    while the lambda form's per-row interpretation cost is bounded by
    n_lists+n_sub*n_cent small folds.  Identical values either way
    (dyadic arithmetic)."""
    cents = ivf_literal_centroids(dim, n_lists, cell_seed)
    cent_map = {int(cid): vec for cid, vec in cents}
    probe = ivfpq_probe_cells(query, cents, n_probe)
    book = pq_codebook(dim, n_sub, n_cent, book_seed)
    sub_dim = dim // n_sub

    assigned = ivf_assign(embeddings, cents, id_col, vec_col)
    cand = assigned.filter(F.col("cell").isin(probe))

    # residual against the row's own cell centroid (probe cells only,
    # so the CASE has n_probe arms with the last as the default)
    branches = " ".join(
        f"WHEN cell = {cid} THEN {_arrlit(cent_map[cid])}"
        for cid in probe[:-1]
    )
    case_cent = f"CASE {branches} ELSE {_arrlit(cent_map[probe[-1]])} END"
    res = cand.withColumn(
        "_res",
        F.expr(
            f"zip_with(`{vec_col}`, {case_cent}, "
            "(x, y) -> CAST(x AS DOUBLE) - y)"
        ),
    )

    # PQ-encode the residual: per subspace, argmin squared distance to
    # the shared codebook (smallest code on ties via struct ordering)
    code_cols = []
    for m, cents_m in enumerate(book):
        sub = f"slice(_res, {m * sub_dim + 1}, {sub_dim})"
        pairs = "array(" + ", ".join(
            f"named_struct('d', {_sq_dist_sql(sub, cent)}, 'c', {c})"
            for c, cent in enumerate(cents_m)
        ) + ")"
        code_cols.append(
            F.expr(f"array_sort({pairs})[0].c").alias(f"code_{m}")
        )
    coded = res.select(F.col(id_col), F.col("cell"), *code_cols)

    # per-probed-cell ADC tables over the QUERY residual, inlined as
    # literals (driver work: n_probe * n_sub * n_cent small folds)
    tables = {}
    for cid in probe:
        qres = [q - x for q, x in zip(query, cent_map[cid])]
        tables[cid] = pq_adc_table(qres, dim, n_sub, n_cent, book_seed)

    def lookup(cid: int) -> str:
        return " + ".join(
            f"element_at({_arrlit(tables[cid][m])}, code_{m} + 1)"
            for m in range(n_sub)
        )

    est_branches = " ".join(
        f"WHEN cell = {cid} THEN {lookup(cid)}" for cid in probe[:-1]
    )
    ranked = coded.withColumn(
        "_est",
        F.expr(f"CASE {est_branches} ELSE {lookup(probe[-1])} END"),
    )
    return (
        ranked.orderBy("_est", id_col)
        .limit(k)
        .select(
            id_col,
            "cell",
            *[f"code_{m}" for m in range(n_sub)],
            F.round(F.col("_est"), round_to).alias("est_dist"),
        )
    )
