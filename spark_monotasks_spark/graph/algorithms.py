"""GraphX-capability proof on DataFrames (SURVEY §2.12).

Reference: graphx/.../Graph.scala (property graph over vertex + edge
RDDs), Pregel.scala (iterate: aggregate messages along edges → join back
into vertex state), lib/PageRank.scala, lib/ConnectedComponents.scala.

Spark-first design: vertices and edges are plain DataFrames
(``src``/``dst`` columns); one Pregel superstep = one join + one
groupBy — both shuffle on the vertex id, so co-partitioning carries
across iterations and AQE coalesces as frontiers shrink.  Each
iteration's result passes through :func:`spark_monotasks_spark.barrier
.barrier`, which truncates the lineage (an N-iteration loop otherwise
builds an N-deep plan that Catalyst re-analyzes quadratically) — the
standard pattern for iterative DataFrame algorithms at scale.  Every
algorithm takes ``reliable: bool = False``: the default localCheckpoint
is executor-local (fast, not fault-tolerant); pass ``reliable=True``
with a configured checkpoint dir on clusters with executor churn.

``aggregate_messages`` mirrors GraphOps.aggregateMessages as the
building block; PageRank and CC are the two reference algorithms
implemented as proof (SURVEY §2.12 scope).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_monotasks_spark.barrier import barrier, pin
from spark_monotasks_spark.operators.localdata import local_rows_df


def degrees(edges: DataFrame) -> DataFrame:
    """GraphOps.degrees — undirected degree per vertex."""
    both = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )
    return both.groupBy("id").agg(F.count("*").alias("degree"))


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    msg_to_dst: Column,
    agg: Column,
    vertex_cols: tuple[str, ...] = (),
) -> DataFrame:
    """GraphOps.aggregateMessages: each edge sends ``msg_to_dst``
    (may reference src vertex attrs joined as ``src_*``) to its dst;
    messages are combined per-vertex with ``agg``.

    Returns (id, msg).  One shuffle for the src join (broadcast when
    vertices are small), one for the dst groupBy.
    """
    src_side = vertices.select(
        F.col("id").alias("src"), *[F.col(c).alias(f"src_{c}") for c in vertex_cols]
    )
    msgs = edges.join(src_side, on="src").select(
        F.col("dst").alias("id"), msg_to_dst.alias("msg")
    )
    return msgs.groupBy("id").agg(agg.alias("msg"))


def pagerank(
    edges: DataFrame,
    num_iters: int = 10,
    reset_prob: float = 0.15,
    round_to: int | None = 6,
    reliable: bool = False,
) -> DataFrame:
    """lib/PageRank.scala (static, num-iterations variant):
    rank = reset + (1-reset) * Σ incoming rank/out_degree.

    Dangling vertices (no out-edges) keep receiving but stop
    contributing — same as the reference's staticPageRank.
    Returns (id, rank).
    """
    edges = edges.select("src", "dst")
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    # contribution edge list: src, dst, 1/out_degree — static across
    # iterations, so compute once and cache (the reference caches the
    # Graph for the same reason)
    contrib_edges = barrier(
        edges.join(out_deg.withColumnRenamed("id", "src"), on="src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("weight")),
        reliable,
    )
    ranks = verts.select("id", F.lit(1.0).alias("rank"))
    for _ in range(num_iters):
        msgs = (
            contrib_edges.join(ranks.withColumnRenamed("id", "src"), on="src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("weight")).alias("msg"),
            )
            .groupBy("id")
            .agg(F.sum("msg").alias("msg"))
        )
        ranks = barrier(
            verts.join(msgs, on="id", how="left")
            .select(
                "id",
                (
                    F.lit(reset_prob)
                    + F.lit(1.0 - reset_prob) * F.coalesce(F.col("msg"), F.lit(0.0))
                ).alias("rank"),
            ),
            reliable,
        )
    if round_to is not None:
        ranks = ranks.select("id", F.round("rank", round_to).alias("rank"))
    return ranks


def shortest_paths(
    edges: DataFrame,
    landmarks: list[int],
    max_iters: int = 50,
    reliable: bool = False,
) -> DataFrame:
    """lib/ShortestPaths.scala: unweighted hop distance from every
    vertex to each landmark (undirected, like the reference's
    Pregel formulation over canonical orientation).

    Frontier BFS as iterative joins: distances start at the landmarks
    and relax one hop per round; stops when a round changes nothing.
    Returns (id, landmark, distance) — unreachable pairs are absent,
    matching the reference's empty-map entries.
    """
    sym = barrier(
        edges.select("src", "dst").unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        reliable,
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    dist = verts.join(
        F.broadcast(
            local_rows_df(
                edges.sparkSession,
                [(lm,) for lm in landmarks],
                "landmark long",
            )
        ),
        on=F.col("id") == F.col("landmark"),
    ).select("id", "landmark", F.lit(0).cast("int").alias("distance"))
    dist = barrier(dist, reliable)
    for _ in range(max_iters):
        relaxed = barrier(
            sym.join(dist.withColumnRenamed("id", "dst"), on="dst")
            .select(
                F.col("src").alias("id"),
                "landmark",
                (F.col("distance") + 1).alias("distance"),
            )
            .unionAll(dist)
            .groupBy("id", "landmark")
            .agg(F.min("distance").alias("distance")),
            reliable,
        )
        if relaxed.count() == dist.count():
            # relaxation adds (vertex, landmark) pairs monotonically;
            # equal count ⇒ no new pair and no shorter path (min is
            # monotone) ⇒ fixpoint
            changed = (
                relaxed.alias("n")
                .join(dist.alias("o"), on=["id", "landmark"])
                .filter(F.col("n.distance") != F.col("o.distance"))
                .limit(1)
                .count()
            )
            if changed == 0:
                return relaxed
        dist = relaxed
    raise RuntimeError(
        f"shortest_paths did not converge within {max_iters} rounds — "
        "raise max_iters"
    )


def label_propagation(
    edges: DataFrame, max_iters: int = 5, reliable: bool = False
) -> DataFrame:
    """lib/LabelPropagation.scala: community detection — each round a
    vertex adopts the most frequent label among its neighbors AND its
    own (ties → smallest label, deterministic where the reference's
    hash-map iteration order was not; the self-vote also prevents the
    classic 2-clique label swap oscillating forever).  Runs a fixed
    ``max_iters`` rounds like the reference (LPA need not converge).
    Returns (id, label)."""
    sym = barrier(
        edges.select("src", "dst").unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        reliable,
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    labels = verts.select("id", F.col("id").alias("label"))
    for _ in range(max_iters):
        incoming = sym.join(labels.withColumnRenamed("id", "src"), on="src").select(
            F.col("dst").alias("id"), "label"
        )
        counts = (
            incoming.unionAll(labels.select("id", "label"))  # self-vote
            .groupBy("id", "label")
            .agg(F.count("*").alias("n"))
        )
        # argmax by (n desc, label asc) via max_by on a sortable struct
        labels = barrier(
            counts.groupBy("id").agg(
                F.max_by(
                    "label", F.struct(F.col("n"), (-F.col("label")).alias("neg"))
                ).alias("label")
            ),
            reliable,
        )
    return labels


def triangle_count(edges: DataFrame) -> DataFrame:
    """lib/TriangleCount.scala: triangles through each vertex.

    Canonical-orientation edge join (src<dst ordering): wedges from the
    two lower endpoints joined against the closing edge — each triangle
    found exactly once, then credited to all three corners.  Two
    shuffles on vertex ids; no vertex collects its whole neighborhood
    into memory (the reference materializes per-vertex neighbor sets —
    this stays relational and spills instead).  Returns (id, triangles).
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = canon.alias("e1")
    e2 = canon.alias("e2")
    # wedge a<b<c from edges (a,b) and (a,c); closes iff (b,c) is an edge
    wedges = e1.join(e2, on=(F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b"))).select(
        F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
    )
    tris = wedges.join(
        canon.withColumnRenamed("a", "y").withColumnRenamed("b", "z"), on=["y", "z"]
    )
    per_vertex = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    verts = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    return verts.join(per_vertex, on="id", how="left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def connected_components(
    edges: DataFrame, max_iters: int = 50, reliable: bool = False
) -> DataFrame:
    """lib/ConnectedComponents.scala: label every vertex with the
    smallest vertex id reachable from it.

    Small-label propagation to convergence: each round every vertex
    takes min(own label, neighbors' labels); stop when no label
    changed.  O(diameter) rounds — on power-law graphs that's small;
    the large-star/small-star variant halves rounds but this matches
    the reference algorithm.  Raises if ``max_iters`` rounds pass
    without convergence (a high-diameter graph would otherwise get
    silently wrong labels).  Returns (id, component).
    """
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = barrier(sym.distinct(), reliable)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = barrier(
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            ),
            reliable,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within {max_iters} rounds "
        "(graph diameter exceeds max_iters) — raise max_iters; returning "
        "the intermediate labels would be silently wrong"
    )


def connected_components_star(
    edges: DataFrame,
    max_iters: int = 30,
    reliable: bool = False,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014): converges in O(log n) rounds on ANY graph,
    where :func:`connected_components`' min-label propagation needs
    O(diameter) — the difference between 10 and 10,000 supersteps on a
    path-shaped graph.  This is the default engine for the dedup
    clustering operators; min-label stays as the reference-matching
    variant (lib/ConnectedComponents.scala is min-label Pregel).

    Each round is two star operations over the (symmetrized) edge
    list, each one groupBy + one join on vertex ids:

    - large-star: every neighbor v > u re-attaches to
      m(u) = min(N(u) ∪ {u}) — long chains collapse toward minima.
    - small-star: every neighbor v ≤ u (and u itself) attaches to
      m(u) — stars flatten so the next large-star sees them.

    Fixpoint = the edge set is a union of stars rooted at component
    minima; detected DIRECTLY (every leaf has exactly one root, no
    vertex is both root and leaf — two limit(1) probes on the
    checkpointed state) so the loop stops on the round that produces
    the final state instead of paying a confirm round to watch a
    signature stabilize.  Returns (id, component) with component = min
    vertex id, identical to min-label's output.

    Small graphs (≤ ``small_graph_threshold`` canonical edges, known
    from the one count the empty-probe already pays) skip the rounds
    entirely: the bounded edge list is union-found on the driver and
    re-broadcast — the AQE-broadcast-threshold posture applied to
    closures, since a candidate graph of a few hundred edges should
    not pay per-round distributed fixed costs (measured ~1.9 s → ~0.2 s
    on the sf0.1 near-dup ingest closure).  Labels are identical (min
    vertex id) on either path.
    """
    # verts is consumed exactly once (the final coalesce join), so it
    # stays LAZY — the r5 eager barrier paid a localCheckpoint job per
    # call for no reuse (r6: ~0.3s off every dedup-clustering call).
    # Derived from the ORIGINAL edges, not the canonicalized state:
    # _canon drops self-loops, and a vertex with only self-loops must
    # still appear in the output as its own component.
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    def _canon(ed: DataFrame) -> DataFrame:
        return (
            ed.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.unionAll(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )

    e_plan = _canon(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    # SMALL-GRAPH FAST PATH (r7, measured): a vote-thresholded
    # candidate graph is usually tiny relative to its corpus (69
    # edges at sf0.1 near-dup ingest), yet every distributed star
    # round still pays fixed job+shuffle latency (~0.75 s/round →
    # ~1.9 s per closure).  A HARD-BOUNDED edge list (≤100k edges
    # ≈ a few MB — the same order as a broadcast-join build side)
    # is instead collected once and closed with driver union-find in
    # microseconds; the result is re-broadcast as the (id, component)
    # mapping.  The probe is a limit(threshold+1) collect — bounded
    # driver memory by construction, and ONE job where a
    # barrier+count+collect sequence pays three; if the limit
    # truncates (a big graph) the persisted canon state feeds the
    # distributed rounds below instead, so a giant closure is never
    # driver-sized while the millions of tiny closures a dedup
    # pipeline runs never pay distributed fixed costs.  Identical
    # min-id labels on either path (property-tested); this mirrors
    # the AQE broadcast threshold and the adjudicated bounded-driver
    # posture of the lakehouse manifest pruning.  The durable
    # (reliable=True) path keeps its checkpoint-first shape — the
    # fast path's driver result doesn't depend on executor survival.
    pairs = None
    if not reliable and small_graph_threshold > 0:
        e_cached = e_plan.persist()
        probe = e_cached.limit(small_graph_threshold + 1).collect()
        if len(probe) <= small_graph_threshold:
            pairs = probe
            e = e_cached  # schema carrier for the mapping types
        else:
            # big graph: cut lineage for the iterative rounds (eager
            # barrier — r7 measured the lazy variant 3x slower: AQE's
            # per-stage jobs recompute un-cached state repeatedly)
            e = barrier(e_cached, reliable)
            e_cached.unpersist()
    else:
        e = barrier(e_plan, reliable)
        n_edges = e.count()
        if n_edges <= small_graph_threshold:
            pairs = e.collect()
    if pairs is not None:
        if len(pairs) == 0:
            # no non-loop edges: every vertex is its own component
            return verts.select("id", F.col("id").alias("component"))
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            ru, rv = find(row[0]), find(row[1])
            if ru != rv:
                # root at the MIN id so labels match the star rounds
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in set(parent)]
        spark = edges.sparkSession
        utype = e.schema["u"].dataType
        if not reliable and small_graph_threshold > 0:
            # the edge list now lives on the driver; the cached canon
            # state has no further consumer
            e.unpersist()
        mp_schema = T.StructType(
            [
                T.StructField("id", utype, False),
                T.StructField("component", utype, False),
            ]
        )
        # local_rows_df: ≤1024 components inline as a VALUES
        # LocalRelation (no Python-worker tasks, broadcast without a
        # job); bigger maps fall back to a row-count-sized parallelize
        mp = local_rows_df(spark, mapping, mp_schema)
        return _component_labels(verts, F.broadcast(mp), "component")

    for _ in range(max_iters):
        sym = _sym(e)
        mins = _mins(sym)
        large = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # Mid-round: no barrier and no distinct. The large-star result
        # stays lazy (lineage is two star ops deep; the round-end
        # checkpoint truncates it), and duplicate edges are harmless to
        # the min-aggregations of the small-star half — the round-end
        # _canon dedups the persisted state. Each saves a per-round
        # stage, which dominates wall time on candidate-pair-sized
        # graphs (dedup clustering: measured ~0.75s/round for 69 edges).
        e = large.filter(F.col("u") != F.col("v")).select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        sym = _sym(e)
        mins = _mins(sym)
        small = (
            sym.join(mins, on="u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins.select("u", F.col("m").alias("v")))
        )
        e = barrier(_canon(small), reliable)
        # Fixpoint test: the state is a union of min-rooted stars —
        # (a) every leaf has exactly one root and (b) no vertex is both
        # root and leaf (Kiveris et al. §3: the alternating rounds fix
        # exactly these states). Detecting star-ness DIRECTLY stops on
        # the round that PRODUCES the final state, where the previous
        # (count, hash)-signature comparison always paid one extra
        # confirm round — a whole round of shuffles on every call.
        # Both conditions fold into ONE limit(1) action over the
        # just-checkpointed state (r6 — the r5 two-probe form paid a
        # second job on the converged round): per vertex id, count its
        # appearances as a leaf (v side — edges are distinct, so the
        # count IS the distinct-root count) and flag root/leaf roles;
        # a violation is leaf_cnt > 1 or both roles at once.
        roles = e.select(
            F.col("u").alias("id"),
            F.lit(1).alias("_r"),
            F.lit(0).alias("_l"),
        ).unionAll(
            e.select(F.col("v").alias("id"), F.lit(0), F.lit(1))
        )
        violations = (
            roles.groupBy("id")
            .agg(
                F.max("_r").alias("_isr"),
                F.max("_l").alias("_isl"),
                F.sum("_l").alias("_leafcnt"),
            )
            .filter(
                ((F.col("_isr") == 1) & (F.col("_isl") == 1))
                | (F.col("_leafcnt") > 1)
            )
            .limit(1)
            .count()
        )
        if violations == 0:
            roots = e.groupBy(F.col("v").alias("id")).agg(
                F.min("u").alias("component")
            )
            return _component_labels(verts, roots, "component")
    raise RuntimeError(
        f"connected_components_star did not converge within {max_iters} "
        "rounds — raise max_iters (expected O(log n); this indicates a "
        "pathological input or a bug, not a deep graph)"
    )


def _component_labels(
    ids: DataFrame, comps: DataFrame, label: str = "cluster"
) -> DataFrame:
    """``(id, label)`` for every row of the one-column ``(id)`` frame
    ``ids``: its ``component`` in ``comps`` (an ``(id, component)``
    frame such as :func:`connected_components_star`'s), or its own id
    when no edge reached it, so singletons label themselves."""
    return ids.join(comps, on="id", how="left").select(
        "id", F.coalesce("component", F.col("id")).alias(label)
    )


def _directed_min_label(
    edges: DataFrame, verts: DataFrame, max_iters: int, reliable: bool = False
) -> DataFrame:
    """Fixpoint of forward min-label propagation along DIRECTED edges:
    label(v) = min vertex id that can reach v (including v itself).
    Same join+agg superstep as connected_components, without the
    symmetrization."""
    labels = verts.select("id", F.col("id").alias("label"))
    for _ in range(max_iters):
        incoming = (
            edges.join(labels.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("in_min"))
        )
        new_labels = barrier(
            labels.join(incoming, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("in_min"), F.col("label"))
                ).alias("label"),
            ),
            reliable,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"directed min-label propagation did not converge in {max_iters} "
        "rounds — raise max_iters"
    )


def strongly_connected_components(
    edges: DataFrame,
    max_iters: int = 50,
    max_rounds: int = 20,
    reliable: bool = False,
) -> DataFrame:
    """lib/StronglyConnectedComponents.scala parity: SCC id = smallest
    vertex id in each strongly connected component.

    Coloring / FW-BW algorithm on DataFrames: per round compute
    F(v) = min id reaching v (forward propagation) and B(v) = min id
    reachable from v (propagation on reversed edges).  Both are
    SCC-invariant, and F(v) == B(v) == m certifies v ∈ SCC(m) (m is
    both ancestor and descendant of v).  Assign those vertices, drop
    them and their edges, repeat on the remainder — each round the
    minimum remaining vertex id certifies its own SCC, so progress is
    guaranteed.  The reference nests the same reachability coloring
    inside Pregel (lib/StronglyConnectedComponents.scala).

    Scale shape: every superstep is one directed join + one groupBy on
    vertex ids (AQE coalesces as the remainder shrinks); assigned
    vertices leave the working set, so later rounds touch only the
    unresolved subgraph.  Returns (id, component).
    """
    edges = barrier(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        reliable,
    )
    verts = barrier(
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct(),
        reliable,
    )
    parts = []
    for _ in range(max_rounds):
        if verts.limit(1).count() == 0:
            if not parts:  # empty graph: no vertices at all
                return verts.select("id", F.col("id").alias("component"))
            result = parts[0]
            for p in parts[1:]:
                result = result.unionAll(p)
            return result
        fwd = _directed_min_label(edges, verts, max_iters, reliable)
        rev = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        bwd = _directed_min_label(rev, verts, max_iters, reliable).withColumnRenamed(
            "label", "blabel"
        )
        both = fwd.join(bwd, on="id")
        assigned = barrier(
            both.filter(F.col("label") == F.col("blabel")).select(
                "id", F.col("label").alias("component")
            ),
            reliable,
        )
        parts.append(assigned)
        verts = barrier(
            verts.join(assigned.select("id"), on="id", how="left_anti"),
            reliable,
        )
        # prune edges whose endpoints were assigned (semi-join both ends)
        edges = barrier(
            edges.join(verts.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(verts.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
            .select("src", "dst"),
            reliable,
        )
    raise RuntimeError(
        f"strongly_connected_components did not finish within {max_rounds} "
        "rounds — raise max_rounds (each round resolves at least the SCC of "
        "the minimum remaining vertex)"
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    num_iters: int = 5,
    reset_prob: float = 0.15,
    round_to: int | None = 6,
    reliable: bool = False,
) -> DataFrame:
    """lib/PageRank.scala runWithOptions(srcId) — personalized variant:
    the random surfer teleports ONLY to the source set, so rank mass
    measures proximity to the sources (the recommendation/seed-expansion
    primitive).  rank_v = (reset·[v ∈ S]) + (1-reset)·Σ in-contribs;
    init mass 1.0 on each source, 0 elsewhere.

    Same iterative join/groupBy shape and barrier policy as
    :func:`pagerank`; the source membership test is a broadcast literal
    IN-list (bounded seed sets — the PPR use case).

    Isolated seeds: a source id that appears in NO edge still gets a
    rank row (it holds its reset mass, ``reset_prob`` at convergence) —
    the vertex set is edges' endpoints UNION the seed set, so a seed
    absent from the graph is ranked rather than silently dropped."""
    if not sources:
        raise ValueError("personalized_pagerank needs at least one source")
    edges = edges.select("src", "dst")
    src_ids = [int(s) for s in sources]
    spark = edges.sparkSession
    seed_rows = local_rows_df(
        spark, [(s,) for s in src_ids], "id long"
    ).select(F.col("id").cast(edges.schema["src"].dataType))
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .unionAll(seed_rows)
        .distinct()
    )
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    contrib_edges = barrier(
        edges.join(out_deg.withColumnRenamed("id", "src"), on="src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("weight")),
        reliable,
    )
    is_src = F.col("id").isin(src_ids)
    ranks = verts.select(
        "id", F.when(is_src, F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank")
    )
    for _ in range(num_iters):
        msgs = (
            contrib_edges.join(ranks.withColumnRenamed("id", "src"), on="src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("weight")).alias("msg"),
            )
            .groupBy("id")
            .agg(F.sum("msg").alias("msg"))
        )
        ranks = barrier(
            verts.join(msgs, on="id", how="left")
            .select(
                "id",
                (
                    F.when(is_src, F.lit(reset_prob)).otherwise(F.lit(0.0))
                    + F.lit(1.0 - reset_prob)
                    * F.coalesce(F.col("msg"), F.lit(0.0))
                ).alias("rank"),
            ),
            reliable,
        )
    if round_to is not None:
        ranks = ranks.select("id", F.round("rank", round_to).alias("rank"))
    return ranks


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 12,
    reliable: bool = False,
    sym_dedup: bool = True,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    GraphX ecosystem ships it as a Pregel example — beyond the
    reference's lib/, marked): repeatedly delete vertices with
    UNDIRECTED degree < k until none remain, returning each surviving
    vertex with its within-core degree — the standard dense-subgraph /
    influence screen.

    Distributed shape: the edge set symmetrizes once (distinct unless
    the caller's structure makes it redundant — ``sym_dedup``), then
    each round is one degree aggregate + two semi-join prunes with a
    pinned lineage cut — the star-CC posture; rounds are
    data-dependent but bounded by the longest peeling chain (real
    graphs converge in a handful).  Convergence is detected on the
    degree table itself (r7): the state is a k-core iff no vertex has
    degree < k — one vertex-sized limit(1) probe per round, and the
    converged round's degree table IS the returned ``core_deg``, so no
    confirm round and no separate final aggregate.  Exceeding
    ``max_rounds`` raises rather than returning a non-fixpoint — which
    is what lets a FIXED-unroll external oracle replay the result
    exactly: peeling is idempotent at fixpoint, so an oracle unrolling
    >= the actual round count matches, and a graph needing more rounds
    fails loudly instead of silently diverging."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # round pinning (r7): on the non-reliable path the per-round state
    # is persist()ed and materialized by the convergence count — ONE
    # job per round where the eager localCheckpoint paid two, measured
    # ~2x faster end-to-end at sf0.1 (3.9s -> 2.0s).  persist keeps
    # lineage, so the bounded max_rounds loop's plan stays analyzable
    # and an evicted block recomputes instead of failing; superseded
    # states unpersist as soon as the next is materialized, so at most
    # two round-states hold executor storage at any time.
    # reliable=True keeps the durable per-round checkpoint.
    # sym_dedup=False is a caller PRECONDITION claim: the input is
    # already distinct AND no edge's reverse is present (e.g. a
    # bipartite graph whose two id domains are disjoint by
    # construction) — then the swapped union is distinct for free and
    # the full-width dedup shuffle is skipped.  Degree counts would be
    # silently wrong if the precondition is violated, so callers must
    # justify it structurally, not empirically.
    #
    # Convergence is detected on the DEGREE AGGREGATE itself (r7): the
    # state is a k-core iff no vertex has degree < k, which one
    # limit(1) probe over the per-round degree table answers — the old
    # edge-count comparison paid a full extra prune round just to
    # observe that nothing changed, plus a separate final aggregate to
    # emit core_deg.  Here the converged round's degree table IS the
    # result, so the loop runs exactly as many prunes as the peel
    # needs and one vertex-sized probe per round.
    if sym_dedup:
        sym = sym.distinct()
        cur = pin(sym, reliable)
        pin0 = cur
    else:
        # r8: the same precondition means the HALF-SIZE directed edge
        # list is the minimal round-0 state worth caching — pin IT and
        # leave the symmetrized view a lazy union over the cache.
        # Every consumer sees identical rows (a union of two
        # InMemoryTableScans of one cache — no exchange, no dedup
        # needed by the precondition), but the cache build encodes |E|
        # rows instead of 2|E| and the upstream exchange feeding it is
        # read once, not twice.  (On the sym_dedup path the dedup runs
        # on the 2|E| union, so its output must be what's pinned.)
        e = pin(edges.select("src", "dst"), reliable)
        cur = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        pin0 = e
    # SMALL-GRAPH FAST PATH (r8; the star-CC pattern at :418 with the
    # same probe discipline and the same 100k bound — ~1.6 MB of long
    # pairs): ≤ small_graph_threshold symmetrized edge rows are peeled
    # vectorized on the driver in one bounded toPandas of the
    # ALREADY-persisted state, replacing rounds × (degree agg + probe
    # + two semi joins) distributed jobs.  The numpy loop removes the
    # same vertex set per round as the distributed loop (simultaneous
    # deletion of deg<k), so rounds, fixpoint, and the max_rounds
    # raise are semantically identical; bigger graphs fail the bounded
    # probe and take the distributed rounds automatically (measured at
    # sf0.1, 1.18M symmetrized rows: collect+peel is ~1.7s SLOWER than
    # the 2-3 distributed rounds — the threshold is a small-graph
    # escape hatch, not the bench path).
    if small_graph_threshold > 0:
        pdf = cur.limit(small_graph_threshold + 1).toPandas()
        if len(pdf) <= small_graph_threshold:
            import numpy as np

            cat = np.concatenate(
                [pdf["src"].to_numpy(), pdf["dst"].to_numpy()]
            )
            ids, inv = np.unique(cat, return_inverse=True)
            s, d = inv[: len(pdf)], inv[len(pdf):]
            alive = np.ones(len(s), dtype=bool)
            deg = np.bincount(s, minlength=len(ids))
            converged = False
            for _ in range(max_rounds + 1):
                bad = (deg > 0) & (deg < k)
                if not bad.any():
                    converged = True
                    break
                kill = alive & (bad[s] | bad[d])
                deg -= np.bincount(s[kill], minlength=len(ids))
                alive &= ~kill
            if not converged:
                raise RuntimeError(
                    f"k_core did not reach a fixpoint within {max_rounds} "
                    "rounds — raise max_rounds (each round removes at "
                    "least one vertex)"
                )
            if not reliable:
                pin0.unpersist()
            utype = sym.schema["src"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("id", utype, True),
                    T.StructField("core_deg", T.LongType(), True),
                ]
            )
            keep = np.flatnonzero(deg >= max(k, 1))
            rows = [(int(ids[v]), int(deg[v])) for v in keep]
            return local_rows_df(edges.sparkSession, rows, out_schema)
    prev_pin = prev_deg = None
    cur_pin = pin0
    for _ in range(max_rounds + 1):
        deg = (
            cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
        )
        # this action materializes deg AND (transitively) the current
        # round's pinned state; only now are the superseded previous
        # round's caches safe to release (the pin HANDLE is tracked
        # separately from cur because round 0's state can be a lazy
        # union over the pinned edge list)
        converged = deg.filter(F.col("deg") < k).limit(1).count() == 0
        if not reliable and prev_pin is not None:
            prev_pin.unpersist()
        if prev_deg is not None:
            prev_deg.unpersist()
        if converged:
            return deg.select(
                F.col("src").alias("id"), F.col("deg").alias("core_deg")
            )
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt = pin(
            cur.join(keep, on="src", how="left_semi").join(
                keep.withColumnRenamed("src", "dst"), on="dst", how="left_semi"
            ),
            reliable,
        )
        prev_pin, prev_deg, cur, cur_pin = cur_pin, deg, nxt, nxt
    raise RuntimeError(
        f"k_core did not reach a fixpoint within {max_rounds} rounds — "
        "raise max_rounds (each round removes at least one vertex)"
    )
