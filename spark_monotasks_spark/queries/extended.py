"""Catalog entries for the coverage tail: TRANSFORM scripts, graph
algorithms, NA functions, first/last aggregates, complex types,
zipWithIndex (SURVEY §2.9 / §2.11 / §2.12).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_monotasks_spark.graph import connected_components, pagerank
from spark_monotasks_spark.operators import sample as sample_ops
from spark_monotasks_spark.operators.transform import script_transform
from spark_monotasks_spark.queries.registry import register
from spark_monotasks_spark import tables
from spark_monotasks_spark.tables import load_tables


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


# --- SELECT TRANSFORM (script) — SURVEY §2.11, BDB Q4 shape ---------------

#: stdin: doc_id \t text — stdout: doc_id \t token, one line per token.
#: Mirrors the reference's url_count.py UDTF-shaped script
#: (BigDataBenchmarkSuite.scala:105-121).
_TOKENIZE_SCRIPT = (
    "import sys\n"
    "for line in sys.stdin:\n"
    "    doc_id, text = line.rstrip('\\n').split('\\t', 1)\n"
    "    for tok in text.split(' '):\n"
    "        if tok:\n"
    "            print(f'{doc_id}\\t{tok}')\n"
)


@register(
    "bdb_q4_transform",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
            AS token
          FROM documents)
    GROUP BY token HAVING count(*) >= 50
    """,
)
def bdb_q4_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BDB Q4 (BigDataBenchmarkSuite.scala:105-121): TRANSFORM rows
    through an external script (ScriptTransformation.scala:67 — here one
    process per partition over mapInPandas), then aggregate the script's
    output.  The script is the distributed token generator; the groupBy
    is a plain shuffled count."""
    from spark_monotasks_spark.partitioning import spread_to_cluster

    t = _t(spark, sf_dir)
    toks = script_transform(
        spread_to_cluster(t["documents"]),
        [sys.executable, "-c", _TOKENIZE_SCRIPT],
        "doc_id long, token string",
        input_cols=["doc_id", "text"],
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
    )


# --- graph algorithms — SURVEY §2.12 --------------------------------------

def _nation_coregion_edges(t: dict[str, DataFrame]) -> DataFrame:
    """Undirected edges between nations sharing a region (a < b)."""
    a = t["nation"].select(
        F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("r")
    )
    b = t["nation"].select(
        F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("r")
    )
    return a.join(b, on="r").filter(F.col("src") < F.col("dst")).select("src", "dst")


@register(
    "graph_connected_components",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(min(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT)
             AS component
    FROM nation
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConnectedComponents (graphx lib/ConnectedComponents.scala) via
    min-label propagation on DataFrames.  Co-region nation cliques make
    the exact answer SQL-expressible: component = min nationkey in the
    region."""
    t = _t(spark, sf_dir)
    edges = _nation_coregion_edges(t).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    return connected_components(edges)


@register(
    "graph_triangle_count",
    oracle="""
    WITH sz AS (SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey)
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST((sz.n - 1) * (sz.n - 2) / 2 AS BIGINT) AS triangles
    FROM nation JOIN sz USING (n_regionkey)
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriangleCount (graphx lib/TriangleCount.scala) on the co-region
    clique graph: each vertex of an n-clique closes C(n-1,2) triangles —
    exactly SQL-expressible, so the oracle is closed-form."""
    t = _t(spark, sf_dir)
    edges = _nation_coregion_edges(t).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    from spark_monotasks_spark.graph import triangle_count

    return triangle_count(edges)


@register(
    "graph_shortest_paths",
    oracle="""
    WITH lm AS (SELECT n_regionkey FROM nation WHERE n_nationkey = 0)
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(0 AS BIGINT) AS landmark,
           CAST(CASE WHEN n_nationkey = 0 THEN 0 ELSE 1 END AS INT) AS distance
    FROM nation JOIN lm USING (n_regionkey)
    """,
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShortestPaths (graphx lib/ShortestPaths.scala) from nation 0 on
    the co-region clique graph: its region's members are at distance 1,
    other regions unreachable (absent) — closed-form oracle."""
    t = _t(spark, sf_dir)
    edges = _nation_coregion_edges(t).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    from spark_monotasks_spark.graph import shortest_paths

    return shortest_paths(edges, landmarks=[0])


@register(
    "graph_label_propagation",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(min(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT)
             AS label
    FROM nation
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LabelPropagation (graphx lib/LabelPropagation.scala) on the
    co-region cliques: with smallest-label tie-breaking every clique
    converges to its min vertex id within 3 rounds — closed-form
    oracle."""
    t = _t(spark, sf_dir)
    edges = _nation_coregion_edges(t).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    from spark_monotasks_spark.graph import label_propagation

    return label_propagation(edges, max_iters=4)


@register(
    "graph_pagerank",
    oracle="""
    WITH edges0 AS (
      SELECT DISTINCT l_suppkey + 1000000000000 AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), verts AS (
      SELECT src AS id FROM edges0 UNION SELECT dst FROM edges0
    ), outdeg AS (
      SELECT src, count(*) AS d FROM edges0 GROUP BY src
    ), edges AS (
      SELECT e.src, e.dst, 1.0 / d AS w FROM edges0 e JOIN outdeg USING (src)
    ), r0 AS (SELECT id, 1.0 AS rank FROM verts
    ), r1 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r0.rank * e.w) AS s
                 FROM edges e JOIN r0 ON r0.id = e.src GROUP BY e.dst) m
        ON m.id = v.id
    ), r2 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r1.rank * e.w) AS s
                 FROM edges e JOIN r1 ON r1.id = e.src GROUP BY e.dst) m
        ON m.id = v.id
    ), r3 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r2.rank * e.w) AS s
                 FROM edges e JOIN r2 ON r2.id = e.src GROUP BY e.dst) m
        ON m.id = v.id
    ), r4 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r3.rank * e.w) AS s
                 FROM edges e JOIN r3 ON r3.id = e.src GROUP BY e.dst) m
        ON m.id = v.id
    ), r5 AS (
      SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r4.rank * e.w) AS s
                 FROM edges e JOIN r4 ON r4.id = e.src GROUP BY e.dst) m
        ON m.id = v.id
    )
    SELECT id, round(rank, 6) AS rank FROM r5
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static PageRank (graphx lib/PageRank.scala) over the
    supplier→customer shipment graph (edge = supplier shipped a
    lineitem on a customer's order).  Supplier ids are offset by 10^12
    so the two key spaces can't collide in one vertex-id domain at any
    reachable scale factor (TPC-H custkeys hit 10^7 around SF 67; 10^12
    is beyond SF 10^6 while staying far from bigint overflow).

    Fully oracle-backed since round 3: 5 fixed iterations unroll to
    chained CTEs in DuckDB and round(6) absorbs fp sum-order ulps —
    a previously rows-only marquee algorithm now value-checked
    end-to-end."""
    t = _t(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .select(
            (F.col("l_suppkey") + 1_000_000_000_000).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, num_iters=5)


@register("ml_kmeans_clusters")  # iterative float fixpoint — rows-only
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib parity proof (SURVEY §2.12, mllib clustering/KMeans.scala):
    k-means over the embeddings table; cluster sizes, not centroids, are
    the stable observable."""
    from spark_monotasks_spark.ml import kmeans_fit_predict

    t = _t(spark, sf_dir)
    clustered = kmeans_fit_predict(t["embeddings"], k=8, max_iter=10)
    return clustered.groupBy("cluster").agg(F.count("*").alias("n_vecs"))


@register("ml_als_recommend")  # iterative factorization — rows-only
def ml_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib parity (SURVEY §2.12, mllib recommendation/ALS.scala):
    implicit customer×part ratings from order history (rating =
    lineitem quantity), top-3 part recommendations per customer.
    Float factor matrices are seed-stable but not SQL-expressible —
    observable is the (user, item) top-k row set; rows-only check."""
    from spark_monotasks_spark.ml import als_recommend

    t = _t(spark, sf_dir)
    ratings = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
        # bound the matrix so the proof runs in seconds at any sf —
        # ALS cost is O(nnz·rank·iters), not data-scan bound
        .filter((F.col("user") % 10 == 0) & (F.col("item") % 10 == 0))
    )
    return als_recommend(ratings, num_recs=3)


@register("ml_decision_tree")  # histogram-split fitpoint — rows-only
def ml_decision_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib parity (SURVEY §2.12, mllib tree/DecisionTree.scala):
    classify embeddings by a deterministic label (vec_id parity) and
    report per-class prediction counts — tree structure is seed-stable,
    the count-by-(label, prediction) confusion matrix is the
    observable."""
    from spark_monotasks_spark.ml import decision_tree_fit

    t = _t(spark, sf_dir)
    labeled = t["embeddings"].withColumn(
        "label", (F.col("vec_id") % 2).cast("double")
    )
    preds = decision_tree_fit(labeled, label_col="label")
    return (
        preds.groupBy("label", "prediction")
        .agg(F.count("*").alias("n"))
        .orderBy("label", "prediction")
    )


@register("ml_random_forest")  # bagged ensemble, seed-stable — rows-only
def ml_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib parity (mllib tree/RandomForest.scala): bagged CART
    ensemble over embeddings with a deterministic vec_id-parity label;
    the (label, prediction) confusion counts are the observable, same
    contract as ml_decision_tree."""
    from spark_monotasks_spark.ml import random_forest_fit

    t = _t(spark, sf_dir)
    labeled = t["embeddings"].withColumn(
        "label", (F.col("vec_id") % 2).cast("double")
    )
    preds = random_forest_fit(labeled, label_col="label", num_trees=10)
    return (
        preds.groupBy("label", "prediction")
        .agg(F.count("*").alias("n"))
        .orderBy("label", "prediction")
    )


@register("ml_gbt")  # boosted ensemble, iterative fit — rows-only
def ml_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib parity (mllib tree/GradientBoostedTrees.scala): logistic-
    loss boosted shallow trees, same confusion-count observable."""
    from spark_monotasks_spark.ml import gbt_fit

    t = _t(spark, sf_dir)
    labeled = t["embeddings"].withColumn(
        "label", (F.col("vec_id") % 2).cast("double")
    )
    preds = gbt_fit(labeled, label_col="label", max_iter=5)
    return (
        preds.groupBy("label", "prediction")
        .agg(F.count("*").alias("n"))
        .orderBy("label", "prediction")
    )


# --- NA functions — SURVEY §2.9 -------------------------------------------

@register(
    "na_fill_drop",
    oracle="""
    WITH x AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
             CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT c_custkey, coalesce(bal, 0.0) AS bal, seg
    FROM x WHERE NOT (bal IS NULL AND seg IS NULL)
    """,
)
def na_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions (DataFrameNaFunctions.scala: drop :40-101,
    fill :110+): synthesize nulls, drop rows where ALL of the subset is
    null, fill the numeric remainder."""
    t = _t(spark, sf_dir)
    x = t["customer"].select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_mktsegment") == "MACHINERY", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    dropped = sample_ops.na_drop(x, how="all", subset=["bal", "seg"])
    return sample_ops.na_fill(dropped, {"bal": 0.0})


@register(
    "na_replace",
    oracle="""
    SELECT c_custkey,
           CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'CAR'
                             WHEN 'HOUSEHOLD' THEN 'HOME'
                             ELSE c_mktsegment END AS seg
    FROM customer
    """,
)
def na_replace_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions.replace — value remapping."""
    t = _t(spark, sf_dir)
    out = sample_ops.na_replace(
        t["customer"].select("c_custkey", F.col("c_mktsegment").alias("seg")),
        {"AUTOMOBILE": "CAR", "HOUSEHOLD": "HOME"},
        None,
        subset=["seg"],
    )
    return out


# --- first/last aggregates — SURVEY §2.4 / §7.4.6 -------------------------

@register(
    "first_last_agg",
    oracle="""
    SELECT o_custkey,
           arg_min(o_totalprice, o_orderkey) AS first_price,
           arg_max(o_totalprice, o_orderkey) AS last_price,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def first_last_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/Last aggregates (aggregates.scala:437,:451) are
    partition-order-dependent in the reference; the deterministic
    equivalent is arg-min/arg-max over the unique orderkey
    (min_by/max_by), which is what ordered-input first/last computes."""
    t = _t(spark, sf_dir)
    return t["orders"].groupBy("o_custkey").agg(
        F.min_by("o_totalprice", "o_orderkey").alias("first_price"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_price"),
        F.count("*").alias("n_orders"),
    )


# --- complex types — SURVEY §2.8 (complexTypes.scala) ---------------------

@register(
    "complex_types_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity  AS qty_from_array,
           l_extendedprice AS price_from_struct,
           l_discount  AS disc_from_map,
           2 AS arr_size
    FROM lineitem WHERE l_linenumber <= 2
    """,
)
def complex_types_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CreateArray/GetItem/StructGetField/map access
    (complexTypes.scala: GetItem :27, StructGetField :87, CreateArray
    :120): build array/struct/map, extract back — all JVM-side."""
    t = _t(spark, sf_dir)
    built = t["lineitem"].filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.array("l_quantity", "l_extendedprice").alias("arr"),
        F.struct("l_extendedprice", "l_discount").alias("st"),
        F.create_map(F.lit("disc"), F.col("l_discount")).alias("mp"),
    )
    return built.select(
        "l_orderkey",
        "l_linenumber",
        built.arr[0].alias("qty_from_array"),
        built.st.l_extendedprice.alias("price_from_struct"),
        built.mp["disc"].alias("disc_from_map"),
        F.size("arr").alias("arr_size"),
    )


# --- additional headline analytics ----------------------------------------

@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan benchmark — every predicate must
    reach the parquet reader (PushedFilters), the aggregate is a single
    partial+final sum with no groups."""
    t = _t(spark, sf_dir)
    l = t["lineitem"]
    return (
        l.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q10_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-fact join + dim join + agg + top-k.  The
    returnflag filter lands on the lineitem scan; the orders-lineitem
    join shuffles on orderkey; the customer join rides the custkey
    shuffle of the aggregate; top-k is TakeOrderedAndProject."""
    t = _t(spark, sf_dir)
    rev = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, event_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY user_id, session_no
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) —
    the canonical large-scale user-behavior op.  One shuffle on user_id
    serves both window passes and the final aggregate (same partition
    key); state never materializes beyond the window frame.
    BEYOND-REFERENCE (window functions are post-1.3), marked per SURVEY
    §2.5 convention."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ → TIMESTAMP → epoch micros (identity under the UTC session tz);
    # whole seconds would merge a 1800.8 s gap the oracle splits
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    marked = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800 * 10**6), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("new_session")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "tpch_q4_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1995-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join
    (LeftSemiJoinHash.scala:32) feeding an aggregate — the
    subquery-as-semi-join pattern."""
    t = _t(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    big_lines = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(big_lines, o.o_orderkey == big_lines.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q14_promo",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1995-03-01'
    """,
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact-dim join + conditional aggregation ratio.
    part is comfortably broadcastable at any realistic dimension size."""
    t = _t(spark, sf_dir)
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-03-01")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = l.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue")
    )


@register(
    "tpch_q18_big_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, round(qty, 2) AS total_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 210) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join (HAVING filter shrinks the
    fact before the join — the scale-correct order) + top-k."""
    t = _t(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 210)
    )
    out = (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "o_orderkey", "o_totalprice", F.round("qty", 2).alias("total_qty")
        )
    )
    return out.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(50)


@register(
    "tpch_q19_or_predicates",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 40)
    """,
)
def tpch_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive mixed-table predicates — Catalyst
    splits the single-table conjuncts out of the OR for pushdown where
    possible; the join stays an equi hash join (never BNLJ)."""
    t = _t(spark, sf_dir)
    j = t["lineitem"].join(
        F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey")
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 40))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


# --- streaming through the batch contract — SURVEY §2.10 ------------------

@register(
    "stream_hourly_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of events_hourly_window, run end-to-end through
    Structured Streaming: file source over the same parquet (availableNow
    = process everything then stop, the micro-batch analogue of the
    DStream tests), windowed aggregate in complete mode, memory sink.
    Deterministic — hash-matches the same oracle as the batch query,
    which is exactly the reference's batch-vs-stream equivalence claim
    (DStream ops are 'the same computation per micro-batch')."""
    import os
    import tempfile
    import uuid

    from spark_monotasks_spark.streaming import dstream

    # legacy bigint-nanos events data needs nanosAsLong pinned BEFORE the
    # batch schema read below — on a vanilla session the read would throw
    # PARQUET_TYPE_ILLEGAL before _fix_nanos ever runs
    tables.ensure_parity_confs(spark)
    # the file source wants a *directory* of files; stage a symlink
    # (abspath: a relative sf_dir would otherwise dangle when the link
    # is resolved against the stage dir)
    stage = tempfile.mkdtemp(prefix="stream_events_")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(stage, "events.parquet"),
    )
    stream = dstream.file_stream(
        spark,
        stage,
        # stream the raw file; ts arrives either as TIMESTAMP_NTZ (micros
        # data) or bigint nanos (legacy data) — _fix_nanos normalizes both
        spark.read.parquet(f"{sf_dir}/events.parquet").schema,
        max_files_per_trigger=1,
    )
    stream = tables._fix_nanos(stream)
    agg = dstream.windowed_agg(
        stream,
        "ts",
        "1 hour",
        aggs=[
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ],
        keys=("event_type",),
    )
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    q = dstream.start_memory_sink(agg, name, output_mode="complete")
    try:
        finished = q.awaitTermination(300)
    finally:
        q.stop()
        import shutil

        shutil.rmtree(stage, ignore_errors=True)  # memory sink holds the rows
    if not finished:
        raise TimeoutError(
            "streaming query did not drain within 300s — refusing to return "
            "a partial aggregate"
        )
    return spark.table(name).select(
        "window_start", "event_type", "n", "total_value"
    )


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup end-to-end (dstream.stream_dedup →
    dropDuplicatesWithinWatermark): exactly-once delivery of
    at-least-once inputs, the §2.10 recovery-replay answer.  The whole
    events file arrives as ONE micro-batch (single staged file), so the
    watermark never expires state mid-stream and the emitted key set is
    deterministic — hash-equal to batch DISTINCT, the same
    batch-vs-stream equivalence claim stream_hourly_window pins.
    Multi-batch expiry semantics (duplicates beyond the watermark are
    NOT caught — bounded state is the contract) are covered in
    tests/test_streaming.py."""
    import os
    import shutil
    import tempfile
    import uuid

    from spark_monotasks_spark.streaming import dstream

    tables.ensure_parity_confs(spark)
    stage = tempfile.mkdtemp(prefix="stream_dedup_")
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    if os.path.isfile(src):
        os.symlink(src, os.path.join(stage, "events.parquet"))
    else:
        # multi-part dataset: maxFilesPerTrigger=1 would split it into
        # several micro-batches and watermark expiry could re-emit keys
        # — restage as ONE data file so the one-micro-batch precondition
        # of the hash-equal-to-DISTINCT guarantee is enforced, not
        # assumed
        dst = os.path.join(stage, "events.parquet")
        spark.read.parquet(src).coalesce(1).write.mode("overwrite").parquet(dst)
        parts = [f for f in os.listdir(dst) if f.endswith(".parquet")]
        if len(parts) != 1:
            raise AssertionError(
                f"single-file staging produced {len(parts)} data files"
            )
    stream = dstream.file_stream(
        spark,
        stage,
        spark.read.parquet(f"{sf_dir}/events.parquet").schema,
        max_files_per_trigger=1,
    )
    stream = tables._fix_nanos(stream)
    # watermarks demand TIMESTAMP, not TIMESTAMP_NTZ — identity cast
    # under the UTC parity session
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    deduped = dstream.stream_dedup(
        stream, keys=["user_id", "event_type"], ts_col="ts", watermark="1 hour"
    ).select("user_id", "event_type")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = dstream.start_memory_sink(deduped, name, output_mode="append")
    try:
        finished = q.awaitTermination(300)
    finally:
        q.stop()
        shutil.rmtree(stage, ignore_errors=True)
    if not finished:
        raise TimeoutError(
            "streaming dedup did not drain within 300s — refusing to return "
            "a partial key set"
        )
    return spark.table(name)


@register(
    "kafka_decode_path",
    oracle="""
    SELECT CAST(user_id % 8 AS INT) AS partition,
           count(*) AS n_records,
           count(DISTINCT user_id) AS n_users,
           round(sum(round(value, 2)), 2) AS total_v
    FROM events WHERE user_id % 50 != 0
    GROUP BY 1
    """,
)
def kafka_decode_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka DECODE path, driver-visible (SURVEY §2.10 row 67: the
    live socket needs the external package this offline container
    cannot fetch, but the decode layer is connector-independent):
    events are re-shaped into the connector's exact record schema —
    key/value as REAL binary columns, value carrying a JSON payload,
    with 1-in-50 rows deliberately corrupt ('{not json') — then run
    through dstream.kafka_decode(value_schema, drop_corrupt=True):
    binary→UTF-8, typed from_json with corrupt-record detection, and
    metadata carried through.  The oracle states the expected surviving
    payload aggregate per partition, so a wrong cast, a silently
    null-parsed corrupt row, or dropped metadata all break the hash."""
    from spark_monotasks_spark.streaming import dstream

    e = tables.load_tables(spark, sf_dir)["events"]
    payload = F.to_json(
        F.struct(
            F.col("user_id"),
            F.col("event_type"),
            F.round("value", 2).alias("v"),
        )
    )
    records = e.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.when(F.col("user_id") % 50 == 0, F.lit("{not json"))
        .otherwise(payload)
        .cast("binary")
        .alias("value"),
        F.lit("events").alias("topic"),
        (F.col("user_id") % 8).cast("int").alias("partition"),
        F.col("ts").cast("timestamp").cast("long").alias("offset"),
        F.col("ts").cast("timestamp").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    decoded = dstream.kafka_decode(
        records,
        value_schema="user_id bigint, event_type string, v double",
        drop_corrupt=True,
    )
    return decoded.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("v"), 2).alias("total_v"),
    )


# --- UDAF / UDTF / percentile — SURVEY §2.11 ------------------------------

@register(
    "udaf_weighted_mean",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-UDAF surface (reference: Hive UDAF bridge,
    hiveUdfs.scala:192): quantity-weighted mean price per flag via the
    pandas grouped-agg UDF path (Arrow batches).  The F.* twin
    (weighted_mean_builtin) is the scale-preferred form; this entry
    proves the UDAF plumbing itself."""
    from spark_monotasks_spark.functions.udaf import weighted_mean_udaf

    t = _t(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(
                weighted_mean_udaf(F.col("l_extendedprice"), F.col("l_quantity")), 4
            ).alias("wavg_price")
        )
    )


@register(
    "udtf_posexplode_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), pe AS (
      SELECT doc_id,
             CAST(unnest(range(len(t))) AS INT) AS pos,
             unnest(t) AS token
      FROM toks
      WHERE doc_id < 50
    )
    SELECT doc_id, pos, token FROM pe WHERE token != ''
    """,
)
def udtf_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UserDefinedGenerator parity (generators.scala:79): tokenizing
    UDTF via posexplode — JVM-side generator, position preserved."""
    from spark_monotasks_spark.functions.udaf import explode_words_udtf

    t = _t(spark, sf_dir)
    return explode_words_udtf(
        t["documents"].filter(F.col("doc_id") < 50), "doc_id", "text"
    )


@register(
    "percentile_ops",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (reference reached these via Hive's
    percentile UDAF): F.percentile is the holistic exact form;
    percentile_approx is the scale path (constant-memory sketch,
    excluded from the hash gate like approx_count_distinct)."""
    t = _t(spark, sf_dir)
    return t["orders"].groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
    )


# --- cogroup — SURVEY §2.3 (RDD-level) ------------------------------------

@register(
    "cogroup_collect",
    oracle="""
    SELECT n.n_nationkey AS nationkey,
           array_to_string(coalesce(c.names, []), ',') AS left_values,
           array_to_string(coalesce(s.names, []), ',') AS right_values
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, list_sort(list(c_name)) AS names
               FROM customer GROUP BY c_nationkey) c
      ON c.c_nationkey = n.n_nationkey
    LEFT JOIN (SELECT s_nationkey, list_sort(list(s_name)) AS names
               FROM supplier GROUP BY s_nationkey) s
      ON s.s_nationkey = n.n_nationkey
    """,
)
def cogroup_collect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup (PairRDDFunctions.scala:715, CoGroupedRDD.scala): key →
    (left value list, right value list), here customers and suppliers
    cogrouped by nation.  Nations with neither side still appear (the
    full-outer grouping), seeded via a union of key sources."""
    from spark_monotasks_spark.operators.cogroup import cogroup_collect

    t = _t(spark, sf_dir)
    cust = t["customer"].select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_name")
    )
    supp = t["supplier"].select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_name")
    )
    cg = cogroup_collect(cust, supp, on=["nationkey"], left_value="c_name", right_value="s_name")
    # seed with ALL nation keys so empty-both-sides keys appear, like
    # the oracle's nation-anchored join
    nk = t["nation"].select(F.col("n_nationkey").cast("int").alias("nationkey"))
    out = nk.join(cg, on="nationkey", how="left")
    empty = F.array().cast("array<string>")
    # serialize the grouped lists to comma strings: the catalog output
    # schema must be scalar-only (driver canonicalizer can't hash lists)
    return out.select(
        "nationkey",
        F.array_join(F.coalesce("left_values", empty), ",").alias("left_values"),
        F.array_join(F.coalesce("right_values", empty), ",").alias("right_values"),
    )


# --- decimal semantics — SURVEY §7.4.1 ------------------------------------

@register(
    "decimal_agg",
    oracle="""
    SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_price,
           round(CAST(avg(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6)
             AS avg_qty,
           round(CAST(max(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2)
             AS max_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType aggregation (dataTypes.scala:672, Decimal.scala;
    DecimalPrecision coercion HiveTypeCoercion.scala:318): the agg runs
    in exact decimal arithmetic — Spark widens sum(DECIMAL(12,2)) to
    (22,2), matching the reference's DecimalPrecision promotion — and
    only the *catalog output* is cast to rounded DOUBLE, because the
    driver's value hasher normalizes Decimal cells differently per
    engine.  The exact-Decimal equality (no fp tolerance at all) is
    asserted in tests/test_oracle_parity.py::test_decimal_agg_exact."""
    t = _t(spark, sf_dir)
    d = t["lineitem"].groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("sum_price"),
        F.avg(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("decimal(16,6)")
        .alias("avg_qty"),
        F.max(F.col("l_discount").cast("decimal(4,2)")).alias("max_disc"),
    )
    return d.select(
        "l_returnflag",
        F.round(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        F.round(F.col("avg_qty").cast("double"), 6).alias("avg_qty"),
        F.round(F.col("max_disc").cast("double"), 2).alias("max_disc"),
    )


@register(
    "string_promotion",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) || '!' AS key_str,
           CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) + 1 AS key_plus_one,
           CAST(o_totalprice AS VARCHAR) >= '1' AS str_cmp
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def string_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String↔number promotion ('1' + 1 — PromoteStrings,
    HiveTypeCoercion.scala:230; StringToIntegralCasts :462): arithmetic
    on a string column auto-coerces to double with ANSI off, string
    comparison stays lexicographic.  DuckDB needs the casts spelled
    out — same values."""
    t = _t(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 1000)
    key_str = F.concat(F.col("o_orderkey").cast("string"), F.lit("!"))
    return o.select(
        "o_orderkey",
        key_str.alias("key_str"),
        (F.col("o_orderkey").cast("string") + 1).alias("key_plus_one"),
        (F.col("o_totalprice").cast("string") >= "1").alias("str_cmp"),
    )


# --- pivot (beyond-reference bonus, clearly marked) -----------------------

@register(
    "pivot_segment_status",
    oracle="""
    SELECT c_mktsegment,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS P
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEYOND-REFERENCE (Spark 1.6 feature, marked per SURVEY §2.5
    convention): GroupedData.pivot — wide conditional aggregation.
    Explicit pivot values skip the extra distinct-values job."""
    t = _t(spark, sf_dir)
    joined = t["customer"].join(
        t["orders"], t["orders"].o_custkey == t["customer"].c_custkey
    )
    return (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .na.fill(0.0)
    )


# --- zipWithIndex — SURVEY §2.9 -------------------------------------------

@register(
    "zip_with_index",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
    FROM orders
    """,
)
def zip_with_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zipWithIndex (RDD.scala:1371) — deterministic variant: index by
    a total order (unique o_orderkey), planned as the reference's own
    two-pass shape (per-partition counts -> broadcast cumulative
    offsets -> partition-local position + offset,
    operators/indexing.py) over a sampled range Exchange.  NEVER an
    un-partitioned row_number window: that shuffles the whole table to
    one task (the r4 implementation did exactly that — fixed r5)."""
    from spark_monotasks_spark.operators.indexing import (
        zip_with_index as _zwi,
    )

    t = _t(spark, sf_dir)
    return _zwi(
        t["orders"].select("o_orderkey"), order_cols=["o_orderkey"]
    )


@register(
    "ml_fpgrowth_itemsets",
    oracle="""
    WITH baskets AS (
      SELECT l_orderkey, list_distinct(list(p_brand)) AS items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY l_orderkey
    ), nb AS (SELECT count(*) AS n FROM baskets),
    exploded AS (SELECT l_orderkey, unnest(items) AS item FROM baskets),
    singles AS (
      SELECT [item] AS items, count(*) AS freq FROM exploded GROUP BY item
      HAVING count(*) / (SELECT CAST(n AS DOUBLE) FROM nb) >= 0.02
    ), pairs AS (
      SELECT list_sort([a.item, b.item]) AS items, count(*) AS freq
      FROM exploded a JOIN exploded b USING (l_orderkey)
      WHERE a.item < b.item
      GROUP BY list_sort([a.item, b.item])
      HAVING count(*) / (SELECT CAST(n AS DOUBLE) FROM nb) >= 0.02
    )
    SELECT array_to_string(items, ',') AS items, freq FROM singles
    UNION ALL
    SELECT array_to_string(items, ',') AS items, freq FROM pairs
    """,
)
def ml_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib fpm parity (mllib fpm/FPGrowth.scala → pyspark.ml.fpm):
    frequent brand itemsets over per-order baskets.  FPGrowth mines ALL
    sizes; the contract checks sizes 1-2, which SQL can enumerate
    exactly (singles + within-basket pairs) — larger itemsets are
    covered by the local hand-basket test."""
    from spark_monotasks_spark.ml import fpgrowth_frequent_itemsets

    t = _t(spark, sf_dir)
    # prune to the two join columns BEFORE the join and broadcast the
    # dimension explicitly: measured 4x faster than leaving it to the
    # optimizer here (the unpruned join carried the full lineitem row
    # through a shuffle join into the collect_set).  r9: the miner works
    # on INT item codes instead of brand strings — 'Brand#N' ↔ N is a
    # bijection (p_brand = 'Brand#' || 1..25 in this corpus), so the
    # mined itemsets decode 1:1 and freq is untouched, while the PFP
    # tree stages (the measured 49+24 task-second wall) hash/compare
    # 4-byte ints instead of 7-8 char strings.
    baskets = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(
                t["part"].select(
                    "p_partkey",
                    F.substring("p_brand", 7, 2).cast("int").alias("brand_code"),
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_orderkey")
        .agg(F.collect_set("brand_code").alias("items"))
    )
    # pin the PFP group count to the session's full parallelism: AQE
    # coalesces the tiny basket shuffle to a handful of partitions,
    # which would leave the (CPU-bound) conditional-tree mining running
    # ~5 tasks on a 32-core session
    itemsets, _rules = fpgrowth_frequent_itemsets(
        baskets,
        min_support=0.02,
        min_confidence=0.5,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    # decode codes back to brand strings BEFORE the sort so the
    # serialized itemset is byte-identical to the string-mined form
    # (sort_array on the decoded strings, exactly as before)
    decoded = F.transform(
        "items", lambda x: F.concat(F.lit("Brand#"), x.cast("string"))
    )
    # itemset serialized sorted+comma-joined: scalar-only catalog contract
    return itemsets.filter(F.size("items") <= 2).select(
        F.array_join(F.sort_array(decoded), ",").alias("items"), "freq"
    )


@register("ml_naive_bayes")  # float log-prob argmax — rows-only
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib classification/NaiveBayes.scala parity: multinomial NB over
    non-negative text-count features predicting the declared lang;
    per-(lang, prediction) confusion counts are the observable."""
    from spark_monotasks_spark.ml import naive_bayes_fit

    t = _t(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id",
        "lang",
        F.array(
            F.size(F.split("text", " ")).cast("double"),
            F.length("text").cast("double"),
            F.size(F.split("text", r"\.")).cast("double"),
        ).alias("feats"),
        (F.abs(F.hash("lang")) % 5).cast("double").alias("label"),
    )
    preds = naive_bayes_fit(docs, label_col="label", features_col="feats")
    return (
        preds.groupBy("lang", "prediction")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "prediction")
    )


@register("ml_tfidf_norm")  # murmur3 feature hashing — engine-specific, rows-only
def ml_tfidf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib feature/HashingTF.scala + IDF.scala parity: hashed TF-IDF
    vectors over documents; per-doc L2 norm and nonzero count are the
    stable observables."""
    from spark_monotasks_spark.ml import tf_idf

    t = _t(spark, sf_dir)
    vecs = tf_idf(t["documents"], num_features=1 << 10)
    return vecs.select(
        "doc_id",
        F.size(F.filter("tfidf", lambda x: x != 0)).alias("nnz"),
        F.round(
            F.sqrt(F.aggregate("tfidf", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
    )


@register(
    "stat_correlation",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 4)       AS corr_qty_price,
           round(corr(l_discount, l_tax), 4)                 AS corr_disc_tax,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_quantity), 4)                 AS sd_qty,
           round(var_samp(l_discount), 6)                    AS var_disc
    FROM lineitem
    """,
)
def stat_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mllib stat/Statistics.scala parity (colStats + corr): Pearson
    correlation / covariance / dispersion as ONE partial+final aggregate
    pass — modern Spark's corr/covar are the same streaming co-moment
    aggregates the reference's RowMatrix computeColumnSummary used."""
    t = _t(spark, sf_dir)
    return t["lineitem"].agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_disc_tax"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
    )


@register(
    "decimal_precision_edge",
    oracle="""
    SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE), 2)
             AS sum_p38,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 4)
             AS sum_prod,
           round(CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE), 4)
             AS max_prod
    FROM lineitem GROUP BY l_returnflag
    """,
)
def decimal_precision_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal arithmetic at the precision-38 boundary (SURVEY §7.4.1;
    ref dataTypes.scala:672 allows PrecisionInfo=None = unlimited
    precision, modern Spark caps at 38): sum over DECIMAL(38,2) — the
    result type cannot widen further — plus decimal×decimal widening
    ((12,2)×(4,2) → Spark (17,4), DuckDB (16,4); same exact values)
    aggregated to the 38-cap.  All arithmetic runs in exact decimals in
    both engines; only the catalog output is rounded DOUBLE (driver
    hasher contract).  The unlimited-precision DELTA — overflow past 38
    returns NULL where the reference would keep growing — is documented
    in tests/test_oracle_parity.py::test_decimal38_overflow_delta."""
    t = _t(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    d = t["lineitem"].groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("sum_p38"),
        F.sum(price * F.col("l_discount").cast("decimal(4,2)")).alias("sum_prod"),
        F.max(price * F.col("l_tax").cast("decimal(4,2)")).alias("max_prod"),
    )
    return d.select(
        "l_returnflag",
        F.round(F.col("sum_p38").cast("double"), 2).alias("sum_p38"),
        F.round(F.col("sum_prod").cast("double"), 4).alias("sum_prod"),
        F.round(F.col("max_prod").cast("double"), 4).alias("max_prod"),
    )


@register(
    "graph_scc",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS id,
           CAST(min(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT)
             AS component
    FROM nation
    """,
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StronglyConnectedComponents (graphx
    lib/StronglyConnectedComponents.scala) on a DIRECTED graph: nations
    of each region form a directed cycle (strongly connected ⇒ one SCC
    per region, id = min nationkey — the closed-form oracle), plus
    one-way DAG edges between region minimums which a plain CC would
    wrongly merge into a single component — exactly the directed/
    undirected distinction this entry certifies."""
    from spark_monotasks_spark.graph import strongly_connected_components

    t = _t(spark, sf_dir)
    n = t["nation"].select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_regionkey").alias("r"),
    )
    w = Window.partitionBy("r").orderBy("id")
    wp = Window.partitionBy("r")
    cycle = n.select(
        F.col("id").alias("src"),
        F.coalesce(F.lead("id").over(w), F.min("id").over(wp)).alias("dst"),
    )
    mins = n.groupBy("r").agg(F.min("id").alias("m")).orderBy("r")
    wr = Window.orderBy("r")
    dag = (
        mins.select(F.col("m").alias("src"), F.lead("m").over(wr).alias("dst"))
        .filter(F.col("dst").isNotNull())
    )
    return strongly_connected_components(cycle.unionAll(dag)).orderBy("id")


@register(
    "asof_join_events",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.value AS value_r, p.ts AS ts_r
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference, operators/asof.py): each click
    event picks up the user's latest at-or-before purchase — the
    point-in-time feature-lookup shape.  One key shuffle + window; the
    oracle is DuckDB's NATIVE ASOF JOIN, so the union-window
    formulation is checked against an independent reference
    implementation of the same inclusive-`>=` semantics."""
    from spark_monotasks_spark.operators.asof import as_of_join

    t = _t(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return as_of_join(clicks, purchases, on="user_id")


@register(
    "range_join_sessions",
    oracle="""
    WITH ts AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events
    ), sess AS (
      SELECT user_id, t AS s_start, t + 600 AS s_end, event_id AS signup_id
      FROM ts WHERE event_type = 'signup'
    )
    SELECT c.event_id, c.user_id, c.t AS ts_epoch,
           s.signup_id, s.s_start, s.s_end
    FROM (SELECT * FROM ts WHERE event_type = 'click') c
    JOIN sess s
      ON c.user_id = s.user_id AND c.t BETWEEN s.s_start AND s.s_end
    """,
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (beyond-reference, operators/asof.range_join):
    clicks falling inside a 10-minute window after each signup by the
    same user.  The bucketed equi-join formulation is checked against
    DuckDB's plain BETWEEN join — same rows, but OUR plan is a hash
    join on (key, bucket), never a nested-loop range cross product."""
    from spark_monotasks_spark.operators.asof import range_join

    t = _t(spark, sf_dir)
    ev = t["events"].withColumn(
        "t", F.col("ts").cast("timestamp").cast("long")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("t").alias("ts_epoch")
    )
    sessions = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("t").alias("s_start"),
        (F.col("t") + 600).alias("s_end"),
        F.col("event_id").alias("signup_id"),
    )
    out = range_join(
        clicks,
        sessions,
        on="user_id",
        left_ts="ts_epoch",
        right_start="s_start",
        right_end="s_end",
        bucket_width=600,
    )
    return out.select(
        "event_id", "user_id", "ts_epoch", "signup_id", "s_start", "s_end"
    )


@register(
    "salted_agg_skew",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS total_price,
           round(avg(l_quantity), 6) AS avg_qty,
           max(l_discount) AS max_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def salted_agg_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-stage aggregation (operators/aggregates.py
    salted_agg): lineitem grouped by l_returnflag — 3 distinct keys over
    millions of rows is EXACTLY the shape where one reducer owns a
    whole group; the salted rewrite splits each key over 32 partial
    reducers then merges.  Oracle is the plain GROUP BY: the rewrite
    must be value-identical."""
    from spark_monotasks_spark.operators.aggregates import salted_agg

    t = _t(spark, sf_dir)
    out = salted_agg(
        t["lineitem"],
        keys=["l_returnflag"],
        spec={
            "n": ("count", "l_returnflag"),
            "total_price": ("sum", "l_extendedprice"),
            "avg_qty": ("avg", "l_quantity"),
            "max_disc": ("max", "l_discount"),
        },
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("total_price", 2).alias("total_price"),
        F.round("avg_qty", 6).alias("avg_qty"),
        "max_disc",
    )


@register(
    "window_analytics_funcs",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist,
           first_value(o_totalprice) OVER w AS first_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_analytics_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytic function tail (beyond-reference, marked — the
    fork had no window operator at all, SURVEY §2.5): lag/lead, ntile,
    percent_rank, cume_dist, first_value, nth_value over a per-customer
    price ordering with a unique tiebreaker.  All engine-portable."""
    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    o = t["orders"].filter(F.col("o_custkey") <= 200)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "datetime_funcs2",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
           last_day(o_orderdate) AS eom,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS woy,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT)
             AS days_since,
           CAST(o_orderdate - INTERVAL 7 DAY AS DATE) AS minus7d
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def datetime_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function tail (Hive registry: add_months, last_day,
    dayofweek, weekofyear, datediff, date_sub).  DuckDB's dayofweek is
    0=Sunday where Spark's is 1=Sunday — the oracle shifts by one;
    months_between is deliberately absent (fractional-month semantics
    differ across engines at month-end boundaries)."""
    t = _t(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).alias("plus3m"),
        F.last_day("o_orderdate").alias("eom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("woy"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.date_sub("o_orderdate", 7).alias("minus7d"),
    )


@register(
    "conditional_agg_funcs",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
             AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
    FROM orders GROUP BY o_orderstatus
    """,
)
def conditional_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate tail (Hive registry reach:
    count_if, bool_and/every, bool_or/any): predicate-filtered counts
    and universally/existentially quantified columns — the SQL FILTER
    clause's function forms."""
    t = _t(spark, sf_dir)
    return t["orders"].groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.count_distinct("o_orderpriority").alias("n_prios"),
    )


@register(
    "regression_agg_funcs",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(corr(l_extendedprice, l_quantity), 6) AS pearson,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_s
    FROM lineitem GROUP BY l_returnflag
    """,
)
def regression_agg_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_slope/intercept/r2/count
    + corr/covar_samp — the in-SQL OLS primitives the reference reached
    via Hive UDAFs; mllib's LinearRegression is the iterative sibling,
    ml/wrappers.py).  Price-vs-quantity per return flag: essentially
    deterministic (sums of products), rounded for cross-engine fp
    parity."""
    t = _t(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(
            F.regr_intercept("l_extendedprice", "l_quantity"), 4
        ).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("pearson"),
        F.round(
            F.covar_samp("l_extendedprice", "l_quantity"), 4
        ).alias("cov_s"),
    )


@register(
    "window_range_trailing",
    oracle="""
    SELECT event_id, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS trail_1h
    FROM events
    """,
)
def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, vs the ROWS frames the
    other window entries use): trailing 1-hour per-user event-value sum
    at every event.  The frame is over epoch seconds so ties (same
    second) are peers in both engines; the sum runs in exact DECIMAL so
    frame-order fp drift can't flip the rounding.  One shuffle on
    user_id, sort within partitions — the shape that survives 100×
    because frames never cross partition keys."""
    t = _t(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return t["events"].select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double"), 2
        ).alias("trail_1h"),
    )


@register(
    "variant_json_ops",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_val,
           CAST(json_extract(props, '$.missing') AS INT) AS missing_val
    FROM events WHERE event_id < 2000
    """,
)
def variant_json_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (modern successor of the
    get_json_object path the reference reached via Hive UDFs —
    json_extract covers that form): parse_json once into a binary
    variant, then typed variant_get extraction; absent paths yield
    NULL, matching JSON-path semantics in the oracle."""
    t = _t(spark, sf_dir)
    e = t["events"].filter(F.col("event_id") < 2000)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_val"),
        F.variant_get(v, "$.missing", "int").alias("missing_val"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, NULLIF(o_orderkey % 7, 3) AS k
      FROM orders WHERE o_orderkey < 500
    ), b AS (
      SELECT c_custkey, NULLIF(c_custkey % 7, 3) AS k
      FROM customer WHERE c_custkey < 300
    )
    SELECT a.k AS k, count(*) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / eqNullSafe — the reference's
    EqualNullSafe predicate, predicates.scala): NULL keys match each
    other instead of vanishing, unlike ordinary equi-join under
    3-valued logic.  Catalyst still plans a HASH join (the null-safe
    operator is equi-joinable), not a nested loop."""
    t = _t(spark, sf_dir)
    a = (
        t["orders"]
        .filter(F.col("o_orderkey") < 500)
        .select(F.nullif(F.col("o_orderkey") % 7, F.lit(3)).alias("k"))
    )
    b = (
        t["customer"]
        .filter(F.col("c_custkey") < 300)
        .select(F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("k_b"))
    )
    joined = a.join(b, a["k"].eqNullSafe(b["k_b"]))
    return joined.groupBy("k").agg(F.count("*").alias("n_pairs"))


@register(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           round(l_quantity, 2) AS value
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice',
           round(l_extendedprice, 2)
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', round(l_discount, 2)
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', round(l_tax, 2)
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt — wide→long reshaping (the inverse of the pivot
    entry; the reference era spelled this LATERAL VIEW explode(map(...)),
    covered by sql_lateral_view).  Zero-shuffle: unpivot is a
    per-row flatMap, 4× rows out, no exchange."""
    t = _t(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") < 200)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "metric",
        F.round("value", 2).alias("value"),
    )


@register("hll_sketch_rollup")  # sketch bytes are engine-specific → rows-only;
# exact-tolerance + union-consistency asserted in tests/test_operators.py
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches (Datasketches HLL,
    Spark 4's hll_sketch_agg / hll_union_agg): per-(status, priority)
    customer sketches built once, then ROLLED UP to per-status counts
    by merging sketches — no rescan of the fact table, the pattern that
    makes distinct-count dashboards tractable at 100 TB (a raw
    count_distinct cannot be re-aggregated from finer grains).
    Successor of the reference's ApproxCountDistinct (HyperLogLogUDT,
    udaf collection) with mergeable state as a first-class column.
    TERMINALLY rows-only (CATALOG.md dispositions): Datasketches
    bytes are engine-private; :func:`hll_register_rollup` is the
    oracle-backed portable twin that value-audits the identical
    build → merge → estimate lifecycle."""
    t = _t(spark, sf_dir)
    fine = t["orders"].groupBy("o_orderstatus", "o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    return (
        fine.groupBy("o_orderstatus")
        .agg(F.hll_union_agg("sk").alias("merged"))
        .select(
            "o_orderstatus",
            F.hll_sketch_estimate("merged").alias("est_distinct_cust"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "hll_register_rollup",
    oracle="""
    WITH h AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))
                  AS BIGINT) AS hv
      FROM orders
    ), r AS (
      SELECT o_orderstatus, o_orderpriority,
             hv % 16 AS bucket,
             45 - length(bin(hv // 16)) AS rho
      FROM h
    ), fine AS (
      SELECT o_orderstatus, o_orderpriority, bucket, max(rho) AS reg
      FROM r GROUP BY 1, 2, 3
    ), merged AS (
      SELECT o_orderstatus, bucket, max(reg) AS reg FROM fine GROUP BY 1, 2
    ), stats AS (
      SELECT o_orderstatus, max(reg) AS rmax, count(*) AS npres
      FROM merged GROUP BY 1
    ), s AS (
      SELECT m.o_orderstatus,
             CAST(sum(CAST(1 AS BIGINT) << (st.rmax - m.reg))
                  + (16 - max(st.npres))
                    * max(CAST(1 AS BIGINT) << st.rmax) AS BIGINT) AS ssum,
             max(st.rmax) AS rmax
      FROM merged m JOIN stats st USING (o_orderstatus)
      GROUP BY 1
    )
    SELECT o_orderstatus,
           round(CAST(CAST(1 AS BIGINT) << (rmax + 8) AS DOUBLE)
                 / CAST(ssum AS DOUBLE), 4) AS est_distinct_cust
    FROM s ORDER BY o_orderstatus
    """,
)
def hll_register_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch with VALUE-AUDITED registers —
    the engine-portable twin of :func:`hll_sketch_rollup` (r6 verdict
    ask #4: the native Datasketches entry stays terminally rows-only
    because its sketch bytes are engine-specific; this twin replays
    the whole register lifecycle in DuckDB).  Same rollup shape:
    per-(status, priority) HLL registers built from the fact table
    ONCE, merged to per-status by register-wise MAX — the mergeability
    property that makes distinct-count dashboards tractable at 100 TB
    — then estimated.  Portability kit: hash = first 12 hex of
    md5(custkey) (48-bit int), m = 16 buckets (h mod 16), rho = 45 -
    length(bin(h div 16)) (MSB position in exact integer arithmetic —
    no floor(log2) ulp hazard), raw estimate = m^2 / sum(2^-reg)
    computed as the single IEEE-exact divide 2^(rmax+8) / S with
    S = sum(2^(rmax-reg)) an exact BIGINT (numerator a pure power of
    two because m^2 = 2^8, so every intermediate is exactly
    representable).  No alpha bias correction — the entry audits the
    mergeable-register machinery, not the calibration constant."""
    t = _t(spark, sf_dir)
    h = t["orders"].select(
        "o_orderstatus",
        "o_orderpriority",
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string").cast("binary")), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    r = h.select(
        "o_orderstatus",
        "o_orderpriority",
        (F.col("hv") % 16).alias("bucket"),
        (F.lit(45) - F.length(F.bin(F.expr("shiftright(hv, 4)")))).alias("rho"),
    )
    fine = r.groupBy("o_orderstatus", "o_orderpriority", "bucket").agg(
        F.max("rho").alias("reg")
    )
    merged = fine.groupBy("o_orderstatus", "bucket").agg(F.max("reg").alias("reg"))
    stats = merged.groupBy("o_orderstatus").agg(
        F.max("reg").alias("rmax"), F.count("*").alias("npres")
    )
    s = (
        merged.join(stats, "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), rmax - reg)"))
                + (F.lit(16) - F.max("npres"))
                * F.max(F.expr("shiftleft(CAST(1 AS BIGINT), rmax)"))
            ).alias("ssum"),
            F.max("rmax").alias("rmax"),
        )
    )
    return s.select(
        "o_orderstatus",
        F.round(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rmax + 8) AS DOUBLE)")
            / F.col("ssum").cast("double"),
            4,
        ).alias("est_distinct_cust"),
    ).orderBy("o_orderstatus")


@register(
    "higher_order_funcs",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             list_sort(list(round(o_totalprice, 2))) AS prices
      FROM orders WHERE o_custkey < 300 GROUP BY o_custkey
    )
    SELECT o_custkey,
           round(list_reduce(prices, (a, b) -> a + b), 2) AS total,
           len(list_filter(prices, p -> p > 200000.0)) AS n_big,
           round(list_reduce(list_transform(prices, p -> p + 10.0),
                             (a, b) -> a + b), 2) AS bumped_total,
           round(prices[1], 2) AS cheapest
    FROM g WHERE len(prices) > 0
    """,
)
def higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate —
    the JVM-side lambda family the whole pipeline layer is built on):
    per-customer price arrays folded, filtered, and mapped without a
    single UDF.  DuckDB's list lambdas replicate each step."""
    t = _t(spark, sf_dir)
    g = (
        t["orders"]
        .filter(F.col("o_custkey") < 300)
        .groupBy("o_custkey")
        .agg(
            F.sort_array(
                F.collect_list(F.round("o_totalprice", 2))
            ).alias("prices")
        )
    )
    fsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, b: a + b
    )
    return g.filter(F.size("prices") > 0).select(
        "o_custkey",
        F.round(fsum(F.col("prices")), 2).alias("total"),
        F.size(
            F.filter(F.col("prices"), lambda p: p > 200000.0)
        ).alias("n_big"),
        # the map stays exact (+10.0 on 2-decimal values): a 0.9
        # multiply made the fold land on representation-dependent
        # half-boundaries that the two engines round apart
        F.round(
            fsum(F.transform(F.col("prices"), lambda p: p + 10.0)), 2
        ).alias("bumped_total"),
        F.round(F.element_at("prices", 1), 2).alias("cheapest"),
    )


@register(
    "explode_outer_semantics",
    oracle="""
    WITH g AS (
      SELECT c.c_custkey,
             (SELECT list(o.o_orderkey ORDER BY o.o_orderkey)
              FROM orders o WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 400000.0) AS big_orders
      FROM customer c WHERE c.c_custkey < 300
    )
    SELECT c_custkey, u.ok AS o_orderkey
    FROM g LEFT JOIN LATERAL (
      SELECT unnest(big_orders) AS ok
    ) u ON TRUE
    """,
)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer (generator null semantics): customers with NO
    qualifying orders keep one row with a NULL orderkey — plain explode
    would drop them.  The oracle reproduces it with LEFT JOIN LATERAL
    unnest."""
    t = _t(spark, sf_dir)
    c = t["customer"].filter(F.col("c_custkey") < 300)
    o = t["orders"].filter(F.col("o_totalprice") > 400000.0)
    g = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.sort_array(
                F.filter(
                    F.collect_list("o_orderkey"), lambda x: x.isNotNull()
                )
            ).alias("big_orders")
        )
        .withColumn(
            "big_orders",
            F.when(F.size("big_orders") > 0, F.col("big_orders")),
        )
    )
    return g.select(
        "c_custkey", F.explode_outer("big_orders").alias("o_orderkey")
    )


@register(
    "nested_struct_ops",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS cust,
           round(o_totalprice + 1.0, 2) AS bumped,
           upper(o_orderstatus) AS status_u
    FROM orders WHERE o_orderkey < 1000
    """,
)
def nested_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct surgery (withField / dropFields — the modern form
    of the reference's GetField/named_struct expressions,
    complexTypes.scala): build a struct, update one field in place,
    drop another, then project the pieces back out flat.  The oracle
    states the equivalent flat computation — a value match proves the
    struct rebuild touched exactly the intended fields."""
    t = _t(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") < 1000)
    s = F.struct(
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    reshaped = (
        s.withField("price", F.round(F.col("o_totalprice") + 1.0, 2))
        .withField("status", F.upper(F.col("o_orderstatus")))
        .dropFields("prio")
    )
    return o.select("o_orderkey", reshaped.alias("s")).select(
        "o_orderkey",
        F.col("s.cust").alias("cust"),
        F.col("s.price").alias("bumped"),
        F.col("s.status").alias("status_u"),
    )


@register(
    "collation_ci_group",
    oracle="""
    SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END) AS etype,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def collation_ci_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): a UTF8_LCASE-collated column groups
    case-insensitively — 'CLICK' and 'click' land in one group without
    rewriting every predicate with lower().  The oracle normalizes
    explicitly; output is lowercased for a stable display form."""
    t = _t(spark, sf_dir)
    mixed = t["events"].select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper("event_type")
        ).otherwise(F.col("event_type")).alias("etype_raw")
    )
    collated = mixed.select(
        F.collate("etype_raw", "UTF8_LCASE").alias("etype_ci")
    )
    return (
        collated.groupBy("etype_ci")
        .agg(F.count("*").alias("n"))
        .select(F.lower("etype_ci").alias("etype"), "n")
    )


@register(
    "array_setops_funcs",
    oracle="""
    WITH a AS (
      SELECT o_custkey,
             list_sort(list(DISTINCT o_orderpriority)) AS prios_hi
      FROM orders WHERE o_totalprice > 250000.0 GROUP BY o_custkey
    ), b AS (
      SELECT o_custkey,
             list_sort(list(DISTINCT o_orderpriority)) AS prios_lo
      FROM orders WHERE o_totalprice <= 250000.0 GROUP BY o_custkey
    )
    SELECT a.o_custkey,
           coalesce(array_to_string(list_sort(list_distinct(
             list_concat(prios_hi, prios_lo))), ','), '') AS union_p,
           coalesce(array_to_string(list_sort(
             list_intersect(prios_hi, prios_lo)), ','), '') AS common_p,
           -- DuckDB's array_to_string of an empty list yields NULL,
           -- Spark's array_join yields '' — coalesce to match
           coalesce(array_to_string(list_sort(list_filter(prios_hi,
             x -> NOT list_contains(prios_lo, x))), ','), '') AS only_hi
    FROM a JOIN b USING (o_custkey)
    """,
)
def array_setops_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (array_union / array_intersect / array_except
    — the collection expressions the reference reached through Hive
    brickwork): per-customer priority sets from the high- and low-value
    order populations, combined three ways.  Arrays serialized to comma
    strings for the scalar catalog contract."""
    t = _t(spark, sf_dir)
    o = t["orders"]
    a = (
        o.filter(F.col("o_totalprice") > 250000.0)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("o_orderpriority")).alias("hi"))
    )
    b = (
        o.filter(F.col("o_totalprice") <= 250000.0)
        .groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("o_orderpriority")).alias("lo"))
    )
    j = a.join(b, on="o_custkey")
    arr_str = lambda c: F.array_join(F.sort_array(c), ",")  # noqa: E731
    return j.select(
        "o_custkey",
        arr_str(F.array_union("hi", "lo")).alias("union_p"),
        arr_str(F.array_intersect("hi", "lo")).alias("common_p"),
        arr_str(F.array_except("hi", "lo")).alias("only_hi"),
    )


@register(
    "stat_chisq_independence",
    oracle="""
    WITH cells AS (
      SELECT lang, source, count(*) AS obs
      FROM documents GROUP BY lang, source
    ), rt AS (SELECT lang, sum(obs) AS row_tot FROM cells GROUP BY lang),
    ct AS (SELECT source, sum(obs) AS col_tot FROM cells GROUP BY source),
    nn AS (SELECT CAST(sum(obs) AS DOUBLE) AS n FROM cells),
    j AS (
      SELECT obs, row_tot * col_tot / nn.n AS e
      FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN nn
    )
    SELECT round(sum((obs - e) * (obs - e) / e - e) + (SELECT n FROM nn), 4)
             AS statistic,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof
    FROM j
    """,
)
def stat_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib stat/test/ChiSqTest.scala parity (Pearson independence) as
    pure DataFrame aggregation over the lang × source contingency table
    of documents — engine-portable, so the statistic and dof are
    value-audited in SQL (tests additionally cross-check the same math
    against pyspark.ml.stat.ChiSquareTest).  Zero-count cells are
    folded in algebraically (Σ_missing e = N - Σ_observed e), so the
    plan never densifies the table."""
    from spark_monotasks_spark.ml import chi_square_independence

    t = _t(spark, sf_dir)
    return chi_square_independence(t["documents"], "lang", "source")


@register("ml_word2vec_embed")  # seeded iterative skip-gram fit — rows-only
def ml_word2vec_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib feature/Word2Vec.scala parity: skip-gram embeddings over
    document text; per-doc observables are the vector arity and the
    rounded L2 norm of the averaged doc vector (float internals are
    solver-specific — invariants tested locally)."""
    from spark_monotasks_spark.ml import word2vec_embed

    t = _t(spark, sf_dir)
    docs = word2vec_embed(
        t["documents"].select("doc_id", "text"), vector_size=8, seed=42
    )
    return docs.select(
        "doc_id",
        F.size("w2v").alias("dims"),
        F.round(
            F.sqrt(F.aggregate("w2v", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
    )


@register("ml_lda_doc_topics")  # variational-EM fit — rows-only
def ml_lda_doc_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib clustering/LDA.scala parity: topic model over document
    term counts; the observable is the per-topic document count (k
    bounded rows)."""
    from spark_monotasks_spark.ml import lda_topics

    t = _t(spark, sf_dir)
    docs, _topics = lda_topics(
        t["documents"].select("doc_id", "text"), k=4, max_iter=5, seed=42
    )
    return docs.groupBy("topic").agg(F.count("*").alias("n_docs")).orderBy("topic")


@register("ml_gaussian_mixture")  # EM fit — rows-only
def ml_gaussian_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib clustering/GaussianMixture.scala parity: EM mixture over
    the embeddings table; per-component size and mean responsibility
    are the observables.  Fit on the FIRST 16 dimensions (r7): full
    64-dim EM on this corpus can drive a component's covariance
    near-singular, and float-reduce-order nondeterminism then
    occasionally pushes it to NaN — where netlib's f2j dsyev spins
    forever instead of erroring (observed once as a >100-min hang in
    the r7 parity sweep; the QL iteration's eps test never fires on
    NaN).  A 16x16 covariance over the same 2k+ rows is comfortably
    conditioned, which removes the hang surface while still
    exercising the same EM aggregate shape."""
    from spark_monotasks_spark.ml import gaussian_mixture_fit

    t = _t(spark, sf_dir)
    emb16 = t["embeddings"].select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    got = gaussian_mixture_fit(emb16, k=3, seed=42)
    return (
        got.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("cluster_prob"), 3).alias("avg_resp"),
        )
        .orderBy("cluster")
    )


@register("ml_svm_predictions")  # OWLQN hinge fit — rows-only
def ml_svm_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib classification/SVM.scala parity: linear hinge-loss
    classifier on the embeddings' binary label parity; confusion
    counts are the observable."""
    from spark_monotasks_spark.ml import svm_fit

    t = _t(spark, sf_dir)
    df = t["embeddings"].select(
        "vec_id", "embedding", (F.col("label") % 2).cast("double").alias("y")
    )
    preds = svm_fit(df, label_col="y")
    return (
        preds.groupBy("y", "prediction")
        .agg(F.count("*").alias("n"))
        .orderBy("y", "prediction")
    )


@register("ml_ridge_lasso_fit")  # regularized iterative solvers — rows-only
def ml_ridge_lasso_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib regression/{RidgeRegression,Lasso}.scala parity: L2- and
    L1-regularized least squares predicting n_chars from cheap text
    stats; per-model prediction RMSE (rounded coarse — solver floats)
    is the observable."""
    from spark_monotasks_spark.ml import lasso_fit, ridge_fit

    t = _t(spark, sf_dir)
    df = t["documents"].select(
        "doc_id",
        F.array(
            F.size(F.split("text", " ")).cast("double"),
            F.length("text").cast("double"),
        ).alias("feats"),
        F.col("n_chars").cast("double").alias("y"),
    )
    out = []
    for name, fit in (("ridge", ridge_fit), ("lasso", lasso_fit)):
        preds, _, _ = fit(df, "y", features_col="feats", reg_param=0.1)
        rmse = preds.agg(
            F.round(
                F.sqrt(F.avg(F.pow(F.col("prediction") - F.col("y"), 2))), 1
            ).alias("rmse")
        ).withColumn("model", F.lit(name))
        out.append(rmse.select("model", "rmse"))
    return out[0].unionAll(out[1])


@register(
    "graph_cc_star_chains",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS id,
           CAST(min(o_orderkey) OVER (PARTITION BY o_custkey) AS BIGINT)
             AS component
    FROM orders
    """,
)
def graph_cc_star_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected_components_star (large-star/small-star, the r4 default
    engine for near-dup clustering) value-audited on per-customer
    ORDERKEY CHAINS: each customer's orders sorted and linked pairwise —
    a path graph, exactly the high-diameter shape min-label propagation
    is worst at (O(chain length) rounds) and star converges on in
    O(log n).  Closed form the oracle can state: component = min
    orderkey within the customer."""
    from spark_monotasks_spark.graph.algorithms import (
        _component_labels,
        connected_components_star,
    )

    t = _t(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    chain = (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_orderkey").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("o_orderkey").cast("long").alias("src"),
            F.col("nxt").cast("long").alias("dst"),
        )
    )
    # threshold forced OFF: this entry exists to EXERCISE the
    # distributed star rounds (the r7 small-graph fast path would
    # otherwise union-find these chains on the driver at sf<=0.01)
    comps = connected_components_star(chain, small_graph_threshold=0)
    # single-order customers produce no edge: they are their own
    # component
    ids = t["orders"].select(F.col("o_orderkey").cast("long").alias("id"))
    return _component_labels(ids, comps, "component")


@register("graph_svdpp_train")  # iterative float factorization — rows-only
def graph_svdpp_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVD++ (graphx lib/SVDPlusPlus.scala — the last §2.12 algorithm
    row) trained on a bounded lineitem-derived rating graph: users =
    small suppkeys, items = offset part buckets, rating = linenumber
    1-5.  Observables: prediction count, clip-respecting min/max, and
    the global mean (exact).  Factor floats are solver-order-specific →
    rows-only; learning and t0-parity are asserted in tests."""
    from spark_monotasks_spark.graph import svd_plus_plus, svdpp_predict

    t = _t(spark, sf_dir)
    ratings = (
        t["lineitem"]
        .filter(F.col("l_suppkey") < 50)
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.lit(1_000_000) + F.col("l_partkey") % 20).cast("long").alias("dst"),
            ((F.col("l_linenumber") % 5) + 1).cast("double").alias("rating"),
        )
        .groupBy("src", "dst")
        .agg(F.avg("rating").alias("rating"))
    )
    verts, u = svd_plus_plus(
        ratings, rank=2, max_iters=1, min_val=1.0, max_val=5.0
    )
    preds = svdpp_predict(
        verts, u, ratings.select("src", "dst"), min_val=1.0, max_val=5.0
    )
    return preds.agg(
        F.count("*").alias("n_preds"),
        (F.min("pred") >= 1.0).alias("min_clipped"),
        (F.max("pred") <= 5.0).alias("max_clipped"),
        F.round(F.lit(u), 4).alias("global_mean"),
    )


@register(
    "graph_svdpp_t0",
    oracle="""
    WITH ratings AS (
      SELECT CAST(l_suppkey AS BIGINT) AS src,
             CAST(1000000 + l_partkey % 20 AS BIGINT) AS dst,
             avg((l_linenumber % 5) + 1) AS rating
      FROM lineitem
      WHERE l_suppkey < 50
      GROUP BY 1, 2
    ), incident AS (
      SELECT src AS id, rating FROM ratings
      UNION ALL
      SELECT dst AS id, rating FROM ratings
    ), degrees AS (
      SELECT id, count(*) AS deg, avg(rating) AS bias
      FROM incident GROUP BY id
    ), users AS (SELECT DISTINCT src AS id FROM ratings)
    SELECT d.id AS id,
           (u.id IS NOT NULL) AS is_user,
           round(d.bias, 4) AS bias,
           round(1.0 / sqrt(d.deg), 4) AS norm
    FROM degrees d LEFT JOIN users u ON d.id = u.id
    """,
)
def graph_svdpp_t0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVD++ t0 vertex state (SVDPlusPlus.scala:106-114 via
    graph.svdpp.svdpp_t0) on the same bounded rating graph as
    graph_svdpp_train: bias = incident rating mean, norm = 1/sqrt(deg),
    is_user flag — the exact relational observables of the otherwise
    solver-order-specific factorization, value-checked against a plain
    SQL twin (closes the last rows-only GraphX row with an oracle)."""
    from spark_monotasks_spark.graph import svdpp_t0

    t = _t(spark, sf_dir)
    ratings = (
        t["lineitem"]
        .filter(F.col("l_suppkey") < 50)
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.lit(1_000_000) + F.col("l_partkey") % 20)
            .cast("long")
            .alias("dst"),
            ((F.col("l_linenumber") % 5) + 1).cast("double").alias("rating"),
        )
        .groupBy("src", "dst")
        .agg(F.avg("rating").alias("rating"))
    )
    return svdpp_t0(ratings, rank=2).select(
        "id",
        "is_user",
        F.round("bias", 4).alias("bias"),
        F.round("norm", 4).alias("norm"),
    )


@register("rdd_take_sample")  # seeded xxhash64 draw engine-private — rows-only
def rdd_take_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """takeSample (RDD.scala:664) via the distributed exact-size facade
    (operators.rdd_bridge.take_sample): seeded-hash top-k without
    replacement stays a TakeOrderedAndProject plan.  The sampled SET is
    hash-engine-private (rows-only); the exact-size/no-duplicate/subset
    contract — asserted here as count aggregates and property-tested in
    tests/test_cc_star_properties.py — is the stable observable."""
    from spark_monotasks_spark.operators import rdd_bridge

    t = _t(spark, sf_dir)
    s = rdd_bridge.take_sample(
        t["orders"].select("o_orderkey"), num=100, seed=7
    )
    return s.agg(
        F.count("*").alias("n"),
        F.count_distinct("o_orderkey").alias("n_distinct"),
        (F.min("o_orderkey") >= 0).alias("in_domain"),
    )


@register(
    "ohlc_hourly_events",
    oracle="""
    WITH b AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             ts, value AS v
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts, v) AS ra,
             row_number() OVER (PARTITION BY event_type, bucket
                                ORDER BY ts DESC, v DESC) AS rd
      FROM b
    )
    SELECT event_type, bucket,
           max(CASE WHEN ra = 1 THEN v END) AS open,
           max(v) AS high,
           min(v) AS low,
           max(CASE WHEN rd = 1 THEN v END) AS close,
           count(*) AS n
    FROM r GROUP BY event_type, bucket
    """,
)
def ohlc_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (operators.timeseries.ohlc_resample): hourly
    open/high/low/close/count of the event value per event type —
    open/close are rank-selected EXACT data values ((ts, value) order,
    deterministic under timestamp ties), so no rounding is needed
    anywhere and the oracle must match bit-for-bit.  One Exchange on
    (event_type, bucket) serves both rank windows and the aggregate."""
    from spark_monotasks_spark.operators.timeseries import ohlc_resample

    e = tables.load_tables(spark, sf_dir)["events"]
    return ohlc_resample(e, "ts", "value", ["event_type"], "1 hour")


#: PPR seed customers for graph_personalized_pagerank — fixed literals
#: present at every test SF.
_PPR_SOURCES = (1, 7)


def _ppr_oracle_sql(sources=_PPR_SOURCES, iters: int = 5) -> str:
    """graph_personalized_pagerank oracle: the same shipment graph and
    iteration algebra as graph_pagerank's CTE chain, with reset mass
    confined to the literal source set (rendered, not hand-unrolled)."""
    src_list = ", ".join(str(s) for s in sources)
    out = [
        f"""
    WITH edges0 AS (
      SELECT DISTINCT l_suppkey + 1000000000000 AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), verts AS (
      SELECT src AS id FROM edges0 UNION SELECT dst FROM edges0
    ), outdeg AS (
      SELECT src, count(*) AS d FROM edges0 GROUP BY src
    ), edges AS (
      SELECT e.src, e.dst, 1.0 / d AS w FROM edges0 e JOIN outdeg USING (src)
    ), r0 AS (
      SELECT id, CASE WHEN id IN ({src_list}) THEN 1.0 ELSE 0.0 END AS rank
      FROM verts
    )"""
    ]
    for k in range(1, iters + 1):
        out.append(
            f""", r{k} AS (
      SELECT v.id,
             CASE WHEN v.id IN ({src_list}) THEN 0.15 ELSE 0.0 END
             + 0.85 * coalesce(m.s, 0.0) AS rank
      FROM verts v
      LEFT JOIN (SELECT e.dst AS id, sum(r{k - 1}.rank * e.w) AS s
                 FROM edges e JOIN r{k - 1} ON r{k - 1}.id = e.src
                 GROUP BY e.dst) m
        ON m.id = v.id
    )"""
        )
    return "".join(out) + f"""
    SELECT id, round(rank, 6) AS rank FROM r{iters}
    """


@register("graph_personalized_pagerank", oracle=_ppr_oracle_sql())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graphx lib/PageRank.scala
    runWithOptions(srcId) — the seed-expansion/recommendation variant):
    the surfer teleports only to customers {1, 7}, so rank measures
    proximity to those seeds over the supplier→customer shipment
    graph.  Same iterative join/groupBy supersteps and barrier policy
    as graph_pagerank; fully oracle-backed — 5 iterations unroll to a
    rendered CTE chain with the reset mass confined to the literal
    seed set, round(6) absorbing fp sum-order ulps."""
    from spark_monotasks_spark.graph.algorithms import personalized_pagerank

    t = _t(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .select(
            (F.col("l_suppkey") + 1_000_000_000_000).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    return personalized_pagerank(edges, list(_PPR_SOURCES), num_iters=5)
