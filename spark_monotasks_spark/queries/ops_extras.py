"""Operational-analytics catalog additions: sweep-line session
concurrency, join-cardinality planner statistics, inter-labeler
agreement (Cohen's kappa), and exact winsorization — all oracle-backed
over the standard tables.

Exactness playbook (the r6/r7/r8 convention): everything stays in
int64 until at most one final IEEE division (kappa), money is scaled
to cents before any arithmetic (winsorize), percentile ranks use
integer ceil formulas rather than float quantile definitions, and
every window/top-k carries a unique tiebreaker.

Reference anchors (spark-monotasks): the reference computes joins and
aggregates (ShuffledHashJoin.scala, Aggregate.scala) but has no
planner-statistics, concurrency-sweep, agreement, or robust-clipping
operators — beyond-reference additions, marked per SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_monotasks_spark.queries.registry import register
from spark_monotasks_spark.tables import load_tables


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# sweep-line concurrency
# ---------------------------------------------------------------------------

_SESSION_SPAN_CTES = """
    marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ), spans AS (
      SELECT user_id, session_no, min(ts) AS st, max(ts) AS en
      FROM sess GROUP BY user_id, session_no
    )"""


@register(
    "session_concurrency_peak",
    oracle=f"""
    WITH {_SESSION_SPAN_CTES},
    ev AS (
      SELECT st AS ts, -1 AS neg_delta, CAST(count(*) AS BIGINT) AS cnt
      FROM spans GROUP BY st
      UNION ALL
      SELECT en AS ts, 1 AS neg_delta, CAST(count(*) AS BIGINT) AS cnt
      FROM spans GROUP BY en
    ),
    run AS (
      SELECT ts, neg_delta,
             sum((CASE WHEN neg_delta = -1 THEN 1 ELSE -1 END) * cnt)
               OVER (ORDER BY ts, neg_delta ROWS UNBOUNDED PRECEDING) AS active
      FROM ev
    ),
    d AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ts, active
          FROM run),
    pk AS (SELECT day, max(active) AS mx FROM d GROUP BY day)
    SELECT pk.day, CAST(pk.mx AS BIGINT) AS peak_active, min(d.ts) AS peak_ts
    FROM pk JOIN d ON d.day = pk.day AND d.active = pk.mx
    GROUP BY pk.day, pk.mx
    """,
)
def session_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep line: sessionize (the
    events_sessionize 30-min-gap semantics), melt each session span
    into a +1 start / -1 end event (ends INCLUSIVE — starts sort before
    ends at the same instant via neg_delta), and run the GLOBAL prefix
    sum with operators.indexing.running_total — the two-pass
    distributed shape, never a one-task un-partitioned window.  The
    sweep runs over DISTINCT (ts, side) rows (collapsed with counts),
    so the ordered pass sees at most 2x the distinct-timestamp count
    regardless of session volume — the capacity-planning query ('how
    many simultaneous users must we serve?') at any scale.  Peak per
    day reports the earliest instant achieving it (deterministic)."""
    from spark_monotasks_spark.operators.indexing import running_total

    t = _t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    sess = t["events"].select(
        "user_id",
        "ts",
        F.sum(F.when(gap.isNull() | (gap > 1800 * 10**6), 1).otherwise(0))
        .over(w)
        .alias("session_no"),
    )
    spans = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    # r8: melt each span to its two endpoint rows with ONE explode and
    # group once on (ts, neg_delta) — the start/end pair of groupBys
    # consumed `spans` twice, which re-executed the sessionize window
    # stage per consumer (the exchange below it is reused, the window
    # compute is not; measured 2x ~1.2s single-task window stages).
    # Identical rows: a ts that is both a start and an end still groups
    # apart on neg_delta.
    endpoints = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("st").alias("ts"), F.lit(-1).alias("neg_delta")
                ),
                F.struct(
                    F.col("en").alias("ts"), F.lit(1).alias("neg_delta")
                ),
            )
        ).alias("e")
    ).select("e.ts", "e.neg_delta")
    ev = (
        endpoints.groupBy("ts", "neg_delta")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "ts",
            "neg_delta",
            (
                F.when(F.col("neg_delta") == -1, F.col("cnt")).otherwise(
                    -F.col("cnt")
                )
            ).alias("chg"),
        )
    )
    run = running_total(ev, "chg", ["ts", "neg_delta"], "active")
    d = run.select(F.date_trunc("day", "ts").alias("day"), "ts", "active")
    # per-day max via a DAY-partitioned window, then filter + min(ts):
    # the r7 form computed pk = groupBy(day).max and self-joined d
    # against it, which consumed the whole prefix-sum chain TWICE
    # (running_total's checkpoint pins the layout, not the downstream
    # offsets join + _pid window) and paid an extra aggregate + join.
    # One exchange on day now serves the window AND the final groupBy
    # (same partitioning).  Identical result: max per day, earliest
    # instant achieving it.
    wday = Window.partitionBy("day")
    return (
        d.withColumn("mx", F.max("active").over(wday))
        .filter(F.col("active") == F.col("mx"))
        .groupBy("day", "mx")
        .agg(F.min("ts").alias("peak_ts"))
        .select("day", F.col("mx").alias("peak_active"), "peak_ts")
    )


# ---------------------------------------------------------------------------
# planner statistics
# ---------------------------------------------------------------------------

_JOIN_RELS = [
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier-lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
]


def _join_size_oracle() -> str:
    parts = []
    for name, lt, lk, rt, rk in _JOIN_RELS:
        parts.append(f"""
    SELECT '{name}' AS relation,
           CAST(count(*) AS BIGINT) AS n_join_keys,
           CAST(sum(d1 * d2) AS BIGINT) AS est_join_rows,
           CAST(max(d1 * d2) AS BIGINT) AS max_key_rows,
           CAST(max(d1 * d2) * count(*) * 1000 // sum(d1 * d2) AS BIGINT)
             AS skew_x1000
    FROM (SELECT {lk} AS k, CAST(count(*) AS BIGINT) AS d1 FROM {lt} GROUP BY 1) a
    JOIN (SELECT {rk} AS k, CAST(count(*) AS BIGINT) AS d2 FROM {rt} GROUP BY 1) b
    USING (k)""")
    return " UNION ALL ".join(parts)


@register("join_size_stats", oracle=_join_size_oracle())
def join_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality planner statistics, computed WITHOUT executing
    any join on payload rows: for each FK relationship, per-key degree
    frames (key-projected groupBy counts — the narrow scans a CBO's
    ANALYZE pass runs) meet on the key and Σ d1·d2 is the EXACT output
    size the join would produce; max d1·d2 and its multiple of the
    mean (skew_x1000, integer-div exact) tell the planner whether to
    salt.  This is the statistic behind join reordering and AQE's
    skew-join trigger — here exposed as a first-class audit query.
    Scale: each side ships (key, count) only; the degree join's width
    is 2 longs regardless of table width."""
    t = _t(spark, sf_dir)
    outs = []
    for name, lt, lk, rt, rk in _JOIN_RELS:
        d1 = t[lt].groupBy(F.col(lk).alias("k")).agg(F.count(F.lit(1)).alias("d1"))
        d2 = t[rt].groupBy(F.col(rk).alias("k")).agg(F.count(F.lit(1)).alias("d2"))
        j = d1.join(d2, on="k")
        outs.append(
            j.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_join_keys"),
                F.sum(F.col("d1") * F.col("d2")).alias("est_join_rows"),
                F.max(F.col("d1") * F.col("d2")).alias("max_key_rows"),
            ).withColumn(
                "skew_x1000",
                F.expr("max_key_rows * n_join_keys * 1000 DIV est_join_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# agreement statistics
# ---------------------------------------------------------------------------

@register(
    "cohens_kappa_labelers",
    oracle="""
    WITH lab AS (
      SELECT (n_chars >= 400) AS a_keep,
             (length(text) - length(replace(text, ' ', '')) >= 60) AS b_keep
      FROM documents
    ), cm AS (
      SELECT
        CAST(sum(CASE WHEN a_keep AND b_keep THEN 1 ELSE 0 END) AS BIGINT) AS both_keep,
        CAST(sum(CASE WHEN a_keep AND NOT b_keep THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
        CAST(sum(CASE WHEN NOT a_keep AND b_keep THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
        CAST(sum(CASE WHEN NOT a_keep AND NOT b_keep THEN 1 ELSE 0 END) AS BIGINT) AS neither,
        CAST(count(*) AS BIGINT) AS n
      FROM lab
    )
    SELECT both_keep, only_a, only_b, neither, n,
           round(
             (n * (both_keep + neither)
              - ((both_keep + only_a) * (both_keep + only_b)
                 + (only_b + neither) * (only_a + neither)))
             / CAST(n * n
              - ((both_keep + only_a) * (both_keep + only_b)
                 + (only_b + neither) * (only_a + neither)) AS DOUBLE), 6)
             AS kappa
    FROM cm
    """,
)
def cohens_kappa_labelers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic keep/drop labelers (a
    length rule vs a token-count rule) — the chance-corrected
    agreement statistic every labeling/filtering pipeline reports
    before trusting a cheap heuristic as a stand-in for an expensive
    one.  One scan builds the 2x2 confusion matrix map-side; kappa =
    (p_o - p_e)/(1 - p_e) is rearranged to a SINGLE division of exact
    int64 numerator/denominator (n(a+d) - E over n² - E), so the value
    is bit-identical cross-engine before the final rounding.  At
    100 TB this is one AggregateExec over booleans — no shuffle beyond
    the 1-row final merge."""
    t = _t(spark, sf_dir)
    a = F.col("n_chars") >= 400
    b = (F.length("text") - F.length(F.regexp_replace("text", " ", ""))) >= 60
    cm = t["documents"].agg(
        F.sum(F.when(a & b, 1).otherwise(0)).alias("both_keep"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).alias("only_a"),
        F.sum(F.when(~a & b, 1).otherwise(0)).alias("only_b"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).alias("neither"),
        F.count(F.lit(1)).alias("n"),
    )
    e = (F.col("both_keep") + F.col("only_a")) * (
        F.col("both_keep") + F.col("only_b")
    ) + (F.col("only_b") + F.col("neither")) * (F.col("only_a") + F.col("neither"))
    return cm.select(
        "both_keep",
        "only_a",
        "only_b",
        "neither",
        "n",
        F.round(
            (F.col("n") * (F.col("both_keep") + F.col("neither")) - e)
            / (F.col("n") * F.col("n") - e).cast("double"),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# robust clipping
# ---------------------------------------------------------------------------

@register(
    "winsorize_totalprice",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment AS segment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), ranked AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY segment) AS n
      FROM base
    ), bounds AS (
      SELECT segment,
             max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo_cents,
             max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi_cents,
             CAST(max(n) AS BIGINT) AS n_orders
      FROM ranked GROUP BY segment
    )
    SELECT b.segment, n_orders, lo_cents, hi_cents,
           CAST(sum(CASE WHEN cents < lo_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(sum(CASE WHEN cents > hi_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           CAST(sum(least(greatest(cents, lo_cents), hi_cents)) AS BIGINT)
             AS sum_clipped_cents
    FROM base JOIN bounds b USING (segment)
    GROUP BY b.segment, n_orders, lo_cents, hi_cents
    """,
)
def winsorize_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (robust clipping) of order value at the exact
    per-segment p05/p95 — the standard outlier treatment before any
    mean-based feature enters a model.  Percentiles use the DISCRETE
    integer-rank definition (rank ceil(p·n) with a unique orderkey
    tiebreak — the ceil is the int formula (n+19)//20, NEVER a float
    quantile whose interpolation differs across engines), and money is
    scaled to cents first, so every output column is exact int64.
    Plan: one join, one per-segment rank window (bounded-cardinality
    partition key), a broadcast of the 5-row bounds frame, one final
    agg.  Beyond ~10^8 rows per segment the rank window would swap for
    the operators.indexing prefix-sum selection (the
    exact_quantiles_prefix shape) — same algebra, no giant partition."""
    t = _t(spark, sf_dir)
    base = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
    )
    w = Window.partitionBy("segment").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("segment")
    ranked = base.select(
        "segment",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("segment").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 19) DIV 20"), F.col("cents"))
        ).alias("lo_cents"),
        F.max(
            F.when(F.col("rn") == F.expr("(19 * n + 19) DIV 20"), F.col("cents"))
        ).alias("hi_cents"),
        F.max("n").alias("n_orders"),
    )
    return (
        base.join(F.broadcast(bounds), on="segment")
        .groupBy("segment", "n_orders", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), 1).otherwise(0)).alias(
                "n_clip_lo"
            ),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), 1).otherwise(0)).alias(
                "n_clip_hi"
            ),
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents"))
            ).alias("sum_clipped_cents"),
        )
        .select(
            "segment",
            "n_orders",
            "lo_cents",
            "hi_cents",
            "n_clip_lo",
            "n_clip_hi",
            "sum_clipped_cents",
        )
    )


@register(
    "event_value_percentiles",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS v,
             event_id
      FROM events
    ), ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM base
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50_micros,
           max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95_micros,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS p99_micros
    FROM ranked GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p95/p99 — the SLA/latency report every ops
    dashboard serves, with the DISCRETE integer ceil-rank definition
    (rank ceil(p·n), unique event_id tiebreak) instead of a float
    quantile whose interpolation differs across engines, and values
    scaled to integer micros first — every output column exact int64.
    Same shape as winsorize_totalprice: one bounded-cardinality-key
    rank exchange, one grouped conditional aggregate; beyond ~1e8
    rows per type the documented swap is the exact_quantiles_prefix
    selection on the distributed prefix sum."""
    t = _t(spark, sf_dir)
    base = t["events"].select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("v"))
        ).alias("p50_micros"),
        F.max(
            F.when(F.col("rn") == F.expr("(95 * n + 99) DIV 100"), F.col("v"))
        ).alias("p95_micros"),
        F.max(
            F.when(F.col("rn") == F.expr("(99 * n + 99) DIV 100"), F.col("v"))
        ).alias("p99_micros"),
    )


def _kcore_oracle_sql(k: int = 30, unroll: int = 6) -> str:
    """graph_kcore oracle: fixed-unroll peeling (idempotent at fixpoint
    — the Spark side RAISES if the graph needs more rounds than the
    unroll, so a silent divergence is impossible)."""
    base = """
    e0 AS (
      SELECT DISTINCT src, dst FROM (
        SELECT l_suppkey + 1000000000000 AS src, o_custkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        UNION
        SELECT o_custkey AS src, l_suppkey + 1000000000000 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      )
    )"""
    stages = [base]
    for r in range(1, unroll + 1):
        p = f"e{r - 1}"
        stages.append(f"""
    e{r} AS (
      SELECT e.src, e.dst FROM {p} e
      JOIN (SELECT src FROM {p} GROUP BY src HAVING count(*) >= {k}) a
        ON e.src = a.src
      JOIN (SELECT src FROM {p} GROUP BY src HAVING count(*) >= {k}) b
        ON e.dst = b.src
    )""")
    return (
        "WITH " + ",".join(stages)
        + f"""
    SELECT src AS id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{unroll} GROUP BY src
    """
    )


@register("graph_kcore", oracle=_kcore_oracle_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-core of the supplier↔customer shipment graph
    (graph.algorithms.k_core, Seidman 1983): iterative peeling drops
    every vertex with fewer than 30 distinct trading partners until a
    fixpoint — the dense-trading-core screen (~36% of vertices peel
    away at sf0.01, over two rounds).  The ONE data-dependent-rounds
    algorithm in the catalog that is still fully oracle-backed: the
    oracle unrolls 6 peels (idempotent once converged) and the Spark
    side raises beyond 12 rounds instead of returning a non-fixpoint,
    so the equality cannot silently break on deeper graphs.  Per round:
    one degree aggregate + two semi-joins on (src)/(dst) keys with a
    barrier lineage cut — edge payloads never widen."""
    from spark_monotasks_spark.graph.algorithms import k_core

    t = _t(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("l_suppkey") + 1_000_000_000_000).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    # sym_dedup=False: src ids are offset into a disjoint domain
    # (+1e12) and the edge list is .distinct()ed above, so no reverse
    # duplicates can exist — the symmetrize-dedup shuffle is skipped
    # (k_core docstring precondition; equality pinned in test_graph).
    # small_graph_threshold=0: the shipment graph is corpus-sized by
    # construction (~1.2M symmetrized rows at sf0.1, growing with the
    # corpus), so k_core's bounded small-graph probe could never fire
    # here — opting out skips its limit-collect job (r8).
    return k_core(edges, k=30, sym_dedup=False, small_graph_threshold=0)
