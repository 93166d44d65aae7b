"""SQL-dialect-path catalog entries (SURVEY §3.1 / §7.2.3).

The reference's primary entry point is a SQL string —
``sqlContext.sql(...)`` (SQLContext.scala:917) parsed by
SqlParser.scala / HiveQl.scala.  The DSL entries in relational.py prove
operator semantics; these prove the *parser-facing* constructs the
golden corpus leans on: nested FROM subqueries, LATERAL VIEW explode,
DISTRIBUTE BY / SORT BY, HAVING over aliases, UNION inside subqueries,
and CACHE TABLE round-trips — all through the SQLContext facade so the
reference's call pattern works verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_monotasks_spark.api import SQLContext
from spark_monotasks_spark.queries.registry import register
from spark_monotasks_spark.tables import load_tables


def _ctx(spark: SparkSession, sf_dir: str, *tables: str) -> SQLContext:
    """Register ONLY the views this query reads (lazy Tables mapping) —
    one unreadable unrelated file can't fail the query, and at scale no
    scan is planned for data the SQL never touches."""
    load_tables(spark, sf_dir).register(*tables)
    return SQLContext(spark)


@register(
    "sql_select_where",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem WHERE l_extendedprice > 95000.0
    """,
)
def sql_select_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL twin of scan_filter_project (SURVEY §7.1 requires both
    paths end-to-end): same Catalyst plan from the parser as from the
    DSL."""
    return _ctx(spark, sf_dir, "lineitem").sql(
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem WHERE l_extendedprice > 95000.0
        """
    )


@register(
    "sql_from_subquery",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(big_price), 2) AS sum_big
    FROM (SELECT o_orderstatus, o_totalprice AS big_price
          FROM orders WHERE o_totalprice > 200000.0)
    GROUP BY o_orderstatus
    """,
)
def sql_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested subquery in FROM (SqlParser relation grammar; golden
    corpus staple)."""
    return _ctx(spark, sf_dir, "orders").sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(sum(big_price), 2) AS sum_big
        FROM (SELECT o_orderstatus, o_totalprice AS big_price
              FROM orders WHERE o_totalprice > 200000.0)
        GROUP BY o_orderstatus
        """
    )


@register(
    "sql_lateral_view",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
            AS token FROM documents)
    GROUP BY token HAVING count(*) >= 100
    """,
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode (HiveQl.scala:799, Generate L :50) — the
    HiveQL UDTF form of the tokenize query."""
    return _ctx(spark, sf_dir, "documents").sql(
        """
        SELECT token, count(*) AS n
        FROM documents
        LATERAL VIEW explode(split(text, ' ')) t AS token
        WHERE token != ''
        GROUP BY token HAVING count(*) >= 100
        """
    )


@register(
    "sql_distribute_sort_by",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM customer WHERE c_acctbal >= 0
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY (HiveQl.scala:611-613 → Repartition +
    SortPartitions, SparkStrategies.scala:268,:298): hash-partition by
    nation, partition-local sort.  The row *set* is deterministic (the
    oracle compare is order-insensitive); the partition-local ordering
    is the non-SQL-observable part."""
    return _ctx(spark, sf_dir, "customer").sql(
        """
        SELECT c_nationkey, c_custkey, c_acctbal
        FROM customer WHERE c_acctbal >= 0
        DISTRIBUTE BY c_nationkey SORT BY c_acctbal DESC
        """
    )


@register(
    "sql_union_subquery",
    oracle="""
    SELECT status, count(*) AS n FROM (
      SELECT o_orderstatus AS status FROM orders WHERE o_totalprice > 300000.0
      UNION ALL
      SELECT l_linestatus AS status FROM lineitem WHERE l_quantity >= 49
    ) GROUP BY status
    """,
)
def sql_union_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL inside a FROM subquery (SqlParser.scala:124 — bag
    union feeding an aggregate)."""
    return _ctx(spark, sf_dir, "orders", "lineitem").sql(
        """
        SELECT status, count(*) AS n FROM (
          SELECT o_orderstatus AS status FROM orders WHERE o_totalprice > 300000.0
          UNION ALL
          SELECT l_linestatus AS status FROM lineitem WHERE l_quantity >= 49
        ) GROUP BY status
        """
    )


@register("sql_tablesample")  # sampling is seed/engine-specific → rows-only
def sql_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE (HiveQl.scala:847 percent / :863 bucket sampling) —
    Spark SQL parses both; cardinality bounds are asserted in
    tests/test_operators.py's sampling checks, values are engine-seeded."""
    return _ctx(spark, sf_dir, "lineitem").sql(
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        """
    )


@register(
    "sql_cached_table",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def sql_cached_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE round-trip (SQLContext.cacheTable :215 →
    InMemoryRelation; CacheManager.scala): the aggregate must read the
    compressed columnar cache, and the result must be identical to the
    uncached scan.  The query leaves the table cached; re-registration
    in a later call is a no-op swap (withCachedData, SQLContext.scala:1069)."""
    ctx = _ctx(spark, sf_dir, "nation")
    ctx.cache_table("nation")
    return ctx.sql(
        """
        SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
        FROM nation GROUP BY n_regionkey
        """
    )


@register(
    "sql_insert_overwrite_partitioned",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_insert_overwrite_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive INSERT path end-to-end (InsertIntoHiveTable.scala,
    hiveWriterContainers.scala dynamic-partition writer): write orders
    into a warehouse-backed table partitioned by o_orderstatus via SQL
    ``INSERT OVERWRITE ... PARTITION``, then read it BACK from the
    catalog and aggregate.  The oracle aggregates the source parquet
    directly, so a value match proves no row was lost or duplicated
    through the partitioned write+read roundtrip.  The table name is
    keyed to sf_dir so different scale factors never share state."""
    import hashlib

    from spark_monotasks_spark.sources import io as sio
    from spark_monotasks_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"orders_by_status_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an ephemeral (in-memory) session catalog forgets managed tables on
    # restart but their warehouse directories persist; CREATE then fails
    # with LOCATION_ALREADY_EXISTS — reap the orphan location first
    if not spark.catalog.tableExists(table):
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    # r9: a pre-partitioned sink (repartition on o_orderstatus, the
    # bucketed_smb_join precedent) was measured and REJECTED — the
    # 3-value key costs an exchange locally (+15% in a 4-round
    # load-matched A/B: 1.37 -> 1.67s median) and at scale would hash
    # the whole table into <=3 reducer partitions, a straggler by
    # construction.  The dynamic-partition writer already parallelizes
    # across whatever width the source scan has.
    sio.insert_overwrite_partitioned(
        spark,
        t["orders"].select("o_orderkey", "o_totalprice", "o_orderstatus"),
        table,
        ["o_orderstatus"],
    )
    from pyspark.sql import functions as F

    return (
        spark.table(table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "python_datasource_scan",
    oracle="""
    SELECT i AS event_id,
           ['view','click','purchase','error'][(i % 4) + 1] AS event_type,
           round(((i * 37) % 997) / 10.0, 1) AS value
    FROM UNNEST(range(0, 5000)) AS t(i)
    WHERE i >= 100 AND i < 2100
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External data-source API (SURVEY §2.1 row 9 — the reference's
    sql/sources RelationProvider / PrunedFilteredScan trait family,
    interfaces.scala) realized through the modern Python DataSource API
    (sources/custom.SyntheticEventsDataSource): declared schema,
    partitioned executor-side reads, and event_id range-filter pushdown
    into the reader.  The source is a closed-form generator, so the
    oracle re-derives the exact relation from range() — scan, schema,
    and pushdown semantics all value-audited."""
    from spark_monotasks_spark.sources import custom

    custom.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", 5000)
        .option("numPartitions", 8)
        .load()
    )
    return df.filter((F.col("event_id") >= 100) & (F.col("event_id") < 2100))


@register(
    "orc_partitioned_roundtrip",
    oracle="""
    SELECT l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2)
             AS sum_disc_price,
           count(*) AS n
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def orc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source + sink through a real write→read roundtrip (sources/
    io.read_orc/write_orc — the reference's second Hive-module columnar
    format beside parquet): lineitem is projected and written as ORC
    partitioned by l_returnflag (hive-style `k=v` dirs), read back
    filtered to one flag — the scan plans PartitionFilters and touches
    only that directory — and aggregated.  The oracle computes the same
    aggregate from the parquet original, so a value match proves the
    ORC write→read path preserves doubles bit-exactly and strings
    verbatim.  The staging directory is per-run (mkdtemp — two
    concurrent harnesses on the same dataset cannot race) and removed
    in a finally block; the tiny aggregate is localCheckpoint-pinned
    first so the returned DataFrame outlives the deleted files."""
    import shutil
    import tempfile

    from spark_monotasks_spark.sources import io as src_io

    t = load_tables(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_orc_")
    li = t["lineitem"].select(
        "l_quantity", "l_extendedprice", "l_discount",
        "l_linestatus", "l_returnflag",
    )
    try:
        # r8: spread before the sink — the narrow local scan gave the
        # ORC encode 3 tasks (1.5s of the entry's 2.0s stage time);
        # round-robin width parallelizes the encode and is a no-op on
        # the wide scans a production-sized write already has.
        from spark_monotasks_spark.partitioning import spread_to_cluster

        src_io.write_orc(
            spread_to_cluster(li, 8), base, mode="overwrite",
            partition_by=["l_returnflag"],
        )
        # explicit schema: a zero-row corpus writes no ORC data files,
        # and unlike parquet there is then nothing to infer from
        back = src_io.read_orc(spark, base, schema=li.schema).filter(
            F.col("l_returnflag") == "R"
        )
        disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        agg = back.groupBy("l_linestatus").agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.count("*").alias("n"),
        )
        # eager pin (≤|distinct linestatus| rows in executor storage):
        # the partitioned scan + pruning runs HERE, against live files
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "schema_evolution_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_priced,
           round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_price
    FROM (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END
               AS o_totalprice
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet files (newParquet.scala's schema
    merging — mergeSchema=true): an old file written WITHOUT
    o_totalprice and a new file WITH it are read as one relation; the
    missing column back-fills as NULL for old rows.  The oracle states
    the expected union (price present only for even keys), so a value
    match proves merge + null-backfill semantics through a real
    write→read roundtrip.  Paths are keyed to sf_dir and overwritten
    each run — no cross-run state."""
    import hashlib
    import os

    t = load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/spark_graft_schema_evo_{tag}"
    o = t["orders"]
    old = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus"
    )
    new = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old.write.mode("overwrite").parquet(os.path.join(base, "v=1"))
    new.write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v=1"), os.path.join(base, "v=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_priced"),
        F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 2).alias(
            "total_price"
        ),
    )


@register(
    "sql_lateral_join_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           round(o.o_totalprice, 2) AS o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    WHERE c.c_custkey < 200
    """,
)
def sql_lateral_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (the SQL-standard sibling of
    LATERAL VIEW — per-customer top-2 orders via an ORDER BY + LIMIT
    subquery referencing the outer row).  Catalyst decorrelates this
    into a window-rank under the hood; DuckDB executes the LATERAL
    directly — same rows either way."""
    return _ctx(spark, sf_dir, "customer", "orders").sql(
        """
        SELECT c.c_custkey, o.o_orderkey,
               round(o.o_totalprice, 2) AS o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        WHERE c.c_custkey < 200
        """
    )


@register(
    "try_error_safe_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE round(o_totalprice / (o_orderkey % 7), 4) END
             AS safe_div,
           TRY_CAST(o_orderpriority AS INT) AS bad_int,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS good_int
    FROM orders WHERE o_orderkey < 2000
    """,
)
def try_error_safe_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family (try_divide / try_cast): malformed
    input and division by zero produce NULL rather than failing the
    task — at 100 TB of dirty data this is the difference between a
    quarantine column and a dead job.  DuckDB's TRY_CAST + an explicit
    zero-guard reproduce the semantics exactly."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        # divisor ∈ {0..6}: every quotient of a 2-decimal price either
        # terminates within 4 decimals or never terminates, so round(4)
        # can't land on an exact half (…/8 did, and the two engines
        # break half-ties differently)
        F.round(
            F.try_divide("o_totalprice", F.col("o_orderkey") % 7), 4
        ).alias("safe_div"),
        # try_cast (not try_to_number): the format-string form returns
        # NULL for any non-'9' digit too, which is not the NULL-on-
        # malformed semantics this entry pins
        F.col("o_orderpriority").try_cast("int").alias("bad_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("good_int"),
    )


@register(
    "union_by_name_evolution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(coalesce(o_totalprice, -1.0), 2) AS o_totalprice
    FROM orders WHERE o_orderkey < 500
    UNION ALL
    SELECT o_orderkey, o_orderstatus, -1.0
    FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000
    """,
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-evolved frames
    (one side lacks o_totalprice) union by NAME with NULL backfill —
    the DataFrame-side sibling of parquet mergeSchema.  The backfilled
    NULL is coalesced to a sentinel in both dialects for the value
    hash."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    a = o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = (
        o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000))
        .select("o_orderkey", "o_orderstatus")
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.coalesce("o_totalprice", F.lit(-1.0)), 2).alias(
            "o_totalprice"
        ),
    )


@register(
    "sql_recursive_calendar",
    oracle="""
    WITH RECURSIVE months(m) AS (
      SELECT CAST(date_trunc('month', (SELECT min(o_orderdate) FROM orders))
                  AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < CAST(date_trunc('month', (SELECT max(o_orderdate) FROM orders))
                     AS DATE)
    ), per_month AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(months.m AS VARCHAR) AS month,
           coalesce(n, 0) AS n_orders,
           coalesce(revenue, 0.0) AS revenue
    FROM months LEFT JOIN per_month ON months.m = per_month.m
    """,
)
def sql_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4 — the parser-level
    capability the reference era lacked entirely): generate a gap-free
    month spine from min to max order date recursively, then left-join
    per-month order counts — the classic calendar-spine reporting
    pattern where a missing month must appear as an explicit zero row.
    The spine is bounded by the date RANGE (not the table size), so the
    recursion depth is ~tens regardless of corpus scale."""
    return _ctx(spark, sf_dir, "orders").sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT CAST(date_trunc('month',
                      (SELECT min(o_orderdate) FROM orders)) AS DATE)
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < CAST(date_trunc('month',
                         (SELECT max(o_orderdate) FROM orders)) AS DATE)
        ), per_month AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 count(*) AS n, round(sum(o_totalprice), 2) AS revenue
          FROM orders GROUP BY 1
        )
        SELECT CAST(months.m AS STRING) AS month,
               coalesce(n, 0) AS n_orders,
               coalesce(revenue, 0.0) AS revenue
        FROM months LEFT JOIN per_month ON months.m = per_month.m
        """
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS rev
    FROM orders WHERE o_totalprice > 100000.0
    GROUP BY o_orderstatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|>, Spark 4): the same relational pipeline
    written operator-by-operator in reading order — FROM |> WHERE |>
    AGGREGATE … GROUP BY — must plan identically to the nested SELECT
    the oracle runs."""
    return _ctx(spark, sf_dir, "orders").sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000.0
        |> AGGREGATE count(*) AS n, round(sum(o_totalprice), 2) AS rev
           GROUP BY o_orderstatus
        """
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_totalprice > 250000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named :markers bound server-side — the
    injection-safe API surface).  The literals live in the args map,
    never in the SQL text; the oracle inlines the same values."""
    _ctx(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_totalprice > :lim AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lim": 250000.0, "status": "F"},
    )


@register(
    "analyze_table_stats",
    oracle="""
    SELECT 'c_acctbal' AS column_name,
           (SELECT count(*) FROM customer)                          AS row_count,
           (SELECT count(*) - count(c_acctbal) FROM customer)       AS num_nulls,
           (SELECT round(CAST(min(c_acctbal) AS DOUBLE), 2) FROM customer)
             AS min_value,
           (SELECT round(CAST(max(c_acctbal) AS DOUBLE), 2) FROM customer)
             AS max_value
    """,
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE end-to-end (the reference's Hive ANALYZE path —
    HiveQl 'analyze' → Hive table/column statistics; modern CBO feeds
    on the same stats): save customer as a managed table, ANALYZE
    COMPUTE STATISTICS FOR COLUMNS, then read min/max/null-count and
    the table row count BACK from the catalog (DESCRIBE EXTENDED).
    The oracle computes the same stats straight from the data, so a
    match proves the stats the optimizer will plan with are the true
    ones.  distinct_count is excluded (HLL++-approximate by design —
    same reason approx_count_distinct is rows-only)."""
    import hashlib
    import shutil
    from urllib.parse import urlparse

    from spark_monotasks_spark.tables import load_tables

    t = load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"customer_stats_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if not spark.catalog.tableExists(table):
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    t["customer"].select("c_custkey", "c_acctbal", "c_mktsegment").write.saveAsTable(
        table
    )
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS c_acctbal")
    col = (
        spark.sql(f"DESCRIBE EXTENDED {table} c_acctbal")
        .groupBy()
        .pivot("info_name", ["min", "max", "num_nulls"])
        .agg(F.first("info_value"))
    )
    rows = (
        spark.sql(f"DESCRIBE EXTENDED {table}")
        .filter(F.col("col_name") == "Statistics")
        .select(
            F.regexp_extract("data_type", r"(\d+) rows", 1)
            .cast("long")
            .alias("row_count")
        )
    )
    return rows.crossJoin(col).select(
        F.lit("c_acctbal").alias("column_name"),
        "row_count",
        F.col("num_nulls").cast("long").alias("num_nulls"),
        F.round(F.col("min").cast("double"), 2).alias("min_value"),
        F.round(F.col("max").cast("double"), 2).alias("max_value"),
    )


@register(
    "sql_stack_unpivot",
    oracle="""
    SELECT o_orderkey, 'totalprice' AS measure,
           round(CAST(o_totalprice AS DOUBLE), 2) AS value
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure,
           CAST(o_custkey AS DOUBLE) AS value
    FROM orders WHERE o_orderkey <= 500
    """,
)
def sql_stack_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack() UDTF (Hive GenericUDTFStack, reached by name through the
    reference's Hive registry — the UDTF counterpart of the
    `unpivot_melt` relational form): N (label, value) pairs per input
    row, expanded JVM-side with no shuffle.  The oracle is the explicit
    UNION ALL the generator is sugar for."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 500)
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', round(CAST(o_totalprice AS DOUBLE), 2), "
            "'custkey', CAST(o_custkey AS DOUBLE)) AS (measure, value)"
        ),
    )


@register(
    "versioned_time_travel",
    oracle="""
    SELECT 1 AS version, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 2 AS version, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot table (sources/versioned.py): commit orders
    ≤1000 as v1, append (1000, 2000] as v2, then aggregate BOTH
    versions through time-travel reads.  The oracle states each
    snapshot's expected contents from the source parquet, so a match
    proves manifest-resolved reads return exactly the committed data —
    v1 unchanged by the later commit."""
    import tempfile

    from spark_monotasks_spark.sources import versioned as V

    t = load_tables(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="versioned_tt_")
    o = t["orders"].select("o_orderkey", "o_totalprice")
    V.write_version(o.filter(F.col("o_orderkey") <= 1000), path)
    V.write_version(
        o.filter(
            (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)
        ),
        path,
        mode="append",
    )

    def _agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ).select("version", "n_orders", "total_price")

    return _agg(V.read_version(spark, path, 1), 1).unionAll(
        _agg(V.read_version(spark, path, 2), 2)
    )
