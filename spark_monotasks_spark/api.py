"""SQLContext-like facade mirroring the reference's public entry points.

Reference: sql/core/src/main/scala/org/apache/spark/sql/SQLContext.scala —
``sql`` (:917), ``table`` (:831), ``cacheTable``/``uncacheTable`` (:215),
``registerDataFrameAsTable`` (:797), ``createDataFrame`` (:381),
``load``/``jsonFile``/``parquetFile`` (:542-760), plus
UDFRegistration.scala for ``registerFunction``.

Everything delegates to the modern SparkSession; the value of the facade
is a line-by-line checkable parity surface, not new machinery.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from spark_monotasks_spark import tables
from spark_monotasks_spark.functions.registry import resolve_function


class SQLContext:
    """Thin parity facade over SparkSession (reference SQLContext.scala:69)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # --- query entry points -------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """SQLContext.scala:917 — parse/analyze/optimize via Catalyst."""
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        """SQLContext.scala:831."""
        return self.spark.table(name)

    def tables(self) -> DataFrame:
        """ShowTablesCommand (execution/commands.scala:223)."""
        return self.spark.sql("SHOW TABLES")

    def table_names(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    # --- DataFrame creation -------------------------------------------------
    def create_data_frame(self, data: Iterable[Any], schema: Any = None) -> DataFrame:
        """SQLContext.scala:381 (createDataFrame) — declared or inferred schema."""
        return self.spark.createDataFrame(data, schema=schema)

    def range(self, start: int, end: int | None = None, step: int = 1) -> DataFrame:
        return self.spark.range(start, end, step)

    def one_row_relation(self) -> DataFrame:
        """`SELECT 1` support — OneRowRelation (basicOperators.scala:283)."""
        return self.spark.range(1).select(F.lit(1).alias("one"))

    def local_table(self, rows: list[Row]) -> DataFrame:
        """LocalTableScan (execution/LocalTableScan.scala:29)."""
        return self.spark.createDataFrame(rows)

    # --- catalog ------------------------------------------------------------
    def register_data_frame_as_table(self, df: DataFrame, name: str) -> None:
        """SQLContext.scala:797 — temp view registration.

        The ten catalog table names (``tables.TABLE_NAMES``) belong to
        the catalog: a view registered here under one of them lasts only
        until the next catalog query reads that table, which registers
        the catalog's view again.  The catalog's view record for
        ``name`` is invalidated so that re-registration happens."""
        df.createOrReplaceTempView(name)
        tables.invalidate_view_record(self.spark, name)

    def drop_temp_table(self, name: str) -> None:
        """Drop a temp view.  Dropping one of the ten catalog table
        names (``tables.TABLE_NAMES``) lasts only until the next catalog
        query reads that table, which registers its view again."""
        self.spark.catalog.dropTempView(name)
        tables.invalidate_view_record(self.spark, name)

    def cache_table(self, name: str) -> None:
        """SQLContext.cacheTable (:215) → columnar InMemoryRelation; modern
        Spark's ``spark.catalog.cacheTable`` is the same compressed
        columnar cache with batch-stat pruning (SURVEY §1.3)."""
        self.spark.catalog.cacheTable(name)

    def uncache_table(self, name: str) -> None:
        self.spark.catalog.uncacheTable(name)

    def is_cached(self, name: str) -> bool:
        return self.spark.catalog.isCached(name)

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()

    # --- functions ----------------------------------------------------------
    def register_function(
        self, name: str, f: Callable[..., Any], return_type: Any = None
    ) -> None:
        """UDFRegistration parity (reference UDFRegistration.scala; pyspark
        functions.py:144).  Row-at-a-time Python UDF — the slow path; prefer
        ``F.pandas_udf`` or a built-in from :mod:`functions.registry`."""
        self.spark.udf.register(name, f, return_type)

    def function(self, name: str) -> Callable[..., Any]:
        """Resolve a (Hive-builtin or native) function name to pyspark F.*."""
        return resolve_function(name)

    # --- conf / commands ----------------------------------------------------
    def set_conf(self, key: str, value: str) -> None:
        """SetCommand (execution/commands.scala:71)."""
        self.spark.conf.set(key, value)

    def get_conf(self, key: str, default: str | None = None) -> str | None:
        return self.spark.conf.get(key, default)

    # --- io shortcuts (reference SQLContext.scala:542-760) -------------------
    def parquet_file(self, *paths: str) -> DataFrame:
        return self.spark.read.parquet(*paths)

    def json_file(self, path: str, schema: Any = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
