"""SparkSession factory with reference-parity + scale-aware configuration.

The reference (Spark 1.3 fork) had pre-ANSI semantics: integer division
coerces to double (HiveTypeCoercion.scala:530), string/number promotion
('1' + 1 works, HiveTypeCoercion.scala:230), silent overflow, lenient
casts (Cast.scala:28).  Modern Spark 4.x defaults ``spark.sql.ansi.enabled``
to true, which breaks all of those — so we pin it off.

Scale posture (for the 100 TB cluster this targets, even though tests run
on a local master):

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  On a real cluster this should be ~2-3x total cores; the
  env var SPARK_GRAFT_CPUS drives local parallelism (default: the CPUs
  this process may run on).
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from spark_monotasks_spark.tables import PARITY_CONFS


def get_spark(
    app_name: str = "spark_monotasks_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    On a cluster, pass ``master=None`` with spark-submit providing the
    master; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- reference-parity semantics (SURVEY §7.4) ---
        .config(map=PARITY_CONFS)
        # --- scale posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource API readers (sources/custom.py) implement
        # pushFilters — the capability is gated off by default
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
