"""Data-layout optimization: Z-order (Morton) keys for multi-column
data skipping.

Sorting / range-partitioning a 100 TB table by ONE column gives perfect
min/max pruning on that column and none on any other; interleaving the
bits of two (or more) quantized columns into a single Morton key makes
files cluster in BOTH dimensions, so parquet zone maps prune on either
predicate (the OPTIMIZE ZORDER pattern).  Pure bit-arithmetic inside
whole-stage codegen — the key costs one projection, and the layout is
realized with the ordinary repartitionByRange + sortWithinPartitions
write path.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    result bit 2i = bit i of ``a``, bit 2i+1 = bit i of ``b``.  Inputs
    must already be quantized into [0, 2^bits) — see
    :func:`quantize`."""
    ca = (F.col(a) if isinstance(a, str) else a).cast("long")
    cb = (F.col(b) if isinstance(b, str) else b).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftrightunsigned(ca, i) % 2, 2 * i)
            + F.shiftleft(F.shiftrightunsigned(cb, i) % 2, 2 * i + 1)
        )
    return key


def quantize(col: Column | str, lo: float, hi: float, bits: int = 16) -> Column:
    """Map a numeric column into [0, 2^bits) by linear scaling with
    clamping — the per-column preparation for :func:`zorder_key`."""
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    n = (1 << bits) - 1
    scaled = ((c - lo) / (hi - lo) * n).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n), scaled))


def zorder_sql(a_expr: str, b_expr: str, bits: int = 16) -> str:
    """The SAME interleave as :func:`zorder_key`, rendered as portable
    SQL arithmetic — lets an external engine (the catalog oracle)
    recompute keys byte-for-byte."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a_expr}) // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b_expr}) // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def compaction_bins(
    files: DataFrame,
    size_col: str = "bytes",
    order_col: str = "path",
    target_bytes: int = 128 * 1024 * 1024,
    bin_col: str = "bin",
) -> DataFrame:
    """Small-file compaction plan (the OPTIMIZE/bin-packing step a
    table maintenance job runs): walk the file manifest in
    ``order_col`` order and cut contiguous bins of ~``target_bytes``
    — file i goes to bin ``(cum_before_i) div target``.  Coverage
    invariant (property-tested): every bin that is not the highest
    closes at cumulative size >= (bin+1)·target, i.e. each bin's byte
    budget is filled by its own files plus at most the tail of ONE
    boundary-crossing predecessor — so a bin's own fill can undershoot
    ``target`` only by that predecessor's overshoot, never more.
    Contiguity in the chosen order preserves any clustering the
    manifest order encodes (e.g. a Z-order write).

    The global running size is the distributed two-pass prefix sum
    (operators.indexing.running_total) — the manifest may be billions
    of rows at warehouse scale, never a one-task window.  Pure integer
    arithmetic (``div``), so any engine replays the plan exactly.
    Output: every input column plus ``cum_bytes`` and ``bin_col``."""
    from spark_monotasks_spark.operators.indexing import running_total

    run = running_total(
        files, size_col, [F.col(order_col)], total_col="cum_bytes"
    )
    return run.withColumn(
        bin_col,
        F.expr(f"(cum_bytes - {size_col}) div {int(target_bytes)}").cast(
            "long"
        ),
    )


def _range_sorted_write(
    df: DataFrame, path: str, key: str, num_files: int | None,
    drop_key: bool = False,
) -> None:
    """Overwrite ``path`` with ``df`` range-partitioned on ``key`` into
    ``num_files`` files (default: the session's shuffle partitions) and
    sorted within each file, so every file owns a disjoint key range."""
    spark = df.sparkSession
    if num_files is None:
        try:
            num_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            num_files = spark.sparkContext.defaultParallelism
    out = df.repartitionByRange(num_files, F.col(key)).sortWithinPartitions(key)
    if drop_key:
        out = out.drop(key)
    out.write.mode("overwrite").parquet(path)


def _write_zone_map(
    spark, path: str, dims: list[tuple[str, str]], mode: str
) -> None:
    """Write the ``<path>__manifest`` zone map: one row per data file
    with ``<name>_min``/``<name>_max`` of each (column, name) in
    ``dims`` — one narrow column scan grouped by ``input_file_name``,
    never the data pass again.  ``overwrite`` maps every file;
    ``append`` maps only the files the manifest does not list yet
    (anti-join of two file-count-sized relations)."""
    files = spark.read.parquet(path).select(
        F.input_file_name().alias("file"), *[F.col(c) for c, _ in dims]
    )
    if mode == "append":
        known = spark.read.parquet(path + "__manifest").select("file")
        files = files.join(known, on="file", how="left_anti")
    aggs = []
    for c, name in dims:
        aggs += [F.min(c).alias(f"{name}_min"), F.max(c).alias(f"{name}_max")]
    files.groupBy("file").agg(*aggs).write.mode(mode).parquet(
        path + "__manifest"
    )


def _pruned_scan(
    spark, path: str, box: list[tuple[str, str, object, object]]
) -> DataFrame:
    """Scan the zone-mapped table at ``path`` for rows with every
    (column, name, lo, hi) in ``box`` satisfying ``column BETWEEN lo
    AND hi``, reading ONLY the files whose manifest ranges overlap the
    box on every axis.  The manifest collect is file-count-sized (the
    same listing the parquet reader itself materializes driver-side to
    plan a scan; at warehouse scale this is exactly Delta/Iceberg's
    driver-side pruning step, bounded by file count, never rows).  The
    in-file residual filter still applies (and still pushes down), so
    the result equals the unpruned scan exactly."""
    overlap = []
    for _, name, lo, hi in box:
        overlap += [
            F.col(f"{name}_max") >= F.lit(lo), F.col(f"{name}_min") <= F.lit(hi)
        ]
    man = spark.read.parquet(path + "__manifest")
    files = [r.file for r in man.filter(reduce(and_, overlap)).collect()]
    base = spark.read.parquet(path)
    if not files:
        return base.filter(F.lit(False))
    flt = reduce(
        and_, [F.col(c).between(F.lit(lo), F.lit(hi)) for c, _, lo, hi in box]
    )
    return spark.read.schema(base.schema).parquet(*files).filter(flt)


def write_sorted_with_manifest(
    df: DataFrame, path: str, key_col: str, num_files: int | None = None
) -> None:
    """Data-skipping layout: write ``df`` as parquet range-sorted on
    ``key_col`` (each file owns a disjoint key range) plus a sibling
    ``<path>__manifest`` parquet of per-file (file, key_min, key_max) —
    the file-level zone map every lakehouse format (Delta/Iceberg/Hudi
    stats) uses to skip files at plan time."""
    _range_sorted_write(df, path, key_col, num_files)
    _write_zone_map(df.sparkSession, path, [(key_col, "key")], "overwrite")


def read_skipping(
    spark, path: str, key_col: str, lo, hi
) -> DataFrame:
    """Scan a :func:`write_sorted_with_manifest` table for
    ``key_col BETWEEN lo AND hi``, reading ONLY the files whose
    manifest [key_min, key_max] range overlaps — file-level data
    skipping; the result equals the unpruned ``BETWEEN`` scan
    exactly."""
    return _pruned_scan(spark, path, [(key_col, "key", lo, hi)])


def append_with_manifest(df: DataFrame, path: str, key_col: str) -> None:
    """Append a batch to a :func:`write_sorted_with_manifest` table and
    extend the zone-map manifest by scanning ONLY the new files — the
    ingest-time maintenance step that keeps data skipping usable
    without ever rebuilding stats over history.

    Appended files may overlap existing key ranges, which weakens
    pruning for the touched range but can never change an answer
    (read_skipping's residual filter still applies).  Run a sorted
    rewrite (compaction) when overlap accumulates."""
    df.sortWithinPartitions(key_col).write.mode("append").parquet(path)
    _write_zone_map(df.sparkSession, path, [(key_col, "key")], "append")


def write_zordered_with_manifest(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 10,
    num_files: int | None = None,
) -> None:
    """2-D data-skipping layout: range-sort on the Z-order interleave of
    the (pre-quantized, non-negative int) ``x_col``/``y_col`` pair and
    write per-file zone maps on BOTH original dimensions — the
    Delta/Iceberg OPTIMIZE ZORDER BY idea.  A 1-D sort clusters one
    dimension perfectly and scatters the other; the Z-curve keeps both
    dimensions locally coherent, so a 2-D box predicate prunes files
    on both axes.  Same mechanics as :func:`write_sorted_with_manifest`;
    the manifest rows are (file, x_min, x_max, y_min, y_max)."""
    staged = df.withColumn("_zk", zorder_key(x_col, y_col, bits))
    _range_sorted_write(staged, path, "_zk", num_files, drop_key=True)
    _write_zone_map(
        df.sparkSession, path, [(x_col, "x"), (y_col, "y")], "overwrite"
    )


def read_box_skipping(
    spark, path: str, x_col: str, y_col: str, x_lo, x_hi, y_lo, y_hi
) -> DataFrame:
    """Scan a :func:`write_zordered_with_manifest` table for the 2-D box
    ``x BETWEEN .. AND y BETWEEN ..``, reading only files whose zone
    maps overlap the box on BOTH axes (see :func:`_pruned_scan`); the
    result equals the unpruned box scan exactly."""
    return _pruned_scan(
        spark, path, [(x_col, "x", x_lo, x_hi), (y_col, "y", y_lo, y_hi)]
    )


# ---------------------------------------------------------------------------
# bucket-digest corpus integrity (Merkle-leaf comparison)
# ---------------------------------------------------------------------------

def bucket_digests(
    df: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
    n_buckets: int = 512,
) -> DataFrame:
    """One md5 digest per id-bucket: rows hash to ``id % n_buckets``,
    each bucket's digest is md5 over its members' per-row content
    hashes concatenated in id order — the Merkle-LEAF layer of corpus
    integrity checking.

    Comparing two 100 TB replicas (or two snapshot versions) row-by-row
    means moving 100 TB; comparing their bucket digests moves
    ``n_buckets`` 32-byte rows.  A digest mismatch names the bucket to
    drill into (re-hash ~corpus/n_buckets rows), so verification cost
    is proportional to CHURN, not corpus size — the same
    containment-by-digest idea as rsync/Merkle trees, flattened to one
    level because Spark aggregates all buckets in one pass anyway.

    Scale shape: per-row md5 map-side; the single shuffle carries
    (bucket, id, 16-byte hash) — never content; the digest aggregate
    sorts WITHIN a bounded bucket array.  Deterministic: bucket
    membership and concatenation order are pure functions of ids, so
    two independently-computed digest tables are comparable across
    engines and clusters.

    Reference analogy: none — beyond-reference brief item (corpus
    integrity audit for the lakehouse layer)."""
    row_h = F.md5(
        F.concat_ws(
            "", *[F.col(c).cast("string") for c in content_cols]
        ).cast("binary")
    )
    per_row = df.select(
        (F.col(id_col) % n_buckets).alias("bucket"),
        F.col(id_col).alias("_id"),
        row_h.alias("_h"),
    )
    return (
        per_row.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_id", "_h"))),
                        lambda s: s["_h"],
                    ),
                ).cast("binary")
            ).alias("digest"),
        )
    )


def digest_diff(v0: DataFrame, v1: DataFrame) -> DataFrame:
    """Full-outer join of two :func:`bucket_digests` tables, keeping
    only buckets whose digest (or existence) differs.  Output is
    churn-proportional: ``(bucket, n_rows_v0, n_rows_v1, status)``
    with status ``changed`` / ``only_v0`` / ``only_v1``."""
    a = v0.select(
        "bucket",
        F.col("n_rows").alias("n_rows_v0"),
        F.col("digest").alias("_d0"),
    )
    b = v1.select(
        "bucket",
        F.col("n_rows").alias("n_rows_v1"),
        F.col("digest").alias("_d1"),
    )
    j = a.join(b, on="bucket", how="full_outer")
    status = (
        F.when(F.col("_d0").isNull(), F.lit("only_v1"))
        .when(F.col("_d1").isNull(), F.lit("only_v0"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("_d0").isNull()
            | F.col("_d1").isNull()
            | (F.col("_d0") != F.col("_d1"))
        )
        .select(
            "bucket",
            F.coalesce("n_rows_v0", F.lit(0)).alias("n_rows_v0"),
            F.coalesce("n_rows_v1", F.lit(0)).alias("n_rows_v1"),
            status.alias("status"),
        )
    )
