"""Partitioning helpers — the knobs SURVEY §2.9/§4.3 map to
repartition/coalesce, plus the compute-spread heuristic shared by the
CPU-heavy pipeline/script paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_cluster(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition when the input has fewer splits than the
    cluster has cores.

    For scans whose per-row downstream work dominates IO (hash-signature
    passes, external-script transforms, per-row decode), a small split
    count — one split per small file locally, or heavy partition pruning
    at scale — pins the whole job to a few tasks.  One cheap shuffle of
    the compact source rows unlocks full parallelism.  No-op when the
    scan is already wide enough.

    The split count is asked of ``df`` itself, never inferred from its
    input files: a coalesced or repartitioned frame over the same files
    has a different count.  The probe plans ``df`` (~20-80 ms on a
    4-core host); PySpark caches ``DataFrame.rdd`` on the object, so a
    frame the catalog caches per session pays that once and ~3 ms after.
    """
    n = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
