"""Record linkage / entity resolution (beyond-reference, marked).

The classic three-stage ER pipeline, each stage in its scale-correct
Spark shape:

1. **Blocking** — a cheap deterministic key (here: a name suffix)
   confines the quadratic comparison to within-block pairs: an
   equi-join on the block key, NEVER a cross product.  At 100 TB the
   block key is the whole game — candidate volume is sum(|block|²),
   so skewed blocks get capped/salted upstream.
2. **Pairwise matching** — an edit-distance predicate over candidate
   pairs (``F.levenshtein``, JVM codegen — no Python in the hot
   path).
3. **Transitive clustering** — matches are edges; connected
   components (the star-CC engine, O(log n) rounds) labels every
   record with its entity cluster; unmatched records stay singleton
   clusters labelled by their own id.

This composes the repo's existing primitives (fuzzy join, star-CC)
into the named record-linkage surface a curation stack expects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_monotasks_spark.graph.algorithms import (
    _component_labels,
    connected_components_star,
)


def blocked_entity_resolution(
    records: DataFrame,
    rid_col: str,
    name_col: str,
    block_key: Column,
    max_edit: int = 2,
) -> DataFrame:
    """Resolve duplicate records into entity clusters.

    ``records`` needs a unique numeric ``rid_col`` and a string
    ``name_col``; ``block_key`` is the blocking expression (evaluated
    against the record row).  Two records in the same block whose
    names are within ``max_edit`` Levenshtein edits are the same
    entity; matches close transitively.  Returns (rid, cluster) where
    cluster = the smallest rid reachable through the match graph
    (singletons map to themselves).
    """
    blocks = records.select(
        F.col(rid_col).alias("_rid"),
        F.col(name_col).alias("_name"),
        block_key.alias("_blk"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    edges = (
        l.join(r, F.col("l._blk") == F.col("r._blk"))
        .filter(F.col("l._rid") < F.col("r._rid"))
        .filter(
            F.levenshtein(F.col("l._name"), F.col("r._name")) <= max_edit
        )
        .select(
            F.col("l._rid").alias("src"), F.col("r._rid").alias("dst")
        )
    )
    comp = connected_components_star(edges)
    ids = records.select(F.col(rid_col).alias("id"))
    return _component_labels(ids, comp).withColumnRenamed("id", "rid")
