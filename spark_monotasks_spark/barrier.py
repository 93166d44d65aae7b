"""Lineage-truncation barriers for iterative / multi-use DataFrames.

Iterative algorithms (graph supersteps, LSH banding) must cut the
logical plan every round: an N-iteration loop otherwise builds an
N-deep plan that Catalyst re-analyzes quadratically, and expressions
get substituted into every consumer by projection collapse.  Two ways
to cut it, with a real durability tradeoff (the reference fork's
memory-only shuffle had exactly this fragility — SURVEY §4.3):

- ``reliable=False`` (default): ``localCheckpoint(eager=True)``.
  Blocks live on the executors that computed them — fast (no
  replication, no distributed FS round-trip) and exactly right on
  local[N] or short interactive jobs.  NOT fault-tolerant: the RDD is
  unrecomputable, so one lost executor mid-job fails the query.

- ``reliable=True``: ``df.checkpoint(eager=True)`` into the
  SparkContext's checkpoint directory.  Survives executor loss — the
  posture for 100 TB multi-hour jobs on clusters with churn (spot
  instances, preemption).  Requires
  ``spark.sparkContext.setCheckpointDir(<durable path>)`` first; we
  refuse to pick a default because a silently-local path would fake
  durability on a real cluster (HDFS/S3 is the right target).

Every iterative operator in this package takes ``reliable: bool``
and routes through :func:`barrier` — see SCALE.md ("Barrier
durability") for when to flip it.  A frame that is reused but not
iterated is pinned with :func:`pin` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def barrier(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage (see module doc)."""
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint directory: call "
            "spark.sparkContext.setCheckpointDir(<durable path>) first "
            "(HDFS/S3 on a cluster — local disk only fakes durability)"
        )
    return df.checkpoint(eager=True)


def pin(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Keep a multiply-consumed frame for reuse: ``persist()``, or the
    durable :func:`barrier` when ``reliable``.  ``persist()`` keeps AQE
    planning below the pin and costs about half a checkpoint on a cold
    execution; MEMORY_AND_DISK spills rather than failing at scale.

    A persisted pin lives until ``unpersist()``: the CacheManager entry
    holds it, so the ContextCleaner does not reap it when the caller
    drops the plan.  If the pinned plan holds a broadcast exchange, the
    entry also keeps that broadcast's hash relation in the driver (one
    ``spark.buffer.pageSize`` page, 64 MiB with an 8g driver, for a
    string or multi-column key).  Pin only a frame with more than one
    consumer."""
    return barrier(df, reliable) if reliable else df.persist()
