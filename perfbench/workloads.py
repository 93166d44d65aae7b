"""The benchmark's workloads: which catalog queries each one runs, and why.

Every workload runs its members one at a time from one client (a closed
loop) in one SparkSession.  The members are a subset of the catalog
chosen so that a cold pass, the warm passes and the output check of one
workload fit the benchmark's run length.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "table_writes": {
        "why": (
            "builders write then re-read parquet, partitioned and versioned "
            "tables: scans, joins, planning and codegen with writes and eager "
            "construction beside them"
        ),
        "members": (
            "versioned_time_travel",
            "schema_evolution_merge",
            "snapshot_diff",
            "sql_insert_overwrite_partitioned",
            "incremental_agg_refresh",
            "incremental_dedup_batch",
        ),
    },
    "pipeline_iter": {
        "why": (
            "a multi-job near-duplicate builder that pins its inputs, plus "
            "three Python-worker entries: scheduling, pins and Python-worker "
            "time concentrate here"
        ),
        "members": (
            "minhash_near_dups",
            "media_meta_extract",
            "jpeg_decode_stats",
            "bdb_q4_transform",
        ),
    },
}
