"""Per-layer ledger of named catalog entries, cold then warm, in one session.

Usage: python tools/trace_query.py NAME [NAME ...] [--sf DIR] [--json PATH]

Builds one session with ``get_spark``, runs a few warm-up jobs (a first
job, the Python worker pool, the staged MinHash store), then runs every
named entry through the ``noop`` sink twice: a cold pass and a warm pass
over the same entries.  ``perfbench/ledger.py``'s ``Ledger`` reads each
query's layers from Spark's own bookkeeping: jobs, stages and tasks,
codegen compiles, Catalyst phases, task run/CPU/GC time, shuffle and
source bytes, table loads, and the split of wall time into layers (see
its module docstring).  A query whose cold time far exceeds its warm
time is plan- or compile-bound; one whose warm time stays high is
execution-bound.  ``--json`` writes every ledger metric.

Never run it concurrently with other Spark work on the same host.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

#: (header, ledger metric, width, decimals); byte counts print in MB
COLUMNS = (
    ("wall_s", "wall_s", 7, 3),
    ("construct_s", "queries.construct_s", 11, 3),
    ("jobs", "sched.jobs", 4, 0),
    ("stages", "sched.stages", 6, 0),
    ("tasks", "sched.tasks", 5, 0),
    ("compiles", "codegen.compiles", 8, 0),
    ("run_s", "exec.task_run_s", 7, 3),
    ("cpu_s", "exec.task_cpu_s", 7, 3),
    ("gc_s", "exec.task_gc_s", 6, 3),
    ("gap_s", "sched.driver_gap_s", 6, 3),
    ("in_MB", "sources.input_bytes", 6, 2),
    ("shufW_MB", "shuffle.write_bytes", 8, 2),
)


def _row(name: str, metrics: dict) -> str:
    cells = []
    for _, key, width, decimals in COLUMNS:
        v = metrics.get(key, 0.0)
        if key.endswith("_bytes"):
            v /= 1e6
        cells.append(f"{v:>{width}.{decimals}f}")
    return f"  {name:34s} " + " ".join(cells)


def main() -> None:
    from spark_monotasks_spark import tables

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("names", nargs="+")
    p.add_argument("--sf", default=tables.DEFAULT_SF_DIR)
    p.add_argument("--json", help="write every pass's ledgers here")
    args = p.parse_args()

    from ledger import Ledger

    from spark_monotasks_spark.queries import QUERY_REGISTRY
    from spark_monotasks_spark.queries.pipeline_queries import stage_minhash_store
    from spark_monotasks_spark.session import get_spark

    unknown = [n for n in args.names if n not in QUERY_REGISTRY]
    if unknown:
        raise SystemExit(f"unknown catalog entries: {unknown}")
    spark = get_spark(
        app_name="trace-query", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    sc = spark.sparkContext
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    stage_minhash_store(spark, args.sf)

    ledger = Ledger(spark, tables)
    passes = {}
    try:
        for pass_name in ("cold", "warm"):
            for name in args.names:
                q = ledger.begin(pass_name, name)
                sc.setJobGroup(f"{pass_name}/{name}/build", name)
                df = QUERY_REGISTRY[name](spark, args.sf)
                ledger.sink(q)
                sc.setJobGroup(f"{pass_name}/{name}/sink", name)
                df.write.format("noop").mode("overwrite").save()
                ledger.end(q)
            sc._jsc.clearJobGroup()
            passes[pass_name] = ledger.summarize()
    finally:
        ledger.close()
        spark.stop()

    header = " ".join(f"{label:>{width}}" for label, _, width, _ in COLUMNS)
    for pass_name, ledgers in passes.items():
        print(f"# {pass_name} pass, sf_dir={args.sf}")
        print(f"  {'query':34s} {header}")
        for led in ledgers:
            print(_row(led["name"], led["metrics"]))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(passes, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
