"""Per-layer ledger of named catalog entries, cold then warm, in one session.

Usage: python tools/trace_query.py NAME [NAME ...] [--sf DIR] [--json PATH]
                                   [--compare BASE.json]

Opens one session with ``bench.open_session`` (a first job, the Python
worker pool, the staged MinHash store), then runs every
named entry through the ``noop`` sink twice: a cold pass and a warm pass
over the same entries.  ``perfbench/ledger.py``'s ``Ledger`` reads each
query's layers from Spark's own bookkeeping: jobs, stages and tasks,
codegen compiles, Catalyst phases, task run/CPU/GC time, shuffle and
source bytes, table loads, and the split of wall time into layers (see
its module docstring).  A query whose cold time far exceeds its warm
time is plan- or compile-bound; one whose warm time stays high is
execution-bound.  ``py_run_s`` and ``py_start_s`` are the time spent
running and starting Python workers: the part of a ``mapInPandas`` or
UDF entry's task time that is Python's own.  ``py4j_calls`` counts the
Py4J call commands the builder sent while constructing the query, a
driver cost that repeats exactly from one build to the next.  ``pins``
counts the CacheManager entries the entry added (``persist``/``cache``;
deterministic, unlike ``getPersistentRDDs()``), and ``pin_bcast`` how
many of those cached plans hold a broadcast exchange: on a local
session such a pin keeps the broadcast hash relation (one 64 MiB page
for a multi-column or string key) in the driver for as long as the
entry lives.  A warm pass reuses the
cold pass's entries, so its pins read 0.  ``--json`` writes every
ledger metric.  ``--compare BASE.json`` checks this run against a saved
``--json`` run: for each entry and pass it prints the counters that
differ (perfbench's exact counters, ``report.EXACT``, plus ``cache.pins``
and ``cache.pin_bcast``) and exits 1 on any difference.  Compile and
task counts vary between identical runs, so they are not compared.

Never run it concurrently with other Spark work on the same host.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

#: (header, ledger metric, width, decimals); byte counts print in MB
COLUMNS = (
    ("wall_s", "wall_s", 7, 3),
    ("construct_s", "queries.construct_s", 11, 3),
    ("py4j_calls", "queries.py4j_calls", 10, 0),
    ("jobs", "sched.jobs", 4, 0),
    ("stages", "sched.stages", 6, 0),
    ("tasks", "sched.tasks", 5, 0),
    ("compiles", "codegen.compiles", 8, 0),
    ("run_s", "exec.task_run_s", 7, 3),
    ("cpu_s", "exec.task_cpu_s", 7, 3),
    ("gc_s", "exec.task_gc_s", 6, 3),
    ("gap_s", "sched.driver_gap_s", 6, 3),
    ("py_run_s", "python.run_s", 8, 3),
    ("py_start_s", "python.start_s", 10, 3),
    ("in_MB", "sources.input_bytes", 6, 2),
    ("shufW_MB", "shuffle.write_bytes", 8, 2),
    ("pins", "cache.pins", 4, 0),
    ("pin_bcast", "cache.pin_bcast", 9, 0),
)


@contextlib.contextmanager
def count_py4j_calls(spark):
    """Count the Py4J call commands this thread sends while the block
    runs; yields a one-element list that holds the count.  Only call
    commands (``c``) count: py4j's memory-release messages (``m``) are
    timed by the Python garbage collector, and other threads' calls
    (listener callbacks) are not the block's."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    count = [0]

    def counting(command, *args, **kwargs):
        if command.startswith("c") and threading.get_ident() == me:
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        client.send_command = send


def physical_nodes(plan):
    """Every node of a physical plan (a Py4J ``SparkPlan``), through the
    adaptive wrappers and query stages, stopping at in-memory scans: a
    pin's own plan is a separate fragment."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        return
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from physical_nodes(k)


def holds_broadcast(plan) -> bool:
    return any(
        n.getClass().getSimpleName() == "BroadcastExchangeExec"
        for n in physical_nodes(plan)
    )


@contextlib.contextmanager
def new_pins(spark):
    """Yield a list that, once the block ends, holds the cached physical
    plans of the CacheManager entries the block added, newest first.
    Read them after the entry has run: an adaptive plan is final only
    then."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    pins: list = []
    try:
        yield pins
    finally:
        cached = cache.cachedData()
        pins.extend(
            cached.apply(i).cachedRepresentation().cacheBuilder().cachedPlan()
            for i in range(cached.size() - before)
        )


def compare(passes: dict, base: dict) -> list[str]:
    """One line per counter of ``passes`` that differs from ``base``
    (both as ``--json`` writes them), or per entry missing from
    ``base``."""
    from report import EXACT

    keys = (*EXACT, "cache.pins", "cache.pin_bcast")
    diffs = []
    for pass_name, ledgers in passes.items():
        old = {led["name"]: led["metrics"] for led in base.get(pass_name, [])}
        for led in ledgers:
            name, new = led["name"], led["metrics"]
            if name not in old:
                diffs.append(f"{pass_name}/{name}: not in the base run")
                continue
            diffs.extend(
                f"{pass_name}/{name}: {k} {old[name].get(k, 0)} -> {new.get(k, 0)}"
                for k in keys
                if old[name].get(k, 0) != new.get(k, 0)
            )
    return diffs


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
    p.add_argument(
        "--compare", metavar="BASE.json", help="exit 1 on a counter unlike this run's"
    )
    args = p.parse_args()

    from ledger import Ledger

    from bench import open_session
    from spark_monotasks_spark.queries import QUERY_REGISTRY

    unknown = [n for n in args.names if n not in QUERY_REGISTRY]
    if unknown:
        raise SystemExit(f"unknown catalog entries: {unknown}")
    spark = open_session(
        "trace-query", args.sf, {"spark.ui.showConsoleProgress": "false"}
    )
    sc = spark.sparkContext

    ledger = Ledger(spark, tables)
    passes = {}
    try:
        for pass_name in ("cold", "warm"):
            extra = {}
            for name in args.names:
                q = ledger.begin(pass_name, name)
                with new_pins(spark) as pins:
                    sc.setJobGroup(f"{pass_name}/{name}/build", name)
                    with count_py4j_calls(spark) as n:
                        df = QUERY_REGISTRY[name](spark, args.sf)
                    ledger.sink(q)
                    sc.setJobGroup(f"{pass_name}/{name}/sink", name)
                    df.write.format("noop").mode("overwrite").save()
                    ledger.end(q)
                extra[name] = {
                    "queries.py4j_calls": n[0],
                    "cache.pins": len(pins),
                    "cache.pin_bcast": sum(map(holds_broadcast, pins)),
                }
            sc._jsc.clearJobGroup()
            passes[pass_name] = ledger.summarize()
            for led in passes[pass_name]:
                led["metrics"].update(extra[led["name"]])
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
    if args.compare:
        with open(args.compare) as f:
            diffs = compare(passes, json.load(f))
        print(f"# counters against {args.compare}: {len(diffs) or 'none'} differ")
        for line in diffs:
            print(f"  {line}")
        if diffs:
            raise SystemExit(1)


if __name__ == "__main__":
    main()
