"""One measured session of a workload: set-up, a cold pass, warm passes,
then an output check.  Started by ``run.py`` in a fresh process; writes
its result as JSON to ``--out``.  The passes are fixed, so that cold_s
and warm_s mean the same on every host; ``--seconds`` is the contract's
run length and only recorded.

- set-up: ``get_spark`` and the warm-up jobs of ``_warm_up``;
- cold pass: every member built (``QUERY_REGISTRY[name](spark, data)``)
  and run through the ``noop`` sink once, in the fresh session;
- warm passes (``WARM_PASSES``): the same again in the same session;
  ``warm_s`` is the time of the median one, so that a burst of load
  from elsewhere on the host that slows one pass does not move it;

setup_s, cold_s and warm_s are wall times with the host's contention
taken out (``unstolen``).
- check (untimed): every member is built once more and collected, and
  its digest is compared with the expected one.

The seed permutes the member order of every pass.  Every job runs under
a job group ``<pass>/<query>/<build|sink>``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time
import traceback

from check import digest
from workloads import WORKLOADS

WARM_PASSES = 3


def cpu_snapshot() -> tuple[list[int], float]:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return cpu, load


def stolen_share(a, b) -> float:
    """Share of the CPU time this machine's CPUs wanted between snapshots
    ``a`` and ``b`` that the hypervisor gave to other machines (steal
    over user + nice + system + irq + softirq + steal)."""
    d = [y - x for x, y in zip(a[0], b[0])]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


#: how a span's wall time grows with the stolen share: as
#: 1 / (1 - share) ** STOLEN_EXPONENT.  Beyond the stolen time itself, the
#: other machines slow this one while it runs (shared cores and caches),
#: and a stage waits for its task on the most-stolen CPU.  Over 112 warm
#: query executions of both workloads on a 4-CPU sandbox, log(time) rose
#: with -log(1 - share) at a slope of 1.6 (1.3 to 2.9 per query).
STOLEN_EXPONENT = 1.5


def unstolen(wall_s: float, a, b) -> float:
    """``wall_s`` with the host's contention taken out: an estimate of the
    time the span would have taken had the host run no other machines on
    these CPUs.  On a shared host the stolen share swings between 1 and 43
    per cent from one minute to the next, which moves wall times far more
    than the differences the benchmark is meant to show."""
    return wall_s * (1.0 - stolen_share(a, b)) ** STOLEN_EXPONENT


def _host_env(spark, a, b) -> dict:
    """Effective session settings and host load over the measured window."""
    d = [y - x for x, y in zip(a[0], b[0])]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "busy_pct": round(100.0 * (total - idle) / total, 2),
        "steal_pct": round(100.0 * d[7] / total, 3),
        "loadavg_start": a[1],
        "loadavg_end": b[1],
    }


def _retained_heap_mb(sc) -> float:
    """Driver heap in use once full GCs stop freeing memory.  Dropped
    DataFrames are released over several GC cycles (Python GC, Py4J,
    Spark's ContextCleaner, JVM finalizers, idle threads), so GC every
    0.25 s until six readings in a row agree within 1 MB."""
    gc.collect()
    jvm = sc._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(40):
        jvm.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 1e6)
        if len(readings) >= 6 and max(readings[-6:]) - min(readings[-6:]) < 1.0:
            break
        time.sleep(0.25)
    return readings[-1]


def _warm_up(spark, data_dir: str) -> None:
    """The warm-up jobs of set-up.  Besides a first job and the Python
    worker pool, they scan parquet, join, shuffle and aggregate, so that
    whichever query the seed puts first in the cold pass does not also
    pay the JVM's class loading for those paths.  They use plain Spark,
    not the package."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    nation = spark.read.parquet(os.path.join(data_dir, "nation.parquet"))
    region = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    nation.join(region, nation.n_regionkey == region.r_regionkey).groupBy(
        "r_name"
    ).count().collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--expected", required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    from spark_monotasks_spark import tables
    from spark_monotasks_spark.queries import QUERY_REGISTRY
    from spark_monotasks_spark.session import get_spark

    t_start = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temporary files inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.tmp} -XX:-UsePerfData",
        },
    )
    t_session = time.time()
    _warm_up(spark, args.data)
    ready_at = time.time()
    cpu_at_ready = cpu_snapshot()

    sc = spark.sparkContext
    members = WORKLOADS[args.workload]["members"]
    rng = random.Random(args.seed)
    orders: dict[str, list[str]] = {}
    query_s: dict[str, dict[str, float]] = {}
    errors: dict[str, int] = {}
    ledger = None
    if args.trace:
        from ledger import Ledger

        ledger = Ledger(spark, tables)

    def run_pass(pass_name: str) -> float:
        order = list(members)
        rng.shuffle(order)
        orders[pass_name] = order
        query_s[pass_name] = {}
        t0 = time.perf_counter()
        for name in order:
            q = ledger.begin(pass_name, name) if ledger else None
            tq = time.perf_counter()
            try:
                sc.setJobGroup(f"{pass_name}/{name}/build", name)
                df = QUERY_REGISTRY[name](spark, args.data)
                if ledger:
                    ledger.sink(q)
                sc.setJobGroup(f"{pass_name}/{name}/sink", name)
                df.write.format("noop").mode("overwrite").save()
            except Exception:
                errors[name] = errors.get(name, 0) + 1
                traceback.print_exc()
            finally:
                query_s[pass_name][name] = time.perf_counter() - tq
                if ledger:
                    ledger.end(q)
        sc._jsc.clearJobGroup()
        return time.perf_counter() - t0

    t_measure = time.time()
    host0 = cpu_snapshot()
    walls: dict[str, float] = {}
    timed: dict[str, float] = {}
    stolen: dict[str, float] = {}
    layers: dict = {}
    warm_names = [f"warm{i}" for i in range(1, WARM_PASSES + 1)]
    for pass_name in ["cold", *warm_names]:
        # collect garbage between passes, outside the timed region, so a
        # pass does not pay for the previous pass's dropped state
        gc.collect()
        sc._jvm.System.gc()
        pins = ledger.pins() if ledger else 0
        a = cpu_snapshot()
        walls[pass_name] = run_pass(pass_name)
        b = cpu_snapshot()
        stolen[pass_name] = stolen_share(a, b)
        timed[pass_name] = unstolen(walls[pass_name], a, b)
        if ledger:
            layers[pass_name] = {
                "wall_s": walls[pass_name],
                "queries": ledger.summarize(),
                "pins": ledger.pins() - pins,
            }
    host1 = cpu_snapshot()
    t_passes = time.time()
    if ledger:
        ledger.close()

    with open(args.expected) as f:
        expected = json.load(f)
    digests, wrong = {}, []
    for name in members:
        sc.setJobGroup(f"check/{name}", name)
        try:
            digests[name] = digest(QUERY_REGISTRY[name](spark, args.data).collect())
        except Exception:
            traceback.print_exc()
            digests[name] = None
        if digests[name] is None or digests[name] != expected.get(name):
            wrong.append(name)
            print(f"perfbench: {name}: got {digests[name]}, expected {expected.get(name)}",
                  file=sys.stderr)
    sc._jsc.clearJobGroup()

    t_check = time.time()
    heap_mb = _retained_heap_mb(sc)
    # the warm pass of median time stands for the warm session
    warm_pass = sorted(warm_names, key=timed.get)[WARM_PASSES // 2]

    result = {
        "seed": args.seed,
        "seconds": args.seconds,
        "orders": orders,
        "query_s": query_s,
        "ready_at": ready_at,
        "cpu_at_ready": cpu_at_ready,
        "timeline": {
            "passes_s": t_passes - t_measure,
            "check_s": t_check - t_passes,
            "heap_s": time.time() - t_check,
        },
        "session": {"start_s": t_session - t_start, "warmup_s": ready_at - t_session},
        "cold_s": timed["cold"],
        "warm_s": timed[warm_pass],
        "warm_pass": warm_pass,
        "walls": walls,
        "stolen": stolen,
        "attempted": len(walls) * len(members),
        "failed": sum(len(walls) if n in wrong else errors.get(n, 0) for n in members),
        "errors": errors,
        "wrong": wrong,
        "heap_retained_mb": heap_mb,
        "env": _host_env(spark, host0, host1),
        "cores": sc.defaultParallelism,
        "digests": digests,
        "layers": layers,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
