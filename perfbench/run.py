"""Benchmark entry point.

    python3 perfbench/run.py --workload table_writes --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The first run generates the input
tables and the expected answers (DuckDB oracles) under
``perfbench/.cache``; later runs reuse them.  Each run then starts one
fresh worker process (``worker.py``) with one SparkSession and prints,
as its last stdout line, ``{"correct", "attempted", "failed",
"metrics"}``: the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  The full
result, with the environment block and the per-query ledger, is kept in
``perfbench/.cache/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import check
import datagen
from worker import cpu_snapshot, unstolen
from workloads import WORKLOADS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
#: the tables are fixed so that oracle answers can be computed once per
#: checkout; the workload seed permutes the query order instead
DATA_SEED = 42
WORKER_TIMEOUT_S = 150


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _atomic_json(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def prepare() -> tuple[str, str]:
    """Generate the tables and expected answers once; return their paths."""
    with open(datagen.__file__, "rb") as f:
        data_key = _fingerprint([f.read().decode(), DATA_SEED])
    data_dir = os.path.join(CACHE, f"data-{data_key}")
    if not os.path.exists(os.path.join(data_dir, "_DONE")):
        shutil.rmtree(data_dir, ignore_errors=True)
        datagen.write_tables(data_dir, DATA_SEED)
        open(os.path.join(data_dir, "_DONE"), "w").close()

    from spark_monotasks_spark.queries import ORACLE_REGISTRY

    members = sorted({n for w in WORKLOADS.values() for n in w["members"]})
    sql = {n: ORACLE_REGISTRY[n] for n in members if n in ORACLE_REGISTRY}
    with open(os.path.join(BENCH, "recorded_digests.json")) as f:
        recorded = json.load(f)
    missing = [n for n in members if n not in sql and n not in recorded]
    if missing:
        raise SystemExit(f"perfbench: no oracle or recorded digest for {missing}")
    path = os.path.join(CACHE, f"expected-{_fingerprint([data_key, sql, recorded])}.json")
    if not os.path.exists(path):
        expected = check.oracle_digests(data_dir, sql, datagen.TABLES)
        expected.update({n: recorded[n] for n in members if n not in sql})
        _atomic_json(path, expected)
    return data_dir, path


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, its JVM and the
    Python worker daemon (which moves to its own process group)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] not in "ZX":
            pids.append(int(pid))
    return pids


def _reap(sid: int) -> None:
    """Wait for every process the worker started to end, terminating
    stragglers."""
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in _session_pids(sid) if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.1)


def run_worker(args, data_dir: str, expected: str) -> dict:
    os.makedirs(CACHE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        out = os.path.join(work, "result.json")
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, BENCH, os.environ.get("PYTHONPATH")) if p
            ),
        )
        cmd = [
            sys.executable, os.path.join(BENCH, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--expected", expected, "--tmp", tmp, "--out", out,
        ]
        spawn_at, cpu_at_spawn = time.time(), cpu_snapshot()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _reap(proc.pid)
            proc.wait()
        done_at = time.time()
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: worker failed ({rc})")
        with open(out) as f:
            result = json.load(f)
        result["setup_wall_s"] = result["ready_at"] - spawn_at
        result["setup_s"] = unstolen(result["setup_wall_s"], cpu_at_spawn, result["cpu_at_ready"])
        result["timeline"]["worker_s"] = done_at - spawn_at
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pass_metrics(result: dict) -> dict[str, dict]:
    """Per-layer totals of each pass (``cold``, ``warm1``, ``warm2``, ...)."""
    from ledger import pass_totals

    totals = {}
    for name, p in result["layers"].items():
        totals[name] = pass_totals(p["queries"], result["cores"], p["wall_s"])
        totals[name]["cache.pins_left"] = p["pins"]
    return totals


def layer_metrics(result: dict) -> dict[str, float]:
    """Flat ``session.<name>``, ``cold.<name>`` and ``warm.<name>`` values;
    ``warm`` is the warm pass whose time is ``warm_s``."""
    flat = {f"session.{k}": v for k, v in result["session"].items()}
    totals = pass_metrics(result)
    for label, name in (("cold", "cold"), ("warm", result["warm_pass"])):
        flat.update({f"{label}.{k}": v for k, v in totals[name].items()})
    return flat


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "spark_monotasks_spark", "__init__.py")):
        raise SystemExit(f"perfbench: no spark_monotasks_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    data_dir, expected = prepare()
    result = run_worker(args, data_dir, expected)
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    _atomic_json(
        os.path.join(CACHE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        result,
    )

    if args.trace:
        values = layer_metrics(result)
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": result["setup_s"],
            "cold_s": result["cold_s"],
            "warm_s": result["warm_s"],
            "heap_retained_mb": result["heap_retained_mb"],
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    attempted, failed = result["attempted"], result["failed"]
    print(
        f"{args.workload} seed={args.seed}: setup_s={result['setup_s']:.3f} s"
        f" cold_s={result['cold_s']:.3f} s warm_s={result['warm_s']:.3f} s"
        f" failed_frac={failed / attempted:.4f} ratio"
        f" ({failed}/{attempted}) heap_retained_mb={result['heap_retained_mb']:.1f} MB"
    )
    walls = result["walls"]
    print(
        f"wall time before taking out contention: setup {result['setup_wall_s']:.3f} s,"
        f" cold {walls['cold']:.3f} s, warm {walls[result['warm_pass']]:.3f} s;"
        " stolen share per pass "
        + ", ".join(f"{k} {v:.3f}" for k, v in result["stolen"].items())
    )
    print("env " + json.dumps(result["env"], sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
