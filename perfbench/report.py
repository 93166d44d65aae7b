"""One-command report over every workload.

    python3 perfbench/report.py [--seed 1] [--seconds 30] [--workloads a,b]

For each workload it makes one untraced run and two traced runs with the
same seed, then prints:

- the end-to-end metrics (setup_s, cold_s, warm_s, failed_frac,
  heap_retained_mb) with their units, and the environment block;
- each layer's share of cold and warm wall time, with the unattributed
  remainder, per workload and per query;
- the tracing overhead: traced minus untraced cold_s and warm_s;
- the counter self-check: the two traced runs must give identical job,
  stage, shuffle-byte and source-byte counts per pass, and codegen
  compile counts within ``COMPILE_TOLERANCE``.

Exits 1 when an output check or the self-check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from ledger import SHARES
from run import pass_metrics
from workloads import WORKLOADS

BENCH = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(BENCH, ".cache", "results")
EXACT = ("sched.jobs", "sched.stages", "shuffle.write_bytes", "shuffle.read_bytes",
         "sources.input_bytes", "sources.output_bytes")
#: codegen compile counts are not exact between identical runs (a warm
#: pass of table_writes compiled 10 classes in one run and 0 in the next),
#: so a pass's count may differ by this share of the cold pass's count
COMPILE_TOLERANCE = 0.15


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    log = os.path.join(RESULTS, f"report-{workload}-trace{trace}.log")
    os.makedirs(RESULTS, exist_ok=True)
    with open(log, "w") as err:
        subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            check=True, stdout=subprocess.DEVNULL, stderr=err,
        )
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def shares_line(label: str, totals: dict) -> str:
    cells = " ".join(f"{k}={totals[f'share.{k}']:.3f}" for k in SHARES)
    total = sum(totals[f"share.{k}"] for k in SHARES)
    return f"  {label:<34} wall={totals['wall_s']:7.3f} s  {cells}  sum={total:.3f}"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--workloads", default=",".join(WORKLOADS))
    args = p.parse_args()
    ok = True
    for w in args.workloads.split(","):
        plain = run(w, args.seed, args.seconds, 0)
        traced = [run(w, args.seed, args.seconds, 1) for _ in range(2)]
        failed, attempted = plain["failed"], plain["attempted"]
        ok &= failed == 0 and all(t["failed"] == 0 for t in traced)
        print(f"== {w} (seed {args.seed})")
        print(f"  setup_s={plain['setup_s']:.3f} s  cold_s={plain['cold_s']:.3f} s"
              f"  warm_s={plain['warm_s']:.3f} s"
              f"  failed_frac={failed / attempted:.4f} ratio ({failed}/{attempted})"
              f"  heap_retained_mb={plain['heap_retained_mb']:.1f} MB")
        print("  env " + json.dumps(plain["env"], sort_keys=True))

        first, second = pass_metrics(traced[0]), pass_metrics(traced[1])
        print("  layer shares of wall time, per pass:")
        for name, totals in first.items():
            print(shares_line(name, totals))
        print("  layer shares of wall time, per query (cold pass):")
        for q in traced[0]["layers"]["cold"]["queries"]:
            print(shares_line(q["name"], q["metrics"]))
        warm = first[traced[0]["warm_pass"]]["wall_s"] - plain["walls"][plain["warm_pass"]]
        print(f"  tracing overhead: cold {first['cold']['wall_s'] - plain['walls']['cold']:+.3f} s,"
              f" warm {warm:+.3f} s (traced minus untraced wall time)")

        for name in first:
            a, b = first[name], second[name]
            bad = [k for k in EXACT if a[k] != b[k]]
            n0, n1 = a["codegen.compiles"], b["codegen.compiles"]
            if abs(n0 - n1) > COMPILE_TOLERANCE * first["cold"]["codegen.compiles"]:
                bad.append("codegen.compiles")
            ok &= not bad
            status = "identical" if not bad else f"DIFFER in {bad}"
            print(f"  self-check {name}: {status} (jobs {a['sched.jobs']:.0f},"
                  f" stages {a['sched.stages']:.0f}, compiles {n0:.0f}/{n1:.0f})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
