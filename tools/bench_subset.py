"""Quick subset bench with optional session-conf overrides — the
iterate loop for optimization experiments (full methodology stays in
bench.py; this is single-pass, fresh-session, same timing harness).

Usage:
  python tools/bench_subset.py q1 q2 ... [--conf k=v]... [--sf DIR] [--reps N]
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    names: list[str] = []
    conf: dict[str, str] = {}
    sf = "/root/testdata/sf0.1"
    reps = 1
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--conf":
            k, v = args[i + 1].split("=", 1)
            conf[k] = v
            i += 2
        elif a == "--sf":
            sf = args[i + 1]
            i += 2
        elif a == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(a)
            i += 1

    import bench

    samples: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        t = bench.run_pass(sf, rep, names=names, extra_conf=conf)
        for n, v in t.items():
            samples[n].append(v)
    print(f"# conf: {conf}")
    total = 0.0
    for n in names:
        med = statistics.median(samples[n])
        total += med
        print(f"  {n:34s} {med:7.3f}  {samples[n]}")
    print(f"# subset total (median): {total:.3f}s")


if __name__ == "__main__":
    main()
