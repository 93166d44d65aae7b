"""Capture .explain("formatted") for named catalog entries into
plans/<round>/<name>_<tag>.txt (optimization-round deliverable: the
judge checks plan claims against these files).

Usage: python tools/capture_plans.py --tag before name1 name2 ...
Never run concurrently with bench.py or pytest.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = "before"
    rnd = "r08"
    sf = "/root/testdata/sf0.1"
    names: list[str] = []
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--tag":
            tag = args[i + 1]
            i += 2
        elif a == "--sf":
            sf = args[i + 1]
            i += 2
        elif a == "--round":
            rnd = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1

    from bench import open_session
    from spark_monotasks_spark.queries import QUERY_REGISTRY

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    spark = open_session("capture-plans", sf)

    for name in names:
        fn = QUERY_REGISTRY[name]
        df = fn(spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
