"""Isolated per-query measurement + plan capture for optimization work.

Runs the named registered queries (or the N slowest from a bench detail
map) one at a time in THIS process: min-of-REPS noop-sink timing through
``bench.warm_up`` / ``bench.time_head``, and optionally writes
``plans/<name>_<TAG>.txt`` (git-ignored) with the
``.explain('formatted')`` output so plan claims are reviewable without
Spark.

Usage:
    python scripts/isolate_query.py [--sf DIR] [--reps N] [--plans TAG] q1 q2 ...
    python scripts/isolate_query.py --slowest K   # from a local bench.py run's BENCH_DETAIL.json
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write plans/<q>_<TAG>.txt")
    ap.add_argument("--slowest", type=int, default=0)
    args = ap.parse_args()

    from bench import time_head, warm_up
    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.session import get_spark

    names = list(args.names)
    if args.slowest:
        detail = json.load(open(os.path.join(HERE, "BENCH_DETAIL.json")))
        names += [
            k
            for k, _ in sorted(detail["queries"].items(), key=lambda x: -x[1])[
                : args.slowest
            ]
        ]

    spark = get_spark("isolate-query")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = plans.query_map()
    warm_up(spark)

    plandir = os.path.join(HERE, "plans")
    out: dict[str, float] = {}
    for name in names:
        if args.plans:
            os.makedirs(plandir, exist_ok=True)
            df = qmap[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{plandir}/{name}_{args.plans}.txt", "w") as f:
                f.write(buf.getvalue())
        if args.reps == 0:
            print(f"plan-only  {name}", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        best, _ = time_head(spark, qmap[name], args.sf, args.reps)
        out[name] = round(best, 3)
        la = round(os.getloadavg()[0], 1)
        print(f"{out[name]:8.3f}  load={la:5.1f}  {name}", flush=True)
    print(json.dumps({"sf": args.sf, "reps": args.reps, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
