"""Split per-query time into construction / planning / execution.

For each named query: time (a) fn(spark, sf_dir) construction (py4j +
analysis of intermediate actions the body itself runs — eager persists,
counts), (b) .explain('formatted') on the result (analysis + optimization
+ physical planning of the FINAL frame, driver-only), (c) the noop-sink
write (the bench's timed action), all min-of-REPS. Construction cost that
includes the body's own jobs (eager count()s) is attributed to (a) —
exactly what the bench pays before the final action.

Usage: python scripts/profile_split.py [--sf DIR] [--reps N] q1 q2 ...
"""
from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from bench import warm_up
    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.session import get_spark

    spark = get_spark("profile-split")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = plans.query_map()
    warm_up(spark)

    print(f"{'constr':>8} {'explain':>8} {'write':>8} {'total':>8}  name")
    for name in args.names:
        best = [float("inf")] * 3
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = qmap[name](spark, args.sf)
            t1 = time.perf_counter()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            best = [
                min(best[0], t1 - t0),
                min(best[1], t2 - t1),
                min(best[2], t3 - t2),
            ]
        print(
            f"{best[0]:8.3f} {best[1]:8.3f} {best[2]:8.3f}"
            f" {sum(best):8.3f}  {name}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
