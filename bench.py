"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The line is hard-capped at
STDOUT_LINE_BUDGET chars (the driver records only the last 2000 chars of
stdout; BENCH_r05/r08 arrived decapitated when the line outgrew that):
`queries` is budget-packed slowest-first with `n_queries`/`queries_omitted`
markers, and the FULL per-query map lives in BENCH_DETAIL.json.

The headline queries are every registered query without the
``"unbenched"`` tag, in registry order; QUERIES.md "## Bench tiers" says
why each tagged head is skipped.

Each query is materialized with a noop sink (full execution, no
collect/driver cost). Timings are end-to-end per query including plan
time — the same thing a user of the engine pays.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports
the MIN: a 50-query single-JVM session occasionally hits multi-second
environment stalls (GC/compilation pauses — the round-2 driver run
recorded one query at 17× its reproducible time), and the min of the
runs measures the engine rather than the pause. Caches are query-scoped
(``gmall_flink_parent_spark/registry.py``), so repetitions recompute from
the source — the min is a true cold-cache time, not a cache hit.

``warm_up`` and ``time_head`` are the one warm-up and timing loop;
``scripts/isolate_query.py`` and ``scripts/profile_split.py`` call them
too.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

UNBENCHED_TAG = "unbenched"


def headline() -> list[str]:
    """Every registered head without the ``"unbenched"`` tag, registry order."""
    from gmall_flink_parent_spark import plans

    return [n for n, s in plans.all_queries().items() if UNBENCHED_TAG not in s.tags]


def warm_up(spark) -> None:
    """JVM/codegen warm-up on the smallest SF, so timed heads measure the
    engine, not first-query initialization."""
    from gmall_flink_parent_spark import plans

    plans.query_map()["pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()


def time_head(spark, fn, sf_dir: str, reps: int) -> tuple[float, float]:
    """(min, max) wall seconds over ``reps`` noop-sink runs of ``fn``."""
    best, worst = float("inf"), 0.0
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = min(best, dt)
        worst = max(worst, dt)
    return best, worst


# The driver captures only the LAST 2000 characters of bench stdout
# (BENCH_r07 "tail" is exactly 2000 chars and parsed; BENCH_r05/r08 lines
# outgrew it and arrived decapitated -> "parsed": null, no bench signal
# for the round). The final JSON line MUST fit, with margin for the
# trailing newline and any straggler log bytes.
STDOUT_LINE_BUDGET = 1800


def _pack_stdout_queries(
    timings: dict[str, float], base: dict, budget: int = STDOUT_LINE_BUDGET
) -> dict:
    """Return the stdout document: ``base`` + as many per-query timings as
    fit in ``budget`` serialized chars, slowest queries first (a 0.1 s head
    omitted from the driver line still has its BENCH_DETAIL.json entry).
    Adds ``n_queries`` (full count) and ``queries_omitted`` (how many
    didn't fit) so a partial map is self-describing, never silently
    truncated."""
    doc = {**base, "n_queries": len(timings), "queries_omitted": 0, "queries": {}}
    overhead = len(json.dumps(doc))
    picked: dict[str, float] = {}
    used = overhead
    for name in sorted(timings, key=lambda n: -timings[n]):
        cost = len(json.dumps({name: timings[name]})) + 2  # ", " separator
        if used + cost > budget:
            break
        picked[name] = timings[name]
        used += cost
    doc["queries"] = {n: picked[n] for n in timings if n in picked}  # stable order
    doc["queries_omitted"] = len(timings) - len(picked)
    return doc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark import plans

    spark = get_spark("gmall-bench")
    # ERROR-only logging for the bench session: the driver's tail capture
    # is finite, and benign WARNs (WindowExec on the tiny-summary frames —
    # #partitions-row / 20-row windows, single-partition by construction)
    # flooded the BENCH_r06 tail. The JSON line must own the tail.
    spark.sparkContext.setLogLevel("ERROR")
    qmap = plans.query_map()
    warm_up(spark)

    # 3 reps: this microVM carries variable external load (observed
    # load-average ~6 with zero local processes); with 2 reps one noisy
    # rep pollutes half the min-pool, with 3 the min survives a single
    # stall and the spread diagnosis keys off a real sample.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    load_per_query: dict[str, float] = {}
    for name in headline():
        best, worst = time_head(spark, qmap[name], sf_dir, reps)
        timings[name] = round(best, 3)
        spreads[name] = round(worst / best, 2) if best > 0 else 1.0
        try:
            load_per_query[name] = round(os.getloadavg()[0], 1)
        except OSError:
            load_per_query[name] = -1.0

    # Host-stall self-diagnosis: on this microVM a stalled sweep inflates
    # *every* query's slow rep uniformly (BENCH_r04 recorded 3-25x across
    # the board; the same code measured 0.61x baseline on an idle machine).
    # A median max/min spread over ~2x across reps is that signature —
    # label the artifact so a stalled run is distinguishable without
    # re-running (SCALE.md "host stall" section).
    ordered = sorted(spreads.values())
    if not ordered:
        median_spread = 1.0
    elif len(ordered) % 2:
        median_spread = ordered[len(ordered) // 2]
    else:  # even count: true median, not the upper-middle element
        median_spread = round(
            (ordered[len(ordered) // 2 - 1] + ordered[len(ordered) // 2]) / 2, 2
        )
    stall_suspect = reps >= 2 and median_spread > 2.0

    try:  # host pressure at sweep end — the stall-adjudication context
        loadavg = [round(x, 1) for x in os.getloadavg()]
    except OSError:
        loadavg = None
    base = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "stall_suspect": stall_suspect,
        "median_rep_spread": median_spread,
        "loadavg": loadavg,
    }
    # Stdout gets the summary + a budget-packed slowest-first subset of
    # per-query mins; the FULL per-query map, rep spreads and per-query
    # loadavg go to BENCH_DETAIL.json (`isolate_query.py --slowest` reads it).
    detail = {
        **base,
        "queries": timings,
        "rep_spread": spreads,
        "loadavg_per_query": load_per_query,
        "reps": reps,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # diagnosis file is best-effort; the stdout line is the artifact
    line = json.dumps(_pack_stdout_queries(timings, base))
    # Hard gate: an oversized line is a FAILED bench run locally, never a
    # silently-decapitated driver artifact.
    assert len(line) <= STDOUT_LINE_BUDGET, (
        f"stdout line {len(line)} chars exceeds the {STDOUT_LINE_BUDGET}-char "
        "driver tail budget — _pack_stdout_queries is broken"
    )
    print(line)


if __name__ == "__main__":
    main()
