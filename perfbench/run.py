#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``realtime_ingest``: the five streaming apps, open loop (``realtime.py``);
- ``warehouse_queries``: registered heads under ``operators/`` plus DWS
  ``*_from_store`` readers, closed loop, one client (``queries.py``);
- ``curation_queries``: registered heads under ``functions/``, same loop.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns Spark's event log on and reports
the per-layer metrics instead (see ``README.md`` for every definition).
The line before it carries the provenance stamp. Output checks run after
the timed window; any mismatch counts as failed and the exit code is 1.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("realtime_ingest", "warehouse_queries", "curation_queries")
DEADLINE_S = 170  # the run must end well inside three minutes

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_s_p50": "s",
    "cold_latency_s": "s",
    "throughput_per_s": "1/s",
}


def _watchdog(work: str) -> threading.Event:
    """After ``DEADLINE_S``, dump every thread's stack, kill the JVM and
    every other child, and exit 3 without a result. Set the returned
    event to disarm it."""
    import harness

    done = threading.Event()

    def fire() -> None:
        if done.wait(DEADLINE_S):
            return
        print("perfbench: run exceeded its deadline", file=sys.stderr, flush=True)
        faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
        harness.reap_children(timeout=5.0)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    threading.Thread(target=fire, name="perfbench-watchdog", daemon=True).start()
    return done


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gmall_flink_parent_spark")):
        print("perfbench: engine package gmall_flink_parent_spark not found", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    watchdog = _watchdog(work)
    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        watchdog.set()
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-detail " + json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


def run(workload: str, seed: int, seconds: float, trace: bool, work: str):
    import harness

    event_dir = os.path.join(work, "eventlog") if trace else None
    replaced = harness.configure(ROOT, work, event_dir)
    detail = {"workload": workload, "provenance": harness.provenance(ROOT, seed, replaced)}
    t_setup = time.perf_counter()
    spark, start_s = harness.start_session()
    try:
        jvm = harness.jvm_pid(spark)
        if workload == "realtime_ingest":
            out = _run_realtime(spark, seed, seconds, work, t_setup)
        else:
            out = _run_queries(spark, workload, seed, seconds, work, t_setup)
        out["e2e"]["peak_rss_mb"] = harness.peak_rss_mb(jvm)
    finally:
        harness.stop_session(spark)
    out["phases"]["session_start_s"] = start_s
    detail["provenance"]["loadavg_end"] = harness.loadavg()
    detail.update({k: v for k, v in out.items() if k not in ("e2e", "layer_inputs")})
    if trace:
        import eventlog
        import layers

        folded = eventlog.fold_path(event_dir)
        metrics = layers.per_layer(workload, out, folded)
        units = layers.UNITS
    else:
        metrics = {k: out["e2e"][k] for k in E2E_UNITS}
        units = E2E_UNITS
    result = {
        "correct": not out["bad"],
        "attempted": out["attempted"],
        "failed": out["failed"] + len(out["bad"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def _run_queries(spark, workload, seed, seconds, work, t_setup) -> dict:
    import queries
    import stats

    ops, phases, ctx = queries.setup(spark, workload, seed, work)
    setup_s = time.perf_counter() - t_setup
    runs = queries.measure(spark, ops, seconds)
    t0 = time.perf_counter()
    bad = queries.check(spark, ops, ctx)
    phases["check_s"] = time.perf_counter() - t0
    ok = [r for r in runs if r["ok"]]
    warm = [r for r in ok if not r["cold"]]
    cold = [r["total_s"] for r in ok if r["cold"]]
    # ops differ in cost by 10x: a pooled median would jump between ops
    # from run to run, so each op is summarised by its own median
    by_op: dict[str, list[float]] = {}
    for r in warm:
        by_op.setdefault(r["name"], []).append(r["total_s"])
    warm_med = {name: stats.median(v) for name, v in by_op.items()}
    elapsed = sum(r["total_s"] for r in runs if not r["cold"])
    nan = float("nan")
    e2e = {
        "setup_s": setup_s,
        "latency_s_p50": stats.geomean(list(warm_med.values())) if warm_med else nan,
        "cold_latency_s": stats.geomean(cold) if cold else nan,
        "throughput_per_s": len(warm) / elapsed if elapsed > 0 else nan,
    }
    return {
        "e2e": e2e,
        "phases": phases,
        "bad": bad,
        "attempted": len(runs),
        "failed": len(runs) - len(ok),
        "heads": [op.name for op in ops],
        "samples": {"warm": len(warm), "cold": len(cold)},
        "warm_median_s": warm_med,
        "layer_inputs": {"runs": runs},
    }


def _run_realtime(spark, seed, seconds, work, t_setup) -> dict:
    import realtime

    replay, phases = realtime.setup(spark, seed, seconds, work)
    setup_s = time.perf_counter() - t_setup
    m = realtime.measure(spark, replay, work)
    apps = m["apps"]
    t0 = time.perf_counter()
    bad = realtime.check(spark, replay, apps)
    phases.update(m["phases"], check_s=time.perf_counter() - t0)
    for err in apps.errors:
        bad.setdefault("apps", err)
    e2e = realtime.end_to_end(replay, m)
    files = m["window_files"]
    done = m["window_done"]
    lateness = m["lateness"]
    return {
        "e2e": {"setup_s": setup_s, **{k: e2e[k] for k in E2E_UNITS if k in e2e}},
        "phases": phases,
        "bad": bad,
        "attempted": len(files),
        "failed": sum(1 for f in files if f not in done),
        "samples": {"freshness": e2e["samples"], "tail_percentile": e2e["tail_percentile"]},
        "freshness_s_tail": e2e["freshness_s_tail"],
        "freshness_s_p50_by_app": e2e["freshness_s_p50_by_app"],
        "generator_lateness_s": {"max": max(lateness), "mean": sum(lateness) / len(lateness)},
        "offered": {
            "ticks_per_s": realtime.TICK_RATE,
            "rows_per_s": sum(replay.rows[f] for f in m["window_files"]) / (len(m["window_files"]) / 3) * realtime.TICK_RATE,
        },
        "layer_inputs": {"replay": replay, "apps": apps, "done": done, "files": files},
    }


if __name__ == "__main__":
    try:
        code = main()
    except SystemExit as exc:  # argparse's usage errors
        code = exc.code if isinstance(exc.code, int) else 2
    except BaseException:  # noqa: BLE001 - reported, then the same exit path
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # py4j's callback-server threads can block interpreter shutdown; the
    # JVM and every child are already stopped and reaped here
    os._exit(code)
