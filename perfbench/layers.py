"""Per-layer metrics of a traced run, named after the engine's modules.

Counters come from the event log (``eventlog.fold``), keyed by job group:
one group per query run, and one per streaming query run id, mapped to
its app. Unless a name says otherwise, counts, bytes and busy times are
means per operation of the measured window: a query run on the query
workloads, a landed ODS file on ``realtime_ingest``. Latencies named
``_p50`` are medians.
"""

from __future__ import annotations

import stats

APPS = ("log_split", "routing", "uv_dedup", "bounce", "order_wide")
STATEFUL = ("uv_dedup", "bounce", "order_wide")

_EXEC = {
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.task_run_s": ("task_run_s", "s"),
    "exec.task_cpu_s": ("task_cpu_s", "s"),
    "exec.gc_s": ("gc_s", "s"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "sources.files_read": ("scan_files", "count"),
    "sources.scan_bytes": ("scan_bytes", "bytes"),
    "sources.scan_rows": ("scan_rows", "count"),
    "sources.scan_s": ("scan_s", "s"),
    "functions.py_bytes_sent": ("py_bytes_sent", "bytes"),
    "functions.py_bytes_returned": ("py_bytes_returned", "bytes"),
    "functions.py_rows_sent": ("py_rows_sent", "count"),
    "functions.py_worker_init_s": ("py_worker_init_s", "s"),
    "functions.py_exec_s": ("py_exec_s", "s"),
}
_STREAMING = {
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.lag_files_max": "count",
}
_STATE = {
    "state.rows": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms_p50": "ms",
    "state.rows_dropped_by_watermark": "count",
}

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.cache_fill_bytes": "bytes",
    "exec.plan_s": "s",
    **{k: u for k, (_, u) in _EXEC.items()},
    **{f"{k}.{a}": u for k, u in _STREAMING.items() for a in APPS},
    **{f"{k}.{a}": u for k, u in _STATE.items() for a in STATEFUL},
    "store.bytes_written": "bytes",
    "store.write_amplification": "ratio",
    "store.read_s": "s",
    "trace.latency_s_p50": "s",
}


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def _med(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


def per_layer(workload: str, out: dict, folded: dict[str, dict]) -> dict[str, float]:
    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = out["phases"]["session_start_s"]
    m["trace.latency_s_p50"] = out["e2e"]["latency_s_p50"]
    if workload == "realtime_ingest":
        _realtime(m, out["layer_inputs"], folded)
    else:
        _queries(m, out["layer_inputs"]["runs"], folded)
    return m


def _queries(m: dict, runs: list[dict], folded: dict[str, dict]) -> None:
    empty = {k: 0 for k, _ in _EXEC.values()} | {"job_submit_s": [], "cache_bytes": 0}
    rows = [folded.get(r["group"], empty) for r in runs]
    for name, (counter, _) in _EXEC.items():
        m[name] = _mean([row[counter] for row in rows])
    m["plans.construct_s"] = _med([r["construct_s"] for r in runs])
    m["plans.construct_jobs"] = _mean(
        [sum(1 for t in row["job_submit_s"] if t < r["action_wall"]) for r, row in zip(runs, rows)]
    )
    m["plans.cache_fill_bytes"] = _mean([row["cache_bytes"] for row in rows])
    m["exec.plan_s"] = _med(
        [
            min(after) - r["action_wall"]
            for r, row in zip(runs, rows)
            if (after := [t for t in row["job_submit_s"] if t >= r["action_wall"]])
        ]
    )
    m["store.read_s"] = _med([r["total_s"] for r in runs if r["layer"] == "store"])


def _realtime(m: dict, inputs: dict, folded: dict[str, dict]) -> None:
    replay, apps, files = inputs["replay"], inputs["apps"], inputs["files"]
    n = max(len(files), 1)
    groups = [folded[g] for g in apps.run_ids if g in folded]
    for name, (counter, _) in _EXEC.items():
        m[name] = sum(row[counter] for row in groups) / n
    written = sum(row["output_bytes"] for row in groups)
    m["store.bytes_written"] = written
    landed = sum(replay.bytes[f] for f in replay.landed)
    m["store.write_amplification"] = written / landed if landed else 0.0

    for app in APPS:
        prog = [p for p in apps.progress[app] if p.get("numInputRows", 0) > 0]
        dur = [p.get("durationMs", {}) for p in prog]
        m[f"streaming.batches.{app}"] = len(prog)
        m[f"streaming.input_rows.{app}"] = sum(p["numInputRows"] for p in prog)
        m[f"streaming.trigger_ms_p50.{app}"] = _med([d.get("triggerExecution", 0) for d in dur])
        m[f"streaming.add_batch_ms_p50.{app}"] = _med([d.get("addBatch", 0) for d in dur])
        m[f"streaming.planning_ms_p50.{app}"] = _med([d.get("queryPlanning", 0) for d in dur])
        m[f"streaming.wal_commit_ms_p50.{app}"] = _med([d.get("walCommit", 0) for d in dur])
        m[f"streaming.lag_files_max.{app}"] = _lag_max(replay, apps.commits(app), app)
        if app in STATEFUL:
            every = apps.progress[app]
            ops = [p.get("stateOperators", []) for p in every]
            last = next((o for o in reversed(ops) if o), [])
            m[f"state.rows.{app}"] = sum(o.get("numRowsTotal", 0) for o in last)
            m[f"state.memory_bytes.{app}"] = sum(o.get("memoryUsedBytes", 0) for o in last)
            m[f"state.commit_ms_p50.{app}"] = _med(
                [sum(o.get("commitTimeMs", 0) for o in batch) for batch in ops if batch]
            )
            m[f"state.rows_dropped_by_watermark.{app}"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for batch in ops for o in batch
            )


def _lag_max(replay, commits: dict[str, float], app: str) -> int:
    """Most files the app had landed but not yet committed at once."""
    import realtime

    mine = [f for f in replay.landed if app in realtime.CONSUMERS[f.split("-")[0]]]
    worst = 0
    for t in sorted(replay.landed[f] for f in mine):
        lag = sum(
            1 for f in mine if replay.landed[f] <= t and commits.get(f, float("inf")) > t
        )
        worst = max(worst, lag)
    return worst
