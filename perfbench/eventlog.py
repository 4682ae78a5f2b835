"""Stdlib parser for Spark's JSON event log.

Folds job, stage, task and SQL-metric events into one counter row per
job group. The benchmark sets a job group per operation (a query run),
and a streaming query's micro-batch jobs carry its run id as their job
group, so every counter lands on a named operation or streaming app.

Reads an uncompressed log: either one file or a rolling-log directory
(``events_<n>_<app id>`` parts, read in part order).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from collections.abc import Iterable, Iterator

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_PLAN = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric name -> counter it feeds (summed over every node carrying it)
_SQL_COUNTERS = {
    "number of files read": "scan_files",
    "size of files read": "scan_bytes",
    "scan time": "scan_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_worker_init_s",
    "time to initialize Python workers": "py_worker_init_s",
    "time to run Python workers": "py_exec_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_ROWS = "number of output rows"
SQL_METRICS_READ = (*_SQL_COUNTERS, _ROWS)  # every SQL metric name ``fold`` looks at

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "cache_bytes",
    "scan_files",
    "scan_bytes",
    "scan_rows",
    "scan_s",
    "py_bytes_sent",
    "py_bytes_returned",
    "py_rows_sent",
    "py_worker_init_s",
    "py_exec_s",
)


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def log_files(path: str) -> list[str]:
    """The event-log file(s) at ``path`` in write order."""
    if os.path.isfile(path):
        return [path]
    parts, others = [], []
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        m = re.match(r"events_(\d+)_", entry)
        if m:
            parts.append((int(m.group(1)), full))
        elif os.path.isdir(full):
            others.extend(log_files(full))
        elif entry.startswith(("app-", "local-")):
            others.append(full)
    return [f for _, f in sorted(parts)] + others


def iter_events(path: str) -> Iterator[dict]:
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


class _Metric:
    __slots__ = ("counter", "scale", "execution")

    def __init__(self, counter: str, scale: float, execution: int):
        self.counter, self.scale, self.execution = counter, scale, execution


def fold(events: Iterable[dict]) -> dict[str, dict]:
    """One counter dict per job group (``None`` group is keyed ``""``).

    Each dict holds every name in ``COUNTERS`` plus ``job_submit_s``, the
    sorted submission times (epoch seconds) of the group's jobs."""
    rows: dict[str, dict] = defaultdict(lambda: {**{c: 0 for c in COUNTERS}, "job_submit_s": []})
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metrics: dict[int, list[_Metric]] = defaultdict(list)
    acc_value: dict[int, float] = {}
    cached: dict[tuple[str, int], int] = {}

    def _add(acc_id: int, metric: _Metric) -> None:
        # AQE re-sends known plan nodes; an accumulator feeds each counter once
        if all(m.counter != metric.counter for m in metrics[acc_id]):
            metrics[acc_id].append(metric)

    def register_plan(execution: int, plan: dict) -> None:
        def walk(node: dict) -> None:
            name = node.get("nodeName", "")
            if _is_python_node(name):
                # rows a Python node was fed = its input's output rows
                child = _rows_below(node)
                if child is not None:
                    _add(child, _Metric("py_rows_sent", 1.0, execution))
            for m in node.get("metrics", []):
                counter = _SQL_COUNTERS.get(m["name"])
                if m["name"] == _ROWS and name.startswith("Scan"):
                    counter = "scan_rows"
                if counter:
                    scale = _TIME_SCALE.get(m["metricType"], 1.0)
                    _add(m["accumulatorId"], _Metric(counter, scale, execution))
            for c in node.get("children", []):
                walk(c)

        walk(plan)

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            row = rows[group]
            row["jobs"] += 1
            row["job_submit_s"].append(e["Submission Time"] / 1000.0)
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_group.setdefault(int(ex), group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            rows[group]["stages"] += 1
            for acc in info.get("Accumulables", []):
                _note(acc_value, acc["ID"], acc.get("Value"))
            for rdd in info.get("RDD Info", []):
                level = rdd.get("Storage Level", {})
                if level.get("Use Memory") or level.get("Use Disk"):
                    key = (group, rdd["RDD ID"])
                    size = rdd.get("Memory Size", 0) + rdd.get("Disk Size", 0)
                    cached[key] = max(cached.get(key, 0), size)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"], "")
            m = e.get("Task Metrics")
            if not m:
                continue
            row = rows[group]
            row["tasks"] += 1
            row["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            row["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            row["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif kind == SQL_START:
            ex = e["executionId"]
            if e.get("jobGroupId"):
                exec_group.setdefault(ex, e["jobGroupId"])
            register_plan(ex, e["sparkPlanInfo"])
        elif kind == SQL_AQE_PLAN:
            register_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_AQE_METRICS:
            for m in e.get("sqlPlanMetrics", []):
                counter = _SQL_COUNTERS.get(m["name"])
                if counter:
                    scale = _TIME_SCALE.get(m["metricType"], 1.0)
                    _add(m["accumulatorId"], _Metric(counter, scale, e["executionId"]))
        elif kind == SQL_DRIVER_ACCUMS:
            for acc_id, value in e.get("accumUpdates", []):
                _note(acc_value, acc_id, value)

    for acc_id, value in acc_value.items():
        for m in metrics.get(acc_id, ()):
            rows[exec_group.get(m.execution, "")][m.counter] += value * m.scale
    for (group, _), size in cached.items():
        rows[group]["cache_bytes"] += size
    for row in rows.values():
        row["job_submit_s"].sort()
    return dict(rows)


def _note(acc_value: dict[int, float], acc_id: int, value) -> None:
    """Keep the largest report of an accumulator: stage and driver
    reports carry its running total, so the last one is the largest."""
    try:
        v = float(value)
    except (TypeError, ValueError):
        return
    if v > acc_value.get(acc_id, float("-inf")):
        acc_value[acc_id] = v


def _rows_below(node: dict) -> int | None:
    """Accumulator id of the nearest descendant's output-row metric."""
    for c in node.get("children", []):
        for m in c.get("metrics", []):
            if m["name"] == _ROWS:
                return m["accumulatorId"]
        found = _rows_below(c)
        if found is not None:
            return found
    return None


def fold_path(path: str) -> dict[str, dict]:
    return fold(iter_events(path))
