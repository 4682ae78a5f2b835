"""Tests for the stdlib event-log parser.

``data/eventlog_a.json`` and ``data/eventlog_b.json`` were recorded by
``record_eventlog.py`` twice with seed 1 at sf0.001 (Spark 4.1, local[4]).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG_A = os.path.join(HERE, "data", "eventlog_a.json")
LOG_B = os.path.join(HERE, "data", "eventlog_b.json")
GROUPS = [f"{h}:{r}" for h in ("pricing_summary", "dedup_cascade_verify") for r in ("cold", "warm")]
# counts a rerun of the same inputs must reproduce exactly
EXACT = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "scan_files",
    "scan_bytes",
    "scan_rows",
    "py_bytes_sent",
    "py_bytes_returned",
    "py_rows_sent",
)


def _synthetic() -> list[dict]:
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 11, "metricType": "size"},
            {"name": "time to run Python workers", "accumulatorId": 12, "metricType": "timing"},
        ],
        "children": [
            {
                "nodeName": "Scan parquet ",
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 13, "metricType": "sum"},
                    {"name": "size of files read", "accumulatorId": 14, "metricType": "size"},
                ],
                "children": [],
            }
        ],
    }
    return [
        {
            "Event": eventlog.SQL_START,
            "executionId": 0,
            "jobGroupId": "g1",
            "sparkPlanInfo": plan,
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 5000,
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "g1", "spark.sql.execution.id": "0"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Metrics": {
                "Executor Run Time": 250,
                "Executor CPU Time": 2_000_000,
                "JVM GC Time": 10,
                "Disk Bytes Spilled": 7,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 99},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
                "Output Metrics": {"Bytes Written": 3},
            },
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Accumulables": [
                    {"ID": 11, "Value": "100"},
                    {"ID": 12, "Value": "1500"},
                    {"ID": 13, "Value": "42"},
                ],
                "RDD Info": [
                    {
                        "RDD ID": 3,
                        "Storage Level": {"Use Memory": True, "Use Disk": False},
                        "Memory Size": 64,
                        "Disk Size": 0,
                    }
                ],
            },
        },
        # a later stage reports the same accumulator's running total
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 0, "Accumulables": [{"ID": 11, "Value": "160"}]},
        },
        {"Event": eventlog.SQL_DRIVER_ACCUMS, "executionId": 0, "accumUpdates": [[14, 2048]]},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 1,
            "Submission Time": 6000,
            "Stage IDs": [2],
            "Properties": {},
        },
    ]


def test_fold_sums_task_metrics_and_sql_metrics_per_group():
    rows = eventlog.fold(_synthetic())
    g = rows["g1"]
    assert g["jobs"] == 1 and g["stages"] == 2 and g["tasks"] == 1
    assert g["task_run_s"] == pytest.approx(0.25)
    assert g["task_cpu_s"] == pytest.approx(0.002)
    assert g["gc_s"] == pytest.approx(0.01)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"]) == (100, 40)
    assert (g["spill_bytes"], g["output_bytes"], g["cache_bytes"]) == (7, 3, 64)
    assert g["py_bytes_sent"] == 160  # the largest running total, not a sum of reports
    assert g["py_exec_s"] == pytest.approx(1.5)
    assert g["py_rows_sent"] == 42  # rows the Python node was fed
    assert g["scan_bytes"] == 2048  # driver-side accumulator update
    assert g["job_submit_s"] == [5.0]
    assert rows[""]["jobs"] == 1  # a job outside any group


def test_rolling_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for part in (2, 1, 10):
        (d / f"events_{part}_local-1").write_text(json.dumps({"Event": f"p{part}"}) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in eventlog.iter_events(str(tmp_path))] == ["p1", "p2", "p10"]


def test_recorded_log_attributes_each_head_run():
    rows = eventlog.fold_path(LOG_A)
    assert set(GROUPS) <= set(rows)
    ps = rows["pricing_summary:warm"]
    assert ps["jobs"] >= 1 and ps["tasks"] >= ps["stages"] >= 1
    assert ps["scan_rows"] > 0 and ps["scan_bytes"] > 0
    assert ps["py_bytes_sent"] == 0  # a plain SQL head never crosses the boundary
    dc = rows["dedup_cascade_verify:warm"]
    assert dc["py_bytes_sent"] > 0 and dc["py_bytes_returned"] > 0
    assert dc["py_exec_s"] > 0


@pytest.mark.parametrize("group", GROUPS)
def test_counts_repeat_exactly_across_two_runs_with_one_seed(group):
    a, b = eventlog.fold_path(LOG_A)[group], eventlog.fold_path(LOG_B)[group]
    assert {c: a[c] for c in EXACT} == {c: b[c] for c in EXACT}
