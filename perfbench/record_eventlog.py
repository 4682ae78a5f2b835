#!/usr/bin/env python3
"""Record the small event-log fixture the parser tests read.

    python3 perfbench/record_eventlog.py perfbench/tests/data/eventlog_a.json --seed 1

Generates sf0.001 tables from the seed, runs two registered heads (one
plain SQL head, one that crosses the Python boundary) twice each, cold
then warm, each under its own job group, with Spark's event log on. The
log is trimmed to the events ``eventlog.fold`` reads and written as one
JSON object per line. Recording twice with the same seed gives two logs
whose counts must agree; ``tests/test_eventlog.py`` checks that.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEADS = ("pricing_summary", "dedup_cascade_verify")
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
}
_KEEP_PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def _plan(node: dict, read: set[str]) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": [m for m in node.get("metrics", []) if m["name"] in read],
        "children": [_plan(c, read) for c in node.get("children", [])],
    }


def _trim(e: dict, read: set[str]) -> dict:
    """Drop the bulky fields and plan metrics the parser never reads."""
    if "sparkPlanInfo" in e:
        e["sparkPlanInfo"] = _plan(e["sparkPlanInfo"], read)
    if "sqlPlanMetrics" in e:
        e["sqlPlanMetrics"] = [m for m in e["sqlPlanMetrics"] if m["name"] in read]
    for k in ("physicalPlanDescription", "details", "Task Executor Metrics", "modifiedConfigs"):
        e.pop(k, None)
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items() if k in _KEEP_PROPS}
    if "Stage Infos" in e:
        e["Stage Infos"] = [{"Stage ID": s["Stage ID"]} for s in e["Stage Infos"]]
    info = e.get("Stage Info")
    if info is not None:
        info.pop("Details", None)
        info["Accumulables"] = [
            {"ID": a["ID"], "Value": a.get("Value")} for a in info.get("Accumulables", [])
        ]
        info["RDD Info"] = [
            {k: r[k] for k in ("RDD ID", "Storage Level", "Memory Size", "Disk Size")}
            for r in info.get("RDD Info", [])
            if r["Storage Level"].get("Use Memory") or r["Storage Level"].get("Use Disk")
        ]
    task = e.get("Task Info")
    if task is not None:
        task.pop("Accumulables", None)
    return e


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    import datagen
    import eventlog
    import harness

    work = os.path.join(HERE, ".work", f"record-{os.getpid()}")
    events_dir = os.path.join(work, "eventlog")
    try:
        harness.configure(ROOT, work, events_dir)
        spark, _ = harness.start_session()
        try:
            data = os.path.join(work, "data")
            datagen.write_tables(datagen.generate(args.seed, 0.001), data)
            from gmall_flink_parent_spark import plans

            q = plans.query_map()
            for rep in ("cold", "warm"):
                for name in HEADS:
                    spark.sparkContext.setJobGroup(f"{name}:{rep}", name)
                    q[name](spark, data).write.format("noop").mode("overwrite").save()
        finally:
            harness.stop_session(spark)
        read = set(eventlog.SQL_METRICS_READ)
        with open(args.out, "w", encoding="utf-8") as fh:
            for e in eventlog.iter_events(events_dir):
                if e.get("Event") in KEEP:
                    fh.write(json.dumps(_trim(e, read), separators=(",", ":")) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
