"""New/returning-visitor repair — W1 batch analog.

Reference (``gmall-realtime/.../app/dwd/BaseLogTask.java:65-99``): keyed
``ValueState`` per device id stores the first visit date; an incoming
record claiming ``is_new == "1"`` is rewritten to ``"0"`` when the stored
date exists and differs from the event's date.

Batch analog (SURVEY §2.6): the authoritative first-visit date is
``min(event_date) over (partition by user)`` — an event is "new" iff it
falls on its user's first active day. The streaming variant with real
per-key state lives in ``streaming/stateful.py``; this relational form is
both the oracle for it and the efficient backfill path (one shuffle on
the user key, partial aggregation map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

VISITOR_REPAIR_ORACLE = """
SELECT event_id,
       user_id,
       strftime(ts, '%Y%m%d') AS ymd,
       CASE WHEN CAST(ts AS DATE) = min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
            THEN '1' ELSE '0' END AS is_new
FROM events
"""


@register("visitor_repair", oracle=VISITOR_REPAIR_ORACLE, tags=("W1",))
def visitor_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair the is_new flag against the user's true first visit date.

    Matches BaseLogTask.java:84-96 semantics with event time standing in
    for the reference's wall-clock date (deviation documented in SURVEY
    §7). String '1'/'0' output mirrors the reference's string flag.
    """
    events = load_table(spark, sf_dir, "events")
    first_date = F.min(F.to_date("ts")).over(Window.partitionBy("user_id"))
    return events.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyyMMdd").alias("ymd"),
        F.when(F.to_date("ts") == first_date, "1").otherwise("0").alias("is_new"),
    )
