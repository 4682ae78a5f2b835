"""Unique-visitor (UV/DAU) dedup — W2 batch analog.

Reference (``gmall-realtime/.../app/dwm/UniqueVisitApp.java:54-95``):
keyed ``ValueState`` with a 1-day TTL stores the last visit date per
device; a record is kept only if it is the first seen for its key on its
event date. The kept stream feeds DAU counts.

Batch analog (SURVEY §2.6): ``row_number() over (partition by user, day
order by ts) = 1``. The streaming variant uses watermark-bounded
``dropDuplicates`` / ``applyInPandasWithState`` (``streaming/``). At
100 TB the batch form is one shuffle on (user, day) with no skew risk —
the key space is user×day, far wider than executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

UV_DEDUP_ORACLE = """
SELECT user_id,
       strftime(ts, '%Y%m%d') AS visit_ymd,
       event_id AS first_event_id,
       ts AS first_ts
FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
           ) AS rn
    FROM events
) WHERE rn = 1
"""


def uv_dedup_frame(events: DataFrame) -> DataFrame:
    """First visit per (user, day) over any events-shaped frame.

    Frame-level core of ``uv_dedup`` so layered pipelines can compose it
    on intermediate streams (e.g. the DWD page branch feeding the DWM UV
    stage — the reference's topic-per-layer chain,
    ``UniqueVisitApp.java:45-50`` consuming ``dwd_page_log``).
    ``event_id`` breaks ts ties so the kept row is deterministic (the
    reference relies on arrival order, which has no batch meaning).
    """
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_format("ts", "yyyyMMdd").alias("visit_ymd"),
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@register("uv_dedup", oracle=UV_DEDUP_ORACLE, tags=("W2", "W6"))
def uv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First visit per (user, day) — UniqueVisitApp.java:83-93 semantics."""
    return uv_dedup_frame(load_table(spark, sf_dir, "events"))


DAU_ORACLE = """
SELECT strftime(ts, '%Y%m%d') AS ymd,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
FROM events
GROUP BY strftime(ts, '%Y%m%d')
"""


# rotated out of the driver window (round 10): long-green since round 1,
# shape priced by uv_dedup; hash parity still enforced by the local sweep
@register("dau_by_day", oracle=DAU_ORACLE, tags=("W2", "dws", "unbenched"), past_window=True)
def dau_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — the DWS consumer of the UV stream.

    The reference stops at the deduped ``dwm_unique_visit`` topic
    (UniqueVisitApp.java:103); this is the aggregate it exists to serve.
    Exact distinct here (oracle-comparable); the 100 TB dashboard path is
    ``approx_count_distinct`` (HLL, no exact-distinct shuffle), exposed in
    ``operators/windows.py``.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd"))
        .agg(F.countDistinct("user_id").alias("dau"))
    )


def dau_hll_sketches(events: DataFrame) -> DataFrame:
    """Per-day DataSketches HLL sketch of the active-user set — the
    mergeable form of ``dau_by_day``'s distinct count.

    Unlike ``approx_count_distinct`` (whose HLL++ state Spark never
    exposes), ``hll_sketch_agg`` returns the sketch itself as BINARY,
    so per-batch sketches land in a ``batch_store_job`` store and
    ``hll_union_agg`` merges them later — union is register-wise max,
    making estimate(union(per-batch sketches)) EXACTLY equal to
    estimate(one sketch over all events). Shared by the batch twin
    ``dau_hll_estimate`` and the streaming ``dau_hll_job`` partials so
    the two cannot drift.
    """
    return events.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd")).agg(
        F.hll_sketch_agg("user_id").alias("users_sketch")
    )


def dau_hll_estimate(events: DataFrame) -> DataFrame:
    """Batch HLL twin of ``dau_by_day``: sketch → estimate, one pass."""
    return dau_hll_sketches(events).select(
        "ymd", F.hll_sketch_estimate("users_sketch").alias("approx_dau")
    )
