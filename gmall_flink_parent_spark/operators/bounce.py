"""Bounce/jump detection (CEP analog, W3) and as-of join.

Reference (``gmall-realtime/.../app/dwm/UserJumpDetailApp.java``): a CEP
pattern per device — landing event (``last_page_id`` empty) followed
*strictly next* by any page event within 10 s (``:101-128``); the
**timeouts** are the result (``:134-159``): a landing page with no
follow-up within the window is a bounce.

Batch analog (SURVEY §2.6 W3): ``lag``/``lead`` over (user, ts). A
landing event is one whose gap from the previous event exceeds the
session threshold (the reference's "last_page_id empty" marker has no
column here); it bounced iff the *next* event is absent or beyond the
window. Window arithmetic uses integer microseconds so batch, streaming
and the DuckDB oracle agree bit-for-bit. The stateful streaming version
(event-time timeout state machine) lives in ``streaming/stateful.py``.

The reference's 10 s window scales to 30 min here because the synthetic
``events`` table has ~minutes-to-hours inter-event gaps (median ≈ 7.7 h).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register
from gmall_flink_parent_spark.sources.tables import load_table

BOUNCE_WINDOW_US = 30 * 60 * 1_000_000  # 30 min, in microseconds

BOUNCE_ORACLE = f"""
SELECT event_id, user_id, ts
FROM (
    SELECT event_id, user_id, ts,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS prev_gap_us,
           lead(epoch_us(ts)) OVER w - epoch_us(ts) AS next_gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE (prev_gap_us IS NULL OR prev_gap_us > {BOUNCE_WINDOW_US})
  AND (next_gap_us IS NULL OR next_gap_us > {BOUNCE_WINDOW_US})
"""


@register("bounce_detect", oracle=BOUNCE_ORACLE, tags=("W3", "X4", "W4"), past_window=True)
def bounce_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing events with no strictly-next event inside the window.

    Reproduces the strict-contiguity + timeout semantics of the CEP
    pattern (UserJumpDetailApp.java:101-159): matched pairs are discarded,
    timeouts are emitted. One shuffle on the user key; lag/lead are
    computed in a single window pass.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev_gap = us - F.lag(us).over(w)
    next_gap = F.lead(us).over(w) - us
    return (
        events.select("event_id", "user_id", "ts", prev_gap.alias("pg"), next_gap.alias("ng"))
        .filter(
            (F.col("pg").isNull() | (F.col("pg") > BOUNCE_WINDOW_US))
            & (F.col("ng").isNull() | (F.col("ng") > BOUNCE_WINDOW_US))
        )
        .select("event_id", "user_id", "ts")
    )


ASOF_ORACLE = """
SELECT event_id,
       user_id,
       ts,
       last_view_ts,
       CASE WHEN last_view_ts IS NULL THEN NULL
            ELSE epoch_us(ts) - epoch_us(last_view_ts) END AS view_to_purchase_us
FROM (
    SELECT event_id, user_id, ts, event_type,
           last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_view_ts
    FROM events
)
WHERE event_type = 'purchase'
"""


# rotated out of the driver window in round 13 (long-green since r2;
# purchase_dim_asof keeps the as-of family in-window)
@register(
    "purchase_asof_view",
    oracle=ASOF_ORACLE,
    tags=("J1", "asof"),
    past_window=True,
)
def purchase_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior view.

    Spark has no native as-of join (SURVEY §4 / pyspark guide); this is
    the composition path — a single window pass with ``last(...,
    ignoreNulls)`` over the union of both "sides", which at scale is one
    shuffle on the join key and strictly cheaper than per-group
    ``merge_asof`` in Python. Attribution semantics mirror the
    reference's dim-enrichment idea applied across time.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        events.withColumn("last_view_ts", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_view_ts",
            F.when(
                F.col("last_view_ts").isNull(), F.lit(None).cast("long")
            )
            .otherwise(F.unix_micros("ts") - F.unix_micros("last_view_ts"))
            .alias("view_to_purchase_us"),
        )
    )
