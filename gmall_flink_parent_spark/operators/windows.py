"""Windowed aggregates, top-k, rollup, sessionization — the DWS surface.

The reference's DWS/ADS layer is absent from the snapshot (SURVEY §0) —
``bean/TableProcess.java:15``'s unused ClickHouse sink constant is the
only trace. These queries supply the windowed-aggregate capability that
layer would hold, built purely from Spark built-ins (``window()``,
window functions, ``rollup``) so Catalyst plans partial aggregation
map-side and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import gated_broadcast, load_table

HOURLY_STATS_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def hourly_grain(events: DataFrame) -> DataFrame:
    """The (1-hour window, event_type) map-stage projection with the
    decimal money cast — ONE definition of the hourly grain shared by
    batch ``hourly_stats`` and the streaming ``hourly_stats_job``
    partials (``streaming/jobs.py``), so the two cannot drift."""
    return events.select(
        F.window("ts", "1 hour").alias("window"),
        "event_type",
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("value_dec"),
    )


# rotated out of the driver window in round 12 (long-green since r1;
# revenue_rollup + session_window_stats keep the window-agg family in)
@register(
    "hourly_stats",
    oracle=HOURLY_STATS_ORACLE,
    tags=("dws", "window-agg"),
    past_window=True,
)
def hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregate per event type.

    Uses ``F.window`` — the same logical operator Structured Streaming
    runs incrementally with a watermark (streaming twin:
    ``streaming/jobs.py::hourly_stats_stream``), so batch backfill and
    live pipeline share one definition (SURVEY §7 principle).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        hourly_grain(events)
        .groupBy("window", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            # exact decimal sum internally; DOUBLE only at the output edge
            # so the driver's representation-sensitive hash is stable
            F.sum("value_dec").cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


SLIDING_STATS_ORACLE = """
WITH x AS (
    SELECT event_type, value,
           unnest([time_bucket(INTERVAL '30 minutes', ts),
                   time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS win_start
    FROM events
)
SELECT win_start,
       win_start + INTERVAL '1 hour' AS win_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM x
GROUP BY win_start, event_type
"""


@register(
    "sliding_stats",
    oracle=SLIDING_STATS_ORACLE,
    tags=("dws", "window-agg", "sliding"),
    # rotated out of the driver window in round 11 (long-green since r1;
    # hash parity still enforced every run by tests/test_oracle_parity.py)
    past_window=True,
)
def sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregate: 1-hour windows every 30 min.

    ``F.window(ts, size, slide)`` expands each event into size/slide = 2
    window assignments before the partial aggregate — the expansion is a
    codegen projection, not a shuffle multiplier: bytes shuffled stay
    ∝ #groups. The same operator runs incrementally under Structured
    Streaming with a watermark. The oracle reproduces Spark's
    epoch-aligned window assignment with an explicit 2-element unnest.
    """
    return sliding_stats_frame(load_table(spark, sf_dir, "events"))


def sliding_stats_frame(events: DataFrame) -> DataFrame:
    """The hopping-window aggregate of ``sliding_stats`` over any events
    frame; ``streaming/jobs.py::sliding_stats_stream`` runs it on a
    watermarked stream."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TOPK_ORACLE = """
SELECT event_type, user_id, CAST(spend AS DOUBLE) AS spend, rnk
FROM (
    SELECT event_type, user_id, spend,
           row_number() OVER (PARTITION BY event_type ORDER BY spend DESC, user_id) AS rnk
    FROM (
        SELECT event_type, user_id, SUM(CAST(value AS DECIMAL(18,2))) AS spend
        FROM events
        GROUP BY event_type, user_id
    )
)
WHERE rnk <= 5
"""


def spend_by_type_user(events: DataFrame) -> DataFrame:
    """The per-(event_type, user_id) exact-decimal spend aggregate — the
    shared grain under ``topk_users_by_spend``,
    ``user_value_distribution`` (``operators/analytics.py``), and the
    streaming ``topk_spend_job`` partials: ONE definition, so the
    stream/batch parity tests pin a single computation and a typing
    change cannot drift between copies."""
    return events.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("spend")
    )


def rank_topk_spend(spend: DataFrame, k: int = 5) -> DataFrame:
    """Two-pass top-k rank over a (event_type, user_id, spend) frame.

    Because ``event_type`` has ~5 distinct values, a single window pass
    would sort users-per-type rows on ≤5 tasks at 100 TB; instead a
    **partial top-k per (type, shuffle-partition)** prunes the frame to
    ≤ k×partitions rows before the per-type final rank — the global
    top-k is always a subset of the partial winners. Deterministic
    ordering via (spend DESC, user_id). Shared by the batch query and
    the streaming job's final pass (``streaming/jobs.py``), so both
    rank with one definition.
    """
    w_partial = Window.partitionBy("event_type", "pid").orderBy(
        F.col("spend").desc(), "user_id"
    )
    pruned = (
        spend.withColumn("pid", F.spark_partition_id())
        .withColumn("prnk", F.row_number().over(w_partial))
        .filter(F.col("prnk") <= k)
        .drop("pid", "prnk")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("spend").desc(), "user_id")
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("event_type", "user_id", F.col("spend").cast("double").alias("spend"), "rnk")
    )


# rotated out of the driver window in round 12 (long-green since r1;
# user_value_distribution keeps the per-user rank family in-window)
@register(
    "topk_users_by_spend",
    oracle=TOPK_ORACLE,
    tags=("dws", "topk"),
    past_window=True,
)
def topk_users_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users per event type by exact decimal spend (two-pass top-k).

    Rank over an already-aggregated frame: the expensive shuffle touches
    (type,user) aggregates — tiny relative to the fact table. Streaming
    twin: ``streaming/jobs.py::topk_spend_job`` accumulates the same
    (type, user) decimal partials incrementally and ranks with the same
    ``rank_topk_spend`` pass.
    """
    return rank_topk_spend(spend_by_type_user(load_table(spark, sf_dir, "events")))


ROLLUP_ORACLE = """
SELECT r.r_name AS region_name,
       n.n_name AS nation_name,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


# rotated out of the driver window in round 13 (long-green since r1;
# pricing_summary + user_value_distribution keep the rollup/agg family
# in-window)
@register(
    "revenue_rollup",
    oracle=ROLLUP_ORACLE,
    tags=("dws", "rollup"),
    past_window=True,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation revenue rollup (grouping-sets surface).

    Dim joins broadcast; the rollup is computed as a single Expand +
    partial-agg plan by Catalyst — no N-pass recomputation.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = gated_broadcast(spark, sf_dir, "customer")
    nation = gated_broadcast(spark, sf_dir, "nation")
    region = gated_broadcast(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.col("o_totalprice"),
        )
    )
    return joined.rollup("region_name", "nation_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


CUBE_ORACLE = """
SELECT c.c_mktsegment AS mktsegment,
       o.o_orderpriority AS orderpriority,
       GROUPING(c.c_mktsegment, o.o_orderpriority) AS gid,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY CUBE (c.c_mktsegment, o.o_orderpriority)
"""


@register(
    "revenue_cube",
    oracle=CUBE_ORACLE,
    tags=("dws", "cube"),
    # rotated out of the driver window in round 11 (revenue_rollup keeps
    # the family in-window; local oracle suite still hash-checks this)
    past_window=True,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment × priority revenue CUBE with grouping_id.

    All four grouping sets come from one Expand + partial-agg pass (same
    plan family as rollup — never N recomputations); ``grouping_id``
    disambiguates NULL-as-total from NULL-as-value, which matters once
    dimensions are nullable at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = gated_broadcast(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("o_orderpriority").alias("orderpriority"),
        "o_totalprice",
    )
    return joined.cube("mktsegment", "orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SESSIONIZE_ORACLE = """
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM (
    SELECT user_id, ts, value,
           SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > 1800000000 OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    )
)
GROUP BY user_id, session_seq
"""


@register(
    "sessionize",
    oracle=SESSIONIZE_ORACLE,
    tags=("dws", "session"),
    # rotated out of the driver window in round 11 (session_window_stats,
    # promoted r10, keeps the session family in-window)
    past_window=True,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + running sum.

    Batch twin of streaming ``session_window(ts, gap)``; one shuffle on
    the user key serves both window passes and the final group-by
    (Catalyst reuses the partitioning). Gaps measured in integer
    microseconds for cross-engine determinism.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        events.withColumn("session_seq", sess)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
    )


APPROX_DAU_ORACLE = None  # approximate by design — rows-only check


@register("approx_dau_by_day", oracle=APPROX_DAU_ORACLE, tags=("dws", "approx", "unbenched"))
def approx_dau_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-based DAU — the 100 TB scale path for distinct counts.

    ``approx_count_distinct`` (HyperLogLog++) is mergeable map-side, so
    the shuffle carries fixed-size sketches instead of user-id sets.
    Approximate ⇒ no SQL oracle; ``tests/test_operators.py`` bounds its
    error against the exact count instead.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd"))
        .agg(F.approx_count_distinct("user_id").alias("approx_dau"))
    )


# ------------------------------------- native session windows (gap-param)

def session_stats_frame(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-(user, session) aggregates via Spark's NATIVE
    ``session_window(ts, gap)`` — the gap-parameterized session surface.

    ONE definition serves BOTH doors: called on a batch frame it is a
    regular aggregate; called on a watermarked streaming frame Spark
    merges windows incrementally and append-mode emits each session
    when the watermark passes its close (``sessionize_stream`` wraps
    exactly this). Session boundary: a new session starts when the gap
    to the previous event is ≥ the gap parameter (windows are
    [start, end) — an event landing exactly at last_ts + gap does NOT
    extend the session). ``session_close`` is the window end
    (last event ts + gap), the instant streaming state for the session
    can be dropped.
    """
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_close"),
            "n_events",
            "session_value",
        )
    )


SESSION_WINDOW_ORACLE = """
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM (
    SELECT user_id, ts, value,
           SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) >= 1800000000 OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    )
)
GROUP BY user_id, session_seq
"""


@register(
    "session_window_stats",
    oracle=SESSION_WINDOW_ORACLE,
    tags=("dws", "session", "window"),
    # promoted into the driver window in the round-10 rotation
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grain count/revenue via the NATIVE ``session_window``
    operator in batch — completing the window family
    (tumbling ``hourly_stats`` / hopping ``sliding_stats`` / session)
    with the built-in gap-merge operator rather than the hand-rolled
    lag + running-sum of ``sessionize``.

    The oracle re-derives the gap runs with lag + cumulative sum using
    the NATIVE boundary semantics (new session at diff ≥ gap, close =
    last ts + gap), so the hash match proves Spark's window-merge
    implementation against the order-theoretic definition on real
    data; a second pin (``test_native_session_window_matches_lag_sum``)
    proves it against the ``sessionize`` construction row-for-row, and
    the streaming twin (``sessionize_stream``) wraps the SAME frame
    function — one definition, both doors, three independent proofs.
    Scale shape: one shuffle on the session_window/user grouping; the
    gap merge is sort-local within each user partition — exactly the
    lag-window's cost, with the merge inside the aggregate operator.
    """
    return session_stats_frame(load_table(spark, sf_dir, "events"))


# --------------------------------------- session interval algebra
#
# The two heads below extend the session family from per-session
# aggregates to CROSS-session interval algebra: a sweep-line
# concurrency profile (no join at all) and a bucketed interval-overlap
# self-join (the scalable range-join pattern). Both consume the same
# session bounds the ``sessionize`` head defines (30-minute gap, new
# session when the gap strictly exceeds it), restated here as a lean
# [user, seq, start, end] frame so the interval heads don't drag the
# per-session value aggregates through the exchange.

SESSION_BOUNDS_SQL = """
SELECT user_id, session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM (
    SELECT user_id, ts,
           SUM(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) > 1800000000 OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    )
)
GROUP BY user_id, session_seq
"""


def session_bounds_frame(events: DataFrame) -> DataFrame:
    """[user_id, session_seq, session_start, session_end] under the
    ``sessionize`` gap semantics (new session when the inter-event gap
    strictly exceeds 30 minutes). Sessions of ONE user are disjoint by
    construction, so any interval overlap below is cross-user."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        events.withColumn("session_seq", sess)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"))
    )


CONCURRENCY_PEAK_ORACLE = f"""
WITH s AS ({SESSION_BOUNDS_SQL}),
deltas AS (
    SELECT strftime(session_start, '%Y%m%d') AS ymd, session_start AS t, 1 AS d FROM s
    UNION ALL
    SELECT strftime(session_start, '%Y%m%d') AS ymd, session_end AS t, -1 AS d FROM s
),
grain AS (
    SELECT ymd, t,
           SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_open,
           SUM(d) AS net
    FROM deltas GROUP BY ymd, t
),
run AS (
    SELECT ymd, n_open, net,
           SUM(net) OVER (
               PARTITION BY ymd ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM grain
)
SELECT ymd,
       CAST(MAX(cum - net + n_open) AS BIGINT) AS peak_concurrency,
       CAST(SUM(n_open) AS BIGINT) AS n_sessions
FROM run GROUP BY ymd
"""


@register(
    "session_concurrency_peak",
    oracle=CONCURRENCY_PEAK_ORACLE,
    tags=("dws", "session", "interval", "sweep"),
    past_window=True,
)
def session_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day PEAK number of simultaneously-open sessions — the
    capacity-planning number behind "how many concurrent users must
    this serve", computed as a sweep line, not a join.

    Each session contributes a +1 at its start and a -1 at its end;
    the peak is the max prefix sum. Interval semantics are CLOSED
    ([start, end] — a session ending at the instant another starts is
    still concurrent with it), enforced order-free by collapsing
    deltas to the (day, instant) grain and taking the candidate peak
    as (prefix sum through the previous instant) + (opens at this
    instant): all +1s of an instant apply before its -1s, so the
    result is deterministic under any tie order — the property the
    cross-engine hash needs. Day attribution: a session belongs to the
    day it STARTS (its close delta rides along even past midnight), so
    each day's sweep is self-contained — the documented contract, and
    what lets the window partition by day instead of one global sort.

    Scale shape: one shuffle on user_id builds the sessions, one on
    (day, instant) collapses deltas, and the running sum partitions by
    day — per-partition work is 2×(sessions started that day), never a
    global single-task sort. No join anywhere: concurrency over
    intervals is interval ALGEBRA, and the sweep is its linear form
    (the pairwise form is ``session_overlap_pairs``).
    """
    s = session_bounds_frame(load_table(spark, sf_dir, "events"))
    ymd = F.date_format("session_start", "yyyyMMdd").alias("ymd")
    deltas = s.select(
        ymd, F.col("session_start").alias("t"), F.lit(1).alias("d")
    ).unionAll(s.select(ymd, F.col("session_end").alias("t"), F.lit(-1).alias("d")))
    grain = deltas.groupBy("ymd", "t").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_open"),
        F.sum("d").alias("net"),
    )
    wd = (
        Window.partitionBy("ymd")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = grain.withColumn("cum", F.sum("net").over(wd))
    return run.groupBy("ymd").agg(
        F.max(F.col("cum") - F.col("net") + F.col("n_open"))
        .cast("bigint")
        .alias("peak_concurrency"),
        F.sum("n_open").cast("bigint").alias("n_sessions"),
    )


OVERLAP_PAIRS_ORACLE = f"""
WITH s AS ({SESSION_BOUNDS_SQL})
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_copresent_sessions,
       CAST(SUM(epoch_us(LEAST(a.session_end, b.session_end))
              - epoch_us(GREATEST(a.session_start, b.session_start))) AS BIGINT)
           AS overlap_us_total
FROM s a JOIN s b
  ON a.user_id < b.user_id
 AND a.session_start <= b.session_end
 AND b.session_start <= a.session_end
GROUP BY a.user_id, b.user_id
"""

_OVERLAP_BUCKET_US = 3_600_000_000  # 1-hour buckets; shrink as density grows

# Physical tuning knob, NOT a semantic parameter: any width yields the
# identical result set (pinned by test_overlap_bucket_width_invariant) —
# narrower buckets trade explode fan-out for smaller per-bucket joins as
# session density grows. Result-invariance is why it can be a conf.
OVERLAP_BUCKET_CONF = "spark.gmall_flink.overlap.bucketUs"


def _overlap_bucket_us(spark: SparkSession) -> int:
    raw = spark.conf.get(OVERLAP_BUCKET_CONF, None)
    if raw is None:
        return _OVERLAP_BUCKET_US
    width = int(raw)
    if width <= 0:
        raise ValueError(f"{OVERLAP_BUCKET_CONF} must be a positive microsecond width")
    return width


@register(
    "session_overlap_pairs",
    oracle=OVERLAP_PAIRS_ORACLE,
    tags=("dws", "session", "interval", "range-join"),
    # promoted into the driver window in the round-12 rotation
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user session co-presence: for every user pair with at
    least one pair of time-overlapping sessions, how many session
    pairs overlapped and for how long in total — the interval-overlap
    JOIN the sweep head deliberately avoids, in its scalable form.

    A naive overlap join is a full inequality join (quadratic in
    sessions). The scale path buckets time: each session explodes to
    the 1-hour buckets it spans, the self-join is an EQUI-join on the
    bucket (plus user_a < user_b and the exact closed-interval overlap
    predicate), and the classic first-shared-bucket trick —
    ``bucket == greatest(a.b_start, b.b_start)`` — keeps exactly one
    copy of each overlapping pair with NO distinct pass: two
    overlapping intervals share precisely the bucket range
    [max(b_starts), min(b_ends)] (floor is monotone, so
    max(floor(x), floor(y)) = floor(max(x, y)) lands inside both
    ranges), and only its first bucket passes the filter. Per-bucket
    work is (sessions active that hour)², bounded by real concurrency
    — the quantity ``session_concurrency_peak`` measures — and AQE
    splits residual hot buckets. The oracle states the same result as
    the naive inequality join, so the hash match proves the bucketed
    rewrite exact, dedup included. Output is the co-presence graph —
    inherently pairwise, linear in TRUE co-presence, not in corpus².
    """
    ov = _overlap_pair_rows(spark, sf_dir).select(
        "user_a",
        "user_b",
        (
            F.unix_micros(F.least("a_end", "b_end"))
            - F.unix_micros(F.greatest("a_start", "b_start"))
        ).alias("ov_us"),
    )
    return ov.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copresent_sessions"),
        F.sum("ov_us").cast("bigint").alias("overlap_us_total"),
    )


def _overlap_pair_rows(
    spark: SparkSession, sf_dir: str, prepartition: bool = False
) -> DataFrame:
    """One row per overlapping cross-user session pair (user_a <
    user_b), deduped by the first-shared-bucket filter — the bucketed
    interval-join core shared by ``session_overlap_pairs`` and
    ``session_allen_relations``. Columns: user_a, user_b, a_start,
    a_end, b_start, b_end.

    ``prepartition``: persist the exploded frame already hash-
    partitioned on the join key so the self-join reuses the cached
    layout (guide §2.4) and the per-bucket density² work keeps
    defaultParallelism tasks regardless of AQE's byte-based coalescing
    of the (tiny) cached frame. Measured per consumer at sf0.1
    (interleaved min-of-6, both orders): allen_relations 0.92 → 0.75 s
    with it, overlap_pairs 0.99 → 1.16 s against it (its downstream
    re-exchanges by user pair anyway, so the extra exchange is pure
    cost there) — hence a caller flag, not a global."""
    bucket_us = _overlap_bucket_us(spark)
    s = session_bounds_frame(load_table(spark, sf_dir, "events"))
    bucketed = s.select(
        "user_id",
        "session_seq",
        "session_start",
        "session_end",
        F.floor(F.unix_micros("session_start") / bucket_us).alias("b_start"),
        F.floor(F.unix_micros("session_end") / bucket_us).alias("b_end"),
    )
    exploded = bucketed.select(
        "user_id",
        "session_start",
        "session_end",
        "b_start",
        F.explode(F.sequence("b_start", "b_end")).alias("bucket"),
    )
    if prepartition:
        exploded = exploded.repartition(
            spark.sparkContext.defaultParallelism, "bucket"
        )
    exploded = scoped_persist(
        exploded,
        eager=True,  # self-joined below: fill once, don't race the block locks
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.session_start") <= F.col("b.session_end"))
        & (F.col("b.session_start") <= F.col("a.session_end"))
        & (F.col("a.bucket") == F.greatest(F.col("a.b_start"), F.col("b.b_start"))),
    )
    return pairs.select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        F.col("a.session_start").alias("a_start"),
        F.col("a.session_end").alias("a_end"),
        F.col("b.session_start").alias("b_start"),
        F.col("b.session_end").alias("b_end"),
    )


ALLEN_RELATIONS_ORACLE = """
WITH s AS ({SESSION_BOUNDS_SQL})
SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (
    SELECT CASE
    WHEN a.session_start = b.session_start AND a.session_end = b.session_end THEN 'equals'
    WHEN a.session_start = b.session_start THEN 'starts'
    WHEN a.session_end = b.session_end THEN 'finishes'
    WHEN GREATEST(a.session_start, b.session_start) = LEAST(a.session_end, b.session_end) THEN 'meets'
    WHEN (a.session_start > b.session_start AND a.session_end < b.session_end) OR (b.session_start > a.session_start AND b.session_end < a.session_end)
         THEN 'during'
    ELSE 'overlaps'
END AS relation
    FROM s a JOIN s b
      ON a.user_id < b.user_id
     AND a.session_start <= b.session_end
     AND b.session_start <= a.session_end
)
GROUP BY relation
"""


@register(
    "session_allen_relations",
    oracle=ALLEN_RELATIONS_ORACLE.replace("{SESSION_BOUNDS_SQL}", SESSION_BOUNDS_SQL),
    tags=("dws", "session", "interval", "allen", "unbenched"),
    past_window=True,
)
def session_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval-algebra census over the cross-user overlapping
    session pairs (Allen, CACM 1983): each co-present pair classified
    as equals / starts / finishes / meets (single-point touch) /
    during (strict containment) / overlaps (proper partial overlap),
    counted per relation — the relation mix is the shape profile of
    co-presence (mostly `meets` = handoffs; mostly `during` = short
    sessions inside long ones). Pair ordering (user_a < user_b) folds
    each asymmetric relation with its inverse (starts/started-by,
    during/contains, overlaps/overlapped-by), and the disjoint
    "before/after" classes are exactly the pairs the overlap join
    excludes, so six labels cover the matched set. The CASE ladder is
    identical text on both engines, so tie cases (zero-length
    single-event sessions make `meets` vs `starts` genuinely
    adjacent) resolve identically. Scale shape: the SAME bucketed
    equi-join core as `session_overlap_pairs` (`_overlap_pair_rows` —
    per-bucket work bounded by true concurrency²) followed by a
    6-group aggregate.
    """
    pairs = _overlap_pair_rows(spark, sf_dir, prepartition=True)
    relation = F.expr("""CASE
    WHEN a_start = b_start AND a_end = b_end THEN 'equals'
    WHEN a_start = b_start THEN 'starts'
    WHEN a_end = b_end THEN 'finishes'
    WHEN GREATEST(a_start, b_start) = LEAST(a_end, b_end) THEN 'meets'
    WHEN (a_start > b_start AND a_end < b_end) OR (b_start > a_start AND b_end < a_end)
         THEN 'during'
    ELSE 'overlaps'
END""".strip())
    return (
        pairs.select(relation.alias("relation"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# --------------------------------------------- time-weighted average

TWA_DAILY_ORACLE = """
WITH seg AS (
    SELECT event_type,
           strftime(ts, '%Y%m%d') AS ymd,
           CAST(value AS DECIMAL(18,2)) AS v,
           epoch_us(COALESCE(
               lead(ts) OVER (PARTITION BY event_type, strftime(ts, '%Y%m%d')
                              ORDER BY ts, event_id),
               CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)
           )) - epoch_us(ts) AS dt_us
    FROM events
)
SELECT event_type, ymd,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dt_us) AS BIGINT) AS active_us,
       CAST(CAST(SUM(v * dt_us) AS DOUBLE)
            / CAST(SUM(dt_us) AS DOUBLE) AS DOUBLE) AS twa_value
FROM seg GROUP BY event_type, ymd
"""


@register(
    "event_value_twa_daily",
    oracle=TWA_DAILY_ORACLE,
    tags=("dws", "time-series", "twa", "interval"),
    past_window=True,
)
def event_value_twa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) TIME-weighted average value — the TSDB operator
    (TimescaleDB's ``time_weight``) for irregularly sampled step
    signals, where a plain AVG over-weights bursts: each event's value
    holds until the type's next event, the day's last observation
    extends to midnight (the LOCF-to-boundary contract that makes each
    day self-contained), and the weight is the hold duration in
    integer microseconds.

    Determinism across engines: the hold products sum in EXACT decimal
    (DECIMAL(18,2) value × integer-micros duration — never a float
    accumulation, whose order-dependence would break the cross-engine
    hash), with ONE double division at the output edge. Equal
    timestamps order by (ts, event_id) on both sides, so zero-duration
    holds land identically. Scale shape: the lead window partitions by
    (type, day) — bounded single-partition work like the concurrency
    sweep, not a per-type global sort — and the aggregate map-combines
    on the same key; one shuffle total (Catalyst reuses the window's
    partitioning for the groupBy).
    """
    events = load_table(spark, sf_dir, "events")
    ymd = F.date_format("ts", "yyyyMMdd")
    w = Window.partitionBy("event_type", ymd.alias("ymd")).orderBy("ts", "event_id")
    day_end = F.date_add(F.to_date("ts"), 1).cast("timestamp")
    dt_us = F.unix_micros(F.coalesce(F.lead("ts").over(w), day_end)) - F.unix_micros(
        "ts"
    )
    seg = events.select(
        "event_type",
        ymd.alias("ymd"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        dt_us.alias("dt_us"),
    )
    return seg.groupBy("event_type", "ymd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("dt_us").cast("bigint").alias("active_us"),
        (
            F.sum(F.col("v") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double")
        ).alias("twa_value"),
    )


# --------------------------------------------- changepoint localization

CUSUM_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), stats AS (
    SELECT event_type, ymd,
           SUM(v) OVER (PARTITION BY event_type ORDER BY ymd
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ymd) AS k,
           SUM(v) OVER (PARTITION BY event_type) AS total,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
), scored AS (
    SELECT event_type, ymd, n,
           ABS(n * prefix - k * total) AS s_abs,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY ABS(n * prefix - k * total) DESC, ymd) AS rnk
    FROM stats
)
SELECT event_type, ymd AS change_day, CAST(n AS BIGINT) AS n_days,
       CAST(CAST(s_abs AS DOUBLE) / CAST(n AS DOUBLE) AS DOUBLE) AS cusum_stat
FROM scored WHERE rnk = 1
"""


@register(
    "event_value_cusum_shift",
    oracle=CUSUM_ORACLE,
    tags=("dws", "time-series", "changepoint"),
    past_window=True,
)
def event_value_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint localization per event type: the day
    where the cumulative deviation of DAILY value totals from the
    type's mean peaks — the classic single-changepoint estimator
    (Page 1954's statistic in its offline argmax form), i.e. WHERE the
    level shifted, complementing `source_length_psi` (whether two
    fixed windows differ) and `event_value_outliers` (single-day
    spikes).

    Exactness trick: CUSUM_k = prefix_k − k·mean needs mean = total/n,
    a division that would force float accumulation; multiplying
    through by n gives S_k = n·prefix_k − k·total — pure decimal
    integer arithmetic, same argmax. The one double division
    (|S|/n, recovering the statistic's scale) happens once at the
    output edge. Ties break to the earliest day. Scale shape: one
    map-combined (type, day) aggregate, then windows over type
    partitions whose size is days-per-type (thousands of rows at any
    corpus volume — the day grain, not the event grain); the decimal
    envelope holds to ~10²² per-day totals before the n·prefix product
    would hit DECIMAL(38)'s cap.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyyMMdd").alias("ymd")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("ymd")
    stats = daily.select(
        "event_type",
        "ymd",
        F.sum("v").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
        F.row_number().over(wo).alias("k"),
        F.sum("v").over(wt).alias("total"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    s_abs = F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("total"))
    scored = stats.select(
        "event_type",
        "ymd",
        "n",
        s_abs.alias("s_abs"),
        F.row_number().over(wt.orderBy(s_abs.desc(), "ymd")).alias("rnk"),
    )
    return scored.filter(F.col("rnk") == 1).select(
        "event_type",
        F.col("ymd").alias("change_day"),
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("s_abs").cast("double") / F.col("n").cast("double")).alias("cusum_stat"),
    )


# --------------------------------------------- autocorrelation (ACF)

_ACF_LAGS = (1, 2, 3)

ACF_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), led AS (
    SELECT event_type, c,
           lead(c, 1) OVER w AS y1,
           lead(c, 2) OVER w AS y2,
           lead(c, 3) OVER w AS y3
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY ymd)
), pairs AS (
    SELECT event_type, 1 AS lag, c AS x, y1 AS y FROM led WHERE y1 IS NOT NULL
    UNION ALL
    SELECT event_type, 2 AS lag, c AS x, y2 AS y FROM led WHERE y2 IS NOT NULL
    UNION ALL
    SELECT event_type, 3 AS lag, c AS x, y3 AS y FROM led WHERE y3 IS NOT NULL
), agg AS (
    SELECT event_type, lag,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INTEGER) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
            / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
            AS DOUBLE) AS acf
FROM agg
"""


@register(
    "event_value_acf",
    oracle=ACF_ORACLE,
    tags=("dws", "time-series", "autocorrelation"),
    past_window=True,
)
def event_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of each type's DAILY value totals at lags
    1-3 — the memory/periodicity profile every forecasting pass starts
    from, complementing `event_value_cusum_shift` (where the level
    moved) and `revenue_trend_fit` (the deterministic drift): Pearson r
    between the day-k and day-(k+lag) totals, index-lagged over the
    type's observed-day sequence (the TSDB convention for regular
    grids; the synthetic feed has no gap days, and a gapped feed would
    state calendar lags through `regional_revenue_gapfill`'s densify
    first).

    Exactness: daily totals become integer CENTS (decimal sum × 100 —
    never a float), so every moment (Σx, Σxy, Σx²) accumulates in
    exact integer arithmetic — Spark decimal(38,0), DuckDB HUGEINT,
    same integers — and the classic sums form
    r = (nΣxy − ΣxΣy) / (√(nΣxx − Σx²)·√(nΣyy − Σy²)) evaluates with
    exactly three float ops (two correctly-rounded √, one division) on
    identical inputs, so the doubles match bit-for-bit cross-engine.
    A constant series (zero variance) yields NULL via NULLIF, not a
    division error. Scale shape: one map-combined (type, day)
    aggregate collapses the event grain to days-per-type; the lead
    window and the moment aggregate both ride the type partition —
    thousands of rows per type at ANY corpus volume, so the window
    never sees event-grain data. The integer envelope holds to daily
    totals of ~10¹⁴ cents before nΣx² would exceed decimal(38).
    """
    return acf_frame(daily_cents_frame(load_table(spark, sf_dir, "events")))


def daily_cents_frame(events: DataFrame) -> DataFrame:
    """(event_type, ymd, c) — per-(type, day) value totals in exact
    integer CENTS, the shared input grain of the ACF and seasonality
    cores. The incremental twin derives the same frame from the
    ``daily_value_store_job`` partials (decimal addition is
    associative, so partial-merge × 100 equals one-shot × 100)."""
    return events.groupBy(
        "event_type", F.date_format("ts", "yyyyMMdd").alias("ymd")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("decimal(18,0)")
        .alias("c")
    )


def acf_frame(daily: DataFrame) -> DataFrame:
    """The registered ACF core over any (event_type, ymd, c) frame."""
    w = Window.partitionBy("event_type").orderBy("ymd")
    led = daily.select(
        "event_type",
        "c",
        *[F.lead("c", lag).over(w).alias(f"y{lag}") for lag in _ACF_LAGS],
    )
    pairs = None
    for lag in _ACF_LAGS:
        p = led.filter(F.col(f"y{lag}").isNotNull()).select(
            "event_type",
            F.lit(lag).alias("lag"),
            F.col("c").alias("x"),
            F.col(f"y{lag}").alias("y"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (num / F.nullif(F.sqrt(denx) * F.sqrt(deny), F.lit(0.0))).alias("acf"),
    )


# --------------------------------------------- day-of-week seasonality

DOW_SEASONALITY_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           dayofweek(CAST(ts AS DATE)) AS dow,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d'), dayofweek(CAST(ts AS DATE))
), per_type AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n_all, SUM(c) AS s_all
    FROM daily GROUP BY event_type
), per_dow AS (
    SELECT event_type, dow, CAST(COUNT(*) AS HUGEINT) AS n_d, SUM(c) AS s_d
    FROM daily GROUP BY event_type, dow
)
SELECT d.event_type, CAST(d.dow AS INTEGER) AS dow,
       CAST(d.n_d AS BIGINT) AS n_days,
       CAST(CAST(d.s_d AS DOUBLE) / CAST(d.n_d * 100 AS DOUBLE) AS DOUBLE)
           AS mean_daily_value,
       CAST(CAST(d.s_d * t.n_all AS DOUBLE) / CAST(d.n_d * t.s_all AS DOUBLE)
            AS DOUBLE) AS seasonal_index
FROM per_dow d JOIN per_type t USING (event_type)
"""


@register(
    "event_dow_seasonality",
    oracle=DOW_SEASONALITY_ORACLE,
    tags=("dws", "time-series", "seasonality"),
    past_window=True,
)
def event_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type — the multiplicative
    seasonality profile (mean daily total on that weekday ÷ the type's
    overall mean daily total) that a seasonal-naive forecast or an
    anomaly baseline divides out before looking at residuals. Index
    > 1 = the weekday runs hot for that type.

    Both engines compute the weekday from the DATE of ts (0 = Sunday:
    DuckDB's ``dayofweek`` convention; Spark's 1-based ``dayofweek``
    shifts by one) at the (type, day) grain, so a day's total lands on
    exactly one weekday. Exactness: daily totals in integer cents; the
    index (Σ_dow·n_all)/(n_dow·Σ_all) cross-multiplies to one exact
    integer numerator and denominator — ONE double division, identical
    cross-engine; the mean divides the exact cent sum by the exact
    100·n_dow. Scale shape: two map-combined aggregates (events →
    day grain → dow grain) and an equi-join at the |event-type
    vocabulary| grain — the per-type totals frame is vocabulary-sized
    regardless of corpus volume, so Spark's planner broadcasts it via
    AQE's size estimate without a hint; no row of event-grain data
    crosses the second shuffle.
    """
    return dow_seasonality_frame(
        daily_cents_frame(load_table(spark, sf_dir, "events"))
    )


def dow_seasonality_frame(daily_in: DataFrame) -> DataFrame:
    """The registered seasonality core over any (event_type, ymd, c)
    frame; the weekday derives from ymd (a day's total lands on
    exactly one weekday, so deriving it after the daily aggregate is
    lossless)."""
    daily = scoped_persist(
        daily_in.select(
            "event_type",
            "ymd",
            (F.dayofweek(F.to_date(F.col("ymd"), "yyyyMMdd")) - 1).alias("dow"),
            "c",
        )
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n_all"),
        F.sum("c").alias("s_all"),
    )
    per_dow = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n_d"),
        F.sum("c").alias("s_d"),
    )
    joined = per_dow.join(per_type, "event_type")
    return joined.select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("n_d").cast("bigint").alias("n_days"),
        (
            F.col("s_d").cast("double") / (F.col("n_d") * 100).cast("double")
        ).alias("mean_daily_value"),
        (
            (F.col("s_d") * F.col("n_all")).cast("double")
            / (F.col("n_d") * F.col("s_all")).cast("double")
        ).alias("seasonal_index"),
    )


# --------------------------------------------- robust daily outliers

ROBUST_OUTLIER_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), ranked AS (
    SELECT event_type, ymd, c,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, ymd) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
), med AS (
    SELECT event_type, c AS med, n FROM ranked WHERE rn = (n + 1) // 2
), dev AS (
    SELECT d.event_type, d.ymd, d.c, m.med, m.n,
           ABS(d.c - m.med) AS ad
    FROM daily d JOIN med m USING (event_type)
), dev_ranked AS (
    SELECT event_type, ymd, c, med, n, ad,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ad, ymd) AS rn
    FROM dev
), mad AS (
    SELECT event_type, ad AS mad FROM dev_ranked WHERE rn = (n + 1) // 2
)
SELECT d.event_type, d.ymd,
       CAST(CAST(d.c AS DOUBLE) / 100.0 AS DOUBLE) AS daily_value,
       CAST(CAST(d.med AS DOUBLE) / 100.0 AS DOUBLE) AS median_value,
       CAST(CAST(d.ad * 10000 AS DOUBLE)
            / NULLIF(CAST(14826 * m.mad AS DOUBLE), 0.0) AS DOUBLE) AS robust_z,
       d.ad * 10000 > 44478 * m.mad AS is_outlier,
       CAST(d.n AS BIGINT) AS n_days
FROM dev d JOIN mad m USING (event_type)
"""


@register(
    "event_daily_robust_outliers",
    oracle=ROBUST_OUTLIER_ORACLE,
    tags=("dws", "time-series", "anomaly", "robust"),
    past_window=True,
)
def event_daily_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier days per event type — the ROBUST anomaly
    gate: `event_value_outliers`' mean/σ z-score is itself dragged by
    the outliers it hunts (one 100× day inflates σ enough to hide a
    10× day); the median and the median-absolute-deviation have a 50%
    breakdown point, so a day is flagged when
    |c − median| > 3 · 1.4826 · MAD (the Gaussian-consistent MAD
    scaling) no matter how corrupt the tail is.

    Exactness: daily totals in integer cents; the median is the exact
    LOWER median (rank ⌊(n+1)/2⌋ of the sorted values — no even-count
    interpolation, so no engine-specific median() semantics leak in);
    the flag comparison cross-multiplies the 1.4826·3 constant into
    integers (ad·10⁴ > 44478·MAD) and the reported robust z is ONE
    double division of exact integers. MAD = 0 (≥ half the days
    identical) degrades to flagging any deviating day, with NULL z —
    the standard MAD caveat, stated rather than patched. Scale shape:
    identical to the CUSUM head — one map-combined (type, day)
    aggregate, then windows over bounded days-per-type partitions;
    nothing event-grain crosses the second shuffle.
    """
    return robust_outliers_frame(
        daily_cents_frame(load_table(spark, sf_dir, "events"))
    )


def robust_outliers_frame(daily_in: DataFrame) -> DataFrame:
    """The registered median/MAD core over any (event_type, ymd, c)
    frame — shared by the batch head and the incremental
    ``event_daily_robust_outliers_from_store`` consumer."""
    daily = scoped_persist(daily_in)
    wt = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("c", "ymd")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == ((F.col("n") + 1) / 2).cast("long")
    ).select("event_type", F.col("c").alias("med"), "n")
    dev = scoped_persist(
        daily.join(med, "event_type").select(
            "event_type",
            "ymd",
            "c",
            "med",
            "n",
            F.abs(F.col("c") - F.col("med")).alias("ad"),
        )
    )
    dev_ranked = dev.select(
        "event_type",
        "ad",
        "n",
        F.row_number().over(wt.orderBy("ad", "ymd")).alias("rn"),
    )
    mad = dev_ranked.filter(
        F.col("rn") == ((F.col("n") + 1) / 2).cast("long")
    ).select("event_type", F.col("ad").alias("mad"))
    return (
        dev.join(mad, "event_type")
        .select(
            "event_type",
            "ymd",
            (F.col("c").cast("double") / F.lit(100.0)).alias("daily_value"),
            (F.col("med").cast("double") / F.lit(100.0)).alias("median_value"),
            (
                (F.col("ad") * 10000).cast("double")
                / F.nullif((14826 * F.col("mad")).cast("double"), F.lit(0.0))
            ).alias("robust_z"),
            (F.col("ad") * 10000 > 44478 * F.col("mad")).alias("is_outlier"),
            F.col("n").cast("bigint").alias("n_days"),
        )
    )


# --------------------------------------------- nonparametric trend

MANN_KENDALL_ORACLE = """
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d'), CAST(ts AS DATE)
), pairs AS (
    SELECT a.event_type,
           CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn,
           CAST(b.c - a.c AS DOUBLE) / CAST(date_diff('day', a.d, b.d) AS DOUBLE)
               AS slope,
           a.ymd AS y1, b.ymd AS y2
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.ymd < b.ymd
), s_stat AS (
    SELECT event_type, SUM(sgn) AS s, CAST(COUNT(*) AS HUGEINT) AS n_pairs
    FROM pairs GROUP BY event_type
), n_days AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n FROM daily GROUP BY event_type
), tie_corr AS (
    SELECT event_type,
           SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
    FROM (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS t
        FROM daily GROUP BY event_type, c
    ) GROUP BY event_type
), med AS (
    SELECT event_type, slope AS theil_sen_slope
    FROM (
        SELECT event_type, slope,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope, y1, y2) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
    ) WHERE rn = (np + 1) // 2
)
SELECT s.event_type,
       CAST(n.n AS BIGINT) AS n_days,
       CAST(s.s AS BIGINT) AS s_statistic,
       CASE WHEN s.s = 0 THEN 0.0 ELSE
           CAST(s.s - CASE WHEN s.s > 0 THEN 1 ELSE -1 END AS DOUBLE)
           / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS DOUBLE)
                  / 18.0)
       END AS mk_z,
       CAST(m.theil_sen_slope / 100.0 AS DOUBLE) AS theil_sen_slope
FROM s_stat s
JOIN n_days n USING (event_type)
JOIN tie_corr t USING (event_type)
JOIN med m USING (event_type)
"""


@register(
    "event_trend_mann_kendall",
    oracle=MANN_KENDALL_ORACLE,
    tags=("dws", "time-series", "trend", "robust"),
    # promoted into the driver window in the round-12 rotation
)
def event_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend per event type: the Mann-Kendall S statistic
    and tie-corrected z over the daily value series, plus the Theil-Sen
    slope (the median of all pairwise day-slopes, in value/day) — the
    standard robust pair to `revenue_trend_fit`'s OLS line: monotone
    drift is detected (MK) and sized (Theil-Sen, 29% breakdown point)
    without assuming linear-in-time Gaussian noise, so one spike day
    can't fabricate or hide a trend.

    Exactness: S is a pure integer (Σ sign over day pairs); the tie
    correction Σt(t−1)(2t+5) and n(n−1)(2n+5) are exact integers, so
    mk_z is a fixed three-float-op chain (÷18, √, ÷) on identical
    inputs; Theil-Sen picks the exact LOWER-median pair under a
    deterministic (slope, day, day) order — both engines sort the same
    doubles — and only the picked slope is reported (÷100 for cents →
    value units; a binary-exact scaling... it is not, so the ÷100 is
    spelled identically on both sides). Scale shape: the pairwise
    frame is day-grain² per type — bounded by the calendar (≈2k pairs
    per type-month), never event-grain; one map-combined daily
    aggregate feeds it, the same envelope as the CUSUM/ACF heads.
    """
    return mann_kendall_frame(
        daily_cents_frame(load_table(spark, sf_dir, "events"))
    )


def mann_kendall_frame(daily_in: DataFrame) -> DataFrame:
    """The registered Mann-Kendall/Theil-Sen core over any
    (event_type, ymd, c) frame; the calendar date derives from ymd so
    day spacing survives the store round trip exactly."""
    daily = scoped_persist(
        daily_in.select(
            "event_type", "ymd", F.to_date(F.col("ymd"), "yyyyMMdd").alias("d"), "c"
        )
    )
    a = daily.selectExpr("event_type", "ymd AS y1", "d AS d1", "c AS c1")
    b = daily.selectExpr("event_type AS et2", "ymd AS y2", "d AS d2", "c AS c2")
    pairs = scoped_persist(
        a.join(b, (a["event_type"] == b["et2"]) & (a["y1"] < b["y2"])).select(
            "event_type",
            F.when(F.col("c2") > F.col("c1"), 1)
            .when(F.col("c2") < F.col("c1"), -1)
            .otherwise(0)
            .alias("sgn"),
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope"),
            "y1",
            "y2",
        )
    )
    s_stat = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("decimal(18,0)").alias("s")
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n")
    )
    tie_corr = (
        daily.groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).cast("decimal(18,0)").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    wt = Window.partitionBy("event_type")
    med = (
        pairs.select(
            "event_type",
            "slope",
            F.row_number().over(wt.orderBy("slope", "y1", "y2")).alias("rn"),
            F.count(F.lit(1)).over(wt).alias("np"),
        )
        .filter(F.col("rn") == ((F.col("np") + 1) / 2).cast("long"))
        .select("event_type", F.col("slope").alias("theil_sen_slope"))
    )
    var_num = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("double")
    z = F.when(F.col("s") == 0, F.lit(0.0)).otherwise(
        (
            F.col("s") - F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(-1))
        ).cast("double")
        / F.sqrt(var_num / F.lit(18.0))
    )
    return (
        s_stat.join(n_days, "event_type")
        .join(tie_corr, "event_type")
        .join(med, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("s").cast("bigint").alias("s_statistic"),
            z.alias("mk_z"),
            (F.col("theil_sen_slope") / F.lit(100.0)).alias("theil_sen_slope"),
        )
    )


# --------------------------------------------- daily mix drift (KL)

DAILY_MIX_KL_ORACLE = """
WITH dt AS (
    SELECT strftime(ts, '%Y%m%d') AS ymd, event_type,
           CAST(count(*) AS BIGINT) AS c_dt
    FROM events GROUP BY strftime(ts, '%Y%m%d'), event_type
), day_tot AS (
    SELECT ymd, SUM(c_dt) AS n_d, CAST(COUNT(*) AS BIGINT) AS n_types
    FROM dt GROUP BY ymd
), type_tot AS (
    SELECT event_type, SUM(c_dt) AS c_t FROM dt GROUP BY event_type
), n AS (
    SELECT SUM(c_t) AS n FROM type_tot
)
SELECT d.ymd,
       CAST(dd.n_d AS BIGINT) AS n_events,
       dd.n_types,
       ROUND(SUM((CAST(d.c_dt AS DOUBLE) / CAST(dd.n_d AS DOUBLE))
                 * log2((CAST(d.c_dt AS DOUBLE) * CAST(n.n AS DOUBLE))
                        / (CAST(dd.n_d AS DOUBLE) * CAST(t.c_t AS DOUBLE)))),
             6) AS kl_bits
FROM dt d
JOIN day_tot dd USING (ymd)
JOIN type_tot t USING (event_type)
CROSS JOIN n
GROUP BY d.ymd, dd.n_d, dd.n_types
"""


@register(
    "daily_mix_kl",
    oracle=DAILY_MIX_KL_ORACLE,
    tags=("dws", "drift", "entropy"),
    past_window=True,
)
def daily_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence (bits) of each DAY's event-type mix against the
    corpus-lifetime mix — drift localized in TIME, the third axis of
    the drift suite: `source_length_psi` (which source changed shape),
    `source_length_ks` (where in the length distribution), and this
    head (which day's traffic mix moved — a bot burst or an outage
    shows up as a KL spike even when volume looks normal). A type
    absent from a day contributes zero (lim p→0 of p·log p/q); the
    corpus marginal is never zero for an observed type, so the score
    is always finite — no smoothing constant to justify.

    Determinism: counts are exact integers; each term's float chain
    (two divisions-as-one-ratio, one log2, one multiply) is spelled
    identically in both engines, and the unordered per-day sum rides
    the PSI-style ROUND(…,6) edge. Scale shape: one map-combined
    (day, type) count — the |days| × |types| grain — then every join
    is at that bounded grain or smaller (the type marginal is
    vocabulary-sized, the corpus total one row); the 100 TB cost is
    the one scan, and the head shares its first aggregate with any
    day×type consumer.
    """
    events = load_table(spark, sf_dir, "events")
    dt = events.groupBy(
        F.date_format("ts", "yyyyMMdd").alias("ymd"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c_dt"))
    dt = scoped_persist(dt)
    day_tot = dt.groupBy("ymd").agg(
        F.sum("c_dt").alias("n_d"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    type_tot = dt.groupBy("event_type").agg(F.sum("c_dt").alias("c_t"))
    n_tot = type_tot.agg(F.sum("c_t").alias("n"))
    term = (
        F.col("c_dt").cast("double") / F.col("n_d").cast("double")
    ) * F.log2(
        (F.col("c_dt").cast("double") * F.col("n").cast("double"))
        / (F.col("n_d").cast("double") * F.col("c_t").cast("double"))
    )
    joined = (
        dt.join(day_tot, "ymd")
        .join(F.broadcast(type_tot), "event_type")
        .crossJoin(F.broadcast(n_tot))
    )
    return joined.groupBy("ymd", "n_d", "n_types").agg(
        F.round(F.sum(term), 6).alias("kl_bits")
    ).select(
        "ymd",
        F.col("n_d").cast("bigint").alias("n_events"),
        "n_types",
        "kl_bits",
    )


# --------------------------------------------- interarrival profile

INTERARRIVAL_ORACLE = """
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS d_us
    FROM events
), g AS (
    SELECT event_type, d_us FROM gaps WHERE d_us IS NOT NULL
), agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(d_us AS HUGEINT)) AS s,
           SUM(CAST(d_us AS HUGEINT) * CAST(d_us AS HUGEINT)) AS ss,
           ROUND(quantile_cont(d_us, 0.5) / 1e6, 6) AS p50_gap_sec,
           ROUND(quantile_cont(d_us, 0.9) / 1e6, 6) AS p90_gap_sec
    FROM g GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       p50_gap_sec,
       p90_gap_sec,
       CAST(CAST(n * ss - s * s AS DOUBLE)
            / NULLIF(CAST(s * s AS DOUBLE), 0.0) AS DOUBLE) AS cv2
FROM agg
"""


@register(
    "event_interarrival_profile",
    oracle=INTERARRIVAL_ORACLE,
    tags=("dws", "time-series", "quantile", "burstiness"),
    past_window=True,
)
def event_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival-time microstructure per event type: exact p50/p90
    of the gap between consecutive events and the squared coefficient
    of variation CV² = Var/mean² — the burstiness index (CV² ≈ 1 for a
    Poisson arrival process, ≫ 1 for bursty traffic, → 0 for a
    metronome) that capacity planning and anomaly baselines read
    before trusting any rate threshold. Complements the value-side
    heads: this profiles WHEN events arrive, not what they carry.

    Exactness: gaps are integer microseconds from the event-time lag
    (ties ordered by event_id, both engines); CV² cross-multiplies to
    (n·Σd² − (Σd)²) / (Σd)² — exact integer moments, ONE double
    division — and the percentiles interpolate over exact integers
    under the round-6 edge. Scale shape: the lag window partitions by
    type over time-ordered events — the one per-type event-grain sort
    in the module (the TWA head's same envelope); the moment aggregate
    map-combines behind it.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("d_us"),
    ).filter(F.col("d_us").isNotNull())
    d = F.col("d_us").cast("decimal(18,0)")
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum(d).alias("s"),
        F.sum(d * d).alias("ss"),
        F.round(F.percentile("d_us", F.lit(0.5)) / F.lit(1e6), 6).alias(
            "p50_gap_sec"
        ),
        F.round(F.percentile("d_us", F.lit(0.9)) / F.lit(1e6), 6).alias(
            "p90_gap_sec"
        ),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        "p50_gap_sec",
        "p90_gap_sec",
        (
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
            / F.nullif((F.col("s") * F.col("s")).cast("double"), F.lit(0.0))
        ).alias("cv2"),
    )


# --------------------------------------------- exponential smoothing

_EWMA_HORIZON = 14  # trailing days
# alpha = 0.3 = 3/10; relative weight of the day d steps back is
# a(1-a)^d = 3·7^d / 10^(d+1). Scaling by 10^14 makes every weight an
# exact INTEGER — 3·7^d·10^(13-d) — so numerator and denominator
# accumulate in exact integer arithmetic (Spark decimal(38,0), DuckDB
# HUGEINT, same integers) and the smoothed value is ONE correctly-
# rounded float division at the very end: bit-exact cross-engine, the
# `event_value_acf` determinism recipe applied to smoothing.
_EWMA_W = [3 * 7**d * 10**(_EWMA_HORIZON - 1 - d) for d in range(_EWMA_HORIZON)]
_EWMA_CASE = (
    "CASE d "
    + " ".join(f"WHEN {d} THEN {w}" for d, w in enumerate(_EWMA_W))
    + " END"
)

EWMA_ORACLE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), pairs AS (
    SELECT t.event_type, t.ymd, i.c AS c_i,
           date_diff('day',
                     CAST(strptime(i.ymd, '%Y%m%d') AS DATE),
                     CAST(strptime(t.ymd, '%Y%m%d') AS DATE)) AS d
    FROM daily t JOIN daily i ON t.event_type = i.event_type
    WHERE date_diff('day',
                    CAST(strptime(i.ymd, '%Y%m%d') AS DATE),
                    CAST(strptime(t.ymd, '%Y%m%d') AS DATE))
          BETWEEN 0 AND {_EWMA_HORIZON - 1}
)
SELECT event_type, ymd, n_terms,
       CAST((num * 20000 + den) // (2 * den) AS DOUBLE) / 1000000.0 AS ewma
FROM (
    SELECT event_type, ymd,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           SUM(c_i * ({_EWMA_CASE})) AS num,
           SUM(CAST(({_EWMA_CASE}) AS HUGEINT)) AS den
    FROM pairs
    GROUP BY event_type, ymd
)
"""


@register(
    "event_value_ewma",
    oracle=EWMA_ORACLE,
    tags=("dws", "time-series", "smoothing"),
    past_window=True,
)
def event_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14-day exponentially weighted moving average (α = 0.3)
    of each type's daily value totals — the smoothing layer between
    `revenue_trend_fit`'s global line and `event_daily_robust_outliers`'
    pointwise flags (the EWMA control-chart statistic, Roberts 1959;
    the truncated-horizon form every monitoring stack ships because the
    infinite recursion's weight tail is < 0.7¹⁴ ≈ 0.7%). Weights are
    normalized over the OBSERVED days in the window, so series edges
    and calendar gaps are handled by renormalization, not zero-fill.

    Exactness: daily cents × integer weights 3·7^d·10^(13-d) keep both
    the numerator and the normalizing denominator exact integers; the
    smoothed value is one float division (+ the /100 cents edge) on
    identical integers cross-engine — bit-exact, no rounding column.

    Scale shape: the event grain collapses to (type, day) in one
    map-combined aggregate FIRST; the pairwise frame is then
    band-limited calendar² (each day joins ≤ 14 predecessors of its
    own type, equi on event_type — `mann_kendall_frame`'s bound,
    tightened by the horizon), so no stage ever touches event-grain
    data twice.
    """
    return ewma_frame(daily_cents_frame(load_table(spark, sf_dir, "events")))


def ewma_frame(daily: DataFrame) -> DataFrame:
    """The registered EWMA core over any (event_type, ymd, c) frame —
    shared with ``event_value_ewma_from_store`` (streaming/jobs.py),
    the day×type store's seventh consumer."""
    t = daily.select(
        "event_type", "ymd", F.to_date("ymd", "yyyyMMdd").alias("day_t")
    )
    i = daily.select(
        F.col("event_type").alias("event_type_i"),
        F.to_date("ymd", "yyyyMMdd").alias("day_i"),
        F.col("c").alias("c_i"),
    )
    d = F.datediff("day_t", "day_i")
    pairs = t.join(
        i,
        (F.col("event_type") == F.col("event_type_i"))
        & (d >= 0)
        & (d < _EWMA_HORIZON),
    ).select("event_type", "ymd", "c_i", d.alias("d"))
    w = F.expr(_EWMA_CASE).cast("decimal(18,0)")
    agg = pairs.groupBy("event_type", "ymd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum((F.col("c_i") * w).cast("decimal(38,0)")).alias("num"),
        F.sum(w).cast("decimal(38,0)").alias("den"),
    )
    # half-up to 4 decimals of CENTS in pure integer arithmetic (`div`
    # truncates; operands nonneg), THEN one exact small-int → double
    # conversion: DuckDB's HUGEINT→DOUBLE cast is not correctly rounded
    # at ~10²² magnitudes (observed 1-ulp drift), so the big integers
    # must never touch a float.
    q = F.expr("(num * 20000 + den) div (2 * den)")
    return agg.select(
        "event_type",
        "ymd",
        "n_terms",
        (q.cast("double") / F.lit(1000000.0)).alias("ewma"),
    )


# ------------------------------------- double-exponential forecast

_HOLT_H = 7  # first-smoothing horizon (days); second spans 2H-1 lags
# alpha = 0.3: first-smoothing weights are the EWMA integers
# 3*7^d*10^(H-1-d); the SECOND smoothing's weights are their exact
# self-convolution, and Brown's one-step forecast (2 + a/(1-a))S1 -
# (1 + a/(1-a))S2 = (17*S1 - 10*S2)/7 collapses into ONE integer
# coefficient per lag: c_k = 17*W*w_k - 10*u_k over denominator 7*W^2.
_HOLT_W = [3 * 7**d * 10 ** (_HOLT_H - 1 - d) for d in range(_HOLT_H)]
_HOLT_WSUM = sum(_HOLT_W)
_HOLT_U = [
    sum(
        _HOLT_W[i] * _HOLT_W[k - i]
        for i in range(max(0, k - _HOLT_H + 1), min(k, _HOLT_H - 1) + 1)
    )
    for k in range(2 * _HOLT_H - 1)
]
_HOLT_C = [
    17 * _HOLT_WSUM * (_HOLT_W[k] if k < _HOLT_H else 0) - 10 * _HOLT_U[k]
    for k in range(2 * _HOLT_H - 1)
]
_HOLT_DEN = 7 * _HOLT_WSUM * _HOLT_WSUM
_HOLT_LAGS = 2 * _HOLT_H - 1
_HOLT_CASE = (
    "CASE d " + " ".join(f"WHEN {k} THEN {c}" for k, c in enumerate(_HOLT_C)) + " END"
)

HOLT_ORACLE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), bounds AS (
    SELECT event_type,
           MIN(CAST(strptime(ymd, '%Y%m%d') AS DATE)) AS d0,
           MAX(CAST(strptime(ymd, '%Y%m%d') AS DATE)) AS d1
    FROM daily GROUP BY event_type
), cal AS (
    SELECT event_type, d0 + CAST(u.k AS INTEGER) AS day_t
    FROM bounds, LATERAL (
        SELECT UNNEST(range(0, date_diff('day', d0, d1) + 1)) AS k
    ) u
), agg AS (
    SELECT cal.event_type, cal.day_t,
           SUM(i.c * ({_HOLT_CASE})) AS num
    FROM cal JOIN (
        SELECT event_type, CAST(strptime(ymd, '%Y%m%d') AS DATE) AS day_i, c
        FROM daily
    ) i ON i.event_type = cal.event_type
       AND date_diff('day', i.day_i, cal.day_t)
           BETWEEN 0 AND {_HOLT_LAGS - 1}
    CROSS JOIN LATERAL (
        SELECT date_diff('day', i.day_i, cal.day_t) AS d
    ) dd
    GROUP BY cal.event_type, cal.day_t
)
SELECT cal.event_type, strftime(cal.day_t, '%Y%m%d') AS ymd,
       CAST((GREATEST(COALESCE(a.num, 0), 0) * 20000 + {_HOLT_DEN})
            // (2 * {_HOLT_DEN}) AS DOUBLE) / 1000000.0 AS holt_forecast
FROM cal LEFT JOIN agg a
  ON a.event_type = cal.event_type AND a.day_t = cal.day_t
"""


@register(
    "event_value_holt_forecast",
    oracle=HOLT_ORACLE,
    tags=("dws", "time-series", "forecast"),
    # promoted into the driver window in the round-13 rotation
)
def event_value_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead revenue forecast per event type by Brown's
    double exponential smoothing (alpha = 0.3, LES — the linear-trend
    upgrade of `event_value_ewma`'s level-only statistic): for every
    calendar day in the type's observed span, the value forecast for
    the NEXT day, floored at zero (a revenue forecast below zero is
    pinned to the no-revenue floor). Days with no events are true
    zero-revenue observations here (the zero-fill contract — unlike
    the EWMA head, which renormalizes over observed days, a FORECAST
    must see the zeros or it extrapolates past gaps it should decay
    through).

    Exactness: both smoothings and the trend extrapolation collapse
    into one integer coefficient per lag — c_k = 17·W·w_k − 10·u_k
    with u the exact self-convolution of the EWMA weight integers —
    so the forecast is Σ c_k·cents over the constant denominator 7W²,
    floored, half-up-rounded and converted to double ONCE: bit-exact
    cross-engine, the `event_value_ewma` recipe lifted through the
    second smoothing.

    Scale shape: event grain collapses to (type, day) first; the
    calendar spine is generated per type (calendar-grain, never
    event-grain); the pairwise frame joins the spine against OBSERVED
    days only (zero terms contribute nothing, so zero-fill costs no
    rows), equi on event_type with the 13-day band residual — the
    `mann_kendall_frame` bound tightened by the horizon — and the
    final LEFT join restores all-quiet windows as forecast 0.
    """
    return holt_frame(
        spark, daily_cents_frame(load_table(spark, sf_dir, "events"))
    )


def holt_frame(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """The forecast core over any (event_type, ymd, c) frame — shared
    with ``event_value_holt_forecast_from_store`` (streaming/jobs.py),
    the day×type store's eighth consumer."""
    d0 = F.to_date(F.col("ymd"), "yyyyMMdd")
    bounds = daily.groupBy("event_type").agg(
        F.min(d0).alias("d0"), F.max(d0).alias("d1")
    )
    cal = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(0, datediff(d1, d0))")).alias("k"),
        "d0",
    ).select("event_type", F.expr("date_add(d0, k)").alias("day_t"))
    obs = daily.select(
        F.col("event_type").alias("event_type_i"),
        F.to_date("ymd", "yyyyMMdd").alias("day_i"),
        F.col("c").alias("c_i"),
    )
    d = F.datediff("day_t", "day_i")
    pairs = cal.join(
        obs,
        (F.col("event_type") == F.col("event_type_i"))
        & (d >= 0)
        & (d < _HOLT_LAGS),
    ).select("event_type", "day_t", "c_i", d.alias("d"))
    w = F.expr(_HOLT_CASE).cast("decimal(18,0)")
    agg = pairs.groupBy(F.col("event_type").alias("et_a"), F.col("day_t").alias("dt_a")).agg(
        F.sum((F.col("c_i") * w).cast("decimal(38,0)")).alias("num")
    )
    q = F.expr(
        f"(greatest(coalesce(num, 0), 0) * 20000 + {_HOLT_DEN}) div (2 * {_HOLT_DEN})"
    )
    return (
        cal.join(
            agg,
            (F.col("event_type") == F.col("et_a")) & (F.col("day_t") == F.col("dt_a")),
            "left",
        )
        .select(
            "event_type",
            F.date_format("day_t", "yyyyMMdd").alias("ymd"),
            (q.cast("double") / F.lit(1000000.0)).alias("holt_forecast"),
        )
    )


# ------------------------------------------------ forecast backtest

HOLT_BACKTEST_ORACLE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y%m%d') AS ymd,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
    FROM events GROUP BY event_type, strftime(ts, '%Y%m%d')
), bounds AS (
    SELECT event_type,
           MIN(CAST(strptime(ymd, '%Y%m%d') AS DATE)) AS d0,
           MAX(CAST(strptime(ymd, '%Y%m%d') AS DATE)) AS d1
    FROM daily GROUP BY event_type
), cal AS (
    SELECT event_type, d0 + CAST(u.k AS INTEGER) AS day_t
    FROM bounds, LATERAL (
        SELECT UNNEST(range(0, date_diff('day', d0, d1) + 1)) AS k
    ) u
), obs AS (
    SELECT event_type, CAST(strptime(ymd, '%Y%m%d') AS DATE) AS day_i, c
    FROM daily
), filled AS (
    SELECT cal.event_type, cal.day_t,
           COALESCE(o.c, 0) * 10000 AS a
    FROM cal LEFT JOIN obs o
      ON o.event_type = cal.event_type AND o.day_i = cal.day_t
), agg AS (
    SELECT cal.event_type, cal.day_t,
           SUM(i.c * ({_HOLT_CASE})) AS num
    FROM cal JOIN obs i
      ON i.event_type = cal.event_type
     AND date_diff('day', i.day_i, cal.day_t)
         BETWEEN 0 AND {_HOLT_LAGS - 1}
    CROSS JOIN LATERAL (
        SELECT date_diff('day', i.day_i, cal.day_t) AS d
    ) dd
    GROUP BY cal.event_type, cal.day_t
), q AS (
    SELECT f.event_type, f.day_t, f.a,
           (GREATEST(COALESCE(g.num, 0), 0) * 20000 + {_HOLT_DEN})
               // (2 * {_HOLT_DEN}) AS q
    FROM filled f LEFT JOIN agg g
      ON g.event_type = f.event_type AND g.day_t = f.day_t
), paired AS (
    SELECT t.event_type,
           ABS(t.q - n.a) AS e_holt,
           ABS(t.a - n.a) AS e_naive
    FROM q t JOIN q n
      ON n.event_type = t.event_type
     AND n.day_t = t.day_t + INTERVAL 1 DAY
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(e_holt) AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mae_holt,
       ROUND(CAST(SUM(e_naive) AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mae_naive,
       ROUND(CAST(SUM(e_holt) AS DOUBLE)
             / CAST(NULLIF(SUM(e_naive), 0) AS DOUBLE), 6) AS mase
FROM paired GROUP BY event_type
"""


@register(
    "holt_forecast_backtest",
    oracle=HOLT_BACKTEST_ORACLE,
    tags=("dws", "time-series", "forecast", "eval", "report"),
)
def holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step backtest of `event_value_holt_forecast` against the
    naive persistence forecast (tomorrow = today): per event type, the
    mean absolute error of each over every consecutive calendar-day
    pair in the type's span, plus their ratio — MASE's in-sample form
    (Hyndman & Koehler 2006), the accept/reject statistic every
    forecast ships with (ratio < 1 = the smoother beats persistence).

    Determinism: the MAE sums never touch floats — the forecast is the
    exact integer q both engines round identically (micro-dollar
    units), the zero-filled actual is cents·10⁴ (same units), and
    |q − a| accumulates in exact integer addition (order-free), so the
    two final divisions are single double ops on identical integers.

    Scale shape: everything up to the pairing is
    `event_value_holt_forecast`'s plan (calendar spine × observed-day
    band join, map-combined); the backtest adds ONE equi self-join of
    the calendar-grain forecast frame on (type, day+1) and a
    calendar-grain aggregate — nothing event-grain is touched twice.
    """
    daily = daily_cents_frame(load_table(spark, sf_dir, "events"))
    d0 = F.to_date(F.col("ymd"), "yyyyMMdd")
    bounds = daily.groupBy("event_type").agg(
        F.min(d0).alias("d0"), F.max(d0).alias("d1")
    )
    cal = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(0, datediff(d1, d0))")).alias("k"),
        "d0",
    ).select("event_type", F.expr("date_add(d0, k)").alias("day_t"))
    obs = daily.select(
        F.col("event_type").alias("event_type_i"),
        F.to_date("ymd", "yyyyMMdd").alias("day_i"),
        F.col("c").alias("c_i"),
    )
    filled = cal.join(
        obs,
        (F.col("event_type") == F.col("event_type_i"))
        & (F.col("day_t") == F.col("day_i")),
        "left",
    ).select(
        "event_type",
        "day_t",
        (F.coalesce(F.col("c_i"), F.lit(0)).cast("decimal(38,0)") * 10000)
        .cast("decimal(38,0)")
        .alias("a"),
    )
    d = F.datediff("day_t", "day_i")
    pairs = cal.join(
        obs,
        (F.col("event_type") == F.col("event_type_i"))
        & (d >= 0)
        & (d < _HOLT_LAGS),
    ).select("event_type", "day_t", "c_i", d.alias("d"))
    w = F.expr(_HOLT_CASE).cast("decimal(18,0)")
    agg = pairs.groupBy(
        F.col("event_type").alias("et_a"), F.col("day_t").alias("dt_a")
    ).agg(F.sum((F.col("c_i") * w).cast("decimal(38,0)")).alias("num"))
    qf = (
        filled.join(
            agg,
            (F.col("event_type") == F.col("et_a"))
            & (F.col("day_t") == F.col("dt_a")),
            "left",
        )
        .select(
            "event_type",
            "day_t",
            "a",
            F.expr(
                f"(greatest(coalesce(num, 0), 0) * 20000 + {_HOLT_DEN})"
                f" div (2 * {_HOLT_DEN})"
            ).alias("q"),
        )
    )
    nxt = qf.select(
        F.col("event_type").alias("et_n"),
        F.col("day_t").alias("dt_n"),
        F.col("a").alias("a_n"),
    )
    paired = qf.join(
        nxt,
        (F.col("event_type") == F.col("et_n"))
        & (F.expr("date_add(day_t, 1)") == F.col("dt_n")),
    ).select(
        "event_type",
        F.abs(F.col("q").cast("decimal(38,0)") - F.col("a_n")).alias("e_holt"),
        F.abs(F.col("a") - F.col("a_n")).alias("e_naive"),
    )
    n = F.count(F.lit(1))
    sh = F.sum("e_holt")
    sn = F.sum("e_naive")
    return paired.groupBy("event_type").agg(
        n.cast("bigint").alias("n_days"),
        F.round(
            sh.cast("double") / (n * F.lit(1000000)).cast("double"), 6
        ).alias("mae_holt"),
        F.round(
            sn.cast("double") / (n * F.lit(1000000)).cast("double"), 6
        ).alias("mae_naive"),
        F.round(sh.cast("double") / F.nullif(sn, F.lit(0)).cast("double"), 6).alias(
            "mase"
        ),
    )
