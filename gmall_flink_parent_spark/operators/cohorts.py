"""User-lifecycle analytics: retention cohorts, RFM segmentation,
robust per-type outlier gating, and the event-type pivot.

The reference's DWS layer stops at per-day visitor aggregates
(``gmall-realtime/.../app/dws``, SURVEY §2.6) — cohort retention, RFM
and anomaly gating are the next queries any product team runs on the
same (user_id, ts, event_type, value) grain, so they belong to the
engine's declared surface. Each head is expressed declaratively
(Catalyst plans the scan/shuffle) with the scale notes inline; each is
pinned against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_flink_parent_spark.operators.analytics import value_distribution_frame
from gmall_flink_parent_spark.registry import register, scoped_persist
from gmall_flink_parent_spark.sources.tables import load_table

RETENTION_ORACLE = """
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
    SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort_day
    FROM user_days
),
base AS (
    SELECT strftime(cohort_day, '%Y%m%d') AS cohort_ymd,
           date_diff('day', cohort_day, day) AS day_offset,
           COUNT(*) AS n_active
    FROM firsts
    GROUP BY 1, 2
)
SELECT cohort_ymd,
       CAST(day_offset AS INTEGER) AS day_offset,
       CAST(n_active AS BIGINT) AS n_active,
       ROUND(CAST(n_active AS DOUBLE) /
             MAX(CASE WHEN day_offset = 0 THEN n_active END)
                 OVER (PARTITION BY cohort_ymd), 6) AS retained_pct
FROM base
"""


def retention_frame(events: DataFrame) -> DataFrame:
    """Cohort retention triangle over an (user_id, ts) event frame.

    Scale shape — TWO full-data shuffles, both bounded:

    1. ``groupBy(user_id).agg(collect_set(day))`` — ONE hash shuffle on
       user_id with map-side partial sets. The per-user state is the
       set of DISTINCT ACTIVE DAYS, bounded by the corpus day span
       (≤ ~3.7k for a decade of history) regardless of how many raw
       events the user produced — this is why ``collect_set(day)`` is
       safe where ``collect_list(ts)`` would not be. It also replaces
       the naive distinct-then-window pair (a (user, day) shuffle PLUS
       a user_id re-shuffle) with a single exchange.
    2. ``groupBy(cohort, offset)`` — the result grain, one row per user
       per active day going in, (cohorts × offsets) coming out.

    The closing ``cohort_size`` window partitions on cohort_ymd; each
    partition holds at most one row per day offset, so no task ever
    sorts more than the day span. Every user contributes an offset-0
    row (their first active day), so the window's MAX(CASE offset=0)
    is never NULL.
    """
    per_user = events.groupBy("user_id").agg(
        F.collect_set(F.to_date("ts")).alias("days")
    )
    exploded = per_user.select(
        F.array_min("days").alias("cohort_day"), F.explode("days").alias("day")
    )
    base = exploded.groupBy(
        F.date_format("cohort_day", "yyyyMMdd").alias("cohort_ymd"),
        F.datediff("day", "cohort_day").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    w = Window.partitionBy("cohort_ymd")
    size = F.max(F.when(F.col("day_offset") == 0, F.col("n_active"))).over(w)
    return base.select(
        "cohort_ymd",
        F.col("day_offset").cast("int").alias("day_offset"),
        "n_active",
        F.round(F.col("n_active").cast("double") / size, 6).alias("retained_pct"),
    )


@register(
    "retention_cohorts",
    oracle=RETENTION_ORACLE,
    tags=("dws", "lifecycle"),
    # rotated INTO the driver window in round 9 (swap: doc_sample_split out)
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention: users cohorted by first active day,
    per-offset active counts and retained fraction."""
    return retention_frame(load_table(spark, sf_dir, "events"))


RFM_ORACLE = """
WITH p AS (
    SELECT user_id,
           CAST(-date_diff('day', MAX(CAST(ts AS DATE)),
                (SELECT MAX(CAST(ts AS DATE)) FROM events
                 WHERE event_type = 'purchase')) AS DECIMAL(18,2)) AS rec,
           CAST(COUNT(*) AS DECIMAL(18,2)) AS freq,
           SUM(CAST(value AS DECIMAL(18,2))) AS money
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
q AS (
    SELECT user_id,
           CAST(ntile(4) OVER (ORDER BY rec, user_id) AS INTEGER) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY freq, user_id) AS INTEGER) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY money, user_id) AS INTEGER) AS m_quartile
    FROM p
)
SELECT user_id, r_quartile, f_quartile, m_quartile,
       'R' || CAST(r_quartile AS VARCHAR) || 'F' || CAST(f_quartile AS VARCHAR)
           || 'M' || CAST(m_quartile AS VARCHAR) AS segment
FROM q
"""


@register("rfm_segments", oracle=RFM_ORACLE, tags=("dws", "lifecycle"))
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of purchasers: per-user recency / frequency /
    monetary quartiles (4 = best) and the composed segment label.

    A naive global ``ntile(4) OVER (ORDER BY metric)`` is a
    single-task sort at any scale. Instead the three per-user metrics
    are UNPIVOTED into (metric, user_id, value) rows — 3× the user
    count, still tiny next to raw events — and ranked by
    ``value_distribution_frame``'s two-pass range-partition rank
    (``operators/analytics.py``), which never puts one metric's whole
    population on one task. Recency enters negated (days-ago ascending
    ⇒ most-recent lands in quartile 4, matching F/M's higher-is-better
    orientation); all three metrics are DECIMAL(18,2) so the stacked
    ordering is exact on both engines. The anchor date (global max
    purchase day) is a 1-row aggregate broadcast into the scoring
    pass — the same bounded-stats-crossJoin shape as
    ``selection.py``'s DSIR model join.
    """
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = purchases.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    per_user = purchases.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("money"),
    )
    stacked = (
        per_user.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(
                """stack(3,
                   'recency',   CAST(-datediff(anchor_day, last_day) AS DECIMAL(18,2)),
                   'frequency', CAST(freq AS DECIMAL(18,2)),
                   'monetary',  CAST(money AS DECIMAL(18,2))
                ) AS (event_type, spend)"""
            ),
        )
    )
    dist = value_distribution_frame(stacked)
    quart = lambda m: F.max(  # noqa: E731  (one row per (user, metric))
        F.when(F.col("event_type") == m, F.col("quartile"))
    )
    out = dist.groupBy("user_id").agg(
        quart("recency").alias("r_quartile"),
        quart("frequency").alias("f_quartile"),
        quart("monetary").alias("m_quartile"),
    )
    return out.select(
        "user_id",
        "r_quartile",
        "f_quartile",
        "m_quartile",
        F.concat(
            F.lit("R"),
            F.col("r_quartile").cast("string"),
            F.lit("F"),
            F.col("f_quartile").cast("string"),
            F.lit("M"),
            F.col("m_quartile").cast("string"),
        ).alias("segment"),
    )


OUTLIER_ORACLE = """
WITH stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
                AS DOUBLE) AS s2
    FROM events GROUP BY event_type
),
scored AS (
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.s1 / s.n) /
               sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE s.n > 1
)
SELECT event_id, event_type, value, ROUND(z, 4) AS z_score
FROM scored WHERE ABS(z) > 3.0
"""


@register(
    "event_value_outliers",
    oracle=OUTLIER_ORACLE,
    tags=("dws", "quality-gate"),
    past_window=True,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (abs z over 3) on event values — the
    anomaly gate a metrics pipeline runs before trusting a day's data.

    Scale shape: per-type moment sums reduce to a #types-row frame
    (one map-side-combined shuffle), broadcast back into a second scan
    for scoring — never a ``Window.partitionBy(event_type)`` that
    would put a whole type's events on one task. Moments are summed as
    DECIMAL (exact, order-independent) and converted to DOUBLE only in
    the final arithmetic, spelled identically in the oracle, so the
    z-scores are bit-deterministic across engines and partitionings;
    the DECIMAL(18,6)² sums keep 26 integer digits of headroom — at
    1e12 rows of |value| ≤ 1e6 the sum is still exact.
    """
    events = load_table(spark, sf_dir, "events")
    return value_outliers_frame(events, type_moments_merge(type_moments_partials(events)))


def type_moments_partials(events: DataFrame) -> DataFrame:
    """Per-type moment partials (n, Σv, Σv²), the sums in exact DECIMAL
    — associative, so any batching of the events merges to the one-shot
    moments. The rows ``type_moments_store_job`` lands per micro-batch."""
    v = F.col("value").cast("decimal(18,6)")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )


def type_moments_merge(partials: DataFrame) -> DataFrame:
    """Merge ``type_moments_partials`` rows into per-type (n, s1, s2),
    the sums converted to DOUBLE only after the exact merge."""
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("s1").cast("double").alias("s1"),
        F.sum("s2").cast("double").alias("s2"),
    )


def value_outliers_frame(events: DataFrame, stats: DataFrame) -> DataFrame:
    """Score ``events`` against merged per-type moments
    (``type_moments_merge``): the rows whose z-score exceeds 3 in
    absolute value."""
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("value") - s1 / n) / F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return (
        events.join(F.broadcast(stats.filter(n > 1)), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", F.round("z", 4).alias("z_score"))
    )


PIVOT_TYPES = ("click", "view", "purchase", "signup", "error")

PIVOT_ORACLE = """
SELECT strftime(ts, '%Y%m%d') AS ymd,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
FROM events
GROUP BY strftime(ts, '%Y%m%d')
"""


@register(
    "event_type_pivot", oracle=PIVOT_ORACLE, tags=("dws", "pivot"), past_window=True
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event-type value matrix — the reshape behind every
    per-channel dashboard.

    ``pivot`` is given the EXPLICIT type list: without it Spark runs a
    separate distinct-scan job just to discover the columns — a full
    extra pass over the fact table at 100 TB (and a nondeterministic
    schema). With the list, the pivot compiles to a single
    hash-aggregate scan with map-side partial sums, exactly the CASE
    WHEN form the oracle spells. Sums go through DECIMAL so column
    values are order-independent; absent (day, type) cells are NULL on
    both engines.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd"))
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"))
    )


STICKINESS_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
cov AS (
    SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS cday
    FROM ud, (SELECT unnest(range(0, 28)) AS o)
),
mau AS (SELECT cday AS day, CAST(count(*) AS BIGINT) AS mau FROM cov GROUP BY cday)
SELECT strftime(d.day, '%Y%m%d') AS ymd, d.dau, m.mau,
       ROUND(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM dau d JOIN mau m ON d.day = m.day
"""


def stickiness_frame(user_days: DataFrame) -> DataFrame:
    """DAU / trailing-28-day-MAU per active day over a distinct
    (user_id, day) frame — the stickiness metric product teams track.

    Distinct-count-over-a-sliding-window does not decompose into
    per-day partials (a user active twice in the window must count
    once), and a per-day window over raw events is a scan per day.
    Instead each (user, day) FACT claims the 28 future days it covers
    — a 28× fan-out on the user-days grain, which is already orders of
    magnitude below event volume — and the distinct collapses
    overlapping claims, so MAU(d) is an exact distinct count from ONE
    aggregate. Reporting joins back to DAU days, so only observed days
    emit.
    """
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cov = (
        user_days.select(
            "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(27))).alias("o")
        )
        .select("user_id", F.expr("date_add(day, o)").alias("cday"))
        .distinct()
    )
    mau = cov.groupBy(F.col("cday").alias("day")).agg(
        F.count(F.lit(1)).alias("mau")
    )
    return dau.join(mau, "day").select(
        F.date_format("day", "yyyyMMdd").alias("ymd"),
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
    )


@register(
    "stickiness_ratio",
    oracle=STICKINESS_ORACLE,
    tags=("dws", "lifecycle"),
    past_window=True,
)
def stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day DAU / trailing-28-day MAU over the events table."""
    return stickiness_frame(user_days(load_table(spark, sf_dir, "events")))


def user_days(events: DataFrame) -> DataFrame:
    """The distinct (user_id, day) activity pairs — the lifecycle grain
    behind stickiness, retention and the VisitorStats uv/new counts, and
    the rows ``user_days_store_job`` lands per micro-batch. A pair set
    merges by union, so cross-batch repeats collapse in the reader's
    distinct."""
    return events.select("user_id", F.to_date("ts").alias("day")).distinct()


@register(
    "stickiness_hll",
    oracle=None,  # sketch estimates are engine-internal; bounded vs exact in tests
    tags=("dws", "lifecycle", "sketch", "approx"),
    past_window=True,
)
def stickiness_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``stickiness_ratio``: per-day DAU/MAU from
    MERGEABLE per-day HLL sketches instead of the exact user-days
    grain.

    The exact head's coverage-claim explode shuffles users × days
    rows; at extreme user counts even that grain is heavy. Sketches
    collapse each day to ~1 KB of HLL state (``dau_hll_sketches`` —
    the same frame the DAU store lands), and MAU(d) is the estimate of
    ``hll_union_agg`` over days d−27..d: union is register-wise max,
    so the windowed estimate is EXACTLY the sketch of the union set —
    no window-decomposition error, only the HLL ±2% band (pinned
    against the exact head in tests). The day×window fan-out joins a
    #days-row frame to a 28-row offset range — driver-trivial at any
    event volume.
    """
    from gmall_flink_parent_spark.operators.uv_dedup import dau_hll_sketches

    events = load_table(spark, sf_dir, "events")
    sk = dau_hll_sketches(events).select(
        F.to_date("ymd", "yyyyMMdd").alias("day"), "users_sketch"
    )
    dau = sk.select(
        "day", F.hll_sketch_estimate("users_sketch").alias("approx_dau")
    )
    cov = sk.select(
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("o"),
        F.expr("date_add(day, o)").alias("cday"),
        "users_sketch",
    )
    mau = cov.groupBy(F.col("cday").alias("day")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("users_sketch")).alias("approx_mau")
    )
    return dau.join(mau, "day").select(
        F.date_format("day", "yyyyMMdd").alias("ymd"),
        "approx_dau",
        "approx_mau",
        F.round(
            F.col("approx_dau").cast("double") / F.col("approx_mau"), 6
        ).alias("stickiness"),
    )


TREND_ORACLE = """
WITH daily AS (
    SELECT event_type,
           date_diff('day', (SELECT MIN(CAST(ts AS DATE)) FROM events),
                     CAST(ts AS DATE)) AS x,
           SUM(CAST(value AS DECIMAL(18,2))) AS y
    FROM events GROUP BY 1, 2
),
sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(x * x) AS DOUBLE) AS sxx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(x * y) AS DOUBLE) AS sxy
    FROM daily GROUP BY event_type
)
SELECT event_type, n AS n_days,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS intercept
FROM sums WHERE n * sxx - sx * sx <> 0
"""


@register(
    "revenue_trend_fit",
    oracle=TREND_ORACLE,
    tags=("dws", "regression"),
    past_window=True,
)
def revenue_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily value totals (closed-form OLS) —
    is this channel growing, and how fast.

    The regression never iterates: slope and intercept close from the
    five sufficient statistics (n, Σx, Σx², Σy, Σxy), each an EXACT
    sum (integer day index × decimal daily totals) reduced map-side —
    the ``source_zipf_slope`` discipline applied to time. Two
    aggregates, both on reduced grains (type×day, then type); the
    anchor day is a 1-row broadcast. Division happens once, in double,
    from exact inputs, spelled identically in the oracle.
    """
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.min(F.to_date("ts")).alias("day0"))
    daily = (
        events.crossJoin(F.broadcast(anchor))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("day0")).alias("x"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("y"))
    )
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.filter(n * sxx - sx * sx != 0).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


NEW_VS_RETURNING_ORACLE = """
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
    SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS first_day
    FROM user_days
)
SELECT strftime(day, '%Y%m%d') AS ymd,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
       ROUND(CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS new_share
FROM firsts GROUP BY strftime(day, '%Y%m%d')
"""


@register(
    "daily_new_vs_returning",
    oracle=NEW_VS_RETURNING_ORACLE,
    tags=("dws", "lifecycle"),
    past_window=True,
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day split of active users into first-ever-seen vs returning
    — the acquisition-vs-retention composition every growth dashboard
    leads with, closing the lifecycle family (cohorts, RFM,
    stickiness) on the same user-days grain.

    Same single-exchange shape as ``retention_frame``: one
    ``collect_set(day)`` shuffle bounds per-user state by the corpus
    day span, the first day falls out of ``array_min``, and the day
    grain aggregates the exploded pairs — no distinct-then-rewindow
    double shuffle, no per-day scan.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.collect_set(F.to_date("ts")).alias("days")
    )
    exploded = per_user.select(
        F.array_min("days").alias("first_day"), F.explode("days").alias("day")
    )
    is_new = (F.col("day") == F.col("first_day")).cast("long")
    return exploded.groupBy(F.date_format("day", "yyyyMMdd").alias("ymd")).agg(
        F.sum(is_new).alias("new_users"),
        F.sum(1 - is_new).alias("returning_users"),
        F.round(F.sum(is_new).cast("double") / F.count(F.lit(1)), 6).alias(
            "new_share"
        ),
    )


_HIST_WIDTH = 50  # value units per bucket

HISTOGRAM_ORACLE = f"""
SELECT event_type,
       CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       CAST(floor(value / {_HIST_WIDTH}) * {_HIST_WIDTH} AS DOUBLE) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, floor(value / {_HIST_WIDTH})
"""


@register(
    "event_value_histogram",
    oracle=HISTOGRAM_ORACLE,
    tags=("dws", "distribution"),
    past_window=True,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type — the distribution
    report beside the quantile heads (`doc_length_quantiles` answers
    "where are the cut points", this answers "what does the shape look
    like").

    One map-side-combined aggregate on (type, bucket): the bucket id is
    a pure projection (floor division — deterministic for the doubles
    both engines read from the same parquet), so the shuffle carries
    only (types × occupied buckets) partials at any event volume —
    the histogram never needs a sort, a window, or a second pass.
    Per-bucket mass sums through DECIMAL for order-independence.
    """
    events = load_table(spark, sf_dir, "events")
    return value_histogram_merge(value_histogram_partials(events))


def value_histogram_partials(events: DataFrame) -> DataFrame:
    """(type, bucket) histogram partials: the event count and the exact
    DECIMAL value mass. Both add, so any batching of the events merges
    to the one-shot histogram — the rows ``value_histogram_job`` lands
    per micro-batch."""
    bucket = F.floor(F.col("value") / _HIST_WIDTH)
    return events.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
    )


def value_histogram_merge(partials: DataFrame) -> DataFrame:
    """Merge ``value_histogram_partials`` rows into the histogram: the
    mass turns DOUBLE only after the exact merge."""
    return partials.groupBy("event_type", "bucket").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
    ).select(
        "event_type",
        "bucket",
        (F.col("bucket") * _HIST_WIDTH).cast("double").alias("bucket_lo"),
        "n_events",
        "sum_value",
    )


EVENT_UNPIVOT_ORACLE = """
SELECT ymd, event_type, value_sum
FROM (
    SELECT strftime(ts, '%Y%m%d') AS ymd, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY strftime(ts, '%Y%m%d'), event_type
)
"""


@register(
    "event_type_unpivot",
    oracle=EVENT_UNPIVOT_ORACLE,
    tags=("dws", "reshape", "unpivot"),
    past_window=True,
)
def event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unpivot`` (melt) as the exact inverse of ``event_type_pivot``:
    the wide day × type matrix turns back into (ymd, event_type,
    value_sum) long form, dropping the NULL cells pivot materialized
    for absent (day, type) pairs — so the round trip reproduces the
    plain grouped aggregate, which is what the oracle states.

    Built with ``DataFrame.unpivot`` (SQL ``stack``): a pure map-side
    row explode — values_column_count rows out per input row, no
    shuffle beyond the pivot's own aggregate, and the NULL filter is
    codegen. Pivot and unpivot are the reshape pair every dashboard
    layer needs; proving them mutually inverse on real data pins both.
    """
    wide = event_type_pivot(spark, sf_dir)
    return (
        wide.unpivot("ymd", list(PIVOT_TYPES), "event_type", "value_sum")
        .filter(F.col("value_sum").isNotNull())
    )


VALUE_CORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
    FROM events GROUP BY CAST(ts AS DATE), event_type
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_days,
           SUM(a.v) AS sx, SUM(b.v) AS sy,
           SUM(a.v * b.v) AS sxy,
           SUM(a.v * a.v) AS sxx, SUM(b.v * b.v) AS syy
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_days,
       ROUND((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / SQRT((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS pearson_r
FROM pairs
"""


@register(
    "event_value_correlation",
    oracle=VALUE_CORR_ORACLE,
    tags=("dws", "stats", "correlation"),
    # promoted in the round-10 rotation; rotated back out in round 13
    # (event_trend_mann_kendall + supplier_revenue_hhi + the newly
    # promoted event_value_holt_forecast keep the stats family in-window)
    past_window=True,
)
def event_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event types' DAILY value totals,
    for every type pair sharing days — "do purchases move with clicks?"
    at dashboard grain.

    The exact-moments discipline (``event_value_outliers``' z-scores):
    every sum the estimator needs — Σx, Σy, Σxy, Σx², Σy² — accumulates
    in DECIMAL, exact and order-independent. Daily totals are pinned at
    DECIMAL(18,2) so the cross products stay inside decimal(38,*) —
    (18,2)×(18,2) → 37 digits — instead of silently tripping Spark's
    allowPrecisionLoss reduction (and DuckDB's >38-width double
    fallback) the way an unconstrained (28,2)×(28,2) product would.
    The contract bound: a single (day, type) total above 10^16 − 1
    overflows the pinned type (NULL row in non-ANSI mode) — at that
    grain the bound is astronomically beyond any real corpus. The
    final Pearson expression casts each EXACT moment to double first
    and then runs one fixed IEEE expression tree — identical results
    in any engine, rounded to 6 for the hash. Scale shape: one
    day-grain aggregate (map-side combined), a self-join on the day
    key at days × types grain (dim-bounded), a |types|²-row moment
    aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    return value_correlation_frame(daily_value_merge(daily_value_partials(events)))


def daily_value_partials(events: DataFrame) -> DataFrame:
    """Per-(day, event_type) exact DECIMAL value sums — associative, so
    any batching of the events merges to the one-shot daily totals. The
    rows ``daily_value_store_job`` lands per micro-batch."""
    return events.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v_part"),
    )


def daily_value_merge(partials: DataFrame) -> DataFrame:
    """Merge ``daily_value_partials`` rows into the (day, event_type,
    v) daily totals, pinned at DECIMAL(18,2) after the exact merge."""
    return partials.groupBy("day", "event_type").agg(
        F.sum("v_part").cast("decimal(18,2)").alias("v")
    )


def value_correlation_frame(daily: DataFrame) -> DataFrame:
    """Pair-moment Pearson core over a (day, event_type, v DECIMAL(18,2))
    daily-totals frame — shared by the batch head above and the
    ``daily_value_store_job`` final pass (``streaming/jobs.py``), so the
    incremental store cannot drift from the batch definition."""
    a = daily.select(
        F.col("day").alias("d_a"), F.col("event_type").alias("type_a"),
        F.col("v").alias("va"),
    )
    b = daily.select(
        F.col("day").alias("d_b"), F.col("event_type").alias("type_b"),
        F.col("v").alias("vb"),
    )
    pairs = (
        a.join(b, (F.col("d_a") == F.col("d_b")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("va").alias("sx"),
            F.sum("vb").alias("sy"),
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
            F.sum(F.col("va") * F.col("va")).alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).alias("syy"),
        )
    )
    # cast each exact decimal moment to double FIRST, then one fixed
    # IEEE expression tree — never decimal×decimal above 38 digits
    # (which Spark would precision-reduce and DuckDB would double-ize,
    # each in its own way)
    nd = F.col("n_days").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    den = F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    return pairs.select(
        "type_a", "type_b", "n_days", F.round(num / den, 6).alias("pearson_r")
    )


# ------------------------------------------- conversion latency

CONVERSION_LATENCY_ORACLE = """
WITH first_click AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'click' GROUP BY user_id
), first_purchase AS (
    SELECT f.user_id, f.t0, MIN(e.ts) AS t1
    FROM first_click f
    JOIN events e ON e.user_id = f.user_id
     AND e.event_type = 'purchase' AND e.ts >= f.t0
    GROUP BY f.user_id, f.t0
), lat AS (
    SELECT strftime(f.t0, '%Y%m%d') AS cohort_ymd,
           p.user_id IS NOT NULL AS converted,
           CAST(epoch_us(p.t1) - epoch_us(p.t0) AS BIGINT) AS lat_us
    FROM first_click f LEFT JOIN first_purchase p USING (user_id)
)
SELECT cohort_ymd,
       CAST(COUNT(*) AS BIGINT) AS n_clickers,
       CAST(COUNT(*) FILTER (WHERE converted) AS BIGINT) AS n_converted,
       CAST(CAST(COUNT(*) FILTER (WHERE converted) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS conversion_rate,
       ROUND(quantile_cont(lat_us, 0.5) FILTER (WHERE converted) / 1e6, 6)
           AS p50_latency_sec,
       ROUND(quantile_cont(lat_us, 0.9) FILTER (WHERE converted) / 1e6, 6)
           AS p90_latency_sec
FROM lat GROUP BY cohort_ymd
"""


@register(
    "conversion_latency_profile",
    oracle=CONVERSION_LATENCY_ORACLE,
    tags=("dws", "funnel", "quantile"),
    past_window=True,
)
def conversion_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per acquisition cohort: for each
    first-click day, the share of clickers who EVER purchase at-or-after
    their first click, and the exact p50/p90 of that latency in
    seconds — the product-analytics "how long does conversion take"
    complement to `funnel_conversion` (does it happen in a fixed
    window) and `retention_cohorts` (does activity persist).

    Semantics pinned in the oracle: anchor is each user's FIRST click;
    conversion is the first purchase with ts ≥ that anchor (same-
    instant purchases count — the boundary a half-open anchor would
    silently drop); latency percentiles interpolate over exact integer
    microseconds and divide by 1e6 once, under the round-6 edge; the
    conversion rate is one exact count ratio. Scale shape: two
    map-combined min-aggregates at the user grain, one user-keyed
    equi-join (no window at the event grain), then percentiles grouped
    by cohort DAY — bounded groups, each holding its own day's
    converters; the heavy lifting is the two scans.
    """
    events = load_table(spark, sf_dir, "events")
    first_click = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    first_purchase = (
        first_click.join(purchases, "user_id")
        .filter(F.col("pts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("t1"))
    )
    lat = first_click.join(first_purchase, "user_id", "left").select(
        F.date_format("t0", "yyyyMMdd").alias("cohort_ymd"),
        F.col("t1").isNotNull().alias("converted"),
        (F.unix_micros("t1") - F.unix_micros("t0")).alias("lat_us"),
    )
    return lat.groupBy("cohort_ymd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clickers"),
        F.count(F.when(F.col("converted"), 1)).cast("bigint").alias("n_converted"),
        (
            F.count(F.when(F.col("converted"), 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("conversion_rate"),
        F.round(
            F.percentile(
                F.when(F.col("converted"), F.col("lat_us")), F.lit(0.5)
            )
            / F.lit(1e6),
            6,
        ).alias("p50_latency_sec"),
        F.round(
            F.percentile(
                F.when(F.col("converted"), F.col("lat_us")), F.lit(0.9)
            )
            / F.lit(1e6),
            6,
        ).alias("p90_latency_sec"),
    )


# ------------------------------------------- audience overlap matrix

AUDIENCE_OVERLAP_ORACLE = """
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
), deg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY event_type
), pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_both
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, da.n AS n_a, db.n AS n_b, p.n_both,
       CAST(CAST(p.n_both AS DOUBLE)
            / CAST(da.n + db.n - p.n_both AS DOUBLE) AS DOUBLE) AS jaccard
FROM pairs p
JOIN deg da ON da.event_type = p.type_a
JOIN deg db ON db.event_type = p.type_b
"""


@register(
    "audience_overlap_matrix",
    oracle=AUDIENCE_OVERLAP_ORACLE,
    tags=("dws", "set-op", "jaccard"),
    past_window=True,
)
def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience Jaccard between every event-type pair — the overlap
    matrix behind "do buyers also browse" dashboards, generalizing
    `engaged_user_overlap` (one fixed pair via set ops) to all pairs
    in one pass: |users(A)∩users(B)| / |users(A)∪users(B)| with the
    union by inclusion-exclusion.

    Exactness: distinct-user counts are integers, ONE double division
    per pair. Scale shape: the distinct (user, type) projection is the
    only corpus-grain shuffle; the pair join fans each user's type set
    (≤ |vocabulary|) into its pairs — Σ per-user |types|², bounded by
    the type vocabulary squared per user, the same two-hop envelope as
    the link-prediction wedge join — and the output is the |vocab|²/2
    matrix. At 100 TB the HLL form of the same matrix (sketch per
    type, union via merge) drops the pair join entirely; this head is
    the exact tier the sketch would be audited against.
    """
    events = load_table(spark, sf_dir, "events")
    ut = scoped_persist(events.select("user_id", "event_type").distinct())
    deg = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = ut.selectExpr("user_id", "event_type AS type_a")
    b = ut.selectExpr("user_id AS uid_b", "event_type AS type_b")
    pairs = (
        a.join(b, (a["user_id"] == b["uid_b"]) & (a["type_a"] < b["type_b"]))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    da = deg.selectExpr("event_type AS type_a", "n AS n_a")
    db = deg.selectExpr("event_type AS type_b", "n AS n_b")
    return (
        pairs.join(da, "type_a")
        .join(db, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )


# ------------------------------------------- weekday × hour heatmap

HEATMAP_ORACLE = """
SELECT event_type,
       CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS dow,
       CAST(hour(ts) AS INTEGER) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, dayofweek(CAST(ts AS DATE)), hour(ts)
"""


@register(
    "weekday_hour_heatmap",
    oracle=HEATMAP_ORACLE,
    tags=("dws", "window-agg", "seasonality"),
    past_window=True,
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday × hour activity heatmap per event type — the 2-D
    seasonal profile every ops dashboard renders (and the 2-D
    refinement of `event_dow_seasonality`'s weekday axis): counts and
    exact decimal value sums per (type, dow 0=Sunday, hour) cell.
    One map-combined aggregate to a ≤ |vocab|·7·24-row frame — the
    canonical bounded-grain rollup; the double cast happens once at
    the output edge.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type",
        (F.dayofweek(F.to_date("ts")) - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
