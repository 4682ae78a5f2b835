"""End-to-end streaming jobs: the reference's five apps as Structured
Streaming pipelines (EP1/EP2/EP3 in SURVEY §3).

Each job is a function returning started ``StreamingQuery``s (or a
writer ready to start) so tests can drive them with
``trigger(availableNow=True)`` and real deployments with Kafka sources/
sinks from ``streaming/sources.py``.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gmall_flink_parent_spark.operators.routing import (
    ROUTING_CONFIG,
    ROUTING_CONFIG_SCHEMA,
    route,
)
from gmall_flink_parent_spark.registry import cached, query_scope, scoped_persist
# Every job below lands its rows through streaming.store (the one
# ingest-store module: batch_store_job / land_batch / start_batches);
# its public names are re-exported for existing call sites. The private
# swap internals (_clear_swap_leftovers/_swap_parquet_dir/
# _max_committed_batch_id) are NOT re-exported — patching a jobs-side
# alias of those would silently no-op, since store.py functions resolve
# their own module globals. Patch/import them from streaming.store.
from gmall_flink_parent_spark.streaming.store import (  # noqa: F401
    COMPACT_BASE_ID,
    _hadoop_fs,
    batch_store_job,
    compact_fact_store,
    compact_partial_store,
    heal_store_dirs,
    land_batch,
    start_batches,
    store_row_count,
    upsert_parquet,
)


def log_split_job(events: DataFrame, out_dir: str, checkpoint_dir: str):
    """EP1 (BaseLogTask): one parsed stream → three sinks via foreachBatch.

    The reference's side outputs (``BaseLogTask.java:109-148``) become
    three filtered writes off one cached micro-batch — one source scan,
    three sinks, per-batch atomicity from the checkpoint.
    """

    def split(batch: DataFrame, batch_id: int) -> None:
        with cached(batch) as batch:
            start = batch.filter(F.col("event_type") == "signup")
            page = batch.filter(F.col("event_type").isin("view", "click"))
            start.write.mode("append").parquet(f"{out_dir}/dwd_start_log")
            page.write.mode("append").parquet(f"{out_dir}/dwd_page_log")
            # display analog: explode props keys (X2's per-element emit)
            page.select(
                "event_id",
                "user_id",
                F.explode(
                    F.from_json("props", "map<string,string>")
                ).alias("prop_key", "prop_value"),
            ).write.mode("append").parquet(f"{out_dir}/dwd_display_log")

    return start_batches(events, split, f"{checkpoint_dir}/log_split")


def corpus_summary_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Streaming twin of batch ``corpus_summary`` (text DWS surface).

    The instructive partial-store case (``batch_store_job``): the final answer is
    per-language, but ``countDistinct(source)`` is NOT mergeable from
    per-language partials — so the store keeps the FINER (lang, source)
    grain, where every aggregate is a plain sum and the distinct source
    count falls out of the store's key set. The grain rule for the
    shape: partials must be at least as fine as the finest
    non-decomposable aggregate's key.
    """

    def partials(batch: DataFrame) -> DataFrame:
        from gmall_flink_parent_spark.functions.curation import corpus_token_projection

        return (
            corpus_token_projection(batch)
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs_part"),
                F.sum("n_tokens").cast("long").alias("tokens_part"),
                F.sum("n_chars").cast("long").alias("chars_part"),
            )
        )

    return batch_store_job(
        docs, partials, store_path, f"{checkpoint_dir}/corpus_summary"
    )


def corpus_summary_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``corpus_summary_job``'s (lang, source) partials —
    schema-identical to batch ``corpus_summary``. The division
    reproduces Spark's integral ``avg`` exactly (long sum / long count
    as double)."""
    return (
        spark.read.parquet(store_path)
        .groupBy("lang")
        .agg(
            F.sum("n_docs_part").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("tokens_part").alias("total_tokens"),
            F.sum("chars_part").alias("total_chars"),
            F.round(F.sum("tokens_part") / F.sum("n_docs_part"), 6).alias("avg_tokens"),
        )
    )


def ensure_dim_table(spark: SparkSession, name: str, path: str, df: DataFrame) -> None:
    """K4 auto-DDL (``TableProcessFunction.java:141-183``): create the
    dim table in the catalog if missing — with **real column types**
    derived from the frame's schema, not the reference's
    varchar-everywhere (SURVEY §1.2 flags that as a limitation, not a
    semantic). Idempotent; `CREATE TABLE IF NOT EXISTS` over the upsert
    location, so SQL users can query dims by name immediately."""
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{name}` ({cols}) USING PARQUET LOCATION '{path}'"
    )


def upsert_rows(spark: SparkSession, new_rows: DataFrame, path: str, key: str) -> None:
    """K3 upsert dispatcher (reference ``DimSink.java:35-61`` UPSERT).

    When Delta is on the classpath the upsert is one transactional
    ``MERGE INTO`` — atomic, concurrent-reader-safe, no swap window.
    Otherwise (this container) it falls back to the parquet
    swap-rewrite in ``upsert_parquet``, which preserves the same
    keep-newest-per-key semantics with a two-rename exposure window.
    """
    try:
        from delta.tables import DeltaTable  # type: ignore[import-not-found]
    except ImportError:
        upsert_parquet(spark, new_rows, path, key)
        return
    new_rows = new_rows.dropDuplicates([key])
    if DeltaTable.isDeltaTable(spark, path):
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(new_rows.alias("s"), f"t.`{key}` = s.`{key}`")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    fs, dest = _hadoop_fs(spark, path)
    if fs.exists(dest):
        # Mixed history: `path` holds a plain-parquet table written by
        # earlier fallback runs (Delta only became importable later). A
        # delta-format save would error on the non-empty directory —
        # keep merging via the parquet swap path instead of migrating
        # formats mid-stream.
        upsert_parquet(spark, new_rows, path, key)
    else:
        new_rows.write.format("delta").save(path)


def routing_job(
    cdc_stream: DataFrame,
    config_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """EP2 (BaseDbTask + TableProcessFunction): config-driven routing.

    The 5 s config poll (W9, ``TableProcessFunction.java:51-57``) becomes
    a re-read of the config table at each micro-batch — the natural poll
    point, one ``collect()``; ``operators.routing.route`` turns its rows
    into a literal map lookup (J4); the fact branch lands partitioned by
    ``sink_table`` (K2's dynamic topic), the dim branch upserts per sink
    table (K3).

    A micro-batch runs as few Spark jobs as its outputs need — with one
    non-empty dim table, four: the config collect, the facts write, and
    the upsert's merge shuffle and write. At a tick's few hundred rows
    each job's tasks take milliseconds while its wait for a free slot
    behind the other streaming apps' stages takes up to seconds, so the
    job count, not the row count, sets the batch latency. So the routed
    batch is not persisted (each dim upsert re-reads it inside its own
    jobs), and an ``Observation`` on the facts write finds the dim
    tables with rows without a job of its own.
    """

    def route_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # fresh snapshot = poll tick
        config = spark.read.schema(ROUTING_CONFIG_SCHEMA).json(config_path).collect()
        routed = route(batch, config)
        dim_tables = sorted(
            {r["sink_table"] for r in config if r["sink_type"] == "hbase"} - {None}
        )
        # rows per dim table, counted while the facts write scans the
        # batch; the metrics sit below the kafka filter, so they see
        # every routed row
        is_dim = F.col("sink_type") == "hbase"
        seen = Observation()
        metrics = [
            F.count_if(is_dim & (F.col("sink_table") == t)).alias(t) for t in dim_tables
        ]
        scanned = routed.observe(seen, *metrics) if metrics else routed
        scanned.filter(F.col("sink_type") == "kafka").drop("sink_type").write.mode(
            "append"
        ).partitionBy("sink_table").parquet(f"{out_dir}/facts")
        tables = [t for t in dim_tables if seen.get[t]] if metrics else []
        dims = routed.filter(is_dim).drop("sink_type")

        # Concurrent per-table upserts: each table's swap touches its
        # own directory (no cross-table interference), and Spark's
        # scheduler is thread-safe — so the per-batch dim latency is the
        # SLOWEST table, not the sum (the round-5 verdict's watch item).
        # pool.map propagates the first failure, failing the batch
        # before its checkpoint commit — replay semantics unchanged.
        # Pool threads do NOT inherit the streaming run's job group
        # (pinned-thread mode gives each Python thread a fresh JVM
        # thread with empty local properties), so re-set it inside
        # each worker — otherwise query.stop() could not cancel
        # in-flight dim rewrites and a swap could land after stop().
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        desc = sc.getLocalProperty("spark.job.description")
        interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")

        def _upsert(tbl: str) -> str:
            if group is not None:
                sc.setJobGroup(group, desc, interrupt == "true")
            rows = dims.filter(F.col("sink_table") == tbl).drop("sink_table")
            upsert_rows(spark, rows, f"{out_dir}/dims/{tbl}", key="event_id")
            return tbl

        if tables:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
                list(pool.map(_upsert, tables))
            # catalog DDL stays serial: embedded metastores (Derby)
            # reject concurrent DDL, and it is metadata-cheap anyway.
            # Every table shares one column schema (``route``'s
            # projection), so derive it once.
            schema_frame = dims.drop("sink_table")
            for tbl in tables:
                ensure_dim_table(
                    spark, tbl, f"{out_dir}/dims/{tbl}", schema_frame
                )

    return start_batches(cdc_stream, route_batch, f"{checkpoint_dir}/routing")


def write_routing_config(spark: SparkSession, path: str) -> None:
    """Materialize the table_process config (S3's MySQL table) as JSON."""
    spark.createDataFrame(ROUTING_CONFIG, ROUTING_CONFIG_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).json(path)


def hourly_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``hourly_stats`` query (DWS surface).

    Same logical definition — tumbling 1 h window per event type — run
    incrementally with a 1 min watermark; append mode emits each window
    once the watermark passes its end. ``countDistinct`` is not
    incrementally mergeable, so the streaming twin carries the HLL
    sketch (``approx_count_distinct`` — the 100 TB path regardless);
    the exact columns (n_events, sum_value) match the batch query
    bit-for-bit for every closed window (asserted in
    ``tests/test_streaming.py``).

    Note: ``approx_count_distinct`` emits only the ESTIMATE — its HLL
    state is never exposed, so two runs' outputs cannot be merged. When
    the count must merge across re-runs/backfills, use the
    partial-store twin ``hourly_stats_job``, which stores the
    DataSketches sketch itself as a column.
    """
    return (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "approx_users",
            "sum_value",
        )
    )


def sliding_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``sliding_stats`` query.

    Same hopping-window definition (1 h windows every 30 min) run
    incrementally with a 1 min watermark; each event joins 2 open
    windows, state holds at most size/slide + lateness windows per
    event type, and append mode emits a window once the watermark
    passes its end — matched against the batch query on closed windows
    in ``tests/test_streaming.py``.
    """
    return (
        events.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
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


def sessionize_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming twin of batch ``sessionize`` via ``session_window``.

    The batch query derives sessions with lag + running sum; streaming
    uses Spark's native gap-based ``session_window`` (default 30 min —
    ``gap`` parameterizes it, at parity with ``session_store_job``'s
    parameter), which merges windows incrementally and emits a session
    once the watermark passes its close. Same session boundaries by
    construction — asserted against the batch analog on closed sessions
    in ``tests/test_streaming.py``, and against the fragment-store
    surface under the same non-default gap
    (``test_session_surfaces_agree_under_same_gap``). The window
    definition is the SHARED ``session_stats_frame`` (also the batch
    ``session_window_stats`` head, oracle-backed), so the doors cannot
    drift.
    """
    from gmall_flink_parent_spark.operators.windows import session_stats_frame

    return session_stats_frame(events.withWatermark("ts", "1 minute"), gap)


def order_wide_stream(
    orders: DataFrame, details: DataFrame, salt: int = 1
) -> DataFrame:
    """EP3 (OrderWideApp): stream-stream interval join with watermarks.

    Reference: ±5 ms band at ``OrderWideApp.java:134-141`` with 3 s
    watermarks (W5). Here: details join orders on the key within a
    [0, +30 d] event-time band; both sides watermarked so join state is
    evicted once the band can no longer match (Spark's built-in interval
    join state cleanup — the same mechanism Flink uses).

    ``salt`` (default 1 = the plain plan) is the stream-side skew
    valve (SCALE.md round-10 note): AQE's skew split only covers the
    BATCH shuffle path, so a hot order key in the streaming join
    otherwise lands in one state-store partition. With ``salt = n``
    the detail side tags each row with a deterministic salt in [0, n)
    (hash of its line number — any assignment is correct) and the
    order side replicates each row across ALL n salts, so the join key
    becomes (orderkey, salt) and a hot key's state + matching spread
    over n partitions. Each detail row still meets exactly one copy of
    its order (the one sharing its salt), so the result is
    row-identical to salt=1 — pinned by the salt=4 parity test. Cost:
    order-side state × n (the smaller side), detail side unchanged.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    if salt > 1:
        o = o.withColumn(
            "o_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        d = d.withColumn("l_salt", F.pmod(F.hash("l_linenumber"), F.lit(salt)))
        join_cond = F.expr(
            """
            o_orderkey = l_orderkey AND o_salt = l_salt AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        )
    else:
        join_cond = F.expr(
            """
            o_orderkey = l_orderkey AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        )
    return o.join(
        d,
        join_cond,
        "inner",
    ).select(
        "o_orderkey",
        "l_linenumber",
        "o_orderdate",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("extended_price"),
    )


def order_wide_semi_stream(orders: DataFrame, details: DataFrame) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the third join form of
    EP3 next to the inner and left-outer twins: each order is emitted
    AT MOST ONCE, as soon as one in-band detail commits, with no
    detail columns materialized. The cheapest state profile of the
    three: a matched order leaves the state store immediately (nothing
    further can change its emitted row), while the inner form must
    buffer for every future fan-out match and the outer form must hold
    unmatched rows to the watermark horizon. Batch twin (oracle-backed
    via EXISTS): ``operators/order_wide.py::order_detail_semi_join``.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    return o.join(
        d,
        F.expr(
            """
            o_orderkey = l_orderkey AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        ),
        "left_semi",
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")


def order_wide_anti_stream(orders: DataFrame, details: DataFrame) -> DataFrame:
    """Stream-stream ANTI interval join — the timeout side of the
    four-form family: an order emits exactly once, with no detail
    columns, only after the watermark proves no in-band detail can
    still arrive. This IS the reference's CEP timeout semantics
    (X4's ``within``-expired branch): Flink fires a timer per key;
    Spark evicts-and-emits when the event-time watermark passes the
    band. Spark has NO native stream-stream left-anti (the analyzer
    rejects it), so the twin is the standard rewrite: the supported
    LEFT OUTER interval join filtered to its null-padded rows — an
    unmatched order produces exactly one null row at watermark
    closure, which is precisely the anti row. Emission lags one
    micro-batch behind the watermark, like the outer form it rides.

    Finality rule (watermark edge, pinned by
    ``test_order_wide_anti_stream_timeout_is_final_under_late_data``):
    once the anti row is EMITTED it is final — a later in-band detail
    is dropped by the state watermark and can neither revoke nor
    duplicate it (the append-only sink and the evicted state are both
    one-way doors), exactly Flink's fired-timer contract
    (``UserJumpDetailApp.java:134-159``). The edge case: eviction runs
    at micro-batch END, so a late in-band detail landing in the SAME
    batch that would evict the order still joins the live state and
    suppresses the anti row — a one-batch suppression grace, the
    Spark analog of an event racing the CEP timer inside one firing.
    Batch twin (oracle-backed via NOT EXISTS):
    ``operators/order_wide.py::order_detail_anti_join``.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    return (
        o.join(
            d,
            F.expr(
                """
                o_orderkey = l_orderkey AND
                l_shipdate >= o_orderdate AND
                l_shipdate <= o_orderdate + INTERVAL 30 DAYS
                """
            ),
            "leftOuter",
        )
        .filter(F.col("l_orderkey").isNull())
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )


def order_wide_full_stream(orders: DataFrame, details: DataFrame) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both preserved sides in
    one stream: never-shipped orders emit with null detail columns and
    unclaimed shipments emit with null order columns, each exactly once
    when the watermark closes its band. Same state bound as the inner
    form (both sides buffer to the band horizon); the preserved
    emissions ride the same cleanup. Batch twin (oracle-backed):
    ``operators/order_wide.py::order_detail_interval_join_full``.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    return o.join(
        d,
        F.expr(
            """
            o_orderkey = l_orderkey AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        ),
        "fullOuter",
    ).select(
        "o_orderkey",
        "l_orderkey",
        "l_linenumber",
        "o_orderdate",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("extended_price"),
    )


def topk_spend_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Streaming twin of batch ``topk_users_by_spend`` (DWS surface).

    Top-k is not an append-mode streaming aggregate (ranks churn as
    spend accumulates), so the incremental form is the partial-agg +
    final-pass split (``batch_store_job``): per-(event_type, user_id)
    decimal partial spends per batch (the SAME ``spend_by_type_user``
    aggregate the batch query scans with); ``topk_spend_from_store``
    merges them and ranks with the SAME ``rank_topk_spend`` pass.
    """
    from gmall_flink_parent_spark.operators.windows import spend_by_type_user

    return batch_store_job(
        events, spend_by_type_user, store_path, f"{checkpoint_dir}/topk_spend"
    )


def merged_spend_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge ``topk_spend_job``'s per-batch decimal partials back to the
    (event_type, user_id) spend grain — the shared read under every
    head served by that ONE store (top-k rank, value distribution).
    Exact: decimal sums are associative."""
    return (
        spark.read.parquet(store_path)
        .groupBy("event_type", "user_id")
        .agg(F.sum("spend").alias("spend"))
    )


def topk_spend_from_store(spark: SparkSession, store_path: str, k: int = 5) -> DataFrame:
    """Final pass over ``topk_spend_job``'s partial store: merge the
    per-batch decimal partials, then the shared two-pass rank."""
    from gmall_flink_parent_spark.operators.windows import rank_topk_spend

    return rank_topk_spend(merged_spend_from_store(spark, store_path), k)


def user_spend_concentration_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: exact Gini + top-decile share over the merged spend
    partials — hash-equal to batch ``user_spend_concentration``
    (shared ``spend_concentration_frame`` core; the cents conversion
    commutes with the associative decimal merge)."""
    from gmall_flink_parent_spark.operators.analytics import (
        spend_concentration_frame,
    )

    return spend_concentration_frame(merged_spend_from_store(spark, store_path))


@query_scope
def user_value_distribution_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Second head over the SAME ``topk_spend_job`` store: the full
    per-type spend distribution (percent_rank / cume_dist / ntile via
    the shared ``value_distribution_frame`` core) from the partials one
    ingest pass already landed — no second scan of the fact stream.
    This is the point of the partial-store shape at 100 TB: the store
    is the (event_type, user_id) grain, and every DWS head that needs
    that grain reads ~#groups rows instead of re-aggregating the
    corpus. Hash-equal to batch ``user_value_distribution``.

    The rank core persists an intermediate (``scoped_persist``), so
    this head follows the registry's construct-releases-previous
    cadence: a long-lived refresh loop holds at most ONE live cache
    instead of accumulating one per call."""
    from gmall_flink_parent_spark.operators.analytics import value_distribution_frame

    return value_distribution_frame(merged_spend_from_store(spark, store_path))


def dau_hll_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Streaming twin of ``dau_by_day`` with a MERGEABLE distinct count —
    the grain-rule's third case (sketch columns).

    Exact ``countDistinct`` is not decomposable into per-batch partials
    (a user active in two batches would double-count), and
    ``approx_count_distinct`` never exposes its HLL state. DataSketches
    HLL does: each micro-batch stores one BINARY ``hll_sketch_agg``
    sketch per day (``dau_hll_sketches`` — the SAME frame core as the
    batch twin), and ``dau_by_day_from_store`` merges with
    ``hll_union_agg``, whose register-wise-max union makes the estimate
    EXACTLY equal to one sketch over all events. Store size:
    #days × #batches × ~1 KB, independent of event volume —
    ``compact_partial_store`` folds the sketches too.
    """
    from gmall_flink_parent_spark.operators.uv_dedup import dau_hll_sketches

    return batch_store_job(
        events, dau_hll_sketches, store_path, f"{checkpoint_dir}/dau_hll"
    )


def dau_by_day_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``dau_hll_job``'s sketch store: union the
    per-batch sketches per day, then estimate — schema-compatible with
    batch ``dau_hll_estimate`` (ymd, approx_dau)."""
    return (
        spark.read.parquet(store_path)
        .groupBy("ymd")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("users_sketch")).alias("approx_dau")
        )
    )


def hourly_stats_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Partial-store twin of batch ``hourly_stats`` — all three
    grain-rule cases in one store: plain mergeable sums (n_events,
    decimal sum_value), and the BINARY HLL sketch for the
    non-decomposable distinct-user count. Built on the SAME
    ``hourly_grain`` projection as the batch query
    (``operators/windows.py``).

    This supersedes ``hourly_stats_stream``'s documented divergence
    (its ``approx_count_distinct`` column cannot be merged across
    re-runs or late backfills); the sketch column can — so the store
    serves exact n_events/sum_value AND a mergeable user-count
    estimate from one ingest pass.
    """
    from gmall_flink_parent_spark.operators.windows import hourly_grain

    def partials(batch: DataFrame) -> DataFrame:
        return (
            hourly_grain(batch)
            .groupBy("window", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events_part"),
                F.sum("value_dec").alias("sum_value_part"),
                F.hll_sketch_agg("user_id").alias("users_sketch"),
            )
            .select(
                F.col("window.start").alias("hour_start"),
                "event_type",
                "n_events_part",
                "sum_value_part",
                "users_sketch",
            )
        )

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/hourly_stats"
    )


def hourly_stats_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``hourly_stats_job``'s store: n_events and
    sum_value merge EXACTLY (count/decimal sums are associative — they
    hash-match batch ``hourly_stats``); the distinct-user column is the
    HLL union's estimate (``approx_users``, error-bounded vs the exact
    ``n_users`` in tests)."""
    return (
        spark.read.parquet(store_path)
        .groupBy("hour_start", "event_type")
        .agg(
            F.sum("n_events_part").cast("long").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("users_sketch")).alias(
                "approx_users"
            ),
            F.sum("sum_value_part").cast("double").alias("sum_value"),
        )
    )


def daily_value_store_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Day × event-type decimal value partials at ingest — ONE compact
    store maintains SEVEN dashboard heads incrementally:
    ``event_value_correlation_from_store`` (pair-moment Pearson),
    ``event_type_pivot_from_store`` (the day × channel matrix),
    ``event_value_acf_from_store`` (lag-1..3 autocorrelation),
    ``event_dow_seasonality_from_store`` (weekday indexes),
    ``event_daily_robust_outliers_from_store`` (median/MAD flags),
    ``event_trend_mann_kendall_from_store`` (S/z + Theil-Sen), and
    ``event_value_ewma_from_store`` (the EWMA control statistic), and
    ``event_value_holt_forecast_from_store`` (Brown's one-step
    forecast), each hash-equal to its batch head over the same events.

    The partial is the finest grain both consumers share: per-batch
    (day, type) decimal sums. Decimal addition is associative,
    so sum-of-partials equals the one-shot daily total exactly, and
    every downstream cast (the correlation's DECIMAL(18,2) pin, the
    pivot's double edge) applies AFTER the merge — bit-identical to
    batch. Store size ∝ days × types × batches, trivial at any event
    volume; replays overwrite their own ``batch_id`` partition (the
    shared idempotent-store contract).
    """

    def partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v_part"),
        )

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/daily_value"
    )


def daily_value_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged (day, event_type, v DECIMAL(18,2)) daily totals from
    ``daily_value_store_job``'s partials — the exact frame the batch
    correlation head derives from raw events."""
    return (
        spark.read.parquet(store_path)
        .groupBy("day", "event_type")
        .agg(F.sum("v_part").cast("decimal(18,2)").alias("v"))
    )


def event_value_correlation_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: Pearson pair moments over the merged daily totals —
    hash-equal to batch ``event_value_correlation`` (the shared
    ``value_correlation_frame`` core guarantees no drift)."""
    from gmall_flink_parent_spark.operators.cohorts import value_correlation_frame

    return value_correlation_frame(daily_value_from_store(spark, store_path))


def event_type_pivot_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass: the day × event-type value matrix from the same
    store — schema- and hash-equal to batch ``event_type_pivot`` (the
    pivot's cells are sums of the store's exact decimal partials; the
    double cast happens after the merge, as in batch)."""
    from gmall_flink_parent_spark.operators.cohorts import PIVOT_TYPES

    return (
        spark.read.parquet(store_path)
        .groupBy(F.date_format("day", "yyyyMMdd").alias("ymd"))
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.sum("v_part").cast("double"))
    )


def _daily_cents_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The merged store totals in the (event_type, ymd, c) cents grain
    the time-series cores consume: decimal addition is associative, so
    merged-partials × 100 equals the batch one-shot sum × 100 exactly."""
    return daily_value_from_store(spark, store_path).select(
        "event_type",
        F.date_format("day", "yyyyMMdd").alias("ymd"),
        (F.col("v") * 100).cast("decimal(18,0)").alias("c"),
    )


def event_value_acf_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass: lag-1..3 autocorrelation over the incrementally
    maintained daily totals — hash-equal to batch ``event_value_acf``
    (the shared ``acf_frame`` core + the exact cents merge guarantee
    no drift). A third consumer of the one day×type partial store."""
    from gmall_flink_parent_spark.operators.windows import acf_frame

    return acf_frame(_daily_cents_from_store(spark, store_path))


def event_value_ewma_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass: the trailing-14-day EWMA control statistic over the
    incrementally maintained daily totals — hash-equal to batch
    ``event_value_ewma`` (shared ``ewma_frame`` core; the exact cents
    merge and the integer-weight arithmetic leave nothing to drift).
    The day×type partial store's SEVENTH consumer."""
    from gmall_flink_parent_spark.operators.windows import ewma_frame

    return ewma_frame(_daily_cents_from_store(spark, store_path))


def event_value_holt_forecast_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: Brown's double-exponential one-step forecast over
    the incrementally maintained daily totals — hash-equal to batch
    ``event_value_holt_forecast`` (shared ``holt_frame`` core; the
    exact cents merge and the integer convolution coefficients leave
    nothing to drift). The day×type partial store's EIGHTH consumer."""
    from gmall_flink_parent_spark.operators.windows import holt_frame

    return holt_frame(spark, _daily_cents_from_store(spark, store_path))


@query_scope
def event_dow_seasonality_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: day-of-week seasonal indexes from the same store —
    hash-equal to batch ``event_dow_seasonality`` (shared
    ``dow_seasonality_frame`` core; the weekday derives from ymd, which
    the store's day column preserves exactly)."""
    from gmall_flink_parent_spark.operators.windows import dow_seasonality_frame

    return dow_seasonality_frame(_daily_cents_from_store(spark, store_path))


@query_scope
def event_daily_robust_outliers_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: median/MAD outlier days from the incrementally
    maintained daily totals — hash-equal to batch
    ``event_daily_robust_outliers`` (shared ``robust_outliers_frame``
    core over the exact cents merge)."""
    from gmall_flink_parent_spark.operators.windows import robust_outliers_frame

    return robust_outliers_frame(_daily_cents_from_store(spark, store_path))


@query_scope
def event_trend_mann_kendall_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Final pass: Mann-Kendall S/z + Theil-Sen slope from the same
    store — hash-equal to batch ``event_trend_mann_kendall`` (shared
    ``mann_kendall_frame`` core; calendar spacing re-derives from ymd,
    which the store's day column preserves exactly)."""
    from gmall_flink_parent_spark.operators.windows import mann_kendall_frame

    return mann_kendall_frame(_daily_cents_from_store(spark, store_path))


def order_wide_enriched_stream(
    orders: DataFrame, details: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL EP3 pipeline in one stream — interval join + dim
    enrichment inside the streaming plan, exactly where the reference
    does it (``OrderWideApp.java:134-141`` joins, then ``:150-214``
    enriches the joined stream with six dims via async lookups before
    the sink). ``order_wide_stream`` is the join stage alone; this
    composes the stage with stream-static LEFT joins against the same
    size-gated dim frames the batch head uses.

    Stream-static joins need no state for the static side: each
    micro-batch hash-joins against the dim snapshot (broadcast under
    the gate), so the only stateful operator remains the watermarked
    interval join — state identical to ``order_wide_stream``. Left
    joins keep the reference's pass-through-on-missing-dim behavior
    (``DimAsyncFunction.java:40-55``). Parity: pinned row-identical to
    the SAME composition over batch frames, and spot-pinned against
    ``order_wide_enriched`` restricted to in-band rows.
    """
    from gmall_flink_parent_spark.sources.tables import gated_broadcast

    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    wide = o.join(
        d,
        F.expr(
            """
            o_orderkey = l_orderkey AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        ),
        "inner",
    )
    customer = gated_broadcast(spark, sf_dir, "customer")
    nation = gated_broadcast(spark, sf_dir, "nation")
    region = gated_broadcast(spark, sf_dir, "region")
    part = gated_broadcast(spark, sf_dir, "part")
    supplier = gated_broadcast(spark, sf_dir, "supplier")
    return (
        wide.join(customer, F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .select(
            "o_orderkey",
            "l_linenumber",
            F.date_format("o_orderdate", "yyyyMMdd").alias("order_ymd"),
            "o_orderpriority",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("l_quantity").cast("decimal(18,2)").cast("double").alias("quantity"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue"),
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
    )


def pricing_summary_store_job(lineitem: DataFrame, store_path: str, checkpoint_dir: str):
    """Incremental-store twin of batch ``pricing_summary`` (the Q1 DWS
    rollup, ``operators/order_wide.py``): the daily-value pattern
    applied to the canonical pricing rollup.

    Partials per micro-batch at the (returnflag, linestatus) grain:
    the four DECIMAL measure sums + the row count. Each per-row term
    is cast to DECIMAL exactly as in the batch head BEFORE any sum, so
    partial sums are associative-exact; the final pass merges partials
    and applies the double/round edge casts AFTER the merge — the same
    order of operations as batch, hence hash-equal. Store size ∝
    |flag × status| × #batches (single-digit rows per batch at any
    fact volume); each batch pays one map-side-combined shuffle of
    ≤ grain-cardinality rows.
    """

    def partials(batch: DataFrame) -> DataFrame:
        disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
        return (
            batch.filter(
                F.col("l_shipdate") <= F.lit("2024-12-01 00:00:00").cast("timestamp")
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_part"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                    "base_part"
                ),
                F.sum(disc_price.cast("decimal(18,6)")).alias("disc_part"),
                F.sum(charge.cast("decimal(18,6)")).alias("charge_part"),
                F.count(F.lit(1)).alias("n_part"),
            )
        )

    return batch_store_job(
        lineitem, partials, store_path, f"{checkpoint_dir}/pricing_summary"
    )


def pricing_summary_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``pricing_summary_store_job``'s partials:
    decimal sums and counts merge exactly; the double casts and the
    6-digit avg_qty rounding happen AFTER the merge, mirroring the
    batch head's output edge — schema- and hash-equal to batch
    ``pricing_summary``."""
    return (
        spark.read.parquet(store_path)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_part").cast("double").alias("sum_qty"),
            F.sum("base_part").cast("double").alias("sum_base_price"),
            F.sum("disc_part").cast("double").alias("sum_disc_price"),
            F.sum("charge_part").cast("double").alias("sum_charge"),
            F.sum("n_part").cast("long").alias("count_order"),
            F.round(
                F.sum("qty_part").cast("double") / F.sum("n_part").cast("long"), 6
            ).alias("avg_qty"),
        )
    )


def sequence_support_store_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Incremental-store twin of batch ``event_sequence_support`` —
    the third analytics family on the partial-store pattern, and the
    first whose partials are EXTREMA rather than sums: per micro-batch,
    the (user_id, event_type) min/max event timestamps.

    min/max are associative AND commutative AND idempotent — strictly
    friendlier than the decimal-sum stores: a replayed or even
    double-counted partial cannot change the merged extrema, so the
    maintenance fold (``compact_partial_store``) runs with ALL FOUR
    columns as group keys (pure dedup, no value column to sum —
    duplication-safe where a sum store must rely on the idempotent
    partition overwrite). Store size ∝ users × types × batches and
    shrinks under compaction as each user's extrema stabilize. The
    final pass (``sequence_support_from_store``) merges extrema and
    calls the SAME ``sequence_support_finish`` the batch head uses —
    hash-equal by construction, pinned in ``tests/test_streaming.py``.
    """

    def partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("user_id", "event_type").agg(
            F.min("ts").alias("first_part"), F.max("ts").alias("last_part")
        )

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/sequence_support"
    )


@query_scope
def sequence_support_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``sequence_support_store_job``'s extrema
    partials: min-of-mins / max-of-maxes (exact merge), then the shared
    ``sequence_support_finish`` pair join — hash-equal to batch
    ``event_sequence_support`` over the same events."""
    from gmall_flink_parent_spark.operators.analytics import sequence_support_finish

    per = (
        spark.read.parquet(store_path)
        .groupBy("user_id", "event_type")
        .agg(
            F.min("first_part").alias("first_ts"),
            F.max("last_part").alias("last_ts"),
        )
    )
    return sequence_support_finish(per)


def visitor_stats_store_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Incremental-store twin of the reference's DWS VisitorStats
    serving (``VisitorStatsApp.java``: per-day uv_ct / new_uv rollup) —
    the FOURTH store family, and the second whose partials are
    IDEMPOTENT: per micro-batch, the DISTINCT (user_id, day) presence
    pairs.

    A distinct-count is not sum-mergeable, so the store keeps the W2
    grain itself — the (user, day) key SET — which merges by union:
    duplication across batches (or a replayed partition, or an
    append-gone-wrong) cannot change the merged set, the same
    replay-safety class as the sequence store's extrema. Both DWS
    counters derive from the one set in the final pass: uv = pairs per
    day; new visitors = users whose MIN day is that day (W1's repaired
    is_new, derived instead of stored — every event lands its (user,
    day) row, so min(day) over the store IS the user's true first
    visit). Store size ∝ users × active-days × batches, shrinking
    under the all-columns-as-keys compaction fold (pure dedup).
    """

    def partials(batch: DataFrame) -> DataFrame:
        return batch.select(
            "user_id", F.to_date("ts").alias("day")
        ).distinct()

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/visitor_stats"
    )


def visitor_stats_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``visitor_stats_store_job``'s key-set partials:
    per day, the unique-visitor count and the repaired new-visitor
    count — hash-equal to the W1/W2 columns of batch
    ``sql_dws_surface`` (ymd, n_uv, n_new_visitors) over the same
    events, pinned in ``tests/test_streaming.py``."""
    pairs = (
        spark.read.parquet(store_path).select("user_id", "day").distinct()
    )
    first = pairs.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        pairs.join(first, "user_id")
        .groupBy(F.date_format("day", "yyyyMMdd").alias("ymd"))
        .agg(
            F.count(F.lit(1)).alias("n_uv"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("n_new_visitors"),
        )
    )


class ReplayOrderError(RuntimeError):
    """A CEP store job consumed an out-of-order replay (or its store
    carries the quarantine marker a prior violating run left)."""


_REPLAY_MARKER = "_REPLAY_VIOLATION"

_DELAY_UNITS_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _delay_to_ms(delay: str) -> int:
    """Parse a Spark watermark-delay string ('10 seconds', '1 minute')."""
    n, unit = delay.strip().split()
    return int(n) * _DELAY_UNITS_MS[unit.rstrip("s")]


class _OrderedReplayQuery:
    """Thin proxy over a StreamingQuery that, after termination, sweeps
    the per-batch ``observe`` input spans and turns an out-of-order
    replay into a LOUD failure: the store gets a quarantine marker
    (refused by ``bounce_stats_from_store`` until removed) and
    ``awaitTermination`` raises :class:`ReplayOrderError`.

    Violation rule = exactly when Spark's global watermark drops rows:
    a batch whose min event time is strictly behind
    ``max(prior batches' max event time) - delay`` had rows behind the
    already-advanced watermark, so the CEP machine silently undercounts
    (measured at sf1: a random 8-way split produced 13/30 correct
    days). The sweep reads ``recentProgress`` (capped by
    ``spark.sql.streaming.numRecentProgressUpdates``, default 100
    batches — far above the harness's replay sizes; a production Kafka
    deployment instead relies on per-partition order + a
    ``watermark_delay`` ≥ the max cross-partition event-time skew, see
    ``bounce_detect_stream``)."""

    def __init__(self, query, spark: SparkSession, store_path: str,
                 metric_name: str, delay_ms: int):
        self._query = query
        self._spark = spark
        self._store_path = store_path
        self._metric_name = metric_name
        self._delay_ms = delay_ms

    def __getattr__(self, name):
        return getattr(self._query, name)

    def awaitTermination(self, timeout=None):  # noqa: N802 — Spark API name
        if timeout is None:
            res = self._query.awaitTermination()
        else:
            res = self._query.awaitTermination(timeout)
        if timeout is None or res:
            # verify only once the run actually terminated — a timed-out
            # wait would sweep a partial progress log
            self.verify_ordered()
        return res

    def verify_ordered(self) -> None:
        import pandas as pd

        spans: list[tuple[int, pd.Timestamp, pd.Timestamp]] = []
        for p in self._query.recentProgress:
            om = (p.get("observedMetrics") or {}).get(self._metric_name)
            if om is None:
                continue  # no-data batch
            vals = list(om.values()) if isinstance(om, dict) else list(om)
            min_ts, max_ts, n = vals[0], vals[1], vals[2]
            if not n or min_ts is None:
                continue
            spans.append(
                (p["batchId"], pd.Timestamp(min_ts), pd.Timestamp(max_ts))
            )
        spans.sort()
        violations = []
        high = None
        for batch_id, lo, hi in spans:
            if high is not None and lo < high - pd.Timedelta(
                milliseconds=self._delay_ms
            ):
                violations.append(
                    {"batch_id": batch_id, "min_ts": str(lo),
                     "watermark": str(high - pd.Timedelta(
                         milliseconds=self._delay_ms))}
                )
            high = hi if high is None else max(high, hi)
        if violations:
            import json as _json

            payload = _json.dumps(
                {"error": "out-of-order replay: rows behind the advanced "
                          "watermark were silently dropped by the CEP "
                          "machine — store contents undercount",
                 "violations": violations}
            )
            fs, marker = _hadoop_fs(
                self._spark, f"{self._store_path}/{_REPLAY_MARKER}"
            )
            out = fs.create(marker, True)
            out.write(bytearray(payload.encode("utf-8")))
            out.close()
            raise ReplayOrderError(
                f"bounce store {self._store_path}: {len(violations)} "
                f"micro-batch(es) arrived behind the advanced watermark "
                f"(first: {violations[0]}); store quarantined with "
                f"{_REPLAY_MARKER}"
            )


def bounce_stats_store_job(
    events: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    watermark_delay: str = "0 seconds",
):
    """The uj_ct (bounce-count) leg of the reference's DWS VisitorStats
    rollup (``VisitorStatsApp.java`` consumes the CEP job's timeout
    topic and counts per day) — completing the trio next to
    ``visitor_stats_store_job``'s uv/new legs: the W3 CEP state machine
    (``stateful.bounce_detect_stream``) runs INSIDE this job, its
    timeout emissions reduce to per-batch (day, n) count partials, and
    the final pass sums them — the DWD→DWM→DWS topic chain collapsed
    to one stateful stream feeding one additive store.

    Partials are plain counts (sum-mergeable); exactly-once holds
    because bounce emission is exactly-once per candidate (pinned by
    the anti-finality tests) and the partition overwrite is
    idempotent under replay like every store in the family.

    Unlike the additive partial jobs (which accept micro-batches in
    ANY order), this job consumes an IN-ORDER log: the CEP machine
    rides a bounded watermark, so a replay whose later micro-batches
    carry rows behind the already-advanced watermark silently DROPS
    them. That contract is now ENFORCED, not just documented: the
    input stream carries an ``observe`` span metric, and the returned
    query (an :class:`_OrderedReplayQuery` proxy) sweeps the per-batch
    spans after termination — an out-of-order replay quarantines the
    store (``_REPLAY_VIOLATION`` marker, refused by
    ``bounce_stats_from_store``) and raises :class:`ReplayOrderError`
    from ``awaitTermination``. In production the contract maps to
    Kafka per-partition order with ONE input partition, or a
    ``watermark_delay`` of at least the max cross-partition event-time
    skew (Spark's watermark is global — see ``bounce_detect_stream``);
    in the file-source harness, the log is split into parts with
    ``repartitionByRange`` on ``ts``, and the parts' file mtimes are
    staggered in part order so the source reads them oldest first.
    """
    import uuid

    from gmall_flink_parent_spark.streaming.stateful import bounce_detect_stream

    metric_name = f"bounce_input_span_{uuid.uuid4().hex[:8]}"
    observed = events.observe(
        metric_name,
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )

    def partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy(F.date_format("ts", "yyyyMMdd").alias("ymd")).agg(
            F.count(F.lit(1)).alias("n_part")
        )

    query = batch_store_job(
        bounce_detect_stream(observed, watermark_delay=watermark_delay),
        partials,
        store_path,
        f"{checkpoint_dir}/bounce_stats",
    )
    return _OrderedReplayQuery(
        query, events.sparkSession, store_path, metric_name,
        _delay_to_ms(watermark_delay),
    )


def bounce_stats_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``bounce_stats_store_job``'s count partials:
    per-day bounce totals — equal to batch ``sql_dws_surface``'s
    (ymd, n_bounces) column over the same (watermark-closed) events,
    pinned in ``tests/test_streaming.py``.

    Refuses a quarantined store: if a prior run's replay-order guard
    left a ``_REPLAY_VIOLATION`` marker, the partials undercount and
    reading them would silently propagate wrong totals — raise
    :class:`ReplayOrderError` until the store is rebuilt (delete the
    store dir + checkpoint and replay in order)."""
    fs, marker = _hadoop_fs(spark, f"{store_path}/{_REPLAY_MARKER}")
    if fs.exists(marker):
        raise ReplayOrderError(
            f"bounce store {store_path} is quarantined by {_REPLAY_MARKER} "
            f"(an out-of-order replay undercounted it — the marker body "
            f"lists the violating batches); rebuild the store before "
            f"reading"
        )
    return (
        spark.read.parquet(store_path)
        .groupBy("ymd")
        .agg(F.sum("n_part").cast("bigint").alias("n_bounces"))
    )


def revenue_rollup_job(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    store_path: str,
    checkpoint_dir: str,
):
    """Streaming twin of batch ``revenue_rollup`` (DWS surface).

    Stream-static enrichment + the ``batch_store_job`` shape: each
    micro-batch of orders broadcast-joins the static dims (J2's pattern
    applied to a stream). The dim frames are resolved when the job is
    BUILT — a parquet DataFrame pins its file listing, so an external
    dim refresh is NOT picked up mid-run; for W9-style per-trigger
    refresh, re-read the dims inside ``foreachBatch`` the way
    ``routing_job`` re-reads its config table. The batch then reduces to
    per-(region, nation) decimal revenue/count partials — the FINEST
    grouping set. ``revenue_rollup_from_store`` re-aggregates under
    ``ROLLUP``: every coarser grouping set (region totals, grand total)
    is a sum over the finest partials, so the rollup over the store
    equals the rollup over the raw stream. The store stays
    #regions×#nations×#batches rows — trivial at any scale.
    """

    def partials(batch: DataFrame) -> DataFrame:
        # customer is sf-PROPORTIONAL, so no hard broadcast hint here:
        # each micro-batch plans as a batch query, and the planner's
        # file-size statistics (then AQE) pick broadcast while the dim
        # fits and fall back to shuffle when it doesn't. nation/region
        # are bounded dims and keep their hints.
        joined = (
            batch.join(customer, batch.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select(
                F.col("r_name").alias("region_name"),
                F.col("n_name").alias("nation_name"),
                F.col("o_totalprice"),
            )
        )
        return joined.groupBy("region_name", "nation_name").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue_part"),
            F.count(F.lit(1)).alias("n_orders_part"),
        )

    return batch_store_job(
        orders, partials, store_path, f"{checkpoint_dir}/revenue_rollup"
    )


def revenue_rollup_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``revenue_rollup_job``'s partial store: ROLLUP of
    the finest-grain partials — schema-identical to batch
    ``revenue_rollup``."""
    return (
        spark.read.parquet(store_path)
        .rollup("region_name", "nation_name")
        .agg(
            F.sum("revenue_part").cast("double").alias("total_revenue"),
            F.sum("n_orders_part").alias("n_orders"),
        )
    )


def revenue_cube_job(
    orders: DataFrame, customer: DataFrame, store_path: str, checkpoint_dir: str
):
    """Streaming twin of batch ``revenue_cube`` (DWS surface).

    Same ``batch_store_job`` shape as the rollup twin: partials at
    the finest (mktsegment, orderpriority) grain per batch; all four
    CUBE grouping sets come out of ``revenue_cube_from_store``'s one
    Expand pass over the compact store, ``grouping_id`` included.
    """

    def partials(batch: DataFrame) -> DataFrame:
        # sf-proportional dim: no hard hint — planner stats/AQE decide
        # (same rationale as revenue_rollup_job above).
        joined = batch.join(
            customer, batch.o_custkey == customer.c_custkey
        ).select(
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("o_orderpriority").alias("orderpriority"),
            "o_totalprice",
        )
        return joined.groupBy("mktsegment", "orderpriority").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue_part"),
            F.count(F.lit(1)).alias("n_orders_part"),
        )

    return batch_store_job(
        orders, partials, store_path, f"{checkpoint_dir}/revenue_cube"
    )


def revenue_cube_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Final pass over ``revenue_cube_job``'s partial store: CUBE of
    the finest-grain partials with ``grouping_id`` — schema-identical
    to batch ``revenue_cube``."""
    return (
        spark.read.parquet(store_path)
        .cube("mktsegment", "orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("revenue_part").cast("double").alias("total_revenue"),
            F.sum("n_orders_part").alias("n_orders"),
        )
    )


def minhash_dedup_job(
    docs: DataFrame, store_path: str, pairs_path: str, checkpoint_dir: str
):
    """Incremental streaming near-dup detection: each micro-batch of
    documents is deduped against the persisted signature store AND
    itself, then its signatures are upserted into the store.

    The production crawl-ingest shape: corpus signatures are computed
    exactly once (when a doc first arrives) and live in a parquet store
    ~150 B/doc; per batch the engine pays one batch-sized signature
    computation plus a band equi-join against the store — never a corpus
    re-scan. Pair emission is at-least-once per batch (replays re-emit),
    idempotent for the store (doc_id upsert); the checkpoint is the
    reprocessing boundary. Order of writes — pairs first, store second —
    means a crash between them replays the batch and re-emits pairs
    rather than silently losing them against an already-updated store.

    The pair sink is effectively exactly-once despite replays: each
    batch overwrites its own ``batch_id=N`` partition directory (the
    standard foreachBatch idempotent-write pattern), so a reprocessed
    batch replaces its previous output instead of appending duplicates.
    """
    from gmall_flink_parent_spark.functions.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # heal the signature store BEFORE its existence check: a crash
        # between an upsert's two renames leaves it only under ._old,
        # and deduping against "no store" would silently drop every
        # pair with an earlier doc (upsert_parquet heals too late)
        heal_store_dirs(spark, store_path)
        with cached(minhash_signatures(batch)) as sigs:
            fs, store = _hadoop_fs(spark, store_path)
            store_sigs = spark.read.parquet(store_path) if fs.exists(store) else None
            land_batch(dedup_minhash_incremental(sigs, store_sigs), pairs_path, batch_id)
            upsert_parquet(spark, sigs, store_path, key="doc_id")

    return start_batches(docs, process, f"{checkpoint_dir}/minhash_dedup")


def ann_index_job(
    emb: DataFrame, centroid_path: str, cells_path: str, checkpoint_dir: str
):
    """Streaming IVF index ingestion: each micro-batch of embeddings is
    assigned to the frozen coarse quantizer (trained offline by
    ``ivf_centroids`` and persisted at ``centroid_path``) and lands in
    its own ``batch_id=N`` partition of the cell store — idempotent on
    replay like ``minhash_dedup_job``'s pair sink.

    The vector-search production shape: training is rare and offline;
    ingestion is a broadcast join per batch (k×64 floats) with no access
    to previously indexed vectors. Queries read the accumulated cell
    store partition-pruned by cell id (`ann_ivf_bucketed`'s plan).
    """
    from gmall_flink_parent_spark.functions.similarity import ivf_assign_incremental

    def frame(batch: DataFrame) -> DataFrame:
        cents = batch.sparkSession.read.parquet(centroid_path)
        return ivf_assign_incremental(batch, cents)

    return batch_store_job(emb, frame, cells_path, f"{checkpoint_dir}/ann_index")


def text_profile_job(docs: DataFrame, out_path: str, checkpoint_dir: str):
    """Streaming text profiling: each micro-batch of documents gets the
    one-scan codegen profile (``doc_text_profile_frame`` — token stats,
    BPE piece counts, fingerprint, simhash32) and the rows land in a
    ``batch_id=N`` partition — idempotent on replay like
    ``media_features_job``.

    The curation production shape the batch query's docstring promises:
    profile ONCE at ingest (the CPU-dense regex/simhash stage), store
    the cheap typed rows; every downstream signal (dedup keys, quality
    filters, token budgets) reads the feature store, never re-scans the
    text. Batch analog: ``doc_text_profile`` (driver hash-checked);
    stream/batch parity pinned in ``tests/test_streaming.py``.
    """
    from gmall_flink_parent_spark.functions.text import doc_text_profile_frame
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return doc_text_profile_frame(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, out_path, f"{checkpoint_dir}/text_profile")


def media_features_job(docs: DataFrame, out_path: str, checkpoint_dir: str):
    """Streaming media ingestion: each micro-batch of documents gets the
    synthesized binary payload routing + the REAL Arrow-batched decode
    stage (``extract_media_features`` — BMP/WAV/PNG/JPEG kernels), and
    the decoded feature rows land in a ``batch_id=N`` partition of the
    feature store — idempotent on replay like ``ann_index_job``.

    The multimodal production shape: decode ONCE at ingest (the
    CPU-dense stage), store the cheap typed features; downstream
    training-data queries then never touch the binary payloads again.
    Batch analog: ``multimodal_meta_features`` (driver hash-checked);
    stream/batch parity is pinned in ``tests/test_streaming.py``.
    """
    from gmall_flink_parent_spark.functions.multimodal import (
        _routed_payload,
        extract_media_features,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        payload, mime = _routed_payload(
            F.col("doc_id"), F.encode(F.col("text"), "UTF-8")
        )
        # fan_out, same as the batch analog: a one-file micro-batch is a
        # single scan split, and the Python decode stage would otherwise
        # run on one core cluster-wide; no-op when the batch is wide.
        with_payload = fan_out(batch.sparkSession, batch).select(
            "doc_id", payload.alias("payload"), mime.alias("mime")
        )
        return extract_media_features(with_payload)

    return batch_store_job(docs, frame, out_path, f"{checkpoint_dir}/media_features")


def mixture_job(
    docs: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    weights: dict[str, float],
    seed: str = "mix-v1",
):
    """Mix-at-ingest: each micro-batch of (doc_id, source) rows passes
    through ``corpus_mix_weighted`` and the kept (doc_id, source, epoch)
    copies land in a ``batch_id=N`` partition — idempotent on replay
    like ``text_profile_job``.

    This job EXISTS because the mixing decision is hash-derived
    (md5(seed:epoch:doc_id)), hence per-doc independent: mixing each
    ingest batch separately produces exactly the rows a one-shot mix of
    the full corpus would — no carried state, no RNG stream to
    coordinate across batches (the any-split property the batch
    function's Hypothesis test pins). At 100 TB the corpus is mixed
    incrementally as it lands, and each training run pays only the
    final global order pass (``training_order_from_store``), never a
    re-mix of the accumulated corpus.

    ``weights`` is REQUIRED (no fixture default): sources absent from
    the dict are excluded by the mixing semantics, so a dict that does
    not match the stream's actual source names would silently mix every
    batch to an empty store.
    """
    from gmall_flink_parent_spark.functions.curation import corpus_mix_weighted

    def frame(batch: DataFrame) -> DataFrame:
        return corpus_mix_weighted(batch, weights, seed=seed)

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/mixture")


def training_order_from_store(
    spark: SparkSession, store_path: str, seed: str = "order-v1"
) -> DataFrame:
    """Per-training-run final pass over the accumulated mixture store:
    one range-partitioned global sort (``training_order``) turning the
    incrementally-mixed (doc_id, source, epoch) rows into the ordered
    sample stream.

    Because the order key is content-stable md5, the result is
    IDENTICAL to ordering a one-shot batch mix of the same corpus —
    stream/batch parity is pinned in ``tests/test_streaming.py`` — and
    re-running it after more batches land extends the stream
    deterministically. The store is corpus-sized, so this is the one
    deliberately non-incremental stage: a global training order over
    N+delta docs is a different permutation by definition, and one
    range sort per training run is the honest cost.
    """
    from gmall_flink_parent_spark.functions.curation import training_order

    return training_order(
        spark.read.parquet(store_path).select("doc_id", "source", "epoch"),
        seed=seed,
    )


def write_benchmark_shingles(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the held-out benchmark's distinct word-4-gram set —
    the fixed side of decontamination. In production this is built once
    from the eval corpora (MMLU et al. — megabytes); here it is the
    deterministic ``doc_id % _BENCH_MOD == 0`` slice the batch query
    uses, so stream and batch probe the identical set."""
    from gmall_flink_parent_spark.functions.curation import (
        _BENCH_MOD,
        contamination_shingles,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out, load_table

    docs = fan_out(spark, load_table(spark, sf_dir, "documents"))
    (
        contamination_shingles(docs.filter(F.col("doc_id") % _BENCH_MOD == 0))
        .select("g")
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def contamination_job(
    docs: DataFrame, bench_path: str, store_path: str, checkpoint_dir: str
):
    """Decontamination-at-ingest: each micro-batch of documents is
    shingled (shared core ``contamination_shingles``), probed against
    the broadcast benchmark shingle set, and its per-doc contamination
    counts land in a ``batch_id=N`` partition — idempotent on replay
    like ``text_profile_job``.

    Per-doc counts are independent of every other training doc, so
    per-batch probing accumulates exactly the one-shot batch answer
    (``contamination_4gram``), and a 100 TB corpus is decontaminated as
    it lands instead of via a full-corpus scan per eval-set release.
    The benchmark side is read once per batch and broadcast — it is
    eval-corpus-sized (MB), not corpus-sized.
    """
    from gmall_flink_parent_spark.functions.curation import (
        _BENCH_MOD,
        contamination_counts,
        contamination_shingles,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        bench = spark.read.parquet(bench_path)
        sh = contamination_shingles(fan_out(spark, batch)).filter(
            F.col("doc_id") % _BENCH_MOD != 0
        )
        return contamination_counts(sh, bench)

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/contamination")


def write_initial_centroid_store(
    spark: SparkSession, sf_dir: str, store_path: str
) -> None:
    """Seed the online-centroid store from the offline training step:
    Lloyd centroids over the embeddings table plus each cell's member
    count (the running-mean weight) and ``last_batch = -1`` (no stream
    batch applied yet)."""
    from gmall_flink_parent_spark.functions.similarity import (
        _assign_cells,
        ivf_centroids,
    )
    from gmall_flink_parent_spark.sources.tables import load_table

    cents = ivf_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    counts = (
        _assign_cells(emb, cents).groupBy("cell").agg(F.count(F.lit(1)).alias("n_total"))
    )
    (
        cents.join(counts, "cell", "left")
        .select(
            "cell",
            "centroid",
            F.coalesce("n_total", F.lit(0)).cast("long").alias("n_total"),
            F.lit(-1).cast("long").alias("last_batch"),
            F.lit("").alias("run_id"),  # no stream batch applied yet
        )
        .write.mode("overwrite")
        .parquet(store_path)
    )


def centroid_refresh_job(
    emb: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    run_id: str | None = None,
):
    """Online IVF maintenance: each micro-batch of new embeddings moves
    the coarse quantizer by one exact mini-batch k-means step
    (``minibatch_centroid_update``) — the piece that turns the "train
    once offline" centroid story into a drift-tracking index.

    Unlike the per-batch_id partition sinks, the store here is a single
    STATEFUL table (k rows) updated in place, so replay safety needs
    the transactional-sink pattern instead of partition overwrite: a
    ``_fence`` sidecar INSIDE the store directory keeps one
    (``run_id``, high-water ``last_batch``) row PER RUN that ever
    touched the store, committed atomically with the data by the same
    two-rename swap (no separate write ordering can be
    crash-consistent), and a batch is a committed-update no-op (fenced)
    when its own run's high-water already covers its id — batch ids are
    checkpoint-scoped, so fencing on the bare id would silently drop
    the first batches of a NEW stream instance (fresh checkpoint, ids
    restarting at 0) that merely overlap a previous run's ids, and
    per-run rows (rather than one latest stamp) fence even INTERLEAVED
    instances: an old instance resumed after a newer one has touched
    the store still skips its already-committed replays. Pre-fence
    stores fall back to the stamped per-row pair until first write.
    ``run_id`` defaults to the checkpoint's metadata UUID — the id
    Spark mints per checkpoint INSTANCE, not the path: wiping and
    recreating a checkpoint at the same path renumbers batches from 0
    over possibly different file groupings, and a path-keyed fence
    would silently drop that new work as "replays". Same checkpoint
    instance ⇒ same numbering ⇒ fencing valid; a new instance (new
    path OR recreated dir) ⇒ new run ⇒ every batch applies. Corollary:
    deliberately reprocessing the same input under a fresh checkpoint
    double-counts by design — reseed or point at a fresh store. The rewrite goes through the self-healing two-rename
    swap (``upsert_parquet`` keyed on cell), and the swap's crash
    states are HEALED before the fence read — a crash between the two
    renames leaves the table under ``._old``, which the fence's own
    ``spark.read.parquet`` would otherwise trip over forever. Fencing +
    heal-first + swap make crash-replay exactly-once; parity with the
    library update chain is pinned in tests.
    """
    from gmall_flink_parent_spark.functions.similarity import (
        minibatch_centroid_update,
    )
    from gmall_flink_parent_spark.streaming.store import _clear_swap_leftovers

    def _instance_id(spark: SparkSession) -> str:
        if run_id is not None:
            return run_id
        try:
            import json

            line = spark.read.text(
                f"{checkpoint_dir}/centroid_refresh/metadata"
            ).collect()[0][0]
            return str(json.loads(line)["id"])
        except AnalysisException:
            # metadata genuinely absent (shouldn't happen inside a
            # running stream) — fall back to the path, the weaker
            # identity. Real I/O errors (object-store throttle,
            # permissions) must PROPAGATE and fail the micro-batch for
            # Spark to retry: falling back there would mint a rid that
            # differs from the store's stamped run_id, bypassing the
            # replay fence and double-applying a committed batch — the
            # exactly-once hole the fence exists to close.
            return checkpoint_dir

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        rid = _instance_id(spark)
        # heal a half-completed swap BEFORE reading the store: the only
        # crash state where store_path itself is missing is mid-swap,
        # and upsert_parquet's own healing runs too late for the fence.
        _clear_swap_leftovers(spark, store_path)
        store = spark.read.parquet(store_path)
        # Per-run high-water fence: one (run_id, last_batch) row PER RUN
        # that ever touched the store, riding the `_fence` sidecar inside
        # the swapped directory — atomic with the data, invisible to
        # readers. The single stamped pair cannot fence INTERLEAVED
        # instances: if A applies batch N, crashes before checkpoint
        # commit, and a new instance B then stamps the store, A's restart
        # replays N with stored_run == B != A and would re-apply — the
        # per-run row (A, N) survives B's updates and still fences it.
        fs, fence_path = _hadoop_fs(spark, f"{store_path}/_fence")
        if fs.exists(fence_path):
            fence = {
                r["run_id"]: r["last_batch"]
                for r in spark.read.parquet(f"{store_path}/_fence").collect()
            }
        else:
            # pre-fence store: fall back to the stamped pair (fences the
            # latest instance only); the sidecar is minted on first write.
            # The seed writer's ("", -1) sentinel means "no stream batch
            # applied yet" — it fences nothing, so it is not carried.
            head = store.select(F.max("last_batch"), F.first("run_id")).collect()[0]
            fence = (
                {head[1]: head[0]}
                if head[1] is not None and head[0] is not None and head[0] >= 0
                else {}
            )
        if fence.get(rid, -1) >= batch_id:
            return  # replayed batch whose update already committed
        upd = minibatch_centroid_update(
            store.select("cell", "centroid", "n_total"),
            batch.select("vec_id", "embedding"),
        )
        fence[rid] = max(batch_id, fence.get(rid, -1))
        fence_df = spark.createDataFrame(
            [(k, int(v)) for k, v in fence.items() if k is not None],
            "run_id string, last_batch long",
        )
        upsert_parquet(
            spark,
            upd.withColumn("last_batch", F.lit(batch_id).cast("long")).withColumn(
                "run_id", F.lit(rid)
            ),
            store_path,
            "cell",
            sidecars={"fence": fence_df},
        )

    return start_batches(emb, process, f"{checkpoint_dir}/centroid_refresh")


def shingle_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Shingle-at-ingest: each micro-batch of documents is shingled once
    (``contamination_shingles`` — the CPU-dense distinct-4-gram stage)
    and the (doc_id, g) rows land in a ``batch_id=N`` partition: an
    inverted-index-shaped feature store every n-gram signal reads
    INSTEAD of re-scanning text.

    One store, two heads (the ``topk_spend_job`` theme applied to text):
    ``boilerplate_fraction_from_store`` recomputes document-frequency
    thresholds over the accumulated grams — a signal that legitimately
    SHIFTS as the corpus grows, which is exactly why storing the grams
    (stable per doc) and deriving the verdict per run beats storing the
    verdict; and ``contamination_from_store`` probes the same rows
    against a benchmark shingle set, so a new eval-set release costs a
    store probe, not a corpus re-shingle. Both heads parity-pinned
    against their one-shot batch queries.
    """
    from gmall_flink_parent_spark.functions.curation import (
        contamination_shingles,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return contamination_shingles(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/shingle_store")


@query_scope
def boilerplate_fraction_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Per-training-run boilerplate verdict over the shingle store:
    document frequency + threshold + per-doc fraction, all from stored
    (doc_id, g) rows — the text is never re-scanned. Hash-equal to the
    one-shot ``doc_boilerplate_fraction`` over the same corpus."""
    from gmall_flink_parent_spark.functions.curation import (
        boilerplate_fraction_frame,
    )

    # broadcast gate decided from parquet FOOTERS (driver-side metadata,
    # no count() job over the store) — at ingest cadence the gate count
    # was a full store pass per head invocation before the cache filled
    return boilerplate_fraction_frame(
        scoped_persist(spark.read.parquet(store_path).select("doc_id", "g")),
        row_count=store_row_count(store_path),
    )


def vocab_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Unigram counts at ingest: each micro-batch of documents is
    reduced to its (doc_id, tok, tf) doc-term counts
    (``doc_term_counts`` — the tokenize + count CPU stage) landing in a
    ``batch_id=N`` partition — idempotent on replay like
    ``shingle_store_job``.

    The rows are per-doc independent (accumulation ≡ one-shot counting,
    the any-split property pinned in tests) AND mergeable upward:
    corpus vocabulary counts are Σ tf over the store, so the
    perplexity-proxy head (``doc_unigram_logprob_from_store``) derives
    the moving corpus distribution per run while each document's terms
    were counted exactly once at ingest — the same store-the-stable-
    facts / derive-the-moving-verdict split as the shingle store's
    boilerplate head. Compact with ``compact_fact_store``.
    """
    from gmall_flink_parent_spark.functions.curation import doc_term_counts
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return doc_term_counts(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/vocab_store")


@query_scope
def doc_unigram_logprob_from_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Per-training-run unigram cross-entropy over the vocab store:
    corpus probabilities re-derived from the accumulated tf partials
    (the distribution legitimately shifts as the corpus grows), per-doc
    scoring through the SAME ``unigram_logprob_frame`` core as the
    batch query — hash-equal to the one-shot ``doc_unigram_logprob``
    over the same corpus, with zero text re-scans."""
    from gmall_flink_parent_spark.functions.curation import (
        unigram_logprob_frame,
    )

    return unigram_logprob_frame(
        scoped_persist(
            spark.read.parquet(store_path).select("doc_id", "tok", "tf")
        )
    )


def doc_hash_classifier_from_store(
    spark: SparkSession,
    store_path: str,
    weights_path: str | None = None,
) -> DataFrame:
    """Feature-hash classifier scoring over the vocab store — the THIRD
    head the one (doc_id, tok, tf) store serves (after perplexity-proxy
    scoring and top-V budgeting): tf-weighted integer weight sums
    through the SAME ``hash_classifier_frame`` core as the batch query,
    with zero text re-scans. A retrained model costs one pass over the
    distinct-terms-sized store, never a corpus re-tokenize — exactly
    why the store keys on terms, not scores. ``weights_path`` is the
    retrain hook: a parquet (bucket, w) table exported by training
    (``load_classifier_weights`` validates the contract); ``None``
    scores with the md5-derived oracle default."""
    from gmall_flink_parent_spark.functions.quality import (
        hash_classifier_frame,
        load_classifier_weights,
    )

    return hash_classifier_frame(
        spark.read.parquet(store_path).select("doc_id", "tok", "tf"),
        group_cols=("doc_id",),
        weights=(
            load_classifier_weights(spark, weights_path)
            if weights_path is not None
            else None
        ),
    )


def dsir_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """DSIR hashed-gram counts at ingest: each micro-batch of documents
    is reduced to its (doc_id, is_target, bucket, tf) hashed
    unigram+bigram counts (``hashed_gram_frame`` — the tokenize +
    hash CPU stage) landing in a ``batch_id=N`` partition — idempotent
    on replay like ``shingle_store_job``.

    The rows are per-doc independent (a doc's gram buckets depend only
    on its own text — accumulation ≡ one-shot hashing) AND mergeable
    upward: the target/raw bucket distributions are Σ tf over the
    store, so the importance-weight head (``dsir_weights_from_store``)
    re-derives the likelihood-ratio model per run — the target and raw
    distributions legitimately shift as the corpus grows — while each
    document's grams were hashed exactly once at ingest. The same
    store-the-stable-facts / derive-the-moving-verdict split as the
    vocab store's perplexity head. Compact with ``compact_fact_store``.
    """
    from gmall_flink_parent_spark.functions.selection import hashed_gram_frame
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return hashed_gram_frame(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/dsir_store")


@query_scope
def dsir_weights_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Per-training-run DSIR importance weights over the gram store:
    target/raw bucket distributions re-derived from the accumulated tf
    partials, per-doc scoring through the SAME ``dsir_weight_frame``
    core as the batch query — hash-equal to the one-shot
    ``dsir_importance_weights`` over the same corpus, with zero text
    re-scans. Swapping the target definition (a new trusted corpus
    sample) costs one pass over the bucket-grain store, never a corpus
    re-tokenize."""
    from gmall_flink_parent_spark.functions.selection import dsir_weight_frame

    return dsir_weight_frame(
        scoped_persist(
            spark.read.parquet(store_path).select(
                "doc_id", "is_target", "bucket", "tf"
            )
        )
    )


def media_fingerprint_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Perceptual image hashes at ingest: each micro-batch routes its
    image rows through the REAL decoders (the Arrow ``ahash_rows``
    stage — BMP header walk / PNG inflate+unfilter) exactly once, and
    the 16-byte (doc_id, ahash) rows land in a ``batch_id=N`` partition
    — idempotent on replay like ``shingle_store_job``.

    This is the production shape ``image_ahash_near_dup``'s docstring
    promises: pixels are touched once per image ever; every later
    near-dup run joins stored hashes (``ahash_near_dup_from_store``)
    without re-decoding a byte. Rows are per-doc independent
    (accumulation ≡ one-shot hashing). Compact with
    ``compact_fact_store``. Requires (doc_id, text) columns — the
    payload routing mirrors the batch query's synthesized corpus; on a
    real corpus, point ``ahash_rows`` at the binary media column.
    """
    from gmall_flink_parent_spark.functions.multimodal import (
        _routed_payload,
        ahash_rows,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        wide = fan_out(batch.sparkSession, batch)
        payload, mime = _routed_payload(
            F.col("doc_id"), F.encode(F.col("text"), "UTF-8")
        )
        media = wide.select(
            "doc_id", payload.alias("payload"), mime.alias("mime")
        ).filter(F.col("mime").isin("image/bmp", "image/png"))
        return ahash_rows(media)

    return batch_store_job(
        docs, frame, store_path, f"{checkpoint_dir}/media_fingerprint"
    )


@query_scope
def ahash_near_dup_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Perceptual near-dup pairs over the fingerprint store: the probe
    tables and Hamming rerank run on stored 16-byte hash rows — no
    image is ever re-decoded. Same ``ahash_pairs_frame`` core as the
    batch ``image_ahash_near_dup``, so the two verdicts cannot drift
    (hash-equal pinned, including across ``compact_fact_store``) —
    including the opt-in salted hot-bucket fallback, read from the same
    session config as the batch head."""
    from gmall_flink_parent_spark.functions.multimodal import (
        AHASH_HOT_BUCKET_CONF,
        ahash_pairs_frame,
        conf_hot_threshold,
    )

    return ahash_pairs_frame(
        scoped_persist(spark.read.parquet(store_path).select("doc_id", "ahash")),
        hot_threshold=conf_hot_threshold(spark, AHASH_HOT_BUCKET_CONF),
    )


def winnow_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Winnowing fingerprints at ingest: each micro-batch of documents
    runs the k-gram-hash + window-minima selection ONCE (the CPU-dense
    stage) and its exploded (doc_id, n_fps, fp) rows land in a
    ``batch_id=N`` partition — idempotent on replay like
    ``shingle_store_job``.

    The rows are per-doc independent (a doc's fingerprint set depends
    only on its own text — accumulation ≡ one-shot selection by
    construction), so the store serves the near-dup posting-list join
    (``winnow_near_dup_from_store``) with zero text re-scans, at
    ~2/(w+1) the row count the full shingle store pays for the same
    coverage guarantee. Compact with ``compact_fact_store``.
    """
    from gmall_flink_parent_spark.functions.spans import winnow_fp_frame
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return winnow_fp_frame(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/winnow_store")


def filter_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Curation-verdict facts at ingest: each micro-batch of documents
    is reduced to its per-doc filter signals (``filter_flags_frame`` —
    fingerprint, repetition ratios, pass flags; the tokenize-heavy CPU
    stage) landing in a ``batch_id=N`` partition — idempotent on
    replay like ``shingle_store_job``.

    The rows are per-doc independent (every signal depends only on the
    document's own text — accumulation ≡ one-shot computation,
    Hypothesis-pinned), while the exact-dup canonical election — which
    compares fingerprints ACROSS documents and legitimately shifts as
    the corpus grows — is re-derived per run by
    ``corpus_filter_from_store``. The same store-the-stable-facts /
    derive-the-moving-verdict split as the shingle store's boilerplate
    head. Compact with ``compact_fact_store``.
    """
    from gmall_flink_parent_spark.functions.curation import filter_flags_frame
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return filter_flags_frame(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/filter_store")


_FILTER_FLAG_COLS = (
    "doc_id",
    "fp",
    "dup_token_ratio",
    "dup_2gram_ratio",
    "dup_3gram_ratio",
    "pass_quality",
    "pass_repetition",
    "pass_length",
)


def corpus_filter_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The composed curation verdict over the filter store: canonical
    election + keep conjunction through the SAME ``filter_verdict_frame``
    core as the batch query — hash-equal to the one-shot
    ``corpus_filter_pipeline`` over the same corpus, with zero text
    re-scans (signals were computed once, at ingest)."""
    from gmall_flink_parent_spark.functions.curation import filter_verdict_frame

    return filter_verdict_frame(
        spark.read.parquet(store_path).select(*_FILTER_FLAG_COLS)
    )


def span_store_job(docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Repeated-span grain at ingest: each micro-batch of documents is
    cut into its non-overlapping 8-token spans with md5 keys
    (``span_frame`` — the tokenize + slice + hash CPU stage) and the
    (doc_id, pos, span, sk) rows land in a ``batch_id=N`` partition —
    idempotent on replay like ``shingle_store_job``.

    The rows are per-doc independent (a doc's spans depend only on its
    own text — accumulation ≡ one-shot spanning by construction), and
    mergeable upward: the corpus-wide span frequencies that decide
    which spans get CUT are Σ over the store, so the rewrite head
    (``span_dedup_from_store``) re-derives the repeated set per run —
    the set legitimately shifts as the corpus grows — while each
    document was tokenized and hashed exactly once at ingest. The same
    store-the-stable-facts / derive-the-moving-verdict split as the
    shingle store's boilerplate head; completes the sub-document dedup
    family's zero-re-scan coverage (winnowing had its store since r7,
    the span rewrite re-scanned text per run). Compact with
    ``compact_fact_store``.
    """
    from gmall_flink_parent_spark.functions.spans import span_frame
    from gmall_flink_parent_spark.sources.tables import fan_out

    def frame(batch: DataFrame) -> DataFrame:
        return span_frame(fan_out(batch.sparkSession, batch))

    return batch_store_job(docs, frame, store_path, f"{checkpoint_dir}/span_store")


@query_scope
def span_dedup_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Repeated-span removal over the span store: corpus frequency +
    size-gated probe join + per-doc reassembly through the SAME
    ``span_dedup_frame`` core as the batch query — hash-equal to the
    one-shot ``span_dedup_rewrite`` over the same corpus (pinned, incl.
    across ``compact_fact_store``), with zero text re-scans. The
    broadcast gate decides from parquet FOOTERS
    (``store_row_count`` — driver-side metadata, no count() job), so
    constructing this head launches no Spark action."""
    from gmall_flink_parent_spark.functions.spans import span_dedup_frame

    return span_dedup_frame(
        scoped_persist(
            spark.read.parquet(store_path).select("doc_id", "pos", "span", "sk")
        ),
        row_count=store_row_count(store_path),
    )


@query_scope
def winnow_near_dup_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Near-dup pairs over the winnowing-fingerprint store: the
    posting-list self-join + pair agg through the SAME
    ``winnow_pairs_frame`` core as the batch query — hash-equal to the
    one-shot ``winnow_near_dup`` over the same corpus, with zero text
    re-scans (documents were fingerprinted once, at ingest)."""
    from gmall_flink_parent_spark.functions.spans import winnow_pairs_frame

    return winnow_pairs_frame(
        scoped_persist(
            spark.read.parquet(store_path).select("doc_id", "n_fps", "fp")
        )
    )


def contamination_from_store(
    spark: SparkSession, store_path: str, bench_path: str
) -> DataFrame:
    """Decontamination over the shingle store: probe stored (doc_id, g)
    rows against the materialized benchmark set — hash-equal to the
    one-shot ``contamination_4gram``, with zero text re-scans."""
    from gmall_flink_parent_spark.functions.curation import (
        _BENCH_MOD,
        contamination_counts,
    )

    sh = spark.read.parquet(store_path).select("doc_id", "g")
    bench = spark.read.parquet(bench_path)
    return contamination_counts(
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0), bench
    )


def reindex_index_store(
    spark: SparkSession, emb: DataFrame, centroid_store_path: str, index_path: str
) -> None:
    """Periodic IVF reassignment — the maintenance pass that follows
    centroid drift: ``centroid_refresh_job`` keeps the quantizer
    tracking the stream, but vectors indexed by ``ann_index_job`` keep
    their assignment-time cells. When refresh has moved centroids
    materially, this runs ONE broadcast-assign pass over the vectors
    (``ivf_assign_incremental`` — k×64 floats broadcast, scan-shaped)
    and atomically replaces the index store via the self-healing swap
    (``replace_parquet``): full-rebuild semantics, so vectors deleted
    from the corpus also leave the index. The rebuilt index lands as
    the reserved ``batch_id=-1`` base partition, keeping
    ``ann_index_job``'s layout intact so ingestion resumes writing
    ``batch_id=N`` partitions beside it. Like ``compact_partial_store``
    this REQUIRES a quiesced ingest stream and an ``emb`` of committed
    vectors only: vectors from a not-yet-committed batch would land in
    the base AND again when that batch replays. Probes stay correct
    between reassignments, just with gradually degrading recall.
    """
    from gmall_flink_parent_spark.functions.similarity import (
        ivf_assign_incremental,
    )
    from gmall_flink_parent_spark.streaming.store import replace_parquet

    def build() -> DataFrame:
        cents = spark.read.parquet(centroid_store_path).select("cell", "centroid")
        # the rebuilt index lands as the reserved batch_id=-1 base
        # partition (COMPACT_BASE_ID — an id the stream never writes),
        # PRESERVING ann_index_job's hive layout: a flat swap would make
        # the store root an unreadable mix of flat files and batch_id=N
        # dirs on the next ingest batch
        return ivf_assign_incremental(emb, cents).withColumn(
            "batch_id", F.lit(COMPACT_BASE_ID).cast("int")
        )

    replace_parquet(spark, index_path, build, partition_by=["batch_id"])


def curation_ingest_job(
    docs: DataFrame,
    profile_path: str,
    shingle_path: str,
    mixture_path: str,
    checkpoint_dir: str,
    weights: dict[str, float],
    mix_seed: str = "mix-v1",
    vocab_path: str | None = None,
    winnow_path: str | None = None,
    quality_path: str | None = None,
    chunk_path: str | None = None,
    dsir_path: str | None = None,
    span_path: str | None = None,
    filter_path: str | None = None,
    postings_path: str | None = None,
    gram_path: str | None = None,
):
    """The combined ingest pass: ONE scan of each micro-batch feeds the
    text-profile store, the shingle store, the mixture store — and,
    when ``vocab_path`` / ``winnow_path`` / ``quality_path`` /
    ``chunk_path`` / ``dsir_path`` / ``span_path`` / ``filter_path``
    are given, the unigram doc-term store, the winnowing-fingerprint
    store, the Gopher repetition-verdict store, the retrieval-chunk
    store, the DSIR hashed-gram store, the repeated-span store,
    the curation-filter-signal store, (``postings_path``) the
    positional-postings store behind ``phrase_search_from_store``, and
    (``gram_path``) the vocab-grain gram-count partial store behind
    ``collocation_pmi_from_store`` — together.
    At 100 TB the scan (decompress + tokenize-adjacent CPU) dominates
    ingest cost, so running `text_profile_job` + `shingle_store_job` +
    `mixture_job` + `vocab_store_job` as separate streams would pay it
    once per store for the same rows.

    The micro-batch is persisted for the span of the writes
    (memory-and-disk, batch-sized — bounded by trigger size, not
    corpus), each landing in its own ``batch_id=N`` partition with the
    same idempotent-replay contract as the individual jobs; per-store
    parity against the one-shot batch queries is pinned in tests.
    Requires (doc_id, text, source) columns — plus ``lang`` when
    ``dsir_path`` is given (the target-membership flag rides the gram
    rows).
    """
    from gmall_flink_parent_spark.functions.curation import (
        contamination_shingles,
        corpus_mix_weighted,
        doc_term_counts,
        filter_flags_frame,
    )
    from gmall_flink_parent_spark.functions.chunks import chunk_windows_frame
    from gmall_flink_parent_spark.functions.quality import doc_repetition_profile_frame
    from gmall_flink_parent_spark.functions.retrieval import positional_postings_frame
    from gmall_flink_parent_spark.functions.selection import hashed_gram_frame
    from gmall_flink_parent_spark.functions.spans import span_frame, winnow_fp_frame
    from gmall_flink_parent_spark.functions.text import (
        doc_text_profile_frame,
        gram_count_frame,
    )
    from gmall_flink_parent_spark.sources.tables import fan_out

    text = ("doc_id", "text")
    # (store path, frame function, input columns) in landing order; the
    # optional stores land only when their path is given
    stores = (
        (profile_path, doc_text_profile_frame, text),
        (shingle_path, contamination_shingles, text),
        (
            mixture_path,
            lambda w: corpus_mix_weighted(w, weights, seed=mix_seed),
            ("doc_id", "source"),
        ),
        (vocab_path, doc_term_counts, text),
        (winnow_path, winnow_fp_frame, text),
        (quality_path, doc_repetition_profile_frame, text),
        (chunk_path, chunk_windows_frame, text),
        (dsir_path, hashed_gram_frame, ("doc_id", "text", "lang")),
        (span_path, span_frame, text),
        (filter_path, filter_flags_frame, text),
        (postings_path, positional_postings_frame, text),
        (gram_path, gram_count_frame, text),
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        with cached(fan_out(batch.sparkSession, batch)) as wide:
            for path, frame, cols in stores:
                if path is not None:
                    land_batch(frame(wide.select(*cols)), path, batch_id)

    return start_batches(docs, process, f"{checkpoint_dir}/curation_ingest")


@query_scope
def term_postings_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Inverted-index statistics over the ingest-time chunk store
    (``curation_ingest_job``'s ``chunk_path``): df/cf/idf per term from
    stored (doc_id, chunk_id, chunk_text) rows — the chunking pass ran
    once at ingest, and an index build derives its stats without ever
    re-scanning document text. Same ``postings_stats_frame`` core as
    the batch ``term_postings_stats``, so the two cannot drift."""
    from gmall_flink_parent_spark.functions.retrieval import postings_stats_frame

    return postings_stats_frame(
        spark.read.parquet(store_path).select("doc_id", "chunk_id", "chunk_text")
    )


@query_scope
def phrase_search_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Exact phrase search over the ingest-time POSITIONAL postings
    store (``curation_ingest_job``'s ``postings_path``): the tokenize +
    posexplode pass ran once at ingest, so a phrase query is one probe
    of stored (doc_id, pos, token) rows — broadcast the query terms,
    aggregate the surviving postings by (phrase, doc, start) — with the
    document text never re-scanned. Same ``phrase_match_frame`` core as
    the batch ``phrase_search_positional``, so store and batch results
    are hash-identical over the same corpus. The store is append-only
    (a document's postings never change), so incremental maintenance is
    exactly the batch_id partition landing — no merge pass exists to
    drift."""
    from gmall_flink_parent_spark.functions.retrieval import phrase_match_frame

    return phrase_match_frame(
        spark, spark.read.parquet(store_path).select("doc_id", "pos", "token")
    )


@query_scope
def term_proximity_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The NEAR operator over the SAME ingest-time positional postings
    store that serves ``phrase_search_from_store`` — one stored index,
    both positional query types, neither ever re-scanning text. Shared
    ``proximity_match_frame`` core, so store and batch results are
    hash-identical over the same corpus."""
    from gmall_flink_parent_spark.functions.retrieval import proximity_match_frame

    return proximity_match_frame(
        spark, spark.read.parquet(store_path).select("doc_id", "pos", "token")
    )


@query_scope
def collocation_pmi_from_store(spark: SparkSession, gram_path: str) -> DataFrame:
    """PMI collocations from the ingest-time GRAM-COUNT partial store
    (``curation_ingest_job``'s ``gram_path``) — the positional family's
    third query type, now served at VOCABULARY grain: each batch landed
    its tagged (n, w1, w2, c) counts at ingest, so scoring is one
    additive merge (groupBy + SUM over vocab-sized partials) feeding
    the shared ``pmi_from_counts`` core — text never re-scanned, no
    postings self-join (the round-12 form re-derived bigrams from the
    (doc, pos)→(doc, pos+1) postings join and ran 3× the batch head at
    sf1; this path is partial-merge-proportional, cheaper than batch).

    Exactly-once contract (per document, the additive-merge
    precondition): a replayed micro-batch OVERWRITES its own
    ``batch_id=N`` partition, so checkpoint replay cannot double-count;
    re-ingesting a document under a NEW batch_id would (the store is
    append-only by doc — same contract as the postings store). Store
    and batch scores are hash-identical over the same corpus."""
    from gmall_flink_parent_spark.functions.text import pmi_from_counts

    merged = scoped_persist(
        spark.read.parquet(gram_path)
        .groupBy("n", "w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    cnt1 = merged.filter(F.col("n") == 1).select(
        F.col("w1").alias("tok"), F.col("c").alias("c1")
    )
    cnt2_all = merged.filter(F.col("n") == 2).select(
        "w1", "w2", F.col("c").alias("n_pair")
    )
    return pmi_from_counts(cnt1, cnt2_all)


@query_scope
def chunk_bm25_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """BM25 top-k over the ingest-time chunk store — query-time lexical
    ranking with zero text re-scans: the store already holds the chunk
    grain, so scoring is one narrow pass over stored rows (array-filter
    term frequencies + 1-row corpus-stats broadcast + partial top-k),
    exactly the batch ``chunk_bm25_topk`` plan minus the chunker. Same
    ``bm25_topk_frame`` core, so store and batch rankings are
    hash-identical over the same corpus."""
    from gmall_flink_parent_spark.functions.retrieval import bm25_topk_frame

    return bm25_topk_frame(
        spark.read.parquet(store_path).select(
            "doc_id", "chunk_idx", "chunk_id", "chunk_text"
        )
    )


def expectations_job(
    docs: DataFrame,
    checks: list,
    store_path: str,
    checkpoint_dir: str,
    strict: bool = False,
):
    """Ingest-time data-quality monitoring — the streaming twin of
    ``corpus_expectations`` and the "validate at ingest" seam the
    stores-path build points at: every micro-batch's expectation report
    (``functions.expectations.expectation_report`` over the SAME check
    specs as the batch head, so ingest and batch verdicts cannot drift)
    lands in its own idempotent ``batch_id=N`` partition, building the
    per-batch metric time series a Deequ-style metrics repository keeps
    — admission history AND drift surface in one store (a shrinking
    ``completeness(text)`` across batch_ids is the upstream-rot signal
    even while every individual batch still passes).

    ``strict=True`` turns monitoring into a GATE: a batch with any
    failing check aborts the stream — AFTER its report partition lands,
    so the evidence of why ingestion stopped is in the store, and a
    replay of the (checkpoint-uncommitted) batch overwrites its own
    partition. The report is k rows collected on the driver (k = #checks,
    O(1) in batch size); the batch itself is scanned once.
    """
    from gmall_flink_parent_spark.functions.expectations import expectation_report

    def process(batch: DataFrame, batch_id: int) -> None:
        report = expectation_report(batch, checks)
        rows = report.collect()  # k check rows — bounded by the suite
        land_batch(
            batch.sparkSession.createDataFrame(rows, report.schema).coalesce(1),
            store_path,
            batch_id,
        )
        failed = [r["check_name"] for r in rows if r["status"] != "pass"]
        if strict and failed:
            raise ValueError(
                f"ingest batch {batch_id} failed admission expectations: "
                + ", ".join(failed)
            )

    return start_batches(docs, process, f"{checkpoint_dir}/expectations")


def expectation_history_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The metric time series ``expectations_job`` accumulates:
    (batch_id, check_name, metric, lo, hi, status) — one row per check
    per ingest batch. This is the drift-monitoring read: trend a
    check's ``metric`` over ``batch_id`` to catch upstream rot before
    any single batch fails its band."""
    return spark.read.parquet(store_path).select(
        "batch_id", "check_name", "metric", "lo", "hi", "status"
    )


def bloom_bits_job(bench_docs: DataFrame, store_path: str, checkpoint_dir: str):
    """Accumulate the benchmark Bloom filter AT INGEST: each micro-batch
    of benchmark documents is shingled (shared ``contamination_shingles``
    core) and hashed to its distinct set-bit positions, landed in an
    idempotent ``batch_id=N`` partition. Union-mergeability — pinned by
    the any-split property test — makes per-batch accumulation
    equivalent to one-shot construction: the merged filter is simply
    the DISTINCT union of stored bits, so a benchmark that itself
    arrives as a stream (a new eval-set release, a growing held-out
    corpus) never needs a rebuild. The store is bounded by the CONSTANT
    ``m`` bits regardless of benchmark size — the whole point of the
    sketch."""
    from gmall_flink_parent_spark.functions.curation import contamination_shingles
    from gmall_flink_parent_spark.functions.sketches import bloom_bits

    def frame(batch: DataFrame) -> DataFrame:
        return bloom_bits(contamination_shingles(batch).select("g").distinct()).coalesce(1)

    return batch_store_job(bench_docs, frame, store_path, f"{checkpoint_dir}/bloom_bits")


def contamination_bloom_from_store(
    spark: SparkSession, bits_store: str, docs: DataFrame
) -> DataFrame:
    """Flag a documents frame against the ingest-accumulated Bloom
    filter — the from-store twin of ``contamination_bloom``'s flagging
    side. The distinct over stored bits IS the union-merge (bits
    landing in several benchmark batches collapse to one row); the
    probe is the same ``bloom_member_hits`` broadcast equi-join core as
    the batch head, so store-backed and one-shot verdicts are
    hash-identical over the same benchmark (pinned, incl. across
    ``compact_fact_store``)."""
    from gmall_flink_parent_spark.functions.curation import contamination_shingles
    from gmall_flink_parent_spark.functions.sketches import bloom_member_hits

    bits = spark.read.parquet(bits_store).select("bit").distinct()
    sh = contamination_shingles(docs)
    return (
        bloom_member_hits(sh, bits)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_ngrams"))
    )


def scd2_change_store_job(changes: DataFrame, store_path: str, checkpoint_dir: str):
    """Change-capture-at-ingest for SCD type-2 dims: each micro-batch
    of keyed change rows lands verbatim in a ``batch_id=N`` partition —
    the append-only CHANGE LOG the history head derives intervals from.

    Storing changes (immutable facts) instead of materialized intervals
    is deliberate: an interval row is MUTABLE (the currently-open
    interval closes when the next change arrives, possibly batches
    later, possibly out of order), so a store of intervals would need
    read-modify-write per batch and would still be wrong under late
    data; a store of changes is exactly-once by the idempotent
    per-batch overwrite alone, and the window pass in
    ``scd2_from_store`` makes late arrivals converge to the identical
    history a batch rebuild would produce. Dim change volume is orders
    of magnitude below fact volume, so the per-run window over the
    compact change store is cheap at any scale.
    """

    return batch_store_job(
        changes, lambda batch: batch, store_path, f"{checkpoint_dir}/scd2_changes"
    )


def scd2_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """SCD2 validity intervals derived from the accumulated change
    store — hash-equal to the batch ``scd2_dim_history`` over the same
    change set (pinned, incl. across ``compact_fact_store``), because
    the interval derivation is a deterministic window over the change
    set regardless of how changes were batched."""
    from gmall_flink_parent_spark.operators.entity import scd2_frame

    changes = spark.read.parquet(store_path).drop("batch_id")
    return scd2_frame(changes)


def user_days_store_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Distinct (user_id, day) pairs at ingest — the lifecycle-grain
    partial store serving cohort retention (and any WAU/MAU-style
    head) without re-scanning events.

    The per-batch partial is the batch's DISTINCT active pairs: tiny
    next to raw events (bounded by users × days touched in the batch)
    and idempotently re-landed on replay. Distinctness is only
    per-batch — a user active in two batches lands twice — which is
    fine because the pair is the IDEMPOTENT fact itself: the final
    pass's distinct collapses cross-batch repeats exactly, unlike a
    count, which is why the stored grain is the pair and never a
    per-batch count. ``retention_from_store`` then derives the cohort
    triangle hash-equal to batch ``retention_cohorts``.
    """

    def partials(batch: DataFrame) -> DataFrame:
        return batch.select(
            "user_id", F.to_date("ts").alias("day")
        ).distinct()

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/user_days"
    )


def retention_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Cohort retention from the user-days store — hash-equal to batch
    ``retention_cohorts`` over the same events (pinned, incl. across
    ``compact_partial_store``/``compact_fact_store``), because the
    triangle is a deterministic function of the distinct (user, day)
    set however it was batched."""
    from gmall_flink_parent_spark.operators.cohorts import retention_frame

    pairs = (
        spark.read.parquet(store_path).select("user_id", "day").distinct()
    )
    # retention_frame expects an events-shaped frame with (user_id, ts);
    # the day column IS the truncated grain, so it feeds through as-is.
    return retention_frame(pairs.withColumnRenamed("day", "ts"))


def stickiness_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """DAU / trailing-28-day MAU from the user-days store — the second
    head over ``user_days_store_job``'s pairs (one ingest pass, the
    whole lifecycle family), hash-equal to batch ``stickiness_ratio``."""
    from gmall_flink_parent_spark.operators.cohorts import stickiness_frame

    pairs = spark.read.parquet(store_path).select("user_id", "day").distinct()
    return stickiness_frame(pairs)


def type_moments_store_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Per-type moment partials (n, Σv, Σv²) at ingest — the additive
    state behind the z-score outlier gate, landed per batch so the
    gate can score FRESH data against ALL history without re-scanning
    it.

    Decimal sums and counts are associative, so the accumulated
    partials fold to exactly the stats a one-shot scan would compute
    (``compact_partial_store``-safe); this is the
    ``batch_store_job`` grain rule applied to second moments.
    """

    def partials(batch: DataFrame) -> DataFrame:
        v = F.col("value").cast("decimal(18,6)")
        return batch.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/type_moments"
    )


def outliers_from_store(
    spark: SparkSession, store_path: str, events: DataFrame
) -> DataFrame:
    """Score an events frame against the accumulated per-type moments —
    hash-equal to batch ``event_value_outliers`` when ``events`` is the
    same data the store ingested (pinned), and the PRODUCTION shape
    when it is not: today's batch scored against all history, with the
    full scan replaced by a #types-row store read."""
    parts = spark.read.parquet(store_path)
    stats = parts.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("s1").cast("double").alias("s1"),
        F.sum("s2").cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("value") - s1 / n) / F.sqrt((s2 - s1 * s1 / n) / (n - 1))
    return (
        events.join(F.broadcast(stats.filter(n > 1)), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", F.round("z", 4).alias("z_score"))
    )


@query_scope
def stickiness_hll_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """DAU / trailing-28-day MAU from ``dau_hll_job``'s sketch store —
    the THIRD head over those sketches (DAU estimate, and now the
    windowed ratio): per-day batch sketches union within the day for
    DAU and across the 28-day coverage window for MAU, and because HLL
    union is register-wise max the store-merged estimates equal the
    batch head's exactly (pinned vs ``stickiness_hll``). One ~1 KB
    sketch per (day, batch) in, a #days-row report out — no event is
    ever re-read."""
    sk = (
        spark.read.parquet(store_path)
        .groupBy("ymd")
        .agg(F.hll_union_agg("users_sketch").alias("users_sketch"))
        .select(F.to_date("ymd", "yyyyMMdd").alias("day"), "users_sketch")
    )

    sk = scoped_persist(sk)  # feeds both the DAU projection and the window
    dau = sk.select("day", F.hll_sketch_estimate("users_sketch").alias("approx_dau"))
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


def new_vs_returning_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Daily new-vs-returning split from the user-days store — the
    fourth head over ``user_days_store_job``'s pairs (retention,
    stickiness, and now acquisition composition, all from one ingest
    pass), hash-equal to batch ``daily_new_vs_returning``."""
    from pyspark.sql import Window

    pairs = spark.read.parquet(store_path).select("user_id", "day").distinct()
    w = Window.partitionBy("user_id")
    exploded = pairs.withColumn("first_day", F.min("day").over(w))
    is_new = (F.col("day") == F.col("first_day")).cast("long")
    return exploded.groupBy(F.date_format("day", "yyyyMMdd").alias("ymd")).agg(
        F.sum(is_new).alias("new_users"),
        F.sum(1 - is_new).alias("returning_users"),
        F.round(F.sum(is_new).cast("double") / F.count(F.lit(1)), 6).alias(
            "new_share"
        ),
    )


def value_histogram_job(events: DataFrame, store_path: str, checkpoint_dir: str):
    """Per-batch (type, bucket) histogram partials — counts and decimal
    mass are additive, so the accumulated store folds to exactly the
    one-shot histogram (the ``batch_store_job`` grain rule; compacts
    via ``compact_partial_store``-compatible re-aggregation in the
    head). Per-batch size ≤ types × occupied buckets, independent of
    event volume."""
    from gmall_flink_parent_spark.operators.cohorts import _HIST_WIDTH

    def partials(batch: DataFrame) -> DataFrame:
        bucket = F.floor(F.col("value") / _HIST_WIDTH)
        return batch.groupBy("event_type", bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        )

    return batch_store_job(
        events, partials, store_path, f"{checkpoint_dir}/value_histogram"
    )


def value_histogram_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the accumulated histogram partials — hash-equal to batch
    ``event_value_histogram`` over the same events (pinned)."""
    from gmall_flink_parent_spark.operators.cohorts import _HIST_WIDTH

    parts = spark.read.parquet(store_path)
    return parts.groupBy("event_type", "bucket").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
    ).select(
        "event_type",
        "bucket",
        (F.col("bucket") * _HIST_WIDTH).cast("double").alias("bucket_lo"),
        "n_events",
        "sum_value",
    )


def session_store_job(
    events: DataFrame, store_path: str, checkpoint_dir: str, gap: str = "30 minutes"
):
    """Session FRAGMENTS at ingest — the session-grain partial store.

    Sessionization is associatively mergeable at fragment grain: each
    micro-batch reduces to its own ``session_window`` sessions
    (user_id, first_ts, close_ts = last event + gap, n_events, decimal
    value sum), and two fragments of one TRUE session — split across
    batches in either order, interleaved or nested in time — always
    satisfy the same within-gap adjacency their events do, so the
    final pass's interval merge (``sessions_from_store``) reconstructs
    the global sessions EXACTLY. Store size ∝ sessions touched per
    batch, never event volume; replays overwrite their own batch
    partition (the shared idempotent store contract). An event lands
    in exactly one batch (file-source exactly-once), so counts and
    sums never double.
    """

    return batch_store_job(
        events,
        lambda batch: session_fragments(batch, gap),
        store_path,
        f"{checkpoint_dir}/sessions",
    )


def session_fragments(batch: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """One batch's ``session_window`` sessions as mergeable fragments:
    (user_id, first_ts, close_ts = last event + gap, n_events, decimal
    value sum). ``merge_session_fragments`` reconstructs the global
    sessions from any batch partitioning of the events — the algebra
    the any-split property test pins."""
    return (
        batch.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("first_ts"),
            F.col("session_window.end").alias("close_ts"),
            "n_events",
            "value_dec",
        )
    )


def sessions_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Global sessions from the fragment store — hash-equal to batch
    ``session_window_stats`` over the same events.

    The merge is the classic interval sweep per user: fragments sorted
    by (first_ts, close_ts), a new session starts when a fragment's
    first_ts reaches or passes the running max close (close already
    embeds the gap, and the boundary is exclusive exactly like
    ``session_window``'s [start, end)); then one group-aggregate sums
    the fragments' exact partials. Cost ∝ fragment count — the window
    is per-user over sessions-touched, orders of magnitude under the
    event scan it replaces.
    """
    return merge_session_fragments(spark.read.parquet(store_path))


def merge_session_fragments(frags: DataFrame) -> DataFrame:
    """The interval sweep over session fragments (see
    ``sessions_from_store``) as a reusable frame transform."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("first_ts", "close_ts")
    prev_close = F.max("close_ts").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = (
        prev_close.isNull() | (F.col("first_ts") >= prev_close)
    ).cast("long")
    grp = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        frags.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("first_ts").alias("session_start"),
            F.max("close_ts").alias("session_close"),
            F.sum("n_events").alias("n_events"),
            F.sum("value_dec").cast("double").alias("session_value"),
        )
        .select(
            "user_id", "session_start", "session_close", "n_events", "session_value"
        )
    )


def order_wide_outer_stream(orders: DataFrame, details: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the capability the
    reference's Flink interval join lacks (it silently drops unmatched
    orders): an order whose [0, +30 d] band closes with no detail
    emits ONE null-padded row as soon as the watermark proves no match
    can still arrive. Same band, same watermarks, same output schema
    as ``order_wide_stream``; the outer row is the never-shipped alert
    signal. State bound is identical to the inner join (both sides
    buffered until the watermark clears the band) — the null emission
    costs nothing extra, it rides the same state cleanup.
    """
    o = orders.withWatermark("o_orderdate", "3 seconds")
    d = details.withWatermark("l_shipdate", "3 seconds")
    return o.join(
        d,
        F.expr(
            """
            o_orderkey = l_orderkey AND
            l_shipdate >= o_orderdate AND
            l_shipdate <= o_orderdate + INTERVAL 30 DAYS
            """
        ),
        "leftOuter",
    ).select(
        "o_orderkey",
        "l_linenumber",
        "o_orderdate",
        "l_shipdate",
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("extended_price"),
    )
