"""Streaming twins must agree with their batch analogs (SURVEY §5.3),
and the reference's inline bounce fixture (UserJumpDetailApp.java:59-69)
must reproduce: mid 101 bounces, mid 102 does not."""

from __future__ import annotations

import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmall_flink_parent_spark import plans
from gmall_flink_parent_spark.operators.order_wide import (
    interval_join_frame,
    interval_join_full_frame,
    interval_join_outer_frame,
    semi_join_frame,
)
from gmall_flink_parent_spark.streaming.sources import events_stream
from gmall_flink_parent_spark.streaming import stateful
from gmall_flink_parent_spark.streaming.jobs import (
    hourly_stats_stream,
    log_split_job,
    routing_job,
    sessionize_stream,
    sliding_stats_stream,
    write_routing_config,
)
from gmall_flink_parent_spark.sources.tables import load_table


def _run_to_memory(df, spark, name: str, with_query: bool = False, timeout: int = 120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout), f"stream {name} timed out"
    out = spark.sql(f"SELECT * FROM {name}")
    return (out, q) if with_query else out


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _data_batches(q) -> int:
    """Micro-batches of ``q`` that read input rows."""
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _assert_reader_releases_earlier_caches(spark, sf_dir, reader, store_path):
    """Materialize a caching head, then build and materialize a caching
    store reader: the reader's construction releases the head's caches,
    so only the reader's own stay live."""
    base = _persistent_ids(spark)
    plans.query_map()["user_value_distribution"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    held = _persistent_ids(spark) - base
    reader(spark, store_path).write.format("noop").mode("overwrite").save()
    live = _persistent_ids(spark) - base
    assert held and live and not held & live, (held, live)


def test_visitor_repair_stream_matches_batch(spark, sf_dir):
    out = _run_to_memory(
        stateful.visitor_repair_stream(events_stream(spark, sf_dir)), spark, "vr_out"
    )
    batch = plans.query_map()["visitor_repair"](spark, sf_dir)
    cols = ["event_id", "user_id", "ymd", "is_new"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_uv_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """One file, and the same events split at the median ts into two
    micro-batches: the dedup state carries across the batch boundary."""
    batch = plans.query_map()["uv_dedup"](spark, sf_dir)
    cols = ["user_id", "visit_ymd", "first_event_id", "first_ts"]
    split = _ts_split_stream(
        spark, tmp_path,
        load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id"),
        "ts", "event_id long, ts timestamp, user_id long",
    )
    for name, stream in (("uv_out", events_stream(spark, sf_dir)), ("uv_split_out", split)):
        out, q = _run_to_memory(
            stateful.uv_dedup_stream(stream), spark, name, with_query=True
        )
        assert _rows(out, cols) == _rows(batch, cols), name
    assert _data_batches(q) >= 2


def test_bounce_stream_matches_batch_up_to_watermark(spark, sf_dir):
    """Streaming bounces = batch bounces, except candidates still inside
    the window when the final watermark lands (they never time out)."""
    out = _run_to_memory(
        stateful.bounce_detect_stream(events_stream(spark, sf_dir)), spark, "bounce_out"
    )
    batch = plans.query_map()["bounce_detect"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    cols = ["event_id", "user_id"]
    got = set(_rows(out, cols))
    want_all = {
        (r["event_id"], r["user_id"], r["ts"]) for r in batch.collect()
    }
    flushable = {
        (e, u)
        for e, u, ts in want_all
        if (ts.timestamp() * 1_000_000) + stateful.BOUNCE_WINDOW_US < max_us
    }
    assert flushable <= got, f"missing {sorted(flushable - got)[:5]}"
    assert got <= {(e, u) for e, u, _ in want_all}, "stream emitted non-bounces"


def test_bounce_stream_full_parity_with_epilogue(spark, sf_dir, tmp_path):
    """FULL equality with batch ``bounce_detect`` — including each key's
    last events, which only the timeout branch can emit
    (``UserJumpDetailApp.java:134-159`` fires for those too). The
    epilogue is two far-future sentinel batches for an unused key: the
    first advances the watermark past every open window (the
    availableNow analog of stream end), the second gives the fired
    timers a batch to run in. No watermark truncation in the assert."""
    import os
    import time

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    pdf = events.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    (tmp_path / "in").mkdir()
    pdf.to_parquet(str(tmp_path / "in" / "f1.parquet"))
    max_ts = pdf["ts"].max()
    for i, days in enumerate((30, 60)):
        sent = pd.DataFrame(
            {
                "event_id": [10_000_000 + i],
                "ts": [(max_ts + pd.Timedelta(days=days))],
                "user_id": [-1],
            }
        )
        sent["ts"] = sent["ts"].astype("datetime64[us]")
        path = str(tmp_path / "in" / f"f{i + 2}.parquet")
        sent.to_parquet(path)
        t = time.time() + 5 * (i + 1)
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    out = _run_to_memory(
        stateful.bounce_detect_stream(stream), spark, "bounce_full_out"
    )
    cols = ["event_id", "user_id", "ts"]
    got = {
        tuple(r[c] for c in cols)
        for r in out.filter(F.col("user_id") != -1).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in plans.query_map()["bounce_detect"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_bounce_reference_fixture(spark, tmp_path):
    """The reference's 4-event fixture: mid 101's landing has no next
    event within the window (bounce); mid 102's does (no bounce)."""
    base = pd.Timestamp("2024-01-01 00:00:00")
    win = stateful.BOUNCE_WINDOW_US
    rows = [
        # mid 101: landing, next event arrives AFTER the window → bounce
        (1, base, 101),
        (2, base + pd.Timedelta(microseconds=win * 2), 101),
        # mid 102: landing, next event INSIDE the window → no bounce
        (3, base, 102),
        (4, base + pd.Timedelta(microseconds=win // 2), 102),
        # sentinels far in the future advance the watermark past all timeouts
        (5, base + pd.Timedelta(days=30), 101),
        (6, base + pd.Timedelta(days=30), 102),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    path = str(tmp_path / "fixture")
    spark.createDataFrame(pdf).write.parquet(path)
    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(
        path
    )
    out = _run_to_memory(stateful.bounce_detect_stream(stream), spark, "fixture_out")
    got = {(r["event_id"], r["user_id"]) for r in out.collect()}
    # event 1 bounced; event 2 is ALSO a landing (gap > window) whose next
    # event (sentinel) is beyond the window → bounce; 3/4 matched → none.
    assert (1, 101) in got
    assert (3, 102) not in got and (4, 102) not in got


def test_log_split_job(spark, sf_dir, tmp_path):
    q = log_split_job(
        events_stream(spark, sf_dir), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    events = load_table(spark, sf_dir, "events")
    n_start = spark.read.parquet(str(tmp_path / "out/dwd_start_log")).count()
    n_page = spark.read.parquet(str(tmp_path / "out/dwd_page_log")).count()
    n_disp = spark.read.parquet(str(tmp_path / "out/dwd_display_log")).count()
    assert n_start == events.filter("event_type = 'signup'").count()
    assert n_page == events.filter("event_type IN ('view','click')").count()
    assert n_disp == n_page  # props has exactly one key per event


def test_routing_job_matches_batch_queries(spark, sf_dir, tmp_path):
    cfg = str(tmp_path / "config")
    write_routing_config(spark, cfg)
    q = routing_job(
        events_stream(spark, sf_dir), cfg, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    facts = spark.read.parquet(str(tmp_path / "out/facts"))
    batch_facts = plans.query_map()["routing_facts"](spark, sf_dir)
    assert facts.count() == batch_facts.count()
    assert set(r["sink_table"] for r in facts.select("sink_table").distinct().collect()) == {
        "dwd_signup_log",
        "dwd_page_log",
    }
    dims = spark.read.parquet(str(tmp_path / "out/dims/dim_purchase_info"))
    batch_dims = plans.query_map()["routing_dims"](spark, sf_dir)
    assert dims.count() == batch_dims.count()


def test_uv_dedup_state_ttl_evicts_idle_keys(spark, tmp_path):
    """W6 (UniqueVisitApp.java:65-68): the dedup state carries a 1-day
    event-time TTL — a key idle past it is evicted from the state store
    (the 100 TB state-bounding concern). Also pins the flip side of the
    late-data contract: under EventTimeTimeout, Spark DOES filter
    sub-watermark input rows (unlike NoTimeout — see the visitor-repair
    late test), so a late day-1 record after eviction is dropped, not
    re-admitted."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-03-01 00:00:00")
    far = base + pd.Timedelta(days=40)
    (tmp_path / "in").mkdir()
    files = [
        ("f1.parquet", [(1, base, 7)]),  # u7 day1 → emitted, state row created
        ("f2.parquet", [(2, far, 9)]),  # sentinel: watermark → day 41
        ("f3.parquet", [(3, far + pd.Timedelta(hours=1), 9)]),  # u7 TTL fires
        ("f4.parquet", [(4, base + pd.Timedelta(hours=1), 7)]),  # late → filtered
    ]
    for i, (fname, rows) in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = str(tmp_path / "in" / fname)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        t = time.time() + i * 5
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = (
        stateful.uv_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM ttl_out")
    got = sorted(r["first_event_id"] for r in out.collect())
    assert got == [1, 2], f"unexpected emissions: {got}"
    import json

    progresses = [
        p if isinstance(p, dict) else json.loads(str(p)) for p in q.recentProgress
    ]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progresses
        if p.get("stateOperators")
    ]
    assert state_rows, "no state metrics recorded"
    assert state_rows[-1] == 1, (
        f"idle key not evicted by TTL; state rows over time: {state_rows}"
    )


def test_kafka_payload_dynamic_topic(spark, sf_dir):
    """K2 without a broker: dynamic mode keeps a per-row topic column and
    JSON-encodes everything else; fixed mode emits value only."""
    from gmall_flink_parent_spark.streaming.sources import kafka_payload

    facts = plans.query_map()["routing_facts"](spark, sf_dir).withColumnRenamed(
        "sink_table", "topic"
    )
    dyn = kafka_payload(facts, topic=None)
    assert dyn.columns == ["topic", "value"]
    topics = {r["topic"] for r in dyn.select("topic").distinct().collect()}
    assert topics == {"dwd_signup_log", "dwd_page_log"}
    row = dyn.filter(F.col("topic") == "dwd_signup_log").first()
    import json

    decoded = json.loads(row["value"])
    assert "event_id" in decoded and "topic" not in decoded
    fixed = kafka_payload(facts.drop("topic"), topic="t1")
    assert fixed.columns == ["value"]


def test_log_split_checkpoint_no_reprocess(spark, sf_dir, tmp_path):
    """W7 exactly-once: re-running a job against the SAME checkpoint must
    not reprocess already-committed input — output row counts stay put."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for _ in range(2):
        q = log_split_job(events_stream(spark, sf_dir), out, ck)
        q.awaitTermination(120)
    events = load_table(spark, sf_dir, "events")
    n_start = spark.read.parquet(f"{out}/dwd_start_log").count()
    assert n_start == events.filter("event_type = 'signup'").count(), (
        "same-checkpoint rerun duplicated output"
    )


def test_routing_job_auto_ddl_registers_typed_dim_table(spark, sf_dir, tmp_path):
    """K4 (TableProcessFunction.java:141-183): the dim table is created
    in the catalog on first sight — queryable by name via SQL, with real
    column types (the reference's all-varchar DDL is a documented
    limitation, not copied)."""
    cfg = str(tmp_path / "config")
    write_routing_config(spark, cfg)
    spark.sql("DROP TABLE IF EXISTS dim_purchase_info")
    try:
        q = routing_job(
            events_stream(spark, sf_dir), cfg, str(tmp_path / "out"), str(tmp_path / "ck")
        )
        q.awaitTermination(120)
        assert spark.catalog.tableExists("dim_purchase_info")
        got = dict(spark.table("dim_purchase_info").dtypes)
        assert got["value"] == "double", got  # typed, not varchar
        n_sql = spark.sql("SELECT COUNT(*) AS n FROM dim_purchase_info").first()["n"]
        assert n_sql == plans.query_map()["routing_dims"](spark, sf_dir).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_purchase_info")


def test_routing_job_upsert_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same batch must not duplicate dim rows (K3 upsert).

    Also pins the Spark jobs one micro-batch costs: the first lands new
    dim tables, the replay upsert-merges into them. Both run four: the
    config collect, the facts write, and the merge's shuffle and write.
    A broadcast join, a persisted batch, a ``distinct().collect()`` of
    the dim tables and an anti-join merge with footer inference cost
    8 and 11."""
    cfg = str(tmp_path / "config")
    write_routing_config(spark, cfg)
    jobs_per_batch = []
    for ck in ("ck1", "ck2"):  # fresh checkpoint → same data replayed
        q = routing_job(
            events_stream(spark, sf_dir), cfg, str(tmp_path / "out"), str(tmp_path / ck)
        )
        assert q.awaitTermination(120)
        assert len(q.recentProgress) == 1
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        jobs_per_batch.append(len(jobs))
    dims = spark.read.parquet(str(tmp_path / "out/dims/dim_purchase_info"))
    batch_dims = plans.query_map()["routing_dims"](spark, sf_dir)
    assert dims.count() == batch_dims.count()
    assert jobs_per_batch[0] <= 4 and jobs_per_batch[1] <= 4, jobs_per_batch


def test_route_fans_out_like_the_config_join(spark, sf_dir, tmp_path):
    """``route`` keeps the inner join's semantics: a source with two
    config rows fans out to two rows per event, an event type with no
    config row (``error``) drops, and an empty config routes nothing.
    In the stream, the Observation finds both dim tables of a
    fanned-out source, and each lands every purchase event."""
    from gmall_flink_parent_spark.operators.routing import (
        ROUTING_CONFIG,
        ROUTING_CONFIG_SCHEMA,
        route,
    )

    config = ROUTING_CONFIG + [
        ("purchase", "kafka", "dwd_order_log", "event_id,user_id,ts,value"),
        ("purchase", "hbase", "dim_purchase_audit", "event_id,user_id"),
    ]
    events = load_table(spark, sf_dir, "events")
    cfg = spark.createDataFrame(config, ROUTING_CONFIG_SCHEMA)
    cols = F.split(F.col("sink_columns"), ",")
    joined = events.join(cfg, events.event_type == cfg.source_type).select(
        "event_id",
        "user_id",
        "ts",
        "sink_table",
        "sink_type",
        F.when(
            F.array_contains(cols, "value"),
            F.col("value").cast("decimal(18,2)").cast("double"),
        ).alias("value"),
        F.when(F.array_contains(cols, "props"), F.col("props")).alias("props"),
    )
    routed = route(events, config)
    assert routed.columns == joined.columns
    assert _rows(routed, routed.columns) == _rows(joined, joined.columns)
    n_purchase = events.filter("event_type = 'purchase'").count()
    assert n_purchase > 0 and events.filter("event_type = 'error'").count() > 0
    assert routed.filter("sink_table = 'dwd_order_log'").count() == n_purchase
    assert route(events, []).count() == 0  # an emptied config routes nothing
    routed_ids = routed.select("event_id").distinct()
    assert not routed_ids.join(
        events.filter("event_type = 'error'"), "event_id"
    ).count()

    cfg_path = str(tmp_path / "config")
    cfg.coalesce(1).write.json(cfg_path)
    q = routing_job(
        events_stream(spark, sf_dir), cfg_path, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    assert q.awaitTermination(120)
    for tbl in ("dim_purchase_info", "dim_purchase_audit"):
        dim = spark.read.parquet(str(tmp_path / "out/dims" / tbl))
        assert dim.count() == n_purchase, tbl
    audit = spark.read.parquet(str(tmp_path / "out/dims/dim_purchase_audit"))
    assert audit.filter("value IS NOT NULL OR props IS NOT NULL").count() == 0
    facts = spark.read.parquet(str(tmp_path / "out/facts"))
    assert facts.filter("sink_table = 'dwd_order_log'").count() == n_purchase


def test_upsert_parquet_self_heals_after_crash_leftovers(spark, tmp_path):
    """A crash between the swap renames leaves ``._tmp``/``._old`` dirs;
    the next upsert must clear them and still merge correctly, and the
    target must never contain stale side-directory rows."""
    from gmall_flink_parent_spark.streaming.jobs import upsert_parquet

    path = str(tmp_path / "dim")
    upsert_parquet(spark, spark.range(3).withColumnRenamed("id", "k"), path, key="k")
    # simulate a crash that left both side dirs behind, with garbage data
    spark.range(100).withColumnRenamed("id", "k").write.parquet(path + "._tmp")
    spark.range(50).withColumnRenamed("id", "k").write.parquet(path + "._old")
    upsert_parquet(
        spark, spark.range(2, 5).withColumnRenamed("id", "k"), path, key="k"
    )
    got = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert got == [0, 1, 2, 3, 4]
    import os

    assert not os.path.exists(path + "._tmp")
    assert not os.path.exists(path + "._old")


def test_upsert_parquet_failed_swap_raises_and_restores(spark, tmp_path, monkeypatch):
    """Hadoop rename reports failure by returning false; a false on the
    tmp→dest rename must raise (not silently succeed) and restore the
    previous table from ``._old``."""
    from gmall_flink_parent_spark.streaming import store as jobs

    path = str(tmp_path / "dim")
    jobs.upsert_parquet(spark, spark.range(3).withColumnRenamed("id", "k"), path, key="k")
    real = jobs._hadoop_fs

    class FailTmpRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, a, b):
            if str(a).endswith("._tmp"):
                return False
            return self._fs.rename(a, b)

    monkeypatch.setattr(
        jobs, "_hadoop_fs", lambda s, p: (lambda fs, pp: (FailTmpRename(fs), pp))(*real(s, p))
    )
    with pytest.raises(IOError, match="restored"):
        jobs.upsert_parquet(
            spark, spark.range(2, 5).withColumnRenamed("id", "k"), path, key="k"
        )
    monkeypatch.undo()
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == [0, 1, 2]


def _group_jobs(spark, group: str, action) -> list[list[str]]:
    """Stage names of each Spark job ``action`` runs under ``group``.

    The status tracker reads the listener bus's store, so the bus is
    drained first. Once a session has run ``spark.ui.retainedStages``
    stages, the store evicts SKIPPED stages first, and a job's skipped
    stage may be gone before it is read. A skipped stage re-lists a
    stage an earlier job ran, so it is left out of the names; the job
    count is unaffected."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    stages = (
        [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        for j in sorted(st.getJobIdsForGroup(group))
    )
    return [[s.name for s in job if s is not None] for job in stages]


def test_upsert_parquet_merge_runs_two_jobs(spark, tmp_path):
    """A merge into an existing table is one shuffle and one write: the
    stored table is read with the new rows' schema, so no ``parquet at
    …`` footer-inference job runs, and nothing is persisted."""
    from gmall_flink_parent_spark.streaming.store import upsert_parquet

    path = str(tmp_path / "dim")
    rows = spark.range(3).withColumnRenamed("id", "k").withColumn("v", F.col("k"))
    upsert_parquet(spark, rows, path, key="k")
    new = spark.range(2, 5).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 10)
    jobs = _group_jobs(
        spark, "upsert-merge", lambda: upsert_parquet(spark, new, path, key="k")
    )
    assert len(jobs) == 2, jobs
    assert not [n for stages in jobs for n in stages if n.startswith("parquet at")], jobs
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(0, 0), (1, 1), (2, 20), (3, 30), (4, 40)]


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """Keep-newest per key: a key in both the store and the new rows
    keeps the new row, duplicate new keys yield one row, a NULL key is
    one key, and a store whose columns differ from the new rows raises
    before anything is written."""
    import os

    from gmall_flink_parent_spark.streaming.store import upsert_parquet

    path = str(tmp_path / "dim")
    schema = "k long, v string"
    upsert_parquet(
        spark, spark.createDataFrame([(1, "a"), (2, "b"), (None, "n0")], schema), path, "k"
    )
    new = spark.createDataFrame(
        [(2, "B"), (3, "c"), (3, "c"), (None, "n1"), (None, "n1")], schema
    )
    upsert_parquet(spark, new, path, key="k")
    got = sorted(
        (tuple(r) for r in spark.read.parquet(path).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert got == [(1, "a"), (2, "B"), (3, "c"), (None, "n1")]

    dup = spark.createDataFrame([(4, "x"), (4, "y")], schema)
    upsert_parquet(spark, dup, path, key="k")
    fours = [r["v"] for r in spark.read.parquet(path).filter("k = 4").collect()]
    assert len(fours) == 1 and fours[0] in ("x", "y")

    before = sorted(map(str, spark.read.parquet(path).collect()))
    files = sorted(os.listdir(path))
    drifted = spark.createDataFrame([(5, "e", 1.0)], "k long, v string, w double")
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(spark, drifted, path, key="k")
    renamed = spark.createDataFrame([(5, "e")], "k long, value string")
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(spark, renamed, path, key="k")
    assert sorted(os.listdir(path)) == files
    assert not os.path.exists(path + "._tmp")
    assert sorted(map(str, spark.read.parquet(path).collect())) == before


def test_upsert_rows_merges_parquet_history_when_delta_importable(
    spark, tmp_path, monkeypatch
):
    """Mixed-history migration: ``path`` holds plain parquet from earlier
    fallback runs and delta IS importable but the dir is not a Delta
    table — upsert_rows must keep merging via the parquet path instead
    of erroring on the non-empty directory (round-2 advisor finding).
    Delta itself is not installable in this container (no pip), so the
    import is faked; the real MERGE branch is exercised only where
    delta-spark exists."""
    import sys
    import types

    from gmall_flink_parent_spark.streaming import jobs

    fake_tables = types.ModuleType("delta.tables")

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark, path):
            return False

    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)

    path = str(tmp_path / "dim")
    jobs.upsert_parquet(spark, spark.range(3).withColumnRenamed("id", "k"), path, key="k")
    jobs.upsert_rows(spark, spark.range(2, 5).withColumnRenamed("id", "k"), path, key="k")
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == [0, 1, 2, 3, 4]


def test_upsert_rows_drives_delta_merge_branch(spark, tmp_path, monkeypatch):
    """MERGE-branch contract: when the path IS a Delta table the
    dispatcher must run one keyed MERGE (update-all + insert-all, keyed
    on the upsert key) over key-deduplicated input — pinned with a fake
    ``delta.tables`` whose merge applies anti-join+union semantics to
    parquet, since delta-spark cannot be installed in this container
    (no pip; the real branch runs wherever delta-spark exists)."""
    import sys
    import types

    from gmall_flink_parent_spark.streaming import jobs

    calls: dict = {}

    class FakeMerge:
        def __init__(self, target_path, source):
            self._path, self._src = target_path, source

        def whenMatchedUpdateAll(self):
            calls["matched"] = True
            return self

        def whenNotMatchedInsertAll(self):
            calls["not_matched"] = True
            return self

        def execute(self):
            cur = spark.read.parquet(self._path)
            merged = cur.join(self._src, on="k", how="left_anti").unionByName(
                self._src
            )
            jobs.upsert_parquet(spark, merged, self._path, key="k")

    class FakeTarget:
        def __init__(self, target_path):
            self._path = target_path

        def alias(self, a):
            return self

        def merge(self, source, condition):
            calls["condition"] = condition
            calls["source_rows"] = source.count()
            return FakeMerge(self._path, source)

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark, p):
            return True

        @staticmethod
        def forPath(spark, p):
            return FakeTarget(p)

    fake_tables = types.ModuleType("delta.tables")
    fake_tables.DeltaTable = FakeDeltaTable
    fake_delta = types.ModuleType("delta")
    fake_delta.tables = fake_tables
    monkeypatch.setitem(sys.modules, "delta", fake_delta)
    monkeypatch.setitem(sys.modules, "delta.tables", fake_tables)

    path = str(tmp_path / "dim")
    jobs.upsert_parquet(spark, spark.range(3).withColumnRenamed("id", "k"), path, key="k")
    dup_input = spark.range(2, 5).withColumnRenamed("id", "k").unionAll(
        spark.range(2, 5).withColumnRenamed("id", "k")
    )
    jobs.upsert_rows(spark, dup_input, path, key="k")
    assert calls["condition"] == "t.`k` = s.`k`"
    assert calls["matched"] and calls["not_matched"]
    assert calls["source_rows"] == 3  # dropDuplicates before the merge
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == [0, 1, 2, 3, 4]


def test_visitor_repair_stream_late_rows_repaired(spark, tmp_path):
    """Late-data behavior at the watermark (SURVEY §5.3).

    ``applyInPandasWithState`` does NOT filter sub-watermark input rows
    (verified here with two micro-batches via maxFilesPerTrigger=1) —
    which is parity with the reference: Flink keyed ProcessFunctions
    (BaseLogTask's visitor repair) see late records too; only
    windows/CEP drop them. The operator must therefore be late-safe by
    construction: repair keys on the *first seen* date, so a day-2 event
    arriving after the watermark passed day 3 still gets is_new='0' —
    the same answer the batch analog gives."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-03-01 00:00:00")
    (tmp_path / "in").mkdir()
    f1 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [base, base + pd.Timedelta(days=2)],
            "user_id": [7, 7],
        }
    )
    f2 = pd.DataFrame(  # day-1 event arriving after watermark passed day 2
        {"event_id": [3], "ts": [base + pd.Timedelta(days=1)], "user_id": [7]}
    )
    for pdf, fname, mtime_off in ((f1, "f1.parquet", 0), (f2, "f2.parquet", 5)):
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = str(tmp_path / "in" / fname)
        pq.write_table(pa.Table.from_pandas(pdf), path)
        t = time.time() + mtime_off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    out = _run_to_memory(stateful.visitor_repair_stream(stream), spark, "late_out")
    got = {r["event_id"]: r["is_new"] for r in out.collect()}
    assert got == {1: "1", 2: "0", 3: "0"}


def test_dedup_exact_stream_matches_batch_keepers(spark, sf_dir, tmp_path):
    """Streaming exact dedup fed in doc_id order (two micro-batches)
    must emit exactly the batch keeper per fingerprint, never a later
    copy — cross-batch suppression via the per-fingerprint state."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    import os
    import time

    for pdf, fname, mtime_off in (
        (docs.filter(F.col("doc_id") <= median).toPandas(), "f1.parquet", 0),
        (docs.filter(F.col("doc_id") > median).toPandas(), "f2.parquet", 5),
    ):
        path = str(tmp_path / "in" / fname)
        pdf.to_parquet(path)
        t = time.time() + mtime_off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    out = _run_to_memory(stateful.dedup_exact_stream(stream), spark, "dedup_out")
    got = {r["fingerprint"]: r["keep_doc_id"] for r in out.collect()}
    batch = {
        r["fingerprint"]: r["keep_doc_id"]
        for r in plans.query_map()["dedup_exact"](spark, sf_dir).collect()
    }
    assert got == batch


class _FakeGroupState:
    """``GroupState`` double for driving a keyed-state function
    directly: starts empty, records the last update and timeout."""

    exists = False
    hasTimedOut = False
    updated = None
    timeout_ms = None

    @property
    def get(self):
        raise AssertionError("get on non-existent state")

    def update(self, v):
        self.updated = v

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def test_dedup_exact_stream_min_across_arrow_chunks():
    """A fingerprint group split across Arrow chunks must still emit the
    global min doc_id — not the first non-empty chunk's min (the round-2
    advisor finding)."""
    state = _FakeGroupState()
    chunks = iter(
        [
            pd.DataFrame({"doc_id": [9, 12], "fingerprint": ["f", "f"]}),
            pd.DataFrame({"doc_id": [], "fingerprint": []}),
            pd.DataFrame({"doc_id": [3, 40], "fingerprint": ["f", "f"]}),
        ]
    )
    out = pd.concat(list(stateful._keep_first_fingerprint(("f",), chunks, state)))
    assert list(out["keep_doc_id"]) == [3]
    assert state.updated == (True,)


def test_dedup_exact_stream_matches_batch_with_tiny_arrow_chunks(
    spark, sf_dir, tmp_path
):
    """End-to-end: with 2-row Arrow batches every multi-copy fingerprint
    group spans chunks, and the streaming keeper must still equal the
    batch keeper."""
    import os
    import time

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    (tmp_path / "in").mkdir()
    path = str(tmp_path / "in" / "all.parquet")
    docs.toPandas().to_parquet(path)
    t = time.time()
    os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(tmp_path / "in"))
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        out = _run_to_memory(stateful.dedup_exact_stream(stream), spark, "dedup_tiny")
    finally:
        spark.conf.set(key, old)
    got = {r["fingerprint"]: r["keep_doc_id"] for r in out.collect()}
    batch = {
        r["fingerprint"]: r["keep_doc_id"]
        for r in plans.query_map()["dedup_exact"](spark, sf_dir).collect()
    }
    assert got == batch


def test_hourly_stats_stream_matches_batch_closed_windows(spark, sf_dir):
    """Every window the final watermark closed must match the batch
    query exactly on the exact columns (n_events, sum_value); nothing
    outside the batch result may be emitted."""
    out = _run_to_memory(
        hourly_stats_stream(events_stream(spark, sf_dir)), spark, "hourly_out"
    )
    batch = plans.query_map()["hourly_stats"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    watermark_us = max_us - 60_000_000  # 1 min
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    got = set(_rows(out, cols))
    want_all = set(_rows(batch, cols))
    closed = {
        row
        for row in want_all
        if (row[0].timestamp() + 3600) * 1_000_000 <= watermark_us
    }
    assert closed, "fixture too small: no window ever closed"
    assert closed <= got, f"missing closed windows: {sorted(closed - got)[:3]}"
    assert got <= want_all, "stream emitted rows the batch query doesn't have"


def test_sliding_stats_stream_matches_batch_closed_windows(spark, sf_dir):
    """Hopping windows: every window closed by the final watermark must
    match the batch sliding_stats query exactly; nothing outside the
    batch result may be emitted."""
    out = _run_to_memory(
        sliding_stats_stream(events_stream(spark, sf_dir)), spark, "sliding_out"
    )
    batch = plans.query_map()["sliding_stats"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    watermark_us = max_us - 60_000_000  # 1 min
    cols = ["win_start", "win_end", "event_type", "n_events", "sum_value"]
    got = set(_rows(out, cols))
    want_all = set(_rows(batch, cols))
    closed = {row for row in want_all if row[1].timestamp() * 1_000_000 <= watermark_us}
    assert closed, "fixture too small: no window ever closed"
    assert closed <= got, f"missing closed windows: {sorted(closed - got)[:3]}"
    assert got <= want_all, "stream emitted rows the batch query doesn't have"


def test_sessionize_stream_matches_batch_closed_sessions(spark, sf_dir):
    """session_window (streaming) and lag+running-sum (batch) must agree
    on every session the watermark closed: same (user, start, n_events,
    value)."""
    out = _run_to_memory(
        sessionize_stream(events_stream(spark, sf_dir)), spark, "sess_out"
    )
    batch = plans.query_map()["sessionize"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    watermark_us = max_us - 60_000_000
    cols = ["user_id", "session_start", "n_events", "session_value"]
    got = set(_rows(out, cols))
    batch_rows = batch.collect()
    want_all = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in batch_rows
    }
    # a session is closed once the watermark passes last-event + gap
    closed = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in batch_rows
        if (r["session_end"].timestamp() + 1800) * 1_000_000 <= watermark_us
    }
    # sessions still extendable at end-of-stream may differ; closed ones can't
    assert closed, "fixture too small: no session ever closed"
    missing = closed - got
    assert not missing, f"closed sessions disagree: {sorted(missing)[:3]}"
    assert got <= want_all, "stream emitted sessions batch doesn't have"


def _order_streams(spark, sf_dir):
    """orders and lineitem of ``sf_dir`` as one-file streams."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    orders = spark.readStream.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz, o_orderpriority string"
    ).option("pathGlobFilter", "orders.parquet").parquet(sf_dir).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    details = spark.readStream.schema(
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ).option("pathGlobFilter", "lineitem.parquet").parquet(sf_dir).withColumn(
        "l_shipdate", F.col("l_shipdate").cast("timestamp")
    )
    return orders, details


def _split_order_streams(spark, sf_dir, tmp_path):
    """orders and lineitem as two-file streams, each split at its median
    event time, so the interval join's state crosses a micro-batch
    boundary."""
    return (
        _ts_split_stream(
            spark, tmp_path, load_table(spark, sf_dir, "orders"), "o_orderdate",
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
            "o",
        ),
        _ts_split_stream(
            spark, tmp_path, load_table(spark, sf_dir, "lineitem"), "l_shipdate",
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, "
            "l_shipdate timestamp",
            "l",
        ),
    )


def test_order_wide_band_lives_only_in_order_wide_module():
    """The OrderWide band and its watermarks are spelled once, in
    ``operators/order_wide.py::band_join``: every batch head and stream
    form of the join calls it, so the forms cannot drift apart."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gmall_flink_parent_spark"
    needles = (
        "INTERVAL 30 DAYS",
        'withWatermark("o_orderdate"',
        'withWatermark("l_shipdate"',
    )
    found = {
        (p.relative_to(pkg).as_posix(), needle, text.count(needle))
        for p in pkg.rglob("*.py")
        for text in (p.read_text(encoding="utf-8"),)
        for needle in needles
        if needle in text
    }
    assert found == {("operators/order_wide.py", needle, 1) for needle in needles}


# DWS store job -> (family, the batch head's module, reader over its store)
_TWO_PHASE_FAMILIES = {
    "pricing_summary_store_job": (
        "pricing_summary", "operators/order_wide.py", "pricing_summary_from_store"
    ),
    "value_histogram_job": (
        "value_histogram", "operators/cohorts.py", "value_histogram_from_store"
    ),
    "sequence_support_store_job": (
        "sequence_support", "operators/analytics.py", "sequence_support_from_store"
    ),
    "daily_value_store_job": (
        "daily_value", "operators/cohorts.py", "daily_value_from_store"
    ),
    "type_moments_store_job": (
        "type_moments", "operators/cohorts.py", "outliers_from_store"
    ),
    "corpus_summary_job": (
        "corpus_summary", "functions/curation.py", "corpus_summary_from_store"
    ),
}


def test_dws_store_jobs_reuse_their_batch_heads_partials_and_merge():
    """Each two-phase DWS family is written once, in its batch head's
    module, as ``<family>_partials`` and ``<family>_merge``: the store
    job lands the head's own partials and the reader runs the head's own
    merge, so ``streaming/jobs.py`` holds no second copy of the filter,
    measures or output casts. ``user_days_store_job`` lands
    ``operators/cohorts.py::user_days`` the same way."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gmall_flink_parent_spark"
    tree = ast.parse((pkg / "streaming/jobs.py").read_text(encoding="utf-8"))
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    imported = {
        (a.name, n.module)
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
    }

    def module_of(rel: str) -> str:
        return "gmall_flink_parent_spark." + rel.removesuffix(".py").replace("/", ".")

    cases = {job: (f"{fam}_partials", rel) for job, (fam, rel, _) in _TWO_PHASE_FAMILIES.items()}
    cases["user_days_store_job"] = ("user_days", "operators/cohorts.py")
    for job, (partials, rel) in cases.items():
        fn = defs[job]
        nested = [n.name for n in ast.walk(fn) if isinstance(n, ast.FunctionDef) and n is not fn]
        assert not nested, f"{job} defines {nested}"
        calls = [
            c for c in ast.walk(fn)
            if isinstance(c, ast.Call) and getattr(c.func, "id", None) == "batch_store_job"
        ]
        assert len(calls) == 1 and isinstance(calls[0].args[1], ast.Name), job
        assert calls[0].args[1].id == partials, job
        assert (partials, module_of(rel)) in imported, (job, partials)
        head_src = (pkg / rel).read_text(encoding="utf-8")
        assert f"def {partials}(" in head_src, (rel, partials)
    for job, (fam, rel, reader) in _TWO_PHASE_FAMILIES.items():
        called = {
            c.func.id
            for c in ast.walk(defs[reader])
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
        }
        assert f"{fam}_merge" in called, (reader, called)
        assert (f"{fam}_merge", module_of(rel)) in imported, reader
        assert f"def {fam}_merge(" in (pkg / rel).read_text(encoding="utf-8")


# warm Spark jobs of each two-phase head at the parent of the
# merge(partials(table)) rewrite, 4-core host, sf0.001 and sf0.01 alike
_PARENT_WARM_JOBS = {
    "pricing_summary": 3,
    "event_value_histogram": 2,
    "event_sequence_support": 10,
    "event_value_correlation": 4,
    "event_value_outliers": 3,
    "corpus_summary": 3,
}


@pytest.mark.parametrize("head", sorted(_PARENT_WARM_JOBS))
def test_two_phase_heads_use_no_more_warm_jobs(spark, sf_dir, head):
    """``merge(partials(table))`` adds a second in-stage aggregate over
    partials that are already hash-partitioned on the merge keys: no
    Exchange and no Spark job beyond the one-pass form's."""
    fn = plans.query_map()[head]

    def run():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # cold: first-run jobs (footer reads, table handles) excluded
    jobs = _group_jobs(spark, f"warm-{head}", run)
    assert len(jobs) <= _PARENT_WARM_JOBS[head], jobs


def test_order_wide_stream_matches_batch_interval_join(spark, sf_dir, tmp_path):
    orders, details = _order_streams(spark, sf_dir)
    out, q = _run_to_memory(
        interval_join_frame(orders, details), spark, "ow_out", with_query=True
    )
    progress = q.lastProgress
    batch = plans.query_map()["order_detail_interval_join"](spark, sf_dir)
    cols = ["o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate", "extended_price"]
    assert _rows(out, cols) == _rows(batch, cols)
    # State sizing (SCALE.md "order_wide_stream state"): the interval
    # join buffers BOTH sides until the watermark clears the 30-day
    # band, so state is ∝ a month of facts — the one streaming operator
    # here whose state is months-of-rows rather than #groups. Pin the
    # bound: never more than every order + detail row in flight.
    ops = progress["stateOperators"]
    n_orders = load_table(spark, sf_dir, "orders").count()
    n_details = load_table(spark, sf_dir, "lineitem").count()
    assert ops, "interval join reported no state operator"
    state_rows = sum(op["numRowsTotal"] for op in ops)
    assert 0 < state_rows <= n_orders + n_details, (state_rows, n_orders, n_details)
    # the same rows when each side arrives as two in-order files
    out, q = _run_to_memory(
        interval_join_frame(*_split_order_streams(spark, sf_dir, tmp_path)),
        spark,
        "ow_split_out",
        with_query=True,
    )
    assert _data_batches(q) >= 2
    assert _rows(out, cols) == _rows(batch, cols)


def test_order_wide_enriched_stream_matches_batch_composition(spark, sf_dir, tmp_path):
    """Full EP3 in one stream (interval join + 6-way dim enrichment,
    the composition OrderWideApp runs before its sink) must equal the
    SAME band + enrichment computed in batch — written out here as an
    independent expression over the static tables, so a bug in the
    shared streaming head can't hide in its own reflection.

    Also pins the Spark jobs one micro-batch costs, no-data batches
    included: six, the five dim broadcasts and the sink write."""
    from gmall_flink_parent_spark.streaming.jobs import order_wide_enriched_stream

    orders, details = _order_streams(spark, sf_dir)
    out, first = _run_to_memory(
        order_wide_enriched_stream(orders, details, spark, sf_dir),
        spark,
        "owe_stream_out",
        with_query=True,
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .join(load_table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(load_table(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(load_table(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .join(load_table(spark, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(load_table(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"), "left")
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
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
        )
    )
    cols = [
        "o_orderkey", "l_linenumber", "order_ymd", "o_orderpriority", "c_custkey",
        "c_name", "c_mktsegment", "nation_name", "region_name", "part_name",
        "supplier_name", "quantity", "revenue", "total_price",
    ]
    assert _rows(out, cols) == _rows(want, cols) and want.count() > 0
    # the same rows when each side arrives as two in-order files
    out, q = _run_to_memory(
        order_wide_enriched_stream(
            *_split_order_streams(spark, sf_dir, tmp_path), spark, sf_dir
        ),
        spark,
        "owe_split_out",
        with_query=True,
    )
    assert _data_batches(q) >= 2
    assert _rows(out, cols) == _rows(want, cols)
    tracker = spark.sparkContext.statusTracker()
    for run in (first, q):
        jobs = tracker.getJobIdsForGroup(str(run.runId))
        assert 0 < len(jobs) <= 6 * len(run.recentProgress), (
            len(jobs), len(run.recentProgress)
        )


def _two_file_stream(spark, tmp_path, df, split_col, schema, subdir="in"):
    """Split ``df`` at the median of ``split_col`` into two parquet files
    with ordered mtimes and return a maxFilesPerTrigger=1 file stream —
    the repo's standard two-micro-batch harness."""
    import os
    import time

    median = df.approxQuantile(split_col, [0.5], 0.0)[0]
    (tmp_path / subdir).mkdir(exist_ok=True)
    for half, fname, off in (
        (df.filter(F.col(split_col) <= median), "f1.parquet", 0),
        (df.filter(F.col(split_col) > median), "f2.parquet", 5),
    ):
        path = str(tmp_path / subdir / fname)
        pdf = half.toPandas()
        for c in pdf.columns:  # micros, so a plain "ts timestamp" schema reads it
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        pdf.to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / subdir))
    )


def _ts_split_stream(spark, tmp_path, df, ts_col, schema, subdir="in"):
    """``_two_file_stream`` split at the median of the timestamp
    ``ts_col``, so the two files replay the rows in event-time order."""
    return _two_file_stream(
        spark, tmp_path, df.withColumn("ts_us", F.unix_micros(ts_col)), "ts_us",
        f"{schema}, ts_us long", subdir,
    ).drop("ts_us")


def test_topk_spend_job_matches_batch(spark, sf_dir, tmp_path):
    """DWS streaming twin: per-batch (type, user) decimal partials +
    the shared rank pass must equal batch ``topk_users_by_spend``
    exactly — spends, users, AND ranks. One store, many heads: the SAME
    store directory must also serve the full value-distribution head
    (``user_value_distribution_from_store``) hash-equal to its batch
    query — one ingest pass, two DWS answers."""
    from gmall_flink_parent_spark.streaming.jobs import (
        topk_spend_from_store,
        topk_spend_job,
        user_spend_concentration_from_store,
        user_value_distribution_from_store,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, user_id long, event_type string, value double",
    )
    q = topk_spend_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["event_type", "user_id", "spend", "rnk"]
    got = _rows(topk_spend_from_store(spark, str(tmp_path / "store")), cols)
    want = _rows(plans.query_map()["topk_users_by_spend"](spark, sf_dir), cols)
    assert got == want and len(want) > 0
    # second head, same store: full distribution ranks from the partials
    dcols = ["event_type", "user_id", "spend", "pct_rank", "cume", "quartile"]
    dgot = _rows(
        user_value_distribution_from_store(spark, str(tmp_path / "store")), dcols
    )
    dwant = _rows(plans.query_map()["user_value_distribution"](spark, sf_dir), dcols)
    assert dgot == dwant and len(dwant) > len(want)
    # third head, same store: Gini + top-decile concentration scalars
    ccols = ["event_type", "n_users", "total_spend", "gini", "top_decile_share"]
    cgot = _rows(
        user_spend_concentration_from_store(spark, str(tmp_path / "store")), ccols
    )
    cwant = _rows(
        plans.query_map()["user_spend_concentration"](spark, sf_dir), ccols
    )
    assert cgot == cwant and len(cwant) > 0
    # the head persists an intermediate; repeated refreshes (the
    # long-lived dashboard loop) must hold at most ONE live cache —
    # each construction releases the previous call's frame
    from gmall_flink_parent_spark import registry

    for _ in range(3):
        user_value_distribution_from_store(spark, str(tmp_path / "store")).count()
    assert len(registry._LIVE_CACHES[threading.current_thread()]) <= 1
    registry.release_caches()


def test_pricing_summary_store_job_matches_batch(spark, sf_dir, tmp_path):
    """DWS streaming twin of the Q1 rollup: per-batch (returnflag,
    linestatus) decimal partials merged by the final pass must be
    HASH-EQUAL to batch ``pricing_summary`` — every measure, including
    the post-merge double casts and the 6-digit avg_qty rounding."""
    from gmall_flink_parent_spark.streaming.jobs import (
        pricing_summary_from_store,
        pricing_summary_store_job,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    )
    stream = _two_file_stream(
        spark, tmp_path, li, "l_orderkey",
        "l_orderkey long, l_returnflag string, l_linestatus string, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_shipdate timestamp",
    )
    q = pricing_summary_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = [
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "count_order",
        "avg_qty",
    ]
    got = _rows(pricing_summary_from_store(spark, str(tmp_path / "store")), cols)
    want = _rows(plans.query_map()["pricing_summary"](spark, sf_dir), cols)
    assert got == want and len(want) > 0
    # the generic maintenance pass folds the decimal partials without
    # drift: post-compaction the final pass must stay hash-equal
    from gmall_flink_parent_spark.streaming.store import compact_partial_store

    compact_partial_store(
        spark, str(tmp_path / "store"), ["l_returnflag", "l_linestatus"]
    )
    got2 = _rows(pricing_summary_from_store(spark, str(tmp_path / "store")), cols)
    assert got2 == want


def test_revenue_rollup_job_matches_batch(spark, sf_dir, tmp_path):
    """DWS streaming twin: finest-grain (region, nation) partials per
    batch, ROLLUP over the store — every grouping set (pairs, region
    totals, grand total) must equal batch ``revenue_rollup`` exactly."""
    from gmall_flink_parent_spark.streaming.jobs import (
        revenue_rollup_from_store,
        revenue_rollup_job,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    stream = _two_file_stream(
        spark, tmp_path, orders, "o_orderkey",
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    q = revenue_rollup_job(
        stream,
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["region_name", "nation_name", "total_revenue", "n_orders"]
    # rollup rows carry NULL group keys — compare as sets, not sorted lists
    got = {
        tuple(r[c] for c in cols)
        for r in revenue_rollup_from_store(spark, str(tmp_path / "store")).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in plans.query_map()["revenue_rollup"](spark, sf_dir).collect()
    }
    assert got == want and (None, None) in {(a, b) for a, b, _, _ in want}


def test_corpus_summary_job_matches_batch(spark, sf_dir, tmp_path):
    """Text-DWS streaming twin: (lang, source) partials — finer than
    the per-language answer because countDistinct(source) is not
    mergeable — must reproduce batch ``corpus_summary`` exactly,
    avg_tokens included."""
    from gmall_flink_parent_spark.streaming.jobs import (
        corpus_summary_from_store,
        corpus_summary_job,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q = corpus_summary_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["lang", "n_docs", "n_sources", "total_tokens", "total_chars", "avg_tokens"]
    got = _rows(corpus_summary_from_store(spark, str(tmp_path / "store")), cols)
    want = _rows(plans.query_map()["corpus_summary"](spark, sf_dir), cols)
    assert got == want and len(want) > 0


def test_dau_hll_job_matches_batch_hll_twin(spark, sf_dir, tmp_path):
    """The grain-rule's third case (mergeable sketch columns), end to
    end: per-batch BINARY hll_sketch_agg partials, hll_union_agg final
    pass. Union is register-wise max, so the from-store estimate must
    EXACTLY equal the batch one-shot sketch (``dau_hll_estimate``) —
    not just approximately — and stay error-bounded vs exact
    ``dau_by_day``. Compaction must fold the sketch partitions through
    ``hll_union_agg`` with estimates unchanged."""
    from gmall_flink_parent_spark.operators.uv_dedup import dau_hll_estimate
    from gmall_flink_parent_spark.streaming.jobs import (
        dau_by_day_from_store,
        dau_hll_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long",
    )
    q = dau_hll_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["ymd", "approx_dau"]
    got = _rows(dau_by_day_from_store(spark, str(tmp_path / "store")), cols)
    want = _rows(dau_hll_estimate(load_table(spark, sf_dir, "events")), cols)
    assert got == want and len(want) > 0  # union-of-partials == one-shot sketch
    exact = {
        r["ymd"]: r["dau"]
        for r in plans.query_map()["dau_by_day"](spark, sf_dir).collect()
    }
    assert set(exact) == {ymd for ymd, _ in got}
    for ymd, est in got:
        assert abs(est - exact[ymd]) <= max(2, 0.05 * exact[ymd]), (ymd, est)
    # crash-between-batches: a landed-but-uncommitted sketch partition
    # (poisoned here with a wrong-day sketch) is REPLACED when the
    # replayed batch overwrites its own batch_id partition — estimates
    # recover exactly
    poisoned = load_table(spark, sf_dir, "events").limit(50).select(
        F.lit("19700101").alias("ymd"),
        F.hll_sketch_agg("user_id").alias("users_sketch"),
    )
    poisoned.write.mode("overwrite").parquet(f"{tmp_path}/store/batch_id=1")
    assert _rows(dau_by_day_from_store(spark, str(tmp_path / "store")), cols) != want
    import shutil

    shutil.rmtree(str(tmp_path / "ck"))  # fresh checkpoint = full replay
    q2 = dau_hll_job(
        _two_file_stream(
            spark, tmp_path, events, "event_id",
            "event_id long, ts timestamp, user_id long", subdir="in2",
        ),
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
    )
    q2.awaitTermination(120)
    assert _rows(dau_by_day_from_store(spark, str(tmp_path / "store")), cols) == want

    # compaction folds the BINARY sketches (hll_union_agg, not sum):
    # both committed batches collapse into the base partition and every
    # estimate is unchanged
    compact_partial_store(
        spark, str(tmp_path / "store"), ["ymd"], f"{tmp_path}/ck/dau_hll"
    )
    after = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in after.select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]
    assert _rows(dau_by_day_from_store(spark, str(tmp_path / "store")), cols) == want


def test_hourly_stats_job_matches_batch(spark, sf_dir, tmp_path):
    """All three grain-rule cases in ONE store: n_events and sum_value
    merge exactly (hash-equal to batch ``hourly_stats``); the distinct
    user count rides as a mergeable HLL sketch whose estimate is
    error-bounded vs the exact batch ``n_users``. This is the upgrade
    over ``hourly_stats_stream``'s approx_count_distinct column, which
    exposes no state and cannot be merged across re-runs."""
    from gmall_flink_parent_spark.streaming.jobs import (
        hourly_stats_from_store,
        hourly_stats_job,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    q = hourly_stats_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    got = hourly_stats_from_store(spark, str(tmp_path / "store"))
    batch = plans.query_map()["hourly_stats"](spark, sf_dir)
    cols = ["hour_start", "event_type", "n_events", "sum_value"]
    want = _rows(batch, cols)
    assert _rows(got, cols) == want and len(want) > 0
    exact = {
        (r["hour_start"], r["event_type"]): r["n_users"] for r in batch.collect()
    }
    got_rows = got.collect()
    for r in got_rows:
        e = exact[(r["hour_start"], r["event_type"])]
        assert abs(r["approx_users"] - e) <= max(2, 0.05 * e), (r, e)

    # compaction must fold all three value classes of this ONE store —
    # long count, decimal sum, binary sketch — with the head unchanged
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    compact_partial_store(
        spark,
        str(tmp_path / "store"),
        ["hour_start", "event_type"],
        f"{tmp_path}/ck/hourly_stats",
    )
    after = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in after.select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]
    compacted = hourly_stats_from_store(spark, str(tmp_path / "store"))
    assert _rows(compacted, cols) == want
    assert sorted(
        (r["hour_start"], r["event_type"], r["approx_users"]) for r in compacted.collect()
    ) == sorted(
        (r["hour_start"], r["event_type"], r["approx_users"]) for r in got_rows
    )


def test_compact_partial_store_preserves_totals_and_resumes(spark, sf_dir, tmp_path):
    """DEPLOY.md's store-compaction guidance, implemented and pinned:
    committed batches fold into the reserved batch_id=-1 base partition
    with exact totals; an UNCOMMITTED landed partition is left in place
    (the stream will overwrite it on replay — folding it would
    double-count); crash debris heals; and the stream resumes cleanly —
    final rank over base + post-compaction partials still equals the
    batch query."""
    import os
    import shutil
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        COMPACT_BASE_ID,
        compact_partial_store,
        topk_spend_from_store,
        topk_spend_job,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t1, t2 = events.approxQuantile("event_id", [0.34, 0.67], 0.0)
    (tmp_path / "in").mkdir()
    store_dir = str(tmp_path / "store")
    ck_location = str(tmp_path / "ck" / "topk_spend")  # the job's real location

    def land(fname, cond, off):
        path = str(tmp_path / "in" / fname)
        events.filter(cond).toPandas().to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))

    schema = "event_id long, user_id long, event_type string, value double"

    def run_job():
        q = topk_spend_job(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in")),
            store_dir,
            str(tmp_path / "ck"),
        )
        q.awaitTermination(120)

    land("f1.parquet", F.col("event_id") <= t1, 0)
    land("f2.parquet", (F.col("event_id") > t1) & (F.col("event_id") <= t2), 5)
    run_job()  # batches 0 and 1, both committed
    # the real crash shape: batch 2's partition LANDED but the
    # checkpoint never committed it — simulated by pre-writing garbage
    # at batch_id=2 (on restart the stream replays batch 2 over it)
    shutil.copytree(f"{store_dir}/batch_id=1", f"{store_dir}/batch_id=2")
    # crash debris beside the store must not break or pollute compaction
    (tmp_path / "store._tmp").mkdir()
    (tmp_path / "store._tmp" / "junk").write_text("leftover")
    assert (
        compact_partial_store(
            spark, store_dir, ["event_type", "user_id"], ck_location
        )
        == COMPACT_BASE_ID
    )
    store = spark.read.parquet(store_dir)
    # committed 0+1 folded into the base; uncommitted 2 left in place
    # for the replay to overwrite — folding it would double-count
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID, 2]
    # base totals: rank over the base alone == batch over f1+f2
    from gmall_flink_parent_spark.operators.windows import (
        rank_topk_spend,
        spend_by_type_user,
    )

    cols = ["event_type", "user_id", "spend", "rnk"]
    base_spend = (
        store.filter(F.col("batch_id") == COMPACT_BASE_ID)
        .groupBy("event_type", "user_id")
        .agg(F.sum("spend").alias("spend"))
    )
    assert _rows(rank_topk_spend(base_spend), cols) == _rows(
        rank_topk_spend(spend_by_type_user(events.filter(F.col("event_id") <= t2))),
        cols,
    )
    # the stream RESUMES: replayed batch 2 overwrites the stale landed
    # partition (idempotent sink), so nothing is lost or double-counted
    land("f3.parquet", F.col("event_id") > t2, 10)
    run_job()
    store = spark.read.parquet(store_dir)
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID, 2]
    got = _rows(topk_spend_from_store(spark, store_dir), cols)
    want = _rows(plans.query_map()["topk_users_by_spend"](spark, sf_dir), cols)
    assert got == want and len(want) > 0


def test_compact_partial_store_null_keys_and_idempotence(spark, tmp_path):
    """Docstring claims pinned: NULL group keys are regular keys (the
    rollup/cube grain can carry NULL dimension values), and compacting
    an already-compacted store is a no-op on totals. No checkpoint is
    passed (stream-stopped mode): everything folds."""
    from gmall_flink_parent_spark.streaming.jobs import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    store = str(tmp_path / "store")
    rows0 = [("ASIA", None, 10.0, 2), (None, "x", 1.0, 1)]
    rows1 = [("ASIA", None, 5.0, 1), (None, None, 7.0, 3)]
    schema = "region string, nation string, rev double, n long"
    spark.createDataFrame(rows0, schema).write.parquet(f"{store}/batch_id=0")
    spark.createDataFrame(rows1, schema).write.parquet(f"{store}/batch_id=1")

    def totals():
        return {
            (r["region"], r["nation"]): (r["rev"], r["n"])
            for r in spark.read.parquet(store)
            .groupBy("region", "nation")
            .agg(F.sum("rev").alias("rev"), F.sum("n").alias("n"))
            .collect()
        }

    want = {
        ("ASIA", None): (15.0, 3),
        (None, "x"): (1.0, 1),
        (None, None): (7.0, 3),
    }
    assert totals() == want
    assert compact_partial_store(spark, store, ["region", "nation"]) == COMPACT_BASE_ID
    assert totals() == want
    assert spark.read.parquet(store).count() == 3  # one row per group now
    # idempotent: a second compaction changes nothing
    assert compact_partial_store(spark, store, ["region", "nation"]) == COMPACT_BASE_ID
    assert totals() == want

    # merged totals that overflow the stored type refuse loudly instead
    # of silently NULLing the partials (non-ANSI decimal cast behavior)
    import decimal

    ov = str(tmp_path / "overflow_store")
    tight = "k string, v decimal(3,1)"
    half = [("a", decimal.Decimal("99.9"))]
    spark.createDataFrame(half, tight).write.parquet(f"{ov}/batch_id=0")
    spark.createDataFrame(half, tight).write.parquet(f"{ov}/batch_id=1")
    with pytest.raises(ArithmeticError, match="overflows"):
        compact_partial_store(spark, ov, ["k"])
    # and the refusal left the store untouched (both partitions intact)
    assert spark.read.parquet(ov).count() == 2

    # long columns hit overflow in sum() itself (sum(long) is a long),
    # BEFORE the cast-back guard — the widened decimal intermediate must
    # surface the same documented error, not a silent wrap (non-ANSI)
    # or a raw JVM ArithmeticException (ANSI)
    lv = str(tmp_path / "long_overflow_store")
    near_max = [("a", 2**63 - 10)]
    spark.createDataFrame(near_max, "k string, v long").write.parquet(
        f"{lv}/batch_id=0"
    )
    spark.createDataFrame(near_max, "k string, v long").write.parquet(
        f"{lv}/batch_id=1"
    )
    with pytest.raises(ArithmeticError, match="overflows"):
        compact_partial_store(spark, lv, ["k"])
    assert spark.read.parquet(lv).count() == 2

    # decimal columns at the precision cap overflow inside F.sum itself
    # (sum precision caps at 38 → NULL in non-ANSI mode, before any
    # cast-back): "inputs existed but the merged sum is NULL" must read
    # as overflow too, not fold a NULL total into the base
    capv = str(tmp_path / "cap_overflow_store")
    big = [("a", decimal.Decimal("9" * 38))]
    spark.createDataFrame(big, "k string, v decimal(38,0)").write.parquet(
        f"{capv}/batch_id=0"
    )
    spark.createDataFrame(big, "k string, v decimal(38,0)").write.parquet(
        f"{capv}/batch_id=1"
    )
    with pytest.raises(ArithmeticError, match="overflows"):
        compact_partial_store(spark, capv, ["k"])
    assert spark.read.parquet(capv).count() == 2

    # compaction racing first deployment: no batch has landed, no store
    # directory exists — quiet no-op, not a raw AnalysisException
    missing = str(tmp_path / "never_written_store")
    assert compact_partial_store(spark, missing, ["k"]) == COMPACT_BASE_ID
    assert not os.path.exists(missing)


def test_swap_recovery_restores_half_swapped_store(spark, tmp_path):
    """A crash BETWEEN the two swap renames leaves no table at the store
    path — only ``._old``. The next swap-protocol entry must RESTORE it
    (rename back), never delete it: losing ``._old`` there would destroy
    the only remaining copy of the accumulated partials."""
    import os

    from gmall_flink_parent_spark.streaming.jobs import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    store = str(tmp_path / "store")
    spark.createDataFrame([("a", 1.0)], "k string, v double").write.parquet(
        f"{store}/batch_id=0"
    )
    spark.createDataFrame([("a", 2.0)], "k string, v double").write.parquet(
        f"{store}/batch_id=1"
    )
    # crash state: dest renamed away, ._tmp present — only a crash
    # between the two renames produces this pair
    os.rename(store, store + "._old")
    os.mkdir(store + "._tmp")
    (tmp_path / "store._tmp" / "part-junk").write_text("incomplete")
    assert compact_partial_store(spark, store, ["k"]) == COMPACT_BASE_ID
    out = spark.read.parquet(store)
    assert [(r["k"], r["v"]) for r in out.collect()] == [("a", 3.0)]
    # all crash debris gone
    assert not os.path.exists(store + "._old")
    assert not os.path.exists(store + "._tmp")


def test_compact_folds_batches_below_retained_commit_max(spark, tmp_path):
    """Commit-log retention purges old entries
    (spark.sql.streaming.minBatchesToRetain); commits are strictly
    ordered, so every id at or below the retained maximum is committed.
    A purged id must still fold — otherwise the store's partition count
    grows without bound despite scheduled compaction. Here commits only
    retain id 2; partitions 0 and 1 (purged) must fold with it, while
    id 3 (beyond the max → uncommitted) stays."""
    from gmall_flink_parent_spark.streaming.jobs import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    store = str(tmp_path / "store")
    for i, v in enumerate((1.0, 2.0, 4.0, 8.0)):
        spark.createDataFrame([("a", v)], "k string, v double").write.parquet(
            f"{store}/batch_id={i}"
        )
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir(parents=True)
    (commits / "2").write_text("v1")  # ids 0 and 1 purged by retention
    assert (
        compact_partial_store(spark, store, ["k"], str(tmp_path / "ckpt"))
        == COMPACT_BASE_ID
    )
    store_df = spark.read.parquet(store)
    assert sorted(
        r["batch_id"] for r in store_df.select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID, 3]
    got = {
        r["batch_id"]: r["v"]
        for r in store_df.groupBy("batch_id").agg(F.sum("v").alias("v")).collect()
    }
    assert got == {COMPACT_BASE_ID: 7.0, 3: 8.0}


def test_partial_store_any_split_matches_batch(spark, sf_dir, tmp_path):
    """Associativity under ANY batching, beyond the 2/3-split streaming
    tests: simulate k-batch ingests by landing per-split partials
    directly (what topk_spend_job's foreachBatch writes), for several
    random splits, and require the final pass to equal the batch query
    bit-for-bit each time."""
    import random

    from gmall_flink_parent_spark.operators.windows import spend_by_type_user
    from gmall_flink_parent_spark.streaming.jobs import topk_spend_from_store

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cols = ["event_type", "user_id", "spend", "rnk"]
    want = _rows(plans.query_map()["topk_users_by_spend"](spark, sf_dir), cols)
    for trial, k in ((0, 3), (1, 5), (2, 7)):
        rng = random.Random(trial)
        store = str(tmp_path / f"store{trial}")
        salt = rng.randrange(1_000_000)
        split = F.pmod(F.xxhash64(F.col("event_id") + F.lit(salt)), F.lit(k))
        for i in range(k):
            spend_by_type_user(events.filter(split == i)).write.parquet(
                f"{store}/batch_id={i}"
            )
        got = _rows(topk_spend_from_store(spark, store), cols)
        assert got == want, f"trial {trial} (k={k}) diverged"


def test_revenue_cube_job_matches_batch(spark, sf_dir, tmp_path):
    """DWS streaming twin: all four CUBE grouping sets (pairs, each
    single-dim total, grand total) from the partial store must equal
    batch ``revenue_cube`` exactly, grouping_id included."""
    from gmall_flink_parent_spark.streaming.jobs import (
        revenue_cube_from_store,
        revenue_cube_job,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    stream = _two_file_stream(
        spark, tmp_path, orders, "o_orderkey",
        "o_orderkey long, o_custkey long, o_orderpriority string, o_totalprice double",
    )
    q = revenue_cube_job(
        stream,
        load_table(spark, sf_dir, "customer"),
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    cols = ["mktsegment", "orderpriority", "gid", "total_revenue", "n_orders"]
    got = {
        tuple(r[c] for c in cols)
        for r in revenue_cube_from_store(spark, str(tmp_path / "store")).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in plans.query_map()["revenue_cube"](spark, sf_dir).collect()
    }
    assert got == want and {g for _, _, g, _, _ in want} == {0, 1, 2, 3}


def test_dedup_minhash_incremental_matches_batch(spark, sf_dir):
    """Any batch split of the corpus must yield exactly the full-batch
    LSH pairs: each pair is emitted once, in the batch where its later
    member arrives — store signatures are never recomputed."""
    from gmall_flink_parent_spark.functions.dedup import (
        dedup_minhash_incremental,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    half1 = docs.filter(F.col("doc_id") <= median)
    half2 = docs.filter(F.col("doc_id") > median)
    sigs1 = minhash_signatures(half1)
    got = {
        tuple(r)
        for r in dedup_minhash_incremental(minhash_signatures(half1)).collect()
    } | {
        tuple(r)
        for r in dedup_minhash_incremental(
            minhash_signatures(half2), store_sigs=sigs1
        ).collect()
    }
    batch = {
        tuple(r)
        for r in plans.query_map()["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert got == batch and len(batch) > 0


def test_minhash_dedup_job_stream(spark, sf_dir, tmp_path):
    """The foreachBatch job end-to-end over two micro-batches: the pair
    sink accumulates exactly the full-batch pairs and the signature
    store holds one row per document."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import minhash_dedup_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    for pdf, fname, mtime_off in (
        (docs.filter(F.col("doc_id") <= median).toPandas(), "f1.parquet", 0),
        (docs.filter(F.col("doc_id") > median).toPandas(), "f2.parquet", 5),
    ):
        path = str(tmp_path / "in" / fname)
        pdf.to_parquet(path)
        t = time.time() + mtime_off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = minhash_dedup_job(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    cols = ["doc_id_a", "doc_id_b", "est_jaccard"]
    got = {tuple(r[c] for c in cols) for r in pairs.collect()}
    batch = {
        tuple(r)
        for r in plans.query_map()["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert got == batch
    # per-batch partition dirs: the idempotent-replay unit
    assert sorted(
        r["batch_id"] for r in pairs.select("batch_id").distinct().collect()
    ) == [0, 1]
    assert spark.read.parquet(str(tmp_path / "store")).count() == docs.count()


def test_minhash_dedup_job_heals_half_swapped_store(spark, sf_dir, tmp_path):
    """A crash between the signature upsert's two renames leaves the
    store only under ``._old``. The resumed stream must heal it BEFORE
    deduping the next batch against it: deduping against "no store"
    silently drops every pair whose earlier doc landed before the
    crash, and the upsert then restores the store, hiding the loss."""
    import time

    from gmall_flink_parent_spark.streaming.jobs import minhash_dedup_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    store = str(tmp_path / "store")

    def run_with(fname, half, mtime_off):
        path = str(tmp_path / "in" / fname)
        half.toPandas().to_parquet(path)
        t = time.time() + mtime_off
        os.utime(path, (t, t))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in"))
        )
        q = minhash_dedup_job(stream, store, str(tmp_path / "pairs"), str(tmp_path / "ck"))
        assert q.awaitTermination(180)

    run_with("f1.parquet", docs.filter(F.col("doc_id") <= median), 0)
    # the crash window: the store exists only under ._old, beside the
    # half-written replacement the crash abandoned
    os.rename(store, store + "._old")
    spark.range(1).selectExpr("id AS doc_id").write.parquet(store + "._tmp")
    # resume on the SAME checkpoint: the next file is batch 1
    run_with("f2.parquet", docs.filter(F.col("doc_id") > median), 5)

    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    assert sorted(
        r["batch_id"] for r in pairs.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["doc_id_a", "doc_id_b", "est_jaccard"]
    got = {tuple(r[c] for c in cols) for r in pairs.collect()}
    batch = {
        tuple(r)
        for r in plans.query_map()["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert got == batch, f"{len(batch - got)} of {len(batch)} pairs missing"
    assert spark.read.parquet(store).count() == docs.count()


def test_store_skeleton_lives_only_in_store_module():
    """Every streaming job lands its store through ``streaming/store.py``
    (``batch_store_job`` / ``land_batch`` / ``start_batches``). A job
    that hand-rolls ``foreachBatch`` or the ``batch_id=N`` layout can
    leave out the heal-before-write that the store body carries."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "gmall_flink_parent_spark"
    needles = (".foreachBatch(", "batch_id={")
    found = {
        (p.relative_to(pkg).as_posix(), needle)
        for p in pkg.rglob("*.py")
        for needle in needles
        if needle in p.read_text(encoding="utf-8")
    }
    assert found == {("streaming/store.py", needle) for needle in needles}


def test_ivf_assign_incremental_matches_batch(spark, sf_dir):
    """Frozen-centroid contract: assigning the corpus in arbitrary
    batches equals one batch assignment under the same centroids."""
    from gmall_flink_parent_spark.functions.similarity import (
        ivf_assign_incremental,
        ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(spark, sf_dir).persist()
    try:
        median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
        got = {
            tuple(r)
            for r in ivf_assign_incremental(
                emb.filter(F.col("vec_id") <= median), cents
            ).collect()
        } | {
            tuple(r)
            for r in ivf_assign_incremental(
                emb.filter(F.col("vec_id") > median), cents
            ).collect()
        }
        batch = {tuple(r) for r in ivf_assign_incremental(emb, cents).collect()}
    finally:
        cents.unpersist()
    assert got == batch and len(batch) == emb.count()


def test_ann_index_job_stream(spark, sf_dir, tmp_path):
    """Streaming index ingestion end-to-end: two embedding micro-batches
    against persisted centroids accumulate exactly the batch assignment,
    one batch_id partition each."""
    import os
    import time

    from gmall_flink_parent_spark.functions.similarity import (
        ivf_assign_incremental,
        ivf_centroids,
    )
    from gmall_flink_parent_spark.streaming.jobs import ann_index_job

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivf_centroids(spark, sf_dir).write.parquet(str(tmp_path / "centroids"))
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    for half, fname, off in (
        (emb.filter(F.col("vec_id") <= median), "f1.parquet", 0),
        (emb.filter(F.col("vec_id") > median), "f2.parquet", 5),
    ):
        path = str(tmp_path / "in" / fname)
        half.toPandas().to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = ann_index_job(
        stream,
        str(tmp_path / "centroids"),
        str(tmp_path / "cells"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)
    cells = spark.read.parquet(str(tmp_path / "cells"))
    cols = ["vec_id", "cell", "dist"]
    got = {tuple(r[c] for c in cols) for r in cells.collect()}
    cents = spark.read.parquet(str(tmp_path / "centroids"))
    batch = {tuple(r) for r in ivf_assign_incremental(emb, cents).collect()}
    assert got == batch
    assert sorted(
        r["batch_id"] for r in cells.select("batch_id").distinct().collect()
    ) == [0, 1]


@pytest.mark.parametrize("physical", ["nanos_long", "timestamp_us"])
def test_events_stream_parity_across_fixture_physical_types(
    spark, tmp_path, physical
):
    """Regression: the driver's fixture generator has shipped ``events.ts``
    as BOTH int64-nanos and timestamp[us] over time. A source that
    hardcodes either assumption shifts event time 1000× (1970 vs 2024).
    Write each physical flavor and pin stream ≡ batch on the SAME rows —
    so a future fixture regeneration can't silently break event time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-03-01 12:00:00")
    rows = [
        (i, base + pd.Timedelta(minutes=i), 100 + i % 3, "pv", float(i), "{}")
        for i in range(12)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = tmp_path / physical
    sf.mkdir()
    if physical == "nanos_long":
        pdf2 = pdf.copy()
        pdf2["ts"] = pdf2["ts"].astype("datetime64[ns]").astype("int64")
        pq.write_table(pa.Table.from_pandas(pdf2, preserve_index=False), sf / "events.parquet")
    else:
        pdf2 = pdf.copy()
        pdf2["ts"] = pdf2["ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf2, preserve_index=False), sf / "events.parquet")

    batch = load_table(spark, str(sf), "events")
    out = _run_to_memory(events_stream(spark, str(sf)), spark, f"dtype_{physical}")
    cols = ["event_id", "ts", "user_id"]
    got, want = _rows(out, cols), _rows(batch, cols)
    assert got == want
    # and the absolute values are right — not shifted to 1970
    assert all(ts.year == 2024 for _, ts, _ in got)


def _crash_recovery_harness(spark, tmp_path, df, split_col, schema, run_job, partial_rows):
    """W7 under FAILURE, not just replay: run a batch_id-partitioned
    foreachBatch job on file 1 only (batch 0 commits), then simulate a
    crash that happened mid-way through batch 1 — the sink's
    ``batch_id=1`` partition holds a PARTIAL write but the checkpoint
    never committed the batch. Restart with file 2 present: recovery
    must replay batch 1 and the idempotent overwrite must replace the
    partial partition — no duplicated, no lost rows. Returns the sink
    path for the caller's parity assert."""
    import os
    import time

    median = df.approxQuantile(split_col, [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def land(fname, cond, off):
        path = str(tmp_path / "in" / fname)
        df.filter(cond).toPandas().to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))

    land("f1.parquet", F.col(split_col) <= median, 0)
    run_job(
        spark.readStream.schema(schema).parquet(str(tmp_path / "in")), out, ck
    ).awaitTermination(120)
    # crash leftovers: a partial batch-1 partition the checkpoint knows
    # nothing about (crash after some sink files landed, before commit)
    partial_rows.write.mode("overwrite").parquet(f"{out}/batch_id=1")
    land("f2.parquet", F.col(split_col) > median, 5)
    run_job(
        spark.readStream.schema(schema).parquet(str(tmp_path / "in")), out, ck
    ).awaitTermination(120)
    return out


def test_media_features_job_recovers_from_crash_between_batches(
    spark, sf_dir, tmp_path
):
    """Kill-between-batches recovery for the media ingestion job: the
    replayed batch 1 must REPLACE the partial crash-time partition —
    final feature store equals the batch analog exactly."""
    from gmall_flink_parent_spark.streaming.jobs import media_features_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the partial write: a half-decoded slice with poisoned values — if
    # recovery appends instead of replacing, parity below catches it
    partial = spark.createDataFrame(
        [(int(-1), "image/bmp", 0, 0, 0)],
        "doc_id long, mime string, n_units long, first_unit long, unit_sum_mod long",
    )
    out = _crash_recovery_harness(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string",
        media_features_job, partial,
    )
    feat = spark.read.parquet(out)
    got = {
        r["doc_id"]: (r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in feat.collect()
    }
    want = {
        r["doc_id"]: (r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in plans.query_map()["multimodal_meta_features"](spark, sf_dir).collect()
    }
    assert got == want  # poisoned doc_id=-1 gone, nothing lost, no dupes
    assert feat.count() == docs.count()
    assert sorted(
        r["batch_id"] for r in feat.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_text_profile_job_recovers_from_crash_between_batches(spark, sf_dir, tmp_path):
    """Kill-between-batches recovery for the text profiling job: the
    replayed batch 1 must replace the partial crash-time partition —
    final profile store equals the batch query exactly."""
    from gmall_flink_parent_spark.functions.text import doc_text_profile_frame
    from gmall_flink_parent_spark.streaming.jobs import text_profile_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    poison = doc_text_profile_frame(
        spark.createDataFrame([(-1, "crash time junk")], "doc_id long, text string")
    )
    out = _crash_recovery_harness(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string",
        text_profile_job, poison,
    )
    feat = spark.read.parquet(out)
    batch = plans.query_map()["doc_text_profile"](spark, sf_dir)
    cols = list(batch.columns)
    got = {tuple(r[c] for c in cols) for r in feat.collect()}
    want = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert got == want  # poisoned doc_id=-1 gone, nothing lost, no dupes
    assert sorted(
        r["batch_id"] for r in feat.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_ann_index_job_recovers_from_crash_between_batches(spark, sf_dir, tmp_path):
    """Kill-between-batches recovery for the IVF index ingestion job:
    replayed batch 1 replaces the partial cell partition — accumulated
    cells equal the one-shot assignment exactly."""
    from gmall_flink_parent_spark.functions.similarity import (
        ivf_assign_incremental,
        ivf_centroids,
    )
    from gmall_flink_parent_spark.streaming.jobs import ann_index_job

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivf_centroids(spark, sf_dir).write.parquet(str(tmp_path / "centroids"))
    partial = spark.createDataFrame(
        [(int(-1), 0, 0.0)], "vec_id long, cell int, dist float"
    )
    out = _crash_recovery_harness(
        spark, tmp_path, emb, "vec_id", "vec_id long, embedding array<float>",
        lambda stream, o, ck: ann_index_job(stream, str(tmp_path / "centroids"), o, ck),
        partial,
    )
    cells = spark.read.parquet(out)
    cols = ["vec_id", "cell", "dist"]
    got = {tuple(r[c] for c in cols) for r in cells.collect()}
    cents = spark.read.parquet(str(tmp_path / "centroids"))
    want = {tuple(r) for r in ivf_assign_incremental(emb, cents).collect()}
    assert got == want  # the poisoned vec_id=-1 partial row must be gone
    assert sorted(
        r["batch_id"] for r in cells.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_chained_layered_pipeline_with_restart(spark, sf_dir, tmp_path):
    """The reference's defining layered topology — ODS→DWD→DWM→DWS as
    one connected pipeline over Kafka topics (``OrderWideApp.java:35-45``,
    topic-per-layer at ``BaseLogTask.java:32-34,47``) — run END TO END
    with file handoff as the Kafka analog, across two micro-batches with
    a RESTART of every stage between them:

        raw events (ODS) → log_split_job (DWD page branch)
          → uv_dedup_stream (DWM) → DAU aggregate + dau_hll_job (DWS)

    The chained streaming output must equal composing the batch queries
    (page filter → uv_dedup → dau) on the same input — both the DWM UV
    rows and the DWS daily-active counts. The input is split at the ts
    median so replayed order respects event time per key (the in-order
    Kafka-replay contract the reference also assumes).

    Between the two rounds, ``compact_partial_store`` folds the DWS
    sketch store against its LIVE checkpoint — the mid-pipeline
    maintenance DEPLOY.md prescribes — and the resumed stream lands its
    next batch beside the reserved base partition with final parity
    unchanged."""
    import os

    from gmall_flink_parent_spark.operators.uv_dedup import (
        dau_hll_estimate,
        uv_dedup_frame,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        dau_by_day_from_store,
        dau_hll_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_partial_store,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    events = load_table(spark, sf_dir, "events")
    m = events.selectExpr("percentile_approx(unix_micros(ts), 0.5) AS m").collect()[0]["m"]
    ods = tmp_path / "ods"
    ods.mkdir()

    def land(fname, cond):
        pdf = events.filter(cond).toPandas()
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(str(ods / fname))

    def run_stage1():
        q = log_split_job(
            spark.readStream.schema(schema).parquet(str(ods)),
            str(tmp_path / "dwd"),
            str(tmp_path / "ck1"),
        )
        q.awaitTermination(120)

    def run_stage2():
        page_stream = spark.readStream.schema(schema).parquet(
            str(tmp_path / "dwd" / "dwd_page_log")
        )
        q = (
            stateful.uv_dedup_stream(page_stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "dwm_uv"))
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    dws_store = str(tmp_path / "dws_store")

    def run_stage3():
        uvs = spark.readStream.schema(
            "user_id long, visit_ymd string, first_event_id long, "
            "first_ts timestamp"
        ).parquet(str(tmp_path / "dwm_uv"))
        q = dau_hll_job(
            uvs.select(F.col("first_ts").alias("ts"), "user_id"),
            dws_store,
            str(tmp_path / "ck3"),
        )
        q.awaitTermination(120)

    # --- micro-batch 1: first half of the stream flows down the chain
    land("f1.parquet", F.unix_micros("ts") <= m)
    run_stage1()
    run_stage2()
    run_stage3()
    # --- mid-pipeline maintenance: fold the DWS store against its LIVE
    # checkpoint between rounds; the committed batch moves into the
    # reserved base partition the resumed stream can never overwrite
    compact_partial_store(spark, dws_store, ["ymd"], str(tmp_path / "ck3" / "dau_hll"))
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(dws_store).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]
    # --- RESTART: second half arrives, every stage resumes from its
    # checkpoint (keyed UV state included) and processes only the delta
    land("f2.parquet", F.unix_micros("ts") > m)
    run_stage1()
    run_stage2()
    run_stage3()

    # both stages really ran ≥2 committed micro-batches across the restart
    assert len(os.listdir(tmp_path / "ck1" / "log_split" / "commits")) >= 2
    assert len(os.listdir(tmp_path / "ck2" / "commits")) >= 2

    # DWM parity: chained streaming UV rows == batch composition
    page_batch = events.filter(F.col("event_type").isin("view", "click"))
    uv_batch = uv_dedup_frame(page_batch)
    uv_stream = spark.read.parquet(str(tmp_path / "dwm_uv"))
    cols = ["user_id", "visit_ymd", "first_event_id", "first_ts"]
    assert _rows(uv_stream, cols) == _rows(uv_batch, cols)

    # DWS parity: DAU over the chained stream == DAU over the composition
    dau_cols = ["visit_ymd", "dau"]
    dau_stream = uv_stream.groupBy("visit_ymd").agg(
        F.countDistinct("user_id").alias("dau")
    )
    dau_batch = uv_batch.groupBy("visit_ymd").agg(
        F.countDistinct("user_id").alias("dau")
    )
    got, want = _rows(dau_stream, dau_cols), _rows(dau_batch, dau_cols)
    assert got == want and len(want) > 0

    # DWS sketch-store parity, base partition included: the folded base
    # (round-1 batch) plus the post-compaction batch must estimate
    # exactly what a one-shot sketch over the composed batch UV rows
    # gives — fold-then-resume changed nothing
    store_ids = sorted(
        r["batch_id"]
        for r in spark.read.parquet(dws_store).select("batch_id").distinct().collect()
    )
    assert store_ids[0] == COMPACT_BASE_ID and len(store_ids) == 2
    hll_cols = ["ymd", "approx_dau"]
    hll_got = _rows(dau_by_day_from_store(spark, dws_store), hll_cols)
    hll_want = _rows(
        dau_hll_estimate(uv_batch.select(F.col("first_ts").alias("ts"), "user_id")),
        hll_cols,
    )
    assert hll_got == hll_want and len(hll_want) > 0


def test_text_profile_job_matches_batch(spark, sf_dir, tmp_path):
    """Streaming text profiling over two micro-batches: the feature
    store accumulates exactly the batch ``doc_text_profile`` rows (all
    12 profile columns, simhash included), one batch_id partition
    each."""
    from gmall_flink_parent_spark.streaming.jobs import text_profile_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    q = text_profile_job(stream, str(tmp_path / "feat"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    feat = spark.read.parquet(str(tmp_path / "feat"))
    batch = plans.query_map()["doc_text_profile"](spark, sf_dir)
    cols = [c for c in batch.columns]
    got = {tuple(r[c] for c in cols) for r in feat.collect()}
    want = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert got == want and len(want) > 0
    assert sorted(
        r["batch_id"] for r in feat.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_media_features_job_matches_batch(spark, sf_dir, tmp_path):
    """Streaming media ingestion over two micro-batches: the decoded
    feature store accumulates exactly the batch query's features (all
    four mimes' real decode kernels running inside foreachBatch), with
    per-batch_id partitions as the idempotent-replay unit."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import media_features_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    for pdf, fname, mtime_off in (
        (docs.filter(F.col("doc_id") <= median).toPandas(), "f1.parquet", 0),
        (docs.filter(F.col("doc_id") > median).toPandas(), "f2.parquet", 5),
    ):
        path = str(tmp_path / "in" / fname)
        pdf.to_parquet(path)
        t = time.time() + mtime_off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = media_features_job(stream, str(tmp_path / "feat"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    feat = spark.read.parquet(str(tmp_path / "feat"))
    got = {
        r["doc_id"]: (r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in feat.collect()
    }
    want = {
        r["doc_id"]: (r["n_units"], r["first_unit"], r["unit_sum_mod"])
        for r in plans.query_map()["multimodal_meta_features"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert sorted(
        r["batch_id"] for r in feat.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_mixture_job_matches_batch_and_orders_from_store(spark, sf_dir, tmp_path):
    """Mix-at-ingest over two micro-batches: the accumulated mixture
    store holds exactly the rows a one-shot batch mix of the full
    corpus produces (the any-split property, now exercised through the
    real streaming job), and the per-training-run final pass
    (``training_order_from_store``) reproduces the batch
    ``training_order`` stream position-for-position."""
    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        corpus_mix_weighted,
        training_order,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        mixture_job,
        training_order_from_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, source string"
    )
    q = mixture_job(
        stream, str(tmp_path / "mix"), str(tmp_path / "ck"), _MIX_HEAD_WEIGHTS
    )
    q.awaitTermination(120)

    store = spark.read.parquet(str(tmp_path / "mix"))
    got = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in store.select("doc_id", "source", "epoch").collect()
    }
    want = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(docs, _MIX_HEAD_WEIGHTS).collect()
    }
    assert got == want and len(want) > 0
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]

    got_order = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in training_order_from_store(spark, str(tmp_path / "mix"))
        .orderBy("sample_idx")
        .collect()
    ]
    want_order = [
        (r["sample_idx"], r["doc_id"], r["source"], r["epoch"])
        for r in training_order(corpus_mix_weighted(docs, _MIX_HEAD_WEIGHTS))
        .orderBy("sample_idx")
        .collect()
    ]
    assert got_order == want_order


def test_mixture_job_recovers_from_crash_between_batches(spark, sf_dir, tmp_path):
    """Kill-between-batches recovery for the mixing job: the replayed
    batch 1 must replace the partial crash-time partition — the
    accumulated mixture equals the one-shot batch mix exactly."""
    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        corpus_mix_weighted,
    )
    from gmall_flink_parent_spark.streaming.jobs import mixture_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    poison = spark.createDataFrame(
        [(int(-1), "src0", 0)], "doc_id long, source string, epoch int"
    )
    out = _crash_recovery_harness(
        spark, tmp_path, docs, "doc_id", "doc_id long, source string",
        lambda stream, o, ck: mixture_job(stream, o, ck, _MIX_HEAD_WEIGHTS),
        poison,
    )
    store = spark.read.parquet(out)
    got = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in store.select("doc_id", "source", "epoch").collect()
    }
    want = {
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(docs, _MIX_HEAD_WEIGHTS).collect()
    }
    assert got == want  # poisoned doc_id=-1 gone, nothing lost, no dupes


def test_contamination_job_matches_batch(spark, sf_dir, tmp_path):
    """Decontamination-at-ingest over two micro-batches: the
    accumulated per-doc contamination counts equal the one-shot batch
    ``contamination_4gram`` exactly (per-doc counts are independent of
    other training docs, so per-batch probing loses nothing)."""
    from gmall_flink_parent_spark.streaming.jobs import (
        contamination_job,
        write_benchmark_shingles,
    )

    write_benchmark_shingles(spark, sf_dir, str(tmp_path / "bench"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    q = contamination_job(
        stream, str(tmp_path / "bench"), str(tmp_path / "contam"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "contam"))
    got = {(r["doc_id"], r["n_contaminated_ngrams"]) for r in store.collect()}
    want = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in plans.query_map()["contamination_4gram"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]


def test_contamination_job_recovers_from_crash_between_batches(
    spark, sf_dir, tmp_path
):
    """Kill-between-batches recovery for the decontamination job: the
    replayed batch 1 must replace the partial crash-time partition —
    accumulated counts equal the batch query exactly."""
    from gmall_flink_parent_spark.streaming.jobs import (
        contamination_job,
        write_benchmark_shingles,
    )

    write_benchmark_shingles(spark, sf_dir, str(tmp_path / "bench"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    poison = spark.createDataFrame(
        [(int(-1), int(999))], "doc_id long, n_contaminated_ngrams long"
    )
    out = _crash_recovery_harness(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string",
        lambda stream, o, ck: contamination_job(
            stream, str(tmp_path / "bench"), o, ck
        ),
        poison,
    )
    store = spark.read.parquet(out)
    got = {(r["doc_id"], r["n_contaminated_ngrams"]) for r in store.collect()}
    want = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in plans.query_map()["contamination_4gram"](spark, sf_dir).collect()
    }
    assert got == want  # poisoned doc_id=-1 gone, nothing lost, no dupes


def test_centroid_refresh_job_matches_library_chain(spark, sf_dir, tmp_path):
    """Online centroid maintenance over two micro-batches must equal
    applying the SAME library update (`minibatch_centroid_update`) to
    the same halves in the same order — verifying the streaming
    machinery (fencing column, swap rewrite, checkpoint) around the
    shared math, and pinning exact running-mean counts."""
    from gmall_flink_parent_spark.functions.similarity import (
        minibatch_centroid_update,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        write_initial_centroid_store,
    )

    write_initial_centroid_store(spark, sf_dir, str(tmp_path / "cents"))
    # materialize the seed NOW: the job's swap rewrite replaces the
    # store files this lazy read would otherwise reference afterwards
    init_df = spark.read.parquet(str(tmp_path / "cents")).select(
        "cell", "centroid", "n_total"
    )
    init = spark.createDataFrame(init_df.collect(), init_df.schema)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]

    stream = _two_file_stream(
        spark, tmp_path, emb, "vec_id", "vec_id long, embedding array<float>"
    )
    q = centroid_refresh_job(stream, str(tmp_path / "cents"), str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"], r["last_batch"])
        for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    }
    s1 = minibatch_centroid_update(init, emb.filter(F.col("vec_id") <= median))
    s2 = minibatch_centroid_update(s1, emb.filter(F.col("vec_id") > median))
    want = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"])
        for r in s2.collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for cell in want:
        assert got[cell][0] == want[cell][0], cell  # float-exact centroids
        assert got[cell][1] == want[cell][1], cell  # exact running counts
        assert got[cell][2] == 1  # both batches applied
    n_stream = emb.count()
    n_initial = sum(r["n_total"] for r in init.collect())
    assert sum(v[1] for v in got.values()) == n_initial + n_stream


def test_centroid_refresh_job_replay_is_fenced(spark, sf_dir, tmp_path):
    """Exactly-once for the stateful store across the real crash
    window: store update applied, crash before the checkpoint commit —
    on restart the SAME instance replays that batch id, and the
    (run_id, last_batch) fence must no-op it. Simulated from the store
    side (editing Spark's commit log trips its concurrent-modification
    guard): after batch 0 commits, the store is advanced to claim
    batch 1 already applied under the live instance id; when file 2
    then arrives as batch 1, the fence must skip it — the store stays
    byte-identical rather than double-counting."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        upsert_parquet,
        write_initial_centroid_store,
    )

    write_initial_centroid_store(spark, sf_dir, str(tmp_path / "cents"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    emb.filter(F.col("vec_id") <= median).toPandas().to_parquet(
        str(tmp_path / "in" / "f1.parquet")
    )

    def run():
        return centroid_refresh_job(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in")),
            str(tmp_path / "cents"),
            str(tmp_path / "ck"),
        )

    run().awaitTermination(120)  # batch 0 applied + committed

    # "batch 1's update already hit the store, its commit was lost":
    # stamp last_batch=1 under the LIVE instance id
    store = spark.read.parquet(str(tmp_path / "cents"))
    bumped = spark.createDataFrame(
        store.withColumn("last_batch", F.lit(1).cast("long")).collect(),
        store.schema,
    )
    upsert_parquet(spark, bumped, str(tmp_path / "cents"), "cell")
    before = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"], r["last_batch"])
        for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    }

    emb.filter(F.col("vec_id") > median).toPandas().to_parquet(
        str(tmp_path / "in" / "f2.parquet")
    )
    t = time.time() + 5
    os.utime(str(tmp_path / "in" / "f2.parquet"), (t, t))
    run().awaitTermination(120)  # file 2 = batch 1 → fenced no-op

    after = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"], r["last_batch"])
        for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    }
    assert after == before


def test_centroid_refresh_job_heals_half_swap_before_fencing(
    spark, sf_dir, tmp_path
):
    """The swap's worst crash point (between the two renames: the table
    lives only under ``._old``, the merged-but-uncommitted result under
    ``._tmp``) with the checkpoint intact: the NEXT batch must first
    HEAL the store (restore ``._old``, discard ``._tmp``), then apply
    normally — ending exactly where an uninterrupted run would, instead
    of failing forever on the missing store path."""
    import os
    import shutil
    import time

    from gmall_flink_parent_spark.functions.similarity import (
        minibatch_centroid_update,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        write_initial_centroid_store,
    )

    write_initial_centroid_store(spark, sf_dir, str(tmp_path / "cents"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    median = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    emb.filter(F.col("vec_id") <= median).toPandas().to_parquet(
        str(tmp_path / "in" / "f1.parquet")
    )

    def run():
        return centroid_refresh_job(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in")),
            str(tmp_path / "cents"),
            str(tmp_path / "ck"),
        )

    run().awaitTermination(120)  # batch 0 applied + committed → S0
    s0_df = spark.read.parquet(str(tmp_path / "cents")).select(
        "cell", "centroid", "n_total"
    )
    s0 = spark.createDataFrame(s0_df.collect(), s0_df.schema)

    # crash state between the two renames of some in-flight update:
    # dest missing, ._old = committed table, ._tmp = uncommitted merge
    shutil.copytree(str(tmp_path / "cents"), str(tmp_path / "cents") + "._tmp")
    os.rename(str(tmp_path / "cents"), str(tmp_path / "cents") + "._old")

    emb.filter(F.col("vec_id") > median).toPandas().to_parquet(
        str(tmp_path / "in" / "f2.parquet")
    )
    t = time.time() + 5
    os.utime(str(tmp_path / "in" / "f2.parquet"), (t, t))
    run().awaitTermination(120)  # batch 1: heal → apply

    got = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"])
        for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    }
    want = {
        r["cell"]: (tuple(r["centroid"]), r["n_total"])
        for r in minibatch_centroid_update(
            s0, emb.filter(F.col("vec_id") > median)
        ).collect()
    }
    assert got == want
    assert not os.path.exists(str(tmp_path / "cents") + "._old")
    assert not os.path.exists(str(tmp_path / "cents") + "._tmp")


def test_centroid_refresh_job_new_run_applies_despite_overlapping_ids(
    spark, sf_dir, tmp_path
):
    """Batch ids are checkpoint-scoped: a NEW stream instance (fresh
    checkpoint + genuinely new embeddings) numbers its batches from 0
    again. The run-scoped fence must let those batches APPLY — a bare
    batch-id fence would silently drop them all."""
    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        write_initial_centroid_store,
    )

    write_initial_centroid_store(spark, sf_dir, str(tmp_path / "cents"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stream = _two_file_stream(
        spark, tmp_path, emb, "vec_id", "vec_id long, embedding array<float>"
    )
    centroid_refresh_job(
        stream, str(tmp_path / "cents"), str(tmp_path / "ck1")
    ).awaitTermination(120)
    n_after_run1 = sum(
        r["n_total"] for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    )

    # a second instance: new input dir, new checkpoint — ids restart at 0,
    # which the store's last_batch (=1) would wrongly fence without run_id
    new_emb = emb.limit(50).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    (tmp_path / "in2").mkdir()
    new_emb.toPandas().to_parquet(str(tmp_path / "in2" / "f3.parquet"))
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in2"))
    )
    centroid_refresh_job(
        stream2, str(tmp_path / "cents"), str(tmp_path / "ck2")
    ).awaitTermination(120)
    n_after_run2 = sum(
        r["n_total"] for r in spark.read.parquet(str(tmp_path / "cents")).collect()
    )
    assert n_after_run2 == n_after_run1 + 50


def test_shingle_store_serves_boilerplate_and_contamination(spark, sf_dir, tmp_path):
    """One shingle store, two heads: documents shingled ONCE at ingest
    (two micro-batches) must serve both the boilerplate verdict and the
    decontamination counts hash-equal to their one-shot batch queries —
    neither head ever re-scans text."""
    from gmall_flink_parent_spark.streaming.jobs import (
        boilerplate_fraction_from_store,
        contamination_from_store,
        shingle_store_job,
        write_benchmark_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    q = shingle_store_job(stream, str(tmp_path / "sh"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "sh"))
        .select("batch_id")
        .distinct()
        .collect()
    ) == [0, 1]

    got_b = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"], r["boilerplate_frac"])
        for r in boilerplate_fraction_from_store(
            spark, str(tmp_path / "sh")
        ).collect()
    }
    want_b = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"], r["boilerplate_frac"])
        for r in plans.query_map()["doc_boilerplate_fraction"](
            spark, sf_dir
        ).collect()
    }
    assert got_b == want_b and len(want_b) > 0

    write_benchmark_shingles(spark, sf_dir, str(tmp_path / "bench"))
    got_c = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in contamination_from_store(
            spark, str(tmp_path / "sh"), str(tmp_path / "bench")
        ).collect()
    }
    want_c = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in plans.query_map()["contamination_4gram"](spark, sf_dir).collect()
    }
    assert got_c == want_c and len(want_c) > 0


def test_shingle_store_job_recovers_from_crash_between_batches(
    spark, sf_dir, tmp_path
):
    """Kill-between-batches recovery for the shingle store: the
    replayed batch 1 must replace the partial crash-time partition —
    the boilerplate head over the healed store equals the batch query."""
    from gmall_flink_parent_spark.streaming.jobs import (
        boilerplate_fraction_from_store,
        shingle_store_job,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    poison = spark.createDataFrame(
        [(int(-1), "crash junk gram")], "doc_id long, g string"
    )
    out = _crash_recovery_harness(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string",
        shingle_store_job, poison,
    )
    got = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"])
        for r in boilerplate_fraction_from_store(spark, out).collect()
    }
    want = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"])
        for r in plans.query_map()["doc_boilerplate_fraction"](
            spark, sf_dir
        ).collect()
    }
    assert got == want  # poisoned doc_id=-1 gone, nothing lost, no dupes


def test_reindex_index_store_follows_centroid_drift(spark, sf_dir, tmp_path):
    """After centroid refresh moved the quantizer, reassignment must
    rebuild the index store to exactly the fresh-assignment result —
    replacing stale cells AND dropping vectors no longer in the corpus
    (full-rebuild semantics), with no swap leftovers."""
    import os

    from gmall_flink_parent_spark.functions.similarity import (
        ivf_assign_incremental,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        reindex_index_store,
        write_initial_centroid_store,
    )

    write_initial_centroid_store(spark, sf_dir, str(tmp_path / "cents"))
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init_cents = spark.read.parquet(str(tmp_path / "cents")).select(
        "cell", "centroid"
    )
    # the pre-drift index, including a vector later removed from the corpus
    stale_cents = spark.createDataFrame(
        init_cents.collect(), init_cents.schema
    )
    # seed the index the way ann_index_job lays it out: batch_id dirs
    ivf_assign_incremental(emb, stale_cents).write.parquet(
        str(tmp_path / "index" / "batch_id=0")
    )

    # drift the quantizer with a refresh batch
    (tmp_path / "in").mkdir()
    emb.toPandas().to_parquet(str(tmp_path / "in" / "f1.parquet"))
    centroid_refresh_job(
        spark.readStream.schema("vec_id long, embedding array<float>").parquet(
            str(tmp_path / "in")
        ),
        str(tmp_path / "cents"),
        str(tmp_path / "ck"),
    ).awaitTermination(120)

    kept = emb.filter(F.col("vec_id") % 7 != 0)  # some vectors deleted
    reindex_index_store(
        spark, kept, str(tmp_path / "cents"), str(tmp_path / "index")
    )

    idx = spark.read.parquet(str(tmp_path / "index"))
    got = {
        (r["vec_id"], r["cell"], r["dist"]) for r in idx.collect()
    }
    fresh_cents = spark.read.parquet(str(tmp_path / "cents")).select(
        "cell", "centroid"
    )
    want = {
        (r["vec_id"], r["cell"], r["dist"])
        for r in ivf_assign_incremental(kept, fresh_cents).collect()
    }
    assert got == want and len(got) == kept.count()
    # layout preserved: everything in the reserved base partition, and a
    # later ingest batch can land beside it without breaking discovery
    assert [
        r["batch_id"] for r in idx.select("batch_id").distinct().collect()
    ] == [-1]
    ivf_assign_incremental(emb.limit(3), fresh_cents).write.parquet(
        str(tmp_path / "index" / "batch_id=1")
    )
    after_ingest = spark.read.parquet(str(tmp_path / "index"))
    assert after_ingest.count() == kept.count() + 3
    assert not os.path.exists(str(tmp_path / "index") + "._old")
    assert not os.path.exists(str(tmp_path / "index") + "._tmp")


def test_curation_ingest_job_matches_each_batch_query(spark, sf_dir, tmp_path):
    """The combined one-scan ingest pass must land all five stores
    (profile, shingles, mixture, vocab, DSIR grams) exactly equal to
    their one-shot batch analogs — composing the jobs without paying
    the text scan once per store."""
    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        corpus_mix_weighted,
        doc_term_counts,
    )
    from gmall_flink_parent_spark.functions.selection import hashed_gram_frame
    from gmall_flink_parent_spark.streaming.jobs import curation_ingest_job

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id",
        "doc_id long, text string, source string, lang string",
    )
    q = curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        _MIX_HEAD_WEIGHTS,
        vocab_path=str(tmp_path / "tf"),
        dsir_path=str(tmp_path / "grams"),
    )
    q.awaitTermination(120)

    grams = spark.read.parquet(str(tmp_path / "grams"))
    assert {
        (r["doc_id"], r["is_target"], r["bucket"], r["tf"])
        for r in grams.select("doc_id", "is_target", "bucket", "tf").collect()
    } == {
        (r["doc_id"], r["is_target"], r["bucket"], r["tf"])
        for r in hashed_gram_frame(
            docs.select("doc_id", "text", "lang")
        ).collect()
    }

    tf = spark.read.parquet(str(tmp_path / "tf"))
    assert {
        (r["doc_id"], r["tok"], r["tf"])
        for r in tf.select("doc_id", "tok", "tf").collect()
    } == {
        (r["doc_id"], r["tok"], r["tf"])
        for r in doc_term_counts(docs.select("doc_id", "text")).collect()
    }

    prof = spark.read.parquet(str(tmp_path / "prof"))
    batch_prof = plans.query_map()["doc_text_profile"](spark, sf_dir)
    cols = list(batch_prof.columns)
    assert {tuple(r[c] for c in cols) for r in prof.collect()} == {
        tuple(r[c] for c in cols) for r in batch_prof.collect()
    }

    sh = spark.read.parquet(str(tmp_path / "sh"))
    from gmall_flink_parent_spark.functions.curation import (
        contamination_shingles,
    )

    assert {(r["doc_id"], r["g"]) for r in sh.select("doc_id", "g").collect()} == {
        (r["doc_id"], r["g"])
        for r in contamination_shingles(docs.select("doc_id", "text")).collect()
    }

    mix = spark.read.parquet(str(tmp_path / "mix"))
    assert {
        (r["doc_id"], r["source"], r["epoch"])
        for r in mix.select("doc_id", "source", "epoch").collect()
    } == {
        (r["doc_id"], r["source"], r["epoch"])
        for r in corpus_mix_weighted(
            docs.select("doc_id", "source"), _MIX_HEAD_WEIGHTS
        ).collect()
    }
    for store in (prof, sh, mix, tf, grams):
        assert sorted(
            r["batch_id"] for r in store.select("batch_id").distinct().collect()
        ) == [0, 1]


def test_shingle_store_compaction_mid_ingest_preserves_heads(
    spark, sf_dir, tmp_path
):
    """`compact_fact_store` between ingest rounds: the committed batch
    folds into the reserved batch_id=-1 base, a landed-but-UNCOMMITTED
    partial partition survives for the replay to overwrite, and after
    the replay + a second compaction both store heads (boilerplate,
    decontamination) stay hash-equal to their one-shot batch queries —
    compaction moves rows, never loses/duplicates/resurrects them."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        boilerplate_fraction_from_store,
        contamination_from_store,
        shingle_store_job,
        write_benchmark_shingles,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    out, ck = str(tmp_path / "sh"), str(tmp_path / "ck")
    ck_loc = f"{ck}/shingle_store"  # the job's checkpoint subdir

    def land(fname, cond, off):
        path = str(tmp_path / "in" / fname)
        docs.filter(cond).toPandas().to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))

    def run():
        return shingle_store_job(
            spark.readStream.schema("doc_id long, text string").parquet(
                str(tmp_path / "in")
            ),
            out,
            ck,
        ).awaitTermination(120)

    land("f1.parquet", F.col("doc_id") <= median, 0)
    run()  # batch 0 commits
    # crash mid batch 1: a partial partition the checkpoint never committed
    spark.createDataFrame(
        [(int(-1), "crash junk gram")], "doc_id long, g string"
    ).write.mode("overwrite").parquet(f"{out}/batch_id=1")

    # compaction folds ONLY committed batches: 0 → base; partial 1 stays
    assert compact_fact_store(spark, out, ck_loc) == COMPACT_BASE_ID
    ids = sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    )
    assert ids == [COMPACT_BASE_ID, 1]

    land("f2.parquet", F.col("doc_id") > median, 5)
    run()  # replays batch 1 (overwriting the partial), commits batch 1
    # everything committed now: second compaction leaves one base partition
    compact_fact_store(spark, out, ck_loc)
    ids = sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    )
    assert ids == [COMPACT_BASE_ID]
    # nothing new to fold → documented no-op
    assert compact_fact_store(spark, out, ck_loc) == COMPACT_BASE_ID

    got_b = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"], r["boilerplate_frac"])
        for r in boilerplate_fraction_from_store(spark, out).collect()
    }
    want_b = {
        (r["doc_id"], r["n_grams"], r["n_boilerplate"], r["boilerplate_frac"])
        for r in plans.query_map()["doc_boilerplate_fraction"](
            spark, sf_dir
        ).collect()
    }
    assert got_b == want_b and len(want_b) > 0  # poisoned -1 gone

    write_benchmark_shingles(spark, sf_dir, str(tmp_path / "bench"))
    got_c = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in contamination_from_store(
            spark, out, str(tmp_path / "bench")
        ).collect()
    }
    want_c = {
        (r["doc_id"], r["n_contaminated_ngrams"])
        for r in plans.query_map()["contamination_4gram"](spark, sf_dir).collect()
    }
    assert got_c == want_c and len(want_c) > 0


def test_mixture_chain_end_to_end_under_restart_and_compaction(
    spark, sf_dir, tmp_path
):
    """The full LLM-surface chain as one composed proof: verdict-kept
    docs stream through `curation_ingest_job` across TWO separate runs
    (a real restart on one checkpoint), with a `compact_fact_store`
    pass on the mixture store between them; then
    `training_order_from_store` → token join → `pack_sequences` →
    `write_training_shards` → `read_training_slice`. The final sharded
    slice must be row-identical to the one-shot registered
    `packed_training_stream` over the same corpus — ingest-time mixing
    + restart + compaction change NOTHING about what the loader reads."""
    import os
    import time

    from gmall_flink_parent_spark.functions.curation import (
        _MIX_HEAD_WEIGHTS,
        _PIPE_HEAD_SEED,
        pack_sequences,
        read_training_slice,
        write_training_shards,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        curation_ingest_job,
        training_order_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    # the chain's input: canonical keepers of the curation verdict (the
    # same frame the one-shot head semi-joins against)
    kept = (
        plans.query_map()["corpus_filter_pipeline"](spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "source")
        .join(kept, "doc_id", "left_semi")
    )
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    (tmp_path / "in").mkdir()
    prof, sh, mix = (str(tmp_path / d) for d in ("prof", "sh", "mix"))
    ck = str(tmp_path / "ck")

    def land(fname, cond, off):
        path = str(tmp_path / "in" / fname)
        docs.filter(cond).toPandas().to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))

    def run():
        return curation_ingest_job(
            spark.readStream.schema(
                "doc_id long, text string, source string"
            ).parquet(str(tmp_path / "in")),
            prof,
            sh,
            mix,
            ck,
            weights=_MIX_HEAD_WEIGHTS,
            mix_seed=f"{_PIPE_HEAD_SEED}:mix",
        ).awaitTermination(120)

    land("f1.parquet", F.col("doc_id") <= median, 0)
    run()  # round 1: batch 0 commits, stream terminates (availableNow)
    # maintenance between ingest rounds: fold the mixture store's batch
    # partitions into the base
    compact_fact_store(spark, mix, f"{ck}/curation_ingest")
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(mix).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]
    land("f2.parquet", F.col("doc_id") > median, 5)
    run()  # round 2: a fresh start() on the same checkpoint — the restart

    # per-training-run tail of the chain over the accumulated store
    ordered = training_order_from_store(spark, mix, seed=f"{_PIPE_HEAD_SEED}:order")
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(ordered.join(toks, "doc_id"))
    shards = str(tmp_path / "shards")
    write_training_shards(packed, shards, block=64)

    want_all = plans.query_map()["packed_training_stream"](spark, sf_dir)
    cols = ["sample_idx", "doc_id", "source", "epoch", "n_tokens", "seq_id", "seq_offset"]
    n = want_all.count()
    assert n > 4  # the slice below must be non-trivial
    lo, hi = n // 4, 3 * n // 4
    got = {
        tuple(r[c] for c in cols)
        for r in read_training_slice(spark, shards, lo, hi).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in want_all.filter(
            (F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi)
        ).collect()
    }
    assert got == want and len(want) == hi - lo


def test_vocab_store_serves_unigram_logprob(spark, sf_dir, tmp_path):
    """Count terms ONCE at ingest (two micro-batches), compact, then
    derive the corpus unigram distribution per run: the store head must
    be hash-equal to the one-shot `doc_unigram_logprob` — the
    perplexity-proxy signal joins the run-once-at-ingest family with
    zero text re-scans."""
    from gmall_flink_parent_spark.streaming.jobs import (
        doc_unigram_logprob_from_store,
        vocab_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "tf"), str(tmp_path / "ck")
    vocab_store_job(stream, out, ck).awaitTermination(120)
    # the fact-store compaction applies here too: fold both committed
    # batches into the base before the head reads the store
    compact_fact_store(spark, out, f"{ck}/vocab_store")
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]

    got = {
        (r["doc_id"], r["n_tokens"], r["bits_per_token"])
        for r in doc_unigram_logprob_from_store(spark, out).collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["bits_per_token"])
        for r in plans.query_map()["doc_unigram_logprob"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_dsir_store_serves_importance_weights(spark, sf_dir, tmp_path):
    """Hash grams ONCE at ingest (two micro-batches), compact, then
    derive the likelihood-ratio model per run: the store head must be
    hash-equal to the one-shot `dsir_importance_weights` — importance
    resampling joins the run-once-at-ingest family with zero text
    re-scans."""
    from gmall_flink_parent_spark.streaming.jobs import (
        dsir_store_job,
        dsir_weights_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, lang string"
    )
    out, ck = str(tmp_path / "grams"), str(tmp_path / "ck")
    dsir_store_job(stream, out, ck).awaitTermination(120)
    compact_fact_store(spark, out, f"{ck}/dsir_store")
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]

    got = {
        (r["doc_id"], r["n_grams"], r["dsir_logw"], r["dsir_keep"])
        for r in dsir_weights_from_store(spark, out).collect()
    }
    want = {
        (r["doc_id"], r["n_grams"], r["dsir_logw"], r["dsir_keep"])
        for r in plans.query_map()["dsir_importance_weights"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_media_fingerprint_store_serves_ahash_near_dup(spark, sf_dir, tmp_path):
    """Decode pixels ONCE at ingest (two micro-batches), compact, then
    run the perceptual near-dup join on stored hashes: the store head
    must be hash-equal to the one-shot `image_ahash_near_dup` — no
    image re-decoded per run."""
    from gmall_flink_parent_spark.streaming.jobs import (
        ahash_near_dup_from_store,
        media_fingerprint_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "fp"), str(tmp_path / "ck")
    media_fingerprint_job(stream, out, ck).awaitTermination(120)
    compact_fact_store(spark, out, f"{ck}/media_fingerprint")
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]

    got = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in ahash_near_dup_from_store(spark, out).collect()
    }
    want = {
        (r["doc_id_a"], r["doc_id_b"], r["hamming"])
        for r in plans.query_map()["image_ahash_near_dup"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_centroid_refresh_fences_interleaved_instances(spark, sf_dir, tmp_path):
    """The crash interleaving a single latest stamp cannot fence:
    instance A applies its batch, loses the checkpoint commit, and a
    NEWER instance B touches the store before A restarts. A's replay
    then sees a store last-stamped by B — the per-run `_fence` sidecar
    row (A, high-water) must still no-op it, conserving n_total
    exactly (no double-counted vectors)."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        centroid_refresh_job,
        write_initial_centroid_store,
    )

    cents = str(tmp_path / "cents")
    write_initial_centroid_store(spark, sf_dir, cents)
    n_seed = sum(
        r["n_total"] for r in spark.read.parquet(cents).collect()
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def land(sub, df):
        (tmp_path / sub).mkdir(exist_ok=True)
        p = str(tmp_path / sub / "f.parquet")
        df.toPandas().to_parquet(p)
        t = time.time()
        os.utime(p, (t, t))

    def run(sub, ck, rid):
        return centroid_refresh_job(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .parquet(str(tmp_path / sub)),
            cents,
            str(tmp_path / ck),
            run_id=rid,
        ).awaitTermination(120)

    a_in = emb.limit(60)
    land("inA", a_in)
    run("inA", "ckA", "run-A")  # A: batch 0 applied + committed

    b_in = emb.limit(40).withColumn("vec_id", F.col("vec_id") + 5_000_000)
    land("inB", b_in)
    run("inB", "ckB", "run-B")  # B: a newer instance touches the store

    # simulate A's lost commit: drop its commit record (and Hadoop's
    # checksum twin — a stale .crc blocks the recommit rename) so a
    # restart replays batch 0 against a store last-stamped by run-B
    commits = tmp_path / "ckA" / "centroid_refresh" / "commits"
    for f in ("0", ".0.crc"):
        if (commits / f).exists():
            os.remove(str(commits / f))
    run("inA", "ckA", "run-A")  # replay — must be fenced

    n_after = sum(r["n_total"] for r in spark.read.parquet(cents).collect())
    assert n_after == n_seed + 60 + 40  # A's 60 counted once, not twice
    fence = {
        r["run_id"]: r["last_batch"]
        for r in spark.read.parquet(f"{cents}/_fence").collect()
    }
    assert fence == {"run-A": 0, "run-B": 0}


def test_winnow_store_serves_near_dup_head_across_compaction(
    spark, sf_dir, tmp_path
):
    """Winnowing fingerprints computed ONCE at ingest (two micro-batches)
    must serve the near-dup posting-list head hash-equal to the one-shot
    batch query — before AND after a `compact_fact_store` pass folds the
    per-batch partitions into the batch_id=-1 base (the head never
    re-scans text, and compaction moves rows without changing any pair)."""
    from gmall_flink_parent_spark.streaming.jobs import (
        winnow_near_dup_from_store,
        winnow_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "win"), str(tmp_path / "ck")
    winnow_store_job(stream, out, ck).awaitTermination(120)
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [0, 1]

    def pairs(df):
        return {
            (r["doc_a"], r["doc_b"], r["n_shared"], r["fp_overlap"])
            for r in df.collect()
        }

    want = pairs(plans.query_map()["winnow_near_dup"](spark, sf_dir))
    assert len(want) > 0
    assert pairs(winnow_near_dup_from_store(spark, out)) == want

    # fold both committed batches into the base; the head is unchanged
    assert (
        compact_fact_store(spark, out, f"{ck}/winnow_store") == COMPACT_BASE_ID
    )
    ids = sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    )
    assert ids == [COMPACT_BASE_ID]
    assert pairs(winnow_near_dup_from_store(spark, out)) == want


def test_span_store_serves_rewrite_head_across_compaction(
    spark, sf_dir, tmp_path
):
    """Span facts computed ONCE at ingest (two micro-batches) must serve
    the repeated-span rewrite head hash-equal to the one-shot batch
    query — before AND after a `compact_fact_store` pass. The cut set
    depends on corpus-wide frequencies, so this also pins the
    store-the-facts / derive-the-verdict split: per-batch span rows
    accumulate, the repeated set is re-derived over the union."""
    from gmall_flink_parent_spark.streaming.jobs import (
        span_dedup_from_store,
        span_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import (
        COMPACT_BASE_ID,
        compact_fact_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "span"), str(tmp_path / "ck")
    span_store_job(stream, out, ck).awaitTermination(120)
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [0, 1]

    def rows(df):
        return {
            (r["doc_id"], r["n_spans"], r["n_removed"], r["kept_text"])
            for r in df.collect()
        }

    want = rows(plans.query_map()["span_dedup_rewrite"](spark, sf_dir))
    assert len(want) > 0 and any(r[2] > 0 for r in want)  # the cut bites
    assert rows(span_dedup_from_store(spark, out)) == want

    # fold both committed batches into the base; the head is unchanged
    assert (
        compact_fact_store(spark, out, f"{ck}/span_store") == COMPACT_BASE_ID
    )
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(out).select("batch_id").distinct().collect()
    ) == [COMPACT_BASE_ID]
    assert rows(span_dedup_from_store(spark, out)) == want


def test_store_head_gates_decide_without_count_action(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The span and boilerplate store heads must pick their broadcast
    gate from parquet FOOTER metadata — constructing either head with
    DataFrame.count forbidden must succeed (no Spark action), the
    footer bound must equal the true row count on a clean store, and
    the footer-gated result must match the batch query."""
    from pyspark.sql import DataFrame

    from gmall_flink_parent_spark.functions.curation import (
        contamination_shingles,
    )
    from gmall_flink_parent_spark.functions.spans import span_frame
    from gmall_flink_parent_spark.streaming.jobs import (
        boilerplate_fraction_from_store,
        span_dedup_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import store_row_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    span_store = str(tmp_path / "span_store")
    span_frame(docs).write.parquet(f"{span_store}/batch_id=0")
    sh_store = str(tmp_path / "sh_store")
    contamination_shingles(docs).write.parquet(f"{sh_store}/batch_id=0")

    # footer bound == true count on a clean store
    assert store_row_count(span_store) == spark.read.parquet(span_store).count()
    assert store_row_count(sh_store) == spark.read.parquet(sh_store).count()
    assert store_row_count(str(tmp_path / "missing")) is None

    def no_count(self, *a, **k):  # any count() during construction fails
        raise AssertionError("store head construction ran a count() action")

    monkeypatch.setattr(DataFrame, "count", no_count)
    span_head = span_dedup_from_store(spark, span_store)
    boiler_head = boilerplate_fraction_from_store(spark, sh_store)
    monkeypatch.undo()

    assert {tuple(r) for r in span_head.collect()} == {
        tuple(r)
        for r in plans.query_map()["span_dedup_rewrite"](spark, sf_dir).collect()
    }
    assert {tuple(r) for r in boiler_head.collect()} == {
        tuple(r)
        for r in plans.query_map()["doc_boilerplate_fraction"](
            spark, sf_dir
        ).collect()
    }


def test_curation_ingest_job_also_lands_winnow_store(spark, sf_dir, tmp_path):
    """The combined ingest pass with `winnow_path` set: the one-scan
    micro-batch also lands winnowing fingerprints, and the near-dup head
    over that store equals the batch query — same contract as the
    dedicated `winnow_store_job`, one fewer corpus scan."""
    from gmall_flink_parent_spark.streaming.jobs import (
        curation_ingest_job,
        winnow_near_dup_from_store,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, source string"
    )
    curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        weights={f"src{i}": 1.0 for i in range(20)},
        winnow_path=str(tmp_path / "win"),
    ).awaitTermination(120)

    got = {
        (r["doc_a"], r["doc_b"], r["n_shared"], r["fp_overlap"])
        for r in winnow_near_dup_from_store(spark, str(tmp_path / "win")).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["n_shared"], r["fp_overlap"])
        for r in plans.query_map()["winnow_near_dup"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_curation_ingest_job_lands_quality_and_chunk_stores(spark, sf_dir, tmp_path):
    """The combined ingest pass with quality_path/chunk_path set: the
    one-scan micro-batch also lands the Gopher repetition verdicts and
    the retrieval chunks, each equal to its one-shot batch query
    (per-doc independence ⇒ accumulation ≡ one-shot)."""
    from gmall_flink_parent_spark.streaming.jobs import curation_ingest_job

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, source string"
    )
    curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        weights={f"src{i}": 1.0 for i in range(20)},
        quality_path=str(tmp_path / "qual"),
        chunk_path=str(tmp_path / "chunk"),
    ).awaitTermination(120)

    qual = spark.read.parquet(str(tmp_path / "qual"))
    batch_q = plans.query_map()["doc_repetition_profile"](spark, sf_dir)
    cols = list(batch_q.columns)
    assert {tuple(r[c] for c in cols) for r in qual.collect()} == {
        tuple(r[c] for c in cols) for r in batch_q.collect()
    }

    chunk = spark.read.parquet(str(tmp_path / "chunk"))
    batch_c = plans.query_map()["doc_chunk_windows"](spark, sf_dir)
    ccols = list(batch_c.columns)
    assert {tuple(r[c] for c in ccols) for r in chunk.collect()} == {
        tuple(r[c] for c in ccols) for r in batch_c.collect()
    }


def test_vocab_store_serves_hash_classifier(spark, sf_dir, tmp_path):
    """The one (doc_id, tok, tf) store's THIRD head: feature-hash
    classifier scoring from the store (two micro-batches + compaction)
    must equal the one-shot batch query on every column but `source`
    (the store keys on terms; source stays with the corpus)."""
    from gmall_flink_parent_spark.streaming.jobs import (
        doc_hash_classifier_from_store,
        vocab_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string"
    )
    out, ck = str(tmp_path / "tf"), str(tmp_path / "ck")
    vocab_store_job(stream, out, ck).awaitTermination(120)
    compact_fact_store(spark, out, f"{ck}/vocab_store")

    got = {
        (r["doc_id"], r["n_tokens"], r["clf_margin"], r["clf_score"], r["clf_keep"])
        for r in doc_hash_classifier_from_store(spark, out).collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["clf_margin"], r["clf_score"], r["clf_keep"])
        for r in plans.query_map()["doc_hash_classifier_score"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0

    # the retrain hook: an EXTERNAL (bucket, w) parquet model scores
    # the same store rows through the same core — no text re-scan, and
    # the re-score must match a fresh batch scoring with that model
    from gmall_flink_parent_spark.functions.quality import (
        _CLF_BUCKETS,
        hash_classifier_frame,
        load_classifier_weights,
    )

    wpath = str(tmp_path / "trained")
    spark.createDataFrame(
        [(b, 90 if b % 2 == 0 else -110) for b in range(_CLF_BUCKETS)],
        "bucket long, w long",
    ).write.parquet(wpath)
    got_ext = {
        tuple(r)
        for r in doc_hash_classifier_from_store(
            spark, out, weights_path=wpath
        ).collect()
    }
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    want_ext = {
        tuple(r)
        for r in hash_classifier_frame(
            tf, ("doc_id",), weights=load_classifier_weights(spark, wpath)
        ).collect()
    }
    assert got_ext == want_ext and got_ext != got


def test_chunk_store_serves_retrieval_heads(spark, sf_dir, tmp_path):
    """The chunk store's retrieval heads: postings stats and BM25
    top-k served from stored chunks (two micro-batches + compaction)
    must equal the one-shot batch queries — the chunking pass runs once
    at ingest, scoring never re-scans text."""
    from gmall_flink_parent_spark.streaming.jobs import (
        chunk_bm25_from_store,
        curation_ingest_job,
        term_postings_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, source string"
    )
    chunk_store = str(tmp_path / "chunk")
    curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        weights={f"src{i}": 1.0 for i in range(20)},
        chunk_path=chunk_store,
    ).awaitTermination(120)
    compact_fact_store(spark, chunk_store, str(tmp_path / "ck" / "chunk"))

    got_p = {tuple(r) for r in term_postings_from_store(spark, chunk_store).collect()}
    want_p = {
        tuple(r)
        for r in plans.query_map()["term_postings_stats"](spark, sf_dir).collect()
    }
    assert got_p == want_p and len(want_p) > 0

    got_b = {tuple(r) for r in chunk_bm25_from_store(spark, chunk_store).collect()}
    want_b = {
        tuple(r) for r in plans.query_map()["chunk_bm25_topk"](spark, sf_dir).collect()
    }
    assert got_b == want_b and len(want_b) > 0


def test_expectations_job_builds_metric_time_series(spark, sf_dir, tmp_path):
    """Ingest-time twin of corpus_expectations: each micro-batch's
    report lands in its own batch_id partition (one row per check), the
    history read returns the per-batch metric series, and a clean
    corpus passes batch-locally. The corpus-wide min(doc_id)==0 check
    is dropped: it pins a CORPUS invariant no second batch can see —
    suites at ingest check batch-local bands."""
    from gmall_flink_parent_spark.functions.expectations import DOCUMENT_CHECKS
    from gmall_flink_parent_spark.streaming.jobs import (
        expectation_history_from_store,
        expectations_job,
    )

    checks = [c for c in DOCUMENT_CHECKS if c.name != "minimum(doc_id)"]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q = expectations_job(stream, checks, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    hist = expectation_history_from_store(spark, str(tmp_path / "store")).collect()
    by_batch = {}
    for r in hist:
        by_batch.setdefault(r["batch_id"], []).append(r)
    assert sorted(by_batch) == [0, 1]
    for bid, rows in by_batch.items():
        assert len(rows) == len(checks)
        assert all(r["status"] == "pass" for r in rows), (bid, rows)
        assert {r["check_name"] for r in rows} == {c.name for c in checks}


def test_expectations_job_strict_gate_aborts_with_evidence(spark, sf_dir, tmp_path):
    """strict=True turns monitoring into admission control: a batch
    with a failing check aborts the stream — but only AFTER its report
    partition lands, so the store holds the evidence of why ingestion
    stopped. Batch 1's text is corrupted to empty; batch 0 passes."""
    import pytest as _pytest

    from gmall_flink_parent_spark.functions.expectations import completeness
    from gmall_flink_parent_spark.streaming.jobs import expectations_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    corrupted = docs.withColumn(
        "text", F.when(F.col("doc_id") <= median, F.col("text")).otherwise(F.lit(""))
    )
    stream = _two_file_stream(
        spark, tmp_path, corrupted, "doc_id", "doc_id long, text string"
    )
    q = expectations_job(
        stream,
        [completeness("text", 0.99)],
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
        strict=True,
    )
    with _pytest.raises(Exception, match="failed admission expectations"):
        q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store")).collect()
    by_batch = {r["batch_id"]: r for r in store}
    assert by_batch[0]["status"] == "pass"
    assert by_batch[1]["status"] == "fail"  # the evidence landed pre-abort


def test_bloom_bits_job_store_matches_batch_head(spark, sf_dir, tmp_path):
    """Benchmark-bloom-at-ingest: bits accumulated over two benchmark
    micro-batches, distinct-unioned at read, must flag the train corpus
    EXACTLY like the one-shot contamination_bloom head — and still
    after compact_fact_store folds the batch partitions."""
    from gmall_flink_parent_spark.streaming.jobs import (
        bloom_bits_job,
        contamination_bloom_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    stream = _two_file_stream(
        spark, tmp_path, bench, "doc_id", "doc_id long, text string"
    )
    store = str(tmp_path / "bits")
    q = bloom_bits_job(stream, store, str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert sorted(
        r["batch_id"]
        for r in spark.read.parquet(store).select("batch_id").distinct().collect()
    ) == [0, 1]

    train = docs.filter(F.col("doc_id") % 97 != 0)
    want = _rows(
        plans.query_map()["contamination_bloom"](spark, sf_dir),
        ["doc_id", "n_bloom_ngrams"],
    )
    got = _rows(
        contamination_bloom_from_store(spark, store, train),
        ["doc_id", "n_bloom_ngrams"],
    )
    assert got == want and len(want) > 0

    compact_fact_store(spark, store, str(tmp_path / "ck" / "bloom_bits"))
    got2 = _rows(
        contamination_bloom_from_store(spark, store, train),
        ["doc_id", "n_bloom_ngrams"],
    )
    assert got2 == want


def test_funnel_stream_matches_batch_head(spark, sf_dir, tmp_path):
    """The k-step positive CEP twin: per-step completion events emitted
    live over two micro-batches must aggregate to exactly the batch
    funnel_conversion user counts (first-completion semantics on both
    sides), and no user may skip a step (a step-k row implies a
    step-(k-1) row at an earlier-or-equal ts)."""
    from gmall_flink_parent_spark.streaming.stateful import funnel_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = funnel_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM funnel_out").collect()
    by_step = {}
    users = {}
    for r in got:
        by_step[r["step"]] = by_step.get(r["step"], 0) + 1
        users.setdefault(r["user_id"], {})[r["step"]] = r["ts"]
    want = {
        r["step"]: r["n_users"]
        for r in plans.query_map()["funnel_conversion"](spark, sf_dir).collect()
    }
    assert by_step == want, (by_step, want)
    for u, steps in users.items():
        for k in steps:
            if k > 1:
                assert k - 1 in steps and steps[k - 1] < steps[k], (u, steps)


def test_scd2_store_job_matches_batch_and_survives_compaction(spark, sf_dir, tmp_path):
    """SCD2 from the ingest-time change store: two micro-batches of
    signup changes land verbatim; the interval head over the store must
    be hash-equal to batch ``scd2_dim_history`` — including rows whose
    validity interval SPANS the batch split (an interval opened by a
    batch-0 change and closed by a batch-1 change), the case a
    materialize-intervals-at-ingest design gets wrong. Compacting the
    fact-shaped store must not change the answer."""
    from gmall_flink_parent_spark.streaming.jobs import (
        scd2_change_store_job,
        scd2_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    changes = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select("event_id", "ts", "user_id", "value")
    )
    stream = _two_file_stream(
        spark, tmp_path, changes, "event_id",
        "event_id long, ts timestamp, user_id long, value double",
    )
    q = scd2_change_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["user_id", "version", "value", "effective_from", "effective_to", "is_current"]
    want = _rows(plans.query_map()["scd2_dim_history"](spark, sf_dir), cols)
    got = _rows(scd2_from_store(spark, str(tmp_path / "store")), cols)
    assert got == want and len(want) > 0
    # at least one user's history must span the batch boundary (the
    # interval-mutation case the change-log design exists for)
    split_ids = {
        r.batch_id: {row.user_id for row in store.filter(F.col("batch_id") == r.batch_id).collect()}
        for r in store.select("batch_id").distinct().collect()
    }
    assert split_ids[0] & split_ids[1], "no user changed in both batches"
    compact_fact_store(spark, str(tmp_path / "store"), str(tmp_path / "ck") + "/scd2_changes")
    assert _rows(scd2_from_store(spark, str(tmp_path / "store")), cols) == want


def test_user_days_store_serves_retention(spark, sf_dir, tmp_path):
    """Retention triangle from the ingest-time distinct (user, day)
    store: hash-equal to batch ``retention_cohorts`` across a two-batch
    split (users active in BOTH batches land twice; the final distinct
    collapses them exactly) and across compaction."""
    from gmall_flink_parent_spark.streaming.jobs import (
        new_vs_returning_from_store,
        retention_from_store,
        stickiness_from_store,
        user_days_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long",
    )
    q = user_days_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    # cross-batch duplicate pairs must exist for this test to bite
    dupes = (
        store.groupBy("user_id", "day").count().filter(F.col("count") > 1).count()
    )
    assert dupes > 0, "no user was active in both batches — split too clean"
    cols = ["cohort_ymd", "day_offset", "n_active", "retained_pct"]
    want = _rows(plans.query_map()["retention_cohorts"](spark, sf_dir), cols)
    got = _rows(retention_from_store(spark, str(tmp_path / "store")), cols)
    assert got == want and len(want) > 0
    scols = ["ymd", "dau", "mau", "stickiness"]
    swant = _rows(plans.query_map()["stickiness_ratio"](spark, sf_dir), scols)
    assert _rows(stickiness_from_store(spark, str(tmp_path / "store")), scols) == swant
    ncols = ["ymd", "new_users", "returning_users", "new_share"]
    nwant = _rows(plans.query_map()["daily_new_vs_returning"](spark, sf_dir), ncols)
    assert _rows(new_vs_returning_from_store(spark, str(tmp_path / "store")), ncols) == nwant
    compact_fact_store(
        spark, str(tmp_path / "store"), str(tmp_path / "ck") + "/user_days"
    )
    assert _rows(retention_from_store(spark, str(tmp_path / "store")), cols) == want
    assert _rows(stickiness_from_store(spark, str(tmp_path / "store")), scols) == swant


def test_type_moments_store_serves_outlier_gate(spark, sf_dir, tmp_path):
    """Per-type moment partials accumulated over two batches must score
    the same events to the exact batch ``event_value_outliers`` rows —
    decimal moments are associative, so the fold equals the one-shot
    stats. This is the production shape: fresh data scored against all
    history with a #types-row store read instead of a re-scan."""
    from gmall_flink_parent_spark.streaming.jobs import (
        outliers_from_store,
        type_moments_store_job,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, event_type string, value double",
    )
    q = type_moments_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    cols = ["event_id", "event_type", "value", "z_score"]
    want = _rows(plans.query_map()["event_value_outliers"](spark, sf_dir), cols)
    got = _rows(
        outliers_from_store(
            spark, str(tmp_path / "store"),
            load_table(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        ),
        cols,
    )
    assert got == want and len(want) > 0


def test_drop_duplicates_within_watermark_matches_batch(spark, sf_dir, tmp_path):
    """The built-in watermarked dedup (the engine-native complement to
    the custom ``uv_dedup`` state machine): an exactly-duplicated
    stream — every batch-1 row replayed in batch 2 — must reduce to the
    batch ``distinct`` over event ids, with the dedup state bounded by
    the watermark instead of growing forever."""
    import os
    import time

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id")
        .limit(500)
    )
    (tmp_path / "in").mkdir()
    pdf = events.toPandas()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    for fname, off in (("f1.parquet", 0), ("f2.parquet", 5)):
        p = str(tmp_path / "in" / fname)
        pdf.to_parquet(p)  # the SAME rows twice — a full replay
        t = time.time() + off
        os.utime(p, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = (
        stream.withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.event_id for r in spark.sql("SELECT event_id FROM wm_dedup").collect()
    )
    want = sorted(r.event_id for r in events.select("event_id").distinct().collect())
    assert got == want and len(want) > 0


def test_stickiness_hll_from_store_matches_batch_head(spark, sf_dir, tmp_path):
    """The sketch store's windowed stickiness must equal the batch
    ``stickiness_hll`` head exactly: HLL union is register-wise max, so
    per-batch sketches merged in the store lose nothing vs one sketch
    over all events — the third head on the dau_hll store."""
    from gmall_flink_parent_spark.streaming.jobs import (
        dau_hll_job,
        stickiness_hll_from_store,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long",
    )
    q = dau_hll_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    cols = ["ymd", "approx_dau", "approx_mau", "stickiness"]
    want = _rows(plans.query_map()["stickiness_hll"](spark, sf_dir), cols)
    got = _rows(stickiness_hll_from_store(spark, str(tmp_path / "store")), cols)
    assert got == want and len(want) > 0


def test_warc_stream_matches_batch_front_door(spark, tmp_path):
    """The streaming WARC front door (binaryFile file-arrival + the
    shared record grammar in Arrow batches) must produce EXACTLY the
    batch reader's documents rows — one parser, two front doors, no
    drift — across a two-micro-batch run over mixed plain/gzip
    segments."""
    import sys as _sys

    _sys.path.insert(0, "tests")
    from test_sources import _write_warc

    from gmall_flink_parent_spark.sources.warc import (
        load_warc_documents,
        warc_stream_documents,
    )

    d = tmp_path / "crawl"
    d.mkdir()
    _write_warc(
        str(d / "seg-0.warc"),
        [
            ("response", "http://a/x", b"alpha beta"),
            ("warcinfo", "", b"skip me"),
            ("response", "http://a/y", b"gamma \xff delta"),
        ],
    )
    _write_warc(
        str(d / "seg-1.warc.gz"),
        [("response", "http://b/z", b"gzipped body")],
        gz=True,
    )
    q = (
        warc_stream_documents(spark, str(d))
        .writeStream.format("memory")
        .queryName("warc_docs")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    got = _rows(spark.sql("SELECT * FROM warc_docs"), cols)
    want = _rows(load_warc_documents(spark, str(d)), cols)
    assert got == want and len(want) == 3


def test_warc_stream_quarantine_parity_with_batch(spark, tmp_path):
    """Quarantine mode through the STREAMING door: nested segment dirs
    resolve to the batch door's relative archive names, mid-archive dirt
    is counted-and-skipped identically, and the documents rows match the
    batch quarantine read exactly."""
    import sys as _sys

    _sys.path.insert(0, "tests")
    from test_sources import _write_warc

    from gmall_flink_parent_spark.sources.warc import (
        load_warc_documents,
        warc_stream_documents,
    )

    d = tmp_path / "crawl"
    (d / "dump-a").mkdir(parents=True)
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u://a\r\n"
        b"Content-Length: 5\r\n\r\nfirst\r\n\r\n"
    )
    dirt = b"not a record\r\n"
    good2 = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u://b\r\n"
        b"Content-Length: 6\r\n\r\nsecond\r\n\r\n"
    )
    (d / "dump-a" / "dirty.warc").write_bytes(good + dirt + good2)
    _write_warc(str(d / "clean.warc"), [("response", "u://c", b"fine")])
    q = (
        warc_stream_documents(spark, str(d), mode="quarantine")
        .writeStream.format("memory")
        .queryName("warc_docs_q")
        .option("checkpointLocation", str(tmp_path / "ckq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    got = _rows(spark.sql("SELECT * FROM warc_docs_q"), cols)
    want = _rows(load_warc_documents(spark, str(d), mode="quarantine"), cols)
    assert got == want and len(want) == 3
    # nested-dir archive naming matches the batch door (rel path, not basename)
    assert sorted({r[3] for r in got}) == ["clean.warc", "dump-a/dirty.warc"]


def test_warc_stream_feeds_fingerprint_store(spark, tmp_path):
    """Crawl-to-curation end to end: WARC segments stream through the
    documents front door INTO the shingle store, and the store-derived
    boilerplate verdict equals the batch verdict over the batch-read
    corpus — the full fingerprint-at-ingest path on crawl data."""
    import sys as _sys

    _sys.path.insert(0, "tests")
    from test_sources import _write_warc

    from gmall_flink_parent_spark.functions.curation import (
        boilerplate_fraction_frame,
        contamination_shingles,
    )
    from gmall_flink_parent_spark.sources.warc import (
        load_warc_documents,
        warc_stream_documents,
    )
    from gmall_flink_parent_spark.streaming.jobs import shingle_store_job

    d = tmp_path / "crawl"
    d.mkdir()
    body = b"the quick brown fox jumps over the lazy dog again and again"
    _write_warc(str(d / "seg-0.warc"), [("response", "http://a/x", body)])
    _write_warc(
        str(d / "seg-1.warc.gz"),
        [("response", "http://b/y", body), ("response", "http://b/z", b"unique words only here")],
        gz=True,
    )
    q = shingle_store_job(
        warc_stream_documents(spark, str(d)),
        str(tmp_path / "store"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    stored = spark.read.parquet(str(tmp_path / "store")).select("doc_id", "g")
    batch_docs = load_warc_documents(spark, str(d))
    want = _rows(
        boilerplate_fraction_frame(contamination_shingles(batch_docs)),
        ["doc_id", "boilerplate_frac"],
    )
    got = _rows(
        boilerplate_fraction_frame(stored), ["doc_id", "boilerplate_frac"]
    )
    assert got == want and len(want) == 3


def test_streaming_observe_reports_per_batch_metrics(spark, sf_dir, tmp_path):
    """The observe() metrics path in STREAMING form: a named observe
    node on the micro-batch stream surfaces the suite's aggregates in
    the query progress of every batch — per-batch quality numbers with
    no second pass — and their weighted combination equals the batch
    report over the same rows."""
    from gmall_flink_parent_spark.functions.expectations import (
        DOCUMENT_CHECKS,
        observable,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id",
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    checks = observable(DOCUMENT_CHECKS)
    observed = stream.observe(
        "quality", *[F.round(c.metric().cast("double"), 6).alias(c.name) for c in checks]
    ).withColumn("n_rows_batch", F.lit(1))
    q = (
        observed.writeStream.format("memory")
        .queryName("obs_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = [
        p["observedMetrics"]["quality"].asDict()
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("quality")
    ]
    assert len(batches) == 2, "expected one metrics row per micro-batch"
    # spot-check one mergeable metric: mean(n_chars) combines across
    # batches to the corpus mean (weights = batch row counts)
    rows = spark.sql("SELECT count(*) AS n FROM obs_sink").collect()[0].n
    names = [c.name for c in checks]
    assert all(set(b) >= set(names) for b in batches)
    mean_name = next(n for n in names if n.startswith("mean(n_chars)"))
    total = docs.count()
    half = [b[mean_name] for b in batches]
    exact = docs.agg(F.avg("n_chars")).collect()[0][0]
    lo, hi = min(half), max(half)
    assert lo <= exact <= hi and rows == total


def test_value_histogram_store_matches_batch(spark, sf_dir, tmp_path):
    """Histogram partials accumulated over two batches fold to the
    one-shot histogram exactly — counts and decimal mass are additive,
    the grain rule's simplest case applied to distribution shape."""
    from gmall_flink_parent_spark.streaming.jobs import (
        value_histogram_from_store,
        value_histogram_job,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, event_type string, value double",
    )
    q = value_histogram_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    cols = ["event_type", "bucket", "bucket_lo", "n_events", "sum_value"]
    want = _rows(plans.query_map()["event_value_histogram"](spark, sf_dir), cols)
    got = _rows(value_histogram_from_store(spark, str(tmp_path / "store")), cols)
    assert got == want and len(want) > 0


def test_session_store_merges_cross_batch_fragments(spark, sf_dir, tmp_path):
    """Sessionization is associatively mergeable at fragment grain:
    events split by PARITY across two micro-batches (so nearly every
    session fragments across both), per-batch session_window partials
    land in the store, and the interval-merge final pass reconstructs
    the batch ``session_window_stats`` result EXACTLY — rows, counts,
    decimal sums, and the close = last-event + gap boundary."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        session_store_job,
        sessions_from_store,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    (tmp_path / "in").mkdir()
    for parity, fname, off in ((0, "f1.parquet", 0), (1, "f2.parquet", 5)):
        pdf = events.filter(F.col("event_id") % 2 == parity).toPandas()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        path = str(tmp_path / "in" / fname)
        pdf.to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = session_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    # the split must actually fragment sessions for this test to bite:
    # more fragments than true sessions
    cols = ["user_id", "session_start", "session_close", "n_events", "session_value"]
    want = _rows(plans.query_map()["session_window_stats"](spark, sf_dir), cols)
    assert store.count() > len(want), "parity split produced no cross-batch fragments"
    got = _rows(sessions_from_store(spark, str(tmp_path / "store")), cols)
    assert got == want and len(want) > 0
    # fragments survive compaction: the merged answer is unchanged
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    compact_fact_store(spark, str(tmp_path / "store"), str(tmp_path / "ck") + "/sessions")
    assert _rows(sessions_from_store(spark, str(tmp_path / "store")), cols) == want


def test_order_wide_outer_stream_emits_null_rows_for_closed_bands(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows equal the
    batch LEFT JOIN's; every order whose band the watermark closed
    emits exactly one null-padded row. Outer-null emission lags one
    micro-batch behind the watermark (state evicts in the NEXT batch),
    so the harness appends two far-future sentinel batches per side —
    the first advances the watermark past every real band, the second
    gives eviction a batch to run in (the CEP-timeout flush pattern)."""
    import datetime as _dt
    import os
    import time

    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    l_base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    far1 = _dt.datetime(2300, 1, 1)
    far2 = _dt.datetime(2301, 1, 1)
    for side, base, sent_rows, schema in (
        ("o", o_base, [(-1,)], "o_orderkey long, o_orderdate timestamp"),
        ("l", l_base, [(-2,)], "l_orderkey long, l_linenumber int, l_extendedprice double, l_shipdate timestamp"),
    ):
        d = tmp_path / side
        d.mkdir()
        pdf = base.toPandas()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        files = [("f1.parquet", pdf, 0)]
        for i, far in enumerate((far1, far2)):
            sent = pdf.iloc[:1].copy()
            key = "o_orderkey" if side == "o" else "l_orderkey"
            ts = "o_orderdate" if side == "o" else "l_shipdate"
            sent[key] = sent_rows[0][0]
            sent[ts] = far
            files.append((f"sent{i}.parquet", sent, 5 * (i + 1)))
        for fname, frame, off in files:
            path = str(d / fname)
            frame.to_parquet(path)
            t = time.time() + off
            os.utime(path, (t, t))
    orders = (
        spark.readStream.schema("o_orderkey long, o_orderdate timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "o"))
    )
    details = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_extendedprice double, l_shipdate timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "l"))
    )
    out, q = _run_to_memory(
        interval_join_outer_frame(orders, details), spark, "owo_out", with_query=True
    )
    cols = ["o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate", "extended_price"]
    got = sorted(r for r in _rows(out, cols) if r[0] >= 0)  # drop sentinels
    want = sorted(
        _rows(
            plans.query_map()["order_detail_interval_join_outer"](spark, sf_dir), cols
        )
    )
    assert len([r for r in want if r[1] is None]) > 0, "fixture has no unmatched order"
    assert got == want
    # outer-join state rides the SAME cleanup bound as the inner join:
    # never more than every order + detail row (+ the 4 sentinels)
    ops = q.lastProgress["stateOperators"]
    assert ops, "outer interval join reported no state operator"
    n_o = load_table(spark, sf_dir, "orders").count()
    n_l = load_table(spark, sf_dir, "lineitem").count()
    state_rows = sum(op["numRowsTotal"] for op in ops)
    assert 0 <= state_rows <= n_o + n_l + 4, (state_rows, n_o, n_l)


def test_session_surfaces_agree_under_same_gap(spark, sf_dir, tmp_path):
    """Both session surfaces — the native ``session_window`` streaming
    head (``sessionize_stream``) and the sessionize-at-ingest fragment
    store (``session_store_job`` → ``sessions_from_store``) — must be
    equal under the SAME gap, and the gap must actually parameterize
    (run at a non-default 45 minutes). The store path reconstructs ALL
    sessions exactly (= the batch ``session_stats_frame`` at that gap);
    the native streaming head append-emits exactly the sessions the
    final watermark closed — so: store ≡ batch, stream ⊆ store, and
    stream ≡ store restricted to closed sessions."""
    from gmall_flink_parent_spark.operators.windows import session_stats_frame
    from gmall_flink_parent_spark.streaming.jobs import (
        session_store_job,
        sessionize_stream,
        sessions_from_store,
    )

    gap = "45 minutes"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    # surface A: native session_window over the stream, append mode
    out = _run_to_memory(
        sessionize_stream(
            events_stream(spark, sf_dir).select("event_id", "ts", "user_id", "value"),
            gap,
        ),
        spark,
        "sess_gap_out",
    )
    # surface B: fragment store over a two-file split (sessions fragment
    # across batches), merged exactly at read
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long, value double",
    )
    q = session_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"), gap)
    q.awaitTermination(120)

    cols = ["user_id", "session_start", "session_close", "n_events", "session_value"]
    store_rows = set(_rows(sessions_from_store(spark, str(tmp_path / "store")), cols))
    batch_rows = set(_rows(session_stats_frame(events, gap), cols))
    assert store_rows == batch_rows and len(batch_rows) > 0  # store ≡ batch
    # sanity: 45 min differs from the default-gap answer (gap really flows)
    default_rows = set(_rows(session_stats_frame(events), cols))
    assert batch_rows != default_rows, "45-minute gap produced the 30-minute answer"

    got = set(_rows(out, cols))
    assert got <= store_rows, "stream emitted a session the store doesn't have"
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    watermark_us = max_us - 60_000_000  # sessionize_stream's 1-min watermark
    closed = {
        r for r in store_rows if r[2].timestamp() * 1_000_000 <= watermark_us
    }
    assert closed, "fixture too small: no session ever closed"
    assert closed == {r for r in got if r[2].timestamp() * 1_000_000 <= watermark_us}


def test_daily_value_store_serves_correlation_and_pivot_exactly(
    spark, sf_dir, tmp_path
):
    """The incremental DWS pattern (store ≡ batch) extended to the
    analytics side: one day×type decimal partial store, maintained per
    micro-batch, serves BOTH event_value_correlation and
    event_type_pivot hash-equal to their batch heads — including after
    compaction. Events split across two micro-batches so most (day,
    type) cells genuinely merge partials from both."""
    from gmall_flink_parent_spark.streaming.jobs import (
        daily_value_store_job,
        event_daily_robust_outliers_from_store,
        event_dow_seasonality_from_store,
        event_trend_mann_kendall_from_store,
        event_type_pivot_from_store,
        event_value_acf_from_store,
        event_value_correlation_from_store,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    q = daily_value_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(str(tmp_path / "store"))
    merged_cells = store.select("day", "event_type").distinct().count()
    assert store.count() > merged_cells, "split produced no cross-batch partials"

    corr_cols = ["type_a", "type_b", "n_days", "pearson_r"]
    want_corr = _rows(plans.query_map()["event_value_correlation"](spark, sf_dir), corr_cols)
    got_corr = _rows(
        event_value_correlation_from_store(spark, str(tmp_path / "store")), corr_cols
    )
    assert got_corr == want_corr and len(want_corr) > 0

    from gmall_flink_parent_spark.operators.cohorts import PIVOT_TYPES

    piv_cols = ["ymd", *PIVOT_TYPES]
    want_piv = _rows(plans.query_map()["event_type_pivot"](spark, sf_dir), piv_cols)
    got_piv = _rows(event_type_pivot_from_store(spark, str(tmp_path / "store")), piv_cols)
    assert got_piv == want_piv and len(want_piv) > 0

    acf_cols = ["event_type", "lag", "n_pairs", "acf"]
    want_acf = _rows(plans.query_map()["event_value_acf"](spark, sf_dir), acf_cols)
    got_acf = _rows(event_value_acf_from_store(spark, str(tmp_path / "store")), acf_cols)
    assert got_acf == want_acf and len(want_acf) > 0

    dow_cols = ["event_type", "dow", "n_days", "mean_daily_value", "seasonal_index"]
    want_dow = _rows(
        plans.query_map()["event_dow_seasonality"](spark, sf_dir), dow_cols
    )
    got_dow = _rows(
        event_dow_seasonality_from_store(spark, str(tmp_path / "store")), dow_cols
    )
    assert got_dow == want_dow and len(want_dow) > 0

    rob_cols = ["event_type", "ymd", "daily_value", "median_value",
                "robust_z", "is_outlier", "n_days"]
    want_rob = _rows(
        plans.query_map()["event_daily_robust_outliers"](spark, sf_dir), rob_cols
    )
    got_rob = _rows(
        event_daily_robust_outliers_from_store(spark, str(tmp_path / "store")),
        rob_cols,
    )
    assert got_rob == want_rob and len(want_rob) > 0

    mk_cols = ["event_type", "n_days", "s_statistic", "mk_z", "theil_sen_slope"]
    want_mk = _rows(
        plans.query_map()["event_trend_mann_kendall"](spark, sf_dir), mk_cols
    )
    got_mk = _rows(
        event_trend_mann_kendall_from_store(spark, str(tmp_path / "store")), mk_cols
    )
    assert got_mk == want_mk and len(want_mk) > 0

    from gmall_flink_parent_spark.streaming.jobs import event_value_ewma_from_store

    ewma_cols = ["event_type", "ymd", "n_terms", "ewma"]
    want_ewma = _rows(plans.query_map()["event_value_ewma"](spark, sf_dir), ewma_cols)
    got_ewma = _rows(
        event_value_ewma_from_store(spark, str(tmp_path / "store")), ewma_cols
    )
    assert got_ewma == want_ewma and len(want_ewma) > 0

    from gmall_flink_parent_spark.streaming.jobs import (
        event_value_holt_forecast_from_store,
    )

    holt_cols = ["event_type", "ymd", "holt_forecast"]
    want_holt = _rows(
        plans.query_map()["event_value_holt_forecast"](spark, sf_dir), holt_cols
    )
    got_holt = _rows(
        event_value_holt_forecast_from_store(spark, str(tmp_path / "store")),
        holt_cols,
    )
    assert got_holt == want_holt and len(want_holt) > 0

    # both answers survive store compaction unchanged
    from gmall_flink_parent_spark.streaming.store import compact_fact_store

    compact_fact_store(
        spark, str(tmp_path / "store"), str(tmp_path / "ck") + "/daily_value"
    )
    assert _rows(
        event_value_correlation_from_store(spark, str(tmp_path / "store")), corr_cols
    ) == want_corr
    assert _rows(
        event_type_pivot_from_store(spark, str(tmp_path / "store")), piv_cols
    ) == want_piv
    assert _rows(
        event_value_acf_from_store(spark, str(tmp_path / "store")), acf_cols
    ) == want_acf
    assert _rows(
        event_daily_robust_outliers_from_store(spark, str(tmp_path / "store")),
        rob_cols,
    ) == want_rob

    # each caching reader holds only its own caches once built
    for reader in (
        event_dow_seasonality_from_store,
        event_daily_robust_outliers_from_store,
        event_trend_mann_kendall_from_store,
    ):
        _assert_reader_releases_earlier_caches(
            spark, sf_dir, reader, str(tmp_path / "store")
        )


def test_interval_join_skew_hot_key_is_split_by_aqe(spark):
    """Adversarial skew on the interval join's equi-key: ONE hot order
    key carries ~60% of all detail rows.
    The band join is physically an equi-join with the date band as a
    residual, so AQE's OptimizeSkewedJoin applies: it splits the
    oversized partition into advisory-sized reads and replicates the
    other side's matching partition — valid for inner joins regardless
    of key boundaries. Pin both halves: (a) the answer is exactly the
    expected match count (splitting never changes results), (b) the
    executed adaptive plan marks the join skew=true under test-scaled
    thresholds — the same mechanism that splits a production hot key
    at 100 TB, where the thresholds are the defaults."""
    from datetime import datetime, timedelta

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # force the shuffle path and scale the skew thresholds down to
        # fixture size (production uses the defaults; the MECHANISM is
        # what this pins)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # the fixture's hot partition compresses to ~tens of KB (two
        # repetitive columns), so the thresholds scale to that
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        base = datetime(2026, 1, 1)
        n_hot, n_cold_keys, n_cold_each = 120_000, 63, 100
        orders = spark.createDataFrame(
            [(k, base) for k in range(n_cold_keys + 1)],
            "o_orderkey long, o_orderdate timestamp",
        )
        hot = spark.range(n_hot).select(
            F.lit(0).cast("long").alias("l_orderkey"),
            (F.lit(base) + F.make_interval(days=F.col("id") % 31)).alias("l_shipdate"),
        )
        cold = spark.range(n_cold_keys * n_cold_each).select(
            (F.col("id") % n_cold_keys + 1).alias("l_orderkey"),
            (F.lit(base) + F.make_interval(days=F.col("id") % 31)).alias("l_shipdate"),
        )
        details = hot.unionByName(cold)
        joined = orders.join(
            details,
            (orders.o_orderkey == details.l_orderkey)
            & (details.l_shipdate >= orders.o_orderdate)
            & (details.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        # band [0, +30d] admits every generated offset (0..30) → all rows
        # match; collect() executes THIS Dataset's own query execution, so
        # its adaptive plan finalizes (count() would plan a separate query)
        n = len(joined.collect())
        assert n == n_hot + n_cold_keys * n_cold_each, n
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not mark the hot partition as skewed"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_join_drops_rows_behind_the_watermark(spark, tmp_path):
    """Late-data contract of the stream-stream interval join (W5): a
    detail row arriving BEHIND the global watermark is dropped at the
    input — its order's join state was already evicted when the
    watermark cleared the band — while a fresh in-band row in the same
    micro-batch still joins. Mirrors Flink's behavior for the same
    ±band/watermark configuration (``OrderWideApp.java:105-141``)."""
    import os
    import time

    import pandas as pd

    base = pd.Timestamp("2026-01-01")
    far = base + pd.Timedelta(days=100)

    (tmp_path / "orders").mkdir()
    pdf_o = pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_orderdate": [base, far],
        }
    )
    pdf_o["o_orderdate"] = pdf_o["o_orderdate"].astype("datetime64[us]")
    pdf_o.to_parquet(str(tmp_path / "orders" / "o.parquet"))

    (tmp_path / "details").mkdir()
    batches = (
        # batch 1: a detail for order 2 at t0+100d — pushes the
        # watermark to ~t0+100d−3s, far past order 1's 30-day band
        ("d1.parquet", [(2, 1, far, 10.0)], 0),
        # batch 2: a fresh detail; its COMMIT runs the state cleanup
        # under the batch-1 watermark, evicting order 1's band state
        # (eviction lands in the commit phase, one batch behind the
        # watermark — the contract this fixture walks deliberately)
        ("d2.parquet", [(2, 2, far + pd.Timedelta(seconds=1), 20.0)], 5),
        # batch 3: one LATE detail for order 1 (t0+1d, behind the
        # watermark, state gone → dropped) and one fresh for order 2
        (
            "d3.parquet",
            [
                (1, 1, base + pd.Timedelta(days=1), 99.0),
                (2, 3, far + pd.Timedelta(seconds=2), 30.0),
            ],
            10,
        ),
    )
    for fname, rows, off in batches:
        pdf = pd.DataFrame(
            rows, columns=["l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"]
        )
        pdf["l_shipdate"] = pdf["l_shipdate"].astype("datetime64[us]")
        pdf["l_linenumber"] = pdf["l_linenumber"].astype("int32")
        path = str(tmp_path / "details" / fname)
        pdf.to_parquet(path)
        t = time.time() + off
        os.utime(path, (t, t))

    orders = spark.readStream.schema("o_orderkey long, o_orderdate timestamp").parquet(
        str(tmp_path / "orders")
    )
    details = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_shipdate timestamp, "
            "l_extendedprice double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "details"))
    )
    out = _run_to_memory(interval_join_frame(orders, details), spark, "late_band_out")
    got = sorted((r["o_orderkey"], r["l_linenumber"]) for r in out.collect())
    # order 2's three details join; order 1's late detail never appears
    assert got == [(2, 1), (2, 2), (2, 3)], got


@pytest.mark.parametrize("job_name", ["daily_value", "sequence_support", "pricing_summary"])
def test_partial_store_jobs_survive_out_of_order_late_batches(
    spark, sf_dir, tmp_path, job_name
):
    """Late-data matrix for the additive/extrema partial stores (r12
    verdict next-round #7): each day's rows are deliberately SPLIT
    ACROSS NON-ADJACENT, time-interleaved micro-batches (a modulo-3
    split — every batch carries rows from every day, so batch 3 is
    'late' for every day batch 1 already opened). The partial merges
    are additive (sums) or idempotent (extrema), so the final pass
    must still equal the one-shot batch answer — this pins that no
    watermark or ordering assumption crept into the three decimal/
    extrema store jobs (contrast: the CEP bounce store REQUIRES an
    in-order log, documented on the job)."""
    import os
    import time

    from gmall_flink_parent_spark.streaming import jobs as J

    cfg = {
        "daily_value": (
            J.daily_value_store_job,
            J.daily_value_from_store,
            ["event_id", "ts", "user_id", "event_type", "value"],
            "events",
            lambda: load_table(spark, sf_dir, "events")
            .groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("decimal(18,2)")
                .alias("v")
            ),
        ),
        "sequence_support": (
            J.sequence_support_store_job,
            J.sequence_support_from_store,
            ["event_id", "ts", "user_id", "event_type"],
            "events",
            lambda: plans.query_map()["event_sequence_support"](spark, sf_dir),
        ),
        "pricing_summary": (
            J.pricing_summary_store_job,
            J.pricing_summary_from_store,
            None,  # full lineitem schema
            "lineitem",
            lambda: plans.query_map()["pricing_summary"](spark, sf_dir),
        ),
    }
    job, from_store, cols, table, batch_fn = cfg[job_name]
    df = load_table(spark, sf_dir, table)
    if cols is not None:
        df = df.select(*cols)
    key = "event_id" if table == "events" else "l_orderkey"
    (tmp_path / "in").mkdir()
    pdf = df.toPandas()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf[key] % 3 == i]
        path = str(tmp_path / "in" / f"f{i}.parquet")
        part.to_parquet(path)
        t = time.time() + 5 * i
        os.utime(path, (t, t))
    schema = spark.read.parquet(str(tmp_path / "in" / "f0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    q = job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    assert q.awaitTermination(180), f"{job_name} store job timed out"
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.select("batch_id").distinct().count() == 3
    want_df = batch_fn()
    out_cols = sorted(want_df.columns)
    want = _rows(want_df, out_cols)
    got = _rows(from_store(spark, str(tmp_path / "store")), out_cols)
    assert got == want and len(want) > 0


def test_gram_store_survives_out_of_order_late_batches(spark, sf_dir, tmp_path):
    """The gram-count partial store under the same late-data matrix as
    the decimal/extrema stores: documents split by doc_id modulo 3, so
    every micro-batch carries part of every source/vocabulary slice and
    batch 3 is 'late' for counts batch 1 already opened. Gram counts
    merge by addition (each document contributes from exactly one
    batch), so `collocation_pmi_from_store` must still hash-equal the
    batch head over the arbitrarily interleaved replay."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        collocation_pmi_from_store,
        curation_ingest_job,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    pdf = docs.toPandas()
    (tmp_path / "in").mkdir()
    for i in range(3):
        part = pdf[pdf["doc_id"] % 3 == i]
        path = str(tmp_path / "in" / f"f{i}.parquet")
        part.to_parquet(path)
        t = time.time() + 5 * i
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        weights={f"src{i}": 1.0 for i in range(20)},
        gram_path=str(tmp_path / "gram"),
    ).awaitTermination(120)
    assert (
        spark.read.parquet(str(tmp_path / "gram"))
        .select("batch_id")
        .distinct()
        .count()
        == 3
    )
    got = {
        tuple(r)
        for r in collocation_pmi_from_store(spark, str(tmp_path / "gram")).collect()
    }
    want = {
        tuple(r)
        for r in plans.query_map()["collocation_pmi"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_sequence_support_store_job_matches_batch(spark, sf_dir, tmp_path):
    """Extrema-partial store twin of ``event_sequence_support``: per-
    batch (user, type) min/max merged by the final pass must be
    hash-equal to the batch head — and, because min/max partials are
    IDEMPOTENT (unlike sums), the store must survive both the
    all-columns-as-keys compaction fold and outright row duplication
    without drifting."""
    from gmall_flink_parent_spark.streaming.jobs import (
        sequence_support_from_store,
        sequence_support_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import compact_partial_store

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    stream = _two_file_stream(
        spark, tmp_path, ev, "event_id",
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    q = sequence_support_store_job(stream, str(tmp_path / "store"), str(tmp_path / "ck"))
    q.awaitTermination(120)
    store_path = str(tmp_path / "store")
    store = spark.read.parquet(store_path)
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["type_a", "type_b", "n_users_exists", "n_users_leads", "support_exists"]
    want = _rows(plans.query_map()["event_sequence_support"](spark, sf_dir), cols)
    got = _rows(sequence_support_from_store(spark, store_path), cols)
    assert got == want and len(want) > 0
    # maintenance fold: extrema stores compact with EVERY column as a
    # group key (pure dedup — there is no summable value column)
    compact_partial_store(
        spark, store_path, ["user_id", "event_type", "first_part", "last_part"]
    )
    assert _rows(sequence_support_from_store(spark, store_path), cols) == want
    # idempotence: duplicating every partial row must not move the merge
    # (the property that makes extrema stores replay-safe even without
    # the idempotent partition overwrite)
    dup = spark.read.parquet(store_path)
    dup.write.mode("append").parquet(store_path)
    assert _rows(sequence_support_from_store(spark, store_path), cols) == want
    _assert_reader_releases_earlier_caches(
        spark, sf_dir, sequence_support_from_store, store_path
    )


def test_order_wide_semi_stream_matches_batch_semi_join(spark, sf_dir):
    """The stream-stream LEFT SEMI interval join must emit exactly the
    batch EXISTS head's rows (each qualifying order once, order
    columns only) — the third join form next to the inner/outer
    parity pins, with the cheapest state profile of the three."""
    orders, details = _order_streams(spark, sf_dir)
    out = _run_to_memory(
        semi_join_frame(orders, details), spark, "ow_semi_out"
    )
    batch = plans.query_map()["order_detail_semi_join"](spark, sf_dir)
    cols = ["o_orderkey", "o_orderdate", "o_orderpriority"]
    got = _rows(out, cols)
    assert got == _rows(batch, cols) and len(got) > 0
    # semi means no duplicates even though orders fan out to many details
    assert len({r[0] for r in got}) == len(got)


def test_order_wide_anti_stream_emits_timeouts_after_watermark(spark, sf_dir, tmp_path):
    """LEFT ANTI stream-stream interval join — the CEP-timeout side:
    an order emits exactly once, only after the watermark closes its
    band with no match. Same sentinel-flush harness as the outer test
    (emission lags one micro-batch behind the watermark), and the
    emitted set must equal the batch NOT EXISTS head exactly."""
    import datetime as _dt
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import order_wide_anti_stream

    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l_base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    far1 = _dt.datetime(2300, 1, 1)
    far2 = _dt.datetime(2301, 1, 1)
    for side, base, key, ts in (
        ("o", o_base, "o_orderkey", "o_orderdate"),
        ("l", l_base, "l_orderkey", "l_shipdate"),
    ):
        d = tmp_path / side
        d.mkdir()
        pdf = base.toPandas()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        pdf.to_parquet(str(d / "f1.parquet"))
        for i, far in enumerate((far1, far2)):
            sent = pdf.iloc[:1].copy()
            sent[key] = -1 - i
            sent[ts] = far
            path = str(d / f"sent{i}.parquet")
            sent.to_parquet(path)
            t = time.time() + 5 * (i + 1)
            os.utime(path, (t, t))
    orders = (
        spark.readStream.schema(
            "o_orderkey long, o_orderdate timestamp, o_orderpriority string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "o"))
    )
    details = (
        spark.readStream.schema("l_orderkey long, l_shipdate timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "l"))
    )
    out = _run_to_memory(
        order_wide_anti_stream(orders, details), spark, "owa_out"
    )
    cols = ["o_orderkey", "o_orderdate", "o_orderpriority"]
    got = sorted(r for r in _rows(out, cols) if r[0] >= 0)  # drop sentinels
    want = sorted(
        _rows(plans.query_map()["order_detail_anti_join"](spark, sf_dir), cols)
    )
    assert len(want) > 0, "fixture has no timed-out order"
    assert got == want
    # each timeout emits exactly once
    assert len({r[0] for r in got}) == len(got)


def test_order_wide_full_stream_preserves_both_sides(spark, sf_dir, tmp_path):
    """FULL OUTER stream-stream interval join: matched rows plus BOTH
    preserved sides (null-detail orders, null-order shipments), each
    exactly once after watermark closure — row-identical to the batch
    FULL JOIN head under the sentinel-flush harness."""
    import datetime as _dt
    import os
    import time

    o_base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    l_base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    far1 = _dt.datetime(2300, 1, 1)
    far2 = _dt.datetime(2301, 1, 1)
    for side, base, key, ts in (
        ("o", o_base, "o_orderkey", "o_orderdate"),
        ("l", l_base, "l_orderkey", "l_shipdate"),
    ):
        d = tmp_path / side
        d.mkdir()
        pdf = base.toPandas()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        pdf.to_parquet(str(d / "f1.parquet"))
        for i, far in enumerate((far1, far2)):
            sent = pdf.iloc[:1].copy()
            sent[key] = -1 - i
            sent[ts] = far
            path = str(d / f"sent{i}.parquet")
            sent.to_parquet(path)
            t = time.time() + 5 * (i + 1)
            os.utime(path, (t, t))
    orders = (
        spark.readStream.schema("o_orderkey long, o_orderdate timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "o"))
    )
    details = (
        spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_extendedprice double, l_shipdate timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "l"))
    )
    out = _run_to_memory(
        interval_join_full_frame(orders, details), spark, "owf_out"
    )
    cols = ["o_orderkey", "l_orderkey", "l_linenumber", "o_orderdate",
            "l_shipdate", "extended_price"]

    def rows_of(df):
        # full outer rows carry None keys, so sort by repr (None vs int
        # tuples are not orderable) and drop the sentinel rows
        return sorted(
            (
                tuple(r[c] for c in cols)
                for r in df.collect()
                if not ((r["o_orderkey"] is not None and r["o_orderkey"] < 0)
                        or (r["l_orderkey"] is not None and r["l_orderkey"] < 0))
            ),
            key=repr,
        )

    got = rows_of(out)
    want = rows_of(
        plans.query_map()["order_detail_interval_join_full"](spark, sf_dir)
    )
    assert len([r for r in want if r[1] is None]) > 0, "no never-shipped order"
    assert len([r for r in want if r[0] is None]) > 0, "no unclaimed shipment"
    assert got == want


def test_order_wide_anti_stream_timeout_is_final_under_late_data(spark, tmp_path):
    """Watermark-EDGE semantics of the stream-stream ANTI band join —
    the CEP-timeout FINALITY contract (reference
    ``UserJumpDetailApp.java:134-159``: once the ``within`` timer fires
    the timeout side-output row is final; a later in-pattern event
    cannot recall it). The Spark twin's rule, pinned here per
    micro-batch:

    - a detail INSIDE an order's band that arrives BEFORE the
      watermark closes the band SUPPRESSES the anti row (order 2);
    - a detail INSIDE the band that arrives AFTER the anti row was
      emitted is DROPPED by the state-watermark filter and must NOT
      revoke (or duplicate) the emitted row (order 1) — emission is
      exactly-once and final, the same one-way door as Flink's timer
      firing.

    One measured nuance (kept out of the contract deliberately): the
    eviction-and-emit runs at the END of a micro-batch, so a late
    in-band detail landing in the SAME batch that would evict the
    order still joins the not-yet-cleaned state and suppresses the
    anti row — a one-batch suppression grace, mirroring Flink's
    "event races the timer inside one firing" window. Finality begins
    at EMISSION: once the anti row is in the sink, no later detail can
    touch it (state is gone, the row is append-only). Five
    mtime-ordered single-file micro-batches per side place the late
    row one batch AFTER the emission batch; its drop is also observed
    directly in the progress counters (``numRowsDroppedByWatermark``)."""
    import datetime as _dt
    import os
    import time

    import pandas as pd

    from gmall_flink_parent_spark.streaming.jobs import order_wide_anti_stream

    d0 = _dt.datetime(2020, 1, 1)
    far = [_dt.datetime(2300 + i, 1, 1) for i in range(4)]

    def write(side: str, slot: int, rows: list[tuple], cols: list[str]):
        d = tmp_path / side
        d.mkdir(exist_ok=True)
        pdf = pd.DataFrame(rows, columns=cols)
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("datetime64"):
                pdf[c] = pdf[c].astype("datetime64[us]")
        path = str(d / f"f{slot}.parquet")
        pdf.to_parquet(path)
        t = time.time() + 5 * slot
        os.utime(path, (t, t))

    ocols = ["o_orderkey", "o_orderdate", "o_orderpriority"]
    lcols = ["l_orderkey", "l_shipdate"]
    # slot 1: both real orders; a noise detail pins the l-side watermark
    write("o", 1, [(1, d0, "1-URGENT"), (2, d0, "1-URGENT")], ocols)
    write("l", 1, [(-50, d0)], lcols)
    # slot 2: ON-TIME in-band detail for order 2 (watermark still < band
    # end, so it suppresses order 2's anti row); o-side sentinel starts
    # advancing the order watermark
    write("o", 2, [(-1, far[0], "x")], ocols)
    write("l", 2, [(2, d0 + _dt.timedelta(days=5))], lcols)
    # slot 3: both watermarks jump past every band end → next batch
    # operates at wm ≈ far[0], evicting order 1 and EMITTING its anti row
    write("o", 3, [(-2, far[1], "x")], ocols)
    write("l", 3, [(-60, far[0])], lcols)
    # slot 4: the emission batch (order 1's anti row lands here); fresh
    # sentinels keep both sources supplying exactly one file per trigger
    write("o", 4, [(-3, far[2], "x")], ocols)
    write("l", 4, [(-61, far[1])], lcols)
    # slot 5: the LATE detail for order 1 — inside its band by event
    # time, one batch AFTER the anti emission by arrival → must be
    # dropped by the state watermark; the emitted anti row must stand
    write("o", 5, [(-4, far[3], "x")], ocols)
    write("l", 5, [(1, d0 + _dt.timedelta(days=10))], lcols)

    orders = (
        spark.readStream.schema(
            "o_orderkey long, o_orderdate timestamp, o_orderpriority string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "o"))
    )
    details = (
        spark.readStream.schema("l_orderkey long, l_shipdate timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "l"))
    )
    out, q = _run_to_memory(
        order_wide_anti_stream(orders, details), spark, "owa_edge", with_query=True
    )
    keys = [r["o_orderkey"] for r in out.collect() if r["o_orderkey"] > 0]
    assert keys.count(1) == 1, (
        f"order 1 must time out exactly once and stay final: {keys}"
    )
    assert 2 not in keys, "on-time in-band detail must suppress the anti row"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped >= 1, "the late in-band detail never hit the watermark filter"


def test_user_days_store_serves_visitor_stats_matching_sql_dws_surface(
    spark, sf_dir, tmp_path
):
    """Fourth store family — the reference's DWS VisitorStats serving
    (``VisitorStatsApp.java`` uv_ct/new_uv) over the one user-days
    store: per-batch DISTINCT (user, day) key-set partials landed by
    ``user_days_store_job`` and merged by ``visitor_stats_from_store``
    must equal the W1/W2 columns of batch ``sql_dws_surface`` exactly;
    and because the partials are a key SET (union-mergeable,
    idempotent), the store must survive the all-columns-as-keys
    compaction fold AND outright row duplication without drifting — the
    same replay-safety class as the sequence store's extrema."""
    from gmall_flink_parent_spark.streaming.jobs import (
        user_days_store_job,
        visitor_stats_from_store,
    )
    from gmall_flink_parent_spark.streaming.store import compact_partial_store

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stream = _two_file_stream(
        spark, tmp_path, ev, "event_id",
        "event_id long, ts timestamp, user_id long",
    )
    store_path = str(tmp_path / "store")
    q = user_days_store_job(stream, store_path, str(tmp_path / "ck"))
    q.awaitTermination(120)
    store = spark.read.parquet(store_path)
    assert sorted(
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    ) == [0, 1]
    cols = ["ymd", "n_uv", "n_new_visitors"]
    want = _rows(
        plans.query_map()["sql_dws_surface"](spark, sf_dir).select(*cols), cols
    )
    got = _rows(visitor_stats_from_store(spark, store_path), cols)
    assert got == want and len(want) > 0
    # maintenance fold: key-set stores compact with EVERY column as a
    # group key (pure dedup — nothing to sum)
    compact_partial_store(spark, store_path, ["user_id", "day"])
    assert _rows(visitor_stats_from_store(spark, store_path), cols) == want
    # idempotence: duplicating every partial row must not move the merge
    dup = spark.read.parquet(store_path)
    dup.write.mode("append").parquet(store_path)
    assert _rows(visitor_stats_from_store(spark, store_path), cols) == want


def test_land_after_half_swap_restores_before_writing(spark, sf_dir, tmp_path):
    """Deterministic regression for the round-12 chaos finding (real
    data loss, reproduced before the fix): a COMPACTION crash between
    the two swap renames leaves the whole store under ``._old``; the
    stream then resumes and lands its next partition. Pre-fix, that
    write recreated the store directory and the next heal dropped
    ``._old`` as debris — every folded batch destroyed. The store jobs
    now heal BEFORE the partition write (``heal_store_dirs`` at the
    top of every foreachBatch body), so the resumed stream must see
    ALL prior batches plus its own."""
    import os

    from gmall_flink_parent_spark.streaming.jobs import (
        daily_value_from_store,
        daily_value_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import _clear_swap_leftovers

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _two_file_stream(
        spark, tmp_path, events, "event_id",
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    store = str(tmp_path / "store")
    q = daily_value_store_job(stream, store, str(tmp_path / "ck"))
    q.awaitTermination(120)
    cols = ["day", "event_type", "v"]
    want = _rows(daily_value_from_store(spark, store), cols)
    # simulate the compaction crash window: table only under ._old,
    # a garbage half-written replacement under ._tmp
    os.rename(store, store + "._old")
    spark.range(1).selectExpr(
        "DATE'2024-01-01' AS day", "'x' AS event_type",
        "CAST(9 AS DECIMAL(18,2)) AS v_part", "CAST(99 AS LONG) AS batch_id",
    ).write.parquet(store + "._tmp")
    # the resumed stream: a new file in the SAME source dir, the SAME
    # checkpoint — batch numbering continues (a fresh checkpoint would
    # restart at 0 and overwrite the first partition by design)
    import time as _time

    late = events.limit(50)
    pdf = late.toPandas()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    late_path = str(tmp_path / "in" / "f3.parquet")
    pdf.to_parquet(late_path)
    t = _time.time() + 10
    os.utime(late_path, (t, t))
    resumed = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).option("maxFilesPerTrigger", "1").parquet(str(tmp_path / "in"))
    )
    q2 = daily_value_store_job(resumed, store, str(tmp_path / "ck"))
    q2.awaitTermination(120)
    _clear_swap_leftovers(spark, store)  # the next protocol entry
    assert not os.path.exists(store + "._old")
    got_batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(store)
        if d.startswith("batch_id=")
    )
    assert got_batches == [0, 1, 2], (
        f"prior batches lost after half-swap + resumed landing: {got_batches}"
    )
    # and the merged answer still contains every pre-crash total
    merged = {
        (r["day"], r["event_type"]) for r in daily_value_from_store(spark, store).collect()
    }
    assert {(r[0], r[1]) for r in want} <= merged


def test_bounce_stats_store_job_completes_visitor_stats_trio(spark, sf_dir, tmp_path):
    """The uj_ct leg: the CEP bounce stream reduced to per-day count
    partials at ingest must serve (ymd, n_bounces) equal to batch
    ``sql_dws_surface``'s column — with ``user_days_store_job`` and
    ``visitor_stats_from_store`` covering uv/new, the reference's whole
    VisitorStats DWS row is now served incrementally. Sentinel-epilogue
    harness flushes the CEP
    timers; sentinel bounces land on far-future days and are excluded
    from the compare. Compaction must not move the counts."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        bounce_stats_from_store,
        bounce_stats_store_job,
    )
    from gmall_flink_parent_spark.streaming.store import compact_partial_store

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    pdf = events.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    (tmp_path / "in").mkdir()
    pdf.to_parquet(str(tmp_path / "in" / "f1.parquet"))
    # sentinel pairs: each watermark-advancing row gets a companion 1 s
    # later, so the sentinel's candidate is KILLED by its strictly-next
    # event and user -1 never bounces — the store then holds real-user
    # days only (year-2300 sentinels would overflow the CEP operator's
    # pandas ns timestamps, so far-future filtering is not available
    # here)
    max_ts = pdf["ts"].max()
    for i, days in enumerate((30, 60)):
        base_ts = max_ts + pd.Timedelta(days=days)
        sent = pd.DataFrame(
            {
                "event_id": [10_000_000 + 2 * i, 10_000_001 + 2 * i],
                "ts": [base_ts, base_ts + pd.Timedelta(seconds=1)],
                "user_id": [-1, -1],
            }
        )
        sent["ts"] = sent["ts"].astype("datetime64[us]")
        path = str(tmp_path / "in" / f"f{i + 2}.parquet")
        sent.to_parquet(path)
        t = time.time() + 5 * (i + 1)
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    store = str(tmp_path / "store")
    q = bounce_stats_store_job(stream, store, str(tmp_path / "ck"))
    assert q.awaitTermination(180), "bounce stats job timed out"
    cols = ["ymd", "n_bounces"]
    got = _rows(bounce_stats_from_store(spark, store), cols)
    want = _rows(
        plans.query_map()["sql_dws_surface"](spark, sf_dir)
        .filter(F.col("n_bounces") > 0)
        .select("ymd", "n_bounces"),
        cols,
    )
    assert got == want and len(want) > 0
    compact_partial_store(spark, store, ["ymd"])
    got2 = _rows(bounce_stats_from_store(spark, store), cols)
    assert got2 == want


def test_postings_store_serves_phrase_search(spark, sf_dir, tmp_path):
    """The positional-postings store end to end: two micro-batches land
    (doc_id, pos, token) rows at ingest, and `phrase_search_from_store`
    over the stored index must hash-equal the batch
    `phrase_search_positional` (which re-derives postings from text) —
    the append-only index-maintenance contract: a doc's postings never
    change, so accumulation ≡ one-shot."""
    from gmall_flink_parent_spark.streaming.jobs import (
        curation_ingest_job,
        phrase_search_from_store,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    stream = _two_file_stream(
        spark, tmp_path, docs, "doc_id", "doc_id long, text string, source string"
    )
    curation_ingest_job(
        stream,
        str(tmp_path / "prof"),
        str(tmp_path / "sh"),
        str(tmp_path / "mix"),
        str(tmp_path / "ck"),
        weights={f"src{i}": 1.0 for i in range(20)},
        postings_path=str(tmp_path / "post"),
        gram_path=str(tmp_path / "gram"),
    ).awaitTermination(120)

    got = {
        (r["phrase"], r["doc_id"], r["n_matches"], r["first_pos"])
        for r in phrase_search_from_store(
            spark, str(tmp_path / "post")
        ).collect()
    }
    want = {
        (r["phrase"], r["doc_id"], r["n_matches"], r["first_pos"])
        for r in plans.query_map()["phrase_search_positional"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(want) > 0

    from gmall_flink_parent_spark.streaming.jobs import term_proximity_from_store

    got_px = {
        tuple(r)
        for r in term_proximity_from_store(
            spark, str(tmp_path / "post")
        ).collect()
    }
    want_px = {
        tuple(r)
        for r in plans.query_map()["term_proximity_search"](
            spark, sf_dir
        ).collect()
    }
    assert got_px == want_px and len(want_px) > 0

    from gmall_flink_parent_spark.streaming.jobs import collocation_pmi_from_store

    # PMI is served from the vocab-grain GRAM store (additive partial
    # merge — no postings self-join), landed by the same ingest pass
    got_pmi = {
        tuple(r)
        for r in collocation_pmi_from_store(
            spark, str(tmp_path / "gram")
        ).collect()
    }
    want_pmi = {
        tuple(r)
        for r in plans.query_map()["collocation_pmi"](spark, sf_dir).collect()
    }
    assert got_pmi == want_pmi and len(want_pmi) > 0


def test_visitor_repair_stream_state_survives_restart(spark, sf_dir, tmp_path):
    """W7: a SECOND query instance over the same checkpoint must
    recover the keyed state from the default state store —
    a user whose first visit was processed by the first instance gets
    is_new='0' for later visits processed by the restarted one (a
    fresh-state restart would wrongly claim '1'). Union of both
    instances' emissions must equal batch ``visitor_repair``."""
    import os
    import time

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    pdf = events.toPandas().sort_values(["ts", "event_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half = len(pdf) // 2
    (tmp_path / "in").mkdir()
    pdf.iloc[:half].to_parquet(str(tmp_path / "in" / "f1.parquet"))
    ck = str(tmp_path / "ck")

    out_dir = str(tmp_path / "out")

    def run_instance(name):
        # parquet sink: the memory sink does not support checkpoint
        # recovery, and recovery is exactly what this test exercises
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .parquet(str(tmp_path / "in"))
        )
        q = (
            stateful.visitor_repair_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), f"{name} timed out"
        return spark.read.parquet(out_dir).collect()

    rows1 = run_instance("vr_r1")
    p2 = str(tmp_path / "in" / "f2.parquet")
    pdf.iloc[half:].to_parquet(p2)
    t = time.time() + 5
    os.utime(p2, (t, t))
    rows_all = run_instance("vr_r2")
    keys1 = {(r["event_id"]) for r in rows1}
    rows2 = [r for r in rows_all if r["event_id"] not in keys1]

    cols = ["event_id", "user_id", "ymd", "is_new"]
    got = {tuple(r[c] for c in cols) for r in rows1} | {
        tuple(r[c] for c in cols) for r in rows2
    }
    want = {
        tuple(r[c] for c in cols)
        for r in plans.query_map()["visitor_repair"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
    # the recovery teeth: some instance-2 row must be a REPAIR ('0')
    # for a user whose entire prior history lived in instance 1 —
    # impossible without state recovered from the checkpoint
    users1 = {r["user_id"] for r in rows1}
    repaired_after_restart = [
        r for r in rows2 if r["is_new"] == "0" and r["user_id"] in users1
    ]
    assert repaired_after_restart, "no cross-instance repair observed"


def test_stateful_machines_fix_state_over_out_of_order_chunks():
    """The runtime does not guarantee ts-ordered Arrow chunks within one
    call: a LATER chunk may hold the key's EARLIEST visit. W1 and W2
    must fix their state decision over the whole group before
    labeling/admitting any row (fix: concatenate chunks, sort once).
    Chunk 1 here carries day-2 rows and chunk 2 the day-1 visit —
    first-chunk-only logic would label day 2 as the first visit and
    drop/flip day 1."""
    day1 = pd.Timestamp("2024-03-01 09:00:00").to_datetime64()
    day2a = pd.Timestamp("2024-03-02 10:00:00").to_datetime64()
    day2b = pd.Timestamp("2024-03-02 11:00:00").to_datetime64()
    chunk_late = pd.DataFrame(
        {"event_id": [21, 22], "ts": [day2a, day2b], "user_id": [7, 7]}
    )
    chunk_early = pd.DataFrame({"event_id": [11], "ts": [day1], "user_id": [7]})

    state = _FakeGroupState()
    out = pd.concat(
        list(stateful._repair_is_new((7,), iter([chunk_late, chunk_early]), state))
    )
    got = {int(r.event_id): r.is_new for r in out.itertuples(index=False)}
    assert got == {11: "1", 21: "0", 22: "0"}
    assert state.updated == ("20240301",)

    state = _FakeGroupState()
    out = pd.concat(
        list(
            stateful._keep_first_visit_per_day(
                (7,), iter([chunk_late, chunk_early]), state
            )
        )
    )
    # one row per day, each the day's earliest event — day 1 admitted
    # even though it arrived in the second chunk
    got = {r.visit_ymd: int(r.first_event_id) for r in out.itertuples(index=False)}
    assert got == {"20240301": 11, "20240302": 21}
    assert state.updated == ("20240302",)
    # the TTL runs from the newest event, not the last chunk's
    assert state.timeout_ms == (
        pd.Timestamp(day2b).value // 1_000_000 + stateful.UV_STATE_TTL_MS
    )


def test_bounce_store_out_of_order_replay_fails_loudly(spark, tmp_path):
    """Round-13 brief #3: the CEP bounce store's in-order-log contract
    used to live in a docstring while a random split silently
    undercounted (13/30 correct days at sf1). The job now observes
    each micro-batch's input event-time span and, on termination,
    QUARANTINES the store and raises when any batch arrived behind the
    already-advanced watermark — the exact condition under which
    Spark's global watermark silently drops rows from the stateful
    operator. Ordered replays (the production Kafka-partition-order
    contract) still pass: the trio test above drives the same job
    in order and compares hash-equal to batch."""
    import os
    import time

    from gmall_flink_parent_spark.streaming.jobs import (
        ReplayOrderError,
        bounce_stats_from_store,
        bounce_stats_store_job,
    )

    (tmp_path / "in").mkdir()
    base = pd.Timestamp("2024-01-01")
    # three files with STAGGERED mtimes so batch order is deterministic,
    # but the third goes BACKWARD in event time: its rows sit behind the
    # watermark the second file advanced, so the CEP machine drops them
    spans = [(0, 10), (40, 50), (20, 30)]
    for i, (lo, hi) in enumerate(spans):
        pdf = pd.DataFrame(
            {
                "event_id": [100 * i, 100 * i + 1],
                "ts": [base + pd.Timedelta(days=lo), base + pd.Timedelta(days=hi)],
                "user_id": [1000 + i, 2000 + i],
            }
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = str(tmp_path / "in" / f"f{i}.parquet")
        pdf.to_parquet(path)
        t = time.time() + 5 * (i + 1)
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    store = str(tmp_path / "store")
    q = bounce_stats_store_job(stream, store, str(tmp_path / "ck"))
    with pytest.raises(ReplayOrderError, match="behind the advanced watermark"):
        q.awaitTermination()
    # the quarantine marker poisons every later read until a rebuild
    assert os.path.exists(os.path.join(store, "_REPLAY_VIOLATION"))
    with pytest.raises(ReplayOrderError, match="quarantined"):
        bounce_stats_from_store(spark, store)


def test_chunk_concat_twins_survive_hot_key_batch(spark, tmp_path):
    """Round-13 brief #5: the chunk-order fix concatenates a key's FULL
    micro-batch into one pandas frame. This pins (a) correctness under
    a deliberately skewed key — one user with 120k rows in a single
    micro-batch, written in SHUFFLED order so the sort actually works —
    and (b) the documented memory bound: the concat spans one
    (key, micro-batch), not the corpus, shown by a second batch whose
    already-seen days dedup against STATE (not against a corpus-wide
    frame). Covers both chunk-concat twins on the old API
    (visitor_repair_stream, uv_dedup_stream)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 120_000
    base = pd.Timestamp("2024-03-01")
    days = rng.integers(0, 3, size=n)  # 3 distinct days for the hot key
    hot = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": [
                base + pd.Timedelta(days=int(d), seconds=int(s))
                for d, s in zip(days, rng.integers(0, 86_000, size=n))
            ],
            "user_id": np.full(n, 77, dtype="int64"),
        }
    )
    cold = pd.DataFrame(
        {
            "event_id": [10_000_000, 10_000_001],
            "ts": [base, base + pd.Timedelta(days=1)],
            "user_id": [88, 88],
        }
    )
    batch1 = pd.concat([hot, cold]).sample(frac=1.0, random_state=3)
    batch1["ts"] = batch1["ts"].astype("datetime64[us]")
    (tmp_path / "in").mkdir()
    batch1.to_parquet(str(tmp_path / "in" / "b1.parquet"))
    # second batch: same days again (must dedup via STATE) + one new day
    batch2 = pd.DataFrame(
        {
            "event_id": [20_000_000, 20_000_001],
            "ts": [
                base + pd.Timedelta(days=1, hours=1),
                base + pd.Timedelta(days=5),
            ],
            "user_id": [77, 77],
        }
    )
    batch2["ts"] = batch2["ts"].astype("datetime64[us]")
    p2 = str(tmp_path / "in" / "b2.parquet")
    batch2.to_parquet(p2)
    import time as _time

    t = _time.time() + 10
    os.utime(p2, (t, t))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    # --- uv dedup: first event per (user, day), state carries max day
    out = _run_to_memory(stateful.uv_dedup_stream(stream), spark, "hotkey_uv")
    rows = _rows(out, ["user_id", "visit_ymd", "first_event_id"])
    all_rows = pd.concat([batch1, batch2]).sort_values(["ts", "event_id"])
    all_rows["ymd"] = all_rows["ts"].dt.strftime("%Y%m%d")
    # the batch-1 surviving rows: in-ts-order strictly-increasing new days
    want = []
    for uid, grp in all_rows.groupby("user_id"):
        last = None
        for r in grp.itertuples(index=False):
            if last is None or r.ymd > last:
                want.append((uid, r.ymd, r.event_id))
                last = r.ymd
    # batch-2's repeat of day 2 (20_000_000) must NOT appear — its day
    # deduped against state; day 6 (20_000_001) must appear
    want_ids = sorted(w[2] for w in want)
    assert 20_000_001 in want_ids and 20_000_000 not in want_ids
    assert sorted(r[2] for r in rows) == want_ids
    assert rows == sorted(want)
    # --- visitor repair: every row labeled, is_new only on first day
    out2 = _run_to_memory(
        stateful.visitor_repair_stream(stream), spark, "hotkey_vr"
    )
    got2 = _rows(out2, ["event_id", "user_id", "ymd", "is_new"])
    assert len(got2) == len(all_rows)
    first_day = {
        uid: grp["ymd"].min() for uid, grp in all_rows.groupby("user_id")
    }
    for event_id, uid, ymd, is_new in got2:
        assert is_new == ("1" if ymd == first_day[uid] else "0"), (
            event_id, uid, ymd,
        )
