"""sf1 STREAMING run — drive the flagship streams over the 10× shards
(VERDICT r10 next-round #4).

The batch sf1 harness (``sf1_scale_run.py``) proves no batch head hits
a broadcast/driver wall at 10× bench scale, but the streaming path has
its own wall class the batch run can't see: state-store size. The
interval join buffers BOTH sides until the watermark clears the 30-day
band, so its state is ∝ a month of facts — at sf1 that is ~10× the
rows the sf0.1 stream bench ever held. This harness:

- reuses ``sf1_scale_run.generate()`` (idempotent shard build under
  ``$SPARK_GRAFT_SF1_DIR``);
- drives ``order_wide_stream`` (orders + lineitem, ~7.5M input rows)
  and ``curation_ingest_job`` (~500k docs through the one-scan
  multi-store ingest) with ``availableNow`` over ``N_FILES``
  micro-batches per side, noop sink;
- reports rows/s, per-batch latency, and the state-store peak
  (rows + bytes) from the progress series — the number that would
  reveal a memory wall.

Usage: ``python scripts/sf1_stream_run.py [out.json]`` — results →
SCALE.md "sf1 streaming run".
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.sf1_scale_run import SF1_DIR, generate  # noqa: E402
from scripts.stream_bench import (  # noqa: E402
    _drain,
    _file_stream,
    _split_table,
    _split_table_ordered,
)

N_FILES = 8  # micro-batches per side: a real state build/drain series


def _state_peak(query) -> dict:
    """Max state rows/bytes across the progress series — the wall
    metric (batch latency tells you it's slow; state tells you it's
    about to OOM)."""
    rows = bytes_ = 0
    for p in query.recentProgress:
        for op in p.get("stateOperators", []):
            rows = max(rows, op.get("numRowsTotal", 0))
            bytes_ = max(bytes_, op.get("memoryUsedBytes", 0))
    return {"state_rows_peak": rows, "state_bytes_peak": bytes_}


def run(work: str | None = None) -> dict:
    from gmall_flink_parent_spark.functions.curation import _MIX_HEAD_WEIGHTS
    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark.streaming.jobs import (
        curation_ingest_job,
        order_wide_stream,
    )

    spark = get_spark("gmall-sf1-stream")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    owns_work = work is None
    if owns_work:
        work = tempfile.mkdtemp(prefix="sf1_stream_")
    heads: dict[str, dict] = {}
    try:
        n_orders = _split_table(spark, SF1_DIR, "orders", f"{work}/orders", N_FILES)
        n_details = _split_table(
            spark, SF1_DIR, "lineitem", f"{work}/details", N_FILES
        )
        joined = order_wide_stream(
            _file_stream(spark, f"{work}/orders"),
            _file_stream(spark, f"{work}/details"),
        )
        t0 = time.monotonic()
        q = (
            joined.writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ck_ow")
            .trigger(availableNow=True)
            .start()
        )
        stats = _drain(q)
        wall = round(time.monotonic() - t0, 3)
        heads["order_wide_stream"] = {
            "rows_in": n_orders + n_details,
            "wall_sec": wall,
            "rows_per_sec": round((n_orders + n_details) / wall, 1),
            **stats,
            **_state_peak(q),
        }

        n_docs = _split_table(spark, SF1_DIR, "documents", f"{work}/docs", N_FILES)
        docs = _file_stream(spark, f"{work}/docs").select(
            "doc_id", "text", "source", "lang"
        )
        t0 = time.monotonic()
        q = curation_ingest_job(
            docs,
            f"{work}/prof",
            f"{work}/sh",
            f"{work}/mix",
            f"{work}/ck_ingest",
            _MIX_HEAD_WEIGHTS,
            vocab_path=f"{work}/tf",
            dsir_path=f"{work}/grams",
        )
        stats = _drain(q)
        wall = round(time.monotonic() - t0, 3)
        heads["curation_ingest_job"] = {
            "rows_in": n_docs,
            "wall_sec": wall,
            "rows_per_sec": round(n_docs / wall, 1),
            **stats,
            **_state_peak(q),
        }
    finally:
        if owns_work:
            shutil.rmtree(work, ignore_errors=True)
    return {"metric": "sf1_stream_run", "sf": 1.0, "n_files": N_FILES, "heads": heads}


def run_stores(work: str | None = None) -> dict:
    """Drive the three incremental-STORE jobs over the sf1 shards and
    hash-compare every from-store final pass against its batch twin AT
    SF1 (VERDICT r11 next-round #3) — the first at-scale proof of the
    store-serving pattern end to end. The sf0.1 suite pins hash parity;
    what only this run can show is (a) store-job throughput at 10× and
    (b) that the PARITY survives real multi-batch accumulation at sf1
    volumes (6M events / 6M lineitems through 8 micro-batches)."""
    import gmall_flink_parent_spark.plans as plans  # noqa: F401

    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark.sources.tables import load_table
    from gmall_flink_parent_spark.streaming.jobs import (
        daily_value_from_store,
        daily_value_store_job,
        pricing_summary_from_store,
        pricing_summary_store_job,
        sequence_support_from_store,
        sequence_support_store_job,
    )

    spark = get_spark("gmall-sf1-stores")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    owns_work = work is None
    if owns_work:
        work = tempfile.mkdtemp(prefix="sf1_stores_")
    heads: dict[str, dict] = {}

    def rows_of(df) -> list[tuple]:
        cols = sorted(df.columns)
        return sorted(
            (tuple(repr(r[c]) for c in cols) for r in df.collect()), key=repr
        )

    try:
        n_events = _split_table(spark, SF1_DIR, "events", f"{work}/events", N_FILES)
        n_li = _split_table(spark, SF1_DIR, "lineitem", f"{work}/li", N_FILES)

        def drive(name, job, in_dir, n_rows, store, ck, from_store, batch_df):
            t0 = time.monotonic()
            q = job(_file_stream(spark, in_dir), store, ck)
            stats = _drain(q)
            wall = round(time.monotonic() - t0, 3)
            got = rows_of(from_store(spark, store))
            want = rows_of(batch_df)
            assert got == want and len(want) > 0, (
                f"{name}: sf1 store-vs-batch parity broke "
                f"({len(got)} vs {len(want)} rows)"
            )
            heads[name] = {
                "rows_in": n_rows,
                "wall_sec": wall,
                "rows_per_sec": round(n_rows / wall, 1),
                **stats,
                "store_vs_batch_sf1": "hash-equal",
                "result_rows": len(want),
            }

        ev = load_table(spark, SF1_DIR, "events")
        drive(
            "daily_value_store_job",
            daily_value_store_job,
            f"{work}/events",
            n_events,
            f"{work}/dv_store",
            f"{work}/ck_dv",
            daily_value_from_store,
            ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("decimal(18,2)")
                .alias("v")
            ),
        )
        drive(
            "sequence_support_store_job",
            sequence_support_store_job,
            f"{work}/events",
            n_events,
            f"{work}/ss_store",
            f"{work}/ck_ss",
            sequence_support_from_store,
            plans.query_map()["event_sequence_support"](spark, SF1_DIR),
        )
        drive(
            "pricing_summary_store_job",
            pricing_summary_store_job,
            f"{work}/li",
            n_li,
            f"{work}/ps_store",
            f"{work}/ck_ps",
            pricing_summary_from_store,
            plans.query_map()["pricing_summary"](spark, SF1_DIR),
        )
        from gmall_flink_parent_spark.streaming.jobs import (
            bounce_stats_store_job,
            visitor_stats_from_store,
            visitor_stats_store_job,
        )

        drive(
            "visitor_stats_store_job",
            visitor_stats_store_job,
            f"{work}/events",
            n_events,
            f"{work}/vs_store",
            f"{work}/ck_vs",
            visitor_stats_from_store,
            plans.query_map()["sql_dws_surface"](spark, SF1_DIR).select(
                "ymd", "n_uv", "n_new_visitors"
            ),
        )
        # bounce_stats at FULL sf1 parity (r12 verdict next-round #3):
        # the CEP machine only emits a day's last candidates once the
        # watermark passes them, so two sentinel PAIRS (each
        # watermark-advancing row followed 1 s later by its killer, so
        # user -1 itself never bounces) flush every real timer — the
        # same deterministic epilogue the test-scale pin uses, here
        # driven over 600k events so the store's count partials must
        # hash-match the batch rollup at 10× bench scale.
        from gmall_flink_parent_spark.streaming.jobs import bounce_stats_from_store

        # the CEP machine consumes an IN-ORDER log (a random split makes
        # later micro-batches carry rows behind the advanced watermark,
        # which the 0 s-delay stream drops — undercounting vs batch), so
        # the bounce replay is range-partitioned on ts
        ev_stream_dir = f"{work}/events_bs"
        _split_table_ordered(spark, SF1_DIR, "events", ev_stream_dir, N_FILES)
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        ev_schema = spark.read.parquet(ev_stream_dir).schema
        for i, days in enumerate((30, 60)):
            import datetime

            base_ts = max_ts + datetime.timedelta(days=days)
            sent = spark.createDataFrame(
                [
                    (10_000_000 + 2 * i, base_ts, -1),
                    (
                        10_000_001 + 2 * i,
                        base_ts + datetime.timedelta(seconds=1),
                        -1,
                    ),
                ],
                "event_id long, ts timestamp, user_id long",
            )
            for f in ev_schema.fields:
                if f.name not in ("event_id", "ts", "user_id"):
                    sent = sent.withColumn(f.name, F.lit(None).cast(f.dataType))
            sent_path = f"{ev_stream_dir}/sentinel_{i}"
            sent.select([f.name for f in ev_schema.fields]).coalesce(
                1
            ).write.parquet(sent_path)
            t = time.time() + 100 * (i + 1)  # strictly after every staggered part mtime
            for fn in os.listdir(sent_path):
                full = os.path.join(sent_path, fn)
                os.utime(full, (t, t))
                if fn.endswith(".parquet"):
                    shutil.move(full, f"{ev_stream_dir}/zsent_{i}.parquet")
                    os.utime(f"{ev_stream_dir}/zsent_{i}.parquet", (t, t))
            shutil.rmtree(sent_path, ignore_errors=True)
        t0 = time.monotonic()
        q = bounce_stats_store_job(
            _file_stream(spark, ev_stream_dir),
            f"{work}/bs_store",
            f"{work}/ck_bs",
        )
        stats = _drain(q)
        wall = round(time.monotonic() - t0, 3)
        got = rows_of(bounce_stats_from_store(spark, f"{work}/bs_store"))
        want = rows_of(
            plans.query_map()["sql_dws_surface"](spark, SF1_DIR)
            .filter(F.col("n_bounces") > 0)
            .select("ymd", "n_bounces")
        )
        assert got == want and len(want) > 0, (
            f"bounce_stats_store_job: sf1 store-vs-batch parity broke "
            f"({len(got)} vs {len(want)} rows)"
        )
        heads["bounce_stats_store_job"] = {
            "rows_in": n_events,
            "wall_sec": wall,
            "rows_per_sec": round(n_events / wall, 1),
            **stats,
            **_state_peak(q),
            "store_vs_batch_sf1": "hash-equal",
            "result_rows": len(want),
        }
    finally:
        if owns_work:
            shutil.rmtree(work, ignore_errors=True)
    return {
        "metric": "sf1_store_jobs_run",
        "sf": 1.0,
        "n_files": N_FILES,
        "heads": heads,
    }


def run_gram(work: str | None = None) -> dict:
    """Drive the GRAM-COUNT partial store at sf1 (r12 verdict
    next-round #2): the ingest pass lands vocab-grain (n, w1, w2, c)
    partials, and ``collocation_pmi_from_store`` must (a) hash-equal
    the batch ``collocation_pmi`` over the same 50k-doc corpus and
    (b) run at most as long as the batch head — the partial merge is
    vocab-sized where the batch head re-scans all text (the round-12
    postings-self-join form ran 3× batch; this closes it)."""
    import gmall_flink_parent_spark.plans as plans

    from gmall_flink_parent_spark.functions.curation import _MIX_HEAD_WEIGHTS
    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark.streaming.jobs import (
        collocation_pmi_from_store,
        curation_ingest_job,
    )

    spark = get_spark("gmall-sf1-gram")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    owns_work = work is None
    if owns_work:
        work = tempfile.mkdtemp(prefix="sf1_gram_")
    heads: dict[str, dict] = {}

    def rows_of(df) -> list[tuple]:
        cols = sorted(df.columns)
        return sorted(
            (tuple(repr(r[c]) for c in cols) for r in df.collect()), key=repr
        )

    try:
        n_docs = _split_table(spark, SF1_DIR, "documents", f"{work}/docs", N_FILES)
        docs = _file_stream(spark, f"{work}/docs").select(
            "doc_id", "text", "source", "lang"
        )
        t0 = time.monotonic()
        q = curation_ingest_job(
            docs,
            f"{work}/prof",
            f"{work}/sh",
            f"{work}/mix",
            f"{work}/ck_ingest",
            _MIX_HEAD_WEIGHTS,
            gram_path=f"{work}/gram",
        )
        stats = _drain(q)
        ingest_wall = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        got = rows_of(collocation_pmi_from_store(spark, f"{work}/gram"))
        store_sec = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        want = rows_of(plans.query_map()["collocation_pmi"](spark, SF1_DIR))
        batch_sec = round(time.monotonic() - t0, 3)
        assert got == want and len(want) > 0, (
            f"collocation_pmi: sf1 store-vs-batch parity broke "
            f"({len(got)} vs {len(want)} rows)"
        )
        heads["gram_store_ingest"] = {
            "rows_in": n_docs,
            "wall_sec": ingest_wall,
            "rows_per_sec": round(n_docs / ingest_wall, 1),
            **stats,
        }
        heads["collocation_pmi_from_store"] = {
            "store_sec": store_sec,
            "batch_sec": batch_sec,
            "store_vs_batch_sf1": "hash-equal",
            "result_rows": len(want),
        }
    finally:
        if owns_work:
            shutil.rmtree(work, ignore_errors=True)
    return {
        "metric": "sf1_gram_store_run",
        "sf": 1.0,
        "n_files": N_FILES,
        "heads": heads,
    }


def run_ann(work: str | None = None) -> dict:
    """Streaming ANN maintenance at sf1 (r12 verdict stretch #9): seed
    the coarse quantizer offline, drive `centroid_refresh_job` over the
    sf1 embedding shards (8 micro-batches of exact mini-batch k-means),
    build the cell index from the REFRESHED store via `ann_index_job`,
    then serve IVF top-k from that index and pin recall vs brute force
    over the same corpus."""
    import gmall_flink_parent_spark.plans as plans  # noqa: F401  (registry)

    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.similarity import (
        TOP_K,
        N_QUERIES,
        cosine_topk_frame,
        ivf_assign_incremental,
    )
    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark.sources.tables import load_table
    from gmall_flink_parent_spark.streaming.jobs import (
        ann_index_job,
        centroid_refresh_job,
        write_initial_centroid_store,
    )

    spark = get_spark("gmall-sf1-ann")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    owns_work = work is None
    if owns_work:
        work = tempfile.mkdtemp(prefix="sf1_ann_")
    heads: dict[str, dict] = {}
    try:
        n_emb = _split_table(spark, SF1_DIR, "embeddings", f"{work}/emb", N_FILES)
        t0 = time.monotonic()
        write_initial_centroid_store(spark, SF1_DIR, f"{work}/cents")
        seed_sec = round(time.monotonic() - t0, 1)

        t0 = time.monotonic()
        q = centroid_refresh_job(
            _file_stream(spark, f"{work}/emb").select("vec_id", "embedding"),
            f"{work}/cents",
            f"{work}/ck_cr",
        )
        stats = _drain(q)
        refresh_wall = round(time.monotonic() - t0, 3)
        heads["centroid_refresh_job"] = {
            "rows_in": n_emb,
            "seed_sec": seed_sec,
            "wall_sec": refresh_wall,
            "rows_per_sec": round(n_emb / refresh_wall, 1),
            **stats,
        }

        t0 = time.monotonic()
        q = ann_index_job(
            _file_stream(spark, f"{work}/emb").select("vec_id", "embedding"),
            f"{work}/cents",
            f"{work}/cells",
            f"{work}/ck_ai",
        )
        stats = _drain(q)
        index_wall = round(time.monotonic() - t0, 3)
        heads["ann_index_job"] = {
            "rows_in": n_emb,
            "wall_sec": index_wall,
            "rows_per_sec": round(n_emb / index_wall, 1),
            **stats,
        }

        # serve IVF top-k FROM the refreshed store: candidate cells come
        # from the streamed index, query cells from the refreshed
        # quantizer — zero reliance on the fixture's precomputed label
        emb = load_table(spark, SF1_DIR, "embeddings").select(
            "vec_id", "embedding"
        )
        cells = spark.read.parquet(f"{work}/cells").select(
            "vec_id", F.col("cell").alias("label")
        )
        emb_cells = emb.join(cells, "vec_id")
        cents = spark.read.parquet(f"{work}/cents").select("cell", "centroid")
        q_emb = emb.filter(F.col("vec_id") < N_QUERIES)
        q_cells = ivf_assign_incremental(q_emb, cents).select(
            F.col("vec_id").alias("query_id"), F.col("cell").alias("q_label")
        )
        queries = q_emb.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ).join(q_cells, "query_id")

        t0 = time.monotonic()
        ivf = cosine_topk_frame(emb_cells, queries, TOP_K, same_label=True)
        ivf_rows = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
        ivf_sec = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        exact = cosine_topk_frame(emb.withColumn("label", F.lit(0)), queries, TOP_K)
        exact_rows = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        exact_sec = round(time.monotonic() - t0, 3)
        recall = round(len(ivf_rows & exact_rows) / len(exact_rows), 4)
        heads["ann_ivf_from_refreshed_store"] = {
            "n_queries": N_QUERIES,
            "top_k": TOP_K,
            "ivf_sec": ivf_sec,
            "bruteforce_sec": exact_sec,
            "recall_vs_bruteforce": recall,
        }
        assert recall >= 0.9, f"sf1 IVF recall floor broke: {recall}"
    finally:
        if owns_work:
            shutil.rmtree(work, ignore_errors=True)
    return {
        "metric": "sf1_ann_maintenance_run",
        "sf": 1.0,
        "n_files": N_FILES,
        "heads": heads,
    }


def main() -> None:
    if "--stores" in sys.argv:
        doc = run_stores()
    elif "--gram" in sys.argv:
        doc = run_gram()
    elif "--ann" in sys.argv:
        doc = run_ann()
    else:
        doc = run()
    line = json.dumps(doc)
    print(line)
    out = [a for a in sys.argv[1:] if not a.startswith("--")]
    if out:
        with open(out[0], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
