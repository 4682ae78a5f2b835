"""Streaming throughput/latency bench — the perf number for the half of
the engine the batch bench never touches (VERDICT r9 "What's missing"
#2 / next-round #3).

Drives the three flagship streams end-to-end with
``trigger(availableNow=True)`` over $SPARK_GRAFT_SF_DIR (default
sf0.1), split into multiple micro-batches so per-batch latency is a
real series, and prints ONE JSON line:

    {"metric": "stream_bench", "sf": 0.1, "heads": {
        "order_wide_stream":       {rows_in, wall_sec, rows_per_sec,
                                    n_batches, batch_ms_median, batch_ms_max},
        "order_wide_outer_stream": {...},
        "curation_ingest_job":     {...}}}

Heads:

- ``order_wide_stream`` / ``order_wide_outer_stream``: the stream-stream
  event-time interval join (reference ``OrderWideApp.java:134-141``) in
  its inner and left-outer forms — orders and lineitem each split into
  ``N_FILES`` parquet files, ``maxFilesPerTrigger=1`` per side, so the
  join's state builds and drains across real micro-batch boundaries.
  Sink is ``noop`` (measures the engine, not a collect).
- ``curation_ingest_job``: the one-scan multi-store LLM ingest pass
  (profile + shingle + mixture + vocab + DSIR gram stores) over the
  documents table — the 100 TB ingest-cost proxy, where the text scan
  dominates and the job exists to pay it once.
- ``uv_dedup_stream``: the applyInPandasWithState tier — per-key Python
  state with event-time TTL (the reference's ValueState port), i.e. the
  Arrow/Python round-trip cost the JVM-side heads never pay.

Numbers land in SCALE.md ("Streaming bench"); a coarse regression guard
(schema + generous rows/s floor at sf0.01, never a tight timer) lives in
``tests/test_streaming.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_FILES = 4  # micro-batches per side (availableNow honors maxFilesPerTrigger)


def _split_table(spark, sf_dir: str, name: str, out_dir: str, n: int) -> int:
    """Write ``{sf_dir}/{name}.parquet`` as ``n`` files under ``out_dir``
    so the file stream sees ``n`` micro-batches; returns the row count."""
    from gmall_flink_parent_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, name)
    df.repartition(n).write.mode("overwrite").parquet(out_dir)
    return df.count()


def _split_table_ordered(
    spark, sf_dir: str, name: str, out_dir: str, n: int, ts_col: str = "ts"
) -> int:
    """Like ``_split_table`` but RANGE-partitioned on ``ts_col`` so the
    file stream replays the table as an in-order log: file k holds the
    k-th time range and the source's (modTime, path) ordering feeds
    them oldest-first. Required by watermark-driven consumers (the CEP
    bounce machine drops rows behind the advanced watermark, so a
    random split silently undercounts); the additive partial stores
    accept either split."""
    import os
    import time

    from gmall_flink_parent_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, name)
    df.repartitionByRange(n, ts_col).write.mode("overwrite").parquet(out_dir)
    # the source orders files by (modTime); a bulk write gives every
    # part an identical mtime, leaving the replay order arbitrary —
    # stagger mtimes in part-name order (part-0000k = k-th time range)
    base = time.time()
    for i, fn in enumerate(sorted(os.listdir(out_dir))):
        if fn.endswith(".parquet"):
            os.utime(os.path.join(out_dir, fn), (base + i, base + i))
    return df.count()


def _file_stream(spark, path: str, files_per_trigger: int = 1):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _drain(query) -> dict:
    """Wait for an availableNow query and reduce its progress series to
    the bench metrics (wall time measured by the caller)."""
    assert query.awaitTermination(1800), "stream timed out"
    progress = query.recentProgress
    batch_ms = [
        p["durationMs"]["triggerExecution"]
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    batch_ms.sort()
    return {
        "n_batches": len(batch_ms),
        "batch_ms_median": batch_ms[len(batch_ms) // 2] if batch_ms else None,
        "batch_ms_max": batch_ms[-1] if batch_ms else None,
    }


def _bench_order_wide(spark, orders_dir: str, details_dir: str, rows_in: int,
                      mode: str, checkpoint: str,
                      enriched_sf_dir: str | None = None) -> dict:
    from gmall_flink_parent_spark.streaming.jobs import (
        order_wide_enriched_stream,
        order_wide_outer_stream,
        order_wide_stream,
    )

    if enriched_sf_dir is not None:
        joined = order_wide_enriched_stream(
            _file_stream(spark, orders_dir),
            _file_stream(spark, details_dir),
            spark,
            enriched_sf_dir,
        )
    else:
        from gmall_flink_parent_spark.streaming.jobs import order_wide_semi_stream

        build = {
            "inner": order_wide_stream,
            "outer": order_wide_outer_stream,
            "semi": order_wide_semi_stream,
        }[mode]
        joined = build(
            _file_stream(spark, orders_dir), _file_stream(spark, details_dir)
        )
    t0 = time.monotonic()
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_uv_dedup(
    spark, events_dir: str, rows_in: int, checkpoint: str, builtin: bool = False
) -> dict:
    from gmall_flink_parent_spark.streaming.stateful import (
        uv_dedup_stream,
        uv_dedup_stream_builtin,
    )

    build = uv_dedup_stream_builtin if builtin else uv_dedup_stream
    deduped = build(_file_stream(spark, events_dir))
    t0 = time.monotonic()
    q = (
        deduped.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_bounce(spark, events_dir: str, rows_in: int, checkpoint: str) -> dict:
    """W3, the CEP bounce machine, on ``applyInPandasWithState``. It
    reads an ORDERED event log: the machine is watermark-driven, and a
    random split drops late rows and undercounts."""
    from gmall_flink_parent_spark.streaming.stateful import bounce_detect_stream

    events = _file_stream(spark, events_dir)
    t0 = time.monotonic()
    q = (
        bounce_detect_stream(events)
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_visitor_repair(
    spark, events_dir: str, rows_in: int, checkpoint: str
) -> dict:
    """W1 visitor repair on ``applyInPandasWithState``: per-key pandas
    state inline in the Python worker."""
    from gmall_flink_parent_spark.streaming.stateful import visitor_repair_stream

    events = _file_stream(spark, events_dir).select("event_id", "ts", "user_id")
    t0 = time.monotonic()
    q = (
        visitor_repair_stream(events)
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_seq_store(spark, events_dir: str, rows_in: int, work: str) -> dict:
    from gmall_flink_parent_spark.streaming.jobs import sequence_support_store_job

    events = _file_stream(spark, events_dir).select("user_id", "event_type", "ts")
    t0 = time.monotonic()
    q = sequence_support_store_job(
        events, f"{work}/seq_store", f"{work}/ck_seq"
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_daily_store(spark, events_dir: str, rows_in: int, work: str) -> dict:
    from gmall_flink_parent_spark.streaming.jobs import daily_value_store_job

    events = _file_stream(spark, events_dir).select("ts", "event_type", "value")
    t0 = time.monotonic()
    q = daily_value_store_job(
        events, f"{work}/daily_store", f"{work}/ck_daily"
    )
    stats = _drain(q)
    wall = round(time.monotonic() - t0, 3)
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def _bench_ingest(spark, docs_dir: str, rows_in: int, work: str) -> dict:
    from gmall_flink_parent_spark.functions.curation import _MIX_HEAD_WEIGHTS
    from gmall_flink_parent_spark.streaming.jobs import curation_ingest_job

    docs = _file_stream(spark, docs_dir).select("doc_id", "text", "source", "lang")
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
    return {
        "rows_in": rows_in,
        "wall_sec": wall,
        "rows_per_sec": round(rows_in / wall, 1),
        **stats,
    }


def run(
    sf_dir: str,
    work: str | None = None,
    trigger_counts: tuple[int, ...] | None = None,
) -> dict:
    """Default run: the four flagship heads at N_FILES micro-batches
    plus the JVM-builtin W2 twin. ``trigger_counts`` (e.g. (1, 4, 16))
    additionally re-runs the inner interval join and the ingest job at
    each trigger count — the fixed-cost amortization series (VERDICT
    r10 #3): availableNow pays a per-trigger planning/commit overhead,
    so rows/s should rise toward the scan-bound ceiling as the same
    rows arrive in fewer, larger batches."""
    from gmall_flink_parent_spark.session import get_spark

    spark = get_spark("gmall-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    owns_work = work is None
    if owns_work:
        work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        n_orders = _split_table(spark, sf_dir, "orders", f"{work}/orders", N_FILES)
        n_details = _split_table(spark, sf_dir, "lineitem", f"{work}/details", N_FILES)
        n_docs = _split_table(spark, sf_dir, "documents", f"{work}/docs", N_FILES)
        n_events = _split_table(spark, sf_dir, "events", f"{work}/events", N_FILES)
        _split_table_ordered(spark, sf_dir, "events", f"{work}/events_ord", N_FILES)
        heads = {
            "order_wide_stream": _bench_order_wide(
                spark, f"{work}/orders", f"{work}/details",
                n_orders + n_details, mode="inner", checkpoint=f"{work}/ck_inner",
            ),
            "order_wide_outer_stream": _bench_order_wide(
                spark, f"{work}/orders", f"{work}/details",
                n_orders + n_details, mode="outer", checkpoint=f"{work}/ck_outer",
            ),
            # the semi form: cheapest state of the join family (a
            # matched order leaves the state store immediately)
            "order_wide_semi_stream": _bench_order_wide(
                spark, f"{work}/orders", f"{work}/details",
                n_orders + n_details, mode="semi", checkpoint=f"{work}/ck_semi",
            ),
            # full EP3: interval join + 6-way dim enrichment in-stream
            "order_wide_enriched_stream": _bench_order_wide(
                spark, f"{work}/orders", f"{work}/details",
                n_orders + n_details, mode="inner",
                checkpoint=f"{work}/ck_enriched", enriched_sf_dir=sf_dir,
            ),
            "curation_ingest_job": _bench_ingest(
                spark, f"{work}/docs", n_docs, work
            ),
            "uv_dedup_stream": _bench_uv_dedup(
                spark, f"{work}/events", n_events, f"{work}/ck_uv"
            ),
            "uv_dedup_stream_builtin": _bench_uv_dedup(
                spark, f"{work}/events", n_events, f"{work}/ck_uvb", builtin=True
            ),
            # W3 CEP bounce (ordered log: the watermark-driven machine
            # needs time-range file replay)
            "bounce_detect_stream": _bench_bounce(
                spark, f"{work}/events_ord", n_events, f"{work}/ck_bds"
            ),
            # W1 visitor repair
            "visitor_repair_stream": _bench_visitor_repair(
                spark, f"{work}/events", n_events, f"{work}/ck_vrs"
            ),
            # extrema-partial incremental store (round-11 post-seal)
            "sequence_support_store_job": _bench_seq_store(
                spark, f"{work}/events", n_events, work
            ),
            # the six-consumer day-by-type decimal partial store
            "daily_value_store_job": _bench_daily_store(
                spark, f"{work}/events", n_events, work
            ),
        }
        amortization: dict[str, dict] = {}
        for n in trigger_counts or ():
            if n == N_FILES:
                amortization[str(n)] = {
                    "order_wide_stream": heads["order_wide_stream"],
                    "curation_ingest_job": heads["curation_ingest_job"],
                }
                continue
            od, dd, dc = (
                f"{work}/orders_{n}",
                f"{work}/details_{n}",
                f"{work}/docs_{n}",
            )
            _split_table(spark, sf_dir, "orders", od, n)
            _split_table(spark, sf_dir, "lineitem", dd, n)
            _split_table(spark, sf_dir, "documents", dc, n)
            amort_work = f"{work}/amort_{n}"
            os.makedirs(amort_work, exist_ok=True)
            amortization[str(n)] = {
                "order_wide_stream": _bench_order_wide(
                    spark, od, dd, n_orders + n_details,
                    mode="inner", checkpoint=f"{work}/ck_inner_{n}",
                ),
                "curation_ingest_job": _bench_ingest(
                    spark, dc, n_docs, amort_work
                ),
            }
    finally:
        if owns_work:
            shutil.rmtree(work, ignore_errors=True)
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    doc = {
        "metric": "stream_bench",
        "sf": float(m.group(1)) if m else -1.0,
        "heads": heads,
    }
    if amortization:
        doc["amortization"] = amortization
    return doc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    line = json.dumps(run(sf_dir, trigger_counts=(1, 4, 16)))
    print(line)
    # optional machine-readable artifact (committed as STREAM_BENCH.json
    # each round so streaming drift is diffable like BENCH_DETAIL.json)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
