"""Reproducible timing for the training-mixture pipeline.

Runs the composed chain — curation keep verdict → canonical exact-dup
keeper → weighted mixing → training order → sequence packing — at a
given scale factor and reports warm min-of-reps wall time plus the
stream/packing shape, so the SCALE.md claim ("the whole chain runs warm
in ~3 s at sf0.1, dominated by the verdict's n-gram scan") stays a
measurement, not an assertion.

Usage:
    python scripts/mixture_pipeline_bench.py [SF_DIR] [REPS]

Defaults: /root/testdata/sf0.1, 3 reps. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from gmall_flink_parent_spark.functions.curation import (
        assemble_training_mixture,
        pack_sequences,
    )
    from gmall_flink_parent_spark.session import get_spark
    from gmall_flink_parent_spark.sources.tables import load_table

    spark = get_spark("mixture-pipeline-bench")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    # a realistic mixture: upsample a third, downsample a third
    weights = {
        s: (2.0 if i % 3 == 0 else (0.5 if i % 3 == 1 else 1.0))
        for i, s in enumerate(srcs)
    }
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )

    best, n_samples, n_seqs = float("inf"), 0, 0
    for _ in range(reps):
        t0 = time.perf_counter()
        packed = pack_sequences(
            assemble_training_mixture(spark, sf_dir, weights).join(toks, "doc_id")
        )
        stats = packed.agg(
            F.count(F.lit(1)).alias("n"), (F.max("seq_id") + 1).alias("s")
        ).collect()[0]
        best = min(best, time.perf_counter() - t0)
        n_samples, n_seqs = int(stats["n"]), int(stats["s"])

    # loader-path stage: shard the ordered stream, then time a
    # resume-at-midpoint slice read (the partition-pruned path a
    # crashed training run pays)
    import tempfile

    from gmall_flink_parent_spark.functions.curation import (
        assemble_training_mixture as _asm,
        read_training_slice,
        write_training_shards,
    )

    shard_dir = tempfile.mkdtemp(prefix="mix-shards-")
    block = max(1, n_samples // 16)
    t0 = time.perf_counter()
    write_training_shards(
        _asm(spark, sf_dir, weights).join(toks, "doc_id"), shard_dir, block=block
    )
    shard_write_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n_resumed = read_training_slice(
        spark, shard_dir, n_samples // 2, n_samples
    ).count()
    slice_read_s = round(time.perf_counter() - t0, 3)

    # store-based path: the production shape where mixing happened AT
    # INGEST (mixture_job / curation_ingest_job accumulating batch_id
    # partitions) and a training run pays ONLY order + pack over the
    # store. Build a 4-batch store from the same verdict-kept corpus
    # (mixing is hash-decided and per-doc independent, so per-batch
    # mixing ≡ the one-shot mix — the any-split property), then time
    # the per-run tail. The gap between this and the one-shot chain is
    # exactly the verdict + mix cost that ingest-time mixing amortizes
    # across training runs.
    from gmall_flink_parent_spark.functions.curation import (
        corpus_filter_pipeline,
        corpus_mix_weighted,
    )
    from gmall_flink_parent_spark.streaming.jobs import (
        land_batch,
        training_order_from_store,
    )

    kept = (
        corpus_filter_pipeline(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    docs_kept = docs.join(kept, "doc_id", "left_semi")
    bounds = docs_kept.approxQuantile("doc_id", [0.25, 0.5, 0.75], 0.0)
    store_dir = tempfile.mkdtemp(prefix="mix-store-")
    t0 = time.perf_counter()
    lo = float("-inf")
    for i, hi in enumerate([*bounds, float("inf")]):
        batch = docs_kept.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi))
        land_batch(corpus_mix_weighted(batch, weights, seed="pipe-v1:mix"), store_dir, i)
        lo = hi
    store_ingest_s = round(time.perf_counter() - t0, 3)

    per_run_best, n_from_store = float("inf"), 0
    for _ in range(reps):
        t0 = time.perf_counter()
        packed = pack_sequences(
            training_order_from_store(spark, store_dir, seed="pipe-v1:order").join(
                toks, "doc_id"
            )
        )
        stats = packed.agg(
            F.count(F.lit(1)).alias("n"), (F.max("seq_id") + 1).alias("s")
        ).collect()[0]
        per_run_best = min(per_run_best, time.perf_counter() - t0)
        n_from_store = int(stats["n"])
    assert n_from_store == n_samples, (n_from_store, n_samples)

    print(
        json.dumps(
            {
                "metric": "mixture_pipeline_warm_sec",
                "value": round(best, 3),
                "unit": "sec",
                "sf_dir": sf_dir,
                "reps": reps,
                "n_samples": n_samples,
                "n_sequences": n_seqs,
                "n_sources": len(srcs),
                "shard_write_sec": shard_write_s,
                "resume_slice_read_sec": slice_read_s,
                "n_resumed": n_resumed,
                "shard_block": block,
                "store_ingest_4batch_sec": store_ingest_s,
                "per_run_from_store_sec": round(per_run_best, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
