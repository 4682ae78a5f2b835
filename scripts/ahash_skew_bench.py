"""Adversarial-skew benchmark for the salted aHash pigeonhole join.

Generates a degenerate fingerprint corpus — the near-uniform-image
failure mode the salted fallback exists for: N images whose 16-bit
aHashes ALL share one 8-bit probe block (all-black thumbnails /
solid-color placeholders collapse the luminance bit pattern), so the
table-0 probe bucket holds every row and the plain equi-join
concentrates B^2 Hamming evaluations in a single task (one join key —
AQE's skew split cannot divide it, because every pair needs both rows).

Runs ``ahash_pairs_frame`` over that frame twice — with the salted
hot-bucket threshold set and unset — and reports wall time per mode
(min of ``reps``), result parity (pair count + order-insensitive
checksum must be identical), and the bucket/build-group sizes.

The frame enters through parquet (written once to a temp dir), the
same cold path the store head reads, so both modes pay identical scan
cost and the delta is the join alone.

Broadcast joins are DISABLED for the measurement: this models the
regime the salt exists for. When the exploded hash frame fits under
the broadcast threshold (≲ a few hundred thousand images), Spark
compiles a BroadcastHashJoin whose parallelism follows the SCAN
partitions — no per-bucket task exists and the hot bucket is already
spread across cores (measured: plain-broadcast 10.2 s vs
salted-broadcast 58.6 s at 60k rows — the salt is pure overhead
there, which is exactly why the fallback is opt-in). Past broadcast
size — any real image corpus — the join shuffles on the 8-bit probe
key, the hot bucket becomes ONE task, and the salt is the only thing
standing between the plan and a quadratic straggler.

Usage: python scripts/ahash_skew_bench.py [n_rows]
Writes one JSON line; results land in SCALE.md.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gmall_flink_parent_spark.functions.multimodal import (
    AHASH_HOT_BUCKET,
    N_AHASH_SALT,
    ahash_pairs_frame,
)
from gmall_flink_parent_spark.registry import release_caches, scoped_persist
from gmall_flink_parent_spark.session import get_spark


def make_hashes(spark, out_dir: str, n_rows: int) -> str:
    rng = random.Random(42)
    # low byte constant 0x00 (the degenerate block); high byte uniform —
    # pairs survive the Hamming<=1 rerank iff high bytes are equal or
    # one bit apart, so output stays a small fraction of the candidates.
    rows = [(i, rng.randrange(256) * 256) for i in range(n_rows)]
    path = f"{out_dir}/hashes.parquet"
    spark.createDataFrame(rows, "doc_id long, ahash long").repartition(8).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def run_once(spark, path: str, hot_threshold: int | None) -> tuple[float, int, int]:
    release_caches()
    t0 = time.time()
    hashed = scoped_persist(spark.read.parquet(path))
    df = ahash_pairs_frame(hashed, hot_threshold=hot_threshold)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("doc_id_a", "doc_id_b"), F.lit(10**9))).alias("h"),
    ).collect()[0]
    return time.time() - t0, int(agg["n"]), int(agg["h"])


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    reps = 2
    spark = get_spark("ahash-skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # model the beyond-broadcast regime (see module docstring)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    tmp = tempfile.mkdtemp(prefix="ahashbench_")
    try:
        path = make_hashes(spark, tmp, n_rows)
        out = {
            "n_rows": n_rows,
            "hot_bucket_threshold": AHASH_HOT_BUCKET,
            "hot_bucket_rows": n_rows,  # by construction: one block value
            "salted_max_build_group": int(
                spark.read.parquet(path)
                .select(F.pmod(F.xxhash64("doc_id"), F.lit(N_AHASH_SALT)).alias("g"))
                .groupBy("g")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            ),
        }
        results = {}
        for mode, thr in (("plain", None), ("salted", AHASH_HOT_BUCKET)):
            times, counts, hashes = [], set(), set()
            for _ in range(reps):
                t, n, h = run_once(spark, path, thr)
                times.append(round(t, 2))
                counts.add(n)
                hashes.add(h)
            results[mode] = {"times": times, "rows": counts.pop(), "hash": hashes.pop()}
            assert not counts and not hashes, "nondeterministic result within mode"
        assert results["plain"]["rows"] == results["salted"]["rows"]
        assert results["plain"]["hash"] == results["salted"]["hash"]
        out["pairs"] = results["plain"]["rows"]
        out["plain_sec"] = min(results["plain"]["times"])
        out["salted_sec"] = min(results["salted"]["times"])
        out["all_times"] = {m: results[m]["times"] for m in results}
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
