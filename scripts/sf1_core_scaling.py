"""sf1 8-vs-32-core mini-sweep — real parallelism evidence (VERDICT r14 #5).

At sf0.1 the bench is overhead-dominated: the full 175-head sweep runs
FASTER at 8 cores than at 32 (101.4 s vs 124.2 s in the round-14 driver
artifacts), because per-head time is mostly fixed session/scheduling
cost and 32 shuffle partitions over ~600k-row tables are pure task
overhead. So the sf0.1 core-ratio block cannot distinguish a parallel
head from a serial one. This harness measures the ratio where compute
dominates: the slowest bench heads over the 10× sf1 shards
(``sf1_scale_run.generate``), each head min-of-REPS in ONE session per
core count (a fresh ``scripts/isolate_query.py`` subprocess,
``SPARK_GRAFT_CPUS`` honored by ``get_spark`` exactly as the driver's
bench runs do).

Usage: python scripts/sf1_core_scaling.py [out.json]
Results → SCALE.md "sf1 core scaling (round 15)".
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from scripts.sf1_scale_run import SF1_DIR  # noqa: E402

# the slowest bench heads of the round-14 32-core sweep,
# skipping sub-1.7 s heads — at sf1 these are the compute-bound tier
HEADS = [
    "part_label_propagation",
    "part_clustering_coeff",
    "dedup_cascade_verify",
    "part_triangle_count",
    "packed_training_stream",
    "part_link_prediction",
    "dsir_importance_weights",
    "part_pagerank",
    "ann_recall_report",
    "dedup_minhash_lsh",
    "source_js_divergence",
    "doc_repetition_profile",
    "chunk_bm25_multiquery",
    "collocation_pmi",
]

REPS = int(os.environ.get("SF1_SCALING_REPS", "2"))
# optional head-subset override for the deeper (100-copy) probe
if os.environ.get("SF1_SCALING_HEADS"):
    HEADS = os.environ["SF1_SCALING_HEADS"].split(",")


def _run(cpus: int) -> dict[str, float]:
    """One fresh ``scripts/isolate_query.py`` session at ``cpus`` cores."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "scripts", "isolate_query.py"),
            "--sf",
            SF1_DIR,
            "--reps",
            str(REPS),
            *HEADS,
        ],
        env=dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)),
        capture_output=True,
        text=True,
    )
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])["queries"]
    except (IndexError, ValueError, KeyError):
        raise SystemExit(
            f"cpus={cpus} isolate_query.py produced no result line\n"
            f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
        ) from None


def main() -> None:
    # generate the sf1 shards once (idempotent marker inside)
    from gmall_flink_parent_spark.session import get_spark
    from scripts.sf1_scale_run import generate

    t0 = time.monotonic()
    spark = get_spark("sf1-gen")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    spark.stop()
    gen_sec = round(time.monotonic() - t0, 1)

    t32 = _run(32)
    t8 = _run(8)
    ratios = {
        k: (round(t8[k] / t32[k], 2) if t32.get(k) and t8.get(k) else None)
        for k in HEADS
    }
    from scripts.sf1_scale_run import COPIES

    doc = {
        "metric": "sf1_core_scaling",
        "sf": COPIES / 10.0,
        "copies": COPIES,
        "sf_dir": SF1_DIR,
        "cpus_main": 32,
        "cpus_low": 8,
        "reps": REPS,
        "generate_sec": gen_sec,
        "t32": t32,
        "t8": t8,
        "ratio_8_over_32": ratios,
        "loadavg": list(os.getloadavg()),
    }
    line = json.dumps(doc)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
