"""SparkSession factory tuned for the engine.

The reference pins parallelism=4 to its Kafka partition count
(``gmall-realtime/.../app/dwd/BaseLogTask.java:37-38``). We instead let the
session scale with available cores and rely on AQE to re-plan shuffles at
runtime — the 100 TB design stance is: partition count follows data, not a
hard-coded constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "gmall_flink_parent_spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults.

    Settings that matter at cluster scale and are safe locally:

    - AQE on (coalesce post-shuffle partitions, skew-join splitting,
      runtime broadcast demotion/promotion),
    - session timezone pinned to UTC so event-time semantics are
      deterministic and oracle-comparable,
    - Arrow enabled for the Pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan INSIDE cached plans (off by default): without it
        # every scoped_persist freezes its subtree at the static shuffle
        # partition count, so a 3.5k-row cached graph frame carries 32
        # partitions and every downstream map stage over it schedules 32+
        # near-empty tasks — the graph tier ran ~23 sequential stage-jobs
        # of pure dispatch overhead at sf0.1 (measured: clustering_coeff
        # 1.91→1.50 s, LPA 2.93→1.97 s interleaved min-of-3). Scale-safe:
        # AQE merges only small ADJACENT partitions and leaves large
        # cached frames fully partitioned. Merging does change the __mid
        # stamps of positions.py (their high bits are the partition
        # index), but positions decoded from them stay order-consistent:
        # adjacent merges keep range order, the sort keys are unique, and
        # each stamped frame is materialized once, so every consumer
        # reads the same stamps.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Stage progress bars write \r-spam to stderr; the driver's
        # finite bench tail capture must end with the JSON line, not
        # [Stage N:===>] noise (the r6 WARN-flood lesson, same channel).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python workers fork from the engine's daemon, which stops every
        # task from re-reading pyspark.zip's directory (see
        # worker_daemon.py). spark.python.worker.module cannot carry it:
        # pyspark.daemon ignores a worker module outside the pyspark
        # package. The package root joins the workers' path so the daemon
        # imports from any working directory.
        .config("spark.python.daemon.module", "gmall_flink_parent_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
