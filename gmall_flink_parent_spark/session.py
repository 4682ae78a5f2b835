"""SparkSession factory tuned for the engine.

The reference pins parallelism=4 to its Kafka partition count
(``gmall-realtime/.../app/dwd/BaseLogTask.java:37-38``). We instead let the
session scale with available cores and rely on AQE to re-plan shuffles at
runtime — the 100 TB design stance is: partition count follows data, not a
hard-coded constant.

Cold start. A session that launches the driver JVM starts it from a JDK
dynamic class-data-sharing (CDS) archive of Spark's classes, which roughly
halves JVM start-up (loading ~290 jars dominates it):

- The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/gmall_flink_parent_spark/cds/<key>.jsa``.
  The key hashes the JDK (the ``java.home`` realpath and its ``release``
  file) and the ``$SPARK_HOME/jars`` listing (name and size of each jar).
- With no archive for the key, that session's JVM dumps a candidate
  ``<key>.<unique>.part`` when it exits; the first session per key pays
  for the dump (a slower start and a stop 10–25 s longer). Its
  classpath and module flags are recorded next to it in ``<part>.json``.
  A later start probes the candidate with ``java -Xshare:on`` on that
  classpath and publishes it with ``os.replace``, or deletes it. A
  truncated archive aborts a JVM, so no unprobed file reaches the driver.
- CDS refuses a non-empty directory on the classpath, and Spark puts its
  conf dir there. When that dir holds only ``*.template`` files, the
  driver gets an empty conf dir inside the cache instead, which changes
  nothing Spark reads. A conf dir with any other file turns the archive
  off.
- JVM warnings (a stale archive is rejected with one) go to stderr, so
  stdout carries only what the caller prints.
- Deleting the cache directory is always safe: the next session dumps a
  new archive.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import json
import os
import shutil
import subprocess
import uuid

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CDS_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
# the JVM options an archive is validated against besides the classpath
_MODULE_FLAGS = ("--add-", "--limit-modules", "--patch-module", "--upgrade-module-path")


def _java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if not home:
        java = shutil.which("java")
        if java is None:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return os.path.realpath(home)


def _archive_key(java_home: str, spark_home: str) -> str:
    h = hashlib.sha256(java_home.encode())
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\0{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    return h.hexdigest()[:20]


def _conf_dir_is_stock(spark_home: str) -> bool:
    """True when Spark's effective conf dir holds only ``*.template`` files."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True


def _alive(pid: int | None) -> bool:
    if not pid:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _read_json(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _probe(part: str, meta: dict) -> bool:
    """Does a JVM with the dumping driver's classpath and module flags map
    ``part``? ``-Xshare:on`` turns any mapping failure into an exit code."""
    cmd = [
        meta["java"],
        "-Xshare:on",
        f"-XX:SharedArchiveFile={part}",
        f"-XX:ErrorFile={os.devnull}",  # a bad archive aborts the JVM: no crash log
        *_CDS_LOG.split(),
        *(a for a in meta["args"] if a.startswith(_MODULE_FLAGS)),
        "-cp",
        meta["classpath"],
        "-version",
    ]
    try:
        run = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return False
    return run.returncode == 0


def _settle(cds: str, key: str) -> bool:
    """Publish or delete every candidate a finished dump left for ``key``.
    True while a live JVM (or the session launching one) may still write
    a candidate."""
    final = os.path.join(cds, f"{key}.jsa")
    pending = False
    for meta_path in glob.glob(os.path.join(glob.escape(cds), f"{key}.*.part.json")):
        part = meta_path[: -len(".json")]
        meta = _read_json(meta_path)
        if _alive(meta.get("jvm") or meta.get("owner")):
            pending = True
            continue
        if "classpath" in meta and os.path.exists(part) and not os.path.exists(final) and _probe(part, meta):
            try:
                os.replace(part, final)
            except FileNotFoundError:  # a concurrent start published it
                pass
        _remove(part, meta_path)
    for part in glob.glob(os.path.join(glob.escape(cds), f"{key}.*.part")):
        if not os.path.exists(f"{part}.json"):  # unrecorded: cannot be probed
            _remove(part)
    return pending


def _cds_plan(spark_home: str) -> tuple[str, str, str | None] | None:
    """(driver Java options, conf dir, candidate to record or None) for a
    JVM about to start, or None to start it without an archive."""
    java_home = _java_home()
    if java_home is None or not _conf_dir_is_stock(spark_home):
        return None
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cds = os.path.join(base, "gmall_flink_parent_spark", "cds")
    if any(c.isspace() or c in "'\"\\" for c in cds):  # Spark splits Java options on spaces
        return None
    key = _archive_key(java_home, spark_home)
    conf = os.path.join(cds, "conf")
    os.makedirs(conf, exist_ok=True)
    pending = _settle(cds, key)
    final = os.path.join(cds, f"{key}.jsa")
    if os.path.exists(final):
        return f"-XX:SharedArchiveFile={final} {_CDS_LOG}", conf, None
    if pending:
        return None
    part = os.path.join(cds, f"{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}.part")
    _write_json(f"{part}.json", {"owner": os.getpid()})
    # the dump warns once per class it skips (signed jars, old bytecode)
    return f"-XX:ArchiveClassesAtExit={part} {_CDS_LOG} -Xlog:cds=error:stderr", conf, part


def _record_dump(spark: SparkSession, part: str) -> None:
    """Record the dumping JVM's identity next to its candidate, and make
    this process wait for the dump when it exits."""
    jvm = spark.sparkContext._jvm
    system = jvm.java.lang.System
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    if f"-XX:ArchiveClassesAtExit={part}" not in args:
        _remove(f"{part}.json")
        return
    _write_json(
        f"{part}.json",
        {
            "owner": os.getpid(),
            "jvm": int(jvm.java.lang.ProcessHandle.current().pid()),
            "java": os.path.join(system.getProperty("java.home"), "bin", "java"),
            "classpath": system.getProperty("java.class.path"),
            "args": args,
        },
    )
    atexit.register(_await_dump, spark.sparkContext._gateway.proc)


def _await_dump(proc) -> None:
    """The JVM writes its archive on exit; end it (it exits when its stdin
    closes) and wait, so no dumping JVM outlives this process. A context
    still running is stopped first: its accumulator server would report
    the JVM's exit as an error while this process waits."""
    if proc is None or proc.poll() is not None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    try:
        proc.stdin.close()
        proc.wait(timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        pass


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
    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        try:  # this call launches the driver JVM
            plan = _cds_plan(_find_spark_home())
        except OSError:  # an unreadable JDK, jar dir or cache: no archive
            pass
    if plan is None:
        spark = builder.getOrCreate()
    else:
        java_options, conf_dir, part = plan
        # spark-submit puts defaultJavaOptions before extraJavaOptions; a
        # caller's own defaultJavaOptions in PYSPARK_SUBMIT_ARGS replaces
        # these, and _record_dump then finds no dump to record
        builder = builder.config("spark.driver.defaultJavaOptions", java_options)
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if part is not None:
            _record_dump(spark, part)
    spark.sparkContext.setLogLevel("WARN")
    return spark
