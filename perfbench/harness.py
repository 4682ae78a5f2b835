"""Process-level plumbing: where Spark may write, how the session starts
and stops, peak memory, and the provenance stamp on every result.

Everything Spark, the JVM and Python workers write goes under the run's
work directory inside the checkout. The engine's own session factory
(``session.get_spark``) builds the session; the launcher only adds
settings through ``PYSPARK_SUBMIT_ARGS`` (the event log for traced runs,
local directories), so nothing inside the engine changes.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time

CPUS = "4"  # local[4]: the benchmark's fixed parallelism
DRIVER_MEM = "1g"


def configure(root: str, work_dir: str, event_log_dir: str | None) -> dict:
    """Set the environment the JVM and Python workers inherit. Must run
    before pyspark starts a gateway. Returns the values it replaced."""
    replaced = {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a heap committed and touched up front keeps peak RSS off GC timing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                # Spark 4 compresses with zstd by default; stay stdlib-readable
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
            "PYTHONHASHSEED": "0",
            "PYTHONWARNINGS": "ignore::FutureWarning",
            # Python workers import the engine and the benchmark by module name
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.path.join(root, "perfbench"), os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    return replaced


def start_session():
    """(spark, seconds the engine's session factory took)."""
    t0 = time.perf_counter()
    from gmall_flink_parent_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set of the driver process plus the JVM, in MiB."""
    return (_hwm_kb("self") + _hwm_kb(jvm)) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM and every
    child process of this one has exited.

    The JVM exits when its stdin closes. The py4j client is not shut down:
    after streaming ``foreachBatch`` sinks have started its callback
    server, that shutdown can block forever joining a server thread."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_children()


def reap_children(timeout: float = 20.0) -> None:
    """Terminate and wait for any process whose parent is this one."""
    me = str(os.getpid())

    def children() -> list[int]:
        out = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[1] == me and fields[0] != "Z":
                out.append(int(pid))
        return out

    deadline = time.monotonic() + timeout
    kids = children()
    for pid in kids:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    while kids and time.monotonic() < deadline:
        for pid in list(kids):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    kids.remove(pid)
            except ChildProcessError:
                kids.remove(pid)
        time.sleep(0.05)
    for pid in kids:
        os.kill(pid, 9)
        os.waitpid(pid, 0)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" where it is not a git tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(root: str, seed: int, replaced_env: dict) -> dict:
    import duckdb
    import pyspark

    return {
        "seed": seed,
        "git_commit": git_commit(root),
        "nproc": os.cpu_count(),
        "spark_master": f"local[{CPUS}]",
        "SPARK_GRAFT_CPUS": replaced_env.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "loadavg_start": loadavg(),
    }
