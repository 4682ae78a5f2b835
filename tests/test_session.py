"""The driver JVM's class-data-sharing archive (``session.py``).

The first tests drive the archive lifecycle on a tiny archive that a bare
JVM dumps in a fraction of a second, without Spark. The last one starts
real sessions in subprocesses against a temporary cache: dump, publish
and map, and a truncated candidate that must never reach the driver."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from gmall_flink_parent_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _install(tmp_path) -> tuple[str, str]:
    """A JDK home with a ``release`` file and a Spark home whose conf dir
    holds only templates."""
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.1"\n')
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "a.jar").write_bytes(b"x" * 10)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    return str(jdk), str(spark)


def test_archive_key_follows_jdk_and_jar_listing(tmp_path):
    jdk, spark = _install(tmp_path)
    key = session._archive_key(jdk, spark)
    assert session._archive_key(jdk, spark) == key

    jar = os.path.join(spark, "jars", "a.jar")
    with open(jar, "ab") as fh:
        fh.write(b"x")
    resized = session._archive_key(jdk, spark)
    with open(os.path.join(spark, "jars", "b.jar"), "wb") as fh:
        fh.write(b"y")
    added = session._archive_key(jdk, spark)
    with open(os.path.join(jdk, "release"), "w") as fh:
        fh.write('JAVA_VERSION="17.0.2"\n')
    upgraded = session._archive_key(jdk, spark)
    moved = tmp_path / "jdk2"
    shutil.copytree(jdk, moved)
    relocated = session._archive_key(str(moved), spark)

    keys = [key, resized, added, upgraded, relocated]
    assert len(set(keys)) == len(keys), keys


def test_conf_dir_with_a_non_template_file_turns_the_archive_off(tmp_path, monkeypatch):
    jdk, spark = _install(tmp_path)
    cache = tmp_path / "cache"
    monkeypatch.setenv("JAVA_HOME", jdk)
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)

    opts, conf, part = session._cds_plan(spark)
    assert f"-XX:ArchiveClassesAtExit={part}" in opts
    assert "-Xlog:disable -Xlog:all=warning:stderr" in opts
    assert conf.startswith(str(cache)) and os.listdir(conf) == []
    os.remove(f"{part}.json")  # the plan's session never started

    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert not session._conf_dir_is_stock(spark)
    assert session._cds_plan(spark) is None

    own = tmp_path / "own_conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    (own / "log4j2.properties.template").write_text("")
    assert session._conf_dir_is_stock(spark)
    (own / "spark-env.sh").write_text("")
    assert not session._conf_dir_is_stock(spark)
    assert session._cds_plan(spark) is None


def _tiny_candidate(tmp_path) -> tuple[str, str, dict]:
    """(cache dir, candidate, its record) for key ``k``: an archive a
    bare JVM dumps at exit, recorded the way ``_record_dump`` does."""
    java = os.path.join(session._java_home(), "bin", "java")
    cp = tmp_path / "cp"
    cp.mkdir()
    cds = tmp_path / "cds"
    cds.mkdir()
    part = str(cds / "k.1-a.part")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={part}", *session._CDS_LOG.split(), "-cp", str(cp), "-version"],
        check=True,
        capture_output=True,
        timeout=120,
    )
    meta = {"java": java, "classpath": str(cp), "args": []}
    with open(f"{part}.json", "w") as fh:
        json.dump(meta, fh)
    return str(cds), part, meta


def test_truncated_candidate_is_deleted_and_never_published(tmp_path):
    cds, part, _ = _tiny_candidate(tmp_path)
    os.chmod(part, 0o644)
    os.truncate(part, os.path.getsize(part) // 2)
    assert session._settle(cds, "k") is False
    assert sorted(os.listdir(cds)) == []


def test_good_candidate_is_published(tmp_path):
    cds, part, meta = _tiny_candidate(tmp_path)
    assert session._settle(cds, "k") is False
    assert sorted(os.listdir(cds)) == ["k.jsa"]
    assert session._probe(os.path.join(cds, "k.jsa"), meta)


def test_live_candidate_is_left_alone_and_unrecorded_ones_go(tmp_path):
    """A candidate whose session is still running may still be written:
    it is left in place and blocks a second dump. A ``.part`` without a
    record cannot be probed and is deleted."""
    cds = tmp_path / "cds"
    cds.mkdir()
    live = cds / "k.2-b.part.json"
    live.write_text(json.dumps({"owner": os.getpid()}))
    (cds / "k.3-c.part").write_bytes(b"\0" * 64)
    assert session._settle(str(cds), "k") is True
    assert sorted(os.listdir(cds)) == ["k.2-b.part.json"]


_START = r"""
import json
from gmall_flink_parent_spark.session import get_spark

spark = get_spark("cds-lifecycle")
jvm = spark.sparkContext._jvm
system = jvm.java.lang.System
pid = int(jvm.java.lang.ProcessHandle.current().pid())
with open(f"/proc/{pid}/maps") as fh:
    maps = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
rows = spark.range(1000).selectExpr("id % 7 AS k", "id").groupBy("k").sum("id").orderBy("k").collect()
print(json.dumps({
    "maps": maps,
    "rows": [list(r) for r in rows],
    "meta": {
        "java": system.getProperty("java.home") + "/bin/java",
        "classpath": system.getProperty("java.class.path"),
        "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    },
}))
spark.stop()
"""


def _start(cache) -> dict:
    env = dict(os.environ)
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", _START], cwd=REPO, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "[warning]" not in proc.stdout, proc.stdout[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_sessions_dump_publish_and_map_the_archive(tmp_path):
    """First start: a candidate is left when the session ends. Second
    start: it is published and the driver maps it, with the same rows.
    A start with a truncated candidate in the cache still works."""
    cache = tmp_path / "xdg"
    cds = cache / "gmall_flink_parent_spark" / "cds"

    first = _start(cache)
    parts = sorted(n for n in os.listdir(cds) if n.endswith(".part"))
    assert len(parts) == 1 and os.path.exists(cds / f"{parts[0]}.json"), os.listdir(cds)
    assert not any(n.endswith(".jsa") for n in os.listdir(cds))
    key = parts[0].split(".")[0]
    archive = str(cds / f"{key}.jsa")

    second = _start(cache)
    assert archive in second["maps"], second["maps"]
    assert second["rows"] == first["rows"]
    assert sorted(n for n in os.listdir(cds) if n != "conf") == [f"{key}.jsa"]

    truncated = cds / f"{key}.0-trunc.part"
    with open(archive, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(os.path.getsize(archive) // 3))
    (cds / f"{truncated.name}.json").write_text(json.dumps(second["meta"]))
    os.remove(archive)
    third = _start(cache)
    assert third["rows"] == first["rows"]
    assert not any(m.startswith(str(cds)) for m in third["maps"]), third["maps"]
    assert not os.path.exists(truncated) and not os.path.exists(archive)
    shutil.rmtree(cache)
