"""The worker daemon's stamp-checked zipimport invalidation.

The first three tests drive ``zipimporter`` directly, without Spark; the
last one checks that a ``get_spark`` session really forks its Python
workers from the daemon and that the driver stays unpatched."""

from __future__ import annotations

import importlib
import os
import pkgutil
import sys
import zipfile
import zipimport

import pytest

import gmall_flink_parent_spark
from gmall_flink_parent_spark import worker_daemon

patched_versions = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13+ reads zip directories lazily; nothing is patched"
)


@pytest.fixture
def reads(monkeypatch, tmp_path):
    """Archives passed to ``zipimport._read_directory``, in call order.
    Restores the stock ``invalidate_caches`` and drops the test archives
    from zipimport's directory cache afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    calls: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield calls
    for archive in list(zipimport._zip_directory_cache):
        if archive.startswith(str(tmp_path)):
            del zipimport._zip_directory_cache[archive]


def _write_archive(path, n_packages: int) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for i in range(n_packages):
            zf.writestr(f"pkg{i}/__init__.py", "")
    return str(path)


@patched_versions
def test_unchanged_archive_is_read_once_then_never(tmp_path, reads):
    """Like pyspark.zip: one archive, one importer per package directory,
    and ``importlib.invalidate_caches()`` once per task."""
    archive = _write_archive(tmp_path / "lib.zip", 4)
    importers = [zipimport.zipimporter(f"{archive}/pkg{i}") for i in range(4)]
    assert reads == [archive]  # the first importer read it, the rest share it

    def task() -> int:
        before = len(reads)
        for imp in importers:
            imp.invalidate_caches()
        return len(reads) - before

    assert task() == 4  # stock: every importer re-reads the whole directory
    assert worker_daemon.install()
    assert worker_daemon.installed()
    assert task() == 1  # one read records the archive's stamp
    assert [task() for _ in range(5)] == [0] * 5
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)
    assert importers[1].find_spec("mod") is None  # lookups still answer


@patched_versions
def test_rewritten_or_removed_archive_is_reread(tmp_path, reads):
    archive = _write_archive(tmp_path / "lib.zip", 2)
    imp = zipimport.zipimporter(f"{archive}/pkg0")
    assert worker_daemon.install()
    imp.invalidate_caches()
    n = len(reads)

    _write_archive(archive, 3)  # new size
    imp.invalidate_caches()
    assert len(reads) == n + 1
    assert "pkg2/__init__.py" in imp._files

    st = os.stat(archive)  # same bytes, new mtime
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    imp.invalidate_caches()
    assert len(reads) == n + 2
    imp.invalidate_caches()
    assert len(reads) == n + 2

    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {} and archive not in zipimport._zip_directory_cache


def test_nothing_is_patched_from_python_3_13(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0))
        patched = worker_daemon.install()
    assert not patched
    assert zipimport.zipimporter.invalidate_caches is stock


def test_session_workers_fork_from_patched_daemon_and_driver_is_untouched(spark):
    """Guards against a config key Spark silently ignores: the check runs
    inside a Python worker. Importing every engine module in the driver
    must leave zipimport stock (no import-time side effects)."""

    def report(batches):
        import sys

        import pandas as pd

        from gmall_flink_parent_spark.worker_daemon import installed

        for _ in batches:
            yield pd.DataFrame(
                {"installed": [installed()], "lazy_zipimport": [sys.version_info >= (3, 13)]}
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(report, "installed boolean, lazy_zipimport boolean")
        .collect()
    )
    assert len(rows) == 2
    assert all(r["installed"] != r["lazy_zipimport"] for r in rows), rows

    for mod in pkgutil.walk_packages(
        gmall_flink_parent_spark.__path__, gmall_flink_parent_spark.__name__ + "."
    ):
        importlib.import_module(mod.name)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not worker_daemon.installed()
