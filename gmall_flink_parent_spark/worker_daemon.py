"""Python worker daemon for the engine's sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark launches it in place of ``pyspark.daemon``. Every Python worker
is forked from it and inherits what it sets up before serving.

What it sets up: on every task, PySpark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files`` in
``pyspark/worker_util.py``). Before Python 3.13 each ``zipimporter``
answers by re-reading its archive's whole directory. Workers import
PySpark from ``pyspark.zip`` (about 1,300 entries) through about 18
importers, one per package directory, so a task on a tiny stateful
micro-batch spent most of its time re-reading one unchanged zip.
:func:`install` makes that re-read conditional on the archive's
``(st_mtime_ns, st_size)`` stamp having changed since its directory was
last read. Python 3.13 drops the cached directory and reads it lazily
on the next import, so there nothing is patched.

Importing this module changes nothing; running it does.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` to skip archives whose
    stamp is unchanged. Returns whether it patched (never on 3.13+).

    A rewrite that keeps both size and nanosecond mtime goes unseen: the
    kind of blind spot CPython's own ``.pyc`` check (source mtime and
    size) also has."""
    if sys.version_info >= (3, 13):
        return False
    original = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at last read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a rewrite racing the read leaves a stale
        # stamp, which forces one more read rather than missing the change
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches.stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def installed() -> bool:
    """Whether this process runs the stamp-checked invalidation."""
    return getattr(zipimport.zipimporter.invalidate_caches, "stamp_checked", False)


def main() -> None:
    install()
    # Read each archive once here, so forked workers start with its stamp
    # and re-read nothing on their first task either.
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
