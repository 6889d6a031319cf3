"""PySpark worker daemon whose zip importers skip re-reading unchanged archives.

``get_spark`` names this module as ``spark.python.daemon.module``, so every
Python worker is forked from a process that ran :func:`install` first. A
reused worker calls ``importlib.invalidate_caches()`` on every task
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that makes each
``zipimporter`` re-read its archive's central directory: 16 reads of
``pyspark.zip``, the spark-core jar and py4j per task, 115-450 ms on a 4-core
host. The archives do not change while a session runs, so a read now records
the archive's ``(st_mtime_ns, st_size)`` and an invalidation whose stat still
matches reuses the cached directory; a changed or vanished archive is re-read
as before. CPython 3.13 makes the invalidation lazy itself, and there nothing
is patched. Spark's daemon and worker code then run unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:  # the read reports a missing archive as ZipImportError
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` in this process (a no-op on CPython >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    read, reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    stamps = {archive: _stat(archive) for archive in zipimport._zip_directory_cache}

    def _read_directory(archive):
        stamp = _stat(archive)  # before the read: a write racing it fails the check
        files = read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if cached is not None and stamp is not None and stamp == _stat(self.archive):
            self._files = cached
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
