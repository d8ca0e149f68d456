"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.13.

pyspark's Python workers call ``importlib.invalidate_caches()`` at the start
of every command (``worker_util.setup_spark_files``). Before 3.13 that makes
each ``zipimporter`` re-read its whole archive directory eagerly: a worker
that has imported from a dozen packages of the 1 328-entry ``pyspark.zip``
re-parses it a dozen times, 80-118 ms of CPU per call on a 4-core host.
3.13 only drops the cached directory. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the last read, so a changed archive
is still picked up and an unchanged one costs one ``stat``.
"""

import os
import sys
import zipimport


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches``; a second call is a no-op."""
    eager = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(eager, "stat_keyed", False):
        return
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stat when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return eager(self)
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        eager(self)
        read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
