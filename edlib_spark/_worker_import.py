"""Stop a reused PySpark worker from re-reading its zip archives on
every task.

Every PySpark task starts with ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  Before CPython 3.13
(gh-103200), that makes each ``zipimport.zipimporter`` re-read its
whole archive directory on the spot.  A warm worker holds one importer
per imported pyspark subpackage -- 16 or more on ``pyspark.zip``'s
1,328 entries -- so each task paid ~240 ms of CPU before its first row
(BENCH/PER_TASK_COST.md).

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
the stat taken before its last read.  A ``--py-files`` zip that Spark
re-ships with new content is still re-read; an unchanged one is not.
"""

from __future__ import annotations

import os
import sys


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once (Python < 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_edlib_spark_original", None) is not None:
        return
    read = {}   # archive -> (stat key before the read, directory read)

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        last = read.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        original(self)
        read[self.archive] = (key, self._files)

    invalidate_caches._edlib_spark_original = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
