"""Spark's Python worker daemon, with zip directories kept across tasks.

Every Python task starts with ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``). Before CPython 3.13 that makes every
``zipimporter`` re-read its archive's whole central directory: one importer
per imported subpackage of ``pyspark.zip``, ~27k entries and ~0.3 s of CPU
per task. Here an importer re-reads only when its archive's
``(mtime_ns, size, inode)`` changed since the last read. The stamps are set
once before ``pyspark.daemon`` forks its workers, so they start warm.
``session.get_spark`` names this module as ``spark.python.daemon.module``
on ``local[...]`` masters.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> stat stamp at its last directory read


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    importlib.invalidate_caches()
    pyspark.daemon.manager()
