"""Python-worker start-up cost: a stat-checked ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimport.zipimporter`` re-read its archive's whole central
directory. Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(about 1,300 entries) through one importer per package directory, about
sixteen, so every Python task re-parses that directory about sixteen times:
about 0.2 CPU-s per task, most of a small render task.

Importing this module (``transcriptpipe/__init__.py`` does) replaces the
method with one that re-reads the archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read it.
The stamp is kept per importer, not per archive: every importer of a
rewritten archive still refreshes its own file list. The package is imported
by every worker that unpickles one of its functions, so the patch reaches the
workers with no Spark conf, also under ``--py-files``.

CPython 3.13+ invalidates lazily (the directory is re-read on next use, not
on invalidation); there this module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_directory_again = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's file list only if its stat changed since this
    importer last read it (or it cannot be stat'ed)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    # stat before reading: a rewrite racing the read leaves an older stamp,
    # so the next call reads again rather than keeping a stale list
    if stamp is None or getattr(self, "_stat_stamp", None) != stamp:
        _read_directory_again(self)
        self._stat_stamp = stamp


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
