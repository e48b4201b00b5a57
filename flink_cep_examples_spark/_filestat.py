"""File identity by ``stat``, and a stat-checked zip-import cache reset.

PySpark's ``worker_util.setup_spark_files`` ends every Python worker
task with ``importlib.invalidate_caches()``. On CPython 3.11 each
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads its
archive's central directory, and a worker importing PySpark from
``pyspark.zip`` holds one zipimporter per imported subpackage (14-18),
so every ``mapInPandas``/``applyInPandas``/``applyInPandasWithState``
task re-reads ~33k directory entries (0.13-0.2 s) before it sees a
row. ``install`` replaces that method with one that re-reads only when
the archive's ``(st_mtime_ns, st_size)`` differs from what that
importer last read, or when ``stat`` fails; in those cases the stdlib
method runs unchanged, so a re-shipped ``--py-files`` zip is still
picked up. An importer's first call after ``install`` still re-reads,
since what it read before is unknown.

The package ``__init__`` calls ``install``, so every worker that
unpickles an engine function gets it with no conf.
"""

from __future__ import annotations

import os
import zipimport


def stat_signature(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` of ``path``, or None when it cannot be
    stat'ed (missing, or not a local path)."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked. Idempotent."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_checked", False):
        return

    def invalidate_caches(self) -> None:
        # stat BEFORE the read: a rewrite racing the read then leaves a
        # stale signature, which forces one more read next time
        sig = stat_signature(self.archive)
        if sig is not None and sig == getattr(self, "_stat_signature", None):
            return
        stdlib(self)
        self._stat_signature = sig

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
