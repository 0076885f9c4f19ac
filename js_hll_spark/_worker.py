"""Python-worker set-up: read a zip archive's directory only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory eagerly: about 17 importers into the 1,328-entry
``pyspark.zip``, roughly 0.2 CPU-s per task whatever the task's rows.
CPython 3.13 re-reads lazily (``zipimporter._get_files``) and needs nothing.

``skip_unchanged_zip_rereads`` wraps ``zipimporter.invalidate_caches`` so
that an archive is re-read only when its ``(st_ino, st_mtime_ns, st_size)``
differs from the stat taken just before its last read, or when its
directory is no longer cached. The stat comes before the read, so a file
replaced during a read shows a new stat at the next call and is read again;
a new or rewritten archive is picked up by the next task, exactly as before.
The one change the stamp cannot see is an in-place rewrite to the same size
within one file-system timestamp tick of the last read; Spark never rewrites
a shipped file in place. Directory finders are invalidated as before.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def skip_unchanged_zip_rereads() -> bool:
    """Install the wrapper in a Spark Python worker; return whether it is in
    place. Does nothing on a driver (pyspark is not imported for the check),
    and nothing where CPython already re-reads lazily."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    return _wrap_invalidate_caches()


def _wrap_invalidate_caches() -> bool:
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    reread = cls.invalidate_caches
    stat_at_read: dict[str, tuple] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stat_at_read.get(self.archive) == stamp:
            self._files = cached
            return
        stat_at_read[self.archive] = stamp
        reread(self)

    cls.invalidate_caches = invalidate_caches
    # one read per archive now, so the next task finds every stamp recorded
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True
