"""Stat-checked ``zipimporter.invalidate_caches`` for CPython before 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory at once, and there is one importer per imported sub-package: a
worker that imports pyspark from ``pyspark.zip`` (1,328 entries) re-reads it
16 or more times per task, ~0.2 s on a 4-CPU VM. CPython 3.13 only drops
the cache entry and re-reads lazily.

:func:`install` swaps in an ``invalidate_caches`` that re-reads only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp
taken before its last re-read; otherwise the importer takes the shared
``_zip_directory_cache`` entry. A changed archive is still re-read at once,
as before. The first call per archive after install re-reads, because the
directory read at import time carries no stamp. A rewrite in place that
keeps the size within one file-system timestamp tick goes unseen, a weaker
condition than the (mtime, size) check CPython applies to ``.pyc`` files.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken before its last directory read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_stat_checked(eager):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        eager(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    invalidate_caches.stat_checked = True
    return invalidate_caches


def installed() -> bool:
    """True when this process's ``zipimporter`` uses the stat-checked
    ``invalidate_caches``."""
    return getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)


def install() -> None:
    """Install the stat-checked ``invalidate_caches`` where the stdlib one
    re-reads eagerly (CPython < 3.13). Idempotent."""
    if sys.version_info >= (3, 13) or installed():
        return
    cls = zipimport.zipimporter
    cls.invalidate_caches = _make_stat_checked(cls.invalidate_caches)
