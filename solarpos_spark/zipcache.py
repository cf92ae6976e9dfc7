"""Stop Python workers re-reading unchanged zip archives on every task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
whole archive directory at once, in pure Python. A worker holds importers for
pyspark.zip (about 1,300 entries), the py4j zip and the spark-core jar (about
5,400 entries): 0.2-0.4 s of a 0.5 s Python UDF task on a 4-core host.
CPython 3.13 makes the invalidation lazy.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a guard that
re-reads an archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs
from the stat taken when its directory was last read, so a rewritten archive
is still picked up. Importing :mod:`solarpos_spark` installs it; every engine
UDF imports the package when it is unpickled, and workers are reused, so
from a worker's second task on the per-task re-read is skipped.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) of the last directory read;
#: per process, like the zipimport._zip_directory_cache it vouches for
_read_stats: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        # stat before the read: a write racing the read changes the stat,
        # so the next call reads again
        key = _stat_key(archive)
    except OSError:
        _read_stats.pop(archive, None)
        invalidate_caches.__wrapped__(self)
        return
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _read_stats.get(archive) == key:
        self._files = files
        return
    invalidate_caches.__wrapped__(self)
    if archive in zipimport._zip_directory_cache:
        _read_stats[archive] = key
    else:
        _read_stats.pop(archive, None)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` (CPython < 3.13 only).
    Idempotent."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    invalidate_caches.__wrapped__ = getattr(current, "__wrapped__", current)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
