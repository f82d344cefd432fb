"""Zip-import directory caching for Spark's Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 and 3.12
that makes every ``zipimport.zipimporter`` on ``sys.path_importer_cache``
re-read its whole archive directory at once: with pyspark imported from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, ~1.3k entries) a worker
holds 16 importers over that one archive, and a 1-row pandas-UDF task
spends about 0.25 s of CPU re-reading it before it reads a row.

``install()`` replaces ``zipimporter.invalidate_caches`` with a method
that re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, and otherwise reuses the shared directory
cache. A changed, missing or never-stamped archive takes the stdlib
method, so imports see exactly the archives on disk. Python 3.13
re-reads lazily, once per archive, and keeps its own method; before
3.10 zipimporters have no such method and nothing re-reads.

The package imports this module, so the method is in place in every
worker that has unpickled one of the package's functions.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)
# archive path -> (st_mtime_ns, st_size) taken before its last read
_read_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive whose size and mtime are those of its last read."""
    # stat before reading: a rewrite during the read leaves a stale
    # stamp, so the next call reads again
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (
        stamp is not None
        and files is not None
        and _read_stamps.get(self.archive) == stamp
    ):
        self._files = files
        return
    _stdlib_invalidate(self)
    if stamp is not None:
        # a failed read left no cached directory, so the next call
        # reads again whatever the stamp
        _read_stamps[self.archive] = stamp


def install(version=sys.version_info) -> bool:
    """Install ``invalidate_if_changed`` on Python 3.10-3.12; True if
    the interpreter's method is now the package's."""
    if _stdlib_invalidate is None or tuple(version[:2]) >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    return True
