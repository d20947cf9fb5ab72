"""PySpark daemon that keeps zip import caches across tasks.

``session.get_session`` sets ``spark.python.daemon.module`` to this
module, so every Python worker is forked from it.  PySpark's worker
calls ``importlib.invalidate_caches()`` at the start of every task, and
CPython 3.11's ``zipimporter`` answers by re-reading, in pure Python,
the central directory of every archive that has a cached importer
(``pyspark.zip``, py4j's zip and the spark-core jar: 16 re-reads per
pandas UDF task).  Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since it was last read, so a changed
archive, such as a zip shipped with ``addPyFile``, is never served
stale.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# Archive path -> stat stamp at its last re-read.  Process-wide, like
# zipimport's own _zip_directory_cache that it guards.
_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last
    re-read; otherwise adopt the shared cached directory.  The stamp is
    taken before the read, so an archive that changes during the read
    is read again next time."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = cached


def main() -> None:
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp every archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    # run from the importable module, not from __main__, so workers see
    # the patch (and the stamps) under scache_spark._pydaemon
    from scache_spark._pydaemon import main as _main

    _main()
