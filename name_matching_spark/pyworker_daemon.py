"""Python-worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

Every Python-UDF task that a reused worker runs starts in pyspark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.  On
CPython < 3.12 ``zipimport.zipimporter.invalidate_caches`` re-reads the
whole central directory of its archive, once per importer instance, and a
worker holds one instance per pyspark sub-package imported from
``pyspark.zip`` and from the spark-core jar: on a 4-vCPU host that is
110-390 ms per task.  CPython 3.12 (gh-103200) only drops the cached
directory there; this module gives the same importers a check that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
It must stay importable without Spark's JVM and without the rest of this
package, since the daemon loads it before any task arrives: it imports only
the stdlib and ``pyspark.daemon``.  Forked workers inherit the patched
class and the stamps taken here.  (A custom *worker* module is no
alternative: ``pyspark.daemon`` only honours worker names that start with
``pyspark``.)
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_STAMPS: dict[str, tuple[int, int]] = {}


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _make_invalidate(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` (the stock
    method) only for an archive not seen unchanged since its last read."""

    def invalidate_caches(self):
        stamp = _stat(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
            self._files = cached
            return
        # Stat before the read: a write racing the read leaves an old
        # stamp, so the next call reads again rather than trusting it.
        reread(self)
        if stamp is None:
            _STAMPS.pop(self.archive, None)
        else:
            _STAMPS[self.archive] = stamp

    return invalidate_caches


def install() -> None:
    """On CPython < 3.12, patch ``zipimporter.invalidate_caches``, then
    read every zip archive in use once and stamp it."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = _make_invalidate(
        zipimport.zipimporter.invalidate_caches
    )
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
