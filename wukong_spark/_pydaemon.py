"""Python-worker daemon for sessions built by ``session.get_spark``.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts its Python worker daemon as ``python -m wukong_spark._pydaemon``.
The module changes one thing, then runs the stock ``pyspark.daemon``.

At the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (and py4j from its own zip), and
CPython 3.11's ``zipimporter.invalidate_caches`` re-reads the archive's
central directory eagerly, once for every cached package importer: 12
importers for ``pyspark.zip`` and 2 for py4j in a warm worker, ~12 ms
each.  That was 170-250 ms of set-up before every Python task ran user
code, on a worker that was already warm and reused.

``invalidate_caches`` below re-reads an archive only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at the
last read; otherwise the importer is pointed back at the shared
``zipimport._zip_directory_cache`` entry.  A zip whose bytes changed (an
``addPyFile`` overwrite, say) is still re-read, so import semantics are
those of the stock method.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_ino, st_size, st_mtime_ns) taken before its last
#: read, None when the archive could not be stat-ed
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Stat-checked ``zipimporter.invalidate_caches``: re-read the archive
    only if it changed since the last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        if hasattr(self, "_files"):  # CPython <= 3.11 keeps its own reference
            self._files = files
        return
    # stat before the read: a change during the read shows at the next call
    _stock_invalidate_caches(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process, then read
    each archive on ``sys.path`` once, so that workers forked from this
    process start with every stamp taken."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # run as ``-m``, this file is ``__main__``; install through the
    # importable copy so that tasks see one module and one stamp table
    from wukong_spark import _pydaemon
    from pyspark import daemon

    _pydaemon.install()
    daemon.manager()
