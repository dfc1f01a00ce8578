"""The Python worker daemon (``spark.python.daemon.module``, set by
``session._DEFAULT_CONF``): pyspark's own ``pyspark.daemon.manager()``
behind one patch that makes a reused worker's per-task setup cheap.

Every task runs pyspark's ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
``zipimporter`` on the worker's path re-read its archive's whole
central directory (``zipimport.py``: ``invalidate_caches``); with
``pyspark.zip``, its subpackage entries and the ``spark-core`` jar the
JVM puts on PYTHONPATH that is 16 re-reads, about 250 ms per task on a
4-core VM, whether or not any archive changed.  The patch re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the last
read; importers of an unchanged archive take the directory that read
left in ``zipimport._zip_directory_cache``.  An archive rewritten in
place is re-read, and an ``addPyFile`` archive is a new path entry
with its own importer, so what the invalidation is for still happens.

Imports only the stdlib and pyspark: the daemon starts before any task
and must not pull in the engine.
"""

from __future__ import annotations

import importlib
import os
import zipimport

# archive path -> (st_mtime_ns, st_size) of the directory last read into
# zipimport._zip_directory_cache by the patched method
_READ_STAMPS: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged
    archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _READ_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a write racing the read shows up as
    # a changed stamp at the next call
    _reread(self)
    if stamp is None:
        _READ_STAMPS.pop(self.archive, None)
    else:
        _READ_STAMPS[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # patch from the module under its package name, so a worker sees
    # the method as opengauss_vectordb_spark._pydaemon's, not __main__'s
    from opengauss_vectordb_spark._pydaemon import install as _install
    from pyspark.daemon import manager

    _install()

    # one read per archive here, inherited by every forked worker, so no
    # worker's first task pays for the importers the daemon already has
    importlib.invalidate_caches()
    manager()
