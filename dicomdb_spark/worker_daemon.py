"""Python worker daemon for local sessions: ``pyspark.daemon`` with a
zip-directory cache that survives ``importlib.invalidate_caches()``.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Before CPython 3.12 that
makes every cached ``zipimporter`` re-read its archive's central
directory at once: with a pip-installed Spark 4.1, ``pyspark.zip``
(~1300 entries, once per importer, one importer per imported
sub-package) and the spark-core jar (~5400 entries), 0.15-0.2 s of CPU
per task.  Here an archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken when
this process last read it, so a changed archive is still reloaded and
an ``addPyFile`` zip (a new path) still gets a fresh importer.

``session.get_spark`` selects this module through
``spark.python.daemon.module`` for ``local``/``local[N]`` masters only;
the daemon forks every Python worker, so each inherits the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since this process last read it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: a change during the read shows next time
    _stdlib_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter`` where the stdlib re-reads eagerly (CPython
    < 3.12; 3.12 drops the cache and reloads it lazily), then read and
    stamp every archive once, so forked workers inherit the stamps."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
        importlib.invalidate_caches()


if __name__ == "__main__":
    # patch through the importable module (not this __main__ copy), so
    # a worker can check ``invalidate_caches`` against it
    from dicomdb_spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
