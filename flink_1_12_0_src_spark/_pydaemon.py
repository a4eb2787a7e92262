"""PySpark's Python worker daemon, without the per-task re-read of every zip
directory on ``sys.path``.

``session.get_spark`` names this module in ``spark.python.daemon.module``, so
the JVM starts ``python -m flink_1_12_0_src_spark._pydaemon pyspark.worker``.
It runs ``pyspark.daemon.manager()`` with ``sys.argv`` untouched.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``). Before CPython 3.12
(gh-103200) each ``zipimporter`` then re-reads its archive's whole directory,
and a worker holds one zipimporter per package it imported from
``pyspark.zip``: 16-18 reads of a 1,328-entry directory per task. Here a
zipimporter skips that read while its archive's ``(st_mtime_ns, st_size)``
equals the stamp taken when the directory was last read, and takes the
directory already in ``zipimport._zip_directory_cache``. A rewritten or
missing archive takes the stock path.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int]] = {}
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    # stat before reading: a rewrite during the read leaves an old stamp,
    # so the next call reads again
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def _install() -> None:
    """Swap in the stat-guarded ``invalidate_caches`` and stamp the archives
    this process has already read, so forked workers start with no read."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):
        _install()
    daemon.manager()
