"""Stat-gated zip directory reloads for Spark Python workers.

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start
of every call it serves (``pyspark/worker_util.py``, ``setup_spark_files``):
UDF and DataSource read tasks, and the DataSource planner calls. Before
Python 3.13, ``zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and pyspark is imported from
``$SPARK_HOME/python/lib/pyspark.zip`` through one importer per package
on the path (16 of them in a worker that has run a DataFrame UDF), so
every call reads the same directory 16 times before any user code runs.

``install()`` replaces the method with one that reads an archive again
only when its ``(st_size, st_mtime_ns)`` differ from the last read, and
otherwise hands the importer the directory already cached for that
archive. A rewritten archive is still picked up on the next call, which
is all the stock method is there for. Python 3.13 drops the eager re-read
itself (its ``invalidate_caches`` only evicts the cache), so the gate is
installed only below 3.13, and only inside a Spark worker: the driver
process keeps the stock behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (st_size, st_mtime_ns) the cached directory was read at
_read_at: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # Stat before reading: an archive rewritten between the two calls is
    # read again next time, never kept at a stamp newer than its contents.
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    if stamp is None:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = stamp


def install() -> None:
    """Gate every ``zipimporter`` in this process, existing ones included.

    The directories cached now are taken as current. In a worker that
    holds: the package is imported while a call is being unpickled, right
    after that call's own ``invalidate_caches()`` re-read every archive."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _read_at[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_worker() -> None:
    """``install()`` inside a Spark Python worker on Python < 3.13."""
    if sys.version_info >= (3, 13):
        return
    from pyspark.core.files import SparkFiles

    if SparkFiles._is_running_on_worker:
        install()
