"""Python-worker daemon for ``get_spark`` sessions.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython < 3.13 ``zipimporter.invalidate_caches`` re-reads
its archive's whole central directory at once, and a worker holds one
zipimporter per package it imported from ``pyspark.zip`` (1,328 entries),
so every warm task read that directory 16 times: most of a small task's
wall time. Here a zipimporter re-reads only when its archive's
``(st_mtime_ns, st_size)`` has changed; CPython 3.13 already defers the
re-read and keeps its own method. ``get_spark`` selects this module
through ``spark.python.daemon.module``; it then runs Spark's own daemon.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_directory_again = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) at its last read; one per process,
# like zipimport's own directory cache.
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files  # may be newer than this importer's copy
        return
    _read_directory_again(self)
    _stamps[self.archive] = stamp


def keep_zip_caches() -> bool:
    """Install the stamp check on CPython < 3.13; return whether it did."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True


if __name__ == "__main__":
    keep_zip_caches()
    from pyspark.daemon import manager

    manager()
