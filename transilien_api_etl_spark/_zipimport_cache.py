"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``), on executor
workers and on the driver-side DataSource planner workers alike. On
CPython 3.10-3.12, ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory, once per zipimporter in
``sys.path_importer_cache``. A worker imports pyspark from
``pyspark.zip`` (~1,300 entries) through a dozen or more zipimporters,
one per imported subpackage, so each task paid ~55-75 ms of directory
parsing before running any code (measured on CPython 3.11, 4 cores).
CPython 3.13 made the method lazy and 3.9 has none, so nothing is
patched there.

Every directory read records the archive's ``(st_mtime_ns, st_size,
st_ino)`` taken just before it. The replacement re-reads an archive only
when that stat differs from the one recorded for the directory
``zipimport``'s shared cache holds; otherwise the importer adopts the
cached directory. An archive rewritten since (a new mtime, size or
inode) is therefore still re-read, and a zip added later (``addPyFile``)
is a new path with a new importer anyway.
An ``OSError`` from the stat falls back to the original method.
Installing is idempotent; importing this package installs it, so it takes
effect in every process that unpickles package code.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    cls = zipimport.zipimporter
    original = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or original is None or getattr(original, "_stat_keyed", False):
        return
    read_directory = zipimport._read_directory
    read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat its cached directory was read at

    def _read_directory(archive):
        read_at.pop(archive, None)
        try:
            key = _stat_key(archive)
        except OSError:
            key = None
        files = read_directory(archive)
        if key is not None:
            read_at[archive] = key
        return files

    def invalidate_caches(self):
        try:
            key = _stat_key(self.archive)
        except OSError:
            return original(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
        else:
            original(self)

    invalidate_caches._stat_keyed = True
    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
