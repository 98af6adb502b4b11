"""Skip zip-archive re-reads in ``importlib.invalidate_caches()`` when the
archive has not changed.

Every PySpark task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.10-3.12,
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the whole
central directory of its archive (3.13 only drops the cache entry).
Workers load pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (about
1,300 entries), and every pyspark package imported from it has its own
zipimporter, so each task re-read that directory 16 times. In a
whole-task profile of a grouped-map kernel job this was more than half
of the Python worker's time.

On 3.10-3.12 this module, imported first by the package, wraps
``zipimporter.invalidate_caches``: it re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stat taken just before the
directory was last read (or when the archive cannot be stat'ed). A new or
rewritten archive is still picked up; an unchanged one is not re-read,
and its importers share the directory read last. Reads are recorded by
wrapping ``zipimport._read_directory``, the one function that reads a
directory, so importers created after this module is imported are
covered from their first read. A Python worker imports the package when
it unpickles any library UDF, so the wrapper is in place from its first
library task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (directory dict, archive signature taken before reading it)
_reads: dict[str, tuple[dict, tuple[int, int]]] = {}


def _signature(path: str) -> tuple[int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _install() -> None:
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def _read_and_record(archive):
        _reads.pop(archive, None)
        try:
            sig = _signature(archive)
        except OSError:
            return read_directory(archive)
        files = read_directory(archive)
        _reads[archive] = (files, sig)
        return files

    def invalidate_caches(self):
        try:
            sig = _signature(self.archive)
        except OSError:
            return invalidate(self)
        files, read_sig = _reads.get(self.archive, (None, None))
        if read_sig != sig:
            return invalidate(self)
        self._files = files
        zipimport._zip_directory_cache[self.archive] = files

    invalidate_caches.__wrapped__ = invalidate
    zipimport._read_directory = _read_and_record
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if (3, 10) <= sys.version_info[:2] < (3, 13) and not hasattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__"
):
    _install()
