"""Keep zip-archive directories cached across Python UDF tasks.

Before every task, Spark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive at once, and a worker holds one
zipimporter per package directory it imported from: Spark 4.1's
``pyspark.zip`` (1,328 entries) sits behind about 16 of them, so every
task re-parsed that directory 16 times before any user code ran: about
0.17 s of CPU per task on an x86-64 VM under Python 3.11.
Python 3.13 only drops the cache entry and re-reads on the next lookup.

``install`` (run by the package ``__init__``, so it reaches each worker
the first time a package UDF is unpickled) goes one step further for
Python < 3.13: an archive's directory is re-read only when the file's
``(st_mtime_ns, st_size)`` differs from when it was last read, so a zip
that ``--py-files``/``addPyFile`` replaces is still picked up. Archives
read before ``install`` are stamped at install time, so the worker's
next task already re-reads nothing.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _wrap_read(read):
    @functools.wraps(read)
    def read_directory(archive):
        # stat BEFORE reading: a write racing the read leaves an older
        # stamp, so the next invalidation re-reads rather than misses it
        stamp = _stamp(archive)
        files = read(archive)
        _stamps[archive] = stamp
        return files

    return read_directory


def _wrap_invalidate(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files  # another importer of this archive may have re-read it
            return
        invalidate(self)

    return invalidate_caches


def install() -> None:
    """Patch ``zipimport`` once per process (a no-op on Python >= 3.13)."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(zi.invalidate_caches, "__wrapped__"):
        return
    zipimport._read_directory = _wrap_read(zipimport._read_directory)
    zi.invalidate_caches = _wrap_invalidate(zi.invalidate_caches)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zi):
            _stamps.setdefault(finder.archive, _stamp(finder.archive))
