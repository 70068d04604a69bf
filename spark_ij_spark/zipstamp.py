"""Re-read a zip archive's import index only when the archive changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. On CPython < 3.12, ``zipimporter.invalidate_caches``
re-parses the archive's whole central directory, once per importer, and
a worker that imports pyspark from ``pyspark.zip`` holds about 16
zipimporters over it, the py4j zip and the Spark jar. That re-read
costs 0.15-0.2 s per task on a 4-core box, more than most engine
kernels.

``install()`` keeps the index each archive was last read with, stamped
by the archive's ``(st_mtime_ns, st_size)`` taken just before the read.
``invalidate_caches`` then re-reads only when the stamp moved or ``stat``
fails, so a rewritten archive is still picked up; every importer over
one archive shares its last read. An archive read before ``install()``
has no stamp, so the first invalidation after it re-reads that archive
once. CPython 3.12 made the re-read lazy, so nothing is patched there.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp, index) of the last successful read
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` once per process; a no-op on CPython >= 3.12."""
    if (
        sys.implementation.name != "cpython"
        or sys.version_info >= (3, 12)
        or getattr(zipimport, "_spark_ij_stamped", False)
    ):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)  # before the read: a later rewrite re-reads
        files = read_directory(archive)
        if stamp is not None:
            _read_at[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        seen = _read_at.get(self.archive)
        stamp = _stamp(self.archive)
        if seen is None or stamp is None or seen[0] != stamp:
            invalidate(self)
            return
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    zipimport._spark_ij_stamped = True
