"""Spark's source zips on a Python worker's path: drop them when an
installed copy is the same release, and re-read a zip archive's import
index only when the archive changed.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source
zip first on every Python worker's path. The zips hold no bytecode, so
a process that imports pyspark from them compiles every module it loads
(about 0.6 s of the engine daemon's 1.1-1.3 s import on a 4-core box).
``installed_over_zips`` drops such a zip when the rest of the path
holds an installed copy of the same package whose ``version.py`` is
byte-identical to the zip's; ``prefer_installed`` applies it to
``sys.path`` before pyspark is first imported, so a ``get_spark``
session's worker daemon, and every worker forked from it, runs the
driver's own, bytecode-cached pyspark. Once pyspark is imported the
path is left alone, so no process mixes two copies: a bare session's
stock-daemon worker imported pyspark from the zip before it unpickled
an engine UDF, and keeps it.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. On CPython < 3.12, ``zipimporter.invalidate_caches``
re-parses the archive's whole central directory, once per importer. A
``get_spark`` worker still holds a zipimporter over the Spark jar; a
bare session's worker holds about 16 over ``pyspark.zip``, the py4j zip
and the jar. That re-read costs 0.15-0.2 s per task on a 4-core box,
more than most engine kernels.

``install()`` keeps the index each archive was last read with, stamped
by the archive's ``(st_mtime_ns, st_size)`` taken just before the read.
``invalidate_caches`` then re-reads only when the stamp moved or ``stat``
fails, so a rewritten archive is still picked up; every importer over
one archive shares its last read. An archive read before ``install()``
has no stamp, so the first invalidation after it re-reads that archive
once. CPython 3.12 made the re-read lazy, so nothing is patched there.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipimport

#: source-zip file name pattern -> the package it holds
SOURCE_ZIPS = {"pyspark.zip": "pyspark", "py4j-*-src.zip": "py4j"}

# archive path -> (stamp, index) of the last successful read
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _zip_package(entry: str) -> str | None:
    name = os.path.basename(entry)
    return next((pkg for pat, pkg in SOURCE_ZIPS.items() if fnmatch.fnmatch(name, pat)), None)


def _provider(path: list[str], pkg: str) -> str | None:
    """The entry of ``path`` that ``import pkg`` would load it from."""
    for entry in path:
        if os.path.isdir(entry or os.curdir):
            if os.path.isfile(os.path.join(entry or os.curdir, pkg, "__init__.py")):
                return entry
        elif os.path.isfile(entry):
            try:
                if zipimport.zipimporter(entry).find_spec(pkg) is not None:
                    return entry
            except zipimport.ZipImportError:
                pass
    return None


def _version_py(entry: str, pkg: str) -> bytes | None:
    try:
        if os.path.isdir(entry or os.curdir):
            with open(os.path.join(entry or os.curdir, pkg, "version.py"), "rb") as fh:
                return fh.read()
        return zipimport.zipimporter(entry).get_data(f"{pkg}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def installed_over_zips(path: list[str]) -> list[str]:
    """``path`` without each pyspark/py4j source zip whose package the
    rest of ``path`` imports from an installed copy with a byte-identical
    ``version.py``; each package is decided on its own."""
    out = list(path)
    for entry in path:
        pkg = _zip_package(entry)
        if pkg is None:
            continue
        rest = [p for p in out if p != entry]
        installed = _provider(rest, pkg)
        if installed is None or not os.path.isdir(installed or os.curdir):
            continue
        ours = _version_py(entry, pkg)
        if ours is not None and _version_py(installed, pkg) == ours:
            out = rest
    return out


def prefer_installed() -> None:
    """Apply ``installed_over_zips`` to ``sys.path`` unless pyspark is
    already imported."""
    if "pyspark" not in sys.modules:
        sys.path[:] = installed_over_zips(sys.path)


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
