"""Skip zip-archive directory re-reads that ``importlib.invalidate_caches``
does for archives that have not changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` once per
task (``pyspark/worker_util.py::setup_spark_files``).  Up to CPython 3.12,
``zipimport.zipimporter.invalidate_caches`` answers by re-parsing the
whole central directory of its archive, and there is one zipimporter per
imported package of ``pyspark.zip`` (1,328 entries; 14 importers once
``pyspark.worker`` and the pandas serializers are loaded).  On a 4-vCPU
host that is 0.20-0.41 s of every Python task; a grouped-state task pays
it before its first group call.

``install()`` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken just
before its cached directory was read, or when the cached directory is
not the one that read produced.  Otherwise the importer takes the cached
directory as it is.  A rewritten archive is still re-read, so imports
behave as before.  To know each cached directory's stamp, ``install()``
also wraps ``zipimport._read_directory``, through which both the
importer's constructor and the original ``invalidate_caches`` read.

CPython 3.13 made the invalidation lazy (it drops the cache entry and
re-reads on the next lookup), and before 3.10 zipimporters had no
``invalidate_caches``: on those versions ``install()`` does nothing.

``hermes_spark/__init__.py`` installs it, so it reaches every Python
worker that unpickles an engine function such as
``streaming/cdc.py::_classify_bucket``.  Workers are reused across tasks
(``spark.python.worker.reuse``, on by default), so only a worker's first
tasks read the archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp taken before the read, directory that read returned)
_reads: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Install the fix, once per process, where the version needs it."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or not hasattr(cls, "invalidate_caches"):
        return
    if getattr(cls.invalidate_caches, "_skips_unchanged", False):
        return

    read_directory = zipimport._read_directory
    reload_directory = cls.invalidate_caches

    def _read_directory(archive):
        # stat first: an archive rewritten during the read keeps a stale
        # stamp, so the next invalidation reads it again
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        """Reload the file data of the archive path if it changed."""
        cached = zipimport._zip_directory_cache.get(self.archive)
        read = _reads.get(self.archive)
        if (
            cached is not None
            and read is not None
            and read[1] is cached
            and read[0] == _stamp(self.archive)
        ):
            self._files = cached
            return
        reload_directory(self)

    invalidate_caches._skips_unchanged = True
    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
