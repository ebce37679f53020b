"""A stat-checked zip directory cache for PySpark Python workers.

Every task a reused Python worker runs starts in PySpark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
On Python 3.10-3.12 that makes each cached ``zipimporter`` re-read its
archive's central directory at once: a worker holds ~16 of them over
``pyspark.zip`` (1,328 entries), and the re-reads cost ~150-220 ms
of every task, however few rows it has (4-core host, Python 3.11).
Python 3.13 made the reload lazy.

``install()`` backports that as a stat check: ``invalidate_caches``
keeps an archive's directory when its ``(st_mtime_ns, st_size)`` still
matches the stat taken just before the directory was last read, and
takes the stdlib path (re-read, or drop a missing archive) otherwise.
It installs only inside a PySpark Python worker and only on the eager
stdlib form; elsewhere it does nothing. The package ``__init__`` calls
it, so unpickling any of the library's UDFs installs it.

Limits: the first task on each new worker still pays the re-reads
once (the package is imported while that task's command is unpickled,
after its ``setup_spark_files``), and with
``spark.python.worker.reuse=false`` every task is a first task.
"""

from __future__ import annotations

import os
import zipimport

_WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"

# archive path -> (st_mtime_ns, st_size) taken just before its
# directory was last read; None when the stat failed.
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _eager() -> bool:
    """True on the 3.10-3.12 form: ``invalidate_caches`` re-reads the
    directory into the instance's ``_files`` (3.13 reads lazily through
    ``_get_files``)."""
    return (hasattr(zipimport, "_read_directory")
            and hasattr(zipimport, "_zip_directory_cache")
            and not hasattr(zipimport.zipimporter, "_get_files"))


def install() -> bool:
    """Install the stat-checked ``invalidate_caches`` in this process;
    True when it is (or already was) installed."""
    if _WORKER_ENV not in os.environ or not _eager():
        return False
    if getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked",
               False):
        return True
    read = zipimport._read_directory
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = read(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = cache.get(self.archive)
        stamp = _stamps.get(self.archive)
        if (files is not None and stamp is not None
                and stamp == _stamp(self.archive)):
            self._files = files
        else:
            stdlib_invalidate(self)

    invalidate_caches._stat_checked = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Directories read before the install carry no stamp: read each
    # once more so that every cached directory has one.
    for archive in list(cache):
        try:
            cache[archive] = _read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)
    return True
