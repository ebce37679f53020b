"""The stat-checked zip directory cache of ``_pyworker``: a reused
Python worker's ``importlib.invalidate_caches()`` (PySpark calls it at
the start of every task) must not re-read an unchanged archive, and
must still see a rewritten or deleted one."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafusion_functions_financial_spark import _pyworker
from datafusion_functions_financial_spark.functions.indicators import (
    _map_series,
)

MOD = "_dffs_zipped_mod"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", source)


@pytest.fixture
def stdlib_zipimport(monkeypatch):
    """Restores the stdlib zipimport functions and drops the cache
    stamps after the test, whatever it installed."""
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_pyworker, "_stamps", {})


@pytest.fixture
def zipped(tmp_path, monkeypatch, stdlib_zipimport):
    """An archive on ``sys.path`` whose module is imported, so that a
    ``zipimporter`` over it sits in ``sys.path_importer_cache``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    mod = importlib.import_module(MOD)
    assert mod.X == 1
    yield archive
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` is asked to read."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _in_worker(monkeypatch):
    monkeypatch.setenv(_pyworker._WORKER_ENV, "secret")
    assert _pyworker.install()


def _reimport():
    sys.modules.pop(MOD, None)
    return importlib.import_module(MOD)


def test_unchanged_archive_is_not_reread(zipped, monkeypatch, reads):
    _in_worker(monkeypatch)
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert _reimport().X == 1


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(zipped, monkeypatch, reads, change):
    _in_worker(monkeypatch)
    importlib.invalidate_caches()
    st = os.stat(zipped)
    if change == "size":
        _write_zip(zipped, "X = 2\nY = 'longer'\n")
        os.utime(zipped, ns=(st.st_atime_ns, st.st_mtime_ns))
    else:
        _write_zip(zipped, "X = 3\n")
        assert os.stat(zipped).st_size == st.st_size
        os.utime(zipped, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    del reads[:]
    importlib.invalidate_caches()
    assert zipped in reads
    assert _reimport().X == (2 if change == "size" else 3)


def test_deleted_archive_takes_the_stdlib_path(zipped, monkeypatch):
    _in_worker(monkeypatch)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zipped]
    os.remove(zipped)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert zipped not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        _reimport()


def test_install_is_a_noop_outside_a_worker(monkeypatch, stdlib_zipimport):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.delenv(_pyworker._WORKER_ENV, raising=False)
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_install_is_a_noop_on_a_lazy_stdlib(monkeypatch, stdlib_zipimport):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setenv(_pyworker._WORKER_ENV, "secret")
    # The 3.13 form reads the directory lazily through _get_files.
    monkeypatch.setattr(zipimport.zipimporter, "_get_files",
                        lambda self: {}, raising=False)
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_worker_task_rereads_no_zip_directory(spark):
    """Inside a library ``mapInPandas`` task, the worker's
    ``importlib.invalidate_caches()`` reads no archive directory
    (~16 re-reads of pyspark.zip without the cache)."""

    def fold(pdf, starts, ends):
        import importlib
        import zipimport

        seen = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return {"reads": np.full(len(pdf), float(len(seen)))}

    df = spark.range(8).selectExpr("id % 2 AS k", "id AS t")

    def max_reads():
        out = _map_series(df, ["k"], ["t"], ["reads"], fold)
        return out.agg(F.max("reads")).first()[0]

    max_reads()  # the first task on each worker installs the cache
    assert max_reads() == 0
