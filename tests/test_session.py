"""Python-worker daemon (`wukong_spark._pydaemon`): stat-checked zipimport
invalidation.

`pyspark.worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
before every Python task; the stock CPython 3.11 zipimporter re-reads the
archive's central directory once per cached package importer.  The daemon's
replacement re-reads an archive only when its stat stamp changed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from wukong_spark import _pydaemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding package `wukong_ziptest` on sys.path, imported (so both
    the archive-root and the package importer are cached), under the
    daemon's `invalidate_caches`.  Yields (archive path, read counter)."""
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {
        "wukong_ziptest/__init__.py": "",
        "wukong_ziptest/a.py": "VALUE = 1\n",
    })
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("wukong_ziptest.a")

    reads = [0]
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads[0] += 1
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(_pydaemon, "_stamps", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    yield archive, reads
    for name in [m for m in sys.modules if m.startswith("wukong_ziptest")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_zip_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    importlib.invalidate_caches()  # first call takes the stamp: one read
    assert reads[0] == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads[0] == 1
    import wukong_ziptest.a

    assert wukong_ziptest.a.VALUE == 1


def test_rewritten_zip_is_reread_and_new_module_imports(zip_pkg):
    archive, reads = zip_pkg
    importlib.invalidate_caches()
    _write_zip(archive, {
        "wukong_ziptest/__init__.py": "",
        "wukong_ziptest/a.py": "VALUE = 1\n",
        "wukong_ziptest/b.py": "VALUE = 2\n",
    })
    importlib.invalidate_caches()
    # one read serves both cached importers of the archive
    assert reads[0] == 2
    b = importlib.import_module("wukong_ziptest.b")
    assert b.VALUE == 2


def _worker_probe(rows):
    """Runs in a Python worker: which `invalidate_caches` is installed,
    where pyspark comes from, and whether the `pyspark.zip` directory was
    re-read since the last probe on this worker (a re-read replaces the
    `_zip_directory_cache` entry with a new dict)."""
    import zipimport

    import pyspark

    for _ in rows:  # a worker that leaves input unread is not reused
        pass

    archive = pyspark.__file__.split(".zip" + os.sep, 1)[0] + ".zip"
    files = zipimport._zip_directory_cache.get(archive)
    last = getattr(zipimport, "_wukong_probe_files", None)
    zipimport._wukong_probe_files = files
    fn = zipimport.zipimporter.invalidate_caches
    yield (
        f"{fn.__module__}.{fn.__qualname__}",
        pyspark.__file__,
        last is not None,
        last is files,
    )


def test_python_tasks_run_under_library_daemon(spark):
    sc = spark.sparkContext
    # idle workers are handed out in turn: probe until one lands on a
    # worker an earlier probe already visited
    for _ in range(64):
        impl, pyspark_file, visited, same = (
            sc.parallelize([0], 1).mapPartitions(_worker_probe).collect()[0]
        )
        assert impl == "wukong_spark._pydaemon.invalidate_caches"
        if ".zip" + os.sep not in pyspark_file:
            pytest.skip("workers import pyspark from a directory")
        if visited:
            break
    else:
        pytest.fail("no probe reached an already-visited worker")
    assert same, "a warm worker re-read pyspark.zip at task set-up"
