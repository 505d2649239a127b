"""The engine's zipimport guard (``edlib_spark._worker_import``).

Before Python 3.13 every ``importlib.invalidate_caches()`` -- which
PySpark calls at the start of every task -- makes each zipimporter
re-read its whole archive directory.  The guard re-reads an archive
only when its stat changed.  The unit tests need no Spark; the last
test pins the effect inside real PySpark workers.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from edlib_spark import _worker_import

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python >= 3.13 no longer re-reads zips on invalidate_caches")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip with one module on ``sys.path``, a read counter on
    ``zipimport._read_directory``, and the stdlib method restored (and
    the archive's importers dropped) at teardown."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@needs_guard
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    import zg_first
    assert zg_first.VALUE == 1
    _worker_import.install()
    importlib.invalidate_caches()   # first call after install reads
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@needs_guard
def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    import zg_first  # noqa: F401
    _worker_import.install()
    importlib.invalidate_caches()
    before = os.stat(archive)
    _write_zip(archive, {"zg_first": "VALUE = 1\n",
                         "zg_second": "VALUE = 2 * 'x'\n"})
    # The rewrite adds an entry, so the size differs even where the
    # filesystem's mtime resolution is coarse.
    assert os.stat(archive).st_size != before.st_size
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    import zg_second
    assert zg_second.VALUE == "xx"


@needs_guard
def test_install_twice_wraps_once(zip_on_path):
    _worker_import.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    _worker_import.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    original = wrapped._edlib_spark_original
    assert getattr(original, "_edlib_spark_original", None) is None


def test_python_313_left_untouched(zip_on_path, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _worker_import.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_driver_process_left_untouched():
    # The guard is for PySpark workers only; importing the engine in a
    # driver (this process) must not touch zipimport.
    import edlib_spark  # noqa: F401
    if "pyspark.worker_util" in sys.modules:
        pytest.skip("pyspark.worker_util was imported in this process")
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "_edlib_spark_original")


@needs_guard
def test_spark_worker_keeps_zip_directory_across_tasks(spark):
    """16 tasks, each importing the engine: within one reused worker the
    cached pyspark.zip directory must stay the same object from the
    worker's second task on (without the guard every task replaces
    it)."""

    def probe(_rows):
        import os
        import time
        import zipimport

        import edlib_spark  # noqa: F401
        import pyspark

        archive = os.path.dirname(pyspark.__file__)
        while archive and not os.path.isfile(archive):
            parent = os.path.dirname(archive)
            archive = "" if parent == archive else parent
        cached = zipimport._zip_directory_cache.get(archive)
        yield (os.getpid(), time.monotonic_ns(), archive,
               id(cached) if cached is not None else None)

    rows = (spark.sparkContext.parallelize(range(16), 16)
            .mapPartitions(probe).collect())
    if not all(r[2] for r in rows):
        pytest.skip("workers import pyspark from a directory, not a zip")
    by_pid = {}
    for pid, _, _, ident in sorted(rows):   # by pid, then task start
        by_pid.setdefault(pid, []).append(ident)
    assert max(len(ids) for ids in by_pid.values()) >= 3, by_pid
    for pid, ids in by_pid.items():
        assert len(set(ids[1:])) <= 1, (pid, ids)
