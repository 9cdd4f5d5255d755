"""Stat-validated zip-archive invalidation (``spark_fits_spark.
_install_zip_stat_check``): PySpark workers call
``importlib.invalidate_caches()`` on every request, and an unchanged
archive must not be re-parsed each time, while a rewritten one must
still be re-read."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import spark_fits_spark


def _write_zip(path, modules):
    """Write ``{name: source}`` as a zip at ``path`` through a rename,
    the way an archive is replaced in place."""
    tmp = path + ".part"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with one imported module, so a zipimporter
    over it sits in ``sys.path_importer_cache``."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    names = ("zc_first", "zc_second")
    try:
        assert importlib.import_module("zc_first").X == 1
        assert isinstance(sys.path_importer_cache[path],
                          zipimport.zipimporter)
        yield path
    finally:
        for n in names:
            sys.modules.pop(n, None)


def test_unchanged_archive_is_not_reparsed(archive, reads):
    importlib.invalidate_caches()
    assert reads.count(archive) == 1   # the first call reads as before
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    importer = sys.path_importer_cache[archive]
    assert "zc_first.py" in importer._files
    assert zipimport._zip_directory_cache[archive] is importer._files


def test_rewritten_archive_is_reread(archive, reads):
    importlib.invalidate_caches()
    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_second").Y == 2


def test_deleted_archive_falls_back_to_stock(archive, reads):
    importlib.invalidate_caches()
    os.remove(archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1   # stock attempted the read
    importer = sys.path_importer_cache[archive]
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_second")
    # a new archive at the same path is read, not served from before
    _write_zip(archive, {"zc_second": "Y = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_second").Y == 3


def test_install_twice_wraps_once():
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped._stat_checked
    spark_fits_spark._install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped.__wrapped__, "_stat_checked")


def test_spark_worker_skips_unchanged_archives(spark):
    """In a real Python worker: importing the package installs the
    check, and a second invalidation there parses no archive entries.
    The worker's zipimporters (pyspark.zip, py4j, the shipped package
    zip) are counted so the check cannot pass vacuously."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import spark_fits_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        entries = []
        real = zipimport._read_directory

        def counting(archive):
            files = real(archive)
            entries.append(len(files))
            return files

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "installed": [bool(getattr(
                zipimport.zipimporter.invalidate_caches,
                "_stat_checked", False))],
            "zip_importers": [sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())],
            "entries": [sum(entries)],
        })

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "installed boolean, zip_importers long, "
                              "entries long")
           .collect()[0])
    assert row["installed"]
    assert row["zip_importers"] > 0
    assert row["entries"] == 0
