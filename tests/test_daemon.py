"""Stat-validated zip directory cache of the worker daemon: an unchanged
archive is not re-read by ``importlib.invalidate_caches()`` (which pyspark
calls before every task), a rewritten one is, and workers forked from the
daemon inherit the replacement."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sparkbm25.daemon import install_zip_stat_cache

MOD = "zip_stat_cache_probe_mod"


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", f"VALUE = {value}\n")
        # a few more entries, so the directory read is not trivially small
        for i in range(20):
            zf.writestr(f"pad_{i}.py", "")


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip on sys.path holding MOD, and a counter of directory reads of
    that archive; zipimporter's method and sys.modules are restored after
    the test."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "1")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, MOD, raising=False)
    yield archive, reads
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport invalidation is lazy from 3.13 on")
def test_unchanged_archive_not_reread_rewritten_archive_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module(MOD).VALUE == 1
    assert install_zip_stat_cache() is True
    assert install_zip_stat_cache() is True  # idempotent: no double wrap
    reads.clear()
    importlib.invalidate_caches()  # first call stamps the archive
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged: 0 re-reads

    # Same-size, same-inode rewrite (a one-character edit): only the
    # mtime tells it apart. Bump it so a coarse filesystem clock cannot
    # hide the rewrite.
    old = os.stat(archive)
    _write_zip(archive, "2")  # rewritten in place
    os.utime(archive, ns=(old.st_atime_ns, old.st_mtime_ns + 10**9))
    new = os.stat(archive)
    assert (new.st_size, new.st_ino) == (old.st_size, old.st_ino)
    importlib.invalidate_caches()
    assert len(reads) == 2
    del sys.modules[MOD]
    assert importlib.import_module(MOD).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 2

    _write_zip(archive, "22")  # a rewrite that changes the size
    importlib.invalidate_caches()
    assert len(reads) == 3
    del sys.modules[MOD]
    assert importlib.import_module(MOD).VALUE == 22
    importlib.invalidate_caches()
    assert len(reads) == 3


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport invalidation is lazy from 3.13 on")
def test_removed_archive_falls_back_to_original(zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module(MOD)
    install_zip_stat_cache()
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # original: drops the cached directory
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.skipif(os.environ.get("SPARKBM25_DAEMON", "1") == "0",
                    reason="stock pyspark.daemon requested")
def test_spark_worker_inherits_stat_cache(spark):
    """A task's own invalidate_caches() re-reads no archive: the worker
    forked from sparkbm25.daemon, so pyspark's per-task invalidation is
    stat-validated too."""
    def probe(batches):  # nested: pickled by value, not by module
        import importlib
        import sys
        import zipimport

        import pandas as pd

        calls = []
        original = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return original(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame({
            "reads": [len(calls)],
            "zip_importers": [sum(
                isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values()
            )],
            "stat_validated": [bool(getattr(
                zipimport.zipimporter.invalidate_caches, "_stat_validated",
                False))],
            "before_313": [sys.version_info < (3, 13)],
        })

    df = spark.range(0, 1, 1, 1)
    row = df.mapInPandas(
        probe,
        "reads long, zip_importers long, stat_validated boolean, "
        "before_313 boolean",
    ).collect()[0]
    assert row.zip_importers > 0  # pyspark.zip, py4j, the shipped package
    assert row.reads == 0
    assert row.stat_validated == row.before_313
