"""Stat-checked zipimporter.invalidate_caches (nabu_spark._zipcache): an
unchanged archive is not re-read on importlib.invalidate_caches(), a
rewritten one is, and Spark's Python workers run with it installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from nabu_spark import _zipcache

EAGER_STDLIB = sys.version_info < (3, 13)


def _write_pkg_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zcpkg/__init__.py", "")
        z.writestr("zcpkg/sub/__init__.py", "")
        z.writestr("zcpkg/sub/mod.py", f"VALUE = {value!r}\n")


def _drop_pkg() -> None:
    for name in [m for m in sys.modules if m == "zcpkg" or m.startswith("zcpkg.")]:
        del sys.modules[name]


def test_import_installs_once_where_stdlib_is_eager():
    assert _zipcache.installed() == EAGER_STDLIB
    before = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_unchanged_archive_not_reread_changed_archive_reloaded(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    _write_pkg_zip(archive, "old")
    monkeypatch.syspath_prepend(archive)
    try:
        from zcpkg.sub import mod

        assert mod.VALUE == "old"
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
        ]
        assert len(importers) >= 2  # one per imported package path
        importlib.invalidate_caches()  # the first call after import stamps the archive

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        assert [p for p in reads if p == archive] == []

        _write_pkg_zip(archive, "rewritten")
        importlib.invalidate_caches()
        _drop_pkg()
        from zcpkg.sub import mod as mod2

        assert mod2.VALUE == "rewritten"
    finally:
        _drop_pkg()
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(not EAGER_STDLIB, reason="stdlib zipimport re-reads lazily")
def test_spark_workers_run_with_backport(spark):
    import pyarrow as pa
    from pyspark.sql import functions as F

    from nabu_spark.operators.release import utf8_bytesum

    df = spark.range(0, 400, numPartitions=4)
    df.select(F.sum(utf8_bytesum(F.col("id").cast("string")))).first()

    def probe(batches):
        import importlib
        import os
        import zipimport

        from nabu_spark import _zipcache

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [_zipcache.installed()],
            "rereads": [len(reads)],
        })

    rows = df.mapInArrow(probe, "pid long, installed boolean, rereads long").collect()
    assert len(rows) == 4
    assert all(r["installed"] for r in rows), rows
    assert all(r["rereads"] == 0 for r in rows), rows
