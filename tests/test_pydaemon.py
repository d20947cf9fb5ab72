"""The engine's PySpark daemon: its zip-cache rule re-reads an archive
only when the archive changed, and Python workers really fork from it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from scache_spark import _pydaemon

# A submodule of a package, so the archive has two importers (the
# sys.path entry and the package directory), as pyspark.zip has one per
# imported subpackage.
PACKAGE = "pydaemon_probe"
MODULE = f"{PACKAGE}.mod"


def _write_zip(path, value: int) -> None:
    # fixed entry timestamps: archives with equal-length sources are
    # the same size
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in (("__init__.py", ""), ("mod.py", f"VALUE = {value}\n")):
            info = zipfile.ZipInfo(f"{PACKAGE}/{name}", date_time=(2020, 1, 1, 0, 0, 0))
            zf.writestr(info, src)


def _import_value() -> int:
    sys.modules.pop(MODULE, None)
    return importlib.import_module(MODULE).VALUE


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert _import_value() == 1

        def rereads_on_invalidate() -> int:
            before = reads.count(archive)
            importlib.invalidate_caches()
            return reads.count(archive) - before

        assert rereads_on_invalidate() == 1  # first sight: stamp recorded
        assert rereads_on_invalidate() == 0

        # new content of a new size; the package-directory importer
        # would read only 10 of mod.py's 11 bytes if it kept the old
        # directory
        _write_zip(archive, 100)
        assert rereads_on_invalidate() == 1
        assert _import_value() == 100
        assert rereads_on_invalidate() == 0

        # same size, only the mtime moves
        size, mtime_ns = os.stat(archive).st_size, os.stat(archive).st_mtime_ns
        _write_zip(archive, 300)
        os.utime(archive, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
        assert os.stat(archive).st_size == size
        assert rereads_on_invalidate() == 1
        assert _import_value() == 300
    finally:
        for name in (MODULE, PACKAGE):
            sys.modules.pop(name, None)
        for path in (archive, os.path.join(archive, PACKAGE)):
            sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(archive, None)
        _pydaemon._stamps.pop(archive, None)


def test_workers_fork_from_engine_daemon(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "scache_spark._pydaemon"
    )

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "module string").collect()
    assert [r.module for r in rows] == ["scache_spark._pydaemon"] * 2
