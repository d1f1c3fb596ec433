"""Zip importers that re-read an archive only when it changed
(``cqi_engine/_zipimport.py``).

Unit tests on a temporary zip: ``importlib.invalidate_caches()`` re-reads
an unchanged archive never, a rewritten one at once, and a deleted one as
stock CPython does.  The Spark test checks a warm Python worker: before
every task it calls ``importlib.invalidate_caches()``, which on CPython
< 3.12 re-reads about 17 zip directories (``pyspark.zip``, the Spark jar,
py4j) unless the importers are swapped.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cqi_engine._zipimport import StampedZipImporter


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` whose importer is a ``StampedZipImporter``;
    yields (path, reads), reads being the archives ``_read_directory``
    opened since the last clear."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"_zipprobe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setitem(sys.path_importer_cache, path,
                        StampedZipImporter(path))
    reads = []
    real = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    for name in ("_zipprobe_a", "_zipprobe_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    assert reads.count(path) == 1  # the first call always reads
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0
    assert importlib.import_module("_zipprobe_a").X == 1


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("_zipprobe_b")
    _write_zip(path, {"_zipprobe_a": "X = 1\n", "_zipprobe_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("_zipprobe_b").Y == 2


def test_deleted_archive_behaves_as_stock(archive):
    """Missing: both importers drop the directory and find nothing; back
    again (same content): both find the module again."""
    path, _ = archive
    stamped = sys.path_importer_cache[path]
    stock = zipimport.zipimporter(path)
    importlib.invalidate_caches()
    os.remove(path)
    for imp in (stamped, stock):
        imp.invalidate_caches()
        assert imp._files == {}
        assert imp.find_spec("_zipprobe_a") is None
    assert path not in zipimport._zip_directory_cache
    _write_zip(path, {"_zipprobe_a": "X = 1\n"})
    for imp in (stamped, stock):
        imp.invalidate_caches()
        assert imp.find_spec("_zipprobe_a") is not None


def test_driver_keeps_stock_importers():
    """The swap happens only inside Spark Python workers."""
    import cqi_engine  # noqa: F401

    assert StampedZipImporter not in sys.path_hooks
    assert zipimport.zipimporter in sys.path_hooks


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 reloads zip directories lazily")
def test_warm_worker_task_reads_no_zip_directory(spark):
    """From the second task of a worker that imported ``cqi_engine``, the
    worker's own per-task ``importlib.invalidate_caches()`` has already
    made the first (reading) call, so the one in the UDF reads nothing,
    and every zip importer is a ``StampedZipImporter``."""
    def probe(batches):
        # nested, so that it is pickled by value into the worker
        import importlib
        import sys
        import zipimport

        import pandas as pd

        warm = "cqi_engine" in sys.modules
        import cqi_engine  # noqa: F401

        reads = []
        real = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        kinds = sorted({type(i).__name__
                        for i in sys.path_importer_cache.values()
                        if isinstance(i, zipimport.zipimporter)})
        for _ in batches:
            pass
        yield pd.DataFrame({"warm": [warm], "reads": [len(reads)],
                            "kinds": [",".join(kinds)]})

    one = spark.range(1, numPartitions=1)
    rows = []
    for _ in range(4):
        rows += one.mapInPandas(
            probe, "warm boolean, reads long, kinds string").collect()
    warm = [r for r in rows if r["warm"]]
    assert warm, rows
    assert all(r["reads"] == 0 for r in warm), rows
    assert all(r["kinds"] == "StampedZipImporter" for r in warm), rows
