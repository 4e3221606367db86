"""The package's ``ZipImporterShedder``: PySpark runs
``importlib.invalidate_caches()`` at the start of every Python task, and
no task may pay for re-reading the zip archives on ``sys.path``."""

import importlib
import importlib.machinery
import sys
import zipfile
import zipimport

import pytest

from powerpoint_context_extractor_spark import ZipImporterShedder, corpus
from powerpoint_context_extractor_spark.operators.extract import extract_pages

PKG = "pcx_zip_probe"


@pytest.fixture
def zipped_package(tmp_path, monkeypatch):
    """A two-module package zipped in the ``--py-files`` shape and put
    first on ``sys.path``; ``sys.modules`` and the importer caches are
    restored afterwards."""
    archive = str(tmp_path / "pyfiles.zip")
    with zipfile.ZipFile(archive, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(archive, None)


def _count_directory_reads(monkeypatch) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_caches_rereads_no_zip_archive(zipped_package,
                                                  monkeypatch):
    importlib.import_module(f"{PKG}.first")
    assert any(isinstance(f, zipimport.zipimporter) and
               f.archive == zipped_package
               for f in sys.path_importer_cache.values())
    assert (sys.meta_path.index(ZipImporterShedder)
            < sys.meta_path.index(importlib.machinery.PathFinder))
    reads = _count_directory_reads(monkeypatch)
    if sys.version_info < (3, 13):
        # control: without the shedder, CPython 3.11/3.12 re-read
        # every cached archive right away
        with monkeypatch.context() as m:
            m.setattr(sys, "meta_path", [f for f in sys.meta_path
                                         if f is not ZipImporterShedder])
            importlib.invalidate_caches()
        assert zipped_package in reads
        reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    # a lazy import from the same archive still works, and rebuilds its
    # importer from the directory cache without a re-read
    assert importlib.import_module(f"{PKG}.second").VALUE == 2
    assert reads == []


def test_python_tasks_start_without_zip_importers(spark):
    rows = corpus.fixture_pages()
    pages = spark.createDataFrame([(r["url"], r["html"]) for r in rows],
                                  "url string, html binary")
    # more tasks than cores, so every reused worker runs the package
    assert extract_pages(pages.repartition(16, "url")).count() == len(rows)

    def zip_importers_at_task_start(batches):
        import sys
        import zipimport

        import pyarrow as pa
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n": [n]})

    got = (spark.range(0, 4, numPartitions=4)
           .mapInArrow(zip_importers_at_task_start, "n long").collect())
    assert [r.n for r in got] == [0, 0, 0, 0]
