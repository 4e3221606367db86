"""What a Python worker pays before and around each task. Every worker
forks from the package daemon (``daemon.py``), which has imported
pyarrow, pandas and the kernel, installed ``ZipImporterShedder`` and
frozen its heap. PySpark runs ``importlib.invalidate_caches()`` at the
start of every task, and no task, a worker's first included, may pay
for re-reading the zip archives on ``sys.path``; it runs a full
``gc.collect()`` after every task of a reused worker, and no collection
may walk the import-time heap. Only the daemon freezes, never the
driver, and nothing else in the package calls ``gc.freeze``."""

import ast
import gc
import importlib
import importlib.machinery
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from powerpoint_context_extractor_spark import ZipImporterShedder, corpus
from powerpoint_context_extractor_spark.operators.extract import (
    _kernel_batches_arrow,
    extract_pages,
)

PKG = "pcx_zip_probe"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "powerpoint_context_extractor_spark"
DAEMON = f"{PACKAGE}.daemon"


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


def test_reused_workers_collect_without_the_import_heap(spark):
    rows = corpus.fixture_pages()
    pages = spark.createDataFrame([(r["url"], r["html"]) for r in rows],
                                  "url string, html binary")
    assert extract_pages(pages.repartition(16, "url")).count() == len(rows)

    def gc_heap_at_task_start(batches):
        import gc
        import os
        import sys

        import pyarrow as pa
        walked = {id(o) for o in gc.get_objects()}
        # namespaces every worker holds before its first batch
        spaces = [sys.modules[m].__dict__ for m in
                  ("pyspark.worker", "pyarrow.lib", "pandas.core.frame")]
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "frozen": [gc.get_freeze_count()],
            "walked": [sum(id(d) in walked for d in spaces)],
            "parent": [parent]})

    got = (spark.range(0, 4, numPartitions=4)
           .mapInArrow(gc_heap_at_task_start,
                       "frozen long, walked long, parent string")
           .collect())
    assert len(got) == 4
    for r in got:
        assert r.frozen >= 20_000, r
        assert r.walked == 0, r
        assert DAEMON in r.parent.split(), r

    # the driver's heap is never frozen
    before = gc.get_freeze_count()
    batch = pa.RecordBatch.from_pylist(
        [{"url": rows[0]["url"], "html": rows[0]["html"]}])
    assert sum(rb.num_rows for rb in _kernel_batches_arrow([batch])) == 1
    assert gc.get_freeze_count() == before


def _freeze_calls(tree) -> int:
    return sum(
        (isinstance(n, ast.Attribute) and n.attr == "freeze"
         and isinstance(n.value, ast.Name) and n.value.id == "gc")
        or (isinstance(n, ast.ImportFrom) and n.module == "gc"
            and any(a.name == "freeze" for a in n.names))
        for n in ast.walk(tree))


def test_only_the_daemon_freezes_the_heap():
    calls = {}
    for d, _dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    n = _freeze_calls(ast.parse(f.read(), path))
                if n:
                    calls[os.path.relpath(path, ROOT)] = n
    assert calls == {os.path.join(PACKAGE, "daemon.py"): 1}


_PROBE = """
import gc, json, os, sys
{imports}
names = sorted(open(f"/proc/self/task/{{t}}/comm").read().strip()
               for t in os.listdir("/proc/self/task"))
print(json.dumps({{
    "first": getattr(sys.meta_path[0], "__name__", None),
    "pandas": "pandas" in sys.modules,
    "frozen": gc.get_freeze_count(),
    "threads": names}}))
"""


def _fresh_interpreter(imports: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(imports=imports)], cwd=ROOT,
        env=env, capture_output=True, text=True, timeout=120, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def test_daemon_module_prepares_a_fork_safe_heap():
    """Importing the daemon module (its ``manager`` only runs as
    ``__main__``) leaves a fresh interpreter with the shedder first on
    ``sys.meta_path``, pandas loaded and the heap frozen, and with no
    OS thread that a bare ``pyspark.daemon`` lacks but pyarrow's
    jemalloc background thread: no thread pool runs when it forks."""
    bare = _fresh_interpreter("import pyspark.daemon")
    got = _fresh_interpreter(f"import {DAEMON}")
    assert got["first"] == ZipImporterShedder.__name__
    assert got["pandas"]
    assert got["frozen"] >= 20_000
    assert bare["frozen"] == 0
    assert got["threads"] in (
        bare["threads"], sorted(bare["threads"] + ["jemalloc_bg_thd"])), (
        bare, got)
