"""PySpark-native web-scale main-content extraction engine.

From-scratch re-expression of adbertram/powerpoint_context_extractor's
per-document extraction dataflow as an idiomatic Spark pipeline over
Common-Crawl-style page tables (see SURVEY.md). Not a port: the
reference tells us WHAT to compute (deterministic document-order
traversal, block extraction, keyed stream joins, ordered sink); the HOW
here is DataFrame/Catalyst + Arrow-batched Python kernels.
"""

import sys
import zipimport

__version__ = "0.1.0"


class ZipImporterShedder:
    """``sys.meta_path`` entry that finds nothing and, whenever
    ``importlib.invalidate_caches()`` runs, drops every cached
    ``zipimporter`` from ``sys.path_importer_cache`` first.

    PySpark starts each Python task with ``importlib.invalidate_caches()``;
    on CPython 3.11/3.12 that makes every cached zip importer (pyspark.zip,
    py4j, spark-core's jar) re-read its archive's directory: ~0.2 CPU-s per
    task. A dropped entry is rebuilt on its next lookup from
    ``zipimport._zip_directory_cache``, without a re-read. Spark never
    overwrites an added file within an application, so the archives on
    a worker's ``sys.path`` cannot change under it."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[path]


# a worker imports this package before it runs any package function, so
# every later task of that worker process starts without the re-reads
sys.meta_path.insert(0, ZipImporterShedder)
