"""The PySpark daemon of this package's Python workers
(``spark.python.daemon.module``, set by ``session.get_spark``): it loads
everything a worker imports before its first task (pyspark's worker,
pyarrow with its lazy pandas import, the package with its
``ZipImporterShedder``, the kernel) and freezes that heap, then forks
every worker from it. Each worker starts with the import-time heap
shared copy-on-write and out of the collector's walk, and its first
task already starts under the shedder. There is no fallback: a daemon
that cannot import the package fails to launch and fails every Python
task, whose workers could not have unpickled package code either."""

import gc

import pyspark.daemon

import pyarrow as pa
import pyarrow.parquet  # noqa: F401

from .operators import extract  # noqa: F401

pa.array([], pa.int64())                 # pyarrow's lazy pandas import
gc.freeze()                              # just before fork, as gc's docs say

if __name__ == "__main__":
    pyspark.daemon.manager()
