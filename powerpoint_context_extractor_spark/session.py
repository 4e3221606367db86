"""SparkSession factory with the engine's standard knobs.

Local-mode defaults are sized to the host: one task slot per core this
process may run on (``SPARK_GRAFT_CPUS`` overrides the count) and a
driver heap of half the physical memory, capped at 48 GiB. On a real
cluster the same knobs apply per-executor and AQE re-plans at runtime.
Arrow batches are bounded by bytes, with a records backstop (SURVEY.md
§4 "Vectorization"). The JVM runs ParallelGC with a young generation
that starts at ``YOUNG_PER_SLOT`` (96 MiB) per task slot, 384 MiB at
``local[4]`` and 3 GiB at 32 slots, and grows as ParallelGC's own
sizing needs to a third of the heap, at most ``YOUNG_CAP`` (4 GiB).
Python workers fork from the package daemon (``daemon.py``), so the
package must be importable where the JVM starts Python: from its
working directory or ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Arrow batches are bounded by BYTES, since html rows run to many KB;
# the records bound is a backstop. The batch sets a Python worker's
# working set (one batch's rows as Python objects, beside its task file's
# Arrow output) and the JVM's off-heap Arrow buffers. It does not set the
# parquet layout: operators/extract.py::_write_batches writes one row
# group per task file. On a 4-core host, perfbench cc_mixed, 10
# alternating pairs of 1 MiB against 16 MiB: peak RSS of the process tree
# 2,074 -> 1,859 MiB (lower in 10/10); at the tree's peak the 4 workers
# held ~430 instead of ~575 MiB and the JVM 82-139 MiB less. run_cpu_s
# 2.77 -> 2.31 s (lower in 7/10), output +0.13% bytes per document.
DEFAULT_ARROW_BATCH = 65536
DEFAULT_ARROW_BYTES = "1m"

# The JVM's young generation starts at YOUNG_PER_SLOT per task slot.
# What dies young is each running task's transient state (Arrow batch
# buffers, row iterators, parquet pages), so eden follows the slots, not
# the heap (Spark's tuning guide sizes eden from the tasks' working
# space). Smaller is worse: more frequent young collections promote more
# of each resumed run's broadcast state. It is a start, not a fixed size:
# tasks that hold more (bench.py's each hold a whole input row group)
# need ParallelGC to grow it, or pay in young collections. YOUNG_CAP
# bounds that growth where a larger young generation gave multi-second
# pauses at 32 slots (BENCH/BASELINE.md).
YOUNG_PER_SLOT = 96 << 20
YOUNG_CAP = 4 << 30


_MEM_RE = re.compile(r"^\s*(\d+)\s*([kmgt])b?\s*$", re.I)
# local[N], local[N,F] (F = max task failures), local[*], local[*,F]
_LOCAL_RE = re.compile(r"^local\[(\d+|\*)(?:,\d+)?\]$")


def _gc_opts(driver_memory: str, master: str) -> str:
    """ParallelGC with a young generation that starts at
    ``YOUNG_PER_SLOT`` x the master's task slots (``-XX:NewSize``) and
    may grow to a third of the heap, at most ``YOUNG_CAP``
    (``-XX:MaxNewSize``). A heap fixed at its maximum (``-Xms`` =
    ``-Xmx``) leaves the young generation no room to grow, so it keeps
    the start. The heap parses in every JVM memory-string form ('8g',
    '8gb', '8192m', '48G'); for one that does not parse, the JVM bounds
    the young generation by its heap."""
    most = YOUNG_CAP
    m = _MEM_RE.match(driver_memory)
    if m:
        heap = int(m.group(1)) << {"k": 10, "m": 20, "g": 30,
                                   "t": 40}[m.group(2).lower()]
        most = min(most, heap // 3)
    young = min(YOUNG_PER_SLOT * _task_slots(master), most)
    return (f"-XX:+UseParallelGC -XX:NewSize={young >> 20}m "
            f"-XX:MaxNewSize={most >> 20}m")


def _host_heap() -> str:
    """Half of physical memory in whole GiB, at least 1g and at most 48g."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, total // 2 ** 31))}g"


def _usable_cores() -> int:
    return (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
            else os.cpu_count())


def _task_slots(master: str) -> int:
    """Task slots of a local master (``*`` = the usable cores); 32 for
    any other master."""
    m = _LOCAL_RE.match(master)
    if m is None:
        return 32
    return _usable_cores() if m.group(1) == "*" else int(m.group(1))


def get_spark(app: str = "pcx-extract", master: str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``master`` defaults to ``local[N]`` over the host's usable cores
    and ``driver_memory`` to ``_host_heap()``; ``shuffle_partitions``
    defaults to the master's task slots. ``extra_conf`` entries
    are applied at BUILDER time — the seam for core (non-SQL) confs like
    ``spark.python.worker.reuse`` that ``spark.conf.set`` rejects after
    startup (perfbench/harness.py)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _usable_cores()
    master = master or f"local[{cpus}]"
    driver_memory = driver_memory or _host_heap()
    if shuffle_partitions is None:
        shuffle_partitions = _task_slots(master)
    b = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                DEFAULT_ARROW_BYTES)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.daemon.module",
                "powerpoint_context_extractor_spark.daemon")
        # throughput GC: G1 pause targets cost ~10-20% on scan-heavy
        # local runs; Parallel matches batch workloads. The young
        # generation starts at a size set by the task slots
        # (YOUNG_PER_SLOT), not at ParallelGC's default of a third of
        # the heap.
        .config("spark.driver.extraJavaOptions",
                _gc_opts(driver_memory, master))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
