"""Session, sinks and output checks shared by the end-to-end and the
traced runs of the benchmark."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: driver (and, in local mode, executor) heap; small enough for a
#: 15 GiB host shared with other work, large enough for 16 MiB batches
DRIVER_MEMORY = "2g"
#: corpus files the set-up's warm-up extraction reads (of ``NUM_FILES``)
WARMUP_FILES = 1

_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s]: {msg}",
          file=sys.stderr, flush=True)


def host_info() -> dict:
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(next(ln for ln in f
                          if ln.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "driver_memory": DRIVER_MEMORY}


def confine(nproc: int, work: str) -> None:
    """Pin this process (and so the JVM and Python workers it starts) to
    ``nproc`` cores, and keep every scratch file under ``work``. With
    ``nproc`` from ``host_info`` these are the cores it inherited."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:nproc])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile
    tempfile.tempdir = None           # re-read TMPDIR


def start_session(nproc: int, tmp: str):
    from powerpoint_context_extractor_spark.session import get_spark
    return get_spark(
        "pcx-perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc, driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })


def stop_session(spark) -> None:
    """Stop Spark (``spark`` is None if no session came up), end the JVM
    and wait for every process it started."""
    from pyspark import SparkContext
    from perfbench.stats import alive, tree_pids
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    descendants = tree_pids(proc.pid)
    gateway.shutdown()
    proc.stdin.close()                # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if alive(p)}
        time.sleep(0.1)
    for pid in descendants:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Bench:
    """One workload's inputs, session and sinks for one invocation."""

    def __init__(self, workload, seed: int, nproc: int,
                 work: str = WORK) -> None:
        self.workload = workload
        self.seed = seed
        self.nproc = nproc
        self.cache = os.path.join(work, "cache")
        self.tmp = os.path.join(work, "tmp")
        self.sinks = os.path.join(work, "sinks", uuid.uuid4().hex[:12])
        os.makedirs(self.sinks)
        self.pages_dir = None
        self.spark = None
        self.base = None
        self.base_rows = 0

    # -- set-up ----------------------------------------------------------
    def start(self) -> None:
        """Generate (or reuse) the corpus while the JVM launches with a
        first session, then, for a resume workload, commit its base
        state. None of this is timed: it happens once per process."""
        from perfbench.inputs import ensure_corpus
        launched: dict = {}
        jvm = threading.Thread(target=lambda: launched.update(
            spark=start_session(self.nproc, self.tmp)))
        jvm.start()
        try:
            self.pages_dir = ensure_corpus(self.cache, self.workload.corpus,
                                           self.seed, self.nproc)
        finally:
            jvm.join()
            self.spark = launched.get("spark")
        if self.spark is None:
            raise RuntimeError("the Spark session did not start")
        if self.workload.resume:
            self.commit_base()

    def set_up(self) -> float:
        """Restart the session and run one warm-up extraction of the
        workload over ``WARMUP_FILES`` of its files; returns the seconds
        from session start to the end of the warm-up."""
        self.spark.stop()
        t0 = time.monotonic()
        self.spark = start_session(self.nproc, self.tmp)
        sink = self.prepared_sink()
        self.run(self.pages(WARMUP_FILES), sink, resume=self.workload.resume)
        elapsed = time.monotonic() - t0
        shutil.rmtree(sink)
        return elapsed

    def pages(self, n_files: int | None = None):
        """The corpus, or its first ``n_files`` files."""
        if n_files is None:
            return self.spark.read.parquet(self.pages_dir)
        from perfbench.inputs import corpus_files
        return self.spark.read.parquet(*corpus_files(self.pages_dir)[:n_files])

    def commit_base(self) -> None:
        """resume_rerun: commit the ~90% share once; ``restore_committed``
        then resets each run's sink to exactly this committed state."""
        from pyspark.sql import functions as F
        from perfbench.inputs import RESUME_KEEP_EVERY
        index = F.element_at(F.split("url", "/"), -1).cast("long")
        self.base = self.new_sink()     # mirrors inputs.is_committed
        info = self.run(self.pages().filter(index % RESUME_KEEP_EVERY != 0),
                        self.base, resume=False)
        self.base_rows = info["snapshot"]["row_count"]

    # -- runs ------------------------------------------------------------
    def new_sink(self) -> str:
        return os.path.join(self.sinks, uuid.uuid4().hex[:12])

    def run(self, pages, sink: str, resume: bool) -> dict:
        from powerpoint_context_extractor_spark.plans.flagship import (
            run_extraction,
        )
        return run_extraction(self.spark, pages, sink, resume=resume)

    def rows_per_run(self) -> int:
        return self.workload.corpus.n_pages - self.base_rows

    def prepared_sink(self) -> str:
        sink = self.new_sink()
        if self.workload.resume:
            restore_committed(self.base, sink)
        return sink

    def close(self) -> None:
        stop_session(self.spark)
        self.spark = None
        shutil.rmtree(self.sinks, ignore_errors=True)


def restore_committed(base: str, sink: str) -> None:
    """Give ``sink`` the committed state of ``base``: a copy of each
    table's manifest. Data files are immutable and listed by path, so
    the manifests alone reproduce the state."""
    from powerpoint_context_extractor_spark.sources.table_io import MANIFEST
    for table in ("extracted", "lineage"):
        os.makedirs(os.path.join(sink, table))
        shutil.copyfile(os.path.join(base, table, MANIFEST),
                        os.path.join(sink, table, MANIFEST))


def check_run(info: dict, expected_rows: int) -> list:
    """Problems with one run's committed output (empty when correct)."""
    import pyarrow.parquet as pq
    problems = []
    snap, lineage = info["snapshot"], info["lineage"]
    if snap["row_count"] != expected_rows:
        problems.append(f"snapshot row_count {snap['row_count']} != "
                        f"{expected_rows} rows attempted")
    if lineage is None:
        return problems + ["no lineage committed"]
    rows = ok = fail = 0
    for f in lineage["files"]:
        t = pq.read_table(f, columns=["row_count", "ok_count",
                                      "fail_count"]).to_pydict()
        rows += sum(t["row_count"])
        ok += sum(t["ok_count"])
        fail += sum(t["fail_count"])
    if ok + fail != snap["row_count"] or rows != snap["row_count"]:
        problems.append(f"lineage ok {ok} + fail {fail} (rows {rows}) != "
                        f"snapshot row_count {snap['row_count']}")
    return problems


def output_stats(info: dict) -> tuple:
    """(parquet bytes, rows, rows without error) of a run's snapshot."""
    import pyarrow.parquet as pq
    snap = info["snapshot"]
    size = sum(os.path.getsize(f) for f in snap["files"])
    ok = sum(pq.read_table(f, columns=["error"]).column("error").null_count
             for f in snap["files"])
    return size, snap["row_count"], ok


def check_digest(bench: Bench, sink: str) -> list:
    """Compare the whole extracted table in ``sink`` with the kernel's
    own extraction of the corpus."""
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    from perfbench.inputs import reference_digest, table_digest
    got = table_digest(SnapshotTable(os.path.join(sink, "extracted"))
                       .data_files(), bench.nproc)
    want = reference_digest(bench.pages_dir, bench.nproc)
    if got != want:
        return [f"output digest {got} != kernel reference {want}"]
    return []


class Runs:
    """Checked ``run_extraction`` calls of one invocation: counts of
    attempted and failed runs, the problems found, and the sink of the
    latest good run, which ``finish`` compares with the reference."""

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.last_sink = None

    def once(self):
        """One run into a freshly prepared sink: (info, wall seconds, CPU
        seconds of the process tree), or None when it raised or its
        output check failed."""
        from perfbench.stats import tree_cpu_seconds
        bench = self.bench
        sink = bench.prepared_sink()
        self.attempted += 1
        try:
            cpu0 = tree_cpu_seconds(os.getpid())
            t0 = time.monotonic()
            info = bench.run(bench.pages(), sink,
                             resume=bench.workload.resume)
            wall = time.monotonic() - t0
            cpu = tree_cpu_seconds(os.getpid()) - cpu0
            bad = check_run(info, bench.rows_per_run())
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            log(traceback.format_exc())
            bad = ["run raised"]
        if bad:
            self.failed += 1
            self.problems += bad
            shutil.rmtree(sink, ignore_errors=True)
            return None
        log(f"run {self.attempted}: {wall:.3f}s wall, {cpu:.2f}s CPU")
        if self.last_sink is not None:
            shutil.rmtree(self.last_sink)
        self.last_sink = sink
        return info, wall, cpu

    def finish(self) -> None:
        if self.last_sink is None:
            self.problems.append("no run succeeded")
            return
        self.problems += check_digest(self.bench, self.last_sink)
        log("output digest checked")
        shutil.rmtree(self.last_sink)
        self.last_sink = None
