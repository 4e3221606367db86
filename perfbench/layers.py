"""Per-layer metrics of the extraction dataflow (``--trace 1``).

Everything is measured from outside the program, by calling each
layer's public functions or by wrapping them while a run executes:

* untraced and traced ``run_extraction`` calls, interleaved; the traced
  ones record a span around the call (``Bench.run``) and around every
  ``SnapshotTable`` call inside it;
* the ladder of Spark plans over the rows the run extracts: scan, an
  identity Arrow crossing, kernel then ``count()``, kernel then a noop
  write, kernel then parquet with the flagship write options;
* the resume probe: ``committed_keys`` plus the left-anti count;
* the kernel and the Arrow batch body in this process, on a sample of
  the same rows.

The ledger compares the untraced wall with the sum of its layers:
``flagship.plan_s + sink.parquet_s + table_io.commit_s +
flagship.lineage_s``; the residue is ``ledger.unaccounted_s``.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from powerpoint_context_extractor_spark import kernel
from powerpoint_context_extractor_spark.operators import extract
from powerpoint_context_extractor_spark.operators.extract import (
    _kernel_batches_arrow,
)
from powerpoint_context_extractor_spark.sources import table_io
from powerpoint_context_extractor_spark.sources.table_io import SnapshotTable

from perfbench.harness import Bench, Runs, log
from perfbench.inputs import NUM_FILES, is_committed, read_rows
from perfbench.stats import summarize

#: ladder passes; each ladder metric is the fastest pass
LADDER_PASSES = 2
#: fewest untraced/traced run pairs
MIN_PAIRS = 2
#: rows of the in-process kernel sample
KERNEL_SAMPLE = 500
#: in-process kernel timing passes; each metric is the fastest pass
KERNEL_PASSES = 2


class Tracer:
    """Spans (name, start, end, parent index) kept in memory."""

    def __init__(self) -> None:
        self.spans: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append([name, time.monotonic(), None, parent])
        self._open.append(idx)
        try:
            yield idx
        finally:
            self._open.pop()
            self.spans[idx][2] = time.monotonic()

    def wrap(self, fn, label):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label(*args)):
                return fn(*args, **kwargs)
        return traced

    def duration(self, idx: int) -> float:
        _, start, end, _ = self.spans[idx]
        return end - start

    def children(self, idx: int) -> list:
        return [i for i, s in enumerate(self.spans) if s[3] == idx]

    def find(self, name: str, parent: int) -> int:
        return next(i for i in self.children(parent)
                    if self.spans[i][0] == name)


@contextmanager
def traced_calls(tracer: Tracer):
    """Wrap ``run_extraction`` (as ``Bench.run``) and the snapshot-table
    calls inside it in spans."""
    targets = [
        (Bench, "run", lambda *a: "flagship.run"),
        (SnapshotTable, "append",
         lambda t, *a: f"table_io.append_{os.path.basename(t.root)}"),
        (SnapshotTable, "committed_keys", lambda *a: "table_io.committed_keys"),
        (SnapshotTable, "table_schema", lambda *a: "table_io.table_schema"),
        (SnapshotTable, "_commit", lambda *a: "table_io.manifest_commit"),
        (table_io, "_footer_row_count", lambda *a: "table_io.footer_rows"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for (owner, attr, label), (_, _, fn) in zip(targets, saved):
            setattr(owner, attr, tracer.wrap(fn, label))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _run_layers(tracer: Tracer) -> dict:
    """Layer times of the latest traced ``run_extraction`` span."""
    run = max(i for i, s in enumerate(tracer.spans) if s[0] == "flagship.run")
    appended = tracer.find("table_io.append_extracted", run)
    lineage = tracer.find("table_io.append_lineage", run)
    _, run_start, run_end, _ = tracer.spans[run]
    _, app_start, app_end, _ = tracer.spans[appended]
    return {
        "wall": run_end - run_start,
        "table_io.append_extracted_s": tracer.duration(appended),
        "table_io.append_lineage_s": tracer.duration(lineage),
        "table_io.commit_s": sum(tracer.duration(c)
                                 for c in tracer.children(appended)),
        "flagship.plan_s": app_start - run_start,
        "flagship.lineage_s": run_end - app_end,
    }


# -- Spark ladder -------------------------------------------------------

def _identity_batches(batches_acc, rows_acc):
    def identity(batches):
        for rb in batches:
            batches_acc.add(1)
            rows_acc.add(rb.num_rows)
            yield rb
    return identity


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _ladder(spark, src, scratch: str) -> dict:
    """One pass of the plan ladder over ``src``; seconds per rung, plus
    the identity crossing's batch and row counts."""
    sc = spark.sparkContext
    batches, rows = sc.accumulator(0), sc.accumulator(0)
    narrow = src.select("url", "html", "text")
    identity = narrow.mapInArrow(_identity_batches(batches, rows),
                                 schema=narrow.schema)
    out = os.path.join(scratch, "ladder-parquet")
    shutil.rmtree(out, ignore_errors=True)
    times = {
        "scan.s": _timed(lambda: src.select(
            F.sum(F.length("html"))).collect()),
        "crossing.identity_s": _timed(lambda: identity.write.format(
            "noop").mode("overwrite").save()),
        "extract.count_s": _timed(lambda: extract.extract_pages(src).count()),
        "sink.noop_s": _timed(lambda: extract.extract_pages(src).write.format(
            "noop").mode("overwrite").save()),
        "sink.parquet_s": _timed(lambda: extract.extract_pages(src).write
                                 .option("parquet.enable.dictionary", "false")
                                 .parquet(out)),
    }
    shutil.rmtree(out, ignore_errors=True)
    times["crossing.batches"] = batches.value
    times["crossing.rows"] = rows.value
    return times


def _anti_join_s(spark, pages, table_root: str) -> float:
    def probe():
        done = SnapshotTable(table_root).committed_keys(spark, "url")
        pages.join(done, "url", "left_anti").count()
    return _timed(probe)


# -- in-process kernel --------------------------------------------------

def _each(fn, items) -> None:
    for item in items:
        fn(*item)


def kernel_layers(rows: list, batch_rows: int) -> dict:
    """Per-document kernel costs on ``rows`` of (url, html, text), on one
    core, and the cost of the Arrow batch body around the kernel. The
    first pass warms up and counts spans; timings are the fastest of
    ``KERNEL_PASSES`` interleaved passes."""
    import pyarrow as pa
    n = len(rows)
    docs = [(u, h) for u, h, _ in rows]
    spans = sum(len(kernel.extract_document(u, h).spans) for u, h in docs)
    binary = (kernel.WDOC_MAGIC, kernel.PDF_MAGIC)
    html = [(h,) for _, h in docs if not h.startswith(binary)]
    decoded = [(u, kernel.decode_html_bytes(h)[0]) for u, h in docs
               if not h.startswith(binary)]
    pdf = [d for d in docs if d[1].startswith(kernel.PDF_MAGIC)]
    wdoc = [d for d in docs if d[1].startswith(kernel.WDOC_MAGIC)]
    schema = pa.schema([("url", pa.string()), ("html", pa.binary()),
                        ("text", pa.string())])
    batches = [pa.RecordBatch.from_pylist(
        [dict(zip(schema.names, r)) for r in rows[i:i + batch_rows]],
        schema=schema) for i in range(0, n, batch_rows)]
    timed = {
        "doc": lambda: _each(kernel.extract_document, docs),
        "decode": lambda: _each(kernel.decode_html_bytes, html),
        "html": lambda: _each(kernel.extract_html, decoded),
        "pdf": lambda: _each(kernel.extract_pdf, pdf),
        "wdoc": lambda: _each(kernel.extract_wdoc, wdoc),
        "body": lambda: sum(1 for _ in _kernel_batches_arrow(iter(batches))),
    }
    best = dict.fromkeys(timed, float("inf"))
    for _ in range(KERNEL_PASSES):
        for key, fn in timed.items():
            best[key] = min(best[key], _timed(fn))

    def us(key, count):
        return best[key] / count * 1e6 if count else 0.0

    return {
        "kernel.decode_us_per_doc": us("decode", len(html)),
        "kernel.html_us_per_doc": us("html", len(decoded)),
        "kernel.pdf_us_per_doc": us("pdf", len(pdf)),
        "kernel.wdoc_us_per_doc": us("wdoc", len(wdoc)),
        "kernel.docs_per_s_core": n / best["doc"],
        "kernel.spans_per_doc": spans / n,
        "extract.batch_body_us_per_doc": us("body", n),
        "extract.arrow_io_us_per_doc": us("body", n) - us("doc", n),
    }


def _kernel_sample(bench) -> list:
    where = (lambda u: not is_committed(u)) if bench.workload.resume else None
    rows = read_rows(bench.pages_dir, where)
    step = max(1, len(rows) // KERNEL_SAMPLE)
    return rows[::step][:KERNEL_SAMPLE]


# -- the traced run -----------------------------------------------------

def traced_layers(bench, seconds: float) -> dict:
    """Per-layer summaries from interleaved untraced/traced runs for
    ``seconds``, then the ladder and the kernel sample."""
    runs = Runs(bench)
    tracer = Tracer()
    untraced, traced = [], []
    deadline = time.monotonic() + seconds
    while runs.attempted < 2 * MIN_PAIRS or time.monotonic() < deadline:
        # alternate which run of a pair goes first, so that the first,
        # slower, run after set-up does not bias ``trace.overhead_s``
        for with_trace in (False, True) if len(traced) % 2 else (True, False):
            if with_trace:
                with traced_calls(tracer):
                    done = runs.once()
                if done is not None:
                    traced.append(_run_layers(tracer))
            else:
                done = runs.once()
                if done is not None:
                    untraced.append(done[1])
    log(f"traced runs: {len(traced)}, untraced: {len(untraced)}")

    if not traced or not untraced:
        runs.finish()
        return {"runs": runs, "summaries": []}

    # the rows the run extracts, and a committed table to probe resume
    # against: the base state for a rerun, else the last run's table
    spark, pages = bench.spark, bench.pages()
    if bench.workload.resume:
        probe_sink = bench.prepared_sink()
        done = SnapshotTable(os.path.join(probe_sink, "extracted")) \
            .committed_keys(spark, "url")
        src = pages.join(done, "url", "left_anti")
    else:
        probe_sink = runs.last_sink
        src = pages
    probe_root = os.path.join(probe_sink, "extracted")
    ladders, anti = [], []
    for _ in range(LADDER_PASSES):
        ladders.append(_ladder(spark, src, bench.sinks))
        anti.append(_anti_join_s(spark, pages, probe_root))
    if probe_sink != runs.last_sink:
        shutil.rmtree(probe_sink)
    log("ladder done")
    runs.finish()

    rows = _kernel_sample(bench)
    batch_rows = max(1, bench.rows_per_run() // NUM_FILES)
    kern = kernel_layers(rows, batch_rows)
    log("kernel sample done")

    per = {}
    for name in ladders[0]:
        per[name] = min(p[name] for p in ladders)
    per["resume.anti_join_s"] = min(anti)
    for name in ("table_io.append_extracted_s", "table_io.append_lineage_s",
                 "table_io.commit_s", "flagship.plan_s",
                 "flagship.lineage_s"):
        per[name] = statistics.median(t[name] for t in traced)
    per.update(kern)
    run_wall = statistics.median(untraced)
    per["ledger.run_wall_s"] = run_wall
    per["ledger.unaccounted_s"] = run_wall - (
        per["flagship.plan_s"] + per["sink.parquet_s"]
        + per["table_io.commit_s"] + per["flagship.lineage_s"])
    per["trace.overhead_s"] = statistics.median(
        t["wall"] for t in traced) - run_wall
    summaries = [summarize(name, UNITS[name], [value])
                 for name, value in per.items()]
    return {"runs": runs, "summaries": summaries}


UNITS = {
    "kernel.decode_us_per_doc": "us",
    "kernel.html_us_per_doc": "us",
    "kernel.pdf_us_per_doc": "us",
    "kernel.wdoc_us_per_doc": "us",
    "kernel.docs_per_s_core": "1/s",
    "kernel.spans_per_doc": "count",
    "extract.batch_body_us_per_doc": "us",
    "extract.arrow_io_us_per_doc": "us",
    "crossing.identity_s": "s",
    "crossing.batches": "count",
    "crossing.rows": "count",
    "scan.s": "s",
    "extract.count_s": "s",
    "sink.noop_s": "s",
    "sink.parquet_s": "s",
    "table_io.append_extracted_s": "s",
    "table_io.append_lineage_s": "s",
    "table_io.commit_s": "s",
    "resume.anti_join_s": "s",
    "flagship.plan_s": "s",
    "flagship.lineage_s": "s",
    "ledger.run_wall_s": "s",
    "ledger.unaccounted_s": "s",
    "trace.overhead_s": "s",
}
