"""Seeded workload inputs: corpus generation and caching, and digests.

Every page comes from ``corpus.page_row(i, seed, min_paras, max_paras)``,
so the same seed gives the same corpus byte for byte. A corpus is
written as ``NUM_FILES`` snappy parquet files of one row group each,
which is at least the core count of the hosts this runs on, so the
extract path's small-input spread never triggers.

Digests are order-independent: the sum modulo 2**128 of a 128-bit
BLAKE2b hash per row. Spark writes rows in any order and file split.
The reference digest of what extraction must produce is computed while
the corpus is generated, by the same worker processes, and cached with
it next to a hash of the extraction package's sources; a changed
package recomputes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from powerpoint_context_extractor_spark.corpus import page_row
from powerpoint_context_extractor_spark.kernel import extract_document

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NUM_FILES = 16
MOD = 1 << 128

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

#: the extracted columns the output check compares with the reference
DIGEST_COLS = ("url", "title", "text", "spans", "n_blocks", "error",
               "text_source", "charset")


@dataclass(frozen=True)
class Corpus:
    name: str
    n_pages: int
    min_paras: int
    max_paras: int


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: Corpus
    resume: bool


CC_MIXED = Corpus("cc_mixed", 8_000, 10, 60)

WORKLOADS = {
    "cc_mixed": Workload("cc_mixed", CC_MIXED, resume=False),
    "resume_rerun": Workload("resume_rerun", CC_MIXED, resume=True),
}

#: resume_rerun: pages whose url index is not a multiple of this are
#: committed before each rerun, so about 90% of the urls are done
RESUME_KEEP_EVERY = 10


def is_committed(url: str) -> bool:
    """Whether ``url`` belongs to the pre-committed share of resume_rerun.
    ``page_row`` urls end in ``/p/<index>``."""
    return int(url.rsplit("/", 1)[1]) % RESUME_KEEP_EVERY != 0


def _h(data: bytes) -> int:
    return int.from_bytes(hashlib.blake2b(data, digest_size=16).digest(),
                          "big")


def row_digest(url, title, text, spans, n_blocks, error, text_source,
               charset) -> int:
    """Hash of one extracted row. ``spans`` may hold dicts (kernel) or
    Arrow struct dicts (parquet read-back); both canonicalise alike."""
    span_t = tuple((s["block_id"], s["path"], s["start"], s["end"])
                   for s in spans or ())
    key = (url, title, text, span_t, n_blocks, error, text_source, charset)
    return _h(repr(key).encode("utf-8"))


def corpus_files(path: str) -> list:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def _read_pages(f: str):
    t = pq.read_table(f, columns=["url", "html", "text"])
    return zip(*(t.column(c).to_pylist() for c in ("url", "html", "text")))


def _package_hash() -> str:
    """Hash of the extraction package's sources, which the reference
    digest depends on."""
    pkg = os.path.dirname(os.path.abspath(
        sys.modules[extract_document.__module__].__file__))
    h = hashlib.blake2b(digest_size=16)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _reference_rows(rows) -> int:
    """Digest sum of what extraction must produce for (url, html, text)
    rows, from ``kernel.extract_document`` called directly."""
    total = 0
    for url, html, fallback in rows:
        r = extract_document(url, html)
        if r.error is None:     # the pipeline's J2 preference merge
            text, source = r.text, "kernel"
        else:
            text = fallback
            source = "fallback" if fallback is not None else None
        total += row_digest(url, r.title, text, r.spans, r.n_blocks,
                            r.error, source, r.charset)
    return total


def _write_part(path: str, seed: int, min_paras: int, max_paras: int,
                lo: int, hi: int) -> int:
    """Write one corpus file; returns the reference digest sum of its
    rows."""
    rows = [page_row(i, seed=seed, min_paras=min_paras, max_paras=max_paras)
            for i in range(lo, hi)]
    table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=len(rows))
    return _reference_rows(_read_pages(path))


def _in_processes(jobs: list, workers: int) -> list:
    """Run ``jobs`` (lists of a ``_JOBS`` name and its arguments) shared
    round-robin over ``workers`` child interpreters; returns the results
    in no particular order. The children are plain subprocesses, waited
    for before returning, so nothing they create outlives the call."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (_ROOT, env.get("PYTHONPATH")) if p)
    procs = [subprocess.Popen(
        [sys.executable, "-m", "perfbench.inputs", json.dumps(jobs[k::workers])],
        stdout=subprocess.PIPE, env=env, cwd=_ROOT)
        for k in range(min(workers, len(jobs)))]
    results, failed = [], False
    for proc in procs:
        out, _ = proc.communicate()
        failed |= proc.returncode != 0
        if not failed:
            results += json.loads(out)
    if failed:
        raise RuntimeError("a perfbench.inputs worker process failed")
    return results


def ensure_corpus(cache_root: str, corpus: Corpus, seed: int,
                  workers: int) -> str:
    """Directory of the (corpus, seed) pages table; generated once on
    ``workers`` processes and reused by later runs in this checkout."""
    path = os.path.join(cache_root,
                        f"{corpus.name}-n{corpus.n_pages}-s{seed}")
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        bounds = [corpus.n_pages * k // NUM_FILES
                  for k in range(NUM_FILES + 1)]
        parts = _in_processes(
            [["write", os.path.join(tmp, f"part-{k:05d}.parquet"),
              seed, corpus.min_paras, corpus.max_paras,
              bounds[k], bounds[k + 1]] for k in range(NUM_FILES)], workers)
        _write_reference(tmp, sum(parts))
        with open(os.path.join(tmp, "_COMPLETE"), "w",
                  encoding="utf-8") as f:
            json.dump({"corpus": corpus.name, "n_pages": corpus.n_pages,
                       "seed": seed}, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def corpus_digest(path: str) -> str:
    """Order-independent digest of (url, html, text) over a pages table."""
    total = 0
    for f in corpus_files(path):
        for url, html, text in _read_pages(f):
            total += _h(b"\0".join((url.encode("utf-8"), html or b"",
                                    (text or "").encode("utf-8"))))
    return f"{total % MOD:032x}"


def read_rows(path: str, where=None) -> list:
    """(url, html, text) tuples of a pages table, optionally only those
    whose url satisfies ``where``."""
    return [row for f in corpus_files(path) for row in _read_pages(f)
            if where is None or where(row[0])]


def _reference_part(f: str) -> int:
    return _reference_rows(_read_pages(f))


def _write_reference(path: str, total: int) -> str:
    digest = f"{total % MOD:032x}"
    with open(os.path.join(path, "_REFERENCE"), "w", encoding="utf-8") as f:
        json.dump({"package": _package_hash(), "digest": digest}, f)
    return digest


def reference_digest(path: str, workers: int) -> str:
    """Digest of what extraction must produce for a pages table, from
    ``kernel.extract_document`` called directly on every row; cached
    until the extraction package changes."""
    try:
        with open(os.path.join(path, "_REFERENCE"), encoding="utf-8") as f:
            cached = json.load(f)
        if cached["package"] == _package_hash():
            return cached["digest"]
    except FileNotFoundError:
        pass
    parts = _in_processes([["reference", f] for f in corpus_files(path)],
                          workers)
    return _write_reference(path, sum(parts))


def _table_part(f: str) -> int:
    t = pq.read_table(f, columns=list(DIGEST_COLS))
    return sum(row_digest(*row)
               for row in zip(*(t.column(c).to_pylist() for c in DIGEST_COLS)))


def table_digest(files: list, workers: int) -> str:
    """Digest of the extracted rows held in parquet ``files``."""
    parts = _in_processes([["table", f] for f in files], workers)
    return f"{sum(parts) % MOD:032x}"


_JOBS = {"write": _write_part, "reference": _reference_part,
         "table": _table_part}

if __name__ == "__main__":
    print(json.dumps([_JOBS[name](*args)
                      for name, *args in json.loads(sys.argv[1])]))
