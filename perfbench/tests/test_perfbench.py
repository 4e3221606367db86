"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import ROOT, Bench, check_digest, check_run
from perfbench.inputs import (
    Corpus,
    Workload,
    corpus_digest,
    ensure_corpus,
    is_committed,
    read_rows,
    reference_digest,
)
from perfbench.stats import result_metrics, summarize

SMALL = Corpus("small", 96, 0, 2)


def test_same_seed_same_corpus_digest(tmp_path):
    one = ensure_corpus(str(tmp_path / "a"), SMALL, seed=7, workers=2)
    again = ensure_corpus(str(tmp_path / "b"), SMALL, seed=7, workers=2)
    other = ensure_corpus(str(tmp_path / "c"), SMALL, seed=8, workers=2)
    assert corpus_digest(one) == corpus_digest(again)
    assert corpus_digest(one) != corpus_digest(other)
    assert len(read_rows(one)) == SMALL.n_pages


def test_corpus_is_cached(tmp_path):
    path = ensure_corpus(str(tmp_path), SMALL, seed=7, workers=2)
    stamp = os.path.getmtime(os.path.join(path, "_COMPLETE"))
    assert ensure_corpus(str(tmp_path), SMALL, seed=7, workers=2) == path
    assert os.path.getmtime(os.path.join(path, "_COMPLETE")) == stamp


def test_cached_reference_matches_a_fresh_one(tmp_path):
    path = ensure_corpus(str(tmp_path), SMALL, seed=7, workers=2)
    cached = reference_digest(path, workers=2)
    os.remove(os.path.join(path, "_REFERENCE"))
    assert reference_digest(path, workers=2) == cached


def test_summary_reports_median_and_count_by_name_and_unit():
    s = summarize("run_wall_s", "s", [3.0, 1.0, 2.0, 10.0])
    assert s == {"name": "run_wall_s", "unit": "s", "median": 2.5, "n": 4}
    assert result_metrics([s]) == {"run_wall_s": {"value": 2.5, "unit": "s"}}
    with pytest.raises(ValueError):
        summarize("run_wall_s", "s", [])


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cc_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""


def _manifests(sink: str) -> dict:
    out = {}
    for table in ("extracted", "lineage"):
        with open(os.path.join(sink, table, "_snapshots.jsonl"), "rb") as f:
            out[table] = f.read()
    return out


def test_resume_restore_gives_identical_manifest_each_run(tmp_path):
    workload = Workload("small_resume", Corpus("small", 120, 0, 2),
                        resume=True)
    bench = Bench(workload, seed=3, nproc=2, work=str(tmp_path))
    try:
        bench.start()
        uncommitted = [u for u, _, _ in read_rows(bench.pages_dir)
                       if not is_committed(u)]
        assert bench.rows_per_run() == len(uncommitted) > 0
        before = []
        for _ in range(2):
            sink = bench.prepared_sink()
            before.append(_manifests(sink))
            info = bench.run(bench.pages(), sink, resume=True)
            assert check_run(info, bench.rows_per_run()) == []
            assert _manifests(sink) != before[-1]     # the run committed
            assert check_digest(bench, sink) == []
            shutil.rmtree(sink)
        assert before[0] == before[1]
    finally:
        bench.close()
