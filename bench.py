"""Per-round benchmark harness (driver contract).

Runs the headline extraction pipeline plus representative contract
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line to stdout:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

The extraction corpus (a Common-Crawl-shaped pages table per
BASELINE.json input_hint) is generated distributedly ONCE per sf and
cached under .bench_cache/, so every bench run measures the identical
input. Progress goes to stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
PAGES_PER_SF = 3_000_000   # sf0.1 -> 300k pages (~8 KiB html each)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


_CEILING_ROWS: list = []  # fork-inherited; never pickled per task


def _ceiling_worker(_):
    from powerpoint_context_extractor_spark.kernel import extract_document
    rows = _CEILING_ROWS
    for u, h in rows[:300]:
        extract_document(u, h)  # warm
    best = float("inf")
    for _pass in range(2):
        t0 = time.monotonic()
        for u, h in rows:
            extract_document(u, h)
        best = min(best, time.monotonic() - t0)
    return len(rows) / best


def measure_ceiling(cores: int, pages_dir: str, per_proc: int = 4000) -> float:
    """Hardware ceiling: the pure-Python kernel over real dataset rows,
    one pinned process per core, no Spark. The Spark runs are judged
    against this (Spark overhead vs host turbo-curve effects). Rows are
    fork-inherited (arg-pickling 20 MB per worker skews the measurement
    with startup stagger)."""
    import multiprocessing as mp
    import statistics

    import duckdb
    global _CEILING_ROWS
    con = duckdb.connect()
    _CEILING_ROWS = [(u, bytes(h)) for u, h in con.sql(
        f"SELECT url, html FROM read_parquet('{pages_dir}/*.parquet') "
        f"LIMIT {per_proc}").fetchall()]
    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, range(cores))
    try:
        with mp.get_context("fork").Pool(cores) as p:
            rates = p.map(_ceiling_worker, range(cores))
    finally:
        os.sched_setaffinity(0, old)
        _CEILING_ROWS = []
    # median x cores: robust to per-worker stalls on this noisy host
    return statistics.median(rates) * cores


def _measure_ceiling(cpus: int, pages_dir: str):
    """Raw-kernel ceiling in a fresh taskset-pinned SUBPROCESS (never
    fork a JVM-attached driver; Spark must be idle while it runs).
    Returns (docs_per_sec, wall-clock midpoint) or (None, None)."""
    import subprocess
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from bench import measure_ceiling\n"
        "print(json.dumps(measure_ceiling(int(sys.argv[1]), "
        "sys.argv[2])))\n")
    t0 = time.monotonic()
    try:
        cmd = [sys.executable, "-c", script, str(cpus), pages_dir]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=900, check=True)
        rate = float(proc.stdout.strip().splitlines()[-1])
    except Exception as exc:  # noqa: BLE001 — the bench must still emit
        log(f"  ceiling measurement failed: {exc}")
        return None, None
    return rate, (t0 + time.monotonic()) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_pages = max(1000, int(PAGES_PER_SF * sf))

    # Pin the whole bench (driver, JVM, Python workers inherit) to the
    # first ``cpus`` cores, as the ceiling subprocess is pinned with
    # taskset (r5 VERDICT "what's wrong" #1): a local[N] run on an
    # unrestricted host borrows idle cores for JVM scan/Arrow work,
    # which a real N-executor cluster cannot, and an unpinned bench
    # wanders across the host's noisy-neighbor topology between passes.
    if hasattr(os, "sched_setaffinity"):
        try:
            os.sched_setaffinity(0, range(cpus))
        except (OSError, ValueError):
            pass

    from powerpoint_context_extractor_spark.session import get_spark
    from powerpoint_context_extractor_spark.sources.pagegen import (
        ensure_pages_dataset,
    )
    from powerpoint_context_extractor_spark.operators.extract import extract_pages
    from powerpoint_context_extractor_spark.plans.flagship import run_extraction
    import __spark_entry__ as entry_mod

    spark = get_spark("pcx-bench", master=f"local[{cpus}]")
    log(f"bench: sf={sf} sf_dir={sf_dir} cpus={cpus} pages={n_pages}")

    pages_dir = os.path.join(REPO, ".bench_cache", f"pages_sf{sf}_v5")
    t0 = time.monotonic()
    # many small snappy files + small split size = full scan parallelism
    # with ZERO payload shuffle (the 100 TB pattern: tune splits, don't
    # repartition multi-KB binary rows); page sizes ~5 KiB mean (CC-ish)
    ensure_pages_dataset(spark, pages_dir, n_pages, min_paras=10,
                         max_paras=60, num_files=cpus * 4)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "16k")
    log(f"pages dataset ready in {time.monotonic()-t0:.1f}s -> {pages_dir}")

    timings: dict = {}

    def timed(name, fn):
        t = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t, 3)
        log(f"  {name}: {timings[name]}s")
        return out

    pages = spark.read.parquet(pages_dir)

    # headline: pure extraction compute (docs/sec north metric), map-only.
    # min-of-3 measured passes after a short warm-up slice: the sandbox
    # VM has multi-second stalls (documented in BENCH/BASELINE.md), so a
    # single-pass number can read 30% low; min-of-N is the steady state
    # (r5: back-to-back full runs showed 11.8s vs 8.9s min-of-2 walls
    # under a FLAT raw-kernel ceiling — the swing is JVM/host phase,
    # and a third pass recovers most of it).
    extract_pages(pages.limit(20_000)).filter("error is null").count()

    # SAME-WINDOW raw-kernel ceiling, INTERLEAVED (r5 VERDICT #2 /
    # "what's wrong" #1): this VM's throughput swings ~2x between
    # phases, so a wall number alone is uninterpretable round-over-
    # round — and a single ceiling pass taken AFTER all Spark passes
    # can land in a different sub-window than the Spark work it
    # normalizes. So: (ceiling, 3x spark, ceiling), then pair the
    # min-wall Spark pass with its nearest-in-time ceiling. A
    # regressed wall with a flat share is self-evidently host noise; a
    # dropped share is a real regression.
    ceil_pre, t_pre = _measure_ceiling(cpus, pages_dir)
    log(f"  ceiling(pre): {ceil_pre and round(ceil_pre, 1)} docs/s")
    passes = []
    n_ok = 0
    for k in range(3):
        t = time.monotonic()
        n_ok = extract_pages(pages).filter("error is null").count()
        t1 = time.monotonic()
        passes.append((t1 - t, (t + t1) / 2))
    timings["extract_count"] = round(min(p[0] for p in passes), 3)
    log(f"  extract_count: {timings['extract_count']}s "
        f"(passes: {[round(p[0], 1) for p in passes]})")
    docs_per_sec = round(n_pages / timings["extract_count"], 1)
    log(f"  -> {docs_per_sec} docs/s over {n_ok} ok rows")
    ceil_post, t_post = _measure_ceiling(cpus, pages_dir)
    log(f"  ceiling(post): {ceil_post and round(ceil_post, 1)} docs/s")

    _, t_min = min(passes)
    if ceil_pre is not None and ceil_post is not None:
        ceiling = ceil_pre if abs(t_min - t_pre) <= abs(t_min - t_post) \
            else ceil_post
    else:
        ceiling = ceil_pre if ceil_pre is not None else ceil_post
    share = round(docs_per_sec / ceiling, 4) if ceiling else None
    # error bars (r6 VERDICT #6): the share against BOTH window edges
    # bounds how much the host drifted across the Spark passes — a
    # wide [share_post, share_pre] interval says "noisy window", a
    # tight one makes the paired share trustworthy
    share_pre = round(docs_per_sec / ceil_pre, 4) if ceil_pre else None
    share_post = round(docs_per_sec / ceil_post, 4) if ceil_post else None
    log(f"  paired ceiling: {ceiling and round(ceiling, 1)} docs/s raw "
        f"kernel -> share_of_ceiling {share} "
        f"(bounds: pre {share_pre} / post {share_post})")

    # full pipeline: extraction + snapshot commit + lineage commit
    sink = os.path.join(REPO, ".bench_cache", f"sink-{uuid.uuid4().hex[:8]}")
    try:
        timed("extract_commit", lambda: run_extraction(
            spark, pages, sink, resume=False))
    finally:
        shutil.rmtree(sink, ignore_errors=True)

    # representative contract queries at the sf dir — min-of-2 each
    # (r6 VERDICT #2): these are sub-second operator plans on sf0.1
    # tables, so a single pass measures scheduler/host phase, not the
    # operator (r6's headline-visible dedup_exact 3.8x was reproduced
    # as host noise); the second pass is the steady state and min-of-2
    # makes a round-over-round swing mean something
    qs = entry_mod.queries()
    for name in ("flagship_extract", "q1_pricing_summary",
                 "j3_broadcast_dim_chain", "o2_top1_per_group",
                 "w_running_sum", "dedup_exact", "t1_explode_tokens"):
        if name in qs:
            walls = []
            for _rep in range(2):
                t = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                walls.append(time.monotonic() - t)
            timings[name] = round(min(walls), 3)
            log(f"  {name}: {timings[name]}s "
                f"(passes: {[round(w, 2) for w in walls]})")

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "docs_per_sec_extract": docs_per_sec,
        "ceiling_docs_per_sec": round(ceiling, 1) if ceiling else None,
        "ceiling_pre": round(ceil_pre, 1) if ceil_pre else None,
        "ceiling_post": round(ceil_post, 1) if ceil_post else None,
        "share_of_ceiling": share,
        "share_pre": share_pre,
        "share_post": share_post,
        "n_pages": n_pages,
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
