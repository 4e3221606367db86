"""Benchmark of the flagship extraction dataflow, ``run_extraction``.

Usage, from the repository root::

    python3 perfbench/run.py --workload cc_mixed --seed 1 --seconds 10 --trace 0

One process drives a ``local[nproc]`` Spark session pinned to the
host's cores. It generates (or reuses) the seeded corpus of the
workload, sets the session up several times, then repeats
``run_extraction`` into a fresh sink for ``--seconds`` and checks every
run's output. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Progress goes to stderr. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: set-ups per end-to-end run; ``setup_s`` is their median
SETUPS = 3
#: fewest measured runs per invocation, whatever ``--seconds`` says
MIN_RUNS = 3


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.inputs import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(bench, seconds: float) -> dict:
    """End-to-end metrics of untraced runs repeated for ``seconds``, and
    beside them the median wall and throughput of a run, which have no
    bound because on a shared host they spread too widely between
    invocations (see README.md)."""
    from perfbench.harness import Runs, output_stats
    from perfbench.stats import PeakRss, summarize
    runs = Runs(bench)
    # one checked but unmeasured whole run first: a run's CPU seconds
    # fall by a third over the first ten runs of a JVM, most steeply
    # on the first whole run after the one-file set-ups
    runs.once()
    walls, cpus, bytes_per_doc, ok_ratio, rss_mb = [], [], [], [], []
    deadline = time.monotonic() + seconds
    while runs.attempted <= MIN_RUNS or time.monotonic() < deadline:
        with PeakRss(os.getpid()) as rss:
            done = runs.once()
        if done is None:
            continue
        info, wall, cpu = done
        size, rows, ok = output_stats(info)
        walls.append(wall)
        cpus.append(cpu)
        bytes_per_doc.append(size / rows)
        ok_ratio.append(ok / rows)
        rss_mb.append(rss.peak_bytes / 2**20)
    runs.finish()
    summaries, wall = [], {}
    if walls:
        median = statistics.median(walls)
        wall = {"run_wall_s": median,
                "docs_per_s": bench.rows_per_run() / median}
        summaries = [
            summarize("run_cpu_s", "s", cpus),
            summarize("output_bytes_per_doc", "B", bytes_per_doc),
            summarize("peak_rss_mb", "MiB", rss_mb),
            summarize("doc_ok_ratio", "ratio", ok_ratio),
            summarize("op_success_ratio", "ratio",
                      [1 - runs.failed / runs.attempted]),
        ]
    return {"runs": runs, "summaries": summaries, "wall": wall}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import powerpoint_context_extractor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the extraction package is missing: {exc}",
              file=sys.stderr)
        return 2
    from perfbench.harness import WORK, Bench, confine, host_info, log
    from perfbench.inputs import WORKLOADS
    from perfbench.stats import (
        cpu_ticks,
        result_metrics,
        steal_share,
        summarize,
    )

    args = parse_args(argv)
    host = host_info()
    confine(host["nproc"], WORK)
    workload = WORKLOADS[args.workload]
    bench = Bench(workload, args.seed, host["nproc"])
    try:
        bench.start()
        log(f"session started; corpus {bench.pages_dir}")
        setups = [bench.set_up() for _ in range(1 if args.trace else SETUPS)]
        log(f"set-up: {[round(s, 2) for s in setups]}s")
        ticks = cpu_ticks()
        if args.trace:
            from perfbench.layers import traced_layers
            out = traced_layers(bench, args.seconds)
        else:
            out = measure(bench, args.seconds)
        steal = steal_share(ticks, cpu_ticks())
    finally:
        bench.close()
    log("session stopped")

    runs, summaries = out["runs"], out["summaries"]
    if not args.trace:
        summaries.insert(0, summarize("setup_s", "s", setups))
    for p in runs.problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"host": host, "workload": workload.name,
                      "seed": args.seed, "rows_per_run": bench.rows_per_run(),
                      "steal_share": round(steal, 4),
                      "wall": out.get("wall", {}),
                      "samples": {s["name"]: s["n"] for s in summaries}}))
    print(json.dumps({
        "correct": not runs.problems and runs.failed == 0,
        "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": result_metrics(summaries),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
