"""Metric summaries and the process-tree memory sampler."""

from __future__ import annotations

import os
import statistics
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between two samples of the process tree's memory
RSS_INTERVAL_S = 0.1


def summarize(name: str, unit: str, samples: list) -> dict:
    """Median and sample count of one metric, by name and unit."""
    if not samples:
        raise ValueError(f"metric {name!r} has no samples")
    return {"name": name, "unit": unit,
            "median": statistics.median(samples), "n": len(samples)}


def result_metrics(summaries: list) -> dict:
    """The ``metrics`` object of the result line: each median by name."""
    return {s["name"]: {"value": s["median"], "unit": s["unit"]}
            for s in summaries}


def _stat(pid) -> list | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    parent pid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def alive(pid: int) -> bool:
    """Running, as opposed to ended (gone, or a zombie)."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int) -> set:
    """``root`` and every process descended from it."""
    children: dict = {}
    for d in os.listdir("/proc"):
        fields = _stat(d) if d.isdigit() else None
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
    pids, todo = set(), [root]
    while todo:
        pid = todo.pop()
        pids.add(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants
    (for a Spark driver: this process, the JVM and the Python workers)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root`` and all its descendants,
    including their children that have ended and been waited for."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def cpu_ticks() -> list:
    """The host's aggregate CPU tick counters from ``/proc/stat``
    (user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of the host's CPU ticks between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


class PeakRss:
    """Samples ``tree_rss_bytes`` on a thread while the block runs and
    keeps the highest reading in ``peak_bytes``."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True,
                                        name="perfbench-rss")

    def _sample(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
