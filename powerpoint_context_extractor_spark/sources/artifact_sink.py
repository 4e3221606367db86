"""Executor-side file sinks (SURVEY.md §2 S6): ``write_files`` is the
one task-side writer the WARC, WET and WebDataset sinks share, and
``artifact_manifest`` plans one payload file per row with
deterministic zero-padded names — the reference saves each extracted
slide image as ``slide_{n:03d}_img_{m}.{ext}``
(`pptx_extractor/slides/extractor.py:258-279,332-346`).

Spark shape: the *manifest* (filename, size, sha) is a pure built-in
projection (oracle-checkable); the actual byte write runs executor-side
in one ``partition_map`` pass, so no payload ever funnels through the
driver. File names are derived from the rows alone and each file is
moved into place only once complete, so re-running a task (retry /
resume) rewrites the same bytes to the same path — idempotent, like the
snapshot commit protocol in table_io.
"""

from __future__ import annotations

import itertools
import os

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import partition_map


def write_files(rows: DataFrame, out_dir: str, write) -> list:
    """Write files under ``out_dir`` from ``rows``, whose first column
    names the file each row goes to. A task must get all rows of a
    file, together and in write order (callers co-locate and sort
    them). ``write(f, file_rows)`` writes one file's rows, without the
    name column, to the open binary file ``f``. Each file is written to
    a hidden temp name and ``os.replace``d into place, so a failing
    ``write`` fails the job and leaves no file. Returns one
    ``(file, rows)`` Row per file written."""
    os.makedirs(out_dir, exist_ok=True)

    def _task(task_rows):
        attempt = TaskContext.get().taskAttemptId()
        for name, group in itertools.groupby(task_rows, lambda r: r[0]):
            tmp = os.path.join(out_dir, f".{name}.{attempt}.tmp")
            seen = itertools.count()      # zip draws it once per row read
            with open(tmp, "wb") as f:
                try:
                    write(f, (row[1:] for row, _ in zip(group, seen)))
                except BaseException:
                    os.remove(tmp)
                    raise
            os.replace(tmp, os.path.join(out_dir, name))
            yield name, next(seen)

    return partition_map(rows, _task, "file string, rows long").collect()


def artifact_manifest(df: DataFrame, id_col: str, payload_col: str,
                      prefix: str = "artifact") -> DataFrame:
    """Deterministic (filename, n_bytes, payload_sha) per row — the
    sink's write plan, checkable without touching a filesystem."""
    return df.select(
        F.format_string(f"{prefix}_%05d.bin", F.col(id_col))
        .alias("filename"),
        F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("payload_sha"))
