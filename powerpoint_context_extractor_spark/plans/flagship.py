"""Flagship end-to-end extraction job (the reference's
``extract_pptx_content`` path, `pptx_extract.py:165-308`, as one lazy
Spark plan): pages scan -> narrow projection and small-input spread
(``operators.extract._narrow``) -> resume anti-join -> Arrow-batched
kernel that writes its own parquet file per task -> snapshot commit ->
per-partition lineage commit. It is the one writer of an extracted
snapshot: the streaming extract sinks call it once per micro-batch.

The extraction is one Spark job whose tasks write the extracted rows
into the new snapshot dir themselves (``operators.extract.
write_extracted``) and return one summary row each: partition id, file,
rows, ok rows, input bytes and task wall time. The driver collects the
summaries, commits exactly the files they name, and writes the
O(partitions) lineage rows from them as one small parquet file. No
extracted row crosses back to the JVM, and no Spark write or scan runs
after the job.

Run via ``spark-submit --py-files pcx.zip -m`` or the module main below.
"""

from __future__ import annotations

import argparse
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import EXTRACTED_SCHEMA, _narrow, write_extracted
from ..sources.table_io import SnapshotTable, TaskWrite

LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("partition_id", pa.int32()),
    ("input_split", pa.string()),
    ("row_count", pa.int64()),
    ("ok_count", pa.int64()),
    ("fail_count", pa.int64()),
    ("bytes", pa.int64()),
    ("wall_ms", pa.int32()),
    ("committed_at", pa.timestamp("us", tz="UTC")),
])


def run_extraction(spark: SparkSession, pages: DataFrame, out_root: str,
                   run_id: str | None = None, resume: bool = True) -> dict:
    """Execute one extraction batch; returns commit info.

    Resume semantics (U3, replacing the reference's "rerun everything"):
    urls already in a committed snapshot are anti-joined away, so a
    rerun after a partial failure produces exactly-once per-url output.

    The data commit and the lineage commit are two manifest appends. A
    crash between them keeps the extracted rows but loses that run's
    lineage rows: the rerun skips the committed urls and does not
    re-tally them. Each lineage row is one partition's task: its
    ``wall_ms`` runs from the task's first input batch to its file's
    close, so a slow partition shows; the returned ``wall_ms`` is the
    whole job's.

    A run with no new urls commits an extracted snapshot that lists no
    files (``row_count`` 0) and no lineage snapshot (``lineage`` is
    None).

    The spread (``_spread_small_input``) is decided on ``pages`` before
    the anti-join: the anti-joined frame's input files also include the
    committed snapshot's, which would hide a small input.

    The tasks write into the snapshot dir under ``out_root``, so every
    Python worker must see ``out_root`` at the same path as the driver:
    local mode or a shared filesystem (see ``table_io.TaskWrite``).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    extracted_tbl = SnapshotTable(os.path.join(out_root, "extracted"))
    lineage_tbl = SnapshotTable(os.path.join(out_root, "lineage"))

    pages = _narrow(pages)
    if resume:
        pages = extracted_tbl.without_committed(pages, "url")

    t0 = time.monotonic()
    parts: list = []

    def write(out_dir: str) -> list:
        parts.extend(sorted(write_extracted(
            pages, os.path.abspath(out_dir)).collect()))
        return [os.path.join(out_dir, p.file) for p in parts]

    snap = extracted_tbl.append(TaskWrite(EXTRACTED_SCHEMA, write), run_id)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # Lineage (U4) from the task summaries: collect() returns exactly one
    # row per partition, from the attempt whose file the snapshot lists.
    tallied = sum(p.rows for p in parts)
    if tallied != snap["row_count"]:
        raise RuntimeError(
            f"lineage summaries count {tallied} rows but snapshot "
            f"{snap['snapshot_id']} holds {snap['row_count']}; "
            "lineage not committed")
    lineage_entry = None
    if parts:
        split = f"snap-{snap['snapshot_id']}"
        now = datetime.now(timezone.utc)
        lineage = pa.Table.from_pylist(
            [dict(zip(LINEAGE_SCHEMA.names,
                      (run_id, p.partition_id, split, p.rows, p.ok,
                       p.rows - p.ok, p.in_bytes, p.wall_ms, now)))
             for p in parts],
            schema=LINEAGE_SCHEMA)
        lineage_entry = lineage_tbl.append(lineage, run_id)
    return {"run_id": run_id, "snapshot": snap, "lineage": lineage_entry,
            "wall_ms": wall_ms}


def main() -> None:
    ap = argparse.ArgumentParser(description="flagship extraction job")
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--out", required=True, help="output table root")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from ..session import get_spark
    spark = get_spark("pcx-flagship", master=args.master)
    pages = spark.read.parquet(args.pages)
    info = run_extraction(spark, pages, args.out, resume=not args.no_resume)
    print(info)


if __name__ == "__main__":
    main()
