"""Flagship end-to-end extraction job (the reference's
``extract_pptx_content`` path, `pptx_extract.py:165-308`, as one lazy
Spark plan): snapshot-table scan -> resume anti-join -> narrow
projection -> hash(url) spread -> Arrow-batched kernel -> snapshot
commit -> per-partition lineage commit.

Lineage is tallied per task: the kernel map counts rows, ok rows and
input bytes of its partition into a ``PartitionTally`` accumulator, and
the driver writes those O(partitions) rows as one small parquet file.
No scan of the output and no Spark job run after the extraction write.

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

from ..operators.extract import PartitionTally, extract_pages
from ..sources.table_io import SnapshotTable

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
                   run_id: str | None = None,
                   num_partitions: int | None = None,
                   resume: bool = True) -> dict:
    """Execute one extraction batch; returns commit info.

    Resume semantics (U3, replacing the reference's "rerun everything"):
    urls already in a committed snapshot are anti-joined away, so a
    rerun after a partial failure produces exactly-once per-url output.

    The data commit and the lineage commit are two manifest appends. A
    crash between them keeps the extracted rows but loses that run's
    lineage rows: the rerun skips the committed urls and does not
    re-tally them.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    extracted_tbl = SnapshotTable(os.path.join(out_root, "extracted"))
    lineage_tbl = SnapshotTable(os.path.join(out_root, "lineage"))

    if resume:
        pages = extracted_tbl.without_committed(pages, "url")

    t0 = time.monotonic()
    tally = spark.sparkContext.accumulator([], PartitionTally())
    extracted = extract_pages(pages, num_partitions=num_partitions,
                              tally=tally)
    # r8: url/text/spans are unique per row — parquet dictionary pages
    # always overflow and fall back, costing ~11% of the write wall for
    # zero size win (A/B in OPTIMIZATION_r08.md).
    snap = extracted_tbl.append(
        extracted, run_id,
        write_options={"parquet.enable.dictionary": "false"})
    wall_ms = int((time.monotonic() - t0) * 1000)

    # Lineage (U4) from the map's tally. Spark merges a result-stage task's
    # accumulator update once per partition, the map runs in the write's
    # result stage, and the driver acks each merge before runJob returns.
    parts = sorted(tally.value)
    tallied = sum(p[1] for p in parts)
    if tallied != snap["row_count"]:
        raise RuntimeError(
            f"lineage tally counts {tallied} rows but snapshot "
            f"{snap['snapshot_id']} holds {snap['row_count']}; "
            "lineage not committed")
    lineage_entry = None
    if snap["files"]:
        split = f"snap-{snap['snapshot_id']}"
        now = datetime.now(timezone.utc)
        lineage = pa.Table.from_pylist(
            [dict(zip(LINEAGE_SCHEMA.names,
                      (run_id, pid, split, rows, ok, fail, n_bytes,
                       wall_ms, now)))
             for pid, rows, ok, fail, n_bytes in parts],
            schema=LINEAGE_SCHEMA)
        lineage_entry = lineage_tbl.append(lineage, run_id)
    return {"run_id": run_id, "snapshot": snap, "lineage": lineage_entry,
            "wall_ms": wall_ms}


def write_pages_table(spark: SparkSession, rows_iter, out_dir: str,
                      num_partitions: int = 8) -> int:
    """Materialize a pages parquet dataset from corpus rows (driver-side
    generator -> distributed parquet). Used by tests/bench only; real
    deployments read an existing Iceberg/WARC-derived table."""
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    rows = list(rows_iter)
    df = spark.createDataFrame(rows, schema=schema).repartition(num_partitions)
    df.write.mode("overwrite").parquet(out_dir)
    return len(rows)


def main() -> None:
    ap = argparse.ArgumentParser(description="flagship extraction job")
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--out", required=True, help="output table root")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    from ..session import get_spark
    spark = get_spark("pcx-flagship", master=args.master)
    pages = spark.read.parquet(args.pages)
    info = run_extraction(spark, pages, args.out,
                          num_partitions=args.partitions,
                          resume=not args.no_resume)
    print(info)


if __name__ == "__main__":
    main()
