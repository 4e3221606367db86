"""WebDataset-style sharded tar sink + source.

WebDataset (public format: plain POSIX tar shards whose members are
``<key>.<ext>`` files, consumed sequentially by training loaders) is
the de-facto container for large multimodal training corpora — shard
files stream at wire speed, members need no index, and a shard is the
unit of shuffling/resume. This module writes a corpus as ``N`` tar
shards executor-side and reads them back file-per-task, both with
stdlib ``tarfile`` only.

Determinism contract: shard assignment is ``H(key) % n_shards`` (the
md5 seam — reproducible, resume-stable, and mirrored in the contract
oracle's projection), members are written in key order within a shard
with zeroed mtime/uid/gid, so every shard is byte-reproducible.

Scale shape: one ``repartition(n_shards, shard)`` shuffle co-locates
each shard's members, then the task-side writer every file sink shares
(``artifact_sink.write_files``) streams members into tars with O(1)
memory per member and moves each tar into place only once complete;
the read side parallelizes the shard FILE list (one task per shard —
the same layout WARC/WET readers use), so a 100 TB corpus reads with
shard-count parallelism and zero driver funneling.

Reference analog: the per-artifact output files the reference writes
(`pptx_extractor/slides/extractor.py:258-279`), lifted to the sharded
container a training loader actually mounts.
"""

from __future__ import annotations

import io
import os
import re
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import portable_hash
from ..operators.extract import row_map
from .artifact_sink import write_files

_SHARD_NAME = re.compile(r"shard-(\d{5})\.tar")


def write_wds_shards(df: DataFrame, out_dir: str, n_shards: int = 4) -> int:
    """Write (key, text) rows as ``shard-%05d.tar`` with one
    ``<key:012d>.txt`` member per row. Returns n_shards."""
    if n_shards <= 0:
        raise ValueError("write_wds_shards: n_shards must be > 0")
    shard = portable_hash(
        F.format_string("wds%d", F.col("doc_id"))) % n_shards
    rows = (df.select(F.format_string("shard-%05d.tar", shard).alias("file"),
                      F.col("doc_id").alias("k"), F.col("text").alias("t"))
            .repartition(n_shards, "file")
            .sortWithinPartitions("file", "k"))

    def _write(f, shard_rows):
        with tarfile.open(fileobj=f, mode="w") as tf:
            for key, text in shard_rows:
                data = (text or "").encode("utf-8")
                info = tarfile.TarInfo(name=f"{key:012d}.txt")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                tf.addfile(info, io.BytesIO(data))

    write_files(rows, out_dir, _write)
    return n_shards


def read_wds_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read shards back as (doc_id, text, shard) — one task per shard
    file, members parsed with stdlib tarfile inside Arrow batches.
    Every ``.tar`` under ``path`` must be named ``shard-NNNNN.tar``:
    the shard id is parsed here on the driver, and a foreign tar raises
    ``ValueError`` before any job runs."""
    shards = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".tar"):
            continue
        m = _SHARD_NAME.fullmatch(f)
        if m is None:
            raise ValueError(
                f"read_wds_shards: {f!r} in {path} is not a shard-NNNNN.tar")
        shards.append((os.path.join(path, f), int(m.group(1))))
    if not shards:
        raise ValueError(f"read_wds_shards: no .tar shards in {path}")
    files = spark.createDataFrame(shards, "file string, shard long") \
        .repartition(len(shards), "file")

    def _members(fp, sid):
        with tarfile.open(fp, "r") as tf:
            for m in tf:
                if m.isfile() and m.name.endswith(".txt"):
                    yield (int(m.name[:-4]),
                           tf.extractfile(m).read().decode("utf-8"), sid)

    return row_map(files, _members, "doc_id long, text string, shard long")
