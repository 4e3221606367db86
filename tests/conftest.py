import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from powerpoint_context_extractor_spark.session import get_spark
    s = get_spark("pcx-tests", master="local[4]", driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("PCX_TEST_SF_DIR", "/root/testdata/sf0.001")


def write_pages_table(spark, rows_iter, out_dir: str,
                      num_partitions: int = 8) -> None:
    """Write corpus page rows as a pages parquet dataset of
    ``num_partitions`` files."""
    from powerpoint_context_extractor_spark.sources.pagegen import (
        PAGES_SCHEMA,
    )
    (spark.createDataFrame(list(rows_iter), schema=PAGES_SCHEMA)
     .repartition(num_partitions).write.mode("overwrite").parquet(out_dir))


def generate_pages_rows(n: int, seed: int = 42, n_hosts: int = 50,
                        min_paras: int = 2, max_paras: int = 8):
    """Yield n ``corpus.page_row`` page rows. Host 0 receives ~30% of
    urls (skew/salting tests, SURVEY.md §2.10 U5); ~5% WDOC + ~3% PDF
    binary payloads; ~2% malformed HTML; ~3% legacy-charset
    (cp1252/utf-16/BOM)."""
    from powerpoint_context_extractor_spark.corpus import page_row
    for i in range(n):
        yield page_row(i, seed=seed, n_hosts=n_hosts,
                       min_paras=min_paras, max_paras=max_paras)


def write_artifacts(df, out_dir: str, id_col: str = "doc_id",
                    payload_col: str = "payload", prefix: str = "artifact",
                    width: int = 5, ext: str = "bin") -> int:
    """Write each payload to ``out_dir/<prefix>_<id padded>.<ext>``
    through ``artifact_sink.write_files``: executor-side, one file per
    row (``id_col`` must be unique). Returns the number of files
    written, counted from the written files' rows."""
    from pyspark.sql import functions as F

    from powerpoint_context_extractor_spark.sources.artifact_sink import (
        write_files,
    )
    named = df.select(
        F.format_string(f"{prefix}_%0{width}d.{ext}", F.col(id_col))
        .alias("file"), F.col(payload_col).alias("payload"))

    def _write(f, rows):
        for (payload,) in rows:
            f.write(payload or b"")

    return sum(r["rows"] for r in write_files(named, out_dir, _write))
