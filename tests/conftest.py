import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from powerpoint_context_extractor_spark.session import get_spark
    s = get_spark("pcx-tests", master="local[4]", shuffle_partitions=4,
                  driver_memory="8g")
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
