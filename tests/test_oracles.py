"""Oracle parity for every ``queries()`` entry whose Spark operator is a
``row_map`` crossing, and for the queries that commit through
``SnapshotTable`` (compaction, merge, time travel, pruned, incremental
and evolved reads): each runs on a local session and must match its
``oracle_sql()`` in DuckDB (``scripts/check_entry.check_query``, the
same compare the full sweep runs), at the small test scale."""

import pytest

import __spark_entry__ as entry_mod
from scripts.check_entry import check_query, duckdb_views

ROW_MAP_QUERIES = sorted(
    [k for k in entry_mod.queries()
     if k.startswith("mm_") and k != "mm_binary_meta"]
    + ["dedup_image_phash",
       "flagship_extract", "flagship_extract_pdf", "flagship_extract_pdf15",
       "text_charset_breakdown", "text_charset_cjk",
       "text_charset_utf16_nobom", "text_nfc_normalize", "text_zlib_ratio",
       "warc_extract", "wet_roundtrip", "web_cdx_index",
       "warc_stream_extract", "sink_wds_roundtrip"])

#: queries committing through SnapshotTable not already listed above
TABLE_QUERIES = ["table_time_travel", "table_pruned_read",
                 "table_read_changes", "table_merge_upsert",
                 "table_schema_evolution", "capstone_incremental_dedup",
                 "w_stream_sketch_counts"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ROW_MAP_QUERIES)
def test_row_map_query_matches_oracle(spark, duck, sf_dir, name):
    _rows, problem = check_query(spark, duck, name, sf_dir)
    assert problem is None, f"{name}: {problem}"


@pytest.mark.parametrize("name", TABLE_QUERIES)
def test_table_query_matches_oracle(spark, duck, sf_dir, name):
    _rows, problem = check_query(spark, duck, name, sf_dir)
    assert problem is None, f"{name}: {problem}"
