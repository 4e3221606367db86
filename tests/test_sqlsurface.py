"""SQL table-function surface (functions/sqlsurface.py).

Pins the r6 UDTF seam to the batch hot path: a SQL user driving
``extract_page`` / ``extract_doc`` through a LATERAL join must get
byte-identical extraction results to ``operators.extract``'s
mapInArrow implementations (SURVEY §4's optional
EXTRACT(...) table function; reference single-entry-point analog
`/root/reference/pptx_extractor/core/extractor.py:36-88`).
"""

from powerpoint_context_extractor_spark.functions.sqlsurface import (
    register_sql_extraction,
)
from powerpoint_context_extractor_spark.operators.extract import (
    extract_pages, extract_wrapped_documents,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_extract_doc_udtf_matches_wrapped_documents(spark):
    docs = spark.createDataFrame(
        [(i, f"Title {i}\n\nBody paragraph {i} with words.") for i in range(8)],
        "doc_id long, text string")
    register_sql_extraction(spark)
    docs.createOrReplaceTempView("_t_docs_udtf")
    via_sql = spark.sql(
        "SELECT e.url, e.title, e.text, e.n_blocks "
        "FROM _t_docs_udtf d, LATERAL extract_doc(d.doc_id, d.text) e")
    via_df = extract_wrapped_documents(docs)
    cols = ["url", "title", "text", "n_blocks"]
    assert _rows(via_sql, cols) == _rows(via_df, cols)


def test_extract_page_udtf_matches_extract_pages(spark):
    pages = spark.createDataFrame(
        [("http://a/1", bytearray(b"<html><head><title>T1</title></head>"
                                  b"<body><h1>T1</h1><p>hello world</p>"
                                  b"</body></html>")),
         ("http://a/2", bytearray(b"<html><body><p>only a paragraph"
                                  b"</p></body></html>")),
         # malformed binary payload -> error row, not a crash
         ("http://a/3", bytearray(b"\x00\x01\x02\xff\xfe garbage"))],
        "url string, html binary")
    register_sql_extraction(spark)
    pages.createOrReplaceTempView("_t_pages_udtf")
    via_sql = spark.sql(
        "SELECT e.url, e.title, e.text, e.n_blocks, e.error "
        "FROM _t_pages_udtf p, LATERAL extract_page(p.url, p.html) e")
    via_df = extract_pages(pages)
    cols = ["url", "title", "text", "n_blocks", "error"]
    assert _rows(via_sql, cols) == _rows(via_df, cols)
    # one output row per input page, even for the garbage payload
    assert via_sql.count() == 3
