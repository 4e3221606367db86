"""SQL table-function surface (functions/sqlsurface.py).

Pins the r6 UDTF seam to the batch path: a SQL user driving
``extract_doc`` through a LATERAL join must get byte-identical
extraction results to ``operators.extract.extract_wrapped_documents``
(SURVEY §4's optional EXTRACT(...) table function; reference
single-entry-point analog
`/root/reference/pptx_extractor/core/extractor.py:36-88`).
"""

from powerpoint_context_extractor_spark.functions.sqlsurface import (
    register_sql_extraction,
)
from powerpoint_context_extractor_spark.operators.extract import (
    extract_wrapped_documents,
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
