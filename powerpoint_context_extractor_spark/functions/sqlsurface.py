"""SQL table-function surface for the extraction kernel (r6).

SURVEY.md §4 flags an optional ``EXTRACT(...)`` table function so SQL
users can drive the flagship path without touching the DataFrame API —
the reference exposes its extraction through a single callable the
same way (`/root/reference/pptx_extractor/core/extractor.py:36-88`
is the one entry point everything else drives). This registers one
Arrow-optimized Python UDTF, ``extract_doc(doc_id, text)``: wrap a
testdata ``documents`` row via ``corpus.page_for_document`` and
extract, mirroring ``extract_wrapped_documents`` exactly (the same SQL
oracle grades both).

Use from SQL with a LATERAL join::

    SELECT e.* FROM documents d, LATERAL extract_doc(d.doc_id, d.text) e

Scale note (100 TB): the UDTF is registered with ``useArrow=True``
(Arrow-batched transfer), but per-row ``eval`` dispatch still costs
more Python-boundary overhead than the ``mapInArrow`` flagship path —
this surface is the SQL *convenience* seam; batch jobs should keep
using ``operators.extract.extract_pages``.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

__all__ = ["register_sql_extraction"]


class _ExtractDoc:
    """UDTF body for extract_doc(doc_id, text) — the flagship wrap."""

    def eval(self, doc_id, text):  # noqa: ANN001 — UDTF protocol
        from .. import corpus
        from ..kernel import extract_document
        url = f"doc://{doc_id}"
        r = extract_document(url, corpus.page_for_document(doc_id, text))
        yield url, r.title, r.text, r.n_blocks


def register_sql_extraction(spark) -> None:
    """Register the kernel UDTF on ``spark`` (idempotent — Spark
    replaces same-name registrations)."""
    spark.udtf.register(
        "extract_doc",
        udtf(_ExtractDoc,
             returnType="url string, title string, text string, "
                        "n_blocks bigint",
             useArrow=True))
