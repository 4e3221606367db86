"""The Python crossings, all ``mapInArrow`` with no pandas layer, on one
batch loop.

- ``partition_map`` is the generic crossing: a function over one
  task's rows, read across its Arrow batches in partition order,
  yielding 0..n output rows. Running counters (``sampling``) and the
  file sinks (``sources/artifact_sink.write_files``) use it as is.
- ``row_map`` is ``partition_map`` per row, after the input spread:
  a per-row function, 0..n output rows per input row.
- ``extract_pages`` is the hot one: ``partition_map`` of the kernel
  per page (``_extract_rows``), the Spark re-expression of the
  reference's whole extraction dataflow (the notes/animations/slides
  extractors are collectively one UDTF: document in, records out —
  SURVEY.md §2.10 U2). The pure kernel does the per-document work
  inside one Python call per Arrow batch, as the reference amortizes
  one ``zipfile.ZipFile`` open across all members
  (`notes/extractor.py:29`). It also carries per-task state: a
  partition-id column. ``write_extracted`` runs the same kernel loop
  (``_kernel_batches_arrow``) with the sink inside the task: each task
  writes its output batches to one parquet file where they are built
  and returns one summary row instead of the batches.

``extract_pages`` and ``row_map`` spread a small input one way:
``_spread_small_input``; ``partition_map`` never spreads.

``_map_batches`` is the one batch loop: it turns Arrow batches into
row tuples and builds the output batches. The workers that run it are
forked by the package daemon (``daemon.py``) with this module, pyarrow
and pandas already imported and frozen out of the collector's walk.

Scale notes (100 TB design):
- map-only: no shuffle is *required*. ``_spread_small_input`` adds a
  hash spread on the unique key (``url`` here) only when the input has
  fewer parquet row groups, or plans fewer scan splits, than cores.
  urls are unique, so hash(url) is uniform even when hosts are
  Zipf-skewed — host skew matters for host-level *aggregates* (see
  operators/textstats.host_stats_salted), not for this map.
- the input projection is exactly (url, html, text): Catalyst prunes
  the parquet scan to those columns (F7).
- J2 preference-merge (reference `notes/extractor.py:171-174`) runs
  map-side inside the same batch — error rows fall back to the
  pre-extracted ``text`` column with ``text_source='fallback'`` —
  avoiding a big-table self-join at the sink.
"""

from __future__ import annotations

import functools
import itertools
import os
import time

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import corpus
from ..kernel import extract_document
from ..sources.table_io import parquet_writer

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("block_id", T.LongType()),
    T.StructField("path", T.StringType()),
    T.StructField("start", T.LongType()),
    T.StructField("end", T.LongType()),
]))

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("title", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("spans", SPAN_TYPE, True),
    T.StructField("n_blocks", T.LongType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("text_source", T.StringType(), True),
    T.StructField("charset", T.StringType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
    T.StructField("in_bytes", T.LongType(), True),
])


#: one row per non-empty ``write_extracted`` task
WRITE_SUMMARY_SCHEMA = T.StructType([
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("file", T.StringType(), False),
    T.StructField("rows", T.LongType(), False),
    T.StructField("ok", T.LongType(), False),
    T.StructField("in_bytes", T.LongType(), False),
    T.StructField("wall_ms", T.IntegerType(), False),
])


def _arrow_batch(rows, arrow_schema):
    """One Arrow batch of ``rows``, tuples in ``arrow_schema`` order."""
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema)


def _map_batches(batches, fn, arrow_schema):
    """The batch loop of every crossing: ``fn(rows)`` gets one task's
    rows as tuples, in partition order across all of its Arrow
    ``batches``, and the tuples it yields while it reads one input
    batch leave as one output batch of ``arrow_schema``."""
    turned = False                        # fn has read into a new batch

    def _rows():
        nonlocal turned
        for rb in batches:
            turned = True
            yield from zip(*(c.to_pylist() for c in rb.columns))

    out = []
    for row in fn(_rows()):
        if turned and out:
            yield _arrow_batch(out, arrow_schema)
            out = []
        turned = False
        out.append(row)
    if out:
        yield _arrow_batch(out, arrow_schema)


def _extract_rows(rows):
    """The kernel per page: (url, html[, text]) rows in, one
    ``EXTRACTED_SCHEMA`` tuple out per row. An error row falls back to
    the page's pre-extracted ``text`` (J2) when there is one."""
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    rows = iter(rows)
    first = next(rows, None)
    if first is None:
        return
    rows = itertools.chain([first], rows)
    if len(first) == 2:                   # no text column
        rows = ((url, html, None) for url, html in rows)
    for url, html, fallback in rows:
        r = extract_document(url, html)
        if r.error is None:
            text, source = r.text, "kernel"
        else:
            text = fallback
            source = "fallback" if fallback is not None else None
        yield (url, r.title, text, r.spans, r.n_blocks, r.error, source,
               r.charset, pid, len(html) if html is not None else 0)


def _kernel_batches_arrow(batches):
    """The kernel's entry into the batch loop: (url, html[, text])
    RecordBatches in, ``EXTRACTED_SCHEMA`` RecordBatches out."""
    return _map_batches(batches, _extract_rows,
                        to_arrow_schema(EXTRACTED_SCHEMA))


#: Arrow bytes of kernel output a task holds before it writes them as
#: one parquet row group
ROW_GROUP_BYTES = 16 << 20


def _write_batches(out_dir, batches):
    """Kernel output of one task written into
    ``<out_dir>/part-<partition:05d>-<taskAttemptId>.parquet``; yields
    one ``WRITE_SUMMARY_SCHEMA`` row, or nothing for an empty task.
    The output batches, one per crossing batch, are held and written
    unconcatenated as one row group per ``ROW_GROUP_BYTES`` of output,
    so the crossing batch size does not set the file's row groups.
    ``wall_ms`` runs from the first input batch to the writer's close."""
    import pyarrow as pa
    batches = iter(batches)
    first = next(batches, None)
    if first is None:
        return
    t0 = time.monotonic()
    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
    path = os.path.join(out_dir, name)
    rows = ok = n_bytes = held = 0
    pending = []
    with parquet_writer(path, to_arrow_schema(EXTRACTED_SCHEMA),
                        stats_skip=("text",)) as w:
        for rb in _kernel_batches_arrow(itertools.chain([first], batches)):
            pending.append(rb)
            held += rb.nbytes
            rows += rb.num_rows
            ok += rb.column("error").null_count
            n_bytes += sum(rb.column("in_bytes").to_pylist())
            if held >= ROW_GROUP_BYTES:
                w.write_table(pa.Table.from_batches(pending))
                pending, held = [], 0
        if pending:
            w.write_table(pa.Table.from_batches(pending))
    wall_ms = int((time.monotonic() - t0) * 1000)
    yield _arrow_batch(
        [(ctx.partitionId(), name, rows, ok, n_bytes, wall_ms)],
        to_arrow_schema(WRITE_SUMMARY_SCHEMA))


def _spread_small_input(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Scale-adaptive parallelism guard (r8, guide §2.5 "input skew"):
    hash-spread the rows of a local parquet scan over
    ``defaultParallelism`` partitions by the unique ``key`` when the
    scan would run on fewer tasks than cores. That happens two ways:

    - a parquet ROW GROUP is the minimum scan-task unit, so a file with
      one giant row group scans as one working task however many
      (empty) byte splits it plans. With fewer files than cores, their
      (fewer than ``cores``) local footers are read to count row
      groups. Measured: flagship_extract at sf1.0 ran its whole 50k-doc
      kernel map behind one core (9.0s for ~1.3s of spread kernel
      work);
    - Spark packs several small files into one scan split
      (``spark.sql.files.openCostInBytes``), so a scan of more files
      than cores can still plan fewer splits than cores. The planned
      splits are counted only on a frame with no Exchange: there the
      count is metadata-only, while under AQE an Exchange would run
      its stages.

    The spread is deterministic per row (guide §2.5: never
    rand-derived), so task retries are stable and the row set is
    unchanged. Non-file, remote and non-parquet inputs are left as
    they are. On a real corpus every check passes and this is a no-op,
    keeping the map-only no-payload-shuffle invariant."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file source: leave as-is
        return df
    from urllib.parse import unquote, urlparse
    paths = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", "") or not uri.endswith(".parquet"):
            return df                     # remote/non-parquet: leave as-is
        paths.append(unquote(parsed.path) or uri)
    if not paths:
        return df
    if len(paths) < target:
        import pyarrow.parquet as pq
        try:
            groups = sum(pq.ParquetFile(path).metadata.num_row_groups
                         for path in paths)
        except Exception:  # noqa: BLE001 — unreadable footer: leave as-is
            return df
        if groups < target:
            return df.repartition(target, F.col(key))
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def partition_map(df: DataFrame, fn, schema) -> DataFrame:
    """The generic Python crossing, per task: ``fn(rows)`` gets the
    task's rows as tuples, in partition order across all of its Arrow
    batches, and every tuple it yields is one output row. ``schema`` is
    a ``StructType`` or a DDL string. Batches cross through
    ``mapInArrow`` with no pandas on either side; the outputs ``fn``
    yields while it reads one input batch leave as one Arrow batch, so
    output batches are bounded as the input's are. The input is never
    spread: the caller chose its partitioning."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    return df.mapInArrow(
        lambda batches: _map_batches(batches, fn, arrow_schema),
        schema=schema)


def row_map(df: DataFrame, fn, schema) -> DataFrame:
    """``partition_map`` per row: ``fn(*row)`` runs once per input row,
    and every tuple it yields is one output row, so an input row gives
    0, 1 or n outputs. The input is first spread by
    ``_spread_small_input`` on its first column."""
    return partition_map(_spread_small_input(df, df.columns[0]),
                         lambda rows: (out for row in rows
                                       for out in fn(*row)), schema)


DOC_EXTRACT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("title", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("n_blocks", T.LongType(), True),
])


def extract_wrapped_documents(docs: DataFrame,
                              wrap: str = "html") -> DataFrame:
    """Flagship demo path: wrap each testdata ``documents`` row into a
    full synthetic page (corpus.page_for_document, or the PDF twin
    corpus.pdf_page_for_document when ``wrap='pdf'``) and run the REAL
    extraction kernel over it. Because the wrap is analytically
    invertible, the whole thing has an ANSI-SQL oracle (see
    ``__spark_entry__.oracle_sql()['flagship_extract']``) — the driver's
    DuckDB check exercises the actual kernel, not a stand-in. Both
    wraps reconstruct to the SAME expected text, so the PDF layout
    parser is graded by the same oracle as the HTML DOM walk."""
    fn = {"html": "page_for_document", "pdf": "pdf_page_for_document",
          "pdf15": "pdf15_page_for_document"}[wrap]

    def _row(doc_id, text):
        url = f"doc://{doc_id}"
        r = extract_document(url, getattr(corpus, fn)(doc_id, text))
        yield url, r.title, r.text, r.n_blocks

    return row_map(docs.select("doc_id", "text"), _row, DOC_EXTRACT_SCHEMA)


CHARSET_EXTRACT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("charset", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
])

# doc_id % 4 -> page encoding (frozen: the DuckDB oracle mirrors it)
_CHARSET_KINDS = ("utf-8", "utf-8-bom", "utf-16", "cp1252-meta")


def _charset_page(doc_id: int, text: str) -> bytes:
    page = corpus.page_for_document(doc_id, text).decode("utf-8")
    kind = _CHARSET_KINDS[doc_id % 4]
    if kind == "utf-8":
        return page.encode("utf-8")
    if kind == "utf-8-bom":
        return b"\xef\xbb\xbf" + page.encode("utf-8")
    if kind == "utf-16":
        return page.encode("utf-16")
    # cp1252 bytes + meta declaration; the dropped <nav> carries é
    # bytes that make the page invalid UTF-8
    page = page.replace(
        "<html><body>",
        '<html><head><meta charset="iso-8859-1"></head>'
        '<body><nav class="nav">café résumé</nav>', 1)
    return page.encode("cp1252")


def _charset_extract(docs: DataFrame, page) -> DataFrame:
    """(doc_id, detected charset, extracted text) of the kernel over
    ``page(doc_id, text)`` per documents row."""
    def _row(doc_id, text):
        r = extract_document(f"doc://{doc_id}", page(doc_id, text))
        yield doc_id, r.charset, r.text

    return row_map(docs.select("doc_id", "text"), _row,
                   CHARSET_EXTRACT_SCHEMA)


def extract_documents_charset(docs: DataFrame) -> DataFrame:
    """Charset-detection contract path: wrap each documents row as a
    page whose ENCODING is a deterministic function of doc_id (utf-8 /
    utf-8 BOM / utf-16 / declared-cp1252), run the real kernel decode +
    extraction, and emit (doc_id, detected charset, extracted text).
    Because the wrap is the invertible flagship wrap and all testdata
    text is ASCII, the expected text AND charset label are both pure
    SQL expressions — DuckDB grades the sniffer itself."""
    return _charset_extract(docs, _charset_page)


def extract_documents_cjk(docs: DataFrame) -> DataFrame:
    """CJK legacy-charset contract path (r4 VERDICT #2): each documents
    row wrapped as a page labeled with a legacy CJK meta charset
    (shift_jis / gb2312 / euc-kr / big5 by doc_id % 4) and encoded in
    the WHATWG superset codec, with a kept CJK paragraph carrying a
    superset-extension character. The kernel must honor the label via
    the WHATWG mapping (cp932/gbk/cp949/big5hkscs) — decoding with the
    narrow national-standard codec replace-mangles the extension char
    and fails the md5 check."""
    return _charset_extract(docs, corpus.cjk_page_for_document)


# doc_id % 4 -> (encoding, page shape); kinds 2/3 are CJK-HEAVY minimal
# pages (almost no ASCII markup — the r4 sniff-relaxation case) with
# the frozen corpus.CJK_KINDS snippet repeated NOBOM_CJK_REPEAT times
NOBOM_CJK_REPEAT = 6


def _nobom_page(doc_id: int, text: str) -> bytes:
    kind = doc_id % 4
    enc = "utf-16-le" if kind in (0, 2) else "utf-16-be"
    if kind < 2:
        page = corpus.page_for_document(doc_id, text).decode("utf-8")
    else:
        snippet = corpus.CJK_KINDS[kind][2]
        page = (f"<html><body><h1>Doc {doc_id}</h1>"
                f"<p>{snippet * NOBOM_CJK_REPEAT}</p></body></html>")
    return page.encode(enc)


def extract_documents_utf16_nobom(docs: DataFrame) -> DataFrame:
    """BOM-less UTF-16 contract path (r3 open end, widened in r4): each
    documents row becomes a page with NO byte-order mark and NO meta
    declaration. Kinds 0/1 (doc_id % 4) are the markup-heavy flagship
    wrap in utf-16-le/-be — the case where a naive utf-8-first decoder
    silently returns NUL-riddled garbage (ASCII-ish UTF-16 is valid
    UTF-8), caught by the one-sided NUL-parity fast path. Kinds 2/3
    are CJK-HEAVY minimal pages (almost no ASCII, NULs on BOTH
    parities from U+XX00 code units) — the case the r3 40%-NUL rule
    shunted to latin-1 mojibake, now resolved by the common-script
    orientation scorer. The kernel must label the encoding AND recover
    the exact text (md5 vs the SQL reconstruction)."""
    return _charset_extract(docs, _nobom_page)


def _narrow(pages: DataFrame) -> DataFrame:
    """The kernel's input (url, html[, text]) of ``pages``, spread by
    ``_spread_small_input`` on ``url``. Column pruning reaches the scan
    (F7)."""
    cols = ["url", "html"] + (["text"] if "text" in pages.columns else [])
    return _spread_small_input(pages.select(*cols), "url")


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html[, text]) -> extracted (EXTRACTED_SCHEMA), through
    one ``partition_map`` crossing."""
    return partition_map(_narrow(pages), _extract_rows, EXTRACTED_SCHEMA)


def write_extracted(narrow: DataFrame, out_dir: str) -> DataFrame:
    """The ``extract_pages`` crossing with the parquet write inside the
    task, over ``narrow``: the frame ``_narrow`` returns, which may be
    filtered further (``plans.flagship.run_extraction`` anti-joins the
    committed urls after the spread). When run, each non-empty task
    writes its extracted rows (``EXTRACTED_SCHEMA``,
    ``table_io.parquet_writer`` config) to one file in ``out_dir`` and
    returns one ``WRITE_SUMMARY_SCHEMA`` row with its file name. No
    extracted row crosses back to the JVM. ``out_dir`` must exist at
    the same path on every worker (see ``table_io.TaskWrite``)."""
    return narrow.mapInArrow(functools.partial(_write_batches, out_dir),
                             schema=WRITE_SUMMARY_SCHEMA)
