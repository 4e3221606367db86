"""WARC container source — the format the actual Common Crawl corpus
ships in (ISO 28500; reference reads loose files, pptx_extract.py:44-71,
but a web-scale run reads .warc.gz segments).

Layout facts this module encodes:
- A WARC file is a sequence of records: ``WARC/1.0\\r\\n`` + header
  lines + blank line + ``Content-Length`` payload bytes + ``\\r\\n\\r\\n``.
- ``.warc.gz`` compresses EACH RECORD as its own gzip member (per the
  spec's recommendation, so readers can split without decompressing the
  whole file); the reader must iterate gzip members, not gunzip once.
- ``response`` records carry an HTTP response (status line + headers +
  blank + body); the page bytes are the part after the first CRLFCRLF.

Scale shape: Common Crawl ships ~64k warc files per crawl at ~1 GiB
each — FILE-level parallelism is the unit every production CC job uses
(one task per .warc.gz, since gzip members don't expose offsets without
an index). ``read_warc`` therefore maps one binaryFile row -> that
file's records through ``row_map``; with tens of thousands of files
per crawl this saturates any executor count long before per-file
splitting would matter.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import row_map
from .artifact_sink import write_files

CRLF = "\r\n"
_GZ_MAGIC = b"\x1f\x8b"


# ---------------------------------------------------------------------------
# record building (sink / test scaffolding)
# ---------------------------------------------------------------------------

def build_record(url: str, date: str, body: bytes,
                 rec_type: str = "response") -> bytes:
    """One WARC/1.0 record wrapping ``body`` as an HTTP 200 response."""
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
            if rec_type == "response" else body)
    head = (f"WARC/1.0{CRLF}"
            f"WARC-Type: {rec_type}{CRLF}"
            f"WARC-Target-URI: {url}{CRLF}"
            f"WARC-Date: {date}{CRLF}"
            f"Content-Type: application/http; msgtype=response{CRLF}"
            f"Content-Length: {len(http)}{CRLF}{CRLF}").encode("latin-1")
    return head + http + b"\r\n\r\n"


def _member(raw: bytes, gzip_records: bool) -> bytes:
    """One record as written: its own gzip member (the .warc.gz
    layout) when ``gzip_records``, else the raw bytes."""
    if not gzip_records:
        return raw
    co = zlib.compressobj(6, zlib.DEFLATED, 31)  # 31 = gzip wrap
    return co.compress(raw) + co.flush()


# ---------------------------------------------------------------------------
# parsing (source)
# ---------------------------------------------------------------------------

def _gzip_member_spans(data: bytes,
                       chunk_size: int = 1 << 20) -> Iterator[tuple]:
    """(offset, length, inflated bytes) of each concatenated gzip member
    of a .warc.gz — each record is its own member, so this IS record
    splitting, and an indexer records the real spans. A truncated or
    corrupt tail ends the iteration.

    ADVICE r3: tracks an OFFSET into one buffer and feeds the
    decompressor bounded ``chunk_size`` slices, so per-member input
    cost is O(member + chunk) — a ``data = d.unused_data`` loop
    re-copies the whole remaining tail per member, O(members x
    file_size) memcpy on a real ~1 GiB Common Crawl file with tens of
    thousands of records."""
    view = memoryview(data)
    off, n = 0, len(data)
    while n - off >= 2 and bytes(view[off:off + 2]) == _GZ_MAGIC:
        d = zlib.decompressobj(31)
        out = bytearray()
        pos = off
        try:
            while not d.eof and pos < n:
                out += d.decompress(view[pos:pos + chunk_size])
                pos += chunk_size
        except zlib.error:
            return                        # truncated/corrupt tail: stop
        if not d.eof:
            return                        # incomplete final member
        # consumed = everything fed minus the final chunk's leftover
        end = min(pos, n) - len(d.unused_data)
        yield off, end - off, bytes(out)
        off = end


def _parse_plain(data: bytes) -> Iterator[tuple]:
    """Yield (headers_dict, payload_bytes) for each record in a plain
    (non-gz) WARC buffer. Error-tolerant: a malformed header block or
    missing Content-Length ends the file scan (log-and-continue, F6) —
    records parsed so far are still yielded."""
    i, n = 0, len(data)
    while i < n:
        j = data.find(b"WARC/1.", i)
        if j < 0:
            return
        he = data.find(b"\r\n\r\n", j)
        if he < 0:
            return
        headers = {}
        for line in data[j:he].decode("latin-1").split(CRLF)[1:]:
            k, _sep, v = line.partition(":")
            if _sep:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            return
        start = he + 4
        yield headers, data[start:start + clen]
        i = start + clen


def iter_warc_records(data: bytes) -> Iterator[tuple]:
    """(headers, payload) per record; auto-detects .warc.gz (per-record
    gzip members) vs plain WARC."""
    if data[:2] == _GZ_MAGIC:
        for _off, _len, member in _gzip_member_spans(data):
            yield from _parse_plain(member)
    else:
        yield from _parse_plain(data)


def http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope: page bytes follow the first
    CRLFCRLF. A payload without one is returned as-is (some archives
    store raw resources)."""
    sep = payload.find(b"\r\n\r\n")
    return payload[sep + 4:] if sep >= 0 else payload


WARC_PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_date", T.StringType(), True),
    T.StructField("html", T.BinaryType(), True),
])


def _warc_pages(content: bytes):
    """(url, warc_date, html) of each response record in one file."""
    for headers, payload in iter_warc_records(content):
        if headers.get("warc-type", "response") != "response":
            continue              # warcinfo/request/metadata
        yield (headers.get("warc-target-uri"), headers.get("warc-date"),
               http_body(payload))


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC source: (url, warc_date, html) — one input row per response
    record. File-per-task parallelism (see module docstring); only the
    ``content`` column is read from the binaryFile scan."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("content"))
    return row_map(files, _warc_pages, WARC_PAGE_SCHEMA)


# ---------------------------------------------------------------------------
# distributed writer (test/bench scaffolding; one file per partition —
# exactly how a fetcher fleet produces warcs)
# ---------------------------------------------------------------------------

def write_documents_as_warc(docs: DataFrame, out_dir: str,
                            n_files: int = 8,
                            gzip_records: bool = True) -> None:
    """Wrap documents rows (page_for_document) into ``n_files`` WARC
    files under ``out_dir``. Deterministic: file index = doc_id %
    n_files, records ordered by doc_id, WARC-Date derived from doc_id —
    so the resulting corpus is a pure function of the input table."""
    ext = "warc.gz" if gzip_records else "warc"
    part = F.col("doc_id") % n_files
    rows = (docs.select(F.format_string(f"part-%05d.{ext}", part)
                        .alias("file"), part.alias("part"),
                        "doc_id", "text")
            .repartition(n_files, "file")
            .sortWithinPartitions("file", "doc_id"))

    def _write(f, file_rows):
        from .. import corpus
        for i, (index, doc_id, text) in enumerate(file_rows):
            if i == 0:            # warcinfo record first, like real CC files
                f.write(_member(build_record(
                    f"file://{index}", "2024-01-01T00:00:00Z",
                    b"software: spark-graft", "warcinfo"), gzip_records))
            f.write(_member(build_record(
                f"doc://{doc_id}", f"2024-01-01T00:00:{doc_id % 60:02d}Z",
                corpus.page_for_document(doc_id, text)), gzip_records))

    write_files(rows, out_dir, _write)


# ---------------------------------------------------------------------------
# WET (the Common Crawl extracted-text sidecar format): a WARC whose
# records are WARC-Type: conversion with text/plain bodies — the
# standard interchange shape for "pages already extracted to text"
# ---------------------------------------------------------------------------

def build_wet_record(url: str, date: str, text: str) -> bytes:
    """One WET conversion record (text/plain body, no HTTP envelope)."""
    body = text.encode("utf-8")
    head = (f"WARC/1.0{CRLF}"
            f"WARC-Type: conversion{CRLF}"
            f"WARC-Target-URI: {url}{CRLF}"
            f"WARC-Date: {date}{CRLF}"
            f"Content-Type: text/plain{CRLF}"
            f"Content-Length: {len(body)}{CRLF}{CRLF}").encode("latin-1")
    return head + body + b"\r\n\r\n"


WET_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_date", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
])


def _wet_records(content: bytes):
    """(url, warc_date, text) of each conversion record in one file."""
    for headers, payload in iter_warc_records(content):
        if headers.get("warc-type") != "conversion":
            continue              # warcinfo / anything else
        yield (headers.get("warc-target-uri"), headers.get("warc-date"),
               payload.decode("utf-8", "replace"))


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET source: (url, warc_date, text) — one row per conversion
    record. Same file-per-task + gzip-member-splitting layout as
    ``read_warc``."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("content"))
    return row_map(files, _wet_records, WET_SCHEMA)


def write_extracted_as_wet(extracted: DataFrame, out_dir: str,
                           n_files: int = 8,
                           gzip_records: bool = True) -> None:
    """WET sink: (url, text) rows -> ``n_files`` .wet.warc.gz files,
    one gzip member per conversion record (the CC layout). File index
    = portable hash of url % n_files; records ordered by url within a
    file — the output corpus is a pure function of the input rows, and
    the writer is one ``write_files`` pass (no driver collect of data,
    only the per-file manifest)."""
    ext = "wet.warc.gz" if gzip_records else "wet.warc"
    part = F.pmod(F.xxhash64("url"), F.lit(n_files))
    rows = (extracted.select(F.format_string(f"part-%05d.{ext}", part)
                             .alias("file"), "url", "text")
            .repartition(n_files, "file")
            .sortWithinPartitions("file", "url"))

    def _write(f, file_rows):
        for url, text in file_rows:
            f.write(_member(build_wet_record(
                url, "2024-01-01T00:00:00Z", text or ""), gzip_records))

    write_files(rows, out_dir, _write)


# ---------------------------------------------------------------------------
# CDX index sidecar (r6): one line per WARC record carrying the REAL
# byte span of its gzip member — the Wayback/Common Crawl lookup
# format that makes ranged fetches of single records possible.
# Completes the WARC/WET/CDX container trio.
# ---------------------------------------------------------------------------

CDX_SCHEMA = T.StructType([
    T.StructField("urlkey", T.StringType()),
    T.StructField("rec_ts", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("rec_type", T.StringType()),
    T.StructField("digest", T.StringType()),
    T.StructField("offset", T.LongType()),
    T.StructField("length", T.LongType()),
    T.StructField("filename", T.StringType()),
])


def index_warc_files(spark: SparkSession, path: str,
                     glob: str = "*.warc*") -> DataFrame:
    """Build CDX rows for every record in every (per-record-gzip)
    WARC/WET file under ``path``: SURT urlkey, record timestamp/URI/
    type, a sha256:16-hex payload digest, and the member's true
    (offset, length) within the file. One ``row_map`` pass,
    file-per-task — the index build shuffles nothing."""
    import hashlib
    import os

    from ..operators.urltools import surt_key_py

    def _row(fpath, raw):
        if raw[:2] != _GZ_MAGIC:
            return                        # CDX spans need gzip members
        name = os.path.basename(fpath)
        for off, ln, member in _gzip_member_spans(raw):
            for headers, payload in _parse_plain(member):
                url = headers.get("warc-target-uri", "")
                yield (surt_key_py(url), headers.get("warc-date", ""), url,
                       headers.get("warc-type", ""),
                       "sha256:" + hashlib.sha256(payload).hexdigest()[:16],
                       off, ln, name)

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(path)
             .select("path", "content"))
    return row_map(files, _row, CDX_SCHEMA)


def write_cdx(idx: DataFrame, out_dir: str, n_files: int = 4) -> None:
    """CDX sink: space-separated lines range-partitioned and SORTED by
    urlkey (the property Wayback binary search relies on): file k
    holds a contiguous urlkey range, sorted within. One write pass."""
    line = F.concat_ws(" ", "urlkey", "rec_ts", "url", "rec_type",
                       "digest", F.col("offset").cast("string"),
                       F.col("length").cast("string"), "filename")
    (idx.repartitionByRange(n_files, "urlkey")
     .sortWithinPartitions("urlkey", "offset")
     .select(line.alias("value"))
     .write.mode("overwrite").text(out_dir))


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX source: parse the space-separated lines back to typed rows
    (urlkey/url contain no spaces by construction — URL-encoded)."""
    parts = F.split(F.col("value"), " ")
    return (spark.read.text(path)
            .select(*[parts.getItem(i).alias(f.name)
                      for i, f in enumerate(CDX_SCHEMA.fields)])
            .withColumn("offset", F.col("offset").cast("long"))
            .withColumn("length", F.col("length").cast("long")))


