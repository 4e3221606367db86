"""WARC container source: record framing, per-record gzip members,
HTTP envelope stripping, and the Spark read/write round-trip against
the flagship extraction path."""

import os

from powerpoint_context_extractor_spark.sources import warc


def build_warc(records, gzip_records: bool = True) -> bytes:
    """records: iterable of (url, date, body_bytes[, rec_type]). Emits a
    complete WARC file; ``gzip_records`` writes one gzip member per
    record (the .warc.gz layout)."""
    return b"".join(warc._member(warc.build_record(*rec), gzip_records)
                    for rec in records)


def test_warc_roundtrip_plain_and_gz():
    recs = [("doc://1", "2024-01-01T00:00:01Z", b"<h1>One</h1>"),
            ("doc://2", "2024-01-01T00:00:02Z",
             b"<p>bait: WARC/1.0 endstream \r\n\r\n inside body</p>")]
    for gz in (False, True):
        data = build_warc(
            [("file://0", "d", b"software: x", "warcinfo")] + recs,
            gzip_records=gz)
        got = [(h["warc-target-uri"], warc.http_body(p))
               for h, p in warc.iter_warc_records(data)
               if h.get("warc-type") == "response"]
        assert got == [(u, b) for u, _d, b in recs], gz
    # .warc.gz really is one gzip member per record, not one stream
    gz_data = build_warc(recs, gzip_records=True)
    assert len(list(warc._gzip_member_spans(gz_data))) == 2


def test_warc_error_tolerance():
    recs = [("doc://1", "d", b"<p>a</p>"), ("doc://2", "d", b"<p>b</p>")]
    data = build_warc(recs, gzip_records=True)
    # truncated final member: earlier records still parse, no raise
    partial = list(warc.iter_warc_records(data[:len(data) - 8]))
    assert 1 <= len(partial) < 2 or partial[0][0]["warc-target-uri"] == "doc://1"
    # garbage input yields nothing, never raises
    assert list(warc.iter_warc_records(b"not a warc at all")) == []
    assert list(warc.iter_warc_records(b"\x1f\x8bgarbage")) == []
    # payload without an HTTP envelope passes through untouched
    assert warc.http_body(b"raw bytes") == b"raw bytes"


def test_warc_spark_roundtrip_matches_flagship(spark, sf_dir, tmp_path):
    """write (distributed, per-partition files) -> read (binaryFile +
    member split) -> kernel extraction == the direct flagship path."""
    from powerpoint_context_extractor_spark.operators.extract import (
        extract_pages, extract_wrapped_documents,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "warcs")
    warc.write_documents_as_warc(docs, out, n_files=4)
    names = sorted(os.listdir(out))
    assert len(names) == 4 and all(n.endswith(".warc.gz") for n in names)
    via_warc = {r["url"]: (r["title"], r["text"], r["n_blocks"])
                for r in extract_pages(
                    warc.read_warc(spark, out).select("url", "html"))
                .collect()}
    direct = {r["url"]: (r["title"], r["text"], r["n_blocks"])
              for r in extract_wrapped_documents(docs).collect()}
    assert via_warc == direct


def test_warc_stream_equals_batch_and_exactly_once(spark, sf_dir, tmp_path):
    """Streamed WARC ingestion commits the same rows as the batch path;
    replaying the whole backlog with a FRESH checkpoint (worst-case
    at-least-once redelivery) commits nothing new."""
    from powerpoint_context_extractor_spark.operators.extract import (
        extract_pages,
    )
    from powerpoint_context_extractor_spark.sources.table_io import (
        SnapshotTable,
    )
    from powerpoint_context_extractor_spark.streaming.ingest import (
        stream_extract_warc,
    )
    docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .limit(60))
    wdir = str(tmp_path / "warcs")
    warc.write_documents_as_warc(docs, wdir, n_files=3)
    out_root = str(tmp_path / "out")
    streamed = stream_extract_warc(spark, wdir, out_root)
    batch = extract_pages(
        warc.read_warc(spark, wdir).select("url", "html"))
    skey = {r["url"]: (r["title"], r["text"]) for r in streamed.collect()}
    bkey = {r["url"]: (r["title"], r["text"]) for r in batch.collect()}
    assert skey == bkey and len(skey) == 60
    n_snaps = len(SnapshotTable(os.path.join(out_root, "extracted")).snapshots())
    # replay: same table, fresh checkpoint -> anti-join blocks every row
    import shutil
    shutil.rmtree(os.path.join(out_root, "ck"))
    again = stream_extract_warc(spark, wdir, out_root)
    assert again.count() == 60
    snaps = SnapshotTable(os.path.join(out_root, "extracted")).snapshots()
    assert sum(s["row_count"] for s in snaps) == 60
    assert len(snaps) > n_snaps        # new (empty) commits, no new rows


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except ImportError:                                   # pragma: no cover
    HAVE_HYP = False

if HAVE_HYP:
    _BODY = st.binary(max_size=300)
    _URL = st.from_regex(r"doc://[0-9]{1,6}", fullmatch=True)

    @settings(max_examples=120, deadline=None)
    @given(st.lists(st.tuples(_URL, _BODY), max_size=6), st.booleans())
    def test_warc_roundtrip_properties(recs, gz):
        """Any byte payload — including ones containing 'WARC/1.0',
        CRLFCRLF, or gzip magic — survives build->parse exactly, in
        order, under both layouts (Content-Length framing, not
        delimiter scanning)."""
        rows = [(u, "2024-01-01T00:00:00Z", b) for u, b in recs]
        data = build_warc(rows, gzip_records=gz)
        got = [(h["warc-target-uri"], warc.http_body(p))
               for h, p in warc.iter_warc_records(data)]
        assert got == [(u, b) for u, b in recs]


def test_gzip_member_iterator_offset_tracking():
    """ADVICE r3: the member iterator feeds bounded chunks from one
    buffer (O(member + chunk) per member, not O(file tail)); member
    boundaries falling anywhere inside a chunk, trailing garbage, and a
    truncated final member all behave."""
    import zlib

    members = [bytes([i % 256]) * (7919 + i) for i in range(50)]
    buf = bytearray()
    for m in members:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        buf += co.compress(m) + co.flush()
    def inflated(data, **kw):
        return [m for _off, _len, m in warc._gzip_member_spans(data, **kw)]

    # chunk far smaller than a member AND far larger than one: both ok
    for cs in (512, 4096, 1 << 26):
        assert inflated(bytes(buf), chunk_size=cs) == members
    assert inflated(bytes(buf) + b"garbage") == members
    assert inflated(bytes(buf[:-10])) == members[:-1]
    assert inflated(b"") == []
    # the spans tile the buffer: each member starts where the last ended
    spans = [(off, ln) for off, ln, _m in warc._gzip_member_spans(bytes(buf))]
    assert spans[0][0] == 0 and sum(ln for _o, ln in spans) == len(buf)
    assert all(a + la == b for (a, la), (b, _lb) in zip(spans, spans[1:]))


def test_whole_file_gzip_warc_parses_all_records():
    """A .warc.gz compressed as ONE gzip member over the whole file
    (the non-Common-Crawl layout some tools emit) still yields every
    record: the member splitter hands the full buffer to the plain
    parser, which iterates records by Content-Length framing."""
    import zlib

    rows = [(f"doc://{i}", "2024-01-01T00:00:00Z", f"body {i}".encode())
            for i in range(5)]
    plain = build_warc(rows, gzip_records=False)
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    whole = co.compress(plain) + co.flush()
    got = [(h["warc-target-uri"], warc.http_body(p))
           for h, p in warc.iter_warc_records(whole)]
    assert got == [(u, b) for u, _d, b in rows]


def test_wet_roundtrip_unicode_and_type_filter(spark, tmp_path):
    """r6 WET sidecar format: conversion records round-trip unicode
    text byte-losslessly through the distributed sink + source, the
    reader skips non-conversion records, and empty text survives."""
    rows = [("http://a/1", "héllo wörld — 中文 text"),
            ("http://a/2", ""),
            ("http://a/3", "plain ascii")]
    df = spark.createDataFrame(rows, "url string, text string")
    out = str(tmp_path / "wet")
    warc.write_extracted_as_wet(df, out, n_files=2)
    back = {r["url"]: r["text"]
            for r in warc.read_wet(spark, out).collect()}
    assert back == dict(rows)
    # a WARC with response + warcinfo records yields NO wet rows
    mixed = build_warc(
        [("file://0", "2024-01-01T00:00:00Z", b"software: x", "warcinfo"),
         ("http://b/1", "2024-01-01T00:00:00Z", b"<p>html</p>")])
    p = tmp_path / "mixed" ; p.mkdir()
    (p / "part-0.warc.gz").write_bytes(mixed)
    assert warc.read_wet(spark, str(p)).count() == 0
    # ...while the wet reader on wet files is what read_warc skips
    assert warc.read_warc(spark, out).count() == 0


def test_robots_allow_longest_match_precedence(spark):
    """r7: RFC 9309 §2.2.2 — the longest matching rule wins, Allow
    beats Disallow at equal length, rule order within the group is
    irrelevant, non-* groups stay ignored, and pages without robots
    stay allowed."""
    from powerpoint_context_extractor_spark.operators.robots import (
        apply_robots_v2,
    )
    robots = spark.createDataFrame([
        ("a.example",
         "User-agent: *\nDisallow: /search\nAllow: /search/about"),
        ("b.example",       # same rules, opposite order: same verdicts
         "User-agent: *\nAllow: /search/about\nDisallow: /search"),
        ("c.example",       # equal length tie -> allow
         "User-agent: *\nAllow: /x\nDisallow: /x"),
        ("d.example",       # other agent's group never applies
         "User-agent: badbot\nDisallow: /\n\n"
         "User-agent: *\nDisallow: /private"),
    ], "host string, robots_txt string")
    pages = spark.createDataFrame([
        (1, "a.example", "/search/q"),          # blocked
        (2, "a.example", "/search/about/team"),  # allowed (longer)
        (3, "a.example", "/other"),              # allowed (no match)
        (4, "b.example", "/search/q"),
        (5, "b.example", "/search/about/team"),
        (6, "c.example", "/x/y"),                # tie -> allowed
        (7, "d.example", "/anything"),           # badbot rule ignored
        (8, "d.example", "/private/x"),          # star rule applies
        (9, "nohost.example", "/whatever"),      # no robots -> allowed
    ], "doc_id long, host string, path string")
    got = {r["doc_id"]: r["allowed"]
           for r in apply_robots_v2(pages, robots).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 0, 5: 1, 6: 1, 7: 1, 8: 0,
                   9: 1}


def test_robots_wildcard_and_anchor_rules(spark):
    """r7: RFC 9309 §2.2.3 special characters — '*' spans any text,
    a trailing '$' anchors to the path end, regex metacharacters in
    paths stay literal, and wildcard rules join the longest-literal
    precedence contest."""
    from powerpoint_context_extractor_spark.operators.robots import (
        apply_robots_v2,
    )
    robots = spark.createDataFrame([
        ("a.example",
         "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp/*/draft"),
        ("b.example",        # wildcard disallow vs longer plain allow
         "User-agent: *\nDisallow: /p*te\nAllow: /private/ok"),
        ("c.example",        # literal dot must not act as regex '.'
         "User-agent: *\nDisallow: /a.b"),
    ], "host string, robots_txt string")
    pages = spark.createDataFrame([
        (1, "a.example", "/x/file.pdf"),        # *.pdf$ -> blocked
        (2, "a.example", "/x/file.pdf.html"),   # $ anchors -> allowed
        (3, "a.example", "/tmp/v1/draft2"),     # span match -> blocked
        (4, "a.example", "/tmp/draft"),         # needs middle seg -> ok
        (5, "b.example", "/private/ok/x"),      # allow len 11 beats 5
        (6, "b.example", "/private/no"),        # blocked by /p*te
        (7, "c.example", "/a.b/x"),             # blocked (literal)
        (8, "c.example", "/aXb/x"),             # '.' NOT a wildcard
    ], "doc_id long, host string, path string")
    got = {r["doc_id"]: r["allowed"]
           for r in apply_robots_v2(pages, robots).collect()}
    assert got == {1: 0, 2: 1, 3: 0, 4: 1, 5: 1, 6: 0, 7: 0, 8: 1}
