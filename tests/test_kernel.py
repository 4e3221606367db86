"""Spec tests for the pure-Python kernel — hand-derived expectations.

These pin the frozen extraction contract (kernel.py docstring); golden
fixture files pin the broader corpus in test_goldens.py.
"""

import gc
import random
import re
import time

from powerpoint_context_extractor_spark import corpus, kernel
from powerpoint_context_extractor_spark.kernel import (
    extract_document, render_wdoc,
)

from .cms_pages import cms_page
from .conftest import generate_pages_rows
from .html_reference import extract_html_reference


def expected_text_for_document(doc_id: int, text: str) -> str:
    """Pure-Python mirror of the flagship SQL oracle: the kernel's text
    over ``corpus.page_for_document(doc_id, text)``."""
    tokens = text.split(" ") if text else []
    parts = [f"# Doc {doc_id}"]
    parts.extend(" ".join(c) for c in corpus._chunks(tokens,
                                                     corpus.PARA_TOKENS))
    return "\n\n".join(parts)


def render_pdf_incremental(pages, updated_pages, *,
                           compress: bool = False) -> bytes:
    """Incremental-update layout (PDF 32000 §7.5.6): the base file from
    ``kernel.render_pdf_pages`` is kept byte-identical and an update
    section is APPENDED — re-written content-stream objects for
    ``updated_pages`` ({page_index: blocks}), a second xref section
    covering only those objects, and a new trailer whose ``/Prev``
    points at the original xref. This is what every PDF editor's "save"
    writes; the kernel's object pass resolves duplicate object numbers
    newest-in-file-order, so extraction shows the UPDATED content."""
    base = kernel.render_pdf_pages(pages, compress=compress)
    npg = len(pages)
    m = re.search(rb"startxref\r?\n(\d+)", base)
    prev_at = int(m.group(1))
    buf = bytearray(base)
    offsets: dict = {}
    for idx, blocks in sorted(updated_pages.items()):
        objnum = 3 + npg + idx            # the page's content stream
        offsets[objnum] = len(buf)
        buf += (f"{objnum} 0 obj\n".encode()
                + kernel._pdf_content_obj(blocks, compress=compress)
                + b"\nendobj\n")
    xref_at = len(buf)
    buf += b"xref\n"
    for objnum in sorted(offsets):        # one subsection per object
        buf += (f"{objnum} 1\n".encode()
                + f"{offsets[objnum]:010d} 00000 n \n".encode())
    size = 5 + 2 * npg                    # base object count + 1
    buf += (f"trailer\n<< /Size {size} /Root 1 0 R /Prev {prev_at} >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(buf)


def _x(html: str):
    return extract_document("u", html.encode("utf-8"))


def test_plain_blocks_spans_title():
    r = _x("<html><body><h1>Hello World</h1><p>First para.</p>"
           "<p>Second  para.</p></body></html>")
    assert r.error is None
    assert r.title == "Hello World"
    assert r.text == "# Hello World\n\nFirst para.\n\nSecond para."
    assert r.n_blocks == 3
    assert [s["block_id"] for s in r.spans] == [0, 1, 2]
    for s in r.spans:
        assert r.text[s["start"]:s["end"]]  # non-empty slice
    assert r.text[r.spans[0]["start"]:r.spans[0]["end"]] == "# Hello World"
    assert r.text[r.spans[2]["start"]:r.spans[2]["end"]] == "Second para."
    assert r.spans[0]["path"] == "html:1>body:1>h1:1"
    assert r.spans[2]["path"] == "html:1>body:1>p:3"


def test_boilerplate_subtrees_dropped():
    r = _x('<body><nav><a href="/">Home</a></nav>'
           '<div class="ad banner">Buy now</div>'
           '<header id="top">Site</header>'
           "<p>Real text here</p>"
           '<footer>legal</footer></body>')
    assert r.text == "Real text here"
    assert r.n_blocks == 1


def test_link_density_rules():
    # p: all link text -> dropped
    assert _x("<p><a href='x'>all link text</a></p>").text == ""
    # p: link <= 1/3 -> kept
    r = _x("<p><a href='x'>link</a> plus lots of plain words here</p>")
    assert r.text == "link plus lots of plain words here"
    # li: all link -> dropped; li mostly text -> kept as bullet
    assert _x("<ul><li><a href='x'>one</a></li></ul>").text == ""
    assert _x("<ul><li>text mostly <a href='x'>x</a></li></ul>").text == \
        "- text mostly x"


def test_entities_decoded():
    r = _x("<p>fish &amp; chips &lt;tag&gt; &#65;&#x42;C caf&eacute;</p>")
    assert r.text == "fish & chips <tag> ABC café"


def test_nested_inline_single_block():
    r = _x("<p>Start <b>bold</b> <i>it <a href='x'>l</a></i> end</p>")
    assert r.text == "Start bold it l end"
    assert r.n_blocks == 1


def test_pre_preserves_whitespace():
    r = _x("<div><pre>line1\n  line2</pre></div>")
    assert r.text == "line1\n  line2"


def test_anonymous_text_block():
    r = _x("<div>naked text outside blocks</div>")
    assert r.text == "naked text outside blocks"
    assert r.spans[0]["path"].endswith("#text")


def test_empty_main():
    r = _x("<body><p>   </p><div></div></body>")
    assert r.error is None
    assert r.text == ""
    assert r.n_blocks == 0
    assert r.title is None


def test_heading_levels_and_bullets():
    r = _x("<h2>Sub</h2><ul><li>alpha beta</li><li>gamma delta</li></ul>")
    assert r.text == "## Sub\n\n- alpha beta\n\n- gamma delta"
    assert r.title == "Sub"


def test_br_becomes_space():
    assert _x("<p>one<br>two</p>").text == "one two"


def test_malformed_recovery_is_stable():
    h = "<h1>T</h1></div><p>one<p>two"
    r1 = _x(h)
    r2 = _x(h)
    assert r1 == r2
    assert r1.error is None
    assert r1.text == "# T\n\none\n\ntwo"


def test_stray_close_and_unclosed_inline():
    r = _x("<p>next one</i> more</p>")
    assert r.text == "next one more"


def test_control_chars_stripped():
    assert _x("<p>a\x00b\x01c</p>").text == "abc"
    # pre keeps its whitespace controls
    assert _x("<div><pre>keep\n  tab\there</pre></div>").text == \
        "keep\n  tab\there"


def test_error_row_from_corrupt_wdoc():
    # HTML decode is total since r3 (charset sniff + latin-1 fallback);
    # the guaranteed error path is a corrupt binary payload
    r = extract_document("u", kernel.WDOC_MAGIC + b"notanumber\n")
    assert r.error is not None and r.error.startswith("ValueError")
    assert r.text is None and r.n_blocks == 0


def test_charset_decode_paths():
    """BOM > strict utf-8 > meta sniff > latin-1 fallback, with WHATWG
    latin-1-family labels decoding as cp1252 — every path deterministic."""
    dec = kernel.decode_html_bytes
    assert dec(b"<p>x</p>") == ("<p>x</p>", "utf-8")
    assert dec(b"\xef\xbb\xbf<p>b</p>") == ("<p>b</p>", "utf-8-bom")
    assert dec("<p>s</p>".encode("utf-16")) == ("<p>s</p>", "utf-16")
    t, c = dec('<meta charset="iso-8859-1"><p>caf\xe9</p>'.encode("cp1252"))
    assert c == "cp1252" and "café" in t
    t, c = dec(b'<META HTTP-EQUIV="Content-Type" CONTENT="text/html; '
               b'charset=ISO-8859-1"><p>\x93q\x94</p>')
    assert c == "cp1252" and "“q”" in t
    t, c = dec('<meta charset="shift_jis"><p>日本</p>'.encode("shift_jis"))
    assert c == "cp932" and "日本" in t  # WHATWG: shift_jis label -> windows-31j
    t, c = dec(b"<p>caf\xe9 no meta</p>")
    assert c == "latin-1-fallback" and "café" in t
    t, c = dec(b'<meta charset="no-such-codec"><p>\xe9</p>')
    assert c == "latin-1-fallback"
    # determinism: same bytes -> same text, twice
    raw = '<meta charset="iso-8859-1"><p>r\xe9sum\xe9</p>'.encode("cp1252")
    assert dec(raw) == dec(raw)


def test_charset_utf16_without_bom_sniffed():
    """BOM-less UTF-16 is the trap case: ASCII-heavy UTF-16-LE bytes are
    VALID utf-8 (NUL is a legal codepoint), so the NUL-parity sniff must
    win before the strict utf-8 attempt or the page decodes to
    NUL-riddled garbage labeled 'utf-8'."""
    dec = kernel.decode_html_bytes
    page = "<html><body><h1>Title</h1><p>hello world</p></body></html>"
    t, c = dec(page.encode("utf-16-le"))
    assert (t, c) == (page, "utf-16-le-sniffed")
    t, c = dec(page.encode("utf-16-be"))
    assert (t, c) == (page, "utf-16-be-sniffed")
    # BOM still takes priority over the sniff
    assert dec(page.encode("utf-16"))[1] == "utf-16"
    # sparse NULs in otherwise-normal utf-8 do NOT trip the sniff
    # (parity alternates, so the 4:1 one-sidedness test rejects)
    raw = b"<html><body>ab\x00cd</body></html>" * 40
    assert dec(raw)[1] == "utf-8"
    # tiny inputs (< 8 bytes) never sniff
    assert dec(b"a\x00b\x00")[1] == "utf-8"
    # CJK-heavy utf-16 (few NULs — only sparse markup is ASCII) is now
    # sniffed too (r4: relaxed one-sided floor; was latin-1 mojibake)
    body = "<p>" + "日本語のページ本文記事内容" * 12 + "</p>"
    t, c = dec(body.encode("utf-16-le"))
    assert (t, c) == (body, "utf-16-le-sniffed")
    t, c = dec(body.encode("utf-16-be"))
    assert (t, c) == (body, "utf-16-be-sniffed")
    # U+6700-style code units put NULs on the opposite parity; the 4:1
    # ratio (not a ~0 requirement) still sniffs mixed text
    mixed = "<p>最高の最新記事" * 10 + "</p>"
    assert dec(mixed.encode("utf-16-le"))[1] == "utf-16-le-sniffed"


def test_charset_stray_nul_utf8_not_mojibaked():
    """r4 ADVICE #2: a genuine UTF-8 page with a few ONE-SIDED stray
    NULs in the head (low-NUL regime) strict-decodes as UTF-8 and must
    be preferred as UTF-8 — not mojibake'd whole-page as UTF-16."""
    dec = kernel.decode_html_bytes
    # 12-byte ASCII prefix, then 5 NULs all at even offsets: one-sided
    # (even_nul=5 >= floor 4, odd_nul=0) yet valid strict UTF-8
    raw = b"<p>hello</p>" + b"\x00A" * 5 + b"<p>more body text</p>" * 20
    t, c = dec(raw)
    assert c == "utf-8"
    assert "more body text" in t
    # multibyte UTF-8 with stray one-sided NULs: still utf-8 (the
    # truncated-tail tolerance must not reject real multibyte content)
    raw2 = ("<p>héllo wörld</p>" * 30).encode("utf-8") + b"\x00A" * 5
    assert dec(raw2)[1] == "utf-8"
    # the guard must NOT rescue real ASCII-heavy UTF-16 (high-NUL
    # regime: ~one NUL per char) — still sniffed
    page = "<html><body>plain ascii page body</body></html>"
    assert dec(page.encode("utf-16-le"))[1] == "utf-16-le-sniffed"


def test_charset_cjk_whatwg_superset_mapping():
    """WHATWG CJK label mapping (r4 VERDICT #2): pages labeled with the
    narrow national standard decode via the vendor superset codec, so
    extension characters (①=cp932-only, 镕=GBK-only) survive instead of
    being replace-mangled."""
    dec = kernel.decode_html_bytes
    cases = [
        ("shift_jis", "cp932", "日本語①②テキスト"),
        ("x-sjis", "cp932", "渋谷①"),
        ("gb2312", "gbk", "中文镕测试"),
        ("gbk", "gbk", "中文镕测试"),
        ("euc-kr", "cp949", "한국어 똠방각하"),
        ("big5", "big5hkscs", "繁體中文測試"),
    ]
    for label, codec, body in cases:
        raw = f'<meta charset="{label}"><p>{body}</p>'.encode(codec)
        t, c = dec(raw)
        assert c == codec, (label, c)
        assert body in t, (label, t)
    # a strict-narrow decode of the gb2312-labeled GBK page would mangle
    # 镕 — prove the byte pattern is truly outside the narrow codec
    import pytest
    with pytest.raises(UnicodeEncodeError):
        "镕".encode("gb2312")
    with pytest.raises(UnicodeEncodeError):
        "①".encode("shift_jis")


def test_cjk_page_wrap_golden():
    """cjk_page_for_document round-trips through the kernel: charset
    label = superset codec, text = title + snippet + paragraphs."""
    from powerpoint_context_extractor_spark.corpus import (
        CJK_KINDS, cjk_page_for_document,
    )
    text = ("tok%d " * 45 % tuple(range(45))).strip()
    for doc_id in range(8):
        _label, codec, snippet = CJK_KINDS[doc_id % 4]
        r = extract_document(f"doc://{doc_id}",
                             cjk_page_for_document(doc_id, text))
        assert r.error is None and r.charset == codec
        base = expected_text_for_document(doc_id, text)
        head, _, rest = base.partition("\n\n")
        assert r.text == head + "\n\n" + snippet + ("\n\n" + rest if rest else "")


def test_charset_label_flows_to_result():
    r = extract_document("u", b"\xef\xbb\xbf<h1>T</h1>")
    assert r.charset == "utf-8-bom" and r.text == "# T"
    r = extract_document("u", kernel.render_wdoc([("p", 0, 0, "x")]))
    assert r.charset == "binary"


def test_pdf_incremental_update_newest_wins():
    """Incremental-update chain (r4, PDF 32000 §7.5.6): an appended
    update section re-defines a page's content stream; extraction must
    show the UPDATED text (newest-in-file-order resolution == the
    /Prev-chain semantics), for both plain and Flate content, while
    untouched pages keep their original text."""
    pages = [
        [("h1", 40, 72, "Original title"), ("p", 80, 72, "original body")],
        [("p", 80, 72, "second page untouched")],
    ]
    for compress in (False, True):
        base = kernel.render_pdf_pages(pages, compress=compress)
        r0 = extract_document("u", base)
        assert "original body" in r0.text
        upd = render_pdf_incremental(
            pages, {0: [("h1", 40, 72, "Edited title"),
                        ("p", 80, 72, "edited body v2")]},
            compress=compress)
        # the base file is preserved byte-identical (true append-only)
        assert upd.startswith(base)
        assert upd.count(b"%%EOF") == 2 and b"/Prev" in upd
        r = extract_document("u", upd)
        assert r.error is None
        assert "edited body v2" in r.text and "Edited title" in r.text
        assert "original body" not in r.text
        assert "second page untouched" in r.text


def test_pdf_layout_order_roles_and_escapes():
    """PDF subset parser (reference slides/extractor.py:38-109 analog):
    blocks re-ordered top-down/left-right, font-size -> heading role,
    /F2 -> li, literal-string escapes + octal-encoded UTF-8 decode."""
    payload = kernel.render_pdf([
        ("p", 120, 72, "second  para   collapsed"),
        ("h1", 40, 72, "Report (2024) \\ backslash"),
        ("p", 80, 72, "first para"),
        ("li", 160, 90, "bullet"),
        ("h2", 200, 72, "Köln 北京"),
    ])
    assert payload.startswith(b"%PDF-1.4")
    r = extract_document("u", payload)
    assert r.error is None
    assert r.title == "Report (2024) \\ backslash"
    assert r.text == ("# Report (2024) \\ backslash\n\nfirst para\n\n"
                      "second para collapsed\n\n- bullet\n\n## Köln 北京")
    assert [s["path"] for s in r.spans] == [
        "pdf:pg0:y40:x72", "pdf:pg0:y80:x72", "pdf:pg0:y120:x72",
        "pdf:pg0:y160:x90", "pdf:pg0:y200:x72"]
    for s in r.spans:
        assert r.text[s["start"]:s["end"]]  # span invariant


def test_pdf_repeat_extraction_byte_identical():
    payload = kernel.render_pdf([("h1", 10, 10, "t"), ("p", 20, 10, "x y")])
    a = extract_document("u", payload)
    b = extract_document("u", payload)
    assert a.text == b.text and a.spans == b.spans and a.text == "# t\n\nx y"


def test_pdf_empty_and_textless():
    assert extract_document("u", kernel.render_pdf([])).text == ""
    # a %PDF payload with no parseable text objects extracts empty, not error
    r = extract_document("u", b"%PDF-1.4 whatever")
    assert r.error is None and r.text == ""


def test_pdf_endstream_token_in_text_survives():
    # r3 ADVICE: streams are sliced by /Length, so a literal 'endstream'
    # inside shown text cannot truncate the content stream
    payload = kernel.render_pdf([("p", 40, 72, "before endstream after"),
                                 ("h1", 20, 72, "Title")])
    r = extract_document("u", payload)
    assert r.error is None
    assert r.text == "# Title\n\nbefore endstream after"


def test_pdf_flatedecode_hex_and_multipage():
    pages = [[("h1", 20, 72, "Page one"), ("p", 40, 72, "alpha")],
             [("h2", 20, 72, "Page two"), ("p", 40, 72, "beta")]]
    for compress in (False, True):
        for hexs in (False, True):
            payload = kernel.render_pdf_pages(pages, compress=compress,
                                              hex_strings=hexs)
            r = extract_document("u", payload)
            assert r.error is None, (compress, hexs, r.error)
            assert r.text == "# Page one\n\nalpha\n\n## Page two\n\nbeta"
            assert r.title == "Page one"
    # page order comes from the Kids tree, not byte order of streams
    assert "pg1" in extract_document(
        "u", kernel.render_pdf_pages(pages)).spans[-1]["path"]


def test_pdf15_objstm_xref_stream_layout():
    """PDF 1.5 renderer really writes the modern layout (no classic
    xref table / trailer keyword; ObjStm + XRef stream present) and
    the parser extracts it identically to the classic file."""
    pages = [[("h1", 20, 72, "Modern"), ("p", 40, 72, "endstream bait"),
              ("li", 60, 72, "item")],
             [("h2", 20, 72, "Two"), ("p", 40, 72, "beta")]]
    p15 = kernel.render_pdf_pages(pages, compress=True, objstm=True)
    assert p15.startswith(b"%PDF-1.5")
    assert b"\ntrailer" not in p15 and b"\nxref\n" not in p15
    assert b"/ObjStm" in p15 and b"/XRef" in p15
    r15 = extract_document("u", p15)
    classic = extract_document("u", kernel.render_pdf_pages(pages))
    assert r15.error is None
    assert r15.text == classic.text and r15.spans == classic.spans
    assert r15.title == "Modern"


def test_pdf15_corpus_wrap_matches_expected_text():
    from powerpoint_context_extractor_spark import corpus
    text = " ".join(f"tok{i}" for i in range(45))
    r = extract_document(
        "u", corpus.pdf15_page_for_document(7, text))
    assert r.error is None
    assert r.text == expected_text_for_document(7, text)


def test_pdf_incremental_update_latest_wins():
    """Incrementally-updated PDFs (save-in-place appends a replacement
    object + a new xref with /Prev) must extract the UPDATED content:
    the linear object scan takes the later definition, which is the
    xref-chain winner by construction (appended sections override)."""
    raw = kernel.render_pdf([("p", 40, 72, "original text")]).decode("latin-1")
    nc = "BT /F1 12 Tf 72 752 Td (updated text) Tj ET"
    upd = (f"4 0 obj\n<< /Length {len(nc)} >>\nstream\n{nc}\nendstream"
           f"\nendobj\n")
    patched = (raw + upd + "xref\n0 1\n0000000000 65535 f \ntrailer\n"
               "<< /Size 7 /Root 1 0 R /Prev 9 >>\n"
               f"startxref\n{len(raw)}\n%%EOF\n")
    r = extract_document("u", patched.encode("latin-1"))
    assert r.error is None
    assert r.text == "updated text"


def test_pdf_nested_unescaped_parens():
    import re as _re
    raw = kernel.render_pdf([("p", 40, 72, "placeholder")]).decode("latin-1")
    new = _re.sub(r"\(.*?\) Tj", "(outer (nested) tail) Tj", raw, count=1)
    m = _re.search(r"/Length (\d+) >>\nstream\n(.*?)\nendstream", new, _re.S)
    new = new[:m.start(1)] + str(len(m.group(2))) + new[m.end(1):]
    r = extract_document("u", new.encode("latin-1"))
    assert r.error is None
    assert r.text == "outer (nested) tail"


def test_pdf_indirect_length_ref():
    # /Length as an indirect reference resolves via the second pass
    import re as _re
    raw = kernel.render_pdf([("p", 40, 72, "indirect len")]).decode("latin-1")
    m = _re.search(r"/Length (\d+) >>", raw)
    n = m.group(1)
    patched = (raw[:m.start(1)] + "9 0 R" + raw[m.end(1):]
               + f"9 0 obj\n{n}\nendobj\n")
    r = extract_document("u", patched.encode("latin-1"))
    assert r.error is None
    assert r.text == "indirect len"


def test_pdf_tj_array_and_tm_operators():
    """Hand-written content stream exercising TJ arrays (kerned show)
    and Tm absolute positioning — shapes real writers emit."""
    content = (b"BT /F1 24 Tf 1 0 0 1 72 752 Tm "
               b"[(Hel) -20 (lo) 5 ( wor) (ld)] TJ ET\n"
               b"BT /F1 12 Tf 72 700 Td (body) Tj T* (more) Tj ET")
    pdf = (b"%PDF-1.4\n4 0 obj << /Length " + str(len(content)).encode()
           + b" >>\nstream\n" + content + b"\nendstream endobj\n%%EOF\n")
    r = extract_document("u", pdf)
    assert r.error is None
    assert r.text == "# Hello world\n\nbodymore"


def test_null_content():
    assert extract_document("u", None).error == "null_content"


def test_wdoc_sorts_by_layout_position():
    payload = render_wdoc([
        ("p", 20, 0, "below"),
        ("h1", 0, 0, "Title"),
        ("p", 10, 5, "above right"),
        ("li", 10, 2, "above\tleft"),  # tab escape round-trip
    ])
    r = extract_document("u", payload)
    assert r.error is None
    assert r.text == "# Title\n\n- above left\n\nabove right\n\nbelow"
    assert r.title == "Title"
    # ids follow sorted layout order
    assert [s["block_id"] for s in r.spans] == [0, 1, 2, 3]


def test_wdoc_bad_payload_is_error():
    r = extract_document("u", b"%WDOC1\nnot-a-number\n")
    assert r.error is not None and r.text is None


def test_document_wrap_matches_sql_oracle_mirror():
    rng = random.Random(7)
    for doc_id in range(20):
        n = rng.randrange(0, 70)
        text = " ".join(rng.choice(corpus._WORDS) for _ in range(n)) if n else ""
        page = corpus.page_for_document(doc_id, text)
        r = extract_document(f"doc://{doc_id}", page)
        assert r.error is None
        assert r.text == expected_text_for_document(doc_id, text)
        assert r.title == f"Doc {doc_id}"


def test_span_invariant_on_fixture_corpus():
    for row in corpus.fixture_pages():
        r = extract_document(row["url"], row["html"])
        if r.error is not None:
            assert r.text is None
            continue
        for s in r.spans:
            seg = r.text[s["start"]:s["end"]]
            assert seg and not seg.startswith("\n") and not seg.endswith("\n")
        assert r.n_blocks == len(r.spans)


def test_fixture_corpus_deterministic():
    a = corpus.fixture_pages()
    b = corpus.fixture_pages()
    assert a == b
    assert len(a) == len(corpus.FIXTURE_CLASSES) * 3


def test_link_dense_class_drops_farm():
    rows = [r for r in corpus.fixture_pages()
            if r["url"].startswith("https://fixtures.example/link-dense/")]
    for row in rows:
        r = extract_document(row["url"], row["html"])
        assert "link item" not in r.text   # farm dropped
        assert r.n_blocks >= 1             # plain paragraph kept


def test_kernel_sha256_stability():
    row = corpus.fixture_pages()[0]
    r = extract_document(row["url"], row["html"])
    assert r.sha256() == kernel.KernelResult(**r.__dict__).sha256()


# ---- property-based round-trip (hypothesis is in the environment) ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _ROLES = st.sampled_from(["h1", "h2", "h3", "h4", "h5", "h6", "p", "li"])
    _TEXT = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0, max_size=40)
    _BLOCK = st.tuples(_ROLES, st.integers(0, 700), st.integers(0, 500), _TEXT)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(_BLOCK, max_size=8))
    def test_pdf_roundtrip_properties(blocks):
        """For ANY block list: render_pdf -> extract_pdf never errors,
        every whitespace-collapsed non-empty text survives byte-exact,
        spans reproduce the text, and extraction is deterministic."""
        payload = kernel.render_pdf(blocks)
        r = extract_document("u", payload)
        assert r.error is None
        for _role, _y, _x, text in blocks:
            t = " ".join(text.split())
            if t:
                assert t in r.text
        for s in r.spans:
            assert 0 <= s["start"] <= s["end"] <= len(r.text)
        r2 = extract_document("u", payload)
        assert r2.text == r.text and r2.spans == r.spans

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.lists(_BLOCK, max_size=5), min_size=1, max_size=4),
           st.booleans(), st.booleans(), st.booleans())
    def test_pdf_multipage_roundtrip_properties(pages, compress, hexs,
                                                objstm):
        """Multi-page + FlateDecode + hex-string + PDF 1.5 (ObjStm +
        xref-stream) variants of the PDF round-trip: page order is
        preserved (page index majorizes the layout sort) and the
        feature flags never change extracted text."""
        payload = kernel.render_pdf_pages(pages, compress=compress,
                                          hex_strings=hexs, objstm=objstm)
        r = extract_document("u", payload)
        assert r.error is None
        for blocks in pages:
            for _role, _y, _x, text in blocks:
                t = " ".join(text.split())
                if t:
                    assert t in r.text
        plain = extract_document(
            "u", kernel.render_pdf_pages(pages))
        assert r.text == plain.text and r.spans == plain.spans

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.lists(_BLOCK, min_size=1, max_size=4),
                    min_size=1, max_size=3),
           st.lists(_BLOCK, min_size=1, max_size=4),
           st.integers(0, 2), st.booleans())
    def test_pdf_incremental_roundtrip_properties(pages, new_blocks,
                                                  upd_idx, compress):
        """Incremental-update axis (r4): for ANY base document and ANY
        replacement page content appended as an update section, the
        updated page shows ONLY the new text, untouched pages keep
        theirs, and extraction never errors."""
        idx = upd_idx % len(pages)
        payload = render_pdf_incremental(pages, {idx: new_blocks},
                                                compress=compress)
        r = extract_document("u", payload)
        assert r.error is None
        for _role, _y, _x, text in new_blocks:
            t = " ".join(text.split())
            if t:
                assert t in r.text
        for pi, blocks in enumerate(pages):
            if pi == idx:
                continue
            for _role, _y, _x, text in blocks:
                t = " ".join(text.split())
                if t:
                    assert t in r.text

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(_ROLES, st.integers(0, 1000),
                              st.integers(0, 1000), _TEXT), max_size=8))
    def test_wdoc_roundtrip_properties(blocks):
        payload = render_wdoc(
            [(role, y, x, t) for role, y, x, t in blocks])
        r = extract_document("u", payload)
        assert r.error is None
        for _role, _y, _x, text in blocks:
            t = " ".join(text.split())
            if t:
                assert t in r.text
        assert extract_document("u", payload).text == r.text


# ---- fast-engine differential contract: the fast tokenizer must be
# byte-identical to the stdlib html.parser reference engine ----

# Drop subtrees for kernel._skip_dropped, each with the index it must
# return: the end of the subtree where the body proves where the loop
# closes the frame, else -1. Each line is a shape on which a skip that
# searched for '</name>' or counted '<name' prefixes would go wrong.
_SKIP_CASES = [
    ('<nav><a href="/">x</a></NAV>', -1),
    ("<nav>x</nav >", -1),
    ("<nav>x</nav x>", -1),
    ("<nav>a<navx>b</nav>", -1),                 # </nav> closes navx too
    ("<nav><navx>b</navx></nav>", 25),
    ('<nav><a title="</nav>">x</a></nav>', 34),
    ("<nav><nav>x</nav>y</nav>", 24),
    ('<div class="ad"><div>x</div>', -1),         # ad div never closes
    ('<div class="ad"><div class="inner">x</div></div>', 48),
    ("<footer><script>w('</footer>')</script>f</footer>", 49),
    ("<footer><style>a{}</STYLE >b</footer>", 37),
    ("<footer><script>w('</footer>')</footer>", -1),  # script never closes
    ("<nav>x</body></nav>", -1),                 # pops frames outside
    ("<aside><p>x</main>y</p></aside>", -1),
    ("<nav><!-- </nav> --></nav>", -1),
    ("<nav>a < b</nav>", -1),
    ("<nav><A href='/'>x</A></nav>", -1),
    ("<nav><a href=/>x</a></nav>", -1),
    ('<nav><a href="/?a=1&b=2">x</a></nav>', -1),
    ("<nav><br><img src='x'/><p/>x<hr></nav>", 38),
]

_SOUP_CASES = [
    "", "<", "<p", "<p ", "<p class", '<p class="x', "x<", "a < b", "a <3 b",
    "<>", "</>", "</ >", "</ p>", "</p junk>", "</p", "<!", "<!-", "<!--",
    "<!-- x", "<!-- x --><p>a</p>", "<!DOCTYPE html><p>a</p>", "<?php ?><p>a",
    "<p/>text", "<div/>text", "<p//>x", "<p attr=x/>y", "<p / >x</p>",
    "<p>&amp</p>", "<p>&nosuch;</p>", "<p>&#65;&#x42;</p>", "<p>&ampx</p>",
    "<P CLASS='NAV'>x</P>", "<p class=bare>x</p>", "<p class = 'x'>y</p>",
    '<a href="x?a>b">t</a><p>q</p>', "<p a='1'b='2'>x</p>",
    "<script>if(a<b){}</script><p>x</p>", "<script><p>no</p></script><p>y</p>",
    "<script>unterminated", "<script >x</script ><p>k</p>",
    "<style>p>div{}</style><p>s</p>",
    "<p>one<p>two", "<h1>T</h1></div></div><p>x", "<li>a</li></ul><li>b",
    "<pre>a<b>c</b>d</pre>", "<div class='ad'>drop</div><p>keep</p>",
    "<p title='a>b'>text</p>", "<p foo=>x</p>", "<p =bad>x</p>", "<p 'q'>x</p>",
    "</closes nothing><p>x</p>", "<p>end with entity &am",
    # CDATA-mode end-tag soup (r3 ADVICE: junk end tags must stay in CDATA)
    "<script>x</script foo>bar<p>keep</p>",
    "<style>a{}</style junk>leak<p>ok</p>",
    "<script>x</scriptx>bar</script><p>keep</p>",
    "<script>x</script notgt", "<script>x</script", "<script>x</scr",
    "<script>a</ script>b</script><p>z</p>",
    "<script>a</SCRIPT  >c<p>z</p>",
    "<script>a</script x>b</script y>c</script><p>tail</p>",
    "<style>a</style >b</style><p>nbsp</p>",
    "<script>a</script<b</script><p>lt</p>",
    # the leaf-element and simple-attribute steps: whitespace and content
    "<p>a  b</p>", "<li>  x </li>", "<p>\tx\n</p>", "<p>a\xa0b</p>",
    "<p>x\x01y</p>", "<pre>  k  </pre>", "<p></p>", "<p> </p>",
    # tag-name case, attributes, void and raw-text tags, nesting
    "<P>x</P>", "<P>x</p>", '<a href="/">Home</a>', '<p class="share">x</p>',
    '<p title="a&amp;b">t</p>', '<p title="x>y">t</p>', "<br>x</br>",
    "<title>x</title>", "<script>x</script>", "<div>text</div>",
    '<li><a href="x">all link</a></li>',
    # a charref that decodes to nothing opens no block
    "<div>&#1;</div><p>x</p>", "&#1;<p>x</p>", "<p>a</p><b>&#1;</b><p>x</p>",
] + [f"<body><main><p>a</p>{h}<p>b</p></main><p>c</p></body>"
     for h, _ in _SKIP_CASES]


def _both(t):
    return kernel.extract_html("u", t), extract_html_reference("u", t)


def test_fast_engine_matches_stdlib_on_adversarial_cases():
    for t in _SOUP_CASES:
        a, b = _both(t)
        assert (a.text, a.title, a.spans, a.n_blocks) == \
               (b.text, b.title, b.spans, b.n_blocks), repr(t)


def test_fast_engine_matches_stdlib_on_fixture_corpus():
    for row in corpus.fixture_pages():
        if row["html"].startswith(b"%"):
            continue
        try:
            t = row["html"].decode("utf-8")
        except UnicodeDecodeError:
            continue
        a, b = _both(t)
        assert (a.text, a.title, a.spans, a.n_blocks) == \
               (b.text, b.title, b.spans, b.n_blocks), row["url"]


def test_fast_engine_matches_stdlib_on_bulk_pages():
    # small pages, and the benchmark's page shape (perfbench cc_mixed)
    for min_paras, max_paras in ((1, 6), (10, 60)):
        for row in generate_pages_rows(400, min_paras=min_paras,
                                              max_paras=max_paras):
            if row["html"].startswith(b"%"):
                continue
            t, _cs = kernel.decode_html_bytes(row["html"])
            a, b = _both(t)
            assert (a.text, a.title, a.spans, a.n_blocks) == \
                   (b.text, b.title, b.spans, b.n_blocks), row["url"]


if _HYP:
    _FRAG = st.one_of(
        st.text(alphabet="<>/!?&;#= \n\t'\"-abcpdilh123%", max_size=12),
        st.sampled_from([
            "<p>", "</p>", "<div class='ad'>", "</div>", "<h1>", "</h1>",
            "<li>", "<a href='x'>", "</a>", "&amp;", "&#65;", "&nosuch;",
            "<script>", "</script>", "<pre>", "</pre>", "<!--", "-->",
            "<br/>", "<p/>", "text words here", "<nav>", "</nav>",
            # r4 widened: comment/marked-section close forms + fragments
            "<!-- >", "--  >", "<![CDATA[", "]]>", "<![if !IE]>",
            "<![endif]>", "] ] >", "<?php ", "?>", "</", "<!", "--!>",
            "<!doctype html>", "<b", ">", "< ", "&#x41;", "&amp", ";",
            "<main>", "</main>", "\n", "x<y>z",
            # r4 second widening (20k-example sweep was clean): rawtext
            # elements, attribute quirks, charref overflow/surrogates
            "<textarea>", "</textarea>", "<title>", "</title>",
            "<p class=unquoted>", "<p class='>x'>", "<p a==b>",
            "&#1114112;", "&#xD800;", "<P>", "</SCRIPT>", "<3", "<-p>",
            # leaf elements and simple attributes, whole and in pieces
            "<p>a  b</p>", "<li>  x </li>", "<p>\tx\n</p>", "<p>a\xa0b</p>",
            "<p>x\x01y</p>", "<pre>  k  </pre>", "<p></p>", "<p> </p>",
            "<P>x</P>", "<P>x</p>", '<a href="/">Home</a>',
            '<p class="share">x</p>', '<p title="a&amp;b">t</p>',
            '<p title="x>y">t</p>', "<br>x</br>", "<title>x</title>",
            "<script>x</script>", "<div>text</div>",
            '<li><a href="x">all link</a></li>', "&#1;", "<b>", "</b>",
            "<p class='a' id=\"b\" hidden/>",
            # the dropped-subtree skip: close forms, look-alike names,
            # markup in attribute values and raw text, outer end tags
            "</NAV>", "</nav >", "</nav x>", "<navx>", "</navx>",
            '<a title="</nav>">', "<div class=\"ad\"><div>",
            "<footer><script>w('</footer>')</script>", "</footer>",
            "<footer>", "<aside class='sidebar'>", "</aside>", "</body>",
            "<div class='ad-slot'><div class='inner'>x</div></div>"]))

    @settings(max_examples=400, deadline=None)
    @given(st.lists(_FRAG, max_size=25).map("".join))
    def test_fast_engine_matches_stdlib_fuzz(t):
        a, b = _both(t)
        assert (a.text, a.title, a.spans, a.n_blocks) == \
               (b.text, b.title, b.spans, b.n_blocks), repr(t)


def test_skip_dropped_proves_or_refuses():
    """The five boilerplate regions of every cc_mixed page are skipped
    whole; each hazard returns -1 or the exact end of its subtree."""
    regions = [m.group() for m in re.finditer(
        r"<(nav|header|div|aside|footer)\b.*?</\1>",
        corpus._BOILER + corpus._FOOTER)]
    assert len(regions) == 5
    cases = [(r, len(r)) for r in regions] + _SKIP_CASES
    for html, want in cases:
        tag = re.match(r"<([a-z]+)", html).group(1)
        assert kernel._skip_dropped(html, html.index(">") + 1, tag) == want, \
            html
        if want > 0:
            assert html.endswith(f"</{tag}>"), html


def test_fast_engine_matches_stdlib_on_cms_pages(monkeypatch):
    """CMS-shaped pages: the skip takes every dropped region (head,
    header, ad slot, sidebar, footer) and the output stays the
    reference's."""
    seen = []
    skip = kernel._skip_dropped

    def spy(s, pos, tag):
        q = skip(s, pos, tag)
        seen.append((tag, q))
        return q

    monkeypatch.setattr(kernel, "_skip_dropped", spy)
    for i in range(30):
        t = cms_page(i, seed=7)
        a, b = _both(t)
        assert (a.text, a.title, a.spans, a.n_blocks) == \
               (b.text, b.title, b.spans, b.n_blocks), i
        assert a.n_blocks > 10
    assert sorted({tag for tag, _ in seen}) == \
        ["aside", "div", "footer", "head", "header"]
    assert len(seen) == 5 * 30 and all(q > 0 for _, q in seen)


def test_dropped_subtree_skip_stays_linear(monkeypatch):
    """Hostile pages that open a drop frame and close it through an outer
    end tag, 4x longer, cost at most 6x the CPU (linear is 4x), and no
    regex is compiled while they run (none keyed by tag name)."""
    compiled = []
    compile_ = re._compile
    monkeypatch.setattr(re, "_compile",
                        lambda *a: compiled.append(a) or compile_(*a))

    def cpu(page):
        # the collector's passes cost what the rest of the process holds;
        # this thread's CPU only, not the Spark session's driver threads
        gc.collect()
        gc.disable()
        try:
            t = time.thread_time()
            kernel.extract_html("u", page)
            return time.thread_time() - t
        finally:
            gc.enable()

    for make in (lambda n: "<div><nav>x</div>" * n,
                 lambda n: "".join(f'<b><x{i} class="ad">y</b>'
                                   for i in range(n))):
        pages = make(3000), make(12000)
        # interleaved minimums, so a burst of host load hits both sizes
        small, large = map(min, zip(*([cpu(p) for p in pages]
                                      for _ in range(5))))
        assert large <= 6 * small, (small, large)
    assert compiled == []


def test_fast_engine_comment_close_matches_stdlib():
    """Deterministic pin of the r4 hypothesis catch: html.parser closes
    comments on the REGEX '--\\s*>' (whitespace allowed before '>'), so
    '<!--<!-- >' is a complete comment, while '--!>' and an absent
    terminator take the bogus-data path — the fast engine must agree on
    every form."""
    cases = ["<!--<!-- >", "<!--x > y", "<!--x --  > y", "<!--a--!>b",
             "<!--a--!b-->c", "<!-- -- >", "<!--a<p>b", "<!--",
             "<!--ok--><p>x</p>",
             # marked sections (parse_marked_section parity): CDATA
             # closes on ']\s*]\s*>', MS conditionals on ']\s*>',
             # unterminated takes the bogus-data path
             "<![CDATA[<li>x]]>y", "<![CDATA[x ] ] >y",
             "<![CDATA[never closed <p>x", "<![CDATA[",
             "<![if !IE]>x<![endif]>y"]
    for t in cases:
        a, b = _both(t)
        assert (a.text, a.title, a.spans, a.n_blocks) == \
               (b.text, b.title, b.spans, b.n_blocks), repr(t)


def test_extract_document_never_raises_on_garbage():
    """Fuzz the dispatch: arbitrary byte soup (incl. truncated magics,
    NULs, high bytes) must produce a KernelResult, never an exception —
    the log-and-continue contract (F6) at the outermost boundary."""
    import random
    rng = random.Random(1234)
    payloads = [
        b"", b"\x00" * 64, bytes(range(256)),
        b"%PDF-1.4\n garbage \xff\xfe\x00",
        b"%PDF", b"%WDOC1\n", b"%WDOC1\n2\n\xff\xff",
        b"\x1f\x8b\x08\x00junk", b"\xff\xfe", b"\xef\xbb\xbf",
    ] + [bytes(rng.randrange(256) for _ in range(rng.randrange(1, 400)))
         for _ in range(300)]
    for p in payloads:
        r = extract_document("u", p)
        assert r is not None and r.url == "u"
        assert (r.text is None) == (r.error is not None) or r.text is not None
