"""Deterministic synthetic page corpus (the fixture/oracle author).

The reference ships zero tests (SURVEY.md §5), so the corpus is ours: a
seeded generator that emits Common-Crawl-shaped pages matching
BASELINE.json's ``input_hint`` schema
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Two generation modes:

1. ``page_for_document(doc_id, text)`` — the *analytically invertible*
   wrap used by the flagship query: a documents-table row becomes a page
   whose extracted output is a pure SQL-expressible function of the
   input text (title ``# Doc {id}`` + 20-token paragraphs). This is what
   lets DuckDB act as an oracle for the real extraction kernel.
2. ``fixture_pages()`` / ``page_row()`` — edge-case fixture classes
   (FIXTURES.md §1) and the bulk skewed corpus for bench runs.

Everything is seeded; no wall clock, no global RNG.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from .kernel import WDOC_MAGIC, render_pdf, render_pdf_pages, render_wdoc

__all__ = [
    "PARA_TOKENS",
    "page_for_document",
    "CJK_KINDS",
    "cjk_page_for_document",
    "fixture_pages",
    "FIXTURE_CLASSES",
    "EPOCH",
]

PARA_TOKENS = 20  # tokens per generated <p> paragraph (frozen: oracle depends on it)
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "spark shuffle parquet arrow batch vector column filter join scan "
    "window stream state commit snapshot lineage partition salt skew "
    "broadcast codegen pushdown prune catalyst tungsten executor driver "
    "query plan stage task row block span offset token corpus page"
).split()

_LANGS = ["en", "es", "zh", "de", "fr"]

_BOILER = (
    '<nav class="nav"><a href="/">Home</a><a href="/a">About</a>'
    "<a href=\"/c\">Contact</a></nav>"
    '<header id="site-header"><h1>Site Title Boilerplate</h1></header>'
    '<div class="ad banner">Buy now! <a href="/buy">50% off everything</a></div>'
)
_FOOTER = (
    '<aside class="related"><ul><li><a href="/r1">Related one</a></li>'
    '<li><a href="/r2">Related two</a></li></ul></aside>'
    '<footer class="footer">© 2024 Example — <a href="/tos">Terms</a></footer>'
)


def _chunks(tokens, n):
    for i in range(0, len(tokens), n):
        yield tokens[i:i + n]


# ---------------------------------------------------------------------------
# 1. invertible wrap of a documents-table row (flagship oracle path)
# ---------------------------------------------------------------------------

def page_for_document(doc_id: int, text: str) -> bytes:
    """Wrap a testdata ``documents`` row into a full page. The kernel's
    output over this page is exactly ``# Doc {doc_id}`` plus the text in
    ``PARA_TOKENS``-token paragraphs — reconstructible in ANSI SQL, which is what makes the flagship
    extraction query DuckDB-oracle-able."""
    tokens = text.split(" ") if text else []
    paras = "".join(
        f"<p>{' '.join(c)}</p>" for c in _chunks(tokens, PARA_TOKENS)
    )
    html = (
        "<html><body>"
        f"{_BOILER}"
        f"<main><article><h1>Doc {doc_id}</h1>{paras}</article></main>"
        f"{_FOOTER}"
        "</body></html>"
    )
    return html.encode("utf-8")


def pdf_page_for_document(doc_id: int, text: str) -> bytes:
    """PDF twin of ``page_for_document``: the same invertible wrap
    rendered as a real PDF payload (title at the top, one text block
    per 20-token paragraph down the page), so the PDF layout parser is
    exercised under the SAME SQL oracle as the HTML path."""
    tokens = text.split(" ") if text else []
    blocks = [("h1", 40, 72, f"Doc {doc_id}")]
    for i, c in enumerate(_chunks(tokens, PARA_TOKENS)):
        blocks.append(("p", 80 + 40 * i, 72, " ".join(c)))
    return render_pdf(blocks)


def pdf15_page_for_document(doc_id: int, text: str) -> bytes:
    """PDF 1.5 twin of ``pdf_page_for_document``: identical blocks
    rendered with object streams + a cross-reference stream and
    FlateDecode content (the modern-producer layout), so the ObjStm
    unpacking path sits under the SAME SQL oracle as the classic PDF
    and HTML flagship paths."""
    tokens = text.split(" ") if text else []
    blocks = [("h1", 40, 72, f"Doc {doc_id}")]
    for i, c in enumerate(_chunks(tokens, PARA_TOKENS)):
        blocks.append(("p", 80 + 40 * i, 72, " ".join(c)))
    return render_pdf_pages([blocks], compress=True, objstm=True)


# CJK charset contract (r4): doc_id % 4 picks (meta label, encode codec,
# injected snippet). Frozen — the DuckDB oracle mirrors labels and
# snippets as literals. Each snippet for a label whose WHATWG decoder is
# a strict superset of the labeled standard carries an extension-only
# character (①② are cp932-not-shift_jis; 镕 is GBK-not-GB2312), so a
# narrow-codec decode would replace-mangle it and fail the md5 check.
CJK_KINDS = (
    ("shift_jis", "cp932", "日本語のテキスト①②です。東京都渋谷区の記事本文。"),
    ("gb2312", "gbk", "中文文本镕测试内容。北京市海淀区的正文段落。"),
    ("euc-kr", "cp949", "한국어 똠방각하 텍스트입니다. 서울특별시 본문 단락."),
    ("big5", "big5hkscs", "繁體中文測試文字內容。台北市的正文段落。"),
)


def cjk_page_for_document(doc_id: int, text: str) -> bytes:
    """CJK twin of ``page_for_document``: the same invertible wrap with
    (a) a ``<meta charset>`` label from the legacy CJK family chosen by
    doc_id % 4 and (b) a kept first paragraph of CJK text containing a
    superset-extension character, the whole page encoded in the WHATWG
    superset codec. Expected output = ``# Doc {id}`` + CJK snippet +
    the 20-token paragraphs — still a pure SQL expression."""
    label, codec, snippet = CJK_KINDS[doc_id % 4]
    tokens = text.split(" ") if text else []
    paras = "".join(
        f"<p>{' '.join(c)}</p>" for c in _chunks(tokens, PARA_TOKENS)
    )
    html = (
        f'<html><head><meta charset="{label}"></head><body>'
        f"{_BOILER}"
        f"<main><article><h1>Doc {doc_id}</h1><p>{snippet}</p>{paras}"
        f"</article></main>"
        f"{_FOOTER}"
        "</body></html>"
    )
    # xmlcharrefreplace: chars outside the target charset (the footer's
    # ©) are emitted as numeric character references, exactly what real
    # legacy-charset pages do; the kernel's entity decoder handles them.
    return html.encode(codec, errors="xmlcharrefreplace")


# ---------------------------------------------------------------------------
# 2. fixture classes (FIXTURES.md §1) — edge cases, golden-tested
# ---------------------------------------------------------------------------

FIXTURE_CLASSES = [
    "plain", "nested-inline", "entities", "link-dense", "table-layout",
    "empty-main", "title-only", "multilang", "binary-payload",
    "pdf-payload", "malformed", "duplicate-url-content", "legacy-charset",
    "cjk-charset",  # r4: appended (index-based seeds keep earlier classes byte-stable)
]


def _page_shell(main: str) -> str:
    return f"<html><body>{_BOILER}<main>{main}</main>{_FOOTER}</body></html>"


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _fixture_html(cls: str, rng: random.Random) -> bytes:
    if cls == "plain":
        main = (f"<h1>{_sentence(rng, 4)}</h1>"
                + "".join(f"<p>{_sentence(rng, 18)}</p>" for _ in range(4)))
    elif cls == "nested-inline":
        main = (f"<h1>Inline {_sentence(rng, 3)}</h1>"
                f"<p>Start <b>bold {rng.choice(_WORDS)}</b> mid "
                f"<i>ital <a href='/x'>tiny link</a></i> "
                f"and <code>x&lt;1</code> end {_sentence(rng, 12)}.</p>")
    elif cls == "entities":
        main = ("<h2>Entities &amp; refs</h2>"
                "<p>fish &amp; chips &lt;tag&gt; &#65;&#x42;C "
                "caf&eacute; &nosuch; done</p>")
    elif cls == "link-dense":
        # must be dropped: every block is nearly all link text
        farm = "".join(f"<li><a href='/l{i}'>link item {i}</a></li>" for i in range(8))
        main = (f"<ul>{farm}</ul>"
                f"<p><a href='/big'>{_sentence(rng, 10)}</a> ok</p>"
                f"<p>{_sentence(rng, 16)}</p>")
    elif cls == "table-layout":
        rows = "".join(
            f"<tr><td>{_sentence(rng, 6)}</td><td>{rng.randrange(100)}</td></tr>"
            for _ in range(3))
        main = f"<h3>Table {rng.choice(_WORDS)}</h3><table>{rows}</table>"
    elif cls == "empty-main":
        main = "<p>   </p><div></div>"
    elif cls == "title-only":
        main = f"<h1>{_sentence(rng, 5)}</h1>"
    elif cls == "multilang":
        main = ("<h1>Köln – 北京 – Москва</h1>"
                f"<p>Übergröße straße naïve façade 你好世界 {_sentence(rng, 8)}</p>")
    elif cls == "binary-payload":
        blocks = [("h1", 0, 0, f"WDOC title {rng.choice(_WORDS)}"),
                  ("p", 20, 0, _sentence(rng, 15)),
                  ("p", 10, 5, _sentence(rng, 12)),  # sorts before y=20
                  ("li", 30, 0, f"point {rng.choice(_WORDS)}")]
        return render_wdoc(blocks)
    elif cls == "pdf-payload":
        return render_pdf([
            ("h1", 40, 72, f"PDF title {rng.choice(_WORDS)}"),
            ("p", 120, 72, _sentence(rng, 15)),
            ("p", 80, 72, _sentence(rng, 12)),   # higher on page: sorts first
            ("li", 160, 90, f"pdf point ({rng.choice(_WORDS)})"),
            ("h2", 200, 72, f"Köln §{rng.randrange(100)}"),  # octal-escape path
        ])
    elif cls == "malformed":
        main = (f"<h1>Broken {rng.choice(_WORDS)}</h1></div></div>"
                f"<p>unclosed para {_sentence(rng, 10)}"
                f"<p>next &badent; one</i>{_sentence(rng, 6)}")
    elif cls == "duplicate-url-content":
        main = f"<h1>Duplicate body</h1><p>{' '.join(_WORDS[:15])}</p>"
    elif cls == "legacy-charset":
        return _legacy_charset_html(rng)
    elif cls == "cjk-charset":
        return _cjk_charset_html(rng)
    else:  # pragma: no cover
        raise ValueError(cls)
    return _page_shell(main).encode("utf-8")


_LEGACY_KINDS = ("cp1252-meta", "utf-16", "utf-8-bom")


def _legacy_charset_html(rng: random.Random, kind: str | None = None) -> bytes:
    """Non-UTF-8 page variants (several percent of any real web corpus):
    cp1252 bytes with a <meta charset> declaration, a UTF-16 page with
    BOM, and a UTF-8 page with BOM. The cp1252 body carries curly
    quotes/é (bytes invalid as UTF-8, forcing the sniff path)."""
    kind = kind or rng.choice(_LEGACY_KINDS)
    title = f"Legacy {rng.choice(_WORDS)}"
    body = _sentence(rng, 14)
    if kind == "cp1252-meta":
        html = (f"<html><head><meta charset=\"iso-8859-1\"></head><body>"
                f"{_BOILER}<main><h1>{title} café</h1>"
                f"<p>“{body}” — résumé</p></main>"
                f"{_FOOTER}</body></html>")
        return html.encode("cp1252")
    if kind == "utf-16":
        html = _page_shell(f"<h1>{title}</h1><p>{body}</p>")
        return html.encode("utf-16")      # LE with BOM
    html = _page_shell(f"<h1>{title}</h1><p>{body}</p>")
    return b"\xef\xbb\xbf" + html.encode("utf-8")


def _cjk_charset_html(rng: random.Random, kind: int | None = None) -> bytes:
    """Legacy CJK page (r4): meta-labeled with the narrow national
    standard, encoded in the WHATWG superset codec, body mixing the
    frozen CJK snippet (superset-extension chars included) with ASCII
    filler — the page class a real CC crawl is full of."""
    kind = rng.randrange(len(CJK_KINDS)) if kind is None else kind
    label, codec, snippet = CJK_KINDS[kind % len(CJK_KINDS)]
    title = f"CJK {rng.choice(_WORDS)}"
    filler = _sentence(rng, 12)
    html = (f'<html><head><meta charset="{label}"></head><body>'
            f"{_BOILER}<main><h1>{title}</h1>"
            f"<p>{snippet}</p><p>{filler}</p></main>"
            f"{_FOOTER}</body></html>")
    return html.encode(codec, errors="xmlcharrefreplace")


def fixture_pages():
    """Yield dict rows (url, warc_ts, html, text, lang): three per
    fixture class, each from a fixed seed."""
    rows = []
    i = 0
    for ci, cls in enumerate(FIXTURE_CLASSES):
        for k in range(3):
            # NB: index-based seed — Python's str hash is process-randomized
            rng = random.Random((42 << 20) ^ (ci << 8) ^ k)
            if cls == "duplicate-url-content":
                rng = random.Random(42)  # same content every time
            if cls == "legacy-charset":
                # one fixture per encoding kind, round-robin over k
                html = _legacy_charset_html(rng, kind=_LEGACY_KINDS[k % 3])
            elif cls == "cjk-charset":
                html = _cjk_charset_html(rng, kind=k)
            else:
                html = _fixture_html(cls, rng)
            if cls == "malformed" and k == 0:
                # guaranteed error row (F6 / J2 fallback path): corrupt
                # WDOC header. (Was invalid-utf-8 HTML until r3 — HTML
                # decode is now total via charset sniff + latin-1.)
                html = WDOC_MAGIC + b"notanumber\n"
            rows.append({
                "url": f"https://fixtures.example/{cls}/{k}",
                "warc_ts": EPOCH + timedelta(seconds=i),
                "html": html,
                "text": f"fallback text for {cls}/{k}",
                "lang": _LANGS[i % len(_LANGS)],
            })
            i += 1
    return rows


# ---------------------------------------------------------------------------
# 3. bulk corpus for bench — Zipf-skewed hosts (one hot host ~30% of rows)
# ---------------------------------------------------------------------------

def page_row(i: int, seed: int = 42, n_hosts: int = 50,
             min_paras: int = 2, max_paras: int = 8) -> dict:
    """One deterministic page row — pure function of (i, seed, params),
    so generation distributes over Spark partitions (sources/pagegen.py)."""
    rng = random.Random((seed << 34) ^ i)
    r = rng.random()
    host = 0 if r < 0.30 else 1 + rng.randrange(n_hosts - 1)
    lang = _LANGS[host % len(_LANGS)]
    url = f"https://host{host}.example/p/{i}"
    kind = rng.random()
    if kind < 0.05:
        html = render_wdoc([
            ("h1", 0, 0, f"WDOC {i}"),
            ("p", 10, 0, _sentence(rng, PARA_TOKENS)),
            ("p", 20, 0, _sentence(rng, PARA_TOKENS)),
        ])
    elif kind < 0.08:
        html = render_pdf([
            ("h1", 40, 72, f"PDF {i}"),
            ("p", 80, 72, _sentence(rng, PARA_TOKENS)),
            ("p", 120, 72, _sentence(rng, PARA_TOKENS)),
        ])
    elif kind < 0.10:
        html = (f"<h1>Broken {i}</h1></div><p>{_sentence(rng, 10)}"
                f"<p>{_sentence(rng, 8)}</i>").encode("utf-8")
    elif kind < 0.13:
        # ~3% legacy-encoding pages (real CC corpora are several % non-
        # UTF-8) — exercises the charset sniff in every bulk/bench run
        html = _legacy_charset_html(rng)
    else:
        n_paras = min_paras + rng.randrange(max_paras - min_paras + 1)
        main = (f"<h1>Page {i} {rng.choice(_WORDS)}</h1>" + "".join(
            f"<p>{_sentence(rng, PARA_TOKENS)}</p>" for _ in range(n_paras)))
        html = _page_shell(main).encode("utf-8")
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(seconds=i % 86400, days=i % 30),
        "html": html,
        "text": _sentence(rng, 8),
        "lang": lang,
    }
