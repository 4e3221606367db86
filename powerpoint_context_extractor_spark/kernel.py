"""Pure-Python main-content extraction kernel (no Spark imports).

This is the generalization of the reference's per-document extraction
dataflow (adbertram/powerpoint_context_extractor): where the reference
opens a PPTX container and walks each slide's XML tree in document order
(`pptx_extractor/notes/extractor.py:29-106`,
`pptx_extractor/animations/extractor.py:37-231`), this kernel walks an
HTML DOM event stream in document order with **stable block IDs** (the
slide-number / shape-order analog, reference `pptx_extract.py:249`,
`notes/extractor.py:151`) and emits deterministic extracted text plus
character-span offsets per block.

Design contract (frozen; golden fixtures under tests/fixtures/ pin it):

* Input is raw bytes. ``%WDOC1`` magic routes to the simple layout
  parser; ``%PDF`` routes to the pdfminer-style PDF-subset layout
  parser (both are the analog of the reference's PPTX->PDF->image
  binary path, `slides/extractor.py:38-109`, re-expressed as
  in-process parses — never a subprocess per row). Everything else is
  decoded (``decode_html_bytes``) and walked by ``_fast_extract``, a
  hand-written tolerant scanner that agrees with the stdlib
  ``html.parser`` on every input (tests/html_reference.py is that
  oracle). At each ``<`` plus a letter it takes one of three steps: a
  leaf element ``<name attrs>text</name>`` in one regex match, a start
  tag with simple attributes in one match, or the general port of
  html.parser's start-tag parse. A start tag that opens a dropped
  subtree first tries ``_skip_dropped``, which jumps past the whole
  subtree in one regex match when its body is well-nested simple markup
  (where the loop would only push and pop drop frames); any other body
  takes the tag-by-tag loop, which stays the reference.
* Traversal is strictly document order; every candidate block gets a
  monotonically increasing ``block_id`` whether or not it is kept, so
  IDs are stable under classification-rule changes.
* Whitespace rule: within a non-``pre`` block, all runs of whitespace
  collapse to a single space and ends are stripped. ``pre`` keeps inner
  whitespace verbatim and strips only the outer ends.
* Char counts for link-density use **non-whitespace** characters only,
  and classification uses integer arithmetic (no floats) so results are
  bit-stable across platforms:
    - headings (h1..h6): keep if non-empty
    - li:  keep if 2*link_chars <= total_chars
    - else: keep if 3*link_chars <= total_chars
* Rendering (the markdown re-assembly spec, analog of
  `utils/common.py:83-120`): h1->'# ', h2->'## ', ... h6->'###### ',
  li->'- ', everything else bare; kept blocks joined with '\n\n'.
* ``title`` = text of the first kept heading in document order (top-1
  in document order, analog of `utils/common.py:66-81`).
* Errors never raise: the kernel returns an ``error`` string and null
  text (analog of the reference's log-and-continue policy,
  `notes/extractor.py:112-116`).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from dataclasses import dataclass
from html import unescape as _unescape

__all__ = [
    "extract_document",
    "extract_html",
    "decode_html_bytes",
    "extract_wdoc",
    "extract_pdf",
    "render_wdoc",
    "render_pdf",
    "render_pdf_pages",
    "KernelResult",
    "WDOC_MAGIC",
    "PDF_MAGIC",
]

WDOC_MAGIC = b"%WDOC1\n"
PDF_MAGIC = b"%PDF"

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
BLOCK_TAGS = HEADING_TAGS | {
    "p", "li", "pre", "blockquote", "td", "th", "dt", "dd", "figcaption", "caption",
}
# Structural containers: they never hold rendered text themselves; text found
# directly inside them forms an "anonymous" block.
STRUCT_TAGS = {
    "html", "body", "div", "section", "article", "main", "ul", "ol", "table",
    "tbody", "thead", "tfoot", "tr", "dl", "figure", "details", "summary",
}
# Entire subtrees dropped: no blocks, no text, no ids.
DROP_TAGS = {
    "script", "style", "noscript", "svg", "head", "nav", "header", "footer",
    "aside", "form", "button", "select", "option", "iframe", "template",
    "object", "title",
}
VOID_TAGS = {
    "br", "img", "hr", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr", "param",
}
# class/id tokens that mark boilerplate containers (Boilerpipe-style blacklist)
BOILER_TOKENS = {
    "nav", "menu", "sidebar", "footer", "header", "ad", "ads", "advert",
    "advertisement", "banner", "promo", "share", "social", "comment",
    "comments", "related", "breadcrumb", "breadcrumbs", "pagination",
    "widget", "cookie", "popup", "subscribe", "newsletter", "linkfarm",
}

_PREFIX = {"h1": "# ", "h2": "## ", "h3": "### ", "h4": "#### ",
           "h5": "##### ", "h6": "###### ", "li": "- "}


@dataclass
class KernelResult:
    url: str
    title: str | None
    text: str | None
    spans: list  # list of dicts {block_id, path, start, end}
    n_blocks: int
    error: str | None
    charset: str | None = None  # decode path taken (None for error rows)

    def sha256(self) -> str | None:
        if self.text is None:
            return None
        return hashlib.sha256(self.text.encode("utf-8")).hexdigest()


def _is_boiler_attrs(attrs) -> bool:
    """Whether a class or id value holds a BOILER_TOKENS token. ``attrs``
    is [(name, value)] or a raw _TAG_STEP attribute run; a run is parsed
    only when it mentions class or id, the only two keys read here."""
    if isinstance(attrs, str):
        low = attrs.lower()
        if "class" not in low and "id" not in low:
            return False
        attrs = _simple_attrs(attrs)
    for k, v in attrs:
        if k in ("class", "id") and v:
            for token in v.replace("-", " ").replace("_", " ").lower().split():
                if token in BOILER_TOKENS:
                    return True
    return False


def _assemble(url: str, kept: list) -> KernelResult:
    """Deterministic serialization: render prefixes, join '\n\n', compute
    spans over the final text (invariant: text[start:end] == rendered)."""
    title = None
    pieces = []
    spans = []
    pos = 0
    for block_id, tag, path, text in kept:
        rendered = _PREFIX.get(tag, "") + text
        if title is None and tag in HEADING_TAGS:
            title = text
        if pieces:
            pos += 2  # the '\n\n' separator
        spans.append({"block_id": block_id, "path": path,
                      "start": pos, "end": pos + len(rendered)})
        pos += len(rendered)
        pieces.append(rendered)
    return KernelResult(url=url, title=title, text="\n\n".join(pieces),
                        spans=spans, n_blocks=len(kept), error=None)


# ---------------------------------------------------------------------------
# HTML engine: a single-pass scanner with the block rules inlined into the
# tokenizer loop (r8: a handler per html.parser event spent ~60% of kernel
# time on dispatch). Behavior contract: the kept blocks equal those of the
# html.parser-driven reference engine in tests/html_reference.py, pinned
# by the differential tests in tests/test_kernel.py over every fixture
# class, the bulk corpus and hypothesis-generated tag soup.
#
# A '<' followed by an ASCII letter takes the first step that fits:
#   1. leaf element: '<name simple-attrs>text</name>' (same name, same
#      case, text without '<', not void or raw-text) is one _TAG_STEP
#      match; the loop applies the net effect of start tag + text + end
#      tag and jumps past it (~80% of the start tags of a typical page);
#   2. simple start tag: the same match without the leaf part, attributes
#      taken by one findall;
#   3. anything else: the port of html.parser's start-tag endgame
#      (_STARTTAG_END, _TAGNAME, _ATTRFIND; CPython, PSF license).
# A start tag's attributes are parsed only when its class or id can still
# decide whether it is dropped. A start tag that opens the outermost drop
# frame (DROP_TAGS or a boilerplate class/id; not self-closing, not
# script/style) first tries _skip_dropped: one _DROPPED_BODY match proves
# where the frame closes and the loop jumps there. It proves it only for
# a well-nested body of text, simple lower-case tags and script/style
# raw text, closed by a bare '</name>': there the loop would only push
# and pop drop frames, each end tag popping the frame just above it.
# Anything else (comments, '<!', '<?', a lone '<', upper-case names,
# other attributes, a stray or outer end tag) takes the loop as before.
# ---------------------------------------------------------------------------

# name, name="v" or name='v' with no '&' in v, so the value needs no
# unescape; shared by _TAG_STEP and _SIMPLE_ATTRS
_SIMPLE_ATTR = r"""[a-zA-Z][-.:_a-zA-Z0-9]*(?:="[^"&]*"|='[^'&]*')?"""
# group 1 tag name, 2 attributes, 3 leaf text (None when the start tag is
# not followed by text and its own end tag)
_TAG_STEP = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)((?:[ \t\n\r\f]+" + _SIMPLE_ATTR + r")*+)"
    r"[ \t\n\r\f]*+(?:/>|>(?:([^<]*+)</\1>)?)")
_SIMPLE_ATTRS = re.compile(_SIMPLE_ATTR).findall

_STARTTAG_END = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*        # tag name
  (?:[\s/]*                           # optional whitespace before attr name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*   # attribute name
      (?:\s*=+\s*                     # value indicator
        (?:'[^']*'                    # LITA-enclosed value
          |"[^"]*"                    # LIT-enclosed value
          |(?!['"])[^>\s]*            # bare value
        )
        (?:\s*,)*                     # possibly followed by a comma
      )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                 # trailing whitespace
""", re.VERBOSE)
_ATTRFIND = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*')
_ENDTAG = re.compile(r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>')
_COMMENT_CLOSE = re.compile(r'--\s*>')    # html.parser._commentclose
_MS_NAME = re.compile(r'[a-zA-Z][-_.a-zA-Z0-9]*')   # _declname_match core
_MARKED_CLOSE = re.compile(r']\s*]\s*>')  # _markedsectionclose
_MS_COND_CLOSE = re.compile(r']\s*>')     # _msmarkedsectionclose
# keep = ord >= 32 or "\n\t\r\f\v" -> strip exactly [\x00-\x08\x0e-\x1f]
# (C-speed twin of the old per-char generator; \x7f+ kept by both)
_C0_STRIP = re.compile("[\x00-\x08\x0e-\x1f]").sub
_ASCII_ALPHA = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
_TAGNAME = re.compile(r'([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*')
# Python 3.11 html.parser set_cdata_mode: in raw-text elements the scanner
# only stops at a FULL well-formed close tag; '</script foo>', '</scriptx>',
# or a '>'-less tail are plain character data and parsing stays in CDATA.
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


def _dropped_body(depth: int):
    """The body of a drop frame that _skip_dropped accepts, elements
    nested up to ``depth`` deep. Each level is a possessive run of text,
    void tags, script/style raw text and elements; level k captures its
    element's name as group k and needs the same bare '</name>' back, so
    the first end tag that does not close the innermost open element ends
    the match. Alternatives are tried in order, and a void or
    script/style tag that its own branch refuses, the element branch
    refuses too. A self-closing tag is a no-op there as in the loop
    (push, then pop the frame just pushed)."""
    attrs = r"(?:[ \t\n\r\f]+" + _SIMPLE_ATTR + r")*+[ \t\n\r\f]*+"
    void = "<(?:" + "|".join(sorted(VOID_TAGS)) + ")" + attrs + "/?>"
    raw = "|".join(
        f"<{t}{attrs}>(?i:(?:[^<]++|<(?!/\\s*{t}\\s*>))*+</\\s*{t}\\s*>)"
        for t in sorted(_CDATA_CLOSE))
    body = "[^<]*+"
    for k in range(depth, 0, -1):
        body = (f"(?:[^<]++|{void}|{raw}|<([a-z][a-z0-9]*){attrs}"
                f"(?:/>|>{body}</\\{k}>))*+")
    return re.compile(body)


# 8 levels: header > nav > ul > li > ul > li > a, a two-level menu, is 6
_DROPPED_BODY = _dropped_body(8).match


def _skip_dropped(s: str, pos: int, tag: str) -> int:
    """Where the loop would close the drop frame that the start tag
    ``tag`` opened just before ``pos``: the index past its '</tag>', or
    -1 when the body is not one _DROPPED_BODY can prove. The match ends
    at the first end tag that does not close the innermost element, so it
    never scans past the place where the frame really closes."""
    q = _DROPPED_BODY(s, pos).end()
    close = "</" + tag + ">"
    return q + len(close) if s.startswith(close, q) else -1


def _simple_attrs(attrs: str) -> list:
    """[(name, value)] of a _TAG_STEP attribute run; a bare name gets
    value '', which the boilerplate check treats like html.parser's None."""
    out = []
    for kv in _SIMPLE_ATTRS(attrs):
        name, _, value = kv.partition("=")
        out.append((name.lower(), value[1:-1]))
    return out


def _block_text(raw: str, tag: str) -> str:
    """A block's rendered text: C0 controls dropped, then ``pre`` strips
    its ends and every other tag collapses whitespace runs to one space.
    Printable text holds no whitespace but U+0020 (every other
    ``str.isspace`` char is in Cc, Zs, Zl or Zp, which ``isprintable``
    rejects), so it needs the split-and-join only when it has a double,
    leading or trailing space."""
    if raw.isprintable():
        if tag == "pre":
            return raw.strip()
        if "  " in raw or raw[:1] == " " or raw[-1:] == " ":
            return " ".join(raw.split())
        return raw
    raw = _C0_STRIP("", raw)
    return raw.strip() if tag == "pre" else " ".join(raw.split())


def _fast_extract(s: str) -> list:
    """Single-pass tokenizer + block classifier in ONE function frame:
    returns the kept list [(block_id, tag, path, text)] with semantics
    byte-identical to driving the block rules from html.parser events
    (tests/html_reference.py; the differential/fuzz tests under
    tests/test_kernel.py pin it).

    This is the r8 optimization-round rewrite of the former
    ``_fast_feed`` + handler-dispatch engine (guide §1.2 "per-task
    work"): the per-event bound-method calls, ``_Block`` dataclass
    allocation, per-tag path f-strings through three helper methods,
    and unconditional per-data-chunk char counting were ~60% of kernel
    time at 5 KiB/page. Here the tokenizer manipulates local state
    directly; link-density char counting is deferred to flush time and
    only paid for blocks that actually contain ``<a>`` text (for
    link-free blocks every keep rule reduces to ``0 <= total``, so no
    counting is needed at all). Tolerant-parsing semantics (start-tag
    endgame, CDATA mode, comment/marked-section closers, bogus-data
    recovery) are ported verbatim from the previous engine, which was
    itself a faithful port of html.parser's goahead.
    """
    stack: list = []     # frames: [tag, is_boiler, child_count, path]
    drop_depth = 0
    a_depth = 0
    pre_depth = 0
    blk_tag = None       # open block's tag (None = no open block)
    blk_path = ""
    blk_parts: list = []
    blk_link = 0
    kept: list = []
    next_id = 0
    root_children = 0

    def _flush() -> None:
        # twin of the reference engine's _flush_block: classify + render
        # one block. total_chars is derived from the joined parts (char
        # counts are concatenation-invariant), and only when
        # link_chars > 0.
        nonlocal blk_tag, blk_parts, blk_link, next_id
        tag = blk_tag
        blk_tag = None
        raw0 = "".join(blk_parts)
        link = blk_link
        blk_parts = []
        blk_link = 0
        text = _block_text(raw0, tag)
        block_id = next_id
        next_id += 1
        if not text:
            return
        if link and tag not in HEADING_TAGS:
            total = sum(map(len, raw0.split()))
            if (2 if tag == "li" else 3) * link > total:
                return
        kept.append((block_id, tag, blk_path, text))

    def _data(data: str) -> None:
        # twin of the reference handle_data (cold call sites; the hot
        # text sites are inlined in the main loop below)
        nonlocal blk_tag, blk_path, blk_parts, blk_link
        if drop_depth or not data:
            return
        if blk_tag is None:
            if not data.strip():
                return
            pp = stack[-1][3] if stack else ""
            blk_tag = "text"
            blk_path = pp + ">#text" if pp else "#text"
            blk_parts = []
            blk_link = 0
        blk_parts.append(data)
        if a_depth:
            blk_link += sum(map(len, data.split()))

    def _end(tag: str) -> None:
        # twin of the reference handle_endtag
        nonlocal drop_depth, a_depth, pre_depth
        if tag in VOID_TAGS:
            return
        if stack and stack[-1][0] == tag:
            depth = len(stack) - 1
        else:
            depth = -1
            for idx in range(len(stack) - 1, -1, -1):
                if stack[idx][0] == tag:
                    depth = idx
                    break
            if depth < 0:
                return                    # stray end tag: ignore
        while len(stack) > depth:
            frame = stack.pop()
            ftag = frame[0]
            if frame[1]:                  # boiler/drop frame
                drop_depth -= 1
                continue
            if ftag == "a":
                a_depth -= 1
            if ftag in BLOCK_TAGS:
                if ftag == "pre":
                    pre_depth -= 1
                if blk_tag is not None:
                    _flush()
            elif ftag in STRUCT_TAGS:
                if blk_tag is not None:
                    _flush()

    def _bogus(i0: int) -> int:
        """EOF-truncated construct: html.parser's close() emits it as
        data up to the next '>'+1, else the next '<', else one char."""
        k = find(">", i0 + 1)
        if k >= 0:
            k += 1
        else:
            k = find("<", i0 + 1)
            if k < 0:
                k = i0 + 1
        _data(_unescape(s[i0:k]))
        return k

    i, n = 0, len(s)
    find = s.find
    # global-name traffic: ~500 set/func lookups per 5 KiB page otherwise
    VOID, DROPT, BLOCK, STRUCT = VOID_TAGS, DROP_TAGS, BLOCK_TAGS, STRUCT_TAGS
    HEADING = HEADING_TAGS
    unescape = _unescape
    cdata_close = _CDATA_CLOSE
    is_boiler = _is_boiler_attrs
    tag_step = _TAG_STEP.match
    skip_dropped = _skip_dropped
    block_text = _block_text
    while i < n:
        lt = find("<", i)
        if lt < 0 or lt > i:
            # ---- text run (hot): inline twin of handle_data ----------
            data = s[i:] if lt < 0 else s[i:lt]
            if not drop_depth:
                if "&" in data:
                    data = unescape(data)
                if blk_tag is not None:
                    blk_parts.append(data)
                    if a_depth:
                        blk_link += sum(map(len, data.split()))
                elif data and not data.isspace():
                    # (data is '' when a charref decodes to nothing)
                    pp = stack[-1][3] if stack else ""
                    blk_tag = "text"
                    blk_path = pp + ">#text" if pp else "#text"
                    blk_parts = [data]
                    blk_link = (sum(map(len, data.split()))
                                if a_depth else 0)
            if lt < 0:
                break
        i = lt
        nxt = s[lt + 1:lt + 2]
        if nxt in _ASCII_ALPHA:
            selfclose = False
            leaf = None
            m = tag_step(s, lt)
            if m is not None:
                # ---- steps 1 and 2: leaf element or simple start tag
                # (what the generic endgame below gives for this shape)
                # attrs stays the raw run: is_boiler parses it if needed
                tag, attrs, leaf = m.groups()
                tag = tag.lower()
                if leaf is None:
                    endpos = m.end()
                    selfclose = s[endpos - 2] == "/"
                elif tag in VOID or tag in cdata_close:
                    leaf = None           # start tag only
                    endpos = m.start(3)
                else:
                    endpos = m.end()
            else:
                # ---- step 3: faithful port of html.parser's
                # check_for_whole_start_tag + parse_starttag endgame
                # (which chars end the tag, when '/>' means
                # self-closing vs a bare attr value, raw-data fallback
                # on a malformed tail)
                m = _STARTTAG_END.match(s, lt)
                j = m.end()
                after = s[j:j + 1]
                if after == ">":
                    endpos = j + 1
                elif after == "/" and s.startswith("/>", j):
                    endpos = j + 2
                elif after == "" or after == "/" or after == "=" or \
                        (after.isascii() and after.isalpha()):
                    i = _bogus(lt)       # EOF-truncated start tag
                    continue
                else:
                    endpos = j           # malformed tail: no '>'
                tm = _TAGNAME.match(s, lt + 1)
                tag = tm.group(1).lower()
                attrs = []
                k = tm.end()
                while k < endpos:
                    am = _ATTRFIND.match(s, k)
                    if not am or am.end() == am.start():
                        break
                    name, rest, value = am.group(1, 2, 3)
                    if not rest:
                        value = None
                    elif value[:1] == "'" == value[-1:] or \
                            value[:1] == '"' == value[-1:]:
                        value = value[1:-1]
                    if value:
                        value = unescape(value)
                    attrs.append((name.lower(), value))
                    k = am.end()
                tail = s[k:endpos].strip()
                if tail not in (">", "/>"):
                    _data(s[lt:endpos])  # raw, like parse_starttag
                    i = endpos
                    continue
                selfclose = tail == "/>"
            # ---- inline twin of handle_starttag ---------------------
            if tag in VOID:
                if blk_tag is not None and tag == "br":
                    blk_parts.append("\n" if pre_depth else " ")
                i = endpos
                continue                  # endtag on a void is a no-op
            if drop_depth or tag in DROPT or \
                    (attrs and is_boiler(attrs)):
                if blk_tag is not None:
                    _flush()
                if leaf is None:
                    if not (drop_depth or selfclose
                            or tag in cdata_close):
                        q = skip_dropped(s, endpos, tag)
                        if q >= 0:
                            i = q
                            continue
                    drop_depth += 1
                    stack.append([tag, True, 0,
                                  stack[-1][3] if stack else ""])
            else:
                if stack:
                    f = stack[-1]
                    f[2] += 1
                    parent = f[3]
                    path = f"{parent}>{tag}:{f[2]}" if parent \
                        else f"{tag}:{f[2]}"
                else:
                    root_children += 1
                    path = f"{tag}:{root_children}"
                if leaf is not None:
                    # ---- leaf: net effect of start tag, text, end tag
                    if "&" in leaf:
                        leaf = unescape(leaf)
                    if tag in BLOCK:
                        if blk_tag is not None:
                            _flush()
                        text = block_text(leaf, tag)
                        # all of the block's text is link text under an
                        # <a>, which fails every rule but the headings'
                        if text and (not a_depth or tag in HEADING):
                            kept.append((next_id, tag, path, text))
                        next_id += 1
                    elif tag in STRUCT:
                        if blk_tag is not None:
                            _flush()
                        # its text is an anonymous block that its end
                        # tag flushes (same link rule as above)
                        if leaf and not leaf.isspace():
                            text = block_text(leaf, "text")
                            if text and not a_depth:
                                kept.append((next_id, "text",
                                             path + ">#text", text))
                            next_id += 1
                    elif blk_tag is not None:
                        blk_parts.append(leaf)
                        if a_depth or tag == "a":
                            blk_link += sum(map(len, leaf.split()))
                    elif leaf and not leaf.isspace():
                        blk_tag = "text"
                        blk_path = path + ">#text"
                        blk_parts = [leaf]
                        blk_link = (sum(map(len, leaf.split()))
                                    if a_depth or tag == "a" else 0)
                    i = endpos
                    continue
                if tag == "a":
                    a_depth += 1
                if tag in BLOCK:
                    if blk_tag is not None:
                        _flush()
                    blk_tag = tag
                    blk_path = path
                    blk_parts = []
                    blk_link = 0
                    if tag == "pre":
                        pre_depth += 1
                elif tag in STRUCT:
                    if blk_tag is not None:
                        _flush()
                stack.append([tag, False, 0, path])
            i = endpos
            if selfclose:
                _end(tag)
            elif tag in cdata_close:    # raw-text elements
                # Exact port of html.parser (3.11) CDATA mode:
                # everything up to the next FULL '</\s*tag\s*>' is one
                # raw data chunk (always inside a DROPT subtree, so
                # it is ignored); unterminated raw text at EOF is
                # dropped (goahead breaks with cdata_elem set; close()
                # only flushes when cdata_elem is None).
                cm = cdata_close[tag].search(s, i)
                if cm is None:
                    break                 # drop unterminated raw text
                _end(tag)
                i = cm.end()
        elif nxt == "/":
            gt2 = find(">", lt + 2)
            body = s[lt + 2:gt2] if gt2 > 0 else ""
            if body and body.isalnum():
                # ---- '</name>' fast path + well-formed single pop ----
                tag = body.lower()
                i = gt2 + 1
                if stack and stack[-1][0] == tag and tag not in VOID:
                    frame = stack.pop()
                    if frame[1]:          # boiler/drop frame
                        drop_depth -= 1
                        continue
                    if tag == "a":
                        a_depth -= 1
                    if tag in BLOCK:
                        if tag == "pre":
                            pre_depth -= 1
                        if blk_tag is not None:
                            _flush()
                    elif tag in STRUCT:
                        if blk_tag is not None:
                            _flush()
                    continue
                _end(tag)                 # mismatched close: generic pop
                continue
            em = _ENDTAG.match(s, lt)
            if em:
                _end(em.group(1).lower())
                i = em.end()
                continue
            gt = find(">", lt + 2)
            if gt < 0:
                i = _bogus(lt)
                continue
            tm = _TAGNAME.match(s, lt + 2)
            if tm:                        # junk-tolerant end tag </tag junk>
                _end(tm.group(1).lower())
            # else: bogus comment ("</>"
            #  or "</ ...>") — ignored, no handler
            i = gt + 1
        elif nxt == "!":
            if s.startswith("<!--", lt):
                # stdlib parity: comments close on '--\s*>' (html.parser
                # _commentclose), so '<!--x --  >' terminates — a bare
                # find('-->') misclassified those as unterminated (r4
                # hypothesis catch: '<!--<!-- >')
                cm = _COMMENT_CLOSE.search(s, lt + 4)
                if cm is None:
                    i = _bogus(lt)
                    continue
                i = cm.end()              # comment: ignored
            elif s.startswith("<![", lt):
                # stdlib parse_marked_section parity (r4 fuzz catch):
                # CDATA/temp/ignore/include/rcdata sections close on
                # ']\s*]\s*>' — NOT the next '>' — and MS conditionals
                # (if/else/endif) on ']\s*>'; content is unknown_decl,
                # which this extractor ignores. Unknown keywords (where
                # the stdlib RAISES) take the total-function bogus/skip
                # path instead — the kernel never raises on input.
                nm = _MS_NAME.match(s, lt + 3)
                name = nm.group().lower() if nm else None
                if name in ("temp", "cdata", "ignore", "include",
                            "rcdata"):
                    close = _MARKED_CLOSE.search(s, lt + 3)
                elif name in ("if", "else", "endif"):
                    close = _MS_COND_CLOSE.search(s, lt + 3)
                else:
                    close = None
                if close is not None:
                    i = close.end()       # marked section: ignored
                    continue
                if name in ("temp", "cdata", "ignore", "include",
                            "rcdata", "if", "else", "endif"):
                    i = _bogus(lt)        # unterminated section
                    continue
                gt = find(">", lt + 2)    # unknown keyword: total skip
                if gt < 0:
                    i = _bogus(lt)
                    continue
                i = gt + 1
            else:
                gt = find(">", lt + 2)
                if gt < 0:
                    i = _bogus(lt)
                    continue
                i = gt + 1                # declaration/bogus: ignored
        elif nxt == "?":
            gt = find(">", lt + 2)
            if gt < 0:
                i = _bogus(lt)
                continue
            i = gt + 1                    # processing instr: ignored
        else:
            # lone '<' is text — inline twin of handle_data("<")
            if not drop_depth and blk_tag is not None:
                blk_parts.append("<")
                if a_depth:
                    blk_link += 1
            elif not drop_depth:
                pp = stack[-1][3] if stack else ""
                blk_tag = "text"
                blk_path = pp + ">#text" if pp else "#text"
                blk_parts = ["<"]
                blk_link = 1 if a_depth else 0
            i = lt + 1
    if blk_tag is not None:
        _flush()
    return kept


# --- charset detection (r3: the #1 real-corpus gap) -----------------------
# Real web corpora are several percent non-UTF-8; the reference pins utf-8
# because PPTX guarantees it (pptx_extractor/notes/extractor.py:55) — a web
# engine has no such guarantee. Deterministic decode policy, in order:
#   1. BOM: UTF-8 sig -> 'utf-8-bom'; UTF-16 LE/BE -> 'utf-16'
#   2. strict UTF-8 -> 'utf-8' (the overwhelming majority; cheapest first)
#   3. <meta charset=...> / http-equiv content sniff in the first 2048
#      bytes (WHATWG: latin-1-family labels decode as windows-1252; CJK
#      labels decode as their WHATWG superset — shift_jis->cp932,
#      gb2312->gbk, euc-kr->cp949, big5->big5hkscs);
#      decode errors='replace' -> normalized codec name (e.g. 'cp1252')
#   4. latin-1 (total function: every byte maps) -> 'latin-1-fallback'
# Every branch is deterministic, so extracted text stays byte-stable.

_META_CHARSET = re.compile(
    r"""<meta\s[^>]*?charset\s*=\s*["']?\s*([A-Za-z0-9][A-Za-z0-9._:-]*)""",
    re.I)

# WHATWG encoding spec: these labels all decode as windows-1252
_CP1252_LABELS = {
    "latin-1", "latin1", "l1", "iso-8859-1", "iso8859-1", "iso_8859-1",
    "iso88591", "ascii", "us-ascii", "windows-1252", "cp1252", "x-cp1252",
    "cp819", "ibm819", "csisolatin1",
}

# WHATWG encoding spec, CJK label -> decoder mapping (r4): real pages
# labeled with the *narrow* national standard routinely contain the
# vendor-extension characters, so the spec maps every label in a family
# to the superset codec — shift_jis family -> windows-31j (cp932),
# gb2312 family -> GBK, euc-kr family -> windows-949 (cp949), big5
# family -> big5 + HKSCS. Python's strict gb2312/shift_jis codecs would
# replace-mangle those extension characters; all superset codecs here
# are stdlib. (Reference analog: the utf-8 decode guarantee at
# pptx_extractor/notes/extractor.py:55 — PPTX pins utf-8, the web does
# not.)
_WHATWG_CJK_LABELS = {
    # -> cp932 (windows-31j)
    "shift_jis": "cp932", "shift-jis": "cp932", "sjis": "cp932",
    "x-sjis": "cp932", "ms_kanji": "cp932", "ms932": "cp932",
    "windows-31j": "cp932", "csshiftjis": "cp932", "shift_jis-2004": "cp932",
    # -> gbk
    "gb2312": "gbk", "gb_2312": "gbk", "gb_2312-80": "gbk",
    "chinese": "gbk", "csgb2312": "gbk", "csiso58gb231280": "gbk",
    "iso-ir-58": "gbk", "x-gbk": "gbk", "gbk": "gbk",
    # -> cp949 (windows-949 / UHC)
    "euc-kr": "cp949", "euc_kr": "cp949", "korean": "cp949",
    "ks_c_5601-1987": "cp949", "ks_c_5601-1989": "cp949",
    "ksc_5601": "cp949", "ksc5601": "cp949", "csksc56011987": "cp949",
    "windows-949": "cp949",
    # -> big5 + HKSCS
    "big5": "big5hkscs", "big5-hkscs": "big5hkscs", "cn-big5": "big5hkscs",
    "csbig5": "big5hkscs", "x-x-big5": "big5hkscs",
}


_COMMON_RANGES = (
    (0x09, 0x0D), (0x20, 0x7E), (0xA0, 0x24F),      # ASCII + Latin
    (0x2000, 0x206F),                               # general punctuation
    (0x3000, 0x30FF),                               # CJK punct + kana
    (0x4E00, 0x9FFF),                               # CJK unified
    (0xAC00, 0xD7AF),                               # hangul syllables
    (0xFF00, 0xFFEF),                               # full/half-width forms
)


def _common_script_score(text: str) -> float:
    """Fraction of chars in everyday text blocks — the UTF-16
    orientation scorer (wrong-endian decodes scatter into ext-A/PUA)."""
    if not text:
        return 0.0
    ok = 0
    for ch in text:
        o = ord(ch)
        for lo, hi in _COMMON_RANGES:
            if lo <= o <= hi:
                ok += 1
                break
    return ok / len(text)


def _head_is_strict_utf8(head: bytes) -> bool:
    """Strict UTF-8 validity of a byte-truncated head: a decode error
    inside the final 3 bytes is just a multibyte sequence cut by the
    truncation, not invalid UTF-8."""
    try:
        head.decode("utf-8")
        return True
    except UnicodeDecodeError as exc:
        return exc.start >= len(head) - 3


def decode_html_bytes(content: bytes) -> tuple:
    """Decode raw page bytes -> (text, charset_label). Never raises.

    The BOM-less UTF-16 sniff runs BEFORE the strict UTF-8 attempt on
    purpose: ASCII-heavy UTF-16 bytes (``h\\x00e\\x00...``) are *valid*
    UTF-8 — NUL is a legal codepoint — so utf-8-first would silently
    return NUL-riddled garbage labeled 'utf-8'. Real UTF-8 HTML never
    contains NULs, so a one-sided even/odd NUL pattern in the head is
    decisive.

    r4 ADVICE #2 guard: in the LOW-NUL regime (below the r3 40%-of-half
    threshold — where only the relaxed absolute floor of 4 applies), a
    head that strict-decodes as UTF-8 is preferred as UTF-8: a genuine
    UTF-8/ASCII page with a few stray NULs must not be mojibake'd
    whole-page as UTF-16. This cannot misroute the sniff's real
    targets: ASCII-heavy UTF-16 has ~one NUL per character (high-NUL
    regime, guard not consulted), and CJK-heavy UTF-16 fails strict
    UTF-8 on its high code-unit bytes."""
    if content.startswith(b"\xef\xbb\xbf"):
        return content[3:].decode("utf-8", errors="replace"), "utf-8-bom"
    if content.startswith(b"\xff\xfe") or content.startswith(b"\xfe\xff"):
        return content.decode("utf-16", errors="replace"), "utf-16"
    head = content[:1024]
    if len(head) >= 8 and 0 in head:
        half = len(head) // 2
        odd_nul = head[1::2].count(0)     # LE: high bytes at odd offsets
        even_nul = head[0::2].count(0)
        # one-sided NUL parity: every ASCII code unit puts a NUL at a
        # fixed parity, and non-UTF-16 TEXT has no NULs at all (binary
        # payloads are magic-routed before this decode), so even a few
        # strongly one-sided NULs are decisive. The r3 rule (>=40% of
        # half) missed CJK-heavy pages whose only ASCII is sparse
        # markup; r4: absolute floor of 4 with a 4:1 parity ratio (not
        # ~0 on the other side — CJK code units like U+6700
        # legitimately put a NUL on the opposite parity).
        floor = 4
        strong = max(floor, (2 * half) // 5)     # the r3 40% threshold
        low_nul = max(odd_nul, even_nul) < strong
        if low_nul and _head_is_strict_utf8(head):
            pass                          # stray-NUL UTF-8: skip sniff
        elif odd_nul >= floor and even_nul * 4 <= odd_nul:
            return (content.decode("utf-16-le", errors="replace"),
                    "utf-16-le-sniffed")
        elif even_nul >= floor and odd_nul * 4 <= even_nul:
            return (content.decode("utf-16-be", errors="replace"),
                    "utf-16-be-sniffed")
        elif odd_nul + even_nul >= floor:
            # ambiguous parity (common CJK code units like 最 U+6700 /
            # 退 U+9000 put NULs on BOTH parities): decode the head
            # both ways and score by common-script membership — the
            # correct orientation lands almost every char in ASCII/
            # Latin/kana/CJK/hangul blocks, the wrong one scatters
            # into ext-A/PUA. A 0.1 MARGIN is required (r4 ADVICE #2:
            # wrong-endian ASCII pairs like 'ab' -> U+6261 score as
            # 'common CJK', so both orientations of ASCII-ish text
            # score ~1.0 — a one-char difference must not decide).
            # Deterministic; ties fall through.
            le = head.decode("utf-16-le", errors="replace")
            be = head.decode("utf-16-be", errors="replace")
            sl, sb = _common_script_score(le), _common_script_score(be)
            if sl >= 0.9 and sl - sb >= 0.1:
                return (content.decode("utf-16-le", errors="replace"),
                        "utf-16-le-sniffed")
            if sb >= 0.9 and sb - sl >= 0.1:
                return (content.decode("utf-16-be", errors="replace"),
                        "utf-16-be-sniffed")
    try:
        return content.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        pass
    head = content[:2048].decode("latin-1")
    m = _META_CHARSET.search(head)
    if m:
        label = m.group(1).lower()
        if label in _CP1252_LABELS:
            codec = "cp1252"
        else:
            codec = _WHATWG_CJK_LABELS.get(label, label)
        try:
            import codecs
            name = codecs.lookup(codec).name
            return content.decode(name, errors="replace"), name
        except LookupError:
            pass                          # unknown label: fall through
    return content.decode("latin-1"), "latin-1-fallback"


def extract_html(url: str, html_text: str) -> KernelResult:
    return _assemble(url, _fast_extract(html_text))


# ---------------------------------------------------------------------------
# WDOC: the deterministic binary layout format (stand-in for the reference's
# PPTX->PDF binary path, slides/extractor.py:38-109; we control the payload
# format, see FIXTURES.md §1). Layout parse = decode blocks, sort by (y, x,
# input order), render with the same block rules.
# ---------------------------------------------------------------------------

def render_wdoc(blocks) -> bytes:
    """blocks: iterable of (role, y, x, text); text must not contain \\t or \\n
    (they are escaped)."""
    out = [WDOC_MAGIC.decode("ascii")]
    rows = list(blocks)
    out.append(f"{len(rows)}\n")
    for role, y, x, text in rows:
        esc = text.replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t")
        out.append(f"{role}\t{y}\t{x}\t{esc}\n")
    return "".join(out).encode("utf-8")


def _unescape_wdoc(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            out.append({"n": "\n", "t": "\t", "\\": "\\"}.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def extract_wdoc(url: str, payload: bytes) -> KernelResult:
    body = payload[len(WDOC_MAGIC):].decode("utf-8")
    lines = body.split("\n")
    n = int(lines[0])
    recs = []
    for idx in range(1, n + 1):
        role, y, x, text = lines[idx].split("\t", 3)
        if role not in _PREFIX and role != "p":
            raise ValueError(f"wdoc: unknown role {role!r}")
        recs.append((int(y), int(x), idx - 1, role, _unescape_wdoc(text)))
    recs.sort(key=lambda r: (r[0], r[1], r[2]))
    kept = []
    for block_id, (y, x, _i, role, text) in enumerate(recs):
        text = " ".join(text.split())
        if text:
            kept.append((block_id, role, f"wdoc:y{y}:x{x}", text))
    return _assemble(url, kept)


# ---------------------------------------------------------------------------
# PDF: pdfminer-style layout parse of a minimal-but-real PDF 1.4 subset
# (the reference's PPTX->PDF binary path, slides/extractor.py:38-109,
# re-expressed as an in-process parse — no subprocess per row, no
# external pdf libs in this environment). The *renderer* writes honest
# PDF bytes (catalog/Pages-tree/page/contents objects, correct xref
# offsets, optional FlateDecode compression and hex strings, multi-page
# via render_pdf_pages); the *parser* is object-level since r3: objects
# located by header scan, stream bytes sliced by /Length (indirect refs
# resolved; a literal 'endstream' inside text cannot truncate),
# FlateDecode inflated with stdlib zlib, page order from the trailer
# /Root -> /Pages Kids tree. Content streams go through a hand scanner
# (literal strings with escapes AND balanced unescaped nested parens,
# hex strings <...>, comments) driving an operand-stack walk of the
# standard text operators (Tf/Td/TD/Tm/T*/Tj/TJ); layout order is
# (page, top-down y, left-right x, stream order) and font size maps to
# heading level — the classic pdfminer/Boilerpipe layout heuristic.
#
# Frozen role contract (goldens pin it): font /F2 => li; /F1 size
# >=24 h1, >=20 h2, >=18 h3, >=16 h4, >=15 h5, >=14 h6, else p.
# Renderer escapes non-printable bytes as octal; the parser decodes
# octal + the standard \n \r \t \b \f \( \) \\ escapes, then
# UTF-8-decodes. Since r3 the parser also unpacks PDF 1.5 object
# streams (/Type /ObjStm) behind cross-reference streams; since r4
# incremental updates (appended objects + /Prev trailer chains, PDF
# 32000 §7.5.6) resolve correctly — the object pass is file-order
# newest-wins, which IS the update-chain semantics, and the trailer
# /Root search uses the LAST trailer (tests/test_kernel.py's
# render_pdf_incremental pins it). Remaining out-of-subset features
# (documented, raise into the F6 error column): encryption, non-Flate
# filters.
# ---------------------------------------------------------------------------

PDF_PAGE_H = 792  # US-Letter height in points; device y points up

_PDF_ROLE_SIZE = {"h1": 24, "h2": 20, "h3": 18, "h4": 16, "h5": 15,
                  "h6": 14, "p": 12, "li": 12}


def _pdf_role_for_font(name: str, size: float) -> str:
    if name == "F2":
        return "li"
    for role in ("h1", "h2", "h3", "h4", "h5", "h6"):
        if size >= _PDF_ROLE_SIZE[role]:
            return role
    return "p"


def _pdf_escape(text: str) -> str:
    """UTF-8 bytes -> PDF literal-string body (latin-1-safe str)."""
    out = []
    for b in text.encode("utf-8"):
        if b in (0x28, 0x29, 0x5C):          # ( ) backslash
            out.append("\\" + chr(b))
        elif 32 <= b < 127:
            out.append(chr(b))
        else:
            out.append(f"\\{b:03o}")
    return "".join(out)


def _pdf_unescape(s: str) -> bytes:
    """PDF literal-string body (latin-1 chars) -> raw bytes."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(ord(c))
            i += 1
            continue
        if i + 1 >= n:
            break
        nxt = s[i + 1]
        if nxt in "nrtbf":
            out.append({"n": 10, "r": 13, "t": 9, "b": 8, "f": 12}[nxt])
            i += 2
        elif nxt in "()\\":
            out.append(ord(nxt))
            i += 2
        elif nxt in "01234567":
            j = i + 1
            digits = ""
            while j < n and len(digits) < 3 and s[j] in "01234567":
                digits += s[j]
                j += 1
            out.append(int(digits, 8) & 0xFF)
            i = j
        else:                                 # line continuation etc.
            i += 2
    return bytes(out)


def render_pdf(blocks) -> bytes:
    """blocks: iterable of (role, y, x, text) with y measured from the
    page top (same convention as render_wdoc). Emits a complete valid
    single-page PDF 1.4 with a correct xref table."""
    return render_pdf_pages([list(blocks)])


def _pdf_content_obj(blocks, *, compress: bool = False,
                     hex_strings: bool = False) -> bytes:
    """One content-stream object body (shared by the base renderer and
    the incremental-update appender)."""
    parts = []
    for role, y, x, text in blocks:
        if role not in _PDF_ROLE_SIZE:
            raise ValueError(f"pdf: unknown role {role!r}")
        font = "F2" if role == "li" else "F1"
        size = _PDF_ROLE_SIZE[role]
        if hex_strings:
            shown = "<" + text.encode("utf-8").hex() + ">"
        else:
            shown = "(" + _pdf_escape(text) + ")"
        parts.append(f"BT /{font} {size} Tf {int(x)} "
                     f"{PDF_PAGE_H - int(y)} Td {shown} Tj ET")
    content = "\n".join(parts).encode("latin-1")
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"
    return (b"<< /Length " + str(len(content)).encode() + filt
            + b" >>\nstream\n" + content + b"\nendstream")


def render_pdf_pages(pages, *, compress: bool = False,
                     hex_strings: bool = False,
                     objstm: bool = False) -> bytes:
    """Multi-page renderer: ``pages`` is a list of block lists, one per
    page, each block (role, y, x, text). ``compress`` writes FlateDecode
    content streams; ``hex_strings`` shows text via PDF hex strings
    <...> instead of literal strings; ``objstm`` emits a PDF 1.5 file —
    all non-stream objects packed into a FlateDecode ``/Type /ObjStm``
    object stream and the classic xref table replaced by a compressed
    cross-reference stream (``/Type /XRef``, W=[1 4 2] entries) — the
    layout every modern PDF producer writes. All variants exist to
    exercise the parser's real-world feature set under round-trip
    property tests."""
    pages = [list(blocks) for blocks in pages]
    npg = len(pages)
    # file/object order: 1 catalog, 2 pages node, 3..2+npg page objects,
    # 3+npg..2+2*npg content streams, then the two font objects
    f1, f2 = 3 + 2 * npg, 4 + 2 * npg
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    kids = " ".join(f"{3 + i} 0 R" for i in range(npg))
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {npg} >>".encode())
    for i in range(npg):
        objs.append((f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                     f"/Contents {3 + npg + i} 0 R /Resources << /Font "
                     f"<< /F1 {f1} 0 R /F2 {f2} 0 R >> >> >>").encode())
    for blocks in pages:
        objs.append(_pdf_content_obj(blocks, compress=compress,
                                     hex_strings=hex_strings))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont "
                b"/Helvetica-Bold >>")
    if objstm:
        return _finish_pdf15(objs, npg)
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n".encode()
    buf += b"0000000000 65535 f \n"
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(buf)


def _finish_pdf15(objs: list, npg: int) -> bytes:
    """PDF 1.5 file layout: non-stream objects (catalog, pages node,
    page dicts, fonts) packed into one FlateDecode ``/Type /ObjStm``;
    content streams stay top-level (streams may not live inside an
    ObjStm, PDF 32000 §7.5.7); xref written as a cross-reference STREAM
    with W=[1 4 2] typed entries (type 2 = compressed-object entry
    pointing at the ObjStm member index). Object numbers are identical
    to the classic layout so all indirect refs are unchanged."""
    content_nums = set(range(3 + npg, 3 + 2 * npg))
    packed = [(i + 1, body) for i, body in enumerate(objs)
              if (i + 1) not in content_nums]
    stm_num, xref_num = len(objs) + 1, len(objs) + 2
    head_parts, bodies, off = [], [], 0
    for num, body in packed:
        head_parts.append(f"{num} {off}")
        bodies.append(body)
        off += len(body) + 1              # single-space separator
    header = (" ".join(head_parts) + "\n").encode("latin-1")
    stm_raw = header + b" ".join(bodies) + b" "
    first = len(header)
    stm_z = zlib.compress(stm_raw)
    objstm_obj = (f"<< /Type /ObjStm /N {len(packed)} /First {first} "
                  f"/Filter /FlateDecode /Length {len(stm_z)} "
                  f">>\nstream\n").encode() + stm_z + b"\nendstream"
    buf = bytearray(b"%PDF-1.5\n")
    offsets: dict = {}
    for num in sorted(content_nums):
        offsets[num] = len(buf)
        buf += f"{num} 0 obj\n".encode() + objs[num - 1] + b"\nendobj\n"
    offsets[stm_num] = len(buf)
    buf += f"{stm_num} 0 obj\n".encode() + objstm_obj + b"\nendobj\n"
    xref_at = len(buf)
    offsets[xref_num] = xref_at
    # entry rows for object numbers 0..xref_num, W = [1 4 2]
    rows = bytearray()
    stm_index = {num: k for k, (num, _b) in enumerate(packed)}
    for num in range(xref_num + 1):
        if num == 0:
            rows += b"\x00" + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")
        elif num in stm_index:
            rows += b"\x02" + stm_num.to_bytes(4, "big") \
                + stm_index[num].to_bytes(2, "big")
        else:
            rows += b"\x01" + offsets[num].to_bytes(4, "big") \
                + (0).to_bytes(2, "big")
    rows_z = zlib.compress(bytes(rows))
    buf += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
            f"/W [1 4 2] /Root 1 0 R /Filter /FlateDecode "
            f"/Length {len(rows_z)} >>\nstream\n").encode() + rows_z \
        + b"\nendstream\nendobj\n"
    buf += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(buf)


_PDF_NAME = re.compile(r"/([^\s/()<>\[\]{}%]*)")
_PDF_NUM = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)")
_PDF_WORD = re.compile(r"[A-Za-z'\"][A-Za-z0-9*'\"]*")
_PDF_REF = re.compile(r"(\d+)\s+\d+\s+R\b")
_PDF_WS = " \t\r\n\f\x00"
_OBJ_HEAD = re.compile(r"(\d+)\s+\d+\s+obj\b")
_STREAM_HEAD = re.compile(r"\s*stream(?:\r\n|\n|\r)")


class _Ref(int):
    """An indirect object reference (the object number)."""


def _scan_literal(s: str, i: int):
    """Scan a PDF literal string starting at the '(' at s[i]. Handles
    escapes AND balanced unescaped nested parens (PDF 32000 §7.3.4.2).
    Returns (body_str, index_after_close_paren)."""
    depth, j, n = 1, i + 1, len(s)
    buf = []
    while j < n:
        ch = s[j]
        if ch == "\\" and j + 1 < n:
            buf.append(s[j:j + 2])
            j += 2
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return "".join(buf), j + 1
        buf.append(ch)
        j += 1
    return "".join(buf), n                # unterminated: best-effort


def _scan_hex(s: str, i: int):
    """Scan a hex string starting at the '<' at s[i] -> (bytes, next)."""
    j = s.find(">", i + 1)
    body = s[i + 1:(j if j >= 0 else len(s))]
    hx = "".join(body.split())
    if len(hx) % 2:                       # odd count: pad 0 (spec rule)
        hx += "0"
    try:
        raw = bytes.fromhex(hx)
    except ValueError:
        raw = b""
    return raw, (j + 1) if j >= 0 else len(s)


def _pdf_value(s: str, i: int):
    """Recursive-descent parse of one PDF object value at s[i:]:
    dict / array / name / number / ref / literal / hex string / bool /
    null. Names parse to str, strings to bytes. Returns (value, next)."""
    n = len(s)
    while i < n and s[i] in _PDF_WS:
        i += 1
    if s.startswith("<<", i):
        d: dict = {}
        i += 2
        while i < n:
            while i < n and s[i] in _PDF_WS:
                i += 1
            if s.startswith(">>", i):
                return d, i + 2
            if i >= n:
                break
            if s[i] != "/":               # tolerant: skip junk between keys
                i += 1
                continue
            m = _PDF_NAME.match(s, i)
            key = m.group(1)
            val, i = _pdf_value(s, m.end())
            d[key] = val
        return d, i
    if s.startswith("[", i):
        arr: list = []
        i += 1
        while i < n:
            while i < n and s[i] in _PDF_WS:
                i += 1
            if i >= n or s[i] == "]":
                return arr, min(i + 1, n)
            val, i = _pdf_value(s, i)
            arr.append(val)
        return arr, i
    if s.startswith("(", i):
        body, j = _scan_literal(s, i)
        return _pdf_unescape(body), j
    if s.startswith("<", i):
        return _scan_hex(s, i)
    if s[i] == "/":
        m = _PDF_NAME.match(s, i)
        return m.group(1), m.end()
    rm = _PDF_REF.match(s, i)
    if rm:
        return _Ref(int(rm.group(1))), rm.end()
    m = _PDF_NUM.match(s, i)
    if m:
        tok = m.group()
        return (float(tok) if "." in tok else int(tok)), m.end()
    if s.startswith("true", i):
        return True, i + 4
    if s.startswith("false", i):
        return False, i + 5
    if s.startswith("null", i):
        return None, i + 4
    return None, i + 1                    # tolerant skip


def _pdf_load(data: str):
    """Object-level pass: returns ({num: value}, {num: decoded_stream}).
    Stream bytes are sliced by /Length (so 'endstream' inside the data
    can't truncate — r3 ADVICE fix), indirect /Length refs resolved in a
    second pass, and /FlateDecode streams inflated with stdlib zlib.
    finditer matches that fall inside a known stream body are skipped so
    compressed bytes can't fake an object header."""
    objs: dict = {}
    pending: dict = {}                    # num -> (start, length_spec, dict)
    skip_until = 0
    for m in _OBJ_HEAD.finditer(data):
        if m.start() < skip_until:
            continue
        num = int(m.group(1))
        val, j = _pdf_value(data, m.end())
        objs[num] = val
        sm = _STREAM_HEAD.match(data, j)
        if sm and isinstance(val, dict):
            start = sm.end()
            ln = val.get("Length")
            if isinstance(ln, int) and ln >= 0:
                skip_until = start + ln
            else:
                e = data.find("endstream", start)
                skip_until = e if e >= 0 else len(data)
            pending[num] = (start, ln, val)
    streams: dict = {}
    for num, (start, ln, d) in pending.items():
        if isinstance(ln, _Ref):
            ln = objs.get(int(ln))
        if isinstance(ln, (int, float)) and not isinstance(ln, bool):
            body = data[start:start + int(ln)]
        else:                             # no usable /Length: best-effort
            e = data.find("endstream", start)
            body = data[start:(e if e >= 0 else len(data))].rstrip("\r\n")
        filt = d.get("Filter")
        filters = filt if isinstance(filt, list) else [filt]
        if "FlateDecode" in filters or "Fl" in filters:
            body = zlib.decompress(body.encode("latin-1")).decode("latin-1")
        streams[num] = body
    # PDF 1.5 object streams: any /Type /ObjStm stream carries N packed
    # non-stream objects — header is N (objnum offset) integer pairs,
    # bodies start at /First. Unpack them into the object table (top-
    # level definitions win; the subset never number-conflicts).
    for num, d in list(objs.items()):
        if not (isinstance(d, dict) and d.get("Type") == "ObjStm"
                and num in streams):
            continue
        body = streams.pop(num)           # not page content: drop from
        first, count = d.get("First"), d.get("N")  # file-order fallback
        if isinstance(first, _Ref):
            first = objs.get(int(first))
        if isinstance(count, _Ref):
            count = objs.get(int(count))
        if not (isinstance(first, int) and isinstance(count, int)):
            continue
        head = body[:first].split()
        for k in range(count):
            try:
                onum, ooff = int(head[2 * k]), int(head[2 * k + 1])
            except (IndexError, ValueError):
                break
            try:
                val, _j = _pdf_value(body, first + ooff)
            except Exception:  # noqa: BLE001 — one bad member, keep rest
                continue
            objs.setdefault(onum, val)
    return objs, streams


def _pdf_page_streams(data: str) -> list:
    """Walk trailer /Root -> /Pages -> Kids tree (depth-first, so page
    order is the document's reading order) and return one concatenated
    decoded content string per page. Falls back to all streams in file
    order when the tree is absent/broken (legacy subset behavior)."""
    objs, streams = _pdf_load(data)
    pages: list = []

    def walk(ref, depth=0):
        if depth > 64:
            return
        obj = objs.get(int(ref))
        if not isinstance(obj, dict):
            return
        kids = obj.get("Kids")
        if isinstance(kids, list):
            for kid in kids:
                if isinstance(kid, _Ref):
                    walk(kid, depth + 1)
        elif obj.get("Type") == "Page" or "Contents" in obj:
            c = obj.get("Contents")
            refs = c if isinstance(c, list) else [c]
            pages.append("\n".join(streams.get(int(r), "")
                                   for r in refs if isinstance(r, _Ref)))

    # find /Root in the trailer dict (fall back to anywhere in the file)
    t = data.rfind("trailer")
    rm = (re.search(r"/Root\s+(\d+)\s+\d+\s+R\b", data[t:]) if t >= 0
          else None) or re.search(r"/Root\s+(\d+)\s+\d+\s+R\b", data)
    root = objs.get(int(rm.group(1))) if rm else None
    if isinstance(root, dict) and isinstance(root.get("Pages"), _Ref):
        walk(root["Pages"])
    if not pages:
        pages = list(streams.values())    # file order (dict preserves it)
    return pages


def _pdf_content_tokens(stream: str):
    """Content-stream tokenizer: yields ('s', bytes) for literal/hex
    strings, ('n', name), ('f', float), ('op', word); array/dict
    delimiters and comments are consumed silently."""
    i, n = 0, len(stream)
    while i < n:
        c = stream[i]
        if c in _PDF_WS:
            i += 1
        elif c == "%":                    # comment to end of line
            j = stream.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "(":
            body, i = _scan_literal(stream, i)
            yield ("s", _pdf_unescape(body))
        elif c == "<":
            if stream.startswith("<<", i):
                i += 2
            else:
                raw, i = _scan_hex(stream, i)
                yield ("s", raw)
        elif c == ">":
            i += 2 if stream.startswith(">>", i) else 1
        elif c == "/":
            m = _PDF_NAME.match(stream, i)
            yield ("n", m.group(1))
            i = m.end()
        elif c in "[]{}":
            i += 1
        else:
            m = _PDF_NUM.match(stream, i)
            if m:
                yield ("f", float(m.group()))
                i = m.end()
                continue
            m = _PDF_WORD.match(stream, i)
            if m:
                yield ("op", m.group())
                i = m.end()
                continue
            i += 1


def _pdf_parse_content(stream: str):
    """Yield (font_name, size, x, y_dev, text_bytes) per BT..ET block
    that shows text. Operand-stack walk of the text operators; Td/TD
    accumulate (real PDF line-move semantics), Tm sets absolutely."""
    font, size = "F1", 12.0
    x = y = 0.0
    stack: list = []
    shown: list = []
    in_bt = False
    for kind, val in _pdf_content_tokens(stream):
        if kind == "s":
            stack.append(("s", val))
        elif kind == "n":
            stack.append(("n", val))
        elif kind == "f":
            stack.append(("f", val))
        else:
            op = val
            if op == "BT":
                in_bt, x, y = True, 0.0, 0.0
                shown, stack = [], []
            elif op == "ET":
                if in_bt and shown:
                    yield (font, size, x, y, b"".join(shown))
                in_bt, shown, stack = False, [], []
            elif op == "Tf" and len(stack) >= 2:
                if stack[-1][0] == "f" and stack[-2][0] == "n":
                    font, size = stack[-2][1], stack[-1][1]
                stack = []
            elif op in ("Td", "TD") and len(stack) >= 2:
                if stack[-1][0] == "f" and stack[-2][0] == "f":
                    x += stack[-2][1]
                    y += stack[-1][1]
                stack = []
            elif op == "Tm" and len(stack) >= 6:
                if stack[-1][0] == "f" and stack[-2][0] == "f":
                    x, y = stack[-2][1], stack[-1][1]
                stack = []
            elif op == "Tj":
                if stack and stack[-1][0] == "s":
                    shown.append(stack[-1][1])
                stack = []
            elif op == "TJ":
                shown.extend(v for t, v in stack if t == "s")
                stack = []
            elif op == "T*":
                stack = []
            else:                        # any other operator clears operands
                stack = []


def extract_pdf(url: str, payload: bytes) -> KernelResult:
    data = payload.decode("latin-1")
    recs = []
    order = 0
    for pg, body in enumerate(_pdf_page_streams(data)):
        if "BT" not in body:
            continue
        for fname, fsize, bx, by, text_bytes in _pdf_parse_content(body):
            y_top = int(round(PDF_PAGE_H - by))
            recs.append((pg, y_top, int(round(bx)), order,
                         _pdf_role_for_font(fname, fsize),
                         text_bytes.decode("utf-8")))
            order += 1
    recs.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    kept = []
    for block_id, (pg, y, x, _o, role, text) in enumerate(recs):
        text = " ".join(text.split())
        if text:
            kept.append((block_id, role, f"pdf:pg{pg}:y{y}:x{x}", text))
    return _assemble(url, kept)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def _error_result(url: str, error: str) -> KernelResult:
    return KernelResult(url=url, title=None, text=None, spans=[],
                        n_blocks=0, error=error)


def extract_document(url: str, content: bytes | None) -> KernelResult:
    """Extract one document. Never raises."""
    if content is None:
        return _error_result(url, "null_content")
    try:
        if content.startswith(WDOC_MAGIC):
            res = extract_wdoc(url, content)
            res.charset = "binary"
            return res
        if content.startswith(PDF_MAGIC):
            res = extract_pdf(url, content)
            res.charset = "binary"
            return res
        text, cs = decode_html_bytes(content)   # total: never raises
        res = extract_html(url, text)
        res.charset = cs
        return res
    except UnicodeDecodeError as exc:           # WDOC utf-8 body only
        return _error_result(url, f"decode_error: {exc.reason}")
    except Exception as exc:  # noqa: BLE001 — log-and-continue policy (F6)
        return _error_result(url, f"{type(exc).__name__}: {exc}")
