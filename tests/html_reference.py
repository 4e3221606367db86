"""The html.parser reference engine for the HTML kernel.

``kernel._fast_extract`` is a hand-written scanner; this module drives
the same block rules from the stdlib ``html.parser`` event stream, one
handler per event. It is the oracle the differential tests in
``test_kernel.py`` compare the scanner against: both must return the
same kept blocks for every input.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from powerpoint_context_extractor_spark.kernel import (
    BLOCK_TAGS, DROP_TAGS, HEADING_TAGS, STRUCT_TAGS, VOID_TAGS, KernelResult,
    _assemble, _C0_STRIP, _is_boiler_attrs,
)


@dataclass
class _Block:
    tag: str
    path: str
    parts: list = field(default_factory=list)
    total_chars: int = 0  # non-whitespace chars
    link_chars: int = 0   # non-whitespace chars inside <a>


class _Extractor(HTMLParser):
    """Event-stream DOM walk; document order == event order (html.parser
    preserves serialization order, like the reference's `findall`,
    `notes/extractor.py:62`)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # stack frames: [tag, is_boiler_root, child_counter, path]
        self.stack: list = []
        self.drop_depth = 0
        self.a_depth = 0
        self.pre_depth = 0
        self.block: _Block | None = None
        self.blocks: list = []      # finalized candidate blocks (kept & dropped)
        self.kept: list = []        # (block_id, tag, path, rendered_text)
        self.next_id = 0
        self.root_children = 0

    # -- path helpers -------------------------------------------------
    def _child_ordinal(self) -> int:
        if self.stack:
            self.stack[-1][2] += 1
            return self.stack[-1][2]
        self.root_children += 1
        return self.root_children

    def _parent_path(self) -> str:
        return self.stack[-1][3] if self.stack else ""

    def _path_for(self, tag: str, ordinal: int) -> str:
        parent = self._parent_path()
        comp = f"{tag}:{ordinal}"
        return f"{parent}>{comp}" if parent else comp

    # -- block lifecycle ----------------------------------------------
    def _open_block(self, tag: str, path: str) -> None:
        if self.block is not None:
            self._flush_block()
        self.block = _Block(tag=tag, path=path)

    def _flush_block(self) -> None:
        b = self.block
        self.block = None
        if b is None:
            return
        raw = "".join(b.parts)
        # corpus hygiene: drop C0 control chars (NUL etc.) except the
        # whitespace ones the collapse/pre rules handle
        if not raw.isprintable():
            raw = _C0_STRIP("", raw)
        if b.tag == "pre":
            text = raw.strip()
        else:
            text = " ".join(raw.split())
        block_id = self.next_id
        self.next_id += 1
        self.blocks.append(b)
        if not text:
            return
        if b.tag in HEADING_TAGS:
            keep = True
        elif b.tag == "li":
            keep = 2 * b.link_chars <= b.total_chars
        else:
            keep = 3 * b.link_chars <= b.total_chars
        if keep:
            self.kept.append((block_id, b.tag, b.path, text))

    # -- parser events -------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            if self.block is not None and tag == "br":
                self.block.parts.append("\n" if self.pre_depth else " ")
            return
        boiler = False
        if self.drop_depth == 0:
            boiler = tag in DROP_TAGS or (bool(attrs)
                                          and _is_boiler_attrs(attrs))
        if self.drop_depth > 0 or boiler:
            if self.block is not None:
                self._flush_block()
            self.drop_depth += 1
            self.stack.append([tag, True, 0, self._parent_path()])
            return
        ordinal = self._child_ordinal()
        path = self._path_for(tag, ordinal)
        if tag == "a":
            self.a_depth += 1
        if tag in BLOCK_TAGS:
            self._open_block(tag, path)
            if tag == "pre":
                self.pre_depth += 1
        elif tag in STRUCT_TAGS:
            if self.block is not None:
                self._flush_block()
        # inline tags: keep current block open, text flows through
        self.stack.append([tag, False, 0, path])

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        # fast path: well-formed HTML closes the top of stack
        if self.stack and self.stack[-1][0] == tag:
            depth = len(self.stack) - 1
        else:
            # pop to the matching open tag if present (lenient recovery
            # keeps ordering stable under malformed HTML)
            depth = None
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i][0] == tag:
                    depth = i
                    break
            if depth is None:
                return  # stray end tag: ignore
        while len(self.stack) > depth:
            frame = self.stack.pop()
            ftag, fboiler = frame[0], frame[1]
            if fboiler:
                self.drop_depth -= 1
                continue
            if ftag == "a":
                self.a_depth -= 1
            if ftag in BLOCK_TAGS:
                if ftag == "pre":
                    self.pre_depth -= 1
                if self.block is not None:
                    self._flush_block()
            elif ftag in STRUCT_TAGS:
                if self.block is not None:
                    self._flush_block()

    def handle_data(self, data):
        if self.drop_depth > 0:
            return
        if not data:
            return
        if self.block is None:
            if not data.strip():
                return
            # anonymous block: bare text directly inside a structural tag
            self.block = _Block(tag="text", path=self._parent_path() + ">#text"
                                if self._parent_path() else "#text")
        self.block.parts.append(data)
        # non-whitespace char count; str.split() uses the same unicode
        # whitespace class as isspace() but runs in C (~40% of kernel
        # time went to a per-char generator here)
        n = sum(map(len, data.split()))
        self.block.total_chars += n
        if self.a_depth > 0:
            self.block.link_chars += n

    def close(self):
        super().close()
        self._flush_block()


def extract_html_reference(url: str, html_text: str) -> KernelResult:
    """``kernel.extract_html`` computed by the reference engine."""
    parser = _Extractor()
    parser.feed(html_text)
    parser.close()
    return _assemble(url, parser.kept)
