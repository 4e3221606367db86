"""Minimal real TIFF codec (pure stdlib) — the scanned-document /
archival format next to png.py / jpeg.py / gif.py. Unlike the other
codecs the container is a pointer machine: a header picks the byte
order (II little / MM big), then Image File Directories of 12-byte
tagged entries point at out-of-line values and strip data anywhere in
the file — the part naive parsers get wrong, and worth covering in
both endiannesses.

Subset (honest ValueError outside it): 8-bit grayscale or RGB,
strip layouts (RowsPerStrip + StripOffsets/StripByteCounts arrays,
SHORT or LONG) AND tiled layouts (r7: full tw x th tiles, zero-padded
edges, blitted by grid position), multi-page IFD chains (r7:
``decode_tiff_pages`` walks the chain with loop detection;
``decode_tiff`` returns page 0), PlanarConfiguration chunky,
Compression 1 (none), 5 (TIFF6 LZW, r7) with Predictor 1 or 2
(horizontal differencing), or 7 (new-style JPEG-in-TIFF, r7: each
strip is a complete baseline JPEG decoded by the in-repo jpeg.py —
gray, 8-aligned strip dims; tiles and shared JPEGTables raise).

TIFF LZW vs GIF LZW (gif.py) — the two deliberately share nothing,
because every detail flips: bits pack MSB-first (GIF: LSB-first);
symbols are always 8-bit so Clear=256/EOI=257 are fixed; and the code
width increments EARLY — when the next table slot reaches 2^width - 1,
not 2^width — the spec's famous off-by-one that every reader
implements (libtiff-compatible). Each strip is compressed
independently, so strips stay parallel decode units.
"""

from __future__ import annotations

import struct

from .limits import check_pixels

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BPS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_BYTES = 279
_TAG_PLANAR = 284
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_BYTES = 325

_TYPE_SIZES = {1: 1, 3: 2, 4: 4}          # BYTE, SHORT, LONG

_LZW_CLEAR, _LZW_EOI = 256, 257
_LZW_MAX_WIDTH = 12
_LZW_RESET_AT = 4094                       # libtiff's early-clear slot


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF6 LZW: MSB-first bit packing, 8-bit symbols, EARLY width
    change, clear at slot 4094. Widths are assigned by replaying the
    DECODER's table growth over the code stream (the decoder lags the
    encoder by one entry — per-code add starts at the second code
    after a clear — so deriving widths from the encoder's own table
    count is the classic off-by-one; same replay trick as gif.py)."""
    # phase 1: the raw code stream, from the encoder's own table
    codes = [_LZW_CLEAR]
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    buf = b""
    for b in data:
        nb = buf + bytes([b])
        if nb in table:
            buf = nb
            continue
        codes.append(table[buf])
        table[nb] = next_code
        next_code += 1
        if next_code == _LZW_RESET_AT:
            codes.append(_LZW_CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
        buf = bytes([b])
    if buf:
        codes.append(table[buf])
    codes.append(_LZW_EOI)
    # phase 2: widths by decoder replay (widen when the decoder's
    # next free slot hits 2^width - 1 — the early change)
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9
    dec_next = 258
    prev_seen = False
    for code in codes:
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        if code == _LZW_CLEAR:
            width, dec_next, prev_seen = 9, 258, False
        elif code == _LZW_EOI:
            break
        else:
            if prev_seen:
                dec_next += 1
            else:
                prev_seen = True
            if dec_next == (1 << width) - 1 and width < _LZW_MAX_WIDTH:
                width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def tiff_lzw_decode(data: bytes, n_expected: int) -> bytes:
    """Inverse of :func:`tiff_lzw_encode` (and of any libtiff-written
    stream in the same subset); stops at EOI or ``n_expected``."""
    out = bytearray()
    table: list = []
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while len(out) < n_expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("tiff: truncated LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == _LZW_EOI:
            break
        if not table:
            raise ValueError("tiff: LZW data before first clear code")
        if prev is None:
            if code >= len(table):
                raise ValueError("tiff: bad first code after clear")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]              # KwKwK
        else:
            raise ValueError("tiff: code beyond table")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
        # EARLY change: widen when the NEXT slot to fill == 2^width - 1
        if len(table) == (1 << width) - 1 and width < _LZW_MAX_WIDTH:
            width += 1
        prev = entry
    if len(out) < n_expected:
        raise ValueError("tiff: LZW stream ended short of pixel count")
    return bytes(out[:n_expected])


def _predict2_encode(rows: bytes, row_bytes: int, channels: int) -> bytes:
    """Predictor=2 horizontal differencing: each sample stores the
    delta to the previous sample of the SAME channel in the row."""
    out = bytearray(rows)
    for r0 in range(0, len(rows), row_bytes):
        for i in range(row_bytes - 1, channels - 1, -1):
            out[r0 + i] = (rows[r0 + i] - rows[r0 + i - channels]) & 0xFF
    return bytes(out)


def _predict2_decode(rows: bytearray, row_bytes: int,
                     channels: int) -> None:
    for r0 in range(0, len(rows), row_bytes):
        for i in range(channels, row_bytes):
            rows[r0 + i] = (rows[r0 + i] + rows[r0 + i - channels]) & 0xFF


def _build_page(width: int, height: int, pixels: bytes, channels: int,
                e: str, base: int, rows_per_strip: int,
                compression: int, predictor: int,
                tile: tuple | None) -> tuple:
    """One IFD's worth of a TIFF file at absolute offset ``base``:
    returns (page_bytes, absolute_ifd_offset, next_ptr_offset) where
    next_ptr_offset locates the 4-byte next-IFD pointer (written as 0
    here; a multi-page writer patches it)."""
    if channels not in (1, 3):
        raise ValueError("tiff: channels must be 1 or 3")
    if len(pixels) != width * height * channels:
        raise ValueError("tiff: pixels length != w*h*channels")
    if width <= 0 or height <= 0 or rows_per_strip <= 0:
        raise ValueError("tiff: bad dimensions")
    if compression not in (1, 5, 7) or predictor not in (1, 2):
        raise ValueError("tiff: compression must be 1/5/7, "
                         "predictor 1/2")
    if predictor == 2 and compression != 5:
        raise ValueError("tiff: predictor 2 requires LZW compression")
    if compression == 7:
        # new-style JPEG-in-TIFF (r7): each strip is a complete
        # baseline JPEG from the in-repo codec — gray only, strip
        # dims multiples of 8 (the codec's no-partial-MCU subset)
        if channels != 1:
            raise ValueError("tiff: JPEG-in-TIFF subset is grayscale")
        if tile is not None:
            raise ValueError("tiff: JPEG-in-TIFF subset is strips")
        if width % 8 or rows_per_strip % 8 or height % 8:
            raise ValueError("tiff: JPEG-in-TIFF needs 8-aligned "
                             "width/strip rows")
    row_bytes = width * channels
    chunks = []
    if tile is not None:
        tw, th = tile
        if tw <= 0 or th <= 0:
            raise ValueError("tiff: bad tile size")
        # tiles are FULL tw x th rasters; right/bottom edges pad with 0
        trow = tw * channels
        for ty0 in range(0, height, th):
            for tx0 in range(0, width, tw):
                t = bytearray(trow * th)
                for r in range(min(th, height - ty0)):
                    src = (ty0 + r) * row_bytes + tx0 * channels
                    n = min(tw, width - tx0) * channels
                    t[r * trow:r * trow + n] = pixels[src:src + n]
                raw = bytes(t)
                if predictor == 2:
                    raw = _predict2_encode(raw, trow, channels)
                if compression == 5:
                    raw = tiff_lzw_encode(raw)
                chunks.append(raw)
    else:
        for y0 in range(0, height, rows_per_strip):
            rows = min(rows_per_strip, height - y0)
            raw = pixels[y0 * row_bytes:(y0 + rows) * row_bytes]
            if predictor == 2:
                raw = _predict2_encode(raw, row_bytes, channels)
            if compression == 5:
                raw = tiff_lzw_encode(raw)
            elif compression == 7:
                from .jpeg import render_jpeg_gray
                raw = render_jpeg_gray(width, rows, raw)
            chunks.append(raw)
    # layout: chunk data | out-of-line arrays | IFD
    pos = base
    chunk_offsets = []
    for s in chunks:
        chunk_offsets.append(pos)
        pos += len(s)
    extra = bytearray()
    extra_base = pos

    def _put_array(values: list, fmt: str) -> int:
        nonlocal extra
        off = extra_base + len(extra)
        for v in values:
            extra += struct.pack(e + fmt, v)
        return off

    entries = []

    def entry(tag: int, typ: int, values: list) -> None:
        n = len(values)
        size = _TYPE_SIZES[typ] * n
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        if size <= 4:
            packed = b"".join(struct.pack(e + fmt, v) for v in values)
            packed += b"\x00" * (4 - len(packed))
            entries.append((tag, typ, n, packed))
        else:
            off = _put_array(values, fmt)
            entries.append((tag, typ, n,
                            struct.pack(e + "I", off)))

    entry(_TAG_WIDTH, 4, [width])
    entry(_TAG_HEIGHT, 4, [height])
    entry(_TAG_BPS, 3, [8] * channels)
    entry(_TAG_COMPRESSION, 3, [compression])
    entry(_TAG_PHOTOMETRIC, 3, [1 if channels == 1 else 2])
    entry(_TAG_SPP, 3, [channels])
    entry(_TAG_PLANAR, 3, [1])
    if tile is not None:
        entry(_TAG_TILE_WIDTH, 4, [tile[0]])
        entry(_TAG_TILE_LENGTH, 4, [tile[1]])
        entry(_TAG_TILE_OFFSETS, 4, chunk_offsets)
        entry(_TAG_TILE_BYTES, 4, [len(s) for s in chunks])
    else:
        entry(_TAG_STRIP_OFFSETS, 4, chunk_offsets)
        entry(_TAG_ROWS_PER_STRIP, 4, [rows_per_strip])
        entry(_TAG_STRIP_BYTES, 4, [len(s) for s in chunks])
    if predictor == 2:
        entry(_TAG_PREDICTOR, 3, [2])
    ifd_off = extra_base + len(extra)
    out = bytearray()
    for s in chunks:
        out += s
    out += extra
    out += struct.pack(e + "H", len(entries))
    for tag, typ, n, val4 in sorted(entries):
        out += struct.pack(e + "HHI", tag, typ, n) + val4
    next_ptr = base + len(out)
    out += struct.pack(e + "I", 0)             # next IFD (patchable)
    return bytes(out), ifd_off, next_ptr


def render_tiff(width: int, height: int, pixels: bytes,
                channels: int = 1, big_endian: bool = False,
                rows_per_strip: int = 4, compression: int = 1,
                predictor: int = 1,
                tile: tuple | None = None) -> bytes:
    """Encode 8-bit gray (channels=1) or RGB (3) pixels as a TIFF in
    either byte order; compression 1 (none) or 5 (LZW, r7),
    predictor 1 or 2 (LZW only, per spec); ``tile=(tw, th)`` (r7)
    writes a TILED layout (full tw x th tiles, zero-padded edges)
    instead of strips."""
    return render_tiff_pages(
        [(width, height, pixels, channels)], big_endian=big_endian,
        rows_per_strip=rows_per_strip, compression=compression,
        predictor=predictor, tile=tile)


def render_tiff_pages(pages: list, big_endian: bool = False,
                      rows_per_strip: int = 4, compression: int = 1,
                      predictor: int = 1,
                      tile: tuple | None = None) -> bytes:
    """Multi-page TIFF (r7): ``pages`` is a list of (width, height,
    pixels, channels); IFDs chain through their next pointers — the
    scanned-document shape (one page per sheet)."""
    if not pages:
        raise ValueError("tiff: at least one page required")
    e = ">" if big_endian else "<"
    out = bytearray()
    out += (b"MM" if big_endian else b"II")
    out += struct.pack(e + "H", 42)
    head_ptr = len(out)
    out += struct.pack(e + "I", 0)             # first-IFD ptr (patched)
    prev_ptr = None
    for (w, h, px, ch) in pages:
        body, ifd_off, next_ptr = _build_page(
            w, h, px, ch, e, len(out), rows_per_strip, compression,
            predictor, tile)
        out += body
        patch_at = head_ptr if prev_ptr is None else prev_ptr
        out[patch_at:patch_at + 4] = struct.pack(e + "I", ifd_off)
        prev_ptr = next_ptr
    return bytes(out)


def _read_ifd(data: bytes, e: str, ifd_off: int) -> tuple:
    """-> (tags dict, next_ifd_offset)."""
    if ifd_off + 2 > len(data):
        raise ValueError("tiff: truncated IFD offset")
    (n_entries,) = struct.unpack(e + "H", data[ifd_off:ifd_off + 2])
    tags = {}
    for i in range(n_entries):
        o = ifd_off + 2 + 12 * i
        if o + 12 > len(data):
            raise ValueError("tiff: truncated IFD entry")
        tag, typ, n = struct.unpack(e + "HHI", data[o:o + 8])
        if typ not in _TYPE_SIZES:
            continue                           # unknown type: skip tag
        size = _TYPE_SIZES[typ] * n
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        if size <= 4:
            raw = data[o + 8:o + 8 + size]
        else:
            (voff,) = struct.unpack(e + "I", data[o + 8:o + 12])
            raw = data[voff:voff + size]
            if len(raw) != size:
                raise ValueError("tiff: out-of-line value truncated")
        tags[tag] = [struct.unpack(e + fmt,
                                   raw[k * _TYPE_SIZES[typ]:
                                       (k + 1) * _TYPE_SIZES[typ]])[0]
                     for k in range(n)]
    nxt_off = ifd_off + 2 + 12 * n_entries
    nxt = 0
    if nxt_off + 4 <= len(data):
        (nxt,) = struct.unpack(e + "I", data[nxt_off:nxt_off + 4])
    return tags, nxt


def _decode_page(data: bytes, e: str, tags: dict, kept: int) -> tuple:
    """One page, refused before any allocation when its pixels beside
    the ``kept`` pixels of earlier pages exceed ``limits.MAX_PIXELS``."""
    tiled = _TAG_TILE_OFFSETS in tags
    req = ((_TAG_TILE_WIDTH, _TAG_TILE_LENGTH, _TAG_TILE_OFFSETS,
            _TAG_TILE_BYTES) if tiled
           else (_TAG_STRIP_OFFSETS, _TAG_STRIP_BYTES))
    for t in (_TAG_WIDTH, _TAG_HEIGHT) + req:
        if t not in tags:
            raise ValueError(f"tiff: missing required tag {t}")
    width = tags[_TAG_WIDTH][0]
    height = tags[_TAG_HEIGHT][0]
    channels = tags.get(_TAG_SPP, [1])[0]
    comp = tags.get(_TAG_COMPRESSION, [1])[0]
    bps = tags.get(_TAG_BPS, [8])
    planar = tags.get(_TAG_PLANAR, [1])[0]
    predictor = tags.get(_TAG_PREDICTOR, [1])[0]
    if comp not in (1, 5, 7):
        raise ValueError(f"tiff: compression {comp} unsupported "
                         "(subset is none/LZW/JPEG)")
    if comp == 7 and (_TAG_TILE_OFFSETS in tags or channels != 1):
        raise ValueError("tiff: JPEG-in-TIFF subset is gray strips")
    if predictor not in (1, 2):
        raise ValueError(f"tiff: predictor {predictor} unsupported")
    if channels not in (1, 3) or any(b != 8 for b in bps) or planar != 1:
        raise ValueError("tiff: subset is 8-bit chunky gray/RGB")
    check_pixels("tiff", width, height, kept)
    row_bytes = width * channels
    if tiled:
        tw, th = tags[_TAG_TILE_WIDTH][0], tags[_TAG_TILE_LENGTH][0]
        if tw <= 0 or th <= 0:
            raise ValueError("tiff: bad tile size")
        check_pixels("tiff", tw, th)
        trow = tw * channels
        across = (width + tw - 1) // tw
        down = (height + th - 1) // th
        offs, cnts = tags[_TAG_TILE_OFFSETS], tags[_TAG_TILE_BYTES]
        if len(offs) != across * down:
            raise ValueError("tiff: tile count != grid size")
        px = bytearray(width * height * channels)
        for ti, (off, cnt) in enumerate(zip(offs, cnts)):
            chunk = data[off:off + cnt]
            if len(chunk) != cnt:
                raise ValueError("tiff: truncated tile")
            if comp == 5:
                raw = bytearray(tiff_lzw_decode(chunk, trow * th))
                if predictor == 2:
                    _predict2_decode(raw, trow, channels)
                chunk = bytes(raw)
            if len(chunk) < trow * th:
                raise ValueError("tiff: tile shorter than tw*th")
            ty0 = (ti // across) * th
            tx0 = (ti % across) * tw
            for r in range(min(th, height - ty0)):
                dst = (ty0 + r) * row_bytes + tx0 * channels
                n = min(tw, width - tx0) * channels
                px[dst:dst + n] = chunk[r * trow:r * trow + n]
        return width, height, channels, bytes(px)
    rps = tags.get(_TAG_ROWS_PER_STRIP, [height])[0]
    px = bytearray()
    offsets = tags[_TAG_STRIP_OFFSETS]
    for s, (off, cnt) in enumerate(zip(offsets, tags[_TAG_STRIP_BYTES])):
        strip = data[off:off + cnt]
        if len(strip) != cnt:
            raise ValueError("tiff: truncated strip")
        if comp == 5:
            rows = min(rps, height - s * rps)
            if rows <= 0:
                raise ValueError("tiff: more strips than image rows")
            raw = bytearray(tiff_lzw_decode(strip, rows * row_bytes))
            if predictor == 2:
                _predict2_decode(raw, row_bytes, channels)
            strip = bytes(raw)
        elif comp == 7:
            from .jpeg import decode_jpeg
            rows = min(rps, height - s * rps)
            jw, jh, jnc, jpx = decode_jpeg(strip)
            if (jw, jh, jnc) != (width, rows, 1):
                raise ValueError("tiff: JPEG strip dims mismatch")
            strip = jpx
        px += strip
    if len(px) < width * height * channels:
        raise ValueError("tiff: strips shorter than image")
    return width, height, channels, bytes(px[:width * height * channels])


def decode_tiff_pages(data: bytes) -> list:
    """Full multi-page decode (r7): walks the IFD chain and returns
    [(width, height, channels, pixel bytes), ...] in page order. The
    pages together hold at most ``limits.MAX_PIXELS`` pixels."""
    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("tiff: bad byte-order mark")
    e = "<" if data[:2] == b"II" else ">"
    (magic,) = struct.unpack(e + "H", data[2:4])
    if magic != 42:
        raise ValueError("tiff: bad magic number")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    pages = []
    kept = 0
    seen = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("tiff: IFD chain loops")
        seen.add(ifd_off)
        tags, ifd_off = _read_ifd(data, e, ifd_off)
        pages.append(_decode_page(data, e, tags, kept))
        kept += pages[-1][0] * pages[-1][1]
    if not pages:
        raise ValueError("tiff: no IFDs")
    return pages


def decode_tiff(data: bytes) -> tuple:
    """-> (width, height, channels, pixel bytes) of the FIRST page
    (r7: later pages no longer raise — read them via
    :func:`decode_tiff_pages`)."""
    return decode_tiff_pages(data)[0]
