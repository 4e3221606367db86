"""Minimal real WebP-lossless (VP8L) codec — pure stdlib, built from
the public bitstream spec (the last classic web image format next to
png.py / jpeg.py / gif.py; reference analog: the raster image handling
in /root/reference/pptx_extractor/slides/extractor.py:165-293).

Decoder subset (honest ValueError outside it): RIFF/WEBP container
with one VP8L chunk; entropy-coded ARGB image with a single prefix
group or META prefix-code groups (the spatial entropy switching
via a subsampled huffman image), optional color cache, LZ77 backward
references (both the plain >120 distance codes and the 120-entry
2D neighbor map), and ALL FOUR transforms — predictor (14 modes),
color (per-block cross-channel deltas), subtract-green, and
color-indexing incl. sub-8-bit pixel bundling for palettes <= 16.
VP8 (lossy) and VP8X (extended) chunks raise.

Encoder twin: single prefix group, canonical prefix codes built from
histograms (code-length code machinery, rep/zero-run symbols
16/17/18), optional subtract-green, optional greedy LZ77 with plain
distance codes, optional color cache (replaying the decoder's
insert-on-every-pixel discipline; orthogonal to LZ77 in the twin),
optional palette (color-indexing) with bundling. The twin exists so
every decoder path is roundtrip-pinned; compression ratio is not the
goal.

Bit-level notes (the parts everyone gets wrong):
- the stream is LSB-first per byte (like GIF, unlike JPEG/FLAC);
  ``ReadBits(n)`` returns the next n bits with the FIRST-read bit as
  the LSB of the value;
- prefix-code bits are read ONE AT A TIME walking the canonical tree,
  so the first-read bit is the code's top branch — the encoder emits
  each code MSB-first (the DEFLATE convention);
- canonical codes assign values in (length, symbol) order;
- the code-length code's 19 lengths arrive in the fixed permuted
  order kCodeLengthCodeOrder, each 3 bits;
- length/distance values use the 4-linear + exponential prefix-value
  scheme: sym < 4 -> sym + 1, else extra = (sym-2)>>1, value =
  ((2 + (sym&1)) << extra) + ReadBits(extra) + 1;
- distance codes 1..120 map through the 2D neighbor table (sorted by
  squared distance, larger dy first, then smaller |dx|, positive dx
  before negative — the spec's published table order), codes > 120
  are scanline distances offset by 120.
"""

from __future__ import annotations

import struct

_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16,
                      6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_MAX_CODE_DEPTH = 15
_CACHE_MUL = 0x1E35A7BD


def _neighbor_map() -> list:
    """The 120 closest (dx, dy) offsets in the spec's published
    order: ascending squared distance, then LARGER dy first, then
    smaller |dx|, positive dx before negative."""
    cands = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            if dy == 0 or dx == 0 or True:
                cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                              abs(p[0]), p[0] < 0))
    return cands[:120]


_NEIGHBORS = _neighbor_map()


class _Reader:
    def __init__(self, data: bytes, bit: int = 0) -> None:
        self.data = data
        self.bit = bit

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.bit >> 3
            if byte >= len(self.data):
                raise ValueError("vp8l: truncated bitstream")
            v |= ((self.data[byte] >> (self.bit & 7)) & 1) << i
            self.bit += 1
        return v


class _Writer:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n):
            self.acc |= ((v >> i) & 1) << self.n
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0

    def code(self, bitsval: int, length: int) -> None:
        """Emit a prefix code MSB-first (tree-walk order)."""
        for i in range(length - 1, -1, -1):
            self.bits((bitsval >> i) & 1, 1)

    def bytes(self) -> bytes:
        if self.n:
            self.out.append(self.acc)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

def _canonical_codes(lengths: list) -> dict:
    """symbol -> (bits, length), canonical by (length, symbol)."""
    syms = sorted((ln, s) for s, ln in enumerate(lengths) if ln > 0)
    codes = {}
    code = 0
    prev_len = 0
    for ln, s in syms:
        code <<= (ln - prev_len)
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return codes


class _PrefixDecoder:
    """Tree-walk decoder over canonical codes (bit-at-a-time, first
    bit = top branch)."""

    def __init__(self, lengths: list) -> None:
        live = [(s, ln) for s, ln in enumerate(lengths) if ln > 0]
        if not live:
            raise ValueError("vp8l: empty prefix code")
        if len(live) == 1:
            self.single = live[0][0]
            self.table = None
            return
        self.single = None
        # completeness check (kraft)
        kraft = sum(1 << (_MAX_CODE_DEPTH - ln) for _, ln in live)
        if kraft != 1 << _MAX_CODE_DEPTH:
            raise ValueError("vp8l: prefix code not complete")
        self.table = {}
        for s, (bits, ln) in _canonical_codes(lengths).items():
            self.table[(bits, ln)] = s

    def read(self, r: _Reader) -> int:
        if self.single is not None:
            return self.single
        bits = 0
        ln = 0
        while True:
            bits = (bits << 1) | r.bits(1)
            ln += 1
            if ln > _MAX_CODE_DEPTH:
                raise ValueError("vp8l: prefix code overrun")
            s = self.table.get((bits, ln))
            if s is not None:
                return s


def _read_prefix_code(r: _Reader, alphabet_size: int) -> _PrefixDecoder:
    if r.bits(1):                              # simple code
        n_sym = r.bits(1) + 1
        if r.bits(1):                          # first symbol is 8-bit
            sym0 = r.bits(8)
        else:
            sym0 = r.bits(1)
        lengths = [0] * alphabet_size
        if n_sym == 2:
            sym1 = r.bits(8)
            if sym0 == sym1 or max(sym0, sym1) >= alphabet_size:
                raise ValueError("vp8l: bad simple code symbols")
            lengths[sym0] = lengths[sym1] = 1
        else:
            if sym0 >= alphabet_size:
                raise ValueError("vp8l: bad simple code symbol")
            lengths[sym0] = 1
            dec = _PrefixDecoder.__new__(_PrefixDecoder)
            dec.single = sym0
            dec.table = None
            return dec
        return _PrefixDecoder(lengths)
    n_codes = r.bits(4) + 4
    if n_codes > len(_CODE_LENGTH_ORDER):
        raise ValueError("vp8l: too many code-length codes")
    cl_lengths = [0] * len(_CODE_LENGTH_ORDER)
    for i in range(n_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = r.bits(3)
    cl_dec = _PrefixDecoder(cl_lengths)
    if r.bits(1):                              # explicit max symbol
        length_nbits = 2 + 2 * r.bits(3)
        max_symbol = 2 + r.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl_dec.read(r)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + r.bits(2)
            for _ in range(rep):
                if i >= alphabet_size:
                    raise ValueError("vp8l: code-length repeat overrun")
                lengths[i] = prev
                i += 1
        elif s == 17:
            i += 3 + r.bits(3)                 # short zero run
        else:
            i += 11 + r.bits(7)                # long zero run
        if i > alphabet_size:
            raise ValueError("vp8l: code-length run overrun")
    return _PrefixDecoder(lengths)


def _value_from_prefix(r: _Reader, sym: int) -> int:
    """The 4-linear + exponential length/distance value scheme."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + r.bits(extra) + 1


def _prefix_for_value(v: int) -> tuple:
    """Inverse of :func:`_value_from_prefix`: (symbol, extra_bits,
    extra_val)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    nbits = x.bit_length() - 1
    sym = 2 * nbits + ((x >> (nbits - 1)) & 1)
    extra = nbits - 1
    extra_val = x & ((1 << extra) - 1)
    return sym, extra, extra_val

# ---------------------------------------------------------------------------
# entropy-coded ARGB image
# ---------------------------------------------------------------------------

def _decode_entropy_image(r: _Reader, w: int, h: int,
                          top_level: bool) -> list:
    """-> list of w*h ARGB uint32 pixels. Top-level images may carry
    META PREFIX CODES (r7): a subsampled huffman image whose pixel
    (red << 8 | green) picks which of N prefix-code GROUPS decodes
    each 2^bits x 2^bits tile — the spec's spatial entropy switching;
    the group is selected at each SYMBOL's starting position."""
    cache_bits = 0
    if r.bits(1):
        cache_bits = r.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color cache size")
    meta = None
    mbits = 0
    mw = 0
    n_groups = 1
    if top_level and r.bits(1):
        mbits = r.bits(3) + 2
        mw = (w + (1 << mbits) - 1) >> mbits
        mh = (h + (1 << mbits) - 1) >> mbits
        mimg = _decode_entropy_image(r, mw, mh, top_level=False)
        meta = [(p >> 8) & 0xFFFF for p in mimg]
        n_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _gi in range(n_groups):
        groups.append((_read_prefix_code(r, 256 + 24 + cache_size),
                       _read_prefix_code(r, 256),
                       _read_prefix_code(r, 256),
                       _read_prefix_code(r, 256),
                       _read_prefix_code(r, 40)))
    green, red, blue, alpha, dist = groups[0]
    cache = [0] * cache_size
    out = []
    n = w * h
    while len(out) < n:
        if meta is not None:
            y, x = divmod(len(out), w)
            gi = meta[(y >> mbits) * mw + (x >> mbits)]
            green, red, blue, alpha, dist = groups[gi]
        s = green.read(r)
        if s < 256:
            g = s
            rr = red.read(r)
            b = blue.read(r)
            a = alpha.read(r)
            px = (a << 24) | (rr << 16) | (g << 8) | b
            out.append(px)
            if cache_size:
                cache[(_CACHE_MUL * px & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
        elif s < 280:
            length = _value_from_prefix(r, s - 256)
            dcode = _value_from_prefix(r, dist.read(r))
            if dcode > 120:
                d = dcode - 120
            else:
                dx, dy = _NEIGHBORS[dcode - 1]
                d = dy * w + dx
                if d < 1:
                    d = 1
            if d > len(out):
                raise ValueError("vp8l: backref before image start")
            if len(out) + length > n:
                raise ValueError("vp8l: backref past image end")
            for _ in range(length):
                px = out[-d]
                out.append(px)
                if cache_size:
                    cache[(_CACHE_MUL * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
        else:
            if not cache_size or s - 280 >= cache_size:
                raise ValueError("vp8l: cache index without cache")
            out.append(cache[s - 280])
    return out


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------

def _chan(px: int) -> tuple:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, \
        px & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) \
        | (b & 0xFF)


def _avg2(p: int, q: int) -> int:
    pa, pr, pg, pb = _chan(p)
    qa, qr, qg, qb = _chan(q)
    return _pack((pa + qa) >> 1, (pr + qr) >> 1, (pg + qg) >> 1,
                 (pb + qb) >> 1)


def _select(top: int, left: int, topleft: int) -> int:
    d = 0
    for sh in (24, 16, 8, 0):
        a = (top >> sh) & 0xFF
        b = (left >> sh) & 0xFF
        c = (topleft >> sh) & 0xFF
        d += abs(b - c) - abs(a - c)
    return top if d <= 0 else left


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(left: int, top: int, topleft: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        v = _clamp(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)
                   - ((topleft >> sh) & 0xFF))
        out |= v << sh
    return out


def _cas_half(ave: int, topleft: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (topleft >> sh) & 0xFF
        diff = a - b
        # C truncating division by 2 (toward zero)
        half = diff // 2 if diff >= 0 else -((-diff) // 2)
        out |= _clamp(a + half) << sh
    return out


def _predict(mode: int, left: int, top: int, topleft: int,
             topright: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return topright
    if mode == 4:
        return topleft
    if mode == 5:
        return _avg2(_avg2(left, topright), top)
    if mode == 6:
        return _avg2(left, topleft)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(topleft, top)
    if mode == 9:
        return _avg2(top, topright)
    if mode == 10:
        return _avg2(_avg2(left, topleft), _avg2(top, topright))
    if mode == 11:
        return _select(top, left, topleft)
    if mode == 12:
        return _cas_full(left, top, topleft)
    if mode == 13:
        return _cas_half(_avg2(left, top), topleft)
    raise ValueError(f"vp8l: bad predictor mode {mode}")


def _inverse_predictor(px: list, w: int, h: int, sub: list,
                       size_bits: int) -> None:
    sw = (w + (1 << size_bits) - 1) >> size_bits
    for i in range(w * h):
        y, x = divmod(i, w)
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - w]
        else:
            mode = (sub[(y >> size_bits) * sw + (x >> size_bits)]
                    >> 8) & 0xFF
            # top-right of the last column wraps to this row's x=0,
            # which is already reconstructed (index math: i-w+1 = y*w)
            pred = _predict(mode, px[i - 1], px[i - w], px[i - w - 1],
                            px[i - w + 1])
        a0, r0, g0, b0 = _chan(px[i])
        a1, r1, g1, b1 = _chan(pred)
        px[i] = _pack(a0 + a1, r0 + r1, g0 + g1, b0 + b1)


def _sign8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _ctd(t: int, c: int) -> int:
    return (_sign8(t) * _sign8(c)) >> 5


def _inverse_color(px: list, w: int, h: int, sub: list,
                   size_bits: int) -> None:
    sw = (w + (1 << size_bits) - 1) >> size_bits
    for i in range(w * h):
        y, x = divmod(i, w)
        code = sub[(y >> size_bits) * sw + (x >> size_bits)]
        g2r = code & 0xFF                      # blue byte
        g2b = (code >> 8) & 0xFF               # green byte
        r2b = (code >> 16) & 0xFF              # red byte
        a, r, g, b = _chan(px[i])
        r = (r + _ctd(g2r, g)) & 0xFF
        b = (b + _ctd(g2b, g) + _ctd(r2b, r)) & 0xFF
        px[i] = _pack(a, r, g, b)


def _inverse_subtract_green(px: list) -> None:
    for i, p in enumerate(px):
        a, r, g, b = _chan(p)
        px[i] = _pack(a, r + g, g, b + g)


def _palette_width_bits(size: int) -> int:
    if size <= 2:
        return 3
    if size <= 4:
        return 2
    if size <= 16:
        return 1
    return 0


def decode_webp(data: bytes) -> tuple:
    """-> (width, height, 4, rgba bytes)."""
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("webp: bad RIFF container")
    fourcc = data[12:16]
    if fourcc in (b"VP8 ", b"VP8X"):
        raise ValueError(f"webp: {fourcc.decode().strip()} (lossy/"
                         "extended) unsupported; subset is VP8L")
    if fourcc != b"VP8L":
        raise ValueError("webp: missing VP8L chunk")
    (clen,) = struct.unpack("<I", data[16:20])
    payload = data[20:20 + clen]
    if len(payload) != clen:
        raise ValueError("webp: truncated VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("vp8l: bad signature byte")
    r = _Reader(payload, bit=8)
    w = r.bits(14) + 1
    h = r.bits(14) + 1
    r.bits(1)                                  # alpha hint
    if r.bits(3) != 0:
        raise ValueError("vp8l: unknown version")
    # transforms (at most one of each kind), inverses applied in
    # reverse read order; each tuple carries the image width in
    # effect WHEN THE TRANSFORM WAS READ — color indexing narrows the
    # width for everything read after it, and by inverse time the
    # unbundle has restored exactly the width each earlier transform
    # saw, so the inverse must run at the read-time width, not the
    # final one
    transforms = []
    seen = set()
    palette = None
    eff_w = w
    while r.bits(1):
        t = r.bits(2)
        if t in seen:
            raise ValueError("vp8l: duplicate transform")
        seen.add(t)
        if t == 0 or t == 1:                   # predictor / color
            size_bits = r.bits(3) + 2
            sw = (eff_w + (1 << size_bits) - 1) >> size_bits
            sh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_entropy_image(r, sw, sh, top_level=False)
            transforms.append((t, size_bits, sub, eff_w))
        elif t == 2:                           # subtract green
            transforms.append((2, None, None, eff_w))
        else:                                  # color indexing
            psize = r.bits(8) + 1
            praw = _decode_entropy_image(r, psize, 1, top_level=False)
            palette = []
            prev = 0
            for e in praw:                     # componentwise deltas
                pa = ((prev >> 24) + (e >> 24)) & 0xFF
                pr = (((prev >> 16) & 0xFF) + ((e >> 16) & 0xFF)) & 0xFF
                pg = (((prev >> 8) & 0xFF) + ((e >> 8) & 0xFF)) & 0xFF
                pb = ((prev & 0xFF) + (e & 0xFF)) & 0xFF
                prev = _pack(pa, pr, pg, pb)
                palette.append(prev)
            wb = _palette_width_bits(psize)
            eff_w = (w + (1 << wb) - 1) >> wb
            transforms.append((3, wb, palette, eff_w))
    px = _decode_entropy_image(r, eff_w, h, top_level=True)
    for t, arg, sub, tw in reversed(transforms):
        if t == 0:
            _inverse_predictor(px, tw, h, sub, arg)
        elif t == 1:
            _inverse_color(px, tw, h, sub, arg)
        elif t == 2:
            _inverse_subtract_green(px)
        else:                                  # unbundle + palette
            wb = arg
            per = 1 << wb
            bits_px = 8 >> wb
            mask = (1 << bits_px) - 1
            flat = []
            for y in range(h):
                row = px[y * tw:(y + 1) * tw]
                cnt = 0
                for p in row:
                    g = (p >> 8) & 0xFF
                    for j in range(per):
                        if cnt >= w:
                            break
                        idx = (g >> (j * bits_px)) & mask
                        if idx >= len(sub):
                            raise ValueError(
                                "vp8l: palette index out of range")
                        flat.append(sub[idx])
                        cnt += 1
            px = flat
    if len(px) != w * h:
        raise ValueError("vp8l: pixel count mismatch")
    out = bytearray()
    for p in px:
        a, rr, g, b = _chan(p)
        out += bytes((rr, g, b, a))
    return w, h, 4, bytes(out)


# ---------------------------------------------------------------------------
# encoder twin
# ---------------------------------------------------------------------------

def _huffman_lengths(hist: dict) -> dict:
    """Code lengths from a histogram (>= 2 symbols); frequencies are
    halved and rebuilt if the tree exceeds the depth cap."""
    import heapq
    import itertools
    freqs = dict(hist)
    while True:
        counter = itertools.count()
        heap = [(f, next(counter), s) for s, f in freqs.items()]
        heapq.heapify(heap)
        parents: dict = {}
        while len(heap) > 1:
            f1, _, n1 = heapq.heappop(heap)
            f2, _, n2 = heapq.heappop(heap)
            node = ("n", len(parents))
            parents[node] = (n1, n2)
            heapq.heappush(heap, (f1 + f2, next(counter), node))
        lengths = {}
        stack = [(heap[0][2], 0)]
        while stack:
            node, d = stack.pop()
            if node in parents:
                a, b = parents[node]
                stack.append((a, d + 1))
                stack.append((b, d + 1))
            else:
                lengths[node] = max(d, 1)
        if max(lengths.values()) <= _MAX_CODE_DEPTH:
            return lengths
        freqs = {s: (f + 1) // 2 for s, f in freqs.items()}


def _write_prefix_code(w: _Writer, hist: dict,
                       alphabet_size: int) -> dict:
    """Write one prefix code for ``hist``; returns symbol ->
    (bits, length) for emission ((0, 0) for a single-symbol code)."""
    used = sorted(hist)
    if not used:
        used = [0]
        hist = {0: 1}
    if len(used) <= 2 and used[-1] <= 255:
        w.bits(1, 1)                           # simple
        w.bits(len(used) - 1, 1)
        if used[0] > 1:
            w.bits(1, 1)
            w.bits(used[0], 8)
        else:
            w.bits(0, 1)
            w.bits(used[0], 1)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        w.bits(used[1], 8)
        # canonical over two length-1 symbols: smaller symbol gets 0
        return {used[0]: (0, 1), used[1]: (1, 1)}
    w.bits(0, 1)                               # full code-length coding
    lengths_map = _huffman_lengths(hist)
    lengths = [lengths_map.get(s, 0) for s in range(alphabet_size)]
    # RLE the length sequence with 17/18 zero runs (16 unused)
    seq: list = []
    i = 0
    while i < alphabet_size:
        if lengths[i] == 0:
            j = i
            while j < alphabet_size and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                n = min(run, 138)
                seq.append((18, n - 11, 7))
                run -= n
            while run >= 3:
                n = min(run, 10)
                seq.append((17, n - 3, 3))
                run -= n
            for _ in range(run):
                seq.append((0, 0, 0))
            i = j
        else:
            seq.append((lengths[i], 0, 0))
            i += 1
    cl_hist: dict = {}
    for s, _e, _n in seq:
        cl_hist[s] = cl_hist.get(s, 0) + 1
    if len(cl_hist) == 1:
        cl_codes = {next(iter(cl_hist)): (0, 0)}
        cl_lengths = {next(iter(cl_hist)): 1}
    else:
        cl_lengths = _huffman_lengths(cl_hist)
        arr = [cl_lengths.get(s, 0) for s in range(19)]
        cl_codes = _canonical_codes(arr)
    w.bits(15, 4)                              # all 19 cl lengths
    for s in _CODE_LENGTH_ORDER:
        w.bits(cl_lengths.get(s, 0), 3)
    w.bits(0, 1)                               # no explicit max symbol
    for s, extra, nbits in seq:
        cb, cl = cl_codes[s]
        w.code(cb, cl)
        if nbits:
            w.bits(extra, nbits)
    return _canonical_codes(lengths)


# Largest plain distance code (d + 120) whose prefix symbol fits the
# 40-symbol distance alphabet: _prefix_for_value(v) yields symbol 39
# for v = 1 << 20 and symbol 40 just past it, so matches farther than
# this must be dropped (a 16384x16384 image can exceed it).
_MAX_COPY_DIST = (1 << 20) - 120


def _tokenize(px: list, use_lz77: bool) -> list:
    """-> list of ('lit', argb) / ('copy', length, distance)."""
    if not use_lz77:
        return [("lit", p) for p in px]
    toks = []
    last: dict = {}
    i = 0
    n = len(px)
    while i < n:
        cand = last.get(px[i])
        if cand is not None and i - cand <= _MAX_COPY_DIST:
            d = i - cand
            ln = 0
            while (i + ln < n and ln < 4096
                   and px[i + ln] == px[cand + ln]):
                ln += 1
            if ln >= 3:
                toks.append(("copy", ln, d))
                for j in range(i, i + ln):
                    last[px[j]] = j
                i += ln
                continue
        last[px[i]] = i
        toks.append(("lit", px[i]))
        i += 1
    return toks


def _encode_entropy_image(w: _Writer, px: list, top_level: bool,
                          use_lz77: bool = False,
                          cache_bits: int = 0) -> None:
    if cache_bits:
        w.bits(1, 1)
        w.bits(cache_bits, 4)
    else:
        w.bits(0, 1)                           # no color cache
    if top_level:
        w.bits(0, 1)                           # no meta prefix
    if cache_bits and use_lz77:
        # copies would also have to replay cache inserts; the twin
        # keeps the two features orthogonal (the DECODER handles both
        # together — each is pinned by its own roundtrip)
        raise ValueError("webp: encoder cache excludes lz77")
    toks = _tokenize(px, use_lz77)
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_size:
        # rewrite literals whose pixel sits in the running cache as
        # cache references, replaying the decoder's
        # insert-on-every-pixel discipline
        cache = [None] * cache_size
        toks2 = []
        for t in toks:
            p = t[1]
            slot = (_CACHE_MUL * p & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[slot] == p:
                toks2.append(("cache", slot))
            else:
                toks2.append(t)
            cache[slot] = p
        toks = toks2
    gh: dict = {}
    rh: dict = {}
    bh: dict = {}
    ah: dict = {}
    dh: dict = {}
    for t in toks:
        if t[0] == "lit":
            a, r, g, b = _chan(t[1])
            gh[g] = gh.get(g, 0) + 1
            rh[r] = rh.get(r, 0) + 1
            bh[b] = bh.get(b, 0) + 1
            ah[a] = ah.get(a, 0) + 1
        elif t[0] == "cache":
            gh[280 + t[1]] = gh.get(280 + t[1], 0) + 1
        else:
            ls, _, _ = _prefix_for_value(t[1])
            gh[256 + ls] = gh.get(256 + ls, 0) + 1
            ds, _, _ = _prefix_for_value(t[2] + 120)
            dh[ds] = dh.get(ds, 0) + 1
    green = _write_prefix_code(w, gh, 256 + 24 + cache_size)
    red = _write_prefix_code(w, rh, 256)
    blue = _write_prefix_code(w, bh, 256)
    alpha = _write_prefix_code(w, ah, 256)
    dist = _write_prefix_code(w, dh, 40)
    for t in toks:
        if t[0] == "lit":
            a, r, g, b = _chan(t[1])
            w.code(*green[g])
            w.code(*red[r])
            w.code(*blue[b])
            w.code(*alpha[a])
        elif t[0] == "cache":
            w.code(*green[280 + t[1]])
        else:
            ls, extra, ebits = _prefix_for_value(t[1])
            w.code(*green[256 + ls])
            if ls >= 4:
                w.bits(ebits, (ls - 2) >> 1)
            ds, dextra, dbits = _prefix_for_value(t[2] + 120)
            w.code(*dist[ds])
            if ds >= 4:
                w.bits(dbits, (ds - 2) >> 1)


def render_webp(width: int, height: int, rgba: bytes,
                subtract_green: bool = False,
                predictor_mode: int | None = None,
                color_mul: tuple | None = None,
                use_palette: bool = False,
                use_lz77: bool = False,
                cache_bits: int = 0,
                meta_groups: int | None = None,
                pred_size_bits: int = 2) -> bytes:
    """Encode RGBA pixels as a lossless WebP (VP8L). Transforms are
    applied forward in the order [subtract-green, color, predictor]
    (palette is exclusive of the others) and written in that order,
    so the decoder's reverse-order inverses undo them exactly."""
    if len(rgba) != width * height * 4:
        raise ValueError("webp: rgba length != w*h*4")
    if not (1 <= width <= 1 << 14 and 1 <= height <= 1 << 14):
        raise ValueError("webp: dimensions out of range")
    if use_palette and (subtract_green or predictor_mode is not None
                        or color_mul is not None):
        raise ValueError("webp: palette excludes other transforms")
    px = [_pack(rgba[i + 3], rgba[i], rgba[i + 1], rgba[i + 2])
          for i in range(0, len(rgba), 4)]
    w = _Writer()
    w.bits(0x2F, 8)
    w.bits(width - 1, 14)
    w.bits(height - 1, 14)
    w.bits(0, 1)                               # alpha hint
    w.bits(0, 3)                               # version
    eff_w = width
    if use_palette:
        palette = []
        index = {}
        for p in px:
            if p not in index:
                index[p] = len(palette)
                palette.append(p)
        if len(palette) > 256:
            raise ValueError("webp: more than 256 colors for palette")
        w.bits(1, 1)
        w.bits(3, 2)                           # COLOR_INDEXING
        w.bits(len(palette) - 1, 8)
        deltas = []
        prev = 0
        for p in palette:
            da = ((p >> 24) - (prev >> 24)) & 0xFF
            dr = (((p >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF
            dg = (((p >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF
            db = ((p & 0xFF) - (prev & 0xFF)) & 0xFF
            deltas.append(_pack(da, dr, dg, db))
            prev = p
        _encode_entropy_image(w, deltas, top_level=False)
        wb = _palette_width_bits(len(palette))
        per = 1 << wb
        bits_px = 8 >> wb
        eff_w = (width + per - 1) >> wb
        packed = []
        for y in range(height):
            row = [index[px[y * width + x]] for x in range(width)]
            for x0 in range(0, width, per):
                g = 0
                for j, idx in enumerate(row[x0:x0 + per]):
                    g |= idx << (j * bits_px)
                packed.append(_pack(255, 0, g, 0))
        px = packed
    else:
        if subtract_green:
            w.bits(1, 1)
            w.bits(2, 2)                       # SUBTRACT_GREEN
            px = [_pack(a, r - g, g, b - g)
                  for a, r, g, b in map(_chan, px)]
        if color_mul is not None:
            g2r, g2b, r2b = color_mul
            w.bits(1, 1)
            w.bits(1, 2)                       # COLOR
            sb = 4
            w.bits(sb - 2, 3)
            sw = (eff_w + (1 << sb) - 1) >> sb
            sh = (height + (1 << sb) - 1) >> sb
            code = _pack(255, r2b & 0xFF, g2b & 0xFF, g2r & 0xFF)
            _encode_entropy_image(w, [code] * (sw * sh),
                                  top_level=False)
            out2 = []
            for p in px:
                a, r, g, b = _chan(p)
                nr = (r - _ctd(g2r & 0xFF, g)) & 0xFF
                nb = (b - _ctd(g2b & 0xFF, g)
                      - _ctd(r2b & 0xFF, r)) & 0xFF
                out2.append(_pack(a, nr, g, nb))
            px = out2
        if predictor_mode is not None:
            if not 0 <= predictor_mode <= 13:
                raise ValueError("webp: bad predictor mode")
            w.bits(1, 1)
            w.bits(0, 2)                       # PREDICTOR
            sb = pred_size_bits
            w.bits(sb - 2, 3)
            sw = (eff_w + (1 << sb) - 1) >> sb
            sh = (height + (1 << sb) - 1) >> sb
            mode_px = _pack(255, 0, predictor_mode, 0)
            _encode_entropy_image(w, [mode_px] * (sw * sh),
                                  top_level=False)
            res = []
            for i, p in enumerate(px):
                y, x = divmod(i, eff_w)
                if i == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = px[i - 1]
                elif x == 0:
                    pred = px[i - eff_w]
                else:
                    pred = _predict(predictor_mode, px[i - 1],
                                    px[i - eff_w], px[i - eff_w - 1],
                                    px[i - eff_w + 1])
                a0, r0, g0, b0 = _chan(p)
                a1, r1, g1, b1 = _chan(pred)
                res.append(_pack(a0 - a1, r0 - r1, g0 - g1, b0 - b1))
            px = res
    w.bits(0, 1)                               # no more transforms
    if meta_groups is not None:
        if meta_groups < 2 or use_lz77 or cache_bits:
            raise ValueError("webp: meta_groups needs >= 2 groups and "
                             "excludes lz77/cache in the twin")
        _encode_meta_entropy_image(w, px, eff_w, height, meta_groups)
    else:
        _encode_entropy_image(w, px, top_level=True, use_lz77=use_lz77,
                              cache_bits=cache_bits)
    payload = w.bytes()
    out = bytearray(b"RIFF")
    body = b"WEBPVP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"
    out += struct.pack("<I", len(body)) + body
    return bytes(out)


def _encode_meta_entropy_image(w: _Writer, px: list, width: int, height: int,
                               n_groups: int) -> None:
    """Top-level entropy image WITH meta prefix codes (r7): groups
    laid out by meta-tile column index mod n_groups; literal-only
    emission, each pixel coded by its tile's group codebooks."""
    mbits = 2                                  # 4x4-pixel meta tiles
    w.bits(0, 1)                               # no color cache
    w.bits(1, 1)                               # meta prefix present
    w.bits(mbits - 2, 3)
    mw = (width + (1 << mbits) - 1) >> mbits
    mh = (height + (1 << mbits) - 1) >> mbits
    if n_groups > mw * mh:
        raise ValueError("webp: more meta groups than meta tiles")
    # linear tile index mod n_groups guarantees every group id in
    # 0..G-1 appears (the decoder derives the group count from max)
    midx = [_pack(255, 0, t % n_groups, 0) for t in range(mw * mh)]
    _encode_entropy_image(w, midx, top_level=False)

    def group_of(pos: int) -> int:
        y, x = divmod(pos, width)
        return (((y >> mbits) * mw + (x >> mbits)) % n_groups)

    hists = [dict(g={}, r={}, b={}, a={}) for _ in range(n_groups)]
    for pos, p in enumerate(px):
        hs = hists[group_of(pos)]
        a, rr, g, b = _chan(p)
        for key, v in (("g", g), ("r", rr), ("b", b), ("a", a)):
            hs[key][v] = hs[key].get(v, 0) + 1
    codes = []
    for gi in range(n_groups):
        hs = hists[gi]
        codes.append((
            _write_prefix_code(w, hs["g"], 256 + 24),
            _write_prefix_code(w, hs["r"], 256),
            _write_prefix_code(w, hs["b"], 256),
            _write_prefix_code(w, hs["a"], 256),
            _write_prefix_code(w, {0: 1}, 40)))
    for pos, p in enumerate(px):
        gc, rc, bc, ac, _dc = codes[group_of(pos)]
        a, rr, g, b = _chan(p)
        w.code(*gc[g])
        w.code(*rc[rr])
        w.code(*bc[b])
        w.code(*ac[a])
