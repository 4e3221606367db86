"""Pure-stdlib baseline-JPEG subset codec (no Spark imports).

Closes the last multimodal honest-error gap (r4 VERDICT missing #2):
jpeg payloads previously raised an explicit ``unsupported`` error
because the container has no image libraries — but baseline JPEG
needs only integer/float math. The writer emits spec-valid JFIF
(SOI, DQT, SOF0, DHT with the ITU T.81 Annex K tables, SOS, entropy-
coded scan with byte stuffing, EOI); the reader parses markers
(including DHT — decode honors the stream's huffman tables), huffman-
decodes the scan, dequantizes, runs the IDCT, and level-shifts/clamps
— so the Spark feature path decodes real JPEG bytes end to end.

r6 adds 3-component YCbCr with 4:2:0 subsampling — the dominant web
JPEG shape (r5 VERDICT #6): MCU-interleaved Y/Y/Y/Y/Cb/Cr blocks,
per-component DC prediction, the Annex K.3.3 chroma huffman tables,
and FROZEN integer color conversion (coefficients x10000,
half-away-from-zero rounding; documented below) so constant-MCU
fixtures decode as a pure integer function of the input that a SQL
oracle reproduces.

Subset (documented, raises ValueError outside it): baseline DCT
(SOF0), 8-bit, 1 component (any sampling) or 3 components at
4:2:0 (2x2,1x1,1x1), no restart markers, gray dims multiples of 8 /
color dims multiples of 16 on the WRITER (the reader handles any
full-MCU dims). Quantization uses the spec's example luminance table
for all components (legal per T.81 — table ids are per-component),
FROZEN so fixture decodes stay integer-exact.
Reference analog: the slide raster path at
`pptx_extractor/slides/extractor.py:165-293`.
"""

from __future__ import annotations

import math
import struct

from .limits import check_pixels

__all__ = ["render_jpeg_gray", "decode_jpeg_gray", "render_jpeg_color",
           "render_jpeg_gray_progressive", "decode_jpeg", "QTABLE",
           "ycbcr_from_rgb", "rgb_from_ycbcr"]

# ITU T.81 Annex K.1 example luminance quantization table (row-major)
QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Annex K.3.1 luminance DC: BITS (counts per code length 1..16), HUFFVAL
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Annex K.3.2 luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.3.3.1 chroma DC: BITS, HUFFVAL
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
# Annex K.3.3.2 chroma AC
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# zig-zag order: _ZIGZAG[k] = row-major index of the k-th coefficient
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)]
# transpose view (_COS_BY_U[u][y] == _COS[y][u]) + the exact constant
# the reference loops compute as ``1 / math.sqrt(2)`` — both feed the
# sparse IDCT fast path in _dequant_idct (r8)
_COS_BY_U = [[_COS[y][u] for y in range(8)] for u in range(8)]
_INV_SQRT2 = 1 / math.sqrt(2)


def _build_codes(bits: list, vals: list) -> dict:
    """value -> (code, length) per T.81 C.2 canonical assignment."""
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _build_codes(_AC_BITS, _AC_VALS)
_DC_CODES_C = _build_codes(_DC_BITS_C, _DC_VALS_C)
_AC_CODES_C = _build_codes(_AC_BITS_C, _AC_VALS_C)


def _build_decoder(bits: list, vals: list) -> dict:
    """(length, code) -> value lookup for the reader."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _rnd10k(n: int) -> int:
    """FROZEN half-away-from-zero rounding of n/10000 — the integer
    seam that makes color fixture decodes SQL-oracle-able."""
    q = (2 * abs(n) + 10000) // 20000
    return q if n >= 0 else -q


def _clamp8(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def ycbcr_from_rgb(r: int, g: int, b: int) -> tuple:
    """JFIF color conversion, coefficients x10000, frozen rounding."""
    y = _clamp8((2990 * r + 5870 * g + 1140 * b + 5000) // 10000)
    cb = _clamp8(128 + _rnd10k(5000 * b - 1687 * r - 3313 * g))
    cr = _clamp8(128 + _rnd10k(5000 * r - 4187 * g - 813 * b))
    return y, cb, cr


def rgb_from_ycbcr(y: int, cb: int, cr: int) -> tuple:
    """Inverse JFIF conversion, same frozen integer discipline."""
    r = _clamp8(y + _rnd10k(14020 * (cr - 128)))
    g = _clamp8(y - _rnd10k(3441 * (cb - 128) + 7141 * (cr - 128)))
    b = _clamp8(y + _rnd10k(17720 * (cb - 128)))
    return r, g, b


def _magnitude(v: int) -> tuple:
    """T.81 F.1.2.1: value -> (size, unsigned bit pattern)."""
    if v == 0:
        return 0, 0
    size = v.bit_length() if v > 0 else (-v).bit_length()
    if v < 0:
        v += (1 << size) - 1
    return size, v


def _extend(bits_val: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: unsigned pattern -> signed value."""
    if size == 0:
        return 0
    if bits_val < (1 << (size - 1)):
        return bits_val - (1 << size) + 1
    return bits_val


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:              # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.i = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.i >= len(self.data):
            raise ValueError("jpeg: entropy stream exhausted")
        b = self.data[self.i]
        self.i += 1
        if b == 0xFF:
            if self.i >= len(self.data) or self.data[self.i] != 0x00:
                raise ValueError("jpeg: unexpected marker in scan")
            self.i += 1                   # skip stuffed 0x00
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("jpeg: bad huffman code")

    def restart(self, m: int) -> None:
        """Byte-align (discarding pad bits) and consume the expected
        RSTm marker (T.81 E.2.4). The caller resets DC predictors."""
        self.acc = 0
        self.n = 0
        if self.i + 1 >= len(self.data) or self.data[self.i] != 0xFF \
                or self.data[self.i + 1] != 0xD0 + (m & 7):
            raise ValueError("jpeg: missing restart marker")
        self.i += 2


def _fdct_quant(block: list) -> list:
    """Forward DCT (T.81 A.3.3 reference formula) + quantization,
    zig-zag order out.

    The DC coefficient is quantized in EXACT integer math (the
    orthonormal FDCT DC is sum(shifted)/8 exactly; rounding is frozen
    as half-away-from-zero) so block-constant fixture images decode as
    a pure integer function of their pixel value — the seam that makes
    the JPEG contract query SQL-oracle-able. AC coefficients keep the
    float reference FDCT (fixtures have none; general images are
    round-trip-tolerance tested)."""
    shifted = [v - 128 for v in block]
    c0 = shifted[0]
    if all(v == c0 for v in shifted):
        # r8 fast path — CONSTANT block (every MCU-constant fixture and
        # every flat region): mathematically each AC sum factors as
        # c*(sum_x cos((2x+1)v*pi/16))*(sum_y ...) = 0 for (u,v)!=(0,0),
        # and the float loop's accumulated roundoff is bounded by
        # 64 additions * ulp(64*128) ~ 1e-10 << the 0.5*q quantization
        # threshold, so int(round(val/q)) is PROVABLY 0 for every AC —
        # identical output to the reference loop without running it.
        # DC uses the same exact integer formula as below.
        ssum = c0 * 64
        d = 8 * QTABLE[0]
        dcq = (2 * abs(ssum) + d) // (2 * d)
        zz = [0] * 64
        zz[0] = dcq if ssum >= 0 else -dcq
        return zz
    out = [0] * 64
    for u in range(8):
        cu = 1 / math.sqrt(2) if u == 0 else 1.0
        for v in range(8):
            if u == 0 and v == 0:
                continue
            cv = 1 / math.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += shifted[y * 8 + x] * _COS[x][v] * _COS[y][u]
            val = 0.25 * cu * cv * s
            q = QTABLE[u * 8 + v]
            out[u * 8 + v] = int(round(val / q))
    ssum = sum(shifted)
    d = 8 * QTABLE[0]
    dcq = (2 * abs(ssum) + d) // (2 * d)       # half-away-from-zero
    out[0] = dcq if ssum >= 0 else -dcq
    return [out[_ZIGZAG[k]] for k in range(64)]


def _dequant_idct(zz: list, qtab: list = QTABLE) -> list:
    """Dequantize (zig-zag in) + inverse DCT + level shift + clamp.

    r8 optimization: SPARSE accumulation — only nonzero coefficients
    are summed. Bit-identical to the dense reference loop by IEEE-754
    identities: a zero coefficient's term is exactly +/-0.0 and
    ``s + (+/-0.0) == s`` for every s this loop can hold (s starts at
    +0.0 and (+0.0) + (-0.0) == +0.0), so skipping zero terms cannot
    change a single bit of the sum; per-coefficient ``a = cu*cv*coef``
    is hoisted because the reference expression evaluated left-to-
    right as ``(((cu*cv)*coef)*cosx)*cosy`` — the same three leading
    multiplies. A DC-only block (the overwhelmingly common case in
    flat regions, and every MCU-constant fixture) computes ONE pixel
    value instead of 64x64 terms: for v==u==0 both cosines are
    exactly 1.0, making all 64 sums the identical float product.
    Pinned by tests/test_operators.py::test_jpeg_sparse_idct_bitexact
    against the dense reference over random sparse/dense blocks."""
    coef = [0] * 64
    for k in range(64):
        coef[_ZIGZAG[k]] = zz[k] * qtab[_ZIGZAG[k]]
    nz = []
    inv_sqrt2 = _INV_SQRT2
    for u in range(8):
        cu = inv_sqrt2 if u == 0 else 1.0
        base = u * 8
        cos_u = _COS_BY_U[u]
        for v in range(8):
            c = coef[base + v]
            if c:
                cv = inv_sqrt2 if v == 0 else 1.0
                nz.append((cu * cv * c, v, cos_u))
    out = [0] * 64
    if not nz:
        return [128] * 64                 # s == 0.0 for every pixel
    if len(nz) == 1 and nz[0][1] == 0 and nz[0][2] is _COS_BY_U[0] \
            and coef[0]:
        # DC-only: _COS[x][0] == _COS[y][0] == 1.0 exactly, so every
        # pixel's sum is the same product a*1.0*1.0
        a = nz[0][0]
        s = a * 1.0 * 1.0
        px = int(round(s / 4)) + 128
        px = 0 if px < 0 else (255 if px > 255 else px)
        return [px] * 64
    for y in range(8):
        row = y * 8
        for x in range(8):
            cos_x = _COS[x]
            s = 0.0
            for a, v, cos_u in nz:
                s += a * cos_x[v] * cos_u[y]
            px = int(round(s / 4)) + 128
            out[row + x] = 0 if px < 0 else (255 if px > 255 else px)
    return out


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


# SOF component specs (id, HV sampling, quant table id) and DHT bodies
_GRAY_COMPONENT = b"\x01\x11\x00"
_YCC420_COMPONENTS = (b"\x01\x22\x00"                 # Y  2x2, qtab 0
                      b"\x02\x11\x00"                 # Cb 1x1, qtab 0
                      b"\x03\x11\x00")                # Cr 1x1, qtab 0
_DHT_DC = b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
_DHT_AC = b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
_DHT_DC_C = b"\x01" + bytes(_DC_BITS_C) + bytes(_DC_VALS_C)
_DHT_AC_C = b"\x11" + bytes(_AC_BITS_C) + bytes(_AC_VALS_C)


def _prologue(sof: int, width: int, height: int, components: bytes,
              tables: tuple) -> bytearray:
    """SOI, JFIF APP0, the shared DQT (id 0), the ``sof`` frame header
    over ``components`` and one DHT segment per body in ``tables``."""
    out = bytearray(b"\xff\xd8")                       # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zz_q = bytes(QTABLE[_ZIGZAG[k]] for k in range(64))
    out += _seg(0xDB, b"\x00" + zz_q)                  # DQT id 0
    out += _seg(sof, struct.pack(">BHHB", 8, height, width,
                                 len(components) // 3) + components)
    for body in tables:
        out += _seg(0xC4, body)
    return out


def _zz_grid(plane, pw: int, phh: int) -> list:
    """Quantized zigzag coefficients of every 8x8 block of a row-major
    plane ``pw`` wide and ``phh`` high, raster order."""
    return [_fdct_quant([plane[(by * 8 + y) * pw + bx * 8 + x]
                         for y in range(8) for x in range(8)])
            for by in range(phh // 8) for bx in range(pw // 8)]


def _put_block(plane: bytearray, pw: int, oy: int, ox: int,
               block: list) -> None:
    for y in range(8):
        row = (oy + y) * pw + ox
        plane[row:row + 8] = bytes(block[y * 8:(y + 1) * 8])


def _gray_blocks(width: int, height: int, pixels) -> list:
    """Quantized zigzag blocks of a grayscale image, raster order, after
    the subset checks (positive multiples of 8, w*h samples)."""
    if width % 8 or height % 8 or width <= 0 or height <= 0:
        raise ValueError("jpeg: dimensions must be positive multiples of 8")
    if len(pixels) != width * height:
        raise ValueError("jpeg: pixels length != width*height")
    return _zz_grid(pixels, width, height)


def _ycc420_blocks(width: int, height: int, rgb: bytes) -> tuple:
    """Row-major RGB -> the quantized zigzag blocks of the Y, Cb and Cr
    planes (raster order per plane), after the subset checks (positive
    multiples of 16, w*h*3 bytes). Color conversion and the 2x2 chroma
    average use the FROZEN integer rules (``ycbcr_from_rgb``; subsample
    rounding is (sum + 2) // 4)."""
    if width % 16 or height % 16 or width <= 0 or height <= 0:
        raise ValueError("jpeg: color dims must be positive multiples of 16")
    if len(rgb) != width * height * 3:
        raise ValueError("jpeg: rgb length != width*height*3")
    n = width * height
    ys, cbs, crs = [0] * n, [0] * n, [0] * n
    for i in range(n):
        ys[i], cbs[i], crs[i] = ycbcr_from_rgb(
            rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2])
    cw, ch = width // 2, height // 2
    cb_s, cr_s = [0] * (cw * ch), [0] * (cw * ch)
    for y in range(ch):
        for x in range(cw):
            idx = [(2 * y + dy) * width + 2 * x + dx
                   for dy in (0, 1) for dx in (0, 1)]
            cb_s[y * cw + x] = (sum(cbs[i] for i in idx) + 2) // 4
            cr_s[y * cw + x] = (sum(crs[i] for i in idx) + 2) // 4
    return (_zz_grid(ys, width, height), _zz_grid(cb_s, cw, ch),
            _zz_grid(cr_s, cw, ch))


def _ycc420_mcus(width: int, height: int, zz_y: list, zz_cb: list,
                 zz_cr: list) -> list:
    """Interleaved 4:2:0 MCUs in raster order, each the four Y blocks
    (TL, TR, BL, BR) then Cb and Cr as (component, zz) pairs."""
    nbx_y, nbx_c = width // 8, width // 16
    return [[("y", zz_y[_mcu_block_idx(nbx_y, 2, 2, mx, my, j)])
             for j in range(4)]
            + [("cb", zz_cb[my * nbx_c + mx]),
               ("cr", zz_cr[my * nbx_c + mx])]
            for my in range(height // 16) for mx in range(width // 16)]


def _rgb_from_planes(width: int, height: int, yp, cbp, crp) -> bytes:
    """Y plane plus half-size chroma planes -> RGB (2x2 chroma
    replication, frozen integer ``rgb_from_ycbcr``)."""
    cw = width // 2
    rgb = bytearray(width * height * 3)
    for y in range(height):
        for x in range(width):
            ci = (y // 2) * cw + (x // 2)              # 2x2 replication
            r8, g8, b8 = rgb_from_ycbcr(yp[y * width + x], cbp[ci], crp[ci])
            o = (y * width + x) * 3
            rgb[o], rgb[o + 1], rgb[o + 2] = r8, g8, b8
    return bytes(rgb)


# Annex K (DC, AC) codes by component: luma tables for Y, chroma for Cb/Cr
_CODES = {"y": (_DC_CODES, _AC_CODES), "cb": (_DC_CODES_C, _AC_CODES_C),
          "cr": (_DC_CODES_C, _AC_CODES_C)}


def _encode_block(w: "_BitWriter", zz: list, prev_dc: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-code the quantized zigzag block ``zz`` against
    ``prev_dc``; returns the new DC predictor."""
    diff = zz[0] - prev_dc
    size, mag = _magnitude(diff)
    code, ln = dc_codes[size]
    w.put(code, ln)
    if size:
        w.put(mag, size)
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            zc, zl = ac_codes[0xF0]                    # ZRL
            w.put(zc, zl)
            run -= 16
        asize, amag = _magnitude(zz[k])
        ac, al = ac_codes[(run << 4) | asize]
        w.put(ac, al)
        w.put(amag, asize)
        run = 0
    if run:
        ec, el = ac_codes[0x00]                        # EOB
        w.put(ec, el)
    return zz[0]


def _baseline_scan(mcus: list, restart_interval: int) -> bytes:
    """Entropy-coded sequential scan over ``mcus`` (each a list of
    (component, zz) blocks; DC predicted per component), with a
    byte-aligned RSTm marker and predictor reset every
    ``restart_interval`` MCUs."""
    out = bytearray()
    w = _BitWriter()
    preds: dict = {}
    rst = 0
    for mcu, blocks in enumerate(mcus, 1):
        for comp, zz in blocks:
            preds[comp] = _encode_block(w, zz, preds.get(comp, 0),
                                        *_CODES[comp])
        if restart_interval and mcu % restart_interval == 0 \
                and mcu < len(mcus):
            out += w.flush() + bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            w = _BitWriter()
            preds = {}
    return bytes(out + w.flush())


def render_jpeg_gray(width: int, height: int, pixels: bytes,
                     restart_interval: int = 0) -> bytes:
    """Encode row-major grayscale bytes as baseline JFIF. Dimensions
    must be multiples of 8 (no partial-MCU padding in the subset).
    ``restart_interval`` > 0 emits a DRI segment and RSTm markers
    every that many MCUs (byte-aligned, DC predictor reset) — the
    common web shape that enables parallel/resilient decode."""
    zzs = _gray_blocks(width, height, pixels)
    out = _prologue(0xC0, width, height, _GRAY_COMPONENT,
                    (_DHT_DC, _DHT_AC))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")     # SOS
    out += _baseline_scan([[("y", zz)] for zz in zzs], restart_interval)
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def render_jpeg_color(width: int, height: int, rgb: bytes,
                      restart_interval: int = 0) -> bytes:
    """Encode row-major RGB bytes as baseline YCbCr 4:2:0 JFIF (r6).
    Dimensions must be multiples of 16 (full 4:2:0 MCUs only in the
    subset); the frozen color rules of ``_ycc420_blocks`` keep
    constant-MCU fixtures oracle-exact."""
    mcus = _ycc420_mcus(width, height, *_ycc420_blocks(width, height, rgb))
    out = _prologue(0xC0, width, height, _YCC420_COMPONENTS,
                    (_DHT_DC, _DHT_AC, _DHT_DC_C, _DHT_AC_C))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += _baseline_scan(mcus, restart_interval)
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def _decode_block(r: "_BitReader", dc_tab: dict, ac_tab: dict,
                  pred: int) -> tuple:
    """Huffman-decode one block's coefficients; returns (zz, new DC
    predictor)."""
    zz = [0] * 64
    size = r.huff(dc_tab)
    diff = _extend(r.bits(size), size) if size else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = r.huff(ac_tab)
        if rs == 0x00:                                 # EOB
            break
        if rs == 0xF0:                                 # ZRL
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("jpeg: AC run past block end")
        asize = rs & 0x0F
        zz[k] = _extend(r.bits(asize), asize)
        k += 1
    return zz, pred


def decode_jpeg(data: bytes) -> tuple:
    """Decode a baseline JFIF -> (width, height, ncomp, pixels):
    grayscale bytes for 1 component, top-down RGB bytes for 3-component
    YCbCr 4:2:0 (chroma upsampled by 2x2 replication, converted with
    the frozen integer ``rgb_from_ycbcr``). Honors the STREAM's
    quantization and huffman tables (DQT/DHT are parsed, not assumed).
    Raises ValueError outside the subset (log-and-continue at the
    operator layer, F6 policy), and on a frame header over
    ``limits.MAX_PIXELS`` before any buffer is sized from it."""
    if not data.startswith(b"\xff\xd8"):
        raise ValueError("jpeg: missing SOI")
    i = 2
    width = height = None
    qtabs: dict = {}
    huff: dict = {}
    comps: list = []          # (id, h, v, tq)
    restart_int = 0           # DRI: MCUs between RST markers (0 = off)
    scan_sel: dict = {}       # comp id -> (td, ta)
    scan = None
    progressive = False
    scans: list = []          # progressive: (sel, Ss, Se, Ah, Al, entropy)
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[i + 2:i + 4])
        body = data[i + 4:i + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("jpeg: truncated segment")
        if marker == 0xDB:
            o = 0
            while o < len(body):                       # multiple tables OK
                if body[o] & 0xF0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                tq = body[o] & 0x0F
                qt = [0] * 64
                for k in range(64):
                    qt[_ZIGZAG[k]] = body[o + 1 + k]
                qtabs[tq] = qt
                o += 65
        elif marker == 0xC4:
            o = 0
            while o + 17 <= len(body):                 # multiple tables OK
                tc, th = body[o] >> 4, body[o] & 0x0F
                bits = list(body[o + 1:o + 17])
                nv = sum(bits)
                vals = list(body[o + 17:o + 17 + nv])
                huff[(tc, th)] = _build_decoder(bits, vals)
                o += 17 + nv
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(
                    f"jpeg: unsupported component count {nc} "
                    "(subset is grayscale or YCbCr 4:2:0)")
            check_pixels("jpeg", width, height)
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: only SOF0/SOF2 are supported")
        elif marker == 0xDD:
            (restart_int,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            sel = {}
            for c in range(ns):
                cid, tdta = body[1 + 2 * c:3 + 2 * c]
                sel[cid] = (tdta >> 4, tdta & 0x0F)
            if not progressive:
                scan_sel = sel
                scan = data[i + 2 + ln:]
                break
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], \
                body[3 + 2 * ns]
            ent_start = i + 2 + ln
            ent_end = _find_scan_end(data, ent_start)
            scans.append((sel, ss, se, ahal >> 4, ahal & 0x0F,
                          data[ent_start:ent_end]))
            i = ent_end
            continue
        i += 2 + ln
    if progressive:
        if restart_int:
            raise ValueError(
                "jpeg: restart intervals unsupported in the "
                "progressive subset")
        if width is None or not qtabs or not scans or not comps:
            raise ValueError("jpeg: missing SOF/DQT/SOS")
        if len(comps) == 1:
            return _decode_progressive_gray(width, height, comps,
                                            qtabs, huff, scans)
        return _decode_progressive_color(width, height, comps, qtabs,
                                         huff, scans)
    if width is None or not qtabs or scan is None or not comps:
        raise ValueError("jpeg: missing SOF/DQT/SOS")
    end = scan.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("jpeg: missing EOI")
    r = _BitReader(scan[:end])

    def tabs(cid):
        td, ta = scan_sel[cid]
        try:
            return huff[(0, td)], huff[(1, ta)]
        except KeyError:
            raise ValueError("jpeg: scan references missing huffman table")

    if len(comps) == 1:
        if width % 8 or height % 8:
            raise ValueError("jpeg: non-multiple-of-8 dims unsupported")
        cid, _, _, tq = comps[0]
        dc_t, ac_t = tabs(cid)
        qt = qtabs.get(tq)
        if qt is None:
            raise ValueError("jpeg: missing quant table")
        pixels = bytearray(width * height)
        pred = 0
        nb = (width // 8) * (height // 8)
        mcu = rst = 0
        for by in range(height // 8):
            for bx in range(width // 8):
                zz, pred = _decode_block(r, dc_t, ac_t, pred)
                _put_block(pixels, width, by * 8, bx * 8,
                           _dequant_idct(zz, qt))
                mcu += 1
                if restart_int and mcu % restart_int == 0 and mcu < nb:
                    r.restart(rst)            # aligns + resets DC pred
                    rst = (rst + 1) % 8
                    pred = 0
        return width, height, 1, bytes(pixels)

    samp = [(h, v) for _, h, v, _ in comps]
    if samp != [(2, 2), (1, 1), (1, 1)]:
        raise ValueError(
            f"jpeg: unsupported sampling {samp} (subset is 4:2:0)")
    if width % 16 or height % 16:
        raise ValueError("jpeg: color dims must be multiples of 16")
    planes = {c[0]: bytearray((width // max(1, 2 // c[1]))
                              * (height // max(1, 2 // c[2])))
              for c in comps}
    yw, cw = width, width // 2
    preds = {c[0]: 0 for c in comps}
    qts = {}
    for cid, _, _, tq in comps:
        qts[cid] = qtabs.get(tq)
        if qts[cid] is None:
            raise ValueError("jpeg: missing quant table")
    y_id, cb_id, cr_id = comps[0][0], comps[1][0], comps[2][0]
    n_mcu = (height // 16) * (width // 16)
    mcu = rst = 0
    for my in range(height // 16):
        for mx in range(width // 16):
            for j in range(4):
                zz, preds[y_id] = _decode_block(r, *tabs(y_id),
                                                preds[y_id])
                _put_block(planes[y_id], yw, my * 16 + (j // 2) * 8,
                           mx * 16 + (j % 2) * 8, _dequant_idct(zz, qts[y_id]))
            for cid in (cb_id, cr_id):
                zz, preds[cid] = _decode_block(r, *tabs(cid), preds[cid])
                _put_block(planes[cid], cw, my * 8, mx * 8,
                           _dequant_idct(zz, qts[cid]))
            mcu += 1
            if restart_int and mcu % restart_int == 0 and mcu < n_mcu:
                r.restart(rst)
                rst = (rst + 1) % 8
                for cid in preds:
                    preds[cid] = 0
    return width, height, 3, _rgb_from_planes(
        width, height, planes[y_id], planes[cb_id], planes[cr_id])


def _first_ac_band(r: "_BitReader", ac_tab: dict, coefs: list,
                   nb: int, ss: int, se: int, al: int) -> None:
    """First-pass AC band scan (Ah=0): T.81 G.1.2.2 — values land at
    2^Al precision, EOB runs span blocks."""
    eobrun = 0
    for b in range(nb):
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = r.huff(ac_tab)
            rr, s = rs >> 4, rs & 0x0F
            if s == 0:
                if rr == 15:                           # ZRL
                    k += 16
                    continue
                eobrun = (1 << rr) - 1 + (r.bits(rr) if rr else 0)
                break
            k += rr
            if k > se:
                raise ValueError("jpeg: AC run past band end")
            coefs[b][k] = _extend(r.bits(s), s) << al
            k += 1


def _refine_ac_band(r: "_BitReader", ac_tab: dict, coefs: list,
                    nb: int, ss: int, se: int, al: int) -> None:
    """T.81 G.1.2.3 AC refinement scan: for each block's band, symbols
    (run<<4)|1 make a coefficient newly significant at +-2^Al (sign
    from one appended bit); runs count only zero-history positions,
    and every already-nonzero coefficient passed on the way consumes
    one correction bit (set -> magnitude grows by 2^Al, moving away
    from zero). EOB runs cover whole blocks whose remaining band has
    no new significant coefficients — their nonzero coefficients still
    consume correction bits, in scan order after the EOB symbol."""
    p1, m1 = 1 << al, -(1 << al)

    def _correct(co: list, k: int) -> None:
        if r.bit() and not (co[k] & p1):
            co[k] += p1 if co[k] >= 0 else m1

    eobrun = 0
    for b in range(nb):
        co = coefs[b]
        if eobrun:
            for k in range(ss, se + 1):
                if co[k]:
                    _correct(co, k)
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = r.huff(ac_tab)
            rr, s = rs >> 4, rs & 0x0F
            if s == 0 and rr != 15:                    # EOBn
                eobrun = (1 << rr) + (r.bits(rr) if rr else 0)
                break
            if s == 0:                                 # ZRL
                new = 0
            elif s == 1:
                new = p1 if r.bit() else m1
            else:
                raise ValueError("jpeg: refinement AC size must be 1")
            while k <= se:
                if co[k]:
                    _correct(co, k)
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if new and k <= se:
                co[k] = new
            k += 1
        if eobrun:                   # tail of the EOB-starting block
            for kk in range(k, se + 1):
                if co[kk]:
                    _correct(co, kk)
            eobrun -= 1


def _plane_from_coefs(coefs: list, nbx: int, nby: int,
                      qt: list) -> bytearray:
    """Dequantize + IDCT a raster grid of coefficient blocks into one
    plane ``nbx * 8`` wide."""
    plane = bytearray(nbx * 8 * nby * 8)
    for by in range(nby):
        for bx in range(nbx):
            _put_block(plane, nbx * 8, by * 8, bx * 8,
                       _dequant_idct(coefs[by * nbx + bx], qt))
    return plane


def _decode_progressive_gray(width: int, height: int, comps: list,
                             qtabs: dict, huff: dict,
                             scans: list) -> tuple:
    """Progressive (SOF2) grayscale decode: spectral selection AND
    successive approximation (T.81 G.1.2). Coefficients accumulate
    across scans — first scans (Ah=0) deliver values at Al-bit
    precision (DC is DPCM of the point-transformed value, AC bands
    use EOB-run semantics with values scaled by 2^Al), refinement
    scans (Ah=Al+1) append one magnitude bit per coefficient: a raw
    bit for DC, the G.1.2.3 correction-bit protocol for AC (newly-
    significant coefficients coded with size 1, history-nonzero ones
    refined by interleaved bits, EOB runs carrying the tail bits).
    Every block dequantizes + IDCTs once at the end."""
    if width % 8 or height % 8:
        raise ValueError("jpeg: non-multiple-of-8 dims unsupported")
    cid, _, _, tq = comps[0]
    qt = qtabs.get(tq)
    if qt is None:
        raise ValueError("jpeg: missing quant table")
    nbx, nby = width // 8, height // 8
    nb = nbx * nby
    coefs = [[0] * 64 for _ in range(nb)]
    seen_dc = False
    for sel, ss, se, ah, al, ent in scans:
        if ah and al != ah - 1:
            raise ValueError(
                "jpeg: refinement scan must have Al = Ah - 1")
        if cid not in sel:
            raise ValueError("jpeg: scan references unknown component")
        td, ta = sel[cid]
        r = _BitReader(ent)
        if ss == 0:
            if se != 0:
                raise ValueError("jpeg: progressive DC scan must be band 0")
            if ah:                       # DC refinement: one raw bit/block
                for b in range(nb):
                    if r.bit():
                        coefs[b][0] |= 1 << al
                continue
            dc_t = huff.get((0, td))
            if dc_t is None:
                raise ValueError("jpeg: scan references missing huffman table")
            pred = 0
            for b in range(nb):
                size = r.huff(dc_t)
                diff = _extend(r.bits(size), size) if size else 0
                pred += diff
                coefs[b][0] = pred << al
            seen_dc = True
        else:
            if not 1 <= ss <= se <= 63:
                raise ValueError("jpeg: bad progressive AC band")
            ac_t = huff.get((1, ta))
            if ac_t is None:
                raise ValueError("jpeg: scan references missing huffman table")
            if ah:
                _refine_ac_band(r, ac_t, coefs, nb, ss, se, al)
            else:
                _first_ac_band(r, ac_t, coefs, nb, ss, se, al)
    if not seen_dc:
        raise ValueError("jpeg: progressive stream has no DC scan")
    return width, height, 1, bytes(_plane_from_coefs(coefs, nbx, nby, qt))


def decode_jpeg_gray(data: bytes) -> tuple:
    """Back-compat wrapper: decode and require a single-component
    image -> (width, height, pixel bytes)."""
    w, h, nc, px = decode_jpeg(data)
    if nc != 1:
        raise ValueError("jpeg: not grayscale (use decode_jpeg)")
    return w, h, px


# ---------------------------------------------------------------------------
# progressive (SOF2) grayscale subset — spectral selection only (r6)
# ---------------------------------------------------------------------------

# Progressive AC scans emit EOBn symbols (0x10..0xE0 with SSSS=0) the
# sequential Annex-K table has no codes for, so the progressive AC
# scan ships its OWN stream-defined table: 255 symbols, all length 8
# (canonical; code 0xFF stays unused as the spec's all-ones reserve).
# Wasteful per byte, trivially correct — the decoder honors whatever
# DHT the stream carries.
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_PROG_VALS = list(range(255))
_AC_PROG_CODES = _build_codes(_AC_PROG_BITS, _AC_PROG_VALS)
_DHT_AC_PROG = b"\x10" + bytes(_AC_PROG_BITS) + bytes(_AC_PROG_VALS)


def render_jpeg_gray_progressive(width: int, height: int,
                                 pixels: bytes) -> bytes:
    """Encode row-major grayscale bytes as a PROGRESSIVE (SOF2) JFIF
    using spectral selection only (T.81 G.1: scan 1 = the DC band,
    scan 2 = the full AC band 1..63 with EOB-run batching, both with
    Ah=Al=0). Same frozen coefficient math as the baseline encoder —
    a block-constant fixture decodes to the identical integer pixels,
    which is what lets the progressive query share the baseline
    oracle."""
    zzs = _gray_blocks(width, height, pixels)
    out = _prologue(0xC2, width, height, _GRAY_COMPONENT,
                    (_DHT_DC, _DHT_AC_PROG))
    # ---- scan 1: DC band (Ss=0, Se=0, Ah=Al=0) ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 0]))
    out += _write_first_dc_scan((0, zz[0], _DC_CODES) for zz in zzs)
    # ---- scan 2: AC band 1..63 (Ah=Al=0), EOB runs span blocks ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([1, 63, 0]))
    out += _write_first_ac_scan(zzs)
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def render_jpeg_gray_progressive_sa(width: int, height: int,
                                    pixels: bytes) -> bytes:
    """Encode grayscale bytes as a PROGRESSIVE (SOF2) JFIF using BOTH
    progressive dimensions (T.81 G.1): spectral selection AND
    successive approximation. Four scans — DC first at Al=1 (DPCM of
    the arithmetic-shifted value), AC band 1..63 first at Al=1
    (magnitude-shifted, EOB-run batching), DC refinement (one raw bit
    per block), AC refinement (G.1.2.3: newly-significant coefficients
    at size 1 with a sign bit, correction bits for history-nonzero
    coefficients buffered and flushed after the covering symbol).
    The two passes reassemble every coefficient exactly — (v>>1)<<1
    plus the refinement bit is v for DC, and +-((|v|>>1)<<1 + bit) for
    AC — so a fixture decodes to the identical integer pixels as the
    baseline encoder, which is what lets the query share the baseline
    oracle."""
    zzs = _gray_blocks(width, height, pixels)
    out = _prologue(0xC2, width, height, _GRAY_COMPONENT,
                    (_DHT_DC, _DHT_AC_PROG))
    # ---- scan 1: DC first, Al=1 (DPCM of dc >> 1, T.81 A.4 shift) ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 0x01]))
    out += _write_first_dc_scan((0, zz[0] >> 1, _DC_CODES) for zz in zzs)
    # ---- scan 2: AC first, band 1..63, Al=1 (shifted magnitudes) ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([1, 63, 0x01]))
    out += _write_first_ac_scan(
        [[-((-v) >> 1) if v < 0 else v >> 1 for v in zz] for zz in zzs])
    # ---- scan 3: DC refinement, Ah=1 Al=0 (one raw bit per block) ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([0, 0, 0x10]))
    w = _BitWriter()
    for zz in zzs:
        w.put(zz[0] & 1, 1)
    out += w.flush()
    # ---- scan 4: AC refinement, Ah=1 Al=0 (G.1.2.3) ----
    out += _seg(0xDA, b"\x01\x01\x00" + bytes([1, 63, 0x10]))
    w = _BitWriter()
    eobrun = 0
    # TWO correction-bit pools (T.81 G.1.2.3 / the classic BE vs BR
    # split): tail bits of blocks already absorbed into the pending
    # EOB run flush with the EOBn symbol; the CURRENT block's bits
    # flush after its own symbols — the decoder reads them exactly
    # where its band walk passes the history-nonzero positions.
    run_bits: list = []               # prior run blocks' tails
    cur_bits: list = []               # current block, since last symbol

    def _emit_cur() -> None:
        for bit in cur_bits:
            w.put(bit, 1)
        cur_bits.clear()

    def _emit_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            rr = eobrun.bit_length() - 1
            code, ln = _AC_PROG_CODES[rr << 4]
            w.put(code, ln)
            if rr:
                w.put(eobrun - (1 << rr), rr)
            eobrun = 0
            for bit in run_bits:
                w.put(bit, 1)
            run_bits.clear()

    for zz in zzs:
        eob = 0
        for k in range(1, 64):
            if abs(zz[k]) == 1:       # newly significant at Al=0
                eob = k
        run = 0
        for k in range(1, 64):
            temp = abs(zz[k])
            if temp == 0:
                run += 1
                continue
            while run > 15 and k <= eob:
                _emit_eobrun()
                code, ln = _AC_PROG_CODES[0xF0]        # ZRL
                w.put(code, ln)
                run -= 16
                _emit_cur()
            if temp > 1:              # history-nonzero: correction bit
                cur_bits.append(temp & 1)
                continue
            _emit_eobrun()
            code, ln = _AC_PROG_CODES[(run << 4) | 1]
            w.put(code, ln)
            w.put(0 if zz[k] < 0 else 1, 1)
            _emit_cur()
            run = 0
        if run > 0 or cur_bits:       # tail joins the pending EOB run
            eobrun += 1
            run_bits.extend(cur_bits)
            cur_bits.clear()
            if eobrun == 32767:
                _emit_eobrun()
    _emit_eobrun()
    out += w.flush()
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)


def _find_scan_end(data: bytes, start: int) -> int:
    """Index of the marker that terminates entropy data at ``start``
    (skips stuffed FF00 and RST markers)."""
    i = start
    while i + 1 < len(data):
        if data[i] == 0xFF and data[i + 1] != 0x00 \
                and not 0xD0 <= data[i + 1] <= 0xD7:
            return i
        i += 1
    raise ValueError("jpeg: unterminated scan")


def _mcu_block_idx(nbx: int, hh: int, vv: int, mx: int, my: int,
                   j: int) -> int:
    """Raster index of MCU (mx, my)'s j-th block in a component whose
    grid is nbx blocks wide (T.81 A.2.3 left-to-right, top-to-bottom
    within the MCU)."""
    return (my * vv + j // hh) * nbx + mx * hh + j % hh


def _decode_progressive_color(width: int, height: int, comps: list,
                              qtabs: dict, huff: dict,
                              scans: list) -> tuple:
    """Progressive (SOF2) YCbCr 4:2:0 decode (r6 — the last
    non-arithmetic JPEG shape): DC scans are MCU-interleaved across
    components (per-component DPCM predictors) or single-component
    raster; AC scans are single-component over that component's own
    block grid (T.81 requires non-interleaved AC in progressive),
    reusing the grayscale first-pass/refinement band machinery
    per component. Reconstruction (dequant + IDCT + 2x2 chroma
    replication + frozen integer YCbCr->RGB) matches the baseline
    color path exactly."""
    samp = [(h, v) for _, h, v, _ in comps]
    if samp != [(2, 2), (1, 1), (1, 1)]:
        raise ValueError(
            f"jpeg: unsupported sampling {samp} (subset is 4:2:0)")
    if width % 16 or height % 16:
        raise ValueError("jpeg: color dims must be multiples of 16")
    qts, grid, coefs = {}, {}, {}
    for cid, hh, vv, tq in comps:
        qt = qtabs.get(tq)
        if qt is None:
            raise ValueError("jpeg: missing quant table")
        qts[cid] = qt
        nbx = width // 8 if hh == 2 else width // 16
        nby = height // 8 if vv == 2 else height // 16
        grid[cid] = (nbx, nby)
        coefs[cid] = [[0] * 64 for _ in range(nbx * nby)]
    mcux, mcuy = width // 16, height // 16
    seen_dc: set = set()
    for sel, ss, se, ah, al, ent in scans:
        if ah and al != ah - 1:
            raise ValueError(
                "jpeg: refinement scan must have Al = Ah - 1")
        for cid in sel:
            if cid not in coefs:
                raise ValueError("jpeg: scan references unknown component")
        r = _BitReader(ent)
        if ss == 0:
            if se != 0:
                raise ValueError("jpeg: progressive DC scan must be band 0")
            if not sel:
                raise ValueError("jpeg: progressive DC scan has no component")
            comps_in = [c for c in comps if c[0] in sel]
            walk = []                      # (cid, block raster idx)
            if len(sel) > 1:               # MCU-interleaved
                for my in range(mcuy):
                    for mx in range(mcux):
                        for cid, hh, vv, _ in comps_in:
                            for j in range(hh * vv):
                                walk.append((cid, _mcu_block_idx(
                                    grid[cid][0], hh, vv, mx, my, j)))
            else:                          # single component: raster
                cid, hh, vv, _ = comps_in[0]
                nbx, nby = grid[cid]
                walk = [(cid, i) for i in range(nbx * nby)]
            if ah:                         # DC refinement: raw bits
                for cid, idx in walk:
                    if r.bit():
                        coefs[cid][idx][0] |= 1 << al
                continue
            dc_tabs, preds = {}, {}
            for cid in sel:
                t = huff.get((0, sel[cid][0]))
                if t is None:
                    raise ValueError(
                        "jpeg: scan references missing huffman table")
                dc_tabs[cid], preds[cid] = t, 0
            for cid, idx in walk:
                size = r.huff(dc_tabs[cid])
                diff = _extend(r.bits(size), size) if size else 0
                preds[cid] += diff
                coefs[cid][idx][0] = preds[cid] << al
            seen_dc.update(sel)
        else:
            if len(sel) != 1:
                raise ValueError(
                    "jpeg: progressive AC scan must be single-component")
            if not 1 <= ss <= se <= 63:
                raise ValueError("jpeg: bad progressive AC band")
            (cid, (td, ta)), = sel.items()
            ac_t = huff.get((1, ta))
            if ac_t is None:
                raise ValueError(
                    "jpeg: scan references missing huffman table")
            nbx, nby = grid[cid]
            band = _refine_ac_band if ah else _first_ac_band
            band(r, ac_t, coefs[cid], nbx * nby, ss, se, al)
    if {c[0] for c in comps} - seen_dc:
        raise ValueError("jpeg: progressive stream has no DC scan")
    yp, cbp, crp = (_plane_from_coefs(coefs[c[0]], *grid[c[0]], qts[c[0]])
                    for c in comps)
    return width, height, 3, _rgb_from_planes(width, height, yp, cbp, crp)


def _write_first_dc_scan(walk) -> bytes:
    """Entropy body of a first-pass DC scan: ``walk`` yields
    (component, point-transformed DC value, DC codes) in scan order,
    DPCM-coded against one predictor per component."""
    w = _BitWriter()
    preds: dict = {}
    for comp, v, codes in walk:
        size, mag = _magnitude(v - preds.get(comp, 0))
        preds[comp] = v
        code, ln = codes[size]
        w.put(code, ln)
        if size:
            w.put(mag, size)
    return w.flush()


def _write_first_ac_scan(zzs: list) -> bytes:
    """Entropy body of a first-pass AC band-1..63 scan over blocks in
    raster order (coefficients already point-transformed), EOB runs
    batched across blocks, coded with the stream-defined 255-symbol
    table ``_AC_PROG_CODES``."""
    w = _BitWriter()
    eobrun = 0

    def _flush_eob() -> None:
        nonlocal eobrun
        while eobrun:
            chunk = min(eobrun, 32767)
            rr = chunk.bit_length() - 1
            code, ln = _AC_PROG_CODES[rr << 4]
            w.put(code, ln)
            if rr:
                w.put(chunk - (1 << rr), rr)
            eobrun -= chunk

    for zz in zzs:
        last = 0
        for k in range(63, 0, -1):
            if zz[k]:
                last = k
                break
        if last == 0:
            eobrun += 1
            continue
        _flush_eob()
        run = 0
        for k in range(1, last + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = _AC_PROG_CODES[0xF0]        # ZRL
                w.put(code, ln)
                run -= 16
            size, mag = _magnitude(zz[k])
            code, ln = _AC_PROG_CODES[(run << 4) | size]
            w.put(code, ln)
            w.put(mag, size)
            run = 0
        if last < 63:
            eobrun += 1
    _flush_eob()
    return w.flush()


def render_jpeg_color_progressive(width: int, height: int,
                                  rgb: bytes) -> bytes:
    """Encode row-major RGB bytes as a PROGRESSIVE (SOF2) YCbCr 4:2:0
    JFIF: one MCU-interleaved DC scan (per-component DPCM, Annex K DC
    tables), then one non-interleaved AC band-1..63 scan per
    component (T.81 G.1; spectral selection, Ah=Al=0). Same frozen
    color conversion / subsample / coefficient math as the baseline
    color encoder, so any image decodes to the identical RGB bytes."""
    zz_y, zz_cb, zz_cr = _ycc420_blocks(width, height, rgb)
    out = _prologue(0xC2, width, height, _YCC420_COMPONENTS,
                    (_DHT_DC, _DHT_DC_C, _DHT_AC_PROG))
    # ---- scan 1: interleaved DC (Ss=0, Se=0, Ah=Al=0) ----
    out += _seg(0xDA, b"\x03\x01\x00\x02\x10\x03\x10"
                + bytes([0, 0, 0]))
    out += _write_first_dc_scan(
        (comp, zz[0], _CODES[comp][0])
        for mcu in _ycc420_mcus(width, height, zz_y, zz_cb, zz_cr)
        for comp, zz in mcu)
    # ---- scans 2-4: per-component AC band 1..63 (Ah=Al=0) ----
    for cid, zzg in ((1, zz_y), (2, zz_cb), (3, zz_cr)):
        out += _seg(0xDA, bytes([1, cid, 0x00]) + bytes([1, 63, 0]))
        out += _write_first_ac_scan(zzg)
    out += b"\xff\xd9"                                 # EOI
    return bytes(out)
