"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, decode/feature-extract as Arrow-batched kernels.

Since r3 the PNG class decodes for REAL (pure-stdlib codec, ``..png`` —
zlib IDAT inflate, CRC checks, all five scanline filters; r4 adds RGB
truecolor with channel-aware de-filtering; r5 adds indexed palette).
Since r5 the WAV audio class also decodes for REAL (``..wav`` — RIFF
chunk walk + PCM16 samples). jpeg raises an explicit ``unsupported``
error (an honest error row beats byte-stats posing as image features);
the video kind remains a deterministic stub behind the same seam
(ffmpeg genuinely isn't in this container). Everything Spark-side is
real and tested: schemas, the binary column path through parquet,
the per-row decode functions ``row_map`` batches over Arrow, and the
metadata functions (pure built-ins, DuckDB-oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import row_map
from ..avi import (decode_avi, decode_bmp, render_avi,
                   render_avi_mjpeg, render_avi_rle8, render_bmp)
from ..jpeg import (decode_jpeg, decode_jpeg_gray,
                    render_jpeg_color, render_jpeg_gray,
                    render_jpeg_color_progressive,
                    render_jpeg_gray_progressive,
                    render_jpeg_gray_progressive_sa)
from ..flac import decode_flac, render_flac
from ..gif import (decode_gif, decode_gif_frames, lzw_encode,
                   probe_gif_animation, render_gif, render_gif_animation)
from ..mp3probe import build_mp3, probe_mp3
from ..tiff import (decode_tiff, decode_tiff_pages, render_tiff,
                    render_tiff_pages)
from ..png import decode_png, render_png, render_png_interlaced, resize_nn
from ..wav import decode_wav, render_wav, resample_linear

MAGIC_KINDS = {
    "89504e47": "png", "25504446": "pdf",
    "ffd8ffe0": "jpeg", "ffd8ffe1": "jpeg", "ffd8ffdb": "jpeg",
    "2557444f": "wdoc",  # "%WDO" — our layout container prefix
    "47494638": "gif",   # "GIF8" (87a/89a)
    "664c6143": "flac",  # "fLaC"
    "49492a00": "tiff",  # II*\0 (little-endian)
    "4d4d002a": "tiff",  # MM\0* (big-endian)
    "52494646": "riff",  # RIFF container: WAVE -> wav (see _kind_of)
}


def _kind_of(raw: bytes) -> str:
    """Payload kind from magic bytes; RIFF containers are refined by
    their form type at offset 8 (WAVE -> wav, 'AVI ' -> avi, anything
    else stays 'riff' and hits the stub)."""
    kind = MAGIC_KINDS.get(raw[:4].hex(), "unknown")
    if (kind == "unknown" and raw[:2] == b"BM" and len(raw) >= 54
            and raw[6:10] == b"\x00\x00\x00\x00"):
        # 2-byte magic needs the stricter reserved-zeros check so a
        # text that merely starts "BM" can't flip kind (the r5
        # ADVICE #3 hazard class)
        return "bmp"
    if kind == "riff":
        form = raw[8:12]
        if form == b"WAVE":
            return "wav"
        if form == b"AVI ":
            return "avi"
        if form == b"WEBP":
            return "webp"
        return "riff"
    return kind


def binary_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins
    (length, magic hex prefix, sha256), fully oracle-checkable."""
    b = F.col(bin_col)
    magic = F.lower(F.hex(F.substring(b, 1, 4)))
    return df.select(
        F.col(id_col),
        F.length(b).cast("long").alias("n_bytes"),
        magic.alias("magic_hex"),
        F.sha2(b, 256).alias("payload_sha"))


FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
    T.StructField("error", T.StringType()),
])


def _decode_stub(payload: bytes) -> list:
    """STUB decoder for non-PNG kinds. A real deployment plugs
    torchaudio/ffmpeg in here; this container has none, so we emit a
    deterministic byte-statistics vector with the same shape contract
    (fixed-length array<double>). Raises on empty payloads to exercise
    the error path."""
    if not payload:
        raise ValueError("empty payload")
    n = len(payload)
    return [float(n), float(payload[0]), float(payload[-1]),
            float(sum(payload[:64]) % 997)]


def _decode_webp(payload: bytes) -> tuple:
    """``webp.decode_webp``; the module is imported on first use."""
    from ..webp import decode_webp
    return decode_webp(payload)


# kind -> pure-stdlib decoder returning (w, h, channels, px): png (r3,
# all filters, palette, RGBA, 16-bit), jpeg (r5 baseline; r6 4:2:0
# color and progressive), gif (r6 LZW + palette), bmp (r6 standalone
# DIB), tiff (r6 IFD walk + strips, both byte orders), webp (r7 VP8L)
_IMAGE_DECODERS = {"png": decode_png, "jpeg": decode_jpeg,
                   "gif": decode_gif, "bmp": decode_bmp,
                   "tiff": decode_tiff, "webp": _decode_webp}


def _decode_payload(kind: str, payload: bytes) -> list:
    """Real decode for the image kinds (width, height, channels, pixel
    sum mod 997, min, max — exact small integers, so the feature vector
    is oracle-checkable), for WAV/FLAC (n_samples, sample rate, duration
    ms, abs-sum mod 997, min, max over real samples) and for AVI (frame
    count, w, h, fps, first/last frame sums mod 997); byte-stats stub
    for the remaining kinds. Every decoder raises an honest ValueError
    outside its subset (F6 policy: an error row beats byte-stats posing
    as features)."""
    if kind in _IMAGE_DECODERS:
        w, h, ch, px = _IMAGE_DECODERS[kind](payload)
        return [float(w), float(h), float(ch), float(sum(px) % 997),
                float(min(px)), float(max(px))]
    if kind in ("flac", "wav"):
        rate, n_ch, samples = (decode_flac if kind == "flac"
                               else decode_wav)(payload)
        n = len(samples) // n_ch           # frames, channel-agnostic
        return [float(n), float(rate), float(n * 1000 // rate),
                float(sum(abs(s) for s in samples) % 997),
                float(min(samples) if samples else 0),
                float(max(samples) if samples else 0)]
    if kind == "avi":
        # r5: REAL uncompressed-DIB video decode — the last stub kind
        # made real; compressed AVIs raise the honest subset error
        w, h, fps, frames = decode_avi(payload)
        return [float(len(frames)), float(w), float(h), float(fps),
                float(sum(frames[0]) % 997),
                float(sum(frames[-1]) % 997)]
    return _decode_stub(payload)


def _feature_row(doc_id, payload):
    raw = payload or b""
    kind = _kind_of(raw)
    try:
        features, error = _decode_payload(kind, raw), None
    except Exception as exc:  # noqa: BLE001 — log-and-continue
        features, error = None, f"{type(exc).__name__}: {exc}"
    yield doc_id, kind, len(raw), features, error


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads — the
    real Spark plumbing around the decoders (real PNG, stub others)."""
    return row_map(df.select("doc_id", "payload"), _feature_row,
                   FEATURE_SCHEMA)


def _px_stats(px, wsum: bool = False) -> tuple:
    """(sum, min, max) of decoded samples, plus the position-weighted
    sum that pins sample ORDER when ``wsum``."""
    stats = (sum(px), min(px), max(px))
    if wsum:
        stats += (sum(i * v for i, v in enumerate(px)),)
    return stats


def _image_features(docs: DataFrame, decode, schema) -> DataFrame:
    """One ``(doc_id, *dims, px_sum, px_min, px_max[, px_wsum])`` row
    per documents row, where ``decode(doc_id)`` returns ``(*dims, px)``
    and px_wsum is emitted when ``schema`` has that column."""
    wsum = "px_wsum" in schema.names

    def _row(doc_id):
        *dims, px = decode(doc_id)
        yield (doc_id, *dims) + _px_stats(px, wsum)

    return row_map(docs.select("doc_id"), _row, schema)


def _audio_features(docs: DataFrame, decode) -> DataFrame:
    """One WAV_FEATURE_SCHEMA row (doc_id, rate, n, duration_ms,
    abs_sum, min, max) per documents row, where ``decode(doc_id)``
    returns ``(rate, channels, samples)``."""
    def _row(doc_id):
        rate, _ch, samples = decode(doc_id)
        n = len(samples)
        yield (doc_id, rate, n, n * 1000 // rate,
               sum(abs(s) for s in samples), min(samples), max(samples))

    return row_map(docs.select("doc_id"), _row, WAV_FEATURE_SCHEMA)


def _stereo_stats(doc_id: int, rate: int, n_ch: int, samples) -> tuple:
    """(doc_id, rate, n_frames, left abs-sum, right abs-sum, min, max)
    of channel-interleaved samples."""
    left, right = samples[0::n_ch], samples[1::n_ch]
    return (doc_id, rate, len(samples) // n_ch,
            sum(abs(s) for s in left), sum(abs(s) for s in right),
            min(samples), max(samples))


def _scene_cut_rows(doc_id: int, frames):
    """(doc_id, frame_id, sad, is_cut) per consecutive frame pair,
    frame_id the LATTER frame."""
    for f in range(1, len(frames)):
        sad = sum(abs(a - b) for a, b in zip(frames[f - 1], frames[f]))
        yield doc_id, f, sad, 1 if sad > SCENE_CUT_THRESHOLD else 0


# --- real-PNG contract path ------------------------------------------------

PNG_W, PNG_H = 16, 8

# frozen 16-entry palette for doc_id % 4 == 2 fixtures (r5): entry j =
# ((j*37)%256, (j*59)%256, (j*83)%256) — mirrored in the DuckDB oracles
PNG_PALETTE = [((j * 37) % 256, (j * 59) % 256, (j * 83) % 256)
               for j in range(16)]


def png_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 16x8 PNG under the frozen doc_id % 4 rule (r6
    adds RGBA color type 6 to r5's gray/RGB/palette triple):
    grayscale/RGB/RGBA byte i = (doc_id*31 + i) % 256 over
    w*h*channels bytes; palette docs store index i =
    (doc_id*31 + i) % 16 against PNG_PALETTE. Rows cycle through all
    five filter types — the pixel stats stay a pure SQL expression of
    doc_id, so DuckDB can grade the real zlib + de-filter +
    PLTE-expansion decode."""
    kind = doc_id % 4
    if kind == 2:
        idx = bytes((doc_id * 31 + i) % 16 for i in range(PNG_W * PNG_H))
        return render_png(PNG_W, PNG_H, idx, row_filters=[0, 1, 2, 3, 4],
                          palette=PNG_PALETTE)
    ch = 1 if kind == 0 else (4 if kind == 3 else 3)
    pixels = bytes((doc_id * 31 + i) % 256 for i in range(PNG_W * PNG_H * ch))
    return render_png(PNG_W, PNG_H, pixels, row_filters=[0, 1, 2, 3, 4],
                      channels=ch)


def png_interlaced_payload_for_doc(doc_id: int) -> bytes:
    """Adam7-interlaced twin of the doc_id % 4 PNG fixture (r6): the
    SAME pixel/index formulas rendered as seven reduced images, so
    the deinterlacing decode lands on the identical pixel stats and
    the query shares the sequential PNG oracle verbatim."""
    kind = doc_id % 4
    if kind == 2:
        idx = bytes((doc_id * 31 + i) % 16 for i in range(PNG_W * PNG_H))
        return render_png_interlaced(PNG_W, PNG_H, idx,
                                     row_filters=[0, 1, 2, 3, 4],
                                     palette=PNG_PALETTE)
    ch = 1 if kind == 0 else (4 if kind == 3 else 3)
    pixels = bytes((doc_id * 31 + i) % 256
                   for i in range(PNG_W * PNG_H * ch))
    return render_png_interlaced(PNG_W, PNG_H, pixels,
                                 row_filters=[0, 1, 2, 3, 4], channels=ch)


PNG_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
])


def extract_png_interlaced_features(docs: DataFrame) -> DataFrame:
    """Render + decode an Adam7-interlaced PNG per documents row —
    same shape and oracle as the sequential PNG path."""
    return _image_features(
        docs, lambda d: decode_png(png_interlaced_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


def extract_png_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real PNG per documents row and emit exact pixel
    statistics (see ``png_payload_for_doc`` for the oracle contract)."""
    return _image_features(
        docs, lambda d: decode_png(png_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


PNG_RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("out_w", T.LongType()),
    T.StructField("out_h", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_hex", T.StringType()),
])


def extract_png_resized(docs: DataFrame) -> DataFrame:
    """Decode the deterministic PNG per row (the frozen doc_id % 4
    rule, see png_payload_for_doc) and nearest-neighbor resize it to
    4x4 (png.resize_nn, channel-aware) — the preprocess step every
    multimodal training pipeline runs before feature extraction. The
    resized pixel bytes are emitted as hex so the DuckDB oracle can
    reconstruct them from the floor-index rule and compare exactly."""
    def _row(doc_id):
        w, h, ch, px = decode_png(png_payload_for_doc(doc_id))
        r = resize_nn(w, h, px, 4, 4, channels=ch)
        yield doc_id, 4, 4, ch, sum(r), r.hex()

    return row_map(docs.select("doc_id"), _row, PNG_RESIZE_SCHEMA)


# --- real-JPEG contract path (r5) ------------------------------------------

JPEG_W, JPEG_H = 16, 8


def jpeg_block_value(doc_id: int, b: int) -> int:
    """Frozen rule: block b (of the two 8x8 MCUs in the 16x8 fixture)
    is CONSTANT at value (doc_id*29 + b*97) % 256. Constant blocks
    have only a DC coefficient, whose quantization is exact integer
    math (jpeg._fdct_quant), so the decoded pixel is a pure integer
    function of doc_id — what makes this lossy codec oracle-able."""
    return (doc_id * 29 + b * 97) % 256


def _jpeg_gray_pixels(doc_id: int) -> bytes:
    """The 16x8 gray fixture: block b constant at
    ``jpeg_block_value(doc_id, b)``."""
    px = bytearray(JPEG_W * JPEG_H)
    for b in range(2):
        row = bytes([jpeg_block_value(doc_id, b)]) * 8
        for y in range(JPEG_H):
            o = y * JPEG_W + b * 8
            px[o:o + 8] = row
    return bytes(px)


def _decode_gray_jpeg(payload: bytes) -> tuple:
    """``decode_jpeg`` of a one-component stream as (w, h, px)."""
    w, h, nc, px = decode_jpeg(payload)
    assert nc == 1
    return w, h, px


def jpeg_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 16x8 block-constant baseline grayscale JPEG."""
    return render_jpeg_gray(JPEG_W, JPEG_H, _jpeg_gray_pixels(doc_id))


JPEG_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
])


def extract_jpeg_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real baseline JPEG per documents row and emit
    exact pixel statistics — the full marker-parse + huffman + dequant
    + IDCT path runs inside Arrow batches, zero shuffles."""
    return _image_features(
        docs, lambda d: decode_jpeg_gray(jpeg_payload_for_doc(d)),
        JPEG_FEATURE_SCHEMA)


# --- real color-JPEG contract path (r6, r5 VERDICT #6) ---------------------

JPEG_C_W, JPEG_C_H = 32, 16      # two 16x16 4:2:0 MCUs side by side


def jpeg_color_mcu_rgb(doc_id: int, m: int) -> tuple:
    """Frozen rule mirrored by the DuckDB oracle: MCU m of the 32x16
    color fixture is CONSTANT at rgb = ((doc*29 + m*97) % 256,
    (doc*53 + m*31) % 256, (doc*71 + m*13) % 256). Constant MCUs make
    every block DC-only, so the full YCbCr 4:2:0 decode is a pure
    integer function of doc_id."""
    return ((doc_id * 29 + m * 97) % 256,
            (doc_id * 53 + m * 31) % 256,
            (doc_id * 71 + m * 13) % 256)


def _jpeg_color_pixels(seed: int) -> bytes:
    """The 32x16 RGB color fixture: MCU m constant at
    ``jpeg_color_mcu_rgb(seed, m)``."""
    px = bytearray(JPEG_C_W * JPEG_C_H * 3)
    for m in range(2):
        rgb = bytes(jpeg_color_mcu_rgb(seed, m)) * 16
        for y in range(JPEG_C_H):
            o = (y * JPEG_C_W + m * 16) * 3
            px[o:o + 48] = rgb
    return bytes(px)


def jpeg_color_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 32x16 MCU-constant baseline YCbCr 4:2:0 JPEG."""
    return render_jpeg_color(JPEG_C_W, JPEG_C_H, _jpeg_color_pixels(doc_id))


JPEG_COLOR_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("ncomp", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
])


def jpeg_color_prog_payload_for_doc(doc_id: int) -> bytes:
    """Progressive (SOF2) twin of the color fixture (r6): the SAME
    MCU-constant RGB rendered as interleaved-DC + per-component AC
    band scans; decode must land on the identical reconstructed RGB,
    so the query shares the baseline color oracle verbatim."""
    return render_jpeg_color_progressive(JPEG_C_W, JPEG_C_H,
                                         _jpeg_color_pixels(doc_id))


def extract_jpeg_color_prog_features(docs: DataFrame) -> DataFrame:
    """Render + decode a progressive color JPEG per documents row —
    same shape and oracle as the baseline color path."""
    return _image_features(
        docs, lambda d: decode_jpeg(jpeg_color_prog_payload_for_doc(d)),
        JPEG_COLOR_FEATURE_SCHEMA)


def extract_jpeg_color_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real YCbCr 4:2:0 color JPEG per documents row
    and emit exact pixel statistics over the decoded RGB bytes — the
    marker parse (incl. DHT), interleaved-MCU huffman decode, chroma
    upsample, and integer color conversion all run inside Arrow
    batches, zero shuffles."""
    return _image_features(
        docs, lambda d: decode_jpeg(jpeg_color_payload_for_doc(d)),
        JPEG_COLOR_FEATURE_SCHEMA)


# --- real-AVI (video) contract path + frame sampling (r5) ------------------

AVI_W, AVI_H, AVI_FRAMES, AVI_FPS = 8, 4, 4, 10


def avi_frame_bytes_for_doc(doc_id: int, f: int) -> bytes:
    """Frozen rule mirrored by the DuckDB oracle: frame f byte i (of
    the top-down RGB stream) = (doc_id*13 + f*31 + i) % 256."""
    return bytes((doc_id * 13 + f * 31 + i) % 256
                 for i in range(AVI_W * AVI_H * 3))


def avi_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 4-frame uncompressed-DIB AVI per doc. The encode
    round-trips through the REAL DIB layout (BGR, bottom-up rows,
    stride padding), so decoding back to these bytes proves the full
    container + pixel-layout path."""
    return render_avi(AVI_W, AVI_H,
                      [avi_frame_bytes_for_doc(doc_id, f)
                       for f in range(AVI_FRAMES)], fps=AVI_FPS)


FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_id", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
])


def extract_video_frames(docs: DataFrame) -> DataFrame:
    """Frame-sample a real video payload per documents row (the
    preprocess step every multimodal training pipeline runs before
    captioning/embedding): decode the AVI, keep every 2nd frame, emit
    exact pixel statistics per sampled frame. Arrow-batched, zero
    shuffles; at 100 TB this is scan-speed like the
    other decode kernels."""
    def _row(doc_id):
        frames = decode_avi(avi_payload_for_doc(doc_id))[3]
        for fid in range(0, len(frames), 2):
            yield (doc_id, fid) + _px_stats(frames[fid])

    return row_map(docs.select("doc_id"), _row, FRAME_SAMPLE_SCHEMA)


# --- BI_RLE8 compressed video contract path (r6) ---------------------------

RLE_W, RLE_H, RLE_FRAMES = 8, 4, 4


def rle8_index_for_doc(doc_id: int, f: int, y: int, x: int) -> int:
    """Frozen rule mirrored by the DuckDB oracle: the palette index at
    (frame f, top-down row y, column x) is
    (doc_id*7 + f*5 + y*3 + max(0, x-4)) % 16 — the first five pixels
    of every row repeat (forcing an RLE run) and the last three are
    distinct (forcing absolute mode), so the encoded stream exercises
    runs, absolute segments with word padding, EOL, and EOB on every
    single row."""
    return (doc_id * 7 + f * 5 + y * 3 + max(0, x - 4)) % 16


def rle8_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 4-frame BI_RLE8 AVI per doc against the frozen
    16-entry palette (PNG_PALETTE: entry j = ((j*37)%256, (j*59)%256,
    (j*83)%256) — shared with the indexed-PNG fixture so the oracles
    stay on one palette rule)."""
    frames = [bytes(rle8_index_for_doc(doc_id, f, y, x)
                    for y in range(RLE_H) for x in range(RLE_W))
              for f in range(RLE_FRAMES)]
    return render_avi_rle8(RLE_W, RLE_H, frames, PNG_PALETTE, fps=AVI_FPS)


def extract_video_rle8_frames(docs: DataFrame) -> DataFrame:
    """Decode a real RLE8-COMPRESSED video payload per documents row
    (r6 — closes the 'compressed AVI' honest-error surface): the full
    RIFF walk, strf palette parse, run/absolute/EOL/EOB decompression,
    and palette expansion run inside Arrow batches; exact per-frame
    RGB statistics come out for the DuckDB gate. Arrow-batched, zero
    shuffles — at 100 TB this is scan-speed like the other decode
    kernels."""
    def _row(doc_id):
        frames = decode_avi(rle8_payload_for_doc(doc_id))[3]
        for fid, px in enumerate(frames):
            yield (doc_id, fid) + _px_stats(px)

    return row_map(docs.select("doc_id"), _row, FRAME_SAMPLE_SCHEMA)


# --- real-WAV contract path (r5) -------------------------------------------

WAV_RATE, WAV_N = 8000, 64


def wav_samples_for_doc(doc_id: int) -> list:
    """Frozen rule mirrored by the DuckDB oracle: sample i =
    ((doc_id*73 + i*29) % 4001) - 2000 — exact small ints in
    [-2000, 2000], so every decoded statistic is a pure SQL expression
    of doc_id."""
    return [((doc_id * 73 + i * 29) % 4001) - 2000 for i in range(WAV_N)]


def wav_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic PCM16-mono RIFF/WAVE payload per doc."""
    return render_wav(wav_samples_for_doc(doc_id), sample_rate=WAV_RATE)


WAV_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("abs_sum", T.LongType()),
    T.StructField("s_min", T.LongType()),
    T.StructField("s_max", T.LongType()),
])


def extract_wav_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real RIFF/WAVE file per documents row and emit
    exact sample statistics (see ``wav_samples_for_doc`` for the
    oracle contract) — the U1 audio enrichment made real (r5): the
    bytes round-trip through the actual container walk + PCM16 decode
    inside Arrow batches, zero shuffles."""
    return _audio_features(docs, lambda d: decode_wav(wav_payload_for_doc(d)))


def wav_stereo_samples_for_doc(doc_id: int) -> list:
    """Frozen stereo rule (r6), channel-interleaved: frame i carries
    left = ((doc_id*73 + i*29) % 4001) - 2000 (the mono rule) and
    right = ((doc_id*97 + i*53) % 4001) - 2000 — exact small ints, so
    per-channel statistics stay pure SQL expressions of doc_id."""
    out = []
    for i in range(WAV_N):
        out.append(((doc_id * 73 + i * 29) % 4001) - 2000)
        out.append(((doc_id * 97 + i * 53) % 4001) - 2000)
    return out


WAV_STEREO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("abs_sum_l", T.LongType()),
    T.StructField("abs_sum_r", T.LongType()),
    T.StructField("s_min", T.LongType()),
    T.StructField("s_max", T.LongType()),
])


def extract_wav_stereo_features(docs: DataFrame) -> DataFrame:
    """Stereo (2-channel interleaved PCM16) decode + per-channel
    de-interleaved statistics (r6 — widens the r5 mono subset): the
    payload round-trips through the real container walk, the fmt
    block-align/byte-rate fields carry the channel count, and the
    left/right split exercises genuine de-interleaving rather than a
    flat sample scan. Arrow-batched, zero shuffles."""
    def _row(doc_id):
        payload = render_wav(wav_stereo_samples_for_doc(doc_id),
                             sample_rate=WAV_RATE, channels=2)
        yield _stereo_stats(doc_id, *decode_wav(payload))

    return row_map(docs.select("doc_id"), _row, WAV_STEREO_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image hash (dHash) + banded near-dup candidates (r6)
# ---------------------------------------------------------------------------

DHASH_W, DHASH_H = 9, 8     # classic dHash: 9x8 gray -> 8 bits/row

IMAGE_DHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("dhash_hex", T.StringType()),
    T.StructField("band0", T.LongType()),
    T.StructField("band1", T.LongType()),
    T.StructField("band2", T.LongType()),
    T.StructField("band3", T.LongType()),
])


def _dhash_rows(w: int, h: int, ch: int, px: bytes) -> list:
    """Per-row dHash bytes of a decoded image: integer luma
    ((r+g+b) div 3; alpha ignored; identity for grayscale), nearest-
    neighbor sample to 9x8 with the same floor-index rule as
    ``png.resize_nn``, then bit c of row r = gray[r][c] > gray[r][c+1]
    packed MSB-first. Pure integer math end to end, so the DuckDB
    oracle can recompute the hash analytically from the fixture pixel
    formulas."""
    if ch == 1:
        gray = list(px)
    else:
        gray = [(px[i * ch] + px[i * ch + 1] + px[i * ch + 2]) // 3
                for i in range(w * h)]
    rows = []
    for r in range(DHASH_H):
        sy = (r * h) // DHASH_H
        g9 = [gray[sy * w + (c * w) // DHASH_W] for c in range(DHASH_W)]
        byte = 0
        for c in range(8):
            byte = (byte << 1) | (1 if g9[c] > g9[c + 1] else 0)
        rows.append(byte)
    return rows


def image_dhash(docs: DataFrame, payload_col: str | None = None) -> DataFrame:
    """Perceptual difference-hash per image (public dHash scheme:
    gradient-sign fingerprint, robust to rescaling/requantization —
    the standard cheap near-dup key for web image corpora). Emits the
    64-bit hash as 16 hex chars plus four 16-bit integer bands
    (row-byte pairs) for LSH-style bucketing downstream.

    ``payload_col=None`` renders the frozen doc_id%4 PNG fixture
    (``png_payload_for_doc``) — the oracle-checkable demo shape;
    pass a binary column name for real payloads (undecodable rows
    yield NULL hash columns, the honest-error contract).

    Scale shape: map-only Arrow-batched decode+hash, zero shuffle;
    the hash is 12 bytes of output per image however large the
    payload."""
    cols = ["doc_id"] + ([payload_col] if payload_col else [])

    def _row(doc_id, *payload):
        raw = (payload[0] or b"") if payload else png_payload_for_doc(doc_id)
        try:
            rows = _dhash_rows(*decode_png(raw))
        except Exception:   # noqa: BLE001 — honest error row
            yield (doc_id, None, None, None, None, None)
            return
        yield (doc_id, "".join(f"{b:02x}" for b in rows),
               *(rows[2 * b] * 256 + rows[2 * b + 1] for b in range(4)))

    return row_map(docs.select(*cols), _row, IMAGE_DHASH_SCHEMA)


def image_near_dup_pairs(hashes: DataFrame, max_hamming: int = 6,
                         collapse_exact: bool = False) -> DataFrame:
    """Near-duplicate image candidate pairs from dHash bands: two
    images collide when ANY 16-bit band matches exactly (an image pair
    within hamming distance 3 of each other is guaranteed to share a
    band by pigeonhole at 4 bands/64 bits), then candidates are
    verified by full hamming distance <= ``max_hamming``.

    ``collapse_exact=True`` is the production discipline for
    boilerplate-heavy corpora: first collapse identical hashes to
    their min-id representative (ONE hash-aggregation — the exact
    image-dedup step), then pair only representatives with
    hamming >= 1. Without it, a mass-duplicated logo turns its bucket
    quadratic — the same degeneracy the capped-LSH star-pair pattern
    (dedup.py) exists for.

    Scale shape (same layout as the MinHash LSH operator): pairs form
    only WITHIN a (band_idx, band_value) bucket — never a global
    self-join. The four bands ride along the explode (16 bytes/row),
    so no second join is needed to recover the full hash for the
    hamming check."""
    base = hashes.filter(F.col("band0").isNotNull())
    if collapse_exact:
        base = (base.groupBy("dhash_hex")
                .agg(F.min("doc_id").alias("doc_id"),
                     *[F.min(f"band{i}").alias(f"band{i}")
                       for i in range(4)]))
    e = base.select(
        F.col("doc_id").alias("id"), "band0", "band1", "band2", "band3",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("bi"), F.col(f"band{i}").alias("bv"))
            for i in range(4)])).alias("bk"),
    ).select("id", "band0", "band1", "band2", "band3",
             F.col("bk.bi").alias("bi"), F.col("bk.bv").alias("bv"))
    a, b = e.alias("a"), e.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.band{i}").bitwiseXOR(F.col(f"b.band{i}")))
        for i in range(4))
    pairs = (a.join(b, ["bi", "bv"])
             .filter(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     ham.cast("long").alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))
    if collapse_exact:
        pairs = pairs.filter(F.col("hamming") >= 1)
    return pairs


def wav_ulaw_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic G.711 mu-law mono RIFF/WAVE payload per doc (r6):
    the SAME sample rule as the PCM16 fixture
    (``wav_samples_for_doc``), companded through the real mu-law
    encoder — so the decoded values are the exact integer function
    ulaw_decode(ulaw_encode(s)) that DuckDB mirrors with the segment
    CASE ladder."""
    return render_wav(wav_samples_for_doc(doc_id), sample_rate=WAV_RATE,
                      encoding="ulaw")


def extract_wav_ulaw_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real mu-law WAV per documents row (format tag
    7, one companded byte per sample) and emit exact statistics of the
    EXPANDED samples — pinning the lossy companding math itself under
    the DuckDB gate, same shape as ``extract_wav_features``."""
    return _audio_features(
        docs, lambda d: decode_wav(wav_ulaw_payload_for_doc(d)))


def wav_adpcm_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic IMA ADPCM mono RIFF/WAVE payload per doc (r6):
    the SAME sample rule as the PCM16 fixture compressed through the
    real stateful encoder (predictor + step-index state machine, one
    4-bit nibble per sample) — the DuckDB oracle replays the exact
    quantize/reconstruct recursion as a recursive CTE, so the lossy
    codec's full state trajectory is under the hash."""
    return render_wav(wav_samples_for_doc(doc_id), sample_rate=WAV_RATE,
                      encoding="adpcm")


def extract_wav_adpcm_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real IMA ADPCM WAV per documents row (format
    tag 0x11: block header + nibble stream, low nibble first) and emit
    exact statistics of the RECONSTRUCTED samples — same shape as
    ``extract_wav_features``. Arrow-batched, zero shuffles."""
    return _audio_features(
        docs, lambda d: decode_wav(wav_adpcm_payload_for_doc(d)))


def jpeg_prog_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE (SOF2, spectral-selection) twin of the
    baseline grayscale JPEG fixture: the SAME block-constant pixels,
    so the multi-scan decode must land on the identical integer pixel
    function of doc_id the baseline oracle computes."""
    return render_jpeg_gray_progressive(JPEG_W, JPEG_H,
                                        _jpeg_gray_pixels(doc_id))


def jpeg_dri_payload_for_doc(doc_id: int) -> bytes:
    """Restart-marker twin (r6): the SAME block-constant pixels with
    DRI=1 — an RST marker (byte-aligned, DC predictor reset) between
    the two MCUs. Decode must land on the identical pixel function,
    so the query shares the baseline oracle."""
    return render_jpeg_gray(JPEG_W, JPEG_H, _jpeg_gray_pixels(doc_id),
                            restart_interval=1)


def extract_jpeg_dri_features(docs: DataFrame) -> DataFrame:
    """Render + decode a restart-interval baseline JPEG per documents
    row — same shape and oracle as the baseline path."""
    return _image_features(
        docs, lambda d: _decode_gray_jpeg(jpeg_dri_payload_for_doc(d)),
        JPEG_FEATURE_SCHEMA)


def jpeg_prog_sa_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic successive-approximation twin (r6): the SAME
    block-constant pixels rendered as a 4-scan SOF2 stream — DC and
    AC first passes at Al=1, then DC and AC refinement scans (T.81
    G.1.2.3). Both progressive dimensions reassemble the coefficients
    exactly, so the decode lands on the same integer pixel function
    of doc_id the baseline oracle computes."""
    return render_jpeg_gray_progressive_sa(JPEG_W, JPEG_H,
                                           _jpeg_gray_pixels(doc_id))


def extract_jpeg_prog_sa_features(docs: DataFrame) -> DataFrame:
    """Render + decode a successive-approximation progressive JPEG per
    documents row and emit exact pixel statistics — same shape and
    oracle as the baseline path."""
    return _image_features(
        docs, lambda d: _decode_gray_jpeg(jpeg_prog_sa_payload_for_doc(d)),
        JPEG_FEATURE_SCHEMA)


def extract_jpeg_prog_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real PROGRESSIVE JPEG per documents row
    (SOF2: DC scan then AC band scan with EOB runs) and emit exact
    pixel statistics — same shape and oracle as the baseline path."""
    return _image_features(
        docs, lambda d: _decode_gray_jpeg(jpeg_prog_payload_for_doc(d)),
        JPEG_FEATURE_SCHEMA)


# --- real-GIF contract path (r6) -------------------------------------------

GIF_W, GIF_H = 16, 8


def gif_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 16x8 single-frame GIF: palette index i =
    (doc_id*31 + i) % 16 against the frozen PNG_PALETTE (entry j =
    ((j*37)%256, (j*59)%256, (j*83)%256) — shared with the palette-PNG
    contract so the oracles reuse one formula); odd doc_ids store the
    SAME pixels interlaced (the 4-pass row shuffle), which the
    position-weighted checksum in the feature row pins — a decoder
    that skips deinterlacing gets identical sums but a wrong wsum."""
    idx = bytes((doc_id * 31 + i) % 16 for i in range(GIF_W * GIF_H))
    return render_gif(GIF_W, GIF_H, idx, PNG_PALETTE,
                      interlaced=bool(doc_id % 2))


GIF_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
    T.StructField("px_wsum", T.LongType()),
])


def extract_gif_features(docs: DataFrame) -> DataFrame:
    """Render + LZW-decode a real GIF per documents row and emit exact
    pixel statistics incl. the position-weighted sum that pins
    interlace reassembly (see ``gif_payload_for_doc``)."""
    return _image_features(
        docs, lambda d: decode_gif(gif_payload_for_doc(d)),
        GIF_FEATURE_SCHEMA)


# --- MJPEG AVI contract path (r6) ------------------------------------------

MJPEG_FRAMES = 2


def mjpeg_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic 2-frame 32x16 MJPEG AVI: frame f reuses the
    color-JPEG MCU-constant rule seeded s = doc_id*2 + f, so each
    decoded frame is the SAME integer function of the seed the
    mm_features_jpeg_color oracle computes — the container walk, the
    per-frame JPEG decode, and the frame ordering are all under the
    hash."""
    frames = [_jpeg_color_pixels(doc_id * 2 + f)
              for f in range(MJPEG_FRAMES)]
    return render_avi_mjpeg(JPEG_C_W, JPEG_C_H, frames, fps=5)


MJPEG_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("frame_id", T.LongType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_min", T.LongType()),
    T.StructField("px_max", T.LongType()),
])


def extract_video_mjpeg_frames(docs: DataFrame) -> DataFrame:
    """Render + decode a real MJPEG AVI per documents row and emit
    exact per-frame RGB statistics (see ``mjpeg_payload_for_doc``)."""
    def _row(doc_id):
        w, h, _fps, frames = decode_avi(mjpeg_payload_for_doc(doc_id))
        for f, fr in enumerate(frames):
            yield (doc_id, f, w, h) + _px_stats(fr)

    return row_map(docs.select("doc_id"), _row, MJPEG_FRAME_SCHEMA)


# --- real-FLAC contract path (r6) ------------------------------------------

FLAC_N = 64


def flac_samples_for_doc(doc_id: int) -> list:
    """Frozen rule mirrored by the DuckDB oracle: sample i =
    ((doc_id*89 + i*31) % 4001) - 2000. FLAC is lossless, so the
    DECODED samples equal this formula bit-exactly — the whole
    rice/fixed-predictor/CRC pipeline sits under the integer hash."""
    return [((doc_id * 89 + i * 31) % 4001) - 2000 for i in range(FLAC_N)]


def flac_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic mono 16-bit FLAC per doc; block_size=16 makes 4
    frames, exercising frame numbering and per-frame CRCs."""
    return render_flac(flac_samples_for_doc(doc_id), sample_rate=8000,
                       channels=1, bps=16, block_size=16)


def extract_flac_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real FLAC stream per documents row and emit
    exact sample statistics (see ``flac_samples_for_doc``)."""
    return _audio_features(
        docs, lambda d: decode_flac(flac_payload_for_doc(d)))


# --- variable-blocksize FLAC contract path (r7) -----------------------------

FLAC_VB_SIZES = [16, 7, 25, 9, 5, 2]           # sums to FLAC_N = 64


def flac_vb_samples_for_doc(doc_id: int) -> list:
    """Frozen rule: sample i = ((doc_id*97 + i*43) % 4001) - 2000."""
    return [((doc_id * 97 + i * 43) % 4001) - 2000 for i in range(FLAC_N)]


def flac_vb_payload_for_doc(doc_id: int) -> bytes:
    """Deterministic VARIABLE-blocksize FLAC (r7, r6 VERDICT #8): six
    uneven frames (16/7/25/9/5/2 samples) whose headers carry
    starting-SAMPLE varints under the strategy bit — the last
    fixed-subset gap; LPC on odd docs so both predictor paths ride
    the uneven frames."""
    return render_flac(flac_vb_samples_for_doc(doc_id), sample_rate=8000,
                       channels=1, bps=16, use_lpc=bool(doc_id % 2),
                       block_sizes=FLAC_VB_SIZES)


def extract_flac_vb_features(docs: DataFrame) -> DataFrame:
    """Render + decode a variable-blocksize FLAC per documents row;
    same exact-stats shape as :func:`extract_flac_features`."""
    return _audio_features(
        docs, lambda d: decode_flac(flac_vb_payload_for_doc(d)))


# --- sub-8-bit PNG contract path (r6) --------------------------------------

def png_lowdepth_payload_for_doc(doc_id: int) -> bytes:
    """Frozen sub-8-bit rule: depth d = (1,2,4)[doc_id%3]; odd doc_ids
    are PLTE-indexed against PNG_PALETTE[:2**d], even are grayscale
    (decoded sample = s * (255 // (2**d - 1)), exact bit-replication
    integers); sample i = (doc_id*31 + i) % 2**d over 16x8; rows cycle
    all five filters OVER THE PACKED BYTES (the part sub-8-bit
    decoders get wrong)."""
    d = (1, 2, 4)[doc_id % 3]
    px = bytes((doc_id * 31 + i) % (1 << d) for i in range(PNG_W * PNG_H))
    pal = PNG_PALETTE[:1 << d] if doc_id % 2 else None
    return render_png(PNG_W, PNG_H, px, row_filters=[0, 1, 2, 3, 4],
                      palette=pal, bit_depth=d)


def extract_png_lowdepth_features(docs: DataFrame) -> DataFrame:
    """Render + decode a sub-8-bit PNG per documents row — PNG error
    surface now 16-bit depth and sub-8-bit interlace only."""
    return _image_features(
        docs, lambda d: decode_png(png_lowdepth_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


# --- 16-bit PNG contract path (r6) -----------------------------------------

def png16_payload_for_doc(doc_id: int) -> bytes:
    """Frozen 16-bit rule: channels = (1,3,4)[doc_id%3]; sample i =
    (doc_id*97 + i*257) % 65536 over 16x8xch, all five filters (bpp =
    2*channels — the part 16-bit decoders get wrong); decode returns
    full-precision ints, no presentation reduction."""
    ch = (1, 3, 4)[doc_id % 3]
    px = [(doc_id * 97 + i * 257) % 65536
          for i in range(PNG_W * PNG_H * ch)]
    return render_png(PNG_W, PNG_H, px, row_filters=[0, 1, 2, 3, 4],
                      channels=ch, bit_depth=16)


def extract_png16_features(docs: DataFrame) -> DataFrame:
    """Render + decode a 16-bit PNG per documents row — PNG error
    surface now sub-8-bit/16-bit interlace only."""
    return _image_features(
        docs, lambda d: decode_png(png16_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


# --- video scene-cut detection (r6) ----------------------------------------

SCENE_CUT_THRESHOLD = 6000
SCENE_CUT_SCHEMA = "doc_id long, frame_id long, sad long, is_cut long"


def extract_video_scene_cuts(docs: DataFrame) -> DataFrame:
    """Scene-cut detection over real decoded video (the frame-sampling
    heuristic a multimodal curation pipeline runs before captioning):
    per consecutive frame pair, the integer sum of absolute RGB
    differences (SAD); is_cut = SAD > threshold. Runs on the 4-frame
    uncompressed-DIB fixture, so the oracle computes every SAD from
    the frame byte formula. Emits (doc_id, frame_id, sad, is_cut)
    with frame_id the LATTER frame of each pair."""
    return row_map(
        docs.select("doc_id"),
        lambda d: _scene_cut_rows(d, decode_avi(avi_payload_for_doc(d))[3]),
        SCENE_CUT_SCHEMA)


# --- decorrelated-stereo LPC FLAC contract path (r6) -----------------------

def flac_ms_samples_for_doc(doc_id: int) -> list:
    """Frozen stereo rule: frame i has L = ((doc_id*89 + i*31) % 4001)
    - 2000 and R = ((doc_id*53 + i*17) % 4001) - 2000, interleaved."""
    out = []
    for i in range(FLAC_N):
        out.append(((doc_id * 89 + i * 31) % 4001) - 2000)
        out.append(((doc_id * 53 + i * 17) % 4001) - 2000)
    return out


def flac_ms_payload_for_doc(doc_id: int) -> bytes:
    """Mid/side + order-2 LPC FLAC (the two decode paths beyond the
    fixed-predictor subset): block_size=16 -> 4 frames, side channel
    at bps+1. Lossless, so the decode must reproduce the formula
    bit-exactly through BOTH the LPC reconstruction and the mid/side
    inverse."""
    return render_flac(flac_ms_samples_for_doc(doc_id), sample_rate=8000,
                       channels=2, bps=16, block_size=16,
                       use_lpc=True, stereo_mode="mid_side")


def extract_flac_ms_features(docs: DataFrame) -> DataFrame:
    """Render + decode a mid/side LPC FLAC per documents row; emits
    per-channel exact statistics."""
    def _row(doc_id):
        rate, ch, samples = decode_flac(flac_ms_payload_for_doc(doc_id))
        assert ch == 2
        yield _stereo_stats(doc_id, rate, ch, samples)

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, sample_rate long, n_frames long, "
                   "l_abs_sum long, r_abs_sum long, s_min long, "
                   "s_max long")


# --- image luma histogram (r6) ---------------------------------------------

def extract_image_histogram(docs: DataFrame) -> DataFrame:
    """Integer luma histogram over real decoded images (the brightness
    profile vision-curation filters key on): luma = (299r + 587g +
    114b) // 1000 per pixel of the GIF fixture decode, bin = luma *
    4 // 256. Emits (doc_id, bin, n_px) — one row per NON-EMPTY
    bin, exactly reconstructible from the palette formula."""
    def _row(doc_id):
        px = decode_gif(gif_payload_for_doc(doc_id))[3]
        counts: dict = {}
        for i in range(0, len(px), 3):
            luma = (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
            b = luma * 4 // 256
            counts[b] = counts.get(b, 0) + 1
        for b in sorted(counts):
            yield doc_id, b, counts[b]

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, bin long, n_px long")


# --- real-TIFF contract path (r6) ------------------------------------------

def tiff_payload_for_doc(doc_id: int) -> bytes:
    """Frozen TIFF rule: doc_id%4 -> (gray LE, RGB LE, gray BE,
    RGB BE); sample i = (doc_id*37 + i) % 256 over 16x8xch;
    rows_per_strip=3 makes uneven strips (3+3+2 rows), so the strip
    offset/count arrays go out-of-line — the pointer-machine part of
    the format — in BOTH byte orders."""
    k = doc_id % 4
    ch = 3 if k % 2 else 1
    px = bytes((doc_id * 37 + i) % 256
               for i in range(PNG_W * PNG_H * ch))
    return render_tiff(PNG_W, PNG_H, px, channels=ch,
                       big_endian=k >= 2, rows_per_strip=3)


def extract_tiff_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real TIFF per documents row (IFD walk,
    out-of-line arrays, strip reassembly, both endiannesses)."""
    return _image_features(
        docs, lambda d: decode_tiff(tiff_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


# --- tiled multi-page TIFF contract path (r7) --------------------------------

TIFF_PAGES = 2


def tiff_tiled_payload_for_doc(doc_id: int) -> bytes:
    """Frozen tiled multi-page rule (r7 — the scanned-document file
    shape: one IFD per sheet, tile grids with padded edges): 2 pages
    of 16x8, ch = 3 on odd docs, page p sample i =
    (doc_id*47 + p*13 + i*5) % 256; tiles are 5x3 (so the 16/5 and
    8/3 edges exercise the zero-padded partial tiles), LZW +
    predictor 2 throughout, big-endian on doc_id%2==1."""
    ch = 3 if doc_id % 2 else 1
    pages = []
    for p in range(TIFF_PAGES):
        px = bytes((doc_id * 47 + p * 13 + i * 5) % 256
                   for i in range(PNG_W * PNG_H * ch))
        pages.append((PNG_W, PNG_H, px, ch))
    return render_tiff_pages(pages, big_endian=bool(doc_id % 2),
                             compression=5, predictor=2, tile=(5, 3))


def extract_tiff_tiled_features(docs: DataFrame) -> DataFrame:
    """Render + decode a tiled 2-page TIFF per documents row; emits
    one row per PAGE with exact stats; px_wsum pins tile blitting
    (a tile placed at the wrong grid position keeps the sums but
    fails the wsum)."""
    def _row(doc_id):
        pages = decode_tiff_pages(tiff_tiled_payload_for_doc(doc_id))
        for p, (w, h, ch, px) in enumerate(pages):
            yield (doc_id, p, w, h, ch) + _px_stats(px, wsum=True)

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, page_id long, width long, "
                   "height long, channels long, px_sum long, "
                   "px_min long, px_max long, px_wsum long")


# --- audio resampling contract path (r7) -------------------------------------

def extract_audio_resample(docs: DataFrame) -> DataFrame:
    """Decode the real PCM16 WAV fixture and rate-normalize it with
    integer-exact linear resampling (r7): even docs upsample
    8000 -> 16000, odd docs downsample 8000 -> 6000 — the
    normalization pass every audio-training pipeline runs. Emits
    (doc_id, dst_rate, n_out, abs_sum, s_min, s_max, s_wsum);
    s_wsum pins sample ORDER and the interpolation phase."""
    def _row(doc_id):
        rate, _ch, samples = decode_wav(wav_payload_for_doc(doc_id))
        dst = 16000 if doc_id % 2 == 0 else 6000
        y = resample_linear(samples, rate, dst)
        yield (doc_id, dst, len(y), sum(abs(v) for v in y), min(y), max(y),
               sum(j * v for j, v in enumerate(y)))

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, dst_rate long, n_out long, "
                   "abs_sum long, s_min long, s_max long, "
                   "s_wsum long")


# --- Ogg/Vorbis probe contract path (r7) -------------------------------------

def ogg_payload_for_doc(doc_id: int) -> bytes:
    """Frozen Ogg rule: channels 1 + doc_id%2, rate (8000, 22050,
    44100)[doc_id%3], nominal bitrate (doc_id%9 + 1)*16000,
    doc_id%4 + 1 audio pages with granules k*(doc_id%7 + 1)*1000."""
    from ..oggprobe import build_ogg_vorbis
    rates = (8000, 22050, 44100)
    n_aud = doc_id % 4 + 1
    step = (doc_id % 7 + 1) * 1000
    return build_ogg_vorbis(1 + doc_id % 2, rates[doc_id % 3],
                            (doc_id % 9 + 1) * 16000,
                            [step * (k + 1) for k in range(n_aud)])


def probe_ogg_features(docs: DataFrame) -> DataFrame:
    """Probe a real Ogg Vorbis container per documents row — page
    walk with CRC verification + identification-header parse, no
    audio decode (the honest-probe pattern next to the MP3 probe).
    duration_ms = last_granule * 1000 div rate."""
    from ..oggprobe import probe_ogg_vorbis

    def _row(doc_id):
        n, ch, rate, nom, gr = probe_ogg_vorbis(ogg_payload_for_doc(doc_id))
        yield doc_id, n, ch, rate, nom, gr, gr * 1000 // rate

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, n_pages long, channels long, "
                   "sample_rate long, bitrate_nominal long, "
                   "last_granule long, duration_ms long")


# --- JPEG-in-TIFF contract path (r7) -----------------------------------------

def tiff_jpeg_payload_for_doc(doc_id: int) -> bytes:
    """Frozen JPEG-in-TIFF rule (r7 — the scanned-document archive
    shape: every strip a standalone baseline JPEG): 16x16 gray, two
    8-row strips, block (s, bx) constant at
    v = (doc_id*29 + s*53 + bx*97) % 256 — constant blocks survive
    the DCT as a pure DC term, so the decoded value is the exact
    integer formula the mm_features_jpeg oracle already uses."""
    k = bytearray(16 * 16)
    for y in range(16):
        for x in range(16):
            v = (doc_id * 29 + (y // 8) * 53 + (x // 8) * 97) % 256
            k[y * 16 + x] = v
    return render_tiff(16, 16, bytes(k), channels=1,
                       big_endian=bool(doc_id % 2), rows_per_strip=8,
                       compression=7)


def extract_tiff_jpeg_features(docs: DataFrame) -> DataFrame:
    """Render + decode a JPEG-in-TIFF per documents row; px_wsum pins
    strip stitching order."""
    return _image_features(
        docs, lambda d: decode_tiff(tiff_jpeg_payload_for_doc(d)),
        GIF_FEATURE_SCHEMA)


# --- WebP (VP8L) contract path (r7) ------------------------------------------

WEBP_W, WEBP_H = 16, 8


def webp_payload_for_doc(doc_id: int) -> bytes:
    """Frozen VP8L rule (r7 — the last classic web image format):
    doc_id%4 sweeps the transform space, every variant LOSSLESS so
    one analytic byte formula per variant is the oracle:

      0: plain        rgba[i] = (doc_id*59 + i*7)  % 256
      1: sg + lz77    rgba[i] = (doc_id*61 + i*11) % 256
      2: predictor    rgba[i] = (doc_id*67 + i*13) % 256,
         mode doc_id%14 (all 14 modes sweep across docs)
      3: palette      pixel p = PNG_PALETTE[(doc_id*31+p) % 16], a=255
         (sub-8-bit bundling: 16 colors -> 2 px per green byte)
    """
    from ..webp import render_webp
    k = doc_id % 4
    n = WEBP_W * WEBP_H * 4
    if k == 0:
        rgba = bytes((doc_id * 59 + i * 7) % 256 for i in range(n))
        return render_webp(WEBP_W, WEBP_H, rgba)
    if k == 1:
        rgba = bytes((doc_id * 61 + i * 11) % 256 for i in range(n))
        return render_webp(WEBP_W, WEBP_H, rgba, subtract_green=True,
                           use_lz77=True)
    if k == 2:
        rgba = bytes((doc_id * 67 + i * 13) % 256 for i in range(n))
        return render_webp(WEBP_W, WEBP_H, rgba,
                           predictor_mode=doc_id % 14)
    rgba = bytearray()
    for p in range(WEBP_W * WEBP_H):
        r, g, b = PNG_PALETTE[(doc_id * 31 + p) % 16]
        rgba += bytes((r, g, b, 255))
    return render_webp(WEBP_W, WEBP_H, bytes(rgba), use_palette=True)


def extract_webp_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real VP8L WebP per documents row and emit
    exact RGBA statistics; px_wsum pins pixel ORDER (a mis-applied
    transform or mis-bundled palette keeps sums, fails wsum)."""
    return _image_features(
        docs, lambda d: _decode_webp(webp_payload_for_doc(d)),
        GIF_FEATURE_SCHEMA)


# --- LZW TIFF contract path (r7) --------------------------------------------

def tiff_lzw_payload_for_doc(doc_id: int) -> bytes:
    """Frozen LZW-TIFF rule (r7 — the scanned-document corpus's
    dominant compression): doc_id%4 sweeps (gray LE pred1,
    RGB LE pred2, gray BE pred2, RGB BE pred1), all Compression=5;
    sample i = (doc_id*43 + i*3) % 256 over 16x8xch with
    rows_per_strip=3, so every strip is an INDEPENDENT LZW stream and
    the horizontal-differencing predictor rides under the hash on
    half the docs. Lossless, so decode == formula bit-exactly."""
    k = doc_id % 4
    ch = 3 if k % 2 else 1
    px = bytes((doc_id * 43 + i * 3) % 256
               for i in range(PNG_W * PNG_H * ch))
    return render_tiff(PNG_W, PNG_H, px, channels=ch,
                       big_endian=k >= 2, rows_per_strip=3,
                       compression=5, predictor=2 if k in (1, 2) else 1)


def extract_tiff_lzw_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real LZW-compressed TIFF per documents row
    (MSB-first early-change LZW per strip, optional predictor 2);
    px_wsum pins sample ORDER — a decoder that mis-splices strips or
    mis-applies the predictor keeps the sums but fails the wsum."""
    return _image_features(
        docs, lambda d: decode_tiff(tiff_lzw_payload_for_doc(d)),
        GIF_FEATURE_SCHEMA)


# --- real-BMP contract path (r6) -------------------------------------------

def bmp_payload_for_doc(doc_id: int) -> bytes:
    """Frozen BMP rule: 16x8 RGB, byte i = (doc_id*41 + i) % 256 —
    the standalone-DIB file (BGR + bottom-up + stride pad under the
    hash, same conventions the AVI frames exercise in-container)."""
    px = bytes((doc_id * 41 + i) % 256
               for i in range(PNG_W * PNG_H * 3))
    return render_bmp(PNG_W, PNG_H, px)


def extract_bmp_features(docs: DataFrame) -> DataFrame:
    """Render + decode a real BMP per documents row."""
    return _image_features(
        docs, lambda d: decode_bmp(bmp_payload_for_doc(d)),
        PNG_FEATURE_SCHEMA)


# --- MP3 header-probe contract path (r6) -----------------------------------

MP3_KBPS_CHOICES = (32, 64, 128, 192, 320)
MP3_RATES = (44100, 48000, 32000)


def mp3_payload_for_doc(doc_id: int) -> bytes:
    """Frozen MP3 rule: doc_id%5 + 2 frames, frame j at kbps =
    MP3_KBPS_CHOICES[(doc_id + j) % 5] (VBR), sample rate =
    MP3_RATES[doc_id % 3], an ID3v2 tag of 37 bytes on odd doc_ids —
    the probe walks headers only (this module never claims to decode
    Layer III audio)."""
    n = doc_id % 5 + 2
    frames = [MP3_KBPS_CHOICES[(doc_id + j) % 5] for j in range(n)]
    return build_mp3(frames, sample_rate=MP3_RATES[doc_id % 3],
                     id3_size=37 if doc_id % 2 else 0)


def probe_mp3_features(docs: DataFrame) -> DataFrame:
    """Header-probe a real MP3 stream per documents row (ID3 skip,
    frame walk, padding bit, VBR min/max)."""
    return row_map(docs.select("doc_id"),
                   lambda d: [(d, *probe_mp3(mp3_payload_for_doc(d)))],
                   "doc_id long, n_frames long, sample_rate long,"
                   " min_kbps long, max_kbps long,"
                   " duration_ms long")


# --- audio energy windows (r6) ---------------------------------------------

AUDIO_WIN = 16


def extract_audio_energy(docs: DataFrame) -> DataFrame:
    """Windowed audio energy over REAL decoded WAV samples (the
    VAD-ish pre-filter audio curation runs): per 16-sample window,
    the integer sum of squares and a silence flag (energy below
    1/100th of the clip mean). Emits (doc_id, win_id, energy,
    is_silent) — every value a pure integer function of the WAV
    fixture formula."""
    def _row(doc_id):
        samples = decode_wav(wav_payload_for_doc(doc_id))[2]
        wins = [sum(s * s for s in samples[o:o + AUDIO_WIN])
                for o in range(0, len(samples), AUDIO_WIN)]
        mean = sum(wins) // len(wins)
        for w_id, en in enumerate(wins):
            yield doc_id, w_id, en, 1 if en * 100 < mean else 0

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, win_id long, energy long, "
                   "is_silent long")


# --- GIF animation-probe contract path (r6) --------------------------------

def gif_anim_payload_for_doc(doc_id: int) -> bytes:
    """Frozen animation rule: n = doc_id%4 + 1 frames of a 2x2 image;
    every frame carries a graphic-control delay of (doc_id%7 + 1)*5
    centiseconds EXCEPT doc_id%5==0 docs (no GCEs at all -> total 0);
    odd doc_ids add a NETSCAPE2.0 loop extension with loops =
    doc_id%3, even docs have none (probe reports -1)."""
    import struct as _struct

    pal = [(j, j, j) for j in range(4)]
    hdr = b"GIF89a" + _struct.pack("<HHBBB", 2, 2, 0x81, 0, 0)
    hdr += bytes(b for rgb in pal for b in rgb)
    out = bytearray(hdr)
    if doc_id % 2:
        out += (b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
                + _struct.pack("<H", doc_id % 3) + b"\x00")
    comp = lzw_encode(bytes(4), 2)
    frame = (_struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
             + bytes([2, len(comp)]) + comp + b"\x00")
    delay = (doc_id % 7 + 1) * 5
    for _f in range(doc_id % 4 + 1):
        if doc_id % 5:
            out += (b"\x21\xf9\x04\x00"
                    + _struct.pack("<H", delay) + b"\x00\x00")
        out += frame
    out += b"\x3b"
    return bytes(out)


# --- GIF full animation decode contract path (r7) ---------------------------

GIF_ANIM_W, GIF_ANIM_H = 8, 4
GIF_ANIM_FRAMES = 4
GIF_ANIM_TRANSPARENT = 15
# overlay rect for frames 1..3: 4x2 at (left=2, top=1)
GIF_ANIM_RECT = (2, 1, 4, 2)


def gif_anim_frames_payload_for_doc(doc_id: int) -> bytes:
    """Frozen full-animation rule (r7 — every composed canvas is a
    closed-form function of (doc_id, pixel, frame) the DuckDB oracle
    mirrors): an 8x4 screen over the shared PNG_PALETTE, 4 frames —

    - frame 0: full-screen, index p -> (doc_id*31 + p) % 15 (never
      the transparent index), disposal 1 (keep);
    - frames 1..3: a 4x2 overlay at (2,1), index q ->
      (doc_id*17 + f*7 + q*3) % 16 where 15 is TRANSPARENT (underlying
      canvas shows through), disposals [2, 3, 1] — so frame 1
      composites over frame 0's canvas, then its rect restores to
      background (palette 0); frame 2 composites over that bg-holed
      canvas and restores-to-previous; frame 3 composites over the
      same bg-holed canvas and keeps.

    Every GCE carries delay (doc_id%6 + 1)*4 cs; NETSCAPE loops=0."""
    d = doc_id
    f0 = bytes((d * 31 + p) % 15
               for p in range(GIF_ANIM_W * GIF_ANIM_H))
    _l, _t, rw, rh = GIF_ANIM_RECT
    overlays = [bytes((d * 17 + f * 7 + q * 3) % 16
                      for q in range(rw * rh)) for f in (1, 2, 3)]
    delay = (d % 6 + 1) * 4
    return render_gif_animation(
        GIF_ANIM_W, GIF_ANIM_H, [f0] + overlays, PNG_PALETTE,
        delays=[delay] * GIF_ANIM_FRAMES,
        disposals=[1, 2, 3, 1],
        rects=[(0, 0, GIF_ANIM_W, GIF_ANIM_H)] + [GIF_ANIM_RECT] * 3,
        transparent=GIF_ANIM_TRANSPARENT, loops=0)


def extract_gif_anim_frames(docs: DataFrame) -> DataFrame:
    """Decode + composite a real 4-frame animated GIF per documents
    row (r6 VERDICT #3 — per-frame LZW decode with GCE transparency
    and disposal none/background/previous feeding per-frame stats)
    and emit exact per-composed-frame statistics: px_sum pins the
    palette + disposal state machine, px_wsum pins sub-rectangle
    PLACEMENT (right sums in the wrong position fail the hash), and
    delay_cs rides along from the GCE walk."""
    def _row(doc_id):
        w, h, frames, delays, loops = decode_gif_frames(
            gif_anim_frames_payload_for_doc(doc_id))
        assert (w, h, loops) == (GIF_ANIM_W, GIF_ANIM_H, 0)
        for f, (rgb, delay) in enumerate(zip(frames, delays)):
            yield (doc_id, f, sum(rgb),
                   sum(i * v for i, v in enumerate(rgb)), delay)

    return row_map(docs.select("doc_id"), _row,
                   "doc_id long, frame_id long, px_sum long, "
                   "px_wsum long, delay_cs long")


def extract_gif_anim_cuts(docs: DataFrame) -> DataFrame:
    """Scene-cut detection over COMPOSED animated-GIF frames (r7 —
    the r6 VERDICT #3 'feed the scene-cut operator' half): per
    consecutive composed-canvas pair of the 4-frame animation
    fixture, integer SAD + thresholded is_cut — the still/animation
    triage a vision-curation pipeline runs on web GIFs. Emits
    (doc_id, frame_id, sad, is_cut), frame_id the LATTER frame."""
    return row_map(
        docs.select("doc_id"),
        lambda d: _scene_cut_rows(
            d, decode_gif_frames(gif_anim_frames_payload_for_doc(d))[2]),
        SCENE_CUT_SCHEMA)


def probe_gif_anim_features(docs: DataFrame) -> DataFrame:
    """Probe a real (hand-framed) animated GIF per documents row —
    frame walk + GCE delays + NETSCAPE loop count, no pixel decode."""
    return row_map(
        docs.select("doc_id"),
        lambda d: [(d, *probe_gif_animation(gif_anim_payload_for_doc(d)))],
        "doc_id long, n_frames long, total_delay_cs long, loops long")
