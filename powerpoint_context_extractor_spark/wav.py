"""Pure-stdlib RIFF/WAVE PCM16 subset codec (no Spark imports).

Makes the U1 audio enrichment seam REAL for one payload class (r4
VERDICT "next round" #7): the container has no torchaudio/ffmpeg, but
canonical PCM WAV needs only ``struct``. The writer emits spec-valid
RIFF/WAVE files (RIFF header, ``fmt `` chunk, ``data`` chunk, even-byte
chunk padding); the reader validates the container, walks chunks, and
decodes 16-bit mono PCM samples — so the Spark feature path parses
real audio bytes, not a byte-statistics stand-in.

Subset (documented, raises ValueError outside it): PCM (format tag 1,
16-bit little-endian) or G.711 mu-law (format tag 7, 8-bit — the
telephony/web-audio companding codec; r6), mono or stereo (r6 adds
2-channel interleaved), or IMA ADPCM (format tag 0x11, 4-bit, mono —
the classic stateful predictor/step-table codec; r6). Reference
analog: the media enrichment batch at
`pptx_extractor/recommendations/generator.py:306-343`.
"""

from __future__ import annotations

import struct

__all__ = ["render_wav", "decode_wav", "ulaw_encode", "ulaw_decode",
           "adpcm_encode_block", "adpcm_decode_block"]

_ULAW_CLIP, _ULAW_BIAS = 32635, 0x84

# the public IMA/DVI ADPCM tables (step sizes + index adjustments)
IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
IMA_INDEX_ADJUST = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(pred: int, index: int, s: int) -> tuple:
    """Advance the IMA state machine by one target sample: quantize
    (s - pred) to a 4-bit nibble against the current step, then
    reconstruct EXACTLY as the decoder will — the encoder's tracked
    predictor IS the decoded output, which is what makes the lossy
    codec oracle-able (the SQL recursive CTE replays this function
    verbatim). Returns (nibble, new_pred, new_index)."""
    step = IMA_STEPS[index]
    diff = s - pred
    nib = 8 if diff < 0 else 0
    diff = -diff if diff < 0 else diff
    if diff >= step:
        nib |= 4
        diff -= step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nib |= 1
    return (nib,) + _adpcm_expand(pred, index, nib)


def _adpcm_expand(pred: int, index: int, nib: int) -> tuple:
    """The IMA decoder's reconstruction of one nibble -> (new_pred,
    new_index)."""
    step = IMA_STEPS[index]
    recon = step >> 3
    if nib & 4:
        recon += step
    if nib & 2:
        recon += step >> 1
    if nib & 1:
        recon += step >> 2
    pred = pred - recon if nib & 8 else pred + recon
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + IMA_INDEX_ADJUST[nib & 7]))
    return pred, index


def adpcm_encode_block(samples) -> bytes:
    """Encode one mono IMA ADPCM block: 4-byte header (int16 predictor
    = sample 0 verbatim, step index, reserved 0) + one nibble per
    remaining sample, packed low-nibble-first, zero-padded to whole
    bytes."""
    if not samples:
        raise ValueError("adpcm: empty block")
    pred, index = samples[0], 0
    head = struct.pack("<hBB", pred, index, 0)
    nibs = []
    for s in samples[1:]:
        nib, pred, index = _adpcm_step(pred, index, s)
        nibs.append(nib)
    if len(nibs) % 2:
        nibs.append(0)                         # pad nibble (ignored)
    body = bytes(nibs[i] | (nibs[i + 1] << 4) for i in range(0, len(nibs), 2))
    return head + body


def adpcm_decode_block(block: bytes, n_samples: int) -> list:
    """Decode one mono IMA ADPCM block -> ``n_samples`` linear samples
    (header sample + expanded nibbles, low nibble first; trailing pad
    nibbles beyond the sample count are ignored per the WAV spec)."""
    if len(block) < 4:
        raise ValueError("adpcm: short block header")
    pred, index, _res = struct.unpack("<hBB", block[:4])
    if index > 88:
        raise ValueError("adpcm: step index out of range")
    if n_samples < 1 or (n_samples - 1 + 1) // 2 > len(block) - 4:
        raise ValueError("adpcm: block too short for sample count")
    out = [pred]
    for k in range(n_samples - 1):
        byte = block[4 + (k >> 1)]
        nib = (byte >> 4) if k & 1 else (byte & 0x0F)
        pred, index = _adpcm_expand(pred, index, nib)
        out.append(pred)
    return out


def ulaw_encode(s: int) -> int:
    """G.711 mu-law compress one int16 sample -> one byte (the public
    CCITT algorithm: bias, segment exponent = bit position, 4-bit
    mantissa, ones-complement). Pure integer math."""
    sign = 0x80 if s < 0 else 0
    m = min(-s if s < 0 else s, _ULAW_CLIP) + _ULAW_BIAS
    e = m.bit_length() - 8                 # 132..32767 -> exponent 0..7
    return ~(sign | (e << 4) | ((m >> (e + 3)) & 0x0F)) & 0xFF


def ulaw_decode(u: int) -> int:
    """Exact inverse expansion of one mu-law byte -> linear sample."""
    u = ~u & 0xFF
    e, mant = (u >> 4) & 7, u & 0x0F
    m = (((mant << 3) + _ULAW_BIAS) << e) - _ULAW_BIAS
    return -m if u & 0x80 else m


def render_wav(samples, sample_rate: int = 8000,
               channels: int = 1, encoding: str = "pcm16") -> bytes:
    """Encode 16-bit signed samples (channel-interleaved for stereo:
    L0 R0 L1 R1 ...) as a canonical RIFF/WAVE file. ``encoding`` is
    ``pcm16`` (format tag 1), ``ulaw`` (format tag 7: each sample
    companded to one G.711 byte; the fmt chunk carries the spec's
    cbSize=0 extension for non-PCM tags), or ``adpcm`` (format tag
    0x11, mono only: ONE IMA block holding all samples, block align
    4 + ceil((n-1)/2), wSamplesPerBlock = n in the cbSize=2
    extension)."""
    if sample_rate <= 0:
        raise ValueError("wav: non-positive sample rate")
    if channels not in (1, 2):
        raise ValueError("wav: subset is mono or stereo")
    if len(samples) % channels != 0:
        raise ValueError("wav: sample count not a multiple of channels")
    if any(not -32768 <= s <= 32767 for s in samples):
        raise ValueError("wav: sample outside int16 range")
    if encoding == "pcm16":
        data = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                          sample_rate * 2 * channels, 2 * channels, 16)
    elif encoding == "ulaw":
        data = bytes(ulaw_encode(s) for s in samples)
        fmt = struct.pack("<HHIIHHH", 7, channels, sample_rate,
                          sample_rate * channels, channels, 8, 0)
    elif encoding == "adpcm":
        if channels != 1:
            raise ValueError("wav: adpcm subset is mono only")
        data = adpcm_encode_block(samples)
        align = len(data)
        fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                          (sample_rate * align) // max(1, len(samples)),
                          align, 4, 2, len(samples))
    else:
        raise ValueError(f"wav: unsupported encoding {encoding!r}")
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    if len(data) % 2 == 1:                 # chunks are word-aligned
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple:
    """Decode a PCM16 mono/stereo RIFF/WAVE file -> (sample_rate,
    n_channels, channel-interleaved samples list). Validates the
    RIFF/WAVE container, the fmt subset, and chunk bounds; raises
    ValueError outside the subset (log-and-continue at the operator
    layer, F6 policy)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE container")
    (riff_len,) = struct.unpack("<I", data[4:8])
    if riff_len + 8 > len(data):
        raise ValueError("wav: truncated RIFF payload")
    i = 12
    sample_rate = None
    n_channels = None
    fmt_tag = None
    block_align = None
    spb = None                             # ADPCM wSamplesPerBlock
    data_body = None
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        (ln,) = struct.unpack("<I", data[i + 4:i + 8])
        body = data[i + 8:i + 8 + ln]
        if len(body) != ln:
            raise ValueError(f"wav: truncated {cid!r} chunk")
        if cid == b"fmt ":
            if ln < 16:
                raise ValueError("wav: short fmt chunk")
            tag, n_ch, rate, _brate, align, bits = struct.unpack(
                "<HHIIHH", body[:16])
            if (n_ch not in (1, 2)
                    or (tag, bits) not in ((1, 16), (7, 8), (0x11, 4))
                    or (tag == 0x11 and n_ch != 1)):
                raise ValueError(
                    f"wav: unsupported format tag={tag} channels={n_ch} "
                    f"bits={bits} (subset is PCM16 / mu-law mono-stereo "
                    f"/ IMA ADPCM mono)")
            if tag == 0x11:
                if ln < 20:
                    raise ValueError("wav: adpcm fmt missing extension")
                (_cb, spb) = struct.unpack("<HH", body[16:20])
                if spb < 1 or align < 4 + (spb - 1 + 1) // 2:
                    raise ValueError("wav: adpcm block align too small "
                                     "for samples per block")
            sample_rate = rate
            n_channels = n_ch
            fmt_tag = tag
            block_align = align
        elif cid == b"data":
            data_body = body
        i += 8 + ln + (ln % 2)             # skip word-alignment pad
    if sample_rate is None or data_body is None:
        raise ValueError("wav: missing fmt or data chunk")
    if fmt_tag == 1:
        if len(data_body) % 2 != 0:
            raise ValueError("wav: odd data length for 16-bit PCM")
        samples = list(struct.unpack(f"<{len(data_body) // 2}h", data_body))
    elif fmt_tag == 0x11:                  # IMA ADPCM: stateful blocks
        if block_align == 0 or len(data_body) % block_align != 0:
            raise ValueError("wav: adpcm data not whole blocks")
        samples = []
        for b0 in range(0, len(data_body), block_align):
            samples.extend(adpcm_decode_block(
                data_body[b0:b0 + block_align], spb))
    else:                                  # mu-law: one byte per sample
        samples = [ulaw_decode(b) for b in data_body]
    if len(samples) % n_channels != 0:
        raise ValueError("wav: data length not a whole number of frames")
    return sample_rate, n_channels, samples


def resample_linear(samples: list, src_rate: int, dst_rate: int) -> list:
    """Integer-exact linear resampling (r7 — the rate-normalization
    pass every audio-training pipeline runs before feature
    extraction): output j sits at source position j*src/dst (exact
    rational); y = floor((x[i]*(dst-f) + x[i+1]*f) / dst) with
    f = (j*src) % dst. The floor is computed on an offset-shifted
    non-negative numerator so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree bit-for-bit on negative samples (the
    documented cross-engine division trap). n_out =
    (n-1)*dst div src + 1, so positions never pass the last sample."""
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("resample_linear: rates must be positive")
    n = len(samples)
    if n == 0:
        return []
    lo = min(0, min(samples))
    shift = -lo                                # makes numerators >= 0
    n_out = (n - 1) * dst_rate // src_rate + 1
    out = []
    for j in range(n_out):
        pos = j * src_rate
        i, f = divmod(pos, dst_rate)
        if f == 0:
            out.append(samples[i])
            continue
        a = ((samples[i] + shift) * (dst_rate - f)
             + (samples[i + 1] + shift) * f)
        out.append(a // dst_rate - shift)
    return out
