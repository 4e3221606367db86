"""The decoders' size rule for header-declared dimensions (no Spark).

A decoder whose buffer is sized from a header (a GIF logical screen,
an AVI main header, a JPEG frame header, a PNG IHDR, a TIFF IFD)
cannot tell from the stream how many pixels it will be asked to fill:
a GIF frame may cover a corner of its screen, and RLE8 delta and
end-of-line escapes skip pixels for a few bytes. So such a buffer is
allocated only when the header declares at most ``MAX_PIXELS`` pixels:
an absolute cap, as in Pillow's decompression-bomb check
(``Image.MAX_IMAGE_PIXELS``), set to what a pure-Python decoder can
fill, 4096 x 4096 or 48 MiB as RGB. A decode that keeps several frames
or pages (a GIF animation, an AVI, a multi-page TIFF) keeps a whole
frame each, so the cap holds for the pixels summed over the frames it
keeps. Anything larger is rejected with the format's own
``ValueError``, the same class as any malformed input.
"""

from __future__ import annotations

MAX_PIXELS = 1 << 24


def check_pixels(fmt: str, width: int, height: int, kept: int = 0) -> None:
    """Raise ``ValueError("<fmt>: ...")`` when a ``width * height``
    image, beside the ``kept`` pixels of the other frames or pages the
    decode keeps, exceeds ``MAX_PIXELS``."""
    if kept + width * height > MAX_PIXELS:
        size = f"{width}x{height}"
        if kept:
            size += f" beside {kept} kept pixels"
        raise ValueError(f"{fmt}: {size} exceeds the {MAX_PIXELS}-pixel cap")
