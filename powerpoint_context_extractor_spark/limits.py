"""The decoders' size rule for header-declared dimensions (no Spark).

A decoder whose buffer is sized from a header (a GIF logical screen,
an AVI main header) cannot tell from the stream how many pixels it
will be asked to fill: a GIF frame may cover a corner of its screen,
and RLE8 delta and end-of-line escapes skip pixels for a few bytes.
So such a buffer is allocated only when the header declares at most
``MAX_PIXELS`` pixels: an absolute cap, as in Pillow's decompression-
bomb check (``Image.MAX_IMAGE_PIXELS``), set to what a pure-Python
decoder can fill, 4096 x 4096 or 48 MiB as RGB. Anything larger is
rejected with the format's own ``ValueError``, the same class as any
malformed input.
"""

from __future__ import annotations

MAX_PIXELS = 1 << 24


def check_pixels(fmt: str, width: int, height: int) -> None:
    """Raise ``ValueError("<fmt>: ...")`` when ``width * height``
    exceeds ``MAX_PIXELS``."""
    if width * height > MAX_PIXELS:
        raise ValueError(f"{fmt}: {width}x{height} exceeds the "
                         f"{MAX_PIXELS}-pixel cap")
