"""Ogg/Vorbis header PROBE (pure stdlib) — the container-walk half of
audio bookkeeping next to mp3probe.py. Deliberately NOT a decoder:
Vorbis audio reconstruction (floor/residue/MDCT) stays outside the
subset and the module says so; the probe walks Ogg page headers and
parses the Vorbis identification header, which is what duration/rate
bookkeeping actually needs.

Subset (honest ValueError outside it): single logical stream (one
serial number), version-0 Ogg pages with valid capture patterns and
CRC32 checksums (the Ogg CRC polynomial 0x04C11DB7, init/xorout 0 —
NOT zlib's), first packet = Vorbis identification header ('\\x01' +
'vorbis', version 0). Emits (n_pages, channels, sample_rate,
bitrate_nominal, last_granule) — duration = last_granule /
sample_rate, exact integer bookkeeping.

The builder twin assembles headers-valid streams so every probe path
is roundtrip-pinned.
"""

from __future__ import annotations

import struct


def _ogg_crc_table() -> list:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if r & 0x80000000 \
                else (r << 1) & 0xFFFFFFFF
        table.append(r)
    return table


_CRC_TABLE = _ogg_crc_table()


def ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) ^ b)
                                                     & 0xFF]
    return crc


def _page(serial: str, seq: int, granule: int, header_type: int,
          payload: bytes) -> bytes:
    """One Ogg page holding ``payload`` as whole segments (<= 255*255
    bytes; a final partial segment terminates the packet)."""
    segs = []
    rest = payload
    while True:
        segs.append(min(len(rest), 255))
        rest = rest[255:]
        if segs[-1] < 255:
            break
    hdr = bytearray(b"OggS\x00")
    hdr.append(header_type)
    hdr += struct.pack("<q", granule)
    hdr += struct.pack("<I", int(serial))
    hdr += struct.pack("<I", seq)
    hdr += b"\x00\x00\x00\x00"                 # CRC placeholder
    hdr.append(len(segs))
    hdr += bytes(segs)
    page = bytes(hdr) + payload
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def build_ogg_vorbis(channels: int, sample_rate: int,
                     bitrate_nominal: int, granules: list,
                     serial: int = 777) -> bytes:
    """Headers-valid Ogg Vorbis stream: the identification-header page
    (BOS) followed by one audio-ish page per entry of ``granules``
    (zero-filled payloads; the last page carries the EOS flag)."""
    ident = (b"\x01vorbis" + struct.pack("<I", 0)
             + bytes([channels]) + struct.pack("<I", sample_rate)
             + struct.pack("<i", 0)
             + struct.pack("<i", bitrate_nominal)
             + struct.pack("<i", 0)
             + bytes([0xB8])                   # blocksizes 2^8 / 2^11
             + b"\x01")                        # framing bit
    out = bytearray(_page(serial, 0, 0, 0x02, ident))
    for i, g in enumerate(granules):
        flag = 0x04 if i == len(granules) - 1 else 0x00
        out += _page(serial, i + 1, g, flag, bytes(20))
    return bytes(out)


def probe_ogg_vorbis(data: bytes) -> tuple:
    """-> (n_pages, channels, sample_rate, bitrate_nominal,
    last_granule)."""
    pos = 0
    n_pages = 0
    serial = None
    last_granule = 0
    ident = None
    while pos < len(data):
        if pos + 27 > len(data):                # before ANY header read
            raise ValueError("ogg: truncated page header")
        if data[pos:pos + 4] != b"OggS":
            raise ValueError("ogg: bad capture pattern")
        if data[pos + 4] != 0:
            raise ValueError("ogg: unsupported stream structure version")
        granule = struct.unpack("<q", data[pos + 6:pos + 14])[0]
        ser = struct.unpack("<I", data[pos + 14:pos + 18])[0]
        n_segs = data[pos + 26]
        seg_table = data[pos + 27:pos + 27 + n_segs]
        if len(seg_table) != n_segs:
            raise ValueError("ogg: truncated segment table")
        body_len = sum(seg_table)
        end = pos + 27 + n_segs + body_len
        if end > len(data):
            raise ValueError("ogg: truncated page body")
        page = bytearray(data[pos:end])
        crc = struct.unpack("<I", page[22:26])[0]
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise ValueError("ogg: page CRC mismatch")
        if serial is None:
            serial = ser
        elif ser != serial:
            raise ValueError("ogg: multiplexed streams unsupported")
        body = data[pos + 27 + n_segs:end]
        if n_pages == 0:
            if body[:7] != b"\x01vorbis":
                raise ValueError("ogg: first packet is not a Vorbis "
                                 "identification header")
            if len(body) < 30:
                raise ValueError("ogg: short identification header")
            version = struct.unpack("<I", body[7:11])[0]
            if version != 0:
                raise ValueError("ogg: unknown Vorbis version")
            channels = body[11]
            rate = struct.unpack("<I", body[12:16])[0]
            nominal = struct.unpack("<i", body[20:24])[0]
            if channels == 0 or rate == 0:
                raise ValueError("ogg: zero channels/rate")
            ident = (channels, rate, nominal)
        if granule >= 0:
            last_granule = max(last_granule, granule)
        n_pages += 1
        pos = end
    if ident is None:
        raise ValueError("ogg: no pages")
    return (n_pages, ident[0], ident[1], ident[2], last_granule)
