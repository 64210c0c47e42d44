"""Pure-stdlib PNG codec (zlib + struct), no native image libraries
required.

Scope: non-interlaced, 8-bit-per-sample PNGs, color types 0 (gray),
2 (RGB), 4 (gray+alpha) and 6 (RGBA); all five scanline filters (None,
Sub, Up, Average, Paeth) on decode; encode emits filter 0 scanlines.
``encode_png`` renders the classifier-report charts (ml/plotting.py, the
PNG report sink); ``decode_png`` parses them back, which is how the
tests validate those charts.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: bytes, width: int, height: int, channels: int = 1) -> bytes:
    """Encode a raw 8-bit pixel buffer (row-major, ``channels`` per pixel)
    as a valid non-interlaced PNG with filter-0 scanlines."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes; expected {stride * height} "
            f"({width}x{height}x{channels})"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG → (width, height, channels, raw 8-bit pixel buffer).

    Handles all five scanline filters; raises ValueError on signatures,
    interlacing, palettes, or bit depths outside this codec's scope.
    """
    if not data.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG (bad signature)")
    pos = len(PNG_SIGNATURE)
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + body + crc
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (only 8)")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace:
                raise ValueError("interlaced PNGs not supported")
            if comp or filt:
                raise ValueError("non-standard compression/filter method")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width < 0:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("decompressed size does not match dimensions")

    out = bytearray(stride * height)
    prev_start = -1
    for y in range(height):
        fstart = y * (stride + 1)
        ftype = raw[fstart]
        line = raw[fstart + 1 : fstart + 1 + stride]
        ostart = y * stride
        if ftype == 0:  # None
            out[ostart : ostart + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = out[ostart + x - channels] if x >= channels else 0
                out[ostart + x] = (line[x] + a) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                b = out[prev_start + x] if y else 0
                out[ostart + x] = (line[x] + b) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = out[ostart + x - channels] if x >= channels else 0
                b = out[prev_start + x] if y else 0
                out[ostart + x] = (line[x] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = out[ostart + x - channels] if x >= channels else 0
                b = out[prev_start + x] if y else 0
                c = out[prev_start + x - channels] if (y and x >= channels) else 0
                out[ostart + x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype} on row {y}")
        prev_start = ostart
    return width, height, channels, bytes(out)

