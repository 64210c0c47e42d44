"""Stdlib PNG codec, the md5 multimodal decode and the PNG report sink.

The PNG report sink gives report parity without matplotlib.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from big_data_occupancy_detection_spark.ext.png_codec import (
    PNG_SIGNATURE,
    decode_png,
    encode_png,
)


def _gradient(w: int, h: int, channels: int) -> bytes:
    return bytes(
        (x * 7 + y * 13 + c * 31) % 256
        for y in range(h)
        for x in range(w)
        for c in range(channels)
    )


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip(channels):
    w, h = 17, 11  # odd sizes catch stride bugs
    pixels = _gradient(w, h, channels)
    out = decode_png(encode_png(pixels, w, h, channels))
    assert out == (w, h, channels, pixels)


def test_decode_all_filter_types():
    """Hand-filter scanlines with types 1-4 and check the decoder inverts
    them (our encoder only emits type 0, so round-trip alone can't)."""
    w, h, ch = 8, 5, 3
    pixels = _gradient(w, h, ch)
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    for y, ftype in zip(range(h), [1, 2, 3, 4, 0]):
        row = pixels[y * stride : (y + 1) * stride]
        prior = pixels[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(ftype)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prior[x]
            c = prior[x - ch] if x >= ch else 0
            if ftype == 0:
                raw.append(row[x])
            elif ftype == 1:
                raw.append((row[x] - a) & 0xFF)
            elif ftype == 2:
                raw.append((row[x] - b) & 0xFF)
            elif ftype == 3:
                raw.append((row[x] - ((a + b) >> 1)) & 0xFF)
            else:
                raw.append((row[x] - paeth(a, b, c)) & 0xFF)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == (w, h, ch, pixels)


def test_decode_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")



# ------------------------------------------------------ multimodal decode


def _media_df(spark, images: dict[int, bytes]):
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b in images.items()], "doc_id long, payload binary"
    )


def test_fake_codec_paths_unchanged(spark):
    """The md5 decode behind the oracle-backed media queries keeps its
    contract: one FEATURE_DIM vector and the payload size per row."""
    from big_data_occupancy_detection_spark.ext.multimodal import (
        FEATURE_DIM,
        decode_features,
    )

    df = _media_df(spark, {1: b"hello world"})
    row = decode_features(df).collect()[0]
    assert len(row["features"]) == FEATURE_DIM
    assert row["n_bytes"] == 11


# ------------------------------------------------------- PNG report sink


def test_plotting_pngs_decode():
    from big_data_occupancy_detection_spark.ml.plotting import (
        confusion_matrix_png,
        line_chart_png,
    )

    cm = confusion_matrix_png({(0, 0): 90, (0, 1): 10, (1, 0): 5, (1, 1): 95})
    w, h, ch, _ = decode_png(cm)
    assert ch == 3 and w > 100 and h > 100

    roc = line_chart_png([(0.0, 0.0), (0.2, 0.8), (1.0, 1.0)], diagonal=True)
    w, h, ch, pixels = decode_png(roc)
    assert (w, h, ch) == (360, 360, 3)
    # the curve actually drew something non-white
    assert any(pixels[i : i + 3] != b"\xff\xff\xff" for i in range(0, len(pixels), 3))
