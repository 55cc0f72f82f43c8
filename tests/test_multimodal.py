"""Multimodal plumbing tests: schema, batch shape, determinism, and
1→N fan-out of the Arrow-batched decode/frame-sample stubs.
The codec bodies are fakes; everything Spark-side is real.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lmo_data_catalog_spark.catalog import Catalog
from lmo_data_catalog_spark.operators.multimodal import (
    decode_image_meta,
    decode_image_real,
    sample_frames,
    with_payload,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def payloads(spark):
    docs = Catalog(spark, SF).documents
    return with_payload(docs, text_col="text").cache()


def test_frame_sampling_fanout(payloads):
    out = sample_frames(payloads, n_frames=4)
    n_docs = payloads.count()
    assert out.count() == 4 * n_docs
    per_doc = out.groupBy("doc_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_doc] == [4]
    one = out.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in one] == [0, 1, 2, 3]
    assert all(isinstance(r.frame, (bytes, bytearray)) for r in one)
    assert one[0].ts_ms == 0 and one[-1].ts_ms > 0


def test_decode_deterministic(payloads):
    a = sorted(tuple(r) for r in decode_image_meta(payloads).collect())
    b = sorted(tuple(r) for r in decode_image_meta(payloads).collect())
    assert a == b


def test_real_codec_rejects_non_images(payloads):
    # text payloads are not image containers: the strict kernel must
    # fail loudly (executor-side NotImplementedError surfaces through
    # the Python worker), never emit fake geometry
    with pytest.raises(Exception, match="not PNG/GIF/JPEG"):
        decode_image_real(payloads).collect()


# ---------------------------------------------------------- real headers


def _png_bytes(width: int, height: int) -> bytes:
    """A fully valid PNG: real signature, IHDR/IDAT/IEND chunks with
    correct CRCs, zlib-compressed grayscale scanlines — stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _gif_bytes(width: int, height: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00;"


def _jpeg_bytes(width: int, height: int) -> bytes:
    """SOI + APP0 + SOF0 + EOI — enough of a JPEG for header decode."""
    import struct

    # APP0 length counts itself: 2 + 14-byte JFIF body = 16
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + bytes(6)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_decode_real_image_headers(spark):
    """True-dimension decode through the Spark kernel for all three
    stdlib-parsable containers, via both the strict and lenient
    kernels — the decode is real, not a fake."""
    cases = [
        (1, _png_bytes(640, 480), "png", 640, 480),
        (2, _gif_bytes(13, 7), "gif", 13, 7),
        (3, _jpeg_bytes(1920, 1080), "jpeg", 1920, 1080),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, *_ in cases], "doc_id long, payload binary"
    )
    strict = {r.doc_id: r for r in decode_image_real(df).collect()}
    lenient = {r.doc_id: r for r in decode_image_meta(df).collect()}
    for i, payload, fmt, w, h in cases:
        assert (strict[i].format, strict[i].width, strict[i].height) == (fmt, w, h)
        assert strict[i].n_bytes == len(payload)
        assert (lenient[i].width, lenient[i].height) == (w, h)
