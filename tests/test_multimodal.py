"""Multimodal binary columns: plumbing (schema, Arrow batch shape, null
handling) plus header-only dims for PNG, baseline JPEG and P6 PPM payloads.
The payloads here are hand-built header bytes, so the sniffers are pinned
against the container specs, not against an encoder of this repo."""

import hashlib
import struct
import zlib

import pytest

from importpipeline_spark.operators.multimodal import (
    _png_ihdr,
    _ppm_header,
    attach_fake_payload,
    decode_image_stub,
    extract_meta,
    jpeg_dims,
)


def test_extract_meta_matches_python(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "päyload")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in extract_meta(attach_fake_payload(df)).collect()}
    for doc_id, text in [(1, "hello world"), (2, ""), (3, "päyload")]:
        payload = b"FAKEIMG1" + text.encode()
        r = got[doc_id]
        assert r.n_bytes == len(payload)
        assert r.mime == "image/x-fake"
        assert r.payload_hash == hashlib.md5(payload).hexdigest()[:16]
        w, h = decode_image_stub(payload)
        assert (r.width, r.height) == (w, h)
        assert 16 <= r.width < 80 and 16 <= r.height < 80


def test_extract_meta_null_payload(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"FAKEIMG1xx"), "image/x-fake"), (2, None, None)],
        "doc_id long, payload binary, mime string",
    )
    got = {r.doc_id: r for r in extract_meta(df).collect()}
    assert got[2].n_bytes == 0
    assert got[2].payload_hash is None and got[2].width is None
    assert got[1].n_bytes == 10


def _png_chunk(tag, data):
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def _png(w, h, depth=8, color_type=2):
    """PNG signature + IHDR + IEND with valid CRCs (no raster: the sniffer
    reads the IHDR only)."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IEND", b""))


def _jpeg_segment(marker, data):
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(data)) + data


def _jpeg(w, h, sof=0xC0, before_sof=()):
    """SOI + the `before_sof` (marker, data) segments + a 3-component SOF
    segment + EOI."""
    comps = b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3))
    seg = struct.pack(">BHHB", 8, h, w, 3) + comps
    return (b"\xff\xd8"
            + b"".join(_jpeg_segment(m, d) for m, d in before_sof)
            + _jpeg_segment(sof, seg) + b"\xff\xd9")


def _ppm(w, h, header=None):
    return (header or b"P6\n%d %d\n255\n" % (w, h)) + b"\x00" * (w * h * 3)


def test_extract_meta_reads_header_dims(spark):
    """extract_meta reports each container's own dims, read from the PNG
    IHDR, the JPEG SOF0 and the P6 header."""
    payloads = {1: (_png(17, 9), "image/png"),
                2: (_jpeg(640, 480), "image/jpeg"),
                3: (_ppm(5, 3), "image/x-portable-pixmap")}
    df = spark.createDataFrame(
        [(i, bytearray(b), m) for i, (b, m) in payloads.items()],
        "doc_id long, payload binary, mime string",
    )
    got = {r.doc_id: r for r in extract_meta(df).collect()}
    assert (got[1].width, got[1].height) == (17, 9)
    assert (got[2].width, got[2].height) == (640, 480)
    assert (got[3].width, got[3].height) == (5, 3)
    for i, (b, _) in payloads.items():
        assert got[i].n_bytes == len(b)
        assert got[i].payload_hash == hashlib.md5(b).hexdigest()[:16]


def test_image_features_and_resize_png(spark):
    """A PNG payload with an ancillary chunk between IHDR and IEND goes
    through the Spark operator: extract_meta reports the IHDR dims and the
    full payload size."""
    png = _png(16, 12)
    iend = _png_chunk(b"IEND", b"")
    payload = png[:-len(iend)] + _png_chunk(b"tEXt", b"Comment\x00x") + iend
    df = spark.createDataFrame(
        [(1, bytearray(payload), "image/png")],
        "doc_id long, payload binary, mime string",
    )
    meta = extract_meta(df).collect()[0]
    assert (meta.width, meta.height) == (16, 12)
    assert meta.n_bytes == len(payload)


def test_jpeg_through_spark_feature_and_resize_paths(spark):
    """A JPEG payload whose SOF0 follows APP0 and DQT segments goes through
    the Spark operator: extract_meta walks the header segments to the SOF
    and reports its dims."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(range(1, 65))
    payload = _jpeg(16, 12, before_sof=((0xE0, app0), (0xDB, dqt)))
    df = spark.createDataFrame(
        [(1, bytearray(payload), "image/jpeg")],
        "doc_id long, payload binary, mime string",
    )
    meta = extract_meta(df).collect()[0]
    assert (meta.width, meta.height) == (16, 12)
    assert meta.n_bytes == len(payload)


def test_png_rejects_corrupt_and_unsupported():
    assert _png_ihdr(_png(4, 4)) == (4, 4, 3)
    bad = bytearray(_png(4, 4))
    bad[20] ^= 0xFF  # flip a bit inside the IHDR data
    with pytest.raises(ValueError, match="CRC"):
        _png_ihdr(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        _png_ihdr(b"JFIF1234")
    # 16-bit depth rejected with a clear message (8-bit only)
    with pytest.raises(ValueError, match="unsupported PNG"):
        _png_ihdr(_png(1, 1, depth=16))


def test_jpeg_rejects_non_baseline():
    assert jpeg_dims(_jpeg(16, 12)) == (16, 12, 3)
    # progressive (SOF2) frames are refused, not mis-read
    with pytest.raises(ValueError, match="baseline"):
        jpeg_dims(_jpeg(16, 12, sof=0xC2))
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_dims(b"\x00\x01rubbish")


def test_ppm_rejects_comment_and_maxval():
    assert _ppm_header(_ppm(5, 3), 0) == (5, 3, len(b"P6\n5 3\n255\n"))
    with pytest.raises(ValueError, match="maxval"):
        _ppm_header(_ppm(1, 1, b"P6\n1 1\n65535\n"), 0)
    with pytest.raises(ValueError, match="comments"):
        _ppm_header(_ppm(1, 1, b"P6\n# made by hand\n1 1\n255\n"), 0)
    with pytest.raises(ValueError, match="P6"):
        _ppm_header(b"JFIFxxxx", 0)
