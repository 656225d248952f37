"""Multimodal columns: opaque binary payloads + typed metadata.

Image payloads travel as ``binary`` columns; ``extract_meta`` turns them
into a typed metadata struct (size, mime, content hash, width, height) with
an Arrow-batched ``mapInPandas`` pass. Width and height come from the
container header alone — the PNG IHDR chunk, the JPEG SOF0/SOF1 segment, or
the P6 PPM header — so no raster is ever decoded. Any other payload (e.g.
the ``FAKEIMG1`` stand-ins of ``attach_fake_payload``) gets deterministic
dims derived from its md5, so the plumbing runs end to end without an image
library.

This extends the reference's binary-input layer (streams were the only binary
surface — SURVEY.md §1.2) to first-class payload columns.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

META_SCHEMA = (
    "doc_id long, n_bytes int, mime string, payload_hash string, "
    "width int, height int"
)


def attach_fake_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake binary payload derived from text (UTF-8 bytes with a
    tiny typed header) — stands in for a real image/audio blob."""
    return df.withColumn(
        "payload",
        F.concat(F.lit(b"FAKEIMG1"), F.encode(F.col(text_col), "utf-8")).cast("binary"),
    ).withColumn("mime", F.lit("image/x-fake"))


def decode_image_stub(payload: bytes):
    """Deterministic (width, height) in [16, 80) from the payload's md5 —
    the dims of a payload no header sniffer recognizes."""
    h = hashlib.md5(payload).digest()
    return 16 + h[0] % 64, 16 + h[1] % 64


def _ppm_header(payload: bytes, pos: int):
    """Parse one P6 header at ``pos`` → (w, h, raster_start). Raises
    ValueError on malformed input (quarantine via the errorhandler pattern
    upstream)."""
    if payload[pos : pos + 2] != b"P6":
        raise ValueError(f"not a P6 PPM payload at offset {pos}")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comment lines are rejected)
    p, fields = pos + 2, []
    while len(fields) < 3:
        while p < len(payload) and payload[p : p + 1].isspace():
            p += 1
        if payload[p : p + 1] == b"#":
            raise ValueError("PPM comments unsupported")
        start = p
        while p < len(payload) and not payload[p : p + 1].isspace():
            p += 1
        fields.append(int(payload[start:p]))
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    return w, h, p + 1  # single whitespace after maxval


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(payload: bytes):
    """Iterate (tag, data) over a PNG's chunks, validating CRCs."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        crc = payload[pos + 8 + length:pos + 12 + length]
        if len(data) != length or len(crc) != 4:
            raise ValueError("truncated PNG chunk")
        if struct.unpack(">I", crc)[0] != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk CRC mismatch ({tag!r})")
        yield tag, data
        pos += 12 + length
        if tag == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def _png_ihdr(payload: bytes):
    """(w, h, channels) from the IHDR only — no raster inflate, so dims
    don't cost a full decode at scale."""
    for tag, data in _png_chunks(payload):
        if tag == b"IHDR":
            w, h, depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data)
            channels = {0: 1, 2: 3, 6: 4}.get(color_type)
            if depth != 8 or channels is None or interlace:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color_type={color_type}, "
                    f"interlace={interlace}); 8-bit gray/RGB/RGBA only")
            return w, h, channels
    raise ValueError("PNG missing IHDR")


def _parse_segments(payload: bytes):
    """Iterate (marker, data) over a JPEG's header segments up to SOS."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            return
        (length,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        yield marker, payload[pos + 4:pos + 2 + length]
        if marker == 0xDA:  # SOS: entropy-coded data follows
            return
        pos += 2 + length
    raise ValueError("truncated JPEG")


def jpeg_dims(payload: bytes):
    """(width, height, n_components) from the SOF header only — no entropy
    decode. Only baseline/extended sequential frames are accepted."""
    for marker, data in _parse_segments(payload):
        if marker in (0xC0, 0xC1):
            _, h, w, ncomp = struct.unpack(">BHHB", data[:6])
            return w, h, ncomp
        if marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                      0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential JPEG supported")
    raise ValueError("JPEG missing SOF0")


def _dims(b):
    """(width, height) of one payload, sniffed from its header."""
    if b is None:
        return (None, None)
    bb = bytes(b)
    if bb[:8] == _PNG_SIG:
        w, h, _ = _png_ihdr(bb)
    elif bb[:2] == b"\xff\xd8":
        w, h, _ = jpeg_dims(bb)
    elif bb[:2] == b"P6":
        w, h, _ = _ppm_header(bb, 0)
    else:
        w, h = decode_image_stub(bb)
    return (w, h)


def extract_meta(df: DataFrame) -> DataFrame:
    """mapInPandas metadata extraction over binary payloads (Arrow batches)."""

    cols = ["doc_id", "payload", "mime"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            # md5 (not sha1): an external SQL engine (DuckDB) can recompute it
            # over the same bytes, so the contract oracle verifies the hash
            phash = payloads.map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()[:16] if b is not None else None
            )
            dims = payloads.map(_dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int32"),
                    "mime": pdf["mime"],
                    "payload_hash": phash,
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return df.select(*cols).mapInPandas(run, schema=META_SCHEMA)
