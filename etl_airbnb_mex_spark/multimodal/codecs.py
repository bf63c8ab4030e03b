"""Real media codecs from the standard library + numpy — no PIL/libav.

The engine ships no image packages, so the decodable surface is
the set of formats whose wire format is pure stdlib work:

- **PNG** (``\\x89PNG``): zlib-inflate the IDAT stream, undo per-scanline
  filters (None/Sub/Up/Average/Paeth), reshape — 8-bit gray / gray+alpha
  / RGB / RGBA, non-interlaced (what ``PIL.Image.save`` emits by
  default). Encoder writes filter-0 scanlines with zlib, so
  ``decode(encode(x)) == x`` exactly.
- **BMP** (``BM``): uncompressed 24-bit BI_RGB, bottom-up, 4-byte row
  padding.
- **PGM/PPM** (``P5``/``P6``): binary netpbm, maxval ≤ 255.

Everything is deterministic byte math — decoders are exact, not
approximations — so the Spark-side multimodal operators
(:mod:`etl_airbnb_mex_spark.multimodal.ops`) run a REAL codec path for
these formats and raise on formats that genuinely need a native
library (JPEG, H.264, ...).

Scale note: these run inside Arrow-batched ``mapInPandas`` workers; the
hot loop is numpy slicing per image, and the only per-row Python is the
scanline unfilter (bounded by image height). For production JPEG/video
decode, swap the dispatch table entries for PIL/av calls — the operator
contracts don't change.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
#: color type → samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def png_encode(pixels: np.ndarray) -> bytes:
    """Minimal PNG writer: 8-bit, filter 0 on every scanline, one IDAT.
    ``pixels`` is (h, w) gray or (h, w, c) with c in {1, 2, 3, 4}."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes) -> np.ndarray:
    """Decode 8-bit non-interlaced PNG to a (h, w, channels) uint8
    array. Raises ValueError on unsupported bit depth / interlace."""
    if not data.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = len(_PNG_MAGIC)
    idat = b""
    w = h = channels = None
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            channels = _PNG_CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(idat)
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (int(line[i]) + int(line[i - bpp])) & 0xFF
        elif ftype == 2:  # Up
            line = (
                line.astype(np.int16) + prev.astype(np.int16)
            ).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (
                    int(line[i]) + ((left + int(prev[i])) >> 1)
                ) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = int(line[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                line[i] = (
                    int(line[i]) + _paeth(left, int(prev[i]), ul)
                ) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, channels)


# --------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# --------------------------------------------------------------------------


def bmp_decode(data: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BI_RGB BMP to (h, w, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("BMP core header unsupported")
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP bpp={bpp} compression={compression}")
    flip = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = []
    for y in range(h):
        start = offset + y * row_bytes
        row = np.frombuffer(data, np.uint8, count=w * 3, offset=start)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR → RGB
    img = np.stack(rows)
    return img[::-1] if flip else img


# --------------------------------------------------------------------------
# PGM / PPM (binary)
# --------------------------------------------------------------------------


def pnm_decode(data: bytes) -> np.ndarray:
    """Decode binary PGM (P5 → (h, w, 1)) / PPM (P6 → (h, w, 3))."""
    if data[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    channels = 1 if data[:2] == b"P5" else 3
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos: pos + 1].isspace():
            pos += 1
        if data[pos: pos + 1] == b"#":
            while data[pos: pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos: pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PNM unsupported")
    return np.frombuffer(
        data, np.uint8, count=w * h * channels, offset=pos
    ).reshape(h, w, channels)


# --------------------------------------------------------------------------
# Resize (nearest-neighbor — exact integer math, no resample kernel)
# --------------------------------------------------------------------------


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) array — the deterministic
    baseline (same pixel-center convention as OpenCV INTER_NEAREST)."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(height) * h) // height, h - 1)
    xs = np.minimum((np.arange(width) * w) // width, w - 1)
    return img[ys][:, xs]


def sniff_format(data: bytes) -> str | None:
    """Magic-byte format sniff for the decodable surface."""
    if data.startswith(_PNG_MAGIC):
        return "png"
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] in (b"P5", b"P6"):
        return "pnm"
    return None
