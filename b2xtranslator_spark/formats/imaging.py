"""Pure-stdlib image codecs: PNG (RFC 2083 / W3C PNG spec) and BMP
(BITMAPINFOHEADER, 24-bit BI_RGB).

The container ships no PIL/pyav, but PNG needs only zlib (stdlib) plus the
per-row un-filtering pass, and BMP is plain struct layout — so the
multimodal image path can run a REAL decoder instead of a stub. Supports
the formats a training-data thumbnail pipeline actually meets: 8-bit
greyscale/RGB/RGBA PNG (all five filter types) and uncompressed 24-bit BMP.

Encoders exist for test fixtures and thumbnail output; the PNG encoder can
emit any filter type per row so the decoder's un-filtering is testable
against every path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .. import budget

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """8-bit greyscale (HxW), RGB (HxWx3) or RGBA (HxWx4) -> PNG bytes.
    ``filter_type`` applies the same PNG filter to every row (0..4) — used
    by tests to exercise each un-filter path."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color_type, channels = 0, 1
        arr = arr[:, :, None]
    elif arr.shape[2] == 3:
        color_type, channels = 2, 3
    elif arr.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported channel count {arr.shape[2]}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros((w, channels), dtype=np.int16)
    for y in range(h):
        row = arr[y].astype(np.int16)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:  # Sub
            left = np.vstack([np.zeros((1, channels), np.int16), row[:-1]])
            filt = (row - left) & 0xFF
        elif filter_type == 2:  # Up
            filt = (row - prev) & 0xFF
        elif filter_type == 3:  # Average
            left = np.vstack([np.zeros((1, channels), np.int16), row[:-1]])
            filt = (row - ((left + prev) >> 1)) & 0xFF
        elif filter_type == 4:  # Paeth
            left = np.vstack([np.zeros((1, channels), np.int16), row[:-1]])
            ul = np.vstack([np.zeros((1, channels), np.int16), prev[:-1]])
            filt = (row - _paeth(left, prev, ul)) & 0xFF
        else:
            raise ValueError(f"bad filter {filter_type}")
        raw.append(filter_type)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = row
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized (spec §6.6)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def is_png(data: bytes) -> bool:
    return data[:8] == _PNG_SIG


def decode_png(data: bytes) -> np.ndarray:
    """PNG -> uint8 array (HxW for greyscale, HxWxC otherwise). Supports
    bit depth 8, color types 0 (grey), 2 (RGB), 6 (RGBA), no interlace."""
    if not is_png(data):
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    channels = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            channels = {0: 1, 2: 3, 6: 4}.get(color_type)
            if channels is None:
                raise ValueError(f"unsupported color type {color_type}")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    stride = width * channels
    raw = budget.inflate(zlib.decompressobj(), bytes(idat), limit=height * (stride + 1))
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG data")
    out = np.zeros((height, width, channels), dtype=np.uint8)
    prev = np.zeros((width, channels), dtype=np.int16)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        row = np.frombuffer(
            raw[base + 1 : base + 1 + stride], dtype=np.uint8
        ).reshape(width, channels).astype(np.int16)
        if ftype == 0:
            recon = row
        elif ftype == 1:  # Sub: sequential in x -> cumulative sum mod 256
            recon = np.cumsum(row, axis=0, dtype=np.int64) & 0xFF
        elif ftype == 2:  # Up
            recon = (row + prev) & 0xFF
        elif ftype == 3:  # Average (left-sequential; per-pixel loop in x)
            recon = np.zeros_like(row)
            left = np.zeros(channels, dtype=np.int16)
            for x in range(width):
                left = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
                recon[x] = left
        elif ftype == 4:  # Paeth (left-sequential)
            recon = np.zeros_like(row)
            left = np.zeros(channels, dtype=np.int16)
            ul = np.zeros(channels, dtype=np.int16)
            for x in range(width):
                left = (row[x] + _paeth(left, prev[x], ul)) & 0xFF
                recon[x] = left
                ul = prev[x]
        else:
            raise ValueError(f"bad filter byte {ftype}")
        recon = recon.astype(np.int16)
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out[:, :, 0] if channels == 1 else out


def is_bmp(data: bytes) -> bool:
    return data[:2] == b"BM"


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> 24-bit BI_RGB BMP (bottom-up rows, BGR order)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    pad = b"\x00" * (row_size - w * 3)
    for y in range(h - 1, -1, -1):
        body.extend(arr[y, :, ::-1].tobytes())  # BGR
        body.extend(pad)
    return header + bytes(body)


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> HxWx3 uint8 RGB."""
    if not is_bmp(data):
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    (hdr_size, w, h, planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    flip = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    if offset + row_size * h > len(data):
        raise ValueError("truncated BMP data")
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for i in range(h):
        base = offset + i * row_size
        row = np.frombuffer(data[base : base + w * 3], dtype=np.uint8).reshape(w, 3)
        out[h - 1 - i if flip else i] = row[:, ::-1]  # BGR -> RGB
    return out


def decode_image(data: bytes) -> np.ndarray:
    """Sniff-and-decode: PNG or BMP -> uint8 RGB (HxWx3). Greyscale is
    expanded, alpha dropped — the downstream feature math wants RGB."""
    if is_png(data):
        arr = decode_png(data)
    elif is_bmp(data):
        arr = decode_bmp(data)
    else:
        raise ValueError("unknown image format")
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    elif arr.shape[2] == 4:
        arr = arr[:, :, :3]
    return arr


def mean_pool(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Mean-pool an HxWxC image to out_h x out_w (the thumbnail resize).
    Handles non-divisible sizes by trimming the remainder rows/cols —
    deterministic and allocation-cheap (one reshape + mean)."""
    h, w = img.shape[:2]
    if h < out_h or w < out_w:
        # upscale tiny images by nearest-repeat first
        reps_h = -(-out_h // h)
        reps_w = -(-out_w // w)
        img = np.repeat(np.repeat(img, reps_h, axis=0), reps_w, axis=1)
        h, w = img.shape[:2]
    fh, fw = h // out_h, w // out_w
    trimmed = img[: fh * out_h, : fw * out_w].astype(np.float32)
    return trimmed.reshape(out_h, fh, out_w, fw, -1).mean(axis=(1, 3))
