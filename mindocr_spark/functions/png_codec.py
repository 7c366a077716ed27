"""Minimal pure-python PNG encoder/decoder (stdlib zlib + numpy).

Stands in for the reference's ``cv2.imdecode`` byte-decoding step
(``mindocr/data/transforms/general_transforms.py:34-87``, ``DecodeImage``)
since OpenCV/PIL are unavailable in this environment. Supports 8-bit
grayscale and RGB, non-interlaced. The encoder always emits filter 0; the
decoder handles all five standard row filters so any conforming 8-bit PNG
of those color types decodes correctly.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..config import MAX_PNG_PIXELS

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (H,W) grayscale or (H,W,3) RGB -> PNG bytes (filter 0 rows)."""
    if img.dtype != np.uint8:
        raise ValueError("encode_png expects uint8")
    if img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    flat = img.reshape(h, w * channels)
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per scanline
    raw[:, 1:] = flat
    idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, 1 + stride)
    ftypes = rows[:, 0]
    data = rows[:, 1:].astype(np.int32)
    if not ftypes.any():  # all filter 0: fast vectorized path (our own files)
        return data.astype(np.uint8)
    out = np.zeros((h, stride), dtype=np.int32)
    for y in range(h):
        f = int(ftypes[y])
        cur = data[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if f == 0:
            out[y] = cur
        elif f == 2:  # up
            out[y] = (cur + prev) & 0xFF
        else:  # sub / average / paeth need left-neighbor recurrence
            row = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = out[y - 1][x - bpp] if (y > 0 and x >= bpp) else 0
                if f == 1:
                    row[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    row[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    row[x] = (cur[x] + pr) & 0xFF
                else:
                    raise ValueError(f"bad filter {f}")
            out[y] = row
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (H,W) or (H,W,3). Returns None-equivalent raise on junk."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    color_type = None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or color_type not in (0, 2) or interlace != 0:
                raise ValueError("unsupported PNG variant")
            if w * h > MAX_PNG_PIXELS:
                raise ValueError(f"PNG of {w}x{h} exceeds the pixel budget")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    channels = 1 if color_type == 0 else 3
    stride = w * channels
    size = h * (1 + stride)
    # inflate at most one byte past the IHDR size: excess output is an
    # error, never an allocation
    inflated = zlib.decompressobj().decompress(bytes(idat), size + 1)
    if len(inflated) > size:
        raise ValueError("PNG payload exceeds its IHDR size")
    if len(inflated) != size:
        raise ValueError("bad PNG payload size")
    raw = np.frombuffer(inflated, dtype=np.uint8)
    img = _unfilter(raw, h, stride, channels)
    return img.reshape(h, w) if channels == 1 else img.reshape(h, w, 3)
