"""Pure-stdlib PNG codec (zlib + struct + numpy).

The project takes no PIL dependency, and PNG needs nothing beyond
zlib: this module implements a correct encoder/decoder for the dominant
non-interlaced 8-bit cases (grayscale, gray+alpha, RGB, RGBA),
including all five scanline filter types, plus GIF header sniffing
(logical screen dimensions) and nearest-neighbour resize.

No job, script or bench reaches it: it is the last module of the
deleted media stack and runs only under tests/test_png_codec.py
(ROADMAP direction 5 names its deletion as the next step).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an 8-bit image as a valid PNG.

    `pixels`: uint8 array of shape (h, w) → grayscale, or (h, w, c) with
    c ∈ {1, 2, 3, 4} → gray / gray+alpha / RGB / RGBA. Filter 0 (None)
    on every scanline; single IDAT."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"unsupported pixel shape {a.shape}")
    h, w, c = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def png_header(payload: bytes) -> tuple[int, int, int, int] | None:
    """(width, height, bit_depth, color_type) from IHDR, or None if the
    payload is not a PNG."""
    if payload is None or len(payload) < 33 or payload[:8] != PNG_SIG:
        return None
    if payload[12:16] != b"IHDR":
        return None
    w, h, depth, ctype = struct.unpack(">IIBB", payload[16:26])
    return w, h, depth, ctype


def gif_header(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from a GIF87a/GIF89a logical screen descriptor."""
    if payload is None or len(payload) < 10:
        return None
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    return w, h


def _unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters (types 0-4). Returns (h, w*bpp) uint8."""
    stride = w * bpp
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += 1 + stride
        if ftype == 0:  # None
            cur = line.copy()
        elif ftype == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth — sequential in x
            cur = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    ul = int(prev[i - bpp]) if i >= bpp else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """Full pixel decode for non-interlaced 8-bit PNGs. Returns a uint8
    array of shape (h, w, channels). Raises ValueError on corrupt data
    and NotImplementedError for interlaced / 16-bit / palette images
    (cases a real deployment hands to a full codec library)."""
    hdr = png_header(payload)
    if hdr is None:
        raise ValueError("not a PNG payload")
    w, h, depth, ctype = hdr
    interlace = payload[28]
    if depth != 8:
        raise NotImplementedError(f"bit depth {depth} PNG needs a full codec")
    if ctype not in _CHANNELS:
        raise NotImplementedError(f"color type {ctype} (palette?) needs a full codec")
    if interlace:
        raise NotImplementedError("interlaced PNG needs a full codec")
    # walk chunks, concatenating IDAT
    pos, idat = 8, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        crc = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IDAT":
            idat.append(body)
        pos += 12 + length
        if tag == b"IEND":
            break
    if not idat:
        raise ValueError("PNG has no IDAT")
    raw = zlib.decompress(b"".join(idat))
    bpp = _CHANNELS[ctype]
    if len(raw) != h * (1 + w * bpp):
        raise ValueError("PNG pixel data length mismatch")
    return _unfilter(raw, w, h, bpp).reshape(h, w, bpp)


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, c) uint8 image."""
    h, w = pixels.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[ys][:, xs]
