"""Pure-stdlib MJPEG-in-AVI codec (RIFF walk + functions/jpeg.py) — the
REAL video path for the multimodal operators. MJPEG is the one video
coding a baseline-JPEG decoder makes reachable without external
libraries: each frame is an independent JPEG inside an AVI '00dc'
chunk, so frame sampling is a chunk walk + per-frame decode_jpeg.
Inter-coded video (H.264 etc.) genuinely needs external codecs and
keeps raising NotImplementedError at the plug point.

No reference analog — qwatch has no media path; this covers the
training-data brief's multimodal-column requirement.
"""

from __future__ import annotations

import struct

import numpy as np

from qwatch_spark.functions.jpeg import encode_jpeg
from qwatch_spark.functions.wav import _walk_riff


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))


def _list(form: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", form + body)


def encode_mjpeg_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Encode uint8 frames (all same (h, w[, 3]) shape) as an MJPEG AVI:
    avih + one video stream header, then the 'movi' list of per-frame
    JPEG '00dc' chunks."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f) for f in frames]
    usec = 1_000_000 // max(fps, 1)
    maxb = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<14I", usec, maxb * fps, 0, 0x10, len(jpegs), 0, 1, maxb, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps,
                                        0, len(jpegs), maxb, 0, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(  # BITMAPINFOHEADER
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_header(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, n_frames) from the avih main header, or None."""
    for cid, body in _walk_riff(payload, b"AVI "):
        if cid == b"LIST" and body[:4] == b"hdrl":
            pos = 4
            while pos + 8 <= len(body):
                c = body[pos : pos + 4]
                ln = struct.unpack("<I", body[pos + 4 : pos + 8])[0]
                if c == b"avih" and ln >= 40:
                    v = struct.unpack("<10I", body[pos + 8 : pos + 48])
                    return v[8], v[9], v[4]  # width, height, total frames
                pos += 8 + ln + (ln & 1)
    return None


def iter_mjpeg_frames(payload: bytes):
    """Yield the raw JPEG bytes of each video frame chunk, in order."""
    for cid, body in _walk_riff(payload, b"AVI "):
        if cid == b"LIST" and body[:4] == b"movi":
            pos = 4
            while pos + 8 <= len(body):
                c = body[pos : pos + 4]
                ln = struct.unpack("<I", body[pos + 4 : pos + 8])[0]
                if c.endswith(b"dc"):
                    yield body[pos + 8 : pos + 8 + ln]
                pos += 8 + ln + (ln & 1)
