"""Pure-stdlib PNG codec: decode / encode / resize for 8-bit
grayscale, gray+alpha, RGB and RGBA images (PNG color types 0/4/2/6,
no interlace, no palette).

This exists because the container has no image library (Pillow/opencv
verifiably absent), yet the multimodal operators should run a REAL
decode for at least one ubiquitous format instead of only the
deterministic fake. Everything here is ``zlib`` + ``struct`` + numpy:
chunk walking, inflate, per-scanline unfiltering (filters 0–4 per the
PNG spec §6), and the reverse for encoding (filter 0 rows).

Scale note: this codec is the *codec step* inside Arrow-batched
``mapInArrow`` operators (multimodal.py) — embarrassingly parallel,
no shuffle. A production deployment swaps ``decode_png``/``encode_png``
for Pillow-SIMD/opencv behind the same signatures; the Spark-side
plumbing does not change.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .codec_guard import check_pixel_count, fail_closed

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type → samples per pixel (type 3 = palette is unsupported)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def is_png(payload: bytes | None) -> bool:
    return payload is not None and bytes(payload[:8]) == PNG_SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


@fail_closed("PNG")
def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → uint8 pixel array of shape (height, width, channels).

    Supports bit depth 8, color types 0/2/4/6, interlace 0 — the shapes
    the encoder below and virtually every screenshot/ML-corpus PNG use.
    Raises ValueError on malformed bytes or unsupported variants (the
    caller decides whether that routes to a rejects table or a fake).
    """
    payload = bytes(payload)
    if not is_png(payload):
        raise ValueError("not a PNG: bad signature")
    pos = 8
    idat: list[bytes] = []
    width = height = channels = None
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # 4 len + 4 type + data + 4 crc
        if ctype == b"IHDR":
            # a short IHDR would escape as struct.error, breaking the
            # documented ValueError contract callers use to route bad
            # payloads to a rejects table
            if len(data) != 13:
                raise ValueError(f"malformed PNG: IHDR length {len(data)} != 13")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
            if color not in _CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            channels = _CHANNELS[color]
            # PNG dims are 32-bit: reject implausible claims BEFORE
            # they size the inflate bound or the pixel array
            check_pixel_count("PNG", width, height)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")

    stride = width * channels
    expected = (stride + 1) * height
    # bounded inflate: a deflate bomb in IDAT must not materialize more
    # than the header-claimed (capped) pixel bytes — max_length stops
    # decompression at `expected`, leaving any excess in unconsumed_tail
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected)
    if d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1):
        raise ValueError("PNG pixel data length mismatch")
    if len(raw) != expected:
        raise ValueError("PNG pixel data length mismatch")

    # Unfilter scanlines. bpp = bytes per complete pixel (spec: the
    # distance to the corresponding byte of the pixel to the left).
    bpp = channels
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub: prefix sum with lag bpp, mod 256
            recon = line.reshape(-1, bpp).cumsum(axis=0, dtype=np.uint64)
            recon = (recon % 256).astype(np.uint8).reshape(-1)
        elif ftype == 2:  # Up — fully vectorized
            recon = line + prev  # uint8 wraps mod 256
        elif ftype == 3:  # Average: left-dependency → per-byte loop
            recon = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(recon[i - bpp]) if i >= bpp else 0
                recon[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth: left-dependency → per-byte loop
            recon = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(recon[i - bpp]) if i >= bpp else 0
                up_left = int(prev[i - bpp]) if i >= bpp else 0
                recon[i] = (
                    int(line[i]) + _paeth(left, int(prev[i]), up_left)
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon
        prev = out[y]
    return out.reshape(height, width, channels)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 pixel array (H, W) or (H, W, C) → PNG bytes (filter 0 rows:
    simple, spec-valid, and zlib still removes most redundancy)."""
    arr = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"unsupported pixel array shape {arr.shape}")
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = arr.reshape(h, w * ch)
    raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, compress_level))
        + _chunk(b"IEND", b"")
    )


def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample to (height, width) — pure index
    arithmetic, the deterministic baseline resampler."""
    h, w = pixels.shape[:2]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return pixels[rows][:, cols]


def image_features(pixels: np.ndarray) -> np.ndarray:
    """Deterministic 16-dim feature vector from a decoded pixel array:
    luma mean/std/min/max, up-to-4 per-channel means, mean |gradient|
    along each axis, a 4-bin luma histogram, aspect ratio and log-area.
    Intensities are scaled to [0, 1]; the vector is the real-decode
    counterpart of the content-hash fake in multimodal.py (same dtype
    and dimension, so downstream similarity ops are agnostic)."""
    arr = np.asarray(pixels, dtype=np.float32)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    arr01 = arr / 255.0
    if ch >= 3:
        luma = 0.299 * arr01[:, :, 0] + 0.587 * arr01[:, :, 1] + 0.114 * arr01[:, :, 2]
    else:
        luma = arr01[:, :, 0]
    chan_means = [float(arr01[:, :, c].mean()) for c in range(min(ch, 4))]
    chan_means += [0.0] * (4 - len(chan_means))
    gx = float(np.abs(np.diff(luma, axis=1)).mean()) if w > 1 else 0.0
    gy = float(np.abs(np.diff(luma, axis=0)).mean()) if h > 1 else 0.0
    hist, _ = np.histogram(luma, bins=4, range=(0.0, 1.0))
    hist = hist.astype(np.float32) / luma.size
    return np.array(
        [
            float(luma.mean()),
            float(luma.std()),
            float(luma.min()),
            float(luma.max()),
            *chan_means,
            gx,
            gy,
            *hist.tolist(),
            float(w / h),
            float(np.log1p(h * w)),
        ],
        dtype=np.float32,
    )
