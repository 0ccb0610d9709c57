"""Pure-stdlib AVI (RIFF) container walker + MJPEG video decode.

Makes the VIDEO modality real for one ubiquitous container the same
way png/gif/jpeg/audio did for images and sound: an AVI whose video
stream is MJPEG ('MJPG') is a RIFF chunk tree whose '##dc' chunks are
plain baseline JPEG frames — the walker below finds them with
``struct`` alone and jpeg.py decodes them. MJPEG-in-AVI is the
classic camera/capture interchange format and the one video codec
that is tractable without ffmpeg; every other codec (H.26x, VP9, AV1)
remains honestly gated in multimodal.py.

Spec shapes handled: LIST/hdrl ('avih' main header: frame period,
counts, dimensions), LIST/strl per stream ('strh' typed 'vids'/'auds'
with the fourcc handler), LIST/movi frame chunks — including the
interleaved 'rec ' sub-LISTs — with RIFF's even-byte chunk padding.
DHT-less MJPEG frames (the OpenDML convention: frames omit Huffman
tables, decoders supply ITU-T T.81 Annex K.3) decode because jpeg.py
installs the K.3 tables for any table id no DHT defined.

Validated in tests/test_avi_codec.py against an INDEPENDENT test-side
container writer + the independent JPEG encoder, frame-content checks
included (frame k carries a distinct closed-form luma).

Scale note: like the codecs, this is the per-row step inside
Arrow-batched ``mapInArrow`` (multimodal.extract_features /
sample_frames) — embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_guard import fail_closed

__all__ = [
    "is_avi",
    "avi_info",
    "iter_video_frames",
    "decode_avi_frame",
    "decode_avi",
]


def is_avi(payload: bytes | None) -> bool:
    return (
        payload is not None
        and len(payload) >= 12
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"AVI "
    )


def _walk(data: bytes, start: int, end: int):
    """Yield (fourcc, list_type_or_None, payload_start, payload_end)
    for every chunk in [start, end), recursing into LISTs."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = pos + 8
        if body + size > end:
            raise ValueError("malformed AVI: chunk overruns its parent")
        if fourcc == b"LIST":
            ltype = data[body : body + 4]
            yield fourcc, ltype, body + 4, body + size
            yield from _walk(data, body + 4, body + size)
        else:
            yield fourcc, None, body, body + size
        pos = body + size + (size & 1)  # chunks are word-aligned


@fail_closed("AVI")
def avi_info(payload: bytes) -> dict:
    """Main-header probe: dimensions, frame period, stream table."""
    data = bytes(payload)
    if not is_avi(data):
        raise ValueError("not an AVI: bad RIFF signature")
    info = {
        "width": None,
        "height": None,
        "n_frames": None,
        "us_per_frame": None,
        "streams": [],
    }
    for fourcc, _ltype, s, e in _walk(data, 12, len(data)):
        if fourcc == b"avih":
            if e - s < 40:
                raise ValueError("malformed AVI: short avih")
            vals = struct.unpack("<10I", data[s : s + 40])
            info["us_per_frame"] = vals[0]
            info["n_frames"] = vals[4]
            info["width"] = vals[8]
            info["height"] = vals[9]
        elif fourcc == b"strh":
            if e - s < 8:
                raise ValueError("malformed AVI: short strh")
            info["streams"].append(
                {
                    "type": data[s : s + 4].decode("ascii", "replace"),
                    "handler": data[s + 4 : s + 8].decode("ascii", "replace"),
                }
            )
    if info["width"] is None:
        raise ValueError("malformed AVI: no avih header")
    return info


@fail_closed("AVI")
def iter_video_frames(payload: bytes) -> list[bytes]:
    """The compressed frame payloads ('##dc'/'##db' chunks) of the
    FIRST video stream, in container order. Pure metadata walk — no
    decode, no copy beyond the frame slices."""
    data = bytes(payload)
    info = avi_info(data)
    vid_stream = next(
        (i for i, s in enumerate(info["streams"]) if s["type"] == "vids"),
        None,
    )
    if vid_stream is None:
        raise ValueError("AVI has no video stream")
    prefix = b"%02d" % vid_stream
    frames = []
    # Track the byte extents of movi LISTs (there can be several in
    # OpenDML files) and only take frame chunks that fall INSIDE one —
    # '##dc'-shaped chunks appearing after a movi list (e.g. in indx /
    # OpenDML extension lists) must not be misread as frames.
    movi_extents: list[tuple[int, int]] = []
    for fourcc, ltype, s, e in _walk(data, 12, len(data)):
        if fourcc == b"LIST" and ltype == b"movi":
            movi_extents.append((s, e))
            continue
        if (
            fourcc[:2] == prefix
            and fourcc[2:4] in (b"dc", b"db")
            and any(ms <= s and e <= me for ms, me in movi_extents)
        ):
            frames.append(data[s:e])
    return frames


@fail_closed("AVI")
def decode_avi_frame(frame: bytes) -> np.ndarray:
    """One MJPEG frame → pixels. MJPEG frames are baseline JPEGs
    (possibly DHT-less — jpeg.py supplies the Annex K.3 tables)."""
    from .jpeg import decode_jpeg, is_jpeg

    if not is_jpeg(frame):
        raise NotImplementedError(
            "AVI video stream is not MJPEG — other video codecs "
            "(H.26x/VP9/AV1) require ffmpeg/pyav, absent here"
        )
    return decode_jpeg(frame)


@fail_closed("AVI")
def decode_avi(payload: bytes, frame_index: int = 0) -> np.ndarray:
    """Decode one frame of an MJPEG AVI by index."""
    frames = iter_video_frames(payload)
    if not frames:
        raise ValueError("AVI contains no video frames")
    if not 0 <= frame_index < len(frames):
        raise ValueError(
            f"frame_index {frame_index} out of range (0..{len(frames) - 1})"
        )
    return decode_avi_frame(frames[frame_index])
