"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInArrow.

The Spark-side architecture is real and tested — schema contracts, batch
iteration, partition sizing. The codec step is REAL for PNG images: a
pure-stdlib decoder/encoder (png.py — zlib inflate + spec filters 0–4)
backs ``decode_image``/``resize_images``, so feature extraction and
resizing run on actual pixels with no external image library. Non-PNG
images and video frames still need codecs this container lacks
(Pillow/opencv/pyav): those paths raise NotImplementedError unless
``fake=True``, which substitutes a deterministic content-hash-seeded
stand-in so the distributed plumbing is exercised regardless.

At 100 TB: binary payloads dominate partition size, so media tables are
repartitioned by target *bytes* (``media_repartition``), not row counts,
before any decode pass; the decode itself is embarrassingly parallel
mapInArrow with no shuffle. A NULL payload crosses as an Arrow null.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real codec: features seeded from the
    content hash, so tests get stable, content-dependent vectors."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % (2**32)
    return np.random.default_rng(seed).standard_normal(FEATURE_DIM).astype(np.float32)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Payload → FEATURE_DIM feature vector. PNG payloads get a REAL
    decode (png.py: stdlib zlib + spec unfiltering), GIF payloads a REAL
    LZW decode (gif.py: spec code stream, palettes, interlace,
    transparency), baseline JPEG payloads a REAL entropy decode
    (jpeg.py: Huffman + dequantize + IDCT + YCbCr), all through the
    same pixel-statistic features; remaining formats need codecs
    absent from this container."""
    if fake:
        return _fake_decode(payload)
    from .png import decode_png, image_features, is_png

    if is_png(payload):
        return image_features(decode_png(payload))
    from .gif import decode_gif, is_gif

    if is_gif(payload):
        return image_features(decode_gif(payload))
    from .jpeg import decode_jpeg, is_jpeg

    if is_jpeg(payload):
        return image_features(decode_jpeg(payload))
    raise NotImplementedError(
        "non-PNG/GIF/JPEG image decode requires Pillow/opencv, not "
        "available in this environment; PNG, GIF and baseline JPEG "
        "decode for real — pass fake=True for the deterministic stub "
        "on other formats"
    )


def decode_audio(payload: bytes, fake: bool = False) -> np.ndarray:
    """Payload → FEATURE_DIM feature vector. WAV payloads get a REAL
    decode (audio.py: stdlib ``wave`` + numpy spectral statistics);
    compressed audio needs codecs absent from this container."""
    if fake:
        return _fake_decode(payload)
    from .audio import audio_features, decode_wav, is_wav

    if is_wav(payload):
        return audio_features(*decode_wav(payload))
    raise NotImplementedError(
        "compressed-audio decode requires librosa/ffmpeg, not available "
        "in this environment; PCM WAV decodes for real — pass fake=True "
        "for the deterministic stub on other formats"
    )


def decode_video(payload: bytes, fake: bool = False) -> np.ndarray:
    """Payload → FEATURE_DIM feature vector. MJPEG-in-AVI gets a REAL
    decode (avi.py RIFF walk → jpeg.py frames): features of the FIRST
    frame — the keyframe statistic downstream curation keys on (a
    temporal summary would change FEATURE_DIM; sample_frames is the
    per-frame surface). Other containers/codecs need ffmpeg/pyav."""
    if fake:
        return _fake_decode(payload)
    from .avi import decode_avi, is_avi
    from .png import image_features

    if is_avi(payload):
        return image_features(decode_avi(payload, frame_index=0))
    raise NotImplementedError(
        "non-MJPEG-AVI video decode requires pyav/ffmpeg, not available "
        "in this environment; MJPEG-in-AVI decodes for real — pass "
        "fake=True for the deterministic stub on other formats"
    )


def _decode_any(payload: bytes, kind: str, fake: bool) -> np.ndarray:
    """Per-row codec dispatch: image → decode_image (PNG + GIF +
    baseline JPEG real), audio → decode_audio (WAV real), video →
    decode_video (MJPEG-in-AVI real)."""
    if fake:
        return _fake_decode(payload)
    if kind == "audio":
        return decode_audio(payload)
    if kind == "video":
        return decode_video(payload)
    return decode_image(payload)


def extract_features(
    media: DataFrame, fake: bool = True, on_error: str = "null"
) -> DataFrame:
    """media frame → per-item feature vectors via Arrow-batched
    mapInArrow. No shuffle; each partition streams Arrow batches.

    Executor-side error policy (``on_error``): the codecs' documented
    contract is ValueError for malformed bytes and NotImplementedError
    for honestly-gated variants (operators/codec_guard.py). At corpus
    scale one crafted byte must never kill a 100 TB stage, so the
    default ``"null"`` converts exactly those two contract errors to a
    ``features IS NULL`` row — distinguishable from a NULL payload by
    ``n_bytes > 0`` — while anything OUTSIDE the contract (a decoder
    bug) still fails the task loudly. ``"raise"`` propagates contract
    errors too, for callers that want strict decoding."""
    if on_error not in ("null", "raise"):
        raise ValueError(f"on_error must be 'null' or 'raise', got {on_error!r}")

    def decode_or_null(p: bytes, k: str):
        try:
            return _decode_any(p, k, fake).tolist()
        except (ValueError, NotImplementedError):
            if on_error == "raise":
                raise
            return None

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            payloads = rb.column("payload").to_pylist()
            feats = [
                decode_or_null(p, k) if p is not None else None
                for p, k in zip(payloads, rb.column("kind").to_pylist())
            ]
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": rb.column("media_id"),
                    "kind": rb.column("kind"),
                    "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                    "features": feats,
                },
                schema=to_arrow_schema(FEATURES_SCHEMA),
            )

    return media.mapInArrow(op, FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resize: content- and
    dimension-dependent bytes of the right nominal size (w*h*3 capped)."""
    seed = hashlib.sha256(payload + f"{width}x{height}".encode()).digest()
    out_len = min(width * height * 3, 4096)
    return (seed * (out_len // len(seed) + 1))[:out_len]


def resize_images(
    media: DataFrame, width: int, height: int, fake: bool = True
) -> DataFrame:
    """Resize pass over an image table via Arrow-batched mapInArrow —
    same no-shuffle shape as extract_features. With ``fake=False`` PNG
    payloads are really resized (decode → nearest-neighbor resample →
    re-encode, all stdlib+numpy in png.py); non-PNG payloads raise, as
    their codecs are absent from this container."""

    def _real_resize(payload: bytes) -> bytes:
        from .png import decode_png, encode_png, is_png, resize_nearest

        if not is_png(payload):
            raise NotImplementedError(
                "non-PNG image resize requires Pillow/opencv; PNG resizes "
                "for real — pass fake=True for the stub on other formats"
            )
        return encode_png(resize_nearest(decode_png(payload), width, height))

    one = (lambda p: _fake_resize(p, width, height)) if fake else _real_resize

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            yield pa.RecordBatch.from_pydict(
                {
                    "media_id": rb.column("media_id"),
                    "kind": rb.column("kind"),
                    "payload": [
                        one(p) if p is not None else None
                        for p in rb.column("payload").to_pylist()
                    ],
                    "width": [width] * n,
                    "height": [height] * n,
                },
                schema=to_arrow_schema(RESIZED_SCHEMA),
            )

    return media.mapInArrow(op, RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, fake: bool = True
) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    (media_id, frame_idx, ts_ms, payload). Row expansion happens inside
    mapInArrow — no shuffle, output size = duration/every_ms per video.

    ``fake=False`` extracts REAL frames from MJPEG-in-AVI payloads: the
    RIFF walk (avi.py) yields the container's JPEG frame chunks, one
    sampled every ``every_ms`` of stream time (frame period from the
    avih header), each output payload a standalone decodable JPEG.
    Other containers/codecs raise the honest ffmpeg/pyav gate. The
    default fake path keeps the plumbing-only shape (sha-derived
    payload stubs, duration-driven counts)."""
    if not fake:

        def real_op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from .avi import avi_info, is_avi, iter_video_frames

            for rb in batches:
                ids, idxs, tss, payloads = [], [], [], []
                for mid, payload in zip(
                    rb.column("media_id").to_pylist(),
                    rb.column("payload").to_pylist(),
                ):
                    if payload is None:
                        continue
                    payload = bytes(payload)
                    if not is_avi(payload):
                        raise NotImplementedError(
                            "real frame extraction supports MJPEG-in-AVI "
                            "only; other containers need pyav/ffmpeg"
                        )
                    frames = iter_video_frames(payload)
                    if not frames:
                        continue
                    us = avi_info(payload)["us_per_frame"] or 1
                    frame_ms = max(us / 1000.0, 1e-9)
                    k = 0
                    while True:
                        fi = int(round(k * every_ms / frame_ms))
                        if fi >= len(frames):
                            break
                        ids.append(mid)
                        idxs.append(fi)
                        tss.append(k * every_ms)
                        payloads.append(frames[fi])
                        k += 1
                yield _frames_batch(ids, idxs, tss, payloads)

        return media.mapInArrow(real_op, FRAMES_SCHEMA)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            # Vectorized row→frame expansion: frame counts, repeat
            # indices and per-frame timestamps all come from numpy index
            # arithmetic (no per-row loop). Only the per-OUTPUT-frame
            # digest below is Python — that list comprehension stands
            # exactly where the real frame decode (pyav) would, and is
            # bounded by output volume, not input rows.
            sub = rb.filter(
                pc.and_(
                    pc.is_valid(rb.column("duration_ms")),
                    pc.is_valid(rb.column("payload")),
                )
            )
            n_frames = np.maximum(
                1,
                sub.column("duration_ms").to_numpy(zero_copy_only=False).astype(np.int64)
                // every_ms,
            )
            rep = np.repeat(np.arange(sub.num_rows), n_frames)
            ends = np.cumsum(n_frames)
            frame_idx = np.arange(int(ends[-1]) if len(ends) else 0) - np.repeat(
                ends - n_frames, n_frames
            )
            payloads_in = sub.column("payload").to_pylist()
            payloads = [
                hashlib.sha256(
                    payloads_in[r] + int(i).to_bytes(4, "big")
                ).digest()
                for r, i in zip(rep, frame_idx)
            ]
            yield _frames_batch(
                sub.column("media_id").to_numpy(zero_copy_only=False)[rep],
                frame_idx,
                frame_idx.astype(np.int64) * every_ms,
                payloads,
            )

    return media.mapInArrow(op, FRAMES_SCHEMA)


def _frames_batch(ids, idxs, tss, payloads) -> pa.RecordBatch:
    """One ``FRAMES_SCHEMA`` Arrow batch from its four columns."""
    return pa.RecordBatch.from_pydict(
        {"media_id": ids, "frame_idx": idxs, "ts_ms": tss, "payload": payloads},
        schema=to_arrow_schema(FRAMES_SCHEMA),
    )


def media_repartition(
    media: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
    sample_rows: int = 1024,
) -> DataFrame:
    """Repartition a media table by estimated payload bytes so each task
    handles ~target_bytes of binary data regardless of row width.

    The estimate is row_count × avg(payload bytes over a bounded
    sample): ``count()`` prunes every column (parquet answers it from
    footer metadata — no payload IO) and the average reads only
    ``sample_rows`` payloads. The previous ``sum(length(payload))``
    was exact but scanned the entire binary column — a full extra pass
    over precisely the data this operator exists to budget."""
    n_rows = media.count()
    if n_rows == 0:
        return media.repartition(1)
    row = (
        media.select(F.length("payload").alias("b"))
        .limit(sample_rows)
        .agg(F.avg("b").alias("avg_b"))
        .first()
    )
    avg_b = row["avg_b"] or 0.0
    total = int(n_rows * avg_b)
    n = max(1, total // target_bytes + 1)
    return media.repartition(n)
