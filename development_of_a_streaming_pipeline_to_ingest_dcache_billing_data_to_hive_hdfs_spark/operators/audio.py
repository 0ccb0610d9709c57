"""Pure-stdlib WAV audio codec: decode + deterministic features for
PCM WAV payloads (8/16/32-bit integer PCM, any channel count).

The audio twin of png.py: the container ships no audio library, but
RIFF/WAVE PCM is fully readable with the stdlib ``wave`` module and
numpy, so the multimodal ``audio`` kind gets a REAL decode for the one
ubiquitous uncompressed format. Compressed formats (mp3/ogg/flac) stay
honestly gated in multimodal.py.

Like the image path, this is the *codec step* inside Arrow-batched
``mapInArrow`` — embarrassingly parallel, no shuffle; a production
deployment swaps in librosa/ffmpeg behind the same signatures.
"""

from __future__ import annotations

import io
import wave

import numpy as np

from .codec_guard import fail_closed

# samples analyzed per payload for the spectral features — bounds the
# FFT cost per row regardless of clip length (~1.5 s at 44.1 kHz)
MAX_ANALYSIS_SAMPLES = 1 << 16

_PCM_DTYPES = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}


def is_wav(payload: bytes | None) -> bool:
    return (
        payload is not None
        and len(payload) >= 12
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"WAVE"
    )


@fail_closed("WAV")
def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (float samples in [-1, 1] of shape (n, channels),
    sample_rate). Integer PCM only; raises ValueError on anything else
    (compressed WAV variants need codecs this container lacks)."""
    if not is_wav(payload):
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            n_ch = w.getnchannels()
            width = w.getsampwidth()
            rate = w.getframerate()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except (wave.Error, EOFError, RuntimeError) as e:
        # the stdlib wave/chunk modules raise bare EOFError (truncated
        # chunk) and RuntimeError (chunk-relative seek past a corrupt
        # size field) on malformed containers — fuzz-found; both are
        # "malformed bytes" here, and the catch is scoped to the
        # wave.open block so a real RuntimeError elsewhere still raises
        raise ValueError(f"unsupported WAV: {type(e).__name__} {e}") from e
    if width not in _PCM_DTYPES:
        raise ValueError(f"unsupported WAV sample width {width} bytes")
    data = np.frombuffer(raw, dtype=_PCM_DTYPES[width])
    if n_ch > 1:
        data = data[: (len(data) // n_ch) * n_ch].reshape(-1, n_ch)
    else:
        data = data.reshape(-1, 1)
    if width == 1:  # 8-bit WAV is unsigned, midpoint 128
        samples = (data.astype(np.float32) - 128.0) / 128.0
    else:
        samples = data.astype(np.float32) / float(2 ** (8 * width - 1))
    return samples, rate


def audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """Deterministic 16-dim feature vector: duration/rate/channel
    shape, amplitude statistics (rms, peak, zero-crossing rate, silence
    fraction, dynamic range, crest factor), and spectral shape (4-band
    energy fractions, centroid, 85% rolloff) over a mono downmix of the
    first MAX_ANALYSIS_SAMPLES samples. Same dtype/width contract as
    png.image_features so downstream similarity ops are agnostic."""
    n, n_ch = samples.shape
    duration_s = n / float(rate) if rate else 0.0
    mono = samples.mean(axis=1)
    x = mono[:MAX_ANALYSIS_SAMPLES].astype(np.float64)
    if len(x) == 0:
        x = np.zeros(1)
    rms = float(np.sqrt(np.mean(x**2)))
    peak = float(np.abs(x).max())
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0.0
    mad = float(np.mean(np.abs(np.diff(x)))) if len(x) > 1 else 0.0
    silence = float(np.mean(np.abs(x) < 0.01))
    p5, p95 = np.percentile(np.abs(x), [5.0, 95.0])
    dyn_range = float(p95 - p5)
    crest = float(min(peak / rms, 100.0)) if rms > 0 else 0.0

    power = np.abs(np.fft.rfft(x)) ** 2
    total = float(power.sum())
    nyq_bins = len(power)
    edges = [0, nyq_bins // 8, nyq_bins // 4, nyq_bins // 2, nyq_bins]
    if total > 0:
        bands = [float(power[a:b].sum() / total) for a, b in zip(edges, edges[1:])]
        freqs = np.arange(nyq_bins) / max(nyq_bins - 1, 1)
        centroid = float((freqs * power).sum() / total)
        cum = np.cumsum(power)
        rolloff = float(np.searchsorted(cum, 0.85 * total) / max(nyq_bins - 1, 1))
    else:
        bands, centroid, rolloff = [0.0] * 4, 0.0, 0.0

    return np.array(
        [
            float(np.log1p(duration_s)),
            float(np.log1p(rate)),
            float(n_ch),
            rms,
            peak,
            zcr,
            mad,
            silence,
            *bands,
            centroid,
            rolloff,
            dyn_range,
            crest,
        ],
        dtype=np.float32,
    )
