"""Multimodal binary-column processing.

Images / audio / video ride as opaque ``binary`` columns with a typed
metadata struct.  The decode step is REAL for the two public
uncompressed container formats implemented here in pure numpy — no
codec libraries needed:

  - 24-bit uncompressed BMP (BITMAPFILEHEADER + BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, 4-byte row padding) for
    image/video payloads (a video payload is its keyframe; real
    deployments swap in pyav frame extraction behind the same
    ``decode_media`` signature),
  - PCM16 mono RIFF/WAVE for audio payloads.

Features are exact integers (pixel/sample sums, dimensions, sampled
frame sums) so the driver's cross-engine value-hash comparison is
bit-stable; the DuckDB oracle re-derives them from the generator
formulas while this module derives them by decoding real bytes — a
decode defect (row order, padding, channel order) breaks the hash.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),          # image|audio|video
    StructField("mime", StringType(), True),
    StructField("payload", BinaryType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("content_sha256", StringType(), False),
    StructField("width", IntegerType(), True),          # image/video
    StructField("height", IntegerType(), True),
    StructField("n_samples", LongType(), True),         # signal length
    StructField("signal_sum", LongType(), True),        # exact int sum
    StructField("frames_sampled", IntegerType(), True),
    StructField("frame_sum", LongType(), True),         # sum of samples
])

# synthetic corpus dimensions (fixtures + oracle formulas)
IMG_W, IMG_H = 16, 8
AUDIO_N = 256
WAV_RATE = 8000
N_FRAMES = 8      # frames sampled per signal by extract_features


# ── BMP (24-bit uncompressed) ────────────────────────────────────────

def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB top-down -> 24-bit uncompressed BMP bytes
    (bottom-up BGR rows, 4-byte padded)."""
    h, w, c = pixels.shape
    assert c == 3
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    image_size = (row_bytes + pad) * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + image_size, 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size,
                       2835, 2835, 0, 0)
    rows = []
    bgr = pixels[:, :, ::-1]                    # RGB -> BGR
    zero = b"\x00" * pad
    for y in range(h - 1, -1, -1):              # bottom-up storage
        rows.append(bgr[y].tobytes() + zero)
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> Optional[np.ndarray]:
    """24-bit uncompressed BMP bytes -> (h, w, 3) uint8 RGB top-down.
    Returns None for malformed/unsupported payloads (fail-soft: the
    feature extractor records null features, never a wrong decode)."""
    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        return None
    offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        return None
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    if len(payload) < offset + stride * h:
        return None
    data = np.frombuffer(payload, dtype=np.uint8,
                         count=stride * h, offset=offset)
    rows = data.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1]                     # BGR -> RGB


# ── WAV (PCM16 mono) ─────────────────────────────────────────────────

def encode_wav(samples: np.ndarray) -> bytes:
    """int16 samples -> RIFF/WAVE PCM16 mono bytes at WAV_RATE."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, WAV_RATE, WAV_RATE * 2,
                      2, 16)
    body = fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def decode_wav(payload: bytes) -> Optional[np.ndarray]:
    """RIFF/WAVE PCM16 bytes -> int16 sample array (channel-interleaved
    as stored).  Walks the chunk list; None when malformed."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, fmt_ok, data = 12, False, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            audio_fmt, _ch, _rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body, 0)
            fmt_ok = audio_fmt == 1 and bits == 16
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)            # chunks are word-aligned
    if not fmt_ok or data is None:
        return None
    return np.frombuffer(data[:len(data) - len(data) % 2], dtype="<i2")


def decode_media_full(payload: Optional[bytes], kind: str,
                      ) -> tuple[Optional[np.ndarray], Optional[tuple[int, int]]]:
    """payload bytes -> (flat int64 signal, (height, width) | None).

    image/video: decoded pixels flattened row-major top-down RGB
    (uint8 values) plus the pixel-array shape from the SAME decode —
    callers needing dimensions must not decode twice; audio: int16
    samples, shape None.  (None, None) for empty/malformed.
    """
    if payload is None or len(payload) == 0:
        return None, None
    if kind == "audio":
        s = decode_wav(bytes(payload))
        return (None, None) if s is None else (s.astype(np.int64), None)
    px = decode_bmp(bytes(payload))
    if px is None:
        return None, None
    return px.reshape(-1).astype(np.int64), (px.shape[0], px.shape[1])


def decode_media(payload: Optional[bytes], kind: str) -> Optional[np.ndarray]:
    """payload bytes -> flat int64 signal (see decode_media_full)."""
    return decode_media_full(payload, kind)[0]


def sample_frames(signal: np.ndarray, n_frames: int = 8) -> np.ndarray:
    """Deterministic uniform sampling via pure integer index math
    (idx_k = k*(n-1) // (m-1)) so an external re-derivation needs no
    float semantics."""
    if signal is None or len(signal) == 0 or n_frames <= 0:
        return np.zeros(0, dtype=np.int64)
    n = len(signal)
    m = min(n_frames, n)
    if m == 1:
        return signal[:1]
    idx = (np.arange(m, dtype=np.int64) * (n - 1)) // (m - 1)
    return signal[idx]


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (N_FRAMES
    sampled frames per signal).

    Arrow ships each batch of binaries to Python once; decode is
    vectorized numpy per item (header parse + one reshape — no Python
    pixel loops), features are exact integer sums.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) if p is not None else b""
                        for p in pdf["payload"]]
            n = len(payloads)
            width = np.full(n, np.nan)
            height = np.full(n, np.nan)
            n_samples = np.full(n, np.nan)
            signal_sum = np.full(n, np.nan)
            frames_sampled = np.zeros(n, dtype=np.int32)
            frame_sum = np.full(n, np.nan)
            for i, (p, k) in enumerate(zip(payloads, pdf["kind"])):
                sig, shape = decode_media_full(p, k)
                if sig is None:
                    continue
                if shape is not None:
                    height[i], width[i] = shape
                n_samples[i] = len(sig)
                signal_sum[i] = int(sig.sum())
                fr = sample_frames(sig, N_FRAMES)
                frames_sampled[i] = len(fr)
                frame_sum[i] = int(fr.sum())

            def as_nullable(arr, caster):
                return pd.Series(
                    [None if np.isnan(v) else caster(v) for v in arr],
                    dtype=object)

            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(dtype="int64"),
                "kind": pdf["kind"].to_numpy(dtype=object),
                "n_bytes": np.fromiter((len(p) for p in payloads),
                                       dtype=np.int64, count=n),
                "content_sha256": [hashlib.sha256(p).hexdigest()
                                   for p in payloads],
                "width": as_nullable(width, int),
                "height": as_nullable(height, int),
                "n_samples": as_nullable(n_samples, int),
                "signal_sum": as_nullable(signal_sum, int),
                "frames_sampled": frames_sampled,
                "frame_sum": as_nullable(frame_sum, int),
            }, columns=[f.name for f in FEATURE_SCHEMA.fields])

    slim = media.select("media_id", "kind", "payload")
    return slim.mapInPandas(run, schema=FEATURE_SCHEMA)


# deterministic content formulas shared with the DuckDB oracle
# (entry_queries._multimodal_sql): pixel v(id,y,x,c) and sample s(id,i)
PIX_A, PIX_Y, PIX_X, PIX_C = 9973, 131, 7, 31
AUD_A, AUD_I = 7919, 104729


def media_pixels(media_id: int) -> np.ndarray:
    y, x, c = np.meshgrid(np.arange(IMG_H), np.arange(IMG_W), np.arange(3),
                          indexing="ij")
    return ((media_id * PIX_A + y * PIX_Y + x * PIX_X + c * PIX_C) % 256) \
        .astype(np.uint8)


def media_samples(media_id: int) -> np.ndarray:
    i = np.arange(AUDIO_N, dtype=np.int64)
    return (((media_id * AUD_A + i * AUD_I) % 65536) - 32768).astype(np.int16)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media table with REAL encoded payloads: BMP for
    image/video (a video payload is its keyframe), WAV for audio."""
    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["id"].tolist():
                mid = int(mid)
                kind = ("image", "audio", "video")[mid % 3]
                if kind == "audio":
                    payload = encode_wav(media_samples(mid))
                    rows.append((mid, kind, "audio/wav", payload,
                                 None, None, AUDIO_N * 1000 // WAV_RATE))
                else:
                    payload = encode_bmp(media_pixels(mid))
                    rows.append((mid, kind, "image/bmp", payload,
                                 IMG_W, IMG_H,
                                 1000 if kind == "video" else None))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA.fields])

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)
