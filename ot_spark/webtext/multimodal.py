"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a struct of metadata;
decode / feature-extract / frame-sample run as Arrow UDFs over the
``payload`` column (one new column per call; only the payload crosses to
Python).  The container has no image/audio codecs, so
REAL codec decode raises NotImplementedError behind a clearly marked stub —
but everything Spark-side (schema, batching, partitioning, UDF signatures)
is real and tested against a deterministic FAKE container format:

    b"FAKEIMG1" + width:int32le + height:int32le + pixel bytes (w*h, gray)
    b"FAKEVID1" + n_frames:int32le + frame payloads (each 16 bytes)
    b"FAKEAUD1" + rate:int32le + n_samples:int32le + int16le PCM samples

Feature extraction on the fake format is genuine numpy work (header parse,
byte histograms, mean/std, frame sampling) — the exact batch shape a PIL/
ffmpeg implementation would slot into.
"""

from __future__ import annotations

import struct
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType, DataType, DoubleType, IntegerType, StructField, StructType
)

FAKE_IMG_MAGIC = b"FAKEIMG1"
FAKE_VID_MAGIC = b"FAKEVID1"
FAKE_AUD_MAGIC = b"FAKEAUD1"

IMG_FEATURE_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_px", DoubleType()),
        StructField("std_px", DoubleType()),
        StructField("hist8", ArrayType(DoubleType())),
    ]
)


# Weyl-style mixing constants (Knuth multiplicative / xxhash prime — public)
_PORTABLE_C1 = 2654435761
_PORTABLE_C2 = 2246822519


def make_fake_image_portable(width: int, height: int, seed: int) -> bytes:
    """FAKEIMG1 container whose pixels come from a CLOSED-FORM integer
    sequence, p_k = (seed*C1 + k*C2) mod 256 — so a SQL oracle can re-derive
    every pixel (and thus mean/std/hist) arithmetically while the Spark side
    still decodes the actual bytes through the real Arrow UDF path."""
    px = bytes(
        (seed * _PORTABLE_C1 + k * _PORTABLE_C2) % 256
        for k in range(width * height)
    )
    return FAKE_IMG_MAGIC + struct.pack("<ii", width, height) + px


def make_fake_audio_portable(rate: int, n_samples: int, seed: int) -> bytes:
    """Closed-form int16 PCM, s_k = ((seed*C1 + k*C2) mod 4096) - 2048 —
    see ``make_fake_image_portable``."""
    pcm = np.array(
        [
            (seed * _PORTABLE_C1 + k * _PORTABLE_C2) % 4096 - 2048
            for k in range(n_samples)
        ],
        dtype="<i2",
    )
    return FAKE_AUD_MAGIC + struct.pack("<ii", rate, n_samples) + pcm.tobytes()


def make_fake_video_portable(n_frames: int, seed: int) -> bytes:
    """Closed-form frame bytes p_k = (seed*C1 + k*C2) mod 256 over
    n_frames*16 bytes — see ``make_fake_image_portable``; lets a SQL
    oracle re-derive every sampled frame's mean arithmetically."""
    fb = bytes(
        (seed * _PORTABLE_C1 + k * _PORTABLE_C2) % 256
        for k in range(n_frames * 16)
    )
    return FAKE_VID_MAGIC + struct.pack("<i", n_frames) + fb


def _with_payload_feature(
    df: DataFrame, name: str, dtype: DataType, fn: Callable[[bytes], object]
) -> DataFrame:
    """``df`` plus column ``name``: ``fn`` over each non-null ``payload``
    (NULL payload -> NULL), one Arrow UDF call per batch.  The result is
    built with the declared Arrow type: Spark casts an Arrow UDF's result
    to it, and a struct inferred from Python dicts fails that cast."""
    arrow_type = to_arrow_type(dtype)

    @F.arrow_udf(dtype)
    def per_batch(payload: pa.Array) -> pa.Array:
        return pa.array(
            [None if b is None else fn(b) for b in payload.to_numpy(zero_copy_only=False)],
            type=arrow_type,
        )

    # nondeterministic like the other struct UDFs: a projection of some
    # struct fields would otherwise clone the UDF once per field
    return df.withColumn(name, per_batch.asNondeterministic()(F.col("payload")))


def _decode_audio(buf: bytes) -> tuple[int, np.ndarray]:
    """-> (sample_rate, int16 PCM)."""
    if buf[:8] == FAKE_AUD_MAGIC:
        rate, n = struct.unpack("<ii", buf[8:16])
        pcm = np.frombuffer(buf, dtype="<i2", offset=16, count=n)
        return rate, pcm
    # STUB: real codec path — would be soundfile.read(io.BytesIO(buf))
    raise NotImplementedError("real audio codecs unavailable in this environment")


AUD_FEATURE_SCHEMA = StructType(
    [
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_sec", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_cross_rate", DoubleType()),
    ]
)


def _audio_features(buf: bytes) -> dict | None:
    try:
        rate, pcm = _decode_audio(buf)
    except NotImplementedError:
        return None
    x = pcm.astype(np.float64)
    zc = int(np.count_nonzero(np.diff(np.signbit(x)))) if len(x) > 1 else 0
    return {
        "sample_rate": rate,
        "n_samples": int(len(x)),
        "duration_sec": len(x) / rate if rate else 0.0,
        "rms": float(np.sqrt((x * x).mean())) if len(x) else 0.0,
        "zero_cross_rate": zc / max(len(x) - 1, 1),
    }


def with_audio_features(df: DataFrame) -> DataFrame:
    """Batch decode: duration / RMS / zero-crossing rate per clip — the
    shapes a real librosa/soundfile stage would produce."""
    return _with_payload_feature(df, "aud_features", AUD_FEATURE_SCHEMA, _audio_features)


def _decode_image(buf: bytes) -> tuple[int, int, np.ndarray]:
    if buf[:8] == FAKE_IMG_MAGIC:
        w, h = struct.unpack("<ii", buf[8:16])
        px = np.frombuffer(buf, dtype=np.uint8, offset=16, count=w * h)
        return w, h, px
    # STUB: real codec path — would be PIL.Image.open(io.BytesIO(buf))
    raise NotImplementedError("real image codecs unavailable in this environment")


def _image_features(buf: bytes) -> dict | None:
    try:
        w, h, px = _decode_image(buf)
    except NotImplementedError:
        return None
    hist = np.histogram(px, bins=8, range=(0, 256))[0]
    return {
        "width": w,
        "height": h,
        "mean_px": float(px.mean()) if len(px) else 0.0,
        "std_px": float(px.std()) if len(px) else 0.0,
        "hist8": (hist / max(len(px), 1)).tolist(),
    }


def with_image_features(df: DataFrame) -> DataFrame:
    """Batch decode: size, pixel mean/std and an 8-bin histogram."""
    return _with_payload_feature(df, "img_features", IMG_FEATURE_SCHEMA, _image_features)


def sample_video_frames(df: DataFrame, every_k: int = 4) -> DataFrame:
    """Frame sampling: every k-th 16-byte frame's mean as a double array."""

    def frame_means(b: bytes) -> list[float] | None:
        if b[:8] != FAKE_VID_MAGIC:
            return None
        (n,) = struct.unpack("<i", b[8:12])
        frames = np.frombuffer(b, dtype=np.uint8, offset=12, count=n * 16)
        return frames.reshape(n, 16)[::every_k].mean(axis=1).round(4).tolist()

    return _with_payload_feature(df, "frame_means", ArrayType(DoubleType()), frame_means)
