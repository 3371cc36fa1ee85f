"""Multimodal gate queries: image, audio and video feature extraction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gate_queries.common import _read


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow UDF batch
    decode -> typed feature struct.  The gate payload's pixels are a
    CLOSED-FORM integer sequence (the real-codec path is still a
    documented stub), so the DuckDB oracle re-derives width/height/mean
    arithmetically per pixel while this side decodes the actual container
    bytes through the real Arrow path — two independent routes to the
    same numbers."""
    from ot_spark.webtext.multimodal import (
        make_fake_image_portable, with_image_features,
    )

    ids = [r.doc_id for r in
           _read(spark, sf_dir, "documents")
           .where("doc_id < 100").select("doc_id").collect()]
    rows = [
        (int(i), make_fake_image_portable(8 + int(i) % 5, 6 + int(i) % 3, seed=int(i)))
        for i in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = with_image_features(df)
    return out.select(
        "doc_id",
        F.col("img_features.width").alias("width"),
        F.col("img_features.height").alias("height"),
        F.round(F.col("img_features.mean_px"), 4).alias("mean_px"),
    )


IMAGE_FEATURES_ORACLE_SQL = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
  FROM documents WHERE doc_id < 100
),
px AS (
  SELECT doc_id,
         avg(CAST((doc_id * 2654435761 + k * 2246822519) % 256 AS DOUBLE))
           AS mp
  FROM (SELECT doc_id, unnest(range(0, w * h)) AS k FROM dims)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
       round(p.mp, 4) AS mean_px
FROM dims d JOIN px p USING (doc_id)
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing: binary PCM payload -> Arrow UDF batch
    decode -> duration/RMS features.  Closed-form samples (see
    q_image_features): the oracle recomputes RMS per-sample in SQL; the
    sums of integer squares are < 2^53 so numpy's pairwise and SQL's
    sequential summation are both exact and sqrt/round agree bit-for-bit.
    Real codec path remains a documented stub."""
    from ot_spark.webtext.multimodal import (
        make_fake_audio_portable, with_audio_features,
    )

    ids = [r.doc_id for r in
           _read(spark, sf_dir, "documents")
           .where("doc_id < 100").select("doc_id").collect()]
    rows = [
        (int(i), make_fake_audio_portable(8000, 4000 + int(i) % 7 * 500, seed=int(i)))
        for i in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = with_audio_features(df)
    return out.select(
        "doc_id",
        F.col("aud_features.n_samples").alias("n_samples"),
        F.round(F.col("aud_features.duration_sec"), 4).alias("duration_sec"),
        F.round(F.col("aud_features.rms"), 4).alias("rms"),
    )


AUDIO_FEATURES_ORACLE_SQL = """
WITH dims AS (
  SELECT doc_id, 4000 + (doc_id % 7) * 500 AS n
  FROM documents WHERE doc_id < 100
),
s AS (
  SELECT doc_id, avg(CAST(v * v AS DOUBLE)) AS msq FROM (
    SELECT doc_id,
           (doc_id * 2654435761 + k * 2246822519) % 4096 - 2048 AS v
    FROM (SELECT doc_id, unnest(range(0, n)) AS k FROM dims)
  ) GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.n AS INTEGER) AS n_samples,
       round(d.n / 8000.0, 4) AS duration_sec,
       round(sqrt(s.msq), 4) AS rms
FROM dims d JOIN s USING (doc_id)
"""


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video plumbing: binary frame container -> Arrow UDF
    every-k-th frame sampling -> per-frame mean, exploded to one row per
    sampled frame.  Closed-form frame bytes (see q_image_features) let the
    oracle re-derive each sampled frame's mean arithmetically.  A frame
    mean is (sum of 16 uint8)/16 — exactly 4 decimal digits in binary —
    so numpy's round(4) is the identity and both engines agree
    bit-for-bit.  Real codec path remains a documented stub."""
    from ot_spark.webtext.multimodal import (
        make_fake_video_portable, sample_video_frames,
    )

    ids = [r.doc_id for r in
           _read(spark, sf_dir, "documents")
           .where("doc_id < 100").select("doc_id").collect()]
    rows = [
        (int(i), make_fake_video_portable(3 + int(i) % 4, seed=int(i)))
        for i in ids
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = sample_video_frames(df, every_k=2)
    return out.select(
        "doc_id", F.posexplode("frame_means").alias("frame_idx", "frame_mean")
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.round("frame_mean", 4).alias("frame_mean"),
    )


VIDEO_FEATURES_ORACLE_SQL = """
WITH vids AS (
  SELECT doc_id, 3 + doc_id % 4 AS n FROM documents WHERE doc_id < 100
),
samp AS (
  SELECT doc_id, j, CAST(j // 2 AS INTEGER) AS frame_idx
  FROM (SELECT doc_id, unnest(range(0, n)) AS j FROM vids)
  WHERE j % 2 = 0
)
SELECT doc_id, frame_idx,
       round(avg(CAST((doc_id * 2654435761 + (j * 16 + b) * 2246822519) % 256
                      AS DOUBLE)), 4) AS frame_mean
FROM (SELECT doc_id, j, frame_idx, unnest(range(0, 16)) AS b FROM samp)
GROUP BY doc_id, frame_idx
"""
