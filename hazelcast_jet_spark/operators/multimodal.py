"""Multimodal column plumbing (SURVEY Phase 5).

Images/audio/video are opaque ``binary`` columns + typed metadata structs.
The Spark-side plumbing (schemas, batch iteration, partition sizing) is
real and tested.  Codecs: WAV audio and binary PPM images decode for
REAL (stdlib ``wave`` + numpy — see ``decode_wav``/``decode_ppm``,
``audio_features``/``image_features``/``ahash63``); compressed formats
(JPEG/PNG/MP4) stay honestly stubbed behind NotImplementedError because
their codec libraries are not in this container.

Scale shape: media rows are huge — `mapInPandas` with small Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``) keeps executor memory
bounded; metadata-only transforms never touch the payload column thanks to
column pruning.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

#: canonical multimodal schema: payload + typed metadata
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),          # image | audio | video
    StructField("payload", BinaryType()),
    StructField("mime", StringType()),
    StructField("width", IntegerType()),        # image/video
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),  # audio/video
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature", StringType()),       # stub: md5 of payload
])


def decode_image(payload: bytes) -> "object":
    """Decode an image payload: binary PPM decodes for real
    (:func:`decode_ppm`); compressed formats raise — their codecs
    (PIL/opencv) are not in this container."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise NotImplementedError(
        "JPEG/PNG decode requires PIL/opencv (not installed); P6 PPM decodes natively")


def extract_features(df: DataFrame, batch_size_hint: int = 64) -> DataFrame:
    """Feature extraction over media payloads via Arrow-batched
    mapInPandas.  The 'feature' is a deterministic fake (md5 of payload)
    so the plumbing — schema, batching, pruning — is fully testable."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
                "feature": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                ),
            })

    return df.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling *plan*: one output row per sampled timestamp
    (payload decode stubbed).  Demonstrates the explode-by-metadata shape:
    frame timestamps are derived from duration metadata without touching
    the payload, so pruning keeps the heavy column out until decode."""
    ts = F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.explode(ts).alias("frame_ts_ms"))
    )


# ---------------------------------------------------------------------------
# REAL codecs — formats decodable with stdlib + numpy only (no PIL/opencv
# in this container): WAV audio (`wave` module) and binary PPM images
# (P6 header + raw RGB).  JPEG/PNG/MP4 stay honestly stubbed above.
# ---------------------------------------------------------------------------


def _r6(v: float) -> float:
    """round-half-AWAY to 6 dp for non-negative stats — matches SQL
    round() semantics; Python's built-in round() is banker's and CAN
    disagree on exact .5 boundaries (channel means are rationals with
    power-of-two denominators, which terminate ON such boundaries)."""
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


def decode_wav(payload: bytes):
    """Decode a WAV payload to ``(sample_rate, n_channels, pcm)`` with
    ``pcm`` an int16 numpy array of interleaved samples — stdlib `wave`
    + numpy, no external codec."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        frames = w.readframes(w.getnframes())
        return (w.getframerate(), w.getnchannels(),
                np.frombuffer(frames, dtype="<i2"))


def audio_features(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """REAL audio feature extraction: decode WAV payloads in Arrow
    batches and emit ``(id, sample_rate, n_channels, n_frames,
    duration_ms, rms, peak)``.  Sums over int16 samples are exact in
    float64 (magnitudes ≪ 2⁵³), so rms is a deterministic function of
    the payload — an independent model (or SQL oracle replaying a
    synthetic signal's formula) reproduces it bit-for-bit before the
    final 6-dp round."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "sample_rate": [], "n_channels": [],
                   "n_frames": [], "duration_ms": [], "rms": [], "peak": []}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, pcm = decode_wav(payload)
                x = pcm.astype("float64")
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_channels"].append(nch)
                out["n_frames"].append(len(pcm) // nch)
                out["duration_ms"].append((len(pcm) // nch) * 1000 // rate)
                out["rms"].append(
                    _r6(float(np.sqrt(np.mean(x * x)))) if len(x) else 0.0)
                out["peak"].append(int(np.max(np.abs(pcm))) if len(pcm) else 0)
            yield pd.DataFrame(out)

    schema = ("media_id long, sample_rate int, n_channels int, "
              "n_frames int, duration_ms int, rms double, peak int")
    return df.mapInPandas(run, schema)


def decode_ppm(payload: bytes):
    """Decode a binary PPM (P6) payload to an (h, w, 3) uint8 numpy
    array — pure header parse + frombuffer, no codec library."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise NotImplementedError("only binary PPM (P6) supported here")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    fields, i, n = [], 2, len(payload)
    while len(fields) < 3:
        while i < n and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":            # comment to end of line
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j:j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1                                       # the single ws after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    return np.frombuffer(payload, dtype="uint8",
                         count=h * w * 3, offset=i).reshape(h, w, 3)


def resize_nearest(img, out_h: int, out_w: int):
    """Nearest-neighbor resize by index striding — the resize step of
    the image pipeline, deterministic and dependency-free."""
    import numpy as np

    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols]


def ahash63(img) -> int:
    """Average-hash perceptual fingerprint: 8×8 nearest-neighbor
    grayscale thumbnail, each pixel 1 iff ≥ the thumbnail mean — the
    image analog of simhash, robust to resizing and mild noise.  Uses
    the first 63 of the 64 pixels so the value is a NON-NEGATIVE
    BIGINT (the same 63-bit convention as dedup.simhash), ready for
    banded hamming-distance probes."""
    import numpy as np

    gray = resize_nearest(img, 8, 8).astype("float64").mean(axis=2)
    bits = (gray >= gray.mean()).ravel()[:63]
    out = 0
    for k, b in enumerate(bits):
        if b:
            out |= 1 << k
    return out


def image_features(df: DataFrame, payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """REAL image feature extraction for PPM payloads: dimensions,
    per-channel means (6 dp), and the :func:`ahash63` perceptual
    fingerprint — join the hash through the simhash band machinery for
    near-duplicate IMAGE detection."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "mean_r": [], "mean_g": [], "mean_b": [], "ahash": []}
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_ppm(payload)
                means = img.astype("float64").mean(axis=(0, 1))
                out["media_id"].append(mid)
                out["width"].append(img.shape[1])
                out["height"].append(img.shape[0])
                out["mean_r"].append(_r6(float(means[0])))
                out["mean_g"].append(_r6(float(means[1])))
                out["mean_b"].append(_r6(float(means[2])))
                out["ahash"].append(ahash63(img))
            yield pd.DataFrame(out)

    schema = ("media_id long, width int, height int, mean_r double, "
              "mean_g double, mean_b double, ahash long")
    return df.mapInPandas(run, schema)


def image_near_dups(df: DataFrame, hamming: int = 4,
                    payload_col: str = "payload",
                    id_col: str = "media_id") -> DataFrame:
    """Near-duplicate IMAGE pairs: decode → :func:`ahash63` perceptual
    fingerprint → the shared rotated-band hamming probe
    (operators/dedup.hamming_near_dup_pairs).  Same scale shape as text
    simhash: decode is map-only, the candidate join shuffles (id, band,
    bandbits) longs — never payloads, never all-pairs.  Returns
    ``(id_a, id_b, hamming_dist)`` at distance ≤ ``hamming``."""
    from hazelcast_jet_spark.operators.dedup import hamming_near_dup_pairs

    sig = image_features(df, payload_col, id_col).select(
        F.col(id_col).alias("id"), F.col("ahash").alias("sh"))
    return hamming_near_dup_pairs(sig, "id", "sh", bits=63, hamming=hamming)
