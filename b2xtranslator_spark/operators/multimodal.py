"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as `binary` columns with a metadata struct.
The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested.

The codecs are REAL wherever stdlib can honestly support one: PNG/BMP
images (formats/imaging.py: zlib + NumPy un-filtering — no PIL), PCM
WAV audio (formats/audio.py: stdlib wave + NumPy features), and
uncompressed RIFF/AVI video (formats/video.py: struct chunk walk,
BMP-layout frames). Only COMPRESSED video codecs remain stubbed (this
container has no pyav): those payloads fall back to
`_decode_image_stub`, a deterministic fake that keeps the distributed
path exercised, and the row status says `ok_stub` so provenance is
visible downstream; swap the fallback for pyav in production —
everything else is unchanged.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..formats.audio import audio_features, decode_wav, is_wav
from ..formats.imaging import decode_image, is_bmp, is_png, mean_pool
from ..formats.video import decode_avi, is_avi
from ..pipeline import map_rows

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("thumb_w", IntegerType()),
        StructField("thumb_h", IntegerType()),
        StructField("status", StringType()),
    ]
)

FEATURE_DIM = 16


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decoder for payloads with no stdlib-decodable codec (audio,
    video containers): derives a deterministic pseudo-pixel array from the
    payload digest, so the downstream vectorized feature math (the part
    that matters for Spark) runs on realistic shapes. Swap for
    pyav/soundfile in production."""
    digest = hashlib.sha256(payload or b"").digest()
    side = 8
    arr = np.frombuffer((digest * ((side * side * 3) // len(digest) + 1))[
        : side * side * 3
    ], dtype=np.uint8)
    return arr.reshape(side, side, 3).astype(np.float32)


def _decode_media(payload: bytes) -> np.ndarray:
    """REAL image decode for PNG/BMP payloads (formats/imaging.py), stub
    fallback for everything else. Returns float32 HxWx3."""
    if is_png(payload) or is_bmp(payload):
        return decode_image(payload).astype(np.float32)
    return _decode_image_stub(payload)


def _tolerant(zero: tuple, decode, *args) -> tuple:
    """decode(*args): one row's output values, the status last. This is the
    row-level tolerance of every media operator: when the decode raises,
    the row gets the operator's `zero` values and the status
    'decode_error: <exc>', and the task goes on."""
    try:
        return decode(*args)
    except Exception as exc:  # row-level tolerance
        return (*zero, f"decode_error: {exc}")


def run_media_features(media: DataFrame) -> DataFrame:
    """Decode (real PNG/BMP; stub otherwise) -> mean-pool -> a FEATURE_DIM
    feature vector per media row, as a pure map over the input splits."""

    def features(payload: bytes) -> tuple:
        img = _decode_media(payload)
        # mean-pool to 4x4 (any input size) + channel stats = 16-dim
        pooled = mean_pool(img, 4, 4)
        feature = np.concatenate(
            [
                pooled.mean(axis=(0, 1)),
                pooled.std(axis=(0, 1)),
                pooled.max(axis=(0, 1)),
                pooled.min(axis=(0, 1)),
                [img.mean(), img.std(), float(len(payload) % 255), 1.0],
            ]
        ).astype(np.float32)[:FEATURE_DIM]
        return feature.tolist(), 4, 4, "ok"

    def row(media_id, kind, payload):
        payload = payload or b""
        return [(media_id, kind, len(payload), *_tolerant(([], 0, 0), features, payload))]

    return map_rows(media.select("media_id", "kind", "payload"), FEATURE_SCHEMA, row)


def synthesize_media(spark, n_rows: int = 64) -> DataFrame:
    """Deterministic media table for tests: image rows carry REAL encoded
    PNG/BMP payloads (alternating; pixels seeded from the row index),
    audio rows carry REAL PCM WAV payloads (seeded sine + noise), and
    video rows alternate REAL uncompressed AVI (seeded frames through
    formats/video.py) with opaque seeded bytes (the compressed-codec
    stand-in exercising the stub fallback + ok_stub provenance)."""
    from ..formats.audio import encode_wav
    from ..formats.imaging import encode_bmp, encode_png
    from ..formats.video import encode_avi

    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_rows):
        kind = kinds[i % 3]
        if kind == "image":
            rng = np.random.RandomState(i)
            img = rng.randint(0, 256, size=(16, 12, 3)).astype(np.uint8)
            payload = (
                encode_png(img, filter_type=i % 5)
                if (i // 3) % 2 == 0
                else encode_bmp(img)
            )
            mime = "image/png" if (i // 3) % 2 == 0 else "image/bmp"
            w, h = 12, 16
        elif kind == "audio":
            rng = np.random.RandomState(i)
            rate = 8000
            t = np.arange(rate // 4) / rate  # 250 ms
            freq = 200.0 + (i % 10) * 100.0
            samples = 0.5 * np.sin(2 * np.pi * freq * t)
            samples += 0.01 * rng.randn(len(t))
            payload = encode_wav(samples, sample_rate=rate)
            mime = "audio/wav"
            w, h = 0, 0
        elif (i // 3) % 2 == 0:
            rng = np.random.RandomState(i)
            vid = [
                rng.randint(0, 256, size=(12, 16, 3)).astype(np.uint8)
                for _ in range(3)
            ]
            payload = encode_avi(vid, fps=10.0)
            mime = "video/x-msvideo"
            w, h = 16, 12
        else:
            payload = hashlib.sha256(struct.pack("<i", i)).digest() * 4
            mime = "application/octet-stream"
            w, h = 64, 64
        rows.append(
            (f"m-{i:05d}", kind, bytearray(payload), mime, w, h, 1000 + i)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


THUMB_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("thumb", BinaryType()),
        StructField("thumb_w", IntegerType()),
        StructField("thumb_h", IntegerType()),
        StructField("status", StringType()),
    ]
)


def resize_thumbnails(media: DataFrame, side: int = 4) -> DataFrame:
    """Decode (real PNG/BMP; stub otherwise) -> mean-pool resize -> emit
    thumbnail bytes. The Spark-side contract: binary in, small binary out,
    row-level error tolerance, Arrow batching."""

    def thumb(payload: bytes) -> tuple:
        pooled = mean_pool(_decode_media(payload), side, side)
        return pooled.astype(np.uint8).tobytes(), side, side, "ok"

    def row(media_id, kind, payload):
        return [(media_id, kind, *_tolerant((b"", 0, 0), thumb, payload or b""))]

    return map_rows(media.select("media_id", "kind", "payload"), THUMB_SCHEMA, row)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("status", StringType()),
    ]
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video rows: pick ``n_frames`` evenly spaced
    timestamps across duration_ms and emit one row per (media_id, frame).

    Uncompressed RIFF/AVI payloads decode for REAL (formats/video.py:
    stdlib-only container walk, frames are BMP-layout pixel rows) — the
    sampled timestamp maps to the nearest decoded frame. Compressed
    codecs (no pyav in this environment) fall back to the deterministic
    stub and say so in the row status; non-video rows pass through as a
    single frame_idx=0 row. A NULL duration_ms counts as 0."""

    def row(media_id, kind, payload, duration):
        payload = payload or b""
        frames = n_frames if kind == "video" else 1
        dur = duration or 0
        real_frames = None
        if kind == "video" and is_avi(payload):
            try:
                real_frames, _fps, _dims = decode_avi(payload)
            except Exception:
                real_frames = None  # compressed/corrupt: stub below
        if real_frames and dur == 0:
            dur = len(real_frames)  # frame-count timeline fallback
        # honest per-row provenance
        status = "ok_stub" if kind == "video" and real_frames is None else "ok"

        def feature(fi: int) -> tuple:
            if real_frames:
                src = real_frames[
                    min(len(real_frames) - 1, (fi * len(real_frames)) // max(1, frames))
                ].astype(np.float32)
            else:
                src = _decode_image_stub(payload + struct.pack("<i", fi))
            feat = np.concatenate([src.mean(axis=(0, 1)), src.std(axis=(0, 1))])
            return feat.astype(np.float32).tolist(), status

        return [
            (media_id, fi, (dur * fi) // max(1, frames), *_tolerant(([],), feature, fi))
            for fi in range(frames)
        ]

    return map_rows(
        media.select("media_id", "kind", "payload", "duration_ms"), FRAME_SCHEMA, row
    )


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("dhash", LongType()),
        StructField("status", StringType()),
    ]
)


def image_dhash(media: DataFrame, hash_side: int = 8) -> DataFrame:
    """Perceptual difference-hash over REAL decoded pixels: grayscale,
    mean-pool to (side x side+1), emit one bit per horizontal gradient
    (left < right). Near-identical images — recompressed, format-converted
    (PNG vs BMP of the same pixels hash IDENTICALLY), lightly edited —
    land within a few bits; the standard cheap image-dedup signature.

    64 bits at side=8; non-image payloads (stub decode) still hash
    deterministically so the operator is total over the media table."""

    def dhash(payload: bytes) -> tuple:
        grey = _decode_media(payload).mean(axis=2)
        pooled = mean_pool(grey[:, :, None], hash_side, hash_side + 1)[:, :, 0]
        bits = (pooled[:, 1:] > pooled[:, :-1]).reshape(-1)
        h = 0
        for b in bits:
            h = (h << 1) | int(b)
        # keep within signed int64 (64 bits -> top bit signed)
        if h >= 1 << 63:
            h -= 1 << 64
        return h, "ok"

    def row(media_id, payload):
        return [(media_id, *_tolerant((0,), dhash, payload or b""))]

    return map_rows(media.select("media_id", "payload"), DHASH_SCHEMA, row)


def image_near_duplicates(
    media: DataFrame,
    max_hamming: int = 5,
    bands: int = 8,
    bits: int = 64,
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Image near-duplicate pairs: dHash -> banded Hamming pair-finding.

    The same pigeonhole construction as the text SimHash pairs: slice the
    hash into ``bands`` disjoint bit ranges and equi-join on (band, slice) —
    any pair within ``bands - 1`` Hamming distance shares at least one
    identical band, so 8 bands give 100% recall for hamming <= 7; exact
    popcount verifies. Shuffle is O(images x bands), skew-guarded, never
    all-pairs (the shared construction in operators/banding.py — the same
    pigeonhole join the text SimHash pairs use)."""
    from pyspark.sql import functions as F

    from .banding import banded_hamming_pairs

    sig = image_dhash(media).where(F.col("status") == "ok")
    return banded_hamming_pairs(
        sig, "media_id", "dhash", bits, bands, max_hamming,
        max_bucket_size, out_prefix="media",
    )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("duration_s", FloatType()),
        StructField("rms", FloatType()),
        StructField("zcr", FloatType()),
        StructField("centroid_hz", FloatType()),
        StructField("status", StringType()),
    ]
)


def run_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio features for WAV payloads (formats/audio.py: stdlib wave
    + NumPy — RMS, zero-crossing rate, spectral centroid, duration). Rows
    whose payload is not RIFF/WAVE get status='unsupported_codec' (honest:
    compressed audio needs pyav/soundfile, absent in this container)."""
    zero = (0.0, 0.0, 0.0, 0.0)

    def features(payload: bytes) -> tuple:
        if not is_wav(payload):
            return (*zero, "unsupported_codec")
        f = audio_features(*decode_wav(payload))
        return (*(float(f[k]) for k in ("duration_s", "rms", "zcr", "centroid_hz")), "ok")

    def row(media_id, payload):
        return [(media_id, *_tolerant(zero, features, payload or b""))]

    return map_rows(media.select("media_id", "payload"), AUDIO_FEATURE_SCHEMA, row)
