"""Pure-stdlib PNG/BMP codec tests: round-trips over every PNG filter type,
shape/channel variants, corrupt-input tolerance, and the real-decode path
through the Spark multimodal operators."""

from __future__ import annotations

import numpy as np
import pytest

from b2xtranslator_spark.formats.imaging import (
    decode_bmp,
    decode_image,
    decode_png,
    encode_bmp,
    encode_png,
    is_bmp,
    is_png,
    mean_pool,
)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize(
    "shape", [(16, 16, 3), (7, 13, 3), (16, 16, 4), (9, 5), (1, 1, 3)]
)
def test_png_round_trip_every_filter(filter_type, shape):
    rng = np.random.RandomState(hash((filter_type,) + shape) & 0xFFFF)
    img = rng.randint(0, 256, size=shape).astype(np.uint8)
    data = encode_png(img, filter_type=filter_type)
    assert is_png(data)
    assert np.array_equal(decode_png(data), img)


def test_bmp_round_trip_with_row_padding():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(11, 7, 3)).astype(np.uint8)  # 7*3 % 4 != 0
    data = encode_bmp(img)
    assert is_bmp(data)
    assert np.array_equal(decode_bmp(data), img)


def test_decode_image_normalizes_channels():
    grey = np.arange(20, dtype=np.uint8).reshape(4, 5)
    rgb = decode_image(encode_png(grey))
    assert rgb.shape == (4, 5, 3)
    assert np.array_equal(rgb[:, :, 0], grey)
    rgba = np.zeros((4, 5, 4), dtype=np.uint8)
    assert decode_image(encode_png(rgba)).shape == (4, 5, 3)


def test_corrupt_inputs_raise_not_crash():
    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    # good[:45] cuts mid-IDAT (IHDR chunk ends at offset 33); a PNG missing
    # only its IEND still decodes — lenient trailing truncation is fine
    for bad in (b"", b"BMxx", good[:20], good[:45], b"\x89PNG\r\n\x1a\njunk"):
        with pytest.raises((ValueError, Exception)):
            decode_image(bad)


def test_idat_bomb_is_oversize(decode_bomb):
    """A PNG whose IHDR declares 4096 x 4096 RGB (48 MB) and whose IDAT
    inflates to 64 MB, against a 16 MB decode budget: decode_image raises
    PayloadOversize (a ``decode_error`` row in the media kernels)."""
    import struct
    import zlib

    def chunk(tag, body):
        crc = struct.pack(">I", zlib.crc32(tag + body))
        return struct.pack(">I", len(body)) + tag + body + crc

    z = zlib.compressobj()
    idat = b"".join(z.compress(b"\0" * (1 << 20)) for _ in range(64)) + z.flush()
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4096, 4096, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    r = decode_bomb(png, image=True)
    assert r["status"] == "PayloadOversize", r
    assert r["s"] < 10 and r["rss_mb"] < 32, r


def test_mean_pool_shapes():
    img = np.random.RandomState(0).randint(0, 256, (33, 17, 3)).astype(np.uint8)
    assert mean_pool(img, 4, 4).shape == (4, 4, 3)
    assert mean_pool(img, 8, 8).shape == (8, 8, 3)
    tiny = np.ones((2, 3, 3), dtype=np.uint8)
    assert mean_pool(tiny, 4, 4).shape == (4, 4, 3)


def test_media_features_use_real_decoder(spark):
    """Image rows decode through the real PNG/BMP path: the pooled feature
    must equal the mean_pool of the original pixels, not a digest fake."""
    from b2xtranslator_spark.operators.multimodal import (
        run_media_features,
        synthesize_media,
    )

    media = synthesize_media(spark, n_rows=12)
    # a truncated PNG fails its own row, with the operator's zero values
    png = encode_png(np.zeros((4, 4, 3), np.uint8))
    cut = png[: len(png) // 2]
    bad = spark.createDataFrame(
        [("bad", "image", bytearray(cut))],
        "media_id string, kind string, payload binary",
    )
    feats = run_media_features(media.unionByName(bad, allowMissingColumns=True))
    feats = feats.toPandas().set_index("media_id")
    row = feats.loc["bad"]
    assert row["status"] == "decode_error: missing IHDR/IDAT"
    assert (row["n_bytes"], list(row["feature"]), row["thumb_w"], row["thumb_h"]) == (
        len(cut), [], 0, 0,
    )
    feats = feats.drop("bad")
    assert (feats["status"] == "ok").all()
    # recompute row m-00000 (image, PNG, seed 0) independently
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, size=(16, 12, 3)).astype(np.float32)
    pooled = mean_pool(img, 4, 4)
    expected_first3 = pooled.mean(axis=(0, 1))
    got = np.array(feats.loc["m-00000", "feature"][:3])
    assert np.allclose(got, expected_first3, atol=1e-3), (got, expected_first3)


def test_image_dhash_and_near_duplicates(spark):
    """Image dedup over real pixels: the same image re-encoded in a
    different format (PNG vs BMP) must hash identically (hamming 0); a
    lightly edited copy lands within the hamming bound; unrelated images
    do not pair."""
    import pandas as pd

    from b2xtranslator_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_dhash,
        image_near_duplicates,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(32, 24, 3)).astype(np.uint8)
    edited = base.copy()
    edited[:2, :2] = 255  # small local edit
    other = rng.randint(0, 256, size=(32, 24, 3)).astype(np.uint8)
    rows = [
        ("img-a-png", "image", bytearray(encode_png(base)), "image/png", 24, 32, 0),
        ("img-a-bmp", "image", bytearray(encode_bmp(base)), "image/bmp", 24, 32, 0),
        ("img-a-edit", "image", bytearray(encode_png(edited)), "image/png", 24, 32, 0),
        ("img-other", "image", bytearray(encode_png(other)), "image/png", 24, 32, 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    assert hashes["img-a-png"] == hashes["img-a-bmp"]  # format-independent

    pairs = image_near_duplicates(media, max_hamming=7).toPandas()
    found = {(r.media_a, r.media_b) for r in pairs.itertuples()}
    assert ("img-a-bmp", "img-a-png") in found
    assert ("img-a-edit", "img-a-png") in found or ("img-a-edit", "img-a-bmp") in found
    assert not any("img-other" in p for pair in found for p in pair)
