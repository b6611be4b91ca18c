

def test_avi_codec_roundtrip_and_hostile():
    import numpy as np

    from b2xtranslator_spark.formats.video import decode_avi, encode_avi, is_avi

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (13, 17, 3), dtype=np.uint8) for _ in range(4)]
    payload = encode_avi(frames, fps=12.5)
    assert is_avi(payload)
    dec, fps, (w, h) = decode_avi(payload)
    assert (w, h) == (17, 13) and abs(fps - 12.5) < 1e-6
    assert len(dec) == 4 and all((a == b).all() for a, b in zip(frames, dec))
    # truncated movi decodes the frame prefix, never raises
    cut = payload[: len(payload) - 300]
    dec2, _, _ = decode_avi(cut)
    assert len(dec2) < 4
    # byte-flip soak on the container walk
    import time

    base = bytearray(payload)
    for k in range(200):
        m = bytearray(base)
        idx = rng.integers(0, len(m), size=int(rng.integers(1, 10)))
        for i in idx:
            m[int(i)] = int(rng.integers(0, 256))
        t0 = time.perf_counter()
        try:
            decode_avi(bytes(m))
        except ValueError:
            pass  # the declared failure mode
        assert time.perf_counter() - t0 < 5


def test_sample_frames_decodes_real_avi(spark):
    import numpy as np

    from b2xtranslator_spark.formats.video import encode_avi
    from b2xtranslator_spark.operators.multimodal import sample_frames

    # 8 frames of SOLID colors: sampled features must equal the exact
    # channel means of the frames the schedule picks (std == 0)
    colors = [(i * 30 % 256, (i * 50 + 10) % 256, (i * 70 + 20) % 256) for i in range(8)]
    frames = [np.full((6, 6, 3), c, dtype=np.uint8) for c in colors]
    payload = encode_avi(frames, fps=4.0)
    media = spark.createDataFrame(
        [("v1", "video", bytearray(payload), 2000)],
        "media_id string, kind string, payload binary, duration_ms long",
    )
    rows = sorted(
        sample_frames(media, n_frames=4).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["status"] for r in rows] == ["ok"] * 4
    for fi, row in enumerate(rows):
        picked = colors[(fi * 8) // 4]
        assert row["feature"][:3] == [float(c) for c in picked]
        assert row["feature"][3:] == [0.0, 0.0, 0.0]
    # a non-AVI video payload still flows, marked as the stub path
    media2 = spark.createDataFrame(
        [("v2", "video", bytearray(b"\x00\x01\x02mp4-ish"), 1000)],
        "media_id string, kind string, payload binary, duration_ms long",
    )
    st = {r["status"] for r in sample_frames(media2, n_frames=2).collect()}
    assert st == {"ok_stub"}
    # a NULL duration_ms is 0: the real AVI falls back to its frame-count
    # timeline, the stub path to ts 0, and no row fails
    media3 = spark.createDataFrame(
        [("v3", "video", bytearray(payload), None),
         ("v4", "video", bytearray(b"\x00\x01\x02mp4-ish"), None)],
        "media_id string, kind string, payload binary, duration_ms long",
    )
    got = sorted(
        (r["media_id"], r["frame_idx"], r["ts_ms"], r["status"])
        for r in sample_frames(media3, n_frames=4).collect()
    )
    assert got == [("v3", fi, 2 * fi, "ok") for fi in range(4)] + [
        ("v4", fi, 0, "ok_stub") for fi in range(4)
    ]
