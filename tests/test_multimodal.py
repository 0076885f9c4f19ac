"""Multimodal tests: real pure-numpy BMP/PPM decode (round-trip exact),
nearest-neighbor resize, and the Spark-side schema/batching/distribution.
Compressed formats (PNG/JPEG) raise NotImplementedError."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from js_hll_spark.operators.multimodal import (
    decode_image,
    frame_sample_plan,
    image_features,
)


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_image_features_batch_shape(spark):
    import numpy as np
    import pandas as pd

    from js_hll_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(11)
    media = spark.createDataFrame(
        pd.DataFrame(
            [(str(i), encode_bmp(rng.integers(0, 256, (4, 6, 3), dtype=np.uint8))) for i in range(50)],
            columns=["media_id", "media"],
        )
    )
    out = image_features(media)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == 3 for r in rows)
    # deterministic: same blob -> same features at different parallelism
    again = {r["media_id"]: r["features"] for r in
             image_features(media.repartition(7)).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in rows)


def test_frame_sample_plan(spark):
    vids = spark.createDataFrame(
        [("v1", 3500), ("v2", 0)], ["media_id", "duration_ms"]
    )
    out = frame_sample_plan(vids, every_ms=1000).collect()
    got = {(r["media_id"], r["frame_ts_ms"]) for r in out}
    assert got == {("v1", 0), ("v1", 1000), ("v1", 2000), ("v1", 3000), ("v2", 0)}


def test_bmp_roundtrip_exact():
    """encode_bmp -> decode_image reproduces pixels exactly, including
    non-4-byte-aligned row widths (w=5 -> 15-byte rows padded to 16)."""
    import numpy as np

    from js_hll_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(7)
    for h, w in [(6, 8), (3, 5), (1, 1), (17, 2)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        dec = decode_image(encode_bmp(img), out_hw=(h, w))
        np.testing.assert_array_equal(
            np.rint(dec * 255.0).astype(np.uint8), img
        )


def test_ppm_decode_with_comment():
    import numpy as np

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = b"P6\n# a comment\n3 2\n255\n" + img.tobytes()
    dec = decode_image(blob, out_hw=(2, 3))
    np.testing.assert_array_equal(np.rint(dec * 255.0).astype(np.uint8), img)


def test_resize_nearest_downsample():
    import numpy as np

    from js_hll_spark.operators.multimodal import _resize_nearest

    img = np.arange(16, dtype=np.float32).reshape(4, 4, 1)
    out = _resize_nearest(img, (2, 2))
    # pixel-center sampling picks rows/cols 1 and 3
    np.testing.assert_array_equal(out[:, :, 0], [[5.0, 7.0], [13.0, 15.0]])


def test_image_features_real_bmp_default_path(spark):
    """The default (non-fake) path works end to end on real BMP bytes —
    no NotImplementedError anywhere in the pipeline."""
    import numpy as np
    import pandas as pd

    from js_hll_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(3)
    rows = [
        (str(i), encode_bmp(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)))
        for i in range(20)
    ]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "media"])
    )
    out = image_features(media, out_hw=(4, 4)).collect()
    assert len(out) == 20
    assert all(len(r["features"]) == 3 for r in out)
    assert all(0.0 <= v <= 1.0 for r in out for v in r["features"])


def test_wav_roundtrip_exact():
    import numpy as np

    from js_hll_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=4001, dtype=np.int16)  # odd len
    x, rate = decode_wav(encode_wav(s, 22050))
    assert rate == 22050
    np.testing.assert_array_equal(
        np.rint(x.astype(np.float64) * 32768.0).astype(np.int16), s
    )
    # extra chunks before data are tolerated (chunk-walk, not offsets)
    blob = encode_wav(s[:8], 8000)
    rest = blob[12:]  # chunk list starting at "fmt "
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = (
        b"RIFF"
        + (len(rest) + len(extra) + 4).to_bytes(4, "little")
        + b"WAVE"
        + extra
        + rest
    )
    x2, _ = decode_wav(patched)
    np.testing.assert_array_equal(
        np.rint(x2.astype(np.float64) * 32768.0).astype(np.int16), s[:8]
    )


def test_audio_features_spark(spark):
    import numpy as np
    import pandas as pd

    from js_hll_spark.operators.multimodal import audio_features, encode_wav

    rows = []
    for i in range(10):
        t = np.arange(1600)
        s = (10000 * np.sin(2 * np.pi * (i + 1) * t / 160)).astype(np.int16)
        rows.append((str(i), encode_wav(s, 16000)))
    media = spark.createDataFrame(pd.DataFrame(rows, columns=["media_id", "media"]))
    out = {r["media_id"]: r for r in audio_features(media).collect()}
    assert len(out) == 10
    for i in range(10):
        r = out[str(i)]
        assert r["duration_s"] == pytest.approx(0.1)
        assert 0.1 < r["rms"] < 0.5
        # a (i+1)*10 Hz-per-frame sine has ~2*(i+1)*10 crossings in 0.1 s
        assert abs(r["zero_crossings"] - 2 * (i + 1) * 10) <= 2


def test_y4m_roundtrip_c444():
    """encode_y4m -> decode_y4m is value-exact for C444 planar frames."""
    import numpy as np

    from js_hll_spark.operators.multimodal import decode_y4m, encode_y4m

    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, (4, 6, 8, 3), dtype=np.uint8)
    blob = encode_y4m(frames, fps=(30, 1))
    got, fps = decode_y4m(blob)
    assert fps == (30, 1)
    assert got.shape == frames.shape
    assert (got == frames).all()


def test_y4m_c420_chroma_upsample():
    """Hand-built C420 stream: Y at full res, U/V quarter res; the decoder
    nearest-upsamples chroma to (n, h, w, 3)."""
    import numpy as np

    from js_hll_spark.operators.multimodal import decode_y4m

    h, w = 4, 6
    y = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    u = np.full((h // 2, w // 2), 100, np.uint8)
    v = np.full((h // 2, w // 2), 200, np.uint8)
    blob = (
        b"YUV4MPEG2 W6 H4 F25:1 Ip A1:1 C420jpeg\n"
        + b"FRAME\n"
        + y.tobytes()
        + u.tobytes()
        + v.tobytes()
    )
    frames, fps = decode_y4m(blob)
    assert fps == (25, 1)
    assert frames.shape == (1, 4, 6, 3)
    assert (frames[0, :, :, 0] == y).all()
    assert (frames[0, :, :, 1] == 100).all()
    assert (frames[0, :, :, 2] == 200).all()


def test_y4m_unsupported_colorspace_is_honest():
    import numpy as np

    from js_hll_spark.operators.multimodal import decode_y4m

    blob = b"YUV4MPEG2 W2 H2 F25:1 C422\n" + b"FRAME\n" + bytes(8)
    with pytest.raises(NotImplementedError):
        decode_y4m(blob)


def test_video_frame_features_sampling(spark):
    """every_ms picks the frame nearest each grid point; None emits all.
    Runs through the real Spark mapInPandas path on binary blobs."""
    import numpy as np

    from js_hll_spark.operators.multimodal import (
        encode_y4m,
        video_frame_features,
    )

    frames = np.arange(10 * 2 * 2 * 3, dtype=np.uint8).reshape(10, 2, 2, 3)
    blob = encode_y4m(frames, fps=(2, 1))  # 2 fps -> 5 s clip
    df = spark.createDataFrame([(1, bytearray(blob))], "media_id long, media binary")
    all_rows = video_frame_features(df).collect()
    assert [r["frame_idx"] for r in all_rows] == list(range(10))
    # expected sums straight from the source array
    exp = frames.astype(np.int64).sum(axis=(1, 2))
    for r in all_rows:
        assert (r["sum_y"], r["sum_u"], r["sum_v"]) == tuple(
            exp[r["frame_idx"]]
        )
    sampled = video_frame_features(df, every_ms=2000).collect()
    # grid 0,2,4 s at 2 fps -> frames 0, 4, 8
    assert [r["frame_idx"] for r in sampled] == [0, 4, 8]


def test_y4m_roundtrip_property():
    """Property: any uint8 frame stack round-trips byte-exactly through
    the Y4M codec at any fps; unknown header tags are tolerated."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from js_hll_spark.operators.multimodal import decode_y4m, encode_y4m

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(1, 5),
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        fn=st.integers(1, 120),
        fd=st.integers(1, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(n, h, w, fn, fd, seed):
        rng = np.random.default_rng(seed)
        frames = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        got, fps = decode_y4m(encode_y4m(frames, fps=(fn, fd)))
        assert fps == (fn, fd)
        assert (got == frames).all()

    roundtrip()
