"""Multimodal operator tests: real plumbing (schemas, batch shapes, fan-out)
for image resize/features, WAV audio stats, and QVID frame sampling."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataqualitycontroltool_spark.graft import codecs
from dataqualitycontroltool_spark.operators import multimodal as mm


def _img(seed, w=32, h=24):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.fixture(scope="module")
def images(spark):
    rows = [
        ("a", bytearray(codecs.encode(_img(1), "png")), "png"),
        ("b", bytearray(codecs.encode(_img(2, 64, 64), "jpeg")), "jpeg"),
        ("c", bytearray(b"garbage"), "png"),
    ]
    return spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")


def test_image_resize_roundtrip(images):
    out = images.select(
        "image_id", mm.image_resize(F.col("bytes"), F.col("fmt"), 16, 16).alias("r")
    ).select("image_id", "r.*")
    rows = {r.image_id: r for r in out.collect()}
    assert rows["a"].ok and rows["a"].w == 16 and rows["a"].h == 16
    img = codecs.decode(bytes(rows["a"].bytes), "png")
    assert img.shape == (16, 16, 3)
    assert not rows["c"].ok and rows["c"].bytes is None


def test_image_resize_writes_genuine_bitstreams(spark):
    # a JPEG row and a VP8L row come back as genuine bitstreams of their
    # format, which the T.81 and VP8L decoders read at the requested size
    from dataqualitycontroltool_spark.graft import jpeg, vp8l

    df = spark.createDataFrame(
        [("j", bytearray(jpeg.encode(_img(2, 64, 64), codecs.JPEG_QUALITY)), "jpeg"),
         ("w", bytearray(vp8l.encode(_img(3, 40, 24))), "webp")],
        "image_id string, bytes binary, fmt string",
    )
    rows = {r.image_id: r for r in df.select(
        "image_id", mm.image_resize(F.col("bytes"), F.col("fmt"), 24, 16).alias("r")
    ).select("image_id", "r.*").collect()}
    assert rows["j"].ok and rows["w"].ok
    jpg, webp = bytes(rows["j"].bytes), bytes(rows["w"].bytes)
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    assert jpeg.decode(jpg).shape == (16, 24, 3)
    assert vp8l.is_vp8l(webp[:16])
    assert vp8l.decode(webp).shape == (16, 24, 3)


def test_image_features_shape_and_norm(images):
    out = {r.image_id: r.emb for r in images.select(
        "image_id", mm.image_features(F.col("bytes"), F.col("fmt"), grid=4).alias("emb")
    ).collect()}
    assert len(out["a"]) == 4 * 4 * 3
    assert abs(sum(x * x for x in out["a"]) - 1.0) < 1e-5  # L2-normalized
    assert out["c"] is None
    # deterministic: same bytes → same embedding
    assert out["a"] == [float(np.float32(x)) for x in out["a"]]


def test_audio_stats(spark):
    t = np.arange(8000) / 8000.0
    tone = (np.sin(2 * np.pi * 440 * t) * 16000).astype(np.int16)
    wav = mm.wav_encode_pcm16(tone, 8000)
    stereo = mm.wav_encode_pcm16(np.stack([tone, tone], axis=1), 16000)
    df = spark.createDataFrame(
        [("x", bytearray(wav)), ("y", bytearray(stereo)), ("z", bytearray(b"noise"))],
        "audio_id string, bytes binary",
    )
    out = {r.audio_id: r for r in df.select(
        "audio_id", mm.audio_stats(F.col("bytes")).alias("s")).select("audio_id", "s.*").collect()}
    assert out["x"].decode_ok and out["x"].sample_rate == 8000
    assert out["x"].n_samples == 8000 and abs(out["x"].duration_s - 1.0) < 1e-9
    assert abs(out["x"].rms - (16000 / 32768) / np.sqrt(2)) < 0.01  # sine RMS = A/√2
    assert out["y"].n_channels == 2 and out["y"].duration_s == 0.5
    assert not out["z"].decode_ok


def test_video_frame_sampling(spark):
    frames = [_img(i, 16, 16) for i in range(10)]
    vid = mm.qvid_encode(frames, fps=5)
    df = spark.createDataFrame(
        [("v1", bytearray(vid)), ("bad", bytearray(b"xx"))],
        "video_id string, bytes binary",
    )
    out = mm.sample_frames(df, "video_id", "bytes", every_k=4).collect()
    got = {(r.video_id, r.frame_idx) for r in out}
    assert got == {("v1", 0), ("v1", 4), ("v1", 8)}  # every 4th; bad video dropped
    r0 = [r for r in out if r.frame_idx == 0][0]
    assert (r0.n_frames, r0.fps, r0.frame_w, r0.frame_h) == (10, 5, 16, 16)
    dec = codecs.decode(bytes(r0.frame_bytes), "jpeg")
    assert dec.shape == (16, 16, 3)
    # the frame is a baseline JPEG that keeps the input_hint fidelity bar
    assert codecs.psnr(frames[0], dec) >= 40.0


def test_image_features_match_independent_reimplementation(spark):
    # r2 verdict #10: strengthen the multimodal golden — the block-mean
    # embedding recomputed here from the documented contract (NN-sample to
    # grid*8 square, per-cell/channel mean, L2 norm) with loop-style numpy,
    # NOT the operator's vectorized code path
    import numpy as np

    from dataqualitycontroltool_spark.graft import codecs
    from dataqualitycontroltool_spark.graft.synth import generate_images

    def independent_features(img, grid=4):
        H, W = img.shape[:2]
        size = grid * 8
        acc = np.zeros((grid, grid, 3), np.float64)
        for yy in range(size):
            sy = min(int(yy * H / size), H - 1)
            for xx in range(size):
                sx = min(int(xx * W / size), W - 1)
                acc[yy // 8, xx // 8] += img[sy, sx].astype(np.float64)
        v = (acc / 64.0).reshape(-1)
        n = np.sqrt((v * v).sum())
        return (v / n if n > 0 else v).astype(np.float32)

    imgs = generate_images(spark, 12, n_partitions=2)
    got = {
        r.image_id: np.array(r.emb, np.float32)
        for r in imgs.select(
            "image_id",
            mm.image_features(F.col("bytes"), F.col("fmt"), grid=4).alias("emb"),
        ).where(F.col("emb").isNotNull()).collect()
    }
    raw = {r.image_id: (bytes(r.bytes), r.fmt) for r in imgs.collect()}
    assert len(got) >= 10
    for iid, emb in got.items():
        data, fmt = raw[iid]
        expected = independent_features(codecs.decode(data, fmt))
        assert np.allclose(emb, expected, atol=1e-5), iid


def test_channel_stats_match_independent_numpy(spark):
    """r2-verdict-style golden strengthening: the Spark two-moment
    aggregate is re-derived by an independent numpy pass over the same
    decoded pixels (different aggregation code path)."""
    import numpy as np
    from dataqualitycontroltool_spark.graft import codecs
    from dataqualitycontroltool_spark.graft.synth import generate_images
    from dataqualitycontroltool_spark.operators import multimodal as mm

    imgs = generate_images(spark, 60, n_partitions=2)
    got = mm.channel_stats(imgs, "bytes", "fmt").collect()[0]
    pixels, failed = [], 0
    for r in imgs.select("bytes", "fmt").collect():
        try:
            pixels.append(codecs.decode(bytes(r.bytes), r.fmt)
                          .astype(np.float64).reshape(-1, 3) / 255.0)
        except Exception:
            failed += 1
    allpx = np.concatenate(pixels)
    assert got.n_images == 60 and got.n_failed == failed
    assert got.n_pixels == len(allpx)
    want_mean = allpx.mean(axis=0)
    want_std = allpx.std(axis=0)  # population, matching sum-sq formula
    for c, name in enumerate("rgb"):
        assert abs(got[f"mean_{name}"] - round(float(want_mean[c]), 6)) <= 1e-6
        assert abs(got[f"std_{name}"] - round(float(want_std[c]), 6)) <= 1e-6


def test_channel_stats_constant_and_empty_inputs(spark):
    import numpy as np
    from dataqualitycontroltool_spark.graft import codecs
    from dataqualitycontroltool_spark.operators import multimodal as mm

    solid = codecs.encode(np.full((8, 8, 3), 128, dtype=np.uint8), "png")
    df = spark.createDataFrame([(bytearray(solid), "png")] * 3, "bytes binary, fmt string")
    r = mm.channel_stats(df, "bytes", "fmt").collect()[0]
    assert r.std_r == 0.0 and r.std_g == 0.0 and r.std_b == 0.0  # not NaN
    assert r.mean_r == round(128 / 255, 6)

    empty = spark.createDataFrame([], "bytes binary, fmt string")
    e = mm.channel_stats(empty, "bytes", "fmt").collect()[0]
    assert e.n_images == 0 and e.n_failed == 0 and e.n_pixels == 0
