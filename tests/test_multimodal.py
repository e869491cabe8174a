"""Multimodal plumbing: deterministic stub decode, Arrow batch shapes,
schema round-trips."""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

from audioflux_spark.sources.multimodal import (
    audio_stats,
    gen_assets,
    image_features,
    resize_images,
    sample_frames,
    _decode_image,
)


@pytest.fixture(scope="module")
def assets(spark):
    df = gen_assets(spark, 60).repartition(4).cache()
    df.count()
    return df


def test_decode_deterministic():
    a = _decode_image(b"payload-bytes", 16, 8, 3)
    b = _decode_image(b"payload-bytes", 16, 8, 3)
    np.testing.assert_array_equal(a, b)
    assert a.shape == (8, 16, 3)
    c = _decode_image(b"other-bytes", 16, 8, 3)
    assert (a != c).any()


def test_image_features_shape(spark, assets):
    feats = image_features(assets).toPandas()
    n_images = assets.filter("kind = 'image'").count()
    assert len(feats) == n_images
    assert all(len(f) == 8 for f in feats["features"])  # 3 mean + 3 std + h + w


def test_resize(spark, assets):
    out = resize_images(assets, 8, 8).toPandas()
    assert (out["width"] == 8).all() and (out["height"] == 8).all()
    assert all(len(p) == 8 * 8 * 3 for p in out["payload"])


def test_sample_frames(spark, assets):
    res = sample_frames(assets, every_n=4).toPandas()
    vids = assets.filter("kind='video'").select("asset_id", "meta.n_frames").toPandas()
    want = int(sum((nf + 3) // 4 for nf in vids["n_frames"]))
    assert len(res) == want
    assert (res["frame_idx"] % 4 == 0).all()


def test_audio_stats(spark, assets):
    res = audio_stats(assets).toPandas()
    assert len(res) == assets.filter("kind='audio'").count()
    assert ((res["rms"] > 0) & (res["zcr"] > 0) & (res["zcr"] < 1)).all()


def test_determinism_across_partitionings(spark):
    a1 = image_features(gen_assets(spark, 40).repartition(2)).toPandas().sort_values("asset_id")
    a2 = image_features(gen_assets(spark, 40).repartition(7)).toPandas().sort_values("asset_id")
    for x, y in zip(a1["features"], a2["features"]):
        np.testing.assert_array_equal(x, y)


def _make_wav(samples: np.ndarray, sample_rate: int = 16000, nch: int = 1) -> bytes:
    """Write int16 PCM WAV bytes with the stdlib, interleaving channels."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def test_wav_decode_exact():
    """stdlib-wave PCM decode is REAL: exact sample equality, not a digest fake."""
    from audioflux_spark.sources.multimodal import _decode_audio, _decode_wav_pcm

    ints = np.array([0, 16384, -16384, 32767, -32768, 100], dtype=np.int16)
    payload = _make_wav(ints)
    got = _decode_wav_pcm(payload)
    np.testing.assert_array_equal(got, ints.astype(np.float32) / 32768.0)
    # the dispatcher routes RIFF payloads to the real decoder
    np.testing.assert_array_equal(_decode_audio(payload, 16000, 1), got)


def test_wav_decode_stereo_downmix():
    from audioflux_spark.sources.multimodal import _decode_wav_pcm

    left = np.array([1000, 2000, 3000], dtype=np.int16)
    right = np.array([3000, 2000, 1000], dtype=np.int16)
    inter = np.empty(6, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    got = _decode_wav_pcm(_make_wav(inter, nch=2))
    want = ((left.astype(np.float32) + right) / 2.0 / 32768.0).astype(np.float32)
    np.testing.assert_allclose(got, want, rtol=1e-6)


def test_wav_through_spark_path(spark):
    """A real generated WAV flows through the Spark audio_stats path with
    exact RMS/ZCR (computed on the true samples, not a fake)."""
    from audioflux_spark.sources.multimodal import ASSET_SCHEMA

    t = np.arange(1600)
    sine = (np.sin(2 * np.pi * 440 * t / 16000) * 20000).astype(np.int16)
    payload = _make_wav(sine)
    x = sine.astype(np.float32) / 32768.0
    meta = (None, None, 1, 16000, 100, None, "wav")
    df = spark.createDataFrame(
        [("wav-1", "conv-1", 0, "audio", payload, meta)], ASSET_SCHEMA
    )
    res = audio_stats(df).toPandas()
    assert len(res) == 1
    want_rms = float(np.sqrt(np.mean(x**2)))
    want_zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
    assert abs(res["rms"].iloc[0] - want_rms) < 1e-6
    assert abs(res["zcr"].iloc[0] - want_zcr) < 1e-9


def _make_ppm(arr: np.ndarray, comment: bool = False) -> bytes:
    """Binary P6 (HxWx3) or P5 (HxWx1) payload from a uint8 array."""
    h, w, c = arr.shape
    magic = b"P6" if c == 3 else b"P5"
    hdr = magic + (b"\n# test comment\n" if comment else b"\n")
    hdr += f"{w} {h}\n255\n".encode()
    return hdr + arr.tobytes()


def test_ppm_decode_exact():
    """stdlib netpbm decode is REAL: exact pixel equality, not a digest fake."""
    from audioflux_spark.sources.multimodal import _decode_image, _decode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    payload = _make_ppm(img, comment=True)
    np.testing.assert_array_equal(_decode_ppm(payload), img)
    # the dispatcher routes P6 payloads to the real decoder (PIL is absent
    # in this container, so reaching exact pixels proves the stdlib path)
    np.testing.assert_array_equal(_decode_image(payload, 4, 5, 3), img)


def test_pgm_decode_exact():
    from audioflux_spark.sources.multimodal import _decode_ppm

    img = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    np.testing.assert_array_equal(_decode_ppm(_make_ppm(img)), img)


def test_ppm_through_spark_path(spark):
    """A real generated PPM flows through the Spark image_features path with
    exact per-channel mean/std (computed on the true pixels, not a fake)."""
    from audioflux_spark.sources.multimodal import ASSET_SCHEMA, image_features

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    meta = (6, 8, 3, None, None, None, "ppm")
    df = spark.createDataFrame(
        [("ppm-1", "conv-1", 0, "image", _make_ppm(img), meta)], ASSET_SCHEMA
    )
    res = image_features(df).toPandas()
    assert len(res) == 1
    feats = np.asarray(res["features"].iloc[0], dtype=np.float32)
    want = np.concatenate(
        [img.mean(axis=(0, 1)), img.std(axis=(0, 1)), [8, 6]]
    ).astype(np.float32)
    np.testing.assert_allclose(feats, want, rtol=1e-6)


# ----------------------------------------------- real decoder when present


def test_multimodal_uses_real_pil_when_present(monkeypatch):
    """A present decoder library must be USED, not crashed on."""
    from audioflux_spark.sources import multimodal

    decoded = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)

    class _FakeImg:
        def convert(self, mode):
            return decoded

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: _FakeImg()
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    out = multimodal._decode_image(b"\x89PNG...", 2, 2, 3)
    np.testing.assert_array_equal(out, decoded)


def test_multimodal_fake_fallback_warns_on_bad_payload(monkeypatch):
    from audioflux_spark.sources import multimodal

    class _Raises:
        @staticmethod
        def open(buf):
            raise ValueError("not an image")

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = _Raises.open
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    with pytest.warns(UserWarning):
        out = multimodal._decode_image(b"junk", 4, 3, 3)
    assert out.shape == (3, 4, 3)  # deterministic fake with metadata shape
