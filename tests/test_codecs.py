"""Pure-numpy media codecs + multimodal dispatch integration."""

import numpy as np
import pytest

from obsplus_spark.operators.codecs import (
    audio_features,
    decode_bmp,
    decode_features,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
    image_features,
    resize_nearest,
)


def test_wav_roundtrip_16bit_stereo():
    t = np.linspace(0, 1, 8000, endpoint=False)
    samples = np.stack([np.sin(2 * np.pi * 440 * t), np.sin(2 * np.pi * 220 * t)], axis=1)
    payload = encode_wav(samples, 8000, bits=16)
    arr, rate = decode_wav(payload)
    assert rate == 8000
    assert arr.shape == (8000, 2)
    assert np.abs(arr - samples).max() < 1e-3  # 16-bit quantization


def test_wav_8bit_mono():
    samples = np.linspace(-1, 1, 100)
    arr, rate = decode_wav(encode_wav(samples.reshape(-1, 1), 44100, bits=8))
    assert rate == 44100 and arr.shape == (100, 1)
    assert np.abs(arr.ravel() - samples).max() < 1 / 60


def test_wav_rejects_garbage():
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")
    with pytest.raises(ValueError):
        decode_wav(b"\x00" * 64)


def test_ppm_roundtrip():
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (17, 23, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    gray = rng.randint(0, 256, (9, 11), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(gray)), gray)


def test_ppm_comment_header():
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    raw = b"P6\n# a comment\n2 2\n255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(raw), img)


def test_bmp_roundtrip_with_padding():
    rng = np.random.RandomState(1)
    # width 3 → row stride 9 pads to 12: exercises the 4-byte alignment
    img = rng.randint(0, 256, (5, 3, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_resize_nearest():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8)
    assert np.array_equal(up[::2, ::2], img)
    down = resize_nearest(img, 2, 2)
    assert np.array_equal(down, img[[0, 2]][:, [0, 2]])


def test_feature_determinism_and_dim():
    img = np.full((10, 10, 3), 128, np.uint8)
    f1, f2 = image_features(img), image_features(img)
    assert f1 == f2 and len(f1) == 16
    assert f1[0] == 10.0 and abs(f1[2] - 128 / 255) < 1e-9
    s = np.sin(np.linspace(0, 20 * np.pi, 1000)).reshape(-1, 1)
    a = audio_features(s, 1000)
    assert len(a) == 16
    assert abs(a[0] - 1.0) < 1e-9  # duration
    assert abs(a[1] - np.sqrt(0.5)) < 0.01  # sine rms


def test_decode_features_dispatch():
    img = np.zeros((4, 4, 3), np.uint8)
    assert decode_features(encode_ppm(img), "ppm") is not None
    assert decode_features(encode_bmp(img), "bmp") is not None
    wav = encode_wav(np.zeros((10, 1)), 8000)
    assert decode_features(wav, "wav") is not None
    assert decode_features(b"\xff\xd8\xff", "jpeg") is None  # not decodable
    assert decode_features(b"garbage", "ppm") is None  # corrupt → fallback


def test_spark_extract_features_real_codecs(spark):
    import pyspark.sql.functions as F

    from obsplus_spark.operators.multimodal import extract_features

    rng = np.random.RandomState(2)
    rows = []
    for i in range(4):
        img = rng.randint(0, 256, (8 + i, 8, 3), dtype=np.uint8)
        rows.append((i, bytearray(encode_ppm(img)),
                     {"media_type": "image", "format": "ppm", "width": 8,
                      "height": 8 + i, "duration_ms": None, "sample_rate": None}))
    wav = encode_wav(np.sin(np.linspace(0, 10, 4000)).reshape(-1, 1), 4000)
    rows.append((10, bytearray(wav),
                 {"media_type": "audio", "format": "wav", "width": None,
                  "height": None, "duration_ms": 1000, "sample_rate": 4000}))
    rows.append((11, bytearray(b"\x89PNG fake"),
                 {"media_type": "image", "format": "png", "width": None,
                  "height": None, "duration_ms": None, "sample_rate": None}))
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary, meta struct<media_type:string,"
        "format:string,width:int,height:int,duration_ms:bigint,sample_rate:int>",
    )
    feats = {r.media_id: r.features for r in extract_features(media).collect()}
    assert len(feats) == 6
    # ppm rows: real decode → first feature is pixel width (8.0)
    assert feats[0][0] == 8.0
    # wav row: first feature is duration in seconds
    assert abs(feats[10][0] - 1.0) < 1e-6
    # png row: stub features in [0, 1) — not a real decode
    assert all(0 <= v < 1 for v in feats[11])


def test_ppmv_roundtrip_and_seek_sampling():
    import numpy as np

    from obsplus_spark.operators.codecs import decode_ppmv, encode_ppmv

    frames = [
        (np.arange(16, dtype=np.uint8) + 10 * i).reshape(1, 16)
        for i in range(7)
    ]
    blob = encode_ppmv(frames)
    # full decode
    all_f = decode_ppmv(blob)
    assert [i for i, _ in all_f] == list(range(7))
    for (_, got), want in zip(all_f, frames):
        assert (got == want).all()
    # every-3rd sampling decodes exactly frames 0, 3, 6
    sampled = decode_ppmv(blob, every_n=3)
    assert [i for i, _ in sampled] == [0, 3, 6]
    for i, got in sampled:
        assert (got == frames[i]).all()
    # empty video and corrupt magic
    assert decode_ppmv(encode_ppmv([])) == []
    import pytest

    with pytest.raises(ValueError):
        decode_ppmv(b"JUNK" + blob[4:])


def test_patch_grid_sums_exact():
    import numpy as np

    from obsplus_spark.operators.codecs import patch_grid_sums

    img = np.arange(48).reshape(6, 8)
    rows, cols, sums = patch_grid_sums(img, 4)
    # 6x8 with p=4: one patch row (rows 0-3), two patch cols; rows 4-5 cropped
    assert (rows, cols) == (1, 2)
    assert sums.tolist() == [
        int(img[:4, :4].sum()),
        int(img[:4, 4:8].sum()),
    ]
    # too-small image -> empty grid, not an error
    r0, c0, s0 = patch_grid_sums(np.zeros((3, 3)), 4)
    assert (r0, c0) == (0, 0) and len(s0) == 0
    import pytest as _p

    with _p.raises(ValueError, match="patch size"):
        patch_grid_sums(img, 0)
    with _p.raises(ValueError, match="2-D"):
        patch_grid_sums(np.zeros(5), 2)
