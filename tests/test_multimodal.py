"""Multimodal plumbing + simhash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obsplus_spark.operators.dedup import simhash_signatures
from obsplus_spark.operators.multimodal import MEDIA_SCHEMA, extract_features


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytearray(b"\x89PNG fake image bytes AAAA"), ("image", "png", 64, 64, None, None)),
        (2, bytearray(b"\x89PNG fake image bytes AAAA"), ("image", "png", 64, 64, None, None)),
        (3, bytearray(b"RIFF fake wav bytes"), ("audio", "wav", None, None, 2500, 44100)),
        (4, bytearray(b"\x00\x00video"), ("video", "mp4", 640, 480, 3500, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic(media):
    a = {r.media_id: r for r in extract_features(media, dim=8).collect()}
    b = {r.media_id: r for r in extract_features(media, dim=8).collect()}
    assert all(a[i].features == b[i].features for i in a)
    # identical payloads → identical features; different payloads differ
    assert a[1].features == a[2].features
    assert a[1].features != a[3].features
    assert all(len(r.features) == 8 for r in a.values())
    assert all(0.0 <= x < 1.0 for x in a[1].features)
    assert a[1].n_bytes == 26


def test_real_decode_is_stubbed(media):
    with pytest.raises(Exception) as exc_info:
        extract_features(media, decode_stub=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "media decoding" in str(
        exc_info.value
    )


def test_simhash_near_and_far(spark):
    base = "the quick brown fox jumps over the lazy dog again today"
    near = "the quick brown fox jumps over the lazy cat again today"
    far = "completely unrelated words about spark shuffle partitions"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    sig = simhash_signatures(df, bits=32)
    pairs = (
        sig.alias("a")
        .crossJoin(sig.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .alias("d"),
        )
    )
    d = {(r.i, r.j): r.d for r in pairs.collect()}
    assert d[(1, 2)] == 0                      # identical text → same simhash
    assert d[(1, 3)] < d[(1, 4)]               # near-dup closer than unrelated
    assert d[(1, 3)] <= 10


def test_sorted_group_apply_carries_across_batches(spark):
    """Groups that span Arrow batch boundaries must still emit once, with
    every chunk delivered (the carry path of the sorted-stream scan)."""
    from obsplus_spark.util import sorted_group_apply

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        n, n_groups = 500, 9
        df = spark.range(n).select(
            (F.col("id") % n_groups).alias("g"), F.col("id").alias("v")
        )
        out = sorted_group_apply(
            df,
            "g",
            lambda g, chunks: (
                int(g),
                int(sum(int(c.sum()) for c in chunks)),
                int(sum(len(c) for c in chunks)),
            ),
            "g long, total long, n long",
            num_partitions=3,
        ).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    got = {r.g: (r.total, r.n) for r in out}
    assert len(out) == n_groups  # one row per group, no splits
    expect = {}
    for i in range(n):
        t, c = expect.get(i % n_groups, (0, 0))
        expect[i % n_groups] = (t + i, c + 1)
    assert got == expect


def test_frame_signal_features_hand_case(spark):
    """Known 6-sample signal, frame_len=4: energies, crossings and the
    boundary-crossing attribution are hand-checkable."""
    from obsplus_spark.operators.multimodal import frame_signal_features

    #            pos: 0   1   2    3    4   5
    samples = [3, -1, 2, -2, -4, 5]  # crossings at 1,2,3 (frame 0), 5 (frame 1)
    rows = [(1, i, s) for i, s in enumerate(samples)]
    df = spark.createDataFrame(rows, "signal_id long, pos long, k long")
    out = {
        r["frame_idx"]: r
        for r in frame_signal_features(df, frame_len=4).collect()
    }
    assert set(out) == {0, 1}
    f0, f1 = out[0], out[1]
    assert f0["n_samples"] == 4 and f1["n_samples"] == 2  # short tail kept
    assert f0["energy"] == 9 + 1 + 4 + 4
    assert f1["energy"] == 16 + 25
    # first sample has no predecessor; -2 → -4 is NOT a crossing;
    # -4 → 5 crosses on the frame boundary and lands in frame 1
    assert f0["zero_crossings"] == 3
    assert f1["zero_crossings"] == 1
    assert f0["rms"] == pytest.approx(round((18 / 4) ** 0.5, 9))


def test_frame_signal_features_validates(spark):
    from obsplus_spark.operators.multimodal import frame_signal_features

    df = spark.createDataFrame([(1, 0, 1)], "signal_id long, pos long, k long")
    with pytest.raises(ValueError, match="frame_len"):
        frame_signal_features(df, frame_len=0)
