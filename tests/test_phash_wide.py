"""Wide perceptual hash (256-bit aHash, 32-bit LSH bands) — the
corpus-scale escape for the documented 4×16-bit band birthday
saturation (VERDICT r9 weak #1)."""

import pytest


def _mk_img(seed: int, h: int = 64, w: int = 64, n_hot: int = 0):
    import numpy as np

    i = np.arange(h * w, dtype=np.int64)
    b = ((i * 37 + seed * 11) % 256).astype(np.uint8).reshape(h, w)
    if n_hot:
        b = b.copy()
        b.flat[: n_hot] = 255
    return b


def test_wide_matches_narrow_on_64_cell_grid():
    """At a 4×16 grid the wide packing must reproduce average_hash's
    (lo, hi) words exactly — same bit rule, same row-major layout."""
    from obsplus_spark.operators.codecs import average_hash, average_hash_wide

    img = _mk_img(3)
    lo, hi = average_hash(img, grid_rows=4, grid_cols=16)
    words = average_hash_wide(img, grid_rows=4, grid_cols=16)
    assert words == [lo, hi]


def test_wide_hash_shape_and_determinism():
    from obsplus_spark.operators.codecs import average_hash_wide

    img = _mk_img(1)
    words = average_hash_wide(img)  # 16x16 grid -> 8 words
    assert len(words) == 8
    assert all(0 <= w < 2**32 for w in words)
    assert words == average_hash_wide(_mk_img(1))
    # a perturbed image changes the hash but not the shape
    other = average_hash_wide(_mk_img(1, n_hot=200))
    assert len(other) == 8 and other != words
    # sub-cell image -> no hash
    assert average_hash_wide(_mk_img(1, h=8, w=8)) is None


def test_wide_near_dup_finds_planted_flips(spark):
    """Planted partners within Hamming ≤ 7 of 8-word hashes MUST be
    found (pigeonhole: one of the 8 one-word bands is untouched);
    unrelated random-ish hashes must not pair."""
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        words = [rng.getrandbits(32) for _ in range(8)]
        rows.append((2 * i, words))
        flipped = list(words)
        for b in range(3):  # 3 bit flips across distinct words
            w = (i + b) % 8
            flipped[w] ^= 1 << ((i * 5 + b * 11) % 32)
        rows.append((2 * i + 1, flipped))
    df = spark.createDataFrame(rows, "id long, words array<long>")
    got = {(r.id1, r.id2): r.hamming
           for r in phash_near_dup_wide(df, max_hamming=7).collect()}
    assert got == {(2 * i, 2 * i + 1): 3 for i in range(40)}


def test_wide_rejects_bad_args(spark):
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    df = spark.createDataFrame([(1, [0] * 8)], "id long, words array<long>")
    with pytest.raises(ValueError, match="max_hamming"):
        phash_near_dup_wide(df, max_hamming=-1)
