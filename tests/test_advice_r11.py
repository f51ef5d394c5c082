"""Round-11 ADVICE fixes: near_duplicates restores the _check_lanes
digest-window guard the data-driven lane rewrite dropped,
phash_near_dup_wide(band_words=2) emits zero bands for degenerate word
arrays, and the q_phash_wide kernel/oracle modulo is sign-stable."""

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_duplicates_rejects_lane_overflow(spark):
    """n_hashes > 16 reads past the 38-char extended digest — lanes go
    constant/NULL, every band hash collides corpus-wide, and LSH
    silently degenerates toward the n^2 cross product. Must raise, as
    minhash_signatures/lsh_candidate_pairs always did."""
    from obsplus_spark.operators.dedup import near_duplicates

    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
    with pytest.raises(ValueError, match=r"n_hashes must be in \[1, 16\]"):
        near_duplicates(df, n_hashes=17, bands=1, persist_shingles=False)


def test_near_duplicates_rejects_nondividing_bands(spark):
    """bands must divide n_hashes; rpb truncation used to silently drop
    the trailing n_hashes % bands lanes from every band."""
    from obsplus_spark.operators.dedup import near_duplicates

    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
    with pytest.raises(ValueError, match=r"must divide n_hashes"):
        near_duplicates(df, n_hashes=16, bands=5, persist_shingles=False)


def test_near_duplicates_valid_params_unchanged(spark):
    """The guard must not perturb the happy path: a near-identical pair
    is still found with a dividing band count."""
    from obsplus_spark.operators.dedup import near_duplicates

    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely unrelated text about parquet shuffles"),
        ],
    )
    out = near_duplicates(
        df, n_hashes=8, bands=4, threshold=0.9, persist_shingles=False
    ).collect()
    assert [(r.id1, r.id2) for r in out] == [(1, 2)]


@pytest.mark.parametrize("band_words", [1, 2])
def test_phash_wide_empty_word_arrays_emit_no_bands(spark, band_words):
    """size(words)=0 rows must produce ZERO bands under BOTH band
    widths. band_words=2 used to evaluate sequence(0, -1) = [0, -1]
    (Spark sequences step -1 when stop < start), minting bands with
    NULL hashes that bucketed every empty-hash row into spurious
    candidate pairs."""
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    rows = [(1, []), (2, []), (3, [7, 7, 7, 7]), (4, [7, 7, 7, 7])]
    df = spark.createDataFrame(rows, "id long, words array<bigint>")
    out = phash_near_dup_wide(
        df, max_hamming=0, band_words=band_words
    ).collect()
    # only the identical non-empty pair — never (1, 2) from NULL bands
    assert [(r.id1, r.id2, r.hamming) for r in out] == [(3, 4, 0)]


def test_phash_wide_single_word_array_band_words_2(spark):
    """A 1-word array has no complete 2-word band: zero bands, no pair
    proposals (and no NULL band_hash rows)."""
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    rows = [(1, [5]), (2, [5])]
    df = spark.createDataFrame(rows, "id long, words array<bigint>")
    assert phash_near_dup_wide(df, band_words=2).count() == 0
    # band_words=1 still pairs them (one complete 1-word band)
    out = phash_near_dup_wide(df, band_words=1).collect()
    assert [(r.id1, r.id2, r.hamming) for r in out] == [(1, 2, 0)]


def test_phash_wide_odd_word_count_documented_truncation(spark):
    """Odd-length arrays: the trailing word is excluded from banding
    (documented contract) but still counts in the Hamming verify."""
    from obsplus_spark.operators.dedup import phash_near_dup_wide

    # identical first 2 words (one complete band) but differing 3rd
    rows = [(1, [9, 9, 1]), (2, [9, 9, 2])]
    df = spark.createDataFrame(rows, "id long, words array<bigint>")
    out = phash_near_dup_wide(df, max_hamming=64, band_words=2).collect()
    assert len(out) == 1
    r = out[0]
    # hamming includes the trailing word: popcount(1 ^ 2) = 2
    assert (r.id1, r.id2, r.hamming) == (1, 2, 2)


def test_q_phash_wide_modulo_sign_stable():
    """Python % is floor-mod (always >= 0); SQL % follows the sign.
    Both the engine kernel and the DuckDB oracle must read the same
    perturbed pixel for negative user ids — pinned to the abs() form
    on BOTH sides (ADVICE r10 #4)."""
    import inspect

    from corpus import multimodal as entry

    src = inspect.getsource(entry.q_phash_wide)
    assert "abs(u) % 4096" in src and "abs(u) % 5" in src
    assert "abs(u.user_id) % 4096" in entry._SQL_PHASH_WIDE
    assert "abs(u.user_id) % 5" in entry._SQL_PHASH_WIDE
    # the sign-following raw forms must not come back
    assert "(u % 4096)" not in src
    assert " u.user_id % 4096" not in entry._SQL_PHASH_WIDE
