"""Round-9 ADVICE fixes: single-split stratified_split, phantom-''-token
guards in prefix leakage / token_entropy / readability, and the
k_core_peel persist chain's isolation from the shared cache ring."""

import pytest


def test_stratified_split_single_entry_weights(spark):
    """A one-entry weights dict used to build `CASE ELSE 'x' END` (a
    ParseException); it must short-circuit to a constant label."""
    from obsplus_spark.operators.dedup import stratified_split

    df = spark.createDataFrame(
        [(i, "s") for i in range(7)], "doc_id long, source string"
    )
    out = stratified_split(df, weights={"all": 100}).collect()
    assert len(out) == 7
    assert {r.split for r in out} == {"all"}


def test_leakage_prefix_ignores_edge_whitespace(spark):
    """Whitespace-equivalent mirrored heads must pair in prefix mode:
    trim strips spaces only, so a leading tab/newline used to inject a
    phantom '' token that shifted the K-token prefix."""
    from obsplus_spark.operators.dedup import cross_source_leakage

    docs = spark.createDataFrame(
        [
            (1, "\tsame head tail one", "A"),
            (2, "same head tail two\n", "B"),
            (3, "same head tail tre", "C"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source_a, r.source_b): r.n_shared_digests
        for r in cross_source_leakage(docs, prefix_tokens=3).collect()
    }
    assert got == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1}


def test_token_entropy_ignores_edge_whitespace(spark):
    from obsplus_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "\ta a b\n"), (3, "\t\n")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_types, r.type_token_ratio,
                   r.entropy_bits)
        for r in token_entropy(docs).collect()
    }
    assert got[2] == got[1]
    assert got[2][:2] == (3, 2)
    # tabs/newlines only: like blank — zero counts, NULL ratios
    assert got[3] == (0, 0, None, None)


def test_readability_ignores_edge_whitespace(spark):
    from obsplus_spark.operators.text import readability_scores

    docs = spark.createDataFrame(
        [(1, "the cat sat."), (2, "\nthe cat sat.\t")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_sentences, r.n_syllables, r.flesch)
        for r in readability_scores(docs).collect()
    }
    assert got[2] == got[1]
    assert got[2][0] == 3


def test_k_core_chain_survives_interleaved_ring_use(spark):
    """The broadcast_degrees persist chain must stay cached when other
    ring-registering operators run BEFORE the returned lazy frame is
    executed (the shared ring's default capacity is 2 — it used to
    evict the chain and trigger 2^rounds recompute)."""
    from obsplus_spark import cache
    from obsplus_spark.operators.graph import k_core_peel

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a < b],
        "src long, dst long",
    )
    out = k_core_peel(edges, k=3, rounds=3, broadcast_degrees=True)
    chain = cache._PRIVATE_CHAINS[(id(spark), "k_core_peel")]
    assert len(chain) == 3  # e0 + one per twice-read intermediate round
    # interleave default-capacity ring registrations (any other operator)
    for _ in range(3):
        cache.register_shingle_cache(
            spark.range(1).select("id").persist()
        )
    assert all(f.is_cached for f in chain)
    # K6 is a 5-core: every node survives k=3 peeling with degree 5
    rows = out.collect()
    assert len(rows) == 6
    assert {r.degree for r in rows} == {5}
    # the NEXT k_core_peel call replaces (and releases) the chain —
    # on a DIFFERENT edge frame, so no canonical plan is shared with
    # (and re-adopted by) the new chain
    edges2 = spark.createDataFrame(
        [(a + 100, b + 100) for a in range(5) for b in range(5) if a < b],
        "src long, dst long",
    )
    k_core_peel(edges2, k=3, rounds=2, broadcast_degrees=True)
    assert all(not f.is_cached for f in chain)
