"""North-star operators: dedup, similarity, text analysis."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from obsplus_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicates,
)
from obsplus_spark.operators.similarity import cosine_topk, cosine_topk_lsh
from obsplus_spark.operators.text import text_stats, token_count


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    rows = [
        (1, base),
        (2, base),                     # exact dup of 1
        (3, "  THE  quick brown fox jumps over the lazy dog again and again today "),  # dup after normalize
        (4, near),                     # near-dup (1 word differs)
        (5, "completely different content about spark engines and shuffles here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs).collect()
    by_canon = {r.canonical_id: r.n_dups for r in out}
    assert by_canon[1] == 3  # docs 1, 2, 3 collapse after normalization
    assert by_canon[4] == 1 and by_canon[5] == 1


def test_minhash_signature_identical_for_dups(docs):
    sig = minhash_signatures(docs, n_hashes=8).collect()
    rows = {r.doc_id: tuple(r[f"mh_{j}"] for j in range(8)) for r in sig}
    assert rows[1] == rows[2] == rows[3]
    assert rows[1] != rows[5]


def test_near_duplicates_pipeline(docs):
    out = near_duplicates(docs, n_hashes=16, bands=4, threshold=0.5).collect()
    pairs = {(r.id1, r.id2): r.jaccard for r in out}
    # exact dups → jaccard 1.0
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0
    # near-dup pair found with high-but-not-1 jaccard
    near_keys = [k for k in pairs if 4 in k and (1 in k or 2 in k or 3 in k)]
    assert near_keys and all(0.5 <= pairs[k] < 1.0 for k in near_keys)
    # unrelated doc never pairs
    assert not any(5 in k for k in pairs)


def test_shingle_cache_ring_bounded(docs):
    """Repeated near-dup scans keep at most two persisted shingle tables
    per session; older ones must be unpersisted (no cache accumulation
    across a scan loop)."""
    from obsplus_spark.cache import _SHINGLE_CACHES

    frames = []
    for _ in range(4):
        out = near_duplicates(docs, n_hashes=8, bands=4, threshold=0.5)
        out.count()  # materialize so the persist actually happens
        ring = _SHINGLE_CACHES[id(docs.sparkSession)]
        frames.extend(f for f in ring if f not in frames)
    ring = _SHINGLE_CACHES[id(docs.sparkSession)]
    assert len(ring) == 2
    # CacheManager keys entries by CANONICAL PLAN: an evicted frame
    # that is plan-identical to a current ring member legitimately
    # reports cached (the entry belongs to the ring member, which
    # re-persisted after eviction — the r9 adoption fix), so bound the
    # LIVE CACHE ENTRIES by plan identity, not Python object identity
    def _tok(f):
        return f._jdf.queryExecution().analyzed().semanticHash()

    live = {_tok(f) for f in frames if f.storageLevel.useMemory}
    assert live <= {_tok(f) for f in ring}


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8).astype("float32")
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]])], "query_id long, query_vec array<float>"
    )
    out = cosine_topk(vdf, qdf, k=5).orderBy("rank").collect()

    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    exp = np.argsort(-sims)[:5]
    assert [r.vec_id for r in out] == list(exp)
    assert out[0].vec_id == 0 and abs(out[0].cosine_sim - 1.0) < 1e-9


def test_cosine_topk_lsh_self_hit(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    vecs = rng.randn(40, 8)
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(7, [float(x) for x in vecs[7]])], "query_id long, query_vec array<float>"
    )
    planes = [[float(x) for x in rng.randn(8)] for _ in range(4)]
    out = cosine_topk_lsh(vdf, qdf, planes, k=3).orderBy("rank").collect()
    # the query vector itself shares its own bucket → rank 1 self-hit
    assert out and out[0].vec_id == 7


def test_text_stats(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a a a a"), (3, "Zebra!")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text_stats(df).collect()}
    assert rows[1].n_tokens == 3 and rows[1].n_distinct_tokens == 3
    assert rows[2].n_tokens == 4 and rows[2].n_distinct_tokens == 1
    assert rows[2].stopword_ratio == 1.0
    assert rows[1].stopword_ratio == pytest.approx(1 / 3)
    assert rows[3].alpha_ratio == pytest.approx(5 / 6)


def test_token_count_empty(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one two",)], ["text"])
    got = [r[0] for r in df.select(token_count("text")).collect()]
    assert got == [0, 0, 2]


def test_ivf_topk_recall(spark):
    """IVF probe search must find the exact neighbors that live in probed
    clusters; self-hit always (its own cluster is the top probe)."""
    import numpy as np

    from obsplus_spark.operators.similarity import ivf_assign, ivf_topk

    rng = np.random.RandomState(3)
    # two well-separated blobs so cluster structure is real
    blob_a = rng.randn(30, 8) + 10.0
    blob_b = rng.randn(30, 8) - 10.0
    vecs = np.vstack([blob_a, blob_b])
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    assignments, centroids = ivf_assign(vdf, n_clusters=4, refine_iterations=1)
    assert centroids.count() == 4
    # every vector assigned exactly once
    assert assignments.count() == 60

    qdf = spark.createDataFrame(
        [(5, [float(x) for x in vecs[5]])], "query_id long, query_vec array<float>"
    )
    out = ivf_topk(assignments, centroids, qdf, k=5, nprobe=2).orderBy("rank").collect()
    assert out[0].vec_id == 5  # self-hit
    # all results from the same blob as the query (cosine ~1 within blob)
    assert all(r.vec_id < 30 for r in out)


def test_embedding_near_dup_paths_agree(spark):
    """Blocked (pandas gram) and exact (zip_with) paths return the same
    pair set with matching cosines; near-identical vectors found."""
    import numpy as np

    from obsplus_spark.operators.similarity import embedding_near_dup

    rng = np.random.RandomState(3)
    base = rng.randn(20, 8)
    base[14] = base[4] + 1e-4 * rng.randn(8)  # planted near-dup, same block
    rows = [
        (i, int(i % 2), [float(x) for x in base[i]]) for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    blocked = {
        (r.id1, r.id2): r.cosine_sim
        for r in embedding_near_dup(df, 0.9, method="blocked").collect()
    }
    exact = {
        (r.id1, r.id2): r.cosine_sim
        for r in embedding_near_dup(df, 0.9, method="exact").collect()
    }
    assert set(blocked) == set(exact)
    assert (4, 14) in blocked
    for k in blocked:
        assert blocked[k] == pytest.approx(exact[k], abs=1e-9)
        assert blocked[k] >= 0.9


def test_embedding_near_dup_blocking_limits_pairs(spark):
    """Pairs never cross blocks — a cross-block near-identical pair is
    invisible (the documented approximate contract)."""
    import numpy as np

    from obsplus_spark.operators.similarity import embedding_near_dup

    rng = np.random.RandomState(4)
    v = rng.randn(8)
    rows = [
        (0, 0, [float(x) for x in v]),
        (1, 1, [float(x) for x in v]),  # identical but different block
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    assert embedding_near_dup(df, 0.5, method="blocked").count() == 0
    assert embedding_near_dup(df, 0.5, method="exact").count() == 0


def test_dedup_clusters_components(spark):
    """Min-label propagation resolves transitive components: a 4-chain,
    a triangle, and an isolated pair each collapse to their min id."""
    from obsplus_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id1 long, id2 long",
    )
    for lazy in (False, True):
        got = {
            (r.id, r.cluster_id)
            for r in dedup_clusters(
                pairs, max_iterations=8, check_convergence=not lazy
            ).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20),
        }


def test_hash_split_deterministic(spark):
    from obsplus_spark.operators.dedup import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    # deterministic: second run identical
    out2 = {r.split: r["count"] for r in hash_split(df).groupBy("split").count().collect()}
    assert counts == out2
    # roughly proportional (md5 is uniform; 2000 rows → loose bounds)
    assert counts["train"] > 1600 and counts["val"] < 250 and counts["test"] < 250
    import pytest

    with pytest.raises(ValueError):
        hash_split(df, weights={"train": 50, "val": 10})


def test_hash_downsample_per_group(spark):
    from obsplus_spark.operators.dedup import hash_downsample_per_group

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(80)], "doc_id long, grp string"
    )
    out = hash_downsample_per_group(df, ["grp"], k=10)
    by = out.groupBy("grp").count().collect()
    assert {r.grp: r["count"] for r in by} == {"a": 10, "b": 10}
    # deterministic selection
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in hash_downsample_per_group(df, ["grp"], k=10).collect())
    assert ids1 == ids2


def test_token_estimate_values(spark):
    from obsplus_spark.operators.text import token_estimate

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a b, c!"), (3, "internationalization"), (4, "42")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", token_estimate("text").alias("n")).collect()}
    # hello(5)→1+1 world(5)→1+1 = 4
    assert got[1] == 4
    # a b , c ! → 5 pre-tokens, no long runs
    assert got[2] == 5
    # 20-letter word → 1 pre-token + floor(19/4)=4 subword splits
    assert got[3] == 5
    # "42" → two single digits
    assert got[4] == 2


def test_quality_filter_rules(spark):
    from obsplus_spark.operators.text import quality_filter

    df = spark.createDataFrame(
        [
            (1, "this is a perfectly ordinary sentence of text"),
            (2, "too short"),                              # < 5 words
            (3, "!!! ??? *** $$$ %%% ^^^ &&& ((( )))"),    # symbol soup
            (4, "ab " * 10),                                # mean len < 2? = 2.0 ok
            (5, "line one\nline one\nline one\nunique bit"),  # dup lines
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_filter(df).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count and not out[2].keep
    assert not out[3].ok_symbol_ratio
    assert out[4].ok_mean_word_len  # exactly 2.0, inclusive bound
    assert not out[5].ok_dup_lines and out[5].dup_line_ratio > 0.5
    assert out[6].n_words == 0 and not out[6].keep


def test_quantize_int8_roundtrip(spark):
    """Codes stay in [-127, 127], scale dequantizes within one step, and
    a zero vector quantizes to zeros with scale 0."""
    import math

    from obsplus_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]), (3, [-0.25, 0.125, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert rows[1].codes == [64, -127, 32]  # floor(x/2*127+0.5)
    assert math.isclose(rows[1].scale, 2.0 / 127.0)
    assert rows[2].codes == [0, 0, 0] and rows[2].scale == 0.0
    # dequantization error bounded by half a step
    for r in (rows[1], rows[3]):
        orig = {1: [1.0, -2.0, 0.5], 3: [-0.25, 0.125, 0.0]}[r.vec_id]
        for c, x in zip(r.codes, orig):
            assert abs(c * r.scale - x) <= r.scale / 2 + 1e-12


def test_repetition_stats_values(spark):
    from obsplus_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab ba ab ba ab → top 'a b'×3 of 5
            (2, "all words differ here"),
            (3, "one"),                 # < 2 words → zero bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].n_bigrams == 5 and got[1].top_bigram_n == 3
    assert abs(got[1].top_bigram_frac - 0.6) < 1e-9
    # 5 occurrences over 2 distinct → 3 repeats
    assert abs(got[1].dup_bigram_frac - 0.6) < 1e-9
    assert got[2].n_bigrams == 3 and got[2].top_bigram_n == 1
    assert got[2].dup_bigram_frac == 0.0
    assert got[3].n_bigrams == 0 and got[3].top_bigram_frac == 0.0


def test_ann_recall_at_k(spark):
    from obsplus_spark.operators.similarity import ann_recall_at_k

    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 99), (2, 20), (2, 21), (2, 22)],
        "query_id long, vec_id long",
    )
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "query_id long, vec_id long",
    )
    got = {r.query_id: r for r in ann_recall_at_k(approx, exact, k=3).collect()}
    assert got[1].n_hits == 2 and abs(got[1].recall_at_k - 2 / 3) < 1e-6
    assert got[2].n_hits == 3 and got[2].recall_at_k == 1.0


def test_contamination_check(spark):
    from obsplus_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares 4-grams
            (2, "totally unrelated words in this doc"),
            (3, "alpha beta gamma delta"),                # exactly one 4-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_shared for r in contamination_check(corpus, bench, n=4).collect()}
    # doc 1 shares 'a b g d' and 'b g d e' → 2; doc 3 shares 1; doc 2 absent
    assert got == {1: 2, 3: 1}


def test_packing_plan(spark):
    from obsplus_spark.operators.text import packing_plan

    df = spark.createDataFrame(
        [(i, "w " * 100) for i in range(20)], "doc_id long, text string"
    )
    out = packing_plan(df, context_len=250, n_groups=2).collect()
    rows = {r.doc_id: r for r in out}
    assert len(rows) == 20
    # offsets always within the context window; bins monotone per group
    by_grp = {}
    for r in sorted(out, key=lambda r: (r.grp, r.doc_id)):
        assert 0 <= r.bin_offset < 250
        assert r.n_tokens == 100
        prev = by_grp.get(r.grp)
        if prev is not None:
            assert r.bin >= prev
        by_grp[r.grp] = r.bin
    # cumulative consistency: bin*250 + offset == tokens before the doc
    seen = {}
    for r in sorted(out, key=lambda r: (r.grp, r.doc_id)):
        expect = seen.get(r.grp, 0)
        assert r.bin * 250 + r.bin_offset == expect
        seen[r.grp] = expect + r.n_tokens


def test_dedup_clusters_lazy_checkpoint_bounds_lineage(spark):
    """A 30-round lazy propagation with checkpoint_every=8 must (a) still
    produce the exact fixed point and (b) carry a bounded logical plan —
    the un-checkpointed chain's plan grows linearly with rounds and its
    analysis cost quadratically."""
    from obsplus_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id1 long, id2 long",
    )
    deep = dedup_clusters(
        pairs, max_iterations=30, check_convergence=False, checkpoint_every=8
    )
    got = {(r.id, r.cluster_id) for r in deep.collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (20, 20), (21, 20),
    }
    plain = dedup_clusters(
        pairs, max_iterations=30, check_convergence=False, checkpoint_every=0
    )
    n_deep = deep._jdf.queryExecution().optimizedPlan().toString().count("\n")
    n_plain = plain._jdf.queryExecution().optimizedPlan().toString().count("\n")
    # last checkpoint at round 24 → ≤6 rounds of lineage vs 30
    assert n_deep < n_plain / 2, (n_deep, n_plain)


def test_chunk_text_windows(spark):
    from obsplus_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),   # 10 toks → 1 chunk
            (2, " ".join(f"w{i}" for i in range(4))),    # exactly chunk size
            (3, " ".join(f"w{i}" for i in range(9))),    # 4,3 stride → 3 chunks
            (4, ""),                                     # empty → 1 empty chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_text(docs, chunk_tokens=4, overlap_tokens=1)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: starts 0,3,6 (ceil((10-4)/3)=2 → last 6); window at 9 adds nothing new
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert rows[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert rows[(1, 1)].chunk_text == "w3 w4 w5 w6"
    assert rows[(1, 2)].chunk_text == "w6 w7 w8 w9"
    # doc 2: one full chunk
    assert {k for k in rows if k[0] == 2} == {(2, 0)}
    assert rows[(2, 0)].n_chunk_tokens == 4
    # doc 3: 9 toks → starts 0,3,6; last chunk short
    assert rows[(3, 2)].chunk_text == "w6 w7 w8"
    assert rows[(3, 2)].n_chunk_tokens == 3
    # doc 4: one empty chunk
    assert rows[(4, 0)].chunk_text == "" and rows[(4, 0)].n_chunk_tokens == 0
    # overlap invariant: consecutive chunks share exactly `overlap` tokens
    a, b = rows[(1, 0)].chunk_text.split(), rows[(1, 1)].chunk_text.split()
    assert a[-1:] == b[:1]


def test_chunk_text_rejects_bad_overlap(spark):
    from obsplus_spark.operators.text import chunk_text

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_text(docs, chunk_tokens=4, overlap_tokens=4)


def test_vocab_top_tokens_counts(spark):
    from obsplus_spark.operators.text import vocab_top_tokens

    docs = spark.createDataFrame(
        [
            (1, "the cat and the hat"),
            (2, "THE cat"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r.token: (r.n_occurrences, r.n_docs)
           for r in vocab_top_tokens(docs, k=10).collect()}
    assert out["the"] == (3, 2)     # lowercased; 2 in doc1 + 1 in doc2
    assert out["cat"] == (2, 2)
    assert out["hat"] == (1, 1)
    assert "" not in out            # whitespace-only doc contributes nothing
    top2 = [r.token for r in vocab_top_tokens(docs, k=2).collect()]
    assert top2 == ["the", "cat"]   # count desc, then token asc


def test_pii_scrub_classes_and_order(spark):
    from obsplus_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex.org now"),
            (2, "server 10.0.3.44 up, call +1 (555) 010-1234 today"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].text == "mail <EMAIL> now"
    assert (rows[1].n_email, rows[1].n_pii) == (1, 1)
    # ipv4 class wins the dotted quad (runs before the permissive phone)
    assert "<IPV4>" in rows[2].text and "<PHONE>" in rows[2].text
    assert (rows[2].n_ipv4, rows[2].n_phone) == (1, 1)
    assert rows[3].text == "clean text only" and rows[3].n_pii == 0


def test_tf_idf_top_terms_values(spark):
    from obsplus_spark.operators.text import tf_idf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry durian"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = tf_idf_top_terms(df, k=2).collect()
    rows = {(r.doc_id, r.token): r for r in out}
    # N=4 docs (blank doc counts toward N but emits no terms)
    assert 4 not in {r.doc_id for r in out}
    # doc 1: apple tf=2 df=1 → 2·ln4 ; banana tf=1 df=2 → ln2
    r = rows[(1, "apple")]
    assert r.tf == 2 and r.df_docs == 1 and r.rank == 1
    assert r.tfidf == round(2 * math.log(4.0), 6)
    assert rows[(1, "banana")].tfidf == round(math.log(2.0), 6)
    # per-doc cap at k
    for d in (1, 2, 3):
        assert sum(1 for (doc, _t) in rows if doc == d) <= 2


def test_unigram_logprob_values(spark):
    from obsplus_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b"), (3, "  ")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in unigram_logprob(df).collect()}
    # corpus: a×2, b×2, total 4 → P(a)=P(b)=0.5 → 1 bit/token everywhere
    assert set(out) == {1, 2}
    assert out[1].n_tokens == 3 and out[1].bits_per_token == 1.0
    assert out[2].n_tokens == 1 and out[2].bits_per_token == 1.0


def test_mixture_plan_rates(spark):
    from obsplus_spark.operators.text import mixture_plan

    df = spark.createDataFrame(
        [
            (1, "w " * 10, "a"),   # 10 tokens
            (2, "w " * 30, "b"),   # 30 tokens
            (3, "w " * 10, "b"),   # 40 total for b
            (4, "w", "c"),         # unweighted source
        ],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in
           mixture_plan(df, {"a": 0.5, "b": 0.25}, 20).collect()}
    # a: 10 tokens, share 0.5·20=10 → rate 1.0, expected 10
    assert out["a"].n_tokens == 10 and out["a"].sample_rate == 1.0
    assert out["a"].expected_tokens == 10
    # b: 40 tokens, share 5 → rate 0.125, expected 5
    assert out["b"].n_docs == 2 and out["b"].n_tokens == 40
    assert out["b"].sample_rate == 0.125
    assert out["b"].expected_tokens == 5
    # c: weight 0 → rate 0, expected 0
    assert out["c"].weight == 0.0 and out["c"].expected_tokens == 0


def test_boilerplate_ngram_stats(spark):
    from obsplus_spark.operators.dedup import boilerplate_ngram_stats

    footer = "all rights reserved"
    df = spark.createDataFrame(
        [
            (1, "unique alpha text one " + footer),
            (2, "other beta words here " + footer),
            (3, "third gamma sentence now " + footer),
            (4, "nothing shared at all whatsoever"),
            (5, "ab"),  # < n tokens → zero grams
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           boilerplate_ngram_stats(df, n=3, min_docs=3).collect()}
    assert len(out) == 5
    # only the footer's single full 3-gram appears in ≥3 docs
    for d in (1, 2, 3):
        assert out[d].n_boiler == 1
        assert out[d].boiler_frac == round(1 / out[d].n_grams, 6)
    assert out[4].n_boiler == 0 and out[4].boiler_frac == 0.0
    assert out[5].n_grams == 0 and out[5].boiler_frac == 0.0


def test_hard_negatives_excludes_same_label(spark):
    from obsplus_spark.operators.similarity import hard_negatives

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.1], 0),   # same label as query → excluded
            (3, [0.9, 0.2], 1),
            (4, [0.0, 1.0], 1),
            (5, [-1.0, 0.0], 2),
        ],
        ["vec_id", "embedding", "label"],
    )
    q = vecs.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = hard_negatives(vecs, q, k=2).collect()
    ids = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert ids == [3, 4]           # 2 skipped (same label), 5 too far
    assert all(r.label != 0 for r in out)


# ---------------------------------------------------------------------------
# round-5 additions: k-means refinement, BPE pair counts, posting lists
# ---------------------------------------------------------------------------


def test_kmeans_refine_stats_two_obvious_clusters(spark):
    from obsplus_spark.operators.similarity import kmeans_refine_stats

    # seeds are the 2 lowest ids — one per axis; the remaining vectors
    # split by cosine onto their axis (exact, no near-ties)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.1, 0.9]),
        (4, [0.8, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_refine_stats(df, n_clusters=2).collect()
    assert len(out) == 2 * 2  # clusters x dims
    got = {(r.cluster, r.dim): (r.n_members, r.centroid) for r in out}
    # cluster 1 = {0, 2, 4}: mean dim0 = (1.0+0.9+0.8)/3 = 0.9
    assert got[(1, 0)] == (3, 0.9)
    assert got[(1, 1)][1] == pytest.approx(0.1 / 3, abs=1e-6)
    # cluster 2 = {1, 3}: mean dim1 = (1.0+0.9)/2 = 0.95
    assert got[(2, 1)] == (2, 0.95)


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from obsplus_spark.operators.text import bpe_pair_counts

    # "abab" once, "ab" three times across docs:
    #   pair "ab": in-word counts 2 (abab) + 1 (ab)x3 -> total 5, n_words 2
    #   pair "ba": 1 (abab) -> total 1
    rows = [(1, "abab ab ab"), (2, "ab x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.pair: (r.n_words, r.total) for r in bpe_pair_counts(df).collect()}
    assert out["ab"] == (2, 5)
    assert out["ba"] == (1, 1)
    assert "x" not in out  # single-char words contribute no pairs


def test_posting_lists_caps_sample_keeps_full_df(spark):
    from obsplus_spark.operators.text import posting_lists

    # "tok" appears in 12 docs; sample_k=3 must cap the list while
    # df_docs still counts all 12; "rare" (2 docs) filtered by min_df
    rows = [(i, "tok filler%d" % i) for i in range(12)]
    rows += [(100, "rare"), (101, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.token: r for r in
           posting_lists(df, min_df=3, sample_k=3).collect()}
    assert list(out) == ["tok"]
    assert out["tok"].df_docs == 12
    assert out["tok"].sample_docs == "0,1,2"  # 3 smallest ids, sorted


def test_pagerank_tiny_graph_hand_computed(spark):
    from obsplus_spark.operators.graph import pagerank

    # 1->2, 1->3, 2->3, 3->1 (deg: 1:2, 2:1, 3:1); 2 iterations, d=0.85:
    # r1 = (1.0, 0.575, 1.425); r2 = (1.36125, 0.575, 1.06375)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    out = pagerank(edges, iterations=2, damping=0.85, k=10).collect()
    assert [(r.node, r.rank) for r in out] == [
        (1, 1.36125),
        (3, 1.06375),
        (2, 0.575),
    ]


def test_gram_hash_array_ignores_edge_whitespace_tokens(spark):
    """trim() strips spaces only — a trailing newline must not create a
    phantom '' token (and thus a phantom n-gram) relative to the
    normalize-then-split tokenization the oracles use."""
    from obsplus_spark.operators.dedup import gram_hash_array

    df = spark.createDataFrame(
        [(1, "a b c d e\n"), (2, "\ta b c d e")],
        "doc_id long, text string",
    )
    out = {r.doc_id: len(r.grams)
           for r in gram_hash_array(df, n=3).collect()}
    assert out == {1: 3, 2: 3}  # 5 tokens -> 3 trigrams, no phantom


def test_pagerank_rejects_zero_iterations(spark):
    import pytest as _pytest

    from obsplus_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)


def test_pii_scrub_respects_text_col_and_validates_names(spark):
    import pytest as _pytest

    from obsplus_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail me at a@b.co")], "doc_id long, body string"
    )
    out = pii_scrub(df, text_col="body")
    assert "body" in out.columns and "text" not in out.columns
    assert out.collect()[0].body == "mail me at <EMAIL>"
    with _pytest.raises(ValueError, match="identifier"):
        pii_scrub(df, text_col="body", patterns={"credit-card": r"[0-9]+"})


def test_duplicate_events_suffix_with_quote_builds(spark):
    """Caller-supplied suffixes land in SQL literals — quotes must be
    escaped, not break the plan."""
    from obsplus_spark.operators.event_tree import SLIM_EVENT_SCHEMA
    from obsplus_spark.operators.surgery import duplicate_events

    rows = [
        ("e1", "d", "o1", None, 1000,
         [("o1", 100, 40.0, -111.0, 5.0)],
         [("m1", 2.0, "ML", "o1")],
         [("p1", 110, "P", None, "UU", "S1", "", "HHZ")]),
    ]
    tree = spark.createDataFrame(rows, SLIM_EVENT_SCHEMA)
    out = duplicate_events(tree, suffix="o'brien")  # no ParseException
    row = out.collect()[0]
    assert row.event_id.startswith("o'brien:")


def test_sessionize_gap_splits_and_stats(spark):
    from obsplus_spark.operators.sessions import user_sessions

    # user 1: [0, 10, 20] then gap 100 -> [120, 125]; user 2: single event
    rows = [(1, 0), (1, 10), (1, 20), (1, 120), (1, 125), (2, 7)]
    ev = spark.createDataFrame(rows, "user_id long, t_ns long")
    out = {r.user_id: r for r in user_sessions(ev, gap_ns=50).collect()}
    assert out[1].n_sessions == 2
    assert out[1].n_events == 5
    assert out[1].longest_session_events == 3
    assert out[1].longest_session_ns == 20
    assert out[2].n_sessions == 1 and out[2].longest_session_ns == 0


def test_funnel_counts_strict_ordering(spark):
    from obsplus_spark.operators.sessions import funnel_counts

    rows = [
        # user 1 completes a->b->c in order
        (1, "a", 0), (1, "b", 5), (1, "c", 9),
        # user 2 has b BEFORE its first a: reaches stage 1 only
        (2, "b", 0), (2, "a", 5),
        # user 3: a then c (no b): stage 1 only; c must not count
        (3, "a", 0), (3, "c", 2),
        # user 4: a and b at the SAME ts -> strict > excludes b
        (4, "a", 3), (4, "b", 3),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, t_ns long")
    out = {r.stage: r.n_users for r in
           funnel_counts(ev, ["a", "b", "c"]).collect()}
    assert out == {1: 4, 2: 1, 3: 1}


def test_cohort_retention_triangle(spark):
    from obsplus_spark.operators.sessions import cohort_retention

    # week length 10: user 1 first seen week 0, active weeks 0 and 2;
    # user 2 first seen week 0, active week 0; user 3 first week 2
    rows = [(1, 5), (1, 25), (2, 9), (3, 20), (3, 29), (1, 7)]
    ev = spark.createDataFrame(rows, "user_id long, t_ns long")
    out = {(r.cohort_week, r.week_offset): r.n_users
           for r in cohort_retention(ev, week_ns=10).collect()}
    assert out == {(0, 0): 2, (0, 2): 1, (2, 0): 1}


def test_rate_zscores_flags_spike(spark):
    from obsplus_spark.operators.sessions import rate_zscores

    # type "a": buckets 0,1,2 with counts 1,1,4 -> mean 2, std sqrt(2)
    rows = ([("a", 5)] + [("a", 15)] + [("a", 25)] * 4 + [("b", 5)])
    ev = spark.createDataFrame(rows, "event_type string, t_ns long")
    out = {(r.event_type, r.bucket): (r.n_events, r.z)
           for r in rate_zscores(ev, bucket_ns=10).collect()}
    import math
    assert out[("a", 2)][0] == 4
    assert out[("a", 2)][1] == round(2 / math.sqrt(2), 6)
    assert out[("b", 0)] == (1, 0.0)  # single bucket -> std 0 -> z 0


def test_action_ngrams_ordering_and_tiebreak(spark):
    from obsplus_spark.operators.sessions import action_ngrams

    # user 1: a(0,id1) b(5,id2) c(5,id3) b(9,id4) -> ties at t=5 break
    # by event_id: sequence a b c b -> trigrams "a b c", "b c b"
    rows = [(1, "a", 1, 0), (1, "c", 3, 5), (1, "b", 2, 5), (1, "b", 4, 9),
            (2, "a", 5, 0), (2, "b", 6, 1)]  # user 2 too short for n=3
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, t_ns long"
    )
    out = {r.ngram: r.n_occurrences
           for r in action_ngrams(ev, n=3, tiebreak_col="event_id").collect()}
    assert out == {"a b c": 1, "b c b": 1}


def test_sql_literal_hardening_braces_and_backslashes(spark):
    """Caller strings containing braces must not be eaten by the
    sql_over alias substitution, and backslashes must survive Spark's
    SQL-literal escape processing."""
    from obsplus_spark.operators.sessions import funnel_counts

    rows = [(1, "promo{1}", 0), (1, r"a\b", 5)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, t_ns long"
    )
    out = {r.event_type: r.n_users
           for r in funnel_counts(ev, ["promo{1}", "a\\b"]).collect()}
    assert out == {"promo{1}": 1, "a\\b": 1}


def test_duplicate_events_suffix_with_backslash(spark):
    from obsplus_spark.operators.event_tree import SLIM_EVENT_SCHEMA
    from obsplus_spark.operators.surgery import duplicate_events

    rows = [
        ("e1", "d", "o1", None, 1000,
         [("o1", 100, 40.0, -111.0, 5.0)],
         [("m1", 2.0, "ML", "o1")],
         [("p1", 110, "P", None, "UU", "S1", "", "HHZ")]),
    ]
    tree = spark.createDataFrame(rows, SLIM_EVENT_SCHEMA)
    row = duplicate_events(tree, suffix="x\\y").collect()[0]
    assert row.event_id.startswith("x\\y:")


def test_snapshot_diff_statuses(spark):
    from obsplus_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B CHANGED"), (4, "d")], "doc_id long, text string"
    )
    out = {r.status: r.n_docs for r in snapshot_diff(old, new).collect()}
    assert out == {"unchanged": 1, "modified": 1, "removed": 1, "added": 1}


def test_tcol_normalizes_long_ns_dates(spark):
    """The r3 breakage class: date columns shipping as TIMESTAMP(NANOS)
    surface as int64 ns under nanosAsLong — _tcol must yield the same
    timestamp a plain-timestamp column gives (a bare CAST would read the
    long as SECONDS)."""
    from corpus import common as m

    ns = 867801600 * 1_000_000_000  # 1997-07-02 00:00:00 UTC
    as_long = spark.createDataFrame([(ns,)], "d long")
    as_ts = spark.sql("SELECT TIMESTAMP '1997-07-02 00:00:00' AS d")
    a = as_long.select(m._tcol(as_long, "d").alias("t")).collect()[0].t
    b = as_ts.select(m._tcol(as_ts, "d").alias("t")).collect()[0].t
    assert a == b
    # µs-aligned ns past 2^53: double division would truncate 1 µs low
    ns2 = 945521262185192000  # = 945521262185192 µs exactly
    df2 = spark.createDataFrame([(ns2,)], "d long")
    t2 = df2.select(m._tcol(df2, "d").alias("t")).collect()[0].t
    assert int(t2.timestamp() * 1e6) in (945521262185192, 945521262185191)
    import datetime
    us = df2.selectExpr("d div 1000 AS us").collect()[0].us
    assert us == 945521262185192


def test_snapshot_diff_null_id_is_removed_not_added(spark):
    from obsplus_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame([(None, "x")], "doc_id long, text string")
    new = spark.createDataFrame([], "doc_id long, text string")
    out = {r.status: r.n_docs for r in snapshot_diff(old, new).collect()}
    assert out == {"removed": 1}


def test_value_histogram_constant_column_single_bin(spark):
    """A zero-width range must land everything in bin 0, not raise
    DIVIDE_BY_ZERO under ANSI mode (and the oracle agrees)."""
    import __spark_entry__ as m
    from obsplus_spark.util import sql_over

    e = spark.createDataFrame([(5.0,), (5.0,)], "value double")
    out = sql_over(
        {"e": e},
        """
        WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM {e}),
        b AS (
          SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                 ELSE CAST(least(floor((value - lo) / ((hi - lo) / 20.0D)),
                                 19.0D) AS BIGINT) END AS bin
          FROM {e} CROSS JOIN s
        )
        SELECT bin, CAST(count(1) AS BIGINT) AS n FROM b GROUP BY bin
        """,
    ).collect()
    assert [(r.bin, r.n) for r in out] == [(0, 2)]


def test_dedup_clusters_default_is_lazy(spark):
    """VERDICT r5 #7: the production default must build the whole
    cluster plan with NO per-round driver action (no convergence
    barrier) — asserted by building under a dedicated job group and
    checking zero jobs ran."""
    from obsplus_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("dc-default-build", "lazy-build probe")
    try:
        out = dedup_clusters(pairs)  # defaults only
        jobs = sc.statusTracker().getJobIdsForGroup("dc-default-build")
        assert jobs == [], f"default mode ran driver actions: {jobs}"
    finally:
        sc.setJobGroup("default", "")
    # and the default still computes the right fixed point
    got = {(r.id, r.cluster_id) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_canonical_docs_survivor_election(spark):
    """Per-cluster survivor: max quality, ties broken by smallest id;
    member counts ride the same aggregate."""
    from obsplus_spark.operators.dedup import canonical_docs

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 1.0), (99, 7.0)],
        "doc_id long, quality double",
    )
    out = sorted(map(tuple, canonical_docs(pairs, docs).collect()))
    # cluster 1: quality tie 9.0 between ids 2,3 -> smaller id 2 wins
    # cluster 10: tie 1.0 between 10,11 -> 10; doc 99 in no pair -> absent
    assert out == [(1, 2, 9.0, 3), (10, 10, 1.0, 2)]


def test_dedup_clusters_truncation_guard_raises(spark):
    """VERDICT r7 #1: an undersized lazy bound must be LOUD, not a
    silently split component. Chain 0-1-...-9 has diameter 9 > default
    bound 6: the default lazy mode must abort at runtime with a message
    naming the bound; ``on_nonconverged='ignore'`` opts back into the
    truncated result; a diameter-safe bound converges exactly."""
    import pytest as _pytest

    from obsplus_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id1 long, id2 long"
    )
    with _pytest.raises(Exception, match="max_iterations=6"):
        dedup_clusters(chain).collect()  # defaults: guard fires
    # explicit opt-in reproduces the (documented) truncated behavior
    trunc = {
        r.id: r.cluster_id
        for r in dedup_clusters(chain, on_nonconverged="ignore").collect()
    }
    assert len(trunc) == 10 and len(set(trunc.values())) > 1
    # diameter-safe bound: guard round is a no-op, exact fixed point
    got = {
        r.id: r.cluster_id
        for r in dedup_clusters(chain, max_iterations=9).collect()
    }
    assert got == {i: 0 for i in range(10)}
    with _pytest.raises(ValueError, match="on_nonconverged"):
        dedup_clusters(chain, on_nonconverged="loud")


def test_dedup_clusters_guard_build_is_action_free(spark):
    """The guard must not reintroduce driver actions at build time —
    same zero-jobs probe as the default-lazy test, now covering the
    guarded plan."""
    from obsplus_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id1 long, id2 long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("dc-guard-build", "guarded lazy-build probe")
    try:
        dedup_clusters(pairs)  # guard on by default; no collect
        jobs = sc.statusTracker().getJobIdsForGroup("dc-guard-build")
        assert jobs == [], f"guarded build ran driver actions: {jobs}"
    finally:
        sc.setJobGroup("default", "")


def test_canonical_docs_inherits_truncation_guard(spark):
    """canonical_docs must not elect survivors off truncated components:
    the guard propagates through, and a safe bound elects the true
    per-component best."""
    import pytest as _pytest

    from obsplus_spark.operators.dedup import canonical_docs

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id1 long, id2 long"
    )
    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "doc_id long, quality double"
    )
    with _pytest.raises(Exception, match="not converged"):
        canonical_docs(chain, docs).collect()
    out = canonical_docs(chain, docs, max_iterations=9).collect()
    assert [(r.cluster_id, r.canonical_id, r.n_members) for r in out] == [
        (0, 9, 10)
    ]


def test_minhash_lane_family_bounds_validated(spark):
    """Regression (r6 review): >16 lanes silently truncated into
    constant/NULL lanes (the 38-char digest supports exactly 16); bands
    not dividing n_hashes silently dropped trailing lanes. Both now
    raise."""
    import pytest as _pytest

    from obsplus_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError):
        minhash_signatures(docs, n_hashes=32)
    sigs = minhash_signatures(docs, n_hashes=16)
    with _pytest.raises(ValueError):
        lsh_candidate_pairs(sigs, n_hashes=16, bands=5)


def test_embedding_near_dup_string_ids_blocked(spark):
    """Regression (r6 review): the blocked gram-matrix path must accept
    string ids (output schema now inherits the input id dtype)."""
    import numpy as np

    from obsplus_spark.operators.similarity import embedding_near_dup

    rng = np.random.RandomState(2)
    base = rng.randn(8)
    rows = [
        ("a", (base + 0.001 * rng.randn(8)).tolist(), 0),
        ("b", (base + 0.001 * rng.randn(8)).tolist(), 0),
        ("c", rng.randn(8).tolist(), 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, label int"
    )
    got = {(r["id1"], r["id2"]) for r in
           embedding_near_dup(df, threshold=0.99, method="blocked").collect()}
    assert got == {("a", "b")}


def test_text_stats_blank_text_zero_tokens(spark):
    """Regression (r6 review): empty/whitespace-only docs must report 0
    tokens (split of '' yields [''] — a phantom token) and NULL ratios."""
    from obsplus_spark.operators.text import text_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text_stats(df).collect()}
    for d in (1, 2):
        assert out[d]["n_tokens"] == 0
        assert out[d]["distinct_ratio"] is None
        assert out[d]["avg_token_len"] is None
    assert out[3]["n_tokens"] == 2
