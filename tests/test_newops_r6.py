"""Round-6 second-wave operators: triangles, CMS heavy hitters, span
dedup, prefix-filtered set-similarity join, PQ codes, winsorized stats,
rolling window sums."""

from __future__ import annotations

import math

import pytest


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge has exactly 2 triangles; per-node counts known."""
    from obsplus_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} without edge (3,4):
    # triangles: (1,2,3), (1,2,4). Node 1: 2, node 2: 2, node 3: 1, node 4: 1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
         (2, 1),  # reverse duplicate
         (3, 3)],  # self loop dropped
        "src long, dst long",
    )
    rows = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert rows == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_no_triangles(spark):
    from obsplus_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert triangle_counts(edges).count() == 0


def test_cms_estimates_upper_bound_and_exact_on_sparse(spark):
    """CMS estimate >= exact count always; equal when no collisions
    (width >> keys)."""
    from obsplus_spark.operators.sketches import cms_counters, cms_estimates

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    counters = cms_counters(df, "k", depth=4, width=4096)
    cand = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "k string")
    est = {r["k"]: r["est"] for r in
           cms_estimates(counters, cand, "k", depth=4, width=4096).collect()}
    assert est["a"] == 5 and est["b"] == 3 and est["c"] == 1
    assert est["zz"] == 0  # absent key, sparse sketch


def test_cms_collisions_only_inflate(spark):
    from obsplus_spark.operators.sketches import cms_counters, cms_estimates

    rows = [(f"k{i}",) for i in range(200) for _ in range(i % 5 + 1)]
    df = spark.createDataFrame(rows, "k string")
    counters = cms_counters(df, "k", depth=2, width=16)  # heavy collisions
    cand = df.distinct()
    est = cms_estimates(counters, cand, "k", depth=2, width=16)
    exact = df.groupBy("k").count()
    joined = est.join(exact, "k").collect()
    assert len(joined) == 200
    assert all(r["est"] >= r["count"] for r in joined)


def test_duplicate_span_mass(spark):
    from obsplus_spark.operators.dedup import duplicate_span_mass

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # grams: 3 distinct
            (2, "the quick brown dog sits"),       # shares 'the quick brown'
            (3, "lone words only here now"),       # no shared grams
            (4, "xx yy"),                          # too short for n=3
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_span_mass(docs, n=3).collect()}
    assert 4 not in out  # no grams
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 3 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0
    assert math.isclose(out[1]["dup_mass"], round(1 / 3, 6), abs_tol=1e-9)


def test_duplicate_span_mass_counts_intra_doc_repeats(spark):
    from obsplus_spark.operators.dedup import duplicate_span_mass

    docs = spark.createDataFrame(
        [(1, "a b c a b c a b")], "doc_id long, text string"
    )
    # tokens: a b c a b c a b -> 6 trigram slots; 'a b c' x2, 'b c a' x2,
    # 'c a b' x2 -> all 6 slots duplicated
    r = duplicate_span_mass(docs, n=3).collect()[0]
    assert r["n_spans"] == 6 and r["n_dup_spans"] == 6
    assert r["dup_mass"] == 1.0


def test_set_similarity_join_exact_pairs(spark):
    """Prefix-filtered join finds exactly the brute-force pairs >= t."""
    from obsplus_spark.operators.dedup import (
        set_similarity_join, shingle_array,
    )

    docs = spark.createDataFrame(
        [
            (1, "w0 w1 w2 w3 w4 w5 w6 w7"),
            (2, "w0 w1 w2 w3 w4 w5 w6 zz"),   # high overlap with 1
            (3, "a0 a1 a2 a3 a4 a5 a6 a7"),   # disjoint
            (4, "w0 w1 w2 aa bb cc dd ee"),   # low overlap with 1
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in set_similarity_join(docs, threshold=0.5).collect()
    }
    # brute force over shingle string sets
    sh = {r["doc_id"]: set(r["shingles"])
          for r in shingle_array(docs, n=3, out_col="shingles").collect()}
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            j = inter / len(sh[a] | sh[b])
            if j >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert got == expect
    assert (1, 2) in got and (1, 3) not in got and (1, 4) not in got


def test_set_similarity_join_threshold_validation(spark):
    from obsplus_spark.operators.dedup import set_similarity_join

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        set_similarity_join(docs, threshold=0.0)


def test_pq_encode_shape_and_self_codes(spark):
    """Seed vectors encode to their own code in every subspace; shape is
    m rows per vector."""
    from obsplus_spark.operators.similarity import pq_encode

    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_encode(df, m=4, n_codes=4).collect()
    assert len(out) == 12 * 4
    by_vec = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    # seeds are vec_ids 0..3 -> code == vec_id for every subspace
    for seed in range(4):
        assert all(by_vec[seed][s] == seed for s in range(4))
    # codes within range
    assert all(0 <= c <= 3 for m_ in by_vec.values() for c in m_.values())


def test_pq_encode_matches_numpy_argmin(spark):
    from obsplus_spark.operators.similarity import pq_encode

    import numpy as np

    rng = np.random.RandomState(3)
    mat = rng.randn(20, 16).astype(np.float32)
    rows = [(i, mat[i].tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_encode(df, m=4, n_codes=4).collect()
    seeds = mat[:4].astype(np.float64)
    X = mat.astype(np.float64)
    for r in out:
        s = r["sub"]
        sub = X[r["vec_id"], s * 4:(s + 1) * 4]
        d = ((seeds[:, s * 4:(s + 1) * 4] - sub) ** 2).sum(axis=1).round(9)
        assert r["code"] == int(np.argmin(d))


def test_winsorized_stats_hand_case(spark):
    from obsplus_spark.operators.sessions import winsorized_stats

    # one key, values 1..20: lo = ceil(.05*20)=rank1 -> 1.0,
    # hi = ceil(.95*20)=rank19 -> 19.0; clamp turns 20 -> 19
    rows = [("k", float(i), i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    r = winsorized_stats(df, "k", "v", "id").collect()[0]
    assert r["n"] == 20 and r["lo"] == 1.0 and r["hi"] == 19.0
    assert r["n_low"] == 0 and r["n_high"] == 1
    expect_mean = round((sum(range(1, 20)) + 19) / 20, 6)
    assert math.isclose(r["w_mean"], expect_mean, abs_tol=1e-9)


def test_winsorized_stats_approx_mode_same_schema(spark):
    from obsplus_spark.operators.sessions import winsorized_stats

    rows = [("k", float(i), i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    exact = winsorized_stats(df, "k", "v", "id", exact=True)
    approx = winsorized_stats(df, "k", "v", "id", exact=False)
    assert exact.columns == approx.columns
    a = approx.collect()[0]
    # on 100 distinct values the KLL sketch at accuracy 10000 is exact
    assert a["lo"] == 5.0 and a["hi"] == 95.0


def test_winsorized_stats_validates_bounds(spark):
    from obsplus_spark.operators.sessions import winsorized_stats

    df = spark.createDataFrame([("k", 1.0, 1)], "k string, v double, id long")
    with pytest.raises(ValueError):
        winsorized_stats(df, "k", "v", "id", lower=0.9, upper=0.1)


def test_rolling_window_sums_gap_aware(spark):
    from obsplus_spark.operators.sessions import rolling_window_sums

    rows = [("k", 0, 1.0), ("k", 1, 2.0), ("k", 9, 5.0), ("k", 10, 7.0)]
    df = spark.createDataFrame(rows, "k string, day long, v double")
    out = {r["day"]: r for r in
           rolling_window_sums(df, "k", "day", "v", window=7).collect()}
    assert out[0]["mw_sum"] == 1.0 and out[0]["mw_n"] == 1
    assert out[1]["mw_sum"] == 3.0 and out[1]["mw_n"] == 2
    # day 9: window covers days 3..9 -> only day 9 (gap handled, days 0-1 out)
    assert out[9]["mw_sum"] == 5.0 and out[9]["mw_n"] == 1
    assert out[10]["mw_sum"] == 12.0 and out[10]["mw_n"] == 2
    assert out[10]["mw_avg"] == 6.0


def test_rolling_window_sums_validates(spark):
    from obsplus_spark.operators.sessions import rolling_window_sums

    df = spark.createDataFrame([("k", 0, 1.0)], "k string, day long, v double")
    with pytest.raises(ValueError):
        rolling_window_sums(df, "k", "day", "v", window=0)


def test_salted_join_matches_plain_join(spark):
    from obsplus_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 99), (3, 7)], "k long, v long"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "d")], "k long, name string"
    )
    got = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_join(big, dim, "k", salt=4).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["name"]) for r in big.join(dim, "k").collect()
    )
    assert got == want


def test_salted_join_left_keeps_unmatched_big_rows_once(spark):
    from obsplus_spark.operators.joins import salted_join

    big = spark.createDataFrame([(1, 10), (9, 90)], "k long, v long")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    rows = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_join(big, dim, "k", salt=4, how="left").collect()
    )
    assert rows == [(1, 10, "a"), (9, 90, None)]


def test_salted_join_validations(spark):
    from obsplus_spark.operators.joins import salted_join

    big = spark.createDataFrame([(1, 10)], "k long, v long")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    with pytest.raises(ValueError):
        salted_join(big, dim, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(big, dim, "k", salt=1)


def test_pmi_collocations_hand_case(spark):
    import math as _math

    from obsplus_spark.operators.text import pmi_collocations

    # "x y" always adjacent; "a" spread out. 4 docs of "x y a".
    docs = spark.createDataFrame(
        [(i, "x y a") for i in range(4)], "doc_id long, text string"
    )
    out = {(r["tok_a"], r["tok_b"]): r for r in
           pmi_collocations(docs, window=3, min_count=2, k=10).collect()}
    # tokens per doc: x y a -> pairs within window 3: (x,y),(a,x),(a,y)
    # each 4 times; unigrams all 4; total 12
    assert set(out) == {("x", "y"), ("a", "x"), ("a", "y")}
    r = out[("x", "y")]
    assert r["n_pair"] == 4 and r["n_a"] == 4 and r["n_b"] == 4
    assert _math.isclose(
        r["pmi"], round(_math.log(4 * 12 / (4 * 4)), 6), abs_tol=1e-9
    )


def test_pmi_collocations_window_limits_pairs(spark):
    from obsplus_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "p q r s t u") for i in range(3)], "doc_id long, text string"
    )
    out = {(r["tok_a"], r["tok_b"]) for r in
           pmi_collocations(docs, window=1, min_count=1, k=100).collect()}
    # window=1: adjacent pairs only
    assert out == {("p", "q"), ("q", "r"), ("r", "s"), ("s", "t"), ("t", "u")}


def test_pmi_collocations_validates(spark):
    from obsplus_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        pmi_collocations(docs, window=0)


def test_rank_transform_hand_case(spark):
    from obsplus_spark.operators.sessions import rank_transform

    rows = [("k", float(v), i) for i, v in enumerate([10, 20, 30, 40, 50])]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    out = {r["id"]: r for r in
           rank_transform(df, "k", "v", "id", buckets=10).collect()}
    assert out[0]["pct_rank"] == 0.0 and out[4]["pct_rank"] == 1.0
    assert out[2]["pct_rank"] == 0.5
    # buckets: ((rn-1)*10) div 5 -> 0,2,4,6,8
    assert [out[i]["bucket"] for i in range(5)] == [0, 2, 4, 6, 8]


def test_rank_transform_singleton_and_ties(spark):
    from obsplus_spark.operators.sessions import rank_transform

    df = spark.createDataFrame(
        [("a", 5.0, 1), ("b", 7.0, 2), ("b", 7.0, 3)],
        "k string, v double, id long",
    )
    out = {(r["k"], r["id"]): r for r in
           rank_transform(df, "k", "v", "id").collect()}
    assert out[("a", 1)]["pct_rank"] == 0.0  # singleton group
    # tie broken by id: id=2 ranks first
    assert out[("b", 2)]["pct_rank"] == 0.0
    assert out[("b", 3)]["pct_rank"] == 1.0


def test_source_divergence_identical_sources_zero_kl(spark):
    from obsplus_spark.operators.text import source_divergence

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_divergence(docs).collect()}
    assert out["s1"]["kl"] == 0.0 and out["s2"]["kl"] == 0.0
    assert out["s1"]["n_tokens"] == 3 and out["s1"]["n_distinct_tokens"] == 3


def test_source_divergence_skewed_source_positive(spark):
    import math as _math

    from obsplus_spark.operators.text import source_divergence

    docs = spark.createDataFrame(
        [(1, "x x x x", "skew"), (2, "x y", "mix")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_divergence(docs).collect()}
    # corpus: x=5, y=1, N=6. skew: p(x)=1 -> kl = ln(1/(5/6)) = ln(6/5)
    assert _math.isclose(
        out["skew"]["kl"], round(_math.log(6 / 5), 6), abs_tol=1e-9
    )
    assert out["mix"]["kl"] > 0.0


def test_ivf_pq_exhaustive_equals_bruteforce(spark):
    """With nprobe = n_clusters and rerank >= corpus, IVF-PQ degrades to
    exact search: the ADC stage reorders but the exact re-rank covers
    everything."""
    import numpy as np

    from obsplus_spark.operators.similarity import ivf_pq_topk

    rng = np.random.RandomState(5)
    mat = rng.randn(40, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in (7, 9)],
        "query_id long, query_vec array<float>",
    )
    out = ivf_pq_topk(
        df, n_clusters=4, nprobe=4, m=4, n_codes=4, rerank=40, k=5,
        queries=qs,
    ).collect()
    X = mat.astype(np.float64)
    for qid in (7, 9):
        d = ((X - X[qid]) ** 2).sum(axis=1).round(6)
        want = sorted(range(40), key=lambda i: (d[i], i))[:5]
        got = [r["vec_id"] for r in
               sorted((r for r in out if r["query_id"] == qid),
                      key=lambda r: r["rank"])]
        assert got == want


def test_ivf_pq_prunes_and_stays_sane(spark):
    """With real pruning (nprobe < n_clusters, small rerank) every query
    still returns k rows, ranks 1..k, and its own id first (self hit —
    the query vectors are corpus members)."""
    import numpy as np

    from obsplus_spark.operators.similarity import ivf_pq_topk

    rng = np.random.RandomState(11)
    mat = rng.randn(60, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in (12, 33)],
        "query_id long, query_vec array<float>",
    )
    out = ivf_pq_topk(
        df, n_clusters=4, nprobe=2, m=4, n_codes=4, rerank=16, k=4,
        queries=qs,
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4]
        assert rows[0]["vec_id"] == qid and rows[0]["l2_sq"] == 0.0


def test_ivf_pq_validates_rerank(spark):
    from obsplus_spark.operators.similarity import ivf_pq_topk

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        ivf_pq_topk(df, rerank=2, k=4, queries=df)


def test_incremental_candidates_match_full_lsh(spark):
    """Batch candidates (new×new ∪ new×index) == full-corpus LSH pairs
    restricted to pairs touching the batch."""
    from obsplus_spark.operators.dedup import (
        incremental_candidate_pairs,
        lsh_band_index,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(12):
        # clusters of 3 near-identical docs
        rows.append((i, base + f" variant {i // 3}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter("doc_id % 3 = 0")
    old = docs.filter("doc_id % 3 != 0")

    index = lsh_band_index(old, n_hashes=8, bands=2)
    got = sorted(
        (r["id1"], r["id2"])
        for r in incremental_candidate_pairs(
            new, index, n_hashes=8, bands=2
        ).collect()
    )
    full = lsh_candidate_pairs(
        minhash_signatures(docs, n_hashes=8), n_hashes=8, bands=2
    )
    want = sorted(
        (r["id1"], r["id2"])
        for r in full.collect()
        if r["id1"] % 3 == 0 or r["id2"] % 3 == 0
    )
    assert got == want and len(got) > 0


def test_set_similarity_join_exact_boundary_pair_kept(spark):
    """Regression (r6 review): a pair whose Jaccard is EXACTLY the
    threshold must be emitted — the PPJoin ceil() bounds previously
    rounded the rational t/(1+t) bound UP in DECIMAL arithmetic and
    pruned it (t=0.2, sizes 10/2, intersection 2 -> J == 0.2)."""
    from obsplus_spark.operators.dedup import set_similarity_join

    toks = [f"w{i:02d}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[:4]))],
        "doc_id long, text string",
    )
    got = {(r["id1"], r["id2"]): (r["n_inter"], r["n1"], r["n2"])
           for r in set_similarity_join(
               docs, threshold=0.2, persist_shingles=False
           ).collect()}
    assert got == {(1, 2): (2, 10, 2)}


# --- r6 third wave: linear quality classifier + DSIR importance ---


def _py_bucket(tok: str, dims: int) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dims


def _py_weight(tok: str, dims: int) -> float:
    return (_py_bucket(tok, dims) * 2654435761 % 4096) / 4096.0 - 0.5


def test_linear_quality_matches_python_model(spark):
    from obsplus_spark.operators.text import linear_quality_score

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark spark spark"),
        (3, "   "),  # blank: dropped
        (4, "one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in linear_quality_score(df, dims=64).collect()
    }
    assert 3 not in got
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        if not toks:
            continue
        margin = sum(_py_weight(t, 64) for t in toks) / math.sqrt(len(toks))
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["margin"] == pytest.approx(round(margin, 6), abs=1e-9)
        score = 1.0 / (1.0 + math.exp(-margin))
        assert r["score"] == pytest.approx(round(score, 6), abs=1e-9)
        assert r["keep"] == (score > 0.5)


def test_linear_quality_sum_is_exact_across_order(spark):
    # weights are multiples of 2^-12, so the fold is order-independent
    # (exact binary sums) — permuting tokens must reproduce the margin
    from obsplus_spark.operators.text import linear_quality_score

    toks = ["alpha", "beta", "gamma", "delta", "epsilon"] * 7
    fwd = " ".join(toks)
    rev = " ".join(reversed(toks))
    df = spark.createDataFrame([(1, fwd), (2, rev)], ["doc_id", "text"])
    a, b = sorted(
        linear_quality_score(df, dims=32).collect(),
        key=lambda r: r["doc_id"],
    )
    assert a["margin"] == b["margin"]
    assert a["score"] == b["score"]


def test_dsir_importance_matches_python_model(spark):
    from obsplus_spark.operators.text import dsir_importance

    rows = [
        (1, "tgt", "alpha beta alpha"),
        (2, "tgt", "alpha gamma"),
        (3, "other", "delta delta epsilon"),
        (4, "other", "alpha delta"),
        (5, "other", "  "),  # blank: absent from output
    ]
    dims = 16
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["doc_id"]: r
        for r in dsir_importance(
            df, target_value="tgt", group_col="source", dims=dims
        ).collect()
    }
    assert 5 not in got
    # python model over hashed buckets
    all_cnt: dict = {}
    tgt_cnt: dict = {}
    for _, src, text in rows:
        for t in text.strip().lower().split():
            b = _py_bucket(t, dims)
            all_cnt[b] = all_cnt.get(b, 0) + 1
            if src == "tgt":
                tgt_cnt[b] = tgt_cnt.get(b, 0) + 1
    t_all = sum(all_cnt.values())
    t_tgt = sum(tgt_cnt.values())
    for doc_id, _, text in rows:
        toks = text.strip().lower().split()
        if not toks:
            continue
        lw = sum(
            math.log(
                ((tgt_cnt.get(_py_bucket(t, dims), 0) + 1) / (t_tgt + dims))
                / ((all_cnt[_py_bucket(t, dims)] + 1) / (t_all + dims))
            )
            for t in toks
        )
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["log_weight"] == pytest.approx(round(lw, 6), abs=1e-6)


def test_dsir_target_like_docs_rank_higher(spark):
    from obsplus_spark.operators.text import dsir_importance

    rows = [(i, "tgt", "wiki facts article") for i in range(5)] + [
        (10, "web", "wiki facts article"),   # looks like target
        (11, "web", "buy cheap pills now"),  # does not
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_importance(
            df, target_value="tgt", group_col="source", dims=64
        ).collect()
    }
    assert got[10] > got[11]


def test_semantic_dedup_hand_case(spark):
    """Two tight groups far apart: seeds = first 2 ids; in-group
    near-identical vectors flag against the smallest group member."""
    from obsplus_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),     # seed / centroid A, keeper
        (1, [0.0, 1.0, 0.0]),     # seed / centroid B, keeper
        (2, [0.99, 0.01, 0.0]),   # dup of 0
        (3, [0.98, 0.02, 0.0]),   # dup of 0 (min-id rule, not of 2)
        (4, [0.0, 0.97, 0.03]),   # dup of 1
        (5, [0.0, 0.0, 1.0]),     # assigned somewhere, no near neighbor
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, n_clusters=2, threshold=0.9).collect()
    }
    assert len(out) == 6
    assert not out[0]["is_dup"] and out[0]["dup_of"] is None
    assert not out[1]["is_dup"]
    assert out[2]["is_dup"] and out[2]["dup_of"] == 0
    assert out[3]["is_dup"] and out[3]["dup_of"] == 0
    assert out[4]["is_dup"] and out[4]["dup_of"] == 1
    assert not out[5]["is_dup"]


def test_semantic_dedup_exact_matches_blocked(spark):
    """The JVM expression path and the BLAS gram path agree."""
    from obsplus_spark.operators.similarity import semantic_dedup

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(
        semantic_dedup(df, n_clusters=3, threshold=0.5,
                       method="blocked").collect()
    )
    b = sorted(
        semantic_dedup(df, n_clusters=3, threshold=0.5,
                       method="exact").collect()
    )
    assert a == b


def test_bm25_matches_python_model(spark):
    from obsplus_spark.operators.text import bm25_scores

    rows = [
        (1, "spark join spark merge"),
        (2, "merge sort merge merge"),
        (3, "vector"),
        (4, "nothing relevant here"),
        (5, ""),
    ]
    terms = ["spark", "merge"]
    k1, b = 1.2, 0.75
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_scores(df, terms, k=10, k1=k1, b=b).collect()
    # python model (N counts every doc incl. blank; avgdl over all)
    toks = {i: t.strip().lower().split() for i, t in rows}
    n = float(len(rows))
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    exp = {}
    for i, v in toks.items():
        s = 0.0
        matched = False
        for t in terms:
            tf = float(v.count(t))
            if tf > 0:
                matched = True
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if matched:
            exp[i] = round(s, 6)
    assert {r["doc_id"]: r["score"] for r in got} == pytest.approx(exp)
    # ranked by score desc
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_bm25_validates(spark):
    from obsplus_spark.operators.text import bm25_scores

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(df, [])
    with pytest.raises(ValueError, match="unsupported"):
        bm25_scores(df, ["a'b"])


def test_weighted_sample_matches_python_model(spark):
    from obsplus_spark.operators.dedup import weighted_sample

    import hashlib

    rows = [(i, float(w) if w is not None else None) for i, w in
            [(1, 10), (2, 1), (3, 1000), (4, 5), (5, 0), (6, None)]]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, "w", k=3, id_col="doc_id").collect()

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0  # strictly inside (0, 1)
        return u ** (1.0 / w)

    exp = sorted(
        ((key(i, w), i, w) for i, w in rows if w),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert [(r["doc_id"], r["w"]) for r in got] == [
        (i, w) for _, i, w in exp
    ]
    for r, (kk, _, _) in zip(got, exp):
        assert r["sample_key"] == pytest.approx(kk, rel=1e-12)
    # zero/NULL weights never sampled
    assert all(r["doc_id"] not in (5, 6) for r in got)


def test_weighted_sample_subset_consistent(spark):
    """Hash-derived keys are per-row facts: a row's sample_key is
    identical whether computed over the full frame or any subset —
    the incremental-pipeline property rand() sampling lacks."""
    from obsplus_spark.operators.dedup import weighted_sample

    rows = [(i, float(1 + i % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    full = {
        r["doc_id"]: r["sample_key"]
        for r in weighted_sample(df, "w", k=100).collect()
    }
    sub = {
        r["doc_id"]: r["sample_key"]
        for r in weighted_sample(
            df.filter("doc_id % 2 = 0"), "w", k=100
        ).collect()
    }
    assert sub == {i: k for i, k in full.items() if i % 2 == 0}


def test_weighted_sample_validates(spark):
    from obsplus_spark.operators.dedup import weighted_sample

    df = spark.createDataFrame([(1, 1.0)], "doc_id long, w double")
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "w", k=0)


def test_bpe_apply_hand_case(spark):
    from obsplus_spark.operators.text import bpe_apply

    df = spark.createDataFrame(
        [(1, "spark sparks park"), (2, "aaaa"), (3, " ")],
        ["doc_id", "text"],
    )
    merges = [("s", "p"), ("a", "r"), ("ar", "k"), ("sp", "ark"),
              ("a", "a")]
    out = {r["doc_id"]: r for r in bpe_apply(df, merges).collect()}
    assert 3 not in out  # blank doc dropped
    # 'spark' → sp a r k → sp ar k → sp ark → spark (1 token)
    # 'sparks' → spark s? no: sp ark s → 'sp'+'ark' merges to 'spark'?
    # merge ('sp','ark') needs 'sp ark' adjacency: s p a r k s →
    # sp a r k s → sp ar k s → sp ark s → spark? ('sp','ark') gives
    # 'spark s' → 2 tokens. 'park' → p ar k → p ark (2 tokens).
    assert out[1]["n_words"] == 3
    assert out[1]["n_bpe_tokens"] == 1 + 2 + 2
    enc = out[1]["head_encoding"].split(" | ")
    assert enc == ["spark", "spark s", "p ark"]
    # greedy leftmost non-overlapping: a a a a → aa aa (one pass)
    assert out[2]["head_encoding"] == "aa aa"
    assert out[2]["n_bpe_tokens"] == 2


def test_bpe_apply_validates(spark):
    from obsplus_spark.operators.text import bpe_apply

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="non-empty"):
        bpe_apply(df, [])
    with pytest.raises(ValueError, match="alphanumeric"):
        bpe_apply(df, [("a", ".")])


def test_bfs_distances_hand_graph(spark):
    from obsplus_spark.operators.graph import bfs_distances

    # path 1→2→3→4→5 plus shortcut 1→4; multi-source adds 10→3
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (10, 3)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1, 10], max_hops=3).collect()
    }
    # 4 reachable via shortcut in 1 hop (min over paths); 3 via source 10
    assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 1, 5: 2}


def test_bfs_distances_bounded_and_validates(spark):
    from obsplus_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, [1], max_hops=1).collect()
    }
    assert got == {1: 0, 2: 1}  # 3 and 4 beyond the bound
    # hop 0 = just the seeds
    assert {r["node"] for r in
            bfs_distances(edges, [1], max_hops=0).collect()} == {1}
    with pytest.raises(ValueError, match="non-empty"):
        bfs_distances(edges, [])
    with pytest.raises(ValueError, match="max_hops"):
        bfs_distances(edges, [1], max_hops=-1)


def test_bfs_distances_string_nodes_and_cycles(spark):
    from obsplus_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, ["a"], max_hops=4).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2}  # cycle does not inflate dists
