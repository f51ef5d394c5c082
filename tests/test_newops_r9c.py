"""Round-9 session-4 operator wave: corpus-health diagnostics
(prefix-template clusters, Zipf fit, language mix, per-class embedding
outliers) and the remaining classic TPC-H query shapes. Oracle parity
runs through tools/check.py; these tests pin the operator semantics on
hand-built frames where the expected values are derivable by hand (or
numpy for the OLS fit)."""

import math

import pytest


# ---------------------------------------------------------------- text


def test_prefix_templates_cluster_and_filters(spark):
    from obsplus_spark.operators.text import prefix_template_clusters

    tpl = "cookie banner accept terms privacy policy click here"
    docs = spark.createDataFrame(
        [
            (1, tpl + " body one", "A"),
            (2, tpl + " a totally different body", "B"),
            (3, "\t" + tpl + " whitespace variant\n", "A"),
            (4, "unique prefix nothing shared with anything else at all",
             "A"),
            (5, "short doc", "A"),  # < k tokens: dropped
        ],
        "doc_id long, text string, source string",
    )
    rows = prefix_template_clusters(docs, k=8, min_docs=2).collect()
    # only the template cluster survives min_docs (the unique-prefix doc
    # is a singleton)
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 3
    assert r.n_sources == 2
    assert r.example_doc == 1
    assert r.prefix == tpl


def test_prefix_templates_k_bound_and_order(spark):
    from obsplus_spark.operators.text import prefix_template_clusters

    docs = spark.createDataFrame(
        [
            (i, "a b c d e f g h tail%d" % i, "S") for i in range(3)
        ] + [
            (10 + i, "z y x w v u t s tail%d" % i, "S") for i in range(2)
        ],
        "doc_id long, text string, source string",
    )
    rows = prefix_template_clusters(docs, k=8, min_docs=2).collect()
    assert [r.n_docs for r in rows] == [3, 2]


def test_zipf_slope_matches_numpy_polyfit(spark):
    np = pytest.importorskip("numpy")
    from obsplus_spark.operators.text import zipf_slope

    # one source, token k repeated freq[k] times; ranks deterministic
    freqs = {"the": 40, "of": 20, "and": 13, "to": 10, "a": 8, "in": 6}
    text = " ".join(t for t, n in freqs.items() for _ in range(n))
    docs = spark.createDataFrame(
        [(1, text, "S")], "doc_id long, text string, source string"
    )
    row = zipf_slope(docs, top_ranks=100).collect()[0]
    y = np.log(sorted(freqs.values(), reverse=True))
    x = np.log(np.arange(1, len(freqs) + 1))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_ranks == len(freqs)
    assert row.slope == pytest.approx(slope, abs=1e-5)
    assert row.intercept == pytest.approx(intercept, abs=1e-5)
    # a clean Zipf-ish series fits tightly
    assert row.r2 > 0.98


def test_zipf_slope_degenerate_source_nulls(spark):
    from obsplus_spark.operators.text import zipf_slope

    docs = spark.createDataFrame(
        [(1, "lonely", "ONE"), (2, "two two", "TIES")],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in zipf_slope(docs).collect()}
    # single-token vocabulary: no fit
    assert got["ONE"].n_ranks == 1
    assert got["ONE"].slope is None and got["ONE"].r2 is None
    assert got["TIES"].n_ranks == 1


def test_source_language_mix_entropy_and_und(spark):
    from obsplus_spark.operators.text import source_language_mix

    docs = spark.createDataFrame(
        [
            (1, "aa", "en", "S"),
            (2, "bbb", "en", "S"),
            (3, "c", "de", "S"),
            (4, "dd", None, "S"),  # NULL lang -> 'und'
        ],
        "doc_id long, text string, lang string, source string",
    )
    row = source_language_mix(docs).collect()[0]
    assert (row.n_docs, row.n_langs, row.total_chars) == (4, 3, 8)
    assert row.top_lang == "en"
    assert row.top_share == pytest.approx(0.5)
    # H = log2(4) - (2*1 + 1*0 + 1*0)/4 = 2 - 0.5 = 1.5
    assert row.lang_entropy_bits == pytest.approx(1.5)


def test_source_language_mix_top_lang_tie_breaks_low(spark):
    from obsplus_spark.operators.text import source_language_mix

    docs = spark.createDataFrame(
        [(1, "x", "fr", "S"), (2, "y", "de", "S")],
        "doc_id long, text string, lang string, source string",
    )
    row = source_language_mix(docs).collect()[0]
    assert row.top_lang == "de"  # count tie -> lexicographically first
    assert row.lang_entropy_bits == pytest.approx(1.0)


def test_curation_funnel_cumulative_counts(spark):
    from obsplus_spark.operators.text import curation_funnel

    docs = spark.createDataFrame(
        [
            (1, "good long doc here", "en"),
            (2, "", "en"),            # drops at nonblank
            (3, "only two", "en"),    # drops at min_tokens
            (4, "nice four token doc", None),  # drops at known_lang
            (5, None, "en"),          # NULL text: drops at nonblank
        ],
        "doc_id long, text string, lang string",
    )
    rows = curation_funnel(
        docs,
        [
            ("nonblank", "text IS NOT NULL AND length(trim(text)) > 0"),
            (
                "min_tokens",
                r"size(filter(split(trim(lower(text)), '\\s+'),"
                " t -> t != '')) >= 3",
            ),
            ("known_lang", "lang IS NOT NULL"),
        ],
    ).collect()
    got = [(r.stage, r.n_in, r.n_kept, r.n_dropped) for r in rows]
    assert got == [
        ("nonblank", 5, 3, 2),
        ("min_tokens", 3, 2, 1),
        ("known_lang", 2, 1, 1),
    ]


def test_curation_funnel_validation(spark):
    from obsplus_spark.operators.text import curation_funnel

    df = spark.range(1)
    with pytest.raises(ValueError, match="at least one"):
        curation_funnel(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        curation_funnel(df, [("a", "id > 0"), ("a", "id > 1")])


def test_dup_rate_by_source_contract(spark):
    from obsplus_spark.operators.dedup import duplicate_rate_by_source

    docs = spark.createDataFrame(
        [
            (1, "Same   Content", "A"),   # dup of 2 (normalized)
            (2, "same content", "B"),     # dup of 1 (cross-source)
            (3, "same content", "B"),     # within-source copy
            (4, "unique text b", "B"),
            (5, None, "A"),               # NULL: counted, never dup
            (6, "", "A"),                 # blank digest, singleton here
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in duplicate_rate_by_source(docs).collect()}
    a, b = got["A"], got["B"]
    assert (a.n_docs, a.n_dup_docs) == (3, 1)       # doc 1 only
    assert a.n_unique_texts == 2                    # content + ''
    assert a.n_excess == 0
    assert (b.n_docs, b.n_dup_docs) == (3, 2)       # docs 2, 3
    assert b.n_unique_texts == 2
    assert b.n_excess == 1                          # doc 3
    assert b.dup_rate == pytest.approx(2 / 3, abs=1e-6)


# ---------------------------------------------------------- similarity


def test_embedding_outliers_flags_far_vectors(spark):
    from obsplus_spark.operators.similarity import embedding_outliers

    rows = [
        # label 0: three aligned vectors + one opposed
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.1], 0),
        (3, [1.0, -0.1], 0),
        (4, [-1.0, 0.0], 0),
        # label 1: two aligned
        (5, [0.0, 1.0], 1),
        (6, [0.0, 2.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = {r.vec_id: r for r in embedding_outliers(df, threshold=0.5)
           .collect()}
    assert len(got) == 6
    assert not got[1].is_outlier
    assert got[4].is_outlier
    # centroid of label 0 is (0.5, 0) -> vec 4 cosine = -1
    assert got[4].cos_centroid == pytest.approx(-1.0)
    assert got[5].cos_centroid == pytest.approx(1.0)
    assert not got[6].is_outlier


def test_embedding_outliers_contract_null_empty_zero(spark):
    from obsplus_spark.operators.similarity import embedding_outliers

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, None, 0),        # malformed: excluded
            (4, [], 0),          # malformed: excluded
            (5, [0.0, 0.0], 0),  # zero-norm: VALID, cosine 0
        ],
        "vec_id long, embedding array<double>, label long",
    )
    got = {r.vec_id: r for r in embedding_outliers(df, threshold=0.5)
           .collect()}
    assert set(got) == {1, 2, 5}
    assert got[5].cos_centroid == 0.0
    assert got[5].is_outlier


# --------------------------------------------------------------- tpch


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_ship_delay_dist_bands_bounded(spark, sf_dir):
    from corpus import relational as entry

    rows = entry.q_ship_delay_dist(spark, sf_dir).collect()
    bands = [r.delay_band for r in rows]
    assert bands == sorted(bands)
    assert all(-1 <= b <= 3 for b in bands)
    assert all(r.high_line_count >= 0 and r.low_line_count >= 0
               for r in rows)


def test_nation_value_share_cut(spark, sf_dir):
    from corpus import relational as entry

    rows = entry.q_nation_value_share(spark, sf_dir).collect()
    # every surviving nation holds > 1/20 of the total -> at most 19
    assert 0 < len(rows) <= 19
    vals = [r.value for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_dominant_suppliers_threshold(spark, sf_dir):
    """Dominance is >50% of a multi-supplier part's volume, so a part
    contributes at most ONE dominant supplier."""
    from corpus import relational as entry
    from pyspark.sql import functions as F

    dom = entry.q_dominant_suppliers(spark, sf_dir)
    total = dom.agg(F.sum("n_dominant_parts")).collect()[0][0] or 0
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_parts = (
        li.filter(
            "l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1997-01-01'"
        )
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert total <= n_parts


# ------------------------------------------------------- layout / eval


def test_compaction_plan_packing_rule(spark):
    from obsplus_spark.plans.layout import compaction_plan

    files = spark.createDataFrame(
        [
            ("a", "f1", 60), ("a", "f2", 50), ("a", "f3", 40),
            ("a", "f4", 30), ("a", "huge", 250),
            ("b", "g1", 10),
        ],
        "dir string, path string, size_bytes long",
    )
    rows = compaction_plan(files, target_bytes=100).collect()
    got = {(r.dir, r.path): r for r in rows}
    # dir a orders: huge(250) f1(60) f2(50) f3(40) f4(30); cum-before:
    # 0, 250, 310, 360, 400 -> bins 0, 2, 3, 3, 4
    assert got[("a", "huge")].bin == 0
    assert got[("a", "f1")].bin == 2
    assert got[("a", "f2")].bin == 3
    assert got[("a", "f3")].bin == 3
    assert got[("a", "f4")].bin == 4
    assert got[("a", "f2")].bin_bytes == 90
    assert got[("a", "f2")].n_bin_files == 2
    assert got[("b", "g1")].bin == 0
    with pytest.raises(ValueError, match="positive"):
        compaction_plan(files, target_bytes=0)


def test_key_skew_report_shares_and_nulls(spark):
    from obsplus_spark.plans.layout import key_skew_report

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + [None] * 2 + ["c"]],
        "k string",
    )
    rows = key_skew_report(df, "k", top=3).collect()
    assert [(r.rank, r.key, r.n_rows) for r in rows] == [
        (1, "a", 5), (2, "b", 3), (3, None, 2),
    ]
    assert rows[0].share == pytest.approx(5 / 11, abs=1e-6)
    assert rows[2].cum_share == pytest.approx(10 / 11, abs=1e-6)
    with pytest.raises(ValueError, match=">= 1"):
        key_skew_report(df, "k", top=0)


def test_key_skew_top_k_is_distributed(spark):
    """The rank filter must rewrite to LocalLimit-per-partition (a
    distributed TakeOrdered), never a full single-partition sort of the
    key-cardinality frame."""
    from obsplus_spark.plans.layout import key_skew_report

    df = spark.range(1000).selectExpr("CAST(id % 97 AS STRING) AS k")
    plan = key_skew_report(df, "k", top=5)._jdf.queryExecution(
    ).executedPlan().toString()
    # top-5 + the rollup grand-total row pinned at rank 1 = limit 6
    assert "TakeOrderedAndProject(limit=6" in plan


def test_lsh_recall_eval_mid_similarity_miss(spark):
    """Pairs well below the banding s-curve midpoint should be missed
    by 4x4 banding while PPJoin truth keeps them -> recall < 1; the
    near-identical pair is always found."""
    from obsplus_spark.operators.dedup import lsh_recall_eval

    base = " ".join(f"w{i}" for i in range(40))
    mid = " ".join(f"w{i}" for i in range(22)) + " " + " ".join(
        f"x{i}" for i in range(18)
    )
    docs = spark.createDataFrame(
        [
            (1, base), (2, base + " tail"),  # J ~ 0.95
            (3, mid),                        # J vs 1 ~ 0.35
            (4, "completely different text with nothing shared here"),
        ],
        "doc_id long, text string",
    )
    r = lsh_recall_eval(docs, threshold=0.3, n_hashes=16, bands=4
                        ).collect()[0]
    assert r.n_true_pairs >= 2          # (1,2) and (1,3) at least
    assert 1 <= r.n_hit <= r.n_true_pairs
    assert r.recall is not None and 0 < r.recall <= 1.0
    assert r.n_hit <= r.n_candidates


# ------------------------------------------------------------ resample


def test_resample_linear_hand_values(spark):
    from obsplus_spark.operators.sessions import resample_linear

    # step 10: key A samples at t=5 (v=0) and t=25 (v=20):
    # grid 10 -> 5, 20 -> 15; final sample t=25 not on-grid -> no row.
    # key B single sample at t=30 (on-grid) -> its own point only.
    df = spark.createDataFrame(
        [("A", 5, 0.0), ("A", 25, 20.0), ("B", 30, 7.0),
         ("C", None, 1.0), ("C", 40, None)],
        "k string, t long, v double",
    )
    rows = resample_linear(df, key_col="k", ts_col="t",
                           value_col="v", step=10).collect()
    got = sorted((r.key, r.grid_ts, r.value) for r in rows)
    assert got == [("A", 10, 5.0), ("A", 20, 15.0), ("B", 30, 7.0)]
    with pytest.raises(ValueError, match="positive"):
        resample_linear(df, step=0)


def test_resample_on_grid_sample_is_exact(spark):
    from obsplus_spark.operators.sessions import resample_linear

    # sample exactly on-grid anchors its own point with the raw value
    df = spark.createDataFrame(
        [("A", 10, 3.0), ("A", 40, 9.0)], "k string, t long, v double"
    )
    got = sorted(
        (r.grid_ts, r.value)
        for r in resample_linear(df, key_col="k", ts_col="t",
                                 value_col="v", step=10).collect()
    )
    # grid 10 (== t1, exact), 20, 30; 40 owned by the (absent) next seg
    # but emitted by the final sample since it is on-grid
    assert got == [(10, 3.0), (20, 5.0), (30, 7.0), (40, 9.0)]


def test_embedding_outliers_null_label_excluded(spark):
    """NULL-label rows have no class centroid: excluded by the equi
    join in BOTH engines (NULL never equals NULL) — pinned here so a
    refactor to a null-safe join would fail loudly."""
    from obsplus_spark.operators.similarity import embedding_outliers

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.1], 0), (3, [0.5, 0.5], None)],
        "vec_id long, embedding array<double>, label int",
    )
    got = {r.vec_id for r in embedding_outliers(df).collect()}
    assert got == {1, 2}


# --------------------------------------------------------------- splits


def test_temporal_split_embargo_band(spark):
    from obsplus_spark.operators.dedup import temporal_split

    df = spark.createDataFrame(
        [(1, 50), (2, 100), (3, 150), (4, 200), (5, None)],
        "id long, ts long",
    )
    got = {r.id: r.split
           for r in temporal_split(df, train_end_ns=100,
                                   embargo_ns=100).collect()}
    assert got == {1: "train", 2: "embargo", 3: "embargo",
                   4: "eval", 5: "embargo"}
    with pytest.raises(ValueError, match=">= 0"):
        temporal_split(df, train_end_ns=100, embargo_ns=-1)


def test_temporal_split_zero_embargo(spark):
    from obsplus_spark.operators.dedup import temporal_split

    df = spark.createDataFrame([(1, 99), (2, 100)], "id long, ts long")
    got = {r.id: r.split
           for r in temporal_split(df, train_end_ns=100).collect()}
    assert got == {1: "train", 2: "eval"}


def test_group_kfold_cohesion_and_consistency(spark):
    from obsplus_spark.operators.dedup import group_kfold, hash_split

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(200)] + [(999, None)],
        "id long, g int",
    )
    rows = group_kfold(df, "g", k=5).collect()
    by_group = {}
    for r in rows:
        if r.g is None:
            assert r.fold is None
        else:
            by_group.setdefault(r.g, set()).add(r.fold)
    # cohesion: every group in exactly one fold, folds in range
    assert all(len(f) == 1 for f in by_group.values())
    assert all(0 <= next(iter(f)) < 5 for f in by_group.values())
    # subset consistency: same fold on a subset of the data
    sub = group_kfold(df.filter("id < 50"), "g", k=5).collect()
    for r in sub:
        if r.g is not None:
            assert {r.fold} == by_group[r.g]
    with pytest.raises(ValueError, match=">= 2"):
        group_kfold(df, "g", k=1)


def test_resample_duplicate_timestamps_deterministic(spark):
    """Tied timestamps order by value (explicit window tiebreaker,
    mirrored in the oracle): the tied pair forms a zero-length segment
    emitting nothing, and the higher value anchors the interpolation."""
    from obsplus_spark.operators.sessions import resample_linear

    df = spark.createDataFrame(
        [("A", 0, 0.0), ("A", 0, 100.0), ("A", 20, 0.0)],
        "k string, t long, v double",
    )
    got = sorted(
        (r.grid_ts, r.value)
        for r in resample_linear(df, key_col="k", ts_col="t",
                                 value_col="v", step=10).collect()
    )
    # ordered (t, v): (0,0.0) -> (0,100.0) zero-length, nothing;
    # (0,100.0) -> (20,0.0): grid 0 -> 100, grid 10 -> 50;
    # final sample t=20 on-grid -> 0.0
    assert got == [(0, 100.0), (10, 50.0), (20, 0.0)]


def test_temporal_split_rejects_timestamp_column(spark):
    """CAST(timestamp AS BIGINT) is SECONDS in Spark — a raw timestamp
    column against an ns threshold must be a loud TypeError, never a
    silent all-train split."""
    from obsplus_spark.operators.dedup import temporal_split

    df = spark.createDataFrame(
        [(1,)], "id long"
    ).selectExpr("id", "TIMESTAMP '2024-03-05 00:00:00' AS ts")
    with pytest.raises(TypeError, match="seconds"):
        temporal_split(df, train_end_ns=1_709_251_200_000_000_000)
