"""Round-12 operators: keep_first_occurrence (Lee-et-al keep-one-copy
span election), the freqs= precomputed gram-store path of the span
operators, and bcubed_eval (per-document dedup quality averages)."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _labels(spark, pairs):
    if not pairs:
        return spark.createDataFrame(
            [(0, 0)], "id long, cluster_id long"
        ).where("id < 0")
    return spark.createDataFrame(list(pairs), "id long, cluster_id long")


# ------------------------------------------------- keep_first_occurrence


def test_keep_one_all_duplicate_corpus(spark):
    """Every doc identical: one full-length span per doc, all the same
    region -> the min-id doc survives, every other occurrence is cut."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
        keep_first_occurrence,
    )

    rows = [(i, "w x y z q r") for i in (3, 1, 7, 5)]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    cut = keep_first_occurrence(df, spans)
    got = sorted((r.doc_id, r.span_start, r.span_tokens)
                 for r in cut.collect())
    assert got == [(3, 0, 6), (5, 0, 6), (7, 0, 6)]  # doc 1 survives
    out = {r.doc_id: r.text for r in cut_spans(df, cut).collect()}
    assert out == {1: "w x y z q r", 3: "", 5: "", 7: ""}


def test_keep_one_single_doc_internal_repeat(spark):
    """One doc repeating its own region: within-doc election keeps the
    FIRST occurrence (min span_start)."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    # "a b c d" twice, separated by unique fillers so the two maximal
    # runs have identical content
    df = _docs(spark, [(1, "a b c d u1 u2 u3 a b c d")])
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    got = sorted((r.doc_id, r.span_start, r.span_tokens)
                 for r in spans.collect())
    assert got == [(1, 0, 4), (1, 7, 4)]
    cut = keep_first_occurrence(df, spans).collect()
    assert [(r.doc_id, r.span_start, r.span_tokens) for r in cut] == [
        (1, 7, 4)
    ]


def test_keep_one_partial_overlap_distinct_regions(spark):
    """Documented granularity: doc A's maximal run strictly contains
    doc B's -> different content, different regions, BOTH survive."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "x y a b c d e q"),   # shares only "a b c d e"
        (3, "a b c d e f g h"),   # exact dup of 1
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    cut = keep_first_occurrence(df, spans).collect()
    # only doc 3's full-region occurrence is cut; doc 2's shorter
    # region is its own survivor
    assert [(r.doc_id, r.span_start, r.span_tokens) for r in cut] == [
        (3, 0, 8)
    ]


def test_keep_one_empty_span_frame(spark):
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    df = _docs(spark, [(1, "all unique tokens here today")])
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    assert keep_first_occurrence(df, spans).count() == 0


def test_keep_one_matches_duckdb_replay(spark):
    """Engine vs a DuckDB replay of the registered oracle conventions
    (region = the token-slice STRING) on a mixed corpus."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )
    import __spark_entry__ as entry

    rows = [
        (1, "p q r s t u"),
        (2, "p q r s t u"),
        (3, "m n p q r s t u o"),
        (4, "completely different words only"),
        (5, "p q r s t u"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    got = sorted(tuple(r) for r in
                 keep_first_occurrence(df, spans).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    want = sorted(tuple(r) for r in
                  con.execute(entry._SQL_SPAN_KEEP_ONE).fetchall())
    assert got == want


# --------------------------------------------------- freqs= store path


def test_span_operators_freqs_lockstep(spark):
    """Inline gram window vs precomputed gram_frequencies store over
    the SAME corpus must be row-identical for both span operators."""
    from obsplus_spark.operators.dedup import (
        duplicated_spans,
        exact_substring_spans,
        gram_frequencies,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "x y a b c d e q"),
        (3, "a b c d e f g h"),
        (4, "no shared grams in this one"),
        (5, None),
        (6, "a b"),  # fewer than n tokens
    ]
    df = _docs(spark, rows)
    store = gram_frequencies(df, n=3)
    a = sorted(tuple(r) for r in
               exact_substring_spans(df, n=3).collect())
    b = sorted(tuple(r) for r in
               exact_substring_spans(df, n=3, freqs=store).collect())
    assert a == b and a
    c = sorted(tuple(r) for r in duplicated_spans(df, n=3).collect())
    d = sorted(tuple(r) for r in
               duplicated_spans(df, n=3, freqs=store).collect())
    assert c == d and c


def test_span_superset_store_raises_counts(spark):
    """A store covering MORE corpus than the scored frame flags spans
    the inline pass cannot see — the streaming-maintained use case:
    the new doc's text duplicates the historical corpus, not itself."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        gram_frequencies,
    )

    history = _docs(spark, [(1, "h1 h2 h3 h4 h5")])
    new = _docs(spark, [(2, "z0 h1 h2 h3 h4 h5 z1")])
    # inline: nothing duplicated WITHIN the new batch alone
    assert exact_substring_spans(new, n=3).count() == 0
    store = gram_frequencies(history.unionByName(new), n=3)
    got = exact_substring_spans(new, n=3, freqs=store).collect()
    assert [(r.doc_id, r.span_start, r.span_tokens) for r in got] == [
        (2, 1, 5)
    ]


# ------------------------------------------------------------ bcubed


def _bcubed_model(rows, label_pairs):
    labels = dict(label_pairs)
    fp = {}
    for i, t in rows:
        if t is None:
            continue
        fp[i] = re.sub(r"\s+", " ", t.strip().lower())
    if not fp:
        return None
    cl = {i: labels.get(i, i) for i in fp}
    cl_sizes = Counter(cl.values())
    fp_sizes = Counter(fp.values())
    cell_sizes = Counter((fp[i], cl[i]) for i in fp)
    n = len(fp)
    p = sum(cell_sizes[(fp[i], cl[i])] / cl_sizes[cl[i]] for i in fp) / n
    r = sum(cell_sizes[(fp[i], cl[i])] / fp_sizes[fp[i]] for i in fp) / n
    f1 = 2 * p * r / (p + r) if p + r else None
    return n, p, r, f1


def _check_bcubed(spark, rows, label_pairs):
    from obsplus_spark.operators.dedup import bcubed_eval

    got = bcubed_eval(_docs(spark, rows),
                      _labels(spark, label_pairs)).collect()[0]
    want = _bcubed_model(rows, label_pairs)
    assert want is not None
    n, p, r, f1 = want
    assert got.n_docs == n
    assert got.bcubed_precision == pytest.approx(p, abs=2e-6)
    assert got.bcubed_recall == pytest.approx(r, abs=2e-6)
    if f1 is None:
        assert got.bcubed_f1 is None
    else:
        assert got.bcubed_f1 == pytest.approx(f1, abs=2e-6)


def test_bcubed_perfect_clustering(spark):
    rows = [(1, "t one"), (2, "t one"), (3, "t two"), (4, None)]
    _check_bcubed(spark, rows, [(1, 1), (2, 1)])


def test_bcubed_all_singletons(spark):
    """No clustering at all: precision 1 (every cluster pure), recall
    < 1 when any truth group has >1 member."""
    from obsplus_spark.operators.dedup import bcubed_eval

    rows = [(1, "s"), (2, "s"), (3, "u")]
    got = bcubed_eval(_docs(spark, rows), _labels(spark, [])).collect()[0]
    assert got.bcubed_precision == 1.0
    # docs 1,2: recall 1/2 each; doc 3: 1 -> (0.5+0.5+1)/3
    assert got.bcubed_recall == pytest.approx(2 / 3, abs=1e-6)
    _check_bcubed(spark, rows, [])


def test_bcubed_one_giant_cluster_vs_pairwise(spark):
    """The metric's reason to exist: lump everything into one cluster
    and pairwise precision stays misleadingly high when one big truth
    group dominates, while B-cubed punishes every doc equally."""
    from obsplus_spark.operators.dedup import bcubed_eval, dedup_pair_eval

    # 6 copies of one text + 2 unique docs, all in cluster 1
    rows = [(i, "big group") for i in range(1, 7)] + [
        (7, "solo a"), (8, "solo b")]
    labels = [(i, 1) for i in range(1, 9)]
    _check_bcubed(spark, rows, labels)
    b = bcubed_eval(_docs(spark, rows), _labels(spark, labels)).collect()[0]
    p = dedup_pair_eval(_docs(spark, rows),
                        _labels(spark, labels)).collect()[0]
    assert p.pair_precision == pytest.approx(15 / 28, abs=1e-6)
    # B-cubed precision: 6 docs at 6/8 + 2 docs at 1/8 -> 0.59375;
    # but per-doc it exposes the two solo docs' 1/8 purity
    assert b.bcubed_precision == pytest.approx(
        (6 * (6 / 8) + 2 * (1 / 8)) / 8, abs=1e-6)


@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(st.sampled_from(["aa", "bb", "cc", "aa ", " Bb"]),
                   min_size=1, max_size=8),
    cl=st.lists(st.integers(min_value=1, max_value=3), min_size=8,
                max_size=8),
)
def test_bcubed_property_vs_model(spark, texts, cl):
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    labels = [(i + 1, cl[i]) for i in range(len(texts)) if cl[i] < 3]
    _check_bcubed(spark, rows, labels)


# ------------------------------------------------- shared_region_pairs


def test_shared_regions_basic_and_cap(spark):
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),
        (3, "z z1 a b c d e f z2"),  # contains 1/2's full text as a run
        (4, "unrelated content entirely here"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    out = sorted(tuple(r) for r in
                 shared_region_pairs(df, spans).collect())
    # docs 1,2,3 all carry the identical maximal run "a b c d e f"
    # (doc 3's maximal run is exactly that region: z/z1/z2 grams are
    # not corpus-duplicated) -> all three pair
    assert out == [(1, 2, 6, 1), (1, 3, 6, 1), (2, 3, 6, 1)]
    # hot-region cap: with max_occurrences=2 the 3-occurrence region
    # is dropped entirely (documented lower bound)
    assert shared_region_pairs(df, spans, max_occurrences=2).count() == 0
    with pytest.raises(ValueError, match="max_occurrences"):
        shared_region_pairs(df, spans, max_occurrences=1)


def test_shared_regions_matches_duckdb_replay(spark):
    import __spark_entry__ as entry
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    rows = [
        (1, "p q r s t u"),
        (2, "p q r s t u"),
        (3, "m n p q r s t u o"),
        (5, "p q r s t u"),
        (7, "x y z w v p q r"),
        (8, "k x y z w v k2"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    got = sorted(tuple(r) for r in
                 shared_region_pairs(df, spans, max_occurrences=64)
                 .collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    want = sorted(tuple(r) for r in
                  con.execute(entry._SQL_SHARED_REGIONS).fetchall())
    assert got == want and got


# ------------------------------------------------- mixture_feasibility


def _plan(spark, rows):
    return spark.createDataFrame(
        rows, "source string, kept_tokens long, weight double"
    )


def test_mixture_feasibility_hand_model(spark):
    from obsplus_spark.operators.dedup import mixture_feasibility

    plan = _plan(spark, [
        ("web", 1000, 0.5),    # requested 500 <= 4*1000 -> feasible
        ("tiny", 10, 0.5),     # requested 500 > 40 -> shortfall 460
    ])
    out = {r.source: r for r in
           mixture_feasibility(plan, 1000, max_repeat=4.0).collect()}
    w, t = out["web"], out["tiny"]
    assert (w.requested_tokens, w.achievable_tokens, w.feasible) == (
        500, 500, True)
    assert (t.requested_tokens, t.achievable_tokens,
            t.shortfall_tokens, t.feasible) == (500, 40, 460, False)
    assert w.realized_share == pytest.approx(500 / 540, abs=1e-6)
    assert t.realized_share == pytest.approx(40 / 540, abs=1e-6)


def test_mixture_feasibility_null_inventory(spark):
    """The all-NULL-text source mixture_rebalance rates NULL audits as
    zero inventory: achievable 0, infeasible when requested > 0."""
    from obsplus_spark.operators.dedup import mixture_feasibility

    plan = _plan(spark, [("dead", None, 0.5), ("ok", 100, 0.5)])
    out = {r.source: r for r in
           mixture_feasibility(plan, 100, max_repeat=2.0).collect()}
    d = out["dead"]
    assert (d.inventory_tokens, d.achievable_tokens, d.feasible) == (
        0, 0, False)
    assert out["ok"].feasible  # 50 <= 200


def test_mixture_feasibility_no_achievable_mass(spark):
    from obsplus_spark.operators.dedup import mixture_feasibility

    plan = _plan(spark, [("a", 0, 0.5)])
    r = mixture_feasibility(plan, 100).collect()[0]
    assert r.realized_share is None
    assert not r.feasible


def test_mixture_feasibility_null_weight(spark):
    """NULL weight = no target share: requested 0, trivially feasible,
    zero realized share — NOT the least()-skips-NULL trap (which would
    report full achievable mass for a source nobody asked for)."""
    from obsplus_spark.operators.dedup import mixture_feasibility

    plan = spark.createDataFrame(
        [("ghost", 1000, None), ("ok", 1000, 1.0)],
        "source string, kept_tokens long, weight double",
    )
    out = {r.source: r for r in
           mixture_feasibility(plan, 100, max_repeat=4.0).collect()}
    g = out["ghost"]
    assert (g.weight, g.requested_tokens, g.achievable_tokens,
            g.feasible) == (0.0, 0, 0, True)
    assert g.realized_share == 0.0
    assert out["ok"].realized_share == 1.0


def test_bcubed_all_null_text(spark):
    """Empty evidence corpus: one all-NULL row (the sum-over-empty
    shape both engines share), not an empty frame and not a crash."""
    from obsplus_spark.operators.dedup import bcubed_eval

    docs = _docs(spark, [(1, None), (2, None)])
    rows = bcubed_eval(docs, _labels(spark, [])).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.bcubed_precision, r.bcubed_recall,
            r.bcubed_f1) == (None, None, None, None)


# ------------------------------------------------------- top_regions


def test_top_regions_report(spark):
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        top_regions,
    )

    rows = [
        (1, "cookie banner text here ok"),
        (2, "cookie banner text here ok"),
        (3, "cookie banner text here ok"),
        (4, "short dup a b c"),
        (5, "short dup a b c"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    out = [tuple(r) for r in top_regions(df, spans, k=10).collect()]
    # banner: 3 occ x 5 tokens -> dup_mass (3-1)*5 = 10; short: (2-1)*5=5
    assert out == [
        ("cookie banner text here ok", 3, 5, 10),
        ("short dup a b c", 2, 5, 5),
    ]
    assert len(top_regions(df, spans, k=1).collect()) == 1
    with pytest.raises(ValueError, match="k must be"):
        top_regions(df, spans, k=0)
