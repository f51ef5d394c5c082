"""Targeted degenerate sweep for the r12 operators — every prior sweep
of this pattern caught real bugs, so each new operator gets its named
edge shapes checked ENGINE vs a DuckDB replay of the registered
oracle's conventions:

- ``span_keep_cut``: all-duplicate corpus (every doc cut to '' except
  the min-id survivor), sub-n-token docs (no grams, pass through),
  NULL text (NULL out), empty-string text.
- ``span_keep_one``: ties on content across AND within docs.
- ``shared_regions``: single-doc corpus (no pair), within-doc repeats
  (a doc never pairs with itself), the occurrence cap boundary
  (occ == cap kept, occ == cap+1 dropped).
- ``bcubed``: labels pointing at absent ids (LEFT join semantics),
  empty evidence corpus (one all-NULL row both engines).
"""

from __future__ import annotations

import math

import duckdb
import pytest


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        cells = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            cells.append(v)
        out.append(tuple(cells))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _compare(sdf, con, sql):
    srows = _norm([tuple(r) for r in sdf.collect()], sdf.columns)
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = _norm(res.fetchall(), ocols)
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows), (len(srows), len(orows), srows, orows)
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert abs(x - y) <= 1e-6 + 1e-6 * abs(y), (a, b)
            else:
                assert x == y, (a, b)


def _con_with_docs(rows):
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, " + ("NULL" if t is None else "'" + t + "'") + ")"
        for i, t in rows
    )
    # CAST: an all-NULL VALUES column binds as INTEGER otherwise
    con.execute(
        "CREATE TABLE documents AS SELECT doc_id,"
        " CAST(text AS VARCHAR) AS text FROM"
        f" (VALUES {vals}) AS v(doc_id, text)"
    )
    return con


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------- span_keep_cut


def test_span_keep_cut_all_duplicate_and_degenerates(spark):
    from corpus import dedup as entry
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
        keep_first_occurrence,
    )

    rows = [
        (5, "w x y z q r"),
        (2, "w x y z q r"),
        (9, "w x y z q r"),
        (3, "a b"),            # < n tokens: no grams, passes through
        (4, None),             # NULL text -> NULL out
        (6, ""),               # empty string: zero tokens, '' out
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    out = cut_spans(df, keep_first_occurrence(df, spans))
    _compare(out, _con_with_docs(rows), entry._SQL_SPAN_KEEP_CUT)
    got = {r.doc_id: (r.text, r.n_removed) for r in out.collect()}
    assert got[2] == ("w x y z q r", 0)  # min id survives
    assert got[5] == ("", 6) and got[9] == ("", 6)
    assert got[3] == ("a b", 0)
    assert got[4] == (None, None)
    assert got[6] == ("", 0)


def test_span_keep_one_within_and_cross_doc_ties(spark):
    """The same region twice in ONE doc and once in another: the
    global min-(id, span_start) occurrence survives; both other
    occurrences (one cross-doc, one within-doc) are cut."""
    from corpus import dedup as entry
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    rows = [
        (1, "a b c d u1 u2 u3 a b c d"),
        (2, "z1 a b c d z2"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    out = keep_first_occurrence(df, spans)
    _compare(out, _con_with_docs(rows), entry._SQL_SPAN_KEEP_ONE)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 7, 4), (2, 1, 4)]  # (1, 0) survives


# ------------------------------------------------------ shared_regions


def test_shared_regions_single_doc_no_self_pair(spark):
    """A doc repeating its own region must NOT pair with itself; with
    no second doc there are no pairs at all."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    df = _docs(spark, [(1, "a b c d u1 u2 u3 a b c d")])
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    assert spans.count() == 2
    assert shared_region_pairs(df, spans).count() == 0


def test_shared_regions_cap_boundary(spark):
    """occ == cap participates; occ == cap+1 is dropped whole."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    rows = [(i, "m n o p q") for i in (1, 2, 3)]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    assert shared_region_pairs(df, spans, max_occurrences=3).count() == 3
    assert shared_region_pairs(df, spans, max_occurrences=2).count() == 0


def test_shared_regions_duckdb_replay_with_degenerates(spark):
    from corpus import dedup as entry
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),
        (3, None),
        (4, ""),
        (5, "x y"),
    ]
    df = _docs(spark, rows)
    spans = exact_substring_spans(df, n=3, min_run=2, min_count=2)
    out = shared_region_pairs(df, spans, max_occurrences=64)
    _compare(out, _con_with_docs(rows), entry._SQL_SHARED_REGIONS)
    assert [(r.id1, r.id2) for r in out.collect()] == [(1, 2)]


# ------------------------------------------------------------- bcubed


def test_bcubed_labels_for_absent_ids(spark):
    """Label rows whose id is not in the corpus must be ignored (LEFT
    join semantics), not crash or invent docs."""
    from obsplus_spark.operators.dedup import bcubed_eval

    docs = _docs(spark, [(1, "t"), (2, "t")])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (99, 1)], "id long, cluster_id long"
    )
    r = bcubed_eval(docs, labels).collect()[0]
    assert r.n_docs == 2
    assert r.bcubed_precision == 1.0 and r.bcubed_recall == 1.0


def test_bcubed_empty_evidence_matches_twin_shape(spark):
    """All-NULL-text corpus: both engines produce ONE all-NULL row
    (sum over empty input), compared via the registered twin replayed
    on the same table."""
    from corpus import dedup as entry
    from obsplus_spark.operators.dedup import bcubed_eval
    from obsplus_spark.util import sql_over  # noqa: F401  (house import)

    rows = [(1, None), (2, None)]
    docs = _docs(spark, rows)
    labels = spark.createDataFrame(
        [(0, 0)], "id long, cluster_id long"
    ).where("id < 0")
    out = bcubed_eval(docs, labels)
    con = _con_with_docs(rows)
    _compare(out, con, entry._bcubed_sql())
