"""Round-12 ADVICE fixes: mixture_rebalance guards NULL kept_tokens
(sum over all-NULL-text kept docs) with coalesce so the NULL-token
source draws a NULL rate instead of the full repeat cap; script_mix
spells the whitespace class explicitly (Java \\s includes U+000B,
RE2 \\s does not); dedup_pair_eval halves pair counts with integer
division (DOUBLE / loses exactness past 2^53); apply_mixture rejects
input frames that already carry the reserved epoch/_n columns."""

from __future__ import annotations

import duckdb
import pytest


# ------------------------------------------- mixture_rebalance NULL tokens


def _rebalance(spark, doc_rows, label_rows=()):
    from obsplus_spark.operators.dedup import mixture_rebalance

    docs = spark.createDataFrame(
        doc_rows, "doc_id long, source string, text string"
    )
    labels = spark.createDataFrame(
        list(label_rows) or [(None, None)],
        "id long, cluster_id long",
    )
    if not label_rows:
        labels = labels.where("id IS NOT NULL")
    return mixture_rebalance(
        docs,
        labels,
        weights={"a": 0.5, "b": 0.5},
        target_tokens=1000,
        max_repeat=4.0,
    )


def test_rebalance_null_token_source_gets_null_rate(spark):
    """A source whose kept docs ALL have NULL text sums kept_tokens to
    NULL (not 0). least(cap, NULL) = cap on both engines, so the
    unguarded CASE reported the full max_repeat as the source's
    sample_rate — and apply_mixture would then replicate its NULL-text
    docs floor(cap) times. The coalesce guard must yield NULL rate."""
    rows = [
        (1, "a", None),
        (2, "a", None),
        (3, "b", "real tokens here"),
    ]
    out = {r.source: r for r in _rebalance(spark, rows).collect()}
    assert out["a"].kept_tokens is None
    assert out["a"].sample_rate is None
    assert out["a"].expected_tokens is None
    assert out["b"].sample_rate is not None and out["b"].sample_rate > 0


def test_rebalance_zero_token_source_still_null_rate(spark):
    """The pre-existing kept_tokens = 0 branch (empty-string text sums
    to a real 0) must keep returning NULL rate after the coalesce."""
    rows = [(1, "a", ""), (2, "b", "x y z")]
    out = {r.source: r for r in _rebalance(spark, rows).collect()}
    assert out["a"].kept_tokens == 0
    assert out["a"].sample_rate is None


def test_rebalance_null_token_source_dropped_by_apply_mixture(spark):
    """End-to-end: the NULL-rate source must vanish from the
    materialized mix instead of being replicated at the cap."""
    from obsplus_spark.operators.dedup import apply_mixture

    rows = [(1, "a", None), (2, "b", "u v w x")]
    plan = _rebalance(spark, rows)
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = apply_mixture(docs, plan).select("source").distinct().collect()
    assert [r.source for r in got] == ["b"]


def test_rebalance_null_guard_duckdb_twin_semantics():
    """The oracle twins carry the identical coalesce guard; replay the
    rate expression's NULL path in DuckDB to pin the least()-skips-NULL
    trap this guards against."""
    con = duckdb.connect()
    trap = con.execute(
        "SELECT least(CAST(4.0 AS DOUBLE), CAST(NULL AS DOUBLE))"
    ).fetchone()[0]
    assert trap == 4.0  # the trap is real on DuckDB too
    guarded = con.execute(
        """
        SELECT CASE WHEN coalesce(kept_tokens, 0) = 0
                    THEN CAST(NULL AS DOUBLE)
                    ELSE least(CAST(4.0 AS DOUBLE),
                               0.5 * 1000 / kept_tokens) END
        FROM (SELECT CAST(NULL AS BIGINT) AS kept_tokens)
        """
    ).fetchone()[0]
    assert guarded is None


# ---------------------------------------------- script_mix whitespace class


def test_script_mix_vertical_tab_denominator(spark):
    """U+000B sits inside Java \\s but outside RE2 \\s. With the
    explicit class both engines must strip it: 'ab\\x0Bcd' has 4
    non-whitespace chars, all Latin."""
    from obsplus_spark.operators.text import script_mix

    df = spark.createDataFrame(
        [(1, "ab\x0bcd")], "doc_id long, text string"
    )
    row = script_mix(df).collect()[0]
    assert row.n_chars_nows == 4
    assert row.frac_latin == 1.0


def test_script_mix_vertical_tab_matches_duckdb_twin(spark):
    """Engine vs the registered DuckDB twin on a VT-bearing corpus —
    the exact divergence ADVICE flagged (denominator off by one per VT
    under the bare \\s shorthand)."""
    from corpus import text as entry
    from obsplus_spark.operators.text import script_mix

    rows = [
        (1, "ab\x0bcd"),
        (2, "\x0b\x0b"),          # all-VT: 0 chars -> NULL fractions
        (3, "плюс 7 \x0b слов"),  # Cyrillic + digit + VT
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    srows = {
        r.doc_id: (r.n_chars_nows, r.frac_latin, r.frac_cyrillic,
                   r.frac_digit)
        for r in script_mix(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}')" for i, t in rows
        )
        + ") AS v(doc_id, text)"
    )
    orows = {
        r[0]: (r[1], r[2], r[3], r[7])
        for r in con.execute(entry._SQL_SCRIPT_MIX).fetchall()
    }
    assert srows == orows
    assert srows[1][0] == 4
    assert srows[2][0] == 0 and srows[2][1] is None


# -------------------------------------------- dedup_pair_eval integer DIV


def test_pair_count_integer_halving_exact_past_2_53(spark):
    """n*(n-1) DIV 2 stays exact where DOUBLE / has already lost
    integer resolution: n = 3e9 gives 4,499,999,998,500,000,000 pairs
    (~2^62). The old float path rounds to a different BIGINT."""
    n = 3_000_000_000
    want = n * (n - 1) // 2
    got = spark.sql(
        f"SELECT CAST({n} AS BIGINT) * ({n} - 1) DIV 2 AS p"
    ).collect()[0].p
    assert got == want
    lossy = spark.sql(
        f"SELECT CAST(CAST({n} AS BIGINT) * ({n} - 1) / 2 AS BIGINT) AS p"
    ).collect()[0].p
    assert lossy != want  # documents why DIV is required
    # DuckDB twin: // integer division is exact too
    con = duckdb.connect()
    assert con.execute(
        f"SELECT CAST({n} AS BIGINT) * ({n} - 1) // 2"
    ).fetchone()[0] == want


def test_dedup_pair_eval_small_exact(spark):
    """No-regression check: counts equal the C(n,2) hand model on a
    small corpus (truth group of 3 split 2/1 by the clustering)."""
    from obsplus_spark.operators.dedup import dedup_pair_eval

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "Same  Text"),
         (4, "other")],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster_id long"
    )
    row = dedup_pair_eval(docs, labels).collect()[0]
    assert row.truth_pairs == 3   # C(3,2): docs 1,2,3 share a fingerprint
    assert row.pred_pairs == 1    # cluster {1,2}
    assert row.tp_pairs == 1
    assert row.pair_precision == 1.0
    assert row.pair_recall == pytest.approx(1 / 3, abs=1e-6)


# ---------------------------------------------- apply_mixture reserved cols


@pytest.mark.parametrize("col", ["epoch", "_n"])
def test_apply_mixture_rejects_reserved_columns(spark, col):
    from obsplus_spark.operators.dedup import apply_mixture

    docs = spark.createDataFrame(
        [(1, "a", 1)], f"doc_id long, source string, {col} int"
    )
    plan = spark.createDataFrame(
        [("a", 1.0)], "source string, sample_rate double"
    )
    with pytest.raises(ValueError, match="reserves"):
        apply_mixture(docs, plan)
