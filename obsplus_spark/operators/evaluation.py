"""Model- and distribution-evaluation metrics over scored corpora.

A curation pipeline that trains quality classifiers (``text.
linear_quality_score``), importance weights (``text.dsir_importance``)
or embedding screens (``similarity.embedding_outliers``) needs
distributed evaluation of those scores before trusting them at 100 TB:
ROC-AUC against a labeled slice, and distribution-drift tests between
corpus segments or snapshots. Both operators here reduce the corpus
with a map-combined value-keyed aggregate FIRST, so the serial
cumulative pass runs over distinct values, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def score_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Distributed ROC-AUC of a numeric score against a boolean label,
    via the tie-aware Mann-Whitney rank-sum identity:
    ``AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ · n⁻)`` with AVERAGE ranks
    for ties (the standard mid-rank convention — plain ``rank()`` or
    ``row_number()`` biases AUC on heavily-tied scores).

    Scale shape: one value-keyed MAP-COMBINED aggregate collapses the
    corpus to ``(score, n, n_pos)`` cells — the only full-data
    exchange; the cumulative-rank window then runs over DISTINCT
    scores only (bounded by score cardinality, not corpus size —
    quantize continuous scores to fixed precision upstream to bound
    it), and a single-row aggregate folds the identity. Because every
    average rank is an exact half-integer and every partial sum stays
    below 2⁵³ at any realistic corpus size, the engine and the DuckDB
    oracle produce bit-identical doubles.

    Rows with a NULL score or NULL label are excluded (no rank, no
    class). AUC is NULL when either class is empty.

    Output: single row ``(auc, n_pos, n_neg)``.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    cells = sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {score_col} AS s,
               CAST(count(1) AS BIGINT) AS n,
               CAST(sum(CASE WHEN {label_col} THEN 1 ELSE 0 END)
                    AS BIGINT) AS np
        FROM {{d}}
        WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
        GROUP BY {score_col}
        """,
    )
    return auc_from_counts(cells)


def auc_from_counts(cells: DataFrame) -> DataFrame:
    """Tie-aware AUC from PRE-AGGREGATED ``(s, n, np)`` sufficient-
    statistics cells (count and positive count per distinct score) —
    the counts are trivially MERGEABLE, so any number of per-batch /
    per-partition cell tables sum into one exact whole-corpus AUC
    (the consumer of a :func:`score_auc` split run). Same rank identity and
    bit-identical-double argument as :func:`score_auc`.

    Output: single row ``(auc, n_pos, n_neg)``.
    """
    from obsplus_spark.util import sql_over

    return sql_over(
        {"g": cells},
        """
        WITH m AS (
          -- re-aggregate by score FIRST: merged inputs (a unioned
          -- split run, a maintained store mid-compaction) may carry
          -- duplicate-score rows, and the cumulative ROWS frame would
          -- rank them as strictly ordered instead of tied — a wrong,
          -- partition-order-dependent AUC
          SELECT s, CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(np) AS BIGINT) AS np
          FROM {g} GROUP BY s
        ),
        r AS (
          SELECT n, np,
                 sum(n) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n AS cb
          FROM m
        )
        -- the n_pos(n_pos+1)/2 correction promotes to DOUBLE before
        -- multiplying: the raw BIGINT product n_pos*(n_pos+1) throws
        -- under ANSI at n_pos ~ 3e9 (a 3-billion-positive corpus is
        -- real at 100 TB); the double product is the identical IEEE
        -- expression on both engines
        SELECT CASE WHEN sum(np) > 0 AND sum(n - np) > 0 THEN
                 round((sum(np * (cb + (n + 1) / 2.0))
                        - CAST(sum(np) AS DOUBLE) * (sum(np) + 1) / 2.0)
                       / (CAST(sum(np) AS DOUBLE) * sum(n - np)), 9)
               END AS auc,
               CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
               CAST(coalesce(sum(n - np), 0) AS BIGINT) AS n_neg
        FROM r
        """,
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    flag_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two corpus segments: ``KS = max |F_A(v) − F_B(v)|``
    over the empirical CDFs — the standard drift test between a corpus
    snapshot and its successor, or between two sources, before a
    retrain. ``flag_col`` is boolean: true → sample A, false → sample
    B, NULL → excluded (rows outside either segment).

    Scale shape: identical to :func:`score_auc` — one value-keyed
    map-combined aggregate to ``(value, count_a, count_b)`` cells, a
    cumulative window over DISTINCT values (quantize continuous values
    upstream to bound its cardinality), one single-row max. The
    integer cumulative counts make both CDF divisions exact IEEE
    operations, so the engine and the oracle agree bit-for-bit.

    Output: single row ``(ks, n_a, n_b)`` — ``ks`` NULL when either
    sample is empty.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH g AS (
          SELECT {value_col} AS v,
                 CAST(sum(CASE WHEN {flag_col} THEN 1 ELSE 0 END)
                      AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN NOT {flag_col} THEN 1 ELSE 0 END)
                      AS BIGINT) AS cb
          FROM {{d}}
          WHERE {value_col} IS NOT NULL AND {flag_col} IS NOT NULL
          GROUP BY {value_col}
        ),
        c AS (
          SELECT
            sum(ca) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cca,
            sum(cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS ccb,
            sum(ca) OVER () AS na,
            sum(cb) OVER () AS nb
          FROM g
        )
        SELECT CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
                 -- nullif: the ECDF ratios sit INSIDE the max()
                 -- aggregate, so they evaluate before the emptiness
                 -- guard can short-circuit (ANSI divide-by-zero)
                 round(max(abs(cca / CAST(nullif(na, 0) AS DOUBLE)
                               - ccb / CAST(nullif(nb, 0) AS DOUBLE))), 9)
               END AS ks,
               CAST(coalesce(max(na), 0) AS BIGINT) AS n_a,
               CAST(coalesce(max(nb), 0) AS BIGINT) AS n_b
        FROM c
        """,
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic score: fixed-width
    bins over ``[lo, hi)``, per bin the count, mean score and positive
    fraction — AUC (:func:`score_auc`) says whether the score RANKS
    well; calibration says whether its VALUES mean what they claim
    (a 0.9-scoring bin should be ~90 % positive before anyone uses the
    score as a sampling probability or a filter threshold).

    ONE map-combined bin-keyed aggregate; out-of-range scores clamp to
    the edge bins (they are evidence about the edges, not garbage).
    NULL score/label rows are excluded. Bin arithmetic is plain IEEE
    on both engines (identical inputs → identical bin), and the two
    emitted means are 6-dp rounded.

    Output: ``(bin, n, mean_score, frac_pos)`` for non-empty bins,
    ``bin`` in [0, bins).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    b = int(bins)
    if b < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    flo, fhi = float(lo), float(hi)
    if not fhi > flo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    # clamp on the DOUBLE before the INT cast: an unnormalized score
    # (1e9 logit in a probability column) would otherwise abort the
    # whole aggregation with an ANSI CAST_OVERFLOW instead of landing
    # in the edge bin as documented
    bin_expr = (
        f"CAST(least(CAST({b - 1} AS DOUBLE), greatest(0.0D, floor"
        f"((CAST({score_col} AS DOUBLE) - {flo!r}D)"
        f" / {fhi - flo!r}D * {b}))) AS INT)"
    )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {bin_expr} AS bin,
               CAST(count(1) AS BIGINT) AS n,
               round(avg(CAST({score_col} AS DOUBLE)), 6) AS mean_score,
               round(avg(CASE WHEN {label_col} THEN 1.0D ELSE 0.0D END),
                     6) AS frac_pos
        FROM {{d}}
        WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
        GROUP BY 1
        """,
    )


def threshold_metrics(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: "list[float]",
) -> DataFrame:
    """Confusion counts + precision/recall/F1 at each candidate
    decision threshold (``predict positive ⇔ score ≥ t``) — the
    operating-point sweep that turns a scored corpus into an actual
    filter setting.

    The thresholds explode from an in-row literal array straight into
    ONE map-combined threshold-keyed aggregate (|thresholds| cells per
    partition cross the wire — never rows), so sweeping 100 candidate
    cutoffs over 100 TB costs one scan. NULL score/label rows are
    excluded; ratios are NULL when undefined (empty predicted-positive
    or actual-positive set) and 6-dp rounded.

    Output: ``(threshold, tp, fp, tn, fn, precision, recall, f1)``.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    ts = [float(t) for t in thresholds]
    if not ts:
        raise ValueError("thresholds must be non-empty")
    arr = ", ".join(f"{t!r}D" for t in ts)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH cells AS (
          SELECT t,
                 CAST(sum(CASE WHEN _pos AND _lbl THEN 1 ELSE 0 END)
                      AS BIGINT) AS tp,
                 CAST(sum(CASE WHEN _pos AND NOT _lbl THEN 1 ELSE 0 END)
                      AS BIGINT) AS fp,
                 CAST(sum(CASE WHEN NOT _pos AND NOT _lbl THEN 1 ELSE 0
                      END) AS BIGINT) AS tn,
                 CAST(sum(CASE WHEN NOT _pos AND _lbl THEN 1 ELSE 0 END)
                      AS BIGINT) AS fn
          FROM (
            SELECT t, CAST({score_col} AS DOUBLE) >= t AS _pos,
                   {label_col} AS _lbl
            FROM {{d}} LATERAL VIEW explode(array({arr})) AS t
            WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
          ) GROUP BY t
        )
        SELECT t AS threshold, tp, fp, tn, fn,
               round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6)
                 AS precision,
               round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6)
                 AS recall,
               round(2.0D * tp
                     / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE), 6)
                 AS f1
        FROM cells
        """,
    )
