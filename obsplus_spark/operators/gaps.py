"""Gaps-and-islands analytics — the reference's crown-jewel window programs.

Three operators over interval tables (rows = [start, end] per key):

- :func:`gaps_df` — find holes in coverage (``wavebank.py:427-485
  get_gaps_df``). The subtlety replicated exactly: rows may **overlap**, so
  the gap test compares the *running max* of end times against the next
  start — a plain lag-diff undercounts when a long row swallows its
  successors (``np.maximum.accumulate`` at ``wavebank.py:460-463``).
- :func:`segments_df` — invert gaps into contiguous islands
  (``wavebank.py:523-577 get_segments_df``).
- :func:`sessionize` — assign island/session ids to every row
  (``utils/waveforms.py:221-289 merge_traces`` grouping: new group when the
  previous running-max end + tolerance < start; group id = running count of
  group starts).

All three are single-window-pass DataFrame programs: one shuffle on the
partition keys, then ``lead``/running-``max``/running-``sum`` frames inside
each partition — the plan Spark would pick for any gaps-and-islands SQL, and
the one that scales (partitions are per-key, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from obsplus_spark.functions.sqltext import sql_ident

NSLC = ["network", "station", "location", "channel"]


def _min_gap_sql(min_gap, sampling_period_col) -> str:
    """min_gap default = 1.5 × sampling_period (wavebank.py:446-449), SQL."""
    if min_gap is not None:
        return str(int(min_gap))
    if sampling_period_col is None:
        return "0"
    return f"CAST({sql_ident(sampling_period_col)} * 1.5D AS BIGINT)"


def gaps_df(
    df: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    min_gap: int | None = None,
    sampling_period_col: str | None = "sampling_period",
) -> DataFrame:
    """Coverage holes per key group.

    Output: key columns + ``gap_start``, ``gap_end``, ``gap_duration``
    (same units as the inputs; ns longs by convention).

    Both window columns are built in one ``selectExpr``, the gap test in
    one ``where`` and the output in one more ``selectExpr``: SQL text, a
    few py4j round trips instead of one per ``Column`` node.
    """
    keys = list(keys or NSLC)
    part = keys + ([sampling_period_col] if sampling_period_col else [])
    s, e = sql_ident(start_col), sql_ident(end_col)
    w = (
        f"PARTITION BY {', '.join(map(sql_ident, part))} ORDER BY {s}, {e}"
    )
    min_gap_sql = _min_gap_sql(min_gap, sampling_period_col)
    return (
        df.selectExpr(
            "*",
            f"lead({s}) OVER ({w}) AS _next_start",
            f"max({e}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS _cum_end",
        )
        .where(
            f"_next_start IS NOT NULL AND _cum_end + ({min_gap_sql}) < _next_start"
        )
        .selectExpr(
            *map(sql_ident, part),
            "_cum_end AS gap_start",
            "_next_start AS gap_end",
            "_next_start - _cum_end AS gap_duration",
        )
    )


def sessionize(
    df: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    min_gap: int | None = None,
    sampling_period_col: str | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign an island/session id to every interval row.

    A new session starts where the previous rows' running-max end (+
    tolerance) no longer reaches the current start; the session id is the
    running count of session starts — the ``shift``/``cumsum`` program of
    ``utils/waveforms.py:241-254``, as two window expressions.
    """
    keys = list(keys or NSLC)
    part = keys + ([sampling_period_col] if sampling_period_col else [])
    w = Window.partitionBy(*part).orderBy(start_col, end_col)
    prev_run = w.rowsBetween(Window.unboundedPreceding, -1)

    min_gap_c = F.expr(_min_gap_sql(min_gap, sampling_period_col))
    prev_cum_end = F.max(end_col).over(prev_run)
    is_new = F.when(
        prev_cum_end.isNull() | (prev_cum_end + min_gap_c < F.col(start_col)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("_new_session", is_new).withColumn(
        session_col,
        F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("_new_session")


def segments_df(
    df: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    min_gap: int | None = None,
    sampling_period_col: str | None = "sampling_period",
    pre_merge: bool = False,
) -> DataFrame:
    """Contiguous coverage islands per key group.

    Implemented directly as sessionize → per-session min/max (+ row count),
    rather than the reference's gap-inversion (``wavebank.py:523-577``) —
    identical result, one fewer pass.

    ``pre_merge=True`` (requires a positive integer ``min_gap`` and
    intervals with ``end ≥ start``) first hash-aggregates intervals on
    ``(keys, floor(start / min_gap))``: two intervals whose starts share
    a ``min_gap``-wide bucket satisfy ``startⱼ − prev_run_end ≤ startⱼ −
    startᵢ < min_gap``, so the session rule can never split them — the
    bucket collapses to (min start, max end, count) **map-side, without
    any sort**, and the sort-heavy sessionize window runs over the tiny
    merged table instead of every raw interval. The win at scale: the
    shuffle+sort that dominated sessionization now moves one row per
    (key, occupied bucket) instead of one per interval; low-cardinality
    key sets (the worst case for a per-key sort window) stop mattering.
    Exact same output as the direct path — pre-merging only fuses pairs
    the global session closure fuses anyway.
    """
    keys = list(keys or NSLC)
    part = keys + ([sampling_period_col] if sampling_period_col else [])
    if pre_merge:
        if not min_gap or min_gap <= 0 or sampling_period_col is not None:
            raise ValueError(
                "pre_merge needs a positive min_gap and no sampling_period_col"
            )
        pre = (
            df.groupBy(
                *keys,
                # integer division, NOT floor(a / b): `/` on ns-epoch
                # longs is IEEE double division, and past 2^53 a start
                # within ~hundreds of ns of a bucket boundary can round
                # into the neighboring bucket — fusing intervals the
                # direct sessionize path splits (the same hazard class
                # sessions.py cohort_retention documents). Non-negative
                # ns epochs make `div` == floor division.
                F.expr(f"{start_col} div {int(min_gap)}").alias("_pbk"),
            )
            .agg(
                F.min(start_col).alias(start_col),
                F.max(end_col).alias(end_col),
                F.count(F.lit(1)).alias("_pn"),
            )
            .drop("_pbk")
        )
        sess = sessionize(pre, keys, start_col, end_col, min_gap, None)
        return sess.groupBy(*keys, "session_id").agg(
            F.min(start_col).alias("seg_start"),
            F.max(end_col).alias("seg_end"),
            F.sum("_pn").alias("n_rows"),
        )
    sess = sessionize(
        df, keys, start_col, end_col, min_gap, sampling_period_col
    )
    return sess.groupBy(*part, "session_id").agg(
        F.min(start_col).alias("seg_start"),
        F.max(end_col).alias("seg_end"),
        F.count(F.lit(1)).alias("n_rows"),
    )
