"""Nanosecond time convention helpers.

The reference stores all times as int64 ns (``utils/time.py:129-327``,
``constants.py:42``); Spark timestamps are µs. Longs are the source of
truth in this engine; timestamps are derived for display/windowing only
(SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
NS_PER_DAY = 86_400 * NS_PER_SEC


def ts_to_ns(col: Column | str) -> Column:
    """TimestampType → int64 ns since epoch (exact at µs granularity)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.unix_micros(c) * F.lit(1000)).cast("long")


def assign_time_chunks(
    df: DataFrame,
    ts_col: str,
    start_ns: int,
    end_ns: int,
    duration_ns: int,
    overlap_ns: int = 0,
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Map each row to the chunk windows containing ``ts_col`` — pure
    arithmetic, no join.

    The interval-join formulation (rows θ-joined against the chunk table)
    is O(rows × chunks) — a BroadcastNestedLoopJoin that re-tests every
    chunk per row. Chunks are *regular*, so membership is closed-form:
    row t belongs to chunk k iff ``start + k·dur ≤ t < start + k·dur +
    dur + overlap``, i.e. ``k ∈ [floor((t-start-dur-ovl)/dur)+1,
    floor((t-start)/dur)]`` — a ≤⌈1+ovl/dur⌉-element sequence explode per
    row, O(rows) total at any scale. Rows outside [start, end) drop (as
    in the join form with inner semantics; keep empty chunks by
    re-joining the chunk table on the aggregated output)."""
    t = F.col(ts_col)
    in_range = (t >= F.lit(start_ns)) & (t < F.lit(end_ns))
    k_hi = F.least(
        F.floor((t - F.lit(start_ns)) / F.lit(duration_ns)),
        F.lit((end_ns - 1 - start_ns) // duration_ns),
    )
    k_lo = F.greatest(
        F.floor(
            (t - F.lit(start_ns + duration_ns + overlap_ns)) / F.lit(duration_ns)
        )
        + F.lit(1),
        F.lit(0),
    )
    out = df.filter(in_range).select(
        "*", F.explode(F.sequence(k_lo, k_hi)).alias(idx_col)
    )
    return out.withColumns(
        {
            "chunk_start": F.lit(start_ns) + F.col(idx_col) * F.lit(duration_ns),
            "chunk_end": F.least(
                F.lit(start_ns)
                + F.col(idx_col) * F.lit(duration_ns)
                + F.lit(duration_ns + overlap_ns),
                F.lit(end_ns),
            ),
        }
    )


def time_chunks(
    df_or_spark,
    start_ns: int,
    end_ns: int,
    duration_ns: int,
    overlap_ns: int = 0,
) -> DataFrame:
    """Materialize [t1, t2) chunk windows as a DataFrame.

    Mirror of reference ``utils/time.py:378-421 make_time_chunks`` (the
    driver of ``yield_waveforms``), expressed as ``sequence`` + ``explode``
    so it stays a distributed table, never a Python generator: each chunk is
    ``[start + i*duration, start + (i+1)*duration + overlap]``.
    """
    spark = df_or_spark if hasattr(df_or_spark, "range") else df_or_spark.sparkSession
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(start_ns), F.lit(end_ns - 1), F.lit(duration_ns))
            ).alias("chunk_start")
        )
        .select(
            F.col("chunk_start"),
            F.least(
                F.col("chunk_start") + F.lit(duration_ns + overlap_ns), F.lit(end_ns)
            ).alias("chunk_end"),
        )
    )
