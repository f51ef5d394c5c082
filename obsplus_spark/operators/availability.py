"""Availability / uptime analytics over interval tables.

Spark re-expression of the WaveBank index aggregations:
- ``get_availability_df`` (``wavebank.py:380-395``): per-key min(start) /
  max(end) — one partial-aggregating ``groupBy`` (map-side combine, one
  shuffle on the group keys, no join).
- ``get_uptime_df`` (``wavebank.py:487-521``): availability ⟗ per-key gap
  totals, missing gap totals → 0, uptime fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obsplus_spark.functions.sqltext import sql_ident
from obsplus_spark.operators.gaps import gaps_df
from obsplus_spark.util import sql_over

NSLC = ["network", "station", "location", "channel"]


def availability(
    df: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "starttime",
    end_col: str = "endtime",
) -> DataFrame:
    """Per-key [min start, max end] — the reference's availability table.

    One SQL statement (:func:`sql_over`): the same aggregate as
    ``groupBy(*keys).agg(...)``, built in a handful of py4j round trips
    instead of three per key and per aggregate column."""
    keys = ", ".join(sql_ident(k) for k in keys or NSLC)
    s, e = sql_ident(start_col), sql_ident(end_col)
    return sql_over(
        {"index": df},
        f"SELECT {keys}, min({s}) AS {s}, max({e}) AS {e} "
        f"FROM {{index}} GROUP BY {keys}",
    )


def uptime(
    df: DataFrame,
    keys: list[str] | None = None,
    start_col: str = "starttime",
    end_col: str = "endtime",
    min_gap: int | None = None,
    sampling_period_col: str | None = "sampling_period",
) -> DataFrame:
    """Fraction of the available span actually covered by data.

    Mirror of ``wavebank.py:487-521``: ``duration = max(end) − min(start)``
    per key; ``gap_duration = Σ gaps`` (from :func:`gaps_df`); keys with no
    gaps keep 0 via the full-outer join + coalesce; ``availability =
    (duration − gap_duration) / duration``.
    """
    keys = keys or NSLC
    avail = availability(df, keys, start_col, end_col).withColumn(
        "duration", F.col(end_col) - F.col(start_col)
    )
    gaps = gaps_df(df, keys, start_col, end_col, min_gap, sampling_period_col)
    gap_totals = gaps.groupBy(*keys).agg(
        F.sum("gap_duration").alias("gap_duration")
    )
    joined = avail.join(gap_totals, keys, "full_outer").withColumn(
        "gap_duration", F.coalesce(F.col("gap_duration"), F.lit(0).cast("long"))
    )
    return joined.withColumn(
        "availability",
        (F.col("duration") - F.col("gap_duration"))
        / F.col("duration").cast("double"),
    )
