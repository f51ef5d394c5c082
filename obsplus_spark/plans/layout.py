"""Physical-layout planning: the z-order key, small-file compaction
bins and join-key skew.

At 100 TB the scan cost of a query is set by how many files its
predicates can skip via parquet min/max footer stats. Range-partitioning
on one column prunes that column only; **z-ordering** interleaves the
bits of several columns' ranks so files stay tight in every dimension at
once — the standard layout trick for multi-predicate workloads (used by
several lakehouse engines; the bit-interleave curve is the classic
Z-curve / Morton order). :func:`zorder_key` computes that key; a writer
range-partitions and sorts on it.

All math is JVM expressions: per-column bin edges come from one
``percentile_approx`` aggregate (tiny, broadcast) and each row's bin ids
interleave with shift/or folds. :func:`compaction_plan` bins small files
for an OPTIMIZE-style rewrite; :func:`key_skew_report` names the heavy
keys of a join or aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits of resolution per dimension (16 bits × 4 cols fits a long)
ZBITS = 16


def _interleave(cols: list[str], bits: int) -> Column:
    """Morton interleave of pre-binned int columns (bit j of column c →
    output bit j*len(cols)+c), as one fold over the bit positions."""
    n = len(cols)
    terms = " | ".join(
        f"shiftleft(shiftright(CAST({c} AS BIGINT), i) & 1, i * {n} + {ci})"
        for ci, c in enumerate(cols)
    )
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),"
        f" (acc, i) -> acc | {terms})"
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = ZBITS,
    binning: str = "uniform",
) -> DataFrame:
    """Append ``_zkey``: bin each column to ``bits`` bits, then
    Morton-interleave. One tiny stats row broadcast to the scan, no
    shuffle of the data.

    ``binning='uniform'`` (default): ``width_bucket`` over the observed
    min/max — O(1) per row. ``binning='quantile'``: equi-populated bins
    from a ``percentile_approx`` edge array (better clustering under
    heavy skew; per-row cost is a scan of the ≤1024-entry edge array, so
    quantile mode caps at 10 effective bits)."""
    nbins = 1 << bits
    if binning == "uniform":
        stats = df.agg(
            *[
                e
                for c in cols
                for e in (
                    F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                    F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
                )
            ]
        )
        binned = df.crossJoin(F.broadcast(stats))
        bin_cols = []
        for c in cols:
            binned = binned.withColumn(
                f"_b_{c}",
                F.expr(
                    # coalesce: a NULL value must bin to the 0 sentinel,
                    # not NULL the whole Morton key (which would dump
                    # every partially-null row into one unclustered
                    # range partition — r6 review)
                    f"coalesce(least(CAST({nbins - 1} AS BIGINT),"
                    f" greatest(CAST(0 AS BIGINT),"
                    f" width_bucket(CAST({c} AS DOUBLE), _lo_{c},"
                    f" _hi_{c} + 1e-9, {nbins}) - 1)), CAST(0 AS BIGINT))"
                ),
            )
            bin_cols.append(f"_b_{c}")
        drops = [f"_lo_{c}" for c in cols] + [f"_hi_{c}" for c in cols]
    elif binning == "quantile":
        ebits = min(bits, 10)
        enb = 1 << ebits
        shift = bits - ebits
        probs = F.array(*[F.lit(i / enb) for i in range(1, enb)])
        stats = df.agg(
            *[
                F.percentile_approx(
                    F.col(c).cast("double"), probs, F.lit(10000)
                ).alias(f"_e_{c}")
                for c in cols
            ]
        )
        binned = df.crossJoin(F.broadcast(stats))
        bin_cols = []
        for c in cols:
            binned = binned.withColumn(
                f"_b_{c}",
                F.expr(
                    f"shiftleft(CAST(size(filter(_e_{c},"
                    f" e -> e < cast({c} AS double))) AS BIGINT), {shift})"
                ),
            )
            bin_cols.append(f"_b_{c}")
        drops = [f"_e_{c}" for c in cols]
    else:
        raise ValueError(f"unknown binning {binning!r}")
    scaled = binned.withColumn("_zkey", _interleave(bin_cols, bits))
    return scaled.drop(*drops, *bin_cols)


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
    dir_col: str = "dir",
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE/bin-packing step of a
    lakehouse maintenance job): assign every file to an output bin of
    ~``target_bytes`` within its directory, deterministically, without
    collecting the manifest to the driver. Small-file proliferation is
    the classic death of a streaming-ingest table (one file per
    micro-batch per partition), and the compactor's first step is
    exactly this plan: which files merge into which output.

    Packing rule: within a directory, files order by (size desc, path)
    and bin = ⌊cumulative-bytes-before / target⌋ — contiguous cumsum
    packing. Every bin except the last holds ≥ target·(1 − its first
    file's overshoot); a file ≥ target lands alone or leading a bin
    (an exact first-fit-decreasing is inherently sequential — the
    cumsum rule is the standard distributed surrogate and within one
    file of FFD's bin count per directory).

    Scale shape: ONE dir-keyed exchange; the bin totals reuse it (the
    (dir, bin) window's ClusteredDistribution is satisfied by the dir
    hash partitioning — subset rule). No driver-side manifest, no
    collect; works on a billion-file manifest.

    Output: (dir, path, size_bytes, bin, bin_bytes, n_bin_files).
    """
    from obsplus_spark.util import sql_over

    tb = int(target_bytes)
    if tb <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    return sql_over(
        {"f": files},
        f"""
        WITH b AS (
          SELECT {dir_col} AS dir, {path_col} AS path,
                 CAST({size_col} AS BIGINT) AS size_bytes,
                 CAST((sum({size_col}) OVER (
                        PARTITION BY {dir_col}
                        ORDER BY {size_col} DESC, {path_col}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - {size_col}) div {tb} AS BIGINT) AS bin
          FROM {{f}}
        )
        SELECT dir, path, size_bytes, bin,
               CAST(sum(size_bytes) OVER (PARTITION BY dir, bin)
                    AS BIGINT) AS bin_bytes,
               CAST(count(1) OVER (PARTITION BY dir, bin)
                    AS BIGINT) AS n_bin_files
        FROM b
        """,
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top: int = 20,
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the top heavy keys with
    their row share and cumulative share — what a pipeline reads BEFORE
    deciding to salt a join or enable AQE skew handling (a key carrying
    5% of a 100 TB fact table straggles one reducer for hours; this
    report names it and quantifies how much salting would help).

    NULL keys are reported as their own row (they cluster into one
    partition in a shuffle exactly like a real value — the most common
    skew culprit in practice).

    Scale shape: per-key counts AND the global total come from ONE
    rollup aggregate (map-combined; the Expand doubles the map-side
    stream, strictly cheaper than the two corpus aggregates a
    twice-referenced count CTE inlines to) — the grand-total row sorts
    to rank 1 by construction (``_g DESC`` leads the order), so the
    rank-≤-k+1 filter rewrites to a distributed TakeOrdered (asserted
    in tests) and every later window runs over ≤ ``top``+1 rows.

    Output: (rank, key [as string], n_rows, share, cum_share), 6-dp
    rounded, heaviest first.
    """
    from obsplus_spark.util import sql_over

    k = int(top)
    if k < 1:
        raise ValueError(f"top must be >= 1, got {top}")
    return sql_over(
        {"d": df},
        f"""
        WITH c AS (
          SELECT CAST(grouping({key_col}) AS INT) AS _g,
                 CAST({key_col} AS STRING) AS key,
                 count(1) AS n_rows
          FROM {{d}} GROUP BY ROLLUP({key_col})
        ),
        r AS (
          SELECT * FROM (
            SELECT _g, key, n_rows,
                   row_number() OVER (ORDER BY _g DESC, n_rows DESC,
                                      key ASC NULLS LAST) AS _rn
            FROM c
          ) WHERE _rn <= {k + 1}
        )
        SELECT CAST(_rn - 1 AS BIGINT) AS rank, key,
               CAST(n_rows AS BIGINT) AS n_rows,
               round(n_rows / CAST(_tot AS DOUBLE), 6) AS share,
               -- WHERE runs before window functions in this SELECT, so
               -- the running sum sees only the _g=0 key rows (the
               -- rank-0 total row is already gone)
               round(sum(n_rows) OVER (ORDER BY _rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) / CAST(_tot AS DOUBLE), 6) AS cum_share
        FROM (SELECT *, max(CASE WHEN _g = 1 THEN n_rows END)
                          OVER () AS _tot
              FROM r)
        WHERE _g = 0
        """,
    )
