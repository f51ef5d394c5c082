"""Waveform sample operators: merge/trim/common-coverage.

The reference stores samples as numpy arrays on Trace objects; here a trace
segment is a **row**: NSLC + ``starttime``/``endtime``/``sampling_period``
(ns longs) + ``samples array<double>`` (SURVEY.md §1.4). Operators:

- :func:`merge_traces` — the reference's crown-jewel imperative op
  (``utils/waveforms.py:221-289``): group overlapping/adjacent segments
  (sessionization, §2.5), then overlay samples onto a unified time axis.
  Grouping is pure window SQL; only the per-group numpy overlay runs in
  ``applyInPandas`` (Arrow-batched, partitioned by merge group — the one
  place imperative code is genuinely needed).
- :func:`trim_traces` — slice samples to a window (``Stream.trim``
  semantics in ``_prep_output_stream``, ``wavebank.py:783-798``) as pure
  ``slice``/arithmetic expressions — no Python.
- :func:`common_coverage` — windows where *all* requested seeds have data
  (``stream2contiguous``, ``utils/waveforms.py:305-372``) as a sweep-line
  window program: +1/-1 boundary events, running sum == n_seeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obsplus_spark.operators.gaps import sessionize

NSLC = ["network", "station", "location", "channel"]


def merge_traces(
    df: DataFrame,
    keys: list[str] | None = None,
    method_dtype: str = "double",
) -> DataFrame:
    """Merge overlapping/adjacent trace segments per (NSLC, sampling_period).

    Two phases, mirroring ``utils/waveforms.py:221-289``:
    1. merge-group assignment — :func:`sessionize` with
       ``min_gap = sampling_period`` (next start within one sample period
       of the running-max end joins the group, ``:241-254``);
    2. per-group sample overlay — allocate the unified axis
       ``[min(start), max(end))`` at the group's sampling period and copy
       each segment in sorted order (later rows win on overlap, matching
       the reference's overlay ``:279-288``).

    Phase 2 is ``applyInPandas`` over ``(keys, sampling_period,
    session_id)`` — bounded state per group, shuffle keyed on the group,
    no driver involvement.
    """
    import numpy as np
    import pandas as pd

    keys = list(keys or NSLC)
    part = keys + ["sampling_period"]
    sess = sessionize(
        df,
        keys,
        min_gap=None,
        sampling_period_col="sampling_period",
    )

    out_schema = ", ".join(
        [f"{k} string" for k in keys]
        + [
            "sampling_period long",
            "starttime long",
            "endtime long",
            "n_samples long",
            f"samples array<{method_dtype}>",
        ]
    )

    def _overlay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["starttime", "endtime"])
        sp = int(pdf["sampling_period"].iloc[0])
        t0 = int(pdf["starttime"].min())
        t1 = int(pdf["endtime"].max())
        n = max(int(round((t1 - t0) / sp)), 0)
        buf = np.full(n, np.nan)
        # vectorized overlay: offsets via numpy arithmetic, each segment a
        # single slice assignment in sorted order (later rows win) — no
        # per-row pandas iteration
        starts = pdf["starttime"].to_numpy(dtype=np.int64)
        offsets = np.round((starts - t0) / sp).astype(np.int64)
        for i0, s in zip(offsets, pdf["samples"].to_numpy()):
            if s is None:
                continue
            end = min(i0 + len(s), n)
            buf[i0:end] = np.asarray(s)[: end - i0]
        head = {k: pdf[k].iloc[0] for k in keys}
        return pd.DataFrame(
            [
                {
                    **head,
                    "sampling_period": sp,
                    "starttime": t0,
                    "endtime": t1,
                    "n_samples": n,
                    "samples": buf.tolist(),
                }
            ]
        )

    return sess.groupBy(*part, "session_id").applyInPandas(_overlay, out_schema)


def trim_traces(
    df: DataFrame,
    starttime: int,
    endtime: int,
    samples_col: str = "samples",
) -> DataFrame:
    """Slice each segment's samples to [starttime, endtime) — pure exprs.

    Sample i covers ``starttime + i*sp``; the kept index range is
    ``[ceil((t1-start)/sp), floor((t2-start)/sp))`` clamped to the row.
    Rows with no overlap drop (the reference trims then discards empties).
    """
    sp = F.col("sampling_period")
    n = F.size(F.col(samples_col))
    first = F.greatest(F.ceil((F.lit(starttime) - F.col("starttime")) / sp), F.lit(0))
    last = F.least(F.ceil((F.lit(endtime) - F.col("starttime")) / sp), n.cast("long"))
    # guard the null-samples case explicitly: least/greatest IGNORE null
    # operands, so without this a null-samples row sails through the filter
    keep = (F.col(samples_col).isNotNull() & (last > first)).alias("_keep")
    return (
        df.withColumn("_first", first.cast("long"))
        .withColumn("_last", last.cast("long"))
        .filter(keep)
        .select(
            *[c for c in df.columns if c != samples_col],
            F.slice(
                F.col(samples_col),
                (F.col("_first") + 1).cast("int"),
                (F.col("_last") - F.col("_first")).cast("int"),
            ).alias(samples_col),
            (F.col("starttime") + F.col("_first") * sp).alias("trim_start"),
            (F.col("starttime") + F.col("_last") * sp).alias("trim_end"),
        )
    )


def sds_day_chunks(
    traces: DataFrame,
    overlap_ns: int = 30 * 1_000_000_000,
    samples_col: str = "samples",
) -> DataFrame:
    """Day re-chunk kernel of ``WaveBank.archive_to_sds`` (reference
    ``utils/waveforms.py:404-459``): explode each trace row into its UTC
    day windows (each with a leading ``overlap_ns``, the reference's 30 s
    default), trim samples per day, and stamp ``year``/``doy`` partition
    columns. Pure expressions — no Python, no shuffle; the write side
    adds only ``partitionBy``.

    All input columns pass through; ``starttime``/``endtime``/``samples``
    are replaced by the per-day trimmed values.
    """
    from obsplus_spark.functions.timeutils import NS_PER_DAY
    from obsplus_spark.util import sql_over

    passthrough = [
        c for c in traces.columns if c not in ("starttime", "endtime", samples_col)
    ]
    pt = ", ".join(passthrough)
    nsd = int(NS_PER_DAY)
    return sql_over(
        {"t": traces},
        f"""
        SELECT {pt},
               starttime + _first * sampling_period AS starttime,
               starttime + _last * sampling_period AS endtime,
               slice({samples_col}, CAST(_first + 1 AS INT),
                     CAST(_last - _first AS INT)) AS {samples_col},
               year(_day_ts) AS year,
               dayofyear(_day_ts) AS doy
        FROM (
          SELECT *,
                 CAST(greatest(ceil((_day_idx * {nsd} - {int(overlap_ns)}
                   - starttime) / sampling_period), 0) AS BIGINT) AS _first,
                 CAST(least(ceil(((_day_idx + 1) * {nsd} - starttime)
                   / sampling_period), CAST(size({samples_col}) AS BIGINT))
                   AS BIGINT) AS _last,
                 timestamp_micros(CAST((_day_idx * {nsd}) / 1000 AS BIGINT))
                   AS _day_ts
          FROM (
            SELECT *, explode(sequence(floor(starttime / {nsd}),
                     floor((endtime - 1) / {nsd}))) AS _day_idx
            FROM {{t}}
          )
        )
        WHERE {samples_col} IS NOT NULL AND _last > _first
        """,
    )


def common_coverage(
    segments: DataFrame,
    seed_col: str = "seed_id",
    start_col: str = "seg_start",
    end_col: str = "seg_end",
) -> DataFrame:
    """Windows where every distinct seed has coverage — sweep-line program.

    The reference iterates python-side over gap groups
    (``stream2contiguous``/``_get_new_stream``); here: segment boundaries
    become (+1 at start, −1 at end) events and a running sum over the time
    order counts covering seeds; stretches where the count equals the
    number of distinct seeds are the all-channels windows.

    Scale shape: the global cumulative sum is **two-pass range-partitioned**
    — boundaries bucket on the time axis, each bucket computes its local
    running sum and lead, per-bucket totals (one tiny row per bucket) are
    prefix-summed and broadcast back as offsets, and the lead of each
    bucket's last row patches in from the next bucket's first boundary. No
    single-partition window over the boundary table, so the sweep survives
    boundary tables that outgrow one executor. The bucket id is derived
    from the data (broadcast min/max scalars), NOT ``spark_partition_id``
    after a range exchange — a re-executed range exchange may sample
    different boundaries, so physical partition ids are not safe to join
    on. ``n_seeds`` and the bounds are one broadcast scalar aggregate — no
    driver-side action at plan-build.
    """
    spark = segments.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # one scalar aggregate supplies every global the sweep needs; it rides
    # the boundary rows through one broadcast join. JVM-parsed expression
    # strings throughout — the Column-object formulation of this operator
    # cost ~0.3 s of py4j round-trips per plan build.
    scalars = segments.selectExpr(
        f"count(DISTINCT {seed_col}) AS _n_seeds",
        f"min({start_col}) AS _lo",
        f"max({end_col}) AS _hi",
    )
    # one pass over segments: each row explodes into its (+1 start, -1 end)
    # boundary pair (a union of two selects would scan segments twice)
    events = (
        segments.selectExpr(
            "inline(array("
            f"named_struct('t', {start_col}, 'delta', 1),"
            f" named_struct('t', {end_col}, 'delta', -1)))"
        )
        .join(F.broadcast(scalars))
        # divide-first bucket math: width-then-index never overflows long,
        # unlike (t - lo) * n_buckets on wide time spans
        .selectExpr(
            "t",
            "delta",
            "_n_seeds",
            f"floor((t - _lo) / (floor((_hi - _lo) / {n_buckets}) + 1))"
            " AS _pid",
        )
    )

    # at equal t, ends (−1) sort before starts (+1) → half-open [start, end)
    local = events.selectExpr(
        "*",
        "sum(delta) OVER (PARTITION BY _pid ORDER BY t, delta"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _run",
        "lead(t) OVER (PARTITION BY _pid ORDER BY t, delta) AS _next_t",
    )

    # one row per non-empty bucket: its delta total and first boundary —
    # derived from `local` so both branches share the same hash exchange
    # on _pid (deriving it from `events` would plan a second, partial-agg
    # exchange and recompute the boundary subtree — A/B measured in r4:
    # the events-derived variant is ~30% slower despite skipping the
    # second WindowExec pass, because the reused exchange feeds both
    # branches from one scan). The bucket table is
    # |buckets| rows — bounded by the partition count, not data size — so
    # it folds into ONE sorted array row whose prefix sums and next-bucket
    # lookups are per-element array expressions (an unpartitioned window
    # would fold to a single-partition WindowExec; the previous broadcast
    # self-join + regroup spent an extra broadcast job and agg stage on
    # the same ≤|buckets| rows).
    parts = (
        local.groupBy("_pid")
        .agg(
            F.expr("sum(delta) AS _tot"),
            F.expr("min(struct(t, delta)) AS _first"),
        )
        .agg(
            F.expr(
                "sort_array(collect_list(named_struct("
                "'p', _pid, 'tot', _tot, 'ft', _first.t))) AS _ps"
            )
        )
        .select(
            F.inline(
                F.expr(
                    "transform(_ps, (e, i) -> named_struct("
                    " '_pid', e.p,"
                    " '_offset', aggregate(slice(_ps, 1, i), CAST(0 AS"
                    "   BIGINT), (a, x) -> a + x.tot),"
                    " '_next_first_t', CASE WHEN i < size(_ps) - 1"
                    "   THEN _ps[i + 1].ft END))"
                )
            )
        )
    )

    return (
        local.join(F.broadcast(parts), "_pid")
        .where(
            "(_run + _offset) = _n_seeds"
            " AND coalesce(_next_t, _next_first_t) IS NOT NULL"
            " AND coalesce(_next_t, _next_first_t) > t"
        )
        .selectExpr(
            "t AS window_start",
            "coalesce(_next_t, _next_first_t) AS window_end",
        )
    )
