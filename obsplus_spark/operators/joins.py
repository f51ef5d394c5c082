"""Join operators Spark lacks natively: interval-overlap, as-of, bulk-request.

These re-express the reference's join inventory (SURVEY.md §2.3) with plans
that survive 100×: the naive non-equi interval join is O(n·m); we bucket the
time axis into equi-join keys (the distributed analogue of the reference's
directory/partition pruning) and keep the overlap test as a cheap residual.
The as-of join is the union + last-value-over-window one-pass program — one
shuffle, no join node at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | None = None,
    left_start: str = "starttime",
    left_end: str = "endtime",
    right_start: str = "starttime",
    right_end: str = "endtime",
    bucket: int | None = None,
    how: str = "inner",
    broadcast_left: bool = False,
) -> DataFrame:
    """Join rows whose [start, end] intervals overlap (strict: s < e', e > s').

    The engine's version of the reference's bulk/window joins
    (``utils/waveforms.py:567-608``, ``fetcher.py:330-408``): the flagship
    "event-window extraction" is this join with ``left`` = per-event windows.

    Scale strategy (SURVEY.md §7): with ``bucket`` set (ns), both sides
    explode into time-bucket ids and join on ``on + [bucket]`` — an
    equi-join Catalyst can hash-partition — with the exact overlap as a
    residual filter. Each overlapping pair is emitted exactly once: only in
    the bucket ``max(floor(l.start), floor(r.start))`` (no dedup pass).
    Without ``bucket``, emits the plain conditional join (fine when one
    side broadcasts; pass ``broadcast_left`` for small window tables).
    """
    on = on or []
    if bucket is not None and how != "inner":
        # the bucketed path explodes each side into per-bucket copies; an
        # outer join would null-extend every non-canonical copy of an
        # unmatched row, duplicating left rows — only inner is correct
        raise ValueError("bucketed interval join supports how='inner' only")
    overlap = (F.col(f"l.{left_start}") < F.col(f"r.{right_end}")) & (
        F.col(f"l.{left_end}") > F.col(f"r.{right_start}")
    )
    eq = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in on]

    if bucket is None:
        l = F.broadcast(left.alias("l")) if broadcast_left else left.alias("l")
        cond = overlap
        for e in eq:
            cond = cond & e
        return l.join(right.alias("r"), cond, how)

    b = F.lit(int(bucket))

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        return df.withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    F.floor(F.col(start) / b), F.floor((F.col(end) - 1) / b)
                )
            ),
        )

    lb = bucketed(left, left_start, left_end).alias("l")
    rb = bucketed(right, right_start, right_end).alias("r")
    # count each pair once: only in the later of the two starting buckets
    canonical = F.col("l._bkt") == F.greatest(
        F.floor(F.col(f"l.{left_start}") / b),
        F.floor(F.col(f"r.{right_start}") / b),
    )
    cond = (F.col("l._bkt") == F.col("r._bkt")) & overlap & canonical
    for e in eq:
        cond = cond & e
    return lb.join(rb, cond, how).drop("_bkt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_values: list[str] | None = None,
    tolerance: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """For each left row, the most recent right row at-or-before its time.

    The reference's nearest/as-of joins (first-pick reference times
    ``fetcher.py:598-628``, nearest-event association ``merge.py:211-266``)
    as a **single-shuffle union + window** program: tag both sides, union,
    sort each key partition by (time, side), carry the last non-null right
    payload forward (``last(..., ignorenulls=True)``), keep left rows. No
    join node → no O(n·m) blowup, no broadcast limit; skew is bounded by
    the per-key row count.

    ``right_values`` are emitted as ``<col>_right``; ``tolerance`` (same
    units as ts) nulls matches older than ``left_ts − tolerance``;
    ``strict`` excludes equal timestamps (< instead of <=).

    The right payload travels as **one struct** carried by a single
    ``last(ignorenulls=True)`` — the whole matched row wins or loses
    atomically. (Per-column carry would silently substitute an older row's
    value wherever the matched row holds a NULL.)
    """
    from pyspark.sql import types as T

    right_values = right_values or [
        c for c in right.columns if c not in set(on) | {right_ts}
    ]
    lcols = left.columns
    side = F.lit(1) if not strict else F.lit(-1)  # ties: right first unless strict

    payload_type = T.StructType(
        [T.StructField("_rt", right.schema[right_ts].dataType, True)]
        + [T.StructField(c, right.schema[c].dataType, True) for c in right_values]
    )
    r = right.select(
        *on,
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(right_ts).alias("_rt"),
            *[F.col(c) for c in right_values],
        ).alias("_rp"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
    )
    l = left.select(
        *on,
        F.col(left_ts).alias("_t"),
        side.alias("_side"),
        F.lit(None).cast(payload_type).alias("_rp"),
        *[F.col(c) for c in lcols if c not in on],
    )

    w = (
        Window.partitionBy(*on)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l).withColumn(
        "_rpc", F.last("_rp", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_side") != 0)
    if tolerance is not None:
        too_old = F.col("_rpc._rt") < F.col("_t") - F.lit(int(tolerance))
        out = out.withColumn(
            "_rpc", F.when(too_old, F.lit(None).cast(payload_type)).otherwise(F.col("_rpc"))
        )
    return out.select(
        *on,
        F.col("_t").alias(left_ts),
        *[c for c in lcols if c not in set(on) | {left_ts}],
        *[F.col(f"_rpc.{c}").alias(f"{c}_right") for c in right_values],
        F.col("_rpc._rt").alias(f"{right_ts}_matched"),
    )


def topk_per_group(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column | str],
    k: int = 1,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k rows per group via row_number (first-pick ``utils/events.py:
    296-317``, nearest-event k=1 ``merge.py:253``)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation with key salting for skewed groups.

    When one group key dominates (the classic hot-user/hot-seed skew), a
    plain ``groupBy`` sends the whole hot group to one reducer. Salting
    splits each group into ``salt`` sub-groups for the partial phase, then
    merges partials — the hot key's work spreads across ``salt`` tasks and
    the final shuffle only moves ``salt`` rows per group.

    ``aggs`` maps output column → (partial_fn, merge_fn, input_col), e.g.
    ``{"n": (F.count, F.sum, "x"), "mx": (F.max, F.max, "x")}``. Only
    aggregations with an associative merge decompose this way (count→sum,
    sum→sum, min→min, max→max). Every partial — including ``count`` —
    receives the INPUT COLUMN, so ``count`` keeps SQL semantics (non-null
    values only) and the salting stays a pure internal rewrite of the
    plain groupBy; for a row count pass a non-nullable column or a
    literal-1 column.
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=0) * salt).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        *[pf(F.col(c)).alias(f"_p_{out}")
          for out, (pf, _mf, c) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[mf(F.col(f"_p_{out}")).alias(out) for out, (_pf, mf, c) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    dim: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the BIG side's key, replicate the dim
    side once per salt bucket, join on ``(key, salt)``.

    The manual twin of AQE's skew-join splitting, exposed as an operator
    so a plan can apply it deterministically (AQE only splits when its
    runtime stats spot the skew, and not across every join type). When
    one key dominates the big side — the hot-document / hot-user shuffle
    straggler — a plain shuffle join lands the whole hot key on one
    reducer; salting spreads it over ``salt`` tasks at the cost of
    ``salt×`` replication OF THE DIM SIDE ONLY (the big side is mapped
    1:1, its shuffle volume is unchanged).

    The salt is ``F.rand`` — per-row, no cross-engine or cross-run
    determinism needed because the JOIN RESULT is salt-invariant (every
    big row still meets exactly its key's dim rows). Join types where a
    dim row may emit unmatched output (right/full outer) would emit it
    once per salt replica; they are rejected.

    Output: the plain join's columns (salt column dropped).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}"
        )
    s = int(salt)
    if s < 2:
        raise ValueError(f"salt must be >= 2, got {salt}")
    if "_salt" in big.columns or "_salt" in dim.columns:
        raise ValueError("inputs must not already carry a _salt column")
    big_s = big.withColumn("_salt", (F.rand(seed=0) * s).cast("int"))
    dim_s = dim.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {s - 1})"))
    )
    out = big_s.join(dim_s, [key, "_salt"], how)
    return out.drop("_salt")


def bulk_request_filter(
    index: DataFrame,
    requests: list[tuple],
    nslc: tuple[str, ...] = ("network", "station", "location", "channel"),
    start_col: str = "starttime",
    end_col: str = "endtime",
) -> DataFrame:
    """Bulk request as one compiled scan predicate — the literal-list path.

    The reference's ``get_waveforms_bulk`` takes a Python list of
    ``(net, sta, loc, chan, t1, t2)`` tuples (``wavebank.py:581-614``);
    when the requests are plan-build constants, the whole bulk match
    compiles to a single OR-of-conjunctions filter over the index scan: no
    join, no shuffle, each glob regex compiled once (``glob_match``
    exact/wildcard split), and the time bounds + exact codes reach the
    parquet scan as pushable predicates. Use :func:`bulk_request_join`
    when the request table is itself distributed data.
    """
    from obsplus_spark.functions.strings import glob_match

    pred = None
    for req in requests:
        codes, (t1, t2) = req[: len(nslc)], req[len(nslc) :]
        p = (F.col(start_col) < F.lit(int(t2))) & (F.col(end_col) > F.lit(int(t1)))
        for col, pat in zip(nslc, codes):
            p = p & glob_match(col, pat)
        pred = p if pred is None else (pred | p)
    if pred is None:
        return index.filter(F.lit(False))
    return index.filter(pred)


def bulk_request_join(
    index: DataFrame,
    requests: DataFrame,
    nslc: tuple[str, ...] = ("network", "station", "location", "channel"),
    start_col: str = "starttime",
    end_col: str = "endtime",
) -> DataFrame:
    """Request table (NSLC patterns + window) × index: overlap + seed match.

    Mirror of ``utils/waveforms.py:567-608 _filter_index_to_bulk`` with the
    reference's exact/glob split kept as a physical-plan split: rows whose
    four codes contain no wildcard **semi-join** on equality (broadcast hash,
    fast path, at most one output row per index row); wildcard rows
    semi-join via ``regexp_like`` against a broadcast of the (small) request
    side, minus rows the exact branch already emitted (broadcast anti join).
    Both branches build unconditionally — an empty side joins to nothing —
    so plan construction fires no Spark job, and the branch split replaces
    the full-output dedup shuffle a plain inner-join union would need.
    """
    from obsplus_spark.functions.strings import glob_to_regex_expr

    has_wild = F.lit(False)
    for c in nslc:
        has_wild = has_wild | F.col(c).rlike(r"[*?\[]")
    exact_req = requests.filter(~has_wild)
    glob_req = requests.filter(has_wild)

    overlap = (F.col(f"i.{start_col}") < F.col(f"r.{end_col}")) & (
        F.col(f"i.{end_col}") > F.col(f"r.{start_col}")
    )
    exact_cond = overlap
    for c in nslc:
        exact_cond = exact_cond & (F.col(f"i.{c}") == F.col(f"r.{c}"))

    exact_hits = index.alias("i").join(
        F.broadcast(exact_req.alias("r")), exact_cond, "left_semi"
    )

    # glob→regex runs only over the (dimension-small) request side, as a
    # pure SQL expression (zero row-Python anywhere in this operator);
    # the match itself is regexp_like on the distributed index side.
    glob_regex = glob_req.selectExpr(
        *[f"{glob_to_regex_expr(c)} AS {c}" for c in nslc],
        start_col,
        end_col,
    )
    gcond = overlap
    for c in nslc:
        gcond = gcond & F.regexp_like(F.col(f"i.{c}"), F.col(f"r.{c}"))
    glob_hits = (
        index.alias("i")
        .join(F.broadcast(glob_regex.alias("r")), gcond, "left_semi")
        .alias("i")
        .join(F.broadcast(exact_req.alias("r")), exact_cond, "left_anti")
    )
    return exact_hits.unionByName(glob_hits)


def cascade_delete(
    roots: DataFrame,
    chain: "list[tuple[str, DataFrame, str, str | None]]",
    broadcast_keys: bool = False,
) -> DataFrame:
    """Referential purge propagation ("right to be forgotten"): given a
    frame of banned root keys, walk a foreign-key chain and report, per
    table, how many rows the cascade deletes and how many survive — the
    audit report a compliance pipeline emits before (and after) the
    actual anti-join rewrite of each table.

    ``chain[i] = (name, df, fk_col, pk_col)``: a row of table *i* is
    purged when its ``fk_col`` is in the banned key set of level *i−1*
    (the root frame for *i = 0*); its ``pk_col`` values then become the
    banned set for level *i+1* (``None`` for the leaf). NULL foreign
    keys never match a ban (join semantics — documented, matching SQL
    ``IN``).

    Scale shape: per level ONE keyed semi join derives the banned-PK
    frame (persisted — it feeds both the next level and this level's
    count, and a bounded per-session ring releases it) plus one
    semi-joined count aggregate; the per-table totals are map-combined
    ``count(1)`` scans. Banned-key frames are key-sized, never
    row-sized; AQE broadcasts them when small — but under an AQE-off
    session every semi join sort-merges, exchanging the FULL fact
    table per level. ``broadcast_keys=True`` (caller-gated: correct
    only while every banned-key set stays broadcast-sized — fine for
    tombstone-cohort purges, wrong when a root fans out to billions
    of child PKs) pins the banned side as a broadcast so the fact
    tables are never exchanged. The stats output is
    chain-sized. NB: the release ring keeps TWO entries, so on chains
    of ≥ 3 levels the earliest banned frames are unpersisted before
    the output executes — still correct (Spark recomputes an
    unpersisted frame from lineage), it just re-runs one key-sized
    semi join per early level instead of reading a cache.

    Output: (table_name, n_purged, n_kept) — one row per chain entry,
    in chain order by name, all BIGINT.
    """
    from pyspark.sql import functions as F

    from obsplus_spark.cache import register_shingle_cache
    from obsplus_spark.util import ensure_parallelism

    if not chain:
        raise ValueError("chain must be non-empty")
    if len(roots.columns) != 1:
        raise ValueError(
            f"roots must have exactly one column, got {roots.columns}"
        )
    banned = (
        ensure_parallelism(roots)
        .select(F.col(roots.columns[0]).alias("_k"))
        .where(F.col("_k").isNotNull())
        .distinct()
        .persist()
    )
    register_shingle_cache(banned)
    stats = []
    for name, df, fk_col, pk_col in chain:
        bside = F.broadcast(banned) if broadcast_keys else banned
        # ONE pass per level for BOTH counts (r12, guide §2.4): the old
        # shape ran a semi-joined count AND a separate total count —
        # two full scans of the fact table per level (plus a third for
        # the next level's banned-PK derivation). The banned set is
        # DISTINCT by construction, so a left join matches each row at
        # most once and count(_k) counts exactly the purged rows —
        # total and purged now ride one scan + one (broadcast) probe.
        joined = df.join(bside, df[fk_col] == bside["_k"], "left")
        counts = joined.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.col("_k")).alias("n_purged"),
        )
        stats.append(
            counts.select(
                F.lit(name).alias("table_name"),
                F.col("n_purged").cast("long").alias("n_purged"),
                (F.col("n_total") - F.col("n_purged"))
                .cast("long")
                .alias("n_kept"),
            )
        )
        if pk_col is not None:
            banned = (
                joined.where(F.col("_k").isNotNull())
                .select(F.col(pk_col).alias("_k"))
                .where(F.col("_k").isNotNull())
                .distinct()
                .persist()
            )
            register_shingle_cache(banned)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out
