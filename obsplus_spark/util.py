"""Small engine utilities."""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def sorted_group_apply(
    df: DataFrame,
    key_col: str,
    emit: "Callable",
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Grouped apply for HIGH-CARDINALITY SMALL groups: one Arrow stream
    per partition instead of one pandas frame per group.

    ``groupBy().applyInPandas`` pays a fixed per-group cost (Arrow slice +
    pandas construction + a Python call) — measured ~5 ms/group, which
    dwarfs the work when groups are small and numerous (5 ms × 1M groups
    ≈ 80 CPU-minutes of pure harness overhead at scale). This operator
    keeps the same semantics with per-*batch* overhead instead: hash
    repartition on the key, sort within partitions, then a
    ``mapInPandas`` scan that splits each Arrow batch at key boundaries
    (numpy, no per-group pandas objects) and carries the trailing group
    across batch/bundle boundaries.

    ``emit(key, [numpy_chunk, ...]) -> tuple`` receives every chunk of
    one group's rows (in partition sort order) and returns one output
    row. ``df`` must have exactly the key column plus one value column;
    ``schema`` is the output schema string.
    """
    import numpy as np
    import pandas as pd

    val_cols = [c for c in df.columns if c != key_col]
    if len(val_cols) != 1:
        raise ValueError("sorted_group_apply expects one value column")
    vcol = val_cols[0]
    # Contract: NULL keys are DROPPED (a NULL key has no group
    # identity, same rule as chunk_dedup's id contract). Before this
    # filter a NULL key reached the kernel as numpy NaN and crashed on
    # int(key) — found by the degenerate-media sweep; the DuckDB
    # oracle twins filter NULL keys in lockstep.
    df = df.where(f"{key_col} IS NOT NULL")
    out_names = [f.strip().split()[0] for f in schema.split(",")]

    def _scan(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        cur_key = None
        chunks: list = []
        for pdf in batches:
            k = pdf[key_col].to_numpy()
            v = pdf[vcol].to_numpy()
            if not len(k):
                continue
            cuts = np.nonzero(k[1:] != k[:-1])[0] + 1
            bounds = np.concatenate([[0], cuts, [len(k)]])
            out = []
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                kk = k[lo]
                if cur_key is None or kk != cur_key:
                    if cur_key is not None:
                        out.append(emit(cur_key, chunks))
                    cur_key, chunks = kk, []
                chunks.append(v[lo:hi])
            if out:
                yield pd.DataFrame(out, columns=out_names)
        if cur_key is not None:
            yield pd.DataFrame([emit(cur_key, chunks)], columns=out_names)

    part = (
        df.repartition(num_partitions, key_col)
        if num_partitions
        else df.repartition(key_col)
    )
    return part.sortWithinPartitions(key_col).mapInPandas(_scan, schema)


_BYTE_SUFFIXES = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    """Parse Spark byte-size conf strings (``134217728``, ``128m``, ``1g``)."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in _BYTE_SUFFIXES:
        mult = _BYTE_SUFFIXES[s[-1]]
        s = s[:-1]
    return int(float(s) * mult) if s else 1


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition under-partitioned inputs ahead of compute-heavy stages.

    Compute-heavy narrow stages (trig cross joins, shingle explodes, hash
    fan-outs) inherit the scan's partitioning; a small single-file input
    serializes them onto one core. The gate is a **logical-plan stats
    estimate** — ``ceil(sizeInBytes / maxPartitionBytes)`` approximates the
    scan's natural split count — so no ``df.rdd`` probe (which would force
    physical planning and an RDD conversion on the driver) ever runs. The
    optimized-plan stats call is driver-side only, creates no job, and its
    QueryExecution is memoized on the Dataset, so later execution reuses
    the work. Inputs whose natural split count already meets the target
    pass through untouched; the repartition only ever moves the compact
    pre-fan-out rows.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except Exception as exc:  # stats unavailable (exotic plan) → leave the plan alone
        _log.debug("ensure_parallelism: no size estimate, plan unchanged: %r", exc)
        return df
    natural = max(1, -(-size // max_pb))
    if natural >= target:
        return df
    # the size estimate says "narrow input" — but a cached table that
    # was PERSISTED wide (the entry loader splits cached fact tables to
    # core count) is already parallel, and the round-robin fan-out this
    # function would add is then a pure-overhead exchange (profiled
    # r12: a 2-task cache-read+shuffle stage worth 0.3-0.7 s of wall on
    # every documents-family query). Ask the physical plan for the real
    # partition count before repartitioning; the QueryExecution is
    # memoized on the Dataset, so execution reuses the planning work
    # (same argument as the stats call above — ~15-20 ms driver-side,
    # no job).
    try:
        actual = int(
            df._jdf.queryExecution().executedPlan()
            .outputPartitioning().numPartitions()
        )
        if actual >= target:
            return df
    except Exception as exc:  # partitioning unreadable (e.g. AQE placeholder) → fan out
        _log.debug("ensure_parallelism: partition count unreadable: %r", exc)
    return df.repartition(target)


def shuffle_width(spark) -> int:
    """Partition count for an operator's explicit full-data shuffle:
    the core count, or ``spark.sql.shuffle.partitions`` when that is
    wider. A non-integer conf value (e.g. "auto" under some AQE
    deployments) counts as 0, so the core count applies."""
    try:
        shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        shuf = 0
    return max(spark.sparkContext.defaultParallelism, shuf)


def cache_scan(df: DataFrame) -> DataFrame:
    """Rebind a PERSISTED DataFrame onto its own cache scan: the frame's
    analyzed plan with the CacheManager's substitution applied
    (``queryExecution().withCachedData()``), which for a fully-persisted
    frame is a single ``InMemoryRelation`` leaf.

    Why this exists (r12, measured): a statement that references a
    persisted view MORE THAN ONCE relies on the CacheManager matching
    each reference's subtree against the cache at planning time — and
    that lookup silently MISSES when the cached plan contains a
    ``Generate`` (LATERAL VIEW explode): the analyzer's relation
    deduplication re-instances the second reference's generator output,
    its canonical form no longer equals the cached plan's, and every
    reference re-derives the entire pipeline from the base tables (the
    persist never even materializes — its fill is driven by cache-scan
    execution). Observed on ``bigram_logprob``'s tf table (two 3.7 MB
    duplicate exchanges per run = two full corpus tokenize passes) and
    latent in every explode-bearing persist consumed through
    :func:`sql_over`.

    The rebind is driver-only (one CacheManager lookup, no job), lazy,
    AQE-safe, keeps the cached plan's output partitioning visible to
    downstream exchange planning, and keeps relation statistics. If the
    plan's root did not substitute (not fully cached), the input is
    returned unchanged.
    """
    # ask the CacheManager FRESH (never queryExecution().
    # withCachedData(): that is a memoized lazy val, so a frame
    # whose QueryExecution was forced BEFORE persist() — any stats
    # probe does it — would permanently report its pre-cache plan).
    # Look up the NORMALIZED plan, not the raw analyzed one: the
    # CacheManager stores normalized plans, and a temp-view rebind
    # between constructions shifts the analyzed tree enough that
    # its canonical form stops matching after the first execution
    # (observed: construct→run→construct lost the substitution on
    # every later build in the session — reps 2+ of a rebuild-set
    # query silently re-derived the whole pipeline)
    jspark = df.sparkSession._jsparkSession
    plan = df._jdf.queryExecution().normalized()
    cached = jspark.sharedState().cacheManager().useCachedData(
        plan.clone()
    )
    if not cached.getClass().getName().endswith(".InMemoryRelation"):
        return df
    new_jdf = df.sparkSession._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        jspark, cached
    )
    return DataFrame(new_jdf, df.sparkSession)


def sql_over(dfs: "dict[str, DataFrame]", query: str) -> DataFrame:
    """Run ONE ``spark.sql`` over temp-view-registered input DataFrames.

    Plan-construction fast path: every chained DataFrame transformation
    triggers a full eager Catalyst analysis of the accumulated logical
    plan (measured ~10-30× the cost of analyzing the same tree once), so
    multi-stage operators built as one SQL statement over their inputs
    pay a single analysis pass. ``query`` uses ``{alias}`` placeholders
    for each input. View lifecycle: the returned DataFrame's plan is
    resolved at ``sql()`` time, so the catalog binding is consumed
    immediately — views are therefore REUSED, never dropped.
    Unpersisted inputs bind a stable per-(alias, thread) name that the
    next call with the same alias simply replaces (bounded by the alias
    vocabulary; r12 optimization — ``dropTempView`` walks the
    CacheManager per call, measured ~75 ms each, ~0.23 s of every
    dedup-pipeline plan build). Persisted inputs bind a stable
    per-frame name (``dropTempView`` on those would evict the cache
    entry), and the view is bound to the frame's CACHE SCAN
    (:func:`cache_scan`): relying on the CacheManager to substitute
    each reference's subtree at planning time silently fails when the
    cached plan contains a ``Generate`` and the statement references
    the view more than once (the analyzer's relation deduplication
    re-instances the generator output and the canonical-plan lookup
    misses) — every reference then re-derives the whole pipeline, and
    the persist never materializes at all. Binding the
    ``InMemoryRelation`` leaf directly makes every reference a cache
    read by construction, keeps the cached partitioning visible to
    downstream exchanges, and keeps relation stats.
    """
    import threading

    spark = next(iter(dfs.values())).sparkSession
    names = {}
    for alias, df in dfs.items():
        sl = df.storageLevel
        if sl.useMemory or sl.useDisk:
            # persisted inputs get a STABLE name keyed by the analyzed
            # plan's semanticHash: repeated calls over the same
            # persisted data rebind ONE catalog entry even when the
            # caller re-wraps it in a new Python DataFrame each time
            # (id()-keying leaked one entry per wrapper, and a
            # GC-recycled id could silently rebind a different frame's
            # view). Two semantically-equal plans sharing a name is
            # fine: they resolve to the same data, and spark.sql
            # analyzes eagerly so the binding is consumed before any
            # later rebind.
            token = df._jdf.queryExecution().analyzed().semanticHash()
            name = f"_obsplus_sql_over_{alias}_p{token & 0xFFFFFFFF}"
            df = cache_scan(df)
        else:
            # stable per-(alias, thread) name, rebound on the next call
            # with this alias — thread-keyed so concurrent driver
            # threads (guide §2.6 overlap) can't race one binding
            name = (
                f"_obsplus_sql_over_{alias}_t{threading.get_ident()}"
            )
        df.createOrReplaceTempView(name)
        names[alias] = name
    # plain replace, NOT str.format: the query may legally contain '{'/'}'
    # in string literals (caller-supplied stage names, regexes) which
    # format() would treat as placeholders and crash on
    for alias, name in names.items():
        query = query.replace("{" + alias + "}", name)
    return spark.sql(query)
