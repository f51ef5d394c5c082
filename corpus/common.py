"""Helpers every query family shares.

``_t`` reads (and caches) one test table per session; ``_norm_ts``,
``_tcol`` and ``_ts_ns`` give every family one time convention (int64
epoch nanoseconds, µs-truncated like DuckDB's reader), and the constants
below are the durations both the builders and their SQL twins derive
from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from obsplus_spark.cache import (
    _TABLE_CACHE,
    evict_dead_sessions as _evict_dead_sessions,
)


# ---------------------------------------------------------------------------
# shared derivations (must mirror the SQL fragments below exactly)
# ---------------------------------------------------------------------------

NS = 1_000_000_000
#: interval length multiplier: value (a small double) → duration ns (60 s units)
VAL_TO_NS = 60 * NS
#: gap tolerance for gaps/segments analytics: 10 minutes
MIN_GAP_NS = 600 * NS
#: half-width of the purchase event-extraction window: 10 minutes
WIN_NS = 600 * NS


_CONFIGURED_SESSIONS: set[int] = set()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One test table, read once per (session, sf_dir) and persisted.

    The bench and correctness harnesses run every query against the same
    handful of parquet tables in one session; persisting each base scan
    once removes the per-query listing/footer/decode cost (the
    production analogue is caching hot dimension tables). The cache
    itself lives in :mod:`obsplus_spark.cache`, which owns every
    persist-lifecycle mechanism; this is its only writer.
    """
    import os

    if id(spark) not in _CONFIGURED_SESSIONS:
        # defensive session conf, ONCE per session (two conf.set py4j
        # round trips per _t call dominated otherwise): the driver may
        # build its own SparkSession. nanosAsLong keeps old
        # TIMESTAMP(NANOS) testdata readable as int64; UTC pins
        # timestamp-literal parsing to match the DuckDB oracle. Both are
        # runtime-settable. (dataFrameDebugging, the plan-build switch,
        # is a static conf: only session.get_spark can set it.)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _CONFIGURED_SESSIONS.add(id(spark))
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), sf_dir, name)
    if key not in _TABLE_CACHE:
        # eviction only on MISS: the liveness probe is a py4j round trip
        # per cached entry, far too hot for the per-read path (a miss
        # means a new session/table is arriving — exactly when stale
        # sessions could pile up)
        _evict_dead_sessions()
        df = _norm_ts(spark.read.parquet(path))
        # fact tables: a single small parquet file scans with row-group
        # parallelism (often 1-3 tasks); repartition once at cache
        # materialization so every downstream query reads the cached
        # blocks in parallel. Partition count sized to the file (~1 MB
        # compressed each, clamped) — over-splitting small tables costs
        # more per-task overhead than it buys. File size comes from
        # driver-side fs metadata — no Spark job. Dims stay unsplit.
        try:
            n_bytes = os.path.getsize(path)
        except OSError:
            n_bytes = 0
        # any table big enough to split at all (≥256 KB compressed) is
        # cached at FULL core width (r12): the old 256 KB-per-partition
        # sizing left documents/events on 2-8 partitions, and every
        # compute-heavy consumer then paid ensure_parallelism's
        # round-robin fan-out exchange to reach core width anyway —
        # profiled at 0.3-0.7 s of wall per documents-family query.
        # Cached at width, the fan-out disappears (ensure_parallelism
        # now reads the physical partition count and skips). Tiny dims
        # (<256 KB: region/nation/supplier/customer) stay unsplit —
        # their consumers broadcast them or genuinely want the fan-out.
        target = (
            spark.sparkContext.defaultParallelism
            if n_bytes >= 256 * 1024
            else 1
        )
        if target > 1:
            df = df.repartition(int(target))
        _TABLE_CACHE[key] = df.persist()
    return _TABLE_CACHE[key]


def _norm_ts(df: DataFrame) -> DataFrame:
    """Normalize an events-style ``ts`` column to int64 epoch nanoseconds.

    The driver's testdata has shipped ``ts`` two ways across rounds:
    TIMESTAMP(NANOS) (surfaced as int64 ns via ``nanosAsLong``) and plain
    ``timestamp[us]`` / TIMESTAMP_NTZ. Converting at scan time —
    ``unix_micros(cast(ts as timestamp)) * 1000`` under a UTC session —
    makes every downstream expression dtype-independent and matches
    DuckDB's ``epoch_ns(ts)`` (µs precision → ns) exactly. Pure JVM
    expression, folded into the cached scan; no extra pass.
    """
    from pyspark.sql import types as T

    if "ts" in df.columns:
        dt = df.schema["ts"].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            df = df.withColumn(
                "ts",
                (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long"),
            )
    # date columns normalize the OTHER way (to timestamps — they are
    # compared against timestamp literals): if the driver ever ships
    # them as TIMESTAMP(NANOS) (int64 under nanosAsLong), convert
    # centrally so no individual query can forget (the r3 omission
    # pattern); _tcol at the call sites is then an idempotent guard
    for c in ("o_orderdate", "l_shipdate"):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def _tcol(df: DataFrame, col: str) -> F.Column:
    """Timestamp-typed view of a date column regardless of the parquet
    dtype the driver ships — plain timestamp / TIMESTAMP_NTZ pass
    through, and TIMESTAMP(NANOS) (surfaced as int64 ns under
    ``nanosAsLong``) converts via µs. Same defensive class as
    ``_norm_ts`` but for the orders/lineitem date columns the TPC-H
    style queries compare against timestamp literals (a bare
    ``CAST(long AS TIMESTAMP)`` would interpret the value as SECONDS)."""
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # integer division: float ns past 2^53 rounds, silently shifting
        # ~2% of µs-aligned values 1 µs low (same rule as _ts_ns)
        return F.expr(f"timestamp_micros({col} div 1000)")
    return F.col(col).cast("timestamp")


def _ts_ns(col: str = "ts") -> F.Column:
    """events.ts (int64 ns, normalized by ``_norm_ts``) → µs-truncated ns.

    The truncation matters for legacy nanos data: DuckDB's parquet reader
    narrows TIMESTAMP(NANOS) to µs TIMESTAMP, so the oracle sees
    ``(ns // 1000) * 1000``; we match. On timestamp[us] inputs the value is
    already µs-truncated and the modulo is a no-op.
    """
    c = F.col(col).cast("long")
    return c - (c % F.lit(1000))


# customer/supplier synthetic coordinates (pure integer arithmetic → exact)
def _cust_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("latitude"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("longitude"),
    )


def _orders_dim_small(sf_dir: str, limit_bytes: int = 64 * 1024 * 1024) -> bool:
    """Strategy gate for the TPC-H join shapes: is the orders side small
    enough to BROADCAST (join-then-aggregate, zero lineitem shuffle
    before the agg), or must lineitem pre-aggregate below a shuffle join
    (the 100-TB form — partial rows per order cross the exchange)?
    Driver-side file stat, no Spark job; mirrors what AQE's runtime
    stats would decide, pinned plan-side so the choice is deterministic
    under the bench's AQE-off session. A/B at sf0.1 (NOTES r6): the
    broadcast form is 19-40% faster when it applies. Handles BOTH
    dataset shapes: a single parquet file (the driver's testdata) and a
    Spark-written DIRECTORY, whose getsize would report the ~4 KB inode
    and mislabel any table as broadcastable."""
    import os

    p = f"{sf_dir}/orders.parquet"
    try:
        if os.path.isdir(p):
            total = 0
            for root, _dirs, files in os.walk(p):
                for fn in files:
                    total += os.path.getsize(os.path.join(root, fn))
                    if total >= limit_bytes:
                        return False
            return total < limit_bytes
        return os.path.getsize(p) < limit_bytes
    except OSError:
        return False


#: mixture weights for the plan query (literal on both sides)
_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.1}
_MIX_TARGET = 50_000


def _bm25_sql(terms: "list[str]", k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> str:
    tf = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"CAST(count(*) FILTER (tf{i} > 0) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * tf{i} * ({k1} + 1.0)"
        f" / (tf{i} + {k1} * (1.0 - {b} + {b} * len_d / avgdl))"
        for i in range(len(terms))
    )
    any_match = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
    return f"""
    WITH t AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS len_d, {tf}
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\\s+')
               END AS toks
        FROM documents
      )
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(len_d) AS avgdl, {dfs}
      FROM t
    )
    SELECT doc_id, CAST(len_d AS BIGINT) AS n_tokens,
           round({score}, 6) AS score
    FROM t CROSS JOIN stats
    WHERE {any_match}
    ORDER BY score DESC, doc_id
    LIMIT {int(k)}
"""
