"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2,
implemented with :mod:`obsplus_spark`, over the driver's test tables
(``TESTDATA.md``); ``oracle_sql()`` holds the DuckDB-equivalent SQL.

Conventions shared by both sides (SURVEY.md §7 hard parts):
- times compared as **int64 nanoseconds** (`unix_micros*1000` ↔ `epoch_ns`)
- money sums pass through exact DECIMAL accumulation, then cast to double
  (double summation is order-dependent; decimal is associative)
- double→long conversions always go through an explicit ``floor``
  (Spark casts truncate, DuckDB casts round — never rely on cast rounding)
- distances/similarities rounded before comparison (libm ulp differences)

The seismological semantics ↔ test-table mapping:
- waveform-index intervals  → per-event intervals [ts, ts + value·60 s)
- NSLC availability/gaps    → per-user coverage analytics on those intervals
- event-window extraction   → purchase-window × click interval join
- first-pick / as-of joins  → purchase ← last-click as-of join
- FDSN get_events filters   → predicate pushdown queries on events/part
- radius search (geo)       → derived lat/lon from integer keys
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


#: hot-table cache shared across queries: the bench/correctness harnesses
#: run ~40 queries against the same handful of parquet tables in one
#: session; persisting each base scan once removes the per-query
#: listing/footer/decode cost (the production analogue is caching hot
#: dimension tables — at 100 TB you cache dims, not facts, and the same
#: env knob applies). Disable with SPARK_GRAFT_CACHE=0. Values are the
#: same DataFrames either way, so results are identical.
# the registry itself lives in obsplus_spark.cache (VERDICT r9 #5: one
# module owns every persist-lifecycle mechanism); _t below remains the
# only writer
from obsplus_spark.cache import (  # noqa: E402
    _TABLE_CACHE,
    evict_dead_sessions as _evict_dead_sessions,
    register_shingle_cache,
)


_CONFIGURED_SESSIONS: set[int] = set()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    if id(spark) not in _CONFIGURED_SESSIONS:
        # defensive session conf, ONCE per session (three conf.set py4j
        # round trips per _t call dominated otherwise — ~1000 across a
        # full registry build): the driver may build its own
        # SparkSession. nanosAsLong keeps old TIMESTAMP(NANOS) testdata
        # readable as int64; UTC pins timestamp-literal parsing to
        # match the DuckDB oracle. Both are runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            # plan-build cost: PySpark's origin capture does a
            # getActiveSession + JVM setter round trip per API call; its
            # gate caches the FIRST read of this conf, so set it before
            # any DataFrame op in sessions the driver built itself
            spark.conf.set(
                "spark.python.sql.dataFrameDebugging.enabled", "false"
            )
        except Exception:
            pass
        _CONFIGURED_SESSIONS.add(id(spark))
    path = f"{sf_dir}/{name}.parquet"
    if os.environ.get("SPARK_GRAFT_CACHE", "1") == "0":
        return _norm_ts(spark.read.parquet(path))
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


#: Spark-SQL string twin of ``_ts_ns()`` for selectExpr-built plans
#: (valid because ``_norm_ts`` already produced an int64-ns ``ts``)
_TS_NS_SQL = "(cast(ts AS BIGINT) - (cast(ts AS BIGINT) % 1000))"

#: DuckDB fragments shared by the rich-tree sub-entity oracles (the
#: fabrication rules are documented at the _RICH_TREE_SQL definition)
_D_CHANNEL = "'u' || CAST(e.user_id % 10 AS VARCHAR)"
_D_SEED = "'EV.' || e.event_type || '..u' || CAST(e.user_id % 10 AS VARCHAR)"
_D_PREF = """
pref AS (
  SELECT user_id AS uid, min(epoch_ns(ts)) AS min_ns,
         max(epoch_ns(ts)) AS max_ns
  FROM events GROUP BY user_id
)"""
_D_EVTIME = (
    "CASE WHEN (p.uid % 7 <> 0 AND p.uid % 2 = 0)"
    " THEN p.min_ns ELSE p.max_ns END"
)


def _ts_ns(col: str = "ts") -> F.Column:
    """events.ts (int64 ns, normalized by ``_norm_ts``) → µs-truncated ns.

    The truncation matters for legacy nanos data: DuckDB's parquet reader
    narrows TIMESTAMP(NANOS) to µs TIMESTAMP, so the oracle sees
    ``(ns // 1000) * 1000``; we match. On timestamp[us] inputs the value is
    already µs-truncated and the modulo is a no-op.
    """
    c = F.col(col).cast("long")
    return c - (c % F.lit(1000))


def _event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → interval table (user_id, event_type, starttime, endtime) ns."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        _ts_ns().alias("starttime"),
        (_ts_ns() + F.floor(F.col("value") * F.lit(float(VAL_TO_NS))).cast("long")).alias(
            "endtime"
        ),
    )


_IV_SQL = f"""
    SELECT user_id, event_type, event_id,
           epoch_ns(ts) AS starttime,
           epoch_ns(ts) + CAST(floor(value * {float(VAL_TO_NS)}) AS BIGINT) AS endtime
    FROM events
"""

# customer/supplier synthetic coordinates (pure integer arithmetic → exact)
def _cust_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 18000) / 100.0 - 90.0).alias("latitude"),
        ((F.col("c_custkey") * 91 % 36000) / 100.0 - 180.0).alias("longitude"),
    )


_CUST_GEO_SQL = """
    SELECT c_custkey,
           (c_custkey * 37 % 18000) / 100.0 - 90.0 AS latitude,
           (c_custkey * 91 % 36000) / 100.0 - 180.0 AS longitude
    FROM customer
"""

_SUPP_GEO_SQL = """
    SELECT s_suppkey,
           (s_suppkey * 53 % 18000) / 100.0 - 90.0 AS latitude,
           (s_suppkey * 17 % 36000) / 100.0 - 180.0 AS longitude
    FROM supplier
"""


def _supp_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 18000) / 100.0 - 90.0).alias("latitude"),
        ((F.col("s_suppkey") * 17 % 36000) / 100.0 - 180.0).alias("longitude"),
    )


# ---------------------------------------------------------------------------
# §2.2 predicates / pushdown
# ---------------------------------------------------------------------------


def q_fdsn_event_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDSN get_events-style kwarg query: time range + value range + type
    IN-list (EventBank.read_index / _make_wheres semantics)."""
    from obsplus_spark.plans.predicates import compile_filters

    ev = _t(spark, sf_dir, "events")
    t1 = 1704844800 * NS  # 2024-01-10 00:00:00 UTC
    t2 = 1705708800 * NS  # 2024-01-20 00:00:00 UTC
    pred = compile_filters(event_type=["click", "purchase"])
    # redundant raw-column range (implied by the truncated predicate, since
    # trunc(ts) ∈ (t1, t2) ⇒ ts ∈ (t1, t2+1000)) — pushable to the parquet
    # scan for row-group min/max skipping, unlike the truncation expression
    pushable = (F.col("ts") > t1) & (F.col("ts") < t2 + 1000)
    return (
        ev.filter(pushable & (_ts_ns() > t1) & (_ts_ns() < t2) & pred)
        .filter(F.col("value") > 5.0)
        .select("event_id", _ts_ns().alias("time_ns"), "user_id", "event_type", "value")
    )


_SQL_FDSN = """
    SELECT event_id, epoch_ns(ts) AS time_ns, user_id, event_type, value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-20 00:00:00'
      AND event_type IN ('click', 'purchase')
      AND value > 5.0
"""


def q_glob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glob predicate pushdown (filter_df str→glob semantics) on part."""
    from obsplus_spark.functions.strings import glob_match

    p = _t(spark, sf_dir, "part")
    return p.filter(
        glob_match("p_type", "S*")
        & glob_match("p_name", "*a*e*")
        & (F.col("p_size") > 10)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


_SQL_GLOB = """
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_type LIKE 'S%' AND p_name LIKE '%a%e%' AND p_size > 10
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column extraction (events/json.py surface): props.k stats."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_SQL_JSON = """
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           count(CAST(props->>'$.k' AS BIGINT)) AS n_k,
           min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WaveBank.get_availability_df: per-key min(start)/max(end)."""
    from obsplus_spark.operators.availability import availability

    iv = _event_intervals(spark, sf_dir)
    return availability(iv, keys=["user_id", "event_type"]).withColumnRenamed(
        "starttime", "avail_start"
    ).withColumnRenamed("endtime", "avail_end")


_SQL_AVAIL = f"""
    WITH iv AS ({_IV_SQL})
    SELECT user_id, event_type,
           min(starttime) AS avail_start, max(endtime) AS avail_end
    FROM iv GROUP BY user_id, event_type
"""


def q_origin_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-quality conditional counts (events/pd.py:73-163) mapped to
    per-order lineitem stats: conditional counts + distinct set size."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum("l_quantity").alias("sum_qty"),
    )


_SQL_OQ = """
    SELECT l_orderkey,
           count(*) AS n_lines,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
           count(DISTINCT l_suppkey) AS n_suppliers,
           sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the grouped-aggregate headline query. Money sums
    run through exact DECIMAL accumulation (order-independent), then double."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        li.filter(_tcol(li, "l_shipdate") < F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 4).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_Q1 = """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4)
               AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with broadcast dimensions (lineitem⋈orders⋈customer⋈nation)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    o_dim = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    if _orders_dim_small(sf_dir):
        # broadcast form (same deterministic gate as the other TPC-H
        # shapes): the orders⋈customer⋈nation dim fits the broadcast
        # budget, so lineitem is never exchanged at all — scan →
        # broadcast probe → ONE 25-row nation aggregate. Decimal sums
        # are exact in any grouping order, so the totals are identical
        # to the pre-aggregate form below.
        return (
            li.join(F.broadcast(o_dim), li.l_orderkey == o_dim.o_orderkey)
            .groupBy("n_name")
            .agg(
                F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )
    # aggregate-below-join: lineitem collapses to one partial row per
    # order BEFORE the join shuffle (decimal partials are exact, so the
    # regrouped nation totals are identical); the orders side picks up
    # nation via broadcast dims map-side. Shuffle volume drops from every
    # lineitem row to one row per order — the 100-TB shape.
    li_part = li.groupBy("l_orderkey").agg(
        F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("_cnt")
    )
    return (
        li_part.join(o_dim, li_part.l_orderkey == o_dim.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("_rev").cast("double"), 4).alias("revenue"),
            F.sum("_cnt").alias("n_items"),
        )
    )


_SQL_REV = """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS DOUBLE), 4)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


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


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers
    broadcast into orders; then EITHER the filtered orders dim broadcasts
    into lineitem and one groupBy finishes (small-dim form, one shuffle),
    OR lineitem pre-aggregates below the shuffle join (scale form — one
    partial row per order crosses the exchange). Top-10 via TakeOrdered
    on the rounded revenue."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    li_f = li.filter("l_shipdate > TIMESTAMP '1998-06-15'")
    o_dim = (
        o.filter("o_orderdate < TIMESTAMP '1998-06-15'")
        .join(
            F.broadcast(c.filter("c_mktsegment = 'BUILDING'")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    out_cols = [
        F.col("l_orderkey"),
        F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("o_orderpriority"),
    ]
    if _orders_dim_small(sf_dir):
        joined = (
            li_f.join(
                F.broadcast(o_dim), F.col("l_orderkey") == F.col("o_orderkey")
            )
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).alias("_rev"))
        )
    else:
        li_part = li_f.groupBy("l_orderkey").agg(F.sum(rev).alias("_rev"))
        joined = li_part.join(o_dim, li_part.l_orderkey == o_dim.o_orderkey)
    return (
        joined.select(*out_cols)
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_SQL_SHIP_PRIORITY = """
    SELECT l_orderkey,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


def q_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue): R-flagged lineitems
    either join a BROADCAST orders key-map and aggregate straight to the
    customer key (small-dim form), or collapse to one partial row per
    order before a shuffle join (scale form) — gated on the orders-side
    size; the per-customer total joins the broadcast customer dim;
    top-20 via TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    if _orders_dim_small(sf_dir):
        # small-dim form (A/B winner at bench scale, −40%): broadcast the
        # 2-column orders key map into the R-filtered lineitems and
        # aggregate straight to the customer key — ONE shuffle
        per_cust = (
            li.filter("l_returnflag = 'R'")
            .join(
                F.broadcast(o.select("o_orderkey", "o_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_custkey")
            .agg(F.sum(rev).alias("_rev"))
        )
    else:
        # scale form: pre-aggregate below the shuffle join so one partial
        # row per order crosses the exchange
        li_part = (
            li.filter("l_returnflag = 'R'")
            .groupBy("l_orderkey")
            .agg(F.sum(rev).alias("_rev"))
        )
        per_cust = (
            li_part.join(o, li_part.l_orderkey == o.o_orderkey)
            .groupBy("o_custkey")
            .agg(F.sum("_rev").alias("_rev"))
        )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("_rev").cast("double"), 4).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_RETURNED = """
    SELECT c_custkey, c_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_event_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: per-event extraction windows × data intervals
    (Fetcher.yield_event_waveforms → one interval join, SURVEY §3.3).
    Purchases define [ts−10m, ts+10m) windows; clicks of the same user
    inside the window aggregate per purchase."""
    from obsplus_spark.operators.joins import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (_ts_ns() - WIN_NS).alias("starttime"),
        (_ts_ns() + WIN_NS).alias("endtime"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        _ts_ns().alias("starttime"),
        (_ts_ns() + 1).alias("endtime"),
        _ts_ns().alias("click_ns"),
    )
    joined = interval_overlap_join(
        purchases,
        clicks,
        on=["user_id"],
        how="left_outer",
        broadcast_left=False,
    )
    return joined.groupBy(F.col("l.purchase_id").alias("purchase_id")).agg(
        F.count(F.col("r.click_ns")).alias("n_clicks"),
        F.min(F.col("r.click_ns")).alias("first_click_ns"),
        F.max(F.col("r.click_ns")).alias("last_click_ns"),
    )


_SQL_EVWIN = f"""
    SELECT p.event_id AS purchase_id,
           count(c.ts) AS n_clicks,
           min(epoch_ns(c.ts)) AS first_click_ns,
           max(epoch_ns(c.ts)) AS last_click_ns
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND epoch_ns(c.ts) >= epoch_ns(p.ts) - {WIN_NS}
     AND epoch_ns(c.ts) <  epoch_ns(p.ts) + {WIN_NS}
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (first-pick reference times, fetcher.py:598-628): for each
    purchase, the most recent click of the same user at-or-before it."""
    from obsplus_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", _ts_ns().alias("t_ns")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", _ts_ns().alias("t_ns")
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="t_ns",
        right_ts="t_ns",
        right_values=["click_id"],
    )
    return out.select(
        "purchase_id",
        F.col("t_ns").alias("purchase_ns"),
        F.col("click_id_right").alias("click_id"),
        F.col("t_ns_matched").alias("click_ns"),
    )


_SQL_ASOF = """
    SELECT p.event_id AS purchase_id,
           epoch_ns(p.ts) AS purchase_ns,
           c.event_id AS click_id,
           epoch_ns(c.ts) AS click_ns
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-pick-per-group (utils/events.py:296-317 idxmin) via window rank."""
    from obsplus_spark.operators.joins import topk_per_group

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", _ts_ns().alias("t_ns"), "event_type"
    )
    # event_id tie-break: same-µs events for one user would otherwise
    # make both engines pick nondeterministically (r6 review).
    # asc_nulls_last: a NULL-timestamp event must not win "first" —
    # Spark's bare ASC is NULLS FIRST while DuckDB's is NULLS LAST
    # (r8 degenerate-events sweep); NULLS LAST is also the sensible
    # semantics (unknown time loses to any known time).
    return topk_per_group(
        ev,
        ["user_id"],
        [F.col("t_ns").asc_nulls_last(), F.col("event_id").asc()],
        k=1,
    )


_SQL_FIRST = """
    SELECT user_id, event_id, epoch_ns(ts) AS t_ns, event_type
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_ns(ts), event_id) rn
          FROM events)
    WHERE rn = 1
"""


def q_topk_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group with deterministic tiebreak (nearest-event k-NN
    pattern, merge.py:253)."""
    from obsplus_spark.operators.joins import topk_per_group

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", _ts_ns().alias("t_ns")
    )
    out = topk_per_group(
        ev,
        ["user_id"],
        [F.col("value").desc(), F.col("t_ns").asc(), F.col("event_id").asc()],
        k=3,
        keep_rank=True,
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


_SQL_TOPK = """
    SELECT user_id, event_id, value, t_ns, rn
    FROM (SELECT user_id, event_id, value, epoch_ns(ts) AS t_ns,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, epoch_ns(ts), event_id) AS rn
          FROM events)
    WHERE rn <= 3
"""

# ---------------------------------------------------------------------------
# §2.5 gaps-and-islands window analytics
# ---------------------------------------------------------------------------

_SEG_FLAG_SQL = f"""
    WITH iv AS ({_IV_SQL}),
    flagged AS (
      SELECT user_id, starttime, endtime,
             max(endtime) OVER (PARTITION BY user_id ORDER BY starttime, endtime
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end,
             lead(starttime) OVER (PARTITION BY user_id
                                   ORDER BY starttime, endtime) AS next_start,
             CASE WHEN max(endtime) OVER (PARTITION BY user_id ORDER BY starttime, endtime
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {MIN_GAP_NS}
                       < starttime
                  OR max(endtime) OVER (PARTITION BY user_id ORDER BY starttime, endtime
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM iv
    )
"""


def q_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_gaps_df (wavebank.py:427-485): running-max gap detection over
    possibly-overlapping intervals."""
    from obsplus_spark.operators.gaps import gaps_df

    iv = _event_intervals(spark, sf_dir)
    return gaps_df(
        iv,
        keys=["user_id"],
        min_gap=MIN_GAP_NS,
        sampling_period_col=None,
    )


_SQL_GAPS = f"""
    {_SEG_FLAG_SQL}
    SELECT user_id, cum_end AS gap_start, next_start AS gap_end,
           next_start - cum_end AS gap_duration
    FROM flagged
    WHERE next_start IS NOT NULL AND cum_end + {MIN_GAP_NS} < next_start
"""


def q_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_segments_df (wavebank.py:523-577): contiguous coverage islands."""
    from obsplus_spark.operators.gaps import segments_df

    iv = _event_intervals(spark, sf_dir)
    return segments_df(
        iv, keys=["user_id"], min_gap=MIN_GAP_NS, sampling_period_col=None
    )


_SQL_SEGMENTS = f"""
    {_SEG_FLAG_SQL},
    sess AS (
      SELECT user_id, starttime, endtime,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY starttime, endtime
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(starttime) AS seg_start, max(endtime) AS seg_end,
           count(*) AS n_rows
    FROM sess GROUP BY user_id, session_id
"""


def q_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_uptime_df (wavebank.py:487-521): availability ⟗ gap totals."""
    from obsplus_spark.operators.availability import uptime

    iv = _event_intervals(spark, sf_dir)
    return uptime(
        iv, keys=["user_id"], min_gap=MIN_GAP_NS, sampling_period_col=None
    ).select(
        "user_id",
        F.col("starttime").alias("avail_start"),
        F.col("endtime").alias("avail_end"),
        "duration",
        "gap_duration",
        "availability",
    )


_SQL_UPTIME = f"""
    {_SEG_FLAG_SQL},
    avail AS (
      SELECT user_id, min(starttime) AS avail_start, max(endtime) AS avail_end,
             max(endtime) - min(starttime) AS duration
      FROM iv GROUP BY user_id
    ),
    gap_tot AS (
      SELECT user_id, CAST(sum(next_start - cum_end) AS BIGINT) AS gap_duration
      FROM flagged
      WHERE next_start IS NOT NULL AND cum_end + {MIN_GAP_NS} < next_start
      GROUP BY user_id
    )
    SELECT a.user_id, avail_start, avail_end, duration,
           CAST(coalesce(g.gap_duration, 0) AS BIGINT) AS gap_duration,
           (duration - coalesce(g.gap_duration, 0)) / CAST(duration AS DOUBLE)
             AS availability
    FROM avail a LEFT JOIN gap_tot g ON a.user_id = g.user_id
"""

# ---------------------------------------------------------------------------
# geo (§2.2 circular search, §2.3 spatial join)
# ---------------------------------------------------------------------------

_GEO_POINT = (-80.0, 10.0)  # the derived position of c_custkey=1000
_GEO_MAXR_DEG = 20.0
_HAVERSINE_SQL = None  # filled below


def q_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase circular search (get_events.py:50-126): bbox prefilter
    (pushdown-able) then exact haversine band."""
    from obsplus_spark.operators.geo_search import radius_search

    geo = _cust_geo(spark, sf_dir)
    out = radius_search(
        geo,
        latitude=_GEO_POINT[0],
        longitude=_GEO_POINT[1],
        minradius=2.0,
        maxradius=_GEO_MAXR_DEG,
        radius_unit="deg",
    )
    return out.select(
        "c_custkey", F.round(F.col("distance_m"), 3).alias("distance_m")
    )


def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpatialCalculator cross join (geodetics.py:206-220) + top-k: 3
    nearest customers per supplier."""
    from obsplus_spark.operators.geo_search import spatial_join
    from obsplus_spark.operators.joins import topk_per_group

    sj = spatial_join(_supp_geo(spark, sf_dir), _cust_geo(spark, sf_dir))
    ranked = topk_per_group(
        sj.select("s_suppkey", "c_custkey", "distance_m"),
        ["s_suppkey"],
        [F.col("distance_m").asc(), F.col("c_custkey").asc()],
        k=3,
        keep_rank=True,
    )
    return ranked.select(
        "s_suppkey",
        "c_custkey",
        F.round(F.col("distance_m"), 3).alias("distance_m"),
        F.col("rn").cast("long").alias("rank"),
    )


def q_dateline_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dateline-crossing longitude box (utils/bank.py:349-363 OR rewrite)."""
    from obsplus_spark.plans.predicates import dateline_longitude_predicate

    geo = _cust_geo(spark, sf_dir)
    return geo.filter(
        dateline_longitude_predicate(170.0, -170.0) & (F.col("latitude") > 0)
    ).select("c_custkey", "latitude", "longitude")


# ---------------------------------------------------------------------------
# north-star: dedup / text / similarity
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs)


_SQL_DEDUP = r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.text import text_stats

    docs = _t(spark, sf_dir, "documents")
    return text_stats(docs)


_SQL_TEXT_STATS = r"""
    WITH toks AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS w
      FROM documents
    )
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_distinct_tokens,
           len(list_distinct(w)) / CAST(nullif(len(w), 0) AS DOUBLE)
             AS distinct_ratio,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / nullif(len(w), 0) AS avg_token_len,
           len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it')))
             / CAST(nullif(len(w), 0) AS DOUBLE) AS stopword_ratio,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / CAST(nullif(length(text), 0) AS DOUBLE) AS alpha_ratio
    FROM toks
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs)


_SQL_FP = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    )
    SELECT doc_id,
           md5(t) AS fp_md5,
           md5(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' '))
             AS fp_sorted
    FROM norm
"""


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding + exact Jaccard verification (full pipeline)."""
    from obsplus_spark.operators.dedup import near_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = near_duplicates(
        docs, n_hashes=16, bands=4, shingle_size=3, threshold=0.2
    )
    return out.select(
        "id1", "id2", "n_inter", "n1", "n2", F.round("jaccard", 8).alias("jaccard")
    )


def _minhash_sql(
    n_hashes: int = 16,
    bands: int = 4,
    extra_pair_pred: str = "",
    tail: "str | None" = None,
    threshold: float = 0.2,
) -> str:
    rows_per_band = n_hashes // bands
    # lane j = 8 hex chars of the 38-char extended digest (md5 ||
    # substr(md5,1,6)) at stride-2 offset, parsed as uint32 (lockstep with
    # obsplus_spark.operators.dedup.minhash_signatures)
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    prefix = rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id{extra_pair_pred}
    )"""
    if tail is not None:
        # custom consumer of the shared norm/sh/sig/banded/pairs CTE
        # prefix (lockstep-by-construction with the minhash pipeline);
        # the default Jaccard-verify tail below is skipped entirely
        return prefix + ",\n    " + tail.strip() + "\n"
    return prefix + rf""",
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.id1, p.id2, count(*) AS n_inter
      FROM pairs p
      JOIN sh s1 ON s1.doc_id = p.id1
      JOIN sh s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
      GROUP BY p.id1, p.id2
    )
    SELECT p.id1, p.id2,
           coalesce(i.n_inter, 0) AS n_inter,
           z1.n AS n1, z2.n AS n2,
           round(coalesce(i.n_inter, 0)
                 / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE), 8) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
    JOIN sizes z1 ON z1.doc_id = p.id1
    JOIN sizes z2 ON z2.doc_id = p.id2
    WHERE coalesce(i.n_inter, 0)
          / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE)
          >= {threshold!r}
"""


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (ANN baseline)."""
    from obsplus_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_KNN = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id < 5
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    s AS (
      SELECT query_id, vec_id,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v CROSS JOIN q
    ),
    r AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 10
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (relational scoring + argmax)."""
    from obsplus_spark.operators.text import language_id_heuristic

    docs = _t(spark, sf_dir, "documents")
    return language_id_heuristic(docs)


_SQL_LANG = r"""
    WITH markers(lang_cand, tok) AS (VALUES
      ('en','the'), ('en','and'), ('en','of'), ('en','is'),
      ('es','el'), ('es','la'), ('es','de'), ('es','que'),
      ('fr','le'), ('fr','la'), ('fr','et'), ('fr','que'),
      ('de','der'), ('de','die'), ('de','und'), ('de','ist'),
      ('zh','de'), ('zh','shi'), ('zh','le'), ('zh','bu')
    ),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang_cand, count(*) AS hits
      FROM toks JOIN markers USING (tok)
      GROUP BY doc_id, lang_cand
    ),
    best AS (
      SELECT doc_id, lang_cand AS predicted_lang, hits AS marker_hits
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY hits DESC, lang_cand) AS rn
            FROM scores)
      WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(b.predicted_lang, 'unknown') AS predicted_lang,
           coalesce(b.marker_hits, 0) AS marker_hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
"""

# ---------------------------------------------------------------------------
# §2.4 more aggregations: median / last-per-type / dup detection / rollup
# ---------------------------------------------------------------------------


def q_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median pick time per event (events/merge.py:238-253) — exact median
    over groups."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.median("value").alias("median_value"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_MEDIAN = """
    SELECT event_type, median(value) AS median_value, count(*) AS n
    FROM events GROUP BY event_type
"""


def q_last_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-magnitude-per-type (events/pd.py:166-175): per user, the value
    of the most recent event of each type — max_by/arg_max."""
    ev = _t(spark, sf_dir, "events")
    # ordering key packs (t_ns, event_id): a same-µs tie within a
    # (user, type) group would otherwise let max_by/arg_max pick
    # different rows across engines (r6 review)
    return ev.groupBy("user_id", "event_type").agg(
        F.max_by(
            "value", F.struct(_ts_ns().alias("t"), F.col("event_id"))
        ).alias("last_value"),
        F.max(_ts_ns()).alias("last_ns"),
    )


# DuckDB's arg_max takes no struct key — rank by the same composite
# (t_ns DESC, event_id DESC) the engine's struct-max encodes
_SQL_LAST = """
    SELECT user_id, event_type, last_value, last_ns FROM (
      SELECT user_id, event_type, value AS last_value,
             max(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type)
               AS last_ns,
             row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


def q_duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pick detection (events/validate.py:103-129): groups with
    more than one row per key → violation rows."""
    ev = _t(spark, sf_dir, "events")
    minute = (_ts_ns() - (_ts_ns() % F.lit(60 * NS))).alias("minute_ns")
    return (
        ev.select("user_id", "event_type", minute)
        .groupBy("user_id", "event_type", "minute_ns")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


_SQL_DUPDET = f"""
    SELECT user_id, event_type,
           epoch_ns(ts) - (epoch_ns(ts) % {60 * NS}) AS minute_ns,
           count(*) AS n_dups
    FROM events
    GROUP BY 1, 2, 3
    HAVING count(*) > 1
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation (AGG_LEVEL_MAP network<station<...,
    constants.py:618) as ROLLUP over (event_type, user bucket)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("long")
    )
    return ev.rollup("event_type", "user_bucket").agg(
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4).alias(
            "sum_value"
        ),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_ROLLUP = """
    SELECT event_type, user_id % 10 AS user_bucket,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value,
           count(*) AS n
    FROM events
    GROUP BY ROLLUP (event_type, (user_id % 10))
"""

# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti/semi set arithmetic (merge.py:83-118 new-picks-only): users who
    clicked but never purchased, and users who did both."""
    ev = _t(spark, sf_dir, "events")
    # EXCEPT and INTERSECT over distinct per-type membership collapse
    # into ONE hash aggregate: bool_or membership flags per user_id
    # (map-side combinable — each mapper emits ≤1 row per user), then a
    # map-only CASE. One shuffle total, vs 2 distincts + anti + intersect
    # (4 exchanges) for the literal set-algebra plan; same result set.
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "click").alias("_c"),
            F.max(F.col("event_type") == "purchase").alias("_b"),
        )
    )
    return flags.filter(F.col("_c")).select(
        "user_id",
        F.when(F.col("_b"), F.lit("both")).otherwise(F.lit("click_only")).alias(
            "cohort"
        ),
    )


_SQL_SETOPS = """
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT user_id, 'click_only' AS cohort
    FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    UNION ALL
    SELECT user_id, 'both' AS cohort
    FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
"""

# ---------------------------------------------------------------------------
# §2.8/§2.9 time chunking (yield_waveforms sliding windows, batch form)
# ---------------------------------------------------------------------------

_CHUNK_START_NS = 1704067200 * NS  # 2024-01-01
_CHUNK_END_NS = 1706745600 * NS  # 2024-02-01
_CHUNK_DUR_NS = 86400 * NS  # 1 day
_CHUNK_OVL_NS = 3600 * NS  # 1 hour overlap


def q_time_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_time_chunks + per-chunk counts (utils/time.py:378-421 →
    wavebank.yield_waveforms). Chunk membership is closed-form
    (assign_time_chunks: O(rows) arithmetic explode, no O(rows×chunks)
    nested-loop join); the tiny chunk table re-enters only to keep empty
    chunks, as a broadcast right side of ≤|chunks| aggregated rows."""
    from obsplus_spark.functions.timeutils import assign_time_chunks, time_chunks

    ev = _t(spark, sf_dir, "events").select(_ts_ns().alias("t_ns"), "value")
    assigned = assign_time_chunks(
        ev, "t_ns", _CHUNK_START_NS, _CHUNK_END_NS, _CHUNK_DUR_NS, _CHUNK_OVL_NS
    )
    agg = assigned.groupBy("chunk_start", "chunk_end").agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4).alias(
            "sum_value"
        ),
    )
    chunks = time_chunks(
        spark, _CHUNK_START_NS, _CHUNK_END_NS, _CHUNK_DUR_NS, _CHUNK_OVL_NS
    )
    return chunks.join(
        F.broadcast(agg), ["chunk_start", "chunk_end"], "left"
    ).select(
        "chunk_start",
        "chunk_end",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_events"),
        "sum_value",
    )


_SQL_CHUNKS = f"""
    WITH chunks AS (
      SELECT cs AS chunk_start,
             least(cs + {_CHUNK_DUR_NS + _CHUNK_OVL_NS}, {_CHUNK_END_NS}) AS chunk_end
      FROM (SELECT unnest(range({_CHUNK_START_NS}, {_CHUNK_END_NS},
                                {_CHUNK_DUR_NS})) AS cs)
    )
    SELECT chunk_start, chunk_end,
           count(t_ns) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
    FROM chunks LEFT JOIN (SELECT epoch_ns(ts) AS t_ns, value FROM events) e
      ON e.t_ns >= chunk_start AND e.t_ns < chunk_end
    GROUP BY chunk_start, chunk_end
"""

# ---------------------------------------------------------------------------
# §2.6 sorts / limit / offset
# ---------------------------------------------------------------------------


def q_offset_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """limit+offset pagination (constants.py:676-679; offset via row_number
    as the reference's SQL path only implements LIMIT).

    Scale-safe plan: ``orderBy().limit(offset + k)`` compiles to a
    distributed TakeOrdered (per-partition top-(offset+k), merged on the
    driver side of the exchange) — no global single-partition window over
    the full table. Only the ≤ offset+k survivors are then numbered, via a
    broadcast self-join rank (rn = 1 + rows sorting strictly ahead) — the
    join is (offset+k)² on a 30-row table at any data scale, and avoids
    the unpartitioned window a row_number() would need.
    """
    offset, k = 10, 20
    order = [F.col("value").desc(), F.col("event_id").asc()]
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "value", _ts_ns().alias("t_ns")
    )
    top = ev.orderBy(*order).limit(offset + k)
    ahead = (F.col("b.value") > F.col("a.value")) | (
        (F.col("b.value") == F.col("a.value"))
        & (F.col("b.event_id") < F.col("a.event_id"))
    )
    return (
        top.alias("a")
        .join(F.broadcast(top.alias("b")), ahead, "left")
        .groupBy("a.event_id", "a.value", "a.t_ns")
        .agg((F.count("b.event_id") + 1).alias("rn"))
        .filter(F.col("rn") > offset)
        .select("event_id", "value", "t_ns", "rn")
    )


_SQL_OFFSET = """
    SELECT event_id, value, epoch_ns(ts) AS t_ns, rn
    FROM (SELECT event_id, value, ts,
                 row_number() OVER (ORDER BY value DESC, event_id) AS rn
          FROM events)
    WHERE rn > 10 AND rn <= 30
"""

# ---------------------------------------------------------------------------
# §2.3 nearest-event association (merge.py:211-266)
# ---------------------------------------------------------------------------

_ASSOC_TOL_NS = 600 * NS  # ±10 min tolerance


def q_nearest_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """associate_merge: match each purchase to the click of the same user
    with nearest |Δt|, tolerance-bounded; ties → earlier click id."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        _ts_ns().alias("p_ns"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        _ts_ns().alias("c_ns"),
    )
    cand = p.join(c, "user_id").filter(
        F.abs(F.col("c_ns") - F.col("p_ns")) <= _ASSOC_TOL_NS
    )
    # nearest = lexicographic struct-min (|Δt|, click_id) — a hash
    # aggregate instead of a rank window. Grouping on (user_id,
    # purchase_id) lets the join's hash(user_id) partitioning satisfy the
    # aggregate's clustering (user_id functionally determines the rest),
    # so the whole pick-the-winner step adds NO exchange and combines
    # map-side; a Window.partitionBy(purchase_id) would re-shuffle + sort.
    best = cand.select(
        "user_id",
        "purchase_id",
        F.struct(
            F.abs(F.col("c_ns") - F.col("p_ns")).alias("abs_dt_ns"),
            F.col("click_id"),
        ).alias("_s"),
    ).groupBy("user_id", "purchase_id").agg(F.min("_s").alias("_s"))
    return best.select(
        "purchase_id", F.col("_s.click_id").alias("click_id"), F.col("_s.abs_dt_ns").alias("abs_dt_ns")
    )


_SQL_ASSOC = f"""
    SELECT purchase_id, click_id, abs_dt_ns
    FROM (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             abs(epoch_ns(c.ts) - epoch_ns(p.ts)) AS abs_dt_ns,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY abs(epoch_ns(c.ts) - epoch_ns(p.ts)),
                                         c.event_id) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND abs(epoch_ns(c.ts) - epoch_ns(p.ts)) <= {_ASSOC_TOL_NS}
    )
    WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# simhash / sweep-line coverage / nested-array queries
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures (dedup family, north-star)."""
    from obsplus_spark.operators.dedup import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return simhash_signatures(docs, bits=_SIMHASH_BITS)


def _simhash_sql(bits: int = _SIMHASH_BITS) -> str:
    # bit k of the 32-bit md5-prefix hash, derived from the hex digits:
    # digit at string position 8 - k//4 holds bits (k%4)
    votes = ",\n           ".join(
        "sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) "
        ">> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}".format(
            pos=8 - k // 4, shift=k % 4, k=k
        )
        for k in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(bits)
    )
    return rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    votes AS (
      SELECT doc_id,
           {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
"""


def q_common_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream2contiguous (utils/waveforms.py:305-372): time windows where
    ALL event types have an active coverage segment — sweep-line program
    over the sessionized intervals."""
    from obsplus_spark.operators.gaps import segments_df
    from obsplus_spark.operators.waveforms import common_coverage

    iv = _event_intervals(spark, sf_dir)
    # the sessionized segment table is tiny (one row per coverage island —
    # hundreds of rows per key set at any scale factor) but costs a full
    # shuffle+window pass to derive; persist it so the sweep's scalar
    # aggregate and boundary explode share one derivation. pre_merge
    # hash-collapses same-bucket intervals map-side BEFORE the sort-heavy
    # sessionize window — the 5-value key set gives that window almost no
    # parallelism, so shrinking its input is the whole game
    segs = segments_df(
        iv,
        keys=["event_type"],
        min_gap=MIN_GAP_NS,
        sampling_period_col=None,
        pre_merge=True,
    ).persist()
    register_shingle_cache(segs)
    return common_coverage(
        segs, seed_col="event_type", start_col="seg_start", end_col="seg_end"
    )


_SQL_COVERAGE = f"""
    WITH iv AS ({_IV_SQL}),
    flagged AS (
      SELECT event_type, starttime, endtime,
             CASE WHEN max(endtime) OVER (PARTITION BY event_type
                       ORDER BY starttime, endtime
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       + {MIN_GAP_NS} < starttime
                  OR max(endtime) OVER (PARTITION BY event_type
                       ORDER BY starttime, endtime
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM iv
    ),
    sess AS (
      SELECT event_type, starttime, endtime,
             sum(new_session) OVER (PARTITION BY event_type
                                    ORDER BY starttime, endtime
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    ),
    segs AS (
      SELECT event_type, session_id, min(starttime) AS seg_start,
             max(endtime) AS seg_end
      FROM sess GROUP BY event_type, session_id
    ),
    n AS (SELECT count(DISTINCT event_type) AS n_seeds FROM segs),
    ev AS (
      SELECT seg_start AS t, 1 AS delta FROM segs
      UNION ALL
      SELECT seg_end AS t, -1 AS delta FROM segs
    ),
    swept AS (
      SELECT t, delta,
             sum(delta) OVER (ORDER BY t, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS covering,
             lead(t) OVER (ORDER BY t, delta) AS next_t
      FROM ev
    )
    SELECT t AS window_start, next_t AS window_end
    FROM swept, n
    WHERE covering = n.n_seeds AND next_t IS NOT NULL AND next_t > t
"""


def q_nested_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested array-of-struct handling (event-tree layer shape): per user,
    collect the sorted event list, then element_at(-1) — the preferred-
    object 'last in list' fallback (utils/events.py:425-480) exercised on
    the driver tables. Oracle computes the same result via arg_max."""
    ev = _t(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(_ts_ns().alias("t_ns"), "event_type", "value"))
        ).alias("events")
    )
    last = F.element_at(F.col("events"), -1)
    return nested.select(
        "user_id",
        F.size("events").cast("long").alias("n_events"),
        last["t_ns"].alias("last_ns"),
        last["event_type"].alias("last_type"),
        last["value"].alias("last_value"),
    )


# the engine's element_at(sort_array(...), -1) is a STRUCT max over
# (t_ns, event_type, value); arg_max over the bare timestamp had an
# implementation-defined tie choice (r6 review) — rank by the same
# composite ordering instead
_SQL_NESTED = """
    SELECT user_id, CAST(cnt AS BIGINT) AS n_events,
           last_ns, last_type, last_value
    FROM (
      SELECT user_id, epoch_ns(ts) AS last_ns, event_type AS last_type,
             value AS last_value,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ns(ts) DESC, event_type DESC, value DESC)
               AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    ) x
    WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# pivot + salted skew aggregation
# ---------------------------------------------------------------------------


def q_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type value matrix (the reference's per-type
    magnitude columns, constants.py:493-497, as a general pivot)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    dec = F.col("value").cast("decimal(18,2)")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum(dec).cast("double"), 4))
    )


_SQL_PIVOT = """
    SELECT user_id,
           round(CAST(sum(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS click,
           round(CAST(sum(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS error,
           round(CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS purchase,
           round(CAST(sum(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS signup,
           round(CAST(sum(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS view
    FROM events GROUP BY user_id
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: identical results to a plain
    groupBy (the salt is internal), hot keys spread across salt tasks."""
    from obsplus_spark.operators.joins import salted_aggregate

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _ts_ns().alias("t_ns")
    )
    return salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n": (F.count, F.sum, "t_ns"),
            "min_ns": (F.min, F.min, "t_ns"),
            "max_ns": (F.max, F.max, "t_ns"),
        },
        salt=8,
    )


_SQL_SALTED = """
    SELECT event_type, count(epoch_ns(ts)) AS n,
           min(epoch_ns(ts)) AS min_ns, max(epoch_ns(ts)) AS max_ns
    FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# bulk-request join (wavebank.get_waveforms_bulk) over a derived index
# ---------------------------------------------------------------------------

_BULK_REQUESTS = [
    # (network, station, location, channel, t1_ns, t2_ns) — NSLC mapped onto
    # (source-ish codes): exact rows and glob rows, matching the reference's
    # exact/wildcard split (utils/waveforms.py:582-606)
    ("EV", "click", "", "u3", 1704844800 * NS, 1705708800 * NS),
    ("EV", "p*", "", "u?", 1704067200 * NS, 1704672000 * NS),
    ("EV", "view", "", "u9", 1704067200 * NS, 1706745600 * NS),
]


def q_bulk_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_waveforms_bulk: literal request list (exact + glob NSLC
    patterns, per-row windows) compiled into one scan predicate — the
    reference's bulk API shape (a Python list), so no join at all; the
    DataFrame-request twin (bulk_request_join) is exercised by tests."""
    from obsplus_spark.operators.joins import bulk_request_filter

    iv = _event_intervals(spark, sf_dir).select(
        F.lit("EV").alias("network"),
        F.col("event_type").alias("station"),
        F.lit("").alias("location"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias(
            "channel"
        ),
        "starttime",
        "endtime",
        "event_id",
    )
    out = bulk_request_filter(iv, _BULK_REQUESTS)
    return out.select("network", "station", "channel", "starttime", "endtime", "event_id")


def _bulk_sql() -> str:
    # glob → SQL LIKE (the oracle-side twin of fnmatch translation)
    def like(p: str) -> str:
        return p.replace("*", "%").replace("?", "_")

    clauses = []
    for n, s, l, c, t1, t2 in _BULK_REQUESTS:
        clauses.append(
            f"(network LIKE '{like(n)}' AND station LIKE '{like(s)}' AND "
            f"location LIKE '{like(l)}' AND channel LIKE '{like(c)}' AND "
            f"starttime < {t2} AND endtime > {t1})"
        )
    return f"""
    WITH iv AS ({_IV_SQL}),
    idx AS (
      SELECT 'EV' AS network, event_type AS station, '' AS location,
             'u' || CAST(user_id % 10 AS VARCHAR) AS channel,
             starttime, endtime, event_id
      FROM iv
    )
    SELECT DISTINCT network, station, channel, starttime, endtime, event_id
    FROM idx
    WHERE {" OR ".join(clauses)}
"""


# ---------------------------------------------------------------------------
# §2.1/§2.11 payload lookup, JSON round-trip, recursive prune, keyed merge
# ---------------------------------------------------------------------------


def q_event_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventBank.get_events payload path (eventbank.py:392-418): an index
    predicate resolves matching keys, a left_semi join pulls the stored
    nested payload rows, which flatten back to full detail — the exact
    join program EventBank.get_events runs against its payload table."""
    ev = _t(spark, sf_dir, "events")
    payload = ev.groupBy("user_id").agg(
        F.collect_list(
            F.struct(_ts_ns().alias("t_ns"), "event_type", "value")
        ).alias("events")
    )
    index = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("value").alias("max_value"),
    )
    idx = index.filter((F.col("max_value") > 100.0) & (F.col("n_events") > 70))
    trees = payload.join(idx.select("user_id"), "user_id", "left_semi")
    return trees.select(
        "user_id", F.explode("events").alias("e")
    ).select(
        "user_id",
        F.col("e.t_ns").alias("t_ns"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
    )


_SQL_PAYLOAD = """
    SELECT e.user_id, epoch_ns(e.ts) AS t_ns, e.event_type, e.value
    FROM events e
    JOIN (SELECT user_id FROM events GROUP BY user_id
          HAVING max(value) > 100.0 AND count(*) > 70) s
      ON e.user_id = s.user_id
"""


def q_json_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event JSON round-trip (events/json.py:35-57 cat_to_json →
    dict_to_cat): build nested event trees, serialize to JSON strings,
    parse back through the fixed schema, flatten the picks view. The
    oracle computes the flattened rows directly — any field the
    round-trip loses or mangles breaks the hash match."""
    from obsplus_spark.operators.event_tree import (
        json_to_tree,
        picks_to_df,
        tree_to_json,
    )

    from obsplus_spark.util import sql_over

    ev = _t(spark, sf_dir, "events")
    tree = sql_over(
        {"ev": ev},
        f"""
        WITH agg AS (
          SELECT user_id,
                 collect_list(named_struct(
                   'resource_id', CAST(event_id AS STRING),
                   'time', {_TS_NS_SQL},
                   'phase_hint', event_type,
                   'evaluation_status', CAST(NULL AS STRING),
                   'network', 'EV',
                   'station', event_type,
                   'location', '',
                   'channel', concat('u', CAST(user_id % 10 AS STRING))
                 )) AS picks,
                 min({_TS_NS_SQL}) AS first_ns,
                 max({_TS_NS_SQL}) AS creation_time
          FROM {{ev}} GROUP BY user_id
        )
        SELECT concat('u', CAST(user_id AS STRING)) AS event_id,
               CAST(NULL AS STRING) AS event_description,
               CAST(NULL AS STRING) AS preferred_origin_id,
               CAST(NULL AS STRING) AS preferred_magnitude_id,
               creation_time,
               array(named_struct(
                 'resource_id', concat('o', CAST(user_id AS STRING)),
                 'time', first_ns,
                 'latitude', CAST(NULL AS DOUBLE),
                 'longitude', CAST(NULL AS DOUBLE),
                 'depth', CAST(NULL AS DOUBLE))) AS origins,
               CAST(array() AS ARRAY<STRUCT<resource_id: STRING,
                 mag: DOUBLE, magnitude_type: STRING, origin_id: STRING>>)
                 AS magnitudes,
               picks
        FROM agg
        """,
    )
    round_tripped = json_to_tree(tree_to_json(tree).select("json"))
    flat = picks_to_df(round_tripped)
    return flat.select(
        "event_id",
        "event_time",
        "resource_id",
        "time",
        "phase_hint",
        "network",
        "station",
        "channel",
        "seed_id",
    )


_SQL_JSON_RT = """
    WITH firsts AS (
      SELECT user_id, min(epoch_ns(ts)) AS first_ns FROM events GROUP BY user_id
    )
    SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
           f.first_ns AS event_time,
           CAST(e.event_id AS VARCHAR) AS resource_id,
           epoch_ns(e.ts) AS time,
           e.event_type AS phase_hint,
           'EV' AS network,
           e.event_type AS station,
           'u' || CAST(e.user_id % 10 AS VARCHAR) AS channel,
           'EV.' || e.event_type || '..u' || CAST(e.user_id % 10 AS VARCHAR)
             AS seed_id
    FROM events e JOIN firsts f ON e.user_id = f.user_id
"""


def q_prune_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive prune (utils/events.py:74-148 prune_events): a two-level
    ownership forest over the events table (user-first event → day-first
    events → the day's other events); rejected nodes drop their whole
    subtree. Spark side runs the iterative anti-join fixed point
    (prune_rejected); the oracle is a DuckDB WITH RECURSIVE closure."""
    from obsplus_spark.operators.surgery import prune_rejected

    NS_DAY = 86400 * NS
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id AS resource_id",
        "user_id",
        f"{_TS_NS_SQL} AS t_ns",
        "CASE WHEN value > 200.0 THEN 'rejected'"
        " WHEN value < 1.0 THEN CAST(NULL AS STRING)"
        " ELSE 'ok' END AS evaluation_status",
        f"CAST(floor(({_TS_NS_SQL}) / {NS_DAY}.0D) AS BIGINT) AS day",
    )
    # first-per-group via min_by aggregation, not windows: map-side
    # combinable (partial aggregation before the shuffle), and the
    # user-first cascades from the already-tiny per-day table instead of
    # re-sorting the event table. At scale this shuffles only the agg
    # partials; the window formulation sorts every event row twice.
    okey = F.struct("t_ns", "resource_id")
    df_first = ev.groupBy("user_id", "day").agg(
        F.min_by("resource_id", okey).alias("df_id"),
        F.min(okey).alias("_dkey"),
    )
    uf_first = df_first.groupBy("user_id").agg(
        F.min_by("df_id", "_dkey").alias("uf_id")
    )
    firsts = df_first.drop("_dkey").join(uf_first, "user_id")
    # one row per (user, day) — broadcast at bench scale; at cluster scale
    # drop the hint and the join co-partitions on the agg's own keys
    evf = ev.join(F.broadcast(firsts), ["user_id", "day"])
    rid = F.col("resource_id")
    day_first_edges = evf.filter(
        (rid == F.col("df_id")) & (rid != F.col("uf_id"))
    ).select(F.col("uf_id").alias("parent"), rid.alias("child"))
    other_edges = evf.filter(rid != F.col("df_id")).select(
        F.col("df_id").alias("parent"), rid.alias("child")
    )
    # The forest depth is 2 by construction, so the lazy fixed-iteration
    # mode applies: the whole prune is one job, no driver-side counts.
    # Ownership is a strict forest (each child one parent, unique ids) →
    # assume_forest skips every per-round dedup shuffle, and ids_only
    # skips the payload-recovery semi join (only the id set is returned).
    # The edge table is consulted by every fixed-point round — persist it
    # so the agg cascade runs once, not once per plan reference.
    edges = day_first_edges.unionByName(other_edges).persist()
    register_shingle_cache(edges)
    nodes = ev.select("resource_id", "evaluation_status")
    alive = prune_rejected(
        nodes, edges, max_iterations=2, check_convergence=False,
        assume_forest=True, ids_only=True,
    )
    return alive.select("resource_id")


_SQL_PRUNE = f"""
    WITH RECURSIVE base AS (
      SELECT event_id AS id, user_id, epoch_ns(ts) AS t_ns,
             CASE WHEN value > 200.0 THEN 'rejected'
                  WHEN value < 1.0 THEN NULL
                  ELSE 'ok' END AS status,
             CAST(floor(epoch_ns(ts) / {86400 * NS}.0) AS BIGINT) AS day
      FROM events
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id ORDER BY t_ns, id) AS rn_u,
             row_number() OVER (PARTITION BY user_id, day ORDER BY t_ns, id) AS rn_d,
             first_value(id) OVER (PARTITION BY user_id ORDER BY t_ns, id) AS uf_id,
             first_value(id) OVER (PARTITION BY user_id, day ORDER BY t_ns, id) AS df_id
      FROM base
    ),
    edges AS (
      SELECT uf_id AS parent, id AS child FROM ranked WHERE rn_d = 1 AND rn_u > 1
      UNION ALL
      SELECT df_id AS parent, id AS child FROM ranked WHERE rn_d > 1
    ),
    alive AS (
      SELECT id FROM ranked
      WHERE rn_u = 1 AND (status IS NULL OR status <> 'rejected')
      UNION
      SELECT e.child
      FROM edges e
      JOIN alive a ON e.parent = a.id
      JOIN ranked n ON n.id = e.child
      WHERE n.status IS NULL OR n.status <> 'rejected'
    )
    SELECT id AS resource_id FROM alive
"""


def q_merge_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_events pick path (events/merge.py:66-92): column-level keyed
    merge — shared keys take the incoming attributes but keep the target
    resource_id (version bumps when content changed), incoming-only keys
    append, target-only keys survive as 'rejected' (reject_old)."""
    from obsplus_spark.operators.surgery import merge_events

    ev = _t(spark, sf_dir, "events")

    def last_per_bucket(pred_sql):
        # last-row-per-group via ONE hash-aggregable max: the (t_ns,
        # event_id) order key packs into a zero-padded string whose
        # lexicographic order matches the numeric order (both fields are
        # non-negative), so the agg stays a map-side-combinable
        # HashAggregate — max_by over a struct ordering falls back to
        # SortAggregate, which sorts the whole input twice
        rows = ev.filter(pred_sql).selectExpr(
            "CAST(user_id % 50 AS BIGINT) AS bucket",
            "event_id",
            f"{_TS_NS_SQL} AS t_ns",
        )
        best = rows.groupBy("bucket").agg(
            F.expr(
                "max(concat(lpad(CAST(t_ns AS STRING), 20, '0'), '|',"
                " lpad(CAST(event_id AS STRING), 20, '0'))) AS _p"
            )
        )
        return best.selectExpr(
            "bucket",
            r"CAST(split(_p, '\\|')[1] AS BIGINT) AS event_id",
            r"CAST(split(_p, '\\|')[0] AS BIGINT) AS t_ns",
        )

    def as_picks(last, phase_sql, version_sql):
        return last.selectExpr(
            "'EV' AS network",
            "concat('s', CAST(bucket AS STRING)) AS station",
            "'' AS location",
            "'c' AS channel",
            f"{phase_sql} AS phase_hint",
            "event_id AS resource_id",
            "t_ns AS time",
            "CAST(NULL AS STRING) AS evaluation_status",
            f"CAST({version_sql} AS STRING) AS version",
        )

    target = as_picks(last_per_bucket("event_type = 'click'"), "'P'", "'1'")
    # both incoming branches come from ONE aggregation over the purchase
    # rows (disjoint bucket ranges; phase decided per row afterwards) —
    # splitting first would push the filters below the agg and run it twice
    purch = last_per_bucket(
        "event_type = 'purchase' AND (user_id % 50 < 30 OR user_id % 50 >= 40)"
    )
    incoming = as_picks(
        purch, "CASE WHEN bucket < 30 THEN 'P' ELSE 'S' END", "NULL"
    )
    merged, _ = merge_events(target, incoming, reject_old=True)
    return merged


def _merge_sql() -> str:
    pick_cte = """
      SELECT 'EV' AS network, 's' || CAST(bucket AS VARCHAR) AS station,
             '' AS location, 'c' AS channel, '{phase}' AS phase_hint,
             event_id AS resource_id, t_ns AS time,
             CAST(NULL AS VARCHAR) AS evaluation_status,
             {version} AS version
      FROM (
        SELECT bucket, event_id, t_ns,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY t_ns DESC, event_id DESC) AS rn
        FROM (SELECT user_id % 50 AS bucket, event_id, epoch_ns(ts) AS t_ns
              FROM events WHERE event_type = '{etype}' {extra})
      ) WHERE rn = 1
    """
    tgt = pick_cte.format(phase="P", version="'1'", etype="click", extra="")
    inc_p = pick_cte.format(
        phase="P", version="CAST(NULL AS VARCHAR)", etype="purchase",
        extra="AND user_id % 50 < 30",
    )
    inc_s = pick_cte.format(
        phase="S", version="CAST(NULL AS VARCHAR)", etype="purchase",
        extra="AND user_id % 50 >= 40",
    )
    return f"""
    WITH tgt AS ({tgt}),
    inc AS ({inc_p} UNION ALL {inc_s}),
    m AS (
      SELECT coalesce(t.network, i.network) AS network,
             coalesce(t.station, i.station) AS station,
             coalesce(t.location, i.location) AS location,
             coalesce(t.channel, i.channel) AS channel,
             coalesce(t.phase_hint, i.phase_hint) AS phase_hint,
             t.resource_id AS t_rid, i.resource_id AS i_rid,
             t.time AS t_time, i.time AS i_time,
             t.version AS t_ver, i.version AS i_ver,
             t.resource_id IS NOT NULL AS in_t,
             i.resource_id IS NOT NULL AS in_i
      FROM tgt t FULL JOIN inc i
        ON t.network = i.network AND t.station = i.station
       AND t.location = i.location AND t.channel = i.channel
       AND t.phase_hint = i.phase_hint
    )
    SELECT network, station, location, channel, phase_hint,
           CASE WHEN in_t THEN t_rid ELSE i_rid END AS resource_id,
           CASE WHEN in_i THEN i_time ELSE t_time END AS time,
           CASE WHEN in_t AND NOT in_i THEN 'rejected'
                ELSE CAST(NULL AS VARCHAR) END AS evaluation_status,
           CASE WHEN in_t AND in_i AND t_time IS DISTINCT FROM i_time
                  THEN CAST(CAST(coalesce(t_ver, '0') AS BIGINT) + 1 AS VARCHAR)
                WHEN in_t AND NOT in_i THEN t_ver
                ELSE coalesce(i_ver, t_ver) END AS version
    FROM m
"""


# ---------------------------------------------------------------------------
# §2.2/§2.8 scalar + validation shapes: ci glob, seed ids, trim, S-before-P
# ---------------------------------------------------------------------------


def q_ci_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive glob matching (stations/get_stations.py:22-24 —
    station kwargs match case-insensitively, unlike events/waveforms)."""
    from obsplus_spark.functions.strings import glob_match

    p = _t(spark, sf_dir, "part")
    return p.filter(
        glob_match("p_type", "stand?rd", case_insensitive=True)
        | glob_match("p_brand", "brand#1?", case_insensitive=True)
    ).select("p_partkey", "p_type", "p_brand")


_SQL_CI_GLOB = """
    SELECT p_partkey, p_type, p_brand
    FROM part
    WHERE upper(p_type) LIKE upper('stand_rd')
       OR upper(p_brand) LIKE upper('brand#1_')
"""


def q_seed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-id scalar family (utils/pd.py:256-333 get_seed_id_series +
    zero-pad codes + split inverse): build NSLC from driver columns,
    zero-pad the numeric location code, concat → split round-trip."""
    from obsplus_spark.functions.strings import zero_pad_code
    from obsplus_spark.schemas import split_seed_id, with_seed_id

    ev = _t(spark, sf_dir, "events")
    nslc = ev.select(
        F.col("event_id"),
        F.lit("EV").alias("network"),
        F.col("event_type").alias("station"),
        zero_pad_code((F.col("user_id") % 99).cast("string"), 2).alias("location"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias(
            "channel"
        ),
    )
    seeded = with_seed_id(nslc)
    # round-trip: split back and re-derive, proving concat/split inverse
    back = split_seed_id(seeded.select("event_id", "seed_id"))
    return back.select(
        "event_id", "seed_id", "network", "station", "location", "channel"
    )


_SQL_SEED = """
    SELECT event_id,
           'EV' || '.' || event_type || '.' || lpad(CAST(user_id % 99 AS VARCHAR), 2, '0')
                || '.' || 'u' || CAST(user_id % 10 AS VARCHAR) AS seed_id,
           'EV' AS network,
           event_type AS station,
           lpad(CAST(user_id % 99 AS VARCHAR), 2, '0') AS location,
           'u' || CAST(user_id % 10 AS VARCHAR) AS channel
    FROM events
"""


def q_trim_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-window slice semantics (wavebank.py:783-798
    _prep_output_stream / Stream.trim): synthetic per-user traces (samples
    derived deterministically from the key), trimmed to a window; kept
    index range is [ceil((t1-start)/sp), floor-bound) clamped — off-by-one
    behavior is exactly what the oracle's list_slice math checks."""
    from obsplus_spark.operators.waveforms import trim_traces

    c = _t(spark, sf_dir, "customer")
    traces = c.select(
        F.col("c_custkey"),
        F.lit("EV").alias("network"),
        F.lit("S").alias("station"),
        F.lit("").alias("location"),
        F.lit("Z").alias("channel"),
        ((F.col("c_custkey") % 7) * 10).cast("long").alias("starttime"),
        (((F.col("c_custkey") % 7) * 10) + 200).cast("long").alias("endtime"),
        F.lit(10).cast("long").alias("sampling_period"),
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda i: (F.col("c_custkey") % 100).cast("double") + i,
        ).alias("samples"),
    )
    out = trim_traces(traces, starttime=45, endtime=155)
    return out.select(
        "c_custkey",
        "trim_start",
        "trim_end",
        F.size("samples").cast("long").alias("n_kept"),
        F.round(
            F.aggregate(
                "samples", F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("sum_kept"),
    )


_SQL_TRIM = """
    WITH traces AS (
      SELECT c_custkey,
             CAST((c_custkey % 7) * 10 AS BIGINT) AS starttime,
             10 AS sp,
             [CAST(c_custkey % 100 AS DOUBLE) + i FOR i IN range(0, 20)] AS samples
      FROM customer
    ),
    idx AS (
      SELECT c_custkey, starttime, sp, samples,
             greatest(CAST(ceil((45 - starttime) / sp) AS BIGINT), 0) AS first_i,
             least(CAST(ceil((155 - starttime) / sp) AS BIGINT), len(samples)) AS last_i
      FROM traces
    )
    SELECT c_custkey,
           starttime + first_i * sp AS trim_start,
           starttime + last_i * sp AS trim_end,
           last_i - first_i AS n_kept,
           round(list_sum(list_slice(samples, first_i + 1, last_i)), 6) AS sum_kept
    FROM idx
    WHERE last_i > first_i
"""


def q_s_before_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick-order validation (events/validate.py:132-167 'S must follow
    P') mapped onto driver data: per (user, day) the first 'view' (P)
    must precede the first 'purchase' (S); violations surface as rows."""
    ev = _t(spark, sf_dir, "events")
    NS_DAY = 86400 * NS
    typed = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        F.floor(_ts_ns() / F.lit(NS_DAY)).alias("day"),
        "event_type",
        _ts_ns().alias("t_ns"),
    )
    agg = typed.groupBy("user_id", "day").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t_ns"))).alias("p_time"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("t_ns"))).alias(
            "s_time"
        ),
    )
    return agg.filter(
        F.col("p_time").isNotNull()
        & F.col("s_time").isNotNull()
        & (F.col("s_time") < F.col("p_time"))
    )


_SQL_SBP = f"""
    SELECT user_id,
           CAST(floor(epoch_ns(ts) / {86400 * NS}.0) AS BIGINT) AS day,
           min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS p_time,
           min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS s_time
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY 1, 2
    HAVING min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) IS NOT NULL
       AND min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) IS NOT NULL
       AND min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
         < min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
"""


# ---------------------------------------------------------------------------
# §2.11 catalog-surgery + validation + ANN oracle queries (round 2 batch 2)
# ---------------------------------------------------------------------------


#: one JVM-parsed string (the Column-object struct cost ~20 py4j calls per use)
_PICK_STRUCT_SQL = (
    "named_struct("
    "'resource_id', CAST(event_id AS STRING), "
    f"'time', {_TS_NS_SQL}, "
    "'phase_hint', event_type, "
    "'evaluation_status',"
    " CAST(CASE WHEN value > 200.0 THEN 'rejected' END AS STRING), "
    "'network', 'EV', 'station', event_type, 'location', '', "
    "'channel', concat('u', CAST(user_id % 10 AS STRING)))"
)


def _pick_struct() -> F.Column:
    """A PICK_STRUCT-shaped struct from an events row (field order matches
    event_tree.PICK_STRUCT so arrays concat/transform cleanly)."""
    return F.expr(_PICK_STRUCT_SQL)


def q_dup_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_events id remap (utils/events.py:36-71): every internal
    object of a nested tree gets a deterministic fresh id; references
    remap iff they point at an internal object (external ids pass
    through). The oracle replays the md5 remap formula column-wise."""
    from obsplus_spark.operators.surgery import duplicate_events

    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.expr(f"collect_list({_PICK_STRUCT_SQL}) AS picks"),
        F.expr(f"min({_TS_NS_SQL}) AS first_ns"),
        F.expr(f"max({_TS_NS_SQL}) AS creation_time"),
        F.expr("count(1) AS _n"),
    )
    tree = g.selectExpr(
        "concat('u', CAST(user_id AS STRING)) AS event_id",
        "CAST(NULL AS STRING) AS event_description",
        "CASE WHEN user_id % 2 = 0 THEN concat('o', CAST(user_id AS STRING))"
        " ELSE concat('ext:', CAST(user_id AS STRING)) END"
        " AS preferred_origin_id",
        "CAST(NULL AS STRING) AS preferred_magnitude_id",
        "creation_time",
        "array(named_struct("
        "'resource_id', concat('o', CAST(user_id AS STRING)),"
        " 'time', first_ns,"
        " 'latitude', CAST(NULL AS DOUBLE),"
        " 'longitude', CAST(NULL AS DOUBLE),"
        " 'depth', CAST(NULL AS DOUBLE))) AS origins",
        "array(named_struct("
        "'resource_id', concat('m', CAST(user_id AS STRING)),"
        " 'mag', (user_id % 7) / 2.0D,"
        " 'magnitude_type', 'ML',"
        " 'origin_id', CASE WHEN user_id % 4 = 0"
        " THEN concat('o', CAST(user_id AS STRING))"
        " ELSE 'oext' END)) AS magnitudes",
        "picks",
        "user_id",
        "_n",
    )
    # user_id/_n are passthrough columns — duplicate_events only rewrites
    # the id/reference/array columns, so they ride along for the output
    dup = duplicate_events(tree, suffix="dup")
    return dup.selectExpr(
        "user_id",
        "event_id",
        "preferred_origin_id",
        "preferred_magnitude_id",
        "element_at(origins, 1).resource_id AS o0",
        "element_at(magnitudes, 1).origin_id AS m_oid",
        "array_min(transform(picks, p -> p.resource_id)) AS min_pick",
        "CAST(_n AS BIGINT) AS n_picks",
    )


_REMAP = "'dup:' || substr(md5({x} || ':dup'), 1, 12)"

_SQL_DUP_REMAP = f"""
    WITH g AS (
      SELECT user_id, count(*) AS n_picks,
             min({_REMAP.format(x="CAST(event_id AS VARCHAR)")}) AS min_pick
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           {_REMAP.format(x="'u' || CAST(user_id AS VARCHAR)")} AS event_id,
           CASE WHEN user_id % 2 = 0
                THEN {_REMAP.format(x="'o' || CAST(user_id AS VARCHAR)")}
                ELSE 'ext:' || CAST(user_id AS VARCHAR) END
             AS preferred_origin_id,
           CAST(NULL AS VARCHAR) AS preferred_magnitude_id,
           {_REMAP.format(x="'o' || CAST(user_id AS VARCHAR)")} AS o0,
           CASE WHEN user_id % 4 = 0
                THEN {_REMAP.format(x="'o' || CAST(user_id AS VARCHAR)")}
                ELSE 'oext' END AS m_oid,
           min_pick, n_picks
    FROM g
"""


def q_attach_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_origins + attach_new_origin (utils/events.py:258-317,
    merge.py:135-194): events lacking origins get one fabricated at the
    earliest pick time and marked preferred."""
    from obsplus_spark.operators.event_tree import ORIGIN_STRUCT, make_origins
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    tree = ev.groupBy("user_id").agg(
        F.collect_list(_pick_struct()).alias("picks"),
        F.max(_ts_ns()).alias("creation_time"),
    ).select(
        F.concat(F.lit("u"), uid).alias("event_id"),
        F.lit(None).cast("string").alias("event_description"),
        F.lit(None).cast("string").alias("preferred_origin_id"),
        F.lit(None).cast("string").alias("preferred_magnitude_id"),
        "creation_time",
        F.array().cast(T.ArrayType(ORIGIN_STRUCT)).alias("origins"),
        "picks",
    )
    out = make_origins(tree, rid_prefix="fpo:", preferred=True)
    return out.select(
        "event_id",
        "preferred_origin_id",
        F.size("origins").cast("long").alias("n_origins"),
        F.element_at("origins", -1)["time"].alias("o_time"),
    )


_SQL_ATTACH = """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS event_id,
           'fpo:u' || CAST(user_id AS VARCHAR) AS preferred_origin_id,
           CAST(1 AS BIGINT) AS n_origins,
           min(epoch_ns(ts)) AS o_time
    FROM events GROUP BY user_id
"""


def q_preferred_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_preferred fallback chain (utils/events.py:425-480): the element
    matching the preferred id, else the LAST list element, else null —
    all three branches exercised (matching ids for user%3==0, dangling
    ids otherwise, users with no origins at all)."""
    from obsplus_spark.operators.event_tree import preferred

    ev = _t(spark, sf_dir, "events")
    o = F.when(
        F.col("event_type") == "signup",
        F.struct(
            _ts_ns().alias("time"),
            F.concat(F.lit("o"), F.col("event_id").cast("string")).alias(
                "resource_id"
            ),
            F.col("value").alias("latitude"),
        ),
    )
    g = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(o)).alias("origins"),
        F.min(F.when(F.col("event_type") == "signup", F.col("event_id"))).alias(
            "_min_sid"
        ),
    )
    tree = g.select(
        "user_id",
        "origins",
        F.when(
            F.col("user_id") % 3 == 0,
            F.concat(F.lit("o"), F.col("_min_sid").cast("string")),
        )
        .otherwise(F.lit("o-ext"))
        .alias("preferred_origin_id"),
    )
    pref = preferred("origins", "preferred_origin_id")
    return tree.select(
        "user_id",
        F.size("origins").cast("long").alias("n_origins"),
        pref["resource_id"].alias("pref_id"),
        pref["time"].alias("pref_time"),
        pref["latitude"].alias("pref_lat"),
    )


_SQL_PREF = """
    WITH s AS (
      SELECT user_id, event_id, epoch_ns(ts) AS t, value
      FROM events WHERE event_type = 'signup'
    ),
    agg AS (
      SELECT user_id, count(*) AS n_o, min(event_id) AS min_sid,
             arg_max('o' || CAST(event_id AS VARCHAR),
                     lpad(CAST(t AS VARCHAR), 20, '0') || '|o'
                       || CAST(event_id AS VARCHAR)) AS last_oid,
             arg_max(t, lpad(CAST(t AS VARCHAR), 20, '0') || '|o'
                       || CAST(event_id AS VARCHAR)) AS last_t,
             arg_max(value, lpad(CAST(t AS VARCHAR), 20, '0') || '|o'
                       || CAST(event_id AS VARCHAR)) AS last_lat,
             arg_min(t, event_id) AS m_t,
             arg_min(value, event_id) AS m_lat
      FROM s GROUP BY user_id
    ),
    u AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(coalesce(n_o, 0) AS BIGINT) AS n_origins,
           CASE WHEN u.user_id % 3 = 0 THEN
                  CASE WHEN min_sid IS NOT NULL
                       THEN 'o' || CAST(min_sid AS VARCHAR) END
                WHEN n_o > 0 THEN last_oid END AS pref_id,
           CASE WHEN u.user_id % 3 = 0 THEN
                  CASE WHEN min_sid IS NOT NULL THEN m_t END
                WHEN n_o > 0 THEN last_t END AS pref_time,
           CASE WHEN u.user_id % 3 = 0 THEN
                  CASE WHEN min_sid IS NOT NULL THEN m_lat END
                WHEN n_o > 0 THEN last_lat END AS pref_lat
    FROM u LEFT JOIN agg USING (user_id)
"""


def q_strip_bump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strip_events + bump_creation_version (utils/events.py:151-222,
    :225-255): version increment then rejected-row strip + projection."""
    from obsplus_spark.operators.surgery import bump_version, strip_events

    ev = _t(spark, sf_dir, "events")
    picks = ev.select(
        F.col("event_id").cast("string").alias("resource_id"),
        _ts_ns().alias("t_ns"),
        F.col("event_type").alias("phase_hint"),
        F.when(F.col("value") > 200.0, "rejected")
        .when(F.col("value") < 1.0, F.lit(None).cast("string"))
        .otherwise("ok")
        .alias("evaluation_status"),
        F.when(
            F.col("user_id") % 3 == 0, F.lit(None).cast("string")
        )
        .otherwise((F.col("user_id") % 5).cast("string"))
        .alias("version"),
    )
    bumped = bump_version(picks)
    return strip_events(
        bumped, keep_columns=["resource_id", "t_ns", "phase_hint", "version"]
    )


_SQL_STRIP = """
    SELECT CAST(event_id AS VARCHAR) AS resource_id,
           epoch_ns(ts) AS t_ns,
           event_type AS phase_hint,
           CAST((CASE WHEN user_id % 3 = 0 THEN 0
                      ELSE user_id % 5 END) + 1 AS VARCHAR) AS version
    FROM events
    WHERE NOT value > 200.0
"""


def q_p_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-pick outlier rule (events/validate.py:170-184): picks further
    than the limit from their event's median P time."""
    from obsplus_spark.operators.validate import p_outliers

    ev = _t(spark, sf_dir, "events")
    picks = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "event_id"
        ),
        F.col("event_id").cast("string").alias("resource_id"),
        F.lit("P").alias("phase_hint"),
        _ts_ns().alias("time"),
    )
    v = p_outliers(picks, limit_ns=10 * 86400 * NS)
    return v.select(
        "rule",
        "event_id",
        F.get_json_object("detail", "$.resource_id").alias("resource_id"),
        F.get_json_object("detail", "$.time").cast("long").alias("t_ns"),
    )


_SQL_P_OUT = f"""
    WITH p AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS event_id,
             CAST(event_id AS VARCHAR) AS rid, epoch_ns(ts) AS t
      FROM events WHERE event_type IN ('view', 'click')
    ),
    med AS (SELECT event_id, median(t) AS m FROM p GROUP BY event_id)
    SELECT 'p_outlier' AS rule, p.event_id, p.rid AS resource_id,
           p.t AS t_ns
    FROM p JOIN med USING (event_id)
    WHERE abs(p.t - m) > {10 * 86400 * NS}
"""


def q_orphan_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival→pick referential integrity (events/validate.py:64-79):
    arrivals whose pick_id resolves to no pick, as an anti join."""
    from obsplus_spark.operators.validate import arrivals_reference_picks

    ev = _t(spark, sf_dir, "events")
    picks = ev.filter(F.col("event_type") == "click").select(
        F.concat(F.lit("p"), F.col("event_id").cast("string")).alias(
            "resource_id"
        )
    )
    arrivals = ev.filter(F.col("event_type") == "error").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias(
            "event_id"
        ),
        F.concat(
            F.lit("p"),
            (F.col("event_id") - (F.col("event_id") % 2)).cast("string"),
        ).alias("pick_id"),
    )
    v = arrivals_reference_picks(arrivals, picks)
    return v.select(
        "rule",
        "event_id",
        F.get_json_object("detail", "$.pick_id").alias("pick_id"),
    )


_SQL_ORPHAN = """
    WITH picks AS (
      SELECT 'p' || CAST(event_id AS VARCHAR) AS rid
      FROM events WHERE event_type = 'click'
    ),
    arr AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS event_id,
             'p' || CAST(event_id - (event_id % 2) AS VARCHAR) AS pick_id
      FROM events WHERE event_type = 'error'
    )
    SELECT 'orphan_arrival' AS rule, event_id, pick_id
    FROM arr WHERE pick_id NOT IN (SELECT rid FROM picks)
"""


def q_amp_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four amplitude QC rules (events/validate.py:187-283:
    check_amp_lims, check_amp_filter_ids, check_amps_on_z_component,
    check_amp_times_contain_pick_time) as one unioned violation frame.
    Picks/amplitudes synthesized deterministically from the events table;
    the oracle replays the same formulas in SQL."""
    from obsplus_spark.operators import validate as V

    ev = _t(spark, sf_dir, "events")
    ts = _TS_NS_SQL
    picks = ev.filter(
        F.col("event_type").isin("view", "purchase")
    ).selectExpr(
        "'p' || cast(event_id as string) AS resource_id",
        "'u' || cast(user_id as string) AS event_id",
        f"{ts} AS time",
        "CASE WHEN event_type = 'view' THEN 'AML' ELSE 'IAML' END AS phase_hint",
        "CASE WHEN value > 200 THEN 'rejected' END AS evaluation_status",
        "'EV' AS network",
        "'S' || cast(user_id % 5 as string) AS station",
        "'' AS location",
        "CASE WHEN event_id % 4 = 0 THEN 'HHZ' ELSE 'HHN' END AS channel",
    )
    amps = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "'u' || cast(user_id as string) AS event_id",
        "'EV' AS network",
        "'S' || cast(user_id % 5 as string) AS station",
        "'' AS location",
        "CASE WHEN event_id % 4 = 0 THEN 'HHZ' ELSE 'HHN' END AS channel",
        "value AS generic_amplitude",
        "CASE WHEN event_id % 13 = 0 THEN NULL"
        " ELSE 'smi:local/f' || cast(event_id % 4 as string) END AS filter_id",
        "'p' || cast(CASE WHEN event_id % 5 = 0 THEN event_id * 1000 + 7"
        " ELSE event_id END as string) AS pick_id",
        "CASE WHEN value > 200 THEN 'rejected' END AS evaluation_status",
        "(event_id % 7) <> 0 AS has_time_window",
        f"CASE WHEN event_id % 11 = 0 THEN NULL ELSE ({ts}) +"
        " (CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END) END AS reference_time",
    )
    reports = [
        V.amp_limits(amps, amp_lim=150.0),
        V.amp_filter_ids(
            amps, ["smi:local/f0", "smi:local/f1", "smi:local/f2"]
        ),
        V.amp_times_contain_pick_time(amps, picks),
        V.amps_on_z_component(picks),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.selectExpr(
        "rule",
        "event_id",
        "concat(get_json_object(detail, '$.network'), '.',"
        " get_json_object(detail, '$.station'), '.',"
        " coalesce(get_json_object(detail, '$.location'), ''), '.',"
        " get_json_object(detail, '$.channel')) AS seed_id",
    )


_SQL_AMP_VIOLATIONS = """
    WITH picks AS (
      SELECT 'p' || CAST(event_id AS VARCHAR) AS resource_id,
             'u' || CAST(user_id AS VARCHAR) AS event_id,
             epoch_ns(ts) AS time,
             CASE WHEN event_type = 'view' THEN 'AML' ELSE 'IAML' END AS phase_hint,
             CASE WHEN value > 200 THEN 'rejected' END AS evaluation_status,
             'EV' AS network,
             'S' || CAST(user_id % 5 AS VARCHAR) AS station,
             '' AS location,
             CASE WHEN event_id % 4 = 0 THEN 'HHZ' ELSE 'HHN' END AS channel
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    amps AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS event_id,
             'EV' AS network,
             'S' || CAST(user_id % 5 AS VARCHAR) AS station,
             '' AS location,
             CASE WHEN event_id % 4 = 0 THEN 'HHZ' ELSE 'HHN' END AS channel,
             value AS generic_amplitude,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE 'smi:local/f' || CAST(event_id % 4 AS VARCHAR) END AS filter_id,
             'p' || CAST(CASE WHEN event_id % 5 = 0 THEN event_id * 1000 + 7
                              ELSE event_id END AS VARCHAR) AS pick_id,
             CASE WHEN value > 200 THEN 'rejected' END AS evaluation_status,
             (event_id % 7) <> 0 AS has_time_window,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE epoch_ns(ts) + (CASE WHEN event_id % 3 = 0 THEN 0 ELSE 1 END)
             END AS reference_time
      FROM events WHERE event_type = 'purchase'
    ),
    nslc AS (SELECT *, network || '.' || station || '.' || location || '.' || channel AS seed_id FROM amps),
    pnslc AS (SELECT *, network || '.' || station || '.' || location || '.' || channel AS seed_id FROM picks)
    SELECT 'amp_above_limit' AS rule, event_id, seed_id
    FROM nslc WHERE generic_amplitude > 150.0
    UNION ALL
    SELECT 'amp_bad_filter', event_id, seed_id
    FROM nslc
    WHERE filter_id IS NULL
       OR filter_id NOT IN ('smi:local/f0', 'smi:local/f1', 'smi:local/f2')
    UNION ALL
    SELECT 'amp_time_mismatch', a.event_id, a.seed_id
    FROM nslc a LEFT JOIN picks p ON a.pick_id = p.resource_id
    WHERE a.has_time_window
      AND (a.evaluation_status IS NULL OR a.evaluation_status <> 'rejected')
      AND (a.reference_time IS NULL OR p.time IS NULL
           OR a.reference_time <> p.time)
    UNION ALL
    SELECT 'amp_pick_on_z', event_id, seed_id
    FROM pnslc
    WHERE (evaluation_status IS NULL OR evaluation_status <> 'rejected')
      AND phase_hint IN ('AML', 'IAML') AND channel LIKE '%Z'
"""


def q_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assign + probe (ANN scale path) with nprobe = n_clusters: every
    inverted list is scanned, so the result is exactly brute-force top-k —
    the invariant that makes the approximate structure oracle-checkable."""
    from obsplus_spark.operators.similarity import ivf_assign, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    assignments, centroids = ivf_assign(
        emb, n_clusters=4, refine_iterations=0, folded=True
    )
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(assignments, centroids, queries, k=8, nprobe=4)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_IVF = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id >= 5 AND vec_id < 10
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    s AS (
      SELECT query_id, vec_id,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v CROSS JOIN q
    ),
    r AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 8
"""


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over label blocks: per-block
    gram matrix via an Arrow-batched pandas UDF (the dense-similarity
    scale shape — one BLAS matmul per block, one shuffle on the block
    key)."""
    from obsplus_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup(emb, threshold=0.33, block_col="label")
    return out.select(
        "id1", "id2", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


_SQL_EMBED_ND = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    p AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             coalesce(list_dot_product(a.ev, b.ev)
               / nullif(sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)), 0), 0) AS c
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id1, id2, round(c, 6) AS cosine_sim
    FROM p WHERE c >= 0.33
"""


# ---------------------------------------------------------------------------
# dateline oracle needs the haversine fragment from the geo module
# ---------------------------------------------------------------------------


def _geo_oracles() -> dict[str, str]:
    from obsplus_spark.functions.geo import M_PER_DEG, bounding_box, haversine_sql

    box = bounding_box(_GEO_POINT[0], _GEO_POINT[1], _GEO_MAXR_DEG, 1.2)
    hav_c = haversine_sql(str(_GEO_POINT[0]), str(_GEO_POINT[1]), "latitude", "longitude")
    radius = f"""
        WITH geo AS ({_CUST_GEO_SQL}),
        boxed AS (
          SELECT * FROM geo
          WHERE latitude > {box['minlatitude']} AND latitude < {box['maxlatitude']}
            AND longitude > {box['minlongitude']} AND longitude < {box['maxlongitude']}
        ),
        dist AS (SELECT c_custkey, {hav_c} AS distance_m FROM boxed)
        SELECT c_custkey, round(distance_m, 3) AS distance_m
        FROM dist
        WHERE distance_m > {2.0 * M_PER_DEG} AND distance_m < {_GEO_MAXR_DEG * M_PER_DEG}
    """
    hav_sc = haversine_sql("s.latitude", "s.longitude", "c.latitude", "c.longitude")
    knn = f"""
        WITH s AS ({_SUPP_GEO_SQL}), c AS ({_CUST_GEO_SQL}),
        d AS (
          SELECT s.s_suppkey, c.c_custkey, {hav_sc} AS distance_m
          FROM s CROSS JOIN c
        ),
        r AS (
          SELECT s_suppkey, c_custkey, distance_m,
                 row_number() OVER (PARTITION BY s_suppkey
                                    ORDER BY distance_m, c_custkey) AS rank
          FROM d
        )
        SELECT s_suppkey, c_custkey, round(distance_m, 3) AS distance_m, rank
        FROM r WHERE rank <= 3
    """
    dateline = f"""
        WITH geo AS ({_CUST_GEO_SQL})
        SELECT c_custkey, latitude, longitude
        FROM geo
        WHERE (CASE WHEN (longitude % 360.0 + 360.0) % 360.0 > 180.0
                    THEN (longitude % 360.0 + 360.0) % 360.0 - 360.0
                    ELSE (longitude % 360.0 + 360.0) % 360.0 END > 170.0
            OR CASE WHEN (longitude % 360.0 + 360.0) % 360.0 > 180.0
                    THEN (longitude % 360.0 + 360.0) % 360.0 - 360.0
                    ELSE (longitude % 360.0 + 360.0) % 360.0 END < -170.0)
          AND latitude > 0
    """
    return {
        "radius_search": radius,
        "spatial_knn": knn,
        "dateline_box": dateline,
    }


# ---------------------------------------------------------------------------
# approximate sketches (HLL rollup, KLL quantiles, Bloom join pruning).
# Estimates are implementation-specific, so each query emits EXACT values
# plus a deterministic sketch-within-tolerance boolean — byte-stable
# against the ANSI oracle while executing the sketch path end-to-end.
# ---------------------------------------------------------------------------


def q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL rollup (the hypertable pattern): daily per-type user
    sketches union into per-type estimates without rescanning raw rows;
    checked against the exact distinct count at ≤5% relative error."""
    from obsplus_spark.operators.sketches import (
        hll_estimate,
        hll_partials,
        hll_rollup,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.floor(_ts_ns() / F.lit(86_400_000_000_000)).alias("_day"),
    )
    daily = hll_partials(ev, ["event_type", "_day"], "user_id", lg_k=14)
    merged = hll_rollup(daily, ["event_type"]).select(
        "event_type", hll_estimate("hll").alias("_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("hll_ok"),
    )


_SQL_HLL = """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS hll_ok
    FROM events GROUP BY event_type
"""


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style quantile sketch (percentile_approx, rank error 1/accuracy)
    per event_type, checked inside a value band around the exact quantile;
    emits the exact quantiles so the oracle is byte-stable."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
        ).alias("_apx"),
        F.expr(
            "percentile(value, array(0.495, 0.5, 0.505, 0.945, 0.95, 0.955))"
        ).alias("_ex"),
    )
    band_ok = (
        "(_apx[{i}] >= least(_ex[{lo}], _ex[{hi}])"
        " AND _apx[{i}] <= greatest(_ex[{lo}], _ex[{hi}]))"
    )
    return agg.select(
        "event_type",
        F.round(F.expr("_ex[1]"), 6).alias("exact_p50"),
        F.round(F.expr("_ex[4]"), 6).alias("exact_p95"),
        F.expr(band_ok.format(i=0, lo=0, hi=2)).alias("p50_ok"),
        F.expr(band_ok.format(i=1, lo=3, hi=5)).alias("p95_ok"),
    )


_SQL_APXQ = """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS exact_p50,
           round(quantile_cont(value, 0.95), 6) AS exact_p95,
           TRUE AS p50_ok,
           TRUE AS p95_ok
    FROM events GROUP BY event_type
"""


def q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned exact semi join: a bit_or-aggregated bitset over the
    filtered orders keys broadcasts to lineitem and drops non-matching
    rows map-side BEFORE the join; the exact semi join removes false
    positives, so the aggregate is exact (the manual twin of AQE's
    runtime bloom filter)."""
    from obsplus_spark.operators.sketches import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    kept = bloom_semi_join(
        li, o, "l_orderkey", "o_orderkey", num_bits=1 << 17, num_hashes=5
    )
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


_SQL_BLOOM = """
    SELECT l_returnflag,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# §2.3/§2.10 LSH ANN (hyperplane-sign buckets — the scale path of cosine
# search). The bucketed computation is deterministic given literal
# hyperplanes, so it is exactly SQL-expressible: the oracle is the same
# bucket-join + rank, not exact top-k (an ANN's contract is its structure).
# ---------------------------------------------------------------------------

_LSH_DIM = 64
#: 4 deterministic integer hyperplanes (values −3..3) → ≤16 buckets.
_LSH_PLANES = [
    [(((p * _LSH_DIM + d) * 37 + 13) % 7) - 3 for d in range(_LSH_DIM)]
    for p in range(4)
]


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH top-k (similarity.py cosine_topk_lsh): candidates
    restricted to the query's sign-bucket; one equi-join on the bucket
    string replaces the corpus cross join."""
    from obsplus_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_lsh(
        emb, queries, [[float(x) for x in h] for h in _LSH_PLANES], k=5
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


def _lsh_sql() -> str:
    def bucket(vec: str) -> str:
        bits = " || ".join(
            "(CASE WHEN list_dot_product({v}, {h}::DOUBLE[]) >= 0"
            " THEN '1' ELSE '0' END)".format(v=vec, h=h)
            for h in _LSH_PLANES
        )
        return f"({bits})"

    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
                 {bucket('embedding::DOUBLE[]')} AS bucket
          FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        ),
        q AS (
          SELECT vec_id AS query_id, ev AS qv, bucket
          FROM v WHERE vec_id >= 5 AND vec_id < 10
        ),
        s AS (
          SELECT q.query_id, v.vec_id,
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) AS sim
          FROM v JOIN q ON v.bucket = q.bucket
        ),
        r AS (
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM s
        )
        SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
        FROM r WHERE rank <= 5
    """


# ---------------------------------------------------------------------------
# §2.1 archive_to_sds day-rechunk kernel (pure-expression twin of the
# partitioned write — the write itself is tested in test_bank)
# ---------------------------------------------------------------------------

_SDS_SP_NS = 3_600 * NS  # one sample per hour → spans cross day boundaries
_SDS_OVL_NS = 30 * NS


def q_sds_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day re-chunk (archive_to_sds kernel, reference
    utils/waveforms.py:404-459): hour-sampled traces derived from events
    explode into UTC day windows with a 30 s leading overlap; samples trim
    per day; year/doy are the Hive partition columns."""
    from obsplus_spark.operators.waveforms import sds_day_chunks

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    n = (F.lit(1) + F.col("event_id") % 96).cast("int")
    traces = ev.select(
        "event_id",
        _ts_ns().alias("starttime"),
        (_ts_ns() + n.cast("long") * F.lit(_SDS_SP_NS)).alias("endtime"),
        F.lit(_SDS_SP_NS).alias("sampling_period"),
        F.sequence(F.lit(1).cast("long"), n.cast("long")).alias("samples"),
    )
    out = sds_day_chunks(traces, overlap_ns=_SDS_OVL_NS)
    return out.select(
        "event_id",
        F.col("year").cast("long").alias("year"),
        F.col("doy").cast("long").alias("doy"),
        "starttime",
        "endtime",
        F.size("samples").cast("long").alias("n_out"),
        F.element_at("samples", 1).alias("first_s"),
        F.element_at("samples", -1).alias("last_s"),
    )


_SQL_SDS = f"""
    WITH tr AS (
      SELECT event_id,
             (epoch_ns(ts) // 1000) * 1000 AS st,
             CAST(1 + event_id % 96 AS BIGINT) AS n
      FROM events WHERE user_id < 30
    ),
    d AS (
      SELECT event_id, st, n,
             unnest(generate_series(
               CAST(floor(st / 86400000000000.0) AS BIGINT),
               CAST(floor((st + n * {_SDS_SP_NS} - 1) / 86400000000000.0) AS BIGINT)
             )) AS day_idx
      FROM tr
    ),
    b AS (
      SELECT event_id, st, n, day_idx,
             greatest(CAST(ceil((day_idx * 86400000000000 - {_SDS_OVL_NS} - st)
                                / {_SDS_SP_NS}.0) AS BIGINT), 0) AS f,
             least(CAST(ceil(((day_idx + 1) * 86400000000000 - st)
                             / {_SDS_SP_NS}.0) AS BIGINT), n) AS l
      FROM d
    )
    SELECT event_id,
           CAST(year(make_timestamp((day_idx * 86400000000000) // 1000)) AS BIGINT) AS year,
           CAST(dayofyear(make_timestamp((day_idx * 86400000000000) // 1000)) AS BIGINT) AS doy,
           st + f * {_SDS_SP_NS} AS starttime,
           st + l * {_SDS_SP_NS} AS endtime,
           l - f AS n_out,
           f + 1 AS first_s,
           l AS last_s
    FROM b WHERE l > f
"""


# ---------------------------------------------------------------------------
# §multimodal WAV codec round trip: synth samples → encode_wav → decode_wav
# → integer-exact stats. The PCM16 quantization (trunc(s·32767)/32768) is
# exactly invertible, so the oracle recomputes the stats straight from the
# synthesis formula — the codec path is verified end-to-end, bytes never
# leave the executors.
# ---------------------------------------------------------------------------

_WAV_RATE = 8000


def q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user audio: events.value → [-1,1) samples → WAV PCM16 encode →
    decode → sum of squared int samples (exact), rms/peak derived in
    closed form (single IEEE ops — deterministic across engines).

    Uses sorted_group_apply (one Arrow stream per partition, numpy split
    at user boundaries) rather than groupBy().applyInPandas — the
    per-group harness cost of the latter (~5 ms) dwarfs the ~20 µs codec
    work for these small-and-many groups. No ordering requirement:
    quantization is elementwise and every stat is order-invariant."""
    from obsplus_spark.util import sorted_group_apply

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            (F.lit(2.0) * (F.col("value") - F.floor(F.col("value"))) - F.lit(1.0)).alias(
                "s"
            ),
        )
    )

    def _emit(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import decode_wav, encode_wav

        x = chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        payload = encode_wav(x.reshape(-1, 1), _WAV_RATE, bits=16)
        arr, rate = decode_wav(payload)
        k = np.rint(arr[:, 0] * 32768.0).astype(np.int64)  # exact int recovery
        return (
            int(user_id),
            len(k),
            rate,
            int((k * k).sum()),
            int(np.abs(k).max()) if len(k) else 0,
        )

    stats = sorted_group_apply(
        ev,
        "user_id",
        _emit,
        "user_id long, n_samples long, sample_rate int, sum_sq long, peak_k long",
    )
    return stats.select(
        "user_id",
        "n_samples",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.sqrt(F.col("sum_sq") / F.col("n_samples")).alias("_r"),
        (F.col("peak_k") / F.lit(32768.0)).alias("peak"),
    ).select(
        "user_id",
        "n_samples",
        "sample_rate",
        F.round(F.col("_r") / F.lit(32768.0), 9).alias("rms"),
        F.round("peak", 9).alias("peak"),
    )


_SQL_WAV = f"""
    WITH s AS (
      SELECT user_id,
             CAST(trunc((2.0 * (value - floor(value)) - 1.0) * 32767.0) AS BIGINT) AS k
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    g AS (
      SELECT user_id, count(*) AS n_samples, sum(k * k) AS sum_sq,
             max(abs(k)) AS peak_k
      FROM s GROUP BY user_id
    )
    SELECT user_id, n_samples, CAST({_WAV_RATE} AS BIGINT) AS sample_rate,
           round(sqrt(sum_sq / n_samples) / 32768.0, 9) AS rms,
           round(peak_k / 32768.0, 9) AS peak
    FROM g
"""


# ---------------------------------------------------------------------------
# §2.1 miniSEED round trip: build_mseed_record → parse_mseed_records on the
# executors (mapInPandas; record bytes never reach the driver); the oracle
# recomputes every header field from the synthesis formulas.
# ---------------------------------------------------------------------------

_MSEED_RATES = [20, 25, 40, 50, 100]  # all divide 1e9 → exact periods


def q_mseed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """miniSEED v2 header round trip (reference utils/mseed.py:70-112):
    deterministic per-event records (alternating endianness) serialized
    and re-parsed distributed; emits the parsed index row."""
    import pandas as pd

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            (_ts_ns() - _ts_ns() % F.lit(100_000)).alias("t100us"),
        )
    )

    def _rt(batches):
        from obsplus_spark.sources.mseed import (
            build_mseed_record,
            parse_mseed_records,
        )

        for pdf in batches:
            rows = []
            for eid, uid, t in zip(
                pdf["event_id"], pdf["user_id"], pdf["t100us"]
            ):
                eid, uid, t = int(eid), int(uid), int(t)
                rec = build_mseed_record(
                    network=f"N{uid % 10}",
                    station=f"S{eid % 1000}",
                    location="00",
                    channel="HH" + "ZNE"[eid % 3],
                    start_ns=t,
                    n_samples=100 + eid % 400,
                    sample_rate=_MSEED_RATES[eid % 5],
                    big_endian=(eid % 2 == 0),
                )
                for row in parse_mseed_records(rec, path=""):
                    rows.append(
                        {
                            "event_id": eid,
                            "network": row["network"],
                            "station": row["station"],
                            "location": row["location"],
                            "channel": row["channel"],
                            "starttime": row["starttime"],
                            "endtime": row["endtime"],
                            "sampling_period": row["sampling_period"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "event_id",
                    "network",
                    "station",
                    "location",
                    "channel",
                    "starttime",
                    "endtime",
                    "sampling_period",
                ],
            )

    return ev.mapInPandas(
        _rt,
        "event_id long, network string, station string, location string,"
        " channel string, starttime long, endtime long, sampling_period long",
    )


_SQL_MSEED = """
    WITH p AS (
      SELECT event_id,
             'N' || (user_id % 10) AS network,
             'S' || (event_id % 1000) AS station,
             '00' AS location,
             'HH' || substr('ZNE', CAST(event_id % 3 AS INT) + 1, 1) AS channel,
             epoch_ns(ts) - epoch_ns(ts) % 100000 AS starttime,
             100 + event_id % 400 AS nsamp,
             CAST(1000000000 / ([20, 25, 40, 50, 100])[CAST(event_id % 5 AS INT) + 1] AS BIGINT)
               AS sampling_period
      FROM events WHERE user_id < 10
    )
    SELECT event_id, network, station, location, channel, starttime,
           starttime + (nsamp - 1) * sampling_period AS endtime,
           sampling_period
    FROM p
"""


# ---------------------------------------------------------------------------
# multimodal image path: PPM (P5) + BMP (24-bit) codec round trip, nearest
# resize, and the deterministic feature extractor — the image twin of
# wav_roundtrip. Pixel bytes derive from event ids, so the oracle
# recomputes every stat from the synthesis formula while the engine's
# numbers crossed encode→decode→resize→features on executors.
# ---------------------------------------------------------------------------


def q_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image codec round trip per user: sorted per-user bytes become a
    1×n grayscale PPM and a 1×n×3 BMP, decode back, resize to 1×8
    (nearest), and run image_features; all emitted stats are exact
    integers or single-division floats. Packs (event_id, byte) into one
    int64 so the group kernel can sort deterministically."""
    from obsplus_spark.util import sorted_group_apply

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            F.col("event_id") * 256 + (F.col("event_id") * 37 + 11) % 256
        ).alias("pk"),
    )

    def _emit(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import (
            decode_bmp,
            decode_ppm,
            encode_bmp,
            encode_ppm,
            image_features,
            resize_nearest,
        )

        x = np.sort(
            chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        )
        b = (x % 256).astype(np.uint8)
        gray = decode_ppm(encode_ppm(b.reshape(1, -1)))
        rgb = decode_bmp(
            encode_bmp(
                np.stack([b, 255 - b, b], axis=-1).reshape(1, -1, 3)
            )
        )
        feats = image_features(gray)
        rz = resize_nearest(gray, 1, 8)
        return (
            int(user_id),
            int(gray.size),
            int(gray.sum()),
            int(gray.min()),
            int(gray.max()),
            float(feats[2]),
            int(rgb[:, :, 1].sum()),
            int(rz.sum()),
        )

    return sorted_group_apply(
        ev,
        "user_id",
        _emit,
        "user_id long, n_px long, sum_b long, min_b long, max_b long,"
        " mean_ch double, inv_sum long, resized_sum long",
    )


_SQL_PPM = """
    WITH base AS (
      SELECT user_id,
             (event_id * 37 + 11) % 256 AS b,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
               AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE user_id IS NOT NULL
    ),
    g AS (
      SELECT user_id, count(*) AS n_px, CAST(sum(b) AS BIGINT) AS sum_b,
             min(b) AS min_b, max(b) AS max_b
      FROM base GROUP BY user_id
    ),
    r AS (
      SELECT b2.user_id, CAST(sum(b2.b) AS BIGINT) AS resized_sum
      FROM base b2, generate_series(0, 7) AS g2(i)
      WHERE b2.rn = (g2.i * b2.n) // 8
      GROUP BY b2.user_id
    )
    SELECT g.user_id, g.n_px, g.sum_b, g.min_b, g.max_b,
           (CAST(g.sum_b AS DOUBLE) / g.n_px) / 255.0 AS mean_ch,
           255 * g.n_px - g.sum_b AS inv_sum,
           r.resized_sum
    FROM g JOIN r USING (user_id)
"""


# ---------------------------------------------------------------------------
# §2.1 CSV codec round trip: the readers.read_csv semantics exercised fully
# in-plan (to_csv ↔ from_csv are the same Univocity codec the file source
# uses), including quoting of separator-bearing fields. JVM-side, no UDF.
# ---------------------------------------------------------------------------

_CSV_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, value double,"
    " memo string"
)


def q_csv_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip (reference bank CSV index I/O, utils/pd.py readers):
    rows serialize to CSV lines (quoted memo carries the separator) and
    parse back through the declared schema; any quoting/typing defect
    breaks the value hash. Oracle is the identity projection."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    rec = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.concat(
            F.col("event_type"),
            F.lit(","),
            F.col("user_id").cast("string"),
        ).alias("memo"),
    )
    line = F.to_csv(F.struct(*[F.col(c) for c in rec.columns]))
    return (
        rec.select(line.alias("_csv"))
        .select(F.from_csv("_csv", _CSV_SCHEMA).alias("r"))
        .select("r.*")
    )


_SQL_CSV_RT = """
    SELECT event_id, user_id, event_type, value,
           event_type || ',' || CAST(user_id AS VARCHAR) AS memo
    FROM events WHERE event_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# §2.1 QuakeML round trip: nested trees → <event> XML (tree_to_quakeml) →
# parse_quakeml on executors → flattened picks + event-level fields. The
# serializer/parser pair is the EventBank QuakeML ingest path
# (reference bank/eventbank.py:267-327 via obspy read_events).
# ---------------------------------------------------------------------------


def q_quakeml_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuakeML XML round trip across EVERY branch the engine carries: the
    rich nested tree (origins + arrivals/quality/uncertainty, magnitudes,
    full picks, amplitudes, station magnitudes, focal mechanisms,
    event-level creation info) serializes to QuakeML and re-parses
    distributed, then flattens in ONE pass: amplitude rows exploded
    alongside in-row arrival aggregates over the PREFERRED origin (the
    fallback chain crosses the codec too), station-magnitude sums,
    focal-mechanism counts and event-level fields. ns times via
    ISO-8601, floats via shortest-repr; any field the codec loses or
    mangles breaks the hash. (The dedicated *_flat queries exercise the
    extractor functions themselves.)"""
    from obsplus_spark.sources.quakeml import quakeml_to_tree, tree_to_quakeml

    tree = _rich_tree(spark, sf_dir).filter(
        # %25 cohort: the XML codec is per-row Python (the honest cost of
        # a text serialization format) — a fifth of the focal-mechanism
        # users fully covers every branch while keeping the bench row
        # count bounded
        "CAST(substr(event_id, 2) AS BIGINT) % 25 = 0"
    )
    xml = tree_to_quakeml(tree)
    rt = quakeml_to_tree(
        xml.selectExpr(
            "event_id AS path", "encode(quakeml, 'UTF-8') AS content"
        )
    )
    # ONE pass over the round-tripped frame: the amplitude explode and
    # every aggregate (arrival counts/sums over the PREFERRED origin,
    # station-magnitude sums, focal-mechanism counts, event-level
    # fields) are in-row array expressions — a multi-branch join
    # formulation would re-execute the Python XML codec once per
    # reference (measured 2.4 s vs 0.9 s at sf0.1)
    from obsplus_spark.util import sql_over

    return sql_over(
        {"rt": rt},
        """
        WITH b AS (
          SELECT *,
            CASE WHEN size(filter(origins,
                     o -> o.resource_id = preferred_origin_id)) > 0
                 THEN element_at(filter(origins,
                     o -> o.resource_id = preferred_origin_id), 1)
                 WHEN size(origins) > 0 THEN element_at(origins, -1)
            END AS _po
          FROM {rt}
        ),
        c AS (
          SELECT event_id,
                 coalesce(_po.time,
                          array_min(transform(picks, p -> p.time)))
                   AS event_time,
                 author AS ev_author, version, event_type,
                 size(focal_mechanisms) AS n_fm,
                 CASE WHEN size(coalesce(_po.arrivals, array())) > 0
                      THEN CAST(size(_po.arrivals) AS BIGINT)
                 END AS n_arr,
                 CASE WHEN size(coalesce(_po.arrivals, array())) > 0
                      THEN aggregate(_po.arrivals, 0.0D,
                                     (acc, a) -> acc + a.azimuth)
                 END AS sum_azimuth,
                 CASE WHEN size(coalesce(_po.arrivals, array())) > 0
                      THEN round(aggregate(_po.arrivals, 0.0D,
                                 (acc, a) -> acc + a.distance), 6)
                 END AS sum_distance,
                 CASE WHEN size(coalesce(station_magnitudes, array())) > 0
                      THEN round(aggregate(station_magnitudes, 0.0D,
                                 (acc, s) -> acc + s.mag), 6)
                 END AS sum_sm_mag,
                 amplitudes
          FROM b
        )
        SELECT event_id, event_time,
               a.resource_id, a.generic_amplitude, a.unit, a.period,
               a.snr, a.pick_id, a.reference, a.time_begin, a.time_end,
               a.evaluation_status, a.creation_time, a.author,
               concat_ws('.', a.network, a.station, a.location, a.channel)
                 AS seed_id,
               ev_author, version, event_type, n_fm, n_arr,
               sum_azimuth, sum_distance, sum_sm_mag
        FROM c LATERAL VIEW explode(amplitudes) _amp AS a
        """,
    )


_SQL_QML_RT = f"""
WITH {_D_PREF},
arr AS (
  SELECT user_id AS uid,
         count(CASE WHEN event_id % 3 <> 0 THEN 1 END) AS n_arr_all,
         sum(CASE WHEN event_id % 3 <> 0
             THEN CAST(event_id % 360 AS DOUBLE) END) AS sum_az_all,
         round(sum(CASE WHEN event_id % 3 <> 0
               THEN (event_id % 100) / 10.0 END), 6) AS sum_dist_all,
         round(sum(CASE WHEN event_id % 4 = 0
               THEN (event_id % 60) / 10.0 END), 6) AS sum_sm_mag
  FROM events GROUP BY user_id
)
SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
       {_D_EVTIME} AS event_time,
       'amp' || CAST(e.event_id AS VARCHAR) AS resource_id,
       e.value AS generic_amplitude,
       'm/s' AS unit,
       (e.event_id % 20) / 10.0 AS period,
       (e.event_id % 30) / 3.0 AS snr,
       'p' || CAST(e.event_id AS VARCHAR) AS pick_id,
       epoch_ns(e.ts) AS reference,
       CAST(0.0 AS DOUBLE) AS time_begin,
       CAST(e.event_id % 5 AS DOUBLE) AS time_end,
       CASE WHEN e.event_id % 8 = 0 THEN 'confirmed'
            ELSE CAST(NULL AS VARCHAR) END AS evaluation_status,
       epoch_ns(e.ts) + 3000 AS creation_time,
       'an' || CAST(e.user_id % 3 AS VARCHAR) AS author,
       {_D_SEED} AS seed_id,
       'auth' || CAST(e.user_id % 4 AS VARCHAR) AS ev_author,
       'v' || CAST(e.user_id % 3 AS VARCHAR) AS version,
       'earthquake' AS event_type,
       CASE WHEN e.user_id % 10 = 0 THEN 2 ELSE 1 END AS n_fm,
       CASE WHEN (e.user_id % 7 <> 0 AND e.user_id % 2 = 0) THEN NULL
            ELSE NULLIF(a.n_arr_all, 0) END AS n_arr,
       CASE WHEN (e.user_id % 7 <> 0 AND e.user_id % 2 = 0) THEN NULL
            ELSE a.sum_az_all END AS sum_azimuth,
       CASE WHEN (e.user_id % 7 <> 0 AND e.user_id % 2 = 0) THEN NULL
            ELSE a.sum_dist_all END AS sum_distance,
       a.sum_sm_mag
FROM events e
JOIN pref p ON e.user_id = p.uid
JOIN arr a ON e.user_id = a.uid
WHERE e.user_id % 25 = 0 AND e.event_id % 4 = 0
"""


# ---------------------------------------------------------------------------
# §2.1 StationXML ingest: documents built with JVM string expressions (the
# export side is pure SQL — no Python until the parse under test), parsed
# by parse_stationxml into the flat channel index (operators/stations.py
# input shape; reference utils/stations).
# ---------------------------------------------------------------------------


def q_stationxml_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StationXML round trip: per-nation documents (Network→Station→
    Channel with lat/lon/elevation/epochs) assembled in-plan, parsed
    distributed back to channel rows; ISO epochs cross the codec, odd
    nations carry open end epochs (null end_date)."""
    from obsplus_spark.sources.quakeml import stationxml_to_df

    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    start_s = (F.lit(1_600_000_000) + key * 3600).cast("long")
    iso = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    end_attr = F.when(
        key % 2 == 0,
        F.concat(
            F.lit(' endDate="'),
            F.date_format(F.timestamp_seconds(start_s + 2_592_000), iso),
            F.lit('"'),
        ),
    ).otherwise(F.lit(""))
    frag = F.concat(
        F.lit('<Station code="C'),
        key.cast("string"),
        F.lit('"><Channel code="BHZ" locationCode="" startDate="'),
        F.date_format(F.timestamp_seconds(start_s), iso),
        F.lit('"'),
        end_attr,
        F.lit("><Latitude>"),
        ((key % 180) - 90 + 0.25).cast("string"),
        F.lit("</Latitude><Longitude>"),
        (((key * 7) % 360) - 180 + 0.5).cast("string"),
        F.lit("</Longitude><Elevation>"),
        F.col("c_acctbal").cast("string"),
        F.lit("</Elevation><Depth>"),
        (key * 0.1).cast("string"),
        F.lit("</Depth><SampleRate>40.0</SampleRate>"),
        F.lit("</Channel></Station>"),
    )
    docs = (
        c.select(F.col("c_nationkey").alias("nk"), frag.alias("frag"))
        .groupBy("nk")
        .agg(F.concat_ws("", F.collect_list("frag")).alias("body"))
        .select(
            F.col("nk").cast("string").alias("path"),
            F.encode(
                F.concat(
                    F.lit('<FDSNStationXML><Network code="N'),
                    F.col("nk").cast("string"),
                    F.lit('">'),
                    F.col("body"),
                    F.lit("</Network></FDSNStationXML>"),
                ),
                "UTF-8",
            ).alias("content"),
        )
    )
    return stationxml_to_df(docs)


_SQL_STXML = """
    SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS network,
           'C' || CAST(c_custkey AS VARCHAR) AS station,
           '' AS location,
           'BHZ' AS channel,
           CAST((c_custkey % 180) - 90 AS DOUBLE) + 0.25 AS latitude,
           CAST(((c_custkey * 7) % 360) - 180 AS DOUBLE) + 0.5 AS longitude,
           c_acctbal AS elevation,
           c_custkey * CAST(0.1 AS DOUBLE) AS depth,
           CAST(40.0 AS DOUBLE) AS sample_rate,
           (1600000000 + c_custkey * 3600) * 1000000000 AS start_date,
           CASE WHEN c_custkey % 2 = 0
                THEN (1600000000 + c_custkey * 3600 + 2592000) * 1000000000
                ELSE NULL END AS end_date
    FROM customer
"""


# ---------------------------------------------------------------------------
# §2.2/§2.8 NSLC normalization pipeline: sentinel-null codes → "" →
# seed_id concat → split back → order_columns against a declared schema
# (schemas.py normalize_nslc / with_seed_id / split_seed_id /
# order_columns; reference utils/misc.py:326-376 + utils/pd.py:201-235).
# ---------------------------------------------------------------------------


def q_normalize_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-code normalization round trip: messy NSLC (nulls + every
    sentinel string) normalizes to "", concatenates to seed_id, splits
    back, and reindexes through order_columns (missing column → typed
    null, schema order)."""
    from pyspark.sql import types as T

    from obsplus_spark.schemas import (
        normalize_nslc,
        order_columns,
        split_seed_id,
        with_seed_id,
    )

    messy = _t(spark, sf_dir, "events").filter(
        F.col("event_id") % 5 == 0
    ).selectExpr(
        "event_id",
        "CASE CAST(user_id % 5 AS INT) WHEN 1 THEN 'None' WHEN 2 THEN 'nan'"
        " WHEN 3 THEN '<NA>' WHEN 4 THEN 'EV' END AS network",
        "event_type AS station",
        "CASE CAST(user_id % 3 AS INT) WHEN 0 THEN '--' WHEN 1 THEN '00'"
        " ELSE 'null' END AS location",
        "concat('u', CAST(user_id % 10 AS STRING)) AS channel",
    )
    norm = with_seed_id(normalize_nslc(messy))
    back = split_seed_id(norm.select("event_id", "seed_id"))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("seed_id", T.StringType()),
            T.StructField("network", T.StringType()),
            T.StructField("station", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("channel", T.StringType()),
            T.StructField("sample_rate", T.DoubleType()),
        ]
    )
    return order_columns(back, schema)


_SQL_NORM_SEED = """
    WITH m AS (
      SELECT event_id,
             CASE CAST(user_id % 5 AS INT)
                  WHEN 1 THEN 'None' WHEN 2 THEN 'nan'
                  WHEN 3 THEN '<NA>' WHEN 4 THEN 'EV' END AS network,
             event_type AS station,
             CASE CAST(user_id % 3 AS INT)
                  WHEN 0 THEN '--' WHEN 1 THEN '00' ELSE 'null' END AS location,
             'u' || CAST(user_id % 10 AS VARCHAR) AS channel
      FROM events WHERE event_id % 5 = 0
    ),
    n AS (
      SELECT event_id,
             CASE WHEN network IS NULL OR network IN
                    ('None','--','nan','null','NaN','<NA>')
                  THEN '' ELSE network END AS network,
             station,
             CASE WHEN location IS NULL OR location IN
                    ('None','--','nan','null','NaN','<NA>')
                  THEN '' ELSE location END AS location,
             channel
      FROM m
    )
    SELECT event_id,
           network || '.' || station || '.' || location || '.' || channel
             AS seed_id,
           network, station, location, channel,
           CAST(NULL AS DOUBLE) AS sample_rate
    FROM n
"""


# ---------------------------------------------------------------------------
# §2.10 stream_processor hook: the user's per-event Stream→Stream callback
# as grouped applyInPandas (structures/fetcher.py apply_stream_processor;
# reference fetcher.py:178-197,491-499). Rebase-to-group-min keeps the
# arithmetic IEEE-exact on both sides (min is order-independent).
# ---------------------------------------------------------------------------


def q_stream_proc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group user callback (detrend-style offset removal): each
    user's values rebase against the group minimum inside the
    applyInPandas hook — Arrow batches, group-bounded state."""
    from obsplus_spark.structures.fetcher import apply_stream_processor

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("user_id") < 60))
        .select("user_id", "event_id", "value")
    )

    def _rebase(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"] - pdf["value"].min()
        return pdf

    out = apply_stream_processor(
        ev, _rebase, "user_id long, event_id long, value double",
        keys=["user_id"],
    )
    return out.withColumnRenamed("value", "rebased")


_SQL_STREAM_PROC = """
    SELECT user_id, event_id,
           value - min(value) OVER (PARTITION BY user_id) AS rebased
    FROM events WHERE value IS NOT NULL AND user_id < 60
"""


# ---------------------------------------------------------------------------
# §2.3 availability-aware request pruning: Fetcher.event_windows builds
# origin-referenced extraction windows × station channels and drops
# requests outside the channel's operating epoch (reference
# fetcher.py:522-535) — the join-input pruning that keeps the flagship
# interval join from requesting data that cannot exist.
# ---------------------------------------------------------------------------


def q_fetcher_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-reference request windows with epoch pruning: purchases ×
    25 station channels (staggered epochs, odd stations open-ended);
    windows ±5 min around the event keep only channels whose epoch
    overlaps the window."""
    from obsplus_spark.structures.fetcher import Fetcher

    NS_DAY = 86_400 * NS
    base = F.lit(1_704_067_200 * NS)  # 2024-01-01T00:00:00Z
    ev = _t(spark, sf_dir, "events")
    events = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 7 == 0)
    ).select("event_id", _ts_ns().alias("time"))
    n = _t(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("long")
    stations = n.select(
        F.lit("EV").alias("network"),
        F.col("n_name").alias("station"),
        F.lit("").alias("location"),
        F.lit("BHZ").alias("channel"),
        (base + nk * NS_DAY).alias("start_date"),
        F.when(nk % 2 == 0, base + (nk + 20) * NS_DAY)
        .otherwise(F.lit(None).cast("long"))
        .alias("end_date"),
    )
    f = Fetcher(events, stations, waveform_index=stations)
    return f.event_windows(300 * NS, 300 * NS, reference="origin")


_SQL_FETCH_WIN = """
    WITH e AS (
      SELECT event_id, epoch_ns(ts) AS t FROM events
      WHERE event_type = 'purchase' AND user_id % 7 = 0
    ),
    s AS (
      SELECT 'EV' AS network, n_name AS station, '' AS location,
             'BHZ' AS channel,
             1704067200000000000 + n_nationkey * 86400000000000 AS start_date,
             CASE WHEN n_nationkey % 2 = 0
                  THEN 1704067200000000000
                       + (n_nationkey + 20) * 86400000000000
                  ELSE NULL END AS end_date
      FROM nation
    )
    SELECT e.event_id, s.network, s.station, s.location, s.channel,
           e.t - 300000000000 AS starttime, e.t + 300000000000 AS endtime
    FROM e CROSS JOIN s
    WHERE s.start_date < e.t + 300000000000
      AND COALESCE(s.end_date, 9223372036854775807) > e.t - 300000000000
"""


# ---------------------------------------------------------------------------
# LLM-pipeline: cluster resolution, deterministic splits, token estimation
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair set: every
    member doc labeled with its component's min doc_id — the canonical-
    document assignment step a 100 TB dedup pipeline runs after pair
    detection. Iterative min-label propagation (one groupBy per round);
    the oracle is a DuckDB WITH RECURSIVE min-label closure over the
    identical pair set."""
    from obsplus_spark.operators.dedup import dedup_clusters, near_duplicates

    docs = _t(spark, sf_dir, "documents")
    # lighter LSH parametrization than the minhash_near_dup query (8
    # lanes / 2 bands): the candidate set feeds an exact-Jaccard filter
    # either way, and this query's subject is the component resolution,
    # not LSH recall — the oracle uses the identical parametrization
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    # lazy fixed-round mode: near-dup components are star/clique shaped
    # (the seed aggregate already covers distance-1; each round adds a
    # hop). r12 guard-probe measurement: max_iterations=1 already passes
    # the runtime fixed-point guard at sf0.001 AND sf0.01 AND sf0.1
    # (labels converge at round 1); 2 shipped = one full hop of margin,
    # and an undersized bound stays LOUD (the fused guard round raises
    # at runtime rather than emitting split components), so this can
    # never silently diverge from the oracle's exact recursive closure.
    # Each dropped round saves one edge join + one agg exchange — two
    # fewer stage barriers per rep here and in the six downstream
    # eval-family queries (guide §2.4). Unlike convergence mode this
    # keeps plan construction action-free — the convergence probe's
    # per-round collects were ~2.8 s of driver time charged to every
    # plan build. A production pipeline on a graph of unknown diameter
    # should pass check_convergence=True (or lazy mode's
    # localCheckpoint chunking for bounded-depth batches).
    return dedup_clusters(pairs, max_iterations=2, check_convergence=False)


def _clusters_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    )
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor election per near-dup cluster: component resolution over
    the MinHash pair set, then keep the member with the most characters
    (ties → smallest doc_id) — the step that decides which member of each
    duplicate family enters the corpus. One id-keyed join + one
    cluster-keyed max_by aggregate on top of the cluster rounds."""
    from obsplus_spark.operators.dedup import canonical_docs, near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    return canonical_docs(
        pairs, docs, id_col="doc_id", quality_col="n_chars",
        max_iterations=2,
    )


def _canonical_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT cluster_id, doc_id AS canonical_id, best_quality, n_members
    FROM (
      SELECT l.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS n_members,
             max(d.n_chars) OVER (PARTITION BY l.cluster_id) AS best_quality
      FROM labels l JOIN documents d ON l.id = d.doc_id
    )
    WHERE rn = 1
"""


def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup components (MinHash
    pairs → min-label clusters) share one hash key, so a rewrapped copy
    can never straddle train/eval — operators/dedup.py
    leakage_safe_split. One pairs-sized left join on top of the bounded
    cluster rounds; assignment stays a per-row hash expression."""
    from obsplus_spark.operators.dedup import (
        leakage_safe_split,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    return leakage_safe_split(
        docs.select("doc_id"), pairs, max_iterations=2
    )


def _leak_safe_split_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    k AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS split_key
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
    )
    SELECT doc_id, split_key,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT *, ('0x' || substr(md5(CAST(split_key AS VARCHAR) || ''),
                                1, 8))::BIGINT % 100 AS b
      FROM k
    )
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket — stable
    across runs, engines, and data subsets (the property rand() splits
    lack). Per-row expression, no shuffle."""
    from obsplus_spark.operators.dedup import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, weights={"train": 90, "val": 5, "test": 5})


_SQL_SPLIT = """
    SELECT doc_id,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))::BIGINT
               % 100 AS b
      FROM documents
    )
"""


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic downsample: k=25 docs per (lang,
    source) class by smallest md5(id) — reproducible 'random' selection;
    compiles to WindowGroupLimit (rank inside the shuffle, no full
    per-group sort at scale)."""
    from obsplus_spark.operators.dedup import hash_downsample_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_downsample_per_group(docs, ["lang", "source"], k=25)


_SQL_BALANCED = """
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ''), doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 25
"""


def q_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token budget estimate per document: regex pre-token count
    plus subword splits for long letter runs. Scan-speed JVM expressions;
    the corpus-level token budget is the sum a training pipeline plans
    against."""
    from obsplus_spark.operators.text import token_estimate

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_estimate("text").alias("n_tokens_est")
    )


_SQL_TOKEN_EST = r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
             + coalesce(list_sum(list_transform(
                 regexp_extract_all(text, '[A-Za-z]+'),
                 w -> CAST(floor((length(w) - 1) / 4.0) AS INT))), 0)
             AS BIGINT) AS n_tokens_est
    FROM documents
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over a REAL container codec (PPMV:
    length-prefixed concatenated netpbm frames, pure stdlib): per-user
    videos synthesized from sorted event bytes (16-px 1-row frames),
    encoded, then every 3rd frame seek-sampled and reduced to stats —
    skipped frames are never decoded. Covers the frame-sample leg of the
    multimodal surface with exact integer oracle formulas."""
    from obsplus_spark.operators.multimodal import sample_video_frames
    from obsplus_spark.util import sorted_group_apply

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "user_id",
        (
            F.col("event_id") * 256 + (F.col("event_id") * 37 + 11) % 256
        ).alias("pk"),
    )

    def _make_video(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import encode_ppmv

        x = np.sort(
            chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        )
        b = (x % 256).astype(np.uint8)
        n_frames = len(b) // 16
        frames = [
            b[i * 16 : (i + 1) * 16].reshape(1, 16) for i in range(n_frames)
        ]
        return (int(user_id), encode_ppmv(frames))

    videos = sorted_group_apply(
        ev, "user_id", _make_video, "media_id long, payload binary"
    )
    return sample_video_frames(videos, every_n=3).select(
        F.col("media_id").alias("user_id"),
        "frame_idx",
        "f_sum",
        "f_min",
        "f_max",
    )


def q_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: md5-hash groups × window cumsum lay
    documents head-to-tail into 512-token context bins — the
    deterministic distributed approximation of greedy packing
    (parallelism = groups, never a global sort)."""
    from obsplus_spark.operators.text import packing_plan

    docs = _t(spark, sf_dir, "documents")
    return packing_plan(docs, context_len=512, n_groups=16)


_SQL_PACK = r"""
    WITH base AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS grp,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, grp, n_tokens,
             sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS cum_before
      FROM base
    )
    SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS bin,
           CAST(cum_before % 512 AS BIGINT) AS bin_offset
    FROM c
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-gram with the
    'eval set' (doc_id % 97 == 0), with the count of distinct shared
    n-grams — the pre-training hygiene join (broadcast benchmark digests;
    corpus rows never shuffle). Real pipelines use 8-13-grams; the
    synthetic corpus' overlapping spans are short, so n=4 here keeps the
    oracle check non-empty. Self-matches excluded from the corpus side
    so the flag means leakage, not identity."""
    from obsplus_spark.operators.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, benchmark, n=4)


_SQL_DECONTAM = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 4 THEN
               list_transform(range(1, len(w) - 2),
                 i -> array_to_string(list_slice(w, i, i + 3), ' '))
             ELSE [] END) AS g
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b ON b.s = c.s
    GROUP BY c.doc_id
"""


def q_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination: corpus docs that are document-level
    near-duplicates (MinHash-LSH candidates + exact-Jaccard verify,
    best match per doc) of the eval cohort (doc_id % 7 == 0) —
    operators/dedup.py fuzzy_decontaminate. Complements decontaminate's
    exact gram membership with the rewrapped-eval-item case; benchmark
    band rows and digest arrays broadcast, corpus never shuffles."""
    from obsplus_spark.operators.dedup import fuzzy_decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return fuzzy_decontaminate(corpus, benchmark, threshold=0.2)


def _fuzzy_decontam_sql(n_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_fuzzy_decontam: identical 38-char-extended-md5
    lane family and banding as _minhash_sql, with the corpus×benchmark
    split predicate and the per-doc best-match window."""
    rows_per_band = n_hashes // bands
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    cand AS (
      SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
      FROM banded c JOIN banded b
        ON c.band = b.band AND c.band_hash = b.band_hash
       AND c.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_id, p.bench_id, count(*) AS n_inter
      FROM cand p
      JOIN sh s1 ON s1.doc_id = p.doc_id
      JOIN sh s2 ON s2.doc_id = p.bench_id AND s2.shingle = s1.shingle
      GROUP BY p.doc_id, p.bench_id
    ),
    s AS (
      SELECT p.doc_id, p.bench_id,
             coalesce(i.n_inter, 0) AS n_inter,
             z1.n AS n_corpus, z2.n AS n_bench,
             coalesce(i.n_inter, 0)
               / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE)
               AS _jac
      FROM cand p
      LEFT JOIN inter i ON i.doc_id = p.doc_id AND i.bench_id = p.bench_id
      JOIN sizes z1 ON z1.doc_id = p.doc_id
      JOIN sizes z2 ON z2.doc_id = p.bench_id
      WHERE coalesce(i.n_inter, 0)
            / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.2
    )
    SELECT doc_id, bench_id,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_corpus AS BIGINT) AS n_corpus,
           CAST(n_bench AS BIGINT) AS n_bench,
           round(_jac, 8) AS jaccard
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY _jac DESC, bench_id
      ) AS _rk FROM s
    ) WHERE _rk = 1
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy source-overlap matrix: per source pair, the MinHash
    matching-lane estimate of shingle-set Jaccard — operators/dedup.py
    source_minhash_overlap. Lane minima are associative, so the source
    signature folds in ONE map-combinable aggregate (mergeable sketch);
    the pair matrix is dimension-sized. Complements dup_leakage's exact
    digest matrix with distribution-level overlap."""
    from obsplus_spark.operators.dedup import source_minhash_overlap

    docs = _t(spark, sf_dir, "documents")
    return source_minhash_overlap(docs)


def _source_overlap_sql(n_hashes: int = 16) -> str:
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
        for j in range(n_hashes)
    )
    return rf"""
    WITH norm AS (
      SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT source, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT source,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT source,
           {mh_cols}
      FROM (SELECT source, h || substr(h, 1, 6) AS h
            FROM (SELECT source, md5(shingle) AS h FROM sh)) hx
      GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({match_sum} AS BIGINT) AS n_lanes_match,
           round(({match_sum}) / {float(n_hashes)!r}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
"""


def q_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded contamination fraction (share of a doc's distinct
    4-grams found in the eval cohort, C4/FLAN decision rule) —
    operators/dedup.py contamination_fraction: gram-hash table built
    once (persisted), Bloom-pre-pruned broadcast semi join + in-row
    denominator, one id-keyed assembly join."""
    from obsplus_spark.operators.dedup import contamination_fraction

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_fraction(corpus, benchmark, n=4, threshold=0.05)


_SQL_CONTAM_FRAC = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 4 THEN
               list_transform(range(1, len(w) - 2),
                 i -> array_to_string(list_slice(w, i, i + 3), ' '))
             ELSE [] END) AS g
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 <> 0
    ),
    corpus_g AS (
      SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams
      FROM grams WHERE doc_id % 97 <> 0 AND len(g) > 0
    ),
    shared AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b ON b.s = c.s
      GROUP BY c.doc_id
    )
    SELECT g.doc_id, g.n_grams,
           coalesce(s.n_shared, 0) AS n_shared,
           round(coalesce(s.n_shared, 0) / CAST(g.n_grams AS DOUBLE), 6)
             AS contamination_frac,
           coalesce(s.n_shared, 0) / CAST(g.n_grams AS DOUBLE) >= 0.05
             AS contaminated
    FROM corpus_g g LEFT JOIN shared s USING (doc_id)
"""


def q_action_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user action
    streams (counts + P(next | current)) — operators/sessions.py
    action_transitions: one user-keyed exchange, in-row journey fold
    with index-sequence explode, vocabulary-sized pair aggregate,
    conditional normalizer windowed over the count frame."""
    from obsplus_spark.operators.sessions import action_transitions

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", _ts_ns().alias("t_ns")
    )
    return action_transitions(ev, k=50, tiebreak_col="event_id")


_SQL_TRANSITIONS = """
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY epoch_ns(ts), event_id) AS types
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id
    ),
    t AS (
      SELECT types[i] AS cur, types[i + 1] AS nxt
      FROM seq, UNNEST(range(1, len(types))) AS r(i)
      WHERE len(types) >= 2
    ),
    c AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY cur, nxt
    )
    SELECT cur AS cur_action, nxt AS next_action, n AS n_transitions,
           round(n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6)
             AS p_next
    FROM c
    ORDER BY n DESC, cur, nxt
    LIMIT 50
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (vowel-group syllables,
    sentence floor 1) — operators/text.py readability_scores: MAP-ONLY,
    three regexp counts + arithmetic per row."""
    from obsplus_spark.operators.text import readability_scores

    docs = _t(spark, sf_dir, "documents")
    return readability_scores(docs)


_SQL_READABILITY = r"""
    SELECT doc_id,
           n_words, n_sentences, n_syllables,
           CASE WHEN n_words = 0 THEN NULL
                ELSE round(206.835
                  - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 6)
           END AS flesch
    FROM (
      SELECT doc_id,
             CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE len(list_filter(
                              string_split_regex(trim(lower(text)),
                                                 '\s+'),
                              t -> t != '')) END
                  AS BIGINT) AS n_words,
             CAST(greatest(coalesce(len(regexp_extract_all(
                    coalesce(text, ''), '[.!?]+')), 0), 1) AS BIGINT)
               AS n_sentences,
             CAST(coalesce(len(regexp_extract_all(
                    lower(coalesce(text, '')), '[aeiouy]+')), 0)
                  AS BIGINT) AS n_syllables
      FROM documents
    )
"""


def q_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate leakage matrix (mirror-site /
    cross-crawl forensics) — operators/dedup.py cross_source_leakage:
    one digest-keyed aggregate with in-row source-set fold and pair
    expansion; nothing quadratic in documents."""
    from obsplus_spark.operators.dedup import cross_source_leakage

    docs = _t(spark, sf_dir, "documents")
    # prefix fingerprint: the synthetic corpus (like real crawls) has
    # head-duplicated near-exact copies, not byte-identical cross-source
    # texts — full-text digests find nothing at gate scale
    return cross_source_leakage(docs, prefix_tokens=16)


_SQL_DUP_LEAKAGE = r"""
    WITH d AS (
      SELECT DISTINCT
             md5(array_to_string(
                   list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     t -> t != '')[1:16],
                   ' ')) AS dig,
             source
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0
        AND source IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_digests
    FROM d a JOIN d b ON a.dig = b.dig AND a.source < b.source
    GROUP BY a.source, b.source
"""


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over the customer synthetic
    coordinates: uniform 16-bit binning per dimension + bit interleave —
    the write-layout computation behind multi-column file skipping
    (plans/layout.py). The oracle replays Spark's width_bucket formula
    closed-form and the interleave as a disjoint-bit sum."""
    from obsplus_spark.plans.layout import zorder_key

    geo = _cust_geo(spark, sf_dir).filter(F.col("c_custkey") % 7 == 0)
    return zorder_key(geo, ["latitude", "longitude"]).select(
        "c_custkey", F.col("_zkey").alias("zkey")
    )


_SQL_ZORDER = """
    WITH g AS (
      SELECT c_custkey,
             (c_custkey * 37 % 18000) / 100.0 - 90.0 AS lat,
             (c_custkey * 91 % 36000) / 100.0 - 180.0 AS lon
      FROM customer WHERE c_custkey % 7 = 0
    ),
    s AS (SELECT min(lat) AS lo1, max(lat) AS hi1,
                 min(lon) AS lo2, max(lon) AS hi2 FROM g),
    b AS (
      SELECT c_custkey,
             least(65535, greatest(0, CAST(floor((lat - lo1)
               / ((hi1 + 1e-9 - lo1) / 65536)) AS BIGINT))) AS b1,
             least(65535, greatest(0, CAST(floor((lon - lo2)
               / ((hi2 + 1e-9 - lo2) / 65536)) AS BIGINT))) AS b2
      FROM g, s
    )
    SELECT c_custkey,
           CAST(list_sum(list_transform(range(0, 16),
             i -> (((b1 >> i) & 1) << (2 * i))
                + (((b2 >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zkey
    FROM b
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@8 of a TRUE approximation (IVF nprobe=2 of 4 clusters —
    half the corpus unscanned per query) against exact brute-force top-8:
    the tuning measurement an ANN deployment runs before picking nprobe.
    The oracle replicates the full IVF structure (seed centroids, argmax
    assignment, probe ranking, in-list top-k) in SQL."""
    from obsplus_spark.operators.similarity import (
        ann_recall_at_k,
        cosine_topk,
        ivf_assign,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assignments, centroids = ivf_assign(
        emb, n_clusters=4, refine_iterations=0, folded=True
    )
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = ivf_topk(assignments, centroids, queries, k=8, nprobe=2)
    exact = cosine_topk(emb, queries, k=8)
    return ann_recall_at_k(approx, exact, k=8)


_SQL_ANN_RECALL = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    q AS (SELECT vec_id AS query_id, ev AS qv
          FROM v WHERE vec_id >= 5 AND vec_id < 10),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(q.qv, c.c)
               / nullif(c.nrm, 0), 0) DESC, c.cluster) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC,
                 a.vec_id) AS rn
        FROM probe p
        JOIN asg a ON a.cluster = p.cluster
        JOIN v ON v.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
      ) WHERE rn <= 8
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC,
                 v.vec_id) AS rn
        FROM v CROSS JOIN q
      ) WHERE rn <= 8
    )
    , hits AS (
      SELECT a.query_id, count(*) AS n_hits
      FROM approx a
      JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY a.query_id
    )
    SELECT qq.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 8.0, 6) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM approx) qq
    LEFT JOIN hits h ON h.query_id = qq.query_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (top-bigram mass, repeated-bigram
    fraction) as map-only in-row array expressions: run-length max over
    the sorted per-row bigram array — zero shuffles, no bigram ever
    leaves the scan."""
    from obsplus_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs)


_SQL_REPETITION = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN
               list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])
             ELSE [] END AS bigrams
      FROM toks
    ),
    ex AS (
      SELECT doc_id, u.b FROM bg, unnest(bigrams) AS u(b)
    ),
    per AS (
      SELECT doc_id, b, count(*) AS n FROM ex GROUP BY doc_id, b
    ),
    agg AS (
      SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_n,
             sum(n - 1) AS dups
      FROM per GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(a.top_n, 0) AS BIGINT) AS top_bigram_n,
           round(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                      THEN a.top_n / CAST(a.n_bigrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS top_bigram_frac,
           round(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                      THEN a.dups / CAST(a.n_bigrams AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_bigram_frac
    FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4× ANN memory cut): per-
    vector max-abs scale, explicit half-up rounding (portable across
    engine round() conventions). Map-only at any scale; the oracle
    replays the same formulas with DuckDB list lambdas."""
    from obsplus_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    return q.selectExpr(
        "vec_id",
        "CAST(size(codes) AS BIGINT) AS n_dims",
        "CAST(aggregate(codes, 0, (a, c) -> a + c) AS BIGINT) AS sum_codes",
        "CAST(aggregate(codes, 0, (a, c) -> a + abs(c)) AS BIGINT)"
        " AS sum_abs_codes",
        "CAST(array_max(codes) AS BIGINT) AS max_code",
        "round(scale, 9) AS scale",
    )


_SQL_QUANTIZE = """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS amax,
             embedding
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    c AS (
      SELECT vec_id, amax,
             CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / amax * 127.0 + 0.5)
                              AS INT)) END AS codes
      FROM q
    )
    SELECT vec_id,
           CAST(len(codes) AS BIGINT) AS n_dims,
           CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS sum_codes,
           CAST(coalesce(list_sum(list_transform(codes, c -> abs(c))), 0)
             AS BIGINT) AS sum_abs_codes,
           CAST(list_max(codes) AS BIGINT) AS max_code,
           round(amax / 127.0, 9) AS scale
    FROM c
"""


def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style pretraining quality rules as per-doc flag columns
    (word-count bounds, mean word length, symbol ratio, duplicate-line
    mass) — pure scan-speed expressions; the oracle replays every formula
    in SQL."""
    from obsplus_spark.operators.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    return quality_filter(docs)


_SQL_QUALITY = r"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
             length(regexp_replace(text, '\s', '', 'g')) AS nws_chars,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
               AS n_sym,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> length(x) > 0) AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0
                  THEN nws_chars / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
             CASE WHEN n_chars > 0
                  THEN n_sym / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS symr,
             coalesce(list_sum(list_transform(lines,
               x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1
                         THEN length(x) ELSE 0 END)), 0) AS dup_chars,
             coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
               AS line_chars
      FROM base
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 6) AS mean_word_len,
           round(symr, 6) AS symbol_ratio,
           round(CASE WHEN line_chars > 0
                      THEN dup_chars / CAST(line_chars AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_line_ratio,
           n_words BETWEEN 5 AND 100000 AS ok_word_count,
           mwl BETWEEN 2.0 AND 12.0 AS ok_mean_word_len,
           symr <= 0.3 AS ok_symbol_ratio,
           (CASE WHEN line_chars > 0
                 THEN dup_chars / CAST(line_chars AS DOUBLE)
                 ELSE 0.0 END) <= 0.5 AS ok_dup_lines,
           (n_words BETWEEN 5 AND 100000) AND (mwl BETWEEN 2.0 AND 12.0)
             AND symr <= 0.3
             AND (CASE WHEN line_chars > 0
                       THEN dup_chars / CAST(line_chars AS DOUBLE)
                       ELSE 0.0 END) <= 0.5 AS keep
    FROM m
"""


_SQL_VIDEO = """
    WITH base AS (
      SELECT user_id,
             event_id * 256 + (event_id * 37 + 11) % 256 AS pk
      FROM events WHERE user_id < 40
    ),
    ord AS (
      SELECT user_id, pk % 256 AS b,
             row_number() OVER (PARTITION BY user_id ORDER BY pk) - 1 AS pos
      FROM base
    ),
    framed AS (
      SELECT user_id, CAST(pos // 16 AS BIGINT) AS frame_idx,
             sum(b) AS f_sum, min(b) AS f_min, max(b) AS f_max,
             count(*) AS n
      FROM ord GROUP BY user_id, pos // 16
    )
    SELECT user_id, frame_idx,
           CAST(f_sum AS BIGINT) AS f_sum,
           CAST(f_min AS BIGINT) AS f_min,
           CAST(f_max AS BIGINT) AS f_max
    FROM framed WHERE n = 16 AND frame_idx % 3 = 0
"""


# ---------------------------------------------------------------------------
# §2.12 context-window chunking / corpus vocabulary / PII scrub — new r5
# ---------------------------------------------------------------------------


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window document chunking with overlap (32-token
    chunks, 8-token overlap) — the preprocessing step before
    context-window training or embedding long corpora. Map-only: one
    token-array pass + posexplode over the stride starts; no shuffle at
    any corpus size."""
    from obsplus_spark.operators.text import chunk_text

    docs = _t(spark, sf_dir, "documents")
    return chunk_text(docs, chunk_tokens=32, overlap_tokens=8)


_SQL_CHUNK = r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR length(trim(text)) = 0
                  THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0,
               greatest(CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT), 0)
                 * 24 + 1, 24)) AS st
      FROM t
    )
    SELECT doc_id,
           st // 24 AS chunk_idx,
           CAST(least(len(toks) - st, 32) AS BIGINT) AS n_chunk_tokens,
           -- coalesce: DuckDB array_to_string([]) is NULL where
           -- Spark concat_ws is '' (empty chunk of a blank doc)
           coalesce(array_to_string(list_slice(toks, st + 1, st + 32),
                                    ' '), '') AS chunk_text
    FROM s
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy + type-token ratio (the
    information-density quality score) — operators/text.py
    token_entropy: MAP-ONLY, the (token → count) pairs come from the
    shared in-row run-length aggregation and the entropy identity
    ``log2(n) − Σ c·log2(c)/n`` folds over that array without any
    explode leaving the row."""
    from obsplus_spark.operators.text import token_entropy

    docs = _t(spark, sf_dir, "documents")
    return token_entropy(docs)


_SQL_TOKEN_ENTROPY = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               t -> t != '')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token
    ),
    s AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             round(count(*) / CAST(sum(c) AS DOUBLE), 6)
               AS type_token_ratio,
             round(log2(CAST(sum(c) AS DOUBLE))
                   - sum(c * log2(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE), 6) AS entropy_bits
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.n_types, 0) AS n_types,
           s.type_token_ratio,
           s.entropy_bits
    FROM documents d LEFT JOIN s USING (doc_id)
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trigram diversity (distinct-gram ratio + top-gram
    share) — the synthetic-collapse / template-recycling detector;
    operators/text.py ngram_diversity: in-row gram formation, one
    (source, gram)-keyed map-combinable aggregate, one source rollup."""
    from obsplus_spark.operators.text import ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    return ngram_diversity(docs, n=3)


_SQL_NGRAM_DIVERSITY = r"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT source, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
      FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3
    ),
    c AS (
      SELECT source, gram, CAST(count(*) AS BIGINT) AS c
      FROM g GROUP BY source, gram
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_ngrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS distinct_ratio,
           round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_share
    FROM c GROUP BY source
"""


def q_prefix_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix template clusters — operators/text.py
    prefix_template_clusters: md5 of each doc's first-8-token prefix,
    ONE digest-keyed map-combined aggregate + TakeOrdered; the
    boilerplate-injection detector that catches template recycling
    ACROSS sources where per-doc dedup misses diverging bodies."""
    from obsplus_spark.operators.text import prefix_template_clusters

    docs = _t(spark, sf_dir, "documents")
    return prefix_template_clusters(docs, k=8, min_docs=2, top=100)


_SQL_PREFIX_TEMPLATES = r"""
    WITH d AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, text,
             array_to_string(list_slice(toks, 1, 8), ' ') AS prefix
      FROM d WHERE len(toks) >= 8
    ),
    g AS (
      SELECT md5(prefix) AS prefix_hash, min(prefix) AS prefix,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(sum(length(text)) AS BIGINT) AS total_chars,
             min(doc_id) AS example_doc
      FROM p GROUP BY md5(prefix)
    )
    SELECT * FROM g WHERE n_docs >= 2
    ORDER BY n_docs DESC, prefix_hash
    LIMIT 100
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency fit — operators/text.py
    zipf_slope: (source, token) count aggregate, rank window, closed-
    form OLS over the top-100 ranks; natural shards sit near slope −1,
    collapsed or synthetic shards drift flat/cliffed."""
    from obsplus_spark.operators.text import zipf_slope

    docs = _t(spark, sf_dir, "documents")
    return zipf_slope(docs, top_ranks=100)


_SQL_ZIPF = r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               t -> t != '')) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
      FROM tok GROUP BY source, tok
    ),
    r AS (
      SELECT * FROM (
        SELECT source,
               row_number() OVER (PARTITION BY source
                   ORDER BY freq DESC, tok) AS rk,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM c
      ) WHERE rk <= 100
    ),
    t AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             sum(ln(rk)) AS sx, sum(y) AS sy,
             sum(ln(rk) * ln(rk)) AS sxx, sum(ln(rk) * y) AS sxy,
             sum(y * y) AS syy
      FROM r GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((n * sxy - sx * sy)
                           / (n * sxx - sx * sx), 6) END AS slope,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((sy - sx * (n * sxy - sx * sy)
                           / (n * sxx - sx * sx)) / n, 6)
                END AS intercept,
           CASE WHEN n < 2 OR n * sxx - sx * sx = 0
                     OR n * syy - sy * sy = 0
                THEN CAST(NULL AS DOUBLE)
                ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                END AS r2
    FROM t
"""


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition (entropy + dominant share) —
    operators/text.py source_language_mix: two map-combined
    aggregates, NULL tags folded into 'und' by contract."""
    from obsplus_spark.operators.text import source_language_mix

    docs = _t(spark, sf_dir, "documents")
    return source_language_mix(docs)


_SQL_LANG_MIX = """
    WITH c AS (
      SELECT source, coalesce(lang, 'und') AS lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS chars
      FROM documents GROUP BY source, coalesce(lang, 'und')
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_langs,
           first(lang ORDER BY n DESC, lang) AS top_lang,
           round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_share,
           round(log2(CAST(sum(n) AS DOUBLE))
                 - sum(n * log2(CAST(n AS DOUBLE)))
                   / CAST(sum(n) AS DOUBLE), 6) AS lang_entropy_bits
    FROM c GROUP BY source
"""


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outlier screen — operators/similarity.py
    embedding_outliers: (label, dim)-keyed map-combined centroid
    aggregate (the explode collapses before the exchange), broadcast
    centroids, map-only cosine scoring; centroids 6-dp rounded before
    the dot so the flag is engine-portable."""
    from obsplus_spark.operators.similarity import embedding_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, threshold=0.2)


_SQL_EMBED_OUTLIERS = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    ex AS (
      SELECT label, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
      FROM v
    ),
    cent AS (
      SELECT label, pos, round(avg(x), 6) AS m
      FROM ex GROUP BY label, pos
    ),
    cvec AS (
      SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label
    )
    SELECT vec_id, label, cos_centroid, cos_centroid < 0.2 AS is_outlier
    FROM (
      SELECT v.vec_id, v.label,
             round(coalesce(list_dot_product(ev, c)
               / nullif(sqrt(list_dot_product(ev, ev))
                        * sqrt(list_dot_product(c, c)), 0), 0), 6)
               AS cos_centroid
      FROM v JOIN cvec USING (label)
    )
"""


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid linear resampling of per-user event values —
    operators/sessions.py resample_linear: one user-keyed lead()
    window, grid points exploded in-row from an integer sequence
    (cheap explode input per the r8 convention), arithmetic
    interpolation on the exploded row. Grid = global 6-hour epoch
    multiples so resampled keys align across the corpus."""
    from obsplus_spark.operators.sessions import resample_linear

    ev = _t(spark, sf_dir, "events")
    return resample_linear(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        step=21_600_000_000_000,
    )


_SQL_RESAMPLE = """
    WITH pts AS (
      SELECT user_id AS key, epoch_ns(ts) AS t,
             CAST(value AS DOUBLE) AS v,
             lead(epoch_ns(ts)) OVER w AS t2,
             lead(CAST(value AS DOUBLE)) OVER w AS v2
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY epoch_ns(ts), CAST(value AS DOUBLE))
    ),
    seg AS (
      SELECT key, t, v, t2, v2,
             CASE WHEN t2 IS NULL THEN
                    CASE WHEN t % 21600000000000 = 0
                         THEN [t // 21600000000000] ELSE [] END
                  WHEN ((t + 21600000000000 - 1) // 21600000000000)
                       * 21600000000000 >= t2 THEN []
                  ELSE range((t + 21600000000000 - 1) // 21600000000000,
                             (t2 - 1) // 21600000000000 + 1)
             END AS gidx
      FROM pts
    )
    SELECT key, grid_ts,
           round(CASE WHEN t2 IS NULL OR grid_ts = t THEN v
                      ELSE v + (v2 - v) * (grid_ts - t)
                           / CAST(t2 - t AS DOUBLE)
                 END, 6) AS value
    FROM (
      SELECT key, t, v, t2, v2, unnest(gidx) * 21600000000000 AS grid_ts
      FROM seg
    )
    -- the ORDER BY is a fetch-path re-batcher, not semantics (the
    -- compare sorts anyway): unnest emits one tiny output chunk per
    -- input row here, and DuckDB's Python fetchall pays ~37 s of
    -- per-chunk overhead on 600k near-empty vectors; the sort
    -- re-chunks the 175k result rows densely (0.2 s total)
    ORDER BY key, grid_ts
"""


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/eval split with a 7-day embargo band —
    operators/dedup.py temporal_split: pure per-row expression (no
    shuffle), NULL timestamps land in the embargo class by contract."""
    from obsplus_spark.operators.dedup import temporal_split

    ev = _t(spark, sf_dir, "events")
    out = temporal_split(
        ev,
        train_end_ns=1_709_251_200_000_000_000,  # 2024-03-01 UTC
        embargo_ns=7 * 86_400_000_000_000,
    )
    return out.select("event_id", "user_id", "split")


_SQL_TEMPORAL_SPLIT = """
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN 'embargo'
                WHEN epoch_ns(ts) < 1709251200000000000 THEN 'train'
                WHEN epoch_ns(ts) < 1709251200000000000
                     + 7 * 86400000000000 THEN 'embargo'
                ELSE 'eval' END AS split
    FROM events
"""


def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (every row of a user in one
    fold) — operators/dedup.py group_kfold: the shared md5-uint32
    recipe over the GROUP key mod k; map-only, subset-consistent."""
    from obsplus_spark.operators.dedup import group_kfold

    ev = _t(spark, sf_dir, "events")
    return group_kfold(ev, "user_id", k=5).select(
        "event_id", "user_id", "fold"
    )


_SQL_GROUP_KFOLD = """
    SELECT event_id, user_id,
           CASE WHEN user_id IS NULL THEN CAST(NULL AS BIGINT)
                ELSE ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ''),
                      1, 8))::BIGINT % 5 END AS fold
    FROM events
"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding evaluation vs exact PPJoin ground truth —
    operators/dedup.py lsh_recall_eval: recall + candidate precision of
    the (16-lane, 4-band) config at Jaccard ≥ 0.5; truth and candidates
    each run their documented keyed plans, the comparison is one
    pair-keyed join + single-row aggregates (never collected)."""
    from obsplus_spark.operators.dedup import lsh_recall_eval

    docs = _t(spark, sf_dir, "documents")
    return lsh_recall_eval(docs, threshold=0.5, n_hashes=16, bands=4)


def _lsh_recall_sql(n_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_lsh_recall: the minhash banding CTEs (lockstep
    with _minhash_sql) + the PPJoin truth CTEs (lockstep with
    _SQL_SETSIM) + the count comparison."""
    rows_per_band = n_hashes // bands
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    lshp AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.shingle) AS rn,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    ),
    pref AS (
      SELECT doc_id, shingle, rn, sz FROM ranked
      WHERE rn <= sz - CAST(ceil(0.5 * sz - 1e-9) AS INT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM pref a JOIN pref b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.sz >= ceil(0.5 * a.sz - 1e-9)
       AND a.sz >= ceil(0.5 * b.sz - 1e-9)
       AND least(a.sz - a.rn, b.sz - b.rn) + 1
           >= ceil(0.3333333333333333 * (a.sz + b.sz) - 1e-9)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS ni
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.id1
      JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
      GROUP BY c.id1, c.id2
    ),
    truth AS (
      SELECT i.id1, i.id2
      FROM inter i
      JOIN sizes z1 ON z1.doc_id = i.id1
      JOIN sizes z2 ON z2.doc_id = i.id2
      WHERE i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE) >= 0.5
    ),
    hit AS (
      SELECT count(*) AS n_true_pairs, count(l.id1) AS n_hit
      FROM truth t
      LEFT JOIN lshp l ON t.id1 = l.id1 AND t.id2 = l.id2
    ),
    nc AS (SELECT count(*) AS n_candidates FROM lshp)
    SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_true_pairs = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(n_hit / CAST(n_true_pairs AS DOUBLE), 6)
           END AS recall,
           CASE WHEN n_candidates = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(n_hit / CAST(n_candidates AS DOUBLE), 6)
           END AS candidate_precision
    FROM hit CROSS JOIN nc
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — plans/layout.py compaction_plan:
    contiguous cumsum bin packing per directory on ONE dir-keyed
    exchange (the (dir, bin) totals reuse it via the subset rule), no
    driver-side manifest. The file manifest is fabricated
    deterministically from orders (path per order, size = price cents,
    directory = priority) so both engines pack the identical input."""
    from obsplus_spark.plans.layout import compaction_plan

    o = _t(spark, sf_dir, "orders")
    files = o.selectExpr(
        "concat('pri=', o_orderpriority) AS dir",
        "concat('part-', CAST(o_orderkey AS STRING)) AS path",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS size_bytes",
    )
    return compaction_plan(files, target_bytes=128 * 1024 * 1024)


_SQL_COMPACTION_PLAN = """
    WITH f AS (
      SELECT 'pri=' || o_orderpriority AS dir,
             'part-' || CAST(o_orderkey AS VARCHAR) AS path,
             CAST(round(o_totalprice * 100) AS BIGINT) AS size_bytes
      FROM orders
    ),
    b AS (
      SELECT dir, path, size_bytes,
             CAST((sum(size_bytes) OVER (
                    PARTITION BY dir
                    ORDER BY size_bytes DESC, path
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - size_bytes) // 134217728 AS BIGINT) AS bin
      FROM f
    )
    SELECT dir, path, size_bytes, bin,
           CAST(sum(size_bytes) OVER (PARTITION BY dir, bin)
                AS BIGINT) AS bin_bytes,
           CAST(count(*) OVER (PARTITION BY dir, bin)
                AS BIGINT) AS n_bin_files
    FROM b
"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — plans/layout.py key_skew_report: one
    key-keyed map-combined count (the only corpus-sized exchange); the
    rank filter rewrites to a distributed TakeOrdered (LocalLimit per
    partition, plan-audited), and the cumulative-share window runs over
    the ≤ top-k survivors; the pre-salting report for a 100-TB join."""
    from obsplus_spark.plans.layout import key_skew_report

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", top=20)


_SQL_KEY_SKEW = """
    WITH c AS (
      SELECT CAST(grouping(user_id) AS INT) AS _g,
             CAST(user_id AS VARCHAR) AS key,
             count(*) AS n_rows
      FROM events GROUP BY ROLLUP(user_id)
    ),
    r AS (
      SELECT * FROM (
        SELECT _g, key, n_rows,
               row_number() OVER (ORDER BY _g DESC, n_rows DESC,
                                  key ASC NULLS LAST) AS _rn
        FROM c
      ) WHERE _rn <= 21
    )
    SELECT CAST(_rn - 1 AS BIGINT) AS rank, key,
           CAST(n_rows AS BIGINT) AS n_rows,
           round(n_rows / CAST(_tot AS DOUBLE), 6) AS share,
           round(sum(n_rows) OVER (ORDER BY _rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / CAST(_tot AS DOUBLE), 6) AS cum_share
    FROM (SELECT *, max(CASE WHEN _g = 1 THEN n_rows END)
                      OVER () AS _tot
          FROM r)
    WHERE _g = 0
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-chain attrition report — operators/text.py
    curation_funnel: cumulative stage flags in ONE map pass, one
    global map-combined aggregate, stage rows unpivoted from the
    single aggregate row (no keyed shuffle at any corpus size)."""
    from obsplus_spark.operators.text import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    return curation_funnel(
        docs,
        [
            ("nonblank", "text IS NOT NULL AND length(trim(text)) > 0"),
            (
                "min_tokens",
                r"size(filter(split(trim(lower(text)), '\\s+'),"
                " t -> t != '')) >= 10",
            ),
            ("known_lang", "lang IS NOT NULL"),
            ("max_chars", "n_chars <= 400"),
        ],
    )


_SQL_CURATION_FUNNEL = r"""
    WITH c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
             ) AS BIGINT) AS n0,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
             ) AS BIGINT) AS n1,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
               AND lang IS NOT NULL
             ) AS BIGINT) AS n2,
             CAST(count(*) FILTER (
               text IS NOT NULL AND length(trim(text)) > 0
               AND len(list_filter(string_split_regex(
                     trim(lower(text)), '\s+'), t -> t != '')) >= 10
               AND lang IS NOT NULL
               AND n_chars <= 400
             ) AS BIGINT) AS n3
      FROM documents
    )
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'nonblank' AS stage,
           n_total AS n_in, n0 AS n_kept, n_total - n0 AS n_dropped
    FROM c
    UNION ALL SELECT 1, 'min_tokens', n0, n1, n0 - n1 FROM c
    UNION ALL SELECT 2, 'known_lang', n1, n2, n1 - n2 FROM c
    UNION ALL SELECT 3, 'max_chars', n2, n3, n2 - n3 FROM c
"""


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate exposure — operators/dedup.py
    duplicate_rate_by_source: digest-keyed window for corpus-wide
    counts (no self-join), source-keyed rollup; predicts exactly what
    exact_dedup would remove, per source."""
    from obsplus_spark.operators.dedup import duplicate_rate_by_source

    docs = _t(spark, sf_dir, "documents")
    return duplicate_rate_by_source(docs)


_SQL_DUP_RATE_BY_SOURCE = r"""
    WITH d AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS dg
      FROM documents
    ),
    w AS (
      SELECT source, dg, count(*) OVER (PARTITION BY dg) AS cnt FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (dg IS NOT NULL AND cnt > 1)
                AS BIGINT) AS n_dup_docs,
           CAST(count(DISTINCT dg) AS BIGINT) AS n_unique_texts,
           CAST(count(*) FILTER (dg IS NOT NULL)
                - count(DISTINCT dg) AS BIGINT) AS n_excess,
           round(count(*) FILTER (dg IS NOT NULL AND cnt > 1)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM w GROUP BY source
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion per-source train/val/test assignment —
    operators/dedup.py stratified_split: rank-within-stratum over the
    shared md5 key, floor-quantized boundaries; one stratum-keyed
    window exchange (vs hash_split's shuffle-free but
    only-in-expectation buckets)."""
    from obsplus_spark.operators.dedup import stratified_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_split(docs, id_col="doc_id", stratum_col="source")


_SQL_STRATIFIED_SPLIT = """
    WITH k AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS key
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY key, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM k
    )
    SELECT doc_id, source,
           CASE WHEN rk <= CAST(floor(n * 90 / 100.0) AS BIGINT)
                  THEN 'train'
                WHEN rk <= CAST(floor(n * 95 / 100.0) AS BIGINT)
                  THEN 'val'
                ELSE 'test' END AS split
    FROM r
"""


def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-200 by occurrence count, with document
    frequencies — tokenizer-training / idf input. Per-doc counts come
    from an in-row run-length pass (the explode carries one row per
    DISTINCT token per doc, not per occurrence), then one map-side-
    combinable hash aggregate and a distributed TakeOrdered."""
    from obsplus_spark.operators.text import vocab_top_tokens

    docs = _t(spark, sf_dir, "documents")
    return vocab_top_tokens(docs, k=200)


_SQL_VOCAB = r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 200
"""

#: deterministic PII injection for the scrub query (documents text is
#: clean lorem — inject synthetic spans so the redaction path is
#: exercised; 1/3 of docs stay untouched)
_PII_INJECT_SPARK = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' Contact user',"
    " CAST(doc_id AS STRING), '@example.com or +1 (555) 010-',"
    " lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), '.')"
    " WHEN doc_id % 3 = 1 THEN concat(text, ' node at 10.0.',"
    " CAST(doc_id % 256 AS STRING), '.',"
    " CAST((doc_id * 7) % 256 AS STRING), ' up')"
    " ELSE text END"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-class counts (email → ipv4 → phone, the
    class order that keeps the permissive phone pattern off dotted
    quads): scan-speed chained regexp_replace + regexp_count; the oracle
    replays the identical chain."""
    from obsplus_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    injected = docs.selectExpr("doc_id", f"{_PII_INJECT_SPARK} AS text")
    return pii_scrub(injected)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"

_SQL_PII = f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' Contact user'
                    || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'
                  WHEN doc_id % 3 = 1 THEN text || ' node at 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.'
                    || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
                  ELSE text END AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t2
      FROM base
    ),
    s2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t2, '{_PII_IPV4}')) AS BIGINT)
               AS n_ipv4,
             regexp_replace(t2, '{_PII_IPV4}', '<IPV4>', 'g') AS t3
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_ipv4,
             CAST(len(regexp_extract_all(t3, '{_PII_PHONE}')) AS BIGINT)
               AS n_phone,
             regexp_replace(t3, '{_PII_PHONE}', '<PHONE>', 'g') AS t
      FROM s2
    )
    SELECT doc_id, t AS text, n_email, n_ipv4, n_phone,
           n_email + n_ipv4 + n_phone AS n_pii
    FROM s3
"""


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 terms by tf-idf (raw tf · ln(N/df)): in-row
    run-length term counts, one broadcast-joined vocabulary aggregate,
    WindowGroupLimit top-k. Ranked by the 6-dp rounded score (ties →
    token) — mathematically equal scores are not bit-equal across
    engines before rounding."""
    from obsplus_spark.operators.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, k=5)


_SQL_TFIDF = r"""
    WITH tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, token
    ),
    dfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df_docs
      FROM tok GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.token, t.tf, f.df_docs,
             round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / f.df_docs), 6)
               AS tfidf
      FROM tok t JOIN dfreq f USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df_docs, tfidf, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, token) AS rank FROM scored)
    WHERE rank <= 5
"""


def q_unigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM pseudo-perplexity (mean bits/token under the corpus's
    own unigram distribution) — the CCNet-style LM quality score. One
    vocabulary aggregate + broadcast join + per-doc aggregate."""
    from obsplus_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


_SQL_UNIGRAM = r"""
    WITH tok AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, token
    ),
    vocab AS (
      SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tok GROUP BY token
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
    SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           round(-sum(t.tf * ln(v.cnt / tot.total) / ln(2.0)) / sum(t.tf), 6)
             AS bits_per_token
    FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
    GROUP BY t.doc_id
"""


#: mixture weights for the plan query (literal on both sides)
_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.2, "src3": 0.1}
_MIX_TARGET = 50_000


_TOKEN_BUDGETS = {
    "src0": 800, "src1": 500, "src2": 250, "src5": 60, "src19": 0,
}


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture REALIZATION: per source, greedy prefix fill
    in deterministic md5-hash order until the source's token budget is
    reached — operators/text.py token_budget_sample, the execution step
    behind mixture_plan (pretraining mixes are specified in tokens, not
    docs). One source-keyed window exchange."""
    from obsplus_spark.operators.text import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(docs, _TOKEN_BUDGETS)


def _token_budget_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({b} AS BIGINT)"
        for s, b in _TOKEN_BUDGETS.items()
    )
    return rf"""
    WITH d AS (
      SELECT *,
             CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0
                       THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+'))
                  END AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR || ''), 1, 8))::BIGINT
               AS _key,
             CASE source {arms} ELSE CAST(0 AS BIGINT) END AS _budget
      FROM documents
    ),
    c AS (
      SELECT *, CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY _key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM d
    )
    SELECT * EXCLUDE (_key, _budget) FROM c WHERE cum_tokens <= _budget
"""


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling plan: per-source token inventory + the
    deterministic sampling rate hitting each source's weight share of a
    token budget. One source-keyed hash aggregate; dimension-sized
    output."""
    from obsplus_spark.operators.text import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(docs, _MIX_WEIGHTS, _MIX_TARGET)


def _mixture_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    rate = (
        f"least(CAST(1.0 AS DOUBLE),"
        f" weight * CAST({_MIX_TARGET} AS DOUBLE) / n_tokens)"
    )
    return f"""
    SELECT source, n_docs, n_tokens, weight,
           round({rate}, 6) AS sample_rate,
           CAST(floor(round({rate}, 6) * n_tokens) AS BIGINT)
             AS expected_tokens
    FROM (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END) AS BIGINT) AS n_tokens,
             CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
      FROM documents GROUP BY source
    )
    """


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc boilerplate n-gram stats (C4-style repeated-span rule):
    per-doc fraction of distinct 3-grams occurring in ≥3 documents.
    In-row xxhash64 gram sets, one gram-keyed aggregate, broadcast
    frequent-set join back."""
    from obsplus_spark.operators.dedup import boilerplate_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_ngram_stats(docs, n=3, min_docs=3)


_SQL_BOILER = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                    range(1, len(toks) - 1),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                  ELSE []::VARCHAR[] END AS grams
      FROM t
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    freq AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 3),
    hits AS (
      SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
      FROM e JOIN freq f USING (gram) GROUP BY e.doc_id
    )
    SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CASE WHEN len(g.grams) = 0 THEN 0.0
                 ELSE coalesce(h.n_boiler, 0)
                      / CAST(len(g.grams) AS DOUBLE) END, 6) AS boiler_frac
    FROM g LEFT JOIN hits h USING (doc_id)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector, top-10 most-similar
    corpus vectors with a DIFFERENT label (labeled twin of knn_cosine —
    broadcast queries, same-class rows filtered in the join before the
    rank)."""
    from obsplus_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = hard_negatives(emb, queries, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_HARDNEG = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             label AS qlabel
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id < 5
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    s AS (
      SELECT query_id, vec_id, v.label,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v JOIN q ON v.label != q.qlabel
    ),
    r AS (
      SELECT query_id, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, CAST(label AS BIGINT) AS label, rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 10
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of events.value: one scalar min/max aggregate
    broadcast back onto the scan (same shape as common_coverage's
    scalars), bin ids as row math, one bin-keyed count — the profiling
    histogram every column-statistics pass needs. Divide-first bin
    width avoids overflow on wide ranges; the max value clamps into the
    last bin, and a constant column (zero width) lands whole in bin 0
    instead of raising DIVIDE_BY_ZERO under ANSI mode."""
    ev = _t(spark, sf_dir, "events")
    from obsplus_spark.util import sql_over

    return sql_over(
        {"e": ev.select("value")},
        """
        WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM {e}),
        b AS (
          SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                 ELSE CAST(least(floor((value - lo) / ((hi - lo) / 20.0D)),
                                 19.0D) AS BIGINT) END AS bin
          FROM {e} CROSS JOIN s
        )
        SELECT bin, CAST(count(1) AS BIGINT) AS n
        FROM b GROUP BY bin
        """,
    )


_SQL_HISTOGRAM = """
    WITH s AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    b AS (
      SELECT CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
             ELSE CAST(least(floor((value - lo) / ((hi - lo) / 20.0)),
                             19.0) AS BIGINT) END AS bin
      FROM events CROSS JOIN s
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bin
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile of lineitem: per column one row of
    (n_rows, n_nulls, n_distinct, min/max as strings). The distinct
    count of EACH column runs as its own single-distinct aggregate
    (two-phase, map-side combined, column-pruned to one column) crossed
    with the plain-stats aggregate — k+1 narrow passes beat one
    multi-distinct aggregate, whose Expand multiplies every row by k+1
    (A/B at sf0.1: 0.40 s vs 0.65 s; the gap widens with row count)."""
    li = _t(spark, sf_dir, "lineitem")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    from obsplus_spark.util import sql_over

    # numeric extremes go through DECIMAL(18,2): double->string uses
    # scientific notation past 1e7 in the JVM but never in DuckDB, so
    # raw casts would hash-mismatch on large values
    cols = {
        "l_quantity": "CAST({v} AS DECIMAL(18,2))",
        "l_extendedprice": "CAST({v} AS DECIMAL(18,2))",
        "l_returnflag": "{v}",
        "l_shipdate": "{v}",
    }
    base_aggs = ["CAST(count(1) AS BIGINT) AS _n"]
    d_ctes = []
    rows = []
    for c, fmt in cols.items():
        mn = fmt.format(v=f"min({c})")
        mx = fmt.format(v=f"max({c})")
        base_aggs.append(
            f"CAST(count({c}) AS BIGINT) AS _cnt_{c},"
            f" CAST({mn} AS STRING) AS _min_{c},"
            f" CAST({mx} AS STRING) AS _max_{c}"
        )
        d_ctes.append(
            f"d_{c} AS (SELECT CAST(count(DISTINCT {c}) AS BIGINT)"
            f" AS _nd_{c} FROM {{t}})"
        )
        rows.append(
            f"named_struct('column', '{c}', 'n_rows', _n,"
            f" 'n_nulls', _n - _cnt_{c}, 'n_distinct', _nd_{c},"
            f" 'min_value', _min_{c}, 'max_value', _max_{c})"
        )
    crosses = " ".join(f"CROSS JOIN d_{c}" for c in cols)
    return sql_over(
        {"t": li},
        f"""
        WITH a AS (SELECT {', '.join(base_aggs)} FROM {{t}}),
        {', '.join(d_ctes)}
        SELECT inline(array({', '.join(rows)})) FROM a {crosses}
        """,
    )


_SQL_PROFILE = """
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(l_quantity) AS BIGINT) AS c1,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS d1,
             CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mn1,
             CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mx1,
             CAST(count(l_extendedprice) AS BIGINT) AS c2,
             CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS d2,
             CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn2,
             CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx2,
             CAST(count(l_returnflag) AS BIGINT) AS c3,
             CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d3,
             CAST(min(l_returnflag) AS VARCHAR) AS mn3,
             CAST(max(l_returnflag) AS VARCHAR) AS mx3,
             CAST(count(l_shipdate) AS BIGINT) AS c4,
             CAST(count(DISTINCT l_shipdate) AS BIGINT) AS d4,
             CAST(strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS mn4,
             CAST(strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS mx4
      FROM lineitem
    )
    SELECT 'l_quantity' AS column, n AS n_rows, n - c1 AS n_nulls,
           d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM a
    UNION ALL
    SELECT 'l_extendedprice', n, n - c2, d2, mn2, mx2 FROM a
    UNION ALL
    SELECT 'l_returnflag', n, n - c3, d3, mn3, mx3 FROM a
    UNION ALL
    SELECT 'l_shipdate', n, n - c4, d4, mn4, mx4 FROM a
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: documents vs a deterministically simulated
    v2 snapshot (every 17th doc dropped, every 10th modified, every
    13th re-added under a shifted id). One fingerprint projection per
    side, one full-outer id join, dimension-sized status counts."""
    from obsplus_spark.operators.dedup import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    v2 = (
        docs.filter("doc_id % 17 != 0")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 10 = 0 THEN concat(text, ' v2')"
            " ELSE text END AS text",
        )
        .unionAll(
            docs.filter("doc_id % 13 = 0").selectExpr(
                "doc_id + 1000000 AS doc_id", "text"
            )
        )
    )
    return snapshot_diff(docs, v2)


_SQL_CORPUS_DIFF = r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
      FROM documents
    ),
    v2src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 17 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0
    ),
    fp2 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
      FROM v2src
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE
               WHEN o.doc_id IS NULL THEN 'added'
               WHEN n.doc_id IS NULL THEN 'removed'
               WHEN o.f != n.f THEN 'modified'
               ELSE 'unchanged'
             END AS status
      FROM fp o FULL OUTER JOIN fp2 n ON o.doc_id = n.doc_id
    )
    GROUP BY status
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: one customer-keyed aggregate over
    orders (recency / frequency / monetary), fixed-threshold bucket
    codes as row expressions, and a segment-level count — the
    dimension-sized output of a classic warehouse pass."""
    o = _t(spark, sf_dir, "orders")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    per = o.groupBy("o_custkey").agg(
        F.max(F.unix_micros(F.col("o_orderdate"))).alias("_last_us"),
        F.count(F.lit(1)).alias("_freq"),
        F.sum(F.col("o_totalprice").cast("decimal(28,10)")).alias("_mon"),
    )
    seg = per.selectExpr(
        "CASE WHEN _last_us >= unix_micros(TIMESTAMP '2001-04-01') THEN 'R1'"
        " WHEN _last_us >= unix_micros(TIMESTAMP '2001-01-01') THEN 'R2'"
        " ELSE 'R3' END AS r_bucket",
        "CASE WHEN _freq >= 11 THEN 'F1' WHEN _freq >= 9 THEN 'F2'"
        " ELSE 'F3' END AS f_bucket",
        "CASE WHEN _mon >= 2800000 THEN 'M1' WHEN _mon >= 2050000 THEN 'M2'"
        " ELSE 'M3' END AS m_bucket",
    )
    return seg.groupBy("r_bucket", "f_bucket", "m_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


_SQL_RFM = """
    WITH per AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             sum(CAST(o_totalprice AS DECIMAL(28,10))) AS mon
      FROM orders GROUP BY o_custkey
    )
    SELECT CASE WHEN last_order >= TIMESTAMP '2001-04-01' THEN 'R1'
                WHEN last_order >= TIMESTAMP '2001-01-01' THEN 'R2'
                ELSE 'R3' END AS r_bucket,
           CASE WHEN freq >= 11 THEN 'F1' WHEN freq >= 9 THEN 'F2'
                ELSE 'F3' END AS f_bucket,
           CASE WHEN mon >= 2800000 THEN 'M1' WHEN mon >= 2050000 THEN 'M2'
                ELSE 'M3' END AS m_bucket,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM per GROUP BY 1, 2, 3
"""


def q_action_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey motifs: top-20 consecutive action trigrams over
    time-ordered (event_id-tiebroken) per-user streams — one user-keyed
    exchange, in-row sequence fold, vocabulary-sized count + TakeOrdered."""
    from obsplus_spark.operators.sessions import action_ngrams

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", _ts_ns().alias("t_ns")
    )
    return action_ngrams(ev, n=3, k=20, tiebreak_col="event_id")


_SQL_TRIGRAMS = """
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY epoch_ns(ts), event_id) AS types
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id
    ),
    g AS (
      SELECT unnest(CASE WHEN len(types) >= 3 THEN
               list_transform(range(1, len(types) - 1),
                 i -> array_to_string(list_slice(types, i, i + 2), ' '))
             ELSE []::VARCHAR[] END) AS gram
      FROM seq
    )
    SELECT gram AS ngram, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, ngram
    LIMIT 20
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle (epoch-relative weeks): first-seen-week
    min aggregate, user-keyed join back, distinct + count — all
    map-combinable, no window."""
    from obsplus_spark.operators.sessions import cohort_retention

    ev = _t(spark, sf_dir, "events").select(
        "user_id", _ts_ns().alias("t_ns")
    )
    return cohort_retention(ev)


_SQL_COHORT = """
    WITH e AS (SELECT user_id, epoch_ns(ts) AS t_ns FROM events),
    u AS (
      SELECT user_id,
             min(t_ns) // 604800000000000 AS cohort_week
      FROM e GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT u.cohort_week,
             e.t_ns // 604800000000000 - u.cohort_week AS week_offset,
             e.user_id
      FROM e JOIN u ON e.user_id = u.user_id
    )
    SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
    FROM a GROUP BY cohort_week, week_offset
"""


def q_rate_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly event-rate z-scores: one (type, bucket) hash
    aggregate over the log; stats and scores run on the dimension-sized
    count table."""
    from obsplus_spark.operators.sessions import rate_zscores

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _ts_ns().alias("t_ns")
    )
    return rate_zscores(ev)


_SQL_RATEZ = """
    WITH e AS (SELECT event_type, epoch_ns(ts) AS t_ns FROM events),
    c AS (
      SELECT event_type,
             t_ns // 3600000000000 AS bucket,
             CAST(count(*) AS BIGINT) AS n_events
      FROM e GROUP BY event_type, t_ns // 3600000000000
    )
    SELECT event_type, bucket, n_events,
           CASE WHEN stddev_pop(n_events) OVER w = 0 THEN 0.0
                ELSE round((n_events - avg(n_events) OVER w)
                           / stddev_pop(n_events) OVER w, 6)
           END AS z
    FROM c
    WINDOW w AS (PARTITION BY event_type)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) of the event log: one
    user-partitioned window pass; both downstream aggregates reuse the
    same partitioning (no further exchange)."""
    from obsplus_spark.operators.sessions import user_sessions

    ev = _t(spark, sf_dir, "events").select(
        "user_id", _ts_ns().alias("t_ns")
    )
    return user_sessions(ev, gap_ns=30 * 60 * 1_000_000_000)


_SQL_SESSIONS = """
    WITH e AS (SELECT user_id, epoch_ns(ts) AS t_ns FROM events
               WHERE ts IS NOT NULL),
    o AS (
      SELECT user_id, t_ns,
             CASE WHEN lag(t_ns) OVER w IS NULL
                    OR t_ns - lag(t_ns) OVER w > 1800000000000
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_ns)
    ),
    s AS (
      SELECT user_id, t_ns,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t_ns
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    ),
    per AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n,
             max(t_ns) - min(t_ns) AS dur
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS longest_session_events,
           CAST(max(dur) AS BIGINT) AS longest_session_ns
    FROM per GROUP BY user_id
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per-stage
    conditional-min aggregates chained by user-keyed joins (each stage
    anchors at its earliest qualifying event, strictly after the
    previous stage's anchor)."""
    from obsplus_spark.operators.sessions import funnel_counts

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _ts_ns().alias("t_ns")
    )
    return funnel_counts(ev, ["view", "click", "purchase"])


_SQL_FUNNEL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) AS t_ns FROM events
    ),
    u1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN t_ns END) AS t
      FROM e GROUP BY user_id
    ),
    u2 AS (
      SELECT e.user_id, min(e.t_ns) AS t
      FROM e JOIN u1 p ON e.user_id = p.user_id
       AND e.event_type = 'click' AND e.t_ns > p.t
      GROUP BY e.user_id
    ),
    u3 AS (
      SELECT e.user_id, min(e.t_ns) AS t
      FROM e JOIN u2 p ON e.user_id = p.user_id
       AND e.event_type = 'purchase' AND e.t_ns > p.t
      GROUP BY e.user_id
    )
    SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
           CAST(count(t) AS BIGINT) AS n_users FROM u1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', CAST(count(t) AS BIGINT) FROM u2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(t) AS BIGINT) FROM u3
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled iterations, d=0.85) over the supplier →
    customer shipment graph (lineitem ⋈ orders): per round one
    src-keyed join + one dst-keyed map-combined aggregate; top-20 cut on
    the rounded rank so the boundary is engine-stable."""
    from obsplus_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).selectExpr("l_suppkey AS src", "o_custkey AS dst")
    return pagerank(edges, iterations=2, damping=0.85, k=20)


_SQL_PAGERANK = """
    WITH edges AS (
      -- NULL endpoints excluded by the engine's documented edge
      -- contract (unresolved ids are not nodes)
      SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_suppkey IS NOT NULL AND o_custkey IS NOT NULL
    ),
    ew AS (
      SELECT src, dst, 1.0 / count(*) OVER (PARTITION BY src) AS w
      FROM edges
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    c1 AS (SELECT dst, sum(w) AS contrib FROM ew GROUP BY dst),
    r1 AS (
      SELECT s.src AS node, 0.15 + 0.85 * coalesce(c.contrib, 0.0) AS rank
      FROM (SELECT DISTINCT src FROM edges) s
      LEFT JOIN c1 c ON s.src = c.dst
    ),
    c2 AS (
      SELECT e.dst, sum(r.rank * e.w) AS contrib
      FROM ew e JOIN r1 r ON e.src = r.node
      GROUP BY e.dst
    )
    SELECT n.node,
           round(0.15 + 0.85 * coalesce(c.contrib, 0.0), 6) AS rank
    FROM nodes n LEFT JOIN c2 c ON n.node = c.dst
    ORDER BY round(0.15 + 0.85 * coalesce(c.contrib, 0.0), 6) DESC, n.node
    LIMIT 20
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement of deterministic spherical k-means (seeds =
    4 lowest vec_ids, argmax-cosine assignment): broadcast seed fold,
    map-only assign, ONE (cluster, dim)-keyed hash aggregate carrying
    both the refined means and the member counts."""
    from obsplus_spark.operators.similarity import kmeans_refine_stats

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_refine_stats(emb, n_clusters=4)


_SQL_KMEANS = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    m AS (
      SELECT cluster, dim, ev[dim + 1] AS x
      FROM (SELECT a.cluster, v.ev, unnest(range(len(v.ev))) AS dim
            FROM asg a JOIN v ON v.vec_id = a.vec_id)
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(1) AS BIGINT) AS n_members,
           CAST(dim AS BIGINT) AS dim,
           round(avg(x), 6) AS centroid
    FROM m GROUP BY cluster, dim
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-trainer pair statistics: top-50 adjacent character pairs
    weighted by word frequency. Corpus-sized work is one map-side-
    combinable word-count aggregate; pair expansion and top-k run on
    the vocabulary."""
    from obsplus_spark.operators.text import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, k=50)


_SQL_BPE = r"""
    WITH w AS (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
              AS tok
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY tok
    ),
    p AS (
      SELECT word, freq, pair
      FROM (SELECT word, freq,
                   unnest(list_transform(range(1, length(word)),
                          i -> substring(word, i, 2))) AS pair
            FROM w WHERE length(word) >= 2)
    )
    SELECT pair, CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS total
    FROM p GROUP BY pair
    ORDER BY total DESC, pair
    LIMIT 50
"""


def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists: per token in ≥10 docs, document
    frequency + first-8 sorted doc ids (rank-limited inside the one
    token-keyed shuffle — a stopword's postings are never collected
    whole)."""
    from obsplus_spark.operators.text import posting_lists

    docs = _t(spark, sf_dir, "documents")
    return posting_lists(docs, min_df=10, sample_k=8)


_SQL_POSTING = r"""
    WITH e AS (
      SELECT DISTINCT doc_id, tok AS token
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS tok
            FROM documents WHERE length(trim(text)) > 0)
    )
    SELECT token, CAST(count(*) AS BIGINT) AS df_docs,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',')
             AS sample_docs
    FROM e GROUP BY token
    HAVING count(*) >= 10
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# ===========================================================================
# §2.4/§2.11 full six-table sub-entity parity over a rich nested tree
# (constants.py AMPLITUDE/ARRIVAL/STATION_MAGNITUDE/EVENT dtypes;
#  events/pd.py extractors; events/schema.py FocalMechanism branch)
# ===========================================================================
#
# One deterministic rich tree fabricated from the events table (all values
# integer-derived so Spark and DuckDB agree bit-for-bit), flattened through
# the REAL obsplus_spark extractors; each oracle computes the flat truth
# directly from events. Fabrication rules (shared by all oracles below):
#   pick per event row; arrivals on origin o2 for event_id%3<>0;
#   amplitudes + station magnitudes for event_id%4=0;
#   origins o1(min ts)/o2(max ts); preferred: uid%7=0→missing(→last=o2),
#   uid%2=0→o1, else o2;  magnitudes m1(ML) m2(MW) m3(ML), preferred:
#   uid%3=0→m2, else missing(→last=m3); focal mechanisms for uid%5=0
#   (fm1; plus fm2 when uid%10=0), preferred: uid%20=0→fm2,
#   uid%10=0→fm1(match beats last), else null(→fallback last).

#: DuckDB predicate: preferred origin is o1
_IS_O1 = "(uid % 7 <> 0 AND uid % 2 = 0)"

_FM_FIELDS = (
    "'triggering_origin_id', concat('o2:', CAST(uid AS STRING)),"
    " 'strike_1', CAST({s1} AS DOUBLE), 'dip_1', CAST({d1} AS DOUBLE),"
    " 'rake_1', CAST({r1} AS DOUBLE) - 90,"
    " 'strike_2', CAST({s2} AS DOUBLE), 'dip_2', CAST({d2} AS DOUBLE),"
    " 'rake_2', 90 - CAST({r1} AS DOUBLE),"
    " 'azimuthal_gap', CAST({gap} AS DOUBLE),"
    " 'station_polarity_count', {pol},"
    " 'misfit', ({mis}) / 10.0D, 'method_id', 'mfm',"
    " 'evaluation_status', CASE WHEN uid % 10 = 0 THEN 'reviewed'"
    " ELSE CAST(NULL AS STRING) END,"
    " 'scalar_moment', CAST({mom} AS DOUBLE) * 1e13,"
    " 'creation_time', max_ns + {ct}"
)

_FM1 = (
    "named_struct('resource_id', concat('fm1:', CAST(uid AS STRING)), "
    + _FM_FIELDS.format(
        s1="uid % 360", d1="uid % 90", r1="uid % 180", s2="(uid + 90) % 360",
        d2="(uid + 30) % 90", gap="uid % 180", pol="n % 30",
        mis="uid % 10", mom="uid % 100", ct="20",
    )
    + ")"
)
_FM2 = (
    "named_struct('resource_id', concat('fm2:', CAST(uid AS STRING)), "
    + _FM_FIELDS.format(
        s1="(uid + 45) % 360", d1="(uid + 10) % 90", r1="(uid + 30) % 180",
        s2="(uid + 135) % 360", d2="(uid + 40) % 90", gap="(uid + 5) % 180",
        pol="(n + 7) % 30", mis="(uid + 5) % 10", mom="(uid + 50) % 100",
        ct="21",
    )
    + ")"
)

_RICH_QUALITY = (
    "named_struct("
    "'associated_phase_count', CASE WHEN uid % 11 = 0 THEN"
    " CAST(NULL AS BIGINT) ELSE n + {k} END,"
    "'used_phase_count', CASE WHEN uid % 3 = 0 THEN CAST(NULL AS BIGINT)"
    " WHEN uid % 3 = 1 THEN CAST(0 AS BIGINT) ELSE n + {k} END,"
    "'standard_error', (uid % 10) / 10.0D + {k},"
    "'azimuthal_gap', CAST((uid % 360) + {k} AS DOUBLE))"
)

_RICH_ORIGIN = (
    "named_struct("
    "'resource_id', concat('o{k}:', CAST(uid AS STRING)),"
    "'time', {t},"
    "'latitude', CAST(uid % 120 AS DOUBLE) - 60 + {lat_frac},"
    "'longitude', CAST((uid * 7) % 360 AS DOUBLE) - 180 + {lon_frac},"
    "'depth', CAST(uid % 50 AS DOUBLE) + {dep_frac},"
    "'quality', " + _RICH_QUALITY + ","
    "'horizontal_uncertainty', CAST(uid % 5 AS DOUBLE) * 1.5D + {k},"
    "'vertical_uncertainty', CAST(uid % 3 AS DOUBLE) * 2.0D + {k},"
    "'arrivals', {arr},"
    "'creation_time', {t} + 5, 'author', 'oa', 'agency_id', 'AG')"
)

_RICH_MAG = (
    "named_struct('resource_id', concat('m{i}:', CAST(uid AS STRING)),"
    " 'mag', {mag}, 'magnitude_type', '{mt}',"
    " 'origin_id', concat('o2:', CAST(uid AS STRING)), 'method_id', 'mm',"
    " 'station_count', CAST(n % 20 AS DOUBLE),"
    " 'evaluation_mode', 'automatic', 'creation_time', max_ns + {ct},"
    " 'author', 'ma', 'agency_id', 'AG', 'uncertainty', 0.1D)"
)

_RICH_TREE_SQL = f"""
WITH e AS (
  SELECT user_id AS uid, event_id AS eid, {_TS_NS_SQL} AS tns,
         event_type AS et, value AS val
  FROM {{ev}}
),
agg AS (
  SELECT uid,
         count(*) AS n,
         min(tns) AS min_ns,
         max(tns) AS max_ns,
         collect_list(named_struct(
           'resource_id', concat('p', CAST(eid AS STRING)),
           'time', tns,
           'phase_hint', CASE WHEN eid % 2 = 0 THEN 'P' ELSE 'S' END,
           'evaluation_status', CASE WHEN eid % 17 = 0 THEN 'rejected'
             ELSE CAST(NULL AS STRING) END,
           'network', 'EV', 'station', et, 'location', '',
           'channel', concat('u', CAST(uid % 10 AS STRING)),
           'onset', CASE WHEN eid % 3 = 0 THEN 'impulsive'
             WHEN eid % 3 = 1 THEN 'emergent' ELSE CAST(NULL AS STRING) END,
           'polarity', CASE WHEN val > 50 THEN 'positive' ELSE 'negative' END,
           'evaluation_mode', 'automatic',
           'method_id', 'mpick',
           'creation_time', tns + 1000,
           'author', concat('an', CAST(uid % 3 AS STRING)),
           'agency_id', 'AG',
           'uncertainty', (eid % 9) / 100.0D
         )) AS picks,
         collect_list(CASE WHEN eid % 3 <> 0 THEN named_struct(
           'resource_id', concat('a', CAST(eid AS STRING)),
           'pick_id', concat('p', CAST(eid AS STRING)),
           'phase', CASE WHEN eid % 2 = 0 THEN 'P' ELSE 'S' END,
           'azimuth', CAST(eid % 360 AS DOUBLE),
           'distance', (eid % 100) / 10.0D,
           'time_residual', (eid % 7) / 100.0D,
           'time_weight', 1.0D,
           'earth_model_id', 'iasp91',
           'creation_time', tns + 2000,
           'network', 'EV', 'station', et, 'location', '',
           'channel', concat('u', CAST(uid % 10 AS STRING))
         ) END) AS arrivals,
         collect_list(CASE WHEN eid % 4 = 0 THEN named_struct(
           'resource_id', concat('amp', CAST(eid AS STRING)),
           'generic_amplitude', val,
           'type', 'A', 'category', 'point', 'unit', 'm/s',
           'magnitude_hint', 'ML', 'method_id', 'mamp',
           'period', (eid % 20) / 10.0D,
           'snr', (eid % 30) / 3.0D,
           'pick_id', concat('p', CAST(eid AS STRING)),
           'reference', tns,
           'time_begin', 0.0D,
           'time_end', CAST(eid % 5 AS DOUBLE),
           'scaling_time', tns,
           'evaluation_mode', 'automatic',
           'evaluation_status', CASE WHEN eid % 8 = 0 THEN 'confirmed'
             ELSE CAST(NULL AS STRING) END,
           'creation_time', tns + 3000,
           'author', concat('an', CAST(uid % 3 AS STRING)),
           'agency_id', 'AG',
           'network', 'EV', 'station', et, 'location', '',
           'channel', concat('u', CAST(uid % 10 AS STRING))
         ) END) AS amplitudes,
         collect_list(CASE WHEN eid % 4 = 0 THEN named_struct(
           'resource_id', concat('sm', CAST(eid AS STRING)),
           'mag', (eid % 60) / 10.0D,
           'station_magnitude_type', 'ML',
           'amplitude_id', concat('amp', CAST(eid AS STRING)),
           'magnitude_id', concat('m1:', CAST(uid AS STRING)),
           'origin_id', concat('o2:', CAST(uid AS STRING)),
           'method_id', 'msm',
           'creation_time', tns + 4000,
           'network', 'EV', 'station', et, 'location', '',
           'channel', concat('u', CAST(uid % 10 AS STRING)),
           'uncertainty', (eid % 5) / 10.0D
         ) END) AS station_magnitudes
  FROM e GROUP BY uid
)
SELECT
  concat('u', CAST(uid AS STRING)) AS event_id,
  concat('d', CAST(uid % 5 AS STRING)) AS event_description,
  'earthquake' AS event_type,
  CASE WHEN uid % 7 = 0 THEN concat('oX:', CAST(uid AS STRING))
       WHEN uid % 2 = 0 THEN concat('o1:', CAST(uid AS STRING))
       ELSE concat('o2:', CAST(uid AS STRING)) END AS preferred_origin_id,
  CASE WHEN uid % 3 = 0 THEN concat('m2:', CAST(uid AS STRING))
       ELSE concat('mZ:', CAST(uid AS STRING)) END AS preferred_magnitude_id,
  CASE WHEN uid % 20 = 0 THEN concat('fm2:', CAST(uid AS STRING))
       WHEN uid % 10 = 0 THEN concat('fm1:', CAST(uid AS STRING))
       ELSE CAST(NULL AS STRING) END AS preferred_focal_mechanism_id,
  max_ns AS creation_time,
  concat('auth', CAST(uid % 4 AS STRING)) AS author,
  'AGY' AS agency_id,
  concat('v', CAST(uid % 3 AS STRING)) AS version,
  array(
    {_RICH_ORIGIN.format(k=1, t="min_ns", lat_frac="0.5D",
                         lon_frac="0.25D", dep_frac="0.0D",
                         arr="filter(arrivals, x -> false)")},
    {_RICH_ORIGIN.format(k=2, t="max_ns", lat_frac="0.75D",
                         lon_frac="0.5D", dep_frac="0.5D",
                         arr="arrivals")}
  ) AS origins,
  array(
    {_RICH_MAG.format(i=1, mag="(n % 50) / 10.0D", mt="ML", ct=10)},
    {_RICH_MAG.format(i=2, mag="(n % 40) / 10.0D + 0.5D", mt="MW", ct=11)},
    {_RICH_MAG.format(i=3, mag="(n % 30) / 10.0D + 1.0D", mt="ML", ct=12)}
  ) AS magnitudes,
  picks,
  amplitudes,
  station_magnitudes,
  CASE WHEN uid % 10 = 0 THEN array({_FM1}, {_FM2})
       WHEN uid % 5 = 0 THEN array({_FM1})
       ELSE filter(array({_FM1}), x -> false) END AS focal_mechanisms
FROM agg
"""


def _rich_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rich nested tree (full NESTED_EVENT_SCHEMA field coverage) —
    one groupBy over events, everything else in-row array construction."""
    from obsplus_spark.util import sql_over

    return sql_over({"ev": _t(spark, sf_dir, "events")}, _RICH_TREE_SQL)


def q_amplitudes_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amplitude sub-entity table (AMPLITUDE_DTYPES, constants.py:172-204;
    extractor events/pd.py:405-421): rich tree → amplitudes_to_df — a
    map-only explode with denormalized event keys."""
    from obsplus_spark.operators.event_tree import amplitudes_to_df

    return amplitudes_to_df(_rich_tree(spark, sf_dir))


_SQL_AMP_FLAT = f"""
WITH {_D_PREF}
SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
       {_D_EVTIME} AS event_time,
       'amp' || CAST(e.event_id AS VARCHAR) AS resource_id,
       e.value AS generic_amplitude,
       'A' AS type, 'point' AS category, 'm/s' AS unit,
       'ML' AS magnitude_hint,
       CAST(NULL AS VARCHAR) AS filter_id, 'mamp' AS method_id,
       (e.event_id % 20) / 10.0 AS period,
       (e.event_id % 30) / 3.0 AS snr,
       'p' || CAST(e.event_id AS VARCHAR) AS pick_id,
       epoch_ns(e.ts) AS reference,
       CAST(0.0 AS DOUBLE) AS time_begin,
       CAST(e.event_id % 5 AS DOUBLE) AS time_end,
       epoch_ns(e.ts) AS scaling_time,
       'automatic' AS evaluation_mode,
       CASE WHEN e.event_id % 8 = 0 THEN 'confirmed'
            ELSE CAST(NULL AS VARCHAR) END AS evaluation_status,
       epoch_ns(e.ts) + 3000 AS creation_time,
       'an' || CAST(e.user_id % 3 AS VARCHAR) AS author,
       'AG' AS agency_id,
       'EV' AS network, e.event_type AS station, '' AS location,
       {_D_CHANNEL} AS channel,
       CAST(NULL AS DOUBLE) AS uncertainty,
       CAST(NULL AS DOUBLE) AS lower_uncertainty,
       CAST(NULL AS DOUBLE) AS upper_uncertainty,
       CAST(NULL AS DOUBLE) AS confidence_level,
       {_D_SEED} AS seed_id
FROM events e JOIN pref p ON e.user_id = p.uid
WHERE e.event_id % 4 = 0
"""


def q_station_mags_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StationMagnitude sub-entity table (STATION_MAGNITUDE_DTYPES,
    constants.py:209-231; magnitude_id excluded per
    STATION_MAGNITUDE_COLUMNS)."""
    from obsplus_spark.operators.event_tree import station_magnitudes_to_df

    return station_magnitudes_to_df(_rich_tree(spark, sf_dir))


_SQL_SMAG_FLAT = f"""
WITH {_D_PREF}
SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
       {_D_EVTIME} AS event_time,
       'sm' || CAST(e.event_id AS VARCHAR) AS resource_id,
       (e.event_id % 60) / 10.0 AS mag,
       'ML' AS station_magnitude_type,
       'amp' || CAST(e.event_id AS VARCHAR) AS amplitude_id,
       'o2:' || CAST(e.user_id AS VARCHAR) AS origin_id,
       'msm' AS method_id,
       epoch_ns(e.ts) + 4000 AS creation_time,
       CAST(NULL AS VARCHAR) AS author, CAST(NULL AS VARCHAR) AS agency_id,
       'EV' AS network, e.event_type AS station, '' AS location,
       {_D_CHANNEL} AS channel,
       (e.event_id % 5) / 10.0 AS uncertainty,
       CAST(NULL AS DOUBLE) AS lower_uncertainty,
       CAST(NULL AS DOUBLE) AS upper_uncertainty,
       CAST(NULL AS DOUBLE) AS confidence_level,
       {_D_SEED} AS seed_id
FROM events e JOIN pref p ON e.user_id = p.uid
WHERE e.event_id % 4 = 0
"""


def q_arrivals_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival sub-entity table (ARRIVAL_DTYPES, constants.py:264-289):
    arrivals of the PREFERRED origin only (events/pd.py:334-346), with
    origin_id/origin_time denormalized — users whose preferred origin is
    o1 (no arrivals) contribute zero rows."""
    from obsplus_spark.operators.event_tree import arrivals_to_df

    return arrivals_to_df(_rich_tree(spark, sf_dir))


_SQL_ARR_FLAT = f"""
WITH {_D_PREF}
SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
       'o2:' || CAST(e.user_id AS VARCHAR) AS origin_id,
       p.max_ns AS origin_time,
       'a' || CAST(e.event_id AS VARCHAR) AS resource_id,
       'p' || CAST(e.event_id AS VARCHAR) AS pick_id,
       CASE WHEN e.event_id % 2 = 0 THEN 'P' ELSE 'S' END AS phase,
       CAST(NULL AS DOUBLE) AS time_correction,
       CAST(e.event_id % 360 AS DOUBLE) AS azimuth,
       (e.event_id % 100) / 10.0 AS distance,
       CAST(NULL AS DOUBLE) AS takeoff_angle,
       (e.event_id % 7) / 100.0 AS time_residual,
       CAST(NULL AS DOUBLE) AS horizontal_slowness_residual,
       CAST(NULL AS DOUBLE) AS backazimuth_residual,
       CAST(1.0 AS DOUBLE) AS time_weight,
       CAST(NULL AS DOUBLE) AS horizontal_slowness_weight,
       CAST(NULL AS DOUBLE) AS backazimuth_weight,
       'iasp91' AS earth_model_id,
       epoch_ns(e.ts) + 2000 AS creation_time,
       CAST(NULL AS VARCHAR) AS author, CAST(NULL AS VARCHAR) AS agency_id,
       'EV' AS network, e.event_type AS station, '' AS location,
       {_D_CHANNEL} AS channel,
       {_D_SEED} AS seed_id
FROM events e JOIN pref p ON e.user_id = p.uid
WHERE e.event_id % 3 <> 0
  AND NOT (e.user_id % 7 <> 0 AND e.user_id % 2 = 0)
"""


def q_picks_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick sub-entity table at full PICK_DTYPES width
    (constants.py:124-150): onset/polarity/evaluation_mode/creation-info/
    uncertainty legs all populated from the rich tree."""
    from obsplus_spark.operators.event_tree import picks_to_df

    return picks_to_df(_rich_tree(spark, sf_dir))


_SQL_PICKS_FULL = f"""
WITH {_D_PREF}
SELECT 'u' || CAST(e.user_id AS VARCHAR) AS event_id,
       {_D_EVTIME} AS event_time,
       'p' || CAST(e.event_id AS VARCHAR) AS resource_id,
       epoch_ns(e.ts) AS time,
       CASE WHEN e.event_id % 2 = 0 THEN 'P' ELSE 'S' END AS phase_hint,
       CASE WHEN e.event_id % 17 = 0 THEN 'rejected'
            ELSE CAST(NULL AS VARCHAR) END AS evaluation_status,
       'EV' AS network, e.event_type AS station, '' AS location,
       {_D_CHANNEL} AS channel,
       CASE WHEN e.event_id % 3 = 0 THEN 'impulsive'
            WHEN e.event_id % 3 = 1 THEN 'emergent'
            ELSE CAST(NULL AS VARCHAR) END AS onset,
       CASE WHEN e.value > 50 THEN 'positive' ELSE 'negative' END AS polarity,
       'automatic' AS evaluation_mode,
       CAST(NULL AS VARCHAR) AS filter_id,
       'mpick' AS method_id,
       CAST(NULL AS DOUBLE) AS horizontal_slowness,
       CAST(NULL AS DOUBLE) AS backazimuth,
       epoch_ns(e.ts) + 1000 AS creation_time,
       'an' || CAST(e.user_id % 3 AS VARCHAR) AS author,
       'AG' AS agency_id,
       (e.event_id % 9) / 100.0 AS uncertainty,
       CAST(NULL AS DOUBLE) AS lower_uncertainty,
       CAST(NULL AS DOUBLE) AS upper_uncertainty,
       CAST(NULL AS DOUBLE) AS confidence_level,
       {_D_SEED} AS seed_id
FROM events e JOIN pref p ON e.user_id = p.uid
"""


def q_events_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT_DTYPES parity (constants.py:81-109): the full 27-column
    event-summary flatten over the rich tree — preferred chains, quality
    'value or default' fallbacks, arrival-linked station counts and the
    whole-tree updated max, all computed IN-ROW (zero shuffles past the
    tree build)."""
    from obsplus_spark.operators.event_tree import events_to_df

    return events_to_df(_rich_tree(spark, sf_dir))


_SQL_EVENTS_WIDE = """
WITH agg AS (
  SELECT user_id AS uid, count(*) AS n,
         min(epoch_ns(ts)) AS min_ns, max(epoch_ns(ts)) AS max_ns,
         max(epoch_ns(ts) + CASE WHEN event_id % 4 = 0 THEN 4000
              WHEN event_id % 3 <> 0 THEN 2000 ELSE 1000 END) AS updated,
         count(CASE WHEN event_id % 3 <> 0 AND event_id % 2 = 0
               THEN 1 END) AS arr_p,
         count(CASE WHEN event_id % 3 <> 0 AND event_id % 2 <> 0
               THEN 1 END) AS arr_s,
         count(CASE WHEN event_id % 2 = 0 AND event_id % 17 <> 0
               THEN 1 END) AS pick_p,
         count(CASE WHEN event_id % 2 <> 0 AND event_id % 17 <> 0
               THEN 1 END) AS pick_s,
         count(DISTINCT CASE WHEN event_id % 3 <> 0
               THEN event_type END) AS arr_sta
  FROM events GROUP BY user_id
),
o AS (
  SELECT *, (uid % 7 <> 0 AND uid % 2 = 0) AS is_o1,
         CASE WHEN (uid % 7 <> 0 AND uid % 2 = 0) THEN 1 ELSE 2 END AS k
  FROM agg
)
SELECT
  CASE WHEN is_o1 THEN min_ns ELSE max_ns END AS time,
  CAST(uid % 120 AS DOUBLE) - 60
    + CASE WHEN is_o1 THEN CAST(0.5 AS DOUBLE)
           ELSE CAST(0.75 AS DOUBLE) END AS latitude,
  CAST((uid * 7) % 360 AS DOUBLE) - 180
    + CASE WHEN is_o1 THEN CAST(0.25 AS DOUBLE)
           ELSE CAST(0.5 AS DOUBLE) END AS longitude,
  CAST(uid % 50 AS DOUBLE)
    + CASE WHEN is_o1 THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(0.5 AS DOUBLE) END AS depth,
  CASE WHEN uid % 3 = 0 THEN (n % 40) / 10.0 + 0.5
       ELSE (n % 30) / 10.0 + 1.0 END AS magnitude,
  'd' || CAST(uid % 5 AS VARCHAR) AS event_description,
  CASE WHEN uid % 11 = 0 THEN 0 ELSE n + k END AS associated_phase_count,
  CAST((uid % 360) + k AS DOUBLE) AS azimuthal_gap,
  'u' || CAST(uid AS VARCHAR) AS event_id,
  CAST(uid % 5 AS DOUBLE) * 1.5 + k AS horizontal_uncertainty,
  (n % 30) / 10.0 + 1.0 AS local_magnitude,
  (n % 40) / 10.0 + 0.5 AS moment_magnitude,
  CAST(NULL AS DOUBLE) AS duration_magnitude,
  CASE WHEN uid % 3 = 0 THEN 'MW' ELSE 'ML' END AS magnitude_type,
  CASE WHEN is_o1 THEN 0 ELSE arr_p END AS p_phase_count,
  CASE WHEN is_o1 THEN 0 ELSE arr_s END AS s_phase_count,
  pick_p AS p_pick_count,
  pick_s AS s_pick_count,
  (uid % 10) / 10.0 + k AS standard_error,
  CASE WHEN uid % 3 = 0 OR uid % 3 = 1
       THEN (CASE WHEN is_o1 THEN 0 ELSE arr_p + arr_s END)
       ELSE n + k END AS used_phase_count,
  CASE WHEN is_o1 THEN 0 ELSE arr_sta END AS station_count,
  CAST(uid % 3 AS DOUBLE) * 2.0 + k AS vertical_uncertainty,
  updated,
  'auth' || CAST(uid % 4 AS VARCHAR) AS author,
  'AGY' AS agency_id,
  max_ns AS creation_time,
  'v' || CAST(uid % 3 AS VARCHAR) AS version
FROM o
"""


def q_focal_preferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferred focal mechanism via the generalized fallback chain
    (utils/events.py:425-480 over events/schema.py:554): uid%20=0 matches
    fm2 by id; uid%10=0 matches fm1 while fm2 is LAST (match must beat
    last); other uid%5=0 users have no preferred id (fallback to the only
    mechanism, fm1)."""
    from obsplus_spark.operators.event_tree import preferred

    tree = _rich_tree(spark, sf_dir)
    fm = preferred("focal_mechanisms", "preferred_focal_mechanism_id")
    return tree.select(
        "event_id",
        fm["resource_id"].alias("fm_id"),
        fm["strike_1"].alias("strike_1"),
        fm["dip_1"].alias("dip_1"),
        fm["rake_1"].alias("rake_1"),
        fm["misfit"].alias("misfit"),
        fm["station_polarity_count"].alias("polarity_count"),
        fm["scalar_moment"].alias("scalar_moment"),
    ).filter(F.col("fm_id").isNotNull())


_SQL_FOCAL_PREF = """
WITH agg AS (
  SELECT user_id AS uid, count(*) AS n FROM events GROUP BY user_id
)
SELECT 'u' || CAST(uid AS VARCHAR) AS event_id,
  CASE WHEN uid % 20 = 0 THEN 'fm2:' ELSE 'fm1:' END
    || CAST(uid AS VARCHAR) AS fm_id,
  CASE WHEN uid % 20 = 0 THEN CAST((uid + 45) % 360 AS DOUBLE)
       ELSE CAST(uid % 360 AS DOUBLE) END AS strike_1,
  CASE WHEN uid % 20 = 0 THEN CAST((uid + 10) % 90 AS DOUBLE)
       ELSE CAST(uid % 90 AS DOUBLE) END AS dip_1,
  CASE WHEN uid % 20 = 0 THEN CAST((uid + 30) % 180 AS DOUBLE) - 90
       ELSE CAST(uid % 180 AS DOUBLE) - 90 END AS rake_1,
  CASE WHEN uid % 20 = 0 THEN ((uid + 5) % 10) / 10.0
       ELSE (uid % 10) / 10.0 END AS misfit,
  CASE WHEN uid % 20 = 0 THEN (n + 7) % 30 ELSE n % 30 END AS polarity_count,
  CASE WHEN uid % 20 = 0 THEN CAST((uid + 50) % 100 AS DOUBLE) * 1e13
       ELSE CAST(uid % 100 AS DOUBLE) * 1e13 END AS scalar_moment
FROM agg WHERE uid % 5 = 0
"""


def q_stations_from_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stations-from-stream (stations/pd.py:111-128): fabricate a station
    table from waveform-index rows via one NSLC groupBy (min start / max
    end epoch). The index here is the events table viewed as traces."""
    from obsplus_spark.operators.stations import stations_from_stream
    from obsplus_spark.util import sql_over

    idx = sql_over(
        {"ev": _t(spark, sf_dir, "events")},
        f"""
        SELECT 'EV' AS network, event_type AS station, '' AS location,
               concat('u', CAST(user_id % 10 AS STRING)) AS channel,
               {_TS_NS_SQL} AS starttime,
               {_TS_NS_SQL} + 60000000000 AS endtime
        FROM {{ev}}
        """,
    )
    return stations_from_stream(idx)


_SQL_STA_STREAM = """
SELECT 'EV' AS network, station, '' AS location, channel,
       'EV.' || station || '..' || channel AS seed_id,
       CAST(NULL AS DOUBLE) AS latitude,
       CAST(NULL AS DOUBLE) AS longitude,
       CAST(NULL AS DOUBLE) AS elevation,
       min(t) AS start_date,
       max(t) + 60000000000 AS end_date
FROM (
  SELECT event_type AS station,
         'u' || CAST(user_id % 10 AS VARCHAR) AS channel,
         epoch_ns(ts) AS t
  FROM events
)
GROUP BY station, channel
"""


# ---------------------------------------------------------------------------
# round-6 second wave: graph / sketch / span-dedup / similarity-join /
# PQ / robust-stats / Q5 / rolling-window shapes
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting (wedge closure on the oriented
    DAG) over the hash-folded customer↔order interaction graph: the
    orientation bounds wedge fan-out by O(√|E|) even on hub nodes; every
    stage is a keyed equi-join or map-combined aggregate."""
    from obsplus_spark.operators.graph import triangle_counts

    o = _t(spark, sf_dir, "orders")
    # hash-fold both endpoints into one 5003-bucket node space: sparse
    # (|E| ≪ |V|²/2) so triangle structure is non-trivial without the
    # near-complete-graph blowup a small modulus produces
    edges = o.selectExpr(
        "o_custkey % 5003 AS src", "o_orderkey % 5003 AS dst"
    )
    return triangle_counts(edges, k=20)


_SQL_TRIANGLES = """
    WITH e0 AS (
      SELECT DISTINCT least(o_custkey % 5003, o_orderkey % 5003) AS a,
                      greatest(o_custkey % 5003, o_orderkey % 5003) AS b
      FROM orders
      WHERE o_custkey % 5003 <> o_orderkey % 5003
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY node
    ),
    eo AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN e0.a ELSE e0.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN e0.b ELSE e0.a END AS v,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN db.d ELSE da.d END AS dv
      FROM e0
      JOIN deg da ON e0.a = da.node
      JOIN deg db ON e0.b = db.node
    ),
    tri AS (
      SELECT w.n0, w.lo, w.hi
      FROM (
        SELECT e1.u AS n0, e1.v AS lo, e2.v AS hi
        FROM eo e1 JOIN eo e2
          ON e1.u = e2.u
         AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
      ) w
      JOIN eo c ON w.lo = c.u AND w.hi = c.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT n0 AS node FROM tri
      UNION ALL SELECT lo FROM tri
      UNION ALL SELECT hi FROM tri
    )
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the document token stream:
    ONE map-combined aggregate builds the depth×width counter table
    (md5-bucketed, engine-portable), candidates probe it via a broadcast
    (row, bucket) join + min fold. Output carries the exact count next
    to the sketch estimate so over-estimation is auditable."""
    from obsplus_spark.operators.sketches import cms_counters, cms_estimates

    docs = _t(spark, sf_dir, "documents")
    tok = docs.where("length(trim(text)) > 0").selectExpr(
        r"explode(split(trim(lower(text)), '\\s+')) AS token"
    )
    counters = cms_counters(tok, "token", depth=4, width=512)
    cand = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(20)
    )
    est = cms_estimates(counters, cand, "token", depth=4, width=512)
    return (
        cand.join(est, "token")
        .select("token", "n_exact", "est")
        .orderBy(F.col("n_exact").desc(), "token")
    )


_SQL_CMS = r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    ctr AS (
      SELECT j AS hrow,
             ('0x' || substr(md5(token) || substr(md5(token), 1, 6),
                             2 * j + 1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM tok, unnest(range(0, 4)) AS u(j)
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_exact
      FROM tok GROUP BY token
      ORDER BY n_exact DESC, token LIMIT 20
    ),
    probe AS (
      SELECT c.token, c.n_exact, j,
             ('0x' || substr(md5(c.token) || substr(md5(c.token), 1, 6),
                             2 * j + 1, 8))::BIGINT % 512 AS bucket
      FROM cand c, unnest(range(0, 4)) AS u(j)
    )
    SELECT p.token, p.n_exact,
           CAST(min(coalesce(ctr.cnt, 0)) AS BIGINT) AS est
    FROM probe p
    LEFT JOIN ctr ON ctr.hrow = p.j AND ctr.bucket = p.bucket
    GROUP BY p.token, p.n_exact
    ORDER BY p.n_exact DESC, p.token
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span mass per document (trigram slots whose gram
    recurs anywhere in the corpus, multiplicity included): in-row integer
    gram hashing, one gram-keyed count window + one per-doc aggregate —
    the span-level exact-dedup signal next to the doc-level MinHash
    verdicts."""
    from obsplus_spark.operators.dedup import duplicate_span_mass

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_mass(docs, n=3)


_SQL_SPAN = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, string_split(t, ' ') AS w
      FROM norm WHERE length(t) > 0
    ),
    g AS (
      SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    c AS (
      SELECT doc_id, count(*) OVER (PARTITION BY gram) AS c FROM g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_mass
    FROM c GROUP BY doc_id
"""


def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ 0.5 over trigram
    shingle sets) via prefix filtering: candidates only from each doc's
    rarest-first shingle prefix, then exact intersection verify. The
    deterministic complement to the MinHash path — no false negatives.
    (Prefix order differs between engines — digests here, strings in the
    oracle — but any consistent order yields a verified-identical
    result set.)"""
    from obsplus_spark.operators.dedup import set_similarity_join

    docs = _t(spark, sf_dir, "documents")
    return set_similarity_join(docs, threshold=0.5)


_SQL_SETSIM = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.shingle) AS rn,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    ),
    pref AS (
      SELECT doc_id, shingle, rn, sz FROM ranked
      WHERE rn <= sz - CAST(ceil(0.5 * sz - 1e-9) AS INT) + 1
    ),
    cand AS (
      -- same lossless PPJoin length/positional pruning as the engine
      -- (epsilon inside every ceil, mirroring dedup._PPJOIN_EPS: the
      -- rational bounds must never round UP past an exact-boundary pair)
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM pref a JOIN pref b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.sz >= ceil(0.5 * a.sz - 1e-9)
       AND a.sz >= ceil(0.5 * b.sz - 1e-9)
       AND least(a.sz - a.rn, b.sz - b.rn) + 1
           >= ceil(0.3333333333333333 * (a.sz + b.sz) - 1e-9)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS ni
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.id1
      JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2,
           CAST(i.ni AS BIGINT) AS n_inter,
           CAST(z1.n AS BIGINT) AS n1, CAST(z2.n AS BIGINT) AS n2,
           round(i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes z1 ON z1.doc_id = i.id1
    JOIN sizes z2 ON z2.doc_id = i.id2
    WHERE i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE) >= 0.5
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (8 subspaces × 4 deterministic
    codebook entries): codebook folds to one broadcast array row,
    encoding is a map-only in-row argmin — zero corpus shuffles."""
    from obsplus_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, m=8, n_codes=4)


_SQL_PQ = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ev AS cv
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    d AS (
      SELECT v.vec_id, u.s AS sub, sd.code,
             round(list_sum(list_transform(range(1, 9), i ->
               (ev[CAST(u.s * 8 + i AS INT)] - cv[CAST(u.s * 8 + i AS INT)])
               * (ev[CAST(u.s * 8 + i AS INT)] - cv[CAST(u.s * 8 + i AS INT)])
             )), 9) AS dist
      FROM v, unnest(range(0, 8)) AS u(s), seeds sd
    )
    SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
    FROM (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, code) AS rn
      FROM d
    ) WHERE rn = 1
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized value stats (discrete p05/p95 bounds by rank,
    tail counts, clamped mean): the rank, boundary-broadcast, and final
    aggregate all reuse ONE type-keyed exchange."""
    from obsplus_spark.operators.sessions import winsorized_stats

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    return winsorized_stats(ev, "event_type", "value", "event_id")


_SQL_WINSOR = """
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type, value, n,
             max(CASE WHEN rn = greatest(CAST(ceil(0.05 * n) AS BIGINT), 1)
                 THEN value END) OVER (PARTITION BY event_type) AS lo,
             max(CASE WHEN rn = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1)
                 THEN value END) OVER (PARTITION BY event_type) AS hi
      FROM r
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           round(max(lo), 6) AS lo, round(max(hi), 6) AS hi,
           CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           round(avg(least(greatest(value, lo), hi)), 6) AS w_mean
    FROM b GROUP BY event_type
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): nation⋈region prune
    broadcasts into supplier AND customer; lineitem⋈orders⋈supplier⋈
    customer shuffle-join on their keys (no fact-side broadcast — the
    100-TB form), with the c_nationkey = s_nationkey locality predicate
    applied at the last join. DECIMAL revenue accumulation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    asia = n.join(
        F.broadcast(r.filter("r_name = 'ASIA'")),
        n.n_regionkey == r.r_regionkey,
    ).select("n_nationkey", "n_name")
    s_dim = s.join(
        F.broadcast(asia), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", F.col("s_nationkey").alias("_snat"), "n_name")
    o_f = o.filter(
        "o_orderdate >= TIMESTAMP '1996-01-01'"
        " AND o_orderdate < TIMESTAMP '1997-01-01'"
    ).select("o_orderkey", "o_custkey")
    return (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .join(s_dim, li.l_suppkey == s_dim.s_suppkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("_snat"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_SQL_Q5 = """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


def q_rolling_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue per event type via a RANGE frame on the
    epoch-day index — gap-aware (missing days contribute nothing, no
    calendar densify). One type-keyed exchange; day totals pre-rounded
    so the frame sums are engine-stable."""
    from obsplus_spark.operators.sessions import rolling_window_sums

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _ts_ns().alias("t_ns"), "value"
    )
    daily = ev.groupBy(
        "event_type", F.expr("t_ns div 86400000000000").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("day_rev"))
    return rolling_window_sums(daily, "event_type", "day", "day_rev", window=7)


_SQL_ROLLING = """
    WITH e AS (
      SELECT event_type, epoch_ns(ts) AS t_ns, value FROM events
    ),
    d AS (
      SELECT event_type, t_ns // 86400000000000 AS day,
             round(sum(value), 6) AS day_rev
      FROM e GROUP BY event_type, t_ns // 86400000000000
    )
    SELECT event_type, day, day_rev,
           round(sum(day_rev) OVER w, 6) AS mw_sum,
           CAST(count(*) OVER w AS BIGINT) AS mw_n,
           round(sum(day_rev) OVER w / count(*) OVER w, 6) AS mw_avg
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (manual AQE-skew-split twin): a
    deliberately hot-keyed lineitem side (half the rows share one key)
    joins supplier through ``salted_join`` — big side salted 1:1, dim
    replicated ×8, so the hot key spreads over 8 reducers. The result is
    salt-invariant; the oracle is the PLAIN join."""
    from obsplus_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE l_suppkey END AS skey",
        "l_extendedprice",
    )
    dim = _t(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS skey", "s_nationkey"
    )
    j = salted_join(li, dim, "skey", salt=8)
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(28,10)")).cast(
                "double"
            ),
            4,
        ).alias("total_price"),
    )


_SQL_SKEW_JOIN = """
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10)))
                 AS DOUBLE), 4) AS total_price
    FROM (
      SELECT CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE l_suppkey END AS skey,
             l_extendedprice
      FROM lineitem
    ) l
    JOIN supplier s ON l.skey = s.s_suppkey
    GROUP BY s_nationkey
"""


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations (window-3 co-occurrence): in-row pair expansion,
    ONE pair-keyed aggregate, vocabulary-sized broadcast joins for the
    unigram/total normalizers, TakeOrdered on the rounded score."""
    from obsplus_spark.operators.text import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, window=3, min_count=10, k=100)


_SQL_PMI = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    pos AS (
      SELECT doc_id, i, w[i] AS tok
      FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
    ),
    pr AS (
      SELECT least(p1.tok, p2.tok) AS a, greatest(p1.tok, p2.tok) AS b,
             count(*) AS n_pair
      FROM pos p1 JOIN pos p2
        ON p1.doc_id = p2.doc_id AND p2.i > p1.i AND p2.i <= p1.i + 3
      GROUP BY 1, 2
    ),
    uni AS (SELECT tok, count(*) AS n_tok FROM pos GROUP BY tok),
    tot AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS n FROM uni)
    SELECT a AS tok_a, b AS tok_b,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(ua.n_tok AS BIGINT) AS n_a,
           CAST(ub.n_tok AS BIGINT) AS n_b,
           round(ln(CAST(n_pair AS DOUBLE) * tot.n
                    / (CAST(ua.n_tok AS DOUBLE) * ub.n_tok)), 6) AS pmi
    FROM pr
    JOIN uni ua ON pr.a = ua.tok
    JOIN uni ub ON pr.b = ub.tok
    CROSS JOIN tot
    WHERE n_pair >= 10
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT 100
"""


def q_rank_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rank normalization (percent-rank + integer-arithmetic
    decile for every event): one type-keyed exchange, both window values
    on the same sort; the bucket is ``((rn−1)·10) div n`` — never ntile
    or floor-of-double, whose tie handling is engine-specific."""
    from obsplus_spark.operators.sessions import rank_transform

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return rank_transform(ev, "event_type", "value", "event_id", buckets=10)


_SQL_RANK_TRANSFORM = """
    SELECT event_id, event_type, value,
           round(CASE WHEN n > 1
                 THEN (rn - 1) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END, 6)
             AS pct_rank,
           CAST(((rn - 1) * 10) // n AS INT) AS bucket
    FROM (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
"""


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus token distribution: ONE
    (source, token)-keyed aggregate; corpus/source totals re-aggregate
    from it (vocabulary-/source-sized) and broadcast back."""
    from obsplus_spark.operators.text import source_divergence

    docs = _t(spark, sf_dir, "documents")
    return source_divergence(docs)


_SQL_SOURCE_KL = r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    st AS (SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok),
    ct AS (SELECT tok, sum(n) AS nc FROM st GROUP BY tok),
    stot AS (SELECT source, sum(n) AS ns FROM st GROUP BY source),
    ctot AS (SELECT sum(nc) AS nt FROM ct)
    SELECT s.source,
           CAST(max(t.ns) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           round(sum((s.n / CAST(t.ns AS DOUBLE))
                 * ln((s.n / CAST(t.ns AS DOUBLE))
                      / (c.nc / CAST(x.nt AS DOUBLE)))), 6) AS kl
    FROM st s
    JOIN ct c ON s.tok = c.tok
    JOIN stot t ON s.source = t.source
    CROSS JOIN ctot x
    GROUP BY s.source
"""


def q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (the FAISS-style two-level quantization): broadcast
    centroid + codebook folds, map-only corpus encode, per-query in-row
    ADC tables, cluster equi-join candidates, WindowGroupLimit
    top-rerank on the ADC estimate, exact re-rank of the survivors. The
    oracle replays the full structure (assignment, codes, probe lists,
    ADC cells, re-rank) in SQL."""
    from obsplus_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_pq_topk(
        emb, n_clusters=4, nprobe=2, m=8, n_codes=4, rerank=32, k=8,
        queries=queries,
    )


_SQL_IVF_PQ = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ev AS cv
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    q AS (SELECT vec_id AS query_id, ev AS qv
          FROM v WHERE vec_id >= 5 AND vec_id < 10),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT v.vec_id, u.s AS sub, cb.code,
               row_number() OVER (PARTITION BY v.vec_id, u.s ORDER BY
                 round(list_sum(list_transform(range(1, 9), i ->
                   (ev[CAST(u.s * 8 + i AS INT)]
                      - cv[CAST(u.s * 8 + i AS INT)])
                   * (ev[CAST(u.s * 8 + i AS INT)]
                      - cv[CAST(u.s * 8 + i AS INT)]))), 9),
                 cb.code) AS rn
        FROM v, unnest(range(0, 8)) AS u(s), cb
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(q.qv, c.c)
               / nullif(c.nrm, 0), 0) DESC, c.cluster) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    tbl AS (
      SELECT q.query_id, u.s AS sub, cb.code,
             round(list_sum(list_transform(range(1, 9), i ->
               (qv[CAST(u.s * 8 + i AS INT)]
                  - cv[CAST(u.s * 8 + i AS INT)])
               * (qv[CAST(u.s * 8 + i AS INT)]
                  - cv[CAST(u.s * 8 + i AS INT)]))), 9) AS d
      FROM q, unnest(range(0, 8)) AS u(s), cb
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, round(sum(t.d), 6) AS adc
      FROM probe p
      JOIN asg a ON a.cluster = p.cluster
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN tbl t ON t.query_id = p.query_id
               AND t.sub = c.sub AND t.code = c.code
      GROUP BY p.query_id, a.vec_id
    ),
    rer AS (
      SELECT r.query_id, r.vec_id,
             round(list_sum(list_transform(range(1, len(v.ev) + 1), i ->
               (v.ev[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
               * (v.ev[CAST(i AS INT)] - q.qv[CAST(i AS INT)]))), 6)
               AS l2_sq
      FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc, vec_id) AS rr
        FROM cand
      ) r
      JOIN v ON v.vec_id = r.vec_id
      JOIN q ON q.query_id = r.query_id
      WHERE r.rr <= 32
    )
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, l2_sq
    FROM (
      SELECT query_id, vec_id, l2_sq,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY l2_sq, vec_id) AS rank
      FROM rer
    ) WHERE rank <= 8
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the batch (doc_id % 3 = 0) is signed
    and banded fresh; the existing corpus contributes ONLY its persisted
    LSH band index — never re-scanned or re-paired. Candidates =
    batch-internal buckets ∪ batch×index collisions; exact Jaccard
    verify; identical result to full LSH over old ∪ new filtered to
    pairs touching the batch (which is what the oracle computes)."""
    from obsplus_spark.operators.dedup import (
        incremental_candidate_pairs,
        lsh_band_index,
        pair_jaccard_arrays,
        shingle_digest_array,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE md5 digest pass over the whole corpus feeds the old-side index,
    # the new-side signatures AND the exact verification (array
    # intersection on the digest arrays — no exploded string shingle
    # table); 3.4 s → ~1 s at sf0.1
    dig = shingle_digest_array(docs, n=3, drop_empty=True).persist()
    register_shingle_cache(dig)
    new_dig = dig.filter("doc_id % 3 = 0")
    old_dig = dig.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0")
    index = lsh_band_index(
        old_dig, n_hashes=16, bands=4, digest_arrays_df=old_dig
    )
    pairs = incremental_candidate_pairs(
        new, index, n_hashes=16, bands=4, shingle_size=3,
        digest_arrays_df=new_dig,
    )
    out = pair_jaccard_arrays(dig, pairs, arr_col="shingles")
    return out.filter(F.col("jaccard") >= 0.2).select(
        "id1", "id2", "n_inter", "n1", "n2",
        F.round("jaccard", 8).alias("jaccard"),
    )


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): per part, the supplier with
    the lowest observed unit price — argmin-per-group as ONE struct-min
    hash aggregate (lexicographic (unit, suppkey) min ≡ ORDER BY unit,
    suppkey LIMIT 1 per group, but map-side combinable: the shuffle
    carries one candidate per part per partition, no window, no
    per-group sort). True dimension tables (part, supplier, nation)
    broadcast onto the aggregate. Unit price is one IEEE division —
    bit-identical across engines, so the argmin tie-break is exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    best = (
        li.select(
            "l_partkey",
            F.struct(
                (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
                F.col("l_suppkey").alias("k"),
            ).alias("_c"),
        )
        .groupBy("l_partkey")
        .agg(F.min("_c").alias("_b"))
        .select("l_partkey", F.col("_b.u").alias("_u"), F.col("_b.k").alias("_k"))
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best._k == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("n_name").alias("nation"),
            F.round("_u", 6).alias("best_unit_price"),
        )
        .orderBy(F.col("_u"), F.col("p_partkey"))
        .limit(100)
    )


_SQL_CHEAPEST = """
    SELECT p_partkey, p_brand, s_name, n_name AS nation,
           round(u, 6) AS best_unit_price
    FROM (
      SELECT l_partkey, l_suppkey,
             l_extendedprice / l_quantity AS u,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_extendedprice / l_quantity,
                                         l_suppkey) AS rn
      FROM lineitem
    ) b
    JOIN part ON b.l_partkey = p_partkey
    JOIN supplier ON b.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE rn = 1
    ORDER BY u, p_partkey
    LIMIT 100
"""


def q_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi): orders with at least one
    returned lineitem, counted per priority. The EXISTS subquery
    compiles to a left-semi shuffle join on the order key (semi joins
    short-circuit per probe row and never widen the orders side), then
    one tiny priority aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = li.filter("l_returnflag = 'R'").select("l_orderkey")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_PRIORITY_RETURNS = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive with count 0, then a histogram
    of the per-customer counts. Two aggregates, each map-side combined;
    the outer join shuffles on the customer key once (counting
    ``o_orderkey`` — never ``count(*)`` — keeps the no-match rows at
    zero)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_SQL_ORDER_COUNT_DIST = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (HAVING → semi): orders whose total quantity
    exceeds 300 (~top 0.1%), joined back to the order/customer dims.
    The quantity rollup is ONE map-combined aggregate; its survivors
    (a few hundred keys) broadcast into orders, so the big table
    shuffles zero rows past its own aggregate. Quantities are small
    integral doubles — the sum is exact, the 300 threshold portable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 4).alias("total_price"),
            F.round("total_qty", 4).alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_SQL_LARGE_ORDERS = """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(o_totalprice, 4) AS total_price,
           round(total_qty, 4) AS total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    ) b
    JOIN orders ON o_orderkey = b.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
"""


def q_sole_supplier_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS self-joins): suppliers who
    were the ONLY supplier with a returned item on a multi-supplier
    order. Instead of two correlated self-joins over the fact table
    (three lineitem scans), the pair table aggregates once to
    (order, supplier, had_return) and once more to per-order counts —
    the sole-return predicate becomes ``n_supp > 1 AND n_r_supp = 1``
    on that tiny rollup, joined back on the order key. Skew-safe: no
    count-distinct Expand, every shuffle keyed on the order prefix."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    pairs = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("l_returnflag") == "R").alias("had_r"))
    )
    # second HASH aggregate carries the answer itself: when exactly one
    # supplier had a return, ``min(when(had_r, suppkey))`` IS that
    # supplier — no window (the window form re-sorts every pair row by
    # order key: 3.1 s vs 0.6 s at synthetic sf1) and no join back onto
    # the pair rollup (which would re-compute or re-shuffle it). Both
    # aggregates are sort-free and map-side combined; the only join
    # left is the broadcast supplier dim.
    sole = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count_if("had_r").alias("n_r_supp"),
            F.min(F.when(F.col("had_r"), F.col("l_suppkey"))).alias(
                "l_suppkey"
            ),
        )
        .filter("n_supp > 1 AND n_r_supp = 1")
    )
    return (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(25)
    )


_SQL_SOLE_SUPPLIER = """
    WITH pairs AS (
      SELECT l_orderkey, l_suppkey,
             max(l_returnflag = 'R') AS had_r
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supp,
             count(*) FILTER (had_r) AS n_r_supp
      FROM pairs GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM pairs p
    JOIN per_order o ON p.l_orderkey = o.l_orderkey
    JOIN supplier ON p.l_suppkey = s_suppkey
    WHERE p.had_r AND o.n_supp > 1 AND o.n_r_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-scalar subquery + anti join): customers
    with an above-average positive balance and NO order since
    2000-01-01, rolled up per market segment. The global average rides
    a broadcast single-row cross join; the comparison is done in exact
    integer cents (``cents · n > Σcents``) so the threshold is
    bit-portable across engines; the NOT EXISTS compiles to a left-anti
    shuffle join on the customer key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    stats = (
        c.filter("c_acctbal > 0")
        .agg(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                "_tot_cents"
            ),
            F.count(F.lit(1)).alias("_n_pos"),
        )
    )
    recent = o.filter("o_orderdate >= TIMESTAMP '2000-01-01'").select(
        "o_custkey"
    )
    rich = (
        c.withColumn("_cents", cents)
        .crossJoin(F.broadcast(stats))
        .filter(F.col("_cents") * F.col("_n_pos") > F.col("_tot_cents"))
    )
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


_SQL_IDLE_CUSTOMERS = """
    WITH stats AS (
      SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS tot_cents,
             count(*) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_balance
    FROM customer c, stats
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > tot_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


def q_supplier_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): the
    profit measure folds part cost against discounted revenue per
    lineitem, rolled up by supplier nation and order year. The testdata
    has no ``partsupp``, so cost is a retail-price fraction — the JOIN
    GRAPH is the point: part (name-filtered) and supplier/nation are
    broadcast dims pruning the fact scan; orders joins on the order key
    (the one fact-sized shuffle); the rollup is map-side combined.
    Profit accumulates in DECIMAL so the sum is exact and the rounded
    output engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    # revenue minus a 20% retail-cost proxy; every term enters DECIMAL
    # before the subtraction (double revenue*discount products round
    # differently across engines once summed)
    profit = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(28,10)"
        )
        - (
            F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.2)
        ).cast("decimal(28,10)")
    )
    red = p.filter(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    return (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit).cast("double"), 4).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_SQL_SUPPLIER_PROFIT = """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))
             - CAST(p_retailprice * l_quantity * 0.2 AS DECIMAL(28,10))
           ) AS DOUBLE), 4) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
"""


def q_nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important-stock HAVING vs a global scalar):
    per-nation supplied value, keeping nations whose share exceeds a
    fixed fraction of the global total. The global total rides a
    broadcast single-row cross join (never a driver collect); the
    HAVING compares exact DECIMAL sums scaled by the integer fraction
    denominator, so the cut is bit-portable. Supplier/nation broadcast;
    the fact table shuffles once into its nation rollup."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    per_nation = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(val).alias("_val"))
    )
    total = per_nation.agg(F.sum("_val").alias("_tot"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        # share > 1/20 of the global total, compared in exact DECIMAL
        .filter(F.col("_val") * 20 > F.col("_tot"))
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("_val").cast("double"), 4).alias("value"),
        )
        .orderBy(F.col("value").desc(), "nation")
    )


_SQL_NATION_VALUE_SHARE = """
    WITH per_nation AS (
      SELECT n_name,
             sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name AS nation, round(CAST(val AS DOUBLE), 4) AS value
    FROM per_nation
    WHERE val * 20 > (SELECT sum(val) FROM per_nation)
    ORDER BY value DESC, nation
"""


def q_ship_delay_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (two conditional counts per category): lineitems
    bucketed by order-to-ship delay (30-day bands, capped), counting
    high-priority vs other orders per band in ONE pass — the classic
    dual ``count_if`` aggregate. The testdata has no ``l_shipmode``, so
    the delay band plays the mode's role; the join ships the two date
    columns only and shuffles on the order key once."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    j = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # clamped to [-1, 3]: the synthetic dates are independent, so a
    # lineitem can "ship" before its order date — all early shipments
    # fold into one band instead of an open-ended negative tail
    band = F.greatest(
        F.least(
            F.floor(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                / 30
            ),
            F.lit(3),
        ),
        F.lit(-1),
    ).cast("long")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(band.alias("delay_band"))
        .agg(
            F.count_if(hi).alias("high_line_count"),
            F.count_if(~hi).alias("low_line_count"),
        )
        .orderBy("delay_band")
    )


_SQL_SHIP_DELAY_DIST = """
    SELECT greatest(least(
             CAST(floor(date_diff('day', o_orderdate, l_shipdate)
                        / 30.0) AS BIGINT), 3), -1) AS delay_band,
           CAST(count(*) FILTER (o_orderpriority IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
           CAST(count(*) FILTER (o_orderpriority NOT IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    ORDER BY delay_band
"""


def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count per part attribute, with a
    NOT-IN exclusion): distinct suppliers able to supply each
    (brand, size-band) bucket, excluding "complaint" suppliers
    (negative balance — the testdata's stand-in for the comment
    filter). Supply relationships derive from observed lineitem
    (part, supplier) pairs (no ``partsupp`` table): ONE pair rollup on
    the fact table, a broadcast ANTI join for the exclusion, a
    broadcast part join, then a count-distinct whose Expand runs over
    the already-deduplicated pair rollup, never the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    complaints = s.filter("s_acctbal < 0").select("s_suppkey")
    return (
        pairs.join(
            F.broadcast(complaints),
            pairs.l_suppkey == complaints.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(
            "p_brand",
            (F.col("p_size") - (F.col("p_size") % 10))
            .cast("long")
            .alias("size_band"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "size_band"
        )
    )


_SQL_SUPPLIER_CNT = """
    SELECT p_brand,
           CAST(p_size - (p_size % 10) AS BIGINT) AS size_band,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size - (p_size % 10)
    ORDER BY supplier_cnt DESC, p_brand, size_band
"""


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (correlated half-sum threshold → two-level
    aggregate): suppliers who shipped MORE THAN HALF of some
    multi-supplier part's total 1996 volume — Q20's "excess stock"
    predicate re-expressed over shipped quantities (no ``partsupp`` in
    the testdata). The correlated subquery decorrelates into a
    (part, supplier) rollup joined to its own per-part rollup on the
    part key — both aggregates map-side combined, the join key the
    rollup's own grouping prefix (no re-shuffle of the bigger side).
    Quantities are integral doubles, so the half-sum compare
    (``2·sqty > tqty``) is exact and portable."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    yr = li.filter(
        "l_shipdate >= TIMESTAMP '1996-01-01'"
        " AND l_shipdate < TIMESTAMP '1997-01-01'"
    )
    pair = yr.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("_sqty")
    )
    per_part = pair.groupBy("l_partkey").agg(
        F.sum("_sqty").alias("_tqty"),
        F.count(F.lit(1)).alias("_nsupp"),
    )
    dom = (
        pair.join(per_part, "l_partkey")
        .filter("_nsupp > 1 AND _sqty * 2 > _tqty")
        .select("l_suppkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )
    return (
        dom.join(F.broadcast(s), dom.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_name",
            F.col("n_name").alias("nation"),
            "n_dominant_parts",
        )
        .orderBy(F.col("n_dominant_parts").desc(), "s_name")
    )


_SQL_DOMINANT_SUPPLIERS = """
    WITH pair AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS sqty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
      SELECT l_partkey, sum(sqty) AS tqty, count(*) AS nsupp
      FROM pair GROUP BY l_partkey
    ),
    dom AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_dominant_parts
      FROM pair JOIN per_part USING (l_partkey)
      WHERE nsupp > 1 AND sqty * 2 > tqty
      GROUP BY l_suppkey
    )
    SELECT s_name, n_name AS nation, n_dominant_parts
    FROM dom
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    ORDER BY n_dominant_parts DESC, s_name
"""


def q_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality classifier over documents —
    fastText-style scoring as a pure map (see
    operators/text.py linear_quality_score): tokenize, fold the in-row
    token array through hash→weight→add, sigmoid. No shuffle at all."""
    from obsplus_spark.operators.text import linear_quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return linear_quality_score(docs, dims=1024)


_SQL_LINEAR_QUALITY = """
    SELECT doc_id, n_tokens,
           round(margin, 6) AS margin,
           round(1.0 / (1.0 + exp(-margin)), 6) AS score,
           (1.0 / (1.0 + exp(-margin))) > 0.5 AS keep
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             list_sum(list_transform(toks, t ->
               CAST((('0x' || substr(md5(t), 1, 8))::BIGINT % 1024)
                    * 2654435761 % 4096 AS DOUBLE) / 4096.0 - 0.5))
               / sqrt(CAST(len(toks) AS DOUBLE)) AS margin
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\\s+')
               END AS toks
        FROM documents
      )
      WHERE len(toks) > 0
    )
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for documents against the 'src0' target
    slice (operators/text.py dsir_importance): hashed-unigram
    target/proposal models, one bucket aggregate + one broadcast join +
    one per-doc aggregate."""
    from obsplus_spark.operators.text import dsir_importance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_importance(docs, target_value="src0", dims=4096)


def _dsir_sql(target: str = "src0", dims: int = 4096) -> str:
    return f"""
    WITH occ AS (
      SELECT doc_id, source = '{target}' AS is_t,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {dims} AS bucket
      FROM (
        SELECT doc_id, source,
               unnest(CASE WHEN length(trim(text)) = 0 THEN []
                           ELSE string_split_regex(trim(lower(text)), '\\s+')
                      END) AS tok
        FROM documents
      )
    ),
    bc AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_all,
             CAST(count(*) FILTER (is_t) AS BIGINT) AS n_tgt
      FROM occ GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_all) AS DOUBLE) AS t_all,
             CAST(sum(n_tgt) AS DOUBLE) AS t_tgt
      FROM bc
    ),
    wt AS (
      SELECT bucket, ln(((n_tgt + 1) / (t_tgt + {dims}))
                        / ((n_all + 1) / (t_all + {dims}))) AS lw
      FROM bc CROSS JOIN tot
    )
    SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(w.lw), 6) AS log_weight
    FROM occ o JOIN wt w ON o.bucket = w.bucket
    GROUP BY o.doc_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup) over the embeddings table:
    deterministic IVF assignment (broadcast centroids), per-cluster
    BLAS gram pairs, min-id keep rule — every vector labeled
    keep/duplicate (operators/similarity.py semantic_dedup)."""
    from obsplus_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=4, threshold=0.3)
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        "is_dup",
        "dup_of",
    )


_SQL_SEMANTIC_DEDUP = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    vv AS (
      SELECT a.vec_id, a2.cluster AS cluster, a.ev,
             sqrt(list_dot_product(a.ev, a.ev)) AS nrm
      FROM v a JOIN asg a2 USING (vec_id)
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
      FROM vv a JOIN vv b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE coalesce(list_dot_product(a.ev, b.ev)
               / nullif(a.nrm * b.nrm, 0), 0) >= 0.3
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {spark, merge, vector}: zero
    keyed shuffles — in-row per-term tf, ONE single-row stats
    aggregate broadcast back, TakeOrdered (operators/text.py
    bm25_scores)."""
    from obsplus_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(docs, ["spark", "merge", "vector"], k=20)


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


def q_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-style join-cardinality estimation WITHOUT running the
    join: count-min sketches of the click and purchase user-id streams,
    inner-product bound (operators/sketches.py cms_join_size), emitted
    next to the exact join size so the bound quality is auditable.
    Everything after the two one-pass sketch builds is sketch-sized."""
    from obsplus_spark.operators.sketches import cms_counters, cms_join_size

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "CAST(user_id AS STRING) AS k"
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "CAST(user_id AS STRING) AS k"
    )
    est = cms_join_size(
        cms_counters(clicks, "k", depth=4, width=512),
        cms_counters(purchases, "k", depth=4, width=512),
    )
    exact = (
        clicks.groupBy("k")
        .agg(F.count(F.lit(1)).alias("_na"))
        .join(
            purchases.groupBy("k").agg(F.count(F.lit(1)).alias("_nb")),
            "k",
        )
        .agg(
            # double product: BIGINT na*nb throws under ANSI on a
            # ~3e9-count hot key (same class as the CMS counters)
            F.sum(F.col("_na").cast("double") * F.col("_nb"))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return est.crossJoin(exact).select(
        "est_join_size",
        "exact_join_size",
        F.round(
            F.col("est_join_size") / F.col("exact_join_size"), 6
        ).alias("inflation"),
    )


_SQL_JOIN_SIZE_EST = """
    WITH a AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE event_type = 'click'
    ),
    b AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE event_type = 'purchase'
    ),
    ca AS (
      SELECT j AS hrow,
             ('0x' || substr(md5(k) || substr(md5(k), 1, 6),
                             2 * j + 1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM a, unnest(range(0, 4)) AS u(j) GROUP BY 1, 2
    ),
    cb AS (
      SELECT j AS hrow,
             ('0x' || substr(md5(k) || substr(md5(k), 1, 6),
                             2 * j + 1, 8))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM b, unnest(range(0, 4)) AS u(j) GROUP BY 1, 2
    ),
    est AS (
      -- rows with zero bucket overlap bound the join at 0 — re-seat
      -- them with coalesce instead of letting the inner join drop them
      -- (mirrors sketches.cms_join_size)
      SELECT CAST(coalesce(min(coalesce(p.ip, 0)), 0) AS BIGINT)
               AS est_join_size
      FROM (SELECT hrow FROM ca UNION SELECT hrow FROM cb) r
      LEFT JOIN (
        SELECT x.hrow, sum(CAST(x.cnt AS DOUBLE) * y.cnt) AS ip
        FROM ca x JOIN cb y ON x.hrow = y.hrow AND x.bucket = y.bucket
        GROUP BY x.hrow
      ) p ON r.hrow = p.hrow
    ),
    ex AS (
      SELECT CAST(sum(CAST(na AS DOUBLE) * nb) AS BIGINT)
               AS exact_join_size FROM (
        SELECT k, count(*) AS na FROM a GROUP BY k
      ) JOIN (
        SELECT k, count(*) AS nb FROM b GROUP BY k
      ) USING (k)
    )
    SELECT est_join_size, exact_join_size,
           round(est_join_size / exact_join_size, 6) AS inflation
    FROM est CROSS JOIN ex
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis–Spirakis weighted sample: top-50 docs by
    u^(1/n_chars) with hash-derived uniforms — reproducible,
    subset-consistent weighted pick (operators/dedup.py
    weighted_sample); one scan + TakeOrdered."""
    from obsplus_spark.operators.dedup import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = weighted_sample(docs, weight_col="n_chars", k=50)
    return out.select(
        "doc_id", "n_chars", F.round("sample_key", 8).alias("sample_key")
    )


_SQL_WEIGHTED_SAMPLE = """
    SELECT doc_id, n_chars, round(sk, 8) AS sample_key
    FROM (
      SELECT doc_id, n_chars,
             pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))
                    ::BIGINT + 0.5) / 4294967296.0,
                 1.0 / CAST(n_chars AS DOUBLE)) AS sk
      FROM documents
      WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
        AND n_chars > 0
    )
    -- order by the FULL-PRECISION key (aliasing it sample_key in the
    -- outer select would rebind ORDER BY to the 8-dp ROUNDED value and
    -- let rank-50 ties resolve differently than the Spark side)
    ORDER BY sk DESC, doc_id
    LIMIT 50
"""


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature framing: per-user PCM16 sample streams (same
    trunc-quantization as wav_roundtrip) framed into 256-sample windows
    with exact integer energy, zero crossings, and RMS — one
    user-keyed shuffle shared by the ordering window and the frame
    aggregate (operators/multimodal.py frame_signal_features)."""
    from obsplus_spark.operators.multimodal import frame_signal_features

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .selectExpr(
            "user_id",
            "event_id",
            "ts",
            # Spark's double→BIGINT cast truncates toward zero (trunc()
            # here is date-only); the DuckDB twin needs an explicit
            # trunc() because ITS cast rounds — the documented pair
            "CAST((2.0D * (value - floor(value)) - 1.0D) * 32767.0D"
            " AS BIGINT) AS k",
        )
    )
    return frame_signal_features(
        ev,
        frame_len=256,
        id_col="user_id",
        order_cols=("ts", "event_id"),
        sample_col="k",
    )


_SQL_AUDIO_FRAMES = """
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(trunc((2.0 * (value - floor(value)) - 1.0) * 32767.0)
               AS BIGINT) AS k
      FROM events WHERE value IS NOT NULL
    ),
    o AS (
      SELECT user_id, k,
             row_number() OVER w - 1 AS rn,
             lag(k) OVER w AS pk
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           rn // 256 AS frame_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(k * k) AS BIGINT) AS energy,
           CAST(count(*) FILTER (k * pk < 0) AS BIGINT) AS zero_crossings,
           round(sqrt(sum(k * k) / count(*)), 9) AS rms
    FROM o
    GROUP BY user_id, rn // 256
"""


#: fixed merge list for the bpe_encode demo (production loads the
#: tokenizer's merges.txt; the operator takes any list)
_BPE_MERGES = [
    ("s", "p"), ("a", "r"), ("ar", "k"), ("sp", "ark"),
    ("m", "e"), ("r", "g"), ("me", "rg"),
    ("j", "o"), ("i", "n"), ("jo", "in"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application (the encode side of bpe_pairs): 10 chained
    plan-time regexp merges over the in-row word arrays — pure map, no
    shuffle (operators/text.py bpe_apply)."""
    from obsplus_spark.operators.text import bpe_apply

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_apply(docs, _BPE_MERGES)


def _bpe_encode_sql(merges: "list[tuple[str, str]]") -> str:
    expr = "array_to_string(string_split(w, ''), ' ')"
    for a, b in merges:
        expr = f"regexp_replace({expr}, '{a} {b}', '{a}{b}', 'g')"
    return f"""
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(enc,
                 e -> len(string_split(e, ' ')))) AS BIGINT) AS n_bpe_tokens,
           array_to_string(enc[1:5], ' | ') AS head_encoding
    FROM (
      SELECT doc_id, words, list_transform(words, w -> {expr}) AS enc
      FROM (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE string_split_regex(trim(lower(text)), '\\s+')
               END AS words
        FROM documents
      )
      WHERE len(words) > 0
    )
"""


def q_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch grid per user image: the deterministic byte
    stream becomes an H×16 grayscale image, round-trips the PPM codec,
    and a 4×4 patch grid reports exact integer sums + means
    (operators/codecs.py patch_grid_sums — one vectorized reshape-sum,
    emitted as an array and exploded to patch rows). Same
    sorted_group_apply harness as the other codec queries: one Arrow
    stream per partition, no per-group pandas objects."""
    from obsplus_spark.util import sorted_group_apply

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            F.col("event_id") * 256 + (F.col("event_id") * 37 + 11) % 256
        ).alias("pk"),
    )

    def _emit(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import (
            decode_ppm,
            encode_ppm,
            patch_grid_sums,
        )

        x = np.sort(
            chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        )
        b = (x % 256).astype(np.uint8)
        h = len(b) // 16
        img = decode_ppm(encode_ppm(b[: h * 16].reshape(h, 16)))
        rows, cols, sums = patch_grid_sums(img, 4)
        return (int(user_id), rows, cols, [int(s) for s in sums])

    grids = sorted_group_apply(
        ev,
        "user_id",
        _emit,
        "user_id long, p_rows int, p_cols int, sums array<bigint>",
    )
    return grids.selectExpr(
        "user_id",
        "posexplode(sums) AS (pos, pix_sum)",
    ).selectExpr(
        "user_id",
        "CAST(pos DIV 4 AS BIGINT) AS patch_row",
        "CAST(pos % 4 AS BIGINT) AS patch_col",
        "pix_sum",
        "round(pix_sum / 16.0D, 6) AS mean_intensity",
    )


_SQL_IMAGE_PATCHES = """
    WITH s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               - 1 AS i,
             (event_id * 37 + 11) % 256 AS b,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT user_id,
           (i // 16) // 4 AS patch_row,
           (i % 16) // 4 AS patch_col,
           CAST(sum(b) AS BIGINT) AS pix_sum,
           round(sum(b) / 16.0, 6) AS mean_intensity
    FROM s
    WHERE i < ((n // 16) // 4) * 4 * 16
    GROUP BY user_id, (i // 16) // 4, (i % 16) // 4
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the bidirectional supplier↔customer
    co-shipment graph (prefixed node ids keep the two key spaces
    disjoint): hop tiers from suppliers s1/s2 within 3 hops —
    operators/graph.py bfs_distances, rounds unrolled into one
    statement, min-layering exact."""
    from obsplus_spark.operators.graph import bfs_distances

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # projected orders side broadcasts under the shared size gate
    # (keyed shuffle join at 100 TB)
    if _orders_dim_small(sf_dir):
        orders = F.broadcast(orders)
    # bidirectional doubling via ONE in-row explode, not a UNION of two
    # references of the join (a twice-referenced lineage derives the
    # lineitem join twice at materialization); dedup + src-partitioned
    # persist now live INSIDE bfs_distances — the r8 hoist that stops
    # each hop re-exchanging the edge frame (the distinct also
    # collapses the ~4× per-lineitem duplicate pairs there).
    # r12 (guide §2.3 "narrower types"): the BFS rounds run on BIGINT
    # node ids — supplier k ↦ 2k+1, customer k ↦ 2k (disjoint like the
    # old 's'/'c' prefixes) — so the 1.2M-pair edge distinct, the
    # src-keyed exchange, and every per-hop join shuffle/compare 8-byte
    # longs instead of ~10-byte strings; the prefixed-string ids the
    # oracle sees are reconstructed on the node-sized OUTPUT only
    # (node DIV 2 inverts both encodings; parity selects the prefix).
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .selectExpr(
            "explode(array("
            "  named_struct('src', 2 * CAST(l_suppkey AS BIGINT) + 1,"
            "               'dst', 2 * CAST(o_custkey AS BIGINT)),"
            "  named_struct('src', 2 * CAST(o_custkey AS BIGINT),"
            "               'dst', 2 * CAST(l_suppkey AS BIGINT) + 1)"
            ")) AS e"
        )
        .select("e.src", "e.dst")
    )
    # sources s1, s2 ↦ 2·1+1, 2·2+1
    d = bfs_distances(edges, [3, 5], max_hops=3)
    return d.selectExpr(
        "concat(CASE WHEN node % 2 = 1 THEN 's' ELSE 'c' END,"
        " CAST(node DIV 2 AS STRING)) AS node",
        "dist",
    )


_SQL_BFS = """
    WITH ship AS (
      -- NULL endpoints excluded per the engine's edge contract
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_suppkey IS NOT NULL AND o_custkey IS NOT NULL
    ),
    e AS (
      SELECT src, dst FROM ship
      UNION ALL
      SELECT dst AS src, src AS dst FROM ship
    ),
    d0 AS (SELECT node, 0 AS dist FROM (VALUES ('s1'), ('s2')) t(node)),
    d1 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d0 d JOIN e ON d.node = e.src
        WHERE d.dist = 0
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d1 d JOIN e ON d.node = e.src
        WHERE d.dist = 1
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d2 d JOIN e ON d.node = e.src
        WHERE d.dist = 2
      ) GROUP BY node
    )
    SELECT node, dist FROM d3
"""


def q_hits_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS (hubs & authorities) over the directed
    customer→supplier purchase graph: top-20 authority suppliers —
    operators/graph.py hits_scores, iterations unrolled, all-BIGINT
    intermediates (no per-round float normalizer), per half-round one
    keyed join + one map-combined aggregate."""
    from obsplus_spark.operators.graph import hits_scores

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # the projected two-column orders side broadcasts under the same
    # deterministic size gate as the TPC-H shapes (at 100 TB the gate
    # flips and the edge build becomes a keyed shuffle join)
    if _orders_dim_small(sf_dir):
        o = F.broadcast(o)
    # hits_scores dedups + persists the edge frame internally (the
    # unrolled statement references it once per half-round).
    # Narrow node keys (guide §2.3): the rounds run on a BIGINT fold —
    # customer k ↦ 2k+1 (odd), supplier k ↦ 2k (even), injective and
    # disjoint exactly like the 'c'/'s' string prefixes — so the edge
    # dedup shuffle and every per-round join/aggregate move and hash
    # 8-byte longs instead of ~14-byte strings; node_decode rebuilds
    # the prefixed strings only in the final node-count-sized
    # projection, BEFORE the top-k ordering, so the output (including
    # string tie order) is row-identical to the string pipeline.
    # concat('c', NULL) is NULL exactly as 2*NULL+1 is, so the
    # operator's NULL-endpoint filter sees the same rows.
    edges = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "CAST(2 * o_custkey + 1 AS BIGINT) AS src",
        "CAST(2 * l_suppkey AS BIGINT) AS dst",
    )
    # the authority side of this bipartite graph is the SUPPLIER node
    # set — dimension-bounded (≪ orders), so whenever orders itself is
    # broadcastable the per-round auth vectors certainly are: the
    # dst-joins become map-side and a full HITS round costs one
    # map-combined exchange (see hits_scores scale-shape note). At
    # 100 TB the same gate flips the operator back to co-partitioned
    # shuffle joins.
    return hits_scores(
        edges, iterations=2, k=20,
        broadcast_auth=_orders_dim_small(sf_dir),
        node_decode=(
            "CASE WHEN node % 2 = 1"
            " THEN concat('c', CAST((node - 1) DIV 2 AS STRING))"
            " ELSE concat('s', CAST(node DIV 2 AS STRING)) END"
        ),
    )


_SQL_HITS = """
    WITH edges AS (
      -- NULL endpoints excluded per the engine's edge contract
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    a1 AS (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS auth
      FROM edges GROUP BY dst
    ),
    h1 AS (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS hub
      FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY e.src
    ),
    a2 AS (
      SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS auth
      FROM edges e JOIN h1 h ON e.src = h.node GROUP BY e.dst
    ),
    h2 AS (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS hub
      FROM edges e JOIN a2 a ON e.dst = a.node GROUP BY e.src
    )
    SELECT n.node AS node,
           CAST(coalesce(a.auth, 0) AS BIGINT) AS auth,
           CAST(coalesce(h.hub, 0) AS BIGINT) AS hub
    FROM nodes n
    LEFT JOIN a2 a ON n.node = a.node
    LEFT JOIN h2 h ON n.node = h.node
    ORDER BY auth DESC, hub DESC, n.node
    LIMIT 20
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 4 rounds) on a hash-folded sparse
    orders graph — operators/graph.py k_core_peel: each round
    references the previous edge set exactly ONCE (explode + window
    degree + min-degree HAVING), dodging the 3^rounds CTE-inlining
    blowup of the naive degree-join formulation."""
    from obsplus_spark.operators.graph import k_core_peel

    o = _t(spark, sf_dir, "orders")
    # a different fold than triangle_count's graph: 4001-bucket node
    # space with a multiplicative scramble on the order side keeps the
    # graph sparse (mean degree ~7 at sf0.01) so the peel cascades
    edges = o.selectExpr(
        "o_custkey % 4001 AS src", "(o_orderkey * 7 + 3) % 4001 AS dst"
    )
    # node space is folded to 4001 buckets BY CONSTRUCTION (any sf), so
    # the surviving-node set is provably broadcast-safe: each peel round
    # becomes one map-combined degree aggregate + two map-side
    # semi-joins — zero edge shuffles/sorts (the window form pays an
    # explode-width exchange + sort per round). On an unbounded node
    # space leave the gate off.
    # r12: 2 rounds + the zero-stage convergence guard instead of 4
    # blind rounds — the peel reaches its fixed point at round 2 on all
    # three SFs (r4/r3/r2 outputs verified row-identical), every output
    # degree ≥ k is a fixed point so further rounds provably change
    # nothing, and require_converged raises LOUDLY at runtime if a
    # deeper cascade ever appears rather than silently diverging from
    # the oracle's 4-round closure. Two dropped rounds = two degree
    # aggregates + two persisted edge generations fewer per rep.
    return k_core_peel(
        edges, k=3, rounds=2, broadcast_degrees=True,
        require_converged=True,
    )


def _k_core_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    """DuckDB twin of k_core_peel, in the straightforward degree-table
    formulation — semantically identical to the engine's
    single-reference explode/window form. Every CTE is ``AS
    MATERIALIZED``: each edge set is referenced three times (degree
    table twice via the endpoint joins, next round once), and DuckDB's
    optimizer may otherwise inline per reference — the same 3^rounds
    re-derivation blowup the engine dodges structurally (observed: OOM
    at the dense synthetic sf1 graph without the hint)."""
    parts = [
        """
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(o_custkey % 4001, (o_orderkey * 7 + 3) % 4001)
               AS a,
             greatest(o_custkey % 4001, (o_orderkey * 7 + 3) % 4001) AS b
      FROM orders
      WHERE o_custkey % 4001 <> (o_orderkey * 7 + 3) % 4001
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f"""
    d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}
      ) GROUP BY node HAVING count(*) >= {k}
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i} e
      JOIN d{i} x ON e.a = x.node
      JOIN d{i} y ON e.b = y.node
    )"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
    ) GROUP BY node
"""
    )


def q_trend_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value vs days-since-first-event —
    operators/sessions.py ols_trends: closed-form slope/intercept/r²
    from sufficient statistics, integer day re-basing keeps the
    denominator exact (ns-epoch squares would shred double precision);
    one user-keyed exchange shared by the re-basing window and the
    stats aggregate."""
    from obsplus_spark.operators.sessions import ols_trends

    ev = _t(spark, sf_dir, "events").select(
        "user_id", _ts_ns().alias("t_ns"), "value"
    )
    return ols_trends(ev, "user_id", "t_ns", "value")


_SQL_TRENDS = """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS t_ns, value AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    b AS (
      SELECT user_id,
             CAST((t_ns - min(t_ns) OVER (PARTITION BY user_id))
               // 86400000000000 AS DOUBLE) AS x,
             y
      FROM e
    ),
    a AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM b GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round((n * sxy - sx * sy)
                           / (n * sxx - sx * sx), 6) END AS slope,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round((sy - sx * (n * sxy - sx * sy)
                            / (n * sxx - sx * sx)) / n, 6)
           END AS intercept,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0
                THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx)
                              * (n * syy - sy * sy)), 6)
           END AS r2
    FROM a
"""


def q_bigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM bits (add-0.5 smoothing, corpus-fit) —
    operators/text.py bigram_logprob: in-row bigram expansion, one
    (doc,w1,w2) aggregate, keyed bigram-vocabulary probe join (NOT
    broadcast — bigram tables are corpus-sized at scale), broadcast
    unigram-sized left-context table."""
    from obsplus_spark.operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs)


_SQL_BIGRAM_LP = r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
      WHERE length(trim(text)) > 0
        AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2
    ),
    occ AS (
      SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
        FROM docs)
    ),
    tf AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
      FROM occ GROUP BY doc_id, w1, w2
    ),
    bg AS (
      SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt
      FROM tf GROUP BY w1, w2
    ),
    lc AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS left_cnt
      FROM occ GROUP BY w1
    ),
    v AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsize
      FROM (SELECT unnest([w1, w2]) AS tok FROM occ)
    )
    SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           round(-sum(t.tf * ln((b.cnt + 0.5)
                                / (l.left_cnt + 0.5 * v.vsize))
                      / ln(2.0)) / sum(t.tf), 6) AS bits_per_bigram
    FROM tf t
    JOIN bg b ON t.w1 = b.w1 AND t.w2 = b.w2
    JOIN lc l ON t.w1 = l.w1
    CROSS JOIN v
    GROUP BY t.doc_id
"""


def q_bool_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive AND retrieval for ('spark', 'merge', 'vector') —
    operators/text.py conjunctive_search: scan-level token filter, one
    (doc, token) + one doc aggregate, count(DISTINCT)=|terms| coverage
    test, integer TakeOrdered top-20. No joins."""
    from obsplus_spark.operators.text import conjunctive_search

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return conjunctive_search(docs, ["spark", "merge", "vector"], k=20)


_SQL_BOOL_SEARCH = r"""
    WITH hits AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\s+'),
                 t -> t IN ('spark', 'merge', 'vector'))) AS tok
        FROM documents WHERE length(trim(text)) > 0)
      GROUP BY doc_id, tok
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
    FROM hits
    GROUP BY doc_id
    HAVING count(DISTINCT tok) = 3
    ORDER BY total_tf DESC, doc_id
    LIMIT 20
"""


def q_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance purge audit: tombstoned customers (custkey % 97 = 0)
    cascade through orders to lineitem — operators/joins.py
    cascade_delete: per level one keyed semi join deriving the
    persisted banned-PK frame + count aggregates; banned frames are
    key-sized and AQE-broadcastable."""
    from obsplus_spark.operators.joins import cascade_delete

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    roots = cust.where("c_custkey % 97 = 0").select("c_custkey")
    # banned-key frames here are ≤ 1/97 of customer keys and their
    # order keys — broadcast-sized whenever orders itself is (the
    # shared gate); under the bench's AQE-off session this stops every
    # level sort-merging the full fact table
    return cascade_delete(
        roots,
        [
            ("customer", cust, "c_custkey", "c_custkey"),
            ("orders", orders, "o_custkey", "o_orderkey"),
            ("lineitem", li, "l_orderkey", None),
        ],
        broadcast_keys=_orders_dim_small(sf_dir),
    )


_SQL_CASCADE = """
    WITH bc AS (
      SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
    ),
    bo AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_custkey IN (SELECT k FROM bc)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM customer
                 WHERE c_custkey IN (SELECT k FROM bc)) AS BIGINT)
             AS n_purged,
           CAST((SELECT count(*) FROM customer)
                - (SELECT count(*) FROM customer
                   WHERE c_custkey IN (SELECT k FROM bc)) AS BIGINT)
             AS n_kept
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey IN (SELECT k FROM bc)) AS BIGINT),
           CAST((SELECT count(*) FROM orders)
                - (SELECT count(*) FROM orders
                   WHERE o_custkey IN (SELECT k FROM bc)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT k FROM bo)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem)
                - (SELECT count(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT k FROM bo)) AS BIGINT)
"""


def q_phash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide (256-bit) perceptual-hash near-dup — codecs.
    average_hash_wide + dedup.phash_near_dup_wide: the corpus-scale
    escape for 16-bit band birthday saturation (VERDICT r9 weak #1).
    Fixed 64×64 per-user image from (event count, user class) with a
    one-pixel per-user perturbation, PPM codec round-trip, 16×16-cell
    integer aHash → eight 32-bit words, 32-bit LSH bands through the
    sparse two-pass bucket pairing, zip_with popcount verify."""
    from obsplus_spark.operators.dedup import phash_near_dup_wide
    from obsplus_spark.util import sorted_group_apply

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")

    def _emit(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import (
            average_hash_wide,
            decode_ppm,
            encode_ppm,
        )

        # the image depends only on (stream length, user class) plus a
        # single user-keyed perturbed pixel — same rule as the DuckDB
        # twin, order-free, so event ids never need sorting.
        # abs() before %: Python % is floor-mod (always >= 0) while the
        # oracle's SQL % follows the sign, so a negative user_id would
        # silently diverge — abs makes both sides read the same pixel
        # (ADVICE r10 #4).
        n = sum(len(c) for c in chunks)
        u = int(user_id)
        i = np.arange(64 * 64, dtype=np.int64)
        b = ((i * 37 + (abs(u) % 5) * 11 + n * 13) % 256).astype(np.uint8)
        p = abs(u) % 4096
        b[p] = (int(b[p]) + 128) % 256
        img = decode_ppm(encode_ppm(b.reshape(64, 64)))
        return (u, [int(w) for w in average_hash_wide(img)])

    hashes = sorted_group_apply(
        ev, "user_id", _emit, "user_id long, words array<long>"
    )
    hashes = hashes.persist()
    register_shingle_cache(hashes)
    return phash_near_dup_wide(
        hashes, max_hamming=16, id_col="user_id", words_col="words"
    )


_SQL_PHASH_WIDE = """
    WITH u AS (
      SELECT user_id, count(*) AS n FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    px AS (
      -- abs() before %: sign-stable twin of the engine kernel's
      -- floor-mod (ADVICE r10 #4)
      SELECT u.user_id,
             CAST(s.i AS BIGINT) AS i,
             CASE WHEN s.i = abs(u.user_id) % 4096
                  THEN ((s.i * 37 + (abs(u.user_id) % 5) * 11 + u.n * 13)
                        % 256 + 128) % 256
                  ELSE (s.i * 37 + (abs(u.user_id) % 5) * 11 + u.n * 13)
                       % 256
             END AS b
      FROM u, unnest(range(4096)) AS s(i)
    ),
    cells AS (
      SELECT user_id,
             ((i // 64) // 4) * 16 + ((i % 64) // 4) AS cell,
             sum(b) AS cs
      FROM px GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, sum(cs) AS total FROM cells GROUP BY user_id),
    bits AS (
      SELECT c.user_id, c.cell,
             CASE WHEN c.cs * 256 > t.total THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (user_id)
    ),
    words AS (
      SELECT user_id, CAST(cell // 32 AS BIGINT) AS j,
             CAST(sum(bit * (1::BIGINT << CAST(cell % 32 AS INTEGER)))
                  AS BIGINT) AS w
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.user_id AS id1, b.user_id AS id2
      FROM words a JOIN words b
        ON a.j = b.j AND a.w = b.w AND a.user_id < b.user_id
    )
    SELECT c.id1, c.id2, CAST(hamming AS INTEGER) AS hamming
    FROM (
      SELECT c.id1, c.id2,
             sum(CAST(bit_count(xor(x.w, y.w)) AS INTEGER)) AS hamming
      FROM cand c
      JOIN words x ON x.user_id = c.id1
      JOIN words y ON y.user_id = c.id2 AND y.j = x.j
      GROUP BY c.id1, c.id2
    ) c
    WHERE hamming <= 16
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash: per-user grayscale images
    (class-correlated pixel streams so true near-dups exist) round-trip
    the PPM codec, hash via codecs.average_hash (exact integer
    cell-vs-global-mean rule), then dedup.phash_near_dup bands the 64
    bits into 4×16-bit LSH buckets and popcount-verifies collisions —
    the multimodal leg of the near-dup family, never all-pairs."""
    from obsplus_spark.operators.dedup import phash_near_dup
    from obsplus_spark.util import sorted_group_apply

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")

    def _emit(user_id, chunks):
        import numpy as np

        from obsplus_spark.operators.codecs import (
            average_hash,
            decode_ppm,
            encode_ppm,
        )

        # pixels depend only on (per-user index, user class), so the
        # event ids never need sorting — only the stream length matters
        n = sum(len(c) for c in chunks)
        i = np.arange(n, dtype=np.int64)
        b = ((i * 37 + (int(user_id) % 5) * 11) % 256).astype(np.uint8)
        h = n // 16
        if h < 4:
            return (int(user_id), None, None)
        img = decode_ppm(encode_ppm(b[: h * 16].reshape(h, 16)))
        lo, hi = average_hash(img)
        return (int(user_id), lo, hi)

    hashes = sorted_group_apply(
        ev, "user_id", _emit, "user_id long, h_lo long, h_hi long"
    ).where("h_lo IS NOT NULL")
    # the hash table feeds the banding explode AND both verify joins —
    # persist so the codec pass runs once (bounded ring releases it)
    hashes = hashes.persist()
    register_shingle_cache(hashes)
    return phash_near_dup(
        hashes, max_hamming=8, id_col="user_id", lo_col="h_lo", hi_col="h_hi"
    )


_SQL_IMAGE_PHASH = """
    WITH s AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               - 1 AS i,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE user_id IS NOT NULL
    ),
    px AS (
      SELECT user_id,
             (i * 37 + (user_id % 5) * 11) % 256 AS b,
             i // 16 AS row_idx, i % 16 AS col_idx,
             (n // 16) // 4 AS ch
      FROM s
      WHERE n // 16 >= 4 AND i // 16 < ((n // 16) // 4) * 4
    ),
    cells AS (
      SELECT user_id, row_idx // ch AS r, col_idx AS c,
             CAST(sum(b) AS BIGINT) AS cs
      FROM px GROUP BY user_id, row_idx // ch, col_idx
    ),
    tot AS (
      SELECT user_id, CAST(sum(cs) AS BIGINT) AS total
      FROM cells GROUP BY user_id
    ),
    bits AS (
      SELECT cells.user_id, r * 16 + c AS k
      FROM cells JOIN tot USING (user_id)
      WHERE cs * 64 > total
    ),
    users AS (SELECT DISTINCT user_id FROM px),
    hs AS (
      SELECT u.user_id,
             CAST(coalesce(sum(CASE WHEN b.k < 32
                    THEN (CAST(1 AS BIGINT) << b.k) END), 0) AS BIGINT)
               AS h_lo,
             CAST(coalesce(sum(CASE WHEN b.k >= 32
                    THEN (CAST(1 AS BIGINT) << (b.k - 32)) END), 0)
                  AS BIGINT) AS h_hi
      FROM users u LEFT JOIN bits b USING (user_id)
      GROUP BY u.user_id
    ),
    bands AS (
      SELECT user_id, band,
             (CASE band WHEN 0 THEN h_lo WHEN 1 THEN h_lo // 65536
                        WHEN 2 THEN h_hi ELSE h_hi // 65536 END) % 65536
               AS bh
      FROM hs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.user_id AS id1, b.user_id AS id2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.user_id < b.user_id
    )
    SELECT c.id1, c.id2,
           CAST(bit_count(xor(x.h_lo, y.h_lo))
                + bit_count(xor(x.h_hi, y.h_hi)) AS INT) AS hamming
    FROM cand c
    JOIN hs x ON c.id1 = x.user_id
    JOIN hs y ON c.id2 = y.user_id
    WHERE bit_count(xor(x.h_lo, y.h_lo))
          + bit_count(xor(x.h_hi, y.h_hi)) <= 8
"""


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style activity segmentation: the audio_frames feature table
    (per-user PCM16 framing) thresholded on exact integer energy, runs
    of consecutive active frames merged via the gaps-and-islands
    difference trick — operators/multimodal.py activity_segments; the
    framing window, run window, and segment aggregate all ride ONE
    user-keyed exchange."""
    from obsplus_spark.operators.multimodal import (
        activity_segments,
        frame_signal_features,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .selectExpr(
            "user_id",
            "event_id",
            "ts",
            "CAST((2.0D * (value - floor(value)) - 1.0D) * 32767.0D"
            " AS BIGINT) AS k",
        )
    )
    frames = frame_signal_features(
        ev,
        frame_len=256,
        id_col="user_id",
        order_cols=("ts", "event_id"),
        sample_col="k",
    )
    return activity_segments(
        frames, threshold=23_000_000_000, id_col="user_id"
    )


_SQL_AUDIO_SEGMENTS = """
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(trunc((2.0 * (value - floor(value)) - 1.0) * 32767.0)
               AS BIGINT) AS k
      FROM events WHERE value IS NOT NULL
    ),
    o AS (
      SELECT user_id, k, row_number() OVER w - 1 AS rn
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    fr AS (
      SELECT user_id, rn // 256 AS frame_idx,
             CAST(sum(k * k) AS BIGINT) AS energy
      FROM o GROUP BY user_id, rn // 256
    ),
    act AS (
      SELECT user_id, frame_idx, energy,
             frame_idx - row_number() OVER (PARTITION BY user_id
                 ORDER BY frame_idx) AS run
      FROM fr WHERE energy > 23000000000
    )
    SELECT user_id,
           CAST(min(frame_idx) AS BIGINT) AS start_frame,
           CAST(max(frame_idx) AS BIGINT) AS end_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS total_energy
    FROM act
    GROUP BY user_id, run
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring runs (3-gram chains, runs ≥ 2) —
    operators/dedup.py duplicated_spans: in-row gram hashes with
    positions, gram-keyed frequency window, doc-keyed run detection;
    the exact-substring-dedup signal beyond span mass."""
    from obsplus_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_spans(docs, n=3, min_run=2)


_SQL_DUP_SPANS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c > 1
    ),
    runs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS rg
      FROM d GROUP BY doc_id, run
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(rg) AS BIGINT) AS max_run_grams,
           CAST(max(rg) + 2 AS BIGINT) AS max_span_tokens
    FROM runs WHERE rg >= 2
    GROUP BY doc_id
"""


def q_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granularity exact-substring dedup — operators/dedup.py
    exact_substring_spans: every maximal run of corpus-duplicated
    3-gram positions emitted as an explicit cuttable token span
    (start, gram count, token length), the removal-step input of a
    Lee-et-al exact-substring pass; dup_spans reports only per-doc
    statistics over the same runs."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_spans(docs, n=3, min_run=2, min_count=2)


_SQL_EXACT_SPANS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(count(*) AS BIGINT) AS span_grams,
           CAST(count(*) + 2 AS BIGINT) AS span_tokens
    FROM d
    GROUP BY doc_id, run
    HAVING count(*) >= 2
"""


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL — operators/dedup.py cut_spans applied
    to exact_substring_spans output (cut-all-occurrences policy):
    every corpus-duplicated gram run is excised from the canonical
    token stream; cleaned text + removed-token count per document.
    Spans fold to one array row per doc, ONE id-keyed left join, the
    keep test is a pure in-row filter."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return cut_spans(docs, spans)


_SQL_CUT_SPANS = r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, count(*) + 2 AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i + 1] AS tok
      FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM t)
    ),
    kept AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS txt,
             count(*) AS n
      FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tok.doc_id
          AND tok.pos >= s.s AND tok.pos < s.s + s.l
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN t.w IS NULL THEN NULL
                ELSE coalesce(k.txt, '') END AS text,
           CAST(CASE WHEN t.w IS NULL THEN NULL
                     ELSE len(t.w) - coalesce(k.n, 0) END AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


def q_span_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-copy span election — operators/dedup.py
    keep_first_occurrence over exact_substring_spans output: group
    span occurrences by region content (the canonical token slice;
    engine hashes it with xxhash64, the twin groups the slice string —
    the accepted digest argument), keep the min-(doc_id, span_start)
    occurrence, return the rest — the exact span set cut_spans needs
    so one copy of each duplicated region survives corpus-wide (Lee
    et al. keep-one rule). One id-keyed join + one region-keyed
    window over the span frame."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return keep_first_occurrence(docs, spans)


_SQL_SPAN_KEEP_ONE = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT s.doc_id, s.s, s.l,
             array_to_string(list_slice(t.w, s.s + 1, s.s + s.l), ' ')
               AS region
      FROM spans s JOIN t ON t.doc_id = s.doc_id
    )
    SELECT doc_id, s AS span_start, l AS span_tokens
    FROM (
      SELECT doc_id, s, l,
             row_number() OVER (PARTITION BY region
                 ORDER BY doc_id, s) AS rn
      FROM r
    )
    WHERE rn > 1
"""


def q_span_store_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring spans driven by a PRECOMPUTED gram-frequency
    store — operators/dedup.py exact_substring_spans(freqs=):
    the gram-keyed count window is replaced by one gram-keyed left
    join against gram_frequencies output, skipping the second
    corpus pass. Same store = same spans, so the oracle is
    exact_spans' twin verbatim."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        gram_frequencies,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = gram_frequencies(docs, n=3)
    return exact_substring_spans(
        docs, n=3, min_run=2, min_count=2, freqs=store
    )


def q_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed per-document precision/recall of the MinHash clustering
    against exact-fingerprint truth — operators/dedup.py bcubed_eval:
    the equal-doc-weight average that pairwise counts can't give (one
    giant cluster dominates C(n,2) mass); folds through the same
    (fingerprint x cluster) cell table as dedup_pair_eval, two
    dimension-sized windows, nothing per-doc materializes."""
    from obsplus_spark.operators.dedup import (
        bcubed_eval,
        dedup_clusters,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return bcubed_eval(docs, labels)


def _bcubed_sql() -> str:
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    cells AS (
      SELECT md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
               AS fp,
             coalesce(l.cluster_id, d.doc_id) AS cl,
             CAST(count(*) AS BIGINT) AS k
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
      WHERE d.text IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT k,
             sum(k) OVER (PARTITION BY cl) AS cn,
             sum(k) OVER (PARTITION BY fp) AS tn
      FROM cells
    ),
    s AS (
      SELECT CAST(sum(k) AS BIGINT) AS n_docs,
             sum(CAST(k AS DOUBLE) * k / CAST(cn AS DOUBLE)) AS sp,
             sum(CAST(k AS DOUBLE) * k / CAST(tn AS DOUBLE)) AS sr
      FROM w
    )
    SELECT n_docs,
           round(sp / n_docs, 6) AS bcubed_precision,
           round(sr / n_docs, 6) AS bcubed_recall,
           round(2 * (sp / n_docs) * (sr / n_docs)
                 / nullif(sp / n_docs + sr / n_docs, 0e0), 6)
             AS bcubed_f1
    FROM s
"""


def q_span_keep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Lee-et-al exact-substring pipeline in one row:
    find (exact_substring_spans) -> elect (keep_first_occurrence) ->
    cut (cut_spans) — every duplicated region survives in exactly its
    first-(doc_id, span_start) occurrence and is excised everywhere
    else; cleaned text + removed-token count per document. The
    keep-one composition cut_spans previously documented as caller
    policy, exercised end-to-end against a twin that composes the
    same three stages."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
        keep_first_occurrence,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return cut_spans(docs, keep_first_occurrence(docs, spans))


_SQL_SPAN_KEEP_CUT = r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    allspans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT a.doc_id, a.s, a.l,
             array_to_string(list_slice(t.w, a.s + 1, a.s + a.l), ' ')
               AS region
      FROM allspans a JOIN t ON t.doc_id = a.doc_id
    ),
    spans AS (
      SELECT doc_id, s, l
      FROM (
        SELECT doc_id, s, l,
               row_number() OVER (PARTITION BY region
                   ORDER BY doc_id, s) AS rn
        FROM r
      )
      WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i + 1] AS tok
      FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM t)
    ),
    kept AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS txt,
             count(*) AS n
      FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tok.doc_id
          AND tok.pos >= s.s AND tok.pos < s.s + s.l
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN t.w IS NULL THEN NULL
                ELSE coalesce(k.txt, '') END AS text,
           CAST(CASE WHEN t.w IS NULL THEN NULL
                     ELSE len(t.w) - coalesce(k.n, 0) END AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


def q_shared_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared duplicated region per document pair —
    operators/dedup.py shared_region_pairs over exact_substring_spans:
    region-keyed self-join on span CONTENT identity (engine hashes the
    token slice, the twin groups the slice string), hot regions
    capped at 64 occurrences (the winnowing stop-print rule). The
    exact-contiguous-run complement of containment/Jaccard pairs."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return shared_region_pairs(docs, spans, max_occurrences=64)


_SQL_SHARED_REGIONS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT s.doc_id, s.l,
             array_to_string(list_slice(t.w, s.s + 1, s.s + s.l), ' ')
               AS region
      FROM spans s JOIN t ON t.doc_id = s.doc_id
    ),
    k AS (
      SELECT * FROM (
        SELECT doc_id, l, region,
               count(*) OVER (PARTITION BY region) AS occ
        FROM r
      ) WHERE occ <= 64
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(max(a.l) AS BIGINT) AS shared_tokens,
           CAST(count(DISTINCT a.region) AS BIGINT) AS n_shared_regions
    FROM k a JOIN k b
      ON a.region = b.region AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


def q_top_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-forensics top-k duplicated regions WITH their text —
    operators/dedup.py top_regions over exact_substring_spans: the
    regions carrying the most repeated token mass ((occ-1)*length,
    what a keep-one cut would remove), one region-keyed map-combined
    aggregate + distributed TakeOrdered; deterministic text
    tie-break."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        top_regions,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return top_regions(docs, spans, k=20)


_SQL_TOP_REGIONS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT a.doc_id, a.l,
             array_to_string(list_slice(t.w, a.s + 1, a.s + a.l), ' ')
               AS region
      FROM spans a JOIN t ON t.doc_id = a.doc_id
    )
    SELECT region AS region_text,
           CAST(count(*) AS BIGINT) AS occurrences,
           CAST(max(l) AS BIGINT) AS span_tokens,
           CAST((count(*) - 1) * max(l) AS BIGINT) AS dup_mass
    FROM r GROUP BY region
    ORDER BY dup_mass DESC, region_text
    LIMIT 20
"""


def q_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-plan feasibility audit — operators/dedup.py
    mixture_feasibility over the rebalanced plan: can each source's
    target share be met from its post-dedup inventory under the
    repetition cap; requested/achievable/shortfall tokens, feasible
    flag, and the realized post-cap share (renormalized over
    achievable mass). Dimension-sized: pure map + one unpartitioned
    window over |sources| rows."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        mixture_feasibility,
        mixture_rebalance,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    plan = mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, _MIX_TARGET, max_repeat=4.0
    )
    return mixture_feasibility(plan, _MIX_TARGET, max_repeat=4.0)


def _mix_audit_sql() -> str:
    inner = _rebalance_sql()
    # NULL-weight coalesce mirrors the engine operator's guard (the
    # least()-skips-NULL trap); the rebalance inner never emits NULL
    # weights (CASE ... ELSE 0), so this is lockstep hygiene
    req = (
        f"CAST(floor(CAST(coalesce(weight, 0e0) AS DOUBLE)"
        f" * {_MIX_TARGET}) AS BIGINT)"
    )
    ach = (
        f"least({req}, CAST(floor(CAST(4.0 AS DOUBLE)"
        f" * coalesce(kept_tokens, 0)) AS BIGINT))"
    )
    return f"""
    SELECT source, weight, inventory_tokens, requested_tokens,
           achievable_tokens,
           requested_tokens - achievable_tokens AS shortfall_tokens,
           achievable_tokens >= requested_tokens AS feasible,
           round(achievable_tokens
                 / CAST(nullif(sum(achievable_tokens) OVER (), 0)
                        AS DOUBLE), 6) AS realized_share
    FROM (
      SELECT source, CAST(coalesce(weight, 0e0) AS DOUBLE) AS weight,
             CAST(coalesce(kept_tokens, 0) AS BIGINT)
               AS inventory_tokens,
             {req} AS requested_tokens,
             {ach} AS achievable_tokens
      FROM ({inner})
    )
"""


def q_apply_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-plan EXECUTION — operators/dedup.py apply_mixture: the
    sampled+repeated corpus a rebalanced plan prescribes. Plan built
    inline from exact-fingerprint dedup labels (cheap md5 clusters, so
    the oracle twin is non-recursive) with a token target that forces
    rates both below 1 (hash subsampling) and above 1 (epoch repeats);
    one broadcast join + an in-row bounded sequence explode — the
    corpus itself never shuffles."""
    from obsplus_spark.operators.dedup import (
        apply_mixture,
        mixture_rebalance,
    )
    from obsplus_spark.util import sql_over

    docs = _t(spark, sf_dir, "documents")
    # exact-duplicate clusters by normalized-text fingerprint: label =
    # min doc_id per fingerprint group, rows only for docs in groups
    # of >= 2 (the dedup_clusters output contract, cheaply)
    labels = sql_over(
        {"d": docs},
        """
        SELECT doc_id AS id, cluster_id FROM (
          SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')))
                   AS cluster_id,
                 count(1) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')))
                   AS _n
          FROM {d} WHERE text IS NOT NULL
        ) WHERE _n >= 2
        """,
    )
    plan = mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, 400_000, max_repeat=3.0
    )
    out = apply_mixture(
        docs.select("doc_id", "source", "n_chars"), plan
    )
    return out.selectExpr(
        "doc_id", "source", "n_chars", "CAST(epoch AS INT) AS epoch"
    )


def _apply_mixture_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    rate = (
        "CASE WHEN coalesce(kept_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE least(CAST(3.0 AS DOUBLE),"
        " weight * CAST(400000 AS DOUBLE) / kept_tokens) END"
    )
    return rf"""
    WITH labels AS (
      SELECT doc_id AS id, cluster_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY
                   md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
                 AS cluster_id,
               count(*) OVER (PARTITION BY
                   md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
                 AS n
        FROM documents WHERE text IS NOT NULL
      ) WHERE n >= 2
    ),
    j AS (
      SELECT d.source,
             CASE WHEN length(trim(d.text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\s+'))
             END AS nt,
             (l.id IS NULL OR l.cluster_id = d.doc_id) AS keep
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    ),
    plan AS (
      SELECT source, round({rate}, 6) AS rate
      FROM (
        SELECT source,
               CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
        FROM j GROUP BY source
      )
    ),
    n_cp AS (
      SELECT d.doc_id, d.source, d.n_chars,
             CAST(floor(p.rate) AS INTEGER)
             + CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                     || ''), 1, 8))::BIGINT + 0e0) / 4294967296e0
                    < p.rate - floor(p.rate)
                    THEN 1 ELSE 0 END AS n
      FROM documents d JOIN plan p
        ON (p.source = d.source OR (p.source IS NULL AND d.source IS NULL))
       AND p.rate IS NOT NULL
    )
    SELECT doc_id, source, n_chars, CAST(e.epoch AS INTEGER) AS epoch
    FROM n_cp, generate_series(1, 3) AS e(epoch)
    WHERE e.epoch <= n_cp.n
"""


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script composition per document — operators/text.py
    script_mix: fractions of Latin/Cyrillic/Greek/Han/Arabic/digit
    characters over the non-whitespace stream (Java \\p{IsX} classes;
    the DuckDB twin spells RE2 \\p{X}). Pure map, zero exchanges."""
    from obsplus_spark.operators.text import script_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return script_mix(docs)


_SQL_SCRIPT_MIX = r"""
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars_nows,
           round(len(regexp_extract_all(text, '\p{Latin}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_latin,
           round(len(regexp_extract_all(text, '\p{Cyrillic}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_cyrillic,
           round(len(regexp_extract_all(text, '\p{Greek}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_greek,
           round(len(regexp_extract_all(text, '\p{Han}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_han,
           round(len(regexp_extract_all(text, '\p{Arabic}'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_arabic,
           round(len(regexp_extract_all(text, '[0-9]'))
                 / CAST(nullif(n, 0) AS DOUBLE), 6) AS frac_digit
    FROM (
      SELECT doc_id, text,
             length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) AS n
      FROM documents WHERE text IS NOT NULL
    )
"""


def q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization —
    operators/similarity.py standardize_embeddings: one map-combined
    dim-keyed aggregate folded to a one-row broadcast stats frame,
    then a pure in-row transform; 6-dp house rounding on the
    cross-row means AND the output elements.

    Verification surface (r13): the standardized vector is serialized to
    a comma-joined DECIMAL(28,6) string. The driver's canonicalizer
    sorts result columns with pandas and cannot factorize a list-typed
    cell (CORRECTNESS_r12 recorded exactly that TypeError), so the
    declared query and its oracle twin emit the deterministic string
    form; the operator itself keeps returning the array. DECIMAL
    rendering is verified identical between Spark and DuckDB (incl.
    -0.0 -> "0.000000"); elements are already 6-dp rounded, so the
    cast is exact."""
    from obsplus_spark.operators.similarity import standardize_embeddings
    from obsplus_spark.util import sql_over

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    z = standardize_embeddings(emb)
    return sql_over(
        {"z": z},
        """
        SELECT vec_id,
               concat_ws(',', transform(embedding,
                 x -> CAST(CAST(x AS DECIMAL(28,6)) AS STRING)))
                 AS embedding
        FROM {z}
        """,
    )


_SQL_STANDARDIZE = """
    WITH ex AS (
      SELECT vec_id, t.i AS pos,
             CAST(embedding[t.i + 1] AS DOUBLE) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    st AS (
      SELECT pos, round(avg(x), 6) AS m,
             round(stddev_pop(x), 6) AS s
      FROM ex GROUP BY pos
    ),
    z AS (
      SELECT vec_id, pos,
             round(CASE WHEN s = 0e0 THEN 0e0 ELSE (x - m) / s END, 6)
               AS z
      FROM ex JOIN st USING (pos)
    )
    SELECT vec_id,
           string_agg(z::DECIMAL(28,6)::VARCHAR, ',' ORDER BY pos)
             AS embedding
    FROM z GROUP BY vec_id
"""


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise precision/recall of the MinHash clustering against
    exact-fingerprint truth — operators/dedup.py dedup_pair_eval:
    truth/predicted/intersection pair counts all via C(n,2) over
    group sizes (three dimension-sized aggregates, nothing quadratic)
    on top of the bounded cluster rounds."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        dedup_pair_eval,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return dedup_pair_eval(docs, labels)


def _dedup_eval_sql() -> str:
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    cells AS (
      SELECT md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
               AS fp,
             coalesce(l.cluster_id, d.doc_id) AS cl,
             CAST(count(*) AS BIGINT) AS k
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
      WHERE d.text IS NOT NULL
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT sum(n * (n - 1) // 2) AS tp FROM (
        SELECT fp, sum(k) AS n FROM cells GROUP BY fp)
    ),
    pred AS (
      SELECT sum(n * (n - 1) // 2) AS pp FROM (
        SELECT cl, sum(k) AS n FROM cells GROUP BY cl)
    ),
    inter AS (SELECT sum(k * (k - 1) // 2) AS ip FROM cells)
    SELECT CAST(truth.tp AS BIGINT) AS truth_pairs,
           CAST(pred.pp AS BIGINT) AS pred_pairs,
           CAST(inter.ip AS BIGINT) AS tp_pairs,
           round(inter.ip / CAST(nullif(pred.pp, 0) AS DOUBLE), 6)
             AS pair_precision,
           round(inter.ip / CAST(nullif(truth.tp, 0) AS DOUBLE), 6)
             AS pair_recall
    FROM truth CROSS JOIN pred CROSS JOIN inter
"""


def q_gram_freq_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-frequency HISTOGRAM (how many distinct 3-grams occur k
    times corpus-wide) — operators/dedup.py gram_frequencies rolled up
    to a hash-invariant shape (gram ids are xxhash64 on the engine and
    strings in the oracle; occurrence counts agree modulo the accepted
    2^-64 digest argument)."""
    from obsplus_spark.operators.dedup import gram_frequencies
    from obsplus_spark.util import sql_over

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gf = gram_frequencies(docs, n=3)
    return sql_over(
        {"g": gf},
        """
        SELECT n_occ, CAST(count(1) AS BIGINT) AS n_grams
        FROM {g} GROUP BY n_occ
        """,
    )


_SQL_GRAM_FREQ_HIST = r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (SELECT g, CAST(count(*) AS BIGINT) AS n_occ FROM g GROUP BY g)
    SELECT n_occ, CAST(count(*) AS BIGINT) AS n_grams
    FROM f GROUP BY n_occ
"""


def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus novelty scoring — operators/dedup.py gram_novelty:
    fraction of each non-src0 document's DISTINCT 3-grams that never
    occur in the src0 reference slice; one gram-keyed left join +
    one doc-keyed roll-up (the scoring complement of whole-doc
    decontamination)."""
    from obsplus_spark.operators.dedup import gram_novelty

    docs = _t(spark, sf_dir, "documents")
    return gram_novelty(
        docs.where("source <> 'src0'").select("doc_id", "text"),
        docs.where("source = 'src0'").select("text"),
        n=3,
    )


_SQL_GRAM_NOVELTY = r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE source <> 'src0' AND len(w) >= 3)
    ),
    rg AS (
      SELECT DISTINCT w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE source = 'src0' AND len(w) >= 3)
    )
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN rg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN rg.g IS NULL THEN 1e0 ELSE 0e0 END)
                 / count(*), 6) AS novelty
    FROM dg LEFT JOIN rg ON dg.g = rg.g
    GROUP BY dg.doc_id
"""


def q_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup mixture rebalance — operators/dedup.py
    mixture_rebalance over dedup_clusters labels: per-source pre/post
    dedup token inventories and the sampling rate (capped repetition
    allowed above 1) that re-hits each source's target share after
    near-dup removal shrank sources unevenly. One id-keyed left join
    against the pair-member-sized label frame + one source-keyed
    aggregate on top of the bounded cluster rounds."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        mixture_rebalance,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, _MIX_TARGET, max_repeat=4.0
    )


def _rebalance_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    # explicit NULL branch — least() skips NULLs on both engines
    rate = (
        f"CASE WHEN coalesce(kept_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE least(CAST(4.0 AS DOUBLE),"
        f" weight * CAST({_MIX_TARGET} AS DOUBLE)"
        f" / kept_tokens) END"
    )
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    j AS (
      SELECT d.source,
             CASE WHEN length(trim(d.text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\s+'))
             END AS nt,
             (l.id IS NULL OR l.cluster_id = d.doc_id) AS keep
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    )
    SELECT source, n_docs, kept_docs, n_tokens, kept_tokens, weight,
           round({rate}, 6) AS sample_rate,
           CAST(floor(round({rate}, 6) * kept_tokens) AS BIGINT)
             AS expected_tokens
    FROM (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
               AS kept_tokens,
             CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
      FROM j GROUP BY source
    )
"""


def q_column_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over the lineitem value columns in
    ONE scan — operators/sessions.py column_correlations: all
    sufficient statistics in a single map-combined aggregate, pairs
    expanded in-row from the one-row result."""
    from obsplus_spark.operators.sessions import column_correlations

    li = _t(spark, sf_dir, "lineitem")
    return column_correlations(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _column_corr_oracle_sql() -> str:
    cs = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i, c in enumerate(cs):
        aggs.append(f"sum({c}) AS s{i}")
        aggs.append(f"sum({c} * {c}) AS q{i}")
    pairs = [(i, j) for i in range(len(cs)) for j in range(len(cs)) if i < j]
    for i, j in pairs:
        aggs.append(f"sum({cs[i]} * {cs[j]}) AS p{i}_{j}")
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in cs)
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{cs[i]}' AS col_x, '{cs[j]}' AS col_y, n,
           CASE WHEN (n * q{i} - s{i} * s{i}) > 0
                 AND (n * q{j} - s{j} * s{j}) > 0
                THEN round((n * p{i}_{j} - s{i} * s{j})
                     / sqrt((n * q{i} - s{i} * s{i})
                            * (n * q{j} - s{j} * s{j})), 6) END AS r
    FROM a"""
        for i, j in pairs
    )
    return (
        "WITH a AS (\n      SELECT "
        + ", ".join(aggs)
        + f" FROM lineitem WHERE {not_null}\n    )\n"
        + rows
    )


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade flow between
    two nations by ship year. Both nation-filtered dims broadcast —
    supplier directly, customer pre-joined to its nation THEN broadcast
    into orders (the filtered customer dim is nation-sized, never
    fact-sized); lineitem⋈orders stays the one keyed shuffle join.
    DECIMAL revenue, integer year."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    nn = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    s_dim = s.join(
        F.broadcast(nn), s.s_nationkey == nn.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c_dim = c.join(
        F.broadcast(nn), c.c_nationkey == nn.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    o_dim = o.join(
        F.broadcast(c_dim), o.o_custkey == c_dim.c_custkey
    ).select("o_orderkey", "cust_nation")
    return (
        li.filter(
            "l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1998-01-01'"
        )
        .join(F.broadcast(s_dim), li.l_suppkey == s_dim.s_suppkey)
        .join(o_dim, li.l_orderkey == o_dim.o_orderkey)
        .filter(
            "(supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')"
            " OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')"
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
    )


_SQL_Q7 = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity order revenue): the correlated
    per-part average decorrelates into one (brand-semi-joined) partkey
    aggregate broadcast back onto the same rows. The per-part avg is
    engine-exact (integral-valued quantities sum exactly in doubles),
    so the `< 0.2·avg` cut is deterministic; revenue sums in DECIMAL."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bp = F.broadcast(
        p.filter("p_brand = 'Brand#11'").select("p_partkey")
    )
    li_b = li.join(bp, li.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    th = li_b.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("avg_q")
    )
    return (
        li_b.join(F.broadcast(th), li_b.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(
            F.round(
                (
                    F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
                    / 7.0
                ).cast("double"),
                4,
            ).alias("avg_yearly")
        )
    )


_SQL_Q17 = """
    WITH li_b AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#11'
    ),
    th AS (
      SELECT l_partkey AS pk, avg(l_quantity) AS avg_q
      FROM li_b GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) / 7.0
                 AS DOUBLE), 4) AS avg_yearly
    FROM li_b JOIN th ON l_partkey = pk
    WHERE l_quantity < 0.2 * avg_q
"""


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): an OR-of-ANDs
    across brand/size/quantity bands — the part dim broadcasts and the
    quantity legs of each disjunct stay eligible for scan-level
    pushdown (the whole OR over lineitem-only columns prunes row
    groups); DECIMAL revenue, single-row output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15"
        " AND l_quantity BETWEEN 1 AND 11)"
        " OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30"
        " AND l_quantity BETWEEN 10 AND 20)"
        " OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50"
        " AND l_quantity BETWEEN 20 AND 35)"
    )
    return j.filter(cond).agg(
        F.round(F.sum(rev).cast("double"), 4).alias("revenue")
    )


_SQL_Q19 = """
    SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 35)
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen (|v − median| > 3·MAD, discrete
    rank medians) — operators/sessions.py mad_outliers: four windows
    and the final aggregate all ride ONE event_type-keyed exchange."""
    from obsplus_spark.operators.sessions import mad_outliers

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return mad_outliers(ev, "event_type", "value", "event_id", k=3.0)


_SQL_MAD = """
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type, value, event_id, n,
             max(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT)
                 THEN value END)
               OVER (PARTITION BY event_type) AS med
      FROM r
    ),
    dv AS (
      SELECT event_type, n, med, abs(value - med) AS dev,
             row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(value - med), event_id) AS drn
      FROM m
    ),
    md AS (
      SELECT event_type, n, med, dev,
             max(CASE WHEN drn = CAST(ceil(n / 2.0) AS BIGINT)
                 THEN dev END)
               OVER (PARTITION BY event_type) AS mad
      FROM dv
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           round(max(med), 6) AS med,
           round(max(mad), 6) AS mad,
           CAST(sum(CASE WHEN dev > 3.0 * mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM md
    GROUP BY event_type
"""


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): ratio of conditional
    to total revenue in ONE pass over the date-pruned fact join — both
    legs accumulate in the same DECIMAL aggregate (no second scan, no
    join of two aggregates); part dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    return (
        li.filter(
            "l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1996-04-01'"
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast("decimal(28,10)")
                    )).cast("double")
                    / F.sum(rev).cast("double")
                ),
                6,
            ).alias("promo_pct")
        )
    )


_SQL_Q14 = """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(28,10))
                 ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    ECONOMY-part revenue sold into ASIA-region customers, by order
    year. Every dim broadcasts (type-filtered part, nation-annotated
    supplier, region-pruned customer folded into orders); the share is
    a conditional/total DECIMAL ratio inside one year-keyed aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = o.withColumn("o_orderdate", _tcol(o, "o_orderdate"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    asia_c = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter("r_name = 'ASIA'")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o_dim = (
        o.filter(
            "o_orderdate >= TIMESTAMP '1996-01-01'"
            " AND o_orderdate < TIMESTAMP '1998-01-01'"
        )
        .join(F.broadcast(asia_c), o.o_custkey == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("int").alias("o_year"))
    )
    s_dim = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    return (
        li.join(
            F.broadcast(_t(spark, sf_dir, "part")
                        .filter("p_type = 'ECONOMY'")
                        .select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(s_dim), li.l_suppkey == s_dim.s_suppkey)
        .join(o_dim, li.l_orderkey == o_dim.o_orderkey)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev)
                    .otherwise(F.lit(0).cast("decimal(28,10)"))
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


_SQL_Q8 = """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
                 THEN CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(28,10))
                 ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(28,10))) AS DOUBLE), 6) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region   ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY year(o_orderdate)
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the pure
    scan-pushdown benchmark — every predicate (date range, discount
    band, quantity cap) is a lineitem-only conjunct that reaches the
    parquet scan as a pushed filter, so row groups skip before any
    compute; one DECIMAL aggregate, no joins at all."""
    li = _t(spark, sf_dir, "lineitem")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    return (
        li.filter(
            "l_shipdate >= TIMESTAMP '1996-01-01'"
            " AND l_shipdate < TIMESTAMP '1997-01-01'"
            " AND l_discount BETWEEN 0.05 AND 0.07"
            " AND l_quantity < 24"
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(28,10)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue")
        )
    )


_SQL_Q6 = """
    SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                 AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the max-of-an-aggregate pattern —
    per-supplier revenue over a quarter, then the supplier(s) achieving
    the maximum. The max folds into a rank-1 window over the
    supplier-sized revenue table (NOT a self-join against a scalar
    subquery re-deriving the aggregate); revenue is integer-cents exact
    so the max-equality cut is bit-portable; supplier dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    li = li.withColumn("l_shipdate", _tcol(li, "l_shipdate"))
    # exact integer cents: extendedprice has 2 decimals, discount 2 →
    # price*(1-disc) has 4 → ×10^4 is integral (the idle_customers
    # convention); BIGINT sums are order-independent
    rev = li.filter(
        "l_shipdate >= TIMESTAMP '1996-01-01'"
        " AND l_shipdate < TIMESTAMP '1996-04-01'"
    ).groupBy("l_suppkey").agg(
        F.sum(
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 10000)"
                " AS BIGINT)"
            )
        ).alias("rev4")
    )
    w = Window.orderBy(F.col("rev4").desc())
    top = (
        rev.withColumn("_rk", F.rank().over(w))
        .filter("_rk = 1")
        .select("l_suppkey", "rev4")
    )
    return (
        top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey)
        .selectExpr(
            "s_suppkey",
            "s_name",
            "round(rev4 / 10000.0D, 4) AS total_revenue",
        )
        .orderBy("s_suppkey")
    )


_SQL_Q15 = """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                  * 10000) AS BIGINT)) AS BIGINT) AS rev4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(rev4 / 10000.0, 4) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev4 = (SELECT max(rev4) FROM rev)
    ORDER BY s_suppkey
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level chunk dedup with document reconstruction —
    operators/dedup.py chunk_dedup: C4-style "drop every span seen
    earlier in the corpus" as a TRANSFORM (duplicate_span_mass only
    measures). Chunks form in-row; one chunk-digest window elects the
    first (doc_id, pos) occurrence; one doc-keyed aggregate rebuilds
    the surviving text."""
    from obsplus_spark.operators.dedup import chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_tokens=8)


def _chunk_dedup_sql(w: int, within_doc: bool) -> str:
    """Parameterized DuckDB twin of the shared chunking convention
    (text.chunk_token_exprs): corpus-level first-occurrence election
    (PARTITION BY the chunk alone, ordered by (doc, pos)) or the
    within-document variant (PARTITION BY (doc, chunk), ordered by
    pos) — one generator so the two oracles cannot drift apart.
    NULL-id rows are dropped on both sides (engine contract: a NULL id
    has no join identity — ADVICE r9 #3)."""
    part = "doc_id, lower(chunk)" if within_doc else "lower(chunk)"
    order = "pos" if within_doc else "doc_id, pos"
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')),
                                            '\s+'),
                         x -> x != '') AS w
      FROM documents
      WHERE doc_id IS NOT NULL
    ),
    ch AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(list_slice(w,
                 CAST(u.i * {w} + 1 AS BIGINT),
                 CAST(u.i * {w} + {w} AS BIGINT)), ' ') AS chunk
      FROM t, unnest(range(CAST(ceil(len(w) / {w}.0) AS BIGINT)))
        AS u(i)
    ),
    win AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY {part}
                                ORDER BY {order}) = 1 AS keep
      FROM ch
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN keep THEN chunk END,
                                 ' ' ORDER BY pos), '') AS clean_text
      FROM win GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.doc_id IS NOT NULL
"""


_SQL_CHUNK_DEDUP = _chunk_dedup_sql(8, within_doc=False)



def q_within_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-chunk trim — operators/text.py
    within_doc_dedup: keep the first occurrence of each distinct
    2-token chunk INSIDE each document and rebuild the text (2-token
    chunks so the synthetic fixture's word streams actually repeat
    within a document; real crawls use the 8-token default). Plan is
    map-only (in-row chunking + one higher-order aggregate walk) —
    zero exchanges at any corpus size."""
    from obsplus_spark.operators.text import within_doc_dedup

    docs = _t(spark, sf_dir, "documents")
    return within_doc_dedup(docs, chunk_tokens=2)


_SQL_WITHIN_DOC_DEDUP = _chunk_dedup_sql(2, within_doc=True)



def q_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tie-aware ROC-AUC — operators/evaluation.py
    score_auc: Mann-Whitney rank-sum with mid-ranks for ties, over a
    value-keyed map-combined aggregate (the cumulative pass runs on
    DISTINCT scores, never rows). Fixture: does document length
    predict the English label?"""
    from obsplus_spark.operators.evaluation import score_auc

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "n_chars AS s", "(lang = 'en') AS is_pos"
    )
    return score_auc(docs, "s", "is_pos")


_SQL_SCORE_AUC = """
    WITH g AS (
      SELECT n_chars AS s,
             CAST(count(1) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL
      GROUP BY n_chars
    ),
    r AS (
      SELECT n, np,
             sum(n) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n AS cb
      FROM g
    )
    SELECT CASE WHEN sum(np) > 0 AND sum(n - np) > 0 THEN
             round((sum(np * (cb + (n + 1) / 2.0))
                    - CAST(sum(np) AS DOUBLE) * (sum(np) + 1) / 2.0)
                   / (CAST(sum(np) AS DOUBLE) * sum(n - np)), 9)
           END AS auc,
           CAST(coalesce(sum(np), 0) AS BIGINT) AS n_pos,
           CAST(coalesce(sum(n - np), 0) AS BIGINT) AS n_neg
    FROM r
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic —
    operators/evaluation.py ks_statistic: max ECDF gap between the
    value distributions of click vs view events, over a value-keyed
    map-combined aggregate + a distinct-value cumulative window."""
    from obsplus_spark.operators.evaluation import ks_statistic

    ev = _t(spark, sf_dir, "events").selectExpr(
        "value",
        "CASE WHEN event_type = 'click' THEN true"
        "     WHEN event_type = 'view' THEN false END AS grp",
    )
    return ks_statistic(ev, "value", "grp")


_SQL_KS_DRIFT = """
    WITH g AS (
      SELECT value AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
      GROUP BY value
    ),
    c AS (
      SELECT
        sum(ca) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
        sum(cb) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
        sum(ca) OVER () AS na,
        sum(cb) OVER () AS nb
      FROM g
    )
    SELECT CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
             round(max(abs(cca / CAST(nullif(na, 0) AS DOUBLE)
                           - ccb / CAST(nullif(nb, 0) AS DOUBLE))), 9)
           END AS ks,
           CAST(coalesce(max(na), 0) AS BIGINT) AS n_a,
           CAST(coalesce(max(nb), 0) AS BIGINT) AS n_b
    FROM c
"""


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots —
    operators/similarity.py centroid_drift: (label, dim) map-combined
    centroid folds + |labels|-row broadcast joins; snapshots = even vs
    odd vec_id halves of the embeddings table."""
    from obsplus_spark.operators.similarity import centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_drift(
        emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    )


_SQL_CENTROID_DRIFT = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND label IS NOT NULL
    ),
    ca AS (
      SELECT label, list(m ORDER BY pos) AS c FROM (
        SELECT label, pos, round(avg(x), 6) AS m FROM (
          SELECT label, generate_subscripts(ev, 1) AS pos,
                 unnest(ev) AS x
          FROM v WHERE vec_id % 2 = 0
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    cb AS (
      SELECT label, list(m ORDER BY pos) AS c FROM (
        SELECT label, pos, round(avg(x), 6) AS m FROM (
          SELECT label, generate_subscripts(ev, 1) AS pos,
                 unnest(ev) AS x
          FROM v WHERE vec_id % 2 = 1
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    na AS (SELECT label, CAST(count(1) AS BIGINT) AS n_a
           FROM v WHERE vec_id % 2 = 0 GROUP BY label),
    nb AS (SELECT label, CAST(count(1) AS BIGINT) AS n_b
           FROM v WHERE vec_id % 2 = 1 GROUP BY label)
    SELECT ca.label,
           round(coalesce(list_dot_product(ca.c, cb.c)
             / nullif(sqrt(list_dot_product(ca.c, ca.c))
                      * sqrt(list_dot_product(cb.c, cb.c)), 0), 0), 6)
             AS cos_drift,
           na.n_a, nb.n_b
    FROM ca JOIN cb USING (label)
            JOIN na USING (label) JOIN nb USING (label)
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of lexical + semantic retrieval —
    operators/similarity.py rrf_fusion over a BM25 top-50 (query
    {spark, merge, vector}) and a cosine top-50 (probe = vec_id 0):
    per-list single-partition ranks on candidate cuts, full-outer
    fuse, TakeOrdered top-20."""
    from obsplus_spark.operators.similarity import cosine_topk, rrf_fusion
    from obsplus_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    la = bm25_scores(docs, ["spark", "merge", "vector"], k=50).selectExpr(
        "doc_id", "score AS s"
    )
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    lb = cosine_topk(emb, probe, k=50).selectExpr(
        "vec_id AS doc_id", "cosine_sim AS s"
    )
    return rrf_fusion(la, lb, id_col="doc_id", score_col="s", topk=20)


def _rrf_sql(k: int = 60, topk: int = 20, n: int = 50) -> str:
    """DuckDB twin of q_rrf_fusion: the BM25 CTE (lockstep with
    _bm25_sql at k=50) + a one-probe cosine top-50 + the rank fuse."""
    bm25 = _bm25_sql(["spark", "merge", "vector"], k=n)
    return f"""
    WITH la AS ({bm25}),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    q AS (SELECT ev AS qv FROM v WHERE vec_id = 0),
    lb AS (
      SELECT vec_id AS doc_id, s FROM (
        SELECT vec_id, s,
               row_number() OVER (ORDER BY s DESC, vec_id) AS rn
        FROM (
          SELECT v.vec_id,
                 coalesce(list_dot_product(ev, qv)
                   / nullif(sqrt(list_dot_product(ev, ev))
                            * sqrt(list_dot_product(qv, qv)), 0), 0)
                   AS s
          FROM v CROSS JOIN q
        )
      ) WHERE rn <= {n}
    ),
    ra AS (
      SELECT doc_id AS _id,
             CAST(row_number() OVER (ORDER BY round(score, 6) DESC,
                                     doc_id) AS BIGINT) AS rank_a
      FROM la WHERE doc_id IS NOT NULL AND score IS NOT NULL
    ),
    rb AS (
      SELECT doc_id AS _id,
             CAST(row_number() OVER (ORDER BY round(s, 6) DESC,
                                     doc_id) AS BIGINT) AS rank_b
      FROM lb WHERE doc_id IS NOT NULL AND s IS NOT NULL
    )
    SELECT coalesce(ra._id, rb._id) AS doc_id, rank_a, rank_b,
           round(coalesce(1.0 / ({k} + rank_a), 0)
                 + coalesce(1.0 / ({k} + rank_b), 0), 9) AS rrf_score
    FROM ra FULL OUTER JOIN rb ON ra._id = rb._id
    ORDER BY rrf_score DESC, coalesce(ra._id, rb._id)
    LIMIT {topk}
    """


def q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-coordinate covariance cells (dims 0..7) —
    operators/similarity.py embedding_covariance: in-row pair products
    into ONE cell-keyed map-combined aggregate; final assembly joins
    dims²-sized frames. The decorrelation diagnostic before PCA/PQ."""
    from obsplus_spark.operators.similarity import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, dims=8)


_SQL_EMBED_COV = """
    WITH v AS (
      SELECT embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 8
    ),
    px AS (
      SELECT ii.i AS i, jj.j AS j,
             round(avg(ev[ii.i + 1] * ev[jj.j + 1]), 6) AS pp,
             CAST(count(1) AS BIGINT) AS n
      FROM v, unnest(range(8)) AS ii(i), unnest(range(8)) AS jj(j)
      WHERE jj.j >= ii.i
      GROUP BY ii.i, jj.j
    ),
    m AS (
      SELECT pos.i AS pos, round(avg(ev[pos.i + 1]), 6) AS mu
      FROM v, unnest(range(8)) AS pos(i)
      GROUP BY pos.i
    )
    SELECT CAST(px.i AS INT) AS i, CAST(px.j AS INT) AS j,
           round(pp - mi.mu * mj.mu, 6) AS cov, n
    FROM px JOIN m mi ON px.i = mi.pos
            JOIN m mj ON px.j = mj.pos
"""


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins — operators/evaluation.py
    calibration_bins: ONE map-combined bin-keyed aggregate; score =
    event value rescaled to [0,1], label = purchase events."""
    from obsplus_spark.operators.evaluation import calibration_bins

    ev = _t(spark, sf_dir, "events").selectExpr(
        "value / 100.0 AS s", "(event_type = 'purchase') AS is_pos"
    )
    return calibration_bins(ev, "s", "is_pos", bins=10)


_SQL_CALIBRATION = """
    SELECT CAST(least(9.0, greatest(0.0,
             floor((value / 100.0 - 0.0) / 1.0 * 10))) AS INT)
             AS bin,
           CAST(count(1) AS BIGINT) AS n,
           round(avg(value / 100.0), 6) AS mean_score,
           round(avg(CASE WHEN event_type = 'purchase' THEN 1.0
                          ELSE 0.0 END), 6) AS frac_pos
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1
"""


def q_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep — operators/evaluation.py
    threshold_metrics: thresholds explode in-row into ONE map-combined
    threshold-keyed aggregate (cells, not rows, cross the wire)."""
    from obsplus_spark.operators.evaluation import threshold_metrics

    ev = _t(spark, sf_dir, "events").selectExpr(
        "value / 100.0 AS s", "(event_type = 'purchase') AS is_pos"
    )
    return threshold_metrics(
        ev, "s", "is_pos", thresholds=[0.05, 0.1, 0.2, 0.4, 0.8]
    )


_SQL_THRESHOLD_SWEEP = """
    WITH cells AS (
      SELECT t.t AS t,
             CAST(sum(CASE WHEN value / 100.0 >= t.t
                            AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN value / 100.0 >= t.t
                            AND event_type <> 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN value / 100.0 < t.t
                            AND event_type <> 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN value / 100.0 < t.t
                            AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM events,
           unnest([0.05::DOUBLE, 0.1::DOUBLE, 0.2::DOUBLE,
                   0.4::DOUBLE, 0.8::DOUBLE]) AS t(t)
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY t.t
    )
    SELECT t AS threshold, tp, fp, tn, fn,
           round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6)
             AS precision,
           round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall,
           round(2.0 * tp / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE),
                 6) AS f1
    FROM cells
"""


def q_edit_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verify over MinHash-LSH candidates —
    operators/dedup.py edit_distance_near_dup: the character-level leg
    of the verify family (catches in-place edits that barely move a
    shingle set); banding candidates via the shared one-shuffle bucket
    expansion, levenshtein on normalized text, ratio cut at 0.4."""
    from obsplus_spark.operators.dedup import edit_distance_near_dup

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_near_dup(docs, max_ratio=0.4)


_SQL_EDIT_NEAR_DUP = _minhash_sql(
    tail="""lev AS (
      SELECT p.id1, p.id2,
             CAST(levenshtein(n1.t, n2.t) AS BIGINT) AS dist,
             CASE WHEN greatest(length(n1.t), length(n2.t)) = 0
                  THEN 0.0
                  ELSE levenshtein(n1.t, n2.t)
                       / CAST(greatest(length(n1.t), length(n2.t))
                              AS DOUBLE)
             END AS ratio
      FROM pairs p
      JOIN norm n1 ON n1.doc_id = p.id1
      JOIN norm n2 ON n2.doc_id = p.id2
    )
    SELECT id1, id2, dist, round(ratio, 6) AS edit_ratio
    FROM lev WHERE ratio <= 0.4"""
)


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion/separation report — operators/similarity.py
    cluster_quality over the deterministic 4-cluster seed k-means:
    map-only assignment, one cluster-keyed map-combined cohesion
    aggregate, k×k centroid separation join."""
    from obsplus_spark.operators.similarity import cluster_quality

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_quality(emb, n_clusters=4)


_SQL_CLUSTER_QUALITY = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0),
                 0) DESC, c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    coh AS (
      SELECT a.cluster, CAST(count(1) AS BIGINT) AS n_members,
             round(avg(coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0),
               0)), 6) AS cohesion
      FROM asg a JOIN v ON v.vec_id = a.vec_id
                 JOIN cents c ON c.cluster = a.cluster
      GROUP BY a.cluster
    ),
    sep AS (
      SELECT c1.cluster,
             round(max(coalesce(list_dot_product(c1.c, c2.c)
               / nullif(c1.nrm * c2.nrm, 0), 0)), 6) AS max_other_cos
      FROM cents c1 JOIN cents c2 ON c1.cluster <> c2.cluster
      GROUP BY c1.cluster
    )
    SELECT CAST(c.cluster AS INT) AS cluster,
           CAST(coalesce(coh.n_members, 0) AS BIGINT) AS n_members,
           coh.cohesion, sep.max_other_cos
    FROM cents c
    LEFT JOIN coh ON coh.cluster = c.cluster
    LEFT JOIN sep ON sep.cluster = c.cluster
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidates by shared winnowing fingerprints —
    operators/text.py winnow_overlap (MOSS match step): in-row
    winnow selection (rightmost-min per w-gram window), ONE
    print-keyed bucket exchange with a stop-print cap, pair-keyed
    shared count."""
    from obsplus_spark.operators.text import winnow_overlap

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap(docs, k=3, w=4, min_shared=2, max_bucket=32)


def _winnow_sql(min_shared: int = 2, tail: "str | None" = None) -> str:
    """DuckDB winnowing CTE chain (lockstep with text.winnow_overlap's
    documented plan: k=3 grams, w=4 rightmost-min windows, md5-uint32
    prints, stop-print cap 32). Default tail = the shared-print pair
    count; pass ``tail`` to consume the prints/pairs CTEs differently
    (lockstep-by-construction, the _minhash_sql pattern)."""
    prefix = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(coalesce(text,
                 ''))), '\s+'), x -> x != '') AS wt
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS gpos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(wt, u.i, u.i + 2), ' ')), 1, 8))::BIGINT
               AS h
      FROM t, unnest(range(1, len(wt) - 3 + 2)) AS u(i)
      WHERE len(wt) >= 3
    ),
    ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    ws AS (
      SELECT g2.doc_id, CAST(s.i AS BIGINT) AS w0
      FROM (SELECT doc_id, n FROM ng WHERE n >= 4) g2,
           unnest(range(g2.n - 4 + 1)) AS s(i)
    ),
    winners AS (
      SELECT doc_id, h FROM (
        SELECT w.doc_id, w.w0, g.h,
               row_number() OVER (PARTITION BY w.doc_id, w.w0
                   ORDER BY g.h ASC, g.gpos DESC) AS rn
        FROM ws w JOIN g ON g.doc_id = w.doc_id
                      AND g.gpos BETWEEN w.w0 + 1 AND w.w0 + 4
      ) WHERE rn = 1
    ),
    short_docs AS (
      SELECT g.doc_id, g.h
      FROM g JOIN ng ON ng.doc_id = g.doc_id AND ng.n < 4
    ),
    prints AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT * FROM winners UNION ALL SELECT * FROM short_docs
      )
    ),
    bsz AS (SELECT h, count(*) AS n FROM prints GROUP BY h),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM prints a
      JOIN prints b ON a.h = b.h AND a.doc_id < b.doc_id
      JOIN bsz ON bsz.h = a.h AND bsz.n BETWEEN 2 AND 32
    )
"""
    if tail is not None:
        return prefix.rstrip() + ",\n    " + tail.strip() + "\n"
    return prefix + f"""
    SELECT id1, id2, CAST(count(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY id1, id2
    HAVING count(*) >= {min_shared}
"""


_SQL_WINNOW = _winnow_sql(2)



def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric gram containment over winnowing candidates —
    operators/dedup.py containment_pairs: quote/subset detection that
    symmetric Jaccard misses (banding never proposes size-skewed
    pairs; the winnowing guarantee does). In-row gram-array
    intersection verify."""
    from obsplus_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, w=4, threshold=0.5)


_SQL_CONTAINMENT = _winnow_sql(
    tail="""cand AS (SELECT DISTINCT id1, id2 FROM pairs),
    gs AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(wt, u.i, u.i + 2), ' ') AS gram
      FROM t, unnest(range(1, len(wt) - 3 + 2)) AS u(i)
      WHERE len(wt) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM gs GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS n_inter
      FROM cand c
      JOIN gs a ON a.doc_id = c.id1
      JOIN gs b ON b.doc_id = c.id2 AND b.gram = a.gram
      GROUP BY c.id1, c.id2
    ),
    fin AS (
      SELECT c.id1, c.id2,
             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
             round(coalesce(i.n_inter, 0)
                   / CAST(nullif(za.n, 0) AS DOUBLE), 6) AS c1,
             round(coalesce(i.n_inter, 0)
                   / CAST(nullif(zb.n, 0) AS DOUBLE), 6) AS c2
      FROM cand c
      LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
      JOIN sz za ON za.doc_id = c.id1
      JOIN sz zb ON zb.doc_id = c.id2
    )
    SELECT id1, id2, n_inter, c1, c2 FROM fin
    WHERE greatest(c1, c2) >= 0.5"""
)


def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct active users (DAU + trailing-7-day WAU) —
    operators/sessions.py rolling_active_users: one map-combined
    (day, user) DISTINCT, in-row window-day contribution explode, one
    day-keyed count-distinct. Distinct is not additive, so this
    densify-and-recount IS the shape (rolling_window_sums handles the
    additive metrics)."""
    from obsplus_spark.operators.sessions import rolling_active_users

    ev = _t(spark, sf_dir, "events").select(
        "user_id", _ts_ns().alias("t_ns")
    )
    return rolling_active_users(
        ev, ts_col="t_ns", user_col="user_id", window_days=7
    )


_SQL_ROLLING_ACTIVE = """
    WITH du AS (
      SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id AS u
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    contrib AS (
      SELECT CAST(t.d AS BIGINT) AS day, du.day AS src_day, du.u
      FROM du, unnest(range(du.day, du.day + 7)) AS t(d)
    )
    SELECT day,
           CAST(count(DISTINCT CASE WHEN src_day = day THEN u END)
                AS BIGINT) AS dau,
           CAST(count(DISTINCT u) AS BIGINT) AS rolling_users
    FROM contrib
    GROUP BY day
    HAVING count(DISTINCT CASE WHEN src_day = day THEN u END) >= 1
    ORDER BY day
"""


def q_dup_threshold_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard histogram of all verified LSH candidate pairs —
    operators/dedup.py near_dup_threshold_hist: the choose-a-threshold
    evidence (one near_duplicates pass at threshold 0, folded to 10
    bins on the 8-dp rounded Jaccard)."""
    from obsplus_spark.operators.dedup import near_dup_threshold_hist

    docs = _t(spark, sf_dir, "documents")
    return near_dup_threshold_hist(docs, buckets=10)


_SQL_DUP_HIST = (
    "SELECT CAST(least(9.0, floor(round(jaccard, 8) * 10)) AS INT)"
    " AS bucket, CAST(count(*) AS BIGINT) AS n_pairs FROM ("
    + _minhash_sql(threshold=0.0)
    + ") sub GROUP BY 1"
)


def q_seq_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential per-user holdout (last-2-events eval) —
    operators/dedup.py sequential_holdout: the next-event-prediction
    split; one user-keyed exchange, NULL key/ts rows split NULL by
    contract (engines disagree on NULL placement under DESC)."""
    from obsplus_spark.operators.dedup import sequential_holdout

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", _ts_ns().alias("t_ns")
    )
    return sequential_holdout(
        ev, key_col="user_id", order_col="t_ns", id_col="event_id", k=2
    )


_SQL_SEQ_HOLDOUT = """
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) AS t_ns FROM events
    )
    SELECT event_id, user_id, t_ns,
           CASE WHEN rn <= 2 THEN 'eval' ELSE 'train' END AS split
    FROM (
      SELECT event_id, user_id, t_ns,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY t_ns DESC, event_id DESC) AS rn
      FROM e WHERE user_id IS NOT NULL AND t_ns IS NOT NULL
    )
    UNION ALL
    SELECT event_id, user_id, t_ns, CAST(NULL AS VARCHAR) AS split
    FROM e WHERE user_id IS NULL OR t_ns IS NULL
"""


def q_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-stitch (suffix-prefix seam) detection — operators/dedup.py
    stitch_pairs: pairs whose tail-k tokens equal another doc's head-k
    tokens, the crawl-export split signature the Jaccard family misses.
    Fixture: every document ≥ 2k+2 tokens splits into two derived
    shards sharing a k-token seam (doc_id*2, doc_id*2+1), so true
    seams exist at every sf; the operator must recover exactly those
    (plus any accidental cross-doc seams, which both engines see)."""
    from obsplus_spark.operators.dedup import stitch_pairs

    docs = _t(spark, sf_dir, "documents")
    k = 4
    shards = docs.selectExpr(
        "doc_id",
        r"filter(split(trim(lower(coalesce(text, ''))), '\\s+'),"
        " t -> t != '') AS _toks",
    ).where(f"size(_toks) >= {2 * k + 2}").selectExpr(
        "doc_id",
        "CAST(size(_toks) / 2 AS INT) AS _m",
        "_toks",
    ).selectExpr(
        f"explode(array(named_struct('doc_id', doc_id * 2, 'text',"
        f" concat_ws(' ', slice(_toks, 1, _m + {k}))),"
        f" named_struct('doc_id', doc_id * 2 + 1, 'text',"
        f" concat_ws(' ', slice(_toks, _m + 1, size(_toks) - _m)))))"
        " AS s"
    ).select("s.doc_id", "s.text")
    return stitch_pairs(shards, k=k).orderBy("prev_id", "next_id")


_SQL_STITCH_PAIRS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(coalesce(text, ''))),
                                            '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id * 2 AS doc_id,
             list_slice(w, 1, CAST(len(w) // 2 AS BIGINT) + 4) AS w
      FROM t WHERE len(w) >= 10
      UNION ALL
      SELECT doc_id * 2 + 1,
             list_slice(w, CAST(len(w) // 2 AS BIGINT) + 1, len(w))
      FROM t WHERE len(w) >= 10
    ),
    wins AS (
      SELECT doc_id,
             array_to_string(list_slice(w, 1, 4), ' ') AS hk,
             array_to_string(list_slice(w, len(w) - 3, len(w)), ' ') AS tk
      FROM sh WHERE len(w) >= 8
    ),
    hot AS (
      SELECT hk AS key FROM wins GROUP BY hk HAVING count(*) > 32
      UNION
      SELECT tk FROM wins GROUP BY tk HAVING count(*) > 32
    ),
    heads AS (
      SELECT doc_id, hk FROM wins
      WHERE hk NOT IN (SELECT key FROM hot)
    ),
    tails AS (
      SELECT doc_id, tk FROM wins
      WHERE tk NOT IN (SELECT key FROM hot)
    )
    SELECT t.doc_id AS prev_id, h.doc_id AS next_id
    FROM tails t JOIN heads h
      ON t.tk = h.hk AND t.doc_id != h.doc_id
    ORDER BY prev_id, next_id
"""


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum-ordering key — operators/dedup.py
    curriculum_key: difficulty bin (length-derived score here) + the
    house md5 uniform inside each bin, emitted as a SORT KEY instead of
    exact positions (map-only, zero exchanges — exact per-bin ranks
    would put corpus/bins rows on one window partition)."""
    from obsplus_spark.operators.dedup import curriculum_key

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "least(1.0, n_chars / 2000.0) AS score"
    )
    return curriculum_key(docs, "score", bins=4)


_SQL_CURRICULUM = """
    SELECT doc_id,
           CAST(least(3, greatest(0, CAST(floor(
               least(1e0, n_chars / 2e3) * 4) AS INTEGER))) AS INTEGER)
             AS bin,
           round(CAST(least(3, greatest(0, CAST(floor(
               least(1e0, n_chars / 2e3) * 4) AS INTEGER)))
             + (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))
                ::BIGINT) / CAST(4294967296 AS DOUBLE) AS DOUBLE), 6)
             AS curriculum_key
    FROM documents
"""


def q_dim_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation-quality evaluation —
    operators/similarity.py dim_truncation_eval: how the first-d-dims
    cosine tracks the full cosine over deterministic consecutive-id
    probe pairs; one keyed self equi-join, widths explode in-row."""
    from obsplus_spark.operators.similarity import dim_truncation_eval

    emb = _t(spark, sf_dir, "embeddings")
    return dim_truncation_eval(emb, dims=(8, 16, 32))


_SQL_DIM_TRUNC = """
    WITH p AS (
      SELECT a.vec_id AS pid, a.embedding AS va, b.embedding AS vb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    e AS (
      SELECT p.pid, g.i,
             CAST(va[CAST(g.i AS INTEGER)] AS DOUBLE) AS xa,
             CAST(vb[CAST(g.i AS INTEGER)] AS DOUBLE) AS xb
      FROM p, generate_series(1, 4096) AS g(i)
      WHERE g.i <= len(va)
    ),
    s AS (
      SELECT e.pid, d.dim,
             sum(CASE WHEN e.i <= d.dim THEN xa * xb END) AS dot_d,
             sum(CASE WHEN e.i <= d.dim THEN xa * xa END) AS na_d,
             sum(CASE WHEN e.i <= d.dim THEN xb * xb END) AS nb_d,
             sum(xa * xb) AS dot_f,
             sum(xa * xa) AS na_f,
             sum(xb * xb) AS nb_f
      FROM e, (VALUES (8), (16), (32)) AS d(dim)
      GROUP BY e.pid, d.dim
    ),
    c AS (
      SELECT dim,
             dot_d / nullif(sqrt(na_d) * sqrt(nb_d), 0e0) AS c_d,
             dot_f / nullif(sqrt(na_f) * sqrt(nb_f), 0e0) AS c_full
      FROM s
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(c_d - c_full)), 6) AS mae,
           round(avg(CASE WHEN (c_d >= 0) = (c_full >= 0)
                          THEN 1e0 ELSE 0e0 END), 6) AS sign_agree
    FROM c
    WHERE c_d IS NOT NULL AND c_full IS NOT NULL
    GROUP BY dim
    ORDER BY dim
"""


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample — operators/dedup.py
    group_sample: bottom-k by the house md5 hash within each group
    (subset-stable, rerun-stable, content-free); one group-keyed
    exchange, rank<=k compiled to WindowGroupLimit."""
    from obsplus_spark.operators.dedup import group_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return group_sample(docs, "source", k=5)


_SQL_GROUP_SAMPLE = """
    SELECT doc_id, source, lang, sample_rank
    FROM (
      SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || ''), 1, 8))::BIGINT, doc_id) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= 5
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_event_window_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering note: the driver's CORRECTNESS snapshot records rows for
    # only the FIRST 50 entries. Rotation policy (NOTES.md): changed
    # code first, then the entries with the OLDEST most-recent driver
    # row. Round 13 executes VERDICT r12 "Next round #1": the 11
    # r12-plan-changed paths that have no fresh driver row lead, then
    # standardize (its array output is serialized for the driver canon
    # this round), the 7 never-driver-tested r12 registrations, the
    # r13 candidate-touch set, and the oldest r8 band as fill. All 224
    # queries pass the full local oracle run (tools/check.py) at HEAD.
    return {
        # --- r13 rotation, first 50 = the driver correctness window ---
        # (a) the 11 r12-plan-changed query paths with no fresh driver row
        #     (VERDICT r12 "Next round #1")
        "hits_auth": q_hits_auth,
        "bfs_hops": q_bfs_hops,
        "k_core": q_k_core,
        "dedup_clusters": q_dedup_clusters,
        "bigram_lp": q_bigram_lp,
        "stitch_pairs": q_stitch_pairs,
        "cascade_delete": q_cascade_delete,
        "revenue_by_nation": q_revenue_by_nation,
        "spatial_knn": q_spatial_knn,
        "canonical_docs": q_canonical_docs,
        "leak_safe_split": q_leak_safe_split,
        # (b) standardize — array output serialized for the driver canon
        #     this round; needs its first green row
        "standardize": q_standardize,
        # (c) the 7 r12-build registrations never driver-tested
        "span_keep_one": q_span_keep_one,
        "span_store_join": q_span_store_join,
        "bcubed": q_bcubed_eval,
        "shared_regions": q_shared_regions,
        "mix_audit": q_mix_audit,
        "span_keep_cut": q_span_keep_cut,
        "top_regions": q_top_regions,
        # (d) r13 candidate-touch set (graph shared-edge item, PPJoin/LSH
        #     skew item)
        "pagerank": q_pagerank,
        "triangle_count": q_triangle_count,
        "jaccard_join": q_jaccard_join,
        "lsh_recall": q_lsh_recall,
        # (e) fill: oldest most-recent driver row (r8 band, in rotation
        #     order)
        "bloom_semi": q_bloom_semi,
        "sds_chunks": q_sds_chunks,
        "wav_roundtrip": q_wav_roundtrip,
        "mseed_roundtrip": q_mseed_roundtrip,
        "csv_round_trip": q_csv_round_trip,
        "stationxml_rt": q_stationxml_rt,
        "normalize_seed": q_normalize_seed,
        "stream_proc": q_stream_proc,
        "event_window_join": q_event_window_join,
        "fetcher_windows": q_fetcher_windows,
        "ppm_roundtrip": q_ppm_roundtrip,
        "fdsn_event_query": q_fdsn_event_query,
        "glob_filter": q_glob_filter,
        "json_props": q_json_props,
        "availability": q_availability,
        "origin_quality": q_origin_quality,
        "pricing_summary": q_pricing_summary,
        "asof_join": q_asof_join,
        "first_event_per_user": q_first_event_per_user,
        "topk_by_value": q_topk_by_value,
        "radius_search": q_radius_search,
        "dateline_box": q_dateline_box,
        "containment": q_containment,
        "chunk_dedup": q_chunk_dedup,
        "within_doc_dedup": q_within_doc_dedup,
        "score_auc": q_score_auc,
        "ks_drift": q_ks_drift,
        # --- driver cap (50) ---
        # r14 rotation head: the remaining r8 band below, then the r10/r11
        # windows; the r12 window (exact_spans .. approx_quantiles) is the
        # freshest band and rotates last.
        "exact_spans": q_exact_spans,
        "rebalance": q_rebalance,
        "cut_spans": q_cut_spans,
        "apply_mixture": q_apply_mixture,
        "script_mix": q_script_mix,
        "dedup_eval": q_dedup_eval,
        "gram_freq_hist": q_gram_freq_hist,
        "gram_novelty": q_gram_novelty,
        "nearest_association": q_nearest_association,
        "simhash": q_simhash,
        "pivot_by_type": q_pivot_by_type,
        "salted_agg": q_salted_agg,
        "image_phash": q_image_phash,
        "audio_segments": q_audio_segments,
        "winsorize": q_winsorize,
        "dup_spans": q_dup_spans,
        "trend_lines": q_trend_lines,
        "bool_search": q_bool_search,
        "column_corr": q_column_corr,
        "nation_trade": q_nation_trade,
        "small_qty_revenue": q_small_qty_revenue,
        "brand_revenue": q_brand_revenue,
        "promo_share": q_promo_share,
        "market_share": q_market_share,
        "idle_customers": q_idle_customers,
        "seed_ids": q_seed_ids,
        "trim_traces": q_trim_traces,
        "s_before_p": q_s_before_p,
        "dup_remap": q_dup_remap,
        "preferred_fallback": q_preferred_fallback,
        "strip_bump": q_strip_bump,
        "p_outliers": q_p_outliers,
        "quakeml_rt": q_quakeml_rt,
        "segments": q_segments,
        "gaps": q_gaps,
        "uptime": q_uptime,
        "text_stats": q_text_stats,
        "token_estimate": q_token_estimate,
        "doc_fingerprint": q_doc_fingerprint,
        "embed_near_dup": q_embed_near_dup,
        "embed_quantize": q_embed_quantize,
        "hash_split": q_hash_split,
        "exact_dedup": q_exact_dedup,
        "pack_plan": q_pack_plan,
        "zorder_keys": q_zorder_keys,
        "amp_violations": q_amp_violations,
        "orphan_arrivals": q_orphan_arrivals,
        "hll_users": q_hll_users,
        "approx_quantiles": q_approx_quantiles,
        "centroid_drift": q_centroid_drift,
        "rrf_fusion": q_rrf_fusion,
        "embed_cov": q_embed_cov,
        "calibration": q_calibration,
        "threshold_sweep": q_threshold_sweep,
        "edit_near_dup": q_edit_near_dup,
        "cluster_quality": q_cluster_quality,
        "winnow_overlap": q_winnow_overlap,
        "rolling_active": q_rolling_active,
        "dup_threshold_hist": q_dup_threshold_hist,
        "seq_holdout": q_seq_holdout,
        "supplier_profit": q_supplier_profit,
        "nation_value_share": q_nation_value_share,
        "ship_delay_dist": q_ship_delay_dist,
        "supplier_cnt": q_supplier_cnt,
        "dominant_suppliers": q_dominant_suppliers,
        "prefix_templates": q_prefix_templates,
        "zipf_fit": q_zipf_fit,
        "lang_mix": q_lang_mix,
        "embed_outliers": q_embed_outliers,
        "curation_funnel": q_curation_funnel,
        "dup_rate_by_source": q_dup_rate_by_source,
        "compaction_plan": q_compaction_plan,
        "key_skew": q_key_skew,
        "resample": q_resample,
        "temporal_split": q_temporal_split,
        "group_kfold": q_group_kfold,
        "fuzzy_decontam": q_fuzzy_decontam,
        "token_budget": q_token_budget,
        "source_overlap": q_source_overlap,
        "token_entropy": q_token_entropy,
        "readability": q_readability,
        "dup_leakage": q_dup_leakage,
        "stratified_split": q_stratified_split,
        "json_round_trip": q_json_round_trip,
        "attach_origin": q_attach_origin,
        "prune_orphans": q_prune_orphans,
        "merge_picks": q_merge_picks,
        "ci_glob": q_ci_glob,
        "cheapest_supplier": q_cheapest_supplier,
        "priority_returns": q_priority_returns,
        "order_count_dist": q_order_count_dist,
        "large_orders": q_large_orders,
        "forecast_revenue": q_forecast_revenue,
        "top_supplier": q_top_supplier,
        "ngram_diversity": q_ngram_diversity,
        "contamination_frac": q_contamination_frac,
        "action_transitions": q_action_transitions,
        "mad_outliers": q_mad_outliers,
        "semantic_dedup": q_semantic_dedup,
        "bm25": q_bm25,
        "join_size_est": q_join_size_est,
        "weighted_sample": q_weighted_sample,
        "audio_frames": q_audio_frames,
        "bpe_encode": q_bpe_encode,
        "image_patches": q_image_patches,
        "sole_supplier_returns": q_sole_supplier_returns,
        "linear_quality": q_linear_quality,
        "dsir_weights": q_dsir_weights,
        "heavy_hitters": q_heavy_hitters,
        "span_dedup": q_span_dedup,
        "pq_codes": q_pq_codes,
        "local_supplier_volume": q_local_supplier_volume,
        "rolling_metrics": q_rolling_metrics,
        "skew_join": q_skew_join,
        "pmi_pairs": q_pmi_pairs,
        "rank_transform": q_rank_transform,
        "source_divergence": q_source_divergence,
        "ivf_pq": q_ivf_pq,
        "incremental_dedup": q_incremental_dedup,
        "events_wide": q_events_wide,
        "picks_full": q_picks_full,
        "amplitudes_flat": q_amplitudes_flat,
        "arrivals_flat": q_arrivals_flat,
        "station_mags_flat": q_station_mags_flat,
        "focal_preferred": q_focal_preferred,
        "stations_from_stream": q_stations_from_stream,
        "phash_wide": q_phash_wide,
        "curriculum": q_curriculum,
        "dim_trunc": q_dim_trunc,
        "group_sample": q_group_sample,
        "value_histogram": q_value_histogram,
        "table_profile": q_table_profile,
        "corpus_diff": q_corpus_diff,
        "rfm_segments": q_rfm_segments,
        "action_trigrams": q_action_trigrams,
        "ship_priority": q_ship_priority,
        "returned_customers": q_returned_customers,
        "cohort_retention": q_cohort_retention,
        "rate_zscores": q_rate_zscores,
        "sessionize": q_sessionize,
        "funnel": q_funnel,
        "kmeans_step": q_kmeans_step,
        "bpe_pairs": q_bpe_pairs,
        "posting_lists": q_posting_lists,
        "tf_idf": q_tf_idf,
        "unigram_lp": q_unigram_lp,
        "mixture_plan": q_mixture_plan,
        "boilerplate": q_boilerplate,
        "hard_negatives": q_hard_negatives,
        "chunk_text": q_chunk_text,
        "vocab_top": q_vocab_top,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "quality_flags": q_quality_flags,
        "decontaminate": q_decontaminate,
        "ann_recall": q_ann_recall,
        "ivf_flat": q_ivf_flat,
        "lsh_ann": q_lsh_ann,
        "video_frames": q_video_frames,
        "balanced_sample": q_balanced_sample,
        "minhash_near_dup": q_minhash_near_dup,
        "knn_cosine": q_knn_cosine,
        "lang_id": q_lang_id,
        "median_per_group": q_median_per_group,
        "last_per_type": q_last_per_type,
        "duplicate_detection": q_duplicate_detection,
        "agg_rollup": q_agg_rollup,
        "set_ops": q_set_ops,
        "time_chunks": q_time_chunks,
        "offset_limit": q_offset_limit,
        "common_coverage": q_common_coverage,
        "nested_last_event": q_nested_last_event,
        "bulk_request": q_bulk_request,
        "event_payload": q_event_payload,
    }


def oracle_sql() -> dict[str, str]:
    out = {
        "chunk_dedup": _SQL_CHUNK_DEDUP,
        "within_doc_dedup": _SQL_WITHIN_DOC_DEDUP,
        "score_auc": _SQL_SCORE_AUC,
        "ks_drift": _SQL_KS_DRIFT,
        "centroid_drift": _SQL_CENTROID_DRIFT,
        "rrf_fusion": _rrf_sql(),
        "embed_cov": _SQL_EMBED_COV,
        "calibration": _SQL_CALIBRATION,
        "threshold_sweep": _SQL_THRESHOLD_SWEEP,
        "edit_near_dup": _SQL_EDIT_NEAR_DUP,
        "cluster_quality": _SQL_CLUSTER_QUALITY,
        "winnow_overlap": _SQL_WINNOW,
        "containment": _SQL_CONTAINMENT,
        "rolling_active": _SQL_ROLLING_ACTIVE,
        "dup_threshold_hist": _SQL_DUP_HIST,
        "seq_holdout": _SQL_SEQ_HOLDOUT,
        "supplier_profit": _SQL_SUPPLIER_PROFIT,
        "nation_value_share": _SQL_NATION_VALUE_SHARE,
        "ship_delay_dist": _SQL_SHIP_DELAY_DIST,
        "supplier_cnt": _SQL_SUPPLIER_CNT,
        "dominant_suppliers": _SQL_DOMINANT_SUPPLIERS,
        "prefix_templates": _SQL_PREFIX_TEMPLATES,
        "zipf_fit": _SQL_ZIPF,
        "lang_mix": _SQL_LANG_MIX,
        "embed_outliers": _SQL_EMBED_OUTLIERS,
        "curation_funnel": _SQL_CURATION_FUNNEL,
        "dup_rate_by_source": _SQL_DUP_RATE_BY_SOURCE,
        "lsh_recall": _lsh_recall_sql(),
        "compaction_plan": _SQL_COMPACTION_PLAN,
        "key_skew": _SQL_KEY_SKEW,
        "resample": _SQL_RESAMPLE,
        "temporal_split": _SQL_TEMPORAL_SPLIT,
        "group_kfold": _SQL_GROUP_KFOLD,
        "hits_auth": _SQL_HITS,
        "k_core": _k_core_oracle_sql(3, 4),
        "trend_lines": _SQL_TRENDS,
        "bigram_lp": _SQL_BIGRAM_LP,
        "bool_search": _SQL_BOOL_SEARCH,
        "cascade_delete": _SQL_CASCADE,
        "image_phash": _SQL_IMAGE_PHASH,
        "phash_wide": _SQL_PHASH_WIDE,
        "stitch_pairs": _SQL_STITCH_PAIRS,
        "curriculum": _SQL_CURRICULUM,
        "dim_trunc": _SQL_DIM_TRUNC,
        "group_sample": _SQL_GROUP_SAMPLE,
        "audio_segments": _SQL_AUDIO_SEGMENTS,
        "dup_spans": _SQL_DUP_SPANS,
        "column_corr": _column_corr_oracle_sql(),
        "nation_trade": _SQL_Q7,
        "small_qty_revenue": _SQL_Q17,
        "brand_revenue": _SQL_Q19,
        "mad_outliers": _SQL_MAD,
        "promo_share": _SQL_Q14,
        "market_share": _SQL_Q8,
        "forecast_revenue": _SQL_Q6,
        "top_supplier": _SQL_Q15,
        "semantic_dedup": _SQL_SEMANTIC_DEDUP,
        "bm25": _bm25_sql(["spark", "merge", "vector"], 20),
        "join_size_est": _SQL_JOIN_SIZE_EST,
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "audio_frames": _SQL_AUDIO_FRAMES,
        "bpe_encode": _bpe_encode_sql(_BPE_MERGES),
        "image_patches": _SQL_IMAGE_PATCHES,
        "bfs_hops": _SQL_BFS,
        "cheapest_supplier": _SQL_CHEAPEST,
        "priority_returns": _SQL_PRIORITY_RETURNS,
        "order_count_dist": _SQL_ORDER_COUNT_DIST,
        "large_orders": _SQL_LARGE_ORDERS,
        "sole_supplier_returns": _SQL_SOLE_SUPPLIER,
        "idle_customers": _SQL_IDLE_CUSTOMERS,
        "linear_quality": _SQL_LINEAR_QUALITY,
        "dsir_weights": _dsir_sql(),
        "triangle_count": _SQL_TRIANGLES,
        "heavy_hitters": _SQL_CMS,
        "span_dedup": _SQL_SPAN,
        "jaccard_join": _SQL_SETSIM,
        "pq_codes": _SQL_PQ,
        "winsorize": _SQL_WINSOR,
        "local_supplier_volume": _SQL_Q5,
        "rolling_metrics": _SQL_ROLLING,
        "skew_join": _SQL_SKEW_JOIN,
        "pmi_pairs": _SQL_PMI,
        "rank_transform": _SQL_RANK_TRANSFORM,
        "source_divergence": _SQL_SOURCE_KL,
        "ivf_pq": _SQL_IVF_PQ,
        "incremental_dedup": _minhash_sql(
            16, 4,
            extra_pair_pred="\n       AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)",
        ),
        "events_wide": _SQL_EVENTS_WIDE,
        "picks_full": _SQL_PICKS_FULL,
        "amplitudes_flat": _SQL_AMP_FLAT,
        "arrivals_flat": _SQL_ARR_FLAT,
        "station_mags_flat": _SQL_SMAG_FLAT,
        "focal_preferred": _SQL_FOCAL_PREF,
        "stations_from_stream": _SQL_STA_STREAM,
        "canonical_docs": _canonical_sql(),
        "exact_spans": _SQL_EXACT_SPANS,
        "span_keep_one": _SQL_SPAN_KEEP_ONE,
        "span_store_join": _SQL_EXACT_SPANS,
        "bcubed": _bcubed_sql(),
        "shared_regions": _SQL_SHARED_REGIONS,
        "mix_audit": _mix_audit_sql(),
        "span_keep_cut": _SQL_SPAN_KEEP_CUT,
        "top_regions": _SQL_TOP_REGIONS,
        "rebalance": _rebalance_sql(),
        "cut_spans": _SQL_CUT_SPANS,
        "apply_mixture": _apply_mixture_sql(),
        "script_mix": _SQL_SCRIPT_MIX,
        "standardize": _SQL_STANDARDIZE,
        "dedup_eval": _dedup_eval_sql(),
        "gram_freq_hist": _SQL_GRAM_FREQ_HIST,
        "gram_novelty": _SQL_GRAM_NOVELTY,
        "value_histogram": _SQL_HISTOGRAM,
        "table_profile": _SQL_PROFILE,
        "corpus_diff": _SQL_CORPUS_DIFF,
        "rfm_segments": _SQL_RFM,
        "action_trigrams": _SQL_TRIGRAMS,
        "ship_priority": _SQL_SHIP_PRIORITY,
        "returned_customers": _SQL_RETURNED,
        "cohort_retention": _SQL_COHORT,
        "rate_zscores": _SQL_RATEZ,
        "sessionize": _SQL_SESSIONS,
        "funnel": _SQL_FUNNEL,
        "pagerank": _SQL_PAGERANK,
        "kmeans_step": _SQL_KMEANS,
        "bpe_pairs": _SQL_BPE,
        "posting_lists": _SQL_POSTING,
        "tf_idf": _SQL_TFIDF,
        "unigram_lp": _SQL_UNIGRAM,
        "mixture_plan": _mixture_sql(),
        "boilerplate": _SQL_BOILER,
        "hard_negatives": _SQL_HARDNEG,
        "chunk_text": _SQL_CHUNK,
        "vocab_top": _SQL_VOCAB,
        "token_entropy": _SQL_TOKEN_ENTROPY,
        "ngram_diversity": _SQL_NGRAM_DIVERSITY,
        "stratified_split": _SQL_STRATIFIED_SPLIT,
        "contamination_frac": _SQL_CONTAM_FRAC,
        "action_transitions": _SQL_TRANSITIONS,
        "readability": _SQL_READABILITY,
        "dup_leakage": _SQL_DUP_LEAKAGE,
        "pii_scrub": _SQL_PII,
        "pack_plan": _SQL_PACK,
        "decontaminate": _SQL_DECONTAM,
        "zorder_keys": _SQL_ZORDER,
        "ann_recall": _SQL_ANN_RECALL,
        "repetition_stats": _SQL_REPETITION,
        "embed_quantize": _SQL_QUANTIZE,
        "quality_flags": _SQL_QUALITY,
        "video_frames": _SQL_VIDEO,
        "dedup_clusters": _clusters_sql(),
        "hash_split": _SQL_SPLIT,
        "balanced_sample": _SQL_BALANCED,
        "token_estimate": _SQL_TOKEN_EST,
        "amp_violations": _SQL_AMP_VIOLATIONS,
        "fdsn_event_query": _SQL_FDSN,
        "glob_filter": _SQL_GLOB,
        "json_props": _SQL_JSON,
        "availability": _SQL_AVAIL,
        "origin_quality": _SQL_OQ,
        "pricing_summary": _SQL_Q1,
        "revenue_by_nation": _SQL_REV,
        "event_window_join": _SQL_EVWIN,
        "asof_join": _SQL_ASOF,
        "first_event_per_user": _SQL_FIRST,
        "topk_by_value": _SQL_TOPK,
        "gaps": _SQL_GAPS,
        "segments": _SQL_SEGMENTS,
        "uptime": _SQL_UPTIME,
        "exact_dedup": _SQL_DEDUP,
        "text_stats": _SQL_TEXT_STATS,
        "doc_fingerprint": _SQL_FP,
        "minhash_near_dup": _minhash_sql(),
        "fuzzy_decontam": _fuzzy_decontam_sql(),
        "token_budget": _token_budget_sql(),
        "source_overlap": _source_overlap_sql(),
        "leak_safe_split": _leak_safe_split_sql(),
        "knn_cosine": _SQL_KNN,
        "lang_id": _SQL_LANG,
        "median_per_group": _SQL_MEDIAN,
        "last_per_type": _SQL_LAST,
        "duplicate_detection": _SQL_DUPDET,
        "agg_rollup": _SQL_ROLLUP,
        "set_ops": _SQL_SETOPS,
        "time_chunks": _SQL_CHUNKS,
        "offset_limit": _SQL_OFFSET,
        "nearest_association": _SQL_ASSOC,
        "simhash": _simhash_sql(),
        "common_coverage": _SQL_COVERAGE,
        "nested_last_event": _SQL_NESTED,
        "bulk_request": _bulk_sql(),
        "pivot_by_type": _SQL_PIVOT,
        "salted_agg": _SQL_SALTED,
        "event_payload": _SQL_PAYLOAD,
        "json_round_trip": _SQL_JSON_RT,
        "prune_orphans": _SQL_PRUNE,
        "merge_picks": _merge_sql(),
        "ci_glob": _SQL_CI_GLOB,
        "seed_ids": _SQL_SEED,
        "trim_traces": _SQL_TRIM,
        "s_before_p": _SQL_SBP,
        "dup_remap": _SQL_DUP_REMAP,
        "attach_origin": _SQL_ATTACH,
        "preferred_fallback": _SQL_PREF,
        "strip_bump": _SQL_STRIP,
        "p_outliers": _SQL_P_OUT,
        "orphan_arrivals": _SQL_ORPHAN,
        "ivf_flat": _SQL_IVF,
        "embed_near_dup": _SQL_EMBED_ND,
        "hll_users": _SQL_HLL,
        "approx_quantiles": _SQL_APXQ,
        "bloom_semi": _SQL_BLOOM,
        "lsh_ann": _lsh_sql(),
        "sds_chunks": _SQL_SDS,
        "wav_roundtrip": _SQL_WAV,
        "mseed_roundtrip": _SQL_MSEED,
        "csv_round_trip": _SQL_CSV_RT,
        "quakeml_rt": _SQL_QML_RT,
        "stationxml_rt": _SQL_STXML,
        "normalize_seed": _SQL_NORM_SEED,
        "stream_proc": _SQL_STREAM_PROC,
        "fetcher_windows": _SQL_FETCH_WIN,
        "ppm_roundtrip": _SQL_PPM,
    }
    out.update(_geo_oracles())
    return out
