"""Relational queries: TPC-H shapes, aggregations, set operations,
sorts, layout planning and table profiling over the test tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from corpus.common import (
    NS,
    _cust_geo,
    _orders_dim_small,
    _t,
    _tcol,
    _ts_ns,
)


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


QUERIES = [
    (q_origin_quality, _SQL_OQ),
    (q_pricing_summary, _SQL_Q1),
    (q_revenue_by_nation, _SQL_REV),
    (q_ship_priority, _SQL_SHIP_PRIORITY),
    (q_returned_customers, _SQL_RETURNED),
    (q_topk_by_value, _SQL_TOPK),
    (q_median_per_group, _SQL_MEDIAN),
    (q_duplicate_detection, _SQL_DUPDET),
    (q_agg_rollup, _SQL_ROLLUP),
    (q_set_ops, _SQL_SETOPS),
    (q_offset_limit, _SQL_OFFSET),
    (q_pivot_by_type, _SQL_PIVOT),
    (q_salted_agg, _SQL_SALTED),
    (q_csv_round_trip, _SQL_CSV_RT),
    (q_zorder_keys, _SQL_ZORDER),
    (q_compaction_plan, _SQL_COMPACTION_PLAN),
    (q_key_skew, _SQL_KEY_SKEW),
    (q_value_histogram, _SQL_HISTOGRAM),
    (q_table_profile, _SQL_PROFILE),
    (q_rfm_segments, _SQL_RFM),
    (q_local_supplier_volume, _SQL_Q5),
    (q_skew_join, _SQL_SKEW_JOIN),
    (q_cheapest_supplier, _SQL_CHEAPEST),
    (q_priority_returns, _SQL_PRIORITY_RETURNS),
    (q_order_count_dist, _SQL_ORDER_COUNT_DIST),
    (q_large_orders, _SQL_LARGE_ORDERS),
    (q_sole_supplier_returns, _SQL_SOLE_SUPPLIER),
    (q_idle_customers, _SQL_IDLE_CUSTOMERS),
    (q_supplier_profit, _SQL_SUPPLIER_PROFIT),
    (q_nation_value_share, _SQL_NATION_VALUE_SHARE),
    (q_ship_delay_dist, _SQL_SHIP_DELAY_DIST),
    (q_supplier_cnt, _SQL_SUPPLIER_CNT),
    (q_dominant_suppliers, _SQL_DOMINANT_SUPPLIERS),
    (q_cascade_delete, _SQL_CASCADE),
    (q_nation_trade, _SQL_Q7),
    (q_small_qty_revenue, _SQL_Q17),
    (q_brand_revenue, _SQL_Q19),
    (q_promo_share, _SQL_Q14),
    (q_market_share, _SQL_Q8),
    (q_forecast_revenue, _SQL_Q6),
    (q_top_supplier, _SQL_Q15),
]
