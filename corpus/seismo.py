"""Seismology queries: FDSN event filters, availability and gaps, event
windows and as-of joins, catalog surgery and validation, the rich event
tree extractors, QuakeML/StationXML/miniSEED codecs, the SDS rechunk and
the Fetcher.

The mapping onto the test tables (SURVEY.md §2):

- waveform-index intervals  → per-event intervals [ts, ts + value·60 s)
- NSLC availability/gaps    → per-user coverage analytics on those intervals
- event-window extraction   → purchase-window × click interval join
- first-pick / as-of joins  → purchase ← last-click as-of join
- FDSN get_events filters   → predicate pushdown queries on events/part
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from obsplus_spark.cache import register_shingle_cache
from corpus.common import MIN_GAP_NS, NS, VAL_TO_NS, WIN_NS, _t, _ts_ns


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


QUERIES = [
    (q_fdsn_event_query, _SQL_FDSN),
    (q_glob_filter, _SQL_GLOB),
    (q_json_props, _SQL_JSON),
    (q_availability, _SQL_AVAIL),
    (q_event_window_join, _SQL_EVWIN),
    (q_asof_join, _SQL_ASOF),
    (q_first_event_per_user, _SQL_FIRST),
    (q_gaps, _SQL_GAPS),
    (q_segments, _SQL_SEGMENTS),
    (q_uptime, _SQL_UPTIME),
    (q_last_per_type, _SQL_LAST),
    (q_time_chunks, _SQL_CHUNKS),
    (q_nearest_association, _SQL_ASSOC),
    (q_common_coverage, _SQL_COVERAGE),
    (q_nested_last_event, _SQL_NESTED),
    (q_bulk_request, _bulk_sql()),
    (q_event_payload, _SQL_PAYLOAD),
    (q_json_round_trip, _SQL_JSON_RT),
    (q_prune_orphans, _SQL_PRUNE),
    (q_merge_picks, _merge_sql()),
    (q_ci_glob, _SQL_CI_GLOB),
    (q_seed_ids, _SQL_SEED),
    (q_trim_traces, _SQL_TRIM),
    (q_s_before_p, _SQL_SBP),
    (q_dup_remap, _SQL_DUP_REMAP),
    (q_attach_origin, _SQL_ATTACH),
    (q_preferred_fallback, _SQL_PREF),
    (q_strip_bump, _SQL_STRIP),
    (q_p_outliers, _SQL_P_OUT),
    (q_orphan_arrivals, _SQL_ORPHAN),
    (q_amp_violations, _SQL_AMP_VIOLATIONS),
    (q_sds_chunks, _SQL_SDS),
    (q_mseed_roundtrip, _SQL_MSEED),
    (q_quakeml_rt, _SQL_QML_RT),
    (q_stationxml_rt, _SQL_STXML),
    (q_normalize_seed, _SQL_NORM_SEED),
    (q_stream_proc, _SQL_STREAM_PROC),
    (q_fetcher_windows, _SQL_FETCH_WIN),
    (q_amplitudes_flat, _SQL_AMP_FLAT),
    (q_station_mags_flat, _SQL_SMAG_FLAT),
    (q_arrivals_flat, _SQL_ARR_FLAT),
    (q_picks_full, _SQL_PICKS_FULL),
    (q_events_wide, _SQL_EVENTS_WIDE),
    (q_focal_preferred, _SQL_FOCAL_PREF),
    (q_stations_from_stream, _SQL_STA_STREAM),
]
