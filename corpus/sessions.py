"""Event-stream analytics: sessions, funnels, transitions, cohorts,
resampling, rolling windows and robust per-group statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus.common import _t, _ts_ns


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


QUERIES = [
    (q_action_transitions, _SQL_TRANSITIONS),
    (q_resample, _SQL_RESAMPLE),
    (q_action_trigrams, _SQL_TRIGRAMS),
    (q_cohort_retention, _SQL_COHORT),
    (q_rate_zscores, _SQL_RATEZ),
    (q_sessionize, _SQL_SESSIONS),
    (q_funnel, _SQL_FUNNEL),
    (q_winsorize, _SQL_WINSOR),
    (q_rolling_metrics, _SQL_ROLLING),
    (q_rank_transform, _SQL_RANK_TRANSFORM),
    (q_trend_lines, _SQL_TRENDS),
    (q_column_corr, _column_corr_oracle_sql()),
    (q_mad_outliers, _SQL_MAD),
    (q_rolling_active, _SQL_ROLLING_ACTIVE),
]
