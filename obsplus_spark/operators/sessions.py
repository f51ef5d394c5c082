"""Event-stream analytics: sessionization and funnel progression.

Gap-based sessions and ordered-stage funnels over an (entity,
timestamp) event log — the engagement / conversion shapes an events
table answers at warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_sessions(
    events: DataFrame,
    gap_ns: int,
    user_col: str = "user_id",
    ts_col: str = "t_ns",
) -> DataFrame:
    """Gap-based sessionization: per entity, events closer than
    ``gap_ns`` chain into one session; emit per-entity session stats.

    Scale shape: ONE shuffle — the classic gaps-and-islands program
    (lag → break flag → running sum) runs in a single user-partitioned
    window pass, and both downstream aggregates (per-session, then
    per-user) reuse that partitioning (``HashPartitioning(user)``
    satisfies the ``(user, session)`` clustering requirement, so
    Catalyst inserts no further exchange). Tie timestamps chain into the
    same session regardless of intra-tie order (gap 0 ≤ any threshold),
    so the stats are deterministic without a tiebreaker column.

    Output: (user, n_sessions, n_events, longest_session_events,
    longest_session_ns).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH o AS (
          SELECT {user_col}, {ts_col},
                 CASE WHEN lag({ts_col}) OVER w IS NULL
                        OR {ts_col} - lag({ts_col}) OVER w > {int(gap_ns)}
                      THEN 1 ELSE 0 END AS _brk
          -- NULL-timestamp events cannot sessionize (no position on
          -- the time axis) and engines disagree on their window sort
          -- side (Spark NULLS FIRST vs DuckDB NULLS LAST — r8
          -- degenerate-events sweep); dropped by contract
          FROM {{e}} WHERE {ts_col} IS NOT NULL
          WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col})
        ),
        s AS (
          SELECT {user_col}, {ts_col},
                 sum(_brk) OVER (PARTITION BY {user_col} ORDER BY {ts_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS _sid
          FROM o
        ),
        per AS (
          SELECT {user_col}, _sid,
                 CAST(count(1) AS BIGINT) AS _n,
                 max({ts_col}) - min({ts_col}) AS _dur
          FROM s GROUP BY {user_col}, _sid
        )
        SELECT {user_col},
               CAST(count(1) AS BIGINT) AS n_sessions,
               CAST(sum(_n) AS BIGINT) AS n_events,
               CAST(max(_n) AS BIGINT) AS longest_session_events,
               CAST(max(_dur) AS BIGINT) AS longest_session_ns
        FROM per GROUP BY {user_col}
        """,
    )


def funnel_counts(
    events: DataFrame,
    stages: "list[str]",
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "t_ns",
) -> DataFrame:
    """Ordered-funnel progression: how many entities reached stage k —
    an event of type ``stages[k]`` STRICTLY after their stage-k−1 event
    (earliest-possible progression: each stage anchors at its minimum
    qualifying timestamp, the standard open-funnel definition).

    Scale shape: ONE user-keyed exchange for any number of stages. The
    event log (pre-filtered to funnel types) sorts once per user;
    stage anchors materialize as STACKED running-conditional-min window
    passes over that single sort (``r_k`` at a row = the user's
    stage-k anchor as known so far — by the time a qualifying stage-k+1
    event appears, ``r_k`` equals the global anchor because the anchor
    row sorts strictly earlier), the per-user anchors fall out of the
    same-partitioning GROUP BY (no second exchange), and the per-stage
    counts collapse in one scalar aggregate emitted via ``inline``.
    A/B vs the k-chained-join formulation at sf0.1: 0.18 s vs 0.54 s —
    and at 100 TB this shuffles the log once instead of k times. Tie
    timestamps are safe without a tiebreaker: progression is STRICT
    (ts > anchor), so an equal-ts event fails the comparison whichever
    side of the tie it sorts on.

    Output: (stage 1-based, event_type, n_users), one row per stage.
    """
    from obsplus_spark.functions.sqltext import sql_literal
    from obsplus_spark.util import ensure_parallelism, sql_over

    if not stages:
        raise ValueError("stages must be non-empty")
    lits = [sql_literal(s) for s in stages]
    win = (
        f"WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    in_list = ", ".join(lits)

    def cand(i: int) -> str:
        guard = f" AND {ts_col} > r{i - 1}" if i > 0 else ""
        return f"CASE WHEN {type_col} = {lits[i]}{guard} THEN {ts_col} END"

    parts = [
        f"""
        w0 AS (
          SELECT {user_col}, {type_col}, {ts_col} FROM {{e}}
          WHERE {type_col} IN ({in_list})
        )"""
    ]
    for i in range(len(stages) - 1):
        parts.append(
            f"""
        w{i + 1} AS (
          SELECT *, min({cand(i)}) OVER w AS r{i}
          FROM w{i} {win}
        )"""
        )
    last = len(stages) - 1
    anchors = ", ".join(
        f"min({cand(i)}) AS t{i}" for i in range(len(stages))
    )
    counts = ", ".join(
        f"CAST(count(t{i}) AS BIGINT) AS c{i}" for i in range(len(stages))
    )
    rows = ", ".join(
        f"named_struct('stage', CAST({i + 1} AS BIGINT),"
        f" 'event_type', {lits[i]}, 'n_users', c{i})"
        for i in range(len(stages))
    )
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH {','.join(parts)},
        per AS (
          SELECT {user_col}, {anchors}
          FROM w{last} GROUP BY {user_col}
        ),
        agg AS (SELECT {counts} FROM per)
        SELECT inline(array({rows})) FROM agg
        """,
    )


def cohort_retention(
    events: DataFrame,
    week_ns: int = 7 * 86400 * 1_000_000_000,
    user_col: str = "user_id",
    ts_col: str = "t_ns",
) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, and
    for each later week offset, how many of that cohort were active —
    the standard engagement read-out over an event log.

    Weeks are epoch-relative fixed windows (``ts div week_ns``) — true
    integer division, no calendar, engine-portable. (SQL ``/`` on BIGINTs
    is IEEE double division in both Spark and DuckDB; ns-epoch operands
    ~1e18 exceed 2^53, so ``floor(ts / w)`` can bucket events within a
    few hundred ns of a boundary into the neighboring week — ``div``
    avoids that. Epoch-ns timestamps are non-negative, where ``div``
    equals floor division.)

    Scale shape: first-seen week is ONE min-aggregate keyed by user;
    activity joins back on the user key (AQE broadcasts the cohort side
    when it is small); the (cohort, offset, user) distinct and the final
    count are one aggregate each, both map-side combinable and both
    dimension²-sized after the distinct. No window.

    Output: (cohort_week, week_offset, n_users).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    w = int(week_ns)
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH u AS (
          SELECT {user_col},
                 min({ts_col}) div {w} AS cohort_week
          FROM {{e}} GROUP BY {user_col}
        ),
        a AS (
          SELECT DISTINCT u.cohort_week,
                 e.{ts_col} div {w} - u.cohort_week AS week_offset,
                 e.{user_col}
          FROM {{e}} e JOIN u ON e.{user_col} = u.{user_col}
        )
        SELECT cohort_week, week_offset,
               CAST(count(1) AS BIGINT) AS n_users
        FROM a GROUP BY cohort_week, week_offset
        """,
    )


def rate_zscores(
    events: DataFrame,
    bucket_ns: int = 3600 * 1_000_000_000,
    type_col: str = "event_type",
    ts_col: str = "t_ns",
) -> DataFrame:
    """Per-type event-rate anomaly scores: bucket the log into fixed
    windows, then z-score each (type, bucket) count against that type's
    own mean/stddev across buckets — the monitoring pass that flags
    traffic spikes and outages.

    Only OBSERVED buckets enter the statistics (a type absent from a
    bucket contributes no zero row — the sparse convention; densifying
    against a generated bucket spine is a caller-side cross join).

    Scale shape: ONE map-combinable hash aggregate over the event log
    keyed (type, bucket); everything after runs on dimension-sized data
    (types × buckets): the per-type mean/stddev is a window over the
    type partition, z is a row expression. ``stddev_pop`` + 6-dp
    rounding keeps the output engine-stable; a single-bucket type has
    stddev 0 and reports z = 0.

    Output: (event_type, bucket, n_events, z).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    b = int(bucket_ns)
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH c AS (
          SELECT {type_col} AS event_type,
                 {ts_col} div {b} AS bucket,
                 CAST(count(1) AS BIGINT) AS n_events
          FROM {{e}} GROUP BY {type_col}, {ts_col} div {b}
        )
        SELECT event_type, bucket, n_events,
               CASE WHEN stddev_pop(n_events) OVER w = 0 THEN 0.0D
                    ELSE round((n_events - avg(n_events) OVER w)
                               / stddev_pop(n_events) OVER w, 6)
               END AS z
        FROM c
        WINDOW w AS (PARTITION BY event_type)
        """,
    )


def action_ngrams(
    events: DataFrame,
    n: int = 3,
    k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "t_ns",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """User-journey pattern mining: the ``k`` most frequent length-``n``
    action sequences (consecutive event types within a user's
    time-ordered stream) — the navigation/behavior motifs an event log
    yields.

    Ordering ties are broken by ``tiebreak_col`` (pass a unique column
    like the event id whenever timestamps can repeat — without it, tie
    order is engine-dependent and so are the n-grams).

    Scale shape: ONE user-keyed exchange — each user's ordered type
    sequence folds in-row (``collect_list`` of (ts, tiebreak, type)
    structs, sorted in-row by ``array_sort``'s struct ordering, then a
    ``transform`` over n-length slices), so no self-join and no window;
    the n-gram counts are a map-combinable vocabulary aggregate and the
    cut is a distributed TakeOrdered. Per-user state is the user's
    event count — bounded by the same assumption user_sessions makes.

    Output: (ngram ' '-joined, n_occurrences), ≤ k rows.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    tb = tiebreak_col if tiebreak_col is not None else ts_col
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH seq AS (
          SELECT {user_col},
                 transform(array_sort(collect_list(named_struct(
                   't', {ts_col}, 'tb', {tb}, 'ty', {type_col}))),
                   s -> s.ty) AS _types
          -- events with no timestamp or no action cannot take a
          -- position in the journey (struct-sort NULL placement is
          -- engine-dependent, and a NULL action would silently shrink
          -- a joined n-gram) — dropped by contract (r8 sweep)
          FROM {{e}}
          WHERE {ts_col} IS NOT NULL AND {type_col} IS NOT NULL
          GROUP BY {user_col}
        ),
        g AS (
          SELECT gram FROM (
            SELECT CASE WHEN size(_types) >= {int(n)} THEN
                     transform(sequence(1, size(_types) - {int(n) - 1}),
                       i -> array_join(slice(_types, i, {int(n)}), ' '))
                   ELSE CAST(array() AS ARRAY<STRING>) END AS _grams
            FROM seq)
          LATERAL VIEW explode(_grams) _e AS gram
        )
        SELECT gram AS ngram, CAST(count(1) AS BIGINT) AS n_occurrences
        FROM g GROUP BY gram
        ORDER BY n_occurrences DESC, ngram
        LIMIT {int(k)}
        """,
    )


def winsorized_stats(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    lower: float = 0.05,
    upper: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Per-group winsorized (clamped-tail) statistics: the robust-metric
    pass that keeps a handful of pathological values from dominating a
    per-segment mean — discrete lower/upper quantile bounds, tail counts,
    and the mean after clamping into [lo, hi].

    Quantiles are DISCRETE (the value at rank ``⌈p·n⌉`` under the total
    order ``(value, id)``) — rank-exact, no interpolation, so two engines
    agree bit-for-bit. With ``exact=True`` ranks come from one window
    pass; the rank window sorts each key's partition, so exact mode is
    for per-key volumes a partition can sort (and for oracle
    verification). At 100-TB volumes call with ``exact=False``: bounds
    come from ``percentile_approx`` (mergeable KLL partials, no per-key
    sort) with the same output schema, and the clamp pass is unchanged.

    Scale shape (exact): ONE exchange keyed by the group — the rank
    window, the boundary-broadcast window, and the final aggregate all
    share the same partitioning, so Catalyst plans a single shuffle +
    sort reused across all three. No joins, no driver actions.

    Output: (key, n, lo, hi, n_low, n_high, w_mean); doubles 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    lo_p, hi_p = float(lower), float(upper)
    if not (0.0 < lo_p < hi_p < 1.0):
        raise ValueError(f"need 0 < lower < upper < 1, got {lower}, {upper}")
    if not exact:
        bounds = (
            ensure_parallelism(df)
            .where(f"{value_col} IS NOT NULL")
            .groupBy(key_col)
            .agg(
                F.expr(
                    f"percentile_approx({value_col},"
                    f" array({lo_p!r}, {hi_p!r}), 10000) AS _b"
                )
            )
            .selectExpr(key_col, "_b[0] AS lo", "_b[1] AS hi")
        )
        return sql_over(
            {"d": ensure_parallelism(df), "b": bounds},
            f"""
            SELECT d.{key_col} AS {key_col},
                   CAST(count(1) AS BIGINT) AS n,
                   round(max(b.lo), 6) AS lo, round(max(b.hi), 6) AS hi,
                   CAST(sum(CASE WHEN d.{value_col} < b.lo THEN 1 ELSE 0
                            END) AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN d.{value_col} > b.hi THEN 1 ELSE 0
                            END) AS BIGINT) AS n_high,
                   round(avg(least(greatest(d.{value_col}, b.lo), b.hi)), 6)
                     AS w_mean
            FROM {{d}} d JOIN {{b}} b ON d.{key_col} = b.{key_col}
            WHERE d.{value_col} IS NOT NULL
            GROUP BY d.{key_col}
            """,
        )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH r AS (
          SELECT {key_col}, {value_col},
                 row_number() OVER (PARTITION BY {key_col}
                     ORDER BY {value_col}, {id_col}) AS rn,
                 count(1) OVER (PARTITION BY {key_col}) AS n
          FROM {{d}} WHERE {value_col} IS NOT NULL
        ),
        b AS (
          SELECT {key_col}, {value_col}, n,
                 max(CASE WHEN rn = greatest(CAST(ceil({lo_p!r} * n) AS
                       BIGINT), 1) THEN {value_col} END)
                   OVER (PARTITION BY {key_col}) AS lo,
                 max(CASE WHEN rn = greatest(CAST(ceil({hi_p!r} * n) AS
                       BIGINT), 1) THEN {value_col} END)
                   OVER (PARTITION BY {key_col}) AS hi
          FROM r
        )
        SELECT {key_col}, CAST(max(n) AS BIGINT) AS n,
               round(max(lo), 6) AS lo, round(max(hi), 6) AS hi,
               CAST(sum(CASE WHEN {value_col} < lo THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_low,
               CAST(sum(CASE WHEN {value_col} > hi THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_high,
               round(avg(least(greatest({value_col}, lo), hi)), 6)
                 AS w_mean
        FROM b GROUP BY {key_col}
        """,
    )


def rolling_window_sums(
    daily: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    window: int = 7,
) -> DataFrame:
    """Trailing moving-window aggregates over a per-(key, period) series:
    the RANGE-frame shape (``RANGE BETWEEN w−1 PRECEDING AND CURRENT
    ROW`` on an integer period index), which handles GAPS in the series
    correctly — a missing day simply contributes nothing, with no need to
    densify the calendar first.

    The caller supplies the already-aggregated series (one row per key ×
    period, e.g. from a groupBy over ``floor_div(ts, day_ns)``); the
    per-period value should be pre-rounded so the frame sums are
    engine-stable. One exchange keyed by ``key_col``; the frame scan is
    a single sort within each key's partition.

    Output: key, period, the value, ``mw_sum`` / ``mw_n`` / ``mw_avg``
    over the trailing window (6 dp).
    """
    from obsplus_spark.util import sql_over

    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    frame = (
        f"OVER (PARTITION BY {key_col} ORDER BY {order_col}"
        f" RANGE BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"
    )
    # no ensure_parallelism: the input contract is an already-aggregated
    # per-(key, period) series — typically the output of a shuffle whose
    # parallelism is already right; injecting a round-robin repartition
    # here added a full extra exchange for nothing
    return sql_over(
        {"d": daily},
        f"""
        SELECT {key_col}, {order_col}, {value_col},
               round(sum({value_col}) {frame}, 6) AS mw_sum,
               CAST(count(1) {frame} AS BIGINT) AS mw_n,
               round(sum({value_col}) {frame}
                     / count(1) {frame}, 6) AS mw_avg
        FROM {{d}}
        """,
    )


def rank_transform(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Per-group rank normalization: percent-rank in [0, 1] plus an
    integer quantile bucket for every row — the feature transform that
    makes heavy-tailed metrics comparable across segments (rank/quantile
    features for ranking models, stratified sampling keys).

    Determinism: ranks come from ``row_number`` under the TOTAL order
    ``(value, id)``; the bucket is pure integer arithmetic
    ``((rn − 1) · buckets) div n`` (never ``ntile``/``floor(double)``,
    whose tie and boundary behavior is engine-specific). One keyed
    exchange; both window values ride the same sort.

    Output: the input's (id, key, value) plus ``pct_rank`` (6 dp, 0.0
    for singleton groups) and ``bucket`` (0 .. buckets−1).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    b = int(buckets)
    if b < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {id_col}, {key_col}, {value_col},
               round(CASE WHEN n > 1
                     THEN (rn - 1) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END, 6)
                 AS pct_rank,
               CAST(((rn - 1) * {b}) div n AS INT) AS bucket
        FROM (
          SELECT {id_col}, {key_col}, {value_col},
                 row_number() OVER (PARTITION BY {key_col}
                     ORDER BY {value_col}, {id_col}) AS rn,
                 count(1) OVER (PARTITION BY {key_col}) AS n
          FROM {{d}} WHERE {value_col} IS NOT NULL
        )
        """,
    )


def ols_trends(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    day_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Per-key ordinary-least-squares trend line of a metric against
    time: slope (metric units / day), intercept, and r² for every key —
    the drift/trend detector a monitoring or curation pipeline runs per
    segment (is this source's quality decaying? is this user's activity
    ramping?).

    Closed-form OLS over sufficient statistics: ``slope = (n·Σxy −
    Σx·Σy) / (n·Σx² − (Σx)²)``. The time axis is re-based per key to
    integer DAYS since the key's first event (``(t − min t) div
    day_ns``) BEFORE any squaring: raw ns epochs are ~1e18, their
    squares (~1e36) shred a double's 52-bit mantissa and make the
    denominator catastrophic-cancellation garbage; re-based day indexes
    are small integers, so Σx and Σx² are EXACT BIGINTs and the
    denominator is integer-exact. Only the y-sums are doubles (6-dp
    rounded outputs absorb summation-order jitter).

    Degenerate keys are NULL, not wrong: a single observation or a
    single distinct day has no slope (integer denominator exactly 0);
    zero y-variance has no r².

    Scale shape: ONE exchange keyed by the group — the re-basing
    window min and the sufficient-statistics aggregate share the same
    partitioning (no join; the stats table is key-sized). No driver
    actions.

    Output: (key, n, slope, intercept, r2) — doubles 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    d_ns = int(day_ns)
    if d_ns < 1:
        raise ValueError(f"day_ns must be >= 1, got {day_ns}")
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH b AS (
          -- x promoted to DOUBLE before the sufficient statistics:
          -- BIGINT sum(x*x) / n*sxx THROW under ANSI once a key holds
          -- a few hundred thousand rows across a 10^4-bucket span
          -- (reachable at 100 TB); every output is a 6-dp DOUBLE
          -- anyway, and zipf_fit already uses this double-stats shape
          SELECT {key_col},
                 CAST(({ts_col} - min({ts_col}) OVER (PARTITION BY
                     {key_col})) div {d_ns} AS DOUBLE) AS x,
                 {value_col} AS y
          FROM {{d}}
          WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
        ),
        a AS (
          SELECT {key_col}, CAST(count(1) AS DOUBLE) AS n,
                 sum(x) AS sx, sum(x * x) AS sxx,
                 sum(y) AS sy, sum(x * y) AS sxy, sum(y * y) AS syy
          FROM b GROUP BY {key_col}
        )
        SELECT {key_col}, CAST(n AS BIGINT) AS n,
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
        """,
    )


def column_correlations(
    df: DataFrame,
    cols: "list[str]",
) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns in ONE
    pass: the feature-redundancy / drift-structure probe a profiling
    pipeline runs beside per-column stats (``table_profile``) — which
    metrics move together, which are near-duplicates of each other.

    All ``k·(k+3)/2`` sufficient statistics (count, per-column sums and
    squares, per-pair products) accumulate in a single map-combined
    aggregate over one scan; the correlations are closed-form
    expressions over that one row, expanded in-row to a pair-per-row
    frame. Rows with a NULL in ANY requested column are dropped first
    (listwise deletion — the one rule that keeps every pair on the same
    n; documented). Degenerate pairs (either variance term ≤ 0) are
    NULL, not wrong.

    Scale shape: one scan, one aggregate, no shuffle beyond the final
    single-row reduce, no joins, no windows. 100 TB in one pass.

    Output: (col_x, col_y, n, r) for the ``k·(k−1)/2`` ordered pairs;
    r rounded to 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    cs = list(dict.fromkeys(cols))
    if len(cs) < 2:
        raise ValueError(f"need at least two distinct columns, got {cols}")
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in cs)
    aggs = ["CAST(count(1) AS BIGINT) AS n"]
    for i, c in enumerate(cs):
        aggs.append(f"sum(CAST({c} AS DOUBLE)) AS s{i}")
        aggs.append(
            f"sum(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)) AS q{i}"
        )
    pairs = [
        (i, j) for i in range(len(cs)) for j in range(len(cs)) if i < j
    ]
    for i, j in pairs:
        aggs.append(
            f"sum(CAST({cs[i]} AS DOUBLE) * CAST({cs[j]} AS DOUBLE))"
            f" AS p{i}_{j}"
        )
    structs = ", ".join(
        f"named_struct('col_x', '{cs[i]}', 'col_y', '{cs[j]}',"
        f" 'r', CASE WHEN (n * q{i} - s{i} * s{i}) > 0"
        f"       AND (n * q{j} - s{j} * s{j}) > 0"
        f"      THEN round((n * p{i}_{j} - s{i} * s{j})"
        f"           / sqrt((n * q{i} - s{i} * s{i})"
        f"                  * (n * q{j} - s{j} * s{j})), 6) END)"
        for i, j in pairs
    )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH a AS (
          SELECT {", ".join(aggs)} FROM {{d}} WHERE {not_null}
        )
        SELECT p.col_x, p.col_y, n, p.r
        FROM (SELECT n, explode(array({structs})) AS p FROM a)
        """,
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier detection by median absolute deviation:
    the heavy-tail-safe alternative to z-scores (one wild value moves a
    mean and stddev arbitrarily far; it moves a median and MAD not at
    all) — the anomaly screen for skewed metrics where
    :func:`rate_zscores`' normal assumption lies.

    Medians are DISCRETE (the value at rank ``⌈n/2⌉`` under the total
    order ``(value, id)`` — rank-exact, no interpolation, so two
    engines agree bit-for-bit; same convention as
    :func:`winsorized_stats`); deviations are ``|v − median|`` and the
    MAD is their discrete median under ``(deviation, id)``. A row is an
    outlier when ``deviation > k·MAD``. All comparisons evaluate the
    identical IEEE expressions on both engines — deterministic.

    Scale shape: ONE exchange keyed by the group — the value-rank
    window, the median-broadcast window, the deviation-rank window,
    the MAD-broadcast window, and the final aggregate all share the
    same partitioning (Catalyst plans one shuffle with per-window
    sorts). No joins, no driver actions.

    Output: (key, n, med, mad, n_outliers) — 6 dp medians, BIGINT
    counts.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    kk = float(k)
    if not kk > 0.0:
        raise ValueError(f"k must be > 0, got {k}")
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH r AS (
          SELECT {key_col}, {value_col}, {id_col},
                 row_number() OVER (PARTITION BY {key_col}
                     ORDER BY {value_col}, {id_col}) AS rn,
                 count(1) OVER (PARTITION BY {key_col}) AS n
          FROM {{d}} WHERE {value_col} IS NOT NULL
        ),
        m AS (
          SELECT {key_col}, {value_col}, {id_col}, n,
                 max(CASE WHEN rn = CAST(ceil(n / 2.0D) AS BIGINT)
                     THEN {value_col} END)
                   OVER (PARTITION BY {key_col}) AS med
          FROM r
        ),
        dv AS (
          SELECT {key_col}, n, med, abs({value_col} - med) AS dev,
                 row_number() OVER (PARTITION BY {key_col}
                     ORDER BY abs({value_col} - med), {id_col}) AS drn
          FROM m
        ),
        md AS (
          SELECT {key_col}, n, med, dev,
                 max(CASE WHEN drn = CAST(ceil(n / 2.0D) AS BIGINT)
                     THEN dev END)
                   OVER (PARTITION BY {key_col}) AS mad
          FROM dv
        )
        SELECT {key_col}, CAST(max(n) AS BIGINT) AS n,
               round(max(med), 6) AS med,
               round(max(mad), 6) AS mad,
               CAST(sum(CASE WHEN dev > {kk!r}D * mad THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outliers
        FROM md
        GROUP BY {key_col}
        """,
    )


def action_transitions(
    events: DataFrame,
    k: int = 50,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "t_ns",
    tiebreak_col: "str | None" = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user action
    streams: for every consecutive (current → next) action pair, the
    transition count and the conditional probability
    ``P(next | current)`` — the behavioral model behind journey
    anomaly detection, next-action prediction baselines, and funnel
    design (:func:`action_ngrams` surfaces the frequent MOTIFS; this
    normalizes them into a usable conditional distribution).

    Same contracts as action_ngrams (r8): events with no timestamp or
    no action are dropped (no position / no state), and ordering ties
    break on ``tiebreak_col``. Scale shape: ONE user-keyed exchange —
    each user's ordered type sequence folds in-row and the explode
    carries the INDEX sequence (the cheap-explode-input convention:
    the inferred `size > 0` predicate pushed to the scan then costs a
    size, not the pair materialization); the pair counts are a
    map-combinable vocabulary aggregate, and the conditional
    normalizer is a window over the vocabulary²-sized count frame —
    never over events.

    Output: (cur_action, next_action, n_transitions, p_next), top-``k``
    by count (ties by action pair).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    tb = tiebreak_col if tiebreak_col is not None else ts_col
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH seq AS (
          SELECT {user_col},
                 transform(array_sort(collect_list(named_struct(
                   't', {ts_col}, 'tb', {tb}, 'ty', {type_col}))),
                   s -> s.ty) AS _types
          FROM {{e}}
          WHERE {ts_col} IS NOT NULL AND {type_col} IS NOT NULL
          GROUP BY {user_col}
        ),
        t AS (
          SELECT _types[i - 1] AS cur, _types[i] AS nxt
          FROM seq
          LATERAL VIEW explode(
            CASE WHEN size(_types) < 2 THEN array()
                 ELSE sequence(1, size(_types) - 1) END) _e AS i
        ),
        c AS (
          SELECT cur, nxt, CAST(count(1) AS BIGINT) AS n
          FROM t GROUP BY cur, nxt
        )
        SELECT cur AS cur_action, nxt AS next_action,
               n AS n_transitions,
               round(n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE),
                     6) AS p_next
        FROM c
        ORDER BY n DESC, cur, nxt
        LIMIT {int(k)}
        """,
    )


def resample_linear(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step: int = 3_600_000_000_000,
) -> DataFrame:
    """Resample an irregular per-key time series onto a regular
    ``step``-spaced grid with linear interpolation between bracketing
    samples — the gap-fill/rate-normalization step before any
    fixed-rate computation (spectral features, aligned cross-key
    correlation, model windows); the reference's trace resampling plays
    the same role for waveforms (obsplus passes streams to obspy's
    resample — here the grid is derived with window + in-row sequence).

    Grid contract: points are multiples of ``step`` (a global epoch
    grid, so resampled keys ALIGN across the corpus — a per-key grid
    anchored at each key's first sample would not be joinable). Each
    consecutive sample pair (t_i, t_{i+1}) emits the grid points
    t_i ≤ g < t_{i+1} (the final sample emits its own point only if
    exactly on-grid); keys need ≥ 2 samples to interpolate, and NULL
    ts/value rows are dropped by contract (an unknown time or level
    cannot anchor an interpolation). Timestamps must be NON-NEGATIVE
    (epoch ns in practice): the grid arithmetic uses integer division,
    whose truncating (Spark ``div``) and flooring (DuckDB ``//``)
    conventions diverge below zero — the house ns-epoch rule, same as
    ``segments_df``. DUPLICATE timestamps within a key order by value
    (the window's explicit tiebreaker, mirrored in the oracle) so the
    result is deterministic: the tied rows form a zero-length segment
    that emits nothing, and the higher-valued row anchors the next
    interpolation.

    Scale shape: ONE key-keyed exchange (the lead() window), then the
    grid points explode IN-ROW from a bounded sequence — the explode
    input is the cheap integer sequence, never a pre-built struct (the
    r8 InferFiltersFromGenerate convention); interpolation is
    arithmetic on the exploded row. Dense-gap blowup is bounded by
    ``(t_max − t_min) / step`` rows per key — the output's own size.

    Output: (key, grid_ts, value) with ``value`` 6-dp rounded.
    """
    from obsplus_spark.util import sql_over

    s = int(step)
    if s <= 0:
        raise ValueError(f"step must be positive, got {step}")
    return sql_over(
        {"d": df},
        f"""
        WITH pts AS (
          SELECT {key_col} AS key,
                 CAST({ts_col} AS BIGINT) AS t,
                 CAST({value_col} AS DOUBLE) AS v,
                 lead(CAST({ts_col} AS BIGINT)) OVER w AS t2,
                 lead(CAST({value_col} AS DOUBLE)) OVER w AS v2
          FROM {{d}}
          WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
          WINDOW w AS (PARTITION BY {key_col}
                       ORDER BY CAST({ts_col} AS BIGINT),
                                CAST({value_col} AS DOUBLE))
        ),
        seg AS (
          SELECT key, t, v, t2, v2,
                 -- first on-grid point at or after t; last grid point
                 -- strictly before t2 (the next segment owns t2)
                 CASE WHEN t2 IS NULL THEN
                        CASE WHEN t % {s} = 0 THEN array(t div {s})
                             ELSE array() END
                      WHEN ((t + {s} - 1) div {s}) * {s} >= t2
                        THEN array()
                      ELSE sequence((t + {s} - 1) div {s},
                                    (t2 - 1) div {s})
                 END AS gidx
          FROM pts
        )
        SELECT key, grid_ts,
               round(CASE WHEN t2 IS NULL OR grid_ts = t THEN v
                          ELSE v + (v2 - v) * (grid_ts - t)
                               / CAST(t2 - t AS DOUBLE)
                     END, 6) AS value
        FROM (
          SELECT key, t, v, t2, v2, g * {s} AS grid_ts
          FROM seg LATERAL VIEW explode(gidx) AS g
        )
        """,
    )


def rolling_active_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
    day_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Rolling DISTINCT active users per day (DAU + trailing-window
    WAU/MAU): for every calendar day with activity, the count of
    distinct users active that day and in the trailing
    ``window_days`` — the engagement health series every event
    pipeline reports. Distinct-counting cannot ride a RANGE-frame sum
    (:func:`rolling_window_sums` — distinct is not additive across
    days), so the plan densifies (day, user) pairs instead:

    1. one map-combined DISTINCT to (day, user) — the only
       corpus-sized exchange;
    2. each pair contributes in-row to its ``window_days`` target days
       (explode of a constant-length day sequence — pairs × window
       rows, already corpus-reduced);
    3. one (target-day)-keyed count-distinct.

    Cost scales ×``window_days`` (the densified pair stream is
    |distinct (day, user)| × window): right-sized for the 7/30-day
    DAU/WAU/MAU family; a 365-day window multiplies the intermediate
    365× — at that width switch to a month-bucketed two-level
    approximation or an HLL-per-day merge (``sketches.hll``) instead.

    Days with no activity in the window emit nothing (callers densify
    the calendar downstream if zeros matter). NULL ts/user rows are
    excluded. ``ts_col`` is an ns-epoch LONG (the house convention —
    queries convert via ``_ts_ns``); day = epoch-relative ``div``
    fixed window, same truncation rule as :func:`cohort_retention`'s
    weeks (documented divergence below epoch zero).

    Output: ``(day, dau, rolling_users)`` — day as BIGINT epoch-day,
    ``rolling_users`` over days ``[day − window_days + 1, day]``;
    rows only for days with their OWN activity (dau ≥ 1).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    w = int(window_days)
    if w < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    return sql_over(
        {"e": ensure_parallelism(events)},
        f"""
        WITH du AS (
          SELECT DISTINCT
                 CAST({ts_col} div {int(day_ns)} AS BIGINT) AS day,
                 {user_col} AS u
          FROM {{e}}
          WHERE {ts_col} IS NOT NULL AND {user_col} IS NOT NULL
        ),
        contrib AS (
          SELECT t.day, du.day AS src_day, du.u
          FROM du
          LATERAL VIEW explode(sequence(du.day,
                                        du.day + {w - 1})) t AS day
        )
        SELECT day,
               CAST(count(DISTINCT CASE WHEN src_day = day THEN u END)
                    AS BIGINT) AS dau,
               CAST(count(DISTINCT u) AS BIGINT) AS rolling_users
        FROM contrib
        GROUP BY day
        HAVING count(DISTINCT CASE WHEN src_day = day THEN u END) >= 1
        ORDER BY day
        """,
    )
