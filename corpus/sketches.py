"""Approximate sketches (HLL, KLL, Bloom, count-min, join-size
estimates) and score evaluation (AUC, KS drift, calibration, threshold
sweeps)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus.common import _t, _ts_ns


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


QUERIES = [
    (q_hll_users, _SQL_HLL),
    (q_approx_quantiles, _SQL_APXQ),
    (q_bloom_semi, _SQL_BLOOM),
    (q_heavy_hitters, _SQL_CMS),
    (q_join_size_est, _SQL_JOIN_SIZE_EST),
    (q_score_auc, _SQL_SCORE_AUC),
    (q_ks_drift, _SQL_KS_DRIFT),
    (q_calibration, _SQL_CALIBRATION),
    (q_threshold_sweep, _SQL_THRESHOLD_SWEEP),
]
