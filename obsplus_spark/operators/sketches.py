"""Approximate sketches for 100-TB-scale aggregation.

Three families, all mergeable (the property that matters at scale — a
sketch you can compute per partition/day and union later without
re-scanning):

- **HLL distinct counting**: Spark's datasketches-backed ``hll_sketch_agg``
  / ``hll_union_agg`` — binary partials that roll up across time buckets
  (the hypertable-rollup pattern: daily sketches union into monthly
  estimates without touching raw rows again).
- **KLL quantiles**: ``percentile_approx`` with an explicit accuracy
  parameter (deterministic rank-error bound).
- **Bloom filter join pruning**: a hand-rolled bitset Bloom built with
  ``bit_or`` aggregation over hashed positions — partial-aggregable like
  any sum, broadcast to the probe side as one array<long> row. Used as a
  pre-filter in front of an exact semi join: the Bloom pass drops the
  bulk of non-matching rows map-side *before* the join shuffle, the exact
  join removes false positives, so results are exact while shuffle volume
  shrinks to ~|matches| + ε·|big|. This is the manual twin of Spark's
  AQE runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter.*),
  exposed as an operator so plans can apply it below any join.

Estimates are implementation-specific (Spark's HLL ≠ DuckDB's HLL), so
oracle-checked queries emit *exact* values plus a deterministic
"sketch-within-tolerance" boolean — byte-stable against an ANSI oracle
while still executing the sketch path end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# HLL distinct
# ---------------------------------------------------------------------------


def hll_partials(
    df: DataFrame, keys: list[str], col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HLL sketch partials (binary, unionable). The scale unit:
    compute once per ingest bucket, store, merge on demand."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col, lg_k).alias("hll"))


def hll_rollup(
    partials: DataFrame, keys: list[str], sketch_col: str = "hll"
) -> DataFrame:
    """Union per-bucket sketches up to coarser keys — no raw-data rescan."""
    return partials.groupBy(*keys).agg(
        F.hll_union_agg(sketch_col).alias(sketch_col)
    )


def hll_estimate(sketch_col: str = "hll") -> Column:
    return F.hll_sketch_estimate(sketch_col)


# ---------------------------------------------------------------------------
# Bloom filter build / probe / prune
# ---------------------------------------------------------------------------


def _positions_sql(key_sql: str, num_bits: int, num_hashes: int) -> str:
    """k bit positions via double hashing h1 + i*h2 (Kirsch–Mitzenmacher):
    two xxhash64 evaluations regardless of k. Each term reduces mod
    num_bits BEFORE combining so the arithmetic never overflows long
    (ANSI-safe)."""
    return (
        f"transform(sequence(0, {num_hashes - 1}), i ->"
        f" pmod(pmod(xxhash64({key_sql}, 42), {num_bits})"
        f" + CAST(i AS BIGINT) * pmod(xxhash64({key_sql}, 77), {num_bits}),"
        f" {num_bits}))"
    )


def bloom_build(
    df: DataFrame,
    key_sql: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom bitset over ``key_sql`` as ONE row with an
    array<long> of ``num_bits/64`` words.

    Shape: explode each key into its k (word, mask) pairs, ``bit_or`` per
    word (partial-aggregable — map-side combine collapses duplicates
    before any shuffle; the shuffle moves ≤ num_bits/64 tiny rows), then
    fold words into a dense array. Missing words materialize as 0 via the
    position→word scatter."""
    pos = F.explode(F.expr(_positions_sql(key_sql, num_bits, num_hashes)))
    words = (
        df.select(pos.alias("_p"))
        .select(
            F.expr("CAST(_p / 64 AS BIGINT) AS _w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT)) AS _m"
            ),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
    )
    return fold_bit_words(words, num_bits // 64, "bloom")


def fold_bit_words(
    words: DataFrame, n_words: int, out_col: str = "bloom"
) -> DataFrame:
    """Fold sparse ``(_w, _bits)`` word rows into ONE dense
    ``array<long>`` row of ``n_words`` entries.

    Dense fold: linear merge-scan over the SORTED (word, bits) pairs —
    zero-fill the gap before each present word, then append the
    trailing zeros. (A map + per-index element_at is O(words × entries):
    Spark map lookup is a linear scan, measured 2 s vs 40 ms for this.)
    """
    return words.agg(
        F.expr(
            "sort_array(collect_list(named_struct('w', _w, 'b', _bits)))"
            " AS _wb"
        )
    ).select(
        F.expr(
            "CASE WHEN size(_wb) = 0"
            f" THEN array_repeat(CAST(0 AS BIGINT), {n_words})"
            " ELSE concat("
            "   flatten(transform(_wb, (e, i) -> concat("
            "     array_repeat(CAST(0 AS BIGINT), CAST(e.w -"
            "       CASE WHEN i = 0 THEN 0 ELSE _wb[i-1].w + 1 END AS INT)),"
            "     array(e.b)))),"
            f"   array_repeat(CAST(0 AS BIGINT), CAST({n_words} - 1"
            "      - _wb[size(_wb)-1].w AS INT)))"
            f" END AS {out_col}"
        )
    )


def bloom_might_contain(
    key_sql: str,
    bloom_col: str = "bloom",
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> Column:
    """Probe expression: all k bits set ⇒ maybe-present (no false
    negatives). Pure JVM bit math against the broadcast array."""
    return F.expr(
        f"forall({_positions_sql(key_sql, num_bits, num_hashes)}, p ->"
        f" (element_at({bloom_col}, CAST(p / 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key_sql: str,
    small_key_sql: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Exact semi join with a Bloom pre-filter on the big side.

    The Bloom row broadcasts (num_bits/64 longs — 128 KiB at 2^20 bits);
    the probe drops non-matching big rows map-side before the exact
    ``left_semi`` join, so the join only shuffles survivors. Exact
    results: the semi join removes Bloom false positives."""
    bloom = bloom_build(small, small_key_sql, num_bits, num_hashes)
    # left_semi against the one-row bitset with the probe as the join
    # condition: output rows carry only big's columns, so the bitset
    # array is never copied into per-row output buffers (a crossJoin +
    # filter materializes the array into every surviving row first)
    pruned = big.join(
        F.broadcast(bloom),
        bloom_might_contain(big_key_sql, "bloom", num_bits, num_hashes),
        "left_semi",
    )
    # no .distinct() on the build side: left_semi semantics are unaffected
    # by duplicate build keys, and the dedup would add an exchange
    keys = small.select(F.expr(small_key_sql).alias("_k"))
    return pruned.join(
        F.broadcast(keys),
        F.expr(big_key_sql) == F.col("_k"),
        "left_semi",
    )


# ---------------------------------------------------------------------------
# quantile sketch
# ---------------------------------------------------------------------------


def approx_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    probs: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """Grouped approximate quantiles with a deterministic rank-error bound
    (1/accuracy). One pass, mergeable partials."""
    return df.groupBy(*keys).agg(
        F.percentile_approx(
            col, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
        ).alias("quantiles")
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------


def cms_counters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch counters over a key stream: ``depth`` independent
    hash rows of ``width`` counters each, built with ONE map-side-combined
    hash aggregate — the mergeable frequency sketch for streams whose
    exact key cardinality is too large to aggregate (union two sketches by
    summing counters cell-wise; compute per day/partition, merge later).

    The hash family is ONE md5 per key with row ``j`` reading the
    stride-2 window ``substr(digest38, 2j+1, 8)`` of the extended
    digest (``md5 || substr(md5,1,6)`` — the minhash_signatures lane
    convention, good-not-perfect independence by the same argument) —
    engine-portable like the old per-row-salted md5, but ``depth``×
    cheaper on the hashing (measured: join_size_est was the corridor's
    single largest absolute gap at 8M salted md5 cells). Supports
    depth ≤ 16. The map side collapses every partition to ≤
    depth×width cells before the only shuffle.

    Output: (row, bucket, cnt) — ≤ depth×width rows.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    if not 1 <= int(depth) <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT row, bucket, CAST(count(1) AS BIGINT) AS cnt
        FROM (
          SELECT j AS row,
                 pmod(CAST(conv(substring(_h, 2 * j + 1, 8), 16, 10)
                      AS BIGINT), {int(width)}) AS bucket
          FROM (
            SELECT concat(_h0, substring(_h0, 1, 6)) AS _h
            FROM (
              SELECT md5(CAST({key_col} AS STRING)) AS _h0
              FROM {{d}} WHERE {key_col} IS NOT NULL
            )
          )
          LATERAL VIEW explode(sequence(0, {int(depth) - 1})) AS j
        )
        GROUP BY row, bucket
        """,
    )


def cms_estimates(
    counters: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query a count-min sketch for each candidate key: the
    estimate is ``min`` over the sketch's ``depth`` cells for that key —
    an upper bound on the true count (collisions only ever inflate).

    At corpus scale the candidate list comes from per-partition local
    heavy hitters (cheap, mergeable); here it is whatever frame the
    caller supplies. The counters side is ≤ depth×width rows, so the
    probe is a broadcast equi-join on (row, bucket) followed by one
    min-aggregate per key — the candidate stream never shuffles more
    than once.

    Output: candidates' columns' key + ``est`` (BIGINT upper bound).
    """
    from obsplus_spark.util import sql_over

    # Same guard as cms_counters: the 38-char extended digest supports
    # exactly 16 stride-2 8-hex windows; a larger depth would silently
    # read past the digest end and probe skewed truncated-hash buckets
    # (ADVICE r9 #2 — both halves of the sketch API fail loudly).
    if not 1 <= int(depth) <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    return sql_over(
        {"cand": candidates, "ctr": counters},
        f"""
        SELECT /*+ BROADCAST(c) */ q.{key_col},
               CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
        FROM (
          SELECT {key_col}, j AS row,
                 pmod(CAST(conv(substring(_h, 2 * j + 1, 8), 16, 10)
                      AS BIGINT), {int(width)}) AS bucket
          FROM (
            SELECT {key_col},
                   concat(_h0, substring(_h0, 1, 6)) AS _h
            FROM (
              SELECT {key_col},
                     md5(CAST({key_col} AS STRING)) AS _h0
              FROM {{cand}}
            )
          )
          LATERAL VIEW explode(sequence(0, {int(depth) - 1})) AS j
        ) q
        LEFT JOIN {{ctr}} c ON q.row = c.row AND q.bucket = c.bucket
        GROUP BY q.{key_col}
        """,
    )


def cms_join_size(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two count-min sketches via the
    inner-product bound (Cormode & Muthukrishnan 2005, §4.2):
    ``|A ⋈_k B| ≤ min_j Σ_bucket cntA[j,·]·cntB[j,·]`` — collisions only
    ever inflate, so the minimum over the ``depth`` independent rows is
    an upper bound that tightens as ``width`` grows. With ``a is b`` it
    bounds the self-join size (the F₂ frequency moment), the classic
    skew signal.

    This is the optimizer-side use of the sketch: estimate a join's
    output size from two ≤ depth×width summaries — built once per
    table/partition and mergeable (cells sum) — without
    touching either table at estimation time. Both sketches must share
    ``depth``/``width`` AND key dtype/rendering (the cell hash is over
    the stringified key, so ``1`` as BIGINT and ``'1'`` as STRING
    collide correctly, but ``1.0`` as DOUBLE does not).

    Cost: the two counter frames join on (row, bucket) — both sides are
    sketch-sized, so this is broadcast-trivial; output is ONE row
    (est_join_size BIGINT).
    """
    x = a.select(
        F.col("row"), F.col("bucket"), F.col("cnt").alias("_ca")
    )
    y = b.select(
        F.col("row"), F.col("bucket"), F.col("cnt").alias("_cb")
    )
    # inner product in DOUBLE: BIGINT counter products overflow (an
    # ANSI throw) once two 100-TB-scale streams put ~1e9+ counts in
    # the same bucket; the bound is an estimate, double precision is
    # its semantic class, and the final BIGINT cast leaves ONE
    # well-defined boundary (an estimate past ~9.2e18 pairs fails
    # loudly at the cast, not mid-sum at a width-dependent point)
    prod = (
        x.join(y, ["row", "bucket"])
        .groupBy("row")
        .agg(
            F.sum(F.col("_ca").cast("double") * F.col("_cb")).alias("_ip")
        )
    )
    # a depth row with ZERO bucket overlap vanishes from the inner join,
    # but its inner product is 0 — the TIGHTEST bound. Re-seat every row
    # either sketch knows about with coalesce(ip, 0) so disjoint sketches
    # bound to 0 instead of dropping their best rows (r6 review batch 6);
    # two empty sketches also bound to 0 via the final coalesce.
    rows = x.select("row").union(y.select("row")).distinct()
    per_row = rows.join(prod, "row", "left_outer").select(
        F.coalesce(F.col("_ip"), F.lit(0)).alias("_ip")
    )
    return per_row.agg(
        F.coalesce(F.min("_ip"), F.lit(0)).cast("long").alias(
            "est_join_size"
        )
    )
