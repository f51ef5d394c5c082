"""Z-order layout: interleave correctness + clustering effectiveness."""

import pyspark.sql.functions as F

from obsplus_spark.plans.layout import zorder_key


def _zorder_files(df, cols, num_files, bits, binning="uniform"):
    """Range-partition on the z-order key: one output file per range."""
    return zorder_key(df, cols, bits, binning).repartitionByRange(
        num_files, "_zkey"
    )


def _partition_spans(df, cols):
    """Per-partition min/max of ``cols`` (the footer-stat span a file
    would carry)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        df.select(F.spark_partition_id().alias("_pid"), *cols)
        .groupBy("_pid")
        .agg(*aggs)
        .collect()
    )


def _morton2(x: int, y: int, bits: int = 16) -> int:
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
    return out


def test_interleave_matches_reference_morton(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    out = zorder_key(df, ["x", "y"], bits=3).collect()
    # uniform binning over 0..7 with 8 bins is the identity map, so the
    # key must equal the textbook Morton code of (x, y)
    for r in out:
        assert r._zkey == _morton2(r.x, r.y, 3), (r.x, r.y, r._zkey)


def test_zorder_clusters_both_dims(spark):
    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).cast("double").alias("a"),
        ((F.col("id") * 7919) % 139).cast("double").alias("b"),
    )
    files = 16

    def avg_span(frame):
        stats = _partition_spans(frame, ["a", "b"])
        sa = sum(r.a_max - r.a_min for r in stats) / len(stats)
        sb = sum(r.b_max - r.b_min for r in stats) / len(stats)
        return sa / 141 + sb / 139  # normalized combined span

    plain = df.repartition(files)
    zed = _zorder_files(df, ["a", "b"], num_files=files, bits=8)
    # z-ordered partitions are tight in BOTH dimensions; random
    # round-robin partitions span nearly the full range of each
    assert avg_span(zed) < 0.5 * avg_span(plain)


def test_quantile_binning_under_skew(spark):
    # heavy-tailed column: uniform bins collapse most rows into one bin,
    # quantile bins keep partitions genuinely tight
    df = spark.range(10_000).select(
        (F.col("id") % 100).cast("double").alias("a"),
        F.when(F.col("id") % 100 < 99, (F.col("id") % 50).cast("double"))
        .otherwise((F.col("id") % 1000) * 1000.0)
        .alias("b"),
    )
    zq = _zorder_files(df, ["a", "b"], num_files=8, bits=8, binning="quantile")
    stats = _partition_spans(zq, ["a"])
    avg_a = sum(r.a_max - r.a_min for r in stats) / len(stats)
    assert avg_a < 70  # still clustered on `a` despite b's outliers


def test_zorder_null_values_bin_to_sentinel(spark):
    """Regression (r6 review): NULL in one z-order column must not NULL
    the whole Morton key — the row keeps clustering on its non-null
    columns (NULL bins to the 0 sentinel)."""
    from obsplus_spark.plans.layout import zorder_key

    rows = [(None, 5.0, 1), (1.0, 5.0, 2), (100.0, 5.0, 3)]
    df = spark.createDataFrame(rows, "a double, b double, id long")
    out = zorder_key(df, ["a", "b"], bits=4)
    vals = {r["id"]: r["_zkey"] for r in out.collect()}
    assert vals[1] is not None
    # null a -> bin 0 -> same key as the minimum a value's row
    assert vals[1] == vals[2]
