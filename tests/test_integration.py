"""Cross-layer integration: the pipelines a real user would compose."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bank_fetcher_gaps_roundtrip(spark, tmp_path):
    """Banks → Fetcher → window analytics: ingest index rows, extract
    per-event windows, compute coverage on the result."""
    from obsplus_spark import Fetcher, WaveBank
    from obsplus_spark.operators.gaps import segments_df

    NS = 10**9
    bank = WaveBank(spark, tmp_path / "wb")
    idx_rows = [
        ("UU", "S1", "", "HHZ", i * 100 * NS, (i * 100 + 90) * NS, 10_000_000, f"f{i}")
        for i in range(10)
    ]
    bank.update_index(
        spark.createDataFrame(
            idx_rows,
            "network string, station string, location string, channel string, "
            "starttime long, endtime long, sampling_period long, path string",
        )
    )
    events = spark.createDataFrame(
        [("e1", 250 * NS), ("e2", 700 * NS)], "event_id string, time long"
    )
    stations = spark.createDataFrame(
        [("UU", "S1", "", "HHZ", 0, None)],
        "network string, station string, location string, channel string, "
        "start_date long, end_date long",
    )
    f = Fetcher(events, stations, bank.read_index())
    hits = f.yield_event_waveforms(100 * NS, 100 * NS)
    # e1 window [150,350] overlaps segments 1,2,3; e2 [600,800] overlaps
    # 6,7 only (segment 8 starts AT the window end — strict overlap)
    per_event = {
        r[0]: r[1]
        for r in hits.groupBy("event_id").count().collect()
    }
    assert per_event == {"e1": 3, "e2": 2}

    # downstream analytics compose on the join output
    segs = segments_df(
        hits.select(
            "network", "station", "location", "channel",
            F.col("seg_start").alias("starttime"),
            F.col("seg_end").alias("endtime"),
        ),
        min_gap=20 * NS,
        sampling_period_col=None,
    )
    assert segs.count() == 2  # one merged island per event window


def test_events_ts_normalized_to_ns_long(spark, tmp_path):
    """The driver's events.parquet has shipped `ts` both as
    TIMESTAMP(NANOS) (int64 under nanosAsLong) and as timestamp[us]/NTZ —
    `_t()` must yield int64 epoch-ns either way (round 3 broke on this:
    every ts-deriving query threw CAST errors). Synthesizes a
    timestamp[us] twin and asserts identical values to the raw int64
    interpretation."""
    import datetime as dt
    import os

    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from corpus import common as m

    # timestamp[us] variant (what the driver ships today)
    d = str(tmp_path / "sfx")
    os.makedirs(d)
    rows = [
        (1, dt.datetime(2020, 1, 1, 0, 0, 0, 123456)),
        (2, dt.datetime(2020, 6, 1, 12, 30, 0, 999999)),
    ]
    spark.createDataFrame(rows, "event_id long, ts timestamp_ntz").write.parquet(
        f"{d}/events.parquet"
    )
    got = m._t(spark, d, "events")
    assert isinstance(got.schema["ts"].dataType, T.LongType)
    vals = {r.event_id: r.ts for r in got.collect()}
    assert vals[1] == 1577836800123456000  # 2020-01-01T00:00:00.123456Z in ns
    assert vals[2] % 1000 == 0  # µs precision → ns multiple of 1000
    # _ts_ns stays a no-op µs-truncation on the normalized column
    t = got.select(m._ts_ns().alias("t"), "ts").collect()
    assert all(r.t == r.ts for r in t)


import pytest as _pytest

_DATE_LITERAL_QUERIES = [
    "pricing_summary",
    "ship_priority",
    "returned_customers",
    "table_profile",
    "rfm_segments",
    # r6 second wave: Q5 compares o_orderdate against timestamp literals
    "local_supplier_volume",
    # r6 third wave: Q18 formats o_orderdate, Q22 filters on it
    "large_orders",
    "idle_customers",
    # r6 fourth wave: Q7/Q8/Q14 filter l_shipdate/o_orderdate against
    # timestamp literals
    "nation_trade",
    "market_share",
    "promo_share",
]


@_pytest.fixture(scope="module")
def nanos_dir(spark, tmp_path_factory):
    """sf0.001 twin whose orders/lineitem date columns ship as int64
    epoch-ns (the TIMESTAMP(NANOS)-under-nanosAsLong surface the driver
    shipped in r3) — every other table copied as-is."""
    import os
    import shutil

    import pyspark.sql.functions as F

    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp("nanos_sf"))
    for name in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        p = f"{src}/{name}.parquet"
        if name in ("orders", "lineitem"):
            df = spark.read.parquet(p)
            for c in ("o_orderdate", "l_shipdate"):
                if c in df.columns:
                    df = df.withColumn(
                        c, (F.unix_micros(F.col(c).cast("timestamp")) * 1000)
                    )
            df.write.parquet(f"{d}/{name}.parquet")
        elif os.path.isdir(p):
            shutil.copytree(p, f"{d}/{name}.parquet")
        else:
            shutil.copy(p, f"{d}/{name}.parquet")
    return d


@_pytest.fixture(scope="module")
def us_dir(tmp_path_factory):
    """Private copy of sf0.001. ``_t`` caches per directory, so the
    sweep's reads of this copy leave the session's cache entries for the
    shared sf0.001 directory unmaterialized: a materialized entry reports
    its real (small) size, which changes the join strategies that
    tests/test_plans.py pins for plans built over that directory."""
    import shutil

    d = str(tmp_path_factory.mktemp("us_sf"))
    shutil.copytree("/root/testdata/sf0.001", d, dirs_exist_ok=True)
    return d


@_pytest.mark.parametrize("qname", _DATE_LITERAL_QUERIES)
def test_date_literal_queries_dtype_sweep(spark, us_dir, nanos_dir, qname):
    """VERDICT r5 #9: every query comparing a date column against a
    timestamp literal must survive BOTH parquet dtypes the driver has
    shipped (timestamp[us] and int64-ns) with identical results —
    the r3 breakage class, now swept in one parametrized test."""
    import __spark_entry__ as m

    q = m.queries()[qname]
    a = sorted(map(tuple, q(spark, us_dir).collect()))
    b = sorted(map(tuple, q(spark, nanos_dir).collect()))
    assert a == b, f"{qname}: int64-ns dates diverge from timestamp dates"
