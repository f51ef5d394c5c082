"""File summarizers, permissive readers, put/get waveforms round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obsplus_spark.sources.bank import WaveBank
from obsplus_spark.sources.readers import read_csv
from obsplus_spark.sources.summarize import (
    binary_file_scan,
    summarize_files,
    update_wavebank_from_files,
)

NS = 1_000_000_000


def _write(p, text):
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(text)


def test_summarize_and_update_index(spark, tmp_path):
    arch = tmp_path / "archive"
    _write(arch / "2020" / "a.seed", f"UU|STA1||HHZ|{10*NS}|100|{10_000_000}\n")
    _write(
        arch / "2020" / "b.seed",
        f"UU|STA1||HHZ|{20*NS}|50|{10_000_000}\nWY|STA2||BHN|{0}|10|{25_000_000}\n",
    )
    _write(arch / "junk.seed", "not a header at all\n")

    files = binary_file_scan(spark, str(arch), glob="*.seed")
    assert files.count() == 3
    idx = summarize_files(files).collect()
    # 3 records from 2 good files; junk yields zero rows, no exception
    assert len(idx) == 3
    assert {r.station for r in idx} == {"STA1", "STA2"}

    bank = WaveBank(spark, tmp_path / "bank")
    update_wavebank_from_files(spark, bank, str(arch), glob="*.seed")
    assert bank.read_index().count() == 3

    # incremental: nothing new → index unchanged (mtime contract)
    update_wavebank_from_files(spark, bank, str(arch), glob="*.seed")
    assert bank.read_index().count() == 3

    # a new file appears → only it is added
    import time

    time.sleep(0.05)
    _write(arch / "2021" / "c.seed", f"UU|STA3||HHZ|{30*NS}|10|{10_000_000}\n")
    update_wavebank_from_files(spark, bank, str(arch), glob="*.seed")
    assert bank.read_index().count() == 4


def test_binary_file_scan_pushes_watermark_exactly(spark, tmp_path):
    import os

    d = tmp_path / "mtimes"
    w = 1_700_000_000_000 * 1_000_000  # ms-aligned watermark, epoch ns
    for name, mtime in (("before", w - 1_000_000), ("at", w), ("after", w + 1_000_000)):
        _write(d / f"{name}.seed", name)
        os.utime(d / f"{name}.seed", ns=(mtime, mtime))

    def names(df):
        return sorted(r.path.rsplit("/", 1)[-1] for r in df.select("path").collect())

    # the second watermark carries a sub-ms fraction
    for after, want in ((w, ["after.seed"]), (w - 500_123, ["after.seed", "at.seed"])):
        got = binary_file_scan(spark, str(d), glob="*.seed", modified_after_ns=after)
        old = binary_file_scan(spark, str(d), glob="*.seed").filter(
            (F.unix_micros(F.col("modificationTime")) * 1000) > after
        )
        assert names(got) == names(old) == want
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "GreaterThan(modificationTime" in plan


def test_ingest_leaves_no_cache_behind(spark, tmp_path):
    from obsplus_spark.sources.bank import EventBank
    from obsplus_spark.sources.quakeml import update_eventbank_from_files

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    wave, qml = tmp_path / "wave", tmp_path / "qml"
    _write(wave / "a.seed", f"UU|STA1||HHZ|{10*NS}|100|{10_000_000}\n")
    _write(
        qml / "cat.xml",
        '<quakeml><eventParameters><event publicID="smi:local/e1">'
        "<origin><time><value>2024-01-02T03:00:00Z</value></time></origin>"
        "</event></eventParameters></quakeml>",
    )

    before = persisted()
    update_wavebank_from_files(spark, WaveBank(spark, tmp_path / "wb"), str(wave))
    update_eventbank_from_files(spark, EventBank(spark, tmp_path / "eb"), str(qml))
    assert persisted() == before

    def boom(rows, scan_started_ns=None):
        rows.count()  # materialize the persisted parse before failing
        raise RuntimeError("boom")

    for bank, run, src in (
        (WaveBank(spark, tmp_path / "wb_err"), update_wavebank_from_files, wave),
        (EventBank(spark, tmp_path / "eb_err"), update_eventbank_from_files, qml),
    ):
        bank.update_index = boom
        with pytest.raises(RuntimeError, match="boom"):
            run(spark, bank, str(src))
        assert persisted() == before


def test_read_csv_permissive(spark, tmp_path):
    p = tmp_path / "events.csv"
    p.write_text("event_id,magnitude\ne1,2.5\ne2,not_a_number\ne3,4.0\n")
    df = read_csv(
        spark, str(p), schema="event_id string, magnitude double"
    )
    # cached: Spark refuses a raw-scan plan that reads only the
    # corrupt-record column
    df = df.cache()
    bad = F.col("_corrupt_record").isNotNull()
    assert {r.event_id for r in df.filter(~bad).collect()} == {"e1", "e3"}
    assert df.filter(bad).count() == 1  # e2 captured, not dropped, not fatal
    df.unpersist()


def test_put_get_waveforms_roundtrip(spark, tmp_path):
    bank = WaveBank(spark, tmp_path / "wb")
    traces = spark.createDataFrame(
        [
            ("UU", "A", "", "HHZ", 0, 50 * NS, 10 * NS, [float(i) for i in range(5)]),
            ("UU", "A", "", "HHZ", 50 * NS, 80 * NS, 10 * NS, [5.0, 6.0, 7.0]),
        ],
        "network string, station string, location string, channel string, "
        "starttime long, endtime long, sampling_period long, samples array<double>",
    )
    bank.put_waveforms(traces)
    # index refreshed alongside payload
    assert bank.read_index().count() == 2

    out = bank.get_waveforms(
        station="A", starttime=20 * NS, endtime=60 * NS
    ).collect()
    # adjacent segments merged then trimmed: samples at t=20,30,40,50
    assert len(out) == 1
    assert out[0].samples == [2.0, 3.0, 4.0, 5.0]

    # upsert: replacing a segment doesn't duplicate
    bank.put_waveforms(traces.limit(1))
    assert bank.read_index().count() == 2


def test_stream_processor_hook(spark):
    from obsplus_spark.structures.fetcher import apply_stream_processor

    df = spark.createDataFrame(
        [("e1", 1.0), ("e1", 2.0), ("e2", 10.0)], "event_id string, v double"
    )

    def demean(pdf):
        pdf["v"] = pdf["v"] - pdf["v"].mean()
        return pdf

    out = apply_stream_processor(df, demean, "event_id string, v double")
    got = {(r.event_id, r.v) for r in out.collect()}
    assert got == {("e1", -0.5), ("e1", 0.5), ("e2", 0.0)}


def test_strip_and_attach(spark):
    from obsplus_spark.operators.event_tree import SLIM_EVENT_SCHEMA, events_to_df
    from obsplus_spark.operators.surgery import attach_new_origin, strip_events

    picks = spark.createDataFrame(
        [("e1", "p1", "reviewed"), ("e1", "p2", "rejected")],
        "event_id string, resource_id string, evaluation_status string",
    )
    stripped = strip_events(picks, ["event_id", "resource_id"])
    assert stripped.columns == ["event_id", "resource_id"]
    assert {r.resource_id for r in stripped.collect()} == {"p1"}

    tree = spark.createDataFrame(
        [("e1", "", None, None, 0, [], [], [])], SLIM_EVENT_SCHEMA
    )
    new_o = spark.createDataFrame(
        [("e1", "o_new", 123, 1.0, 2.0, 3.0)],
        "event_id string, resource_id string, time long, latitude double, "
        "longitude double, depth double",
    )
    out = attach_new_origin(tree, new_o)
    flat = events_to_df(out).collect()[0]
    assert flat.time == 123 and flat.latitude == 1.0


def test_read_csv_does_not_mutate_caller_schema(spark, tmp_path):
    """Regression (r6 review): StructType.add mutates in place — reusing
    one schema object across read_csv calls grew duplicate
    _corrupt_record fields."""
    import pyspark.sql.types as T

    from obsplus_spark.sources.readers import read_csv

    p = str(tmp_path / "x.csv")
    with open(p, "w") as fh:
        fh.write("a,b\n1,2\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    read_csv(spark, p, schema=schema, header=True)
    read_csv(spark, p, schema=schema, header=True)  # same object again
    assert [f.name for f in schema.fields] == ["a", "b"]


def test_orc_round_trip(spark, tmp_path):
    """ORC sink/source round trip (Spark-native columnar format beyond
    parquet/CSV/JSON): schema and values survive write -> read, and
    predicate pushdown reaches the ORC scan."""
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, -2.0)],
        "id long, tag string, score double",
    )
    d = str(tmp_path / "orc_rt")
    src.write.mode("overwrite").orc(d)
    back = spark.read.orc(d)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, src.collect())
    )
    plan = back.filter("id = 2")._jdf.queryExecution().executedPlan(
    ).toString()
    assert "PushedFilters" in plan and "id" in plan
