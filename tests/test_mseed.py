"""miniSEED v2 header parser + distributed summarize integration."""

import pytest

from obsplus_spark.sources.mseed import (
    _sample_period_ns,
    build_mseed_record,
    parse_mseed_records,
)

NS = 1_000_000_000
T0 = 1_700_000_000 * NS


def test_single_record_roundtrip():
    rec = build_mseed_record(
        network="UU", station="CAPS", location="01", channel="EHZ",
        start_ns=T0, n_samples=200, sample_rate=50,
    )
    rows = parse_mseed_records(rec, "x.mseed")
    assert len(rows) == 1
    r = rows[0]
    assert (r["network"], r["station"], r["location"], r["channel"]) == (
        "UU", "CAPS", "01", "EHZ",
    )
    assert r["starttime"] == T0
    assert r["sampling_period"] == NS // 50
    assert r["endtime"] == T0 + 199 * (NS // 50)


def test_multi_record_walk():
    recs = b"".join(
        build_mseed_record(start_ns=T0 + i * 5 * NS, n_samples=500,
                           sample_rate=100, sequence=i + 1)
        for i in range(4)
    )
    rows = parse_mseed_records(recs, "m.mseed")
    assert [r["starttime"] for r in rows] == [T0 + i * 5 * NS for i in range(4)]


def test_little_endian_and_record_length():
    rec = build_mseed_record(
        start_ns=T0, n_samples=100, sample_rate=40,
        big_endian=False, record_length=4096,
    )
    assert len(rec) == 4096
    rows = parse_mseed_records(rec + rec, "le.mseed")
    assert len(rows) == 2
    assert rows[0]["sampling_period"] == NS // 40


def test_subsecond_start():
    start = T0 + 123_400_000  # .1234 s — exactly representable in BTIME
    rows = parse_mseed_records(build_mseed_record(start_ns=start), "s")
    assert rows[0]["starttime"] == start


def test_garbage_and_truncation():
    assert parse_mseed_records(b"") == []
    assert parse_mseed_records(b"\x00" * 4096) == []
    assert parse_mseed_records(b"this is not miniseed " * 100) == []
    # non-ASCII sequence number: the header decode fails, record skipped
    assert parse_mseed_records(b"\xff" * 4096) == []
    rec = build_mseed_record(start_ns=T0)
    # valid record followed by garbage: keeps the parsed prefix
    assert len(parse_mseed_records(rec + b"junk" * 64, "t")) == 1
    # truncated record header: nothing
    assert parse_mseed_records(rec[:40], "t") == []


@pytest.mark.parametrize(
    "factor,mult,period_ns",
    [
        (100, 1, NS // 100),      # f>0, m>0: 100 Hz
        (20, -2, NS // 10),       # f>0, m<0: 10 Hz
        (-5, 1, 5 * NS),          # f<0, m>0: 0.2 Hz
        (-10, -2, 20 * NS),       # f<0, m<0: 0.05 Hz
        (0, 1, None),
    ],
)
def test_sample_rate_rules(factor, mult, period_ns):
    assert _sample_period_ns(factor, mult) == period_ns


def test_distributed_summarize_real_mseed(spark, tmp_path):
    from obsplus_spark.sources.summarize import binary_file_scan, summarize_files

    d = tmp_path / "wave"
    d.mkdir()
    for i in range(3):
        recs = b"".join(
            build_mseed_record(
                station=f"S{i}", start_ns=T0 + j * 10 * NS,
                n_samples=1000, sample_rate=100, sequence=j + 1,
            )
            for j in range(2)
        )
        (d / f"f{i}.mseed").write_bytes(recs)
    (d / "bad.mseed").write_bytes(b"\xff" * 300)

    files = binary_file_scan(spark, str(d), glob="*.mseed")
    idx = summarize_files(files).collect()
    assert len(idx) == 6  # 3 files × 2 records; corrupt file contributes 0
    stations = {r.station for r in idx}
    assert stations == {"S0", "S1", "S2"}
    assert all(r.endtime - r.starttime == 999 * (NS // 100) for r in idx)


def test_sample_period_zero_multiplier_skips_record():
    """Regression (r6 review): a zero sample-rate multiplier must mark
    the record invalid, not ZeroDivisionError the whole file."""
    from obsplus_spark.sources.mseed import _sample_period_ns

    assert _sample_period_ns(20, 0) is None
    assert _sample_period_ns(-20, 0) is None
    assert _sample_period_ns(0, 1) is None
    assert _sample_period_ns(20, 1) == 50_000_000
