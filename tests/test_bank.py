"""Bank facades: generation-swap upserts, pushdown index queries."""

from __future__ import annotations

import shutil
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from obsplus_spark.sources.bank import EventBank, WaveBank

NS = 1_000_000_000
Y2020 = 1577836800 * NS  # 2020-01-01


@pytest.fixture()
def event_rows(spark):
    rows = [
        ("e1", Y2020 + 10 * NS, 40.0, -111.0, 5.0, 2.5),
        ("e2", Y2020 + 100 * NS, 41.0, -112.0, 6.0, 3.5),
        ("e3", Y2020 + 366 * 86400 * NS, 42.0, -113.0, 7.0, 4.5),  # next year
    ]
    return spark.createDataFrame(
        rows,
        "event_id string, time long, latitude double, longitude double, "
        "depth double, magnitude double",
    )


def test_eventbank_put_read_upsert(spark, tmp_path, event_rows):
    bank = EventBank(spark, tmp_path)
    bank.put_events(event_rows)
    assert bank.read_index().count() == 3
    assert bank.last_updated_ns is not None

    # FDSN kwargs hit the scan
    out = bank.read_index(minmagnitude=3.0)
    assert {r.event_id for r in out.collect()} == {"e2", "e3"}

    # upsert: e2 changes magnitude, e4 arrives
    update = spark.createDataFrame(
        [
            ("e2", Y2020 + 100 * NS, 41.0, -112.0, 6.0, 9.9),
            ("e4", Y2020 + 200 * NS, 43.0, -114.0, 8.0, 1.0),
        ],
        event_rows.schema,
    )
    bank.put_events(update)
    idx = {r.event_id: r.magnitude for r in bank.read_index().collect()}
    assert idx == {"e1": 2.5, "e2": 9.9, "e3": 4.5, "e4": 1.0}


def test_eventbank_partition_pruning(spark, tmp_path, event_rows):
    """part_year Hive partitioning must appear in the written layout."""
    bank = EventBank(spark, tmp_path)
    bank.put_events(event_rows)
    gen_dirs = list((tmp_path / "event_index").glob("gen=*/part_year=*"))
    years = {d.name for d in gen_dirs}
    assert years == {"part_year=2020", "part_year=2021"}


def test_eventbank_empty_raises(spark, tmp_path):
    bank = EventBank(spark, tmp_path)
    with pytest.raises(FileNotFoundError):
        bank.read_index()


@pytest.fixture()
def wave_index(spark):
    rows = [
        ("UU", "A", "", "HHZ", Y2020, Y2020 + 100 * NS, 10_000_000, "f1"),
        ("UU", "A", "", "HHZ", Y2020 + 200 * NS, Y2020 + 300 * NS, 10_000_000, "f2"),
        ("WY", "B", "", "BHN", Y2020, Y2020 + 1000 * NS, 25_000_000, "f3"),
    ]
    return spark.createDataFrame(
        rows,
        "network string, station string, location string, channel string, "
        "starttime long, endtime long, sampling_period long, path string",
    )


def test_wavebank_read_index_overlap_and_glob(spark, tmp_path, wave_index):
    bank = WaveBank(spark, tmp_path)
    bank.update_index(wave_index)

    # interval overlap with 1 s buffer: window entirely inside f1
    out = bank.read_index(starttime=Y2020 + 10 * NS, endtime=Y2020 + 20 * NS)
    assert {r.path for r in out.collect()} == {"f1", "f3"}

    out2 = bank.read_index(network="U?", channel="HH*")
    assert {r.path for r in out2.collect()} == {"f1", "f2"}

    # re-index same file: no duplicate rows
    bank.update_index(wave_index)
    assert bank.read_index().count() == 3


def test_wavebank_analytics_delegate(spark, tmp_path, wave_index):
    bank = WaveBank(spark, tmp_path)
    bank.update_index(wave_index)
    av = bank.availability()
    assert av.count() == 2  # two distinct NSLC
    gaps = bank.get_gaps().collect()
    # UU.A..HHZ has one gap f1→f2
    assert len(gaps) == 1 and gaps[0].gap_duration == 100 * NS
    up = bank.get_uptime()
    assert up.count() == 2


def test_wavebank_bulk(spark, tmp_path, wave_index):
    bank = WaveBank(spark, tmp_path)
    bank.update_index(wave_index)
    req = spark.createDataFrame(
        [("*", "*", "*", "*", Y2020, Y2020 + 50 * NS)],
        "network string, station string, location string, channel string, "
        "starttime long, endtime long",
    )
    out = bank.get_waveforms_bulk(req)
    assert {r.path for r in out.collect()} == {"f1", "f3"}


def test_archive_to_sds(spark, tmp_path):
    """Day-rechunk with leading overlap into Hive-partitioned layout."""
    NS_DAY = 86_400 * NS
    rows = [
        # spans two days: [day0 12:00, day1 12:00), sp = 1 hour
        ("UU", "A", "", "HHZ", NS_DAY // 2, NS_DAY + NS_DAY // 2,
         3_600_000_000_000, [float(i) for i in range(24)]),
    ]
    traces = spark.createDataFrame(
        rows,
        "network string, station string, location string, channel string, "
        "starttime long, endtime long, sampling_period long, samples array<double>",
    )
    out_path = tmp_path / "sds"
    WaveBank.archive_to_sds(traces, out_path, overlap_ns=0)
    back = spark.read.parquet(str(out_path))
    days = sorted((r.doy, r.starttime, len(r.samples)) for r in back.collect())
    # day 1 (1970-01-01): samples 0..11; day 2: samples 12..23
    assert days == [(1, NS_DAY // 2, 12), (2, NS_DAY, 12)]
    # Hive layout gives partition pruning on (year, doy, station)
    parts = {p.name for p in (out_path / "year=1970").glob("doy=*")}
    assert parts == {"doy=1", "doy=2"}


def test_eventbank_payload_roundtrip(spark, tmp_path):
    """get_events payload path (eventbank.py:392-418): nested trees are
    stored; an index predicate prunes; a left_semi join pulls only the
    matching trees."""
    from obsplus_spark.operators.event_tree import SLIM_EVENT_SCHEMA

    rows = [
        (
            "e1", "a", None, None, 1000,
            [("o1", Y2020 + 10 * NS, 40.0, -111.0, 5.0)],
            [("m1", 2.5, "ML", "o1")],
            [("p1", Y2020 + 11 * NS, "P", None, "UU", "S1", "", "HHZ")],
        ),
        (
            "e2", "b", None, None, 2000,
            [("o2", Y2020 + 100 * NS, 41.0, -112.0, 6.0)],
            [("m2", 4.5, "ML", "o2")],
            [("p2", Y2020 + 101 * NS, "P", None, "UU", "S2", "", "HHZ")],
        ),
    ]
    trees = spark.createDataFrame(rows, SLIM_EVENT_SCHEMA)
    bank = EventBank(spark, tmp_path)
    bank.put_events(trees)  # nested input: index derives via events_to_df
    assert bank.read_index().count() == 2

    got = bank.get_events(minmagnitude=3.0)
    assert [r.event_id for r in got.collect()] == ["e2"]
    # the payload row is the full tree, not an index row
    assert got.collect()[0].picks[0].resource_id == "p2"

    # summary-only banks fall back to index rows
    bank2 = EventBank(spark, tmp_path / "b2")
    summary = bank.read_index()
    bank2.put_events(summary)
    assert "picks" not in bank2.get_events().columns


def test_generation_retention_snapshot_isolation(spark, tmp_path, event_rows):
    """ADVICE r1: an upsert must not delete the generation an in-flight
    reader still points at — only older ones GC."""
    bank = EventBank(spark, tmp_path)
    bank.put_events(event_rows)
    snapshot = bank.table.read()          # holds generation 0
    bank.put_events(event_rows.limit(1))  # writes gen 1; gen 0 must survive
    assert snapshot.count() == 3          # old snapshot still readable
    gens = {d.name for d in (tmp_path / "event_index").glob("gen=*")}
    assert gens == {"gen=0", "gen=1"}
    # r6 review: the snapshot window is TWO prior generations (a handle
    # from one write ago survives a further write; only older ones GC)
    bank.put_events(event_rows.limit(1))  # gen 2: gen 0 still retained
    assert snapshot.count() == 3
    gens = {d.name for d in (tmp_path / "event_index").glob("gen=*")}
    assert gens == {"gen=0", "gen=1", "gen=2"}
    bank.put_events(event_rows.limit(1))  # gen 3: gen 0 now GCs
    gens = {d.name for d in (tmp_path / "event_index").glob("gen=*")}
    assert gens == {"gen=1", "gen=2", "gen=3"}


def _jobs_fired(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it fired). A sentinel job
    in a second group is awaited afterwards: the status tracker is fed by
    the ordered listener bus, so once the sentinel shows up every job
    ``fn`` started has been recorded."""
    sc = spark.sparkContext
    group, sentinel = f"probe-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
    sc.setJobGroup(group, "plan construction probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(sentinel, "listener barrier")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "listener bus never caught up"
        time.sleep(0.05)
    return out, list(tracker.getJobIdsForGroup(group))


def test_generation_relation_resolved_once(spark, tmp_path, event_rows):
    """A second read in one generation fires no job (no re-listing, no
    schema inference) and returns the same relation."""
    bank = EventBank(spark, tmp_path)
    bank.put_events(event_rows)
    first, jobs = _jobs_fired(spark, bank.table.read)
    assert jobs, "the first read of a generation resolves its schema"
    second, jobs = _jobs_fired(spark, bank.table.read)
    assert jobs == []
    assert second is first


@pytest.mark.parametrize("writer", ["same", "other"])
def test_generation_relation_sees_writes(
    spark, tmp_path, event_rows, wave_index, writer
):
    """A write moves the pointer, so the reader's next index read sees the
    new rows: the bank's own put_events/update_index ("same"), or a second
    instance on the same path ("other"). The write also moves the
    (generation, last_updated_ns) stamp the index cache is keyed on, so
    the read after it misses the cache."""
    def pick(bank, cls, path):
        return bank if writer == "same" else cls(spark, path)

    ebank = EventBank(spark, tmp_path / "ev")
    ebank.put_events(event_rows)
    assert ebank.read_index().count() == 3
    pick(ebank, EventBank, tmp_path / "ev").put_events(
        spark.createDataFrame(
            [("e9", Y2020 + 500 * NS, 44.0, -115.0, 9.0, 5.5)], event_rows.schema
        )
    )
    got = {r.event_id for r in ebank.read_index().collect()}
    assert got == {"e1", "e2", "e3", "e9"}

    wbank = WaveBank(spark, tmp_path / "wb")
    wbank.update_index(wave_index)
    assert wbank.read_index().count() == 3
    pick(wbank, WaveBank, tmp_path / "wb").update_index(
        spark.createDataFrame(
            [("XX", "N", "", "ZZZ", Y2020 + 5 * NS, Y2020 + 6 * NS, 10_000_000, "f4")],
            wave_index.schema,
        )
    )
    got = {r.path for r in wbank.read_index().collect()}
    assert got == {"f1", "f2", "f3", "f4"}


@pytest.mark.parametrize("limited", [False, True])
def test_generation_relation_not_stale_after_rebuild(
    spark, tmp_path, event_rows, limited
):
    """Wiping the bank root and putting in its place a bank rebuilt to
    the SAME generation number (different rows, different scan stamp)
    must not serve the relation resolved for the wiped directory. The
    rebuild is written elsewhere and copied in, as another process or a
    restore would: a write through this session to the bank's own path
    would refresh Spark's cached plans over that path and hide a stale
    relation. Both a plain read and a ``limit`` read (ordered, then
    trimmed) are checked."""
    def read():
        if limited:
            return bank.read_index(limit=100)
        return bank.read_index()

    bank = EventBank(spark, tmp_path / "ev")
    bank.put_events(event_rows, scan_started_ns=1_000)
    assert read().count() == 3
    rebuilt = spark.createDataFrame(
        [("r1", Y2020 + 7 * NS, 10.0, 20.0, 1.0, 1.5)], event_rows.schema
    )
    EventBank(spark, tmp_path / "other").put_events(
        rebuilt, scan_started_ns=2_000
    )
    shutil.rmtree(tmp_path / "ev")
    shutil.copytree(tmp_path / "other", tmp_path / "ev")
    assert bank.table._read_meta()["generation"] == 0
    got = [r.event_id for r in read().collect()]
    assert got == ["r1"]


#: py4j commands each bank query kind's build sends once its generation
#: relation and schema are resolved (SQL-text predicates and projections;
#: building the same plans from Column trees sent 40-332)
_BUILD_PY4J_BUDGET = {
    "ev_time": 7, "ev_box": 7, "ev_limit": 8, "wb_index": 8,
    "wb_gaps": 30, "wb_avail": 41, "wb_bulk": 8, "fetch": 84,
}


def test_bank_query_plans_build_without_jobs(
    spark, tmp_path, event_rows, wave_index, py4j_commands, monkeypatch
):
    """After one warm read per table, building every bank query kind
    (event windows, a dateline box, a limit; wave index, gaps,
    availability, a literal bulk list; a Fetcher join) is plan
    construction only: zero Spark jobs, no persisted frame, and at most
    the kind's py4j budget on a repeat build."""
    from pyspark.sql.classic.dataframe import DataFrame

    from obsplus_spark import Fetcher

    persists = []
    for name in ("persist", "cache"):
        orig = getattr(DataFrame, name)
        monkeypatch.setattr(
            DataFrame, name,
            lambda df, *a, _orig=orig, **kw: persists.append(df) or _orig(df, *a, **kw),
        )
    ebank = EventBank(spark, tmp_path / "ev")
    ebank.put_events(event_rows)
    wbank = WaveBank(spark, tmp_path / "wb")
    wbank.update_index(wave_index)
    ebank.table.read()
    wbank.table.read()
    stations = spark.createDataFrame(
        [("UU", "A", "", "HHZ", 0, None), ("WY", "B", "", "BHN", 0, None)],
        "network string, station string, location string, channel string, "
        "start_date long, end_date long",
    )
    t1, t2 = Y2020, Y2020 + 1000 * NS
    builds = {
        "ev_time": lambda: ebank.read_index(starttime=t1, endtime=t2),
        "ev_box": lambda: ebank.read_index(
            starttime=t1, endtime=t2, minlatitude=30.0, maxlatitude=50.0,
            minlongitude=150.0, maxlongitude=-150.0,
        ),
        "ev_limit": lambda: ebank.read_index(minmagnitude=2.0, limit=2),
        "wb_index": lambda: wbank.read_index(
            network="U?", channel="HH*", starttime=t1, endtime=t2
        ),
        "wb_gaps": lambda: wbank.get_gaps(network="UU", starttime=t1, endtime=t2),
        "wb_avail": lambda: wbank.availability(starttime=t1, endtime=t2),
        "wb_bulk": lambda: wbank.get_waveforms_bulk(
            [("UU", "A", "", "HH?", t1, t1 + 50 * NS), ("WY", "*", "*", "*Z", t1, t2)]
        ),
        "fetch": lambda: Fetcher(
            ebank.read_index(starttime=t1, endtime=t2, minmagnitude=2.0),
            stations,
            wbank.read_index(network="UU", starttime=t1 - NS, endtime=t2 + NS),
        ).yield_event_waveforms(60 * NS, 300 * NS),
    }
    assert builds.keys() == _BUILD_PY4J_BUDGET.keys()
    for kind, build in builds.items():
        df, jobs = _jobs_fired(spark, build)
        assert jobs == [], f"{kind} fired {len(jobs)} job(s) while building"
        _, sent = py4j_commands(build)
        assert sent <= _BUILD_PY4J_BUDGET[kind], (
            f"{kind} sent {sent} py4j commands while building"
        )
        assert persists == [], f"{kind} persisted {len(persists)} frame(s)"
        df.collect()  # the plan still executes


@pytest.fixture()
def payload_rows(event_rows):
    """A stand-in payload: one row per event_id, as ``put_events(trees=)``
    takes alongside a precomputed summary."""
    return event_rows.select("event_id", F.lit("tree").alias("body"))


def test_put_events_payload_failure_raises_after_both_sides(
    spark, tmp_path, event_rows, payload_rows, monkeypatch
):
    """The payload upsert runs beside the index upsert; a payload failure
    propagates out of put_events, which returns only once both sides
    have finished."""
    bank = EventBank(spark, tmp_path)
    real_index_upsert = bank.table.upsert
    index_done = threading.Event()
    done = []

    def index_upsert(*a, **kw):
        real_index_upsert(*a, **kw)
        index_done.set()

    def slow_failure(*a, **kw):
        # still running when the index side has finished
        assert index_done.wait(60)
        time.sleep(0.5)
        done.append("payload")
        raise RuntimeError("payload write failed")

    monkeypatch.setattr(bank.table, "upsert", index_upsert)
    monkeypatch.setattr(bank._payload, "upsert", slow_failure)
    with pytest.raises(RuntimeError, match="payload write failed"):
        bank.put_events(event_rows, trees=payload_rows)
    assert done == ["payload"]
    assert bank.read_index().count() == 3  # index side ran
    assert not bank._payload.exists()


def test_put_events_index_failure_waits_for_payload(
    spark, tmp_path, event_rows, payload_rows, monkeypatch
):
    """An index failure is re-raised only after the payload side, still
    running on its thread, has finished."""
    bank = EventBank(spark, tmp_path)
    real_upsert = bank._payload.upsert

    def slow_payload(*a, **kw):
        time.sleep(0.5)
        real_upsert(*a, **kw)

    def failing_index(*a, **kw):
        raise RuntimeError("index write failed")

    monkeypatch.setattr(bank._payload, "upsert", slow_payload)
    monkeypatch.setattr(bank.table, "upsert", failing_index)
    with pytest.raises(RuntimeError, match="index write failed"):
        bank.put_events(event_rows, trees=payload_rows)
    assert bank._payload.exists()
    assert bank._payload.read().count() == 3
    assert not bank.table.exists()


def test_put_events_payload_jobs_carry_caller_job_group(
    spark, tmp_path, event_rows, payload_rows, monkeypatch
):
    """The payload side's jobs run in the caller's job group: its thread
    inherits the caller's local properties. With the index upsert
    stubbed out, every job of the call is a payload job."""
    bank = EventBank(spark, tmp_path)
    monkeypatch.setattr(bank.table, "upsert", lambda *a, **kw: None)
    _, jobs = _jobs_fired(
        spark, lambda: bank.put_events(event_rows, trees=payload_rows)
    )
    assert jobs, "the payload write's jobs lost the caller's job group"
    assert bank._payload.read().count() == 3
