"""The two workloads. Each takes a :class:`Run` and returns its result.

A workload sets its inputs up several times (the median is ``setup_s``
together with session start and warmup), warms the session up on inputs
it does not time, runs a fixed amount of work scaled from ``--seconds``,
and checks its outputs outside the timed region.
"""

from __future__ import annotations

import dataclasses
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import FreshPlanGuard, ReusedPlanError, canon
from perfbench.gen import DAY_NS, NS, T0_NS

SETUP_REPS = 3


@dataclasses.dataclass
class Run:
    spark: object
    seed: int
    seconds: int
    work: Path
    tracer: object
    report: dict = dataclasses.field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = dataclasses.field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def timed_query(run: Run, guard: FreshPlanGuard, build) -> tuple:
    """One timed operation: ``build()`` a query fresh, admit it through the
    guard, and collect its result.

    Returns (seconds, persist calls the build made, df, columns, rows). A
    reused plan whose build persisted raises :class:`ReusedPlanError` (it
    invalidates the measurement); other errors go to the caller, which
    counts them as failed operations.
    """
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("op"):
        before = tr.counts["cache.persist_calls"]
        with tr.span("build"):
            df = build()
        persisted = tr.counts["cache.persist_calls"] - before
        guard.admit(df, persisted)
        with tr.span("exec"):
            cols, rows = _collect(df)
    return time.perf_counter() - t0, persisted, df, cols, rows


def _timed_setup(run: Run, make) -> tuple[list, float]:
    """Call ``make(rep)`` ``SETUP_REPS`` times; return results and median s."""
    outs, times = [], []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        outs.append(make(rep))
        times.append(time.perf_counter() - t0)
    run.report["setup_reps_s"] = [round(t, 3) for t in times]
    return outs, statistics.median(times)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ===========================================================================
# bank_query: closed loop, 1 client, FDSN-style queries on banks + Fetcher
# ===========================================================================

N_EVENTS = 200_000
STATIONS_PER_NET = 25  # x 4 networks x 2 channels = 200 channels
LOCALITY = 0.5  # share of cacheable queries inside a recent window
RECENT_POOL = 12  # fresh windows kept per bank; more than the 5-entry cache
QUERIES_PER_SECOND = 4  # fixed work: seconds x this many queries (~0.25 s each)
#: query kinds per block of 20; each block is shuffled, so every run
#: sends the same mix
_KINDS = {
    "ev_time": 4, "ev_box": 3, "ev_limit": 1, "wb_index": 4,
    "wb_gaps": 2, "wb_avail": 1, "wb_bulk": 2, "fetch": 3,
}
#: cacheable kinds -> the bank whose index cache serves them
_CACHEABLE = {"ev_time": "ev", "ev_box": "ev", "wb_index": "wb", "wb_gaps": "wb",
              "wb_avail": "wb"}
_BEFORE, _AFTER = 60 * NS, 300 * NS


class QueryGen:
    """Seeded query stream. A ``locality`` share of the cacheable queries
    (spread evenly over the stream) asks for a sub-window of an earlier
    fresh query on the same bank, with that query's filters. These re-reads
    alternate between the newest of the bank's last ``RECENT_POOL`` fresh
    windows (reuse distance 1: within reach of a 5-entry cache) and the
    oldest (reuse distance ``RECENT_POOL``: beyond it), so the index cache
    both hits and misses, by about the same count on every seed."""

    def __init__(self, rng: np.random.Generator, codes: list[tuple], locality: float):
        self.rng = rng
        self.codes = codes
        self.locality = locality
        self.recent: dict[str, list[tuple[dict, int, int]]] = {"ev": [], "wb": []}
        self.block: list[str] = []
        self.local_debt = 0.0
        self.local_turn = False

    def _window(self, days: float) -> tuple[int, int]:
        width = int(days * DAY_NS)
        t1 = T0_NS + int(self.rng.integers(0, gen.BANK_DAYS * DAY_NS - width))
        return t1, t1 + width

    def next(self) -> tuple[str, dict]:
        r = self.rng
        if not self.block:
            self.block = [str(k) for k in r.permutation(
                [k for k, n in _KINDS.items() for _ in range(n)])]
        kind = self.block.pop()
        pool = self.recent[_CACHEABLE[kind]] if kind in _CACHEABLE else []
        if kind in _CACHEABLE:
            self.local_debt += self.locality
        if pool and self.local_debt >= 1.0:
            self.local_debt -= 1.0
            self.local_turn = not self.local_turn
            kw, t1, t2 = pool[-1] if self.local_turn else pool[0]
            span = t2 - t1
            a = t1 + int(r.uniform(0, 0.5) * span)
            b = a + int(r.uniform(0.1, 0.5) * span)
            return kind, {**kw, "starttime": a, "endtime": b}
        return self.fresh(kind)

    def fresh(self, kind: str) -> tuple[str, dict]:
        """A query of ``kind`` with new random kwargs and time range."""
        r = self.rng
        net = str(r.choice(gen.NETWORKS))
        kw: dict = {}
        if kind == "ev_time":
            t1, t2 = self._window(10)
        elif kind == "ev_box":
            t1, t2 = self._window(120)
            lat = float(r.uniform(-80, 40))
            lon = (150.0, -150.0) if r.random() < 0.3 else (
                float(r.uniform(-170, 70)), 0.0)
            if lon[1] == 0.0:
                lon = (lon[0], lon[0] + 90.0)
            kw = {"minmagnitude": float(r.choice([2.0, 3.0])),
                  "minlatitude": lat, "maxlatitude": lat + 40.0,
                  "minlongitude": lon[0], "maxlongitude": lon[1]}
        elif kind == "ev_limit":
            t1, t2 = self._window(30)
            kw = {"minmagnitude": 2.0, "limit": 50}
        elif kind in ("wb_index", "wb_gaps", "wb_avail"):
            t1, t2 = self._window(3 if kind == "wb_index" else 30)
            kw = {"network": net,
                  "station": str(r.choice(["S00*", "S01*", "S?05", "*"])),
                  "channel": str(r.choice(["HH?", "BHZ", "*"]))}
        elif kind == "wb_bulk":
            t1, t2 = self._window(0.4)
            picks = r.choice(len(self.codes), int(r.integers(3, 7)), replace=False)
            reqs = []
            for i in picks:
                n, s, loc, c = self.codes[int(i)]
                reqs.append((n, s, loc, c if r.random() < 0.7 else "*Z", t1, t2))
            return kind, {"requests": reqs}
        else:  # fetch: one day of events x one network's channels
            day = int(r.integers(1, gen.BANK_DAYS - 1))
            t1 = T0_NS + day * DAY_NS
            t2 = t1 + DAY_NS
            kw = {"network": net, "minmagnitude": 2.0}
        if kind in _CACHEABLE:
            pool = self.recent[_CACHEABLE[kind]]
            pool.append((kw, t1, t2))
            del pool[:-RECENT_POOL]
        return kind, {**kw, "starttime": t1, "endtime": t2}


def _bank_build(spark, banks, kind: str, kw: dict):
    """The engine call for one generated query (plan construction only)."""
    from obsplus_spark import Fetcher

    ebank, wbank, stations = banks
    kw = dict(kw)
    if kind in ("ev_time", "ev_box", "ev_limit"):
        return ebank.read_index(**kw)
    if kind == "wb_index":
        return wbank.read_index(**kw)
    if kind == "wb_gaps":
        return wbank.get_gaps(**kw)
    if kind == "wb_avail":
        return wbank.availability(**kw)
    if kind == "wb_bulk":
        return wbank.get_waveforms_bulk(kw["requests"])
    t1, t2 = kw["starttime"], kw["endtime"]
    events = ebank.read_index(starttime=t1, endtime=t2, minmagnitude=kw["minmagnitude"])
    index = wbank.read_index(network=kw["network"], starttime=t1 - _BEFORE,
                             endtime=t2 + _AFTER)
    return Fetcher(events, stations, index).yield_event_waveforms(_BEFORE, _AFTER)


def _glob_sql(col: str, pat: str) -> str:
    return f"{col} GLOB '{pat}'"


def _bank_oracle(kind: str, kw: dict) -> str:
    """DuckDB SQL over the generated parquet for one generated query."""
    if kind in ("ev_time", "ev_box", "ev_limit"):
        w = [f"time > {kw['starttime']}", f"time < {kw['endtime']}"]
        if "minmagnitude" in kw:
            w.append(f"magnitude > {kw['minmagnitude']}")
        if "minlatitude" in kw:
            w += [f"latitude > {kw['minlatitude']}", f"latitude < {kw['maxlatitude']}"]
            lo, hi = kw["minlongitude"], kw["maxlongitude"]
            op = "OR" if lo > hi else "AND"
            w.append(f"(longitude > {lo} {op} longitude < {hi})")
        return "SELECT * FROM ev WHERE " + " AND ".join(w)
    if kind == "wb_bulk":
        ors = []
        for n, s, loc, c, t1, t2 in kw["requests"]:
            ors.append(
                f"(starttime < {t2} AND endtime > {t1} AND " + " AND ".join(
                    _glob_sql(k, v) for k, v in zip(
                        ("network", "station", "location", "channel"), (n, s, loc, c)))
                + ")"
            )
        return "SELECT * FROM seg WHERE " + " OR ".join(ors)
    if kind == "fetch":
        t1, t2, b, a = kw["starttime"], kw["endtime"], _BEFORE, _AFTER
        return f"""
        WITH e AS (SELECT event_id, time FROM ev WHERE time > {t1} AND time < {t2}
                   AND magnitude > {kw['minmagnitude']}),
        w AS (SELECT e.event_id, s.network, s.station, s.location, s.channel,
                     e.time - {b} AS ws, e.time + {a} AS we
              FROM e CROSS JOIN sta s
              WHERE s.start_date < e.time + {a}
                AND coalesce(s.end_date, 9223372036854775807) > e.time - {b}),
        i AS (SELECT * FROM seg WHERE network = '{kw['network']}'
              AND starttime < {t2 + a + NS} AND endtime > {t1 - b - NS})
        SELECT w.event_id, w.network, w.station, w.location, w.channel,
               w.ws AS window_start, w.we AS window_end, i.starttime AS seg_start,
               i.endtime AS seg_end, i.sampling_period, i.path
        FROM w JOIN i ON w.network = i.network AND w.station = i.station
          AND w.location = i.location AND w.channel = i.channel
          AND w.ws < i.endtime AND w.we > i.starttime"""
    f = (
        f"starttime < {kw['endtime'] + NS} AND endtime > {kw['starttime'] - NS} AND "
        + " AND ".join(_glob_sql(k, kw[k]) for k in ("network", "station", "channel"))
    )
    if kind == "wb_index":
        return f"SELECT * FROM seg WHERE {f}"
    if kind == "wb_avail":
        return (f"SELECT network, station, location, channel, min(starttime) AS starttime,"
                f" max(endtime) AS endtime FROM seg WHERE {f} GROUP BY ALL")
    keys = "network, station, location, channel, sampling_period"
    return f"""
    WITH w AS (SELECT {keys},
        lead(starttime) OVER (PARTITION BY {keys} ORDER BY starttime, endtime) AS nxt,
        max(endtime) OVER (PARTITION BY {keys} ORDER BY starttime, endtime
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM seg WHERE {f})
    SELECT {keys}, cum AS gap_start, nxt AS gap_end, nxt - cum AS gap_duration
    FROM w WHERE nxt IS NOT NULL AND cum + CAST(sampling_period * 1.5 AS BIGINT) < nxt"""


def bank_query(run: Run) -> dict:
    from obsplus_spark import EventBank, WaveBank

    spark = run.spark
    codes = gen.station_codes(STATIONS_PER_NET)

    def make(name: str, seed: int, n_events: int, codes: list[tuple]):
        rng = np.random.default_rng(seed)
        d = run.work / name
        d.mkdir(parents=True)
        pq.write_table(gen.events_table(rng, n_events, "ev"), d / "events.parquet")
        pq.write_table(gen.segments_table(rng, codes, gen.BANK_DAYS), d / "segments.parquet")
        pq.write_table(gen.stations_table(rng, codes), d / "stations.parquet")
        ebank = EventBank(spark, d / "ebank")
        ebank.put_events(spark.read.parquet(str(d / "events.parquet")))
        wbank = WaveBank(spark, d / "wbank")
        wbank.update_index(spark.read.parquet(str(d / "segments.parquet")))
        return d, (ebank, wbank, spark.read.parquet(str(d / "stations.parquet")))

    # warm up first, on a bank a tenth the size: its set-up and one query
    # of every kind; the timed bank starts with an empty index cache
    t0 = time.perf_counter()
    warm_codes = gen.station_codes(max(1, STATIONS_PER_NET // 10))
    _, warm_banks = make("bank_warm", run.seed + 1, N_EVENTS // 10, warm_codes)
    warm = QueryGen(np.random.default_rng(run.seed + 1), warm_codes, LOCALITY)
    for kind in _KINDS:
        _bank_build(spark, warm_banks, *warm.fresh(kind)).collect()
    warmup = time.perf_counter() - t0

    outs, setup = _timed_setup(
        run, lambda rep: make(f"bank{rep}", run.seed, N_EVENTS, codes))
    d, banks = outs[-1]

    qgen = QueryGen(np.random.default_rng(run.seed), codes, LOCALITY)
    tr = run.tracer
    guard = FreshPlanGuard()
    lat, done, persists = [], [], []
    spark.sparkContext.setLocalProperty("perfbench.region", "timed")
    tr.start_region()
    t_start = time.perf_counter()
    for i in range(run.seconds * QUERIES_PER_SECOND):
        kind, kw = qgen.next()
        tr.op = i
        run.attempted += 1
        try:
            dt, persisted, df, cols, rows = timed_query(
                run, guard, lambda: _bank_build(spark, banks, kind, kw))
        except ReusedPlanError:
            raise
        except Exception as e:  # a failed query counts; the loop goes on
            run.fail(f"{kind}: {type(e).__name__}: {str(e)[:200]}")
            continue
        lat.append(dt)
        done.append((kind, kw, cols, rows))
        persists.append(persisted)
        if tr.enabled:
            tr.record_plan(df)
            tr.record_scan(df, len(rows))
            if kind == "fetch":
                tr.counts["fetcher.rows_out"] += len(rows)
                tr.counts["fetcher.windows"] += len({(r[0],) + r[1:5] for r in rows})
    wall = time.perf_counter() - t_start
    spark.sparkContext.setLocalProperty("perfbench.region", None)

    _check_bank(run, d, done)
    # per query: kind, latency and the persist calls its build made
    run.report["kind_ms"] = [[q[0], round(t * 1000, 1), n]
                             for q, t, n in zip(done, lat, persists)]
    return {
        "setup_s": setup,
        "warmup_s": warmup,
        "latencies": lat,
        "throughput_per_s": len(lat) / wall,
    }


def _check_bank(run: Run, d: Path, done: list) -> None:
    import duckdb

    con = duckdb.connect()
    for t, f in (("ev", "events"), ("seg", "segments"), ("sta", "stations")):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{d / f}.parquet')")
    for kind, kw, cols, rows in done:
        res = con.execute(_bank_oracle(kind, kw))
        ocols = [c[0] for c in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            run.fail(f"{kind}: columns {sorted(cols)} != {sorted(ocols)}")
        elif kind == "ev_limit":
            full = set(canon(orows, ocols))
            got = canon(rows, cols)
            if len(got) != min(kw["limit"], len(full)) or not set(got) <= full:
                run.fail(f"{kind}: {len(got)} rows not a limit-subset of {len(full)}")
        elif canon(rows, cols) != canon(orows, ocols):
            run.fail(f"{kind} {kw}: {len(rows)} rows != oracle {len(orows)}")
    con.close()


# ===========================================================================
# bank_ingest: files land, incremental bank updates, read-after-write checks
# ===========================================================================

MSEED_FILES, MSEED_RECORDS = 40, 50
QUAKEML_FILES, QUAKEML_EVENTS = 10, 50
STEP_SECONDS = 10  # fixed work: one ingest step (~10 s with its reads) per this many --seconds
RAW_QUERIES = 20
INGEST_T0 = T0_NS + 730 * DAY_NS  # 2021-01-01


def _land_batch(rng, step: int, wave_dir: Path, qml_dir: Path, codes) -> tuple:
    """Write one batch of files; return (bytes, event rows, record spans)."""
    from obsplus_spark.sources.mseed import build_mseed_record

    day0 = INGEST_T0 + step * DAY_NS
    nbytes = 0
    spans = []  # (code, start, end)
    wd = wave_dir / f"step{step:03d}"
    wd.mkdir(parents=True)
    picks = rng.choice(len(codes), MSEED_FILES, replace=False)
    for i in picks:
        code = codes[int(i)]
        start = day0 + int(rng.integers(0, 20 * 3600)) * NS
        blob, recs = gen.mseed_file(build_mseed_record, code, start, MSEED_RECORDS,
                                    gen.CHANNELS[code[3]])
        (wd / f"{'.'.join(code)}.mseed").write_bytes(blob)
        nbytes += len(blob)
        spans.extend((code, a, b) for a, b in recs)
    qd = qml_dir / f"step{step:03d}"
    qd.mkdir(parents=True)
    events = []
    for f in range(QUAKEML_FILES):
        rows = []
        for j in range(QUAKEML_EVENTS):
            rows.append({
                "event_id": f"smi:perfbench/s{step}/f{f}/e{j}",
                "time": day0 + int(rng.integers(0, 86_400_000)) * 1_000_000,
                "latitude": round(float(rng.uniform(-80, 80)), 4),
                "longitude": round(float(rng.uniform(-179, 179)), 4),
                "depth": round(float(rng.uniform(0, 50_000)), 1),
                "magnitude": round(float(1 + rng.exponential(0.43)), 2),
            })
        text = gen.quakeml_file(rows).encode()
        (qd / f"batch{f}.xml").write_bytes(text)
        nbytes += len(text)
        events.extend(rows)
    return nbytes, events, spans


def bank_ingest(run: Run) -> dict:
    from obsplus_spark import EventBank, WaveBank
    from obsplus_spark.sources.quakeml import update_eventbank_from_files
    from obsplus_spark.sources.summarize import update_wavebank_from_files

    spark = run.spark
    codes = gen.station_codes(STATIONS_PER_NET)
    steps = max(1, run.seconds // STEP_SECONDS)

    def make(rep: int):
        rng = np.random.default_rng([run.seed, rep])
        d = run.work / f"ingest{rep}"
        wave, qml = d / "incoming_wave", d / "incoming_qml"
        wbank, ebank = WaveBank(spark, d / "wbank"), EventBank(spark, d / "ebank")
        nbytes, events, spans = _land_batch(rng, 0, wave, qml, codes)
        update_wavebank_from_files(spark, wbank, str(wave), incremental=False)
        update_eventbank_from_files(spark, ebank, str(qml), incremental=False)
        return rng, d, wbank, ebank, nbytes, events, spans

    outs, setup = _timed_setup(run, make)
    # warm up on the first set-up's banks: one incremental step, then reads
    t0 = time.perf_counter()
    w_rng, w_dir, w_wbank, w_ebank = outs[0][:4]
    _land_batch(w_rng, 1, w_dir / "incoming_wave", w_dir / "incoming_qml", codes)
    update_wavebank_from_files(spark, w_wbank, str(w_dir / "incoming_wave"), incremental=True)
    update_eventbank_from_files(spark, w_ebank, str(w_dir / "incoming_qml"), incremental=True)
    w_wbank.read_index(network="UU").collect()
    w_ebank.read_index(minmagnitude=1.5).collect()
    warmup = time.perf_counter() - t0
    rng, d, wbank, ebank, in_bytes, events, spans = outs[-1]
    wave, qml = d / "incoming_wave", d / "incoming_qml"

    tr = run.tracer
    guard = FreshPlanGuard()
    lat, ingest_s, files, step_bytes_in = [], 0.0, 0, 0
    spark.sparkContext.setLocalProperty("perfbench.region", "timed")
    tr.start_region()
    for step in range(1, steps + 1):
        nbytes, new_events, new_spans = _land_batch(rng, step, wave, qml, codes)
        in_bytes += nbytes
        step_bytes_in += nbytes
        events += new_events
        spans += new_spans
        gens_before = {p for b in (wbank, ebank) for p in b.table.root.glob("gen=*")}
        tr.op += 1
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                update_wavebank_from_files(spark, wbank, str(wave), incremental=True)
                update_eventbank_from_files(spark, ebank, str(qml), incremental=True)
        except Exception as e:
            run.fail(f"ingest step {step}: {type(e).__name__}: {str(e)[:200]}")
            continue
        ingest_s += time.perf_counter() - t0
        files += MSEED_FILES + QUAKEML_FILES
        gens_after = {p for b in (wbank, ebank) for p in b.table.root.glob("gen=*")}
        tr.counts["bank_write.bytes_written"] += sum(
            _dir_bytes(p) for p in gens_after - gens_before)
        tr.counts["bank_write.generations_gc"] += len(gens_before - gens_after)
        day0 = INGEST_T0 + step * DAY_NS
        for q in range(RAW_QUERIES):
            run.attempted += 1
            a = day0 + int(rng.integers(0, 20 * 3600)) * NS
            b = a + int(rng.integers(1800, 4 * 3600)) * NS
            net = gen.NETWORKS[q % len(gen.NETWORKS)]
            if q % 2 == 0:
                want = sorted((e["event_id"],) for e in events if a < e["time"] < b)
            else:
                want = sorted((c[1], c[3], s) for c, s, e in spans if c[0] == net
                              and s < b + NS and e > a - NS)
            try:
                dt, _, df, _, rows = timed_query(run, guard, lambda: (
                    ebank.read_index(starttime=a, endtime=b).select("event_id")
                    if q % 2 == 0 else
                    wbank.read_index(network=net, starttime=a, endtime=b).select(
                        "station", "channel", "starttime")))
            except ReusedPlanError:
                raise
            except Exception as e:
                run.fail(f"raw query: {type(e).__name__}: {str(e)[:200]}")
                continue
            lat.append(dt)
            run.report.setdefault("raw_ms", []).append(
                ["ev" if q % 2 == 0 else "wb", round(dt * 1000, 1)])
            if sorted(rows) != want:
                run.fail(f"raw query step {step}: {len(rows)} rows, expected {len(want)}")
            tr.record_plan(df)
            tr.record_scan(df, len(rows))
    spark.sparkContext.setLocalProperty("perfbench.region", None)

    stored = _dir_bytes(d / "wbank") + _dir_bytes(d / "ebank")
    run.report.update({
        "steps": steps, "input_bytes": in_bytes,
        "stored_bytes_per_input_byte": round(stored / in_bytes, 3),
        "ingest_mb_per_s": round(step_bytes_in / 2**20 / max(ingest_s, 1e-9), 3),
    })
    tr.counts["bank_write.bytes_written_per_input_byte"] = (
        tr.counts["bank_write.bytes_written"] / max(step_bytes_in, 1))
    return {
        "setup_s": setup,
        "warmup_s": warmup,
        "latencies": lat,
        "throughput_per_s": files / max(ingest_s, 1e-9),
    }


WORKLOADS = {"bank_query": bank_query, "bank_ingest": bank_ingest}
