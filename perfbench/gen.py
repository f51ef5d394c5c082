"""Seeded input generators for the two workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns plain Python/Arrow data; the same seed gives the
same inputs. All times are int64 epoch nanoseconds held in numpy
``int64`` arrays or Python ints, so no ns arithmetic passes through a
32-bit type (the engine's session runs with ANSI on, where an INT
overflow raises instead of wrapping).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

NS = 1_000_000_000
DAY_NS = 86_400 * NS
#: bank_query / bank_ingest epoch: 2019-01-01T00:00:00Z
T0_NS = int(dt.datetime(2019, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * NS
BANK_DAYS = 4 * 365 + 1  # 2019-01-01 .. 2022-12-31 (2020 is a leap year)

NETWORKS = ["UU", "WY", "TA", "IU"]
#: channel code -> sampling period (ns); both give an integral 1.5 * period
CHANNELS = {"HHZ": 10_000_000, "BHZ": 25_000_000}


# -- bank_query: event summaries, waveform index, stations ------------------


def station_codes(n_per_net: int) -> list[tuple[str, str, str, str]]:
    """(network, station, location, channel) for every generated channel."""
    return [
        (net, f"S{i:03d}", "00", cha)
        for net in NETWORKS
        for i in range(n_per_net)
        for cha in CHANNELS
    ]


def events_table(rng: np.random.Generator, n: int, prefix: str) -> pa.Table:
    """Event summaries spread uniformly over ``BANK_DAYS`` days.

    Magnitudes follow a Gutenberg-Richter tail (b = 1) from M1; longitudes
    stay strictly inside (-180, 180) so longitude wrapping is the identity.
    """
    t = np.sort(rng.integers(T0_NS, T0_NS + BANK_DAYS * DAY_NS, n, dtype=np.int64))
    mag = np.minimum(1.0 + rng.exponential(1 / np.log(10), n), 8.5).round(2)
    return pa.table(
        {
            "event_id": [f"{prefix}{i:07d}" for i in range(n)],
            "time": pa.array(t, pa.int64()),
            "latitude": rng.uniform(-80.0, 80.0, n).round(4),
            "longitude": rng.uniform(-179.9, 179.9, n).round(4),
            "depth": rng.uniform(0.0, 700.0, n).round(2),
            "magnitude": mag,
        }
    )


def segments_table(
    rng: np.random.Generator, codes: list[tuple], days: int
) -> pa.Table:
    """About one waveform segment per channel per day.

    Most segments abut; ~10% are followed by a gap of 10 min to 6 h and
    ~5% overlap their successor by up to a minute, so gap detection has to
    use the running maximum of end times.
    """
    cols: dict[str, list] = {k: [] for k in ("network", "station", "location", "channel")}
    starts, ends, periods, paths = [], [], [], []
    for net, sta, loc, cha in codes:
        sp = CHANNELS[cha]
        jitter = rng.integers(-3600, 3600, days, dtype=np.int64) * NS
        start = T0_NS + np.arange(days, dtype=np.int64) * DAY_NS + np.maximum(jitter, 0)
        end = start + DAY_NS - np.maximum(jitter, 0)
        kind = rng.random(days)
        gap = rng.integers(600, 6 * 3600, days, dtype=np.int64) * NS
        overlap = rng.integers(1, 60, days, dtype=np.int64) * NS
        end = np.where(kind < 0.10, end - gap, end)
        end = np.where((kind >= 0.10) & (kind < 0.15), end + overlap, end)
        n = days
        for k, v in zip(cols, (net, sta, loc, cha)):
            cols[k].extend([v] * n)
        starts.append(start)
        ends.append(end)
        periods.append(np.full(n, sp, dtype=np.int64))
        paths.extend(f"{net}/{sta}/{cha}/{d:04d}.mseed" for d in range(n))
    return pa.table(
        {
            **cols,
            "starttime": pa.array(np.concatenate(starts), pa.int64()),
            "endtime": pa.array(np.concatenate(ends), pa.int64()),
            "sampling_period": pa.array(np.concatenate(periods), pa.int64()),
            "path": paths,
        }
    )


def stations_table(rng: np.random.Generator, codes: list[tuple]) -> pa.Table:
    """Channel epochs: most open-ended, some closing inside the bank span."""
    n = len(codes)
    start = T0_NS - rng.integers(1, 3650, n, dtype=np.int64) * DAY_NS
    closes = rng.random(n) < 0.2
    end = T0_NS + rng.integers(30, BANK_DAYS, n, dtype=np.int64) * DAY_NS
    return pa.table(
        {
            "network": [c[0] for c in codes],
            "station": [c[1] for c in codes],
            "location": [c[2] for c in codes],
            "channel": [c[3] for c in codes],
            "start_date": pa.array(start, pa.int64()),
            "end_date": pa.array(np.where(closes, end, 0), pa.int64(), mask=~closes),
        }
    )


# -- bank_ingest: miniSEED and QuakeML files --------------------------------


def mseed_file(
    build_record, code: tuple, start_ns: int, n_records: int, sp_ns: int
) -> tuple[bytes, list[tuple[int, int]]]:
    """``n_records`` contiguous 512-byte header-only records of one channel.

    Returns the file bytes and each record's (start, end) in ns, as the
    engine's summarizer should report them.
    """
    net, sta, loc, cha = code
    n_samples = 400
    rate = NS // sp_ns
    recs, spans = [], []
    t = start_ns
    for i in range(n_records):
        recs.append(build_record(
            network=net, station=sta, location=loc, channel=cha,
            start_ns=t, n_samples=n_samples, sample_rate=int(rate),
            sequence=i + 1,
        ))
        spans.append((t, t + n_samples * sp_ns))
        t += n_samples * sp_ns
    return b"".join(recs), spans


def quakeml_file(rows: list[dict]) -> str:
    """A QuakeML document holding one minimal event (origin + magnitude)
    per row; ``rows`` carry resource id, time (ns), lat, lon, depth (m)
    and magnitude."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<q:quakeml xmlns:q="http://quakeml.org/xmlns/quakeml/1.2" '
        'xmlns="http://quakeml.org/xmlns/bed/1.2">',
        '<eventParameters publicID="smi:local/perfbench">',
    ]
    for r in rows:
        t = dt.datetime.fromtimestamp(r["time"] // NS, tz=dt.timezone.utc)
        iso = t.strftime("%Y-%m-%dT%H:%M:%S") + f".{(r['time'] % NS) // 1000:06d}Z"
        rid = r["event_id"]
        parts.append(
            f'<event publicID="{rid}">'
            f'<preferredOriginID>{rid}/o</preferredOriginID>'
            f'<preferredMagnitudeID>{rid}/m</preferredMagnitudeID>'
            f'<origin publicID="{rid}/o"><time><value>{iso}</value></time>'
            f'<latitude><value>{r["latitude"]}</value></latitude>'
            f'<longitude><value>{r["longitude"]}</value></longitude>'
            f'<depth><value>{r["depth"]}</value></depth></origin>'
            f'<magnitude publicID="{rid}/m"><mag><value>{r["magnitude"]}</value></mag>'
            f'<type>ML</type><originID>{rid}/o</originID></magnitude>'
            "</event>"
        )
    parts.append("</eventParameters></q:quakeml>")
    return "".join(parts)
