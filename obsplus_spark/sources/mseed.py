"""miniSEED v2 header-only record parser — pure stdlib, no obspy.

Implements the summarize fast path the reference gets from libmseed
(``utils/mseed.py:70-112 summarize_mseed``): walk a file's records reading
ONLY the 48-byte fixed data header + the blockette chain (for blockette
1000's record length), never decoding samples. The format is the public
FDSN SEED v2.4 specification:

fixed header (offsets)::

    0-5    sequence number (ASCII)
    6      data quality indicator (D/R/Q/M)
    8-12   station  (5, space-padded)
    13-14  location (2)
    15-17  channel  (3)
    18-19  network  (2)
    20-29  BTIME: year u16, day-of-year u16, hour u8, min u8, sec u8,
           unused u8, 0.0001-sec fraction u16
    30-31  number of samples u16
    32-33  sample-rate factor i16
    34-35  sample-rate multiplier i16
    36     activity flags (bit 1: time correction already applied)
    39     number of blockettes
    40-43  time correction i32 (0.0001-sec units)
    46-47  offset of first blockette u16

Blockette header: type u16, next-blockette offset u16; blockette 1000
adds encoding u8, word order u8, record-length power u8.

Byte order is per-record, detected from BTIME year plausibility
(1900 ≤ year ≤ 2100) — the standard libmseed heuristic; the spec carries
no explicit endianness field.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta, timezone

_FIXED = struct.Struct(">6scc5s2s3s2sHHBBBxHHhhBBBBlxxH")
_FIXED_LE = struct.Struct("<6scc5s2s3s2sHHBBBxHHhhBBBBlxxH")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _btime_ns(
    year: int, doy: int, hour: int, minute: int, sec: int, frac: int
) -> int:
    """BTIME → unix epoch ns (frac is in 0.0001 s units)."""
    dt = datetime(year, 1, 1, tzinfo=timezone.utc) + timedelta(
        days=doy - 1, hours=hour, minutes=minute, seconds=sec
    )
    return int((dt - _EPOCH).total_seconds()) * 1_000_000_000 + frac * 100_000


def _sample_period_ns(factor: int, multiplier: int) -> int | None:
    """SEED factor/multiplier → sampling period in ns (None if invalid).

    rate = f×m (f>0,m>0) · f/|m| (f>0,m<0) · m/|f| (f<0,m>0) ·
    1/(|f|·|m|) (f<0,m<0).
    """
    if factor == 0 or multiplier == 0:
        # a zero multiplier is nonconforming SEED — treat the record as
        # corrupt (None → caller skips it) instead of dividing by zero
        # and aborting the whole file's parse
        return None
    if factor > 0:
        rate = factor * multiplier if multiplier > 0 else factor / -multiplier
    else:
        rate = multiplier / -factor if multiplier > 0 else 1.0 / (factor * multiplier)
    if rate <= 0:
        return None
    return round(1e9 / rate)


def parse_mseed_records(content: bytes, path: str = "") -> list[dict]:
    """Header-only record walk → one index row per record.

    Tolerant in the PERMISSIVE spirit: a record that fails to parse stops
    the walk (record boundaries are unknowable past a corrupt length);
    rows already parsed are returned. Returns [] for non-miniSEED bytes.
    """
    rows: list[dict] = []
    off = 0
    n = len(content)
    while off + 48 <= n:
        rec = _parse_one(content, off, path)
        if rec is None:
            break
        row, rec_len = rec
        if row is not None:
            rows.append(row)
        if rec_len <= 0:
            break
        off += rec_len
    return rows


def _parse_one(buf: bytes, off: int, path: str):
    """Parse one record's headers; returns (row | None, record_length)."""
    hdr = buf[off : off + 48]
    try:
        seq = hdr[0:6].decode("ascii")
        quality = chr(hdr[6])
    except UnicodeDecodeError:
        return None
    if quality not in "DRQM" or not (seq.strip("? ").isdigit() or seq == "      "):
        return None
    # endianness from BTIME year plausibility (libmseed heuristic)
    for st in (_FIXED, _FIXED_LE):
        u = st.unpack(hdr)
        year, doy = u[7], u[8]
        if 1900 <= year <= 2100 and 1 <= doy <= 366:
            break
    else:
        return None
    (
        _seq, _q, _r, sta, loc, cha, net,
        year, doy, hour, minute, sec, frac,
        nsamp, sr_factor, sr_mult,
        act_flags, _io, _dq, n_blk, time_corr, first_blk,
    ) = u
    big = st is _FIXED
    e = ">" if big else "<"
    # blockette chain → blockette 1000 record length (2^power)
    rec_len = 0
    boff = first_blk
    for _ in range(n_blk):
        if boff == 0 or off + boff + 4 > len(buf):
            break
        btype, bnext = struct.unpack(
            e + "HH", buf[off + boff : off + boff + 4]
        )
        if btype == 1000 and off + boff + 7 <= len(buf):
            rec_len = 1 << buf[off + boff + 6]
            break
        if bnext <= boff:
            break
        boff = bnext
    if rec_len < 64 or rec_len > (1 << 20):
        return None
    try:
        start_ns = _btime_ns(year, doy, hour, minute, sec, frac)
    except ValueError:
        return None, rec_len
    if not (act_flags & 0x02):  # correction not yet applied
        start_ns += time_corr * 100_000
    sp_ns = _sample_period_ns(sr_factor, sr_mult)
    if sp_ns is None or nsamp == 0:
        return None, rec_len
    row = {
        "network": net.decode("ascii", "replace").strip(),
        "station": sta.decode("ascii", "replace").strip(),
        "location": loc.decode("ascii", "replace").strip(),
        "channel": cha.decode("ascii", "replace").strip(),
        "starttime": start_ns,
        "endtime": start_ns + (nsamp - 1) * sp_ns,
        "sampling_period": sp_ns,
        "path": path,
    }
    return row, rec_len


def summarize_mseed(content: bytes, path: str) -> list[dict]:
    """Drop-in parser for :func:`summarize.summarize_files` — real
    miniSEED header scan (reference ``utils/mseed.py:70-112``)."""
    return parse_mseed_records(content, path)


# --- test/fixture support: record writer ----------------------------------


def build_mseed_record(
    network: str = "UU",
    station: str = "STA",
    location: str = "00",
    channel: str = "HHZ",
    start_ns: int = 0,
    n_samples: int = 100,
    sample_rate: int = 100,
    record_length: int = 512,
    big_endian: bool = True,
    sequence: int = 1,
    quality: str = "D",
) -> bytes:
    """Serialize one header-only miniSEED record (zero-filled data) —
    fixture twin of the parser, same public layout."""
    import math

    e = ">" if big_endian else "<"
    dt = _EPOCH + timedelta(microseconds=start_ns // 1000)
    frac = (start_ns % 1_000_000_000) // 100_000
    doy = dt.timetuple().tm_yday
    power = int(math.log2(record_length))
    fixed = struct.pack(
        e + "6scc5s2s3s2sHHBBBxHHhhBBBBlxxH",
        f"{sequence:06d}".encode(),
        quality.encode(),
        b" ",
        station.ljust(5).encode(),
        location.ljust(2).encode(),
        channel.ljust(3).encode(),
        network.ljust(2).encode(),
        dt.year,
        doy,
        dt.hour,
        dt.minute,
        dt.second,
        frac,
        n_samples,
        sample_rate,
        1,
        0,  # activity flags: correction not applied (and none given)
        0,
        0,
        1,  # one blockette
        0,  # time correction
        48,  # first blockette at 48 (beginning-of-data skipped: header-only)
    )
    blk1000 = struct.pack(e + "HHBBBB", 1000, 0, 11, 1 if big_endian else 0, power, 0)
    rec = fixed + blk1000
    return rec + b"\x00" * (record_length - len(rec))
