"""Property tests: the SQL text the bank predicates compile to, run by
Spark, against the same queries written for DuckDB.

The engine writes glob matches, FDSN event filters, interval overlaps and
bulk request lists as SQL text (one ``where`` per query). These properties
check that text — identifier quoting, literal escaping (``'``, ``\\``,
``%``, ``_``), left-deep AND/OR nesting, the dateline rewrite, the
``part_year`` bounds folded into event reads, open-ended and endtime-only
windows — by running random queries through Spark and through a DuckDB
oracle over the same rows.
"""

from __future__ import annotations

import fnmatch

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from obsplus_spark.functions.strings import glob_match, glob_match_sql
from obsplus_spark.operators.joins import bulk_request_filter
from obsplus_spark.plans.predicates import fdsn_event_filter, interval_overlap_sql

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
NS = 1_000_000_000
Y2019 = 1546300800 * NS
YEAR = 365 * 86400 * NS


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _duck_rows(con, table, schema, rows, sql, params=()):
    con.execute(f"CREATE OR REPLACE TABLE {table} ({schema})")
    if rows:
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)
    return sorted(con.execute(sql, list(params)).fetchall())


# -- globs --------------------------------------------------------------------

#: (fnmatch token, DuckDB GLOB token): DuckDB's GLOB reads ``\`` as an
#: escape and never matches an unclosed ``[``, so those two are written
#: as one-member classes on the DuckDB side
_TOKENS = [
    ("a", "a"), ("B", "B"), (".", "."), ("'", "'"), ("\\", "[\\]"),
    ("%", "%"), ("_", "_"), ("*", "*"), ("?", "?"), ("[aB]", "[aB]"),
    ("[!x]", "[!x]"), ("[.']", "[.']"),
]
_LONE_BRACKET = ("[", "[[]")

glob_strategy = st.tuples(
    st.lists(st.sampled_from(_TOKENS), min_size=1, max_size=5),
    st.booleans(),  # ends in a lone '['
).map(lambda t: t[0] + ([_LONE_BRACKET] if t[1] else []))

value_strategy = st.text(alphabet="aAbB.'\\%_x[]", max_size=5)


@given(
    tokens=glob_strategy,
    values=st.lists(value_strategy, min_size=1, max_size=12),
    case_insensitive=st.booleans(),
)
@settings(**SETTINGS)
def test_glob_sql_matches_duckdb(spark, duck, tokens, values, case_insensitive):
    pattern = "".join(t for t, _ in tokens)
    duck_pattern = "".join(d for _, d in tokens)
    # values that match when the pattern's wildcards take one char each
    values = values + [
        pattern.replace("*", "x").replace("?", "a"),
        "".join(t if len(t) == 1 else t[1] for t, _ in tokens if t not in "*?"),
    ]
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, v string")
    got = sorted(
        (r.id, r.v)
        for r in df.where(glob_match_sql("v", pattern, case_insensitive)).collect()
    )
    via_column = sorted(
        (r.id, r.v)
        for r in df.where(glob_match("v", pattern, case_insensitive)).collect()
    )
    col = "upper(v)" if case_insensitive else "v"
    want = _duck_rows(
        duck, "g", "id BIGINT, v VARCHAR", rows,
        f"SELECT id, v FROM g WHERE {col} GLOB ?",
        [duck_pattern.upper() if case_insensitive else duck_pattern],
    )
    norm = str.upper if case_insensitive else str
    fn = sorted(
        (i, v) for i, v in rows if fnmatch.fnmatchcase(norm(v), norm(pattern))
    )
    assert got == via_column == want == fn, (pattern, case_insensitive)


# -- FDSN event filter ----------------------------------------------------------

event_strategy = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 3 * YEAR)),
        st.floats(-89.0, 89.0),
        st.floats(-179.9, 179.9),
        st.floats(0.0, 6.0),
    ),
    min_size=1,
    max_size=25,
)
window_strategy = st.tuples(
    st.one_of(st.none(), st.integers(-YEAR // 2, 3 * YEAR)),
    st.one_of(st.none(), st.integers(0, 4 * YEAR)),
)
box_strategy = st.one_of(
    st.none(),
    st.tuples(st.floats(-200.0, 200.0), st.floats(-200.0, 200.0)),
)


@given(
    events=event_strategy,
    window=window_strategy,
    box=box_strategy,
    minlatitude=st.one_of(st.none(), st.floats(-90.0, 60.0)),
    minmagnitude=st.one_of(st.none(), st.sampled_from([1, 2.5, 3.0])),
)
# a tiny positive longitude wraps to itself, not to 0
@example(events=[(None, 0.0, 1e-294, 0.0)], window=(None, None), box=(0.0, 1.0),
         minlatitude=None, minmagnitude=None)
@settings(**SETTINGS)
def test_fdsn_event_sql_matches_duckdb(
    spark, duck, events, window, box, minlatitude, minmagnitude
):
    rows = [
        (f"e'{i}", None if t is None else Y2019 + t, lat, lon, mag)
        for i, (t, lat, lon, mag) in enumerate(events)
    ]
    # the bank's Hive partition column: year of the time, 0 for null times
    df = spark.createDataFrame(
        rows,
        "event_id string, time long, latitude double, longitude double, "
        "magnitude double",
    ).selectExpr(
        "*",
        "coalesce(year(timestamp_micros(CAST(time / 1000 AS BIGINT))), 0)"
        " AS part_year",
    )
    t1, t2 = (None if w is None else Y2019 + w for w in window)
    kw = {"starttime": t1, "endtime": t2, "minlatitude": minlatitude,
          "minmagnitude": minmagnitude}
    if box is not None:
        kw["minlongitude"], kw["maxlongitude"] = box
    out = fdsn_event_filter(df, **kw)
    assert "part_year" not in out.columns
    got = sorted(tuple(r) for r in out.collect())

    where, params = [], []
    if t1 is not None:
        where.append("time > ?")
        params.append(t1)
    if t2 is not None:
        where.append("time < ?")
        params.append(t2)
        if t1 is None:
            where.append("time IS NOT NULL")
    if minlatitude is not None:
        where.append("latitude > ?")
        params.append(minlatitude)
    if minmagnitude is not None:
        where.append("magnitude > ?")
        params.append(minmagnitude)
    if box is not None:
        # the reference's rule: wrap into [-180, 180] (m > 180 shifts
        # down), a box whose wrapped min exceeds its max crosses the
        # dateline, a raw span of 360 or more matches every longitude.
        # m is a positive modulus that adds 360 only to a negative
        # remainder, so a tiny positive longitude stays itself
        def wrap(x):
            r = f"fmod({x}, 360)"
            m = f"(CASE WHEN {r} < 0 THEN fmod({r} + 360, 360) ELSE {r} END)"
            return f"(CASE WHEN {m} > 180 THEN {m} - 360 ELSE {m} END)"

        lo, hi = (f"CAST('{v!r}' AS DOUBLE)" for v in box)
        lon, wlo, whi = wrap("longitude"), wrap(lo), wrap(hi)
        where.append(
            f"({hi} - {lo} >= 360 OR CASE WHEN {wlo} > {whi}"
            f" THEN {lon} > {wlo} OR {lon} < {whi}"
            f" ELSE {lon} > {wlo} AND {lon} < {whi} END)"
        )
    want = _duck_rows(
        duck, "ev",
        "event_id VARCHAR, time BIGINT, latitude DOUBLE, longitude DOUBLE,"
        " magnitude DOUBLE",
        rows,
        "SELECT * FROM ev" + (" WHERE " + " AND ".join(where) if where else ""),
        params,
    )
    assert got == want, kw


# -- interval overlap and bulk request lists ---------------------------------

segment_strategy = st.lists(
    st.tuples(
        st.sampled_from(["UU", "WY"]),
        st.sampled_from(["A1", "B'2", "C%3"]),
        st.sampled_from(["", "00"]),
        st.sampled_from(["HHZ", "BHN", "H_Z"]),
        st.integers(0, 200),
        st.integers(1, 60),
    ).map(lambda r: r[:4] + (r[4], r[4] + r[5])),
    min_size=1,
    max_size=25,
)
code_glob = st.sampled_from(["*", "UU", "W?", "B'2", "C%*", "[AB]*", "", "0?", "H_Z", "*Z", "[!B]H?"])
request_strategy = st.lists(
    st.tuples(code_glob, code_glob, code_glob, code_glob,
              st.integers(-10, 220), st.integers(0, 80)).map(
        lambda r: r[:4] + (r[4], r[4] + r[5])),
    min_size=0,
    max_size=4,
)
_SEG_SCHEMA = (
    "network string, station string, location string, channel string, "
    "starttime long, endtime long"
)
_SEG_DUCK = (
    "network VARCHAR, station VARCHAR, location VARCHAR, channel VARCHAR, "
    "starttime BIGINT, endtime BIGINT"
)
_NSLC = ("network", "station", "location", "channel")


@given(segments=segment_strategy, requests=request_strategy)
@settings(**SETTINGS)
def test_bulk_request_sql_matches_duckdb(spark, duck, segments, requests):
    df = spark.createDataFrame(segments, _SEG_SCHEMA)
    got = sorted(tuple(r) for r in bulk_request_filter(df, requests).collect())
    ors, params = [], []
    for *codes, t1, t2 in requests:
        ors.append(
            "(starttime < ? AND endtime > ? AND "
            + " AND ".join(f"{c} GLOB ?" for c in _NSLC) + ")"
        )
        params += [t2, t1, *codes]
    want = _duck_rows(
        duck, "seg", _SEG_DUCK, segments,
        "SELECT * FROM seg WHERE " + (" OR ".join(ors) or "false"), params,
    )
    assert got == want, requests


@given(
    segments=segment_strategy,
    window=st.tuples(
        st.one_of(st.none(), st.integers(-10, 220)),
        st.one_of(st.none(), st.integers(-10, 280)),
    ),
    buffer_ns=st.sampled_from([0, 5]),
)
@settings(**SETTINGS)
def test_interval_overlap_sql_matches_duckdb(spark, duck, segments, window, buffer_ns):
    t1, t2 = window
    df = spark.createDataFrame(segments, _SEG_SCHEMA)
    got = sorted(
        tuple(r)
        for r in df.where(interval_overlap_sql(t1, t2, buffer_ns=buffer_ns)).collect()
    )
    # open ends match every row; the buffer widens the window, and with
    # no buffer the window's edges are inclusive
    lt, gt = ("<", ">") if buffer_ns else ("<=", ">=")
    where, params = ["true"], []
    if t2 is not None:
        where.append(f"starttime {lt} ?")
        params.append(t2 + buffer_ns)
    if t1 is not None:
        where.append(f"endtime {gt} ?")
        params.append(t1 - buffer_ns)
    want = _duck_rows(
        duck, "seg", _SEG_DUCK, segments,
        "SELECT * FROM seg WHERE " + " AND ".join(where), params,
    )
    assert got == want, (window, buffer_ns)
