"""Nested event-tree layer: explode views, preferred chain, JSON round-trip,
six-table sub-entity parity, and slim-tree schema tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from obsplus_spark.operators.event_tree import (
    NESTED_EVENT_SCHEMA,
    amplitudes_to_df,
    arrivals_to_df,
    events_to_df,
    first_pick_origins,
    focal_mechanisms_to_df,
    json_to_tree,
    last_magnitude_per_type,
    magnitudes_to_df,
    origin_quality,
    picks_to_df,
    station_magnitudes_to_df,
    tree_to_json,
)

S, D, L = T.StringType(), T.DoubleType(), T.LongType()


def _struct(fields):
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


# The round-1 slim tree layout: operators must keep serving trees that
# carry only this subset (schema tolerance — absent fields → typed NULL).
SLIM_ORIGIN = _struct(
    [("resource_id", S), ("time", L), ("latitude", D), ("longitude", D), ("depth", D)]
)
SLIM_MAG = _struct(
    [("resource_id", S), ("mag", D), ("magnitude_type", S), ("origin_id", S)]
)
SLIM_PICK = _struct(
    [
        ("resource_id", S), ("time", L), ("phase_hint", S),
        ("evaluation_status", S), ("network", S), ("station", S),
        ("location", S), ("channel", S),
    ]
)
SLIM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", S, False),
        T.StructField("event_description", S, True),
        T.StructField("preferred_origin_id", S, True),
        T.StructField("preferred_magnitude_id", S, True),
        T.StructField("creation_time", L, True),
        T.StructField("origins", T.ArrayType(SLIM_ORIGIN), True),
        T.StructField("magnitudes", T.ArrayType(SLIM_MAG), True),
        T.StructField("picks", T.ArrayType(SLIM_PICK), True),
    ]
)


def _pick(rid, t, phase, status="reviewed", sta="STA1"):
    return (rid, t, phase, status, "UU", sta, "", "HHZ")


@pytest.fixture(scope="module")
def tree(spark):
    rows = [
        # e1: preferred origin is the FIRST one; preferred magnitude missing
        # → falls back to last magnitude in list
        (
            "e1",
            "quarry blast",
            "o1",
            "mX",  # not present → fallback to last
            1000,
            [("o1", 100, 40.0, -111.0, 5.0), ("o2", 200, 41.0, -112.0, 6.0)],
            [("m1", 2.0, "ML", "o1"), ("m2", 2.5, "MW", "o2"), ("m3", 2.2, "ML", "o1")],
            [
                _pick("p1", 110, "P"),
                _pick("p2", 120, "S"),
                _pick("p3", 130, "P", status="rejected"),
                _pick("p4", 140, "P", sta="STA2"),
            ],
        ),
        # e2: no preferred ids at all → last origin, last magnitude
        (
            "e2",
            "",
            None,
            None,
            2000,
            [("o3", 300, 42.0, -113.0, 7.0)],
            [("m4", 3.0, "MD", "o3")],
            [_pick("p5", 310, "P")],
        ),
        # e3: empty lists → all nulls
        ("e3", "", None, None, 3000, [], [], []),
    ]
    return spark.createDataFrame(rows, SLIM_SCHEMA)


def test_preferred_chain(tree):
    out = {r.event_id: r for r in events_to_df(tree).collect()}
    # e1: preferred origin o1 honored (not last)
    assert out["e1"].time == 100 and out["e1"].latitude == 40.0
    # e1: preferred magnitude id missing → LAST magnitude m3 (2.2), not max
    assert out["e1"].magnitude == 2.2 and out["e1"].magnitude_type == "ML"
    # e2: no preferred → last-in-list
    assert out["e2"].time == 300 and out["e2"].magnitude == 3.0
    # e3: empty → null magnitude; time falls back to earliest pick (none)
    assert out["e3"].time is None and out["e3"].magnitude is None
    # slim tree: full-schema-only columns come back as typed NULLs
    assert out["e1"].horizontal_uncertainty is None
    assert out["e1"].author is None and out["e1"].version is None


def test_events_to_df_has_event_dtypes_columns(tree):
    # EVENT_DTYPES parity (constants.py:81-109): all 27 columns present
    cols = events_to_df(tree).columns
    expected = [
        "time", "latitude", "longitude", "depth", "magnitude",
        "event_description", "associated_phase_count", "azimuthal_gap",
        "event_id", "horizontal_uncertainty", "local_magnitude",
        "moment_magnitude", "duration_magnitude", "magnitude_type",
        "p_phase_count", "s_phase_count", "p_pick_count", "s_pick_count",
        "standard_error", "used_phase_count", "station_count",
        "vertical_uncertainty", "updated", "author", "agency_id",
        "creation_time", "version",
    ]
    assert cols == expected


def test_origin_quality_counts(tree):
    q = {r.event_id: r for r in origin_quality(tree).collect()}
    # e1: P picks p1, p4 (p3 rejected); one S pick; stations STA1, STA2
    assert q["e1"].p_pick_count == 2
    assert q["e1"].s_pick_count == 1
    assert q["e1"].station_count == 2
    # empty-pick events are dropped (explode/groupBy contract preserved)
    assert "e3" not in q


def test_events_to_df_pick_counts_and_fallbacks(tree):
    out = {r.event_id: r for r in events_to_df(tree).collect()}
    assert out["e1"].p_pick_count == 2 and out["e1"].s_pick_count == 1
    # slim tree has no arrivals → phase counts 0; used falls back to p+s=0
    # then quality-or default keeps the fallback (0)
    assert out["e1"].p_phase_count == 0
    assert out["e1"].used_phase_count == 0
    # local/moment/duration magnitudes: last-of-type in document order
    assert out["e1"].local_magnitude == 2.2
    assert out["e1"].moment_magnitude == 2.5
    assert out["e1"].duration_magnitude is None


def test_picks_explode_view(tree):
    p = picks_to_df(tree).collect()
    by_ev = {}
    for r in p:
        by_ev.setdefault(r.event_id, []).append(r)
    assert len(by_ev["e1"]) == 4
    # denormalized parent origin time flows to each pick row
    assert all(r.event_time == 100 for r in by_ev["e1"])
    assert by_ev["e1"][0].seed_id.startswith("UU.STA")
    # explode_outer keeps empty-list events as one null row
    assert len(by_ev["e3"]) == 1 and by_ev["e3"][0].resource_id is None
    # slim tree: full-schema pick fields come back as typed NULLs
    assert by_ev["e1"][0].onset is None and by_ev["e1"][0].polarity is None


def test_last_magnitude_per_type(tree):
    out = {r.event_id: r for r in last_magnitude_per_type(tree).collect()}
    # e1 has two MLs (2.0 then 2.2) → last one wins
    assert out["e1"].local_magnitude == 2.2
    assert out["e1"].moment_magnitude == 2.5
    assert out["e1"].duration_magnitude is None
    assert out["e2"].duration_magnitude == 3.0


def test_first_pick_origins(tree):
    out = {r.event_id: r.first_pick_time for r in first_pick_origins(tree).collect()}
    assert out["e1"] == 110 and out["e2"] == 310
    assert "e3" not in out


def test_json_roundtrip(tree):
    js = tree_to_json(tree)
    back = json_to_tree(js)
    # slim JSON loads into the FULL schema: carried fields round-trip,
    # absent ones are NULL
    a = {r.event_id: r for r in tree.collect()}
    b = {r.event_id: r for r in back.collect()}
    assert set(a) == set(b)
    for eid, orig in a.items():
        got = b[eid]
        assert got.event_description == orig.event_description
        assert got.creation_time == orig.creation_time
        assert len(got.origins or []) == len(orig.origins or [])
        if orig.origins:
            assert got.origins[0].resource_id == orig.origins[0].resource_id
            assert got.origins[0].time == orig.origins[0].time
            assert got.origins[0].quality is None  # slim → null fill
        assert got.author is None and got.amplitudes is None


def test_magnitudes_view(tree):
    m = magnitudes_to_df(tree).filter("event_id = 'e1'").collect()
    assert [r.mag for r in m] == [2.0, 2.5, 2.2]
    # slim tree: v2 magnitude fields null-filled
    assert all(r.evaluation_mode is None for r in m)


# ---------------------------------------------------------------------------
# full-schema tree: sub-entity tables + quality semantics
# ---------------------------------------------------------------------------


def _full_pick(rid, t, phase, sta, status=None):
    return {
        "resource_id": rid, "time": t, "phase_hint": phase,
        "evaluation_status": status, "network": "UU", "station": sta,
        "location": "", "channel": "HHZ", "onset": "impulsive",
        "polarity": "positive", "evaluation_mode": "manual",
        "creation_time": t + 1, "author": "an", "agency_id": "AG",
        "uncertainty": 0.1,
    }


def _arrival(rid, pick_id, phase, t):
    return {
        "resource_id": rid, "pick_id": pick_id, "phase": phase,
        "azimuth": 10.0, "distance": 1.5, "time_residual": 0.02,
        "time_weight": 1.0, "creation_time": t + 2, "network": "UU",
        "station": "STA1", "location": "", "channel": "HHZ",
    }


@pytest.fixture(scope="module")
def full_tree(spark):
    rows = [
        {
            "event_id": "f1",
            "event_description": "main",
            "preferred_origin_id": "o1",
            "preferred_magnitude_id": "m1",
            "preferred_focal_mechanism_id": "fmX",  # absent → fallback last
            "creation_time": 5000,
            "author": "alice",
            "agency_id": "AGY",
            "version": "v2",
            "origins": [
                {
                    "resource_id": "o1", "time": 100, "latitude": 40.0,
                    "longitude": -111.0, "depth": 5.0,
                    # used_phase_count=0 → python-or fallback to p+s phases
                    "quality": {
                        "associated_phase_count": 7, "used_phase_count": 0,
                        "standard_error": 0.3, "azimuthal_gap": 120.0,
                    },
                    "horizontal_uncertainty": 2.5,
                    "vertical_uncertainty": 1.25,
                    "arrivals": [
                        _arrival("a1", "p1", "P", 110),
                        _arrival("a2", "p2", "S", 120),
                    ],
                    "creation_time": 4000,
                }
            ],
            "magnitudes": [
                {
                    "resource_id": "m1", "mag": 2.0, "magnitude_type": "ML",
                    "origin_id": "o1", "station_count": 5.0,
                    "creation_time": 4500,
                },
                {
                    "resource_id": "m2", "mag": 2.5, "magnitude_type": "MW",
                    "origin_id": "o1", "creation_time": 9999,
                },
            ],
            "picks": [
                _full_pick("p1", 110, "P", "STA1"),
                _full_pick("p2", 120, "S", "STA1"),
                _full_pick("p3", 130, "P", "STA2", status="rejected"),
            ],
            "amplitudes": [
                {
                    "resource_id": "amp1", "generic_amplitude": 1.5e-6,
                    "type": "A", "unit": "m/s", "magnitude_hint": "ML",
                    "period": 0.2, "snr": 12.0, "pick_id": "p1",
                    "reference": 111, "time_begin": 0.0, "time_end": 2.0,
                    "scaling_time": 111, "creation_time": 4600,
                    "network": "UU", "station": "STA1", "location": "",
                    "channel": "HHZ", "uncertainty": 1e-7,
                }
            ],
            "station_magnitudes": [
                {
                    "resource_id": "sm1", "mag": 2.1,
                    "station_magnitude_type": "ML", "amplitude_id": "amp1",
                    "magnitude_id": "m1", "origin_id": "o1",
                    "creation_time": 4700, "network": "UU",
                    "station": "STA1", "location": "", "channel": "HHZ",
                }
            ],
            "focal_mechanisms": [
                {
                    "resource_id": "fm1", "strike_1": 30.0, "dip_1": 60.0,
                    "rake_1": -90.0, "strike_2": 210.0, "dip_2": 30.0,
                    "rake_2": -90.0, "azimuthal_gap": 45.0,
                    "station_polarity_count": 12, "misfit": 0.15,
                    "scalar_moment": 1.2e15, "creation_time": 4800,
                },
            ],
        }
    ]
    return spark.createDataFrame(rows, NESTED_EVENT_SCHEMA)


def test_full_events_to_df(full_tree):
    r = events_to_df(full_tree).collect()[0]
    assert r.event_id == "f1" and r.time == 100
    assert r.magnitude == 2.0 and r.magnitude_type == "ML"
    # quality-or: associated carried (7), used 0 → fallback p+s arrivals = 2
    assert r.associated_phase_count == 7
    assert r.used_phase_count == 2
    assert r.standard_error == 0.3 and r.azimuthal_gap == 120.0
    assert r.horizontal_uncertainty == 2.5 and r.vertical_uncertainty == 1.25
    # phase counts from preferred-origin arrivals, pick counts from picks
    assert r.p_phase_count == 1 and r.s_phase_count == 1
    assert r.p_pick_count == 1 and r.s_pick_count == 1  # p3 rejected
    # station_count: arrival-linked picks only (p1,p2 → STA1)
    assert r.station_count == 1
    # updated = max creation_time anywhere in the tree (m2 @ 9999)
    assert r.updated == 9999
    assert r.author == "alice" and r.agency_id == "AGY" and r.version == "v2"
    assert r.local_magnitude == 2.0 and r.moment_magnitude == 2.5


def test_amplitudes_to_df(full_tree):
    rows = amplitudes_to_df(full_tree).collect()
    assert len(rows) == 1
    a = rows[0]
    assert a.event_id == "f1" and a.event_time == 100
    assert a.resource_id == "amp1" and a.generic_amplitude == 1.5e-6
    assert a.unit == "m/s" and a.pick_id == "p1"
    assert a.reference == 111 and a.time_end == 2.0
    assert a.seed_id == "UU.STA1..HHZ"


def test_arrivals_to_df(full_tree):
    rows = arrivals_to_df(full_tree).collect()
    assert len(rows) == 2
    by_id = {r.resource_id: r for r in rows}
    assert by_id["a1"].origin_id == "o1" and by_id["a1"].origin_time == 100
    assert by_id["a1"].phase == "P" and by_id["a2"].phase == "S"
    assert by_id["a1"].pick_id == "p1"
    assert by_id["a1"].seed_id == "UU.STA1..HHZ"


def test_arrivals_preferred_origin_only(spark, full_tree):
    # move preference to an origin with no arrivals → no rows
    import pyspark.sql.functions as F

    t2 = full_tree.withColumn("preferred_origin_id", F.lit("missing")).withColumn(
        "origins",
        F.expr(
            "transform(origins, o -> named_struct("
            "'resource_id', o.resource_id, 'time', o.time,"
            "'latitude', o.latitude, 'longitude', o.longitude,"
            "'depth', o.depth, 'quality', o.quality,"
            "'horizontal_uncertainty', o.horizontal_uncertainty,"
            "'vertical_uncertainty', o.vertical_uncertainty,"
            "'arrivals', cast(array() as array<struct<resource_id: string,"
            " pick_id: string, phase: string, time_correction: double,"
            " azimuth: double, distance: double, takeoff_angle: double,"
            " time_residual: double, horizontal_slowness_residual: double,"
            " backazimuth_residual: double, time_weight: double,"
            " horizontal_slowness_weight: double, backazimuth_weight: double,"
            " earth_model_id: string, creation_time: bigint, author: string,"
            " agency_id: string, network: string, station: string,"
            " location: string, channel: string>>),"
            "'creation_time', o.creation_time, 'author', o.author,"
            "'agency_id', o.agency_id))"
        ),
    )
    assert arrivals_to_df(t2).count() == 0


def test_station_magnitudes_to_df(full_tree):
    rows = station_magnitudes_to_df(full_tree).collect()
    assert len(rows) == 1
    sm = rows[0]
    assert sm.mag == 2.1 and sm.amplitude_id == "amp1"
    assert sm.origin_id == "o1" and sm.station_magnitude_type == "ML"
    # magnitude_id is carried in the struct but excluded from the output
    # column set (STATION_MAGNITUDE_COLUMNS, constants.py:228-231)
    assert "magnitude_id" not in station_magnitudes_to_df(full_tree).columns


def test_focal_mechanisms_to_df(full_tree):
    rows = focal_mechanisms_to_df(full_tree).collect()
    assert len(rows) == 1
    fm = rows[0]
    assert fm.strike_1 == 30.0 and fm.dip_1 == 60.0
    assert fm.station_polarity_count == 12 and fm.scalar_moment == 1.2e15


def test_preferred_focal_mechanism_fallback(full_tree):
    from obsplus_spark.operators.event_tree import preferred

    got = full_tree.select(
        preferred("focal_mechanisms", "preferred_focal_mechanism_id")[
            "resource_id"
        ].alias("rid")
    ).collect()[0]
    # preferred id 'fmX' not in list → fallback to LAST mechanism
    assert got.rid == "fm1"


def test_full_json_roundtrip(full_tree):
    back = json_to_tree(tree_to_json(full_tree))
    a, b = full_tree.collect()[0], back.collect()[0]
    assert a == b


def test_sub_entity_empty_on_slim_tree(tree):
    # slim tree lacks amplitudes/station_magnitudes columns entirely —
    # extractors yield empty frames with the full column set, not errors
    assert amplitudes_to_df(tree).count() == 0
    assert station_magnitudes_to_df(tree).count() == 0
    assert arrivals_to_df(tree).count() == 0
    assert focal_mechanisms_to_df(tree).count() == 0


def test_events_to_df_null_station_not_counted(spark):
    """Regression (r6 review): a pick without a waveformID (station NULL
    — common in real QuakeML) must not count as a distinct station."""
    from obsplus_spark.operators.event_tree import (
        events_to_df, origin_quality,
    )

    tree = spark.createDataFrame(
        [
            (
                "ev1",
                [
                    {"resource_id": "p1", "time": 100, "phase_hint": "P",
                     "evaluation_status": None, "station": None},
                    {"resource_id": "p2", "time": 200, "phase_hint": "S",
                     "evaluation_status": None, "station": "STA1"},
                ],
            )
        ],
        "event_id string, picks array<struct<resource_id string, "
        "time long, phase_hint string, evaluation_status string, "
        "station string>>",
    )
    q = origin_quality(tree).collect()[0]
    assert q["station_count"] == 1 and q["stations"] == ["STA1"]
    wide = events_to_df(tree).collect()[0]
    # station_count in events_to_df counts arrival-LINKED picks only;
    # with no origins/arrivals it is 0 — but must not crash and must not
    # count the NULL
    assert wide["station_count"] == 0


def test_events_to_df_intermediate_schema_tolerated(spark):
    """Regression (r6 review): element structs carrying a SUBSET of the
    canonical fields (an older dump generation) must flatten, not fail
    analysis with FIELD_NOT_FOUND."""
    from obsplus_spark.operators.event_tree import (
        events_to_df, last_magnitude_per_type,
    )

    tree = spark.createDataFrame(
        [
            (
                "ev1",
                [{"resource_id": "m1", "mag": 3.5}],
                [{"resource_id": "p1", "time": 100}],
            )
        ],
        "event_id string, "
        "magnitudes array<struct<resource_id string, mag double>>, "
        "picks array<struct<resource_id string, time long>>",
    )
    row = events_to_df(tree).collect()[0]
    # no magnitude_type field -> typeless magnitudes match no ML/MW/MD
    assert row["local_magnitude"] is None
    # no phase_hint -> zero phase counts; no station -> zero stations
    assert row["p_pick_count"] == 0 and row["station_count"] == 0
    lm = last_magnitude_per_type(tree).collect()
    assert lm == []  # nothing typed -> no row


def test_canonical_docs_string_ids(spark):
    """Regression (r6 review): the min-id tie-break must work for string
    doc ids (the previous max_by(id, struct(q, -id)) negated the id)."""
    from obsplus_spark.operators.dedup import canonical_docs

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id1 string, id2 string"
    )
    docs = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("c", 1.0)], "doc_id string, quality double"
    )
    rows = canonical_docs(pairs, docs).collect()
    assert len(rows) == 1
    assert rows[0]["canonical_id"] == "a"  # equal quality -> smallest id


def test_reference_time_tolerates_timeless_picks(spark):
    """Regression (r6 review): a pick struct without `time` (or origins
    without `resource_id`) must not fail analysis in _reference_time /
    the sub-entity flattens."""
    from obsplus_spark.operators.event_tree import (
        events_to_df, picks_to_df,
    )

    tree = spark.createDataFrame(
        [("ev1", [{"phase_hint": "P"}], [{"time": 5}])],
        "event_id string, picks array<struct<phase_hint string>>, "
        "origins array<struct<time long>>",
    )
    row = events_to_df(tree).collect()[0]
    # origins lack resource_id -> preferred falls back to last element
    assert row["time"] == 5
    pk = picks_to_df(tree).collect()[0]
    assert pk["event_time"] == 5 and pk["time"] is None


def test_flat_extractors_first_build_budget(py4j_commands, full_tree):
    """Every flat extractor builds its plan from SQL text in a few py4j
    round trips on the FIRST call for a schema, so nothing is worth
    caching per schema (building the same projections from Column trees
    sent over a thousand for ``events_to_df``)."""
    from pyspark.sql import functions as F

    from obsplus_spark.operators import event_tree

    for name in (
        "events_to_df", "picks_to_df", "amplitudes_to_df",
        "station_magnitudes_to_df", "arrivals_to_df", "magnitudes_to_df",
        "focal_mechanisms_to_df", "origin_quality", "first_pick_origins",
        "last_magnitude_per_type",
    ):
        # a schema no other test flattens: one extra column per extractor
        batch = full_tree.withColumn(f"batch_{name}", F.lit(1))
        extract = getattr(event_tree, name)
        _, sent = py4j_commands(lambda: extract(batch))
        assert sent <= 60, f"{name} sent {sent} commands on its first build"


def test_events_to_df_subset_schema_after_full(spark, tree, full_tree):
    """A subset-schema tree flattened after a full one in the same session
    gets its own projection: typed NULLs for the fields it lacks, the
    full tree's column types."""
    full = events_to_df(full_tree)
    slim = events_to_df(tree)
    assert slim.dtypes == full.dtypes
    out = {r.event_id: r for r in slim.collect()}
    assert out["e1"].time == 100 and out["e1"].magnitude == 2.2
    for col in ("horizontal_uncertainty", "vertical_uncertainty",
                "standard_error", "author", "agency_id", "version"):
        assert out["e1"][col] is None, col
    assert events_to_df(full_tree).collect()[0].author == "alice"
