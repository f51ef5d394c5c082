"""Validation rules + catalog surgery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from obsplus_spark.operators.surgery import (
    dedup_channels,
    merge_new_picks,
    prune_rejected,
    bump_version,
)
from obsplus_spark.operators.validate import validate

PICK_COLS = (
    "event_id string, resource_id string, time long, phase_hint string, "
    "evaluation_status string, network string, station string, "
    "location string, channel string"
)


@pytest.fixture(scope="module")
def picks(spark):
    rows = [
        # e1/STA1: duplicate P (two non-rejected P at same NSL)
        ("e1", "p1", 100, "P", "reviewed", "UU", "STA1", "", "HHZ"),
        ("e1", "p2", 105, "P", "reviewed", "UU", "STA1", "", "HHN"),
        # e1/STA2: S before P → violation
        ("e1", "p3", 200, "P", "reviewed", "UU", "STA2", "", "HHZ"),
        ("e1", "p4", 150, "S", "reviewed", "UU", "STA2", "", "HHZ"),
        # e2: clean station; rejected duplicate doesn't count
        ("e2", "p5", 300, "P", "reviewed", "UU", "STA1", "", "HHZ"),
        ("e2", "p6", 301, "P", "rejected", "UU", "STA1", "", "HHZ"),
        ("e2", "p7", 350, "S", "reviewed", "UU", "STA1", "", "HHZ"),
        # e3: P far from median → outlier with limit 50
        ("e3", "p8", 1000, "P", "reviewed", "UU", "STA1", "", "HHZ"),
        ("e3", "p9", 1010, "P", "reviewed", "UU", "STA2", "", "HHZ"),
        ("e3", "p10", 5000, "P", "reviewed", "UU", "STA3", "", "HHZ"),
    ]
    return spark.createDataFrame(rows, PICK_COLS)


def test_validate_report(spark, picks):
    arrivals = spark.createDataFrame(
        [("e1", "a1", "p1"), ("e1", "a2", "p_missing")],
        "event_id string, resource_id string, pick_id string",
    )
    report = validate(picks, arrivals, p_outlier_limit_ns=50).collect()
    rules = {}
    for r in report:
        rules.setdefault(r.rule, []).append(r)
    assert len(rules["duplicate_picks"]) == 1  # e1 STA1 double-P
    assert len(rules["s_before_p"]) == 1       # e1 STA2
    assert len(rules["orphan_arrival"]) == 1   # p_missing
    # e1 median P = 105 → p3 at 200 is an outlier; e3 median = 1010 → p10
    import json

    outlier_ids = {
        json.loads(r.detail)["resource_id"] for r in rules["p_outlier"]
    }
    assert outlier_ids == {"p3", "p10"}


AMP_COLS = (
    "event_id string, network string, station string, location string, "
    "channel string, generic_amplitude double, filter_id string, "
    "pick_id string, evaluation_status string, has_time_window boolean, "
    "reference_time long"
)


@pytest.fixture(scope="module")
def amps(spark):
    rows = [
        # a1: over limit, good filter, tw matches pick p1 → only amp_above_limit
        ("e1", "UU", "STA1", "", "HHN", 9.0, "f0", "p1", None, True, 100),
        # a2: under limit, bad filter, tw reference off by 1 → filter + time
        ("e1", "UU", "STA2", "", "HHN", 1.0, "f9", "p3", None, True, 201),
        # a3: rejected → skipped by time rule even though reference is null
        ("e2", "UU", "STA1", "", "HHN", 1.0, "f0", "p5", "rejected", True, None),
        # a4: no time window → time rule skips; null filter → filter violation
        ("e2", "UU", "STA1", "", "HHE", 1.0, None, "p7", None, False, None),
        # a5: orphan pick reference with a time window → time violation
        ("e3", "UU", "STA3", "", "HHN", 1.0, "f1", "p_missing", None, True, 500),
    ]
    return spark.createDataFrame(rows, AMP_COLS)


def test_amp_limits(spark, amps):
    from obsplus_spark.operators.validate import amp_limits

    rows = amp_limits(amps, amp_lim=5.0).collect()
    assert len(rows) == 1 and rows[0].event_id == "e1"


def test_amp_filter_ids(spark, amps):
    from obsplus_spark.operators.validate import amp_filter_ids

    rows = amp_filter_ids(amps, ["f0", "f1"]).collect()
    # a2 (f9) and a4 (null filter_id)
    assert sorted(r.event_id for r in rows) == ["e1", "e2"]
    # empty allow-set mirrors the reference's early return: no-op
    assert amp_filter_ids(amps, []).count() == 0
    # a bare string is one id, not a per-character allow set
    # (reference iterate() wraps lone strings, utils/misc.py:277)
    import json

    only_f0 = amp_filter_ids(amps, "f0").collect()
    assert sorted(
        json.loads(r.detail).get("filter_id") or "null" for r in only_f0
    ) == ["f1", "f9", "null"]


def test_amp_times_contain_pick_time(spark, picks, amps):
    import json

    from obsplus_spark.operators.validate import amp_times_contain_pick_time

    rows = amp_times_contain_pick_time(amps, picks).collect()
    bad = {json.loads(r.detail)["pick_id"] for r in rows}
    # a1 matches p1@100 exactly → clean; a3 rejected, a4 no window → skipped
    assert bad == {"p3", "p_missing"}


def test_amps_on_z_component(spark):
    from obsplus_spark.operators.validate import amps_on_z_component

    picks = spark.createDataFrame(
        [
            ("e1", "p1", 100, "AML", None, "UU", "S1", "", "HHZ"),
            ("e1", "p2", 100, "IAML", "rejected", "UU", "S1", "", "HHZ"),
            ("e1", "p3", 100, "AML", None, "UU", "S1", "", "HHN"),
            ("e1", "p4", 100, "P", None, "UU", "S1", "", "HHZ"),
        ],
        PICK_COLS,
    )
    rows = amps_on_z_component(picks).collect()
    assert len(rows) == 1  # only p1: non-rejected amp phase on *Z


def test_validate_with_amplitude_rules(spark, picks, amps):
    report = validate(
        picks,
        amplitudes=amps,
        amp_lim=5.0,
        amp_filter_id_set=["f0", "f1"],
        no_z_amps=True,
    )
    rules = {r.rule for r in report.collect()}
    assert {"amp_above_limit", "amp_bad_filter", "amp_time_mismatch"} <= rules


def test_validate_clean_is_empty(spark):
    clean = spark.createDataFrame(
        [("e1", "p1", 100, "P", "reviewed", "UU", "S1", "", "HHZ"),
         ("e1", "p2", 150, "S", "reviewed", "UU", "S1", "", "HHZ")],
        PICK_COLS,
    )
    assert validate(clean).count() == 0


def test_merge_new_picks(spark):
    target = spark.createDataFrame(
        [("e1", "p1", 100, "P", "reviewed", "UU", "S1", "", "HHZ")], PICK_COLS
    )
    incoming = spark.createDataFrame(
        [
            # same station/channel/phase → NOT appended (already present)
            ("e1", "p1b", 101, "P", "reviewed", "UU", "S1", "", "HHZ"),
            # new phase at same station → appended
            ("e1", "p2", 150, "S", "reviewed", "UU", "S1", "", "HHZ"),
        ],
        PICK_COLS,
    )
    out = merge_new_picks(target, incoming)
    assert {r.resource_id for r in out.collect()} == {"p1", "p2"}


def test_prune_rejected_transitive(spark):
    nodes = spark.createDataFrame(
        [
            ("root", "reviewed"),
            ("origin1", "rejected"),
            ("arrival1", "reviewed"),   # child of rejected origin → pruned
            ("origin2", "reviewed"),
            ("arrival2", "reviewed"),
        ],
        "resource_id string, evaluation_status string",
    )
    edges = spark.createDataFrame(
        [
            ("root", "origin1"),
            ("origin1", "arrival1"),
            ("root", "origin2"),
            ("origin2", "arrival2"),
        ],
        "parent string, child string",
    )
    out = {r.resource_id for r in prune_rejected(nodes, edges).collect()}
    assert out == {"root", "origin2", "arrival2"}


def _reachable_live(nodes, edges):
    """Python fixed point of the prune: live roots (no incoming edge),
    then children of alive nodes that are themselves live, until no
    round adds a node."""
    live = {n for n, st in nodes if st != "rejected"}
    has_parent = {c for _, c in edges}
    alive = live - has_parent
    while True:
        nxt = alive | {c for p, c in edges if p in alive and c in live}
        if nxt == alive:
            return alive
        alive = nxt


def test_prune_rejected_dag_matches_reachability(spark):
    """Multi-parent children (assume_forest=False): a child with one
    rejected and one live parent survives; a child reachable only
    through a rejected node is pruned, transitively; a child reached
    via two live parents appears once."""
    nodes = [
        ("r1", None), ("r2", "rejected"), ("r3", "reviewed"),
        ("x", "reviewed"),    # parents r1 (live) + r2 (rejected) -> kept
        ("y", None),          # parent r2 only -> pruned
        ("w", "reviewed"),    # parent y only -> pruned transitively
        ("v", None),          # parent r3 -> kept
        ("z", "reviewed"),    # parents x + v, both live -> kept once
        ("q", "rejected"),    # rejected child of live r3
        ("q1", None),         # parent q only -> pruned
        ("q2", None),         # parents q + z -> kept
    ]
    edges = [
        ("r1", "x"), ("r2", "x"), ("r2", "y"), ("y", "w"), ("r3", "v"),
        ("x", "z"), ("v", "z"), ("r3", "q"), ("q", "q1"), ("q", "q2"),
        ("z", "q2"),
    ]
    ndf = spark.createDataFrame(
        nodes, "resource_id string, evaluation_status string"
    )
    edf = spark.createDataFrame(edges, "parent string, child string")
    got = [
        r.resource_id
        for r in prune_rejected(ndf, edf, assume_forest=False).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == _reachable_live(nodes, edges)
    assert set(got) == {"r1", "r3", "x", "v", "z", "q2"}


def test_prune_rejected_forest_ids_only_matches_reachability(spark):
    """The declared query's flags: a depth-2 ownership forest,
    assume_forest=True, ids_only=True, max_iterations=2 — the surviving
    id set, one row per id, and no payload columns."""
    nodes = [
        ("e1", None), ("e2", "rejected"), ("e3", "reviewed"),
        ("o1", None), ("o2", "rejected"), ("o3", None), ("o4", None),
        ("a1", None), ("a2", None), ("a3", "rejected"), ("a4", None),
        ("a5", None),
    ]
    edges = [
        ("e1", "o1"), ("e1", "o2"), ("e2", "o3"), ("e3", "o4"),
        ("o1", "a1"), ("o2", "a2"), ("o3", "a4"), ("o4", "a3"),
        ("o4", "a5"),
    ]
    ndf = spark.createDataFrame(
        nodes, "resource_id string, evaluation_status string"
    )
    edf = spark.createDataFrame(edges, "parent string, child string")
    out = prune_rejected(
        ndf, edf, max_iterations=2, assume_forest=True, ids_only=True
    )
    assert out.columns == ["resource_id"]
    got = [r.resource_id for r in out.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _reachable_live(nodes, edges)
    assert set(got) == {"e1", "e3", "o1", "o4", "a1", "a5"}


def test_bump_version(spark):
    df = spark.createDataFrame([("1",), (None,), ("41",)], ["version"])
    got = sorted(r.version for r in bump_version(df).collect())
    assert got == ["1", "2", "42"]


def test_dedup_channels(spark):
    df = spark.createDataFrame(
        [
            ("UU", "S1", "", "HHZ", 0, 10),
            ("UU", "S1", "", "HHZ", 0, 10),   # exact dup epoch
            ("UU", "S1", "", "HHZ", 10, 20),  # new epoch kept
        ],
        "network string, station string, location string, channel string, "
        "start_date long, end_date long",
    )
    assert dedup_channels(df).count() == 2


def test_merge_events_picks_full(spark):
    """Column-level merge (events/merge.py:66-92): shared key takes
    incoming content but keeps target resource_id + bumps version;
    incoming-only appends; target-only is rejected, not deleted."""
    from obsplus_spark.operators.surgery import merge_events

    cols = (
        "network string, station string, location string, channel string, "
        "phase_hint string, resource_id string, time long, "
        "evaluation_status string, version string"
    )
    target = spark.createDataFrame(
        [
            ("UU", "S1", "", "HHZ", "P", "p1", 100, None, "1"),  # shared, changes
            ("UU", "S2", "", "HHZ", "P", "p2", 200, None, "1"),  # target-only
            ("UU", "S3", "", "HHZ", "P", "p3", 300, None, "3"),  # shared, unchanged
        ],
        cols,
    )
    incoming = spark.createDataFrame(
        [
            ("UU", "S1", "", "HHZ", "P", "p1x", 150, None, None),  # updates p1
            ("UU", "S3", "", "HHZ", "P", "p3x", 300, None, None),  # same content
            ("UU", "S4", "", "HHZ", "S", "p4", 400, None, None),   # new
        ],
        cols,
    )
    merged, _ = merge_events(target, incoming, reject_old=True)
    rows = {r.station + "/" + r.phase_hint: r for r in merged.collect()}
    assert len(rows) == 4
    # shared & changed: target identity, incoming content, version bump
    assert rows["S1/P"].resource_id == "p1"
    assert rows["S1/P"].time == 150
    assert rows["S1/P"].version == "2"
    assert rows["S1/P"].evaluation_status is None
    # target-only: kept but rejected
    assert rows["S2/P"].resource_id == "p2"
    assert rows["S2/P"].evaluation_status == "rejected"
    assert rows["S2/P"].version == "1"
    # shared & unchanged: no version bump
    assert rows["S3/P"].version == "3"
    # incoming-only: appended as-is
    assert rows["S4/S"].resource_id == "p4"
    assert rows["S4/S"].evaluation_status is None


def test_merge_events_amplitudes(spark):
    """Amplitudes key through the pick they reference (merge.py:96-118):
    incoming amp maps via its pick's NSLC+phase hash onto the target amp,
    keeping target pick_id and resource_id."""
    from obsplus_spark.operators.surgery import merge_events

    pick_cols = (
        "network string, station string, location string, channel string, "
        "phase_hint string, resource_id string, time long, "
        "evaluation_status string, version string"
    )
    amp_cols = (
        "resource_id string, pick_id string, generic_amplitude double, "
        "evaluation_status string, version string"
    )
    t_picks = spark.createDataFrame(
        [("UU", "S1", "", "HHZ", "P", "p1", 100, None, "1")], pick_cols
    )
    i_picks = spark.createDataFrame(
        [("UU", "S1", "", "HHZ", "P", "p1x", 150, None, None)], pick_cols
    )
    t_amps = spark.createDataFrame([("a1", "p1", 1.5, None, "1")], amp_cols)
    i_amps = spark.createDataFrame([("a1x", "p1x", 2.5, None, None)], amp_cols)
    _, amps = merge_events(t_picks, i_picks, t_amps, i_amps, reject_old=True)
    row = amps.collect()[0]
    # same physical pick despite different resource ids → content updated,
    # identity (resource_id, pick_id) kept from target
    assert row.resource_id == "a1"
    assert row.pick_id == "p1"
    assert row.generic_amplitude == 2.5
    assert row.version == "2"


def test_duplicate_events_remap(spark):
    """utils/events.py:36-71: all internal ids remapped consistently;
    references follow iff they point at internal objects."""
    from obsplus_spark.operators.event_tree import SLIM_EVENT_SCHEMA
    from obsplus_spark.operators.surgery import duplicate_events

    rows = [
        (
            "e1",
            "desc",
            "o1",              # preferred → internal origin, must follow
            "m_external",      # preferred → NOT an internal magnitude id
            1000,
            [("o1", 100, 40.0, -111.0, 5.0)],
            [("m1", 2.0, "ML", "o1"), ("m2", 2.5, "MW", "o_external")],
            [("p1", 110, "P", None, "UU", "S1", "", "HHZ")],
        ),
    ]
    tree = spark.createDataFrame(rows, SLIM_EVENT_SCHEMA)
    dup = duplicate_events(tree).collect()[0]
    orig = tree.collect()[0]
    # every internal id changed, deterministically
    assert dup.event_id != "e1"
    new_o1 = dup.origins[0].resource_id
    assert new_o1 != "o1"
    # references into the tree follow the remap
    assert dup.preferred_origin_id == new_o1
    assert dup.magnitudes[0].origin_id == new_o1
    # external references pass through unchanged
    assert dup.preferred_magnitude_id == "m_external"
    assert dup.magnitudes[1].origin_id == "o_external"
    # non-id content untouched
    assert dup.picks[0].time == orig.picks[0].time
    assert dup.origins[0].latitude == orig.origins[0].latitude
    # duplicating twice gives the same ids (deterministic generator)
    dup2 = duplicate_events(tree).collect()[0]
    assert dup2.event_id == dup.event_id


def test_validate_rules_on_real_tree_extractors(spark):
    """r6: the amplitude/arrival validate rules consume the REAL
    sub-entity extractors (amplitudes_to_df / arrivals_to_df /
    picks_to_df over a full-schema nested tree), not just fabricated
    flat frames — the column contract lines up end-to-end."""
    from pyspark.sql import functions as F

    from obsplus_spark.operators.event_tree import (
        NESTED_EVENT_SCHEMA,
        amplitudes_to_df,
        arrivals_to_df,
        picks_to_df,
    )
    from obsplus_spark.operators.validate import (
        amp_limits,
        amp_times_contain_pick_time,
        arrivals_reference_picks,
    )

    def pick(rid, t, sta="S1"):
        return {
            "resource_id": rid, "time": t, "phase_hint": "P",
            "network": "UU", "station": sta, "location": "", "channel": "HHZ",
        }

    rows = [
        {
            "event_id": "e1",
            "preferred_origin_id": "o1",
            "origins": [
                {
                    "resource_id": "o1", "time": 100,
                    "arrivals": [
                        {"resource_id": "a1", "pick_id": "p1", "phase": "P"},
                        # orphan: references a pick that does not exist
                        {"resource_id": "a2", "pick_id": "pX", "phase": "S"},
                    ],
                }
            ],
            "picks": [pick("p1", 100), pick("p2", 200, sta="S2")],
            "amplitudes": [
                {
                    "resource_id": "amp1", "generic_amplitude": 5.0,
                    "pick_id": "p1", "reference": 90, "time_begin": 0.0,
                    "time_end": 5.0, "network": "UU", "station": "S1",
                    "location": "", "channel": "HHZ",
                },
                {
                    # above limit AND window [190, 192] misses pick p2@200
                    "resource_id": "amp2", "generic_amplitude": 99.0,
                    "pick_id": "p2", "reference": 190, "time_begin": 0.0,
                    "time_end": 2.0, "network": "UU", "station": "S2",
                    "location": "", "channel": "HHZ",
                },
            ],
        }
    ]
    tree = spark.createDataFrame(rows, NESTED_EVENT_SCHEMA)
    amps = amplitudes_to_df(tree)
    picks = picks_to_df(tree)
    arrivals = arrivals_to_df(tree)

    over = amp_limits(amps, amp_lim=10.0).collect()
    assert len(over) == 1 and '"generic_amplitude":99.0' in over[0].detail

    orphans = arrivals_reference_picks(arrivals, picks).collect()
    assert len(orphans) == 1 and '"pick_id":"pX"' in orphans[0].detail

    # extractor layout feeds the rule directly: amp1 reference 90 vs
    # pick p1@100 -> mismatch; amp2 reference 190 vs p2@200 -> mismatch
    win = amp_times_contain_pick_time(amps, picks).collect()
    assert len(win) == 2
    assert {'"pick_id":"p1"' in r.detail or '"pick_id":"p2"' in r.detail
            for r in win} == {True}


def test_duplicate_events_full_tree_preserves_fields(spark):
    """Regression (r6 review): on a FULL-schema tree the remap must keep
    every non-id field (quality, arrivals, creation info) and remap the
    amplitude/station-magnitude/arrival references too — the old slim
    named_struct rebuild silently dropped them."""
    import pyspark.sql.functions as F

    from obsplus_spark.operators.event_tree import NESTED_EVENT_SCHEMA
    from obsplus_spark.operators.surgery import duplicate_events

    row = {
        "event_id": "e1",
        "preferred_origin_id": "o1",
        "origins": [
            {
                "resource_id": "o1",
                "time": 100,
                "latitude": 1.0,
                "quality": {"used_phase_count": 7},
                "arrivals": [{"resource_id": "ar1", "pick_id": "p1",
                              "phase": "P"}],
            }
        ],
        "magnitudes": [{"resource_id": "m1", "mag": 2.0,
                        "origin_id": "o1"}],
        "picks": [{"resource_id": "p1", "time": 110, "station": "S1"}],
        "amplitudes": [{"resource_id": "a1", "pick_id": "p1",
                        "generic_amplitude": 3.5}],
        "station_magnitudes": [
            {"resource_id": "sm1", "mag": 2.1, "origin_id": "o1",
             "amplitude_id": "a1", "magnitude_id": "m1"}
        ],
    }
    tree = spark.createDataFrame([row], NESTED_EVENT_SCHEMA)
    d = duplicate_events(tree).collect()[0]
    o = d.origins[0]
    # non-id payload preserved
    assert o.quality.used_phase_count == 7 and o.latitude == 1.0
    assert d.amplitudes[0].generic_amplitude == 3.5
    # internal references follow the remap everywhere
    new_p1 = d.picks[0].resource_id
    assert new_p1 != "p1"
    assert o.arrivals[0].pick_id == new_p1
    assert d.amplitudes[0].pick_id == new_p1
    sm = d.station_magnitudes[0]
    assert sm.origin_id == o.resource_id != "o1"
    assert sm.amplitude_id == d.amplitudes[0].resource_id
    assert sm.magnitude_id == d.magnitudes[0].resource_id
