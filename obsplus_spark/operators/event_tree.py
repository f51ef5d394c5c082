"""Nested event trees: the Spark re-expression of the reference's extractor
stack (``structures/dfextractor.py``, ``events/pd.py``, ``events/schema.py``).

The reference walks a QuakeML object tree with per-node extractor callables.
Here the tree is **data, not objects**: one nested StructType column layout
(`Catalog → Event → origins[]/magnitudes[]/picks[]/amplitudes[]/
station_magnitudes[]/focal_mechanisms[]`, with ``arrivals[]`` and quality/
uncertainty nodes nested under each origin — mirror of the pydantic models
at ``events/schema.py:321-609``), and every "extractor" becomes a column
expression over ``explode()`` views — fully Catalyst-visible, no per-row
Python.

All six sub-entity tables of the reference are first-class here
(``constants.py``: EVENT_DTYPES :81-109, PICK_DTYPES :124-150,
AMPLITUDE_DTYPES :172-204, STATION_MAGNITUDE_DTYPES :209-231,
MAGNITUDE_DTYPES :236-257, ARRIVAL_DTYPES :264-289), each produced by a
map-only explode projection with denormalized parent keys — at 100 TB
every flatten is a scan, never a shuffle.

Schema tolerance: operators accept both the full ``NESTED_EVENT_SCHEMA``
and slimmer ad-hoc trees (e.g. test fixtures or JSON round-trips that
carry only a subset of fields). The flat extractors are SQL text built in
Python from ``tree.schema``; :func:`_field` is the one place a field
reference is written, and a field this tree's struct lacks becomes a NULL
literal of the full schema's type at plan time, so one extractor body
serves every tree generation without widening the tree.

Includes the semantics that are easy to get wrong (SURVEY.md §7):
- **preferred-object fallback chain** (``utils/events.py:425-480``):
  preferred id → lookup in list → last element → null. Generalized over
  origins, magnitudes AND focal mechanisms.
- **origin-quality aggregates** (``events/pd.py:73-163``): conditional
  counts with rejected-status exclusion, arrival-linked station counts,
  and the ``value or default`` fallback (zero counts as missing) for
  quality-node numbers.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from obsplus_spark.functions.sqltext import sql_ident, sql_or

S, D, L = T.StringType(), T.DoubleType(), T.LongType()


def _struct(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


#: QuakeML QuantityError tail shared by pick/amplitude/magnitude structs
_ERR = [
    ("uncertainty", D),
    ("lower_uncertainty", D),
    ("upper_uncertainty", D),
    ("confidence_level", D),
]

#: waveform-id (NSLC) tail shared by pick/amplitude/station-magnitude
_NSLC = [("network", S), ("station", S), ("location", S), ("channel", S)]

#: CreationInfo subset carried per object (schema.py CreationInfo)
_CREATION = [("creation_time", L), ("author", S), ("agency_id", S)]

#: OriginQuality node (schema.py:350-365; quality fallback events/pd.py:113)
ORIGIN_QUALITY_STRUCT = _struct(
    [
        ("associated_phase_count", L),
        ("used_phase_count", L),
        ("standard_error", D),
        ("azimuthal_gap", D),
    ]
)

#: Arrival rows live nested under their origin (schema.py Origin.arrivals;
#: ARRIVAL_DTYPES constants.py:264-289 minus denormalized parent keys)
ARRIVAL_STRUCT = _struct(
    [
        ("resource_id", S),
        ("pick_id", S),
        ("phase", S),
        ("time_correction", D),
        ("azimuth", D),
        ("distance", D),
        ("takeoff_angle", D),
        ("time_residual", D),
        ("horizontal_slowness_residual", D),
        ("backazimuth_residual", D),
        ("time_weight", D),
        ("horizontal_slowness_weight", D),
        ("backazimuth_weight", D),
        ("earth_model_id", S),
    ]
    + _CREATION
    + _NSLC
)

ORIGIN_STRUCT = _struct(
    [
        ("resource_id", S),
        ("time", L),  # ns
        ("latitude", D),
        ("longitude", D),
        ("depth", D),
        ("quality", ORIGIN_QUALITY_STRUCT),
        ("horizontal_uncertainty", D),  # origin_uncertainty node, pd.py:125
        ("vertical_uncertainty", D),  # depth_errors.uncertainty, pd.py:133
        ("arrivals", T.ArrayType(ARRIVAL_STRUCT)),
    ]
    + _CREATION
)

MAGNITUDE_STRUCT = _struct(
    [
        ("resource_id", S),
        ("mag", D),
        ("magnitude_type", S),
        ("origin_id", S),
        ("method_id", S),
        ("station_count", D),
        ("azimuthal_gap", D),
        ("evaluation_mode", S),
        ("evaluation_status", S),
    ]
    + _CREATION
    + _ERR
)

PICK_STRUCT = _struct(
    [
        ("resource_id", S),
        ("time", L),
        ("phase_hint", S),
        ("evaluation_status", S),
    ]
    + _NSLC
    + [
        ("onset", S),
        ("polarity", S),
        ("evaluation_mode", S),
        ("filter_id", S),
        ("method_id", S),
        ("horizontal_slowness", D),
        ("backazimuth", D),
    ]
    + _CREATION
    + _ERR
)

#: AMPLITUDE_DTYPES constants.py:172-204 minus denormalized parent keys;
#: time_window flattens to reference/time_begin/time_end (pd.py:417-421)
AMPLITUDE_STRUCT = _struct(
    [
        ("resource_id", S),
        ("generic_amplitude", D),
        ("type", S),
        ("category", S),
        ("unit", S),
        ("magnitude_hint", S),
        ("filter_id", S),
        ("method_id", S),
        ("period", D),
        ("snr", D),
        ("pick_id", S),
        ("reference", L),  # time_window.reference, ns
        ("time_begin", D),
        ("time_end", D),
        # DELIBERATE dtype deviation from reference AMPLITUDE_DTYPES
        # (constants.py:188 declares scaling_time float-seconds): this
        # engine stores ALL absolute timestamps as ns-since-epoch LONG
        # (the house convention of `reference` above and the pick/origin
        # time columns) — exact integer compare/join semantics, no
        # float-epoch precision loss at 2020+ timestamps (float64 has
        # ~0.25 µs granularity there). Consumers wanting the reference's
        # float seconds divide by 1e9 at read-out.
        ("scaling_time", L),
        ("evaluation_mode", S),
        ("evaluation_status", S),
    ]
    + _CREATION
    + _NSLC
    + _ERR
)

#: STATION_MAGNITUDE_DTYPES constants.py:209-231
STATION_MAGNITUDE_STRUCT = _struct(
    [
        ("resource_id", S),
        ("mag", D),
        ("station_magnitude_type", S),
        ("amplitude_id", S),
        ("magnitude_id", S),
        ("origin_id", S),
        ("method_id", S),
    ]
    + _CREATION
    + _NSLC
    + _ERR
)

#: FocalMechanism branch (schema.py:554-570): nodal planes flattened to
#: strike/dip/rake pairs, moment tensor reduced to its scalar moment —
#: the analytic subset; full tensor rows would be a sibling array.
FOCAL_MECHANISM_STRUCT = _struct(
    [
        ("resource_id", S),
        ("triggering_origin_id", S),
        ("strike_1", D),
        ("dip_1", D),
        ("rake_1", D),
        ("strike_2", D),
        ("dip_2", D),
        ("rake_2", D),
        ("azimuthal_gap", D),
        ("station_polarity_count", L),
        ("misfit", D),
        ("station_distribution_ratio", D),
        ("method_id", S),
        ("evaluation_mode", S),
        ("evaluation_status", S),
        ("scalar_moment", D),
        ("moment_magnitude_id", S),
    ]
    + _CREATION
)

#: nested event row (the reference's Event pydantic model, schema.py:584)
NESTED_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", S, False),
        T.StructField("event_description", S, True),
        T.StructField("event_type", S, True),
        T.StructField("preferred_origin_id", S, True),
        T.StructField("preferred_magnitude_id", S, True),
        T.StructField("preferred_focal_mechanism_id", S, True),
        T.StructField("creation_time", L, True),
        T.StructField("author", S, True),
        T.StructField("agency_id", S, True),
        T.StructField("version", S, True),
        T.StructField("origins", T.ArrayType(ORIGIN_STRUCT), True),
        T.StructField("magnitudes", T.ArrayType(MAGNITUDE_STRUCT), True),
        T.StructField("picks", T.ArrayType(PICK_STRUCT), True),
        T.StructField("amplitudes", T.ArrayType(AMPLITUDE_STRUCT), True),
        T.StructField(
            "station_magnitudes", T.ArrayType(STATION_MAGNITUDE_STRUCT), True
        ),
        T.StructField(
            "focal_mechanisms", T.ArrayType(FOCAL_MECHANISM_STRUCT), True
        ),
    ]
)


#: the round-1 minimal tree layout (origins/magnitudes/picks, core fields
#: only) — kept as a public fixture schema: every operator in this module
#: accepts it (schema tolerance) and ``json_to_tree`` upgrades it to the
#: full schema with NULL fill. Useful for tests and ad-hoc tree literals.
SLIM_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", S, False),
        T.StructField("event_description", S, True),
        T.StructField("preferred_origin_id", S, True),
        T.StructField("preferred_magnitude_id", S, True),
        T.StructField("creation_time", L, True),
        T.StructField(
            "origins",
            T.ArrayType(
                _struct(
                    [
                        ("resource_id", S),
                        ("time", L),
                        ("latitude", D),
                        ("longitude", D),
                        ("depth", D),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "magnitudes",
            T.ArrayType(
                _struct(
                    [
                        ("resource_id", S),
                        ("mag", D),
                        ("magnitude_type", S),
                        ("origin_id", S),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "picks",
            T.ArrayType(
                _struct(
                    [
                        ("resource_id", S),
                        ("time", L),
                        ("phase_hint", S),
                        ("evaluation_status", S),
                        ("network", S),
                        ("station", S),
                        ("location", S),
                        ("channel", S),
                    ]
                )
            ),
            True,
        ),
    ]
)


# --------------------------------------------------------------------------
# schema tolerance
# --------------------------------------------------------------------------


class _Ref(NamedTuple):
    """A SQL expression over the tree: its text, its type in THIS tree
    (``None`` when the tree lacks it) and its type in the full schema."""

    sql: str
    have: T.DataType | None
    full: T.DataType


def _root(tree: DataFrame) -> _Ref:
    return _Ref("", tree.schema, NESTED_EVENT_SCHEMA)


def _field(parent: _Ref, name: str) -> _Ref:
    """``parent.name`` (a top-level column when ``parent.sql`` is empty)
    when this tree's struct carries the field, else a NULL of the full
    schema's type — the one place an absent field is decided."""
    full = parent.full[name].dataType
    have = parent.have
    if isinstance(have, T.StructType) and name in have.fieldNames():
        ref = sql_ident(name)
        sql = f"{parent.sql}.{ref}" if parent.sql else ref
        return _Ref(sql, have[name].dataType, full)
    return _Ref(f"CAST(NULL AS {full.simpleString()})", None, full)


def _elements(arr: _Ref, var: str) -> _Ref:
    """The lambda variable ``var`` over the elements of the array ``arr``."""
    have = arr.have.elementType if isinstance(arr.have, T.ArrayType) else None
    return _Ref(var, have, arr.full.elementType)


def _or_empty(arr: _Ref) -> str:
    return f"coalesce({arr.sql}, array())"


def _as(sql: str, name: str) -> str:
    return f"{sql} AS {sql_ident(name)}"


# --------------------------------------------------------------------------
# preferred-object chain
# --------------------------------------------------------------------------


def _preferred_sql(lst: str, preferred_id: str, o_id: str) -> str:
    """The preferred-object fallback chain over the array ``lst``: the
    first element whose id (``o_id``, over the lambda variable ``o``)
    equals ``preferred_id``, else the last element, else NULL."""
    match = f"filter({lst}, o -> {o_id} = {preferred_id})"
    return (
        f"CASE WHEN size({match}) > 0 THEN element_at({match}, 1) "
        f"ELSE CASE WHEN size({lst}) > 0 THEN element_at({lst}, -1) END END"
    )


def preferred(
    list_col: str, preferred_id_col: str, id_field: str = "resource_id"
) -> Column:
    """The preferred-object fallback chain as one expression.

    Mirror of ``utils/events.py:425-480 get_preferred``: (1) the element
    whose id equals the preferred id, else (2) the **last** element of the
    list, else (3) null. Order matters for parity with ``events_to_df``.
    Serves origins, magnitudes and focal mechanisms alike (the reference's
    chain is generic over the ``preferred_{what}_id`` attribute family).
    """
    return F.expr(
        _preferred_sql(
            sql_ident(list_col),
            sql_ident(preferred_id_col),
            sql_ident(f"o.{id_field}"),
        )
    )


def _preferred(ev: _Ref, list_col: str, preferred_id_col: str) -> _Ref:
    """The tree's preferred element of ``list_col``: a missing list reads
    as empty, a missing id on either side matches nothing (last-element
    fallback alone)."""
    lst = _field(ev, list_col)
    o = _elements(lst, "o")
    chain = _preferred_sql(
        _or_empty(lst),
        _field(ev, preferred_id_col).sql,
        _field(o, "resource_id").sql,
    )
    return _Ref(f"({chain})", o.have, o.full)


# --------------------------------------------------------------------------
# event-summary table (EVENT_DTYPES parity)
# --------------------------------------------------------------------------


def _last_mag_of_type(mags: _Ref, mag_type: str) -> str:
    """Last magnitude (document order) whose upper-cased type equals
    ``mag_type`` — events/pd.py:166-175 _get_last_magnitude ('last wins',
    type compared after ``(magnitude_type or '').upper()``)."""
    m = _elements(mags, "m")
    mt = _field(m, "magnitude_type").sql
    typed = f"filter({mags.sql}, m -> upper(coalesce({mt}, '')) = '{mag_type}')"
    last = _Ref(f"element_at({typed}, -1)", m.have, m.full)
    return f"CASE WHEN size({typed}) > 0 THEN {_field(last, 'mag').sql} END"


def _quality_or(quality: _Ref, name: str, default: str) -> str:
    """``getattr(quality, attr, None) or default`` (events/pd.py:113-121):
    the reference treats BOTH null and zero as missing (python ``or``)."""
    v = _field(quality, name).sql
    return f"CASE WHEN ({v} IS NOT NULL) AND ({v} != 0) THEN {v} ELSE {default} END"


def _pick_phase_count(picks: str, p: _Ref, phase: str) -> str:
    """Non-rejected picks with the given phase hint — NULL evaluation
    status COUNTS (events/pd.py:100-108). Shared by ``events_to_df`` and
    ``origin_quality`` so the rejected-status semantics live once."""
    hint = _field(p, "phase_hint").sql
    st = _field(p, "evaluation_status").sql
    return (
        f"size(filter({picks}, {p.sql} -> ({hint} = '{phase}') AND "
        f"(({st} IS NULL) OR ({st} != 'rejected'))))"
    )


def _distinct_stations(picks: str, p: _Ref) -> str:
    """Distinct NON-NULL station codes of a pick array: a pick without a
    waveformID (station NULL — common in real QuakeML) contributes no
    station, matching COUNT(DISTINCT) / collect_set semantics (a bare
    array_distinct(transform(...)) would count NULL as a station)."""
    station = _field(p, "station").sql
    return (
        f"array_distinct(filter(transform({picks}, {p.sql} -> {station}), "
        "s -> s IS NOT NULL))"
    )


def _reference_time(ev: _Ref, origin: _Ref) -> str:
    """Event reference time: the preferred ``origin``'s time, else the
    earliest pick (utils/time.py get_reference_time)."""
    picks = _field(ev, "picks")
    p = _elements(picks, "p")
    time = _field(p, "time").sql
    first_pick = f"array_min(transform({_or_empty(picks)}, p -> {time}))"
    return f"coalesce({_field(origin, 'time').sql}, {first_pick})"


def events_to_df(tree: DataFrame) -> DataFrame:
    """Flatten nested events into the 27-column event-summary table
    (EVENT_DTYPES, constants.py:81-109) — the Spark twin of
    ``events/pd.py events_to_df`` over the extractor registry.

    Everything is computed **in-row** over the nested arrays (preferred
    chain, conditional pick/arrival counts, distinct station sets, the
    whole-tree ``updated`` max) — a map-only projection with zero
    shuffles, which is the plan you want when flattening 10^11 events.

    Semantics mirrored from the reference extractor set:
    - ``p_pick_count``/``s_pick_count``: event picks of that phase whose
      ``evaluation_status != 'rejected'`` — with python ``!=`` null
      semantics, so null status COUNTS (pd.py:91-98).
    - ``p_phase_count``/``s_phase_count``: arrivals of the preferred
      origin by phase (pd.py:100-108).
    - ``used_phase_count``/``associated_phase_count``/``standard_error``/
      ``azimuthal_gap``: quality-node value ``or`` fallback — zero counts
      as missing (pd.py:113-121); used falls back to p+s phase counts.
    - ``station_count``: distinct station codes of the picks referenced
      by the preferred origin's arrivals (pd.py:139-151).
    - ``local/moment/duration_magnitude``: last magnitude of type
      ML/MW/MD in document order (pd.py:166-175, map constants.py:493).
    - ``updated``: max creation_time across every object in the tree
      (pd.py:219-223 _get_update_time over CreationInfo instances).
    - ``time``: preferred-origin time, falling back to the earliest pick
      (utils/time.py get_reference_time fallback order).

    Both projections are SQL text built from ``tree.schema`` in Python and
    applied with one ``selectExpr`` each, so a call costs a few py4j round
    trips whatever the schema.
    """
    ev = _root(tree)
    po = _preferred(ev, "origins", "preferred_origin_id")
    pm = _preferred(ev, "magnitudes", "preferred_magnitude_id")
    # the preferred structs are STAGED as real columns: ~10 output
    # columns reference them, and interpreted higher-order filter chains
    # are not CSE'd — unstaged, the preferred-origin filter re-evaluates
    # once per referencing column per row (CollapseProject keeps the two
    # projections apart because the aliases are non-cheap and multiply
    # referenced)
    staged = tree.selectExpr("*", _as(po.sql, "_po"), _as(pm.sql, "_pm"))
    o, m = po._replace(sql="_po"), pm._replace(sql="_pm")

    def of(name: str) -> str:
        return _field(o, name).sql

    quality = _field(o, "quality")
    arrivals = _field(o, "arrivals")
    a = _elements(arrivals, "a")
    picks = _field(ev, "picks")
    p = _elements(picks, "p")
    arrs, pks = _or_empty(arrivals), _or_empty(picks)

    def phase_count(phase: str) -> str:
        # unspecified phases are not counted (pd.py:100-108)
        return f"size(filter({arrs}, a -> {_field(a, 'phase').sql} = '{phase}'))"

    p_phase, s_phase = phase_count("P"), phase_count("S")
    arr_pick_ids = f"transform({arrs}, a -> {_field(a, 'pick_id').sql})"
    used_picks = (
        f"filter({pks}, p -> array_contains({arr_pick_ids}, "
        f"{_field(p, 'resource_id').sql}))"
    )

    # updated: max creation_time over the event and every sub-object
    def max_creation(arr: _Ref) -> str:
        x = _elements(arr, "x")
        return (
            f"array_max(transform({_or_empty(arr)}, "
            f"x -> {_field(x, 'creation_time').sql}))"
        )

    origins = _field(ev, "origins")
    origin_arrivals = _field(_elements(origins, "o"), "arrivals")
    arrival_creation = _field(_elements(origin_arrivals, "a"), "creation_time")
    updated = [_field(ev, "creation_time").sql] + [
        max_creation(_field(ev, name))
        for name in ("picks", "origins", "magnitudes", "amplitudes",
                     "station_magnitudes", "focal_mechanisms")
    ]
    updated.append(
        f"array_max(flatten(transform({_or_empty(origins)}, o -> transform("
        f"{_or_empty(origin_arrivals)}, a -> {arrival_creation.sql}))))"
    )

    def bigint(sql: str) -> str:
        return f"CAST({sql} AS BIGINT)"

    mags = _field(ev, "magnitudes")
    no_double = "CAST(NULL AS DOUBLE)"
    cols = {
        "time": _reference_time(ev, o),
        "latitude": of("latitude"),
        "longitude": of("longitude"),
        "depth": of("depth"),
        "magnitude": _field(m, "mag").sql,
        "event_description": _field(ev, "event_description").sql,
        "associated_phase_count": bigint(
            _quality_or(quality, "associated_phase_count", "0")
        ),
        "azimuthal_gap": _quality_or(quality, "azimuthal_gap", no_double),
        "event_id": _field(ev, "event_id").sql,
        "horizontal_uncertainty": of("horizontal_uncertainty"),
        "local_magnitude": _last_mag_of_type(mags, "ML"),
        "moment_magnitude": _last_mag_of_type(mags, "MW"),
        "duration_magnitude": _last_mag_of_type(mags, "MD"),
        "magnitude_type": _field(m, "magnitude_type").sql,
        "p_phase_count": bigint(p_phase),
        "s_phase_count": bigint(s_phase),
        "p_pick_count": bigint(_pick_phase_count(pks, p, "P")),
        "s_pick_count": bigint(_pick_phase_count(pks, p, "S")),
        "standard_error": _quality_or(quality, "standard_error", no_double),
        "used_phase_count": bigint(
            _quality_or(quality, "used_phase_count", bigint(f"{p_phase} + {s_phase}"))
        ),
        "station_count": bigint(f"size({_distinct_stations(used_picks, p)})"),
        "vertical_uncertainty": of("vertical_uncertainty"),
        "updated": f"greatest({', '.join(updated)})",
    }
    for name in ("author", "agency_id", "creation_time", "version"):
        cols[name] = _field(ev, name).sql
    return staged.selectExpr(*[_as(sql, name) for name, sql in cols.items()])


# --------------------------------------------------------------------------
# sub-entity explode views (the six tables)
# --------------------------------------------------------------------------


def _flatten(
    tree: DataFrame, keys: dict[str, str], generator: str, x: _Ref
) -> DataFrame:
    """One row per element the SQL ``generator`` yields as ``x``, with
    event_id, the parent ``keys`` (name → SQL), every field of the
    element's full-schema struct (typed NULLs for any this tree lacks) and
    seed_id when the struct carries NSLC codes."""
    base = tree.selectExpr(
        "event_id",
        *[_as(sql, name) for name, sql in keys.items()],
        _as(generator, x.sql),
    )
    names = x.full.fieldNames()
    cols = ["event_id", *keys] + [_as(_field(x, n).sql, n) for n in names]
    nslc = ("network", "station", "location", "channel")
    if set(nslc) <= set(names):
        codes = ", ".join(_field(x, n).sql for n in nslc)
        cols.append(_as(f"concat_ws('.', {codes})", "seed_id"))
    return base.selectExpr(*cols)


def _explode_entity(
    tree: DataFrame, array_col: str, alias: str = "x", outer: bool = True
) -> DataFrame:
    """Generic sub-entity flatten of ``array_col``: event_id + event_time
    (the reference time) + the entity's fields + seed_id."""
    ev = _root(tree)
    arr = _field(ev, array_col)
    event_time = _reference_time(
        ev, _preferred(ev, "origins", "preferred_origin_id")
    )
    generator = f"{'explode_outer' if outer else 'explode'}({arr.sql})"
    return _flatten(
        tree, {"event_time": event_time}, generator, _elements(arr, alias)
    )


def picks_to_df(tree: DataFrame) -> DataFrame:
    """Pick sub-entity table (PICK_DTYPES, constants.py:124-150): one row
    per pick with denormalized parent keys — map-only explode."""
    return _explode_entity(tree, "picks", alias="p")


def amplitudes_to_df(tree: DataFrame) -> DataFrame:
    """Amplitude sub-entity table (AMPLITUDE_DTYPES, constants.py:172-204;
    extractor events/pd.py:405-421 incl. the time_window flatten)."""
    return _explode_entity(tree, "amplitudes", alias="a", outer=False)


def station_magnitudes_to_df(tree: DataFrame) -> DataFrame:
    """StationMagnitude sub-entity table (STATION_MAGNITUDE_DTYPES,
    constants.py:209-231; the output column set excludes magnitude_id —
    STATION_MAGNITUDE_COLUMNS :228-231)."""
    return _explode_entity(
        tree, "station_magnitudes", alias="sm", outer=False
    ).drop("magnitude_id")


def arrivals_to_df(tree: DataFrame) -> DataFrame:
    """Arrival sub-entity table (ARRIVAL_DTYPES, constants.py:264-289).

    The reference extracts arrivals **from each event's preferred origin
    only** (events/pd.py:334-346: ``origins = [e.preferred_origin() ...]``)
    with origin_id/origin_time denormalized — mirrored exactly: events
    whose preferred origin has no arrivals contribute no rows."""
    o = _preferred(_root(tree), "origins", "preferred_origin_id")
    arrivals = _field(o, "arrivals")
    keys = {
        "origin_id": _field(o, "resource_id").sql,
        "origin_time": _field(o, "time").sql,
    }
    return _flatten(
        tree, keys, f"explode({_or_empty(arrivals)})", _elements(arrivals, "ar")
    )


def focal_mechanisms_to_df(tree: DataFrame) -> DataFrame:
    """FocalMechanism sub-entity table (schema.py:554-570): nodal planes
    flattened, one row per mechanism with the parent event key (the
    generic :func:`_explode_entity` body; event_time dropped — the
    reference's focal table carries no reference time)."""
    return _explode_entity(
        tree, "focal_mechanisms", alias="fm", outer=False
    ).drop("event_time")


def magnitudes_to_df(tree: DataFrame) -> DataFrame:
    """Magnitude sub-entity table (MAGNITUDE_DTYPES, constants.py:236-257)
    — the generic :func:`_explode_entity` projection."""
    return _explode_entity(tree, "magnitudes", alias="m")


def origin_quality(tree: DataFrame) -> DataFrame:
    """Per-event quality counts (events/pd.py:73-163 _OriginQualityExtractor):
    P/S pick counts excluding rejected picks, distinct station count.

    Computed in-row over the nested pick arrays — a map-only projection
    (the previous implementation exploded + groupBy'd, paying a shuffle
    that the nesting makes unnecessary). Events without picks are dropped,
    matching the old explode/groupBy contract."""
    picks = _field(_root(tree), "picks")
    p, pks = _elements(picks, "p"), _or_empty(picks)
    stations = _distinct_stations(pks, p)
    return tree.where(f"size({pks}) > 0").selectExpr(
        "event_id",
        _as(f"CAST({_pick_phase_count(pks, p, 'P')} AS BIGINT)", "p_pick_count"),
        _as(f"CAST({_pick_phase_count(pks, p, 'S')} AS BIGINT)", "s_pick_count"),
        _as(f"CAST(size({stations}) AS BIGINT)", "station_count"),
        _as(stations, "stations"),
    )


def last_magnitude_per_type(tree: DataFrame) -> DataFrame:
    """Per event: last ML/MW/MD in document order (events/pd.py:166-175 —
    'last wins', in-row via the array filter + element_at(-1))."""
    mags = _field(_root(tree), "magnitudes")
    names = ("local_magnitude", "moment_magnitude", "duration_magnitude")
    return tree.selectExpr(
        "event_id",
        *[
            _as(_last_mag_of_type(mags, t), name)
            for t, name in zip(("ML", "MW", "MD"), names)
        ],
    ).where(sql_or(f"{name} IS NOT NULL" for name in names))


def first_pick_origins(tree: DataFrame) -> DataFrame:
    """make_origins (utils/events.py:258-317): for events lacking origins,
    fabricate one at the earliest pick time.

    The picks already live inside each event row, so the earliest pick is
    an array_min over the nested list — map-only, no explode, no window
    shuffle. Returns (event_id, first_pick_time) for events with ≥1
    resolvable pick. Schema-tolerant: a pick struct without ``time``
    (or ``resource_id``) yields no fabricated origin for that tree."""
    picks = _field(_root(tree), "picks")
    p = _elements(picks, "p")
    first_pick = (
        f"array_min(transform(filter({_or_empty(picks)}, "
        f"p -> {_field(p, 'resource_id').sql} IS NOT NULL), "
        f"p -> {_field(p, 'time').sql}))"
    )
    return tree.selectExpr(
        "event_id", _as(first_pick, "first_pick_time")
    ).where("first_pick_time IS NOT NULL")


def make_origins(
    tree: DataFrame,
    rid_prefix: str = "fpo:",
    preferred: bool = True,
    only_missing: bool = True,
) -> DataFrame:
    """Tree-native make_origins (utils/events.py:258-317): fabricate an
    origin at the earliest pick time for events lacking one, append it to
    ``origins`` and (optionally) mark it preferred — one projection over
    the nested rows, zero shuffles/joins. The general attach path for
    externally-supplied origins stays :func:`surgery.attach_new_origin`.

    The fabricated struct is built from the **input tree's** origin
    element type (fields beyond resource_id/time null-filled), so slim
    ad-hoc trees and full-schema trees both concat cleanly."""
    fp = F.array_min(
        F.expr(
            "transform(filter(picks, p -> p.resource_id IS NOT NULL),"
            " p -> p.time)"
        )
    )
    need = fp.isNotNull()
    if only_missing:
        need = need & (F.size(F.coalesce(F.col("origins"), F.array())) == 0)
    rid = F.concat(F.lit(rid_prefix), F.col("event_id"))
    elem = None
    for fld in tree.schema.fields:
        if fld.name == "origins":
            elem = fld.dataType.elementType
    if elem is None:
        elem = ORIGIN_STRUCT
    parts = []
    for f in elem.fields:
        if f.name == "resource_id":
            parts.append(rid.alias("resource_id"))
        elif f.name == "time":
            parts.append(fp.cast(f.dataType).alias("time"))
        else:
            parts.append(F.lit(None).cast(f.dataType).alias(f.name))
    new_origin = F.struct(*parts)
    out = tree.withColumn("_need", need).withColumn(
        "origins",
        F.when(
            F.col("_need"),
            F.concat(F.coalesce(F.col("origins"), F.array()), F.array(new_origin)),
        ).otherwise(F.col("origins")),
    )
    if preferred:
        out = out.withColumn(
            "preferred_origin_id",
            F.when(F.col("_need"), rid).otherwise(F.col("preferred_origin_id")),
        )
    return out.drop("_need")


def tree_to_json(tree: DataFrame) -> DataFrame:
    """Event tree → JSON strings (events/json.py:35-57 cat_to_json)."""
    return tree.select(
        "event_id",
        F.to_json(F.struct(*[c for c in tree.columns])).alias("json"),
    )


def json_to_tree(df: DataFrame, json_col: str = "json") -> DataFrame:
    """JSON strings → nested event rows (events/json.py dict_to_cat).
    Fields absent from the serialized document parse as NULL, so slim
    JSON written by older tree generations loads into the full schema."""
    return df.select(
        F.from_json(F.col(json_col), NESTED_EVENT_SCHEMA).alias("e")
    ).select("e.*")
