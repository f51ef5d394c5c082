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
carry only a subset of fields) — absent struct fields resolve to typed
NULL literals at plan time, so one extractor body serves every tree
generation.

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

import threading

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
# schema tolerance helpers
# --------------------------------------------------------------------------


def _top_fields(tree: DataFrame) -> set[str]:
    return set(tree.schema.fieldNames())


def _elem_fields(tree: DataFrame, array_col: str) -> set[str]:
    """Field names available in the element struct of ``array_col``
    (empty set if the column itself is absent)."""
    for fld in tree.schema.fields:
        if fld.name == array_col and isinstance(fld.dataType, T.ArrayType):
            et = fld.dataType.elementType
            if isinstance(et, T.StructType):
                return set(et.fieldNames())
    return set()


def _elem_type(
    tree: DataFrame, array_col: str, default: T.StructType
) -> T.DataType:
    """The tree's actual element type for ``array_col`` (falls back to the
    full-schema struct when the column is absent) — empty-array literals
    must match the tree's own struct width, not the full schema's."""
    for fld in tree.schema.fields:
        if fld.name == array_col and isinstance(fld.dataType, T.ArrayType):
            return fld.dataType.elementType
    return default


def _arr_or_empty(tree: DataFrame, array_col: str, default: T.StructType) -> Column:
    """``coalesce(col, array())`` typed to the tree's own element struct;
    a typed empty array when the column is absent entirely."""
    et = T.ArrayType(_elem_type(tree, array_col, default))
    if array_col in _top_fields(tree):
        return F.coalesce(F.col(array_col), F.array().cast(et))
    return F.array().cast(et)


def _arrival_elem_type(tree: DataFrame) -> T.DataType:
    """Element type of ``origins[].arrivals`` in THIS tree (full-schema
    ARRIVAL_STRUCT when the branch is absent)."""
    for fld in tree.schema.fields:
        if fld.name == "origins" and isinstance(fld.dataType, T.ArrayType):
            et = fld.dataType.elementType
            if isinstance(et, T.StructType) and "arrivals" in et.fieldNames():
                return et["arrivals"].dataType.elementType
    return ARRIVAL_STRUCT


def _ev_col(tree: DataFrame, name: str, dtype: T.DataType) -> Column:
    """Top-level event field, or a typed NULL when the tree is slim."""
    if name in _top_fields(tree):
        return F.col(name)
    return F.lit(None).cast(dtype)


def _sub(parent: Column, avail: set[str], name: str, dtype: T.DataType) -> Column:
    """``parent[name]`` when the field exists in this tree's struct,
    else a typed NULL — lets one extractor serve slim and full trees."""
    if name in avail:
        return parent[name]
    return F.lit(None).cast(dtype)


def _elem_sub(x, avail: set, name: str, dtype: T.DataType) -> Column:
    """Element-level twin of :func:`_sub` for array lambdas: ``x[name]``
    when THIS tree's element struct carries the field, else a typed NULL
    — extends the schema-tolerance contract into every in-row array
    expression (a bare ``x[name]`` on a subset-schema tree fails
    analysis with FIELD_NOT_FOUND)."""
    if name in avail:
        return x[name]
    return F.lit(None).cast(dtype)


# --------------------------------------------------------------------------
# preferred-object chain
# --------------------------------------------------------------------------


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
    lst = F.col(list_col)
    match = F.filter(lst, lambda o: o[id_field] == F.col(preferred_id_col))
    return F.when(F.size(match) > 0, F.element_at(match, 1)).otherwise(
        F.when(F.size(lst) > 0, F.element_at(lst, -1))
    )


def _preferred_t(
    tree: DataFrame,
    list_col: str,
    preferred_id_col: str,
    default_struct: T.StructType,
) -> Column:
    """Schema-tolerant :func:`preferred`: absent list column → typed NULL
    element; absent preferred-id column or element ``resource_id`` →
    the last-element fallback alone (nothing to match against)."""
    if list_col not in _top_fields(tree):
        return F.lit(None).cast(_elem_type(tree, list_col, default_struct))
    lst = F.coalesce(
        F.col(list_col),
        F.array().cast(T.ArrayType(_elem_type(tree, list_col, default_struct))),
    )
    last = F.when(F.size(lst) > 0, F.element_at(lst, -1))
    efields = _elem_fields(tree, list_col)
    if preferred_id_col in _top_fields(tree) and "resource_id" in efields:
        match = F.filter(
            lst, lambda o: o["resource_id"] == F.col(preferred_id_col)
        )
        return F.when(F.size(match) > 0, F.element_at(match, 1)).otherwise(
            last
        )
    return last


# --------------------------------------------------------------------------
# event-summary table (EVENT_DTYPES parity)
# --------------------------------------------------------------------------


def _last_mag_of_type(tree: DataFrame, mag_type: str) -> Column:
    """Last magnitude (document order) whose upper-cased type equals
    ``mag_type`` — events/pd.py:166-175 _get_last_magnitude ('last wins',
    type compared after ``(magnitude_type or '').upper()``).
    Schema-tolerant: no ``mag`` field → typed NULL; no
    ``magnitude_type`` → every magnitude reads as type '' (matches
    nothing here)."""
    avail = _elem_fields(tree, "magnitudes")
    if "mag" not in avail:
        return F.lit(None).cast(D)
    typed = F.filter(
        F.col("magnitudes"),
        lambda m: F.upper(
            F.coalesce(_elem_sub(m, avail, "magnitude_type", S), F.lit(""))
        )
        == mag_type,
    )
    return F.when(F.size(typed) > 0, F.element_at(typed, -1)["mag"])


def _quality_or(q: Column, field: str, default: Column) -> Column:
    """``getattr(quality, attr, None) or default`` (events/pd.py:113-121):
    the reference treats BOTH null and zero as missing (python ``or``)."""
    v = q[field]
    return F.when(v.isNotNull() & (v != 0), v).otherwise(default)


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

    The two ``select`` lists depend on ``tree.schema`` alone, and building
    them costs over a thousand py4j round trips. They are built once per
    distinct schema (keyed on its JSON) and reused, so a repeat call on a
    tree of the same schema — every ingest batch of an EventBank — costs
    only the two ``select`` calls.
    """
    staged, out = _events_projection(tree)
    return tree.select("*", *staged).select(*out)


#: (gateway, {schema JSON: (staged, output) select lists of events_to_df});
#: the lists hold JVM Column handles, so they are dropped with the
#: gateway that made them
_PROJECTIONS: tuple[object, dict[str, tuple[list, list]]] = (None, {})
_PROJECTIONS_LOCK = threading.Lock()


def _events_projection(tree: DataFrame) -> tuple[list[Column], list[Column]]:
    """The ``events_to_df`` select lists for ``tree``'s schema, built on
    the first call per schema and per gateway."""
    global _PROJECTIONS
    key = tree.schema.json()
    with _PROJECTIONS_LOCK:
        gateway = SparkContext._gateway
        if _PROJECTIONS[0] is not gateway:
            _PROJECTIONS = (gateway, {})
        by_schema = _PROJECTIONS[1]
        if key not in by_schema:
            by_schema[key] = _build_events_projection(tree)
        return by_schema[key]


def _build_events_projection(
    tree: DataFrame,
) -> tuple[list[Column], list[Column]]:
    """The staged preferred structs (``_po``, ``_pm``) and the 27 output
    columns of :func:`events_to_df`, derived from ``tree.schema``."""
    ofields = _elem_fields(tree, "origins")
    mfields = _elem_fields(tree, "magnitudes")
    pfields = _elem_fields(tree, "picks")
    has_mags = "magnitudes" in _top_fields(tree)

    # the preferred structs are STAGED as real columns: ~10 output
    # columns reference them, and interpreted higher-order filter chains
    # are not CSE'd — unstaged, the preferred-origin filter re-evaluates
    # once per referencing column per row (CollapseProject keeps the two
    # projections apart because the aliases are non-cheap and multiply
    # referenced)
    staged = [
        _preferred_t(
            tree, "origins", "preferred_origin_id", ORIGIN_STRUCT
        ).alias("_po"),
        _preferred_t(
            tree, "magnitudes", "preferred_magnitude_id", MAGNITUDE_STRUCT
        ).alias("_pm"),
    ]
    o, m = F.col("_po"), F.col("_pm")

    def of(name, dtype=D):
        return _sub(o, ofields, name, dtype)

    quality = (
        o["quality"]
        if "quality" in ofields
        else F.lit(None).cast(ORIGIN_QUALITY_STRUCT)
    )
    arr_type = T.ArrayType(_arrival_elem_type(tree))
    arrivals = (
        F.coalesce(o["arrivals"], F.array().cast(arr_type))
        if "arrivals" in ofields
        else F.array().cast(arr_type)
    )

    arr_et = _arrival_elem_type(tree)
    arr_avail = (
        set(arr_et.fieldNames()) if isinstance(arr_et, T.StructType) else set()
    )

    def phase_count(ph):
        # unspecified phases are not counted (pd.py:100-108)
        return F.size(
            F.filter(
                arrivals,
                lambda a: _elem_sub(a, arr_avail, "phase", S) == ph,
            )
        )

    picks = _arr_or_empty(tree, "picks", PICK_STRUCT)
    pick_avail = _elem_fields(tree, "picks") or set(PICK_STRUCT.fieldNames())

    def pick_count(ph):
        return _pick_phase_count(picks, ph, pick_avail)

    p_phase, s_phase = phase_count("P"), phase_count("S")
    arr_pick_ids = F.transform(
        arrivals, lambda a: _elem_sub(a, arr_avail, "pick_id", S)
    )
    used_picks = F.filter(
        picks,
        lambda p: F.array_contains(
            arr_pick_ids, _elem_sub(p, pick_avail, "resource_id", S)
        ),
    )
    station_count = F.size(
        _distinct_stations(used_picks, pick_avail)
    ).cast("long")

    # updated: max creation_time over every sub-object + the event itself
    def arr_max_creation(col_name):
        if "creation_time" not in _elem_fields(tree, col_name):
            return F.lit(None).cast(L)
        return F.array_max(
            F.transform(
                F.coalesce(F.col(col_name), F.expr("array()")),
                lambda x: x["creation_time"],
            )
        )

    updated_parts = [
        _ev_col(tree, "creation_time", L),
        arr_max_creation("picks") if pfields else F.lit(None).cast(L),
    ]
    for sub_list in ("origins", "magnitudes", "amplitudes",
                     "station_magnitudes", "focal_mechanisms"):
        updated_parts.append(arr_max_creation(sub_list))
    if "arrivals" in ofields and "creation_time" in {
        f.name
        for fld in tree.schema.fields
        if fld.name == "origins"
        for f in fld.dataType.elementType["arrivals"].dataType.elementType.fields
    }:
        updated_parts.append(
            F.array_max(
                F.flatten(
                    F.transform(
                        F.coalesce(F.col("origins"), F.expr("array()")),
                        lambda oo: F.transform(
                            F.coalesce(oo["arrivals"], F.expr("array()")),
                            lambda a: a["creation_time"],
                        ),
                    )
                )
            )
        )
    updated = F.greatest(*updated_parts) if len(updated_parts) > 1 else updated_parts[0]

    first_pick = F.array_min(
        F.transform(picks, lambda p: _elem_sub(p, pick_avail, "time", L))
    )

    mag_col = _sub(m, mfields, "mag", D)
    mag_type_col = _sub(m, mfields, "magnitude_type", S)

    return staged, [
        F.coalesce(of("time", L), first_pick).alias("time"),
        of("latitude").alias("latitude"),
        of("longitude").alias("longitude"),
        of("depth").alias("depth"),
        mag_col.alias("magnitude"),
        _ev_col(tree, "event_description", S).alias("event_description"),
        _quality_or(quality, "associated_phase_count", F.lit(0))
        .cast("long")
        .alias("associated_phase_count"),
        _quality_or(quality, "azimuthal_gap", F.lit(None).cast(D)).alias(
            "azimuthal_gap"
        ),
        F.col("event_id"),
        of("horizontal_uncertainty").alias("horizontal_uncertainty"),
        (_last_mag_of_type(tree, "ML") if has_mags else F.lit(None).cast(D)).alias(
            "local_magnitude"
        ),
        (_last_mag_of_type(tree, "MW") if has_mags else F.lit(None).cast(D)).alias(
            "moment_magnitude"
        ),
        (_last_mag_of_type(tree, "MD") if has_mags else F.lit(None).cast(D)).alias(
            "duration_magnitude"
        ),
        mag_type_col.alias("magnitude_type"),
        p_phase.cast("long").alias("p_phase_count"),
        s_phase.cast("long").alias("s_phase_count"),
        pick_count("P").cast("long").alias("p_pick_count"),
        pick_count("S").cast("long").alias("s_pick_count"),
        _quality_or(quality, "standard_error", F.lit(None).cast(D)).alias(
            "standard_error"
        ),
        _quality_or(quality, "used_phase_count", (p_phase + s_phase).cast(L))
        .cast("long")
        .alias("used_phase_count"),
        station_count.alias("station_count"),
        of("vertical_uncertainty").alias("vertical_uncertainty"),
        updated.alias("updated"),
        _ev_col(tree, "author", S).alias("author"),
        _ev_col(tree, "agency_id", S).alias("agency_id"),
        _ev_col(tree, "creation_time", L).alias("creation_time"),
        _ev_col(tree, "version", S).alias("version"),
    ]


# --------------------------------------------------------------------------
# sub-entity explode views (the six tables)
# --------------------------------------------------------------------------


def _reference_time(tree: DataFrame) -> Column:
    """Event reference time: preferred-origin time, else earliest pick
    (utils/time.py get_reference_time) — denormalized onto sub-entity rows
    as ``event_time``."""
    top = _top_fields(tree)
    ofields = _elem_fields(tree, "origins")
    if "origins" in top:
        o = _preferred_t(tree, "origins", "preferred_origin_id", ORIGIN_STRUCT)
        ot = _sub(o, ofields, "time", L)
    else:
        ot = F.lit(None).cast(L)
    if "picks" in top:
        picks = _arr_or_empty(tree, "picks", PICK_STRUCT)
        pavail = _elem_fields(tree, "picks") or set(PICK_STRUCT.fieldNames())
        fp = F.array_min(
            F.transform(picks, lambda p: _elem_sub(p, pavail, "time", L))
        )
    else:
        fp = F.lit(None).cast(L)
    return F.coalesce(ot, fp)


def _explode_entity(
    tree: DataFrame,
    array_col: str,
    struct: T.StructType,
    fields: list[str],
    alias: str = "x",
    outer: bool = True,
) -> DataFrame:
    """Generic sub-entity flatten: event_id + event_time + the entity's
    fields (typed NULLs for any the tree doesn't carry) + seed_id."""
    avail = _elem_fields(tree, array_col)
    exploder = F.explode_outer if outer else F.explode
    arr = (
        F.col(array_col)
        if array_col in _top_fields(tree)
        else F.lit(None).cast(T.ArrayType(struct))
    )
    base = tree.select(
        "event_id",
        _reference_time(tree).alias("event_time"),
        exploder(arr).alias(alias),
    )
    x = F.col(alias)
    by_name = {f.name: f.dataType for f in struct.fields}
    cols = [F.col("event_id"), F.col("event_time")]
    for name in fields:
        if name in avail:
            cols.append(x[name].alias(name))
        else:
            cols.append(F.lit(None).cast(by_name[name]).alias(name))
    nslc = {"network", "station", "location", "channel"}
    if nslc <= set(fields):
        cols.append(
            F.concat_ws(
                ".", *[
                    (x[n] if n in avail else F.lit(None).cast(S))
                    for n in ("network", "station", "location", "channel")
                ]
            ).alias("seed_id")
        )
    return base.select(*cols)


def picks_to_df(tree: DataFrame) -> DataFrame:
    """Pick sub-entity table (PICK_DTYPES, constants.py:124-150): one row
    per pick with denormalized parent keys — map-only explode."""
    return _explode_entity(
        tree,
        "picks",
        PICK_STRUCT,
        [
            "resource_id", "time", "phase_hint", "evaluation_status",
            "network", "station", "location", "channel",
            "onset", "polarity", "evaluation_mode", "filter_id",
            "method_id", "horizontal_slowness", "backazimuth",
            "creation_time", "author", "agency_id",
            "uncertainty", "lower_uncertainty", "upper_uncertainty",
            "confidence_level",
        ],
        alias="p",
    )


def amplitudes_to_df(tree: DataFrame) -> DataFrame:
    """Amplitude sub-entity table (AMPLITUDE_DTYPES, constants.py:172-204;
    extractor events/pd.py:405-421 incl. the time_window flatten)."""
    return _explode_entity(
        tree,
        "amplitudes",
        AMPLITUDE_STRUCT,
        [
            "resource_id", "generic_amplitude", "type", "category", "unit",
            "magnitude_hint", "filter_id", "method_id", "period", "snr",
            "pick_id", "reference", "time_begin", "time_end", "scaling_time",
            "evaluation_mode", "evaluation_status", "creation_time",
            "author", "agency_id", "network", "station", "location",
            "channel", "uncertainty", "lower_uncertainty",
            "upper_uncertainty", "confidence_level",
        ],
        alias="a",
        outer=False,
    )


def station_magnitudes_to_df(tree: DataFrame) -> DataFrame:
    """StationMagnitude sub-entity table (STATION_MAGNITUDE_DTYPES,
    constants.py:209-231; the output column set excludes magnitude_id —
    STATION_MAGNITUDE_COLUMNS :228-231)."""
    return _explode_entity(
        tree,
        "station_magnitudes",
        STATION_MAGNITUDE_STRUCT,
        [
            "resource_id", "mag", "station_magnitude_type", "amplitude_id",
            "origin_id", "method_id", "creation_time", "author",
            "agency_id", "network", "station", "location", "channel",
            "uncertainty", "lower_uncertainty", "upper_uncertainty",
            "confidence_level",
        ],
        alias="sm",
        outer=False,
    )


def arrivals_to_df(tree: DataFrame) -> DataFrame:
    """Arrival sub-entity table (ARRIVAL_DTYPES, constants.py:264-289).

    The reference extracts arrivals **from each event's preferred origin
    only** (events/pd.py:334-346: ``origins = [e.preferred_origin() ...]``)
    with origin_id/origin_time denormalized — mirrored exactly: events
    whose preferred origin has no arrivals contribute no rows."""
    ofields = _elem_fields(tree, "origins")
    o = _preferred_t(tree, "origins", "preferred_origin_id", ORIGIN_STRUCT)
    if "arrivals" not in ofields:
        arr = F.lit(None).cast(T.ArrayType(ARRIVAL_STRUCT))
    else:
        arr = o["arrivals"]
    avail = set()
    if "arrivals" in ofields:
        for fld in tree.schema.fields:
            if fld.name == "origins":
                et = fld.dataType.elementType["arrivals"].dataType.elementType
                avail = set(et.fieldNames())
    base = tree.select(
        "event_id",
        _sub(o, ofields, "resource_id", S).alias("origin_id"),
        _sub(o, ofields, "time", L).alias("origin_time"),
        F.explode(F.coalesce(arr, F.expr("array()"))).alias("ar"),
    )
    x = F.col("ar")
    by_name = {f.name: f.dataType for f in ARRIVAL_STRUCT.fields}
    names = [
        "resource_id", "pick_id", "phase", "time_correction", "azimuth",
        "distance", "takeoff_angle", "time_residual",
        "horizontal_slowness_residual", "backazimuth_residual",
        "time_weight", "horizontal_slowness_weight", "backazimuth_weight",
        "earth_model_id", "creation_time", "author", "agency_id",
        "network", "station", "location", "channel",
    ]
    cols = [F.col("event_id"), F.col("origin_id"), F.col("origin_time")]
    for name in names:
        if name in avail:
            cols.append(x[name].alias(name))
        else:
            cols.append(F.lit(None).cast(by_name[name]).alias(name))
    cols.append(
        F.concat_ws(
            ".", *[
                (x[n] if n in avail else F.lit(None).cast(S))
                for n in ("network", "station", "location", "channel")
            ]
        ).alias("seed_id")
    )
    return base.select(*cols)


def focal_mechanisms_to_df(tree: DataFrame) -> DataFrame:
    """FocalMechanism sub-entity table (schema.py:554-570): nodal planes
    flattened, one row per mechanism with the parent event key (the
    generic :func:`_explode_entity` body; event_time dropped — the
    reference's focal table carries no reference time)."""
    fields = [f.name for f in FOCAL_MECHANISM_STRUCT.fields]
    return _explode_entity(
        tree, "focal_mechanisms", FOCAL_MECHANISM_STRUCT, fields,
        alias="fm", outer=False,
    ).drop("event_time")


def magnitudes_to_df(tree: DataFrame) -> DataFrame:
    """Magnitude sub-entity table (MAGNITUDE_DTYPES, constants.py:236-257)
    — the generic :func:`_explode_entity` projection."""
    return _explode_entity(
        tree,
        "magnitudes",
        MAGNITUDE_STRUCT,
        [
            "resource_id", "mag", "magnitude_type", "origin_id",
            "method_id", "station_count", "azimuthal_gap",
            "evaluation_mode", "evaluation_status", "creation_time",
            "author", "agency_id", "uncertainty", "lower_uncertainty",
            "upper_uncertainty", "confidence_level",
        ],
        alias="m",
    )


def _pick_phase_count(picks, ph, avail: set):
    """Non-rejected picks with the given phase hint — NULL evaluation
    status COUNTS (events/pd.py:100-108). Shared by ``events_to_df`` and
    ``origin_quality`` so the rejected-status semantics live once.
    Schema-tolerant: a tree without ``phase_hint`` counts zero (no phase
    to match); one without ``evaluation_status`` counts every phase
    match (nothing is rejected)."""

    def keep(p):
        st = _elem_sub(p, avail, "evaluation_status", S)
        hint = _elem_sub(p, avail, "phase_hint", S)
        return (hint == ph) & (st.isNull() | (st != "rejected"))

    return F.size(F.filter(picks, keep))


def _distinct_stations(pick_arr, avail: set):
    """Distinct NON-NULL station codes of a pick array: a pick without a
    waveformID (station NULL — common in real QuakeML) contributes no
    station, matching COUNT(DISTINCT) / collect_set semantics (a bare
    array_distinct(transform(...)) would count NULL as a station).
    Schema-tolerant: no ``station`` field → empty set."""
    return F.array_distinct(
        F.filter(
            F.transform(
                pick_arr, lambda p: _elem_sub(p, avail, "station", S)
            ),
            lambda s: s.isNotNull(),
        )
    )


def origin_quality(tree: DataFrame) -> DataFrame:
    """Per-event quality counts (events/pd.py:73-163 _OriginQualityExtractor):
    P/S pick counts excluding rejected picks, distinct station count.

    Computed in-row over the nested pick arrays — a map-only projection
    (the previous implementation exploded + groupBy'd, paying a shuffle
    that the nesting makes unnecessary). Events without picks are dropped,
    matching the old explode/groupBy contract."""
    picks = _arr_or_empty(tree, "picks", PICK_STRUCT)
    avail = _elem_fields(tree, "picks") or set(PICK_STRUCT.fieldNames())

    def pick_count(ph):
        return _pick_phase_count(picks, ph, avail).cast("long")

    stations = _distinct_stations(picks, avail)
    return (
        tree.filter(F.size(picks) > 0)
        .select(
            "event_id",
            pick_count("P").alias("p_pick_count"),
            pick_count("S").alias("s_pick_count"),
            F.size(stations).cast("long").alias("station_count"),
            stations.alias("stations"),
        )
    )


def last_magnitude_per_type(tree: DataFrame) -> DataFrame:
    """Per event: last ML/MW/MD in document order (events/pd.py:166-175 —
    'last wins', in-row via the array filter + element_at(-1))."""
    return tree.select(
        "event_id",
        _last_mag_of_type(tree, "ML").alias("local_magnitude"),
        _last_mag_of_type(tree, "MW").alias("moment_magnitude"),
        _last_mag_of_type(tree, "MD").alias("duration_magnitude"),
    ).filter(
        F.col("local_magnitude").isNotNull()
        | F.col("moment_magnitude").isNotNull()
        | F.col("duration_magnitude").isNotNull()
    )


def first_pick_origins(tree: DataFrame) -> DataFrame:
    """make_origins (utils/events.py:258-317): for events lacking origins,
    fabricate one at the earliest pick time.

    The picks already live inside each event row, so the earliest pick is
    an array_min over the nested list — map-only, no explode, no window
    shuffle. Returns (event_id, first_pick_time) for events with ≥1
    resolvable pick. Schema-tolerant: a pick struct without ``time``
    (or ``resource_id``) yields no fabricated origin for that tree."""
    avail = _elem_fields(tree, "picks") or set(PICK_STRUCT.fieldNames())
    picks = _arr_or_empty(tree, "picks", PICK_STRUCT)
    fp = F.array_min(
        F.transform(
            F.filter(
                picks,
                lambda p: _elem_sub(p, avail, "resource_id", S).isNotNull(),
            ),
            lambda p: _elem_sub(p, avail, "time", L),
        )
    )
    return tree.select(
        "event_id", fp.alias("first_pick_time")
    ).filter(F.col("first_pick_time").isNotNull())


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
