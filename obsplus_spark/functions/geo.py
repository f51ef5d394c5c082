"""Geodesy as native SQL expressions — no Python in the hot path.

The reference wraps obspy's iterative Vincenty per pair inside a pandas
apply (``utils/geodetics.py:160-175``). For a 100 TB engine the distance
must be a codegen'd JVM expression: we use the closed-form haversine on the
WGS84 mean radius. SURVEY.md §7: oracle comparisons use the same closed
form on both sides (or tolerance), never obspy's iterative solver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: WGS84 mean earth radius, meters
EARTH_RADIUS_M = 6371008.8
#: meters per degree of great circle (reference events/get_events.py:88-90
#: kilometers2degrees uses 111.19... km/deg on the same sphere)
M_PER_DEG = EARTH_RADIUS_M * 3.141592653589793 / 180.0


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else F.lit(x) if isinstance(x, (int, float)) else x


def haversine_m(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in meters (closed-form haversine).

    Pure ``F.*`` trig — stays inside whole-stage codegen; the oracle runs
    the identical formula so comparisons are exact up to libm ulp.
    """
    lat1, lon1, lat2, lon2 = _c(lat1), _c(lon1), _c(lat2), _c(lon2)
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.pow(F.sin(dlat), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same haversine as an ANSI-SQL string (for DuckDB oracles)."""
    return (
        f"2.0 * {EARTH_RADIUS_M} * asin(least(1.0, sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def wrap_longitude(col) -> Column:
    """Wrap longitudes into [-180, 180].

    Mirror of reference ``utils/geodetics.py:223-245 map_longitudes``:
    mod-360 then shift values > 180 down by 360.
    """
    c = _c(col)
    m = F.pmod(c, F.lit(360.0))
    return F.when(m > 180.0, m - 360.0).otherwise(m)


def wrap_longitude_sql(expr: str) -> str:
    """SQL text of :func:`wrap_longitude` over the SQL expression ``expr``."""
    m = f"pmod({expr}, 360.0D)"
    return f"CASE WHEN {m} > 180.0D THEN {m} - 360.0D ELSE {m} END"


def bounding_box(
    lat: float, lon: float, radius_deg: float, margin: float = 1.2
) -> dict[str, float]:
    """Prefilter bbox for a radius search, with safety margin.

    Mirror of reference ``events/get_events.py:80-100 _get_bounding_box``:
    the bbox predicate is pushdown-able/prunable; the exact distance
    refine is not — the two-phase split is load-bearing at scale.

    The longitude span widens by ``1/cos`` of the POLEWARD band edge
    (``max(|lat−r|, |lat+r|)``): meridians converge toward the pole, so
    the widest Δλ a point at distance ``r`` can reach occurs at the
    band's high-latitude edge — using the equatorward edge (or the
    center latitude) under-sizes the box and silently drops true
    in-radius rows. A prefilter may only ever be LOOSE. Clamps to the
    full range when the band touches a pole; the returned min/max
    longitude may leave [-180, 180] — the caller must apply the
    antimeridian-aware predicate (``radius_search`` does).
    """
    import math

    r = radius_deg * margin
    min_lat, max_lat = lat - r, lat + r
    band = min(max(abs(min_lat), abs(max_lat)), 89.0)
    coslat = math.cos(math.radians(band))
    lon_r = min(r / max(coslat, 1e-9), 360.0)
    return {
        "minlatitude": max(min_lat, -90.0),
        "maxlatitude": min(max_lat, 90.0),
        "minlongitude": lon - lon_r,
        "maxlongitude": lon + lon_r,
    }
