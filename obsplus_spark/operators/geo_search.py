"""Geospatial search: two-phase radius queries and spatial cross joins.

Re-expression of the reference's circular event search
(``events/get_events.py:50-126`` + ``eventbank.py:243-260``) and
``SpatialCalculator`` (``utils/geodetics.py:160-220``). The two-phase shape
is load-bearing at scale: the bbox predicate is a plain column range that
Catalyst pushes into the parquet scan (row-group pruning); only survivors
pay the trig.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from obsplus_spark.functions.geo import (
    EARTH_RADIUS_M,
    M_PER_DEG,
    bounding_box,
    haversine_m,
)


def radius_search(
    df: DataFrame,
    latitude: float,
    longitude: float,
    minradius: float = 0.0,
    maxradius: float | None = None,
    radius_unit: str = "deg",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    distance_col: str = "distance_m",
    bbox_margin: float = 1.2,
) -> DataFrame:
    """Rows within [minradius, maxradius] of a point; two-phase plan.

    Phase 1: bounding-box prefilter with 1.2× margin (pushdown-able —
    ``get_events.py:80-100``). Phase 2: exact haversine distance, band
    filter ``min < d < max`` (``get_events.py:103-126``; the reference's
    strict inequalities kept). ``radius_unit``: "deg" (FDSN convention) or
    "km" or "m".
    """
    if radius_unit == "deg":
        to_m = M_PER_DEG
    elif radius_unit == "km":
        to_m = 1000.0
    elif radius_unit == "m":
        to_m = 1.0
    else:
        raise ValueError(f"bad radius_unit {radius_unit!r}")

    out = df
    if maxradius is not None:
        radius_deg = maxradius * to_m / M_PER_DEG
        box = bounding_box(latitude, longitude, radius_deg, bbox_margin)
        lon_min, lon_max = box["minlongitude"], box["maxlongitude"]
        # antimeridian-aware longitude band: a box crossing ±180 becomes
        # the OR of the two wrapped segments (the dateline rewrite the
        # FDSN predicate compiler applies — plans/predicates.py); a box
        # spanning the full circle drops the predicate entirely
        if lon_max - lon_min >= 360.0:
            lon_pred = F.lit(True)
        elif lon_min < -180.0:
            lon_pred = (F.col(lon_col) > lon_min + 360.0) | (
                F.col(lon_col) < lon_max
            )
        elif lon_max > 180.0:
            lon_pred = (F.col(lon_col) > lon_min) | (
                F.col(lon_col) < lon_max - 360.0
            )
        else:
            lon_pred = (F.col(lon_col) > lon_min) & (F.col(lon_col) < lon_max)
        out = out.filter(
            (F.col(lat_col) > box["minlatitude"])
            & (F.col(lat_col) < box["maxlatitude"])
            & lon_pred
        )
    out = out.withColumn(
        distance_col, haversine_m(F.lit(latitude), F.lit(longitude), F.col(lat_col), F.col(lon_col))
    )
    band = F.col(distance_col) > minradius * to_m
    if maxradius is not None:
        band = band & (F.col(distance_col) < maxradius * to_m)
    return out.filter(band)


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_lat: str = "latitude",
    left_lon: str = "longitude",
    right_lat: str = "latitude",
    right_lon: str = "longitude",
    max_distance_m: float | None = None,
    distance_col: str = "distance_m",
) -> DataFrame:
    """Distance/azimuth table for location pairs (``SpatialCalculator``).

    The reference meshgrids a full cartesian product
    (``geodetics.py:206-220``). Here: small right side → broadcast cross
    join (the common events × stations case); with ``max_distance_m`` set,
    a latitude-band equi-key bounds the blowup at scale — each pair joins
    on overlapping 2·maxdist latitude bands, a prunable equi condition,
    before the exact haversine residual.
    """
    l = left.alias("l")
    r = right.alias("r")
    dist = haversine_m(
        F.col(f"l.{left_lat}"),
        F.col(f"l.{left_lon}"),
        F.col(f"r.{right_lat}"),
        F.col(f"r.{right_lon}"),
    )
    if max_distance_m is None:
        from obsplus_spark.util import ensure_parallelism

        # the cross join is a narrow stage over the left scan — make sure a
        # small left input doesn't serialize the trig onto one core.
        # r12 (guide §1.2 per-task work): cos(radians(lat)) is hoisted to
        # the INPUT sides — per L+R rows instead of per L×R pairs (the
        # codegen'd pair expression re-evaluated both cosines for every
        # pair; 2 of the ~6 libm calls per pair become per-row). The
        # hoisted product multiplies in the same l·r order the fused
        # haversine used, so every double is BIT-IDENTICAL
        # (tests/test_geo.py pins the equality against haversine_m).
        lc = ensure_parallelism(left).withColumn(
            "_obsplus_coslat", F.cos(F.radians(F.col(left_lat)))
        ).alias("l")
        rc = right.withColumn(
            "_obsplus_coslat", F.cos(F.radians(F.col(right_lat)))
        ).alias("r")
        dlat = F.radians(F.col(f"r.{right_lat}") - F.col(f"l.{left_lat}")) / 2
        dlon = F.radians(F.col(f"r.{right_lon}") - F.col(f"l.{left_lon}")) / 2
        a = (
            F.pow(F.sin(dlat), 2)
            + F.col("l._obsplus_coslat")
            * F.col("r._obsplus_coslat")
            * F.pow(F.sin(dlon), 2)
        )
        hoisted = F.lit(2.0 * EARTH_RADIUS_M) * F.asin(
            F.least(F.lit(1.0), F.sqrt(a))
        )
        return (
            lc.crossJoin(F.broadcast(rc))
            .withColumn(distance_col, hoisted)
            .drop("_obsplus_coslat")
        )

    band_deg = max_distance_m / M_PER_DEG
    lb = left.withColumn(
        "_band", F.floor(F.col(left_lat) / F.lit(band_deg))
    ).alias("l")
    rb = right.withColumn(
        "_band",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lat) / F.lit(band_deg)) - 1,
                F.floor(F.col(right_lat) / F.lit(band_deg)) + 1,
            )
        ),
    ).alias("r")
    return (
        lb.join(rb, F.col("l._band") == F.col("r._band"), "inner")
        .withColumn(distance_col, dist)
        .filter(F.col(distance_col) <= max_distance_m)
        .drop("_band")
    )
