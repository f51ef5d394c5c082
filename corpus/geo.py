"""Geo queries: circular search, the spatial k-nearest join and the
dateline-crossing box, over coordinates derived from integer keys."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from obsplus_spark.functions.geo import M_PER_DEG, bounding_box, haversine_sql
from corpus.common import _cust_geo, _t


_CUST_GEO_SQL = """
    SELECT c_custkey,
           (c_custkey * 37 % 18000) / 100.0 - 90.0 AS latitude,
           (c_custkey * 91 % 36000) / 100.0 - 180.0 AS longitude
    FROM customer
"""

_SUPP_GEO_SQL = """
    SELECT s_suppkey,
           (s_suppkey * 53 % 18000) / 100.0 - 90.0 AS latitude,
           (s_suppkey * 17 % 36000) / 100.0 - 180.0 AS longitude
    FROM supplier
"""


def _supp_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 18000) / 100.0 - 90.0).alias("latitude"),
        ((F.col("s_suppkey") * 17 % 36000) / 100.0 - 180.0).alias("longitude"),
    )


# ---------------------------------------------------------------------------
# geo (§2.2 circular search, §2.3 spatial join)
# ---------------------------------------------------------------------------

_GEO_POINT = (-80.0, 10.0)  # the derived position of c_custkey=1000
_GEO_MAXR_DEG = 20.0


def q_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase circular search (get_events.py:50-126): bbox prefilter
    (pushdown-able) then exact haversine band."""
    from obsplus_spark.operators.geo_search import radius_search

    geo = _cust_geo(spark, sf_dir)
    out = radius_search(
        geo,
        latitude=_GEO_POINT[0],
        longitude=_GEO_POINT[1],
        minradius=2.0,
        maxradius=_GEO_MAXR_DEG,
        radius_unit="deg",
    )
    return out.select(
        "c_custkey", F.round(F.col("distance_m"), 3).alias("distance_m")
    )


def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpatialCalculator cross join (geodetics.py:206-220) + top-k: 3
    nearest customers per supplier."""
    from obsplus_spark.operators.geo_search import spatial_join
    from obsplus_spark.operators.joins import topk_per_group

    sj = spatial_join(_supp_geo(spark, sf_dir), _cust_geo(spark, sf_dir))
    ranked = topk_per_group(
        sj.select("s_suppkey", "c_custkey", "distance_m"),
        ["s_suppkey"],
        [F.col("distance_m").asc(), F.col("c_custkey").asc()],
        k=3,
        keep_rank=True,
    )
    return ranked.select(
        "s_suppkey",
        "c_custkey",
        F.round(F.col("distance_m"), 3).alias("distance_m"),
        F.col("rn").cast("long").alias("rank"),
    )


def q_dateline_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dateline-crossing longitude box (utils/bank.py:349-363 OR rewrite)."""
    from obsplus_spark.plans.predicates import dateline_longitude_predicate

    geo = _cust_geo(spark, sf_dir)
    return geo.filter(
        dateline_longitude_predicate(170.0, -170.0) & (F.col("latitude") > 0)
    ).select("c_custkey", "latitude", "longitude")


# the DuckDB twins use the SQL-string forms of the same bbox and
# haversine (obsplus_spark.functions.geo)
_BOX = bounding_box(_GEO_POINT[0], _GEO_POINT[1], _GEO_MAXR_DEG, 1.2)
_HAV_C = haversine_sql(str(_GEO_POINT[0]), str(_GEO_POINT[1]), "latitude", "longitude")
_SQL_RADIUS = f"""
        WITH geo AS ({_CUST_GEO_SQL}),
        boxed AS (
          SELECT * FROM geo
          WHERE latitude > {_BOX['minlatitude']} AND latitude < {_BOX['maxlatitude']}
            AND longitude > {_BOX['minlongitude']} AND longitude < {_BOX['maxlongitude']}
        ),
        dist AS (SELECT c_custkey, {_HAV_C} AS distance_m FROM boxed)
        SELECT c_custkey, round(distance_m, 3) AS distance_m
        FROM dist
        WHERE distance_m > {2.0 * M_PER_DEG} AND distance_m < {_GEO_MAXR_DEG * M_PER_DEG}
    """
_HAV_SC = haversine_sql("s.latitude", "s.longitude", "c.latitude", "c.longitude")
_SQL_SPATIAL_KNN = f"""
        WITH s AS ({_SUPP_GEO_SQL}), c AS ({_CUST_GEO_SQL}),
        d AS (
          SELECT s.s_suppkey, c.c_custkey, {_HAV_SC} AS distance_m
          FROM s CROSS JOIN c
        ),
        r AS (
          SELECT s_suppkey, c_custkey, distance_m,
                 row_number() OVER (PARTITION BY s_suppkey
                                    ORDER BY distance_m, c_custkey) AS rank
          FROM d
        )
        SELECT s_suppkey, c_custkey, round(distance_m, 3) AS distance_m, rank
        FROM r WHERE rank <= 3
    """
_SQL_DATELINE = f"""
        WITH geo AS ({_CUST_GEO_SQL})
        SELECT c_custkey, latitude, longitude
        FROM geo
        WHERE (CASE WHEN (longitude % 360.0 + 360.0) % 360.0 > 180.0
                    THEN (longitude % 360.0 + 360.0) % 360.0 - 360.0
                    ELSE (longitude % 360.0 + 360.0) % 360.0 END > 170.0
            OR CASE WHEN (longitude % 360.0 + 360.0) % 360.0 > 180.0
                    THEN (longitude % 360.0 + 360.0) % 360.0 - 360.0
                    ELSE (longitude % 360.0 + 360.0) % 360.0 END < -170.0)
          AND latitude > 0
    """


QUERIES = [
    (q_radius_search, _SQL_RADIUS),
    (q_spatial_knn, _SQL_SPATIAL_KNN),
    (q_dateline_box, _SQL_DATELINE),
]
