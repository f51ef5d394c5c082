"""Scalar function layer: glob matching, ns-time helpers, geodesy, strings."""

from obsplus_spark.functions.strings import (
    glob_to_regex,
    glob_match,
    zero_pad_code,
)
from obsplus_spark.functions.timeutils import (
    ts_to_ns,
    time_chunks,
)
from obsplus_spark.functions.geo import (
    haversine_m,
    wrap_longitude,
)

__all__ = [
    "glob_to_regex",
    "glob_match",
    "zero_pad_code",
    "ts_to_ns",
    "time_chunks",
    "haversine_m",
    "wrap_longitude",
]
