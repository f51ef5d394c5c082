"""Plan-building layer: the kwargs → predicate compiler (SQL text)."""

from obsplus_spark.plans.predicates import (
    compile_filters,
    interval_overlap,
    range_predicates,
    dateline_longitude_predicate,
)

__all__ = [
    "compile_filters",
    "interval_overlap",
    "range_predicates",
    "dateline_longitude_predicate",
]
