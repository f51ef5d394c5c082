"""obsplus_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of niosh-mining/obsplus.

The reference (``/root/reference``) is an eager pandas library; this package
re-expresses its operator inventory (SURVEY.md §2) as declarative Spark
DataFrame programs so Catalyst/Tungsten pick the physical strategy and the
same code scales from local[32] to a 1000-executor cluster.

Layout
------
- ``schemas``      fixed StructType catalog (mirror of reference constants.py)
- ``functions``    scalar helpers: glob→regex, ns-time, geodesy, strings
- ``plans``        the kwargs→Column predicate compiler (FDSN-style queries)
- ``operators``    relational programs: availability, gaps-and-islands,
                   interval/as-of joins, geo search, dedup, similarity, text
- ``sources``      bank facades over partitioned parquet (file-backed tables)
"""

from obsplus_spark.session import get_spark


def __getattr__(name):
    """Lazy top-level exports for the main user-facing classes."""
    if name == "EventBank" or name == "WaveBank":
        from obsplus_spark.sources import bank

        return getattr(bank, name)
    if name == "Fetcher":
        from obsplus_spark.structures import Fetcher

        return Fetcher
    if name in ("DataSet", "load_dataset"):
        from obsplus_spark.structures import datasets

        return getattr(datasets, name)
    raise AttributeError(f"module 'obsplus_spark' has no attribute {name!r}")


__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "EventBank",
    "WaveBank",
    "Fetcher",
    "DataSet",
    "load_dataset",
    "__version__",
]
