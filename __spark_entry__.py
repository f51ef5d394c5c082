"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps each query name to a builder that exercises one
operator family from SURVEY.md §2, implemented with :mod:`obsplus_spark`,
over the driver's test tables (``TESTDATA.md``); ``oracle_sql()`` maps the
same names to the DuckDB-equivalent SQL. Both are derived from the
``QUERIES`` records of the family modules in :mod:`corpus`: a query is
declared once, as ``(q_<name>, oracle)`` next to its builder.

Conventions shared by both sides (SURVEY.md §7 hard parts):
- times compared as **int64 nanoseconds** (`unix_micros*1000` ↔ `epoch_ns`)
- money sums pass through exact DECIMAL accumulation, then cast to double
  (double summation is order-dependent; decimal is associative)
- double→long conversions always go through an explicit ``floor``
  (Spark casts truncate, DuckDB casts round — never rely on cast rounding)
- distances/similarities rounded before comparison (libm ulp differences)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from corpus import FAMILIES
from corpus.seismo import q_event_window_join

_RECORDS = {
    fn.__name__.removeprefix("q_"): (fn, sql)
    for family in FAMILIES
    for fn, sql in family.QUERIES
}

#: The driver's CORRECTNESS snapshot records rows for only the FIRST 50
#: entries of ``queries()``, so this list is the driver window, kept in
#: its r13 order. Rotation policy (NOTES.md): changed code first, then
#: the entries with the OLDEST most-recent driver row.
WINDOW = [
    # (a) the 11 r12-plan-changed query paths with no fresh driver row
    #     (VERDICT r12 "Next round #1")
    "hits_auth",
    "bfs_hops",
    "k_core",
    "dedup_clusters",
    "bigram_lp",
    "stitch_pairs",
    "cascade_delete",
    "revenue_by_nation",
    "spatial_knn",
    "canonical_docs",
    "leak_safe_split",
    # (b) standardize — array output serialized for the driver canon
    #     this round; needs its first green row
    "standardize",
    # (c) the 7 r12-build registrations never driver-tested
    "span_keep_one",
    "span_store_join",
    "bcubed",
    "shared_regions",
    "mix_audit",
    "span_keep_cut",
    "top_regions",
    # (d) r13 candidate-touch set (graph shared-edge item, PPJoin/LSH
    #     skew item)
    "pagerank",
    "triangle_count",
    "jaccard_join",
    "lsh_recall",
    # (e) fill: oldest most-recent driver row (r8 band, in rotation
    #     order)
    "bloom_semi",
    "sds_chunks",
    "wav_roundtrip",
    "mseed_roundtrip",
    "csv_round_trip",
    "stationxml_rt",
    "normalize_seed",
    "stream_proc",
    "event_window_join",
    "fetcher_windows",
    "ppm_roundtrip",
    "fdsn_event_query",
    "glob_filter",
    "json_props",
    "availability",
    "origin_quality",
    "pricing_summary",
    "asof_join",
    "first_event_per_user",
    "topk_by_value",
    "radius_search",
    "dateline_box",
    "containment",
    "chunk_dedup",
    "within_doc_dedup",
    "score_auc",
    "ks_drift",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_event_window_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver window first, then every other query in family order."""
    names = WINDOW + [n for n in _RECORDS if n not in WINDOW]
    return {n: _RECORDS[n][0] for n in names}


def oracle_sql() -> dict[str, str]:
    return {n: sql for n, (_, sql) in _RECORDS.items()}
