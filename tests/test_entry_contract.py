"""The driver contract is derived from one record per query.

``queries()`` and ``oracle_sql()`` are both built from the ``QUERIES``
records of the :mod:`corpus` family modules. These tests pin what the
split must not change: the 224 names, the 50-entry driver window in its
order, and every oracle string (by hash). No Spark session is needed.
"""

import hashlib

import __spark_entry__ as m
from corpus import FAMILIES

#: the driver window (first 50 ``queries()`` entries), r13 order
WINDOW_R13 = (
    "hits_auth,bfs_hops,k_core,dedup_clusters,bigram_lp,stitch_pairs,"
    "cascade_delete,revenue_by_nation,spatial_knn,canonical_docs,"
    "leak_safe_split,standardize,span_keep_one,span_store_join,bcubed,"
    "shared_regions,mix_audit,span_keep_cut,top_regions,pagerank,"
    "triangle_count,jaccard_join,lsh_recall,bloom_semi,sds_chunks,"
    "wav_roundtrip,mseed_roundtrip,csv_round_trip,stationxml_rt,"
    "normalize_seed,stream_proc,event_window_join,fetcher_windows,"
    "ppm_roundtrip,fdsn_event_query,glob_filter,json_props,availability,"
    "origin_quality,pricing_summary,asof_join,first_event_per_user,"
    "topk_by_value,radius_search,dateline_box,containment,chunk_dedup,"
    "within_doc_dedup,score_auc,ks_drift"
)

#: sha256 of ``repr(sorted(oracle_sql().items()))``
ORACLE_SHA256 = (
    "9ad7eb7a6cc815d21aee9c94612351f3a8d8d74c322482203a8337992d8c8f71"
)


def test_records_name_224_distinct_queries():
    names = [
        fn.__name__ for family in FAMILIES for fn, _ in family.QUERIES
    ]
    assert len(names) == len(set(names)) == 224
    assert all(n.startswith("q_") for n in names)
    assert all(
        isinstance(sql, str) for family in FAMILIES for _, sql in family.QUERIES
    )
    assert set(m.queries()) == set(m.oracle_sql())
    assert set(m.queries()) == {n.removeprefix("q_") for n in names}


def test_driver_window_order_pinned():
    assert ",".join(list(m.queries())[:50]) == WINDOW_R13


def test_oracle_sql_unchanged():
    items = sorted(m.oracle_sql().items())
    assert hashlib.sha256(repr(items).encode()).hexdigest() == ORACLE_SHA256
