"""Optimization-round (r12) contracts: changes that alter operator
internals for performance must keep results identical and keep
undersized bounds LOUD."""

import pytest


def test_k_core_require_converged_passes_at_fixed_point(spark):
    """A converged peel (every survivor degree >= k) passes the guard
    and matches the unguarded output exactly."""
    from obsplus_spark.operators.graph import k_core_peel

    # a 4-clique plus a pendant chain: k=2 peels the chain in 2 rounds
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src int, dst int",
    )
    plain = k_core_peel(edges, k=2, rounds=3).collect()
    guarded = k_core_peel(
        edges, k=2, rounds=3, require_converged=True
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, guarded))
    assert {r.node for r in guarded} == {1, 2, 3, 4}
    assert all(r.degree >= 2 for r in guarded)


@pytest.mark.parametrize("broadcast_degrees", [False, True])
def test_k_core_require_converged_raises_on_truncation(
    spark, broadcast_degrees
):
    """An undersized round budget must raise at runtime, never emit a
    still-cascading survivor set (both peel implementations)."""
    from obsplus_spark.operators.graph import k_core_peel

    # a path graph cascades one node per round under k=2: rounds=1
    # leaves interior nodes with degree 1 — the guard must fire
    n = 8
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src int, dst int"
    )
    out = k_core_peel(
        edges, k=2, rounds=1,
        broadcast_degrees=broadcast_degrees,
        require_converged=True,
    )
    with pytest.raises(Exception, match="not converged"):
        out.write.mode("overwrite").format("noop").save()


def test_k_core_rounds2_matches_rounds4_on_bench_graph(spark):
    """The q_k_core optimization contract: on the hash-folded orders
    graph the 2-round guarded peel equals the 4-round peel row-for-row
    (the oracle twin still runs 4 rounds)."""
    from corpus import common as em
    from obsplus_spark.operators.graph import k_core_peel

    o = em._t(spark, "/root/testdata/sf0.01", "orders")
    edges = o.selectExpr(
        "o_custkey % 4001 AS src", "(o_orderkey * 7 + 3) % 4001 AS dst"
    )
    r4 = k_core_peel(edges, k=3, rounds=4, broadcast_degrees=True)
    r2 = k_core_peel(
        edges, k=3, rounds=2, broadcast_degrees=True,
        require_converged=True,
    )
    assert r4.exceptAll(r2).count() == 0
    assert r2.exceptAll(r4).count() == 0


def test_near_duplicates_rebound_pipeline_matches_unpersisted(spark):
    """dedup_clusters' persisted edge frame must not change ANY pair
    or label: compare against the persist_shingles=False path (full
    lineage throughout)."""
    from obsplus_spark.operators.dedup import dedup_clusters, near_duplicates

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "the quick brown fox leaps over the lazy dog again"),
            (4, "completely different text with no overlap here at all"),
            (5, "another unrelated document body entirely of its own"),
        ],
        "doc_id bigint, text string",
    )
    kw = dict(n_hashes=8, bands=2, shingle_size=3, threshold=0.2)
    fast = near_duplicates(docs, **kw).select("id1", "id2")
    plain = near_duplicates(docs, persist_shingles=False, **kw).select(
        "id1", "id2"
    )
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, plain.collect())
    )
    lf = dedup_clusters(fast, max_iterations=2).collect()
    lp = dedup_clusters(plain, max_iterations=2).collect()
    assert sorted((r.id, r.cluster_id) for r in lf) == sorted(
        (r.id, r.cluster_id) for r in lp
    )
    assert (1, 1) in {(r.id, r.cluster_id) for r in lf}
    assert (2, 1) in {(r.id, r.cluster_id) for r in lf}


def test_hits_node_decode_matches_string_pipeline(spark):
    """hits_scores(node_decode=...) over the 2k+1/2k integer fold must be
    row-identical (including string tie order in the top-k cut) to running
    the whole pipeline on the prefixed string keys."""
    from obsplus_spark.operators.graph import hits_scores

    # small bipartite graph with deliberate (auth, hub) ties so the
    # node-string tie-break is exercised: c10 vs c2 order differs between
    # int and string sort, so a decode AFTER the order-by would misorder.
    edges = [(c, s) for c in (1, 2, 10) for s in (1, 2)] + [(3, 3), (4, 4)]
    df = spark.createDataFrame(edges, "c bigint, s bigint")
    str_edges = df.selectExpr(
        "concat('c', c) AS src", "concat('s', s) AS dst"
    )
    int_edges = df.selectExpr(
        "CAST(2 * c + 1 AS BIGINT) AS src", "CAST(2 * s AS BIGINT) AS dst"
    )
    decode = (
        "CASE WHEN node % 2 = 1"
        " THEN concat('c', CAST((node - 1) DIV 2 AS STRING))"
        " ELSE concat('s', CAST(node DIV 2 AS STRING)) END"
    )
    want = hits_scores(str_edges, iterations=2, k=50).collect()
    got = hits_scores(
        int_edges, iterations=2, k=50, node_decode=decode
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sql_over_multi_reference_persisted_explode_reads_cache(spark):
    """A persisted frame whose plan contains a Generate (explode),
    referenced twice in one sql_over statement, must read the CACHE on
    both references — the raw CacheManager lookup misses this shape (the
    analyzer's relation dedup re-instances the generator output), which
    silently re-derived the whole pipeline per reference before r12's
    cache_scan binding."""
    from obsplus_spark.util import sql_over

    base = spark.createDataFrame(
        [(1, [1, 2, 2]), (2, [2, 3])], "id bigint, xs array<bigint>"
    )
    tf = sql_over(
        {"d": base},
        "SELECT id, x, CAST(count(1) AS BIGINT) AS c"
        " FROM (SELECT id, explode(xs) AS x FROM {d}) GROUP BY id, x",
    ).persist()
    try:
        out = sql_over(
            {"t": tf},
            """
            WITH tot AS (SELECT x, CAST(sum(c) AS BIGINT) AS n
                         FROM {t} GROUP BY x)
            SELECT t.id, CAST(sum(t.c * n.n) AS BIGINT) AS s
            FROM {t} t JOIN tot n ON t.x = n.x GROUP BY t.id
            """,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, plan
        got = {(r.id, r.s) for r in out.collect()}
        # by hand: counts per (id,x): (1,1)->1,(1,2)->2,(2,2)->1,(2,3)->1
        # totals: x=1 ->1, x=2 ->3, x=3 ->1
        assert got == {(1, 1 * 1 + 2 * 3), (2, 1 * 3 + 1 * 1)}
    finally:
        tf.unpersist()


def test_cache_scan_survives_rebuild_after_execution(spark):
    """cache_scan must keep substituting on RE-constructions after the
    first execution: the CacheManager stores NORMALIZED plans, and the
    temp-view rebind between constructions shifts the raw analyzed
    tree's canonical form — an analyzed-plan lookup matched only the
    very first build, so every later rep of a rebuild-set query
    silently re-derived its persisted pipeline (observed on
    bigram_lp: 4 corpus passes per rep at 10×)."""
    from obsplus_spark.util import sql_over

    from obsplus_spark.operators.text import bigram_logprob

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} beta gamma") for i in range(40)],
        "doc_id bigint, text string",
    )

    def tf_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the tf table feeds 4 references (vocab agg, probe side,
        # left-context, V) — all must be cache reads
        return plan.count("InMemoryTableScan")

    first = bigram_logprob(docs)
    want = sorted(map(tuple, first.collect()))  # materializes the cache
    assert tf_scans(first) >= 2
    # rebuild exactly as a per-rep query construction does: fresh
    # Python frames, plan-equivalent persist (adopted by the
    # CacheManager), new statements over them
    again = bigram_logprob(docs)
    assert tf_scans(again) >= 2, (
        "re-construction lost the cache binding:\n"
        + again._jdf.queryExecution().executedPlan().toString()[:4000]
    )
    assert sorted(map(tuple, again.collect())) == want


def test_cache_scan_passthrough_and_identity(spark):
    """cache_scan: unpersisted frames pass through unchanged; persisted
    frames rebind to an InMemoryRelation leaf with identical rows."""
    from obsplus_spark.util import cache_scan

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    assert cache_scan(df) is df
    p = df.persist()
    try:
        scan = cache_scan(p)
        assert scan is not p
        tree = scan._jdf.queryExecution().analyzed().toString()
        assert "InMemoryRelation" in tree
        assert sorted(map(tuple, scan.collect())) == [(1, "a"), (2, "b")]
    finally:
        p.unpersist()
