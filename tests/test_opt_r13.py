"""Optimization-round (r13) contracts: changes that alter operator
internals for performance must keep results identical."""


def test_dedup_clusters_edges_bind_to_cache_without_checkpoint(spark):
    """r13: dedup_clusters persists its edge frame WITHOUT a
    plan-truncating RDD rebind — sql_over's cache_scan binding must make
    every rounds-statement reference an InMemoryTableScan (no
    ExistingRDD, no re-derivation of the pair pipeline), and the labels
    must match the unpersisted full-lineage path."""
    from obsplus_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id1 bigint, id2 bigint",
    )
    out = dedup_clusters(pairs, max_iterations=3)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # rounds + guard reference the edge view once per round; each must
    # be a cache read (the createDataFrame source inside the cached
    # relation's own dump legitimately shows an ExistingRDD leaf, so
    # the pin is on the reference shape, not on that string)
    assert plan.count("InMemoryTableScan") >= 3, plan
    got = sorted((r.id, r.cluster_id) for r in out.collect())
    assert got == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    ]


def test_standardize_query_serialization_matches_operator(spark):
    """r13: q_standardize serializes the standardized vector to a
    comma-joined DECIMAL(28,6) string for the verification harness; the
    string must decode to exactly the operator's 6-dp array values."""
    import __spark_entry__ as em
    from corpus.common import _t
    from obsplus_spark.operators.similarity import standardize_embeddings

    sf_dir = "/root/testdata/sf0.001"
    q = em.queries()["standardize"](spark, sf_dir)
    assert dict(q.dtypes)["embedding"] == "string"
    arr = standardize_embeddings(
        _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    got = {r.vec_id: r.embedding for r in q.collect()}
    want = {r.vec_id: r.embedding for r in arr.collect()}
    assert set(got) == set(want)
    for vid, s in got.items():
        decoded = [float(x) for x in s.split(",")]
        # elements are 6-dp rounded doubles; the decimal round-trip is
        # exact up to -0.0 (serialized as 0.000000 on both engines)
        assert decoded == [0.0 if v == 0 else v for v in want[vid]]
