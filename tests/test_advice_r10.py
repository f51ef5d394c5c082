"""Round-10 ADVICE fixes: containment round-before-compare at the
threshold boundary, the cms_estimates depth guard, and the NULL-doc_id
contract on chunk_dedup / within_doc_dedup (engine and DuckDB oracle
twin drop NULL-id rows identically)."""

import pytest


def test_cms_estimates_rejects_unsupported_depth(spark):
    """The 38-char extended digest supports 16 stride-2 hash windows;
    a depth beyond that used to silently probe truncated-hash buckets
    on the estimate side while the counter side raised."""
    from obsplus_spark.operators.sketches import cms_counters, cms_estimates

    df = spark.createDataFrame([(i % 5,) for i in range(20)], "k long")
    ctr = cms_counters(df, "k", depth=4, width=64)
    with pytest.raises(ValueError, match=r"depth must be in \[1, 16\]"):
        cms_estimates(ctr, df, "k", depth=17, width=64)
    # the supported range still works end-to-end (upper bound property)
    est = {r.k: r.est for r in
           cms_estimates(ctr, df.distinct(), "k", depth=4, width=64).collect()}
    assert all(est[k] >= 4 for k in est)


def test_containment_filters_on_rounded_ratio():
    """The keep/drop decision must be computed from the 6-dp ROUNDED
    c1/c2 the output (and the oracle twin) carries — never the raw
    ratios, which can sit within 5e-7 of the threshold and diverge.
    round(x, 6) is exactly representable at the boundary, so pinning
    the generated SQL's WHERE to the rounded aliases pins the
    convention."""
    import inspect

    from obsplus_spark.operators import dedup

    src = inspect.getsource(dedup.containment_pairs)
    assert "WHERE greatest(c1, c2) >=" in src
    # the raw-ratio filter shape must not come back
    assert "greatest(n_inter" not in src


def test_rounded_threshold_semantics(spark):
    """Boundary arithmetic the fix relies on: a raw ratio within 5e-7
    below the threshold rounds UP to it at 6 dp and is kept; one
    further below rounds down and is dropped — on both engines."""
    import duckdb

    expr = "round(1999998.0 / 3999997.0, 6) >= 0.5"  # raw ≈ 0.49999987
    lo = "round(1999996.0 / 3999997.0, 6) >= 0.5"    # raw ≈ 0.49999937
    srow = spark.sql(f"SELECT {expr} AS hi, {lo} AS lo").collect()[0]
    con = duckdb.connect()
    try:
        drow = con.execute(f"SELECT {expr} AS hi, {lo} AS lo").fetchone()
    finally:
        con.close()
    assert (srow.hi, srow.lo) == (True, False)
    assert tuple(drow) == (True, False)


@pytest.fixture(scope="module")
def null_id_docs(spark, tmp_path_factory):
    """Tiny documents table with a NULL doc_id row, written to parquet
    so the DuckDB oracle twin reads the identical bytes."""
    d = tmp_path_factory.mktemp("null_id_docs")
    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta gamma delta", "en", "s0", 33),
            (2, "alpha beta epsilon zeta", "en", "s0", 23),
            (None, "alpha beta alpha beta", "en", "s1", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_chunk_dedup_null_id_contract(spark, null_id_docs):
    """NULL-id rows are dropped (no join identity): the engine GROUP BY
    must not emit a collapsed NULL-id aggregate row, and the oracle's
    LEFT JOIN must not emit a phantom (0, 0, '') row."""
    import duckdb

    import __spark_entry__ as entrymod
    from obsplus_spark.operators.dedup import chunk_dedup
    from obsplus_spark.operators.text import within_doc_dedup

    docs = spark.read.parquet(f"{null_id_docs}/documents.parquet")
    for fn, kw in ((chunk_dedup, {"chunk_tokens": 2}),
                   (within_doc_dedup, {"chunk_tokens": 2})):
        rows = {r.doc_id: r for r in fn(docs, **kw).collect()}
        assert set(rows) == {1, 2}, fn.__name__
        assert rows[1].n_chunks == 3 and rows[2].n_chunks == 2

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{null_id_docs}/documents.parquet/*.parquet')"
        )
        for key in ("chunk_dedup", "within_doc_dedup"):
            sql = entrymod.oracle_sql()[key]
            ids = [r[0] for r in
                   con.execute(f"SELECT doc_id FROM ({sql})").fetchall()]
            assert sorted(ids) == [1, 2], key
    finally:
        con.close()


def test_chunk_dedup_engine_matches_oracle_on_null_id(spark, null_id_docs):
    """Full-row engine/oracle agreement on the NULL-id corpus for the
    corpus-level variant (first occurrence ordered by (id, pos))."""
    import duckdb

    from corpus import dedup as entrymod
    from obsplus_spark.operators.dedup import chunk_dedup

    docs = spark.read.parquet(f"{null_id_docs}/documents.parquet")
    got = sorted(
        (r.doc_id, r.n_chunks, r.n_kept, r.clean_text)
        for r in chunk_dedup(docs, chunk_tokens=2).collect()
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{null_id_docs}/documents.parquet/*.parquet')"
        )
        # regenerate the oracle at the test's chunk width
        sql = entrymod._chunk_dedup_sql(2, within_doc=False)
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()
    assert got == want
