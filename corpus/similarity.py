"""Embedding queries: exact and approximate nearest neighbours (IVF,
LSH, PQ), quantization, clustering, drift and rank fusion."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus.common import _bm25_sql, _t


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (ANN baseline)."""
    from obsplus_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_KNN = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id < 5
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    s AS (
      SELECT query_id, vec_id,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v CROSS JOIN q
    ),
    r AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 10
"""


def q_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assign + probe (ANN scale path) with nprobe = n_clusters: every
    inverted list is scanned, so the result is exactly brute-force top-k —
    the invariant that makes the approximate structure oracle-checkable."""
    from obsplus_spark.operators.similarity import ivf_assign, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    assignments, centroids = ivf_assign(
        emb, n_clusters=4, refine_iterations=0, folded=True
    )
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(assignments, centroids, queries, k=8, nprobe=4)
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_IVF = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id >= 5 AND vec_id < 10
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    s AS (
      SELECT query_id, vec_id,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v CROSS JOIN q
    ),
    r AS (
      SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 8
"""


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over label blocks: per-block
    gram matrix via an Arrow-batched pandas UDF (the dense-similarity
    scale shape — one BLAS matmul per block, one shuffle on the block
    key)."""
    from obsplus_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup(emb, threshold=0.33, block_col="label")
    return out.select(
        "id1", "id2", F.round(F.col("cosine_sim"), 6).alias("cosine_sim")
    )


_SQL_EMBED_ND = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    p AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             coalesce(list_dot_product(a.ev, b.ev)
               / nullif(sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)), 0), 0) AS c
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id1, id2, round(c, 6) AS cosine_sim
    FROM p WHERE c >= 0.33
"""


# ---------------------------------------------------------------------------
# §2.3/§2.10 LSH ANN (hyperplane-sign buckets — the scale path of cosine
# search). The bucketed computation is deterministic given literal
# hyperplanes, so it is exactly SQL-expressible: the oracle is the same
# bucket-join + rank, not exact top-k (an ANN's contract is its structure).
# ---------------------------------------------------------------------------

_LSH_DIM = 64
#: 4 deterministic integer hyperplanes (values −3..3) → ≤16 buckets.
_LSH_PLANES = [
    [(((p * _LSH_DIM + d) * 37 + 13) % 7) - 3 for d in range(_LSH_DIM)]
    for p in range(4)
]


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH top-k (similarity.py cosine_topk_lsh): candidates
    restricted to the query's sign-bucket; one equi-join on the bucket
    string replaces the corpus cross join."""
    from obsplus_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk_lsh(
        emb, queries, [[float(x) for x in h] for h in _LSH_PLANES], k=5
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


def _lsh_sql() -> str:
    def bucket(vec: str) -> str:
        bits = " || ".join(
            "(CASE WHEN list_dot_product({v}, {h}::DOUBLE[]) >= 0"
            " THEN '1' ELSE '0' END)".format(v=vec, h=h)
            for h in _LSH_PLANES
        )
        return f"({bits})"

    return f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS ev,
                 {bucket('embedding::DOUBLE[]')} AS bucket
          FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        ),
        q AS (
          SELECT vec_id AS query_id, ev AS qv, bucket
          FROM v WHERE vec_id >= 5 AND vec_id < 10
        ),
        s AS (
          SELECT q.query_id, v.vec_id,
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) AS sim
          FROM v JOIN q ON v.bucket = q.bucket
        ),
        r AS (
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM s
        )
        SELECT query_id, vec_id, rank, round(sim, 6) AS cosine_sim
        FROM r WHERE rank <= 5
    """


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@8 of a TRUE approximation (IVF nprobe=2 of 4 clusters —
    half the corpus unscanned per query) against exact brute-force top-8:
    the tuning measurement an ANN deployment runs before picking nprobe.
    The oracle replicates the full IVF structure (seed centroids, argmax
    assignment, probe ranking, in-list top-k) in SQL."""
    from obsplus_spark.operators.similarity import (
        ann_recall_at_k,
        cosine_topk,
        ivf_assign,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assignments, centroids = ivf_assign(
        emb, n_clusters=4, refine_iterations=0, folded=True
    )
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = ivf_topk(assignments, centroids, queries, k=8, nprobe=2)
    exact = cosine_topk(emb, queries, k=8)
    return ann_recall_at_k(approx, exact, k=8)


_SQL_ANN_RECALL = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    q AS (SELECT vec_id AS query_id, ev AS qv
          FROM v WHERE vec_id >= 5 AND vec_id < 10),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(q.qv, c.c)
               / nullif(c.nrm, 0), 0) DESC, c.cluster) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a.vec_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC,
                 a.vec_id) AS rn
        FROM probe p
        JOIN asg a ON a.cluster = p.cluster
        JOIN v ON v.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
      ) WHERE rn <= 8
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(v.ev, q.qv)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 0) DESC,
                 v.vec_id) AS rn
        FROM v CROSS JOIN q
      ) WHERE rn <= 8
    )
    , hits AS (
      SELECT a.query_id, count(*) AS n_hits
      FROM approx a
      JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY a.query_id
    )
    SELECT qq.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 8.0, 6) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM approx) qq
    LEFT JOIN hits h ON h.query_id = qq.query_id
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4× ANN memory cut): per-
    vector max-abs scale, explicit half-up rounding (portable across
    engine round() conventions). Map-only at any scale; the oracle
    replays the same formulas with DuckDB list lambdas."""
    from obsplus_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    return q.selectExpr(
        "vec_id",
        "CAST(size(codes) AS BIGINT) AS n_dims",
        "CAST(aggregate(codes, 0, (a, c) -> a + c) AS BIGINT) AS sum_codes",
        "CAST(aggregate(codes, 0, (a, c) -> a + abs(c)) AS BIGINT)"
        " AS sum_abs_codes",
        "CAST(array_max(codes) AS BIGINT) AS max_code",
        "round(scale, 9) AS scale",
    )


_SQL_QUANTIZE = """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS amax,
             embedding
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    c AS (
      SELECT vec_id, amax,
             CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / amax * 127.0 + 0.5)
                              AS INT)) END AS codes
      FROM q
    )
    SELECT vec_id,
           CAST(len(codes) AS BIGINT) AS n_dims,
           CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS sum_codes,
           CAST(coalesce(list_sum(list_transform(codes, c -> abs(c))), 0)
             AS BIGINT) AS sum_abs_codes,
           CAST(list_max(codes) AS BIGINT) AS max_code,
           round(amax / 127.0, 9) AS scale
    FROM c
"""


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding outlier screen — operators/similarity.py
    embedding_outliers: (label, dim)-keyed map-combined centroid
    aggregate (the explode collapses before the exchange), broadcast
    centroids, map-only cosine scoring; centroids 6-dp rounded before
    the dot so the flag is engine-portable."""
    from obsplus_spark.operators.similarity import embedding_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, threshold=0.2)


_SQL_EMBED_OUTLIERS = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    ex AS (
      SELECT label, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
      FROM v
    ),
    cent AS (
      SELECT label, pos, round(avg(x), 6) AS m
      FROM ex GROUP BY label, pos
    ),
    cvec AS (
      SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label
    )
    SELECT vec_id, label, cos_centroid, cos_centroid < 0.2 AS is_outlier
    FROM (
      SELECT v.vec_id, v.label,
             round(coalesce(list_dot_product(ev, c)
               / nullif(sqrt(list_dot_product(ev, ev))
                        * sqrt(list_dot_product(c, c)), 0), 0), 6)
               AS cos_centroid
      FROM v JOIN cvec USING (label)
    )
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query vector, top-10 most-similar
    corpus vectors with a DIFFERENT label (labeled twin of knn_cosine —
    broadcast queries, same-class rows filtered in the join before the
    rank)."""
    from obsplus_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = hard_negatives(emb, queries, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cosine_sim"), 6).alias("cosine_sim"),
    )


_SQL_HARDNEG = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             label AS qlabel
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND vec_id < 5
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    s AS (
      SELECT query_id, vec_id, v.label,
             coalesce(list_dot_product(ev, qv)
               / nullif(sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv)), 0), 0)
               AS sim
      FROM v JOIN q ON v.label != q.qlabel
    ),
    r AS (
      SELECT query_id, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM s
    )
    SELECT query_id, vec_id, CAST(label AS BIGINT) AS label, rank,
           round(sim, 6) AS cosine_sim
    FROM r WHERE rank <= 10
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement of deterministic spherical k-means (seeds =
    4 lowest vec_ids, argmax-cosine assignment): broadcast seed fold,
    map-only assign, ONE (cluster, dim)-keyed hash aggregate carrying
    both the refined means and the member counts."""
    from obsplus_spark.operators.similarity import kmeans_refine_stats

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_refine_stats(emb, n_clusters=4)


_SQL_KMEANS = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    m AS (
      SELECT cluster, dim, ev[dim + 1] AS x
      FROM (SELECT a.cluster, v.ev, unnest(range(len(v.ev))) AS dim
            FROM asg a JOIN v ON v.vec_id = a.vec_id)
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(1) AS BIGINT) AS n_members,
           CAST(dim AS BIGINT) AS dim,
           round(avg(x), 6) AS centroid
    FROM m GROUP BY cluster, dim
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (8 subspaces × 4 deterministic
    codebook entries): codebook folds to one broadcast array row,
    encoding is a map-only in-row argmin — zero corpus shuffles."""
    from obsplus_spark.operators.similarity import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    return pq_encode(emb, m=8, n_codes=4)


_SQL_PQ = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ev AS cv
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    d AS (
      SELECT v.vec_id, u.s AS sub, sd.code,
             round(list_sum(list_transform(range(1, 9), i ->
               (ev[CAST(u.s * 8 + i AS INT)] - cv[CAST(u.s * 8 + i AS INT)])
               * (ev[CAST(u.s * 8 + i AS INT)] - cv[CAST(u.s * 8 + i AS INT)])
             )), 9) AS dist
      FROM v, unnest(range(0, 8)) AS u(s), seeds sd
    )
    SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
    FROM (
      SELECT vec_id, sub, code,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY dist, code) AS rn
      FROM d
    ) WHERE rn = 1
"""


def q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (the FAISS-style two-level quantization): broadcast
    centroid + codebook folds, map-only corpus encode, per-query in-row
    ADC tables, cluster equi-join candidates, WindowGroupLimit
    top-rerank on the ADC estimate, exact re-rank of the survivors. The
    oracle replays the full structure (assignment, codes, probe lists,
    ADC cells, re-rank) in SQL."""
    from obsplus_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_pq_topk(
        emb, n_clusters=4, nprobe=2, m=8, n_codes=4, rerank=32, k=8,
        queries=queries,
    )


_SQL_IVF_PQ = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, ev AS cv
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT 4)
    ),
    q AS (SELECT vec_id AS query_id, ev AS qv
          FROM v WHERE vec_id >= 5 AND vec_id < 10),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT v.vec_id, u.s AS sub, cb.code,
               row_number() OVER (PARTITION BY v.vec_id, u.s ORDER BY
                 round(list_sum(list_transform(range(1, 9), i ->
                   (ev[CAST(u.s * 8 + i AS INT)]
                      - cv[CAST(u.s * 8 + i AS INT)])
                   * (ev[CAST(u.s * 8 + i AS INT)]
                      - cv[CAST(u.s * 8 + i AS INT)]))), 9),
                 cb.code) AS rn
        FROM v, unnest(range(0, 8)) AS u(s), cb
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cluster FROM (
        SELECT q.query_id, c.cluster,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 coalesce(list_dot_product(q.qv, c.c)
               / nullif(c.nrm, 0), 0) DESC, c.cluster) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    tbl AS (
      SELECT q.query_id, u.s AS sub, cb.code,
             round(list_sum(list_transform(range(1, 9), i ->
               (qv[CAST(u.s * 8 + i AS INT)]
                  - cv[CAST(u.s * 8 + i AS INT)])
               * (qv[CAST(u.s * 8 + i AS INT)]
                  - cv[CAST(u.s * 8 + i AS INT)]))), 9) AS d
      FROM q, unnest(range(0, 8)) AS u(s), cb
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, round(sum(t.d), 6) AS adc
      FROM probe p
      JOIN asg a ON a.cluster = p.cluster
      JOIN codes c ON c.vec_id = a.vec_id
      JOIN tbl t ON t.query_id = p.query_id
               AND t.sub = c.sub AND t.code = c.code
      GROUP BY p.query_id, a.vec_id
    ),
    rer AS (
      SELECT r.query_id, r.vec_id,
             round(list_sum(list_transform(range(1, len(v.ev) + 1), i ->
               (v.ev[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
               * (v.ev[CAST(i AS INT)] - q.qv[CAST(i AS INT)]))), 6)
               AS l2_sq
      FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY adc, vec_id) AS rr
        FROM cand
      ) r
      JOIN v ON v.vec_id = r.vec_id
      JOIN q ON q.query_id = r.query_id
      WHERE r.rr <= 32
    )
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, l2_sq
    FROM (
      SELECT query_id, vec_id, l2_sq,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY l2_sq, vec_id) AS rank
      FROM rer
    ) WHERE rank <= 8
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup) over the embeddings table:
    deterministic IVF assignment (broadcast centroids), per-cluster
    BLAS gram pairs, min-id keep rule — every vector labeled
    keep/duplicate (operators/similarity.py semantic_dedup)."""
    from obsplus_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=4, threshold=0.3)
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        "is_dup",
        "dup_of",
    )


_SQL_SEMANTIC_DEDUP = """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    cents AS (
      -- seeds by RANK (the 4 smallest ids), matching the Spark side's
      -- ORDER BY id LIMIT k — not by id VALUE, which would silently
      -- assume dense vec_ids starting at 0
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0), 0) DESC,
                 c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    vv AS (
      SELECT a.vec_id, a2.cluster AS cluster, a.ev,
             sqrt(list_dot_product(a.ev, a.ev)) AS nrm
      FROM v a JOIN asg a2 USING (vec_id)
    ),
    dup AS (
      SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
      FROM vv a JOIN vv b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE coalesce(list_dot_product(a.ev, b.ev)
               / nullif(a.nrm * b.nrm, 0), 0) >= 0.3
      GROUP BY b.vec_id
    )
    SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
           d.dup_of IS NOT NULL AS is_dup, d.dup_of
    FROM asg s LEFT JOIN dup d ON s.vec_id = d.vec_id
"""


def q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization —
    operators/similarity.py standardize_embeddings: one map-combined
    dim-keyed aggregate folded to a one-row broadcast stats frame,
    then a pure in-row transform; 6-dp house rounding on the
    cross-row means AND the output elements.

    Verification surface (r13): the standardized vector is serialized to
    a comma-joined DECIMAL(28,6) string. The driver's canonicalizer
    sorts result columns with pandas and cannot factorize a list-typed
    cell (CORRECTNESS_r12 recorded exactly that TypeError), so the
    declared query and its oracle twin emit the deterministic string
    form; the operator itself keeps returning the array. DECIMAL
    rendering is verified identical between Spark and DuckDB (incl.
    -0.0 -> "0.000000"); elements are already 6-dp rounded, so the
    cast is exact."""
    from obsplus_spark.operators.similarity import standardize_embeddings
    from obsplus_spark.util import sql_over

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    z = standardize_embeddings(emb)
    return sql_over(
        {"z": z},
        """
        SELECT vec_id,
               concat_ws(',', transform(embedding,
                 x -> CAST(CAST(x AS DECIMAL(28,6)) AS STRING)))
                 AS embedding
        FROM {z}
        """,
    )


_SQL_STANDARDIZE = """
    WITH ex AS (
      SELECT vec_id, t.i AS pos,
             CAST(embedding[t.i + 1] AS DOUBLE) AS x
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    st AS (
      SELECT pos, round(avg(x), 6) AS m,
             round(stddev_pop(x), 6) AS s
      FROM ex GROUP BY pos
    ),
    z AS (
      SELECT vec_id, pos,
             round(CASE WHEN s = 0e0 THEN 0e0 ELSE (x - m) / s END, 6)
               AS z
      FROM ex JOIN st USING (pos)
    )
    SELECT vec_id,
           string_agg(z::DECIMAL(28,6)::VARCHAR, ',' ORDER BY pos)
             AS embedding
    FROM z GROUP BY vec_id
"""


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots —
    operators/similarity.py centroid_drift: (label, dim) map-combined
    centroid folds + |labels|-row broadcast joins; snapshots = even vs
    odd vec_id halves of the embeddings table."""
    from obsplus_spark.operators.similarity import centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_drift(
        emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1")
    )


_SQL_CENTROID_DRIFT = """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND label IS NOT NULL
    ),
    ca AS (
      SELECT label, list(m ORDER BY pos) AS c FROM (
        SELECT label, pos, round(avg(x), 6) AS m FROM (
          SELECT label, generate_subscripts(ev, 1) AS pos,
                 unnest(ev) AS x
          FROM v WHERE vec_id % 2 = 0
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    cb AS (
      SELECT label, list(m ORDER BY pos) AS c FROM (
        SELECT label, pos, round(avg(x), 6) AS m FROM (
          SELECT label, generate_subscripts(ev, 1) AS pos,
                 unnest(ev) AS x
          FROM v WHERE vec_id % 2 = 1
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    na AS (SELECT label, CAST(count(1) AS BIGINT) AS n_a
           FROM v WHERE vec_id % 2 = 0 GROUP BY label),
    nb AS (SELECT label, CAST(count(1) AS BIGINT) AS n_b
           FROM v WHERE vec_id % 2 = 1 GROUP BY label)
    SELECT ca.label,
           round(coalesce(list_dot_product(ca.c, cb.c)
             / nullif(sqrt(list_dot_product(ca.c, ca.c))
                      * sqrt(list_dot_product(cb.c, cb.c)), 0), 0), 6)
             AS cos_drift,
           na.n_a, nb.n_b
    FROM ca JOIN cb USING (label)
            JOIN na USING (label) JOIN nb USING (label)
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of lexical + semantic retrieval —
    operators/similarity.py rrf_fusion over a BM25 top-50 (query
    {spark, merge, vector}) and a cosine top-50 (probe = vec_id 0):
    per-list single-partition ranks on candidate cuts, full-outer
    fuse, TakeOrdered top-20."""
    from obsplus_spark.operators.similarity import cosine_topk, rrf_fusion
    from obsplus_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    la = bm25_scores(docs, ["spark", "merge", "vector"], k=50).selectExpr(
        "doc_id", "score AS s"
    )
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec"
    )
    lb = cosine_topk(emb, probe, k=50).selectExpr(
        "vec_id AS doc_id", "cosine_sim AS s"
    )
    return rrf_fusion(la, lb, id_col="doc_id", score_col="s", topk=20)


def _rrf_sql(k: int = 60, topk: int = 20, n: int = 50) -> str:
    """DuckDB twin of q_rrf_fusion: the BM25 CTE (lockstep with
    _bm25_sql at k=50) + a one-probe cosine top-50 + the rank fuse."""
    bm25 = _bm25_sql(["spark", "merge", "vector"], k=n)
    return f"""
    WITH la AS ({bm25}),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ),
    q AS (SELECT ev AS qv FROM v WHERE vec_id = 0),
    lb AS (
      SELECT vec_id AS doc_id, s FROM (
        SELECT vec_id, s,
               row_number() OVER (ORDER BY s DESC, vec_id) AS rn
        FROM (
          SELECT v.vec_id,
                 coalesce(list_dot_product(ev, qv)
                   / nullif(sqrt(list_dot_product(ev, ev))
                            * sqrt(list_dot_product(qv, qv)), 0), 0)
                   AS s
          FROM v CROSS JOIN q
        )
      ) WHERE rn <= {n}
    ),
    ra AS (
      SELECT doc_id AS _id,
             CAST(row_number() OVER (ORDER BY round(score, 6) DESC,
                                     doc_id) AS BIGINT) AS rank_a
      FROM la WHERE doc_id IS NOT NULL AND score IS NOT NULL
    ),
    rb AS (
      SELECT doc_id AS _id,
             CAST(row_number() OVER (ORDER BY round(s, 6) DESC,
                                     doc_id) AS BIGINT) AS rank_b
      FROM lb WHERE doc_id IS NOT NULL AND s IS NOT NULL
    )
    SELECT coalesce(ra._id, rb._id) AS doc_id, rank_a, rank_b,
           round(coalesce(1.0 / ({k} + rank_a), 0)
                 + coalesce(1.0 / ({k} + rank_b), 0), 9) AS rrf_score
    FROM ra FULL OUTER JOIN rb ON ra._id = rb._id
    ORDER BY rrf_score DESC, coalesce(ra._id, rb._id)
    LIMIT {topk}
    """


def q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-coordinate covariance cells (dims 0..7) —
    operators/similarity.py embedding_covariance: in-row pair products
    into ONE cell-keyed map-combined aggregate; final assembly joins
    dims²-sized frames. The decorrelation diagnostic before PCA/PQ."""
    from obsplus_spark.operators.similarity import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, dims=8)


_SQL_EMBED_COV = """
    WITH v AS (
      SELECT embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 8
    ),
    px AS (
      SELECT ii.i AS i, jj.j AS j,
             round(avg(ev[ii.i + 1] * ev[jj.j + 1]), 6) AS pp,
             CAST(count(1) AS BIGINT) AS n
      FROM v, unnest(range(8)) AS ii(i), unnest(range(8)) AS jj(j)
      WHERE jj.j >= ii.i
      GROUP BY ii.i, jj.j
    ),
    m AS (
      SELECT pos.i AS pos, round(avg(ev[pos.i + 1]), 6) AS mu
      FROM v, unnest(range(8)) AS pos(i)
      GROUP BY pos.i
    )
    SELECT CAST(px.i AS INT) AS i, CAST(px.j AS INT) AS j,
           round(pp - mi.mu * mj.mu, 6) AS cov, n
    FROM px JOIN m mi ON px.i = mi.pos
            JOIN m mj ON px.j = mj.pos
"""


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion/separation report — operators/similarity.py
    cluster_quality over the deterministic 4-cluster seed k-means:
    map-only assignment, one cluster-keyed map-combined cohesion
    aggregate, k×k centroid separation join."""
    from obsplus_spark.operators.similarity import cluster_quality

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_quality(emb, n_clusters=4)


_SQL_CLUSTER_QUALITY = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster, ev AS c,
             sqrt(list_dot_product(ev, ev)) AS nrm
      FROM (SELECT vec_id, ev FROM v ORDER BY vec_id LIMIT 4)
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0),
                 0) DESC, c.cluster) AS rn
        FROM v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    coh AS (
      SELECT a.cluster, CAST(count(1) AS BIGINT) AS n_members,
             round(avg(coalesce(list_dot_product(v.ev, c.c)
               / nullif(sqrt(list_dot_product(v.ev, v.ev)) * c.nrm, 0),
               0)), 6) AS cohesion
      FROM asg a JOIN v ON v.vec_id = a.vec_id
                 JOIN cents c ON c.cluster = a.cluster
      GROUP BY a.cluster
    ),
    sep AS (
      SELECT c1.cluster,
             round(max(coalesce(list_dot_product(c1.c, c2.c)
               / nullif(c1.nrm * c2.nrm, 0), 0)), 6) AS max_other_cos
      FROM cents c1 JOIN cents c2 ON c1.cluster <> c2.cluster
      GROUP BY c1.cluster
    )
    SELECT CAST(c.cluster AS INT) AS cluster,
           CAST(coalesce(coh.n_members, 0) AS BIGINT) AS n_members,
           coh.cohesion, sep.max_other_cos
    FROM cents c
    LEFT JOIN coh ON coh.cluster = c.cluster
    LEFT JOIN sep ON sep.cluster = c.cluster
"""


def q_dim_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation-quality evaluation —
    operators/similarity.py dim_truncation_eval: how the first-d-dims
    cosine tracks the full cosine over deterministic consecutive-id
    probe pairs; one keyed self equi-join, widths explode in-row."""
    from obsplus_spark.operators.similarity import dim_truncation_eval

    emb = _t(spark, sf_dir, "embeddings")
    return dim_truncation_eval(emb, dims=(8, 16, 32))


_SQL_DIM_TRUNC = """
    WITH p AS (
      SELECT a.vec_id AS pid, a.embedding AS va, b.embedding AS vb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    e AS (
      SELECT p.pid, g.i,
             CAST(va[CAST(g.i AS INTEGER)] AS DOUBLE) AS xa,
             CAST(vb[CAST(g.i AS INTEGER)] AS DOUBLE) AS xb
      FROM p, generate_series(1, 4096) AS g(i)
      WHERE g.i <= len(va)
    ),
    s AS (
      SELECT e.pid, d.dim,
             sum(CASE WHEN e.i <= d.dim THEN xa * xb END) AS dot_d,
             sum(CASE WHEN e.i <= d.dim THEN xa * xa END) AS na_d,
             sum(CASE WHEN e.i <= d.dim THEN xb * xb END) AS nb_d,
             sum(xa * xb) AS dot_f,
             sum(xa * xa) AS na_f,
             sum(xb * xb) AS nb_f
      FROM e, (VALUES (8), (16), (32)) AS d(dim)
      GROUP BY e.pid, d.dim
    ),
    c AS (
      SELECT dim,
             dot_d / nullif(sqrt(na_d) * sqrt(nb_d), 0e0) AS c_d,
             dot_f / nullif(sqrt(na_f) * sqrt(nb_f), 0e0) AS c_full
      FROM s
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(c_d - c_full)), 6) AS mae,
           round(avg(CASE WHEN (c_d >= 0) = (c_full >= 0)
                          THEN 1e0 ELSE 0e0 END), 6) AS sign_agree
    FROM c
    WHERE c_d IS NOT NULL AND c_full IS NOT NULL
    GROUP BY dim
    ORDER BY dim
"""


QUERIES = [
    (q_knn_cosine, _SQL_KNN),
    (q_ivf_flat, _SQL_IVF),
    (q_embed_near_dup, _SQL_EMBED_ND),
    (q_lsh_ann, _lsh_sql()),
    (q_ann_recall, _SQL_ANN_RECALL),
    (q_embed_quantize, _SQL_QUANTIZE),
    (q_embed_outliers, _SQL_EMBED_OUTLIERS),
    (q_hard_negatives, _SQL_HARDNEG),
    (q_kmeans_step, _SQL_KMEANS),
    (q_pq_codes, _SQL_PQ),
    (q_ivf_pq, _SQL_IVF_PQ),
    (q_semantic_dedup, _SQL_SEMANTIC_DEDUP),
    (q_standardize, _SQL_STANDARDIZE),
    (q_centroid_drift, _SQL_CENTROID_DRIFT),
    (q_rrf_fusion, _rrf_sql()),
    (q_embed_cov, _SQL_EMBED_COV),
    (q_cluster_quality, _SQL_CLUSTER_QUALITY),
    (q_dim_trunc, _SQL_DIM_TRUNC),
]
