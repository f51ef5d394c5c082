"""Similarity search over embedding columns (``array<float>``).

North-star scale extension: brute-force cosine top-k as the correctness
baseline, and an LSH-bucketed variant (random-hyperplane signs) as the scale
path. All vector math is built-in higher-order functions (``zip_with`` /
``aggregate``) — JVM-side, no Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Ordered sequential double dot product (deterministic fp)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Zero-norm-safe cosine: a zero vector (a padding row, a failed
    encoder) is DEFINED as similarity 0 to everything — the raw ratio
    is a DIVIDE_BY_ZERO abort under ANSI, and one such row in a real
    corpus would kill the whole job. ``nullif`` makes the divisor NULL
    (never 0) and ``coalesce`` maps the NULL ratio to 0; for nonzero
    norms the float path is bit-identical to the unguarded form."""
    prod = F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))
    return F.coalesce(dot(a, b) / prod, F.lit(0.0))


def _cosine_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`cosine` (identical fp order, same
    zero-norm → 0 rule)."""
    return (
        "coalesce("
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
        f" / nullif(sqrt(aggregate({a}, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        f" * sqrt(aggregate({b}, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0D)"
        ", 0.0D)"
    )


def valid_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rows whose ``vec_col`` is a usable vector: non-NULL AND
    non-empty. The CONTRACT of every similarity operator (r8): a NULL
    or empty embedding is a malformed row (failed encoder, bad join),
    EXCLUDED up front — DuckDB's ``list_dot_product`` hard-errors on
    NULL lists, so one such row would otherwise crash the oracle gate;
    and a 0-dim "vector" has no geometry to rank. A ZERO-NORM vector
    is a VALID vector and stays: it is defined as similarity 0 to
    everything (see :func:`cosine`)."""
    return df.where(f"{vec_col} IS NOT NULL AND size({vec_col}) > 0")


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    sim_col: str = "cosine_sim",
) -> DataFrame:
    """Brute-force exact top-k by cosine: broadcast queries × all vectors.

    The scan side stays partition-parallel; each partition computes local
    similarities, the window rank shuffles only on ``query_id`` (queries ≪
    corpus). Ties break on ``id_col`` for determinism.
    """
    from obsplus_spark.util import sql_over

    # ONE SQL statement (incl. the window) = one Catalyst analysis — the
    # chained Column-object formulation cost ~0.2 s of driver time per
    # plan build
    return sql_over(
        {
            "v": valid_vectors(vectors, vec_col),
            "q": valid_vectors(queries, query_vec_col),
        },
        f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {query_id_col}
                      ORDER BY {sim_col} DESC, {id_col} ASC) AS rank
          FROM (
            SELECT /*+ BROADCAST(q) */ {query_id_col}, {id_col},
                   {_cosine_sql(vec_col, query_vec_col)} AS {sim_col}
            FROM {{v}} v CROSS JOIN {{q}} q
          )
        ) WHERE rank <= {int(k)}
        """,
    )


def _refine_fold_sql(vec_col: str) -> str:
    """One Lloyd step fused with the centroid fold, as one SQL statement
    over an assignments view ``{a}``: element-wise mean per cluster
    (posexplode → avg → rebuild), folded straight into the one-row
    ``_cents`` array :func:`ivf_topk` consumes."""
    return f"""
        WITH m AS (
          SELECT cluster, pos, avg(CAST(x AS DOUBLE)) AS m
          FROM (SELECT cluster, posexplode({vec_col}) AS (pos, x) FROM {{a}})
          GROUP BY cluster, pos
        ),
        cent AS (
          SELECT cluster,
                 transform(array_sort(collect_list(named_struct(
                   'pos', pos, 'm', m))), s -> s.m) AS centroid
          FROM m GROUP BY cluster
        )
        SELECT sort_array(collect_list(named_struct(
                 'cluster', cluster, 'centroid', centroid,
                 'nrm', sqrt(aggregate(centroid, 0.0D,
                   (a, x) -> a + x * x))))) AS _cents
        FROM cent
    """


def ivf_assign(
    vectors: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    folded: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic seeding + Lloyd refinement.

    Returns ``(assignments, centroids)``: every vector labeled with its
    nearest centroid (``cluster``), centroids as (cluster, centroid
    array<double>) — or, with ``folded=True``, as the one-row ``_cents``
    array form that :func:`ivf_topk` consumes directly (skips an
    explode → re-fold round trip). Seeding = the first ``n_clusters``
    vectors by id (deterministic, no RNG). At corpus scale this is the
    standard one-pass IVF build: centroids are broadcast-sized, the
    corpus is touched ``refine_iterations + 1`` times.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    vectors = ensure_parallelism(valid_vectors(vectors, vec_col))
    # seeds = the n_clusters smallest-id vectors (deterministic, no RNG);
    # ORDER BY + LIMIT is distributed TakeOrdered, never a global window.
    # The seed set is ≤ n_clusters rows, so folding it into ONE array row
    # and deriving cluster ids from the sorted position is a single tiny
    # aggregate — no self-join, no rank. One SQL statement per stage =
    # one Catalyst analysis (the chained formulation cost ~0.3 s of
    # driver time per plan build).
    carr = sql_over(
        {"v": vectors},
        f"""
        SELECT transform(sort_array(collect_list(named_struct(
                 '_k', _sid, 'centroid', centroid))),
               (c, i) -> named_struct('cluster', i + 1,
                 'centroid', c.centroid,
                 'nrm', sqrt(aggregate(c.centroid, 0.0D,
                   (a, x) -> a + x * x)))) AS _cents
        FROM (SELECT {id_col} AS _sid,
                     transform({vec_col}, x -> CAST(x AS DOUBLE)) AS centroid
              FROM {{v}} ORDER BY {id_col} LIMIT {int(n_clusters)})
        """,
    )

    def assign(cents_arr: DataFrame) -> DataFrame:
        # centroids live in ONE broadcast array row; each vector picks its
        # argmax-cosine cluster as a narrow per-row expression. No
        # corpus×K intermediate, no window, no shuffle of the corpus — the
        # only data movement is the one-row centroid array. Ties break to
        # the smallest cluster id (max of (sim, -cluster)). The vector
        # norm is computed in its own projection so it evaluates once per
        # row, not once per centroid.
        return sql_over(
            {"v": vectors, "c": cents_arr},
            f"""
            SELECT {id_col}, {vec_col},
                   CAST(-(_best.nc) AS INT) AS cluster
            FROM (
              SELECT {id_col}, {vec_col},
                     array_max(transform(_cents, c -> named_struct(
                       'sim', coalesce(aggregate(zip_with({vec_col},
                         c.centroid,
                         (x, y) -> cast(x AS double) * y), 0.0D,
                         (a, x) -> a + x) / nullif(_vn * c.nrm, 0.0D),
                         0.0D),
                       'nc', -c.cluster))) AS _best
              FROM (
                SELECT /*+ BROADCAST(c) */ v.{id_col}, v.{vec_col},
                       sqrt(aggregate(v.{vec_col}, 0.0D, (a, x) ->
                         a + cast(x AS double) * cast(x AS double))) AS _vn,
                       c._cents AS _cents
                FROM {{v}} v CROSS JOIN {{c}} c
              )
            )
            """,
        )

    assignments = assign(carr)
    for _ in range(refine_iterations):
        carr = sql_over({"a": assignments}, _refine_fold_sql(vec_col))
        assignments = assign(carr)
    if folded:
        # centroids returned in folded one-row form (accepted verbatim by
        # ivf_topk) — skips the explode → re-fold round trip of the
        # row-form contract
        return assignments, carr
    centroids = carr.select(
        F.inline(
            F.expr(
                "transform(_cents, c ->"
                " named_struct('cluster', c.cluster, 'centroid', c.centroid))"
            )
        )
    )
    return assignments, centroids


def _fold_centroids(
    rows: DataFrame,
    sid_col: str | None = None,
    cluster_col: str | None = None,
) -> DataFrame:
    """Fold ≤K centroid rows into one array row ``_cents`` of
    (cluster, centroid, nrm), sorted by cluster. With ``sid_col`` set the
    cluster ids are assigned 1..K by ascending seed id (single aggregate —
    no self-join rank needed for a bounded seed set). Already-folded
    input (a ``_cents`` column) passes through untouched."""
    if "_cents" in rows.columns:
        return rows
    if sid_col is not None:
        folded = rows.agg(
            F.expr(
                f"sort_array(collect_list(named_struct('_k', {sid_col},"
                " 'centroid', centroid))) AS _s"
            )
        ).select(
            F.expr(
                "transform(_s, (c, i) -> named_struct("
                "'cluster', i + 1, 'centroid', c.centroid,"
                " 'nrm', sqrt(aggregate(c.centroid, 0.0D,"
                " (a, x) -> a + x * x)))) AS _cents"
            )
        )
    else:
        folded = rows.agg(
            F.expr(
                f"sort_array(collect_list(named_struct('cluster', {cluster_col},"
                " 'centroid', centroid,"
                " 'nrm', sqrt(aggregate(centroid, 0.0D, (a, x) -> a + x * x))"
                "))) AS _cents"
            )
        )
    return folded


def ivf_topk(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF probe search: rank centroids per query, scan only ``nprobe``
    inverted lists — the corpus-side join is an equi-join on ``cluster``
    instead of a full cross join (candidate fraction ≈ nprobe/n_clusters).

    The probe list is a per-query array expression (sort the broadcast
    centroid array by cosine, slice nprobe, explode) — map-only, no window
    shuffle; the only shuffle in the whole plan is the final per-query
    top-k rank.
    """
    from obsplus_spark.util import sql_over

    carr = _fold_centroids(centroids, cluster_col="cluster")
    return sql_over(
        {
            "a": assignments,
            "c": carr,
            "q": valid_vectors(queries, query_vec_col),
        },
        f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {query_id_col}
                      ORDER BY cosine_sim DESC, {id_col} ASC) AS rank
          FROM (
            SELECT /*+ BROADCAST(p) */ p.{query_id_col}, a.{id_col},
                   {_cosine_sql(f"a.{vec_col}", f"p.{query_vec_col}")}
                     AS cosine_sim
            FROM {{a}} a JOIN (
              SELECT /*+ BROADCAST(c) */ q.{query_id_col},
                     q.{query_vec_col},
                     explode(transform(slice(sort_array(transform(c._cents,
                       s -> named_struct('ns', -coalesce(aggregate(zip_with(
                         q.{query_vec_col}, s.centroid,
                         (x, y) -> cast(x AS double) * y), 0.0D,
                         (a, x) -> a + x) / nullif(s.nrm, 0.0D), 0.0D),
                         'cluster', s.cluster)))
                       , 1, {int(nprobe)}), s -> s.cluster)) AS cluster
              FROM {{q}} q CROSS JOIN {{c}} c
            ) p ON a.cluster = p.cluster
          )
        ) WHERE rank <= {int(k)}
        """,
    )


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1 < id2, cosine ≥ τ).

    All-pairs cosine is quadratic, so candidates are restricted to a
    blocking key (metadata blocking — same language/source/cluster; or an
    IVF/LSH bucket from :func:`ivf_assign` / :func:`hyperplane_lsh_buckets`
    materialized as a column). Two execution paths:

    - ``blocked`` (default): per-block **gram matrix** via
      ``applyInPandas`` — each block's vectors become one numpy matrix,
      pairs come from a single BLAS matmul. This is the scale shape for
      dense similarity: Arrow-batched, no per-element interpretation, one
      shuffle on the block key; block sizes are bounded by the blocking
      granularity, not corpus size.
    - ``exact``: pure zip_with/aggregate join math — JVM-side, no Python,
      right for small candidate sets.
    """
    vectors = valid_vectors(vectors, vec_col)
    if method == "exact":
        a = vectors.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("id1"),
            F.col(vec_col).alias("_v1"),
        )
        b = vectors.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("id2"),
            F.col(vec_col).alias("_v2"),
        )
        pairs = a.join(b, "_blk").filter(F.col("id1") < F.col("id2"))
        return pairs.select(
            "id1",
            "id2",
            cosine(F.col("_v1"), F.col("_v2")).alias("cosine_sim"),
        ).filter(F.col("cosine_sim") >= threshold)

    import pandas as pd
    from pyspark.sql import types as T

    # id columns inherit the INPUT id dtype (string doc ids are first-
    # class across the dedup stack — a hardcoded `long` here cast-broke
    # them at runtime while the exact path worked)
    id_dt = vectors.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id1", id_dt, True),
            T.StructField("id2", id_dt, True),
            T.StructField("cosine_sim", T.DoubleType(), True),
        ]
    )

    def _gram(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf[id_col].to_numpy()
        x = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        g = xn @ xn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = g[iu, ju] >= threshold
        i, j = iu[keep], ju[keep]
        # elementwise min/max works for numeric AND object (string) ids
        swap = ids[j] < ids[i]
        lo = np.where(swap, ids[j], ids[i])
        hi = np.where(swap, ids[i], ids[j])
        return pd.DataFrame(
            {"id1": lo, "id2": hi, "cosine_sim": g[iu, ju][keep]}
        )

    return (
        vectors.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(_gram, out_schema)
    )


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane sign LSH: bucket id = bit-string of sign(v·h).

    With ``b`` hyperplanes the corpus shards into ≤2^b buckets; ANN then
    probes only the query's bucket (plus optional neighbors) — turning a
    full-scan cross join into an equi-join on ``bucket``. Hyperplanes are
    plan-time literals (broadcast-free), embedded as ONE JVM-parsed
    expression string — the Column-object formulation cost hundreds of
    py4j round-trips (b × dim literal calls) per plan build.
    """
    return valid_vectors(vectors, vec_col).withColumn(
        bucket_col, F.expr(_bucket_sql(hyperplanes, vec_col))
    )


def _bucket_sql(hyperplanes: list[list[float]], vec_col: str) -> str:
    """Sign-bit bucket id as one SQL expression string."""
    bits = ", ".join(
        "CASE WHEN aggregate(zip_with({v}, array({h}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, x) -> a + x) >= 0 "
        "THEN '1' ELSE '0' END".format(
            v=vec_col, h=", ".join(f"{float(x)!r}D" for x in h)
        )
        for h in hyperplanes
    )
    return f"concat({bits})"


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Recall < 1 by construction (an ANN); the oracle for this operator is
    the bucketed computation itself, not exact top-k.
    """
    from obsplus_spark.util import sql_over

    bucket = _bucket_sql(hyperplanes, vec_col)
    qbucket = _bucket_sql(hyperplanes, query_vec_col)
    return sql_over(
        {
            "v": valid_vectors(vectors, vec_col),
            "q": valid_vectors(queries, query_vec_col),
        },
        f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {query_id_col}
                      ORDER BY cosine_sim DESC, {id_col} ASC) AS rank
          FROM (
            SELECT /*+ BROADCAST(qb) */ qb.{query_id_col}, vb.{id_col},
                   {_cosine_sql(f"vb.{vec_col}", f"qb.{query_vec_col}")}
                     AS cosine_sim
            FROM (SELECT *, {bucket} AS bucket FROM {{v}}) vb
            JOIN (SELECT *, {qbucket} AS bucket FROM {{q}}) qb
              ON vb.bucket = qb.bucket
          )
        ) WHERE rank <= {int(k)}
        """,
    )


def quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 vector quantization: ``code_i = floor(x_i / max|x|
    * 127 + 0.5)`` (explicit half-up — ``round()`` half-even/half-away
    conventions differ across engines), plus the per-vector scale needed
    to dequantize. 4× memory cut for ANN probe sets; pure narrow JVM
    expressions — quantizing 100 TB of embeddings is a map-only pass.

    Output: (id, codes array<int>, scale double). Zero vectors carry
    scale 0 and all-zero codes.
    """
    vectors = valid_vectors(vectors, vec_col)
    amax = (
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE),"
        " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    )
    codes = (
        f"CASE WHEN {amax} = 0.0 THEN"
        f" transform({vec_col}, x -> 0)"
        f" ELSE transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" / {amax} * 127.0 + 0.5) AS INT)) END"
    )
    return vectors.selectExpr(
        id_col,
        f"{codes} AS codes",
        f"CAST({amax} / 127.0 AS DOUBLE) AS scale",
    )


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    ``|approx ∩ exact| / k`` per query — the tuning signal for
    nprobe/bands on a real corpus. One semi join + one aggregate; both
    inputs are (query, candidate) top-k frames (≤ queries×k rows), so
    this evaluates at driver-trivial cost no matter the corpus size.

    Every query present in ``approx`` gets a row — a query whose
    approx∩exact overlap is empty reports ``n_hits = 0`` (dropping it
    would overstate the averaged recall).
    """
    from obsplus_spark.util import sql_over

    return sql_over(
        {"a": approx, "e": exact},
        f"""
        WITH hits AS (
          SELECT a.{query_id_col}, count(*) AS _n_hits
          FROM {{a}} a LEFT SEMI JOIN {{e}} e
            ON a.{query_id_col} = e.{query_id_col}
           AND a.{id_col} = e.{id_col}
          GROUP BY a.{query_id_col}
        )
        SELECT q.{query_id_col},
               CAST(coalesce(h._n_hits, 0) AS BIGINT) AS n_hits,
               round(coalesce(h._n_hits, 0) / {float(k)!r}D, 6)
                 AS recall_at_k
        FROM (SELECT DISTINCT {query_id_col} FROM {{a}}) q
        LEFT JOIN hits h ON h.{query_id_col} = q.{query_id_col}
        """,
    )


def kmeans_refine_stats(
    vectors: DataFrame,
    n_clusters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd refinement step of the deterministic spherical k-means
    that seeds :func:`ivf_assign`, exposed as data: per-cluster member
    counts and the refined per-dimension centroid means — the semantic
    clustering / topic-bucketing pass a curation pipeline runs to
    stratify a corpus before mixing (and the quality probe for the IVF
    coarse quantizer itself).

    Seeding is the ``n_clusters`` lowest-id vectors (no RNG — same
    contract as ``ivf_assign``); assignment is argmax cosine, ties to
    the smaller cluster id.

    Scale shape: the seed fold is one tiny aggregate broadcast as a
    single array row; assignment is a map-only per-row expression over
    the corpus (no corpus×K join, no shuffle); the refinement itself is
    ONE hash aggregate keyed by (cluster, dim) after a ``posexplode`` —
    map-side combine collapses each partition to ≤ clusters×dim rows
    before the only shuffle, and member counts ride the same aggregate
    (every dimension of a member contributes one row, so ``count(1)``
    within a (cluster, dim) group IS the member count — no second pass
    over the assignments).

    Output: (cluster, n_members, dim, centroid), clusters×dim rows.
    """
    from obsplus_spark.util import sql_over

    vectors = valid_vectors(vectors, vec_col)

    assignments, _ = ivf_assign(
        vectors,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        refine_iterations=0,
        folded=True,
    )
    return sql_over(
        {"a": assignments},
        f"""
        SELECT CAST(cluster AS BIGINT) AS cluster,
               CAST(count(1) AS BIGINT) AS n_members,
               CAST(pos AS BIGINT) AS dim,
               round(avg(CAST(x AS DOUBLE)), 6) AS centroid
        FROM (SELECT cluster, posexplode({vec_col}) AS (pos, x) FROM {{a}})
        GROUP BY cluster, pos
        """,
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    sim_col: str = "cosine_sim",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-``k`` most-similar corpus vectors whose label DIFFERS from
    the query's — the nearest wrong-class examples that make the best
    negatives for metric-learning / embedding fine-tuning.

    Same scale shape as :func:`cosine_topk` (this is its labeled twin):
    broadcast the query side, scan the corpus partition-parallel, filter
    the same-class rows **before** the rank (the predicate is in the
    join, so same-label similarities are never ranked), WindowGroupLimit
    for the per-query top-k. Ties break on ``id_col``.
    """
    from obsplus_spark.util import sql_over

    return sql_over(
        {
            "v": valid_vectors(vectors, vec_col),
            "q": valid_vectors(queries, query_vec_col),
        },
        f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY {query_id_col}
                      ORDER BY {sim_col} DESC, {id_col} ASC) AS rank
          FROM (
            SELECT /*+ BROADCAST(q) */ {query_id_col}, {id_col},
                   {label_col},
                   {_cosine_sql(vec_col, query_vec_col)} AS {sim_col}
            FROM {{v}} v JOIN {{q}} q
              ON v.{label_col} != q.{query_label_col}
          )
        ) WHERE rank <= {int(k)}
        """,
    )


def _pq_codebook(
    vectors: DataFrame,
    n_codes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Fold the deterministic PQ codebook (subvectors of the ``n_codes``
    lowest-id vectors, codes 0..n_codes−1 by ascending seed id) into ONE
    broadcastable array row ``_codes`` of (code, vec<double>)."""
    from obsplus_spark.util import sql_over

    return sql_over(
        {"v": vectors},
        f"""
        SELECT transform(sort_array(collect_list(named_struct(
                 '_k', _sid, 'vec', vec))),
               (c, i) -> named_struct('code', i, 'vec', c.vec)) AS _codes
        FROM (SELECT {id_col} AS _sid,
                     transform({vec_col}, x -> CAST(x AS DOUBLE)) AS vec
              FROM {{v}} ORDER BY {id_col} LIMIT {int(n_codes)})
        """,
    )


def _pq_assign_expr(m: int, arr: str = "ev", codes: str = "_codes") -> str:
    """In-row PQ code-array expression over a double-array column: per
    subspace, the argmin-L2 code (distances rounded to 9 dp so the
    argmin is engine-stable; rounded ties break to the smallest code)."""
    dsub = f"(size({arr}) div {int(m)})"
    dist = (
        f"round(aggregate(zip_with("
        f"slice({arr}, s * {dsub} + 1, {dsub}),"
        f" slice(cb.vec, s * {dsub} + 1, {dsub}),"
        " (x, y) -> (x - y) * (x - y)), 0.0D, (a, x) -> a + x), 9)"
    )
    return (
        f"transform(sequence(0, {int(m) - 1}), s ->"
        f" array_min(transform({codes}, cb -> named_struct("
        f"'dist', {dist}, 'code', cb.code))).code)"
    )


def pq_encode(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes: split each vector into ``m`` equal
    subspaces and assign every subvector to its nearest codebook entry —
    the compressed representation an ANN index stores instead of raw
    floats (64 dims × 4 bytes → m single-byte codes).

    Codebook seeding follows the deterministic no-RNG contract of
    ``ivf_assign``/``kmeans_refine_stats``: per subspace, the codebook is
    the corresponding subvectors of the ``n_codes`` lowest-id vectors.
    Assignment is argmin squared-L2; distances are rounded to 9 dp
    before the argmin so the choice is stable across engines whose
    float-sum association differs, with rounded ties breaking to the
    smallest code.

    Scale shape: the codebook folds into ONE array row (tiny aggregate)
    broadcast to the corpus; encoding is a map-only per-row expression
    (subspace loop unrolled in-row via ``transform(sequence(...))``,
    then one ``posexplode``). No corpus shuffle at all — the output is
    narrow per row.

    Dimensions not divisible by ``m``: the subspace width is
    ``dim div m``, so up to ``m − 1`` trailing dimensions fall outside
    every subspace and do not contribute to any code (the standard PQ
    padding caveat — pick ``m`` dividing the dimension).

    Output: (id, sub, code) — m rows per vector, all-integer.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    if int(m) < 1 or int(n_codes) < 1:
        raise ValueError(
            f"m and n_codes must be >= 1, got m={m}, n_codes={n_codes}"
        )
    vectors = ensure_parallelism(valid_vectors(vectors, vec_col))
    codes = _pq_codebook(vectors, n_codes, id_col, vec_col)
    return sql_over(
        {"v": vectors, "c": codes},
        f"""
        SELECT {id_col}, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
        FROM (
          SELECT /*+ BROADCAST(c) */ v.{id_col},
                 transform(v.{vec_col}, x -> CAST(x AS DOUBLE)) AS ev,
                 c._codes AS _codes
          FROM {{v}} v CROSS JOIN {{c}} c
        )
        LATERAL VIEW posexplode({_pq_assign_expr(int(m))}) AS sub, code
        """,
    )


def ivf_pq_topk(
    vectors: DataFrame,
    n_clusters: int = 4,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 4,
    rerank: int = 32,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ search — the two-level quantization architecture of a
    production ANN index (FAISS ``IVFx,PQy`` — public algorithm):
    an IVF coarse quantizer prunes the corpus to ``nprobe`` inverted
    lists, PQ codes give each candidate an asymmetric-distance (ADC)
    estimate from an m-lookup table instead of a d-dimensional scan, and
    only the ``rerank`` best ADC candidates pay the exact distance.

    Scale shape, stage by stage:
    - centroids AND the PQ codebook each fold into one broadcast array
      row (tiny aggregates; deterministic lowest-id seeding, no RNG);
    - the corpus is touched ONCE to attach (cluster, pq_codes) — both
      map-only in-row expressions under the same broadcasts;
    - each query precomputes its probe list and its m×n_codes ADC table
      in-row (broadcast-sized side);
    - the candidate join is an equi-join on ``cluster`` against the
      broadcast query side — candidate fraction ≈ nprobe/n_clusters of
      the corpus, each candidate costing an m-element table lookup sum,
      NOT a d-element vector scan;
    - per-query top-``rerank`` by (6-dp ADC, id) compiles to
      WindowGroupLimit; only those rows pay the exact d-dimensional
      distance, and the final top-k ranks on the 6-dp exact value.

    Output: (query_id, vec_id, rank, l2_sq) — k rows per query; l2_sq
    is the EXACT squared L2 (6 dp), ranks 1..k ascending.
    """
    from obsplus_spark.util import sql_over

    if int(rerank) < int(k):
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    vectors = valid_vectors(vectors, vec_col)
    if queries is not None:
        queries = valid_vectors(queries, query_vec_col)
    assignments, carr = ivf_assign(
        vectors,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        refine_iterations=0,
        folded=True,
    )
    codebook = _pq_codebook(vectors, n_codes, id_col, vec_col)
    if queries is None:
        raise ValueError("queries frame is required")
    dsq = f"(size(qv) div {int(m)})"
    adc_cell = (
        f"round(aggregate(zip_with("
        f"slice(qv, s * {dsq} + 1, {dsq}),"
        f" slice(cb.vec, s * {dsq} + 1, {dsq}),"
        " (x, y) -> (x - y) * (x - y)), 0.0D, (a, x) -> a + x), 9)"
    )
    return sql_over(
        {"a": assignments, "c": carr, "cb": codebook, "q": queries},
        f"""
        WITH corpus AS (
          SELECT /*+ BROADCAST(cb) */ a.{id_col} AS vid, a.ev, a.cluster,
                 {_pq_assign_expr(int(m), arr="a.ev", codes="cb._codes")}
                   AS codes
          FROM (SELECT {id_col},
                       transform({vec_col}, x -> CAST(x AS DOUBLE)) AS ev,
                       cluster
                FROM {{a}}) a
          CROSS JOIN {{cb}} cb
        ),
        qside AS (
          SELECT query_id, qv, tbl, explode(probes) AS cluster
          FROM (
            SELECT query_id, qv,
                   transform(sequence(0, {int(m) - 1}), s ->
                     transform(cbv, cb -> {adc_cell})) AS tbl,
                   transform(slice(sort_array(transform(cents,
                     s -> named_struct('ns',
                       -coalesce(aggregate(zip_with(qv, s.centroid,
                          (x, y) -> x * y), 0.0D, (a, x) -> a + x)
                        / nullif(s.nrm, 0.0D), 0.0D),
                       'cluster', s.cluster))), 1, {int(nprobe)}),
                     s -> s.cluster) AS probes
            FROM (
              SELECT /*+ BROADCAST(c), BROADCAST(cb) */
                     q.{query_id_col} AS query_id,
                     transform(q.{query_vec_col},
                       x -> CAST(x AS DOUBLE)) AS qv,
                     c._cents AS cents, cb._codes AS cbv
              FROM {{q}} q CROSS JOIN {{c}} c CROSS JOIN {{cb}} cb
            )
          )
        ),
        cand AS (
          SELECT /*+ BROADCAST(s) */ s.query_id, v.vid, v.ev, s.qv,
                 round(aggregate(zip_with(v.codes, s.tbl,
                   (c, t) -> element_at(t, c + 1)), 0.0D,
                   (a, x) -> a + x), 6) AS adc
          FROM corpus v JOIN qside s ON v.cluster = s.cluster
        ),
        rer AS (
          SELECT query_id, vid,
                 round(aggregate(zip_with(ev, qv,
                   (x, y) -> (x - y) * (x - y)), 0.0D,
                   (a, x) -> a + x), 6) AS l2_sq
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY adc, vid) AS rr
            FROM cand
          ) WHERE rr <= {int(rerank)}
        )
        SELECT query_id, vid AS {id_col}, CAST(rank AS INT) AS rank, l2_sq
        FROM (
          SELECT query_id, vid, l2_sq,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY l2_sq, vid) AS rank
          FROM rer
        ) WHERE rank <= {int(k)}
        """,
    )


# Persist-lifecycle machinery lives in obsplus_spark.cache (VERDICT r9
# #5 consolidation): the assignment ring is its own family there so a
# semantic-dedup loop and a text-dedup loop sharing a session don't
# evict each other's working set. Consolidation also brought this ring
# the adoption re-persist the shingle ring gained in r9 (it was missing
# here: an evicted frame plan-identical to a rebuilt one silently ran
# the rebuild uncached).
from obsplus_spark.cache import (  # noqa: E402
    register_assignment_cache as _register_assignment_cache,
)


def semantic_dedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 0,
    method: str = "blocked",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then deduplicate WITHIN clusters — the k-means
    blocking is what makes semantic (non-exact) dedup tractable at
    corpus scale, because pairwise cosine only ever runs inside a
    cluster, never across the corpus.

    Pipeline (all existing scale shapes composed):

    1. :func:`ivf_assign` — deterministic seeding + optional Lloyd
       refinement; assignment is a broadcast-centroid map, the corpus
       never shuffles for it;
    2. :func:`embedding_near_dup` with ``block_col='cluster'`` —
       per-cluster gram matrix via the Arrow-batched BLAS kernel (one
       shuffle on the cluster key);
    3. a row is a semantic duplicate iff a SMALLER-id member of its
       cluster has cosine ≥ ``threshold``; ``dup_of`` is the smallest
       such id. The min-id rule is the deterministic stand-in for the
       paper's keep-one-per-group (exact group structure under
       non-transitive similarity is a connected-components question —
       :func:`obsplus_spark.operators.dedup.canonical_docs` does that
       when needed).

    Output: (id, cluster, is_dup, dup_of) — one row per input vector,
    ``dup_of`` NULL on keepers.
    """
    if int(n_clusters) < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    if not (-1.0 <= float(threshold) <= 1.0):
        raise ValueError(
            f"threshold must be a cosine in [-1, 1], got {threshold}"
        )
    asg, _ = ivf_assign(
        vectors,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        refine_iterations=refine_iterations,
    )
    # the assignment feeds BOTH the pair phase and the keep join — persist
    # it so the corpus scan + centroid argmax (+ Lloyd passes) run once
    # per action, not twice; bounded ring so repeated calls don't leak
    asg = asg.persist()
    _register_assignment_cache(asg)
    pairs = embedding_near_dup(
        asg,
        threshold=threshold,
        block_col="cluster",
        id_col=id_col,
        vec_col=vec_col,
        method=method,
    )
    dup = pairs.groupBy("id2").agg(F.min("id1").alias("dup_of"))
    keep = asg.select(F.col(id_col), F.col("cluster"))
    return (
        keep.join(dup, keep[id_col] == dup.id2, "left_outer")
        .select(
            id_col,
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.5,
) -> DataFrame:
    """Per-class embedding outlier screen: cosine of every vector to
    its class centroid, flagging rows below ``threshold``. The standard
    label-noise / encoder-failure detector over an embedded corpus — a
    vector far from its own class centroid is a mislabel, an empty or
    garbage input, or a drifted encoder shard; curation pipelines drop
    or re-queue the flagged tail before training contrastive heads.

    Scale shape: the centroid is a (label, dim)-keyed MAP-COMBINED
    aggregate over the position-exploded vectors (the partial
    aggregates collapse each partition to ≤ |labels|·dim cells before
    the exchange — the explode never crosses the wire), reassembled
    per label by one sort over dim cells, then broadcast back; the
    scoring pass is map-only. One exchange of |labels|·dim rows plus a
    broadcast join, at any corpus size.

    Engine stability: centroid components are cross-row float means —
    6-dp rounded BEFORE the cosine (house kmeans convention) so the
    downstream in-row fold is deterministic across engines and
    partitionings; the flag compares the ROUNDED cosine.

    Malformed (NULL/empty) embeddings are excluded by the shared
    :func:`valid_vectors` contract; zero-norm vectors are valid and
    score cosine 0 (→ outliers under any positive threshold). Rows
    with a NULL label are likewise excluded (no class, no centroid —
    the equi-join's NULL≠NULL drops them in both engines by the same
    rule; screen unlabeled rows with :func:`cosine_topk` against
    explicit probes instead).

    Output: (id, label, cos_centroid, is_outlier).
    """
    from obsplus_spark.util import sql_over

    v = valid_vectors(df, vec_col)
    thr = float(threshold)
    return sql_over(
        {"v": v},
        f"""
        WITH ex AS (
          SELECT {label_col} AS _lbl, pos, CAST(x AS DOUBLE) AS x
          FROM {{v}} LATERAL VIEW posexplode({vec_col}) AS pos, x
        ),
        cent AS (
          SELECT _lbl, pos, round(avg(x), 6) AS m
          FROM ex GROUP BY _lbl, pos
        ),
        cvec AS (
          SELECT _lbl,
                 transform(array_sort(collect_list(struct(pos, m))),
                           s -> s.m) AS c
          FROM cent GROUP BY _lbl
        )
        SELECT {id_col}, {label_col},
               cos_centroid,
               cos_centroid < {thr!r}D AS is_outlier
        FROM (
          SELECT /*+ BROADCAST(cv) */ e.{id_col}, e.{label_col},
                 round({_cosine_sql(f"e.{vec_col}", "cv.c")}, 6)
                   AS cos_centroid
          FROM {{v}} e JOIN cvec cv ON e.{label_col} = cv._lbl
        )
        """,
    )


def centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding-centroid drift between two corpus snapshots:
    cosine between each label's mean vector in snapshot A and in
    snapshot B — the encoder/distribution drift monitor a pipeline
    runs before reusing cached embeddings or retraining a classifier
    head (a centroid that moved is a re-embed trigger; one that
    collapsed toward zero is an encoder failure).

    Scale shape: each snapshot folds to ``|labels| × dim`` cells via
    the shared (label, dim)-keyed MAP-COMBINED explode aggregate (the
    embedding_outliers pattern — partial aggregates collapse every
    partition before the exchange), counts fold map-combined on the
    un-exploded rows, and all remaining joins are |labels|-row
    broadcasts. Nothing quadratic, nothing driver-side, at any corpus
    size.

    Conventions: malformed vectors excluded by :func:`valid_vectors`;
    NULL labels excluded (no class, no centroid); centroid components
    are 6-dp rounded BEFORE the cosine (house kmeans convention, makes
    the fold engine-portable); drift cosine is 6-dp rounded with the
    zero-norm → 0 rule. Labels present in only one snapshot are
    dropped (drift is undefined without both endpoints — screen those
    with a plain count diff).

    Output: ``(label, cos_drift, n_a, n_b)``.
    """
    from obsplus_spark.util import sql_over

    va = valid_vectors(df_a, vec_col).where(f"{label_col} IS NOT NULL")
    vb = valid_vectors(df_b, vec_col).where(f"{label_col} IS NOT NULL")
    cent = """
        SELECT _lbl, transform(array_sort(collect_list(struct(pos, m))),
                               s -> s.m) AS c
        FROM (
          SELECT _lbl, pos, round(avg(x), 6) AS m
          FROM (
            SELECT {label_col} AS _lbl, pos, CAST(x AS DOUBLE) AS x
            FROM {src} LATERAL VIEW posexplode({vec_col}) AS pos, x
          ) GROUP BY _lbl, pos
        ) GROUP BY _lbl
    """
    return sql_over(
        {"a": va, "b": vb},
        f"""
        WITH ca AS ({cent.format(label_col=label_col, vec_col=vec_col,
                                 src='{a}')}),
        cb AS ({cent.format(label_col=label_col, vec_col=vec_col,
                            src='{b}')}),
        na AS (
          SELECT {label_col} AS _lbl, CAST(count(1) AS BIGINT) AS n_a
          FROM {{a}} GROUP BY {label_col}
        ),
        nb AS (
          SELECT {label_col} AS _lbl, CAST(count(1) AS BIGINT) AS n_b
          FROM {{b}} GROUP BY {label_col}
        )
        SELECT /*+ BROADCAST(cb, na, nb) */
               ca._lbl AS {label_col},
               round({_cosine_sql('ca.c', 'cb.c')}, 6) AS cos_drift,
               na.n_a, nb.n_b
        FROM ca JOIN cb ON ca._lbl = cb._lbl
                JOIN na ON ca._lbl = na._lbl
                JOIN nb ON ca._lbl = nb._lbl
        """,
    )


def rrf_fusion(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    k_rrf: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of two CANDIDATE lists (Cormack &
    Clarke's RRF, public): rank each list by its own score, then score
    every candidate ``Σ 1/(k + rank)`` over the lists it appears in —
    the standard way to merge lexical (BM25) and semantic (cosine)
    retrieval without calibrating their incomparable score scales.

    CONTRACT: the inputs are top-N candidate lists (each the output of
    a retrieval operator's own distributed top-k cut), NOT corpora —
    the per-list rank is a single-partition window, bounded by the
    candidate cut, never by corpus size. Ranks order by the 6-dp
    ROUNDED score (desc, id asc): both engines compute scores from
    identical fp fold orders, but ``ln``-based scores can differ in
    the last ulp across math libraries, and an ulp must never swap a
    rank. Rows with a NULL id or score are excluded.

    Output: top ``topk`` rows of ``(id, rank_a, rank_b, rrf_score)``
    by (rrf_score desc, id asc); a candidate missing from one list has
    a NULL rank there and contributes 0 for it.
    """
    from obsplus_spark.util import sql_over

    kk, tk = int(k_rrf), int(topk)
    if kk < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    if tk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    rank = (
        f"CAST(row_number() OVER (ORDER BY round({score_col}, 6) DESC,"
        f" {id_col} ASC) AS BIGINT)"
    )
    keep = f"{id_col} IS NOT NULL AND {score_col} IS NOT NULL"
    return sql_over(
        {"a": ranked_a, "b": ranked_b},
        f"""
        WITH ra AS (
          SELECT {id_col} AS _id, {rank} AS rank_a
          FROM {{a}} WHERE {keep}
        ),
        rb AS (
          SELECT {id_col} AS _id, {rank} AS rank_b
          FROM {{b}} WHERE {keep}
        )
        SELECT coalesce(ra._id, rb._id) AS {id_col},
               rank_a, rank_b,
               round(coalesce(1.0D / ({kk} + rank_a), 0.0D)
                     + coalesce(1.0D / ({kk} + rank_b), 0.0D), 9)
                 AS rrf_score
        FROM ra FULL OUTER JOIN rb ON ra._id = rb._id
        ORDER BY rrf_score DESC, coalesce(ra._id, rb._id) ASC
        LIMIT {tk}
        """,
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 8,
) -> DataFrame:
    """Upper-triangle covariance cells of the first ``dims`` embedding
    coordinates over the corpus: ``cov(i,j) = E[x_i x_j] − E[x_i]E[x_j]``
    (population form) — the decorrelation / whitening diagnostic run
    before PCA'ing or product-quantizing an embedding column (strongly
    correlated coordinates waste PQ codebook entropy; a near-zero
    diagonal block flags dead encoder dimensions).

    Scale shape: the (i ≤ j) pair products form IN-ROW from a constant
    index-pair sequence and meet the corpus in ONE cell-keyed
    MAP-COMBINED aggregate (the explode feeds partial aggregation in
    the same stage — dims²/2 cells per partition cross the wire, never
    rows); the mean cells fold the same way, and the final assembly
    joins dims²-sized frames (broadcast). Rows shorter than ``dims``
    are excluded (fixed-dim contract; ANSI ``element_at`` would abort
    on a ragged row), as are malformed vectors.

    Engine portability: the cross-row averages round to 6 dp (house
    convention) BEFORE the final subtraction, which rounds again —
    both engines then compute identical doubles.

    Output: ``(i, j, cov, n)`` for ``0 ≤ i ≤ j < dims``.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    d = int(dims)
    if d < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    pairs = (
        f"flatten(transform(sequence(0, {d - 1}), i ->"
        f" transform(sequence(i, {d - 1}), j ->"
        " named_struct('i', i, 'j', j))))"
    )
    v = ensure_parallelism(
        valid_vectors(df, vec_col).where(f"size({vec_col}) >= {d}")
    )
    return sql_over(
        {"v": v},
        f"""
        WITH px AS (
          SELECT p.i, p.j,
                 round(avg(CAST(element_at({vec_col}, p.i + 1) AS DOUBLE)
                       * CAST(element_at({vec_col}, p.j + 1) AS DOUBLE)),
                       6) AS pp,
                 CAST(count(1) AS BIGINT) AS n
          FROM {{v}} LATERAL VIEW explode({pairs}) AS p
          GROUP BY p.i, p.j
        ),
        m AS (
          SELECT pos, round(avg(CAST(x AS DOUBLE)), 6) AS mu
          FROM (
            SELECT pos, x FROM {{v}}
            LATERAL VIEW posexplode(slice({vec_col}, 1, {d})) AS pos, x
          ) GROUP BY pos
        )
        SELECT /*+ BROADCAST(mi, mj) */
               CAST(px.i AS INT) AS i, CAST(px.j AS INT) AS j,
               round(pp - mi.mu * mj.mu, 6) AS cov, n
        FROM px JOIN m mi ON px.i = mi.pos
                JOIN m mj ON px.j = mj.pos
        """,
    )


def cluster_quality(
    vectors: DataFrame,
    n_clusters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality report for the deterministic spherical
    k-means that seeds :func:`ivf_assign`: COHESION (mean cosine of
    members to their centroid — higher is tighter) and SEPARATION
    (max cosine between this centroid and any other — higher is worse)
    per cluster. The accept/reject gate a pipeline runs before
    trusting a clustering for stratified mixing, SemDeDup bounding, or
    IVF probe pruning (a cluster whose separation exceeds its cohesion
    is not a cluster).

    Scale shape: assignment is ``ivf_assign``'s map-only argmax over
    the broadcast centroid row (``refine_iterations=0`` — the SEED
    centroids, so the oracle's lockstep reproduction stays one CTE);
    cohesion is ONE cluster-keyed map-combined aggregate over the
    corpus with the k-row centroid table broadcast into it; separation
    is a k×k centroid-only join. Per-member cosines are bit-identical
    across engines (shared fold order); the cross-row means round to
    6 dp (house convention).

    Output: ``(cluster, n_members, cohesion, max_other_cos)``.
    """
    from obsplus_spark.util import sql_over

    assignments, centroids = ivf_assign(
        vectors, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col,
        refine_iterations=0,
    )
    # the k-row centroid frame is referenced three times below (cohesion
    # join + both sides of the separation join); unpersisted, each
    # reference recomputes the corpus TakeOrdered seed scan — persist
    # the k rows once (bounded session ring releases it later)
    centroids = centroids.persist()
    _register_assignment_cache(centroids)
    return sql_over(
        {"a": assignments, "c": centroids},
        f"""
        WITH coh AS (
          SELECT /*+ BROADCAST(c) */ a.cluster,
                 CAST(count(1) AS BIGINT) AS n_members,
                 round(avg({_cosine_sql(f'a.{vec_col}', 'c.centroid')}),
                       6) AS cohesion
          FROM {{a}} a JOIN {{c}} c ON a.cluster = c.cluster
          GROUP BY a.cluster
        ),
        sep AS (
          SELECT c1.cluster,
                 round(max({_cosine_sql('c1.centroid', 'c2.centroid')}),
                       6) AS max_other_cos
          FROM {{c}} c1 JOIN {{c}} c2 ON c1.cluster <> c2.cluster
          GROUP BY c1.cluster
        )
        -- LEFT joins from the centroid table: k=1 has no "other"
        -- centroid (NULL separation, not an empty report), and a seed
        -- whose duplicate tied into a smaller cluster can hold zero
        -- members (reported as such, never silently dropped)
        SELECT CAST(c.cluster AS INT) AS cluster,
               CAST(coalesce(coh.n_members, 0) AS BIGINT) AS n_members,
               coh.cohesion, sep.max_other_cos
        FROM {{c}} c
        LEFT JOIN coh ON coh.cluster = c.cluster
        LEFT JOIN sep ON sep.cluster = c.cluster
        """,
    )


def dim_truncation_eval(
    vectors: DataFrame,
    dims: "tuple[int, ...]" = (8, 16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation quality: how well does the cosine of
    the FIRST ``d`` dimensions track the full-width cosine? The
    evidence a pipeline reads before switching ANN/near-dup stages to a
    cheaper truncated embedding (Kusupati et al. 2022, "Matryoshka
    Representation Learning", public): if the d-dim cosine tracks the
    full one, every downstream bucket/threshold decision transfers.

    Probe pairs are CONSECUTIVE ids ``(v, v+1)`` — a deterministic
    linear-size sample (corpus ids are hash-ordered upstream, so
    consecutive pairs are unbiased), never the quadratic all-pairs.
    Per pair and width: full cosine and truncated cosine (both in
    DOUBLE, zero-norm → NULL per the house ``nullif`` rule); per
    width: pair count with both cosines defined, mean absolute error,
    and the fraction where both sit on the same side of 0 (the
    bucketing-decision agreement).

    Scale shape: ONE self equi-join on ``id = id+1`` (a single keyed
    exchange; at write-bucketed layouts it co-locates), then the widths
    explode IN-ROW from a literal array and every cosine is an in-row
    ``zip_with``/``aggregate`` fold — the pair row count is |corpus|,
    never |corpus|·|dims| across the wire (the explode happens after
    the join, before the map-combined final aggregate).

    Output: ``(dim, n_pairs, mae, sign_agree)`` — mae/sign_agree
    6-dp-rounded, dims ordered.

    Contract (ADVICE r10 #3): vectors are assumed FIXED-WIDTH with no
    NULL elements and width ≤ 4096. The registered DuckDB oracle twin
    caps the full-width fold at 4096 dims (``generate_series(1, 4096)``)
    where this operator reads ``size(_va)`` uncapped, and the engines
    disagree on ragged/NULL-element pairs by dialect (DuckDB's ``sum``
    skips NULL products, keeping the pair with a partial cosine; Spark's
    ``zip_with`` pads the shorter array with NULLs so the ``aggregate``
    fold poisons the whole cosine to NULL and the ``IS NOT NULL`` filter
    drops the pair). Pre-filter ragged corpora before calling if pair
    retention matters; the testdata fixture is fixed-width so both
    engines agree exactly there.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    ds = sorted({int(d) for d in dims})
    if not ds or ds[0] < 1:
        raise ValueError(f"dims must be positive ints, got {dims}")
    dim_arr = ", ".join(str(d) for d in ds)

    def cos(a: str, b: str, n: str) -> str:
        return (
            f"aggregate(zip_with(slice({a}, 1, {n}), slice({b}, 1, {n}),"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (s, v) -> s + v)"
            f" / nullif(sqrt(aggregate(slice({a}, 1, {n}), 0.0D,"
            " (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
            f" * sqrt(aggregate(slice({b}, 1, {n}), 0.0D,"
            " (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),"
            " 0.0D)"
        )

    full = cos("_va", "_vb", "size(_va)")
    trunc = cos("_va", "_vb", "d")
    pairs = ensure_parallelism(vectors).selectExpr(
        f"{id_col} AS _ida", f"{vec_col} AS _va"
    ).join(
        vectors.selectExpr(f"{id_col} - 1 AS _ida", f"{vec_col} AS _vb"),
        "_ida",
    )
    return sql_over(
        {"p": pairs},
        f"""
        SELECT dim,
               CAST(count(1) AS BIGINT) AS n_pairs,
               round(avg(abs(c_d - c_full)), 6) AS mae,
               round(avg(CASE WHEN (c_d >= 0) = (c_full >= 0)
                              THEN 1.0D ELSE 0.0D END), 6) AS sign_agree
        FROM (
          SELECT CAST(d AS INT) AS dim,
                 {trunc} AS c_d,
                 {full} AS c_full
          FROM {{p}} LATERAL VIEW explode(array({dim_arr})) AS d
        )
        WHERE c_d IS NOT NULL AND c_full IS NOT NULL
        GROUP BY dim
        ORDER BY dim
        """,
    )


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the preprocessing step before isotropic distance work (k-means,
    Mahalanobis-lite screens, PQ codebook training): each dimension is
    centered on its corpus mean and scaled by its corpus stddev, so no
    single high-variance dimension dominates the metric.

    Convention: population stddev; mean/std are 6-dp rounded BEFORE
    applying (the house cross-row-mean rule — deterministic across
    engines and partitionings) and the output elements are 6-dp
    rounded; a CONSTANT dimension (std 0) maps to 0.0 (its centered
    value is exactly 0 for every row — no information, no division).
    Malformed (NULL/empty) embeddings are excluded by the shared
    :func:`valid_vectors` contract; ragged corpora standardize each
    position over the rows that HAVE it (documented: fixed-width
    corpora are the intended input).

    Scale shape: ONE (pos)-keyed MAP-COMBINED aggregate over the
    position-exploded vectors (partials collapse each partition to
    ≤ dim cells before the exchange — the explode never crosses the
    wire), folded to a ONE-ROW stats frame that broadcasts back; the
    apply pass is a pure in-row ``transform``. No corpus shuffle.

    Output: ``(id, embedding)`` — standardized ``array<double>``.
    """
    from obsplus_spark.util import sql_over

    v = valid_vectors(df, vec_col)
    return sql_over(
        {"v": v},
        f"""
        WITH ex AS (
          SELECT pos, CAST(x AS DOUBLE) AS x
          FROM {{v}} LATERAL VIEW posexplode({vec_col}) AS pos, x
        ),
        st AS (
          SELECT pos, round(avg(x), 6) AS m,
                 round(stddev_pop(x), 6) AS s
          FROM ex GROUP BY pos
        ),
        stats AS (
          SELECT transform(array_sort(collect_list(struct(pos, m))),
                           t -> t.m) AS _mv,
                 transform(array_sort(collect_list(struct(pos, s))),
                           t -> t.s) AS _sv
          FROM st
        )
        SELECT /*+ BROADCAST(stats) */ {id_col},
               transform({vec_col}, (x, i) ->
                 round(CASE WHEN element_at(_sv, i + 1) = 0.0D
                            THEN 0.0D
                            ELSE (CAST(x AS DOUBLE)
                                  - element_at(_mv, i + 1))
                                 / element_at(_sv, i + 1)
                       END, 6)) AS {vec_col}
        FROM {{v}} CROSS JOIN stats
        """,
    )
