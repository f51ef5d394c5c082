"""Deduplication and curation queries: exact, MinHash, SimHash and
span-level dedup, clustering, decontamination, dedup evaluation, leak-safe
splits, sampling and mixture rebalancing over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from obsplus_spark.cache import register_shingle_cache
from corpus.common import _MIX_TARGET, _MIX_WEIGHTS, _t, _ts_ns


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from obsplus_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs)


_SQL_DEDUP = r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
"""


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding + exact Jaccard verification (full pipeline)."""
    from obsplus_spark.operators.dedup import near_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = near_duplicates(
        docs, n_hashes=16, bands=4, shingle_size=3, threshold=0.2
    )
    return out.select(
        "id1", "id2", "n_inter", "n1", "n2", F.round("jaccard", 8).alias("jaccard")
    )


def _minhash_sql(
    n_hashes: int = 16,
    bands: int = 4,
    extra_pair_pred: str = "",
    tail: "str | None" = None,
    threshold: float = 0.2,
) -> str:
    rows_per_band = n_hashes // bands
    # lane j = 8 hex chars of the 38-char extended digest (md5 ||
    # substr(md5,1,6)) at stride-2 offset, parsed as uint32 (lockstep with
    # obsplus_spark.operators.dedup.minhash_signatures)
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    prefix = rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id{extra_pair_pred}
    )"""
    if tail is not None:
        # custom consumer of the shared norm/sh/sig/banded/pairs CTE
        # prefix (lockstep-by-construction with the minhash pipeline);
        # the default Jaccard-verify tail below is skipped entirely
        return prefix + ",\n    " + tail.strip() + "\n"
    return prefix + rf""",
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.id1, p.id2, count(*) AS n_inter
      FROM pairs p
      JOIN sh s1 ON s1.doc_id = p.id1
      JOIN sh s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
      GROUP BY p.id1, p.id2
    )
    SELECT p.id1, p.id2,
           coalesce(i.n_inter, 0) AS n_inter,
           z1.n AS n1, z2.n AS n2,
           round(coalesce(i.n_inter, 0)
                 / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE), 8) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
    JOIN sizes z1 ON z1.doc_id = p.id1
    JOIN sizes z2 ON z2.doc_id = p.id2
    WHERE coalesce(i.n_inter, 0)
          / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE)
          >= {threshold!r}
"""


# ---------------------------------------------------------------------------
# simhash signatures
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document signatures (dedup family, north-star)."""
    from obsplus_spark.operators.dedup import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return simhash_signatures(docs, bits=_SIMHASH_BITS)


def _simhash_sql(bits: int = _SIMHASH_BITS) -> str:
    # bit k of the 32-bit md5-prefix hash, derived from the hex digits:
    # digit at string position 8 - k//4 holds bits (k%4)
    votes = ",\n           ".join(
        "sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) "
        ">> {shift}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}".format(
            pos=8 - k // 4, shift=k % 4, k=k
        )
        for k in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(bits)
    )
    return rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
    votes AS (
      SELECT doc_id,
           {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
"""


# ---------------------------------------------------------------------------
# LLM-pipeline: cluster resolution, deterministic splits, token estimation
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair set: every
    member doc labeled with its component's min doc_id — the canonical-
    document assignment step a 100 TB dedup pipeline runs after pair
    detection. Iterative min-label propagation (one groupBy per round);
    the oracle is a DuckDB WITH RECURSIVE min-label closure over the
    identical pair set."""
    from obsplus_spark.operators.dedup import dedup_clusters, near_duplicates

    docs = _t(spark, sf_dir, "documents")
    # lighter LSH parametrization than the minhash_near_dup query (8
    # lanes / 2 bands): the candidate set feeds an exact-Jaccard filter
    # either way, and this query's subject is the component resolution,
    # not LSH recall — the oracle uses the identical parametrization
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    # fixed-round plan: near-dup components are star/clique shaped
    # (the seed aggregate already covers distance-1; each round adds a
    # hop). r12 guard-probe measurement: max_iterations=1 already passes
    # the runtime fixed-point guard at sf0.001 AND sf0.01 AND sf0.1
    # (labels converge at round 1); 2 shipped = one full hop of margin,
    # and an undersized bound stays LOUD (the fused guard round raises
    # at runtime rather than emitting split components), so this can
    # never silently diverge from the oracle's exact recursive closure.
    # Each dropped round saves one edge join + one agg exchange — two
    # fewer stage barriers per rep here and in the six downstream
    # eval-family queries (guide §2.4). The build stays action-free — a
    # per-round convergence probe's collects were ~2.8 s of driver time
    # charged to every plan build. A production pipeline on a graph of
    # unknown diameter raises max_iterations until the guard stays quiet.
    return dedup_clusters(pairs, max_iterations=2)


def _clusters_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    )
    SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor election per near-dup cluster: component resolution over
    the MinHash pair set, then keep the member with the most characters
    (ties → smallest doc_id) — the step that decides which member of each
    duplicate family enters the corpus. One id-keyed join + one
    cluster-keyed max_by aggregate on top of the cluster rounds."""
    from obsplus_spark.operators.dedup import canonical_docs, near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    return canonical_docs(
        pairs, docs, id_col="doc_id", quality_col="n_chars",
        max_iterations=2,
    )


def _canonical_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
    SELECT cluster_id, doc_id AS canonical_id, best_quality, n_members
    FROM (
      SELECT l.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
               AS n_members,
             max(d.n_chars) OVER (PARTITION BY l.cluster_id) AS best_quality
      FROM labels l JOIN documents d ON l.id = d.doc_id
    )
    WHERE rn = 1
"""


def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup components (MinHash
    pairs → min-label clusters) share one hash key, so a rewrapped copy
    can never straddle train/eval — operators/dedup.py
    leakage_safe_split. One pairs-sized left join on top of the bounded
    cluster rounds; assignment stays a per-row hash expression."""
    from obsplus_spark.operators.dedup import (
        leakage_safe_split,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    return leakage_safe_split(
        docs.select("doc_id"), pairs, max_iterations=2
    )


def _leak_safe_split_sql() -> str:
    return f"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    k AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS split_key
      FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
    )
    SELECT doc_id, split_key,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT *, ('0x' || substr(md5(CAST(split_key AS VARCHAR) || ''),
                                1, 8))::BIGINT % 100 AS b
      FROM k
    )
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket — stable
    across runs, engines, and data subsets (the property rand() splits
    lack). Per-row expression, no shuffle."""
    from obsplus_spark.operators.dedup import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, weights={"train": 90, "val": 5, "test": 5})


_SQL_SPLIT = """
    SELECT doc_id,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))::BIGINT
               % 100 AS b
      FROM documents
    )
"""


def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic downsample: k=25 docs per (lang,
    source) class by smallest md5(id) — reproducible 'random' selection;
    compiles to WindowGroupLimit (rank inside the shuffle, no full
    per-group sort at scale)."""
    from obsplus_spark.operators.dedup import hash_downsample_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_downsample_per_group(docs, ["lang", "source"], k=25)


_SQL_BALANCED = """
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ''), doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 25
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-gram with the
    'eval set' (doc_id % 97 == 0), with the count of distinct shared
    n-grams — the pre-training hygiene join (broadcast benchmark digests;
    corpus rows never shuffle). Real pipelines use 8-13-grams; the
    synthetic corpus' overlapping spans are short, so n=4 here keeps the
    oracle check non-empty. Self-matches excluded from the corpus side
    so the flag means leakage, not identity."""
    from obsplus_spark.operators.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, benchmark, n=4)


_SQL_DECONTAM = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 4 THEN
               list_transform(range(1, len(w) - 2),
                 i -> array_to_string(list_slice(w, i, i + 3), ' '))
             ELSE [] END) AS g
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b ON b.s = c.s
    GROUP BY c.doc_id
"""


def q_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination: corpus docs that are document-level
    near-duplicates (MinHash-LSH candidates + exact-Jaccard verify,
    best match per doc) of the eval cohort (doc_id % 7 == 0) —
    operators/dedup.py fuzzy_decontaminate. Complements decontaminate's
    exact gram membership with the rewrapped-eval-item case; benchmark
    band rows and digest arrays broadcast, corpus never shuffles."""
    from obsplus_spark.operators.dedup import fuzzy_decontaminate

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return fuzzy_decontaminate(corpus, benchmark, threshold=0.2)


def _fuzzy_decontam_sql(n_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_fuzzy_decontam: identical 38-char-extended-md5
    lane family and banding as _minhash_sql, with the corpus×benchmark
    split predicate and the per-doc best-match window."""
    rows_per_band = n_hashes // bands
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    cand AS (
      SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
      FROM banded c JOIN banded b
        ON c.band = b.band AND c.band_hash = b.band_hash
       AND c.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_id, p.bench_id, count(*) AS n_inter
      FROM cand p
      JOIN sh s1 ON s1.doc_id = p.doc_id
      JOIN sh s2 ON s2.doc_id = p.bench_id AND s2.shingle = s1.shingle
      GROUP BY p.doc_id, p.bench_id
    ),
    s AS (
      SELECT p.doc_id, p.bench_id,
             coalesce(i.n_inter, 0) AS n_inter,
             z1.n AS n_corpus, z2.n AS n_bench,
             coalesce(i.n_inter, 0)
               / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE)
               AS _jac
      FROM cand p
      LEFT JOIN inter i ON i.doc_id = p.doc_id AND i.bench_id = p.bench_id
      JOIN sizes z1 ON z1.doc_id = p.doc_id
      JOIN sizes z2 ON z2.doc_id = p.bench_id
      WHERE coalesce(i.n_inter, 0)
            / CAST(z1.n + z2.n - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.2
    )
    SELECT doc_id, bench_id,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_corpus AS BIGINT) AS n_corpus,
           CAST(n_bench AS BIGINT) AS n_bench,
           round(_jac, 8) AS jaccard
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY _jac DESC, bench_id
      ) AS _rk FROM s
    ) WHERE _rk = 1
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy source-overlap matrix: per source pair, the MinHash
    matching-lane estimate of shingle-set Jaccard — operators/dedup.py
    source_minhash_overlap. Lane minima are associative, so the source
    signature folds in ONE map-combinable aggregate (mergeable sketch);
    the pair matrix is dimension-sized. Complements dup_leakage's exact
    digest matrix with distribution-level overlap."""
    from obsplus_spark.operators.dedup import source_minhash_overlap

    docs = _t(spark, sf_dir, "documents")
    return source_minhash_overlap(docs)


def _source_overlap_sql(n_hashes: int = 16) -> str:
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
        for j in range(n_hashes)
    )
    return rf"""
    WITH norm AS (
      SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT source, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT source,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT source,
           {mh_cols}
      FROM (SELECT source, h || substr(h, 1, 6) AS h
            FROM (SELECT source, md5(shingle) AS h FROM sh)) hx
      GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({match_sum} AS BIGINT) AS n_lanes_match,
           round(({match_sum}) / {float(n_hashes)!r}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
"""


def q_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded contamination fraction (share of a doc's distinct
    4-grams found in the eval cohort, C4/FLAN decision rule) —
    operators/dedup.py contamination_fraction: gram-hash table built
    once (persisted), Bloom-pre-pruned broadcast semi join + in-row
    denominator, one id-keyed assembly join."""
    from obsplus_spark.operators.dedup import contamination_fraction

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_fraction(corpus, benchmark, n=4, threshold=0.05)


_SQL_CONTAM_FRAC = r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) >= 4 THEN
               list_transform(range(1, len(w) - 2),
                 i -> array_to_string(list_slice(w, i, i + 3), ' '))
             ELSE [] END) AS g
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, u.s FROM grams, unnest(g) AS u(s)
      WHERE doc_id % 97 <> 0
    ),
    corpus_g AS (
      SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams
      FROM grams WHERE doc_id % 97 <> 0 AND len(g) > 0
    ),
    shared AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b ON b.s = c.s
      GROUP BY c.doc_id
    )
    SELECT g.doc_id, g.n_grams,
           coalesce(s.n_shared, 0) AS n_shared,
           round(coalesce(s.n_shared, 0) / CAST(g.n_grams AS DOUBLE), 6)
             AS contamination_frac,
           coalesce(s.n_shared, 0) / CAST(g.n_grams AS DOUBLE) >= 0.05
             AS contaminated
    FROM corpus_g g LEFT JOIN shared s USING (doc_id)
"""


def q_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate leakage matrix (mirror-site /
    cross-crawl forensics) — operators/dedup.py cross_source_leakage:
    one digest-keyed aggregate with in-row source-set fold and pair
    expansion; nothing quadratic in documents."""
    from obsplus_spark.operators.dedup import cross_source_leakage

    docs = _t(spark, sf_dir, "documents")
    # prefix fingerprint: the synthetic corpus (like real crawls) has
    # head-duplicated near-exact copies, not byte-identical cross-source
    # texts — full-text digests find nothing at gate scale
    return cross_source_leakage(docs, prefix_tokens=16)


_SQL_DUP_LEAKAGE = r"""
    WITH d AS (
      SELECT DISTINCT
             md5(array_to_string(
                   list_filter(
                     string_split_regex(trim(lower(text)), '\s+'),
                     t -> t != '')[1:16],
                   ' ')) AS dig,
             source
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0
        AND source IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_digests
    FROM d a JOIN d b ON a.dig = b.dig AND a.source < b.source
    GROUP BY a.source, b.source
"""


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/eval split with a 7-day embargo band —
    operators/dedup.py temporal_split: pure per-row expression (no
    shuffle), NULL timestamps land in the embargo class by contract."""
    from obsplus_spark.operators.dedup import temporal_split

    ev = _t(spark, sf_dir, "events")
    out = temporal_split(
        ev,
        train_end_ns=1_709_251_200_000_000_000,  # 2024-03-01 UTC
        embargo_ns=7 * 86_400_000_000_000,
    )
    return out.select("event_id", "user_id", "split")


_SQL_TEMPORAL_SPLIT = """
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN 'embargo'
                WHEN epoch_ns(ts) < 1709251200000000000 THEN 'train'
                WHEN epoch_ns(ts) < 1709251200000000000
                     + 7 * 86400000000000 THEN 'embargo'
                ELSE 'eval' END AS split
    FROM events
"""


def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (every row of a user in one
    fold) — operators/dedup.py group_kfold: the shared md5-uint32
    recipe over the GROUP key mod k; map-only, subset-consistent."""
    from obsplus_spark.operators.dedup import group_kfold

    ev = _t(spark, sf_dir, "events")
    return group_kfold(ev, "user_id", k=5).select(
        "event_id", "user_id", "fold"
    )


_SQL_GROUP_KFOLD = """
    SELECT event_id, user_id,
           CASE WHEN user_id IS NULL THEN CAST(NULL AS BIGINT)
                ELSE ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ''),
                      1, 8))::BIGINT % 5 END AS fold
    FROM events
"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding evaluation vs exact PPJoin ground truth —
    operators/dedup.py lsh_recall_eval: recall + candidate precision of
    the (16-lane, 4-band) config at Jaccard ≥ 0.5; truth and candidates
    each run their documented keyed plans, the comparison is one
    pair-keyed join + single-row aggregates (never collected)."""
    from obsplus_spark.operators.dedup import lsh_recall_eval

    docs = _t(spark, sf_dir, "documents")
    return lsh_recall_eval(docs, threshold=0.5, n_hashes=16, bands=4)


def _lsh_recall_sql(n_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of q_lsh_recall: the minhash banding CTEs (lockstep
    with _minhash_sql) + the PPJoin truth CTEs (lockstep with
    _SQL_SETSIM) + the count comparison."""
    rows_per_band = n_hashes // bands
    mh_cols = ",\n           ".join(
        f"min(('0x' || substr(h, {2 * j + 1}, 8))::BIGINT) AS mh_{j}"
        for j in range(n_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    sig AS (
      SELECT doc_id,
           {mh_cols}
      FROM (SELECT doc_id, h || substr(h, 1, 6) AS h
            FROM (SELECT doc_id, md5(shingle) AS h FROM sh)) hx
      GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, b.band, b.band_hash
      FROM sig, (VALUES
      {band_rows}
      ) AS b(band, band_hash)
    ),
    lshp AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.shingle) AS rn,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    ),
    pref AS (
      SELECT doc_id, shingle, rn, sz FROM ranked
      WHERE rn <= sz - CAST(ceil(0.5 * sz - 1e-9) AS INT) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM pref a JOIN pref b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.sz >= ceil(0.5 * a.sz - 1e-9)
       AND a.sz >= ceil(0.5 * b.sz - 1e-9)
       AND least(a.sz - a.rn, b.sz - b.rn) + 1
           >= ceil(0.3333333333333333 * (a.sz + b.sz) - 1e-9)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS ni
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.id1
      JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
      GROUP BY c.id1, c.id2
    ),
    truth AS (
      SELECT i.id1, i.id2
      FROM inter i
      JOIN sizes z1 ON z1.doc_id = i.id1
      JOIN sizes z2 ON z2.doc_id = i.id2
      WHERE i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE) >= 0.5
    ),
    hit AS (
      SELECT count(*) AS n_true_pairs, count(l.id1) AS n_hit
      FROM truth t
      LEFT JOIN lshp l ON t.id1 = l.id1 AND t.id2 = l.id2
    ),
    nc AS (SELECT count(*) AS n_candidates FROM lshp)
    SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_true_pairs = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(n_hit / CAST(n_true_pairs AS DOUBLE), 6)
           END AS recall,
           CASE WHEN n_candidates = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(n_hit / CAST(n_candidates AS DOUBLE), 6)
           END AS candidate_precision
    FROM hit CROSS JOIN nc
"""


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate exposure — operators/dedup.py
    duplicate_rate_by_source: digest-keyed window for corpus-wide
    counts (no self-join), source-keyed rollup; predicts exactly what
    exact_dedup would remove, per source."""
    from obsplus_spark.operators.dedup import duplicate_rate_by_source

    docs = _t(spark, sf_dir, "documents")
    return duplicate_rate_by_source(docs)


_SQL_DUP_RATE_BY_SOURCE = r"""
    WITH d AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS dg
      FROM documents
    ),
    w AS (
      SELECT source, dg, count(*) OVER (PARTITION BY dg) AS cnt FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (dg IS NOT NULL AND cnt > 1)
                AS BIGINT) AS n_dup_docs,
           CAST(count(DISTINCT dg) AS BIGINT) AS n_unique_texts,
           CAST(count(*) FILTER (dg IS NOT NULL)
                - count(DISTINCT dg) AS BIGINT) AS n_excess,
           round(count(*) FILTER (dg IS NOT NULL AND cnt > 1)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM w GROUP BY source
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion per-source train/val/test assignment —
    operators/dedup.py stratified_split: rank-within-stratum over the
    shared md5 key, floor-quantized boundaries; one stratum-keyed
    window exchange (vs hash_split's shuffle-free but
    only-in-expectation buckets)."""
    from obsplus_spark.operators.dedup import stratified_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_split(docs, id_col="doc_id", stratum_col="source")


_SQL_STRATIFIED_SPLIT = """
    WITH k AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS key
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY key, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM k
    )
    SELECT doc_id, source,
           CASE WHEN rk <= CAST(floor(n * 90 / 100.0) AS BIGINT)
                  THEN 'train'
                WHEN rk <= CAST(floor(n * 95 / 100.0) AS BIGINT)
                  THEN 'val'
                ELSE 'test' END AS split
    FROM r
"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc boilerplate n-gram stats (C4-style repeated-span rule):
    per-doc fraction of distinct 3-grams occurring in ≥3 documents.
    In-row xxhash64 gram sets, one gram-keyed aggregate, broadcast
    frequent-set join back."""
    from obsplus_spark.operators.dedup import boilerplate_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_ngram_stats(docs, n=3, min_docs=3)


_SQL_BOILER = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> t != '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
                    range(1, len(toks) - 1),
                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                  ELSE []::VARCHAR[] END AS grams
      FROM t
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    freq AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 3),
    hits AS (
      SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_boiler
      FROM e JOIN freq f USING (gram) GROUP BY e.doc_id
    )
    SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CASE WHEN len(g.grams) = 0 THEN 0.0
                 ELSE coalesce(h.n_boiler, 0)
                      / CAST(len(g.grams) AS DOUBLE) END, 6) AS boiler_frac
    FROM g LEFT JOIN hits h USING (doc_id)
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: documents vs a deterministically simulated
    v2 snapshot (every 17th doc dropped, every 10th modified, every
    13th re-added under a shifted id). One fingerprint projection per
    side, one full-outer id join, dimension-sized status counts."""
    from obsplus_spark.operators.dedup import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    v2 = (
        docs.filter("doc_id % 17 != 0")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id % 10 = 0 THEN concat(text, ' v2')"
            " ELSE text END AS text",
        )
        .unionAll(
            docs.filter("doc_id % 13 = 0").selectExpr(
                "doc_id + 1000000 AS doc_id", "text"
            )
        )
    )
    return snapshot_diff(docs, v2)


_SQL_CORPUS_DIFF = r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
      FROM documents
    ),
    v2src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 17 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0
    ),
    fp2 AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
      FROM v2src
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE
               WHEN o.doc_id IS NULL THEN 'added'
               WHEN n.doc_id IS NULL THEN 'removed'
               WHEN o.f != n.f THEN 'modified'
               ELSE 'unchanged'
             END AS status
      FROM fp o FULL OUTER JOIN fp2 n ON o.doc_id = n.doc_id
    )
    GROUP BY status
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span mass per document (trigram slots whose gram
    recurs anywhere in the corpus, multiplicity included): in-row integer
    gram hashing, one gram-keyed count window + one per-doc aggregate —
    the span-level exact-dedup signal next to the doc-level MinHash
    verdicts."""
    from obsplus_spark.operators.dedup import duplicate_span_mass

    docs = _t(spark, sf_dir, "documents")
    return duplicate_span_mass(docs, n=3)


_SQL_SPAN = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, string_split(t, ' ') AS w
      FROM norm WHERE length(t) > 0
    ),
    g AS (
      SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS gram
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    c AS (
      SELECT doc_id, count(*) OVER (PARTITION BY gram) AS c FROM g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_mass
    FROM c GROUP BY doc_id
"""


def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ 0.5 over trigram
    shingle sets) via prefix filtering: candidates only from each doc's
    rarest-first shingle prefix, then exact intersection verify. The
    deterministic complement to the MinHash path — no false negatives.
    (Prefix order differs between engines — digests here, strings in the
    oracle — but any consistent order yields a verified-identical
    result set.)"""
    from obsplus_spark.operators.dedup import set_similarity_join

    docs = _t(spark, sf_dir, "documents")
    return set_similarity_join(docs, threshold=0.5)


_SQL_SETSIM = r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
      WHERE len(w) >= 3
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.shingle) AS rn,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d ON s.shingle = d.shingle
    ),
    pref AS (
      SELECT doc_id, shingle, rn, sz FROM ranked
      WHERE rn <= sz - CAST(ceil(0.5 * sz - 1e-9) AS INT) + 1
    ),
    cand AS (
      -- same lossless PPJoin length/positional pruning as the engine
      -- (epsilon inside every ceil, mirroring dedup._PPJOIN_EPS: the
      -- rational bounds must never round UP past an exact-boundary pair)
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM pref a JOIN pref b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.sz >= ceil(0.5 * a.sz - 1e-9)
       AND a.sz >= ceil(0.5 * b.sz - 1e-9)
       AND least(a.sz - a.rn, b.sz - b.rn) + 1
           >= ceil(0.3333333333333333 * (a.sz + b.sz) - 1e-9)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS ni
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.id1
      JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2,
           CAST(i.ni AS BIGINT) AS n_inter,
           CAST(z1.n AS BIGINT) AS n1, CAST(z2.n AS BIGINT) AS n2,
           round(i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes z1 ON z1.doc_id = i.id1
    JOIN sizes z2 ON z2.doc_id = i.id2
    WHERE i.ni / CAST(z1.n + z2.n - i.ni AS DOUBLE) >= 0.5
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the batch (doc_id % 3 = 0) is signed
    and banded fresh; the existing corpus contributes ONLY its persisted
    LSH band index — never re-scanned or re-paired. Candidates =
    batch-internal buckets ∪ batch×index collisions; exact Jaccard
    verify; identical result to full LSH over old ∪ new filtered to
    pairs touching the batch (which is what the oracle computes)."""
    from obsplus_spark.operators.dedup import (
        incremental_candidate_pairs,
        lsh_band_index,
        pair_jaccard_arrays,
        shingle_digest_array,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE md5 digest pass over the whole corpus feeds the old-side index,
    # the new-side signatures AND the exact verification (array
    # intersection on the digest arrays — no exploded string shingle
    # table); 3.4 s → ~1 s at sf0.1
    dig = shingle_digest_array(docs, n=3, drop_empty=True).persist()
    register_shingle_cache(dig)
    new_dig = dig.filter("doc_id % 3 = 0")
    old_dig = dig.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0")
    index = lsh_band_index(
        old_dig, n_hashes=16, bands=4, digest_arrays_df=old_dig
    )
    pairs = incremental_candidate_pairs(
        new, index, n_hashes=16, bands=4, shingle_size=3,
        digest_arrays_df=new_dig,
    )
    out = pair_jaccard_arrays(dig, pairs, arr_col="shingles")
    return out.filter(F.col("jaccard") >= 0.2).select(
        "id1", "id2", "n_inter", "n1", "n2",
        F.round("jaccard", 8).alias("jaccard"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis–Spirakis weighted sample: top-50 docs by
    u^(1/n_chars) with hash-derived uniforms — reproducible,
    subset-consistent weighted pick (operators/dedup.py
    weighted_sample); one scan + TakeOrdered."""
    from obsplus_spark.operators.dedup import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = weighted_sample(docs, weight_col="n_chars", k=50)
    return out.select(
        "doc_id", "n_chars", F.round("sample_key", 8).alias("sample_key")
    )


_SQL_WEIGHTED_SAMPLE = """
    SELECT doc_id, n_chars, round(sk, 8) AS sample_key
    FROM (
      SELECT doc_id, n_chars,
             pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))
                    ::BIGINT + 0.5) / 4294967296.0,
                 1.0 / CAST(n_chars AS DOUBLE)) AS sk
      FROM documents
      WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))
        AND n_chars > 0
    )
    -- order by the FULL-PRECISION key (aliasing it sample_key in the
    -- outer select would rebind ORDER BY to the 8-dp ROUNDED value and
    -- let rank-50 ties resolve differently than the Spark side)
    ORDER BY sk DESC, doc_id
    LIMIT 50
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring runs (3-gram chains, runs ≥ 2) —
    operators/dedup.py duplicated_spans: in-row gram hashes with
    positions, gram-keyed frequency window, doc-keyed run detection;
    the exact-substring-dedup signal beyond span mass."""
    from obsplus_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_spans(docs, n=3, min_run=2)


_SQL_DUP_SPANS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c > 1
    ),
    runs AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS rg
      FROM d GROUP BY doc_id, run
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(rg) AS BIGINT) AS max_run_grams,
           CAST(max(rg) + 2 AS BIGINT) AS max_span_tokens
    FROM runs WHERE rg >= 2
    GROUP BY doc_id
"""


def q_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granularity exact-substring dedup — operators/dedup.py
    exact_substring_spans: every maximal run of corpus-duplicated
    3-gram positions emitted as an explicit cuttable token span
    (start, gram count, token length), the removal-step input of a
    Lee-et-al exact-substring pass; dup_spans reports only per-doc
    statistics over the same runs."""
    from obsplus_spark.operators.dedup import exact_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_spans(docs, n=3, min_run=2, min_count=2)


_SQL_EXACT_SPANS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(count(*) AS BIGINT) AS span_grams,
           CAST(count(*) + 2 AS BIGINT) AS span_tokens
    FROM d
    GROUP BY doc_id, run
    HAVING count(*) >= 2
"""


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL — operators/dedup.py cut_spans applied
    to exact_substring_spans output (cut-all-occurrences policy):
    every corpus-duplicated gram run is excised from the canonical
    token stream; cleaned text + removed-token count per document.
    Spans fold to one array row per doc, ONE id-keyed left join, the
    keep test is a pure in-row filter."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return cut_spans(docs, spans)


_SQL_CUT_SPANS = r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, count(*) + 2 AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i + 1] AS tok
      FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM t)
    ),
    kept AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS txt,
             count(*) AS n
      FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tok.doc_id
          AND tok.pos >= s.s AND tok.pos < s.s + s.l
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN t.w IS NULL THEN NULL
                ELSE coalesce(k.txt, '') END AS text,
           CAST(CASE WHEN t.w IS NULL THEN NULL
                     ELSE len(t.w) - coalesce(k.n, 0) END AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


def q_span_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-copy span election — operators/dedup.py
    keep_first_occurrence over exact_substring_spans output: group
    span occurrences by region content (the canonical token slice;
    engine hashes it with xxhash64, the twin groups the slice string —
    the accepted digest argument), keep the min-(doc_id, span_start)
    occurrence, return the rest — the exact span set cut_spans needs
    so one copy of each duplicated region survives corpus-wide (Lee
    et al. keep-one rule). One id-keyed join + one region-keyed
    window over the span frame."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        keep_first_occurrence,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return keep_first_occurrence(docs, spans)


_SQL_SPAN_KEEP_ONE = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT s.doc_id, s.s, s.l,
             array_to_string(list_slice(t.w, s.s + 1, s.s + s.l), ' ')
               AS region
      FROM spans s JOIN t ON t.doc_id = s.doc_id
    )
    SELECT doc_id, s AS span_start, l AS span_tokens
    FROM (
      SELECT doc_id, s, l,
             row_number() OVER (PARTITION BY region
                 ORDER BY doc_id, s) AS rn
      FROM r
    )
    WHERE rn > 1
"""


def q_span_store_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring spans driven by a PRECOMPUTED gram-frequency
    store — operators/dedup.py exact_substring_spans(freqs=):
    the gram-keyed count window is replaced by one gram-keyed left
    join against gram_frequencies output, skipping the second
    corpus pass. Same store = same spans, so the oracle is
    exact_spans' twin verbatim."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        gram_frequencies,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = gram_frequencies(docs, n=3)
    return exact_substring_spans(
        docs, n=3, min_run=2, min_count=2, freqs=store
    )


def q_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed per-document precision/recall of the MinHash clustering
    against exact-fingerprint truth — operators/dedup.py bcubed_eval:
    the equal-doc-weight average that pairwise counts can't give (one
    giant cluster dominates C(n,2) mass); folds through the same
    (fingerprint x cluster) cell table as dedup_pair_eval, two
    dimension-sized windows, nothing per-doc materializes."""
    from obsplus_spark.operators.dedup import (
        bcubed_eval,
        dedup_clusters,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return bcubed_eval(docs, labels)


def _bcubed_sql() -> str:
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    cells AS (
      SELECT md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
               AS fp,
             coalesce(l.cluster_id, d.doc_id) AS cl,
             CAST(count(*) AS BIGINT) AS k
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
      WHERE d.text IS NOT NULL
      GROUP BY 1, 2
    ),
    w AS (
      SELECT k,
             sum(k) OVER (PARTITION BY cl) AS cn,
             sum(k) OVER (PARTITION BY fp) AS tn
      FROM cells
    ),
    s AS (
      SELECT CAST(sum(k) AS BIGINT) AS n_docs,
             sum(CAST(k AS DOUBLE) * k / CAST(cn AS DOUBLE)) AS sp,
             sum(CAST(k AS DOUBLE) * k / CAST(tn AS DOUBLE)) AS sr
      FROM w
    )
    SELECT n_docs,
           round(sp / n_docs, 6) AS bcubed_precision,
           round(sr / n_docs, 6) AS bcubed_recall,
           round(2 * (sp / n_docs) * (sr / n_docs)
                 / nullif(sp / n_docs + sr / n_docs, 0e0), 6)
             AS bcubed_f1
    FROM s
"""


def q_span_keep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Lee-et-al exact-substring pipeline in one row:
    find (exact_substring_spans) -> elect (keep_first_occurrence) ->
    cut (cut_spans) — every duplicated region survives in exactly its
    first-(doc_id, span_start) occurrence and is excised everywhere
    else; cleaned text + removed-token count per document. The
    keep-one composition cut_spans previously documented as caller
    policy, exercised end-to-end against a twin that composes the
    same three stages."""
    from obsplus_spark.operators.dedup import (
        cut_spans,
        exact_substring_spans,
        keep_first_occurrence,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return cut_spans(docs, keep_first_occurrence(docs, spans))


_SQL_SPAN_KEEP_CUT = r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    allspans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT a.doc_id, a.s, a.l,
             array_to_string(list_slice(t.w, a.s + 1, a.s + a.l), ' ')
               AS region
      FROM allspans a JOIN t ON t.doc_id = a.doc_id
    ),
    spans AS (
      SELECT doc_id, s, l
      FROM (
        SELECT doc_id, s, l,
               row_number() OVER (PARTITION BY region
                   ORDER BY doc_id, s) AS rn
        FROM r
      )
      WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, i AS pos, w[i + 1] AS tok
      FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM t)
    ),
    kept AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos), '') AS txt,
             count(*) AS n
      FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tok.doc_id
          AND tok.pos >= s.s AND tok.pos < s.s + s.l
      )
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN t.w IS NULL THEN NULL
                ELSE coalesce(k.txt, '') END AS text,
           CAST(CASE WHEN t.w IS NULL THEN NULL
                     ELSE len(t.w) - coalesce(k.n, 0) END AS BIGINT)
             AS n_removed
    FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


def q_shared_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared duplicated region per document pair —
    operators/dedup.py shared_region_pairs over exact_substring_spans:
    region-keyed self-join on span CONTENT identity (engine hashes the
    token slice, the twin groups the slice string), hot regions
    capped at 64 occurrences (the winnowing stop-print rule). The
    exact-contiguous-run complement of containment/Jaccard pairs."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        shared_region_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return shared_region_pairs(docs, spans, max_occurrences=64)


_SQL_SHARED_REGIONS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT s.doc_id, s.l,
             array_to_string(list_slice(t.w, s.s + 1, s.s + s.l), ' ')
               AS region
      FROM spans s JOIN t ON t.doc_id = s.doc_id
    ),
    k AS (
      SELECT * FROM (
        SELECT doc_id, l, region,
               count(*) OVER (PARTITION BY region) AS occ
        FROM r
      ) WHERE occ <= 64
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(max(a.l) AS BIGINT) AS shared_tokens,
           CAST(count(DISTINCT a.region) AS BIGINT) AS n_shared_regions
    FROM k a JOIN k b
      ON a.region = b.region AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


def q_top_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-forensics top-k duplicated regions WITH their text —
    operators/dedup.py top_regions over exact_substring_spans: the
    regions carrying the most repeated token mass ((occ-1)*length,
    what a keep-one cut would remove), one region-keyed map-combined
    aggregate + distributed TakeOrdered; deterministic text
    tie-break."""
    from obsplus_spark.operators.dedup import (
        exact_substring_spans,
        top_regions,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spans = exact_substring_spans(docs, n=3, min_run=2, min_count=2)
    return top_regions(docs, spans, k=20)


_SQL_TOP_REGIONS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (
      SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM g
    ),
    d AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM f WHERE c >= 2
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
             CAST(count(*) + 2 AS BIGINT) AS l
      FROM d GROUP BY doc_id, run HAVING count(*) >= 2
    ),
    r AS (
      SELECT a.doc_id, a.l,
             array_to_string(list_slice(t.w, a.s + 1, a.s + a.l), ' ')
               AS region
      FROM spans a JOIN t ON t.doc_id = a.doc_id
    )
    SELECT region AS region_text,
           CAST(count(*) AS BIGINT) AS occurrences,
           CAST(max(l) AS BIGINT) AS span_tokens,
           CAST((count(*) - 1) * max(l) AS BIGINT) AS dup_mass
    FROM r GROUP BY region
    ORDER BY dup_mass DESC, region_text
    LIMIT 20
"""


def q_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-plan feasibility audit — operators/dedup.py
    mixture_feasibility over the rebalanced plan: can each source's
    target share be met from its post-dedup inventory under the
    repetition cap; requested/achievable/shortfall tokens, feasible
    flag, and the realized post-cap share (renormalized over
    achievable mass). Dimension-sized: pure map + one unpartitioned
    window over |sources| rows."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        mixture_feasibility,
        mixture_rebalance,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    plan = mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, _MIX_TARGET, max_repeat=4.0
    )
    return mixture_feasibility(plan, _MIX_TARGET, max_repeat=4.0)


def _mix_audit_sql() -> str:
    inner = _rebalance_sql()
    # NULL-weight coalesce mirrors the engine operator's guard (the
    # least()-skips-NULL trap); the rebalance inner never emits NULL
    # weights (CASE ... ELSE 0), so this is lockstep hygiene
    req = (
        f"CAST(floor(CAST(coalesce(weight, 0e0) AS DOUBLE)"
        f" * {_MIX_TARGET}) AS BIGINT)"
    )
    ach = (
        f"least({req}, CAST(floor(CAST(4.0 AS DOUBLE)"
        f" * coalesce(kept_tokens, 0)) AS BIGINT))"
    )
    return f"""
    SELECT source, weight, inventory_tokens, requested_tokens,
           achievable_tokens,
           requested_tokens - achievable_tokens AS shortfall_tokens,
           achievable_tokens >= requested_tokens AS feasible,
           round(achievable_tokens
                 / CAST(nullif(sum(achievable_tokens) OVER (), 0)
                        AS DOUBLE), 6) AS realized_share
    FROM (
      SELECT source, CAST(coalesce(weight, 0e0) AS DOUBLE) AS weight,
             CAST(coalesce(kept_tokens, 0) AS BIGINT)
               AS inventory_tokens,
             {req} AS requested_tokens,
             {ach} AS achievable_tokens
      FROM ({inner})
    )
"""


def q_apply_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-plan EXECUTION — operators/dedup.py apply_mixture: the
    sampled+repeated corpus a rebalanced plan prescribes. Plan built
    inline from exact-fingerprint dedup labels (cheap md5 clusters, so
    the oracle twin is non-recursive) with a token target that forces
    rates both below 1 (hash subsampling) and above 1 (epoch repeats);
    one broadcast join + an in-row bounded sequence explode — the
    corpus itself never shuffles."""
    from obsplus_spark.operators.dedup import (
        apply_mixture,
        mixture_rebalance,
    )
    from obsplus_spark.util import sql_over

    docs = _t(spark, sf_dir, "documents")
    # exact-duplicate clusters by normalized-text fingerprint: label =
    # min doc_id per fingerprint group, rows only for docs in groups
    # of >= 2 (the dedup_clusters output contract, cheaply)
    labels = sql_over(
        {"d": docs},
        """
        SELECT doc_id AS id, cluster_id FROM (
          SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')))
                   AS cluster_id,
                 count(1) OVER (PARTITION BY
                     md5(regexp_replace(trim(lower(text)), '\\\\s+', ' ')))
                   AS _n
          FROM {d} WHERE text IS NOT NULL
        ) WHERE _n >= 2
        """,
    )
    plan = mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, 400_000, max_repeat=3.0
    )
    out = apply_mixture(
        docs.select("doc_id", "source", "n_chars"), plan
    )
    return out.selectExpr(
        "doc_id", "source", "n_chars", "CAST(epoch AS INT) AS epoch"
    )


def _apply_mixture_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    rate = (
        "CASE WHEN coalesce(kept_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE least(CAST(3.0 AS DOUBLE),"
        " weight * CAST(400000 AS DOUBLE) / kept_tokens) END"
    )
    return rf"""
    WITH labels AS (
      SELECT doc_id AS id, cluster_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY
                   md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
                 AS cluster_id,
               count(*) OVER (PARTITION BY
                   md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
                 AS n
        FROM documents WHERE text IS NOT NULL
      ) WHERE n >= 2
    ),
    j AS (
      SELECT d.source,
             CASE WHEN length(trim(d.text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\s+'))
             END AS nt,
             (l.id IS NULL OR l.cluster_id = d.doc_id) AS keep
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    ),
    plan AS (
      SELECT source, round({rate}, 6) AS rate
      FROM (
        SELECT source,
               CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
        FROM j GROUP BY source
      )
    ),
    n_cp AS (
      SELECT d.doc_id, d.source, d.n_chars,
             CAST(floor(p.rate) AS INTEGER)
             + CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                     || ''), 1, 8))::BIGINT + 0e0) / 4294967296e0
                    < p.rate - floor(p.rate)
                    THEN 1 ELSE 0 END AS n
      FROM documents d JOIN plan p
        ON (p.source = d.source OR (p.source IS NULL AND d.source IS NULL))
       AND p.rate IS NOT NULL
    )
    SELECT doc_id, source, n_chars, CAST(e.epoch AS INTEGER) AS epoch
    FROM n_cp, generate_series(1, 3) AS e(epoch)
    WHERE e.epoch <= n_cp.n
"""


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise precision/recall of the MinHash clustering against
    exact-fingerprint truth — operators/dedup.py dedup_pair_eval:
    truth/predicted/intersection pair counts all via C(n,2) over
    group sizes (three dimension-sized aggregates, nothing quadratic)
    on top of the bounded cluster rounds."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        dedup_pair_eval,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return dedup_pair_eval(docs, labels)


def _dedup_eval_sql() -> str:
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    cells AS (
      SELECT md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
               AS fp,
             coalesce(l.cluster_id, d.doc_id) AS cl,
             CAST(count(*) AS BIGINT) AS k
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
      WHERE d.text IS NOT NULL
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT sum(n * (n - 1) // 2) AS tp FROM (
        SELECT fp, sum(k) AS n FROM cells GROUP BY fp)
    ),
    pred AS (
      SELECT sum(n * (n - 1) // 2) AS pp FROM (
        SELECT cl, sum(k) AS n FROM cells GROUP BY cl)
    ),
    inter AS (SELECT sum(k * (k - 1) // 2) AS ip FROM cells)
    SELECT CAST(truth.tp AS BIGINT) AS truth_pairs,
           CAST(pred.pp AS BIGINT) AS pred_pairs,
           CAST(inter.ip AS BIGINT) AS tp_pairs,
           round(inter.ip / CAST(nullif(pred.pp, 0) AS DOUBLE), 6)
             AS pair_precision,
           round(inter.ip / CAST(nullif(truth.tp, 0) AS DOUBLE), 6)
             AS pair_recall
    FROM truth CROSS JOIN pred CROSS JOIN inter
"""


def q_gram_freq_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-frequency HISTOGRAM (how many distinct 3-grams occur k
    times corpus-wide) — operators/dedup.py gram_frequencies rolled up
    to a hash-invariant shape (gram ids are xxhash64 on the engine and
    strings in the oracle; occurrence counts agree modulo the accepted
    2^-64 digest argument)."""
    from obsplus_spark.operators.dedup import gram_frequencies
    from obsplus_spark.util import sql_over

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gf = gram_frequencies(docs, n=3)
    return sql_over(
        {"g": gf},
        """
        SELECT n_occ, CAST(count(1) AS BIGINT) AS n_grams
        FROM {g} GROUP BY n_occ
        """,
    )


_SQL_GRAM_FREQ_HIST = r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    f AS (SELECT g, CAST(count(*) AS BIGINT) AS n_occ FROM g GROUP BY g)
    SELECT n_occ, CAST(count(*) AS BIGINT) AS n_grams
    FROM f GROUP BY n_occ
"""


def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus novelty scoring — operators/dedup.py gram_novelty:
    fraction of each non-src0 document's DISTINCT 3-grams that never
    occur in the src0 reference slice; one gram-keyed left join +
    one doc-keyed roll-up (the scoring complement of whole-doc
    decontamination)."""
    from obsplus_spark.operators.dedup import gram_novelty

    docs = _t(spark, sf_dir, "documents")
    return gram_novelty(
        docs.where("source <> 'src0'").select("doc_id", "text"),
        docs.where("source = 'src0'").select("text"),
        n=3,
    )


_SQL_GRAM_NOVELTY = r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE source <> 'src0' AND len(w) >= 3)
    ),
    rg AS (
      SELECT DISTINCT w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM (SELECT w, unnest(range(0, len(w) - 2)) AS i
            FROM t WHERE source = 'src0' AND len(w) >= 3)
    )
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN rg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN rg.g IS NULL THEN 1e0 ELSE 0e0 END)
                 / count(*), 6) AS novelty
    FROM dg LEFT JOIN rg ON dg.g = rg.g
    GROUP BY dg.doc_id
"""


def q_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup mixture rebalance — operators/dedup.py
    mixture_rebalance over dedup_clusters labels: per-source pre/post
    dedup token inventories and the sampling rate (capped repetition
    allowed above 1) that re-hits each source's target share after
    near-dup removal shrank sources unevenly. One id-keyed left join
    against the pair-member-sized label frame + one source-keyed
    aggregate on top of the bounded cluster rounds."""
    from obsplus_spark.operators.dedup import (
        dedup_clusters,
        mixture_rebalance,
        near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates(
        docs, n_hashes=8, bands=2, shingle_size=3, threshold=0.2
    ).select("id1", "id2")
    labels = dedup_clusters(pairs, max_iterations=2)
    return mixture_rebalance(
        docs, labels, _MIX_WEIGHTS, _MIX_TARGET, max_repeat=4.0
    )


def _rebalance_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)"
        for s, w in _MIX_WEIGHTS.items()
    )
    # explicit NULL branch — least() skips NULLs on both engines
    rate = (
        f"CASE WHEN coalesce(kept_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE least(CAST(4.0 AS DOUBLE),"
        f" weight * CAST({_MIX_TARGET} AS DOUBLE)"
        f" / kept_tokens) END"
    )
    return rf"""
    WITH RECURSIVE p AS ({_minhash_sql(8, 2)}),
    e AS (
      SELECT id1 AS a, id2 AS b FROM p
      UNION ALL
      SELECT id2, id1 FROM p
    ),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.id
      WHERE r.lbl < e.b
    ),
    labels AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    j AS (
      SELECT d.source,
             CASE WHEN length(trim(d.text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(d.text), '\s+'))
             END AS nt,
             (l.id IS NULL OR l.cluster_id = d.doc_id) AS keep
      FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
    )
    SELECT source, n_docs, kept_docs, n_tokens, kept_tokens, weight,
           round({rate}, 6) AS sample_rate,
           CAST(floor(round({rate}, 6) * kept_tokens) AS BIGINT)
             AS expected_tokens
    FROM (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
               AS kept_tokens,
             CASE source {arms} ELSE CAST(0.0 AS DOUBLE) END AS weight
      FROM j GROUP BY source
    )
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level chunk dedup with document reconstruction —
    operators/dedup.py chunk_dedup: C4-style "drop every span seen
    earlier in the corpus" as a TRANSFORM (duplicate_span_mass only
    measures). Chunks form in-row; one chunk-digest window elects the
    first (doc_id, pos) occurrence; one doc-keyed aggregate rebuilds
    the surviving text."""
    from obsplus_spark.operators.dedup import chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_tokens=8)


def _chunk_dedup_sql(w: int, within_doc: bool) -> str:
    """Parameterized DuckDB twin of the shared chunking convention
    (text.chunk_token_exprs): corpus-level first-occurrence election
    (PARTITION BY the chunk alone, ordered by (doc, pos)) or the
    within-document variant (PARTITION BY (doc, chunk), ordered by
    pos) — one generator so the two oracles cannot drift apart.
    NULL-id rows are dropped on both sides (engine contract: a NULL id
    has no join identity — ADVICE r9 #3)."""
    part = "doc_id, lower(chunk)" if within_doc else "lower(chunk)"
    order = "pos" if within_doc else "doc_id, pos"
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')),
                                            '\s+'),
                         x -> x != '') AS w
      FROM documents
      WHERE doc_id IS NOT NULL
    ),
    ch AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(list_slice(w,
                 CAST(u.i * {w} + 1 AS BIGINT),
                 CAST(u.i * {w} + {w} AS BIGINT)), ' ') AS chunk
      FROM t, unnest(range(CAST(ceil(len(w) / {w}.0) AS BIGINT)))
        AS u(i)
    ),
    win AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY {part}
                                ORDER BY {order}) = 1 AS keep
      FROM ch
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             coalesce(string_agg(CASE WHEN keep THEN chunk END,
                                 ' ' ORDER BY pos), '') AS clean_text
      FROM win GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.doc_id IS NOT NULL
"""


_SQL_CHUNK_DEDUP = _chunk_dedup_sql(8, within_doc=False)


def q_within_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-chunk trim — operators/text.py
    within_doc_dedup: keep the first occurrence of each distinct
    2-token chunk INSIDE each document and rebuild the text (2-token
    chunks so the synthetic fixture's word streams actually repeat
    within a document; real crawls use the 8-token default). Plan is
    map-only (in-row chunking + one higher-order aggregate walk) —
    zero exchanges at any corpus size."""
    from obsplus_spark.operators.text import within_doc_dedup

    docs = _t(spark, sf_dir, "documents")
    return within_doc_dedup(docs, chunk_tokens=2)


_SQL_WITHIN_DOC_DEDUP = _chunk_dedup_sql(2, within_doc=True)


def q_edit_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verify over MinHash-LSH candidates —
    operators/dedup.py edit_distance_near_dup: the character-level leg
    of the verify family (catches in-place edits that barely move a
    shingle set); banding candidates via the shared one-shuffle bucket
    expansion, levenshtein on normalized text, ratio cut at 0.4."""
    from obsplus_spark.operators.dedup import edit_distance_near_dup

    docs = _t(spark, sf_dir, "documents")
    return edit_distance_near_dup(docs, max_ratio=0.4)


_SQL_EDIT_NEAR_DUP = _minhash_sql(
    tail="""lev AS (
      SELECT p.id1, p.id2,
             CAST(levenshtein(n1.t, n2.t) AS BIGINT) AS dist,
             CASE WHEN greatest(length(n1.t), length(n2.t)) = 0
                  THEN 0.0
                  ELSE levenshtein(n1.t, n2.t)
                       / CAST(greatest(length(n1.t), length(n2.t))
                              AS DOUBLE)
             END AS ratio
      FROM pairs p
      JOIN norm n1 ON n1.doc_id = p.id1
      JOIN norm n2 ON n2.doc_id = p.id2
    )
    SELECT id1, id2, dist, round(ratio, 6) AS edit_ratio
    FROM lev WHERE ratio <= 0.4"""
)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidates by shared winnowing fingerprints —
    operators/text.py winnow_overlap (MOSS match step): in-row
    winnow selection (rightmost-min per w-gram window), ONE
    print-keyed bucket exchange with a stop-print cap, pair-keyed
    shared count."""
    from obsplus_spark.operators.text import winnow_overlap

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap(docs, k=3, w=4, min_shared=2, max_bucket=32)


def _winnow_sql(min_shared: int = 2, tail: "str | None" = None) -> str:
    """DuckDB winnowing CTE chain (lockstep with text.winnow_overlap's
    documented plan: k=3 grams, w=4 rightmost-min windows, md5-uint32
    prints, stop-print cap 32). Default tail = the shared-print pair
    count; pass ``tail`` to consume the prints/pairs CTEs differently
    (lockstep-by-construction, the _minhash_sql pattern)."""
    prefix = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(coalesce(text,
                 ''))), '\s+'), x -> x != '') AS wt
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS gpos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(wt, u.i, u.i + 2), ' ')), 1, 8))::BIGINT
               AS h
      FROM t, unnest(range(1, len(wt) - 3 + 2)) AS u(i)
      WHERE len(wt) >= 3
    ),
    ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
    ws AS (
      SELECT g2.doc_id, CAST(s.i AS BIGINT) AS w0
      FROM (SELECT doc_id, n FROM ng WHERE n >= 4) g2,
           unnest(range(g2.n - 4 + 1)) AS s(i)
    ),
    winners AS (
      SELECT doc_id, h FROM (
        SELECT w.doc_id, w.w0, g.h,
               row_number() OVER (PARTITION BY w.doc_id, w.w0
                   ORDER BY g.h ASC, g.gpos DESC) AS rn
        FROM ws w JOIN g ON g.doc_id = w.doc_id
                      AND g.gpos BETWEEN w.w0 + 1 AND w.w0 + 4
      ) WHERE rn = 1
    ),
    short_docs AS (
      SELECT g.doc_id, g.h
      FROM g JOIN ng ON ng.doc_id = g.doc_id AND ng.n < 4
    ),
    prints AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT * FROM winners UNION ALL SELECT * FROM short_docs
      )
    ),
    bsz AS (SELECT h, count(*) AS n FROM prints GROUP BY h),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM prints a
      JOIN prints b ON a.h = b.h AND a.doc_id < b.doc_id
      JOIN bsz ON bsz.h = a.h AND bsz.n BETWEEN 2 AND 32
    )
"""
    if tail is not None:
        return prefix.rstrip() + ",\n    " + tail.strip() + "\n"
    return prefix + f"""
    SELECT id1, id2, CAST(count(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY id1, id2
    HAVING count(*) >= {min_shared}
"""


_SQL_WINNOW = _winnow_sql(2)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric gram containment over winnowing candidates —
    operators/dedup.py containment_pairs: quote/subset detection that
    symmetric Jaccard misses (banding never proposes size-skewed
    pairs; the winnowing guarantee does). In-row gram-array
    intersection verify."""
    from obsplus_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, w=4, threshold=0.5)


_SQL_CONTAINMENT = _winnow_sql(
    tail="""cand AS (SELECT DISTINCT id1, id2 FROM pairs),
    gs AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(wt, u.i, u.i + 2), ' ') AS gram
      FROM t, unnest(range(1, len(wt) - 3 + 2)) AS u(i)
      WHERE len(wt) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM gs GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, count(*) AS n_inter
      FROM cand c
      JOIN gs a ON a.doc_id = c.id1
      JOIN gs b ON b.doc_id = c.id2 AND b.gram = a.gram
      GROUP BY c.id1, c.id2
    ),
    fin AS (
      SELECT c.id1, c.id2,
             CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
             round(coalesce(i.n_inter, 0)
                   / CAST(nullif(za.n, 0) AS DOUBLE), 6) AS c1,
             round(coalesce(i.n_inter, 0)
                   / CAST(nullif(zb.n, 0) AS DOUBLE), 6) AS c2
      FROM cand c
      LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
      JOIN sz za ON za.doc_id = c.id1
      JOIN sz zb ON zb.doc_id = c.id2
    )
    SELECT id1, id2, n_inter, c1, c2 FROM fin
    WHERE greatest(c1, c2) >= 0.5"""
)


def q_dup_threshold_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard histogram of all verified LSH candidate pairs —
    operators/dedup.py near_dup_threshold_hist: the choose-a-threshold
    evidence (one near_duplicates pass at threshold 0, folded to 10
    bins on the 8-dp rounded Jaccard)."""
    from obsplus_spark.operators.dedup import near_dup_threshold_hist

    docs = _t(spark, sf_dir, "documents")
    return near_dup_threshold_hist(docs, buckets=10)


_SQL_DUP_HIST = (
    "SELECT CAST(least(9.0, floor(round(jaccard, 8) * 10)) AS INT)"
    " AS bucket, CAST(count(*) AS BIGINT) AS n_pairs FROM ("
    + _minhash_sql(threshold=0.0)
    + ") sub GROUP BY 1"
)


def q_seq_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential per-user holdout (last-2-events eval) —
    operators/dedup.py sequential_holdout: the next-event-prediction
    split; one user-keyed exchange, NULL key/ts rows split NULL by
    contract (engines disagree on NULL placement under DESC)."""
    from obsplus_spark.operators.dedup import sequential_holdout

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", _ts_ns().alias("t_ns")
    )
    return sequential_holdout(
        ev, key_col="user_id", order_col="t_ns", id_col="event_id", k=2
    )


_SQL_SEQ_HOLDOUT = """
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) AS t_ns FROM events
    )
    SELECT event_id, user_id, t_ns,
           CASE WHEN rn <= 2 THEN 'eval' ELSE 'train' END AS split
    FROM (
      SELECT event_id, user_id, t_ns,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY t_ns DESC, event_id DESC) AS rn
      FROM e WHERE user_id IS NOT NULL AND t_ns IS NOT NULL
    )
    UNION ALL
    SELECT event_id, user_id, t_ns, CAST(NULL AS VARCHAR) AS split
    FROM e WHERE user_id IS NULL OR t_ns IS NULL
"""


def q_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-stitch (suffix-prefix seam) detection — operators/dedup.py
    stitch_pairs: pairs whose tail-k tokens equal another doc's head-k
    tokens, the crawl-export split signature the Jaccard family misses.
    Fixture: every document ≥ 2k+2 tokens splits into two derived
    shards sharing a k-token seam (doc_id*2, doc_id*2+1), so true
    seams exist at every sf; the operator must recover exactly those
    (plus any accidental cross-doc seams, which both engines see)."""
    from obsplus_spark.operators.dedup import stitch_pairs

    docs = _t(spark, sf_dir, "documents")
    k = 4
    shards = docs.selectExpr(
        "doc_id",
        r"filter(split(trim(lower(coalesce(text, ''))), '\\s+'),"
        " t -> t != '') AS _toks",
    ).where(f"size(_toks) >= {2 * k + 2}").selectExpr(
        "doc_id",
        "CAST(size(_toks) / 2 AS INT) AS _m",
        "_toks",
    ).selectExpr(
        f"explode(array(named_struct('doc_id', doc_id * 2, 'text',"
        f" concat_ws(' ', slice(_toks, 1, _m + {k}))),"
        f" named_struct('doc_id', doc_id * 2 + 1, 'text',"
        f" concat_ws(' ', slice(_toks, _m + 1, size(_toks) - _m)))))"
        " AS s"
    ).select("s.doc_id", "s.text")
    return stitch_pairs(shards, k=k).orderBy("prev_id", "next_id")


_SQL_STITCH_PAIRS = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(coalesce(text, ''))),
                                            '\s+'),
                         x -> x != '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id * 2 AS doc_id,
             list_slice(w, 1, CAST(len(w) // 2 AS BIGINT) + 4) AS w
      FROM t WHERE len(w) >= 10
      UNION ALL
      SELECT doc_id * 2 + 1,
             list_slice(w, CAST(len(w) // 2 AS BIGINT) + 1, len(w))
      FROM t WHERE len(w) >= 10
    ),
    wins AS (
      SELECT doc_id,
             array_to_string(list_slice(w, 1, 4), ' ') AS hk,
             array_to_string(list_slice(w, len(w) - 3, len(w)), ' ') AS tk
      FROM sh WHERE len(w) >= 8
    ),
    hot AS (
      SELECT hk AS key FROM wins GROUP BY hk HAVING count(*) > 32
      UNION
      SELECT tk FROM wins GROUP BY tk HAVING count(*) > 32
    ),
    heads AS (
      SELECT doc_id, hk FROM wins
      WHERE hk NOT IN (SELECT key FROM hot)
    ),
    tails AS (
      SELECT doc_id, tk FROM wins
      WHERE tk NOT IN (SELECT key FROM hot)
    )
    SELECT t.doc_id AS prev_id, h.doc_id AS next_id
    FROM tails t JOIN heads h
      ON t.tk = h.hk AND t.doc_id != h.doc_id
    ORDER BY prev_id, next_id
"""


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum-ordering key — operators/dedup.py
    curriculum_key: difficulty bin (length-derived score here) + the
    house md5 uniform inside each bin, emitted as a SORT KEY instead of
    exact positions (map-only, zero exchanges — exact per-bin ranks
    would put corpus/bins rows on one window partition)."""
    from obsplus_spark.operators.dedup import curriculum_key

    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "least(1.0, n_chars / 2000.0) AS score"
    )
    return curriculum_key(docs, "score", bins=4)


_SQL_CURRICULUM = """
    SELECT doc_id,
           CAST(least(3, greatest(0, CAST(floor(
               least(1e0, n_chars / 2e3) * 4) AS INTEGER))) AS INTEGER)
             AS bin,
           round(CAST(least(3, greatest(0, CAST(floor(
               least(1e0, n_chars / 2e3) * 4) AS INTEGER)))
             + (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8))
                ::BIGINT) / CAST(4294967296 AS DOUBLE) AS DOUBLE), 6)
             AS curriculum_key
    FROM documents
"""


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample — operators/dedup.py
    group_sample: bottom-k by the house md5 hash within each group
    (subset-stable, rerun-stable, content-free); one group-keyed
    exchange, rank<=k compiled to WindowGroupLimit."""
    from obsplus_spark.operators.dedup import group_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return group_sample(docs, "source", k=5)


_SQL_GROUP_SAMPLE = """
    SELECT doc_id, source, lang, sample_rank
    FROM (
      SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || ''), 1, 8))::BIGINT, doc_id) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= 5
"""


QUERIES = [
    (q_exact_dedup, _SQL_DEDUP),
    (q_minhash_near_dup, _minhash_sql()),
    (q_simhash, _simhash_sql()),
    (q_dedup_clusters, _clusters_sql()),
    (q_canonical_docs, _canonical_sql()),
    (q_leak_safe_split, _leak_safe_split_sql()),
    (q_hash_split, _SQL_SPLIT),
    (q_balanced_sample, _SQL_BALANCED),
    (q_decontaminate, _SQL_DECONTAM),
    (q_fuzzy_decontam, _fuzzy_decontam_sql()),
    (q_source_overlap, _source_overlap_sql()),
    (q_contamination_frac, _SQL_CONTAM_FRAC),
    (q_dup_leakage, _SQL_DUP_LEAKAGE),
    (q_temporal_split, _SQL_TEMPORAL_SPLIT),
    (q_group_kfold, _SQL_GROUP_KFOLD),
    (q_lsh_recall, _lsh_recall_sql()),
    (q_dup_rate_by_source, _SQL_DUP_RATE_BY_SOURCE),
    (q_stratified_split, _SQL_STRATIFIED_SPLIT),
    (q_boilerplate, _SQL_BOILER),
    (q_corpus_diff, _SQL_CORPUS_DIFF),
    (q_span_dedup, _SQL_SPAN),
    (q_jaccard_join, _SQL_SETSIM),
    (
        q_incremental_dedup,
        _minhash_sql(
            16, 4,
            extra_pair_pred="\n       AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)",
        ),
    ),
    (q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
    (q_dup_spans, _SQL_DUP_SPANS),
    (q_exact_spans, _SQL_EXACT_SPANS),
    (q_cut_spans, _SQL_CUT_SPANS),
    (q_span_keep_one, _SQL_SPAN_KEEP_ONE),
    (q_span_store_join, _SQL_EXACT_SPANS),
    (q_bcubed, _bcubed_sql()),
    (q_span_keep_cut, _SQL_SPAN_KEEP_CUT),
    (q_shared_regions, _SQL_SHARED_REGIONS),
    (q_top_regions, _SQL_TOP_REGIONS),
    (q_mix_audit, _mix_audit_sql()),
    (q_apply_mixture, _apply_mixture_sql()),
    (q_dedup_eval, _dedup_eval_sql()),
    (q_gram_freq_hist, _SQL_GRAM_FREQ_HIST),
    (q_gram_novelty, _SQL_GRAM_NOVELTY),
    (q_rebalance, _rebalance_sql()),
    (q_chunk_dedup, _SQL_CHUNK_DEDUP),
    (q_within_doc_dedup, _SQL_WITHIN_DOC_DEDUP),
    (q_edit_near_dup, _SQL_EDIT_NEAR_DUP),
    (q_winnow_overlap, _SQL_WINNOW),
    (q_containment, _SQL_CONTAINMENT),
    (q_dup_threshold_hist, _SQL_DUP_HIST),
    (q_seq_holdout, _SQL_SEQ_HOLDOUT),
    (q_stitch_pairs, _SQL_STITCH_PAIRS),
    (q_curriculum, _SQL_CURRICULUM),
    (q_group_sample, _SQL_GROUP_SAMPLE),
]
