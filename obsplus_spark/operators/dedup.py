"""Deduplication operators for large-scale document pipelines.

Beyond the reference surface (BASELINE.json north_star): exact dedup,
MinHash+LSH near-dup, and n-gram Jaccard verification, all as declarative
DataFrame programs.

Hashing convention: every hash in this module is derived from ``md5`` hex
strings (``F.md5`` ↔ DuckDB ``md5``), so results are engine-portable and
oracle-checkable; MinHash minima compare the hex strings lexicographically
(lowercase hex both sides) — no engine-specific integer hash anywhere.

Scale notes: signatures are one explode + one groupBy per corpus (shuffle on
doc_id); LSH banding turns the quadratic all-pairs problem into an equi-join
on (band_index, band_hash) — the standard shuffle-friendly formulation; only
bucket-collision pairs pay the Jaccard verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: slack subtracted inside every PPJoin ceil() bound — absorbs DECIMAL/
#: float upward rounding of the rational bounds so exact-boundary pairs
#: (J == t) are never pruned; loosening a pruning filter is always safe
#: (the exact verify decides membership)
_PPJOIN_EPS = 1e-9


def normalize_text(col) -> F.Column:
    """Canonical text form: lowercase, collapsed whitespace, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Output: one row per distinct content — ``fingerprint``, canonical id
    (min id), duplicate count. A single groupBy on the hash: map-side
    partial agg, one shuffle, no join. No pre-repartition: one md5 per row
    is too cheap to amortize an extra exchange (heavier per-row ops like
    the shingle/simhash pipelines do repartition).
    """
    return (
        df
        .select(
            F.md5(normalize_text(text_col)).alias(fingerprint_col),
            F.col(id_col),
        )
        .groupBy(fingerprint_col)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_array(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """Distinct word n-gram shingle **set** per document, as one array row.

    Entirely narrow: shingle sets are per-document, so deduplication is
    ``array_distinct`` on the row — no explode, no shuffle. Documents
    shorter than ``n`` tokens get an empty array (no shingles).
    """
    from obsplus_spark.util import ensure_parallelism

    tokens = F.split(normalize_text(text_col), " ")
    # slice is 1-indexed; sequence(1, size-n+1) enumerates shingle starts.
    # Guard short docs: sequence(1, 0) would count DOWN, not produce empty.
    starts = F.when(
        F.size(tokens) >= n, F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    )
    return ensure_parallelism(df).select(F.col(id_col), sh.alias(out_col))


def shingle_digest_array(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out_col: str = "shingles",
    drop_empty: bool = False,
) -> DataFrame:
    """Distinct md5 digests of a document's word n-gram shingles.

    The whole MinHash/LSH/Jaccard pipeline only ever consumes shingles
    through their md5 digest (lane minima, band hashes, set intersection),
    so the shingle strings themselves never need to exist: n-grams are
    formed by zipping n shifted slices of the token array — n array
    slices + (n−1) zip passes per row instead of a slice-and-join lambda
    per shingle — and the md5 is fused into the last zip. Distinct md5
    sets are bijective with distinct shingle sets (collision odds ~2⁻¹²⁸),
    so every downstream count is identical to string-set semantics.
    Narrow at any scale; short docs yield an empty array.
    """
    from obsplus_spark.util import ensure_parallelism

    # single JVM-parsed expression strings: the equivalent Column-object
    # tree costs hundreds of py4j round-trips to construct, which showed
    # up as ~0.5 s of driver time per plan build
    # NB: SQL single-quoted literals eat one level of backslash escaping,
    # so the regex must be written '\\s+' to reach the engine as \s+
    toks = (
        rf"split(trim(regexp_replace(lower({text_col}), '\\s+', ' ')), ' ')"
    )
    nsh = f"(size(_toks) - {n - 1})"
    acc = f"slice(_toks, 1, {nsh})"
    for k in range(1, n - 1):
        acc = (
            f"zip_with({acc}, slice(_toks, {k + 1}, {nsh}),"
            " (a, b) -> concat(a, ' ', b))"
        )
    dig = (
        f"zip_with({acc}, slice(_toks, {n}, {nsh}),"
        " (a, b) -> md5(concat(a, ' ', b)))"
    )
    # digests are EXTENDED to 38 chars (md5 || first 6 chars again): the
    # MinHash lanes read 8 hex chars at stride-2 offsets (positions 1..31),
    # so the tail lanes wrap around the digest — pre-extending once here is
    # cheaper than a per-lane concat. Bijective with the md5 set, so every
    # set operation downstream (intersect/distinct) is unaffected.
    ext = f"transform({dig}, h -> concat(h, substring(h, 1, 6)))"
    sh = (
        f"array_distinct(CASE WHEN size(_toks) >= {n} THEN {ext}"
        " ELSE array() END)"
    )
    out = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.expr(toks).alias("_toks"))
        .select(F.col(id_col), F.expr(sh).alias(out_col))
    )
    if drop_empty:
        # equivalent to filtering size(out_col) > 0, but the predicate
        # references the TOKEN column (resolved through the projection),
        # not the digest array — a filter on the digest column gets
        # pushed through the projection by rewriting it in terms of the
        # project's expressions, which re-evaluates the whole md5 chain
        # once for the filter and again for the output (measured 3.7×
        # the pass cost)
        out = out.filter(f"size(_toks) >= {n}")
    return out


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per document (exploded long table).

    Same rows as the historical explode→distinct formulation, but the
    dedup happens per row (:func:`shingle_array`) before the explode — the
    corpus-wide distinct shuffle was pure waste since (id, shingle) pairs
    can only repeat within a document.
    """
    return shingle_array(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )


def _check_lanes(n_hashes: int, bands: int | None = None) -> None:
    """Guard the digest-window lane family's hard bounds: the 38-char
    extended digest supports AT MOST 16 lanes (lane j reads 8 hex chars
    at offset 2j+1; j=15 ends exactly at char 38 — beyond that the
    substring truncates/empties and lanes go constant/NULL, which makes
    every band hash collide corpus-wide and LSH degenerate toward the
    n² cross product with no error). Bands must divide n_hashes or the
    trailing lanes silently drop out of every band."""
    if not (1 <= int(n_hashes) <= 16):
        raise ValueError(
            f"n_hashes must be in [1, 16] (38-char digest window family),"
            f" got {n_hashes}"
        )
    if bands is not None:
        if int(bands) < 1 or int(n_hashes) % int(bands) != 0:
            raise ValueError(
                f"bands ({bands}) must divide n_hashes ({n_hashes})"
            )


def _lane_exprs(n_hashes: int, arr_col: str = "shingles") -> list[str]:
    """MinHash lane SQL expressions: lane ``j`` = min over the document's
    extended digests of the uint32 at hex offset ``2·j`` (lockstep with
    :func:`shingle_digest_array`'s 38-char extension and the DuckDB oracle
    twin)."""
    _check_lanes(n_hashes)
    return [
        f"array_min(transform({arr_col}, h -> CAST(conv("
        f"substring(h, {2 * j + 1}, 8), 16, 10) AS BIGINT))) AS mh_{j}"
        for j in range(n_hashes)
    ]


def _band_structs(n_hashes: int, bands: int) -> str:
    """SQL array of (band, band_hash) structs over the ``mh_*`` lanes."""
    _check_lanes(n_hashes, bands)
    rows_per_band = n_hashes // bands
    return ", ".join(
        "named_struct('band', {b}, 'band_hash', md5(concat_ws('|', {cols})))".format(
            b=b,
            cols=", ".join(
                f"mh_{j}"
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_size: int = 3,
    digest_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: lane ``j`` = min over shingles of
    the uint32 read from 8 hex chars of the extended md5 digest at offset
    ``2·j``.

    Hash family: **one** md5 per shingle (extended to 38 chars, see
    :func:`shingle_digest_array`); each lane parses a different stride-2
    window of the digest as an integer — 16 near-independent orderings
    for the price of a single hash (a j-keyed md5-per-lane family costs
    16× the hashing; rotated-string lanes cost a 32-char allocation and a
    lex compare per element where this costs one integer compare). Lanes
    only gate LSH candidate recall; the exact Jaccard pass downstream
    decides membership, so lane independence needs to be good, not
    perfect.

    **Fully narrow**: each row derives its shingle digest set
    (:func:`shingle_digest_array`) and takes the lane minima with
    ``array_min``. Zero explode, zero shuffle: the signature is a per-row
    expression at any scale (documents are bounded; the corpus is not).
    Pass ``digest_arrays_df`` (e.g. a persisted digest table shared with
    the Jaccard stage) to reuse the digest pass.
    """
    _check_lanes(n_hashes)
    arr = (
        digest_arrays_df
        if digest_arrays_df is not None
        else shingle_digest_array(
            df, id_col, text_col, shingle_size, drop_empty=True
        )
    )
    # one selectExpr call with string expressions — the Column-object
    # lane loop cost ~0.3 s of py4j round-trips per plan build.
    # Numeric lanes: 8 hex chars at stride-2 offset → uint32-as-long,
    # min over longs — no 32-char rotated-string allocations, and the
    # per-element comparison is one integer op instead of a lex scan
    return arr.selectExpr(id_col, *_lane_exprs(n_hashes))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Band hash = md5 of the concatenated band rows (``bands`` must divide
    ``n_hashes`` — validated). Pairs come from ONE
    shuffle: explode to (band, band_hash, id), groupBy the band key
    collecting the bucket's ids, and expand each bucket's sorted id array
    to its ``i < j`` pairs in-row — identical pair set to the classic
    band self-equi-join, but the signature projection is evaluated once
    (the join evaluated it on BOTH shuffle branches) and the data moves
    once instead of twice. Bucket sizes are tiny for any non-degenerate
    corpus; a pathologically duplicated corpus makes one quadratic bucket
    (the self-join had the same blow-up — salting hook would go here).
    """
    _check_lanes(n_hashes, bands)
    band_structs = _band_structs(n_hashes, bands)
    banded = signatures.select(
        F.col(id_col), F.expr(f"explode(array({band_structs}))").alias("bh")
    ).select(id_col, "bh.band", "bh.band_hash")
    return _bucket_pairs(banded, id_col)


def _bucket_pairs_sparse(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Sparse-regime variant of :func:`_bucket_pairs` for band spaces
    where almost every bucket is a singleton (32/64-bit perceptual-hash
    bands: ~n²/2³² random collisions, so hot buckets ≈ true-dup mass
    only). The single-pass formulation pays ``collect_list`` over one
    aggregation group PER DISTINCT KEY — at tens of millions of
    singleton groups the object-hash aggregate exceeds its in-memory
    map threshold and falls back to SORT-based aggregation of the whole
    banded table (measured 8–14 s at n=3.5M·8 bands vs ~2 s here).

    Two passes instead: (1) a primitive Tungsten count aggregate over
    the folded 64-bit band key — long-only buffers, no fallback — keeps
    keys with ≥2 members (the only ones that can emit a pair);
    (2) those hot keys broadcast back as a map-side semi filter, and
    the expensive list aggregate runs over the surviving rows only.
    The banded input is map-only upstream, so computing it twice costs
    one extra in-row pass, not a shuffle. Folding (band, band_hash) →
    ``xxhash64`` can only ADD spurious candidates on a 64-bit
    collision (verified away downstream), never lose one.

    Hot-key cardinality tracks true duplicate mass; when that mass is
    itself huge the broadcast would not fit — callers in that regime
    (MinHash text banding, which COLLIDES by design) use the
    single-pass :func:`_bucket_pairs`.
    """
    keyed = banded.selectExpr(
        f"{id_col}", "xxhash64(band, band_hash) AS _bk"
    )
    hot = (
        keyed.groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter("_n >= 2")
        .select("_bk")
    )
    buckets = (
        keyed.join(F.broadcast(hot), "_bk")
        .groupBy("_bk")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
    )
    pair = F.expr(
        "explode(flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), y -> "
        "named_struct('id1', x, 'id2', y)))))"
    )
    return (
        buckets.select(pair.alias("_p"))
        .select(F.col("_p.id1").alias("id1"), F.col("_p.id2").alias("id2"))
        .distinct()
    )


def _bucket_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(band, band_hash, id) rows → distinct ``i < j`` collision pairs:
    one groupBy on the band key, bucket ids sorted and expanded to pairs
    in-row (the one-shuffle formulation shared by the full and
    incremental LSH paths)."""
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pair = F.expr(
        "explode(flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), y -> "
        "named_struct('id1', x, 'id2', y)))))"
    )
    return (
        buckets.select(pair.alias("_p"))
        .select(F.col("_p.id1").alias("id1"), F.col("_p.id2").alias("id2"))
        .distinct()
    )


def pair_jaccard_arrays(
    shingle_arrays: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    arr_col: str = "shingles",
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, from per-doc arrays.

    ``|∩|`` is ``size(array_intersect(a, b))`` after joining each pair to
    its two shingle arrays — with the LSH collision set broadcast, both
    joins are map-side and nothing reshuffles the corpus.
    """
    sa = shingle_arrays.selectExpr(f"{id_col} AS id1", f"{arr_col} AS _sh1")
    sb = shingle_arrays.selectExpr(f"{id_col} AS id2", f"{arr_col} AS _sh2")
    j1 = F.broadcast(pairs).join(sa, "id1")
    out = F.broadcast(j1).join(sb, "id2")
    # two projections so array_intersect provably evaluates once per pair
    # (one projection repeating it three times leans on codegen CSE, which
    # does not cover interpreted array exprs — A/B measured ~10% off the
    # whole near-dup pipeline)
    counted = out.selectExpr(
        "id1",
        "id2",
        "CAST(size(array_intersect(_sh1, _sh2)) AS BIGINT) AS n_inter",
        "CAST(size(_sh1) AS BIGINT) AS n1",
        "CAST(size(_sh2) AS BIGINT) AS n2",
    )
    return counted.selectExpr(
        "id1", "id2", "n_inter", "n1", "n2",
        "n_inter / CAST(n1 + n2 - n_inter AS DOUBLE) AS jaccard",
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash: per-bit majority vote over token hashes.

    Each distinct token hashes (md5 → first 8 hex chars → uint32); bit k of
    the signature is 1 iff more tokens have bit k set than unset. Hamming-
    close signatures ⇒ similar token sets. Entirely **narrow**: the
    distinct-token hash array materializes once per row (one md5 per
    token), then ``bits`` array-aggregates vote per bit — no explode, no
    shuffle, at any scale (the explode → groupBy formulation shuffles the
    full token stream for an answer each row already holds). Engine-
    portable: same md5-derived hash convention as the MinHash family.
    """
    from obsplus_spark.util import ensure_parallelism

    hashes = F.transform(
        F.array_distinct(F.split(normalize_text(text_col), " ")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    with_h = ensure_parallelism(df).select(F.col(id_col), hashes.alias("_hashes"))
    # ONE aggregate pass accumulates all per-bit votes into an int array
    # (higher-order functions evaluate interpreted — k separate aggregates
    # would re-walk the hash array k times); SQL-expression lambdas because
    # the bit index is itself a lambda variable
    votes = F.expr(
        f"aggregate(_hashes, array_repeat(0, {bits}), "
        "(acc, h) -> zip_with(acc, sequence(0, size(acc) - 1), "
        "(a, k) -> a + CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END))"
    )
    agg = with_h.select(F.col(id_col), votes.alias("_votes"))
    # one expr string (a k-term Python Column sum costs ~0.3 s of py4j
    # round-trips per plan build); pack the per-bit votes into the long
    sig = (
        "CAST(aggregate(zip_with(_votes, sequence(0, size(_votes) - 1),"
        " (v, k) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), k)"
        " ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, x) -> a + x)"
        " AS BIGINT) AS simhash"
    )
    return agg.selectExpr(id_col, sig)


# Persist-lifecycle machinery lives in obsplus_spark.cache (VERDICT r9
# #5 consolidation); this module's own call sites use the historical
# alias below, other modules import from obsplus_spark.cache.
from obsplus_spark.cache import (  # noqa: E402
    register_shingle_cache as _register_shingle_cache,
)


def near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.7,
    persist_shingles: bool | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: signature → banding →
    candidate pairs → exact Jaccard → threshold.

    Pipeline shape: the per-doc shingle **array** table feeds three
    consumers (narrow signatures, both sides of the pair scoring); it is
    doc-count rows of bounded arrays — persist it once
    (``persist_shingles``, default True) and every stage after the LSH
    band self-join is a broadcast join. The only corpus-sized shuffle in
    the whole pipeline is the banding join, which moves 'bands' small rows
    per document — not the token stream. The persist stays in force for
    the caller's action; repeated invocations in one session keep only
    the two most recent shingle caches (older ones unpersist
    automatically, so a loop of near-dup scans cannot strand executor
    memory behind the LRU).
    """
    from obsplus_spark.util import sql_over

    arr = shingle_digest_array(
        df, id_col, text_col, shingle_size, drop_empty=True
    )
    if persist_shingles is None:
        persist_shingles = True
    if persist_shingles:
        arr = arr.persist()
        _register_shingle_cache(arr)
    # whole post-digest pipeline as ONE SQL statement = one Catalyst
    # analysis pass (the chained-DataFrame formulation re-analyzed the
    # deepening tree ~15×, ~0.25 s of driver time per plan build). Same
    # plan shape as the operator composition it replaces:
    # minhash_signatures → lsh_candidate_pairs → pair_jaccard_arrays.
    # The digest view is referenced three times; when persisted, the
    # CacheManager substitutes the cache at planning, so the corpus-side
    # digest pass still runs once. `counted` is its own projection so
    # array_intersect provably evaluates once per pair (CollapseProject
    # keeps non-cheap expressions single-use).
    # lanes/bands in DATA-DRIVEN array form (j/b are sequence values,
    # not unrolled columns): the per-lane rule is byte-identical to
    # _lane_exprs/_band_structs — lane j = min over digests of the
    # uint32 at hex offset 2j, band hash = md5 over '|'-joined lane
    # strings — but the expression tree is O(1) in n_hashes instead of
    # O(n_hashes) lambda copies, which cut this statement's Catalyst
    # ANALYSIS time (the dominant plan-build cost at 16 lanes: ~0.45 s
    # of the 0.8 s dup_threshold_hist build, VERDICT r9 #4) by ~3×.
    # ADVICE r10 #1: the data-driven lane rewrite must keep the hard
    # digest-window bounds the unrolled _lane_exprs/_band_structs path
    # enforced — n_hashes > 16 reads past the 38-char extended digest
    # (lanes go constant/NULL, every band collides corpus-wide, LSH
    # degenerates toward n² with no error) and bands∤n_hashes silently
    # drops the trailing lanes via rpb truncation.
    _check_lanes(n_hashes, bands)
    rpb = n_hashes // bands
    return sql_over(
        {"arr": arr},
        f"""
        WITH sig AS (
          SELECT {id_col},
             transform(sequence(0, {n_hashes - 1}), j ->
               array_min(transform(shingles, h ->
                 CAST(conv(substring(h, CAST(2 * j + 1 AS INT), 8),
                           16, 10) AS BIGINT)))) AS _mh
          FROM {{arr}}
        ),
        banded AS (
          SELECT {id_col}, bh.band, bh.band_hash
          FROM (SELECT {id_col},
                       explode(transform(sequence(0, {bands - 1}), b ->
                         named_struct(
                           'band', CAST(b AS INT),
                           'band_hash', md5(concat_ws('|',
                             transform(
                               slice(_mh, CAST(b * {rpb} + 1 AS INT),
                                     {rpb}),
                               x -> CAST(x AS STRING))))))) AS bh
                FROM sig)
        ),
        buckets AS (
          SELECT array_sort(collect_list({id_col})) AS _ids
          FROM banded GROUP BY band, band_hash
        ),
        pairs AS (
          SELECT DISTINCT _p.id1 AS id1, _p.id2 AS id2
          FROM (
            SELECT explode(flatten(transform(_ids, (x, i) ->
              transform(slice(_ids, i + 2, size(_ids)), y ->
                named_struct('id1', x, 'id2', y))))) AS _p
            FROM buckets WHERE size(_ids) >= 2
          )
        ),
        j1 AS (
          SELECT /*+ BROADCAST(p) */ p.id1, p.id2, a1.shingles AS _sh1
          FROM pairs p JOIN {{arr}} a1 ON a1.{id_col} = p.id1
        ),
        j2 AS (
          SELECT /*+ BROADCAST(j1) */ j1.id1, j1.id2, j1._sh1,
                 a2.shingles AS _sh2
          FROM j1 JOIN {{arr}} a2 ON a2.{id_col} = j1.id2
        ),
        counted AS (
          SELECT id1, id2,
                 CAST(size(array_intersect(_sh1, _sh2)) AS BIGINT) AS n_inter,
                 CAST(size(_sh1) AS BIGINT) AS n1,
                 CAST(size(_sh2) AS BIGINT) AS n2
          FROM j2
        )
        SELECT id1, id2, n_inter, n1, n2,
               n_inter / CAST(n1 + n2 - n_inter AS DOUBLE) AS jaccard
        FROM counted
        WHERE n_inter / CAST(n1 + n2 - n_inter AS DOUBLE) >= {threshold}
        """,
    )


def dedup_clusters(
    pairs: DataFrame,
    id1_col: str = "id1",
    id2_col: str = "id2",
    max_iterations: int = 6,
) -> DataFrame:
    """Connected components over near-duplicate pairs: each member id is
    labeled with the **minimum id reachable** in its component
    (``cluster_id``) — the canonical-document assignment a dedup pipeline
    needs after pair detection (keep ``cluster_id``, drop the rest).

    Algorithm: iterative min-label propagation. Labels start as each
    node's own id; every round each node takes the min of its own label
    and its neighbors' labels, via ONE groupBy per round over the
    label-augmented undirected edge list. Converges in O(component
    diameter) rounds — near-dup components are overwhelmingly
    star/clique-shaped (diameter ≤ 3-4), so the fixed point lands in a
    handful of rounds. Skew note: at 100 TB the hot key is the giant
    component's min id; the groupBy is an aggregation (map-side
    combinable), not a join, so skew costs one reducer's worth of
    partial-agg merges, not a shuffle blow-up.

    The ``max_iterations`` rounds build **lazily** as one SQL statement
    over the persisted edge frame: zero driver actions at build time,
    correct whenever the component diameter is within the bound — which
    near-dup components satisfy with margin at the default of 6. A
    per-round convergence probe would be a **full-cluster barrier**
    (every executor drains before the driver inspects a 1-row digest),
    so none is taken; raise ``max_iterations`` for deeper graphs.

    **Truncation guard — an undersized bound is LOUD.** A chain-shaped
    family (successive document revisions, each pairing only with its
    neighbor) of diameter > ``max_iterations`` would keep non-minimal
    labels at the far end, silently splitting the component into several
    clusters. The statement therefore ends in ONE extra guarded
    propagation round whose aggregate also reads each node's current
    label off its self-loop rows (the label table stays referenced
    exactly once; the build stays action-free): any node whose label
    would still improve hits ``raise_error`` at RUNTIME, aborting the
    job with a message naming the bound instead of emitting split
    components. At a fixed point the guard round re-emits the labels
    unchanged, so its only cost is one extra join+agg.

    Returns (id, cluster_id), one row per id that appears in ``pairs``.
    """
    from obsplus_spark.util import sql_over

    # undirected edge list WITH SELF-LOOPS, persisted once: the loop rows
    # carry each node's own label through every propagation round, which
    # lets a round be `agg(join(E, L))` — the label table referenced
    # exactly ONCE per round. (A formulation that also unions/left-joins
    # L references it twice per round, and in the lazy plan below that
    # doubles the plan per round — 2^iterations evaluations of the whole
    # upstream pair pipeline.)
    # ONE reference to the pair pipeline: each pair explodes in-row to its
    # two directed edges plus both endpoints' self-loops. Self-loop
    # duplicates (a node in many pairs gets one loop row per pair) are
    # harmless under min-aggregation and cheaper than the DISTINCT that
    # dedup'd them — and keeping the upstream tree out of a UNION branch
    # matters for driver latency: every downstream reference re-sweeps
    # the analyzed tree, so a 2-reference edge list doubled (and the
    # 4-round chain then 16×'d) the analysis cost of the whole upstream
    # pair pipeline (measured ~0.8 s per plan build at 3 rounds).
    edges = sql_over(
        {"p": pairs},
        f"""
        SELECT _e._src AS _src, _e._dst AS _dst
        FROM (
          SELECT explode(array(
            named_struct('_src', {id1_col}, '_dst', {id2_col}),
            named_struct('_src', {id2_col}, '_dst', {id1_col}),
            named_struct('_src', {id1_col}, '_dst', {id1_col}),
            named_struct('_src', {id2_col}, '_dst', {id2_col}))) AS _e
          FROM {{p}}
        )
        """,
    )
    # plain persist: sql_over binds persisted inputs to the
    # cache-substituted InMemoryRelation leaf (cache_scan), so every
    # rounds-statement reference is already a one-node scan with the
    # edge frame's relation stats and partitioning.
    edges = edges.persist()
    _register_shingle_cache(edges)  # bounded per-session ring releases it

    # All rounds plus the guard in ONE SQL statement — one Catalyst
    # analysis (per-round chained Datasets re-analyzed the deepening tree
    # ~3× per round). l0 is the aggregate seed (= round 1: min over
    # direct neighbors, the self-loop contributing the node's own id).
    # The guard g is the next round — min over in-neighbors — plus the
    # node's OWN current label read off its self-loop rows: a
    # still-improving label means the bound truncated a component.
    n = int(max_iterations)
    ctes = [
        "l0 AS (SELECT _dst AS id, min(_src) AS cluster_id"
        " FROM {e} GROUP BY _dst)"
    ]
    for i in range(1, n + 1):
        ctes.append(
            f"l{i} AS (SELECT e._dst AS id, min(l.cluster_id) AS"
            f" cluster_id FROM {{e}} e JOIN l{i - 1} l"
            " ON l.id = e._src GROUP BY e._dst)"
        )
    sql = "WITH " + ",\n".join(ctes) + f"""
        , g AS (
          SELECT e._dst AS id,
                 min(l.cluster_id) AS _new,
                 min(CASE WHEN e._src = e._dst
                          THEN l.cluster_id END) AS _own
          FROM {{e}} e JOIN l{n} l ON l.id = e._src
          GROUP BY e._dst
        )
        SELECT id,
               CASE WHEN _new < _own THEN raise_error(concat(
                   'dedup_clusters: not converged within',
                   ' max_iterations={n} rounds',
                   ' (component containing node ',
                   CAST(id AS STRING),
                   ' is deeper than the bound); raise',
                   ' max_iterations'))
               ELSE _new END AS cluster_id
        FROM g
        """
    return sql_over({"e": edges}, sql)


def _md5_u32_sql(id_col: str, salt: str) -> str:
    """SQL expr: first 8 hex chars of ``md5(id || salt)`` as uint32 —
    THE cross-engine-portable per-row hash recipe (DuckDB twin:
    ``('0x' || substr(md5(id || salt), 1, 8))::BIGINT``). Shared by
    :func:`hash_split` and :func:`weighted_sample` so the recipe cannot
    drift between its consumers."""
    from obsplus_spark.functions.sqltext import sql_literal

    return (
        f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING),"
        f" {sql_literal(salt)})), 1, 8), 16, 10) AS BIGINT)"
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment by content-free hash.

    Bucket = first 8 hex chars of ``md5(id || salt)`` as uint32, mod 100;
    split boundaries are the cumulative percentage weights (insertion
    order). Pure per-row expression — no shuffle, no RNG state, stable
    across runs/engines, and re-runnable on any subset of the data (the
    property that matters for incremental 100 TB pipelines; a
    ``rand()``-based split is neither stable nor subset-consistent).

    ``weights`` defaults to ``{"train": 90, "val": 5, "test": 5}`` and
    must sum to 100.
    """
    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    bucket = f"{_md5_u32_sql(id_col, salt)} % 100"
    case, lo = "CASE", 0
    for name, w in weights.items():
        hi = lo + w
        case += f" WHEN _bucket < {hi} THEN '{name}'"
        lo = hi
    case += " END"
    return df.selectExpr("*", f"{bucket} AS _bucket").selectExpr(
        "*", f"{case} AS split"
    ).drop("_bucket")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict | None = None,
    salt: str = "",
    max_iterations: int = 6,
) -> DataFrame:
    """Train/val/test split that CANNOT leak through near-duplicates:
    every member of a near-dup component lands on the SAME side. A plain
    :func:`hash_split` assigns rewrapped copies of one document
    independently — with a 5% eval share and pair multiplicity m, a
    near-dup family straddles train/eval with probability
    ``1 − 0.95^m − …``, and eval quietly measures memorization. Here
    the split key is the component's ``cluster_id`` (min reachable id
    via :func:`dedup_clusters`), so the whole family moves together;
    singletons key by their own id (identical to hash_split for them).

    Scale shape: component resolution is the bounded min-label
    propagation (one map-combinable groupBy per round, non-convergence
    raises by default); the split itself adds ONE left join of the
    corpus against the member→cluster table (pairs-sized, ≪ corpus) —
    broadcastable whenever the pair set is, and the assignment stays a
    pure per-row hash expression. Deterministic and subset-consistent
    EXCEPT where the pair set itself changes a component's min id (new
    near-dups merging two clusters re-key both — the price of the
    leakage guarantee; re-split per dedup snapshot).

    Output: the input columns + ``split_key`` (the component/cluster id
    the hash keyed on, for audit) + ``split``.
    """
    from obsplus_spark.util import sql_over

    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    clusters = dedup_clusters(pairs, max_iterations=max_iterations)
    bucket = f"{_md5_u32_sql('split_key', salt)} % 100"
    case, lo = "CASE", 0
    for name, w in weights.items():
        hi = lo + w
        case += f" WHEN _bucket < {hi} THEN '{name}'"
        lo = hi
    case += " END"
    # one statement end to end (join + split_key + bucket + label): the
    # old chained selectExpr/drop tail re-analyzed the FULL upstream
    # near-dup + cluster-propagation tree five times — the single
    # costliest plan build in the registry (~0.5 s warm, VERDICT r9 #4)
    cols = ", ".join(df.columns)
    return sql_over(
        {"d": df, "c": clusters},
        f"""
        SELECT {cols}, split_key, {case.replace("_bucket", f"({bucket})")}
               AS split
        FROM (
          SELECT d.*, coalesce(c.cluster_id, d.{id_col}) AS split_key
          FROM {{d}} d LEFT JOIN {{c}} c ON d.{id_col} = c.id
        )
        """,
    )


def stratified_split(
    df: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "source",
    weights: dict | None = None,
    salt: str = "",
) -> DataFrame:
    """EXACT-proportion deterministic split WITHIN each stratum.

    :func:`hash_split` assigns every row independently, so proportions
    hold only in expectation — a small stratum (a rare language, a
    niche source) can land with an empty validation set, silently
    un-evaluable. This variant ranks each stratum's rows by the same
    content-free ``md5(id || salt)`` key and cuts at
    ``floor(cum_frac · n_stratum)`` boundaries: per-stratum counts are
    exactly floor-quantized to the weights, still fully deterministic
    and rerun-stable. The tradeoff (documented, deliberate): NOT
    subset-consistent — adding rows to a stratum shifts ranks near the
    boundaries, unlike hash_split's per-row buckets. Use hash_split
    for incremental 100 TB corpora; use this when exact per-stratum
    quotas matter more (eval carve-outs, per-language floors).

    Scale shape: ONE stratum-keyed window exchange (rank + stratum
    count share it); the sort key is a uniform hash so no salting is
    needed, but a single giant stratum still sorts within one
    reducer's partitions — the hash_split caveat in reverse.

    ``weights`` defaults to ``{"train": 90, "val": 5, "test": 5}``
    (percent, summing to 100, insertion order = boundary order).
    Output: the input columns plus ``split``.
    """
    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    if len(weights) == 1:
        # a CASE with no WHEN arm is a Spark ParseException; a single
        # 100%-weight split is just a constant label
        (only,) = weights
        return df.selectExpr("*", f"'{only}' AS split")
    key = _md5_u32_sql(id_col, salt)
    case, names, lo = "CASE", list(weights.items()), 0
    for name, w in names[:-1]:
        lo += w
        # floor-quantized boundary: rank is 1-based, so split 1 is
        # ranks [1, floor(n*f1)], split 2 is (floor(n*f1),
        # floor(n*(f1+f2))], ...; the LAST split takes the remainder
        case += (
            f" WHEN _rk <= CAST(floor(_n * {lo} / 100.0) AS BIGINT)"
            f" THEN '{name}'"
        )
    case += f" ELSE '{names[-1][0]}' END"
    return (
        df.selectExpr("*", f"{key} AS _key")
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {stratum_col}"
            f" ORDER BY _key, {id_col}) AS _rk",
            f"count(1) OVER (PARTITION BY {stratum_col}) AS _n",
        )
        .selectExpr("*", f"{case} AS split")
        .drop("_key", "_rk", "_n")
    )


def hash_downsample_per_group(
    df: DataFrame,
    group_cols: list,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic class-balanced downsampling: keep the ``k`` rows per
    group with the smallest ``md5(id || salt)`` — an order-free,
    engine-portable "random but reproducible" choice. Top-k per group
    compiles to WindowGroupLimit (rank pushed into the shuffle, no full
    sort of each group at scale).
    """
    from obsplus_spark.functions.sqltext import sql_literal

    h = f"md5(concat(CAST({id_col} AS STRING), {sql_literal(salt)}))"
    w = Window.partitionBy(*group_cols).orderBy(F.expr(h), F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def gram_hash_array(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out_col: str = "grams",
) -> DataFrame:
    """Distinct ``xxhash64`` hashes of a document's word n-grams, as one
    BIGINT array per row.

    The membership-join consumers (decontamination, set overlap) only
    ever test gram **equality**, so a 64-bit native hash is the right
    digest: one xxhash64 per gram instead of an md5 (≈10× cheaper, and
    integer join keys instead of 32-char strings). NOT a substitute for
    :func:`shingle_digest_array` — the MinHash lanes need many stride
    windows from one wide digest. Narrow at any scale; collision odds
    (~|A|·|B|/2⁶⁴) are immaterial for hygiene counts. Short docs yield
    an empty array.
    """
    from obsplus_spark.util import ensure_parallelism

    # one regex pass: split on \s+ directly, then drop empty tokens —
    # Spark/DuckDB ``trim`` strips SPACES only, so text with leading or
    # trailing tabs/newlines splits into phantom '' edge tokens that the
    # normalize-then-split-on-space form (the decontaminate oracle's
    # tokenization) never produces; without the filter a doc ending in
    # '\n' grows a phantom n-gram and the hygiene counts silently drift
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    # each TOKEN hashes once (xxhash64 over its string); a gram's hash is
    # the xxhash64-combine of its n token hashes — n−1 fixed-width int
    # hashes per gram instead of a gram-string concat + string hash, and
    # the token-hash array is shared across all n shifted slices.
    ht = "transform(_toks, t -> xxhash64(t))"
    if n == 1:
        dig = "_ht"
    else:
        nsh = f"(size(_ht) - {n - 1})"
        acc = f"slice(_ht, 1, {nsh})"
        for k in range(1, n):
            acc = (
                f"zip_with({acc}, slice(_ht, {k + 1}, {nsh}),"
                " (a, b) -> xxhash64(a, b))"
            )
        dig = acc
    sh = (
        f"array_distinct(CASE WHEN size(_ht) >= {n} THEN {dig}"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END)"
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), F.expr(toks).alias("_toks"))
        .select(F.col(id_col), F.expr(ht).alias("_ht"))
        .select(F.col(id_col), F.expr(sh).alias(out_col))
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    corpus_grams_df: DataFrame | None = None,
    bloom_bits: int = 1 << 16,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``n``-gram with a benchmark/eval set — the standard pre-training
    hygiene step (a contaminated doc leaks eval answers into training).

    Shape: both sides reduce to per-doc n-gram **xxhash64** arrays
    (narrow, one cheap integer hash per gram — grams only ever meet by
    equality, so no cryptographic digest is needed), explode, and meet
    in ONE digest-keyed semi join; per matching doc a count of distinct
    shared n-grams comes from the same aggregation. The benchmark side
    is tiny by construction (eval sets are small), so at 100 TB the join
    broadcasts the benchmark digests — corpus rows never shuffle.

    Before the explode, each document's gram array is pre-pruned IN-ROW
    against a ``bloom_bits``-bit Bloom bitmap of the benchmark digests
    (an ``array<bigint>`` folded once on the eval side and broadcast via
    a 1-row cross join): only grams whose bit is set — true matches plus
    the bitmap's false-positive few percent — ever become rows, so the
    explode's output shrinks from every corpus gram to the candidate
    sliver; the exact semi join then drops the false positives. Size
    ``bloom_bits`` ≳ 10× the eval-set gram count. Pass
    ``corpus_grams_df`` (a persisted :func:`gram_hash_array` table) to
    amortize the gram pass across repeated checks against different
    eval sets.

    Output: (id, n_shared) for contaminated documents only.
    """
    from obsplus_spark.operators.sketches import fold_bit_words

    # no size>0 filters anywhere in this pipeline: empty gram arrays
    # explode to zero rows for free, while a filter on a computed array
    # column gets pushed through its projection and re-evaluates the
    # whole gram pass a second time (measured ~3× the pass cost)
    c_sh = (
        corpus_grams_df
        if corpus_grams_df is not None
        else gram_hash_array(corpus, id_col, text_col, n)
    )
    b_sh = (
        gram_hash_array(benchmark, id_col, text_col, n)
        .select(F.explode("grams").alias("_d"))
        .distinct()
    )
    n_longs = max(1, int(bloom_bits) // 64)
    bits = n_longs * 64
    # 1-row Bloom bitmap over the benchmark digests; broadcast-cross-
    # joined so the corpus-side filter is a per-row expression (no
    # driver collect — the bitmap never leaves the executors). Built by
    # bit_or over per-digest words + dense fold — O(|grams|), where the
    # old one-pass aggregate-transform rebuild was O(|grams| × n_longs)
    # interpreted lambda evaluations.
    words = b_sh.selectExpr(
        f"CAST(pmod(_d, {bits}) / 64 AS BIGINT) AS _w",
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(_d, {bits}) % 64 AS INT))"
        " AS _m",
    ).groupBy("_w").agg(F.bit_or("_m").alias("_bits"))
    mask = fold_bit_words(words, n_longs, "_mask")
    probe = (
        f"filter(grams, g -> (element_at(_mask,"
        f" CAST(pmod(g, {bits}) / 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT),"
        f" CAST(pmod(g, {bits}) % 64 AS INT))) != 0)"
    )
    cand = c_sh.crossJoin(F.broadcast(mask)).select(
        F.col(id_col), F.expr(probe).alias("grams")
    )
    exploded = cand.select(
        F.col(id_col), F.explode("grams").alias("_d")
    )
    hits = exploded.join(F.broadcast(b_sh), "_d", "left_semi")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shared")
    )


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.05,
    bloom_bits: int = 1 << 16,
) -> DataFrame:
    """Thresholded contamination FRACTION per corpus document — the
    C4/FLAN-style decision rule on top of :func:`contamination_check`:
    any-hit flagging (n_shared ≥ 1) over-drops long documents that
    merely quote a benchmark phrase, so production hygiene thresholds
    on the SHARE of a document's distinct n-grams found in the eval
    set (``n_shared / n_grams >= threshold``).

    Scale shape: the per-doc distinct gram-hash table builds ONCE
    (persisted inside, bounded ring releases it) and feeds both the
    Bloom-pre-pruned broadcast semi join of contamination_check and
    the denominator (an in-row ``size``); the final assembly is one
    id-keyed left join of two doc-keyed frames. Corpus rows never
    shuffle on the gram axis.

    Output: (id, n_grams, n_shared, contamination_frac, contaminated)
    for every corpus doc with at least one n-gram.
    """
    if not 0.0 <= float(threshold) <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    c_sh = gram_hash_array(corpus, id_col, text_col, n).persist()
    _register_shingle_cache(c_sh)
    hits = contamination_check(
        corpus, benchmark, id_col, text_col, n,
        corpus_grams_df=c_sh, bloom_bits=bloom_bits,
    )
    denom = c_sh.selectExpr(
        id_col, "CAST(size(grams) AS BIGINT) AS n_grams"
    ).where("n_grams > 0")
    return denom.join(hits, id_col, "left").selectExpr(
        id_col,
        "n_grams",
        "CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared",
        "round(coalesce(n_shared, 0) / CAST(n_grams AS DOUBLE), 6)"
        " AS contamination_frac",
        f"coalesce(n_shared, 0) / CAST(n_grams AS DOUBLE)"
        f" >= {float(threshold)!r}D AS contaminated",
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate detection (the C4/CCNet repeated-span
    rule at n-gram granularity): an n-gram occurring in ≥ ``min_docs``
    distinct documents is boilerplate (headers, footers, license blobs,
    navigation chrome); each document reports how much of it is made of
    such grams.

    Scale shape: per-doc DISTINCT gram sets stay in-row as xxhash64
    arrays (:func:`gram_hash_array` — gram strings never materialize)
    and the exploded gram frame is evaluated ONCE: a gram-partitioned
    window count marks each occurrence as boilerplate in the same
    shuffle that previously fed the frequent-set aggregate, and the
    per-doc totals + boiler hits fall out of one doc-keyed aggregate
    (A/B at sf0.1: 0.81 s vs 1.27 s for the two-evaluation
    frequent-set + broadcast-join shape). The full doc list (short docs
    have no grams) re-enters from a column-pruned id scan. Tradeoff to
    know at 100 TB: the window shuffles every (doc, gram) occurrence
    once and buffers each gram's partition — a pathological universal
    gram (present in every document) skews that partition, where the
    old agg+broadcast shape only shuffled near-distinct grams; if the
    corpus has such grams, pre-count them and union the two paths, or
    persist the gram frame (``minhash_signatures`` contract) and use
    the frequent-set join. Counting hashes is
    exact up to 64-bit collisions (~|grams|²/2⁶⁴ — immaterial for
    hygiene fractions).

    Output: (id, n_grams, n_boiler, boiler_frac) — one row per input
    document; docs shorter than ``n`` tokens report 0 grams, 0.0 frac.
    """
    from obsplus_spark.util import sql_over

    grams = gram_hash_array(df, id_col=id_col, text_col=text_col, n=n)
    return sql_over(
        {"g": grams, "d": df},
        f"""
        WITH e AS (
          SELECT {id_col}, gram FROM {{g}}
          LATERAL VIEW explode(grams) _e AS gram
        ),
        f AS (
          SELECT {id_col},
                 count(1) OVER (PARTITION BY gram) >= {int(min_docs)}
                   AS _boiler
          FROM e
        ),
        stat AS (
          SELECT {id_col}, CAST(count(1) AS BIGINT) AS n_grams,
                 CAST(count_if(_boiler) AS BIGINT) AS n_boiler
          FROM f GROUP BY {id_col}
        )
        SELECT d.{id_col}, coalesce(s.n_grams, 0L) AS n_grams,
               coalesce(s.n_boiler, 0L) AS n_boiler,
               round(CASE WHEN coalesce(s.n_grams, 0L) = 0 THEN 0.0D
                     ELSE s.n_boiler / CAST(s.n_grams AS DOUBLE) END, 6)
                 AS boiler_frac
        FROM (SELECT {id_col} FROM {{d}}) d
        LEFT JOIN stat s ON d.{id_col} = s.{id_col}
        """,
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus version diff: per-document status between two snapshots —
    the accounting step of dataset versioning (what changed between
    crawl N and crawl N+1 before re-running the expensive pipeline
    stages downstream).

    Statuses: ``added`` (id only in ``new``), ``removed`` (only in
    ``old``), ``modified`` (both, content fingerprint differs),
    ``unchanged``. Content identity is the md5 of normalized text
    (:func:`normalize_text` — same key exact dedup uses).

    Scale shape: one map-side fingerprint projection per side, ONE
    full-outer join keyed by id (the only data-sized shuffle), then a
    dimension-sized status aggregate. No row ever carries text past the
    fingerprint projection.

    Output: (status, n_docs) — ≤ 4 rows.
    """
    from obsplus_spark.util import sql_over

    # presence markers, not nullable id columns: a NULL id in either
    # snapshot never matches in the join, and testing the id itself
    # would misread "NULL id present in old" as 'added'. Ids are assumed
    # unique per snapshot (duplicates fan the join out).
    def fp(df: DataFrame, mark: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(normalize_text(text_col)).alias("_fp"),
            F.lit(True).alias(mark),
        )

    return sql_over(
        {"o": fp(old, "_in_o"), "n": fp(new, "_in_n")},
        f"""
        SELECT status, CAST(count(1) AS BIGINT) AS n_docs
        FROM (
          SELECT CASE
                   WHEN o._in_o IS NULL THEN 'added'
                   WHEN n._in_n IS NULL THEN 'removed'
                   WHEN o._fp != n._fp THEN 'modified'
                   ELSE 'unchanged'
                 END AS status
          FROM {{o}} o FULL OUTER JOIN {{n}} n
            ON o.{id_col} = n.{id_col}
        )
        GROUP BY status
        """,
    )


def canonical_docs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    max_iterations: int = 6,
) -> DataFrame:
    """Survivor election per near-dup cluster: resolve connected
    components over the pair set (:func:`dedup_clusters`), then keep the
    member with the HIGHEST quality score (ties broken by smallest id) —
    the last step of a dedup pipeline, deciding which member of each
    duplicate family enters the training corpus. Docs appearing in no
    pair are untouched upstream (they are their own survivors by
    definition and never need the shuffle).

    Scale shape: component resolution is the dedup_clusters contract
    (one hash-aggregate round per diameter step, action-free at build
    time, and inheriting its runtime truncation guard — an undersized
    ``max_iterations`` raises instead of electing wrong survivors on
    chain-shaped dup families); the election itself is
    ONE id-keyed join to pull
    quality + ONE cluster-keyed aggregate (``min_by`` over a (-quality,
    id) struct — no window, no second pass for the tie-break; negating
    the NUMERIC quality instead of the id keeps the id column free to be
    any orderable type, including strings). Both
    map-side combinable; cluster count ≪ doc count so the output is
    small.

    Output: (cluster_id, canonical_id, best_quality, n_members).
    """
    labels = dedup_clusters(pairs, max_iterations=max_iterations)
    q = docs.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("_q")
    )
    j = labels.join(q, "id")
    return j.groupBy("cluster_id").agg(
        F.expr("min_by(id, struct(-_q, id))").alias("canonical_id"),
        F.max("_q").alias("best_quality"),
        F.count(F.lit(1)).alias("n_members"),
    )


def duplicate_span_mass(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact duplicated-span mass per document: the fraction of a doc's
    word ``n``-gram SLOTS (occurrences, not distinct grams) whose gram
    appears more than once in the whole corpus — the span-level exact-
    substring-dedup signal (the "how much of this doc is copied text"
    score that drives span removal, vs. the doc-level verdicts of the
    MinHash family).

    Scale shape: grams keep their multiplicity (a phrase repeated inside
    one doc is duplicated text too), formed in-row by zipping shifted
    slices of the per-token ``xxhash64`` array (n−1 fixed-width integer
    hash combines per gram — no gram strings materialize; the DuckDB
    oracle groups the gram STRINGS instead, which is count-identical
    modulo 2⁻⁶⁴ collisions). Then exactly two keyed shuffles: a
    full-partition count window keyed by gram hash, and the per-doc
    aggregate. No joins, no driver actions; corpus-frequency skew (stop
    grams) lands on the gram-keyed window whose partitions are
    single-gram and map-combine-free but bounded by gram frequency.

    Output: (id, n_spans, n_dup_spans, dup_mass) for every doc with at
    least one gram; ``dup_mass`` rounded to 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    ht = "transform(_toks, t -> xxhash64(t))"
    nsh = f"(size(_ht) - {n - 1})"
    acc = f"slice(_ht, 1, {nsh})"
    for k in range(1, n):
        acc = (
            f"zip_with({acc}, slice(_ht, {k + 1}, {nsh}),"
            " (a, b) -> xxhash64(a, b))"
        )
    grams = (
        f"CASE WHEN size(_ht) >= {n} THEN {acc}"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    base = (
        ensure_parallelism(df)
        .selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(id_col, f"{ht} AS _ht")
        .selectExpr(id_col, f"explode({grams}) AS g")
    )
    return sql_over(
        {"g": base},
        f"""
        SELECT {id_col},
               CAST(count(1) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN _c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans,
               round(sum(CASE WHEN _c > 1 THEN 1 ELSE 0 END)
                     / CAST(count(1) AS DOUBLE), 6) AS dup_mass
        FROM (SELECT {id_col}, count(1) OVER (PARTITION BY g) AS _c
              FROM {{g}})
        GROUP BY {id_col}
        """,
    )


def set_similarity_join(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    persist_shingles: bool | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard self-join above ``threshold`` via prefix
    filtering (PPJoin-style) — the deterministic complement to the
    probabilistic MinHash/LSH path: no false negatives, no tuning, the
    right tool when the similarity cut is a hard contract (e.g. legal
    dedup holds) rather than a recall target.

    Prefix-filter principle: order every doc's shingle set by one global
    total order (ascending corpus frequency, rarest first — ties by the
    digest); two sets with Jaccard ≥ t MUST share an element within each
    other's first ``|T| − ⌈t·|T|⌉ + 1`` elements. Joining only those
    prefixes bounds the candidate blow-up by the frequency of a corpus's
    RARE shingles (the frequent ones never enter a prefix), which is the
    whole game at 100 TB — the naive share-any-shingle join explodes on
    stop-phrase df².

    Any internally-consistent global order yields a candidate SUPERSET,
    and candidates are verified with exact set intersection before
    emission, so results are order-independent (the DuckDB oracle orders
    by shingle strings, this plan by gram hashes; outputs agree exactly).

    Set elements are 64-bit gram hashes end-to-end
    (:func:`gram_hash_array` — integer shuffle/sort/join keys and
    integer array intersection, no md5 strings anywhere): a collision
    only MERGES two elements, which can only raise a pair's hashed
    Jaccard, so the ≥ t result set matches string-set semantics up to
    2⁻⁶⁴ odds — the same accepted digest argument as
    :func:`duplicate_span_mass` / :func:`boilerplate_ngram_stats`.

    Scale shape: one shingle-frequency aggregate, one frequency-attach
    join that reuses the same shingle-keyed exchange, one per-doc rank
    window, the prefix self-equi-join on shingle, a candidate-pair
    distinct, and one verify join against the per-doc gram-hash arrays —
    every stage keyed, no broadcast of anything corpus-sized, no driver
    actions.

    Output: (id1, id2, n_inter, n1, n2, jaccard) for pairs with Jaccard
    ≥ threshold; jaccard rounded to 6 dp.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    t = float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = gram_hash_array(
        ensure_parallelism(df),
        id_col=id_col,
        text_col=text_col,
        n=shingle_size,
        out_col="sh",
    )
    # the shingle array feeds THREE plan references (the prefix explode
    # and both verify sides) — persist it once so the gram-hash chain
    # runs one pass over the corpus, not three (same bounded cache ring
    # as near_duplicates)
    if persist_shingles is None:
        persist_shingles = True
    if persist_shingles:
        sh = sh.persist()
        _register_shingle_cache(sh)
    return sql_over(
        {"sh": sh},
        f"""
        WITH ex AS (
          SELECT {id_col} AS id, explode(sh) AS h FROM {{sh}}
        ),
        dfreq AS (SELECT h, count(1) AS df FROM ex GROUP BY h),
        ranked AS (
          SELECT e.id, e.h,
                 row_number() OVER (PARTITION BY e.id
                                    ORDER BY d.df, e.h) AS rn,
                 count(1) OVER (PARTITION BY e.id) AS sz
          FROM ex e JOIN dfreq d ON e.h = d.h
        ),
        pref AS (
          SELECT id, h, rn, sz FROM ranked
          WHERE rn <= sz - CAST(ceil({t!r} * sz - {_PPJOIN_EPS!r}) AS INT) + 1
        ),
        cand AS (
          -- PPJoin pruning, both lossless for J >= t: the LENGTH filter
          -- (sets whose sizes differ by more than t can never reach t)
          -- and the POSITIONAL filter (elements after the matching
          -- prefix position bound the best-possible intersection).
          -- Every ceil subtracts a tiny epsilon first: the bounds are
          -- rational (t·n, t/(1+t)·n) and the engine's DECIMAL/float
          -- evaluation can land a hair ABOVE the true value, which ceil
          -- then overshoots — pruning an exact-boundary pair (J == t)
          -- and violating the no-false-negative contract. The epsilon
          -- can only loosen a filter (superset candidates; the exact
          -- verify below decides membership).
          SELECT DISTINCT a.id AS id1, b.id AS id2
          FROM pref a JOIN pref b
            ON a.h = b.h AND a.id < b.id
           AND b.sz >= ceil({t!r} * a.sz - {_PPJOIN_EPS!r})
           AND a.sz >= ceil({t!r} * b.sz - {_PPJOIN_EPS!r})
           AND least(a.sz - a.rn, b.sz - b.rn) + 1
               >= ceil({t / (1.0 + t)!r} * (a.sz + b.sz) - {_PPJOIN_EPS!r})
        )
        SELECT id1, id2, n_inter, n1, n2,
               round(n_inter / CAST(n1 + n2 - n_inter AS DOUBLE), 6)
                 AS jaccard
        FROM (
          SELECT c.id1, c.id2,
                 CAST(size(array_intersect(x.sh, y.sh)) AS BIGINT)
                   AS n_inter,
                 CAST(size(x.sh) AS BIGINT) AS n1,
                 CAST(size(y.sh) AS BIGINT) AS n2
          FROM cand c
          JOIN {{sh}} x ON x.{id_col} = c.id1
          JOIN {{sh}} y ON y.{id_col} = c.id2
        )
        WHERE n_inter / CAST(n1 + n2 - n_inter AS DOUBLE) >= {t!r}
        """,
    )


def lsh_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    digest_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """The persistable LSH index of a corpus: one (id, band, band_hash)
    row per band per document — ``bands`` small rows per doc, the thing
    an incremental dedup pipeline WRITES at ingest so later batches
    never re-derive signatures for the existing corpus.

    Narrow end to end: per-row digest set → per-row lane minima →
    per-row band explode. No shuffle at all; partitioning/bucketing by
    ``band_hash`` at write time is the storage-layout lever.
    """
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes=n_hashes, shingle_size=shingle_size,
        digest_arrays_df=digest_arrays_df,
    )
    band_structs = _band_structs(n_hashes, bands)
    return sigs.select(
        F.col(id_col), F.expr(f"explode(array({band_structs}))").alias("bh")
    ).select(id_col, "bh.band", "bh.band_hash")


def incremental_candidate_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    digest_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates for an INCREMENTAL ingest batch: new×new
    pairs from the batch's own buckets plus new×old pairs from a join
    against the stored :func:`lsh_band_index` — the existing corpus is
    never re-scanned, re-signed, or re-paired (its band rows are read
    once, keyed by the same (band, band_hash) the new batch shuffles
    on). Identical pair set to re-running full LSH over old ∪ new and
    keeping pairs that touch the batch. Caller contract: new ids are
    disjoint from indexed ids (re-ingest upserts the index first).

    Scale shape: the batch side is batch-sized everywhere and SIGNED
    ONCE — its band rows feed both the batch-internal bucket expansion
    and the index join (persist the band frame so the digest/lane pass
    runs one time). The only corpus-sized input is the index
    (bands·|old| small rows), touched by one keyed equi-join that AQE
    can broadcast when the batch's band set is small. Output:
    (id1, id2) distinct, id1 < id2.
    """
    nb = lsh_band_index(
        new_docs, id_col, text_col,
        n_hashes=n_hashes, bands=bands, shingle_size=shingle_size,
        digest_arrays_df=digest_arrays_df,
    ).persist()
    _register_shingle_cache(nb)
    new_new = _bucket_pairs(nb, id_col)
    new_old = (
        nb.alias("n")
        .join(
            index.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id1"),
            F.greatest(
                F.col(f"n.{id_col}"), F.col(f"o.{id_col}")
            ).alias("id2"),
        )
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    return new_new.unionByName(new_old).distinct()


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY benchmark decontamination: corpus documents whose shingle
    sets are near-duplicates of an eval/benchmark document — MinHash-LSH
    candidates cross-joined corpus×benchmark, then exact-Jaccard
    verified. The complement of :func:`contamination_check` (exact
    n-gram membership): that catches verbatim leakage of any single
    gram; this catches REWRAPPED eval items — light paraphrase, shuffled
    boilerplate, truncated copies — that share most but not all
    shingles, the case published pipelines handle with document-level
    fuzzy matching rather than gram lookups.

    Scale shape: both sides are signed ONCE off persisted shingle-digest
    tables (shared by the banding and the verify); the benchmark's band
    rows (4 narrow rows per doc) broadcast, so the corpus-side banding
    never shuffles.
    The verify stage is CANDIDATE-driven: the small pair list
    broadcasts into both digest joins, and the digest tables are never
    broadcast (a doc's digest array is ~40× its compressed text — a
    corpus-fraction benchmark would OOM the driver; measured at 20×
    bench scale). Remaining exchanges are candidate-sized (the
    distinct + the per-doc best-match window) plus one keyed pass over
    the benchmark digest table.
    LSH recall follows the standard band trade (bands=4 of 4 lanes →
    ~50% per-band collision at J=0.84; candidates only gate the exact
    verify, which decides membership).

    Output: one row per contaminated corpus doc — its BEST benchmark
    match ``(doc_id, bench_id, n_inter, n_corpus, n_bench, jaccard)``,
    jaccard ≥ ``threshold`` (compared unrounded; reported at 8 dp),
    ties broken toward the smallest bench_id. Caller contract: corpus
    and benchmark ids disjoint (same as contamination_check).
    """
    from obsplus_spark.util import sql_over

    t = float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    csh = shingle_digest_array(
        corpus, id_col, text_col, n=shingle_size, drop_empty=True
    ).persist()
    _register_shingle_cache(csh)
    bsh = shingle_digest_array(
        benchmark, id_col, text_col, n=shingle_size, drop_empty=True
    ).persist()
    _register_shingle_cache(bsh)
    cb = lsh_band_index(
        corpus, id_col, text_col,
        n_hashes=n_hashes, bands=bands, shingle_size=shingle_size,
        digest_arrays_df=csh,
    ).alias("c")
    bb = lsh_band_index(
        benchmark, id_col, text_col,
        n_hashes=n_hashes, bands=bands, shingle_size=shingle_size,
        digest_arrays_df=bsh,
    ).alias("b")
    cand = (
        cb.join(
            F.broadcast(bb),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"c.{id_col}").alias("_cid"),
            F.col(f"b.{id_col}").alias("_bid"),
        )
        .distinct()
    )
    # verify stage is CANDIDATE-driven: broadcast the (small by
    # construction) pair list into both digest joins — the digest
    # tables themselves are NEVER broadcast. A broadcast of the
    # benchmark DIGEST ARRAYS looks dimension-sized but is not: each
    # doc's array is ~40× its compressed text (one 38-char digest per
    # shingle), and a benchmark that is a corpus fraction (as in the
    # bench fixture) blows past the driver at 20× scale (observed:
    # broadcast-build OOM at sf2). Band rows stay broadcastable — they
    # are 4 narrow rows per benchmark doc.
    jac = "n_inter / CAST(n_corpus + n_bench - n_inter AS DOUBLE)"
    return sql_over(
        {"cand": cand, "cs": csh, "bs": bsh},
        f"""
        WITH j AS (
          SELECT /*+ BROADCAST(cand) */
                 cand._cid AS {id_col}, cand._bid AS bench_id,
                 size(array_intersect(cs.shingles, bs.shingles))
                   AS n_inter,
                 size(cs.shingles) AS n_corpus,
                 size(bs.shingles) AS n_bench
          FROM {{cand}} cand
          JOIN {{cs}} cs ON cs.{id_col} = cand._cid
          JOIN {{bs}} bs ON bs.{id_col} = cand._bid
        ),
        s AS (
          SELECT *, {jac} AS _jac FROM j WHERE {jac} >= {t!r}D
        )
        SELECT {id_col}, bench_id,
               CAST(n_inter AS BIGINT) AS n_inter,
               CAST(n_corpus AS BIGINT) AS n_corpus,
               CAST(n_bench AS BIGINT) AS n_bench,
               round(_jac, 8) AS jaccard
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY {id_col} ORDER BY _jac DESC, bench_id
          ) AS _rk
          FROM s
        ) WHERE _rk = 1
        """,
    )


def source_minhash_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_hashes: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """FUZZY source-overlap matrix: per source pair, the MinHash
    estimate of the Jaccard similarity between the sources' (unioned,
    distinct) shingle sets — the sketch-level complement of
    :func:`cross_source_leakage`'s exact digest matrix. Exact pairing
    finds verbatim mirrors; this surfaces sources whose CONTENT
    DISTRIBUTIONS overlap (same crawl re-chunked, same upstream feed
    lightly rewrapped) even when no single document digest matches.

    The estimator leans on MinHash's mergeability: lane minima are
    associative, so a SOURCE's signature is the per-lane ``min`` over
    its documents' lane values — ONE map-combinable aggregate keyed by
    source folds any corpus size into |sources| signature rows, and the
    pair matrix is a dimension-sized self-join (inequality-only, so it
    compiles to a broadcast nested loop — safe because BOTH sides are
    |sources|-bounded by construction; plan-audited). The estimate is the
    matching-lane fraction (the standard unbiased MinHash estimator,
    ±1/√n_hashes); both engines replay the identical deterministic lane
    family, so the output is exact-comparable despite being an
    estimate. Corpus-sized work: the shingle/lane scan, nothing else.

    Output: (source_a < source_b, n_lanes_match, est_jaccard), one row
    per unordered pair of sources that have at least one shingle.
    """
    from obsplus_spark.util import sql_over

    _check_lanes(n_hashes)
    # shingle_digest_array carries exactly one passthrough column — hand
    # it the SOURCE column (the doc id is irrelevant to a source-level
    # sketch)
    sh = shingle_digest_array(
        df, source_col, text_col, n=shingle_size, drop_empty=True
    ).select(F.col(source_col).alias("source"), "shingles")
    # source lane = min over docs of the per-doc lane minimum (the same
    # stride-2 digest-window family as _lane_exprs, with the outer
    # aggregate fused)
    lanes = ", ".join(
        f"min(array_min(transform(shingles, h -> CAST(conv("
        f"substring(h, {2 * j + 1}, 8), 16, 10) AS BIGINT)))) AS mh_{j}"
        for j in range(n_hashes)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END"
        for j in range(n_hashes)
    )
    return sql_over(
        {"d": sh},
        f"""
        WITH sig AS (
          SELECT source, {lanes}
          FROM {{d}} GROUP BY source
        )
        SELECT /*+ BROADCAST(b) */
               a.source AS source_a, b.source AS source_b,
               CAST({match_sum} AS BIGINT) AS n_lanes_match,
               round(({match_sum}) / {float(n_hashes)!r}D, 6)
                 AS est_jaccard
        FROM sig a JOIN sig b ON a.source < b.source
        """,
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis (2006) one-pass scheme: each row draws a
    uniform ``u``, keys itself by ``u^(1/w)``, and the top-``k`` keys
    are an exact weighted sample. The uniform is hash-derived
    (``md5(id || salt)`` → (0,1]) instead of ``rand()``, so the sample
    is reproducible across runs/engines and SUBSET-CONSISTENT: re-running
    on yesterday's corpus plus today's delta re-draws nothing — the
    same property :func:`hash_split` buys for split assignment, here
    for the mixture-realization step (executing a
    :func:`obsplus_spark.operators.text.mixture_plan` quota needs a
    stable weighted pick, not an RNG one).

    Scale shape: the sample key is a per-row expression; top-k is
    TakeOrdered (per-partition heap + one small merge), so a 100 TB
    corpus samples in one scan. Rows with non-positive or NULL weight
    are excluded (zero-weight items are never sampled in the ES scheme).

    Output: the input columns + ``sample_key`` (the ES key, for audit),
    top ``k`` rows by (sample_key desc, id).
    """
    if int(k) < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # uniform STRICTLY inside (0, 1): (h + 0.5) / 2^32 over the md5
    # uint32 — never 0 (ln(u) finite) and never 1 (an id hashing to
    # 0xFFFFFFFF would otherwise get key 1.0 for ANY weight and win
    # every sample forever; r6 review batch 6)
    u = f"(({_md5_u32_sql(id_col, salt)} + 0.5D) / 4294967296.0D)"
    key = f"pow({u}, 1.0D / CAST({weight_col} AS DOUBLE))"
    # NaN weights would pass `> 0` (Spark orders NaN above every number)
    # and then sort FIRST with a NaN key — exclude them with the
    # non-positives
    return (
        df.where(
            f"{weight_col} IS NOT NULL AND"
            f" NOT isnan(CAST({weight_col} AS DOUBLE)) AND"
            f" {weight_col} > 0"
        )
        .selectExpr("*", f"{key} AS sample_key")
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(int(k))
    )


def phash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 8,
    id_col: str = "id",
    lo_col: str = "h_lo",
    hi_col: str = "h_hi",
    sparse_pairing: bool = False,
) -> DataFrame:
    """Image near-duplicate pairs from 64-bit perceptual hashes (two
    32-bit words per image, e.g. ``codecs.average_hash``): band LSH on
    Hamming space → bucket collision pairs → exact popcount verify —
    the image leg of the near-dup family, same banded one-shuffle shape
    as the MinHash text path (never all-pairs).

    Banding: the 64 bits split into four 16-bit bands; images sharing
    ANY band become candidates (by pigeonhole this is exhaustive for
    Hamming ≤ 3 — one of the four bands must be untouched — and
    high-recall above that; the miss rate is the standard LSH trade
    and both this operator and its oracle replay the identical rule).
    Verify: ``bit_count(lo⊕lo') + bit_count(hi⊕hi') ≤ max_hamming``,
    integer-exact.

    Corpus-size bound (measured, ``tools/bench_phash_scale.py``): with
    16-bit bands the bucket space is 2¹⁶ per band, so once the corpus
    grows well past ~65k images RANDOM hashes birthday-collide and the
    candidate set grows ~n²/2¹⁶ even with zero true duplicates — a
    property of 64-bit aHash banding itself (any engine pays it; the
    same-rule DuckDB twin degrades 6× faster at n=3.5M). At that scale
    use a longer perceptual hash with wider bands (e.g. 4×64 of a
    256-bit pHash) or shard the corpus by a coarse content prefix
    before banding.

    Scale shape: one banding explode (4 small rows per image), one
    band-keyed groupBy with in-row pair expansion (the shared
    ``_bucket_pairs`` one-shuffle formulation), then two keyed joins
    pulling the pair's hash words for the popcount (candidate table ≪
    corpus by construction). No windows, no driver actions. Like every
    LSH family member, a degenerate bucket (a corpus full of IDENTICAL
    or near-blank images collapsing to one hash) expands quadratically
    within that bucket — that is real duplicate mass the caller asked
    to find, but pre-filter obvious blanks if the corpus has them in
    volume.

    Output: (id1, id2, hamming) with id1 < id2, BIGINT/INT — ordered
    nowhere (set semantics; order downstream if needed).
    """
    d = int(max_hamming)
    if d < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    bands = ", ".join(
        f"named_struct('band', {i}, 'band_hash',"
        f" CAST(shiftright({col}, {shift}) & 65535 AS BIGINT))"
        for i, (col, shift) in enumerate(
            [(lo_col, 0), (lo_col, 16), (hi_col, 0), (hi_col, 16)]
        )
    )
    banded = (
        hashes.selectExpr(id_col, f"explode(array({bands})) AS bh")
        .select(F.col(id_col), F.col("bh.band"), F.col("bh.band_hash"))
    )
    # pairing choice MEASURED both ways (VERDICT r10 #4): the sparse
    # two-pass wins modestly at n=1M (29.1 vs 31.2 s warm, identical
    # pairs — its hot-key broadcast is CAPPED at 4·2¹⁶ keys by the
    # band space, so it is always safe here) but LOSES ~25% at the
    # n=35k bench scale (alternating solo A/B: 1.96 vs 2.46 s min —
    # the extra count-agg pass is pure overhead when collect_list
    # never hits the sort-agg fallback). Single-pass stays the
    # default; callers in the 1M+ narrow regime opt in via
    # sparse_pairing=True — and the documented big-n story remains
    # phash_near_dup_wide, which keeps sparse pairing unconditionally
    # (its 32-bit buckets are near-singleton BY DESIGN).
    pair_fn = _bucket_pairs_sparse if sparse_pairing else _bucket_pairs
    pairs = pair_fn(banded, id_col)
    a = hashes.selectExpr(
        f"{id_col} AS id1", f"{lo_col} AS _lo1", f"{hi_col} AS _hi1"
    )
    b = hashes.selectExpr(
        f"{id_col} AS id2", f"{lo_col} AS _lo2", f"{hi_col} AS _hi2"
    )
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .selectExpr(
            "id1",
            "id2",
            "CAST(bit_count(_lo1 ^ _lo2) + bit_count(_hi1 ^ _hi2)"
            " AS INT) AS hamming",
        )
        .where(f"hamming <= {d}")
    )


def phash_near_dup_wide(
    hashes: DataFrame,
    max_hamming: int = 16,
    id_col: str = "id",
    words_col: str = "words",
) -> DataFrame:
    """Image near-duplicate pairs from WIDE perceptual hashes — the
    corpus-scale escape for :func:`phash_near_dup`'s documented 16-bit
    band saturation: ``words_col`` holds the hash as an
    ``array<bigint>`` of 32-bit words (``codecs.average_hash_wide``;
    e.g. 8 words = a 256-bit code) and each band is one word, so the
    band space is 2³² instead of 2¹⁶. RANDOM hashes then collide at
    ~n²/2³² candidate pairs — negligible out past billions of images —
    while 4×16-bit banding goes superlinear above n ≫ 2¹⁶ (measured:
    ``tools/bench_phash_scale.py``, 7.4× DuckDB at n=3.5M; the wide
    plan's same-harness point is recorded alongside it).

    Recall: by pigeonhole, any pair within Hamming ``n_bands − 1`` is
    guaranteed a shared untouched band (8 one-word bands → exhaustive
    for Hamming ≤ 7); beyond that, recall is the standard LSH trade
    and the DuckDB oracle replays the identical banding rule, so the
    two engines agree exactly on which pairs are proposed.

    Scale shape: identical to the 64-bit path — one in-row banding
    explode (``n_bands`` small rows per image), the shared
    ``_bucket_pairs`` one-shuffle bucket expansion, then two keyed
    joins pulling the word arrays for an in-row ``zip_with`` popcount
    fold. No windows, no driver actions.

    Output: (id1, id2, hamming) with id1 < id2 — set semantics.
    """
    d = int(max_hamming)
    if d < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    band_expr = f"posexplode({words_col}) AS (band, band_hash)"
    banded = hashes.selectExpr(id_col, band_expr)
    pairs = _bucket_pairs_sparse(banded, id_col)
    a = hashes.selectExpr(f"{id_col} AS id1", f"{words_col} AS _wa")
    b = hashes.selectExpr(f"{id_col} AS id2", f"{words_col} AS _wb")
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .selectExpr(
            "id1",
            "id2",
            "CAST(aggregate(zip_with(_wa, _wb,"
            " (x, y) -> bit_count(x ^ y)), 0L, (s, v) -> s + v)"
            " AS INT) AS hamming",
        )
        .where(f"hamming <= {d}")
    )


def _gram_pos_base(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Shared in-row gram formation for the exact-substring family:
    (id, pos, g) rows over the canonical token stream (lowercased,
    whitespace split, empties dropped) with the shifted-slice
    ``xxhash64`` combine — no gram strings are ever built. Docs with
    fewer than ``n`` tokens contribute no rows."""
    from obsplus_spark.util import ensure_parallelism

    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    ht = "transform(_toks, t -> xxhash64(t))"
    nsh = f"(size(_ht) - {n - 1})"
    acc = f"slice(_ht, 1, {nsh})"
    for k in range(1, n):
        acc = (
            f"zip_with({acc}, slice(_ht, {k + 1}, {nsh}),"
            " (a, b) -> xxhash64(a, b))"
        )
    grams = (
        f"CASE WHEN size(_ht) >= {n} THEN {acc}"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        ensure_parallelism(df)
        .selectExpr(id_col, f"{toks} AS _toks")
        .selectExpr(id_col, f"{ht} AS _ht")
        .selectExpr(id_col, f"posexplode({grams}) AS (pos, g)")
    )


def _gram_freq_source(
    base: DataFrame,
    freqs: "DataFrame | None",
    id_col: str,
    freq_gram_col: str,
    freq_count_col: str,
) -> "tuple[dict, str]":
    """Frame map + SQL for the duplicated-gram evidence ``f``:
    inline (ONE gram-keyed count window over this corpus) or, when a
    precomputed :func:`gram_frequencies` table is supplied, ONE
    gram-keyed LEFT join against the store — the second corpus pass a
    maintained store has already paid for. Grams absent from the store
    count 0 (never duplicated)."""
    if freqs is None:
        return {"g": base}, f"""
          SELECT {id_col}, pos, count(1) OVER (PARTITION BY g) AS _c
          FROM {{g}}
        """
    fr = freqs.selectExpr(
        f"{freq_gram_col} AS _fg",
        f"CAST({freq_count_col} AS BIGINT) AS _fc",
    )
    return {"g": base, "fr": fr}, f"""
          SELECT g.{id_col}, g.pos,
                 coalesce(fr._fc, CAST(0 AS BIGINT)) AS _c
          FROM {{g}} g LEFT JOIN {{fr}} fr ON fr._fg = g.g
        """


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_run: int = 2,
    freqs: "DataFrame | None" = None,
    freq_gram_col: str = "g",
    freq_count_col: str = "n_occ",
) -> DataFrame:
    """Maximal duplicated-substring runs per document — the run-length
    extension of :func:`duplicate_span_mass` toward exact-substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", public): a corpus-duplicated text SPAN shows up as
    a run of CONSECUTIVE duplicated ``n``-gram positions, so the length
    of the longest run bounds the longest copied substring
    (``run_grams + n − 1`` tokens) and short accidental gram collisions
    (``run_grams < min_run``) are ignored.

    Scale shape: grams form in-row (the shared shifted-slice xxhash64
    combine — no gram strings), keep their 0-based positions via
    ``posexplode``, then exactly two keyed exchanges: the gram-keyed
    corpus-frequency window, and ONE doc-keyed exchange shared by the
    run-id window, the (doc, run) roll-up, and the final doc aggregate
    (each grouping extends the partition key). No joins, no driver
    actions. The DuckDB oracle groups gram STRINGS (count-identical
    modulo 2⁻⁶⁴ hash collisions — the repo's accepted digest argument).
    With ``freqs=`` (a :func:`gram_frequencies` table built with the
    SAME ``n``), the gram-frequency window is replaced by ONE
    gram-keyed LEFT join against the store — identical results when
    the store covers exactly this corpus; a superset store (one kept
    across ingests) raises counts, which is the point:
    dedup against everything already ingested without a rescan.

    Output: (id, n_runs, max_run_grams, max_span_tokens) for docs with
    at least one qualifying run — all BIGINT.
    """
    from obsplus_spark.util import sql_over

    nn, mr = int(n), int(min_run)
    if nn < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if mr < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")
    base = _gram_pos_base(df, id_col, text_col, nn)
    frames, f_sql = _gram_freq_source(
        base, freqs, id_col, freq_gram_col, freq_count_col
    )
    return sql_over(
        frames,
        f"""
        WITH f AS ({f_sql}),
        d AS (
          SELECT {id_col}, pos,
                 pos - row_number() OVER (PARTITION BY {id_col}
                     ORDER BY pos) AS _run
          FROM f WHERE _c > 1
        ),
        runs AS (
          SELECT {id_col}, CAST(count(1) AS BIGINT) AS run_grams
          FROM d GROUP BY {id_col}, _run
        )
        SELECT {id_col},
               CAST(count(1) AS BIGINT) AS n_runs,
               CAST(max(run_grams) AS BIGINT) AS max_run_grams,
               CAST(max(run_grams) + {nn - 1} AS BIGINT) AS max_span_tokens
        FROM runs WHERE run_grams >= {mr}
        GROUP BY {id_col}
        """,
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_run: int = 2,
    min_count: int = 2,
    freqs: "DataFrame | None" = None,
    freq_gram_col: str = "g",
    freq_count_col: str = "n_occ",
) -> DataFrame:
    """SPAN-granularity exact-substring dedup: emit every maximal run
    of corpus-duplicated ``n``-gram positions as an explicit, cuttable
    token span — the operator a Lee-et-al-style exact-substring pass
    (2022, "Deduplicating Training Data Makes Language Models Better",
    public) feeds its removal step with, where
    :func:`duplicated_spans` only reports per-doc run STATISTICS.
    Suffix-array-free: any corpus-duplicated substring of ≥ ``n``
    tokens contains only duplicated ``n``-grams, so maximal runs of
    consecutive duplicated gram positions delimit the copied regions
    at gram granularity (a run of ``k`` grams spans ``k + n − 1``
    tokens). ``min_count`` raises the duplication bar (a gram is
    "duplicated" when its corpus frequency ≥ min_count — Lee et al.
    cut at 2; boilerplate-mining passes use higher).

    The caller cuts ``[span_start, span_start + span_tokens)`` from
    the whitespace token stream (0-based, the canonical lowercased
    tokenization shared with :func:`duplicated_spans`) — KEEPING one
    occurrence corpus-wide is the caller's policy choice (e.g. keep
    the span in the doc with the smallest id, cut everywhere else);
    this operator reports every occurrence symmetrically.

    Scale shape: identical to :func:`duplicated_spans` — grams form
    in-row (shifted-slice ``xxhash64`` combine, no gram strings), then
    exactly TWO keyed exchanges: the gram-keyed corpus-frequency
    window, and ONE doc-keyed exchange shared by the run-id window and
    the (doc, run) roll-up (the grouping extends the partition key).
    No joins, no driver actions. The DuckDB oracle twin groups gram
    STRINGS (count-identical modulo 2⁻⁶⁴ collisions — the repo's
    accepted digest argument). With ``freqs=`` (a
    :func:`gram_frequencies` table built with the SAME ``n``), the
    gram-frequency window becomes ONE gram-keyed LEFT join against the
    store — identical output when the store covers exactly this
    corpus, and a superset store kept across ingests flags new
    documents against everything already ingested without re-counting
    the whole corpus (the second full pass the store already paid
    for).

    Output: one row per maximal qualifying run —
    ``(id, span_start, span_grams, span_tokens)``, all BIGINT;
    span_tokens = span_grams + n − 1.
    """
    from obsplus_spark.util import sql_over

    nn, mr, mc = int(n), int(min_run), int(min_count)
    if nn < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if mr < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")
    if mc < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    base = _gram_pos_base(df, id_col, text_col, nn)
    frames, f_sql = _gram_freq_source(
        base, freqs, id_col, freq_gram_col, freq_count_col
    )
    return sql_over(
        frames,
        f"""
        WITH f AS ({f_sql}),
        d AS (
          SELECT {id_col}, pos,
                 pos - row_number() OVER (PARTITION BY {id_col}
                     ORDER BY pos) AS _run
          FROM f WHERE _c >= {mc}
        )
        SELECT {id_col},
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(count(1) AS BIGINT) AS span_grams,
               CAST(count(1) + {nn - 1} AS BIGINT) AS span_tokens
        FROM d
        GROUP BY {id_col}, _run
        HAVING count(1) >= {mr}
        """,
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "span_start",
    len_col: str = "span_tokens",
) -> DataFrame:
    """Apply :func:`exact_substring_spans` output: remove every listed
    token span from each document's canonical token stream and emit
    the cleaned text — the REMOVAL step of a Lee-et-al exact-substring
    pass (the spans operator finds; this one cuts). Which occurrences
    to cut is the caller's policy: filter the span frame first (e.g.
    anti-join the minimum-id occurrence per duplicated region to keep
    one copy corpus-wide) and pass the survivors here.

    Tokenization is the shared canonical rule (lowercased, whitespace
    split, empty tokens dropped) — span positions are 0-based indices
    into THAT stream, exactly what ``exact_substring_spans`` reports.
    Docs with no spans pass through (canonicalized); NULL-text docs
    emit NULL (no token stream to cut).

    Scale shape: spans fold to one array row per doc (ONE doc-keyed
    exchange over span-count rows, ≪ token count), then ONE id-keyed
    LEFT join against the corpus and a pure in-row filter — token
    positions never explode across the wire. The keep test is
    O(tokens · spans_per_doc) in-row (spans per doc are few by
    construction; a pathological span list is real duplicate mass).

    Output: ``(id, text, n_removed)`` — cleaned text (single-space
    joined, '' when everything was cut), removed-token count BIGINT.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    sp = spans.selectExpr(
        f"{id_col}", f"CAST({start_col} AS BIGINT) AS _s",
        f"CAST({len_col} AS BIGINT) AS _l",
    )
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    return sql_over(
        {"d": ensure_parallelism(docs), "s": sp},
        f"""
        WITH g AS (
          SELECT {id_col},
                 collect_list(named_struct('s', _s, 'l', _l)) AS _spans
          FROM {{s}} GROUP BY {id_col}
        ),
        j AS (
          SELECT d.{id_col}, {toks} AS _toks,
                 coalesce(g._spans,
                          CAST(array() AS ARRAY<STRUCT<s: BIGINT,
                                                       l: BIGINT>>))
                   AS _spans,
                 d.{text_col} IS NULL AS _null_text
          FROM {{d}} d LEFT JOIN g ON g.{id_col} = d.{id_col}
        )
        SELECT {id_col},
               CASE WHEN _null_text THEN CAST(NULL AS STRING)
                    ELSE concat_ws(' ', _kept) END AS {text_col},
               CASE WHEN _null_text THEN CAST(NULL AS BIGINT)
                    ELSE CAST(size(_toks) - size(_kept) AS BIGINT)
               END AS n_removed
        FROM (
          SELECT {id_col}, _null_text, _toks,
                 filter(_toks, (t, i) -> NOT exists(_spans, sp ->
                          i >= sp.s AND i < sp.s + sp.l)) AS _kept
          FROM j
        )
        """,
    )


def keep_first_occurrence(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "span_start",
    len_col: str = "span_tokens",
) -> DataFrame:
    """Keep-one-copy SPAN ELECTION for the exact-substring pipeline —
    the Lee et al. 2022 rule ("we keep one occurrence of each
    duplicated substring", §4, public) as a first-class operator
    instead of the docstring recipe :func:`cut_spans` used to point
    at: group every :func:`exact_substring_spans` occurrence by its
    REGION identity (the exact token content of the span — two spans
    are occurrences of the same duplicated region iff their canonical
    token slices are identical), elect the minimum-``(id,
    span_start)`` occurrence as the survivor, and return every OTHER
    occurrence — exactly the span set to feed :func:`cut_spans` so
    one copy survives corpus-wide. Composes end-to-end as
    ``cut_spans(docs, keep_first_occurrence(docs, spans))``.

    Region identity is the MAXIMAL-RUN content, not every duplicated
    substring: when doc A's maximal run strictly contains doc B's
    (partial overlap), the two spans have different content, land in
    different regions, and BOTH survive — a coarser keep rule than a
    suffix-array pass, erring toward keeping text (documented
    granularity of the suffix-array-free design). Within one doc,
    identical repeated regions also resolve to the first occurrence
    (min span_start). The engine hashes the token slice with
    ``xxhash64`` (the repo's accepted 2⁻⁶⁴ digest argument); the
    DuckDB oracle twin groups the slice STRING itself.

    Scale shape: the span frame is ≪ the corpus (duplicate-run rows
    only). ONE id-keyed equi-join rehydrates each span's token slice
    from the corpus (positions stay in-row — only the span's own
    tokens are sliced, never exploded), then ONE region-keyed
    row_number window elects survivors: exactly TWO keyed exchanges
    on the span frame (≤3 with the corpus-side join shuffle), no
    driver actions.

    Output: ``(id, span_start, span_tokens)`` — the non-surviving
    occurrences, ready for :func:`cut_spans`. Assumes ``(id,
    span_start)`` is unique in ``spans`` (true for
    ``exact_substring_spans`` output: maximal runs are disjoint per
    doc).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    sp = spans.selectExpr(
        f"{id_col}",
        f"CAST({start_col} AS BIGINT) AS _s",
        f"CAST({len_col} AS BIGINT) AS _l",
    )
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    d = ensure_parallelism(docs).selectExpr(id_col, f"{toks} AS _toks")
    return sql_over(
        {"s": sp, "d": d},
        f"""
        WITH j AS (
          SELECT s.{id_col}, s._s, s._l,
                 xxhash64(concat_ws(' ',
                   slice(d._toks, CAST(s._s + 1 AS INT),
                         CAST(s._l AS INT)))) AS _region
          FROM {{s}} s JOIN {{d}} d ON d.{id_col} = s.{id_col}
        )
        SELECT {id_col},
               _s AS {start_col},
               _l AS {len_col}
        FROM (
          SELECT {id_col}, _s, _l,
                 row_number() OVER (PARTITION BY _region
                     ORDER BY {id_col}, _s) AS _r
          FROM j
        )
        WHERE _r > 1
        """,
    )


def shared_region_pairs(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "span_start",
    len_col: str = "span_tokens",
    max_occurrences: int = 64,
) -> DataFrame:
    """Longest shared duplicated region per DOCUMENT PAIR — the
    pair-level read-out of the exact-substring family the stitch/
    Jaccard operators miss: which two documents share verbatim text,
    and how much. Feeds the same region identity as
    :func:`keep_first_occurrence` (the canonical token slice of each
    :func:`exact_substring_spans` run) into a region-keyed self-join:
    two docs pair iff they carry a region with IDENTICAL content, and
    the pair's ``shared_tokens`` is the longest such region. The
    containment/stitch complement: `containment_pairs` sees gram SETS
    (order-free), this sees exact contiguous runs.

    ``max_occurrences`` is the hot-region guard (the stop-print cap of
    the winnowing index, same reasoning): a boilerplate region pasted
    into 100k docs would propose C(100k,2) pairs — regions occurring
    more than the cap are DROPPED from pairing (their mass is exactly
    what `prefix_templates` / `dup_rate_by_source` already report at
    the corpus level; pair enumeration over them is noise). Dropped
    regions make this a lower bound, documented.

    Scale shape: span-frame-sized throughout (≪ corpus): ONE id-keyed
    join rehydrates region content, ONE region-keyed window counts
    occurrences (the cap filter), then the region-keyed self-join —
    partitioning reused from the window — with fan-out bounded by
    ``max_occurrences²`` per region, and ONE pair-keyed aggregate.

    Output: (id1, id2, shared_tokens BIGINT — longest common region,
    n_shared_regions BIGINT — distinct common regions), id1 < id2.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    cap = int(max_occurrences)
    if cap < 2:
        raise ValueError(
            f"max_occurrences must be >= 2, got {max_occurrences}"
        )
    sp = spans.selectExpr(
        f"{id_col}",
        f"CAST({start_col} AS BIGINT) AS _s",
        f"CAST({len_col} AS BIGINT) AS _l",
    )
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    d = ensure_parallelism(docs).selectExpr(id_col, f"{toks} AS _toks")
    return sql_over(
        {"s": sp, "d": d},
        f"""
        WITH r AS (
          SELECT s.{id_col}, s._l,
                 xxhash64(concat_ws(' ',
                   slice(d._toks, CAST(s._s + 1 AS INT),
                         CAST(s._l AS INT)))) AS _region
          FROM {{s}} s JOIN {{d}} d ON d.{id_col} = s.{id_col}
        ),
        k AS (
          SELECT * FROM (
            SELECT {id_col}, _l, _region,
                   count(1) OVER (PARTITION BY _region) AS _occ
            FROM r
          ) WHERE _occ <= {cap}
        )
        SELECT a.{id_col} AS id1, b.{id_col} AS id2,
               CAST(max(a._l) AS BIGINT) AS shared_tokens,
               CAST(count(DISTINCT a._region) AS BIGINT)
                 AS n_shared_regions
        FROM k a JOIN k b
          ON a._region = b._region AND a.{id_col} < b.{id_col}
        GROUP BY a.{id_col}, b.{id_col}
        """,
    )


def top_regions(
    docs: DataFrame,
    spans: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "span_start",
    len_col: str = "span_tokens",
) -> DataFrame:
    """Corpus-forensics REPORT over the exact-substring region table:
    the ``k`` duplicated regions carrying the most repeated token MASS
    (occurrences × length), WITH their actual text — the
    "what exactly is being copied" read-out license plates, cookie
    banners, and shared boilerplate show up in before any cut policy
    is chosen. Complements :func:`prefix_templates` (prefix-only) and
    :func:`duplicate_span_mass` (per-doc totals, no content).

    Region identity is the shared canonical-token-slice rule
    (:func:`keep_first_occurrence`); the REPORT carries the region
    TEXT itself (regions are bounded by doc length and k is small, so
    the strings stay dimension-sized). Ties break on the text for a
    deterministic report.

    Scale shape: span-frame-sized — ONE id-keyed join rehydrates the
    slice, ONE region-keyed aggregate (map-combined), then top-k as a
    distributed TakeOrdered (never a global sort).

    Output: (region_text, occurrences, span_tokens, dup_mass =
    (occurrences − 1) · span_tokens — the tokens a keep-one cut would
    remove; all counts BIGINT), top-k by dup_mass DESC.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sp = spans.selectExpr(
        f"{id_col}",
        f"CAST({start_col} AS BIGINT) AS _s",
        f"CAST({len_col} AS BIGINT) AS _l",
    )
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    d = ensure_parallelism(docs).selectExpr(id_col, f"{toks} AS _toks")
    out = sql_over(
        {"s": sp, "d": d},
        f"""
        SELECT region_text,
               CAST(occurrences AS BIGINT) AS occurrences,
               CAST(span_tokens AS BIGINT) AS span_tokens,
               CAST((occurrences - 1) * span_tokens AS BIGINT)
                 AS dup_mass
        FROM (
          SELECT concat_ws(' ',
                   slice(d._toks, CAST(s._s + 1 AS INT),
                         CAST(s._l AS INT))) AS region_text,
                 count(1) AS occurrences,
                 max(s._l) AS span_tokens
          FROM {{s}} s JOIN {{d}} d ON d.{id_col} = s.{id_col}
          GROUP BY 1
        )
        """,
    )
    return out.orderBy(
        out.dup_mass.desc(), out.region_text
    ).limit(kk)


def mixture_feasibility(
    plan: DataFrame,
    target_tokens: int,
    max_repeat: float = 4.0,
    source_col: str = "source",
    tokens_col: str = "kept_tokens",
    weight_col: str = "weight",
) -> DataFrame:
    """Feasibility AUDIT of a mixture plan: can each source's target
    share actually be met from its (post-dedup) token inventory under
    the ``max_repeat`` repetition cap — the question
    :func:`mixture_rebalance` currently answers only implicitly
    through an ``expected_tokens`` shortfall the caller must notice.
    Per source: ``requested = weight · target``, ``achievable =
    min(requested, max_repeat · inventory)``, shortfall and a feasible
    flag, plus the REALIZED post-cap share — what the mix composition
    will actually be, renormalized over achievable mass, so a second
    planning pass can redistribute the shortfall deliberately instead
    of silently under-shipping capped sources.

    NULL inventories (the all-NULL-text source
    :func:`mixture_rebalance` rates NULL) audit as zero inventory:
    achievable 0, infeasible when requested > 0. NULL weights audit
    as weight 0 (no target share — requested 0, trivially feasible)
    via an explicit coalesce: a bare NULL weight would otherwise ride
    the least()-skips-NULL trap (least(NULL, cap·inventory) =
    cap·inventory) and report full achievable mass for a source
    nobody asked for.

    Scale shape: the plan frame is dimension-sized (|sources| rows) —
    a pure in-row expression plus one unpartitioned window for the
    realized-share normalizer; nothing corpus-sized anywhere.

    Output: (source, weight, inventory_tokens, requested_tokens,
    achievable_tokens, shortfall_tokens — BIGINT, feasible BOOLEAN,
    realized_share DOUBLE 6-dp, NULL when no source has achievable
    mass).
    """
    from obsplus_spark.util import sql_over

    t = int(target_tokens)
    rep = float(max_repeat)
    if t < 0:
        raise ValueError(f"target_tokens must be >= 0, got {target_tokens}")
    if rep <= 0:
        raise ValueError(f"max_repeat must be > 0, got {max_repeat}")
    return sql_over(
        {"p": plan},
        f"""
        SELECT source, weight, inventory_tokens, requested_tokens,
               achievable_tokens,
               requested_tokens - achievable_tokens AS shortfall_tokens,
               achievable_tokens >= requested_tokens AS feasible,
               round(achievable_tokens
                     / CAST(nullif(sum(achievable_tokens) OVER (), 0)
                            AS DOUBLE), 6) AS realized_share
        FROM (
          SELECT {source_col} AS source,
                 CAST(coalesce({weight_col}, 0.0D) AS DOUBLE) AS weight,
                 CAST(coalesce({tokens_col}, 0) AS BIGINT)
                   AS inventory_tokens,
                 CAST(floor(CAST(coalesce({weight_col}, 0.0D) AS DOUBLE)
                            * {t}) AS BIGINT)
                   AS requested_tokens,
                 least(
                   CAST(floor(CAST(coalesce({weight_col}, 0.0D) AS DOUBLE)
                              * {t}) AS BIGINT),
                   CAST(floor(CAST({rep!r} AS DOUBLE)
                              * coalesce({tokens_col}, 0)) AS BIGINT))
                   AS achievable_tokens
          FROM {{p}}
        )
        """,
    )


def mixture_rebalance(
    docs: DataFrame,
    labels: DataFrame,
    weights: "dict[str, float]",
    target_tokens: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    label_id_col: str = "id",
    cluster_col: str = "cluster_id",
    max_repeat: float = 4.0,
) -> DataFrame:
    """Mixture plan AFTER near-dup resolution: re-plan each source's
    sampling rate against its POST-dedup token inventory — the step
    that ties :func:`dedup_clusters` output into
    :func:`~obsplus_spark.operators.text.mixture_plan` (previously a
    manual composition). Dedup removes mass unevenly across sources
    (mirror-heavy crawls shrink the most), so pre-dedup rates
    under-sample exactly the sources that deduplicated hardest.

    Survivors: docs never appearing in ``labels`` (untouched by any
    near-dup pair — their own survivors by definition) plus each
    cluster's MIN-ID member (``id == cluster_id``, dedup_clusters'
    canonical-label convention; for quality-elected survivors join
    :func:`canonical_docs` output upstream and pass its assignment).
    Unlike ``mixture_plan``'s ``min(1, ·)`` rate, the rebalanced rate
    may EXCEED 1 up to ``max_repeat`` — repeating a now-smaller clean
    source is how a post-dedup mix holds its target shares (capped:
    unbounded repetition of a tiny source is a memorization hazard;
    the reported ``expected_tokens`` exposes any cap-induced
    shortfall for a second planning pass).

    Scale shape: ONE id-keyed equi-join against the (pair-member-
    sized, ≪ corpus) label frame — survivor election is a NULL test
    plus an id compare, no second pass — then ONE source-keyed
    map-combined aggregate carrying both pre- and post-dedup tallies
    in the same pass. The weight table is a literal CASE expression;
    output is dimension-sized.

    Output: (source, n_docs, kept_docs, n_tokens, kept_tokens, weight,
    sample_rate, expected_tokens) — counts BIGINT, rate 6-dp DOUBLE.
    """
    from obsplus_spark.functions.sqltext import sql_literal
    from obsplus_spark.util import ensure_parallelism, sql_over

    t = int(target_tokens)
    rep = float(max_repeat)
    if rep <= 0:
        raise ValueError(f"max_repeat must be > 0, got {max_repeat}")
    if not weights:
        w_sql = "0.0D"
    else:
        arms = " ".join(
            f"WHEN {sql_literal(s)}"
            f" THEN CAST({float(w)!r} AS DOUBLE)"
            for s, w in weights.items()
        )
        w_sql = f"CASE {source_col} {arms} ELSE 0.0D END"
    ntok = (
        f"CASE WHEN length(trim({text_col})) = 0 THEN 0"
        f" ELSE size(split(trim({text_col}), '\\\\s+')) END"
    )
    lab = labels.selectExpr(
        f"{label_id_col} AS _lid", f"{cluster_col} AS _lcl"
    )
    # explicit NULL branch: least() SKIPS NULLs on BOTH engines
    # (least(cap, NULL) = cap), which would report the full repeat cap
    # as the "rate" of a source with zero surviving tokens — the same
    # greatest/least-null trap curriculum_key documents. kept_tokens
    # itself is NULL (not 0) when every kept doc has NULL text (sum
    # over all-NULL), so the zero test must coalesce first — otherwise
    # the CASE falls through and the NULL-token source reports the
    # full cap as its rate
    rate = (
        f"CASE WHEN coalesce(kept_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE)"
        f" ELSE least(CAST({rep!r} AS DOUBLE),"
        f" weight * {t}.0D / kept_tokens) END"
    )
    return sql_over(
        {"d": ensure_parallelism(docs), "l": lab},
        f"""
        SELECT source, n_docs, kept_docs, n_tokens, kept_tokens, weight,
               round({rate}, 6) AS sample_rate,
               CAST(floor(round({rate}, 6) * kept_tokens) AS BIGINT)
                 AS expected_tokens
        FROM (
          SELECT {source_col} AS source,
                 CAST(count(1) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN _keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_docs,
                 CAST(sum(_nt) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN _keep THEN _nt ELSE 0 END) AS BIGINT)
                   AS kept_tokens,
                 {w_sql} AS weight
          FROM (
            SELECT d.{source_col}, {ntok} AS _nt,
                   (l._lid IS NULL OR l._lcl = d.{id_col}) AS _keep
            FROM {{d}} d LEFT JOIN {{l}} l ON l._lid = d.{id_col}
          )
          GROUP BY {source_col}
        )
        """,
    )


def apply_mixture(
    docs: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    rate_col: str = "sample_rate",
    salt: str = "",
) -> DataFrame:
    """EXECUTE a mixture plan: materialize the sampled (and possibly
    repeated) corpus a :func:`~obsplus_spark.operators.text.
    mixture_plan` / :func:`mixture_rebalance` row prescribes — the
    step between planning and writing the training mix. Each document
    draws the house uniform ``u = md5(id‖salt)/2³²`` and emits
    ``floor(rate)`` full epochs plus one more iff ``u < frac(rate)``:
    deterministic, rerun-stable, subset-stable, and per-source token
    expectation exactly ``rate · tokens`` (rates above 1 are the
    post-dedup repetition :func:`mixture_rebalance` plans; rates in
    [0, 1) are plain hash subsampling; NULL/absent rates drop the
    source). Change ``salt`` for an independent draw.

    Output rows carry an ``epoch`` column (1-based copy index) so a
    downstream writer can interleave epochs instead of emitting k
    identical neighbors.

    Scale shape: the plan is dimension-sized — ONE broadcast join —
    and everything else is a per-row expression + an in-row
    ``sequence`` explode bounded by ``ceil(rate)``. No shuffles of the
    corpus at all (plan-audited); the sampled corpus streams straight
    to the caller's writer.

    Output: the input doc columns + ``epoch`` (INT ≥ 1). ``epoch``
    and ``_n`` are reserved: an input frame already carrying either
    would silently shadow/collide with the internal columns, so both
    are rejected loudly.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    reserved = {"epoch", "_n"} & set(docs.columns)
    if reserved:
        raise ValueError(
            "apply_mixture reserves the output column 'epoch' and the "
            f"internal column '_n'; input frame already has {sorted(reserved)}"
            " — rename or drop them first"
        )
    u32 = _md5_u32_sql(f"d.{id_col}", salt)
    p = plan.selectExpr(
        f"{source_col} AS _psrc", f"CAST({rate_col} AS DOUBLE) AS _rate"
    )
    cols = ", ".join(f"d.{c}" for c in docs.columns)
    # guard the sequence: sequence(1, 0) is the DESCENDING [1, 0] on
    # Spark (it steps -1 when stop < start) — zero copies must mean an
    # empty array, and the broadcast hint is safe by the plan's
    # dimension cardinality
    n_copies = (
        f"CAST(floor(p._rate) AS INT)"
        f" + CASE WHEN ({u32} + 0.0D) / 4294967296.0D"
        f" < p._rate - floor(p._rate) THEN 1 ELSE 0 END"
    )
    bare = ", ".join(docs.columns)
    return sql_over(
        {"d": ensure_parallelism(docs), "p": p},
        f"""
        SELECT {bare}, epoch
        FROM (
          SELECT /*+ BROADCAST(p) */ {cols},
                 {n_copies} AS _n
          FROM {{d}} d JOIN {{p}} p
            ON p._psrc <=> d.{source_col} AND p._rate IS NOT NULL
        )
        LATERAL VIEW explode(
          CASE WHEN _n >= 1 THEN sequence(1, _n)
               ELSE CAST(array() AS ARRAY<INT>) END) AS epoch
        """,
    )


def cross_source_leakage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    prefix_tokens: "int | None" = None,
) -> DataFrame:
    """Exact-duplicate LEAKAGE MATRIX across sources: for every source
    pair, how many distinct normalized-text digests occur in BOTH —
    the corpus-forensics read-out that surfaces mirror sites,
    cross-crawl replication, and benchmark text republished under a
    second source before any of them contaminate a mixture plan
    (per-source dedup rates miss leakage entirely; it lives on the
    pairs).

    Digest = ``md5`` of whitespace-collapsed lowercased text (the
    exact-dedup normalization) — or, with ``prefix_tokens=K``, of the
    first K tokens only: the PREFIX FINGERPRINT mirrors/republications
    call for in practice (shared heads, differing footers, navigation
    chrome, attribution lines make full-text digests under-count
    leakage; short docs digest all their tokens — ``slice`` clamps on
    both engines). Scale shape: ONE digest-keyed
    aggregate folds each digest's DISTINCT source set in-row
    (``collect_set`` — bounded by the source DIMENSION, never by doc
    count), pairs expand in-row from the sorted set, and the final
    (source_a, source_b) count is a vocabulary²-sized map-combined
    aggregate. No self-join of the doc table, nothing quadratic in
    documents.

    Output: (source_a < source_b, n_shared_digests), one row per
    source pair sharing at least one digest.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    if prefix_tokens is None:
        fp = f"regexp_replace(trim(lower({text_col})), '\\\\s+', ' ')"
    else:
        kk = int(prefix_tokens)
        if kk < 1:
            raise ValueError(f"prefix_tokens must be >= 1, got {kk}")
        # filter out phantom '' tokens BEFORE slicing the prefix:
        # trim strips spaces only, so leading/trailing tabs/newlines
        # would otherwise inject '' into the K-token window and make
        # whitespace-equivalent mirrors fail to pair (the same guard
        # gram_hash_array applies for n-gram shingles)
        fp = (
            f"concat_ws(' ', slice(filter(split(trim(lower({text_col})),"
            f" '\\\\s+'), t -> t != ''), 1, {kk}))"
        )
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        WITH d AS (
          SELECT md5({fp}) AS dig,
                 {source_col} AS source
          FROM {{d}}
          WHERE {text_col} IS NOT NULL
            AND length(trim({text_col})) > 0
            AND {source_col} IS NOT NULL
        ),
        g AS (
          SELECT dig, array_sort(collect_set(source)) AS srcs
          FROM d GROUP BY dig
        ),
        p AS (
          SELECT pr.a AS source_a, pr.b AS source_b
          FROM (
            SELECT flatten(transform(sequence(0, size(srcs) - 2),
                     i -> transform(sequence(i + 1, size(srcs) - 1),
                       j -> named_struct('a', srcs[i], 'b', srcs[j]))))
                   AS _prs
            FROM g WHERE size(srcs) >= 2
          )
          LATERAL VIEW explode(_prs) _e AS pr
        )
        SELECT source_a, source_b,
               CAST(count(1) AS BIGINT) AS n_shared_digests
        FROM p GROUP BY source_a, source_b
        """,
    )


def duplicate_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source exact-duplicate exposure report: for each source, how
    many of its documents carry content duplicated ANYWHERE in the
    corpus, and how much within-source redundancy it ships — the
    planning metric read before scheduling a dedup pass (a source with
    2% exposure is not worth a corpus-wide job; one at 40% is mirroring
    another shard). Digests use the house exact-dedup normalization
    (:func:`normalize_text` → md5), so the numbers predict exactly what
    :func:`exact_dedup` would remove.

    Contract: NULL-text rows count in ``n_docs`` but are never flagged
    duplicated (no content to match); blank-after-normalization texts
    all share the empty digest and DO count (identical empty content
    is real duplication).

    Scale shape: one digest-keyed window exchange for the corpus-wide
    counts (no self-join back onto the corpus), then one source-keyed
    map-combined rollup; the per-source distinct-digest count expands
    over already-hashed 32-char digests. Two keyed exchanges, nothing
    quadratic.

    Output: (source, n_docs, n_dup_docs, n_unique_texts, n_excess,
    dup_rate) — ``n_dup_docs`` counts corpus-wide-duplicated docs,
    ``n_excess`` the within-source redundant copies
    (``non-NULL docs − distinct digests``), ``dup_rate`` =
    n_dup_docs / n_docs, 6-dp rounded.
    """
    from obsplus_spark.util import sql_over

    d = df.select(
        F.col(source_col).alias("source"),
        F.md5(normalize_text(text_col)).alias("_dg"),
    )
    return sql_over(
        {"d": d},
        """
        SELECT source,
               CAST(count(1) AS BIGINT) AS n_docs,
               count_if(_dg IS NOT NULL AND _cnt > 1) AS n_dup_docs,
               CAST(count(DISTINCT _dg) AS BIGINT) AS n_unique_texts,
               count_if(_dg IS NOT NULL) - count(DISTINCT _dg)
                 AS n_excess,
               round(count_if(_dg IS NOT NULL AND _cnt > 1)
                     / CAST(count(1) AS DOUBLE), 6) AS dup_rate
        FROM (
          SELECT source, _dg,
                 count(1) OVER (PARTITION BY _dg) AS _cnt
          FROM {d}
        )
        GROUP BY source
        """,
    )


def lsh_recall_eval(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_size: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Measure an LSH banding configuration against EXACT ground truth:
    recall (what share of the true Jaccard-≥-t pairs the bands propose)
    and candidate precision (what share of proposals are true) — the
    evaluation a pipeline runs BEFORE trusting a (n_hashes, bands)
    choice at corpus scale, since banding recall is a steep s-curve in
    the threshold (r rows/band ⇒ P(candidate) = 1 − (1 − J^r)^b) and a
    mis-tuned band count silently drops true near-dups.

    Ground truth comes from :func:`set_similarity_join` (PPJoin — exact,
    no false negatives), candidates from :func:`lsh_candidate_pairs`
    over the same shingle definition; both emit sorted (id1 < id2)
    pairs, so the hit count is one equi-join.

    Scale shape: truth and candidates are each their documented
    one/two-exchange plans; the comparison adds one pair-keyed
    left join and three single-row aggregates folded by cross join
    (never collected). The candidate frame is persisted (referenced by
    the join AND its own count); truth is consumed once.

    Output: ONE row — (n_true_pairs, n_candidates, n_hit, recall,
    candidate_precision), 6-dp rounded; NULL recall/precision when the
    respective denominator is empty.
    """
    from obsplus_spark.util import sql_over

    truth = set_similarity_join(
        df,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        shingle_size=shingle_size,
    ).select("id1", "id2")
    sig = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        n_hashes=n_hashes,
        shingle_size=shingle_size,
    )
    cand = lsh_candidate_pairs(
        sig, id_col=id_col, n_hashes=n_hashes, bands=bands
    ).persist()
    _register_shingle_cache(cand)
    return sql_over(
        {"t": truth, "c": cand},
        """
        WITH hit AS (
          SELECT count(1) AS n_true_pairs, count(c._m) AS n_hit
          FROM {t} t
          LEFT JOIN (SELECT id1, id2, 1 AS _m FROM {c}) c
            ON t.id1 = c.id1 AND t.id2 = c.id2
        ),
        nc AS (SELECT count(1) AS n_candidates FROM {c})
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
        """,
    )


def temporal_split(
    df: DataFrame,
    train_end_ns: int,
    embargo_ns: int = 0,
    ts_col: str = "ts",
) -> DataFrame:
    """Time-based train/eval split with an embargo gap — the temporal
    complement of :func:`hash_split` (content leakage) and
    :func:`leakage_safe_split` (near-dup leakage): backtesting and
    forecasting evaluations leak through TIME when training examples
    border the evaluation window (labels, rolling features, and session
    context straddle the boundary), so the standard protocol discards
    an embargo band of width ``embargo_ns`` between the two sides.

    Assignment: ``train`` for ts < train_end, ``embargo`` for
    [train_end, train_end + embargo), ``eval`` at or after the embargo
    end. NULL timestamps land in ``embargo`` by contract — an
    unplaceable row must never reach EITHER side (dropping it silently
    would hide ingest damage; the embargo band is already the
    "excluded from both" class).

    ``ts_col`` must be an INTEGER epoch (int64 ns by house
    convention, matching the thresholds' unit) — a raw
    TimestampType column is REJECTED, because ``CAST(timestamp AS
    BIGINT)`` yields epoch SECONDS in Spark and every row would
    silently land in 'train' against an ns threshold; convert with
    ``functions.timeutils.ts_to_ns`` first.

    Pure per-row expression — no shuffle, subset-consistent,
    deterministic at any scale.

    Output: input columns + ``split``.
    """
    from pyspark.sql import types as T

    dt = df.schema[ts_col].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        raise TypeError(
            f"temporal_split needs an integer epoch column (ns); "
            f"{ts_col} is {dt.simpleString()} — CAST to BIGINT would "
            "yield seconds and misclassify every row; convert via "
            "ts_to_ns first"
        )
    t0 = int(train_end_ns)
    t1 = t0 + int(embargo_ns)
    if int(embargo_ns) < 0:
        raise ValueError(f"embargo_ns must be >= 0, got {embargo_ns}")
    return df.selectExpr(
        "*",
        f"CASE WHEN {ts_col} IS NULL THEN 'embargo'"
        f" WHEN CAST({ts_col} AS BIGINT) < {t0} THEN 'train'"
        f" WHEN CAST({ts_col} AS BIGINT) < {t1} THEN 'embargo'"
        f" ELSE 'eval' END AS split",
    )


def group_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "",
) -> DataFrame:
    """Deterministic group-aware k-fold assignment: every row of a
    group lands in the SAME fold (cross-validation where a user's —
    or document family's — rows in both train and validation folds
    would leak memorized context). Fold = the shared md5-uint32 recipe
    (:func:`_md5_u32_sql`, lockstep with :func:`hash_split`) over the
    GROUP key, mod ``k`` — subset-consistent and engine-portable; NULL
    groups get fold NULL (an unknown group cannot be placed, and
    silently folding NULLs together would put every orphan row in one
    fold).

    Pure per-row expression — no shuffle at any scale.

    Output: input columns + ``fold`` (BIGINT in [0, k), NULL for NULL
    groups).
    """
    kk = int(k)
    if kk < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.selectExpr(
        "*",
        f"CASE WHEN {group_col} IS NULL THEN CAST(NULL AS BIGINT)"
        f" ELSE {_md5_u32_sql(group_col, salt)} % {kk} END AS fold",
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
) -> DataFrame:
    """Corpus-level CHUNK dedup with document reconstruction — the
    transform counterpart of :func:`duplicate_span_mass` (which only
    measures): split every document into consecutive ``chunk_tokens``-
    token chunks, keep exactly the FIRST corpus occurrence of each
    distinct chunk (ordered by ``(id, position)``), and rebuild each
    document's text from its surviving chunks. This is the C4 /
    RefinedWeb "remove any span seen elsewhere in the corpus" dedup
    step (Raffel et al. 2020, public), expressed as a transform whose
    output feeds training directly.

    Scale shape: chunks form IN-ROW (token array → ``transform`` over a
    chunk-index ``sequence`` — no token explode), then exactly two
    keyed exchanges: the chunk-digest window that elects the first
    occurrence, and the doc-keyed rebuild aggregate. Empty/NULL
    documents keep a doc-unique digest (``xxhash64('__empty__', id)``)
    so a 100 TB corpus's millions of empty rows never converge on one
    skewed window partition. Matching is by ``xxhash64`` of the
    lowercased chunk (the repo's accepted 64-bit digest argument; the
    DuckDB oracle groups the chunk STRING — identical modulo 2⁻⁶⁴
    collisions). Tokens use the shared phantom-token-filtered
    convention (split on ``\\s+``, drop ``''``).

    Output: ``(id, n_chunks, n_kept, clean_text)`` — one row per input
    document, ``clean_text = ''`` when every chunk was a duplicate (or
    the document was empty).

    Contract: ``id_col`` must be non-NULL — NULL-id rows are DROPPED
    (filtered before chunking, same as the oracle twin). A NULL id has
    no join identity (NULL != NULL), so "one output row per document"
    is undefined for it; pinned by the degenerate-text fixture
    (ADVICE r9 #3).
    """
    from obsplus_spark.operators.text import chunk_token_exprs
    from obsplus_spark.util import ensure_parallelism, sql_over

    toks, nch, chunks = chunk_token_exprs(text_col, chunk_tokens)
    return sql_over(
        {"d": ensure_parallelism(df)},
        rf"""
        WITH t AS (
          SELECT {id_col}, {toks} AS _toks
          FROM {{d}}
          WHERE {id_col} IS NOT NULL
        ),
        c AS (
          SELECT {id_col}, {nch} AS _nch, _toks
          FROM t
        ),
        ch AS (
          SELECT {id_col}, pos, chunk
          FROM (
            SELECT {id_col}, {chunks} AS _chunks
            FROM c
          ) LATERAL VIEW OUTER posexplode(_chunks) AS pos, chunk
        ),
        win AS (
          SELECT {id_col}, pos, chunk,
                 (chunk IS NOT NULL AND row_number() OVER (
                     PARTITION BY CASE WHEN chunk IS NULL
                         THEN xxhash64('__empty__',
                                       CAST({id_col} AS STRING))
                         ELSE xxhash64(lower(chunk)) END
                     ORDER BY {id_col}, pos) = 1) AS _keep
          FROM ch
        )
        SELECT {id_col},
               CAST(count(chunk) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN _keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               array_join(transform(array_sort(collect_list(
                   CASE WHEN _keep THEN struct(pos, chunk) END)),
                   s -> s.chunk), ' ') AS clean_text
        FROM win GROUP BY {id_col}
        """,
    )


def edit_distance_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ratio: float = 0.4,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Edit-distance near-duplicate verification over LSH candidates —
    the CHARACTER-level leg of the near-dup verify family (exact
    Jaccard for set overlap, Hamming for simhash/phash, cosine for
    embeddings; Levenshtein catches small in-place edits — typo
    injections, template slot fills — that barely move a shingle set):
    MinHash-band candidates (the shared one-shuffle bucket expansion),
    then ``levenshtein`` on the NORMALIZED texts (the same
    :func:`normalize_text` form the signatures hash, so the metric and
    the generator see the same string), keeping pairs whose distance ≤
    ``max_ratio`` of the longer text.

    Scale shape: candidate generation is the documented banding plan
    (narrow signatures, ONE bucket shuffle); texts join back by id
    (two keyed joins, pair-table-sized probes); the Levenshtein itself
    is JVM built-in but O(len·len) per pair — cap document length
    upstream (``chunk_text``) when running character-level verify over
    book-length inputs. Both engines compute the identical integer.

    Output: ``(id1, id2, dist, edit_ratio)`` for surviving pairs —
    ratio 6-dp rounded; a pair of empty normalized texts has ratio 0
    (they are identical).
    """
    from obsplus_spark.util import sql_over

    r = float(max_ratio)
    if not 0 <= r <= 1:
        raise ValueError(f"max_ratio must be in [0, 1], got {max_ratio}")
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col,
        n_hashes=n_hashes, shingle_size=shingle_size,
    )
    pairs = lsh_candidate_pairs(
        sigs, id_col=id_col, n_hashes=n_hashes, bands=bands
    )
    norm = df.select(
        F.col(id_col), normalize_text(text_col).alias("_t")
    )
    return sql_over(
        {"p": pairs, "n": norm},
        f"""
        SELECT id1, id2, dist,
               round(ratio, 6) AS edit_ratio
        FROM (
          SELECT p.id1, p.id2,
                 CAST(levenshtein(n1._t, n2._t) AS BIGINT) AS dist,
                 CASE WHEN greatest(length(n1._t), length(n2._t)) = 0
                      THEN 0.0D
                      ELSE levenshtein(n1._t, n2._t)
                           / CAST(greatest(length(n1._t),
                                           length(n2._t)) AS DOUBLE)
                 END AS ratio
          FROM {{p}} p
          JOIN {{n}} n1 ON n1.{id_col} = p.id1
          JOIN {{n}} n2 ON n2.{id_col} = p.id2
        )
        WHERE ratio <= {r!r}D
        """,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 32,
) -> DataFrame:
    """ASYMMETRIC containment pairs — quote/subset detection: for
    candidate pairs, the fraction of each document's k-gram set that
    the other contains (``|A∩B|/|A|`` and ``/|B|``). Symmetric Jaccard
    (the :func:`near_duplicates` verify) misses a small document
    quoted whole inside a large one (the union term drowns it);
    containment is the right metric for "is A substantially inside
    B" — eval-set items wrapped in web pages, quote farms, partial
    scrapes.

    Candidates come from WINNOWING prints (``text.winnow_overlap``,
    min_shared=1) rather than MinHash banding for the same reason:
    banding's collision probability tracks symmetric Jaccard and
    almost never proposes subset pairs, while the winnowing guarantee
    fires on any shared ≥ w+k−1-token run regardless of the size
    ratio. Verification intersects the documents' distinct
    ``xxhash64`` gram arrays in-row (:func:`gram_hash_array`; oracle
    counts gram STRINGS — the accepted digest argument).

    Scale shape: candidate generation is winnowing's documented
    two-exchange plan; the gram arrays join back by id (two keyed
    joins probed by the pair table); the intersection is per-row.

    Output: ``(id1, id2, n_inter, c1, c2)`` for pairs with
    ``max(c1, c2) ≥ threshold`` — ``c1 = |∩|/|grams(id1)|``.
    """
    from obsplus_spark.operators.text import winnow_overlap
    from obsplus_spark.util import sql_over

    thr = float(threshold)
    if not 0 <= thr <= 1:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    cands = winnow_overlap(
        df, id_col=id_col, text_col=text_col, k=k, w=w,
        min_shared=1, max_bucket=max_bucket,
    ).select("id1", "id2")
    # the gram-array table probes both verify joins below, so the
    # corpus tokenize+hash pass runs once per side. Persisting it was
    # MEASURED SLOWER (r12: rep 0.90 → 1.08 s — the cache fill of a
    # corpus-TOKEN-sized array table costs more than the second
    # derivation), and at 100 TB memory-caching corpus-sized gram
    # arrays violates the cache-dims-not-facts rule; two map-only
    # passes are the lesser evil.
    grams = gram_hash_array(df, id_col=id_col, text_col=text_col, n=k)
    # Threshold filter runs on the 6-dp ROUNDED ratios — the same
    # doubles the output (and the DuckDB oracle twin) carries — so the
    # keep/drop decision at the boundary is computed from an identical
    # value on both engines (house round-before-compare convention;
    # ADVICE r9 #1: raw-vs-rounded filters can diverge within 5e-7 of
    # the threshold on large docs where n_inter/na is fine-grained).
    return sql_over(
        {"p": cands, "g": grams},
        f"""
        SELECT id1, id2, n_inter, c1, c2
        FROM (
          SELECT id1, id2, n_inter,
                 round(n_inter / CAST(nullif(na, 0) AS DOUBLE), 6) AS c1,
                 round(n_inter / CAST(nullif(nb, 0) AS DOUBLE), 6) AS c2
          FROM (
            SELECT p.id1, p.id2,
                   CAST(size(array_intersect(a.grams, b.grams))
                        AS BIGINT) AS n_inter,
                   size(a.grams) AS na, size(b.grams) AS nb
            FROM {{p}} p
            JOIN {{g}} a ON a.{id_col} = p.id1
            JOIN {{g}} b ON b.{id_col} = p.id2
          )
        )
        WHERE greatest(c1, c2) >= {thr!r}D
        """,
    )


def near_dup_threshold_hist(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    buckets: int = 10,
) -> DataFrame:
    """Jaccard HISTOGRAM of all LSH-verified candidate pairs — the
    evidence a pipeline reads BEFORE choosing a near-dup threshold
    (:func:`lsh_recall_eval` evaluates a chosen (hashes, bands)
    config; this shows where the corpus's pair-similarity mass
    actually sits, so the cut lands in a valley instead of a mode).
    One :func:`near_duplicates` pass at threshold 0 (every banding
    candidate verified), folded to ``buckets`` equal Jaccard bins.

    Bucketing uses the 8-dp ROUNDED Jaccard (the house pair-output
    convention) so a boundary-straddling double never lands in
    different bins across engines; bin index clamps on the DOUBLE
    before the INT cast. Bins with no pairs emit nothing.

    Output: ``(bucket, n_pairs)`` — bucket ``b`` covers
    ``[b/buckets, (b+1)/buckets)``, the top bucket closed at 1.
    """
    from obsplus_spark.util import sql_over

    b = int(buckets)
    if b < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    pairs = near_duplicates(
        df, n_hashes=n_hashes, bands=bands,
        shingle_size=shingle_size, threshold=0.0,
        id_col=id_col, text_col=text_col,
    )
    return sql_over(
        {"p": pairs},
        f"""
        SELECT CAST(least(CAST({b - 1} AS DOUBLE),
                 floor(round(jaccard, 8) * {b})) AS INT) AS bucket,
               CAST(count(1) AS BIGINT) AS n_pairs
        FROM {{p}}
        GROUP BY 1
        """,
    )


def sequential_holdout(
    df: DataFrame,
    key_col: str,
    order_col: str,
    id_col: str,
    k: int = 2,
) -> DataFrame:
    """Sequential per-group holdout: each group's LAST ``k`` rows by
    ``order_col`` become ``eval``, the rest ``train`` — the
    next-event-prediction split (recommenders, session models) where
    a hash or time split would leak: the model must never train on
    events AFTER its own eval targets within the same entity.
    Complements :func:`hash_split` (entity-level), :func:`temporal_split`
    (global time) and :func:`group_kfold` (whole-group CV).

    Determinism: ties on ``order_col`` break by ``id_col`` DESC (a
    total order). Rows with a NULL key or NULL order cannot be placed
    in a sequence and get split NULL — explicitly, never silently
    sorted to one end (engines disagree on NULL placement under
    DESC). ONE key-keyed exchange.

    Output: ``(id, key, order, split)``.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {id_col}, {key_col}, {order_col},
               CASE WHEN rn <= {kk} THEN 'eval' ELSE 'train' END
                 AS split
        FROM (
          SELECT {id_col}, {key_col}, {order_col},
                 row_number() OVER (PARTITION BY {key_col}
                     ORDER BY {order_col} DESC, {id_col} DESC) AS rn
          FROM {{d}}
          WHERE {key_col} IS NOT NULL AND {order_col} IS NOT NULL
        )
        UNION ALL
        SELECT {id_col}, {key_col}, {order_col},
               CAST(NULL AS STRING) AS split
        FROM {{d}}
        WHERE {key_col} IS NULL OR {order_col} IS NULL
        """,
    )


def stitch_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_bucket: int = 32,
) -> DataFrame:
    """Shard-stitch detection: pairs ``(prev_id, next_id)`` where the
    LAST ``k`` tokens of one document equal the FIRST ``k`` tokens of
    another — the signature of a crawl/export that split one source
    document across records with an overlapping boundary window. The
    near-dup family (MinHash, winnowing containment) misses these:
    two halves of one document share only the 2k-token seam, far below
    any Jaccard/containment threshold, yet for training dedup the pair
    should be re-joined (or one seam copy dropped).

    Tokens use the canonical lowercased whitespace convention
    (:func:`normalize_text`); only documents with ≥ 2k tokens
    participate (shorter ones have overlapping head/tail windows —
    self-matching noise, not seams). Matching is by ``xxhash64`` of the
    k-token window (accepted digest argument; the DuckDB twin joins
    the window STRINGS).

    Boilerplate guard: a window string occurring as head (or tail) of
    more than ``max_bucket`` documents is a template artifact (shared
    page chrome), not a seam — those keys are excluded via a
    broadcast anti join (the HOT key set is tiny by construction,
    bounded by |corpus|/max_bucket).

    Scale shape: head/tail windows form in-row (map-only); one
    map-combined count per side elects hot keys (broadcast each); the
    seam match is ONE equi-join of the two window tables on the
    64-bit key. No windows, no driver actions.

    Output: ``(prev_id, next_id)`` — prev's tail == next's head; set
    semantics, id-distinct pairs only.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    mb = int(max_bucket)
    if mb < 1:
        raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("_toks"),
    ).where(f"size(_toks) >= {2 * kk}")
    wins = base.selectExpr(
        id_col,
        f"xxhash64(concat_ws(' ', slice(_toks, 1, {kk}))) AS _hk",
        f"xxhash64(concat_ws(' ', slice(_toks, -{kk}, {kk}))) AS _tk",
    )
    # the window table feeds FOUR references below (both hot-key
    # aggregates and both anti-join consumers); unpersisted, each
    # reference re-ran the corpus tokenize+slice+hash pass (guide §1.2
    # step 1 — don't compute things four times). Persist the (id, 2×
    # int64) table once; the bounded ring releases it, and sql_over's
    # cache_scan binding guarantees every reference reads the cache.
    wins = wins.persist()
    _register_shingle_cache(wins)
    return sql_over(
        {"w": wins},
        f"""
        WITH hot_h AS (
          SELECT _hk AS _key FROM {{w}}
          GROUP BY _hk HAVING count(1) > {mb}
        ),
        hot_t AS (
          SELECT _tk AS _key FROM {{w}}
          GROUP BY _tk HAVING count(1) > {mb}
        ),
        hot AS (SELECT _key FROM hot_h UNION SELECT _key FROM hot_t),
        heads AS (
          SELECT /*+ BROADCAST(hot) */ w.{id_col}, w._hk
          FROM {{w}} w LEFT ANTI JOIN hot ON w._hk = hot._key
        ),
        tails AS (
          SELECT /*+ BROADCAST(hot) */ w.{id_col}, w._tk
          FROM {{w}} w LEFT ANTI JOIN hot ON w._tk = hot._key
        )
        SELECT t.{id_col} AS prev_id, h.{id_col} AS next_id
        FROM tails t JOIN heads h
          ON t._tk = h._hk AND t.{id_col} != h.{id_col}
        """,
    )


def curriculum_key(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    bins: int = 4,
    salt: str = "",
) -> DataFrame:
    """Deterministic curriculum-ordering key: documents sorted by the
    returned ``curriculum_key`` stream easy→hard in ``bins`` difficulty
    bands with a content-free shuffle inside each band —
    ``key = bin + u`` where ``bin = floor(score·bins)`` (score in
    [0, 1], clamped) and ``u = md5(id‖salt)/2³² ∈ [0, 1)`` (the house
    :func:`hash_split` recipe, so the within-bin order is deterministic,
    rerun-stable, and independent of ingest order).

    Why a KEY and not positions: any exact global position assignment
    (rank/ntile) is a total sort — per-bin windows put a corpus/bins
    slice on ONE partition. Emitting a sort key instead is map-only
    with ZERO exchanges at any corpus size; the single distributed sort
    happens once, at write time, where the writer was sorting anyway
    (the same layout argument as Z-ordering).

    NULL scores get a NULL bin and key — the caller decides whether
    unscored documents join the curriculum.

    Output: ``(id, bin, curriculum_key)`` — bin INT, key DOUBLE
    (6-dp-rounded, engine-portable).
    """
    b = int(bins)
    if b < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    u32 = _md5_u32_sql(id_col, salt)
    # explicit NULL branch: Spark's greatest/least SKIP nulls (greatest
    # (0, NULL) = 0), which would silently fold unscored docs into the
    # easiest bin instead of honoring the NULL-score contract
    return df.selectExpr(
        id_col,
        f"CASE WHEN {score_col} IS NULL THEN CAST(NULL AS INT)"
        f" ELSE CAST(least({b - 1}, greatest(0,"
        f" CAST(floor({score_col} * {b}) AS INT))) AS INT) END AS bin",
    ).selectExpr(
        id_col,
        "bin",
        f"round(bin + {u32} / 4294967296.0D, 6) AS curriculum_key",
    )


def group_sample(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    k: int = 10,
    salt: str = "",
) -> DataFrame:
    """Deterministic k-per-group sample: the ``k`` rows of each group
    with the smallest ``md5(id‖salt)`` — "give me k examples per
    source/language/label" for eval sets, prompt audits, and labeling
    batches. The hash order makes the sample content-free,
    rerun-stable, and SUBSET-STABLE per group (a row already sampled
    stays sampled as its group grows only if no k smaller hashes
    arrive — the standard bottom-k sketch property, which also makes
    two corpora's samples comparable on their shared rows). Change
    ``salt`` for a fresh draw.

    Scale shape: ONE group-keyed exchange; the rank<=k filter compiles
    to WindowGroupLimit (per-partition partial top-k BEFORE the
    shuffle — the difference between sorting every group fully and
    keeping k rows per partition at 100 TB; plan-audited like the
    other top-k family members). NULL groups are their own group
    (callers filter if unwanted); ties cannot occur (the hash is over
    the unique id, id breaks residual ties).

    Output: the input columns + ``sample_rank`` (1-based within the
    group, hash order).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    kk = int(k)
    if kk < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u32 = _md5_u32_sql(id_col, salt)
    cols = ", ".join(df.columns)
    return sql_over(
        {"d": ensure_parallelism(df)},
        f"""
        SELECT {cols}, CAST(sample_rank AS BIGINT) AS sample_rank
        FROM (
          SELECT *, row_number() OVER (PARTITION BY {group_col}
                      ORDER BY {u32}, {id_col}) AS sample_rank
          FROM {{d}}
        )
        WHERE sample_rank <= {kk}
        """,
    )


def dedup_pair_eval(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pairwise precision/recall of a near-dup clustering against
    EXACT-duplicate ground truth — the standard dedup-quality read-out
    (B-cubed's pairwise cousin): truth pairs are same-normalized-text
    fingerprints, predicted pairs are same-cluster memberships
    (unclustered docs are singleton clusters = their own id), and both
    pair sets are counted through GROUP SIZES — ``C(n,2)`` per truth
    group, per predicted cluster, and per (truth, cluster) CELL for
    the intersection — so nothing quadratic ever materializes
    (pairwise metrics over billions of docs reduce to three
    dimension-sized aggregates).

    Reading it: recall < 1 means exact duplicates the clustering
    split apart (missed pairs — LSH bands too selective); precision
    measures how much of the clustering's pair mass is exact-dup mass
    (NEAR-dup pairs that aren't byte-identical land here by design,
    so precision is a characterization, not a failure score; compare
    across parameter settings, not to 1.0).

    Scale shape: one id-keyed LEFT join against the (pair-member-
    sized) label frame, one (fingerprint, cluster)-keyed aggregate
    over the corpus, then two map-combined roll-ups of the cell table
    (dimension-sized). NULL-text docs are excluded (no fingerprint —
    no truth identity).

    Output: ONE row (truth_pairs, pred_pairs, tp_pairs BIGINT,
    pair_precision, pair_recall DOUBLE 6-dp; NULL when the
    denominator pair set is empty). Pair counts use INTEGER halving
    (``n*(n-1) DIV 2`` here, ``//`` in the DuckDB twin) — ``/`` is
    DOUBLE division on both engines and loses exactness past 2^53,
    which a ~200M-member exact-dup group already exceeds. Exactness
    bound: the ``n·(n−1)`` product itself outgrows BIGINT (a LOUD
    ANSI error, not silence) at n ≈ 3.04e9 members in ONE group —
    3 billion byte-identical copies of a single document, at which
    point the corpus has bigger problems than this metric.
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    lab = labels.selectExpr(
        f"{label_id_col} AS _lid", f"{cluster_col} AS _lcl"
    )
    fp = f"md5(regexp_replace(trim(lower({text_col})), '\\\\s+', ' '))"
    return sql_over(
        {"d": ensure_parallelism(docs), "l": lab},
        f"""
        WITH cells AS (
          SELECT {fp} AS _fp,
                 coalesce(l._lcl, d.{id_col}) AS _cl,
                 CAST(count(1) AS BIGINT) AS k
          FROM {{d}} d LEFT JOIN {{l}} l ON l._lid = d.{id_col}
          WHERE d.{text_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        truth AS (
          SELECT sum(n * (n - 1) DIV 2) AS tp FROM (
            SELECT _fp, sum(k) AS n FROM cells GROUP BY _fp)
        ),
        pred AS (
          SELECT sum(n * (n - 1) DIV 2) AS pp FROM (
            SELECT _cl, sum(k) AS n FROM cells GROUP BY _cl)
        ),
        inter AS (
          SELECT sum(k * (k - 1) DIV 2) AS ip FROM cells
        )
        SELECT CAST(truth.tp AS BIGINT) AS truth_pairs,
               CAST(pred.pp AS BIGINT) AS pred_pairs,
               CAST(inter.ip AS BIGINT) AS tp_pairs,
               round(inter.ip / CAST(nullif(pred.pp, 0) AS DOUBLE), 6)
                 AS pair_precision,
               round(inter.ip / CAST(nullif(truth.tp, 0) AS DOUBLE), 6)
                 AS pair_recall
        FROM truth CROSS JOIN pred CROSS JOIN inter
        """,
    )


def bcubed_eval(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """B-cubed precision/recall of a near-dup clustering against
    exact-duplicate ground truth (Bagga & Baldwin 1998, "Entity-Based
    Cross-Document Coreferencing Using the Vector Space Model",
    public) — the PER-DOCUMENT average that :func:`dedup_pair_eval`'s
    pairwise counts cannot give: pairwise metrics let one giant
    cluster dominate (its C(n,2) pair mass swamps everything else),
    while B-cubed weights every document equally. Per doc d: precision
    = |cell(d)| / |cluster(d)|, recall = |cell(d)| / |truth group(d)|,
    where cell(d) is the set of docs sharing BOTH d's fingerprint and
    d's cluster; the scores are the corpus averages.

    Same conventions as :func:`dedup_pair_eval`: truth identity is the
    normalized-text md5 fingerprint, predicted identity is the cluster
    label (unclustered docs are singletons = their own id), NULL-text
    docs are excluded. Averages fold through the same (fingerprint ×
    cluster) CELL table — sum over cells of ``k²/cluster_size`` (resp.
    ``k²/truth_size``) divided by N — so nothing per-doc ever
    materializes.

    Scale shape: ONE id-keyed LEFT join against the (pair-member-
    sized) label frame, ONE (fingerprint, cluster)-keyed aggregate
    over the corpus, then two dimension-sized windows over the cell
    table (cluster-size and truth-size partitions) and one map-
    combined roll-up.

    Output: ONE row (n_docs BIGINT, bcubed_precision, bcubed_recall,
    bcubed_f1 — DOUBLE 6-dp; f1 NULL when precision + recall = 0).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    lab = labels.selectExpr(
        f"{label_id_col} AS _lid", f"{cluster_col} AS _lcl"
    )
    fp = f"md5(regexp_replace(trim(lower({text_col})), '\\\\s+', ' '))"
    return sql_over(
        {"d": ensure_parallelism(docs), "l": lab},
        f"""
        WITH cells AS (
          SELECT {fp} AS _fp,
                 coalesce(l._lcl, d.{id_col}) AS _cl,
                 CAST(count(1) AS BIGINT) AS k
          FROM {{d}} d LEFT JOIN {{l}} l ON l._lid = d.{id_col}
          WHERE d.{text_col} IS NOT NULL
          GROUP BY 1, 2
        ),
        w AS (
          SELECT k,
                 sum(k) OVER (PARTITION BY _cl) AS cn,
                 sum(k) OVER (PARTITION BY _fp) AS tn
          FROM cells
        ),
        s AS (
          -- k promoted to DOUBLE before squaring: BIGINT k*k THROWS
          -- past ~3e9-member cells (Spark runs ANSI-on here; DuckDB
          -- errors likewise), and the quotient is DOUBLE anyway
          -- (same exactness class as the DIV fix in dedup_pair_eval)
          SELECT CAST(sum(k) AS BIGINT) AS n_docs,
                 sum(CAST(k AS DOUBLE) * k / CAST(cn AS DOUBLE)) AS sp,
                 sum(CAST(k AS DOUBLE) * k / CAST(tn AS DOUBLE)) AS sr
          FROM w
        )
        SELECT n_docs,
               round(sp / n_docs, 6) AS bcubed_precision,
               round(sr / n_docs, 6) AS bcubed_recall,
               round(2 * (sp / n_docs) * (sr / n_docs)
                     / nullif(sp / n_docs + sr / n_docs, 0.0D), 6)
                 AS bcubed_f1
        FROM s
        """,
    )


def gram_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus ``n``-gram frequency table over the canonical token
    stream — the duplicated-gram evidence :func:`duplicated_spans` /
    :func:`exact_substring_spans` derive inline, exposed as a
    MERGEABLE table (counts sum) so per-batch tables can be summed
    and new documents flagged against the accumulated corpus without a
    rescan. Grams are the shared shifted-slice ``xxhash64`` combine —
    no gram strings are ever built (the repo's accepted 2⁻⁶⁴ digest
    argument; a DuckDB twin groups gram STRINGS and is count-identical
    modulo collisions).

    Scale shape: in-row gram formation + ONE gram-keyed map-combined
    count aggregate.

    Output: (g BIGINT, n_occ BIGINT).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    nn = int(n)
    if nn < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = rf"filter(split(trim(lower({text_col})), '\\s+'), t -> t != '')"
    ht = "transform(_toks, t -> xxhash64(t))"
    nsh = f"(size(_ht) - {nn - 1})"
    acc = f"slice(_ht, 1, {nsh})"
    for k in range(1, nn):
        acc = (
            f"zip_with({acc}, slice(_ht, {k + 1}, {nsh}),"
            " (a, b) -> xxhash64(a, b))"
        )
    grams = (
        f"CASE WHEN size(_ht) >= {nn} THEN {acc}"
        " ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    base = (
        ensure_parallelism(df)
        .selectExpr(f"{toks} AS _toks")
        .selectExpr(f"{ht} AS _ht")
        .selectExpr(f"explode({grams}) AS g")
    )
    return sql_over(
        {"g": base},
        "SELECT g, CAST(count(1) AS BIGINT) AS n_occ FROM {g} GROUP BY g",
    )


def gram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document NOVELTY against a reference corpus: the fraction of
    the doc's DISTINCT ``n``-grams that never occur in the reference —
    the dataset-refresh signal (how much genuinely new text does this
    crawl add?) and the content-level complement of
    :func:`exact_decontaminate` (which drops whole docs on overlap;
    this SCORES partial overlap). Distinct grams, not occurrences, so
    a long repetitive doc cannot inflate its own novelty.

    Grams are the shared shifted-slice ``xxhash64`` rule (2⁻⁶⁴ digest
    argument; the DuckDB twin uses gram strings — count-identical
    modulo collisions). Docs with fewer than ``n`` tokens have no
    grams and emit NO row (no evidence either way).

    Scale shape: in-row gram formation + ``array_distinct`` per doc,
    one explode, ONE gram-keyed LEFT join against the reference's
    DISTINCT gram table (AQE picks the join strategy from its measured
    size — no hint, since a sibling crawl's vocabulary is unbounded),
    then one doc-keyed map-combined roll-up.

    Output: (id, n_grams, n_novel BIGINT, novelty DOUBLE 6-dp).
    """
    from obsplus_spark.util import ensure_parallelism, sql_over

    nn = int(n)
    if nn < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def gram_expr() -> str:
        # reads the _ht token-hash column the upstream projection built
        nsh = f"(size(_ht) - {nn - 1})"
        acc = f"slice(_ht, 1, {nsh})"
        for k in range(1, nn):
            acc = (
                f"zip_with({acc}, slice(_ht, {k + 1}, {nsh}),"
                " (a, b) -> xxhash64(a, b))"
            )
        return (
            f"CASE WHEN size(_ht) >= {nn} THEN {acc}"
            " ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )

    d = (
        ensure_parallelism(docs)
        .selectExpr(
            id_col,
            rf"transform(filter(split(trim(lower({text_col})), '\\s+'),"
            " t -> t != ''), t -> xxhash64(t)) AS _ht",
        )
        .selectExpr(
            id_col, f"explode(array_distinct({gram_expr()})) AS g"
        )
    )
    r = (
        reference.selectExpr(
            rf"transform(filter(split(trim(lower({text_col})), '\\s+'),"
            " t -> t != ''), t -> xxhash64(t)) AS _ht"
        )
        .selectExpr(f"explode({gram_expr()}) AS g")
        .distinct()
    )
    return sql_over(
        {"d": d, "r": r},
        f"""
        SELECT {id_col},
               CAST(count(1) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN r.g IS NULL THEN 1.0D ELSE 0.0D END)
                     / count(1), 6) AS novelty
        FROM {{d}} d LEFT JOIN {{r}} r ON d.g = r.g
        GROUP BY {id_col}
        """,
    )
