"""Physical-plan audit — the 100-TB properties asserted, not assumed.

Every claim the scale story rests on is checked against the *actual*
physical plan of the driver-contract queries at sf0.001:

- no row-at-a-time Python (``BatchEvalPython``) anywhere;
- Arrow/pandas stages only in the explicitly-Python codec/hook queries;
- no unhinted cartesian products (``CartesianProduct``);
- rank-based top-k compiles to ``WindowGroupLimit`` (per-group limit
  pushdown), offset pagination to ``TakeOrderedAndProject`` (distributed
  partial top-k, never a global sort);
- the as-of join stays a single-shuffle union+window program (no join
  operator in the plan at all);
- star-schema dims broadcast;
- parquet scans receive pushed filters and pruned read schemas.

These run on the same ``queries()`` the correctness driver checks, so a
plan regression (a lost broadcast, a Python fallback, a new global sort)
fails CI even while results stay right.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

#: queries whose plans legitimately contain Arrow-batched Python stages
#: (file-format codecs and the user-callback hook — the documented
#: mapInPandas/applyInPandas surface; everything else must stay JVM-only)
PYTHON_STAGE_QUERIES = {
    "embed_near_dup",   # per-block gram matrix (BLAS) pandas UDF
    "semantic_dedup",   # SemDeDup: same gram kernel blocked by cluster
    "wav_roundtrip",    # WAV PCM codec
    "ppm_roundtrip",    # PPM/BMP image codecs + resize + features
    "image_patches",    # PPM codec + numpy patch-grid kernel
    "image_phash",      # PPM codec + average-hash kernel
    "mseed_roundtrip",  # miniSEED header codec
    "quakeml_rt",       # QuakeML XML codec
    "stationxml_rt",    # StationXML parser
    "stream_proc",      # user Stream→Stream callback (applyInPandas)
    "video_frames",     # PPMV video container codec + frame sampler
    "phash_wide",       # PPM codec + wide average-hash kernel
}

_PY_MARKERS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
)

_JOIN_MARKERS = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


@pytest.fixture(scope="module")
def plan_dir(tmp_path_factory):
    """Private copy of sf0.001 for the plan pins. ``_t`` caches per
    (session, directory): an unmaterialized cached table reports the
    estimated size of the scan it caches, a materialized one its real
    (small) size, which changes join strategies. No other test reads
    this directory, so no other test can materialize its caches."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata not present")
    import shutil

    d = str(tmp_path_factory.mktemp("plans_sf"))
    shutil.copytree(SF_DIR, d, dirs_exist_ok=True)
    return d


@pytest.fixture(scope="module")
def plans(spark, plan_dir):
    import __spark_entry__ as em

    em_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    out = {}
    for name, fn in em.queries().items():
        qe = fn(spark, plan_dir)._jdf.queryExecution()
        out[name] = (
            qe.explainString(em_mode("formatted")),
            qe.explainString(em_mode("simple")),
        )
    return out


def test_no_row_python_udfs(plans):
    """Row-at-a-time Python UDFs are banned from every operator path."""
    offenders = [n for n, (p, _) in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_python_stages_only_where_declared(plans):
    for name, (p, _) in plans.items():
        has_py = any(m in p for m in _PY_MARKERS)
        if name in PYTHON_STAGE_QUERIES:
            assert has_py, f"{name}: expected an Arrow Python stage"
        else:
            assert not has_py, f"{name}: unexpected Python stage in plan"


def test_no_cartesian_products(plans):
    """Cross joins must always ride a broadcast (BroadcastNestedLoopJoin
    over a hinted-small side), never a partition-cartesian explosion."""
    offenders = [n for n, (p, _) in plans.items() if "CartesianProduct" in p]
    assert offenders == []


def test_topk_compiles_to_window_group_limit(plans):
    """rank<=k filters push into WindowGroupLimit (per-group partial
    top-k before the shuffle — the difference between sorting every
    group fully and keeping k rows per partition at 100 TB)."""
    for name in ("topk_by_value", "first_event_per_user", "spatial_knn",
                 "knn_cosine", "lsh_ann"):
        assert "WindowGroupLimit" in plans[name][0], name


def test_offset_limit_is_distributed_partial_topk(plans):
    """offset+limit = TakeOrderedAndProject(offset+k) — a per-partition
    heap + single small merge, never a single-partition global sort."""
    p = plans["offset_limit"][0]
    assert "TakeOrderedAndProject" in p
    assert "Exchange SinglePartition" not in p


def test_asof_join_has_no_join_operator(plans):
    """The as-of join is a union + one window pass (single shuffle);
    a join node appearing here means the plan regressed to the
    join-then-filter shape that explodes at scale."""
    p = plans["asof_join"][0]
    assert not any(m in p for m in _JOIN_MARKERS), "asof_join grew a join"


def test_single_shuffle_analytics(plans):
    """Gaps-and-islands and dedup are one-shuffle programs: the
    formatted plan mentions Exchange at most twice (tree + detail
    listing of the same node) and contains no join."""
    for name in ("gaps", "segments", "exact_dedup", "set_ops"):
        p = plans[name][0]
        assert p.count("Exchange") <= 2, f"{name}: extra shuffle"
        assert not any(m in p for m in _JOIN_MARKERS), f"{name}: join"


def test_star_schema_dims_broadcast(plans):
    """revenue_by_nation: customer/nation dims ride broadcast joins."""
    assert "BroadcastHashJoin" in plans["revenue_by_nation"][0]


def test_flagship_interval_join_is_equi(plans):
    """event_window_join's bucketed path is an equi-join (hash/merge),
    never a nested-loop over the raw interval predicate."""
    p = plans["event_window_join"][0]
    assert "NestedLoop" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_parquet_scan_pushdown(spark, tmp_path):
    """Interval + NSLC predicates and column pruning reach the parquet
    scan itself (PushedFilters non-empty, ReadSchema pruned) — the
    row-group-skipping contract WaveBank.read_index relies on."""
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    # read a TEMP COPY of region: every driver table is now cached by
    # some queries() entry (_t), and the cache manager plan-matches
    # same-path scans into InMemoryRelation — which (correctly) has no
    # PushedFilters line. A fresh path (pytest-managed, auto-cleaned)
    # keeps this a real parquet scan.
    import shutil

    tmp = str(tmp_path)
    shutil.copy(f"{SF_DIR}/region.parquet", f"{tmp}/region.parquet")
    df = (
        spark.read.parquet(f"{tmp}/region.parquet")
        .filter(F.col("r_regionkey") >= 2)
        .select("r_name")
    )
    p = df._jdf.queryExecution().explainString(mode)
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(r_regionkey,2)" in p
    # pruned read schema: a projection-only scan decodes exactly the
    # selected column
    p2 = (
        spark.read.parquet(f"{tmp}/region.parquet")
        .select("r_name")
        ._jdf.queryExecution()
        .explainString(mode)
    )
    read_schema = next(ln for ln in p2.splitlines() if "ReadSchema" in ln)
    assert "r_regionkey" not in read_schema and "r_name" in read_schema


def test_whole_stage_codegen_everywhere(plans):
    """Every query's hot path sits inside whole-stage-codegen spans
    (the ``*(n)`` stage markers of the simple-mode plan)."""
    offenders = [
        n for n, (_, simple) in plans.items() if "*(1)" not in simple
    ]
    assert offenders == []


def test_balanced_sample_is_window_group_limit(plans):
    """Per-group deterministic downsampling keeps k rows per partition
    before the shuffle — a full per-group sort at 100 TB is the failure
    mode this pins."""
    assert "WindowGroupLimit" in plans["balanced_sample"][0]


def test_hash_split_is_narrow(plans):
    """Split assignment is a pure per-row expression: any Exchange in
    this plan means the operator started shuffling the corpus to label
    rows — wrong at every scale."""
    assert "Exchange" not in plans["hash_split"][0]


def test_dedup_clusters_rounds_are_aggregates(plans):
    """Label propagation must stay join+hash-aggregate per round (skew
    lands on a combinable agg, not a blown-up shuffle join) and must
    never fall back to Python or a cartesian pair expansion."""
    p = plans["dedup_clusters"][0]
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_text_metrics_are_map_only(plans):
    """repetition_stats / quality_flags / token_estimate are in-row
    expression programs: no hash/range exchange, no join — no bigram or
    line ever leaves the scan (the r4 explode+groupBy repetition shape
    shuffled every bigram once)."""
    for name in ("repetition_stats", "quality_flags", "token_estimate"):
        p = plans[name][0]
        assert "hashpartitioning" not in p, f"{name}: shuffled"
        assert "rangepartitioning" not in p, f"{name}: global sort"
        assert not any(m in p for m in _JOIN_MARKERS), f"{name}: join"


def test_decontaminate_eval_side_broadcasts(plans):
    """The corpus-side digest probe must be a broadcast join (benchmark
    grams are eval-set-sized); a sort-merge join here means the corpus
    started shuffling on gram digests — wrong at every scale."""
    p = plans["decontaminate"][0]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_plan_single_window(plans):
    """Sequence packing is ONE window pass over n_groups hash partitions
    (parallelism = groups) — never a global sort or a join."""
    p = plans["pack_plan"][0]
    assert "Window" in p
    assert "rangepartitioning" not in p
    assert not any(m in p for m in _JOIN_MARKERS)


def test_chunk_and_scrub_are_map_only(plans):
    """chunk_text / pii_scrub are per-row expression programs (the chunk
    explode is in-row): no exchange, no join — no token or span ever
    leaves the scan."""
    for name in ("chunk_text", "pii_scrub"):
        p = plans[name][0]
        assert "hashpartitioning" not in p, f"{name}: shuffled"
        assert "rangepartitioning" not in p, f"{name}: global sort"
        assert not any(m in p for m in _JOIN_MARKERS), f"{name}: join"


def test_vocab_top_is_take_ordered(plans):
    """Corpus vocabulary top-k must be distributed TakeOrdered over the
    token aggregate — a global rangepartitioning sort of the vocabulary
    is the 100 TB failure mode this pins."""
    p = plans["vocab_top"][0]
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_posting_lists_rank_limited_before_collect(plans):
    """Posting samples must be rank-limited inside the one token-keyed
    shuffle (WindowGroupLimit) so a stopword's postings are never
    collected whole; exactly ONE hash exchange in the whole plan."""
    p, simple = plans["posting_lists"]
    assert "WindowGroupLimit" in p
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_bpe_pairs_vocab_sized_after_one_exchange(plans):
    """BPE pair counting: top-k is distributed TakeOrdered, and the only
    shuffles are the word-frequency and pair aggregates (2) — pair
    expansion itself adds no exchange because it runs on the already-
    shuffled vocabulary."""
    p, simple = plans["bpe_pairs"]
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p
    assert simple.count("Exchange hashpartitioning") == 2


def test_kmeans_step_assign_is_map_only(plans):
    """k-means refinement: centroids ride ONE broadcast one-row cross
    join; assignment is an in-row expression, so the corpus meets its
    first (and only) hash exchange at the (cluster, dim) aggregate."""
    p, simple = plans["kmeans_step"]
    assert simple.count("BroadcastNestedLoopJoin") == 1  # one-row centroid array
    assert simple.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_pagerank_topk_and_no_cartesian(plans):
    """PageRank's final cut is distributed TakeOrdered on the rounded
    rank; every join is keyed (no broadcast-nested-loop fallback)."""
    p, simple = plans["pagerank"]
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sessionize_single_shuffle(plans):
    """Gaps-and-islands sessionization is ONE user-keyed exchange: the
    lag window, the running-sum window, the per-session aggregate and
    the per-user aggregate all reuse the same partitioning."""
    p, simple = plans["sessionize"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_funnel_single_exchange(plans):
    """K-stage funnel shuffles the event log ONCE: stacked running-min
    window passes + same-partitioning aggregates over one user-keyed
    exchange (plus the single-partition scalar count)."""
    p, simple = plans["funnel"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_sub_entity_flattens_are_shuffle_free(plans):
    """r6 sub-entity parity claim: the rich tree costs ONE user-keyed
    groupBy exchange; every flatten on top (preferred chains, quality
    counts, explode views) is in-row — no joins, no further exchange."""
    for name in (
        "events_wide",
        "picks_full",
        "amplitudes_flat",
        "arrivals_flat",
        "station_mags_flat",
        "focal_preferred",
    ):
        p, simple = plans[name]
        assert simple.count("Exchange hashpartitioning") == 1, name
        assert not any(m in p for m in _JOIN_MARKERS), name


def test_stations_from_stream_single_exchange(plans):
    """stations-from-stream is one NSLC groupBy (map-side combinable):
    a single hash exchange, no joins, no windows."""
    p, simple = plans["stations_from_stream"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "Window" not in p


def test_pq_codes_is_broadcast_map_only(plans):
    """PQ encoding: the codebook rides ONE broadcast; the corpus never
    shuffles (no hash exchange at all) — the assignment is an in-row
    argmin expression."""
    p, simple = plans["pq_codes"]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in simple
    assert "Window" not in p


def test_cms_probe_is_broadcast(plans):
    """CMS heavy hitters: the counter table (≤ depth×width rows) rides a
    broadcast join into the candidate probe — the candidate stream never
    shuffles against the sketch."""
    p, simple = plans["heavy_hitters"]
    assert "BroadcastHashJoin" in p


def test_span_dedup_two_keyed_exchanges(plans):
    """Span dedup = gram-keyed count window + doc-keyed aggregate: two
    hash exchanges, no joins."""
    p, simple = plans["span_dedup"]
    assert simple.count("Exchange hashpartitioning") == 2
    assert not any(m in p for m in _JOIN_MARKERS)


def test_winsorize_single_exchange(plans):
    """Winsorized stats reuse ONE type-keyed exchange across the rank
    window, the boundary-broadcast window, and the final aggregate."""
    p, simple = plans["winsorize"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_rolling_metrics_two_keyed_exchanges(plans):
    """RANGE-frame rolling metrics: exactly two keyed exchanges — the
    (type, day) daily aggregate (map-side combined, so events collapse
    to day rows BEFORE the first shuffle) and the type-keyed frame
    window over the day rows. No round-robin repartition, no joins."""
    p, simple = plans["rolling_metrics"]
    assert simple.count("Exchange hashpartitioning") == 2
    assert "RoundRobinPartitioning" not in simple
    assert not any(m in p for m in _JOIN_MARKERS)


def test_q5_dims_broadcast_facts_shuffle(plans):
    """TPC-H Q5 shape: nation⋈region broadcast; the four-way fact joins
    (lineitem/orders/supplier/customer) are keyed shuffle joins — no
    fact-side broadcast that would OOM at 100 TB, no cartesian."""
    p, simple = plans["local_supplier_volume"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # at least one shuffle-side join for the facts
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)


def test_triangle_joins_all_keyed(plans):
    """Triangle counting: every join (degree attach ×2, wedge self-join,
    closure) is a keyed equi-join; no nested-loop fallback, no
    cartesian."""
    p, simple = plans["triangle_count"]
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_jaccard_join_candidate_phase_integer_keys(plans):
    """Set-similarity join: candidate generation runs on xxhash64 int64
    keys (the 38-char digests appear only in the verify stage)."""
    p, simple = plans["jaccard_join"]
    assert "xxhash64" in p
    assert "CartesianProduct" not in p


def test_pmi_pair_expansion_in_row(plans):
    """PMI collocations: pair expansion is an in-row flatten (no
    positions self-join — the only joins attach the vocabulary-sized
    unigram normalizers) and the top-k is a distributed TakeOrdered."""
    p, simple = plans["pmi_pairs"]
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # normalizer joins must broadcast


def test_rank_transform_single_exchange(plans):
    """Rank transform: one type-keyed exchange; both window values ride
    the same sort."""
    p, simple = plans["rank_transform"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_skew_join_salted_key(plans):
    """Skew join: the join key carries the salt column (keyed equi-join
    on (key, _salt)), and the dim replication is an in-row explode."""
    p, simple = plans["skew_join"]
    assert "_salt" in p
    assert "CartesianProduct" not in p


def test_source_divergence_normalizers_broadcast(plans):
    """KL divergence: one (source, token) aggregate; the corpus/source
    normalizers ride broadcast joins (no SortMergeJoin — the big token
    stream never shuffles against them)."""
    p, simple = plans["source_divergence"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_ivf_pq_candidates_window_group_limit(plans):
    """IVF-PQ: the ADC top-rerank compiles to WindowGroupLimit; the
    candidate join is keyed (no cartesian); centroid/codebook folds ride
    broadcasts."""
    p, simple = plans["ivf_pq"]
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_linear_quality_is_pure_map(plans):
    """The hashed-BoW classifier is a scan-speed map: the executed plan
    has NO exchange of any kind, no join, no window — the in-row token
    fold is the whole program."""
    p, simple = plans["linear_quality"]
    assert "Exchange" not in simple
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "Window" not in p


def test_dsir_weight_table_broadcasts(plans):
    """DSIR: the ≤dims bucket-weight table rides broadcast joins back
    onto the occurrence stream — the corpus-side token stream never
    shuffles against the model (only the bucket/doc aggregates are
    keyed exchanges)."""
    p, simple = plans["dsir_weights"]
    assert "BroadcastHashJoin" in p
    assert simple.count("Exchange hashpartitioning") <= 3
    assert "Window" not in p


def test_cheapest_supplier_struct_min_single_exchange(plans):
    """Q2 shape: argmin-per-group is ONE struct-min hash aggregate
    (map-side combinable — no window, no per-group sort); part/supplier/
    nation broadcast; top-100 is TakeOrdered, never a global sort."""
    p, simple = plans["cheapest_supplier"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "TakeOrderedAndProject" in p


def test_priority_returns_is_semi_join(plans):
    """Q4 shape: the EXISTS compiles to a left-semi join (orders never
    widen), then one tiny priority aggregate."""
    p, simple = plans["priority_returns"]
    assert "LeftSemi" in p


def test_order_count_dist_outer_join_keeps_zeros(plans):
    """Q13 shape: LEFT OUTER join + two map-combined aggregates — two
    keyed exchanges, no window."""
    p, simple = plans["order_count_dist"]
    assert "LeftOuter" in p
    assert simple.count("Exchange hashpartitioning") == 2
    assert "Window" not in p


def test_large_orders_rollup_broadcasts_into_dims(plans):
    """Q18 shape: the quantity rollup is the only keyed exchange; its
    ~0.1% survivors ride broadcast joins into orders/customer — the
    fact table never re-shuffles."""
    p, simple = plans["large_orders"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_sole_supplier_returns_two_hash_aggs_no_window(plans):
    """Q21 shape: pair rollup + per-order aggregate that CARRIES the
    sole returning supplier (min-when) — 3 sort-free keyed exchanges,
    no window (a full-partition window re-sorts every pair row: 3.1 s
    vs 2.7 s at synthetic sf1), no self-join back (re-computes the
    rollup), no count-distinct Expand (5.9 s); supplier dim broadcasts."""
    p, simple = plans["sole_supplier_returns"]
    assert "Window" not in p
    assert "Expand" not in p
    assert simple.count("Exchange hashpartitioning") == 3
    assert "BroadcastHashJoin" in p


def test_idle_customers_anti_join_and_scalar_broadcast(plans):
    """Q22 shape: the NOT EXISTS compiles to a left-anti join; the
    global-average threshold is a broadcast single-row cross join (exact
    integer-cents compare, no double-rounding dependence)."""
    p, simple = plans["idle_customers"]
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p


def test_bm25_no_keyed_exchange(plans):
    """BM25: corpus work is a pure map (in-row per-term tf); the only
    aggregate is the single-row stats frame riding a broadcast cross
    join back; top-k is TakeOrdered — zero keyed exchanges."""
    p, simple = plans["bm25"]
    assert simple.count("Exchange hashpartitioning") == 0
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_semantic_dedup_pairs_blocked_by_cluster(plans):
    """SemDeDup: the quadratic phase is the cluster-blocked gram kernel
    (Arrow applyInPandas), never an unblocked self-join; assignment is
    broadcast-centroid map; the keep join is a plain outer id join."""
    p, simple = plans["semantic_dedup"]
    assert "FlatMapGroupsInPandas" in p or "ArrowEvalPython" in p
    assert "CartesianProduct" not in p


def test_audio_frames_single_exchange(plans):
    """Signal framing: the ordering window and the (id, frame)
    aggregate share ONE id-keyed exchange (grouping keys extend the
    window partition key); no joins."""
    p, simple = plans["audio_frames"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_k_core_broadcast_peel_shape(plans):
    """k-core peeling (broadcast_degrees form, r8): every per-round
    degree filter must be a map-side BroadcastHashJoin LeftSemi — a
    SortMergeJoin or ShuffledHashJoin here means a round started
    shuffling the edge frame (the degree-table regression the old
    window form guarded against), and a WindowExec means the rewrite
    silently fell back to the sort-based form."""
    p = plans["k_core"][0]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, (
        "k_core round shuffles the edge frame"
    )
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "Window" not in p  # degree via aggregate, not sort-window


def test_k_core_window_form_has_no_join_operator(spark):
    """The default (unbounded-node-space) k-core path keeps the
    single-reference explode/window formulation with NO join — a join
    node means the rewrite regressed to the inlined degree-table form
    whose plan grows 3^rounds."""
    from obsplus_spark.operators.graph import k_core_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    p = (
        k_core_peel(edges, k=2, rounds=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert not any(m in p for m in _JOIN_MARKERS), "k_core grew a join"


def test_trend_lines_single_exchange(plans):
    """OLS trends: the re-basing window and the sufficient-statistics
    aggregate share ONE user-keyed exchange; no joins."""
    p, simple = plans["trend_lines"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_audio_segments_single_exchange(plans):
    """Framing window, run window, and segment aggregate all ride one
    user-keyed exchange; no joins."""
    p, simple = plans["audio_segments"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_bool_search_no_joins_distributed_topk(plans):
    """Conjunctive search: literal IN-filter + two aggregates + a
    distributed TakeOrdered — never a join against a term table."""
    p, _ = plans["bool_search"]
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "TakeOrderedAndProject" in p
    assert "Exchange SinglePartition" not in p


def test_bigram_lp_left_context_broadcasts(plans):
    """Bigram LM: the unigram-sized left-context table broadcasts; no
    window operator sneaks into the aggregate pipeline."""
    p, _ = plans["bigram_lp"]
    assert "BroadcastHashJoin" in p
    assert "WindowExec" not in p and "CartesianProduct" not in p


def test_hits_is_joins_and_aggregates_only(plans):
    """Integer HITS: per half-round one keyed join + one hash
    aggregate — no window, no cartesian, no Python."""
    p, _ = plans["hits_auth"]
    assert "CartesianProduct" not in p
    assert "WindowExec" not in p
    assert "HashAggregate" in p


def test_dup_spans_no_joins(plans):
    """Duplicated-run detection is windows + aggregates over the gram
    frame — no join (the flag comes from a frequency window, not a
    dup-gram semi join)."""
    p, _ = plans["dup_spans"]
    assert not any(m in p for m in _JOIN_MARKERS)


def test_column_corr_single_aggregate_scan(plans):
    """All sufficient statistics ride ONE aggregate over one scan; the
    pair expansion works on the single-row result (no self-join of the
    input, no window)."""
    p, simple = plans["column_corr"]
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "WindowExec" not in p


def test_nation_trade_broadcasts_dims_one_fact_shuffle(plans):
    """Q7 shape: supplier and the nation-filtered customer→orders dim
    ride broadcasts; lineitem⋈orders is the only shuffle join."""
    p, _ = plans["nation_trade"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_small_qty_revenue_threshold_broadcasts(plans):
    """Q17 shape: the decorrelated per-part average joins back via
    broadcast (brand-part-sized), never a shuffle of the fact side."""
    p, _ = plans["small_qty_revenue"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_brand_revenue_pushes_quantity_disjunction(plans):
    """Q19 shape: part broadcasts; the lineitem-only quantity bounds of
    the OR-of-ANDs reach the scan as pushed filters."""
    p, _ = plans["brand_revenue"]
    assert "BroadcastHashJoin" in p


def test_mad_outliers_single_exchange(plans):
    """All four MAD windows and the final aggregate share one
    event_type-keyed exchange; no joins."""
    p, simple = plans["mad_outliers"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_promo_share_single_pass_ratio(plans):
    """Q14 shape: both ratio legs live in ONE aggregate over one scan;
    part broadcasts."""
    p, _ = plans["promo_share"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_market_share_all_dims_broadcast(plans):
    """Q8 shape: part/supplier-nation/region-pruned-customer all ride
    broadcasts; lineitem⋈orders is the only candidate shuffle join."""
    p, _ = plans["market_share"]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_forecast_revenue_scan_pushdown_no_joins(plans):
    """Q6 shape: every predicate is a lineitem-only conjunct — no join
    anywhere, one aggregate over the filtered scan."""
    p, _ = plans["forecast_revenue"]
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "HashAggregate" in p


def test_top_supplier_rank_over_dim_sized_table(plans):
    """Q15 shape: the max-of-aggregate folds into one rank window over
    the supplier-sized revenue table (the lineitem aggregate runs
    ONCE — a scalar-subquery form would re-derive it); supplier dim
    broadcasts."""
    p, _ = plans["top_supplier"]
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") <= 4  # one agg (partial+final) x2 listings


def _executed_plan_no_aqe(spark, sf_dir, name):
    """Executed-plan string under AQE OFF — the same planning mode the
    bench harness runs (tools/bench_compare disables AQE), and the only
    mode where exchange counts are stable plan properties (AQE wraps
    every stage in AdaptiveSparkPlan and prints not-yet-optimized
    initial plans, inflating marker counts nondeterministically)."""
    import __spark_entry__ as em

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return (
            em.queries()[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_hits_auth_partition_aligned_rounds(spark, plan_dir):
    """r8 graph-constant work: the HITS plan must keep (a) the
    src-partitioned cached edge frame satisfying every groupBy-src and
    a-round join (no new ENSURE_REQUIREMENTS exchange per half-round
    beyond the dst-keyed aggregates), and (b) the caller-gated
    broadcast of the dim-bounded authority vectors. Removing either
    silently re-exchanges the edge frame per half-round — the measured
    10.5 s → 2.7 s sf1 improvement in reverse. Bounds are the measured
    executed-plan shape with one exchange of slack."""
    p = _executed_plan_no_aqe(spark, plan_dir, "hits_auth")
    ens = p.count("ENSURE_REQUIREMENTS")
    assert ens <= 6, f"hits_auth grew exchanges: {ens}"
    assert p.count("SortMergeJoin") <= 3, "a dst-join lost its broadcast"
    assert "BroadcastHashJoin" in p


def test_pagerank_partition_aligned_rounds(spark, plan_dir):
    """r8: pagerank's hoisted src-partitioned weighted edge frame —
    the per-round `e.src = r.node` joins co-partition with the rank
    vector's own aggregate output, so only the dst-keyed contribution
    aggregates exchange. A reappearing in-statement DISTINCT or a lost
    repartition inflates the exchange count immediately."""
    p = _executed_plan_no_aqe(spark, plan_dir, "pagerank")
    ens = p.count("ENSURE_REQUIREMENTS")
    assert ens <= 5, f"pagerank grew exchanges: {ens}"
    assert p.count("SortMergeJoin") <= 3


def test_bfs_hops_bounded_exchanges(spark, plan_dir):
    """r8: bfs_distances dedups + persists its edge frame hash(src)
    inside the operator; each hop joins the (small) frontier against
    the cached partitioning, so the per-hop exchanges carry frontier
    and offer rows, never the edge frame. Bound set from the measured
    3-hop executed plan with slack."""
    p = _executed_plan_no_aqe(spark, plan_dir, "bfs_hops")
    ens = p.count("ENSURE_REQUIREMENTS")
    assert ens <= 11, f"bfs_hops grew exchanges: {ens}"
    # r11: rounds are per-round-persisted DataFrames (the one-statement
    # CTE form re-derived round i-1 2^depth times — Catalyst inlined
    # both references and a pushed isnotnull(node) broke ReuseExchange),
    # and the frontier joins are SHUFFLE_HASH (SMJ re-SORTED the cached
    # edge frame every round; the hash build is the per-partition
    # frontier slice, scale-safe where a frontier broadcast is not)
    assert "SortMergeJoin" not in p, "a frontier join regressed to SMJ"
    assert "ShuffledHashJoin" in p


def test_curation_funnel_no_keyed_shuffle(plans):
    """The funnel is one map pass + one global aggregate: no hash
    exchange, no join, no window anywhere in the plan."""
    p, simple = plans["curation_funnel"]
    assert simple.count("Exchange hashpartitioning") == 0
    assert not any(m in p for m in _JOIN_MARKERS)


def test_compaction_plan_one_dir_exchange(plans):
    """Bin assignment and the (dir, bin) totals must share ONE
    dir-keyed exchange (ClusteredDistribution subset rule) — a second
    hash exchange means the window partitioning regressed."""
    _, simple = plans["compaction_plan"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in simple


def test_key_skew_distributed_topk(plans):
    """The global rank filter must rewrite to a distributed
    TakeOrdered over the key-count frame (per-partition heap + small
    merge) — a bare single-partition Window over all distinct keys is
    the failure mode."""
    p, simple = plans["key_skew"]
    assert "TakeOrderedAndProject" in simple
    assert simple.count("Exchange hashpartitioning") == 1  # key counts


def test_resample_one_keyed_exchange(plans):
    """Resampling = one user-keyed window + in-row grid explode: a
    single hash exchange, no join; the explode input must be the
    integer sequence (no struct-building before Generate)."""
    p, simple = plans["resample"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)
    assert "Generate" in p and "explode" in p


def test_embed_outliers_broadcast_centroids(plans):
    """Centroids must BROADCAST back to the corpus (the corpus never
    re-shuffles on label), and the centroid aggregate is the only
    corpus-sized hash exchange."""
    p, _ = plans["embed_outliers"]
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_splits_are_exchange_free(plans):
    """temporal_split and group_kfold are pure per-row expressions —
    any Exchange means the subset-consistency story broke."""
    for name in ("temporal_split", "group_kfold"):
        p = plans[name][0]
        assert "Exchange" not in p, name
        assert not any(m in p for m in _JOIN_MARKERS), name


def test_chunk_dedup_two_keyed_exchanges(plans):
    """Corpus chunk dedup is exactly TWO keyed exchanges — the
    chunk-digest first-occurrence window and the doc-keyed rebuild
    aggregate; chunks form in-row (no token explode crosses a wire),
    and there are no joins."""
    p, simple = plans["chunk_dedup"]
    assert simple.count("Exchange hashpartitioning") == 2
    assert not any(m in p for m in _JOIN_MARKERS)


def test_within_doc_dedup_map_only(plans):
    """Within-doc chunk trim is a pure per-row expression: no keyed
    exchange of any kind in the plan."""
    p, simple = plans["within_doc_dedup"]
    assert "Exchange hashpartitioning" not in simple
    assert "Exchange rangepartitioning" not in simple
    assert "Exchange SinglePartition" not in simple
    assert not any(m in p for m in _JOIN_MARKERS)


def test_auc_and_ks_single_corpus_exchange(plans):
    """AUC and KS meet the corpus in ONE map-combined value-keyed
    exchange; the cumulative pass runs over distinct values (the
    documented single-partition stage) and never re-shuffles rows."""
    for name in ("score_auc", "ks_drift"):
        p, simple = plans[name]
        assert simple.count("Exchange hashpartitioning") == 1, name
        assert not any(m in p for m in _JOIN_MARKERS), name
        # partial aggregation (map-side combine) before the exchange
        assert "partial_" in p.lower() or "HashAggregate" in p, name


def test_centroid_drift_broadcast_joins_only(plans):
    """Centroid drift: the corpus folds to (label, dim) cells via
    map-combined aggregates; every join is a |labels|-row broadcast —
    no sort-merge or shuffled-hash join anywhere."""
    p, simple = plans["centroid_drift"]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_embed_cov_map_combined_cells(plans):
    """Covariance: pair products meet the corpus in map-combined
    cell-keyed aggregates; the dims^2-frame assembly joins ride
    broadcasts — never a sort-merge join or cartesian."""
    p, simple = plans["embed_cov"]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_calibration_and_threshold_sweep_single_exchange(plans):
    """Calibration bins and the threshold sweep each meet the corpus
    in ONE map-combined keyed aggregate (bin / threshold cells cross
    the wire, never rows); no joins."""
    for name in ("calibration", "threshold_sweep"):
        p, simple = plans[name]
        assert simple.count("Exchange hashpartitioning") == 1, name
        assert not any(m in p for m in _JOIN_MARKERS), name


def test_winnow_overlap_two_keyed_exchanges_no_joins(plans):
    """Winnowing overlap: prints form in-row (map-only), buckets and
    the pair count are the only keyed exchanges, and there is no join
    anywhere (the bucket expansion replaces the classic self-join)."""
    p, simple = plans["winnow_overlap"]
    assert simple.count("Exchange hashpartitioning") == 2
    assert not any(m in p for m in _JOIN_MARKERS)


def test_seq_holdout_single_keyed_exchange(plans):
    """Sequential holdout is ONE key-keyed exchange (the last-k window)
    plus the NULL-branch union — no joins."""
    p, simple = plans["seq_holdout"]
    assert simple.count("Exchange hashpartitioning") == 1
    assert not any(m in p for m in _JOIN_MARKERS)


def test_rolling_active_three_keyed_exchanges(plans):
    """Rolling active users: exactly THREE keyed exchanges — the
    (day,user) DISTINCT (map-side combined), then the two that
    Catalyst's count-DISTINCT rewrite emits for the day-keyed
    recount: the Expand/grouping-id dedup exchange on
    (day, case-expr, u, gid) and the final day-keyed aggregate. The
    window-day contribution explode is in-row (no exchange of its
    own); no joins anywhere. Pinned == 3 (ADVICE r9 #4: `<= 3` would
    let a fourth corpus-sized shuffle — e.g. losing the map-side
    DISTINCT combine — slip through)."""
    p, simple = plans["rolling_active"]
    assert not any(m in p for m in _JOIN_MARKERS)
    assert simple.count("Exchange hashpartitioning") == 3


def test_span_keep_one_three_keyed_exchanges(plans):
    """Keep-one-copy span election: the only keyed exchanges are the
    gram-frequency window, the doc-keyed run roll-up, and the
    region-keyed survivor window — pinned == 3. The span-frame
    rehydration join may broadcast (sf0.001) or shuffle (at scale);
    either way no cartesian and no extra corpus-sized exchange."""
    p, simple = plans["span_keep_one"]
    assert simple.count("Exchange hashpartitioning") == 3
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_span_store_join_replaces_gram_window(plans):
    """exact_substring_spans(freqs=): the gram-keyed COUNT WINDOW over
    the corpus is gone — duplication evidence arrives through a
    gram-keyed join against the store (one aggregate builds the store,
    one doc-keyed exchange rolls up runs). Exactly one count-window
    remains impossible: assert no window partitioned solely by the
    gram column by bounding total keyed exchanges and requiring a
    join."""
    p, simple = plans["span_store_join"]
    assert any(m in p for m in _JOIN_MARKERS)
    # store aggregate (gram-keyed) + run roll-up (doc-keyed); the join
    # itself broadcasts at sf0.001 and may add 2 exchanges under SMJ
    assert simple.count("Exchange hashpartitioning") <= 4
    # inline path pins a count(1) window over g; the store path must
    # not re-derive it
    assert "windowspecdefinition(g#" not in simple


def test_bcubed_cell_table_shape(plans):
    """B-cubed: per-doc averages fold through the (fingerprint x
    cluster) cell table — two dimension-sized windows over cells and
    one roll-up; the corpus crosses the wire once at the cell
    aggregate plus the label join."""
    p, simple = plans["bcubed"]
    assert "CartesianProduct" not in p


def test_r12_pipeline_queries_no_cartesian(plans):
    """The r12 pipeline rows (keep-one cut, shared regions, mixture
    audit) must stay equi-join-only: no cartesian or nested-loop
    product anywhere — the span self-join is region-KEYED and capped,
    the audit window is dimension-sized."""
    for name in ("span_keep_cut", "shared_regions", "mix_audit"):
        p, _ = plans[name]
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_top_regions_distributed_takeordered(plans):
    """The forensics report's top-k must be a distributed TakeOrdered,
    never a global range sort of the region table."""
    p, simple = plans["top_regions"]
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in simple
