"""Invariants of the consolidated persist-lifecycle module
(obsplus_spark/cache.py — VERDICT r9 #5): adoption re-persist on every
eviction path, chain protection from ring traffic, ring boundedness.
Zero-behavior-change consolidation is pinned by the pre-existing suites
(tests/test_scale_ops.py ring test, tests/test_advice_r9.py chain
test) continuing to pass against the re-exported names."""

import pytest

from pyspark.sql import functions as F


def _fresh_frame(spark, tag: int):
    """A tiny frame whose plan is UNIQUE per tag (distinct literal), so
    CacheManager gives it its own entry."""
    return spark.range(5).select(F.lit(tag).alias("t"), "id").persist()


def _twin_frames(spark, tag: int):
    """Two separately-built but PLAN-IDENTICAL frames: the second
    persist() adopts the first one's CacheManager entry — the adoption
    hazard the re-persist invariant exists for."""
    a = spark.range(5).select(F.lit(tag).alias("t"), "id").persist()
    b = spark.range(5).select(F.lit(tag).alias("t"), "id").persist()
    return a, b


def test_ring_bounded_and_evicts(spark):
    from obsplus_spark import cache

    ring_before = list(cache._SHINGLE_CACHES.get(id(spark), []))
    frames = [_fresh_frame(spark, 9000 + i) for i in range(4)]
    for f in frames:
        f.count()
        cache.register_shingle_cache(f)
    ring = cache._SHINGLE_CACHES[id(spark)]
    assert len(ring) == 2
    assert ring[-2:] == frames[-2:]
    assert not frames[0].storageLevel.useMemory
    assert frames[3].storageLevel.useMemory
    for f in frames + ring_before:
        f.unpersist()


def test_ring_eviction_repersists_adopted_entry(spark):
    """r9 CacheManager-adoption regression: evicting an old ring frame
    that shares its canonical plan with the NEWEST registrant must not
    leave the registrant uncached."""
    from obsplus_spark import cache

    old, new = _twin_frames(spark, 9100)
    old.count()
    cache.register_shingle_cache(old)
    # push `old` out with an unrelated frame, then register `new`
    pad = _fresh_frame(spark, 9101)
    cache.register_shingle_cache(pad)
    cache.register_shingle_cache(new)  # evicts `old` -> shared entry gone
    assert new.storageLevel.useMemory, (
        "ring eviction dropped the canonical-plan entry the rebuilt "
        "frame had adopted"
    )
    new.count()
    for f in (old, new, pad):
        f.unpersist()


def test_ring_eviction_skips_repersist_of_cached_plan(spark, monkeypatch):
    """An eviction between DISTINCT plans leaves the surviving frames
    cached and calls no persist() on the still-cached registrant (it
    would only log "Asked to cache already cached data")."""
    from obsplus_spark import cache

    old, mid, new = (_fresh_frame(spark, 9150 + i) for i in range(3))
    for f in (old, mid, new):
        f.count()
    cache.register_shingle_cache(old)
    cache.register_shingle_cache(mid)
    persisted = []
    real_persist = type(new).persist

    def spy(self, *args, **kwargs):
        persisted.append(id(self))
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(type(new), "persist", spy)
    cache.register_shingle_cache(new)  # evicts `old`
    monkeypatch.undo()
    assert cache._SHINGLE_CACHES[id(spark)][-2:] == [mid, new]
    assert not old.storageLevel.useMemory
    assert mid.storageLevel.useMemory and new.storageLevel.useMemory
    assert id(new) not in persisted and id(mid) not in persisted
    for f in (old, mid, new):
        f.unpersist()


def test_ring_eviction_cannot_uncache_private_chain(spark):
    """Chain protection: a private-chain frame plan-identical to an
    evicted ring frame must remain cached after the eviction."""
    from obsplus_spark import cache

    ring_twin, chain_frame = _twin_frames(spark, 9200)
    chain_frame.count()
    cache.register_private_chain(spark, "test_chain_prot", [chain_frame])
    cache.register_shingle_cache(ring_twin)
    # two fresh registrations evict ring_twin -> shared entry removed,
    # then chain protection must re-persist chain_frame
    pads = [_fresh_frame(spark, 9201 + i) for i in range(2)]
    for p in pads:
        cache.register_shingle_cache(p)
    assert chain_frame.storageLevel.useMemory, (
        "ring eviction uncached a registered private-chain frame"
    )
    cache.register_private_chain(spark, "test_chain_prot", [])
    for f in (ring_twin, chain_frame, *pads):
        f.unpersist()


def test_chain_replacement_repersists_adopted_entries(spark):
    """A rebuilt plan-identical chain must execute cached after its
    predecessor is released (same adoption hazard, chain registry)."""
    from obsplus_spark import cache

    old, new = _twin_frames(spark, 9300)
    old.count()
    cache.register_private_chain(spark, "test_chain_adopt", [old])
    cache.register_private_chain(spark, "test_chain_adopt", [new])
    assert new.storageLevel.useMemory
    cache.register_private_chain(spark, "test_chain_adopt", [])
    for f in (old, new):
        f.unpersist()


def test_assignment_ring_gained_adoption_repersist(spark):
    """The assignment-frame ring historically lacked the adoption
    re-persist (pre-consolidation divergence); same regression shape as
    the shingle ring, other family."""
    from obsplus_spark import cache

    old, new = _twin_frames(spark, 9400)
    old.count()
    cache.register_assignment_cache(old)
    pad = _fresh_frame(spark, 9401)
    cache.register_assignment_cache(pad)
    cache.register_assignment_cache(new)  # evicts `old`
    assert new.storageLevel.useMemory
    for f in (old, new, pad):
        f.unpersist()


def test_families_do_not_evict_each_other(spark):
    """Shingle and assignment rings are separate capacity domains."""
    from obsplus_spark import cache

    sh = _fresh_frame(spark, 9500)
    sh.count()
    cache.register_shingle_cache(sh)
    pads = [_fresh_frame(spark, 9501 + i) for i in range(3)]
    for p in pads:
        cache.register_assignment_cache(p)
    assert sh in cache._SHINGLE_CACHES[id(spark)]
    assert sh.storageLevel.useMemory
    for f in (sh, *pads):
        f.unpersist()


def test_historical_names_still_bound(spark):
    """The aliases the operators and the corpus register through are
    the obsplus_spark.cache objects themselves."""
    from obsplus_spark import cache
    from obsplus_spark.operators import dedup, similarity
    from corpus import common

    assert common._TABLE_CACHE is cache._TABLE_CACHE
    assert dedup._register_shingle_cache is cache.register_shingle_cache
    assert (
        similarity._register_assignment_cache
        is cache.register_assignment_cache
    )
