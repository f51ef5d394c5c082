"""Persist-lifecycle management — the single home for every cached-frame
registry in the engine (VERDICT r9 #5 consolidation; previously three
mechanisms grown independently in the query entry module /
``operators/dedup`` / ``operators/similarity``).

Three registries, one invariant set:

1. **Table cache** (``_TABLE_CACHE``): base parquet scans keyed
   ``(session, sf_dir, table)`` — built by ``corpus.common._t``,
   persisted once per session, evicted only when their session dies.
   The production analogue is caching hot dimension tables: at 100 TB
   you cache dims, not facts.

2. **Rings** (``_SHINGLE_CACHES``, ``_ASSIGNMENT_CACHES``): two
   bounded per-session FIFOs of operator-internal persists
   (shingle/digest tables and graph edge frames; IVF assignment
   frames). The newest ``RING_CAPACITY`` (2) stay warm — the current
   pipeline plus one predecessor a caller may still be executing —
   older ones unpersist lazily, so a loop of scans never strands
   executor memory.

3. **Private chains** (``_PRIVATE_CHAINS``): per-``(session, group)``
   multi-frame persist chains (e.g. ``k_core_peel``'s per-round edge
   sets, each read twice by its successor — losing one mid-chain means
   2^depth recompute). A chain lives until the same operator group
   registers its successor; ring traffic can never evict it.

Invariants (each pinned in ``tests/test_cache.py``):

- **Adoption re-persist** (the r9 CacheManager fix): Spark's
  CacheManager keys entries by CANONICAL PLAN, not DataFrame object.
  When a rebuilt pipeline re-registers a plan-identical frame, its
  ``.persist()`` adopted the old build's entry ("already cached") — so
  any eviction here may have removed an entry a CURRENT frame relies
  on. Every eviction path therefore re-persists the registrant (rings)
  or the replacement chain, restoring a fresh entry. The re-persist is
  skipped when the frame's plan is still cached (distinct plans): it would
  be a no-op that only logs "Asked to cache already cached data".
- **Chain protection**: no frame referenced by a registered private
  chain may end up uncached through ring eviction — ring evictions
  re-persist the session's chain frames (the same canonical-plan
  hazard as above, across registries).
- **Boundedness**: rings hold ≤ ``RING_CAPACITY`` frames; one chain per group;
  dead sessions drop their table-cache entries.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

#: frames each ring keeps persisted: the current pipeline plus one predecessor
RING_CAPACITY = 2

#: base-scan cache: (session id, sf_dir, table name) -> persisted frame
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}

#: per-session ring of persisted shingle/digest tables (newest last)
_SHINGLE_CACHES: dict[int, list] = {}

#: per-session ring of persisted IVF-assignment frames (newest last)
_ASSIGNMENT_CACHES: dict[int, list] = {}

#: operator-private persist chains, keyed (session id, group)
_PRIVATE_CHAINS: dict[tuple, list] = {}


def _persist_if_uncached(df: DataFrame) -> None:
    """``persist()`` only when no CacheManager entry serves ``df``'s plan:
    on a still-cached plan it changes nothing and logs a warning."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist()


def _reprotect_chains(session_id: int) -> None:
    """Re-persist every private-chain frame of ``session_id`` after a
    ring eviction: the evicted ring entry may have been the SHARED
    canonical-plan cache entry a chain frame relies on (chain frames
    and ring frames are registered by different operators but can build
    plan-identical intermediates, e.g. the same deduplicated edge
    frame). Frames whose plan is still cached are left alone."""
    for (sid, _group), frames in _PRIVATE_CHAINS.items():
        if sid != session_id:
            continue
        for f in frames:
            try:
                _persist_if_uncached(f)
            except Exception as exc:  # session torn down; nothing to protect
                _log.debug("chain re-persist failed: %r", exc)


def _register_in_ring(rings: dict[int, list], arr: DataFrame) -> None:
    """Shared FIFO body for both ring families."""
    sid = id(arr.sparkSession)
    ring = rings.setdefault(sid, [])
    ring.append(arr)
    evicted = False
    while len(ring) > RING_CAPACITY:
        try:
            ring.pop(0).unpersist()
            evicted = True
        except Exception as exc:  # session torn down; nothing to release
            _log.debug("ring eviction unpersist failed: %r", exc)
    if evicted:
        # adoption re-persist (see module docstring invariant #1)
        try:
            _persist_if_uncached(arr)
        except Exception as exc:
            _log.debug("adoption re-persist failed: %r", exc)
        # chain protection (invariant #2)
        _reprotect_chains(sid)


def register_shingle_cache(arr: DataFrame) -> None:
    """Register an operator-internal persist in the shingle/digest ring
    (near-dup pipelines, graph edge frames, tf vectors, ...)."""
    _register_in_ring(_SHINGLE_CACHES, arr)


def register_assignment_cache(arr: DataFrame) -> None:
    """Register a persisted IVF/semantic-dedup assignment frame.
    Separate family from the shingle ring so a semantic-dedup loop and
    a text-dedup loop sharing a session don't evict each other's
    working set."""
    _register_in_ring(_ASSIGNMENT_CACHES, arr)


def register_private_chain(session, group: str, frames: list) -> None:
    """Replace (and lazily unpersist) the previous chain registered
    under ``group`` for this session with ``frames``. Lifecycle: a
    chain lives until the SAME operator builds its next chain or the
    session ends — bounded at one chain per operator group, and immune
    to interleaved ring registrations."""
    key = (id(session), group)
    old = _PRIVATE_CHAINS.get(key, [])
    _PRIVATE_CHAINS[key] = list(frames)
    for f in old:
        try:
            f.unpersist()
        except Exception as exc:  # session torn down; nothing to release
            _log.debug("old chain unpersist failed: %r", exc)
    if old:
        # adoption re-persist: a rebuilt chain's persist() calls may
        # have adopted the OLD chain's entries, which the loop above
        # just removed — re-persist so the new chain executes cached
        for f in frames:
            try:
                _persist_if_uncached(f)
            except Exception as exc:
                _log.debug("chain adoption re-persist failed: %r", exc)


def evict_dead_sessions() -> None:
    """Drop table-cache entries whose SparkSession has stopped: cached
    DataFrames pin their session (and its JVM-side blocks), so a driver
    that cycles sessions in one process would otherwise grow one
    persisted table set per dead session."""
    dead = []
    for key, df in _TABLE_CACHE.items():
        try:
            if df.sparkSession._jsc.sc().isStopped():
                dead.append(key)
        except Exception as exc:  # JVM gateway gone — certainly dead
            _log.debug("session liveness check failed: %r", exc)
            dead.append(key)
    for key in dead:
        _TABLE_CACHE.pop(key, None)
