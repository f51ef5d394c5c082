"""Superset-containment query cache for bank index reads.

Mirror of the reference's ``_IndexCache`` (``utils/bank.py:159-196``): keep
the last N index queries; a new query whose time range is **contained** in
a cached query with identical residual kwargs reuses the cached result,
trimmed to the requested range — the common access pattern (many small
window reads inside one analysis span) never re-touches storage.

Spark twist: the cached value is a ``.cache()``'d DataFrame (distributed,
memory-and-disk), and the trim is a filter over it — so a hit costs one
in-memory scan, no parquet IO. Entries invalidate automatically when the
bank's ``(generation, last_updated_ns)`` pointer changes (upserts bump
it; a wiped and rebuilt root restamps it), which the reference handled
with file-lock retries instead (``utils/bank.py:238-251``) — snapshot
generations make that machinery unnecessary.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from obsplus_spark.schemas import LARGEDT_NS, SMALLDT_NS


@dataclass
class _Entry:
    t1: int
    t2: int
    kwargs_key: tuple
    generation: tuple
    df: DataFrame
    hits: int = 0


@dataclass
class IndexCache:
    """LRU-ish superset cache (size = reference default 5,
    ``wavebank.py:195``)."""

    cache_size: int = 5
    entries: list[_Entry] = field(default_factory=list)

    @staticmethod
    def _norm(t1: int | None, t2: int | None) -> tuple[int, int]:
        # open-ended → ±inf sentinels (utils/bank.py:198-210)
        return (
            SMALLDT_NS if t1 is None else int(t1),
            LARGEDT_NS if t2 is None else int(t2),
        )

    def get(
        self,
        t1: int | None,
        t2: int | None,
        kwargs_key: tuple,
        generation: tuple,
        build,
        trim,
    ) -> DataFrame:
        """Return a cached superset trimmed to [t1, t2], else build + cache.

        ``build(t1, t2)`` produces the uncached DataFrame; ``trim(df, t1,
        t2)`` applies the residual range filter on a hit.
        """
        q1, q2 = self._norm(t1, t2)
        fresh = []
        for e in self.entries:
            if e.generation == generation:
                fresh.append(e)
            else:
                # stale generation: unpersist, or the cached partitions
                # strand in executor memory until LRU pressure
                e.df.unpersist(blocking=False)
        self.entries = fresh
        for e in self.entries:
            if e.kwargs_key == kwargs_key and e.t1 <= q1 and e.t2 >= q2:
                e.hits += 1
                if (e.t1, e.t2) == (q1, q2):
                    return e.df
                return trim(e.df, q1, q2)
        df = build(t1, t2).cache()
        self.entries.append(_Entry(q1, q2, kwargs_key, generation, df))
        while len(self.entries) > self.cache_size:
            old = self.entries.pop(0)
            old.df.unpersist(blocking=False)
        return df

    def clear(self) -> None:
        for e in self.entries:
            e.df.unpersist(blocking=False)
        self.entries.clear()
