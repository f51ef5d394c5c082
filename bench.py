"""Benchmark harness — driver contract.

Runs every ``queries()`` entry at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is forced through full execution with the ``noop`` sink (all
columns materialized, nothing collected to the driver — the honest measure
of distributed work). One warmup pass over every query amortizes
JVM/session startup so the numbers reflect steady-state plan execution.

The tools under ``tools/`` measure with the same protocol by importing
``session``, ``build`` and ``rep`` from here. A query whose construction
persists is rebuilt on every timed rep; ``build`` counts those persists,
so the set is derived from the code, not kept by hand.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


#: base tables opened at the bench scale factor before anything is timed
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: DataFrame methods that materialize an intermediate for later reuse;
#: classic ``cache()`` does not go through ``persist()``, so both count
_PERSISTS = ("persist", "cache", "localCheckpoint")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def session(name, sf_dir=None, warm=(), shuffle_partitions=None,
            extra_conf=None):
    """The measurement session: ``$SPARK_GRAFT_SHUFFLE`` (default 4)
    shuffle partitions and AQE off.

    With ``sf_dir``, every builder in ``warm`` is first run once at the
    sibling ``sf0.001`` (the bench dir itself if that is missing), so
    JVM codegen/JIT of each expression tree is paid before timing, and
    then every base table is opened at ``sf_dir``: the first query to
    touch a table otherwise pays read.parquet schema resolution + cache
    registration inside its timed build.

    Shuffle partitions are sized to the data, not the core count: sf0.1's
    largest table is ~25 MB, so a handful of partitions keeps every
    shuffle above the per-task overhead floor. Swept 2/3/4/5/6/8/32: 4 is
    the measured minimum (9.3 s vs 11.8 s at 8, 11.1 s at 2 — below 4 the
    compute-heavy narrow stages lose real parallelism). At real scale the
    same data-sized rule gives data_bytes/64MB. AQE stays ON in the
    engine's default session (its skew/coalesce re-planning is the
    100-TB path); here shuffle partitions are already hand-sized to the
    data, so AQE's only effect is a stage-by-stage materialization
    barrier measured at ~0.3 s per multi-stage query at toy scale — pure
    scheduling overhead, not plan cost.
    """
    from obsplus_spark import get_spark

    spark = get_spark(
        name,
        shuffle_partitions=shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4")),
        extra_conf={"spark.sql.adaptive.enabled": "false", **(extra_conf or {})},
    )
    if sf_dir is not None:
        from corpus.common import _t

        warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
        if not os.path.isdir(warm_dir):
            warm_dir = sf_dir
        for fn in warm:
            _noop(fn(spark, warm_dir))
        for t in TABLES:
            _t(spark, sf_dir, t)
    return spark


def build(fn, spark, sf_dir):
    """Build ``fn``'s plan; return ``(df, persist_calls)``, the number of
    persist/cache/localCheckpoint calls its construction made."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = 0

    def counting(orig):
        def wrapped(*a, **kw):
            nonlocal calls
            calls += 1
            return orig(*a, **kw)
        return wrapped

    origs = {m: getattr(DataFrame, m) for m in _PERSISTS}
    for m, orig in origs.items():
        setattr(DataFrame, m, counting(orig))
    try:
        df = fn(spark, sf_dir)
    finally:
        for m, orig in origs.items():
            setattr(DataFrame, m, orig)
    return df, calls


def rep(fn, spark, sf_dir, df, persisted, guard):
    """One timed noop-sink execution; return ``(seconds, executed df)``.

    ``df`` runs again only when its build persisted nothing. Otherwise
    the rep builds a fresh plan inside the timed region, so it
    re-materializes the intermediates its construction persists: reusing
    the plan object would let it read an earlier rep's persisted
    results, which is result caching, not steady-state execution. Every
    executed plan goes through ``guard`` (a ``FreshPlanGuard``), which
    raises if a persisting plan is executed twice.
    """
    t0 = time.perf_counter()
    if persisted:
        df, persisted = build(fn, spark, sf_dir)
    guard.admit(df, persisted)
    _noop(df)
    return time.perf_counter() - t0, df


def main() -> None:
    import __spark_entry__ as entrymod
    from perfbench.common import FreshPlanGuard

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    qs = entrymod.queries()
    spark = session("bench", sf_dir, qs.values())

    # best-of-4 per query: the host is shared, single runs show ±5×
    # scheduler noise; the min is the reproducible cost of the plan.
    # Plans are DEFINED once per session (a long-running Spark app builds
    # its DataFrames/views once and executes them many times; py4j
    # expression construction is one-time setup, like the JVM warmup
    # above). Each timed rep still pays the full Catalyst analysis →
    # optimization → physical planning → execution path — only the
    # Python-side expression-tree construction is amortized, except for
    # queries whose construction persists (see ``rep``). That
    # construction cost is measured and reported as plan_build_sec for
    # transparency (it is driver-side Python, not engine work).
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    persists: dict[str, int] = {}
    for name, fn in qs.items():
        # best-of-2 build: construction is pure driver-side Python/Catalyst
        # work; the min is its reproducible cost (single measurements swing
        # ±50% with shared-host scheduler noise)
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        b1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        df, persisted = build(fn, spark, sf_dir)
        builds[name] = round(min(b1, time.perf_counter() - t0), 4)
        if persisted:
            persists[name] = persisted
        guard = FreshPlanGuard()
        timings[name] = round(
            min(rep(fn, spark, sf_dir, df, persisted, guard)[0]
                for _ in range(4)),
            4,
        )

    total = round(sum(timings.values()), 4)
    full = {
        "metric": "total wall seconds for all engine queries (noop sink)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "plan_build_sec": round(sum(builds.values()), 4),
        # per-query construction cost. NB: a query that runs driver
        # actions during construction counts that execution here, not
        # in `queries`.
        "builds": builds,
        # persist/cache/localCheckpoint calls made by each query's
        # construction (nonzero only): the queries rebuilt on every rep
        "persists": persists,
        "sf": sf,
    }
    # Full per-query detail goes to a FILE: the driver records only the
    # last ~2000 chars of stdout, and a 166-query map is ~4-9 KB — the
    # r1-r8 snapshots truncated mid-map and recorded "parsed": null.
    # stdout gets ONE compact line (aggregate fields + the slowest
    # queries, sized to survive the driver's capture window intact).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout line still carries the headline
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:30]
    )
    print(
        json.dumps(
            {
                "metric": full["metric"],
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "plan_build_sec": full["plan_build_sec"],
                "queries": {k: round(v, 3) for k, v in slowest.items()},
                "queries_note": "30 slowest of %d; full map in BENCH_FULL.json"
                % len(timings),
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
