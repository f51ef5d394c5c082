"""Physical-plan transparency report over every `queries()` entry.

Prints one row per query: hash/range exchange counts, join strategies,
window operators, Arrow/Python stages, TakeOrdered/WindowGroupLimit
markers, and whether the parquet scans carry pushed filters. This is the
human-readable companion to tests/test_plans.py — the audit suite pins
specific properties; this dumps the whole picture so a reviewer (or the
next round) can spot drift without re-deriving it.

Usage: python tools/plan_report.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as m
    from obsplus_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_report", shuffle_partitions=4)
    em = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString

    cols = [
        ("xchg", "Exchange hashpartitioning"),
        ("rng", "rangepartitioning"),
        ("bhj", "BroadcastHashJoin"),
        ("smj", "SortMergeJoin"),
        ("bnlj", "BroadcastNestedLoopJoin"),
        ("win", "Window ["),
        ("wgl", "WindowGroupLimit"),
        ("topk", "TakeOrderedAndProject"),
        ("arrow", "InPandas"),
        ("rowpy", "BatchEvalPython"),
    ]
    # NB: the entry loader caches base tables, so most scans appear as
    # InMemoryTableScan here — parquet pushdown itself is asserted by
    # tests/test_plans.py against uncached reads; `pushed` counts the
    # non-empty PushedFilters that DO survive (uncached side tables)
    print(f"{'query':24s} " + " ".join(f"{c:>5s}" for c, _ in cols) + "  pushed")
    for name, fn in m.queries().items():
        qe = fn(spark, sf_dir)._jdf.queryExecution()
        simple = qe.explainString(em("simple"))
        formatted = qe.explainString(em("formatted"))
        counts = [simple.count(marker) for _, marker in cols]
        pushed = formatted.count("PushedFilters: [") - formatted.count(
            "PushedFilters: []"
        )
        print(
            f"{name:24s} "
            + " ".join(f"{c:5d}" for c in counts)
            + f"  {pushed:d}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
