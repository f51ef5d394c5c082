"""Side-by-side engine-vs-DuckDB timing at one scale factor.

Runs the SAME protocol on both engines in the same process window (the
shared host drifts 2× between hours — a ratio is only meaningful when
both sides are measured back-to-back): warmup pass, then best-of-N per
query. The engine side is bench.py's session and reps. Prints per-query
and total ratios.

Usage: python tools/bench_compare.py [sf_dir] [reps] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import duckdb

    import __spark_entry__ as m
    from bench import TABLES, build, rep, session
    from perfbench.common import FreshPlanGuard

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    only = set(sys.argv[3:])

    # --- engine side (bench.py protocol) ---
    qs = m.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    # partitions sized to the DATA, not the bench constant: 4 is the
    # sf0.1 sweep minimum, but a 10-80× synthetic dir needs shuffle
    # width to follow the fact tables (the r9 phash harness lesson,
    # pinned by VERDICT r9 #7). Override via SPARK_GRAFT_SHUFFLE.
    spark = session("bench_compare", sf_dir, qs.values())
    eng: dict[str, float] = {}
    for name, fn in qs.items():
        df, persisted = build(fn, spark, sf_dir)
        guard = FreshPlanGuard()
        eng[name] = min(
            rep(fn, spark, sf_dir, df, persisted, guard)[0]
            for _ in range(reps)
        )

    # --- oracle side (same warmup + best-of protocol) ---
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    sqls = m.oracle_sql()
    if only:
        sqls = {n: s for n, s in sqls.items() if n in only}
    for s in sqls.values():
        con.execute(s).fetchall()
    duck: dict[str, float] = {}
    for name, s in sqls.items():
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(s).fetchall()
            best = min(best, time.perf_counter() - t0)
        duck[name] = best

    rows = sorted(
        ((n, eng[n], duck.get(n)) for n in eng),
        key=lambda r: -(r[1] - (r[2] or 0.0)),
    )
    for n, e, d in rows:
        ratio = f"{e / d:5.1f}x" if d else "   — "
        print(f"{n:24s} engine {e:7.3f}  duckdb {d if d else float('nan'):7.3f}  {ratio}")
    te = sum(eng.values())
    td = sum(v for v in duck.values())
    print(f"\nTOTAL engine {te:.2f}s  duckdb {td:.2f}s  ratio {te / td:.2f}x"
          f"  ({len(eng)} queries, best-of-{reps}, {sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
