"""Local correctness harness — mimics the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin at sf0.01
(override with argv[1]), compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted), and prints
a per-query PASS/FAIL table with first-diff details.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t)), [
        cols[i] for i in order
    ]


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from bench import TABLES
    from obsplus_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)} rows)")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        # arrow-normalized type compare (the driver checks schema, not just names)
        def _canon(t: str) -> str:
            t = t.lower()
            if "int" in t or t in ("long", "short", "byte"):
                return "int"
            if any(n in t for n in ("float", "double", "decimal")):
                return "float"
            if any(n in t for n in ("string", "varchar", "utf8")):
                return "str"
            if t.startswith("bool"):
                return "bool"
            if t.startswith(("list", "array")):
                return "list"
            return t
        stypes = {f.name: _canon(f.dataType.simpleString()) for f in sdf.schema.fields}
        try:
            arrow = con.execute(sql).arrow()
            otypes = {
                fld.name: _canon(str(fld.type)) for fld in arrow.schema
            }
        except Exception:
            otypes = {}
        type_mismatch = [
            (c, stypes[c], otypes.get(c))
            for c in stypes
            if otypes and stypes[c] != otypes.get(c)
        ]
        if type_mismatch:
            print(f"FAIL {name}: type mismatch {type_mismatch}")
            n_fail += 1
            continue
        # exact-width check: int32 vs int64 etc. (warn only — driver strictness unknown)
        warrow = {fld.name: str(fld.type) for fld in arrow.schema} if otypes else {}
        for f in sdf.schema.fields:
            st = f.dataType.simpleString()
            ot = warrow.get(f.name, "")
            pairs = {("int", "int32"), ("bigint", "int64"), ("double", "double"),
                     ("string", "string"), ("string", "large_string")}
            if ot and (st, ot) not in pairs and _canon(st) == _canon(ot) and st in ("int", "bigint"):
                if (st == "int") != (ot == "int32"):
                    print(f"  WARN {name}: width {f.name}: spark={st} duck={ot}")
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            continue
        s_n, cols_sorted = _normalize(srows, scols)
        o_n, _ = _normalize(orows, ocols)
        bad = None
        for i, (a, b) in enumerate(zip(s_n, o_n)):
            if a != b:
                # tolerate tiny float diffs for reporting clarity
                exact_mismatch = []
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        exact_mismatch.append((cols_sorted[j], x, y))
                bad = (i, exact_mismatch)
                break
        if bad is None:
            print(f"PASS {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            i, diffs = bad
            print(f"FAIL {name}: first diff at sorted row {i}: {diffs[:4]}")
            n_fail += 1

    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
