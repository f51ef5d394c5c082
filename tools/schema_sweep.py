"""Sweep every declared query's OUTPUT schema for driver-canon hazards.

The driver's correctness harness canonicalizes results with pandas
``sort_values`` over every column; a top-level ARRAY / MAP / STRUCT column
arrives as a Python list/dict and crashes ``factorize`` with
``TypeError: unhashable type`` (observed on ``standardize`` in
CORRECTNESS_r12.json). This sweep builds each query (construction only, no
execution) and reports any query whose output schema contains a non-scalar
top-level column.

Usage: python tools/schema_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as entrymod
    from obsplus_spark import get_spark
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("schema_sweep")
    hazards = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            hazards.append((name, bad))
            print(f"HAZARD {name}: {bad}")
    print(f"\n{len(hazards)} queries with non-scalar output columns")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
