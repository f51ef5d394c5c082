"""A/B solo timer + plan dumper for optimization evidence.

Usage: python tools/ab_solo.py <repo_root> <suffix> q1 [q2 ...]

Runs each query from the entry module under <repo_root> in a
bench-identical session (shuffle=4, AQE off, sf0.001 warmup, base tables
opened), reports build best-of-3 and noop-rep best-of-4 (construction
included in the rep, matching bench.py's REBUILD_EACH_REP treatment for
queries in that set), and writes ``plans/r12/<q>_<suffix>.txt`` under the
CURRENT repo with the formatted physical plan.
"""

from __future__ import annotations

import os
import sys
import time

root = sys.argv[1]
suffix = sys.argv[2]
names = sys.argv[3:]
sys.path.insert(0, root)

import __spark_entry__ as entrymod  # noqa: E402
from bench import REBUILD_EACH_REP as rebuild  # noqa: E402
from obsplus_spark import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(
    "ab_solo",
    shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4")),
    extra_conf={"spark.sql.adaptive.enabled": "false"},
)
qs = entrymod.queries()
warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
if not os.path.isdir(warm_dir):
    warm_dir = "/root/testdata/sf0.001"
for nm in names:
    qs[nm](spark, warm_dir).write.mode("overwrite").format("noop").save()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    entrymod._t(spark, sf_dir, t)

plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "..", "plans",
                         os.environ.get("SPARK_GRAFT_PLANS", "r13"))
os.makedirs(plans_dir, exist_ok=True)

for nm in names:
    fn = qs[nm]
    builds = []
    for _ in range(3):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        builds.append(time.perf_counter() - t0)
    with open(os.path.join(plans_dir, f"{nm}_{suffix}.txt"), "w") as f:
        f.write(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))
    best = float("inf")
    for _ in range(4):
        t0 = time.perf_counter()
        if nm in rebuild:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        else:
            df.write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    print(f"{nm:24s} build={min(builds):6.3f} rep={best:6.3f}")
    sys.stdout.flush()
