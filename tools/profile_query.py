"""Per-query profiler for optimization work (guide §1).

Usage: python tools/profile_query.py [sf_dir] q1 [q2 ...] [--plans DIR]

For each named query, in a bench-identical session (shuffle=4, AQE off,
warmup at sf0.001, base tables opened): measures build time (best-of-2),
noop-sink reps (best-of-4, honoring bench.py's REBUILD_EACH_REP set), and
attributes the best rep's time across Spark jobs/stages via the live UI
REST API (stage name, wall duration, executorRunTime, shuffle bytes).
Optionally writes ``df.explain('formatted')`` to ``--plans DIR/<q>.txt``.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    import __spark_entry__ as entrymod
    from bench import REBUILD_EACH_REP as rebuild
    from obsplus_spark import get_spark

    spark = get_spark(
        "profile",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "4")),
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            # the profiler needs the UI REST API for stage attribution
            "spark.ui.enabled": "true",
        },
    )
    ui = "http://localhost:4040"
    qs = entrymod.queries()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for nm in names:
        qs[nm](spark, warm_dir).write.mode("overwrite").format("noop").save()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        entrymod._t(spark, sf_dir, t)

    app_id = rest(ui, "applications")[0]["id"]

    for nm in names:
        fn = qs[nm]
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        b1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build = min(b1, time.perf_counter() - t0)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{nm}.txt"), "w") as f:
                f.write(df._sc is None and "" or "")  # noqa - placeholder
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        best, best_jobs = float("inf"), (None, None)
        for _ in range(4):
            jobs_before = len(rest(ui, f"applications/{app_id}/jobs"))
            t0 = time.perf_counter()
            if nm in rebuild:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            else:
                df.write.mode("overwrite").format("noop").save()
            el = time.perf_counter() - t0
            if el < best:
                best = el
                jobs_after = rest(ui, f"applications/{app_id}/jobs")
                best_jobs = (jobs_before, len(jobs_after))
        # stage attribution for jobs run during the best rep window is
        # approximate (job ids are monotonic; we report the LAST rep's
        # jobs if it was best, else totals are still indicative)
        jobs = rest(ui, f"applications/{app_id}/jobs")
        n_new = best_jobs[1] - best_jobs[0] if best_jobs[0] is not None else 0
        recent = jobs[:n_new] if n_new else []
        stage_ids = sorted({s for j in recent for s in j["stageIds"]})
        stages = rest(ui, f"applications/{app_id}/stages?status=complete")
        by_id = {s["stageId"]: s for s in stages}
        print(f"== {nm}: build={build:.3f}s best_rep={best:.3f}s "
              f"jobs_in_rep={n_new} stages={len(stage_ids)}")
        rows = []
        for sid in stage_ids:
            s = by_id.get(sid)
            if not s:
                continue
            dur = s.get("executorRunTime", 0)
            rows.append((dur, sid, s))
        for dur, sid, s in sorted(rows, reverse=True)[:14]:
            nm_s = s["name"].split("\n")[0][:70]
            print(f"   stage {sid:>5} run={dur/1000:7.3f}s "
                  f"tasks={s['numCompleteTasks']:>3} "
                  f"shW={s.get('shuffleWriteBytes',0)>>10:>7}K "
                  f"shR={s.get('shuffleReadBytes',0)>>10:>7}K  {nm_s}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
