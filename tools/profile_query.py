"""Per-query profiler for optimization work (guide §1).

Usage: python tools/profile_query.py [sf_dir] q1 [q2 ...] [--plans DIR] [--cprofile]

For each named query, in the bench session (``bench.session``): measures
build time (best-of-2) and the persists its construction makes, noop-sink
reps (best-of-4 through ``bench.rep``, so a query whose construction
persists is rebuilt on every rep), and attributes the best rep's time
across its Spark stages via the session's own UI REST API: stage name,
executorRunTime, shuffle bytes and the task-duration min/median/max (a
max/median above ~5-10x on a multi-task stage is the guide §2.5 salting
bar).

``--plans DIR`` writes the formatted physical plan to ``DIR/<q>.txt``;
for an A/B, run each checkout's own copy of this tool into its own DIR.
``--cprofile`` prints a cProfile of one build (top 25 by cumulative time).
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
    args = list(sys.argv[1:])
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    do_cprofile = "--cprofile" in args
    if do_cprofile:
        args.remove("--cprofile")
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args

    import __spark_entry__ as entrymod
    from bench import build, rep, session
    from perfbench.common import FreshPlanGuard

    qs = entrymod.queries()
    spark = session(
        "profile", sf_dir, [qs[nm] for nm in names],
        # the profiler needs the UI REST API for stage attribution
        extra_conf={"spark.ui.enabled": "true"},
    )
    ui = spark.sparkContext.uiWebUrl
    app = rest(ui, "applications")[0]["id"]

    def job_ids() -> set:
        return {j["jobId"] for j in rest(ui, f"applications/{app}/jobs")}

    for nm in names:
        fn = qs[nm]
        if do_cprofile:
            import cProfile
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            fn(spark, sf_dir)
            pr.disable()
            pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        b1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        df, persisted = build(fn, spark, sf_dir)
        build_s = min(b1, time.perf_counter() - t0)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{nm}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        guard = FreshPlanGuard()
        best, best_jobs = float("inf"), set()
        for _ in range(4):
            before = job_ids()
            el, _ = rep(fn, spark, sf_dir, df, persisted, guard)
            if el < best:
                best, best_jobs = el, job_ids() - before
        jobs = [
            j for j in rest(ui, f"applications/{app}/jobs")
            if j["jobId"] in best_jobs
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        print(f"== {nm}: build={build_s:.3f}s persists={persisted} "
              f"best_rep={best:.3f}s jobs_in_rep={len(jobs)} "
              f"stages={len(stage_ids)}")
        rows = []
        for sid in stage_ids:
            st = rest(ui, f"applications/{app}/stages/{sid}")[0]
            if st["status"] != "COMPLETE":
                continue  # skipped stage: its shuffle output was reused
            dur = rest(
                ui,
                f"applications/{app}/stages/{sid}/{st['attemptId']}/"
                "taskSummary?quantiles=0.0,0.5,1.0",
            )["executorRunTime"]
            rows.append((st["executorRunTime"], sid, st, dur))
        for run, sid, st, (dmn, dmd, dmx) in sorted(rows, reverse=True)[:14]:
            ratio = dmx / dmd if dmd > 0 else float("inf")
            print(f"   stage {sid:>5} run={run / 1000:7.3f}s "
                  f"tasks={st['numCompleteTasks']:>3} "
                  f"task min/med/max={dmn / 1e3:5.2f}/{dmd / 1e3:5.2f}/"
                  f"{dmx / 1e3:5.2f}s (max/med={ratio:4.1f}) "
                  f"shW={st.get('shuffleWriteBytes', 0) >> 10:>7}K "
                  f"shR={st.get('shuffleReadBytes', 0) >> 10:>7}K  "
                  f"{st['name'].split(chr(10))[0][:60]}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
