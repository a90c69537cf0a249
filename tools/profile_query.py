"""Per-query stage profiler for the optimization rounds.

Runs registered queries at $SPARK_GRAFT_SF_DIR (default sf0.1) with the
Spark UI enabled, then pulls per-stage wall time / shuffle bytes /
task counts from the UI REST API — the guide §1.1 "empirical" loop
without a browser. Each query runs twice: the first run warms codegen
and file listing, the second is the measured one (its job group is the
one reported).

Usage: python tools/profile_query.py <query> [query ...]
       python tools/profile_query.py --jobs <query>   (per-job summary)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]

    # The UI (and its REST API) must be on before the session exists;
    # everything else is the engine's own builder.
    from engine.session import _builder

    spark = (
        _builder("profile")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .config("spark.ui.retainedJobs", "4000")
        .config("spark.ui.retainedStages", "4000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from engine.registry import all_queries_including_library

    specs = all_queries_including_library()
    sc = spark.sparkContext
    ui = None
    try:
        port = sc.uiWebUrl
        ui = port
    except Exception:
        pass
    if not ui:
        print("UI disabled — cannot profile via REST", file=sys.stderr)
        sys.exit(1)
    app_id = sc.applicationId

    for name in names:
        fn = specs[name].fn
        # warm-up
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        sc.setJobGroup(f"prof:{name}", name)
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()

        jobs = _get(f"{ui}/api/v1/applications/{app_id}/jobs")
        mine = [j for j in jobs if j.get("jobGroup") == f"prof:{name}"]
        if "--jobs" in sys.argv:
            import datetime as _dt

            def _p(ts):
                return _dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f")

            tot = 0.0
            print(f"\n== {name}: wall {wall:.3f}s, {len(mine)} jobs")
            for j in sorted(mine, key=lambda j: j["jobId"]):
                d = (_p(j["completionTime"]) - _p(j["submissionTime"])).total_seconds()
                tot += d
                print(
                    f"  job {j['jobId']:>4} {d*1000:8.0f}ms stages={len(j['stageIds'])}"
                    f" tasks={j['numCompletedTasks']:>4} {j.get('description','')[:80]}"
                )
            print(f"  sum-of-job walls: {tot:.3f}s (gaps = driver-side planning)")
        stage_ids = sorted({s for j in mine for s in j["stageIds"]})
        stages = _get(f"{ui}/api/v1/applications/{app_id}/stages")
        by_id = {}
        for s in stages:
            by_id.setdefault(s["stageId"], s)
        rows = []
        for sid in stage_ids:
            s = by_id.get(sid)
            if not s or s["status"] == "SKIPPED":
                continue
            dur = 0.0
            if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
                # executorRunTime is the better signal: sum of task time
                pass
            rows.append(
                (
                    s.get("executorRunTime", 0),
                    sid,
                    s.get("name", "")[:60],
                    s.get("numCompleteTasks", 0),
                    s.get("shuffleReadBytes", 0),
                    s.get("shuffleWriteBytes", 0),
                    s.get("inputBytes", 0),
                )
            )
        rows.sort(reverse=True)
        print(f"\n== {name}: wall {wall:.3f}s, {len(mine)} jobs, {len(rows)} run stages")
        print(f"{'runTimeMs':>10} {'sid':>5} {'tasks':>6} {'shRead':>10} {'shWrite':>10} {'input':>10}  name")
        for rt, sid, nm, nt, sr, sw, ib in rows[:14]:
            print(f"{rt:>10} {sid:>5} {nt:>6} {sr:>10} {sw:>10} {ib:>10}  {nm}")


if __name__ == "__main__":
    main()
