"""Per-query profiling harness for the optimization rounds: wall
time (warm min over reps, the bench's methodology), Spark job count,
stage count, and task count per declared query — the level the bench
does not record. Jobs/stages are read from the status tracker via
job-group scoping, so concurrent noise doesn't pollute the counts.

Usage:
    python scripts/profile_queries.py [query ...] [--reps N] [--sf DIR]

Writes /tmp/profile_queries.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linz_bde_uploader_spark.cache import release_caches
from linz_bde_uploader_spark.plans.analytics_suite import ANALYTICS_QUERIES
from linz_bde_uploader_spark.plans.engine_suite import ENGINE_QUERIES
from linz_bde_uploader_spark.plans.pipeline_suite import PIPELINE_QUERIES
from linz_bde_uploader_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    sc = spark.sparkContext
    allq = {**ENGINE_QUERIES, **PIPELINE_QUERIES, **ANALYTICS_QUERIES}
    names = args or list(allq)
    # warm the JVM once
    allq["cdc_stats"][0](spark, sf_dir).collect()

    out = {}
    for name in names:
        fn = allq[name][0]
        best = None
        jobs = stages = tasks = 0
        for rep in range(reps):
            group = f"prof_{name}_{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            if best is None or dt < best:
                best = dt
                tracker = sc.statusTracker()
                jids = tracker.getJobIdsForGroup(group)
                jobs = len(jids)
                stages = tasks = 0
                for j in jids:
                    ji = tracker.getJobInfo(j)
                    if ji is None:
                        continue
                    for sid in ji.stageIds:
                        si = tracker.getStageInfo(sid)
                        if si is not None and si.numTasks > 0 \
                                and si.numCompletedTasks > 0:
                            stages += 1
                            tasks += si.numCompletedTasks
            release_caches()
        out[name] = {"sec": round(best, 3), "jobs": jobs,
                     "stages": stages, "tasks": tasks}
        print(f"# {name}: {best:.3f}s jobs={jobs} stages={stages} "
              f"tasks={tasks}", file=sys.stderr)

    with open("/tmp/profile_queries.json", "w") as f:
        json.dump(out, f, indent=1)
    for name, s in sorted(out.items(), key=lambda kv: -kv[1]["sec"]):
        print(f"{s['sec']:8.3f}s  jobs={s['jobs']:<3d} "
              f"stages={s['stages']:<4d} tasks={s['tasks']:<6d} {name}")


if __name__ == "__main__":
    main()
