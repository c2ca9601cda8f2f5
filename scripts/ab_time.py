"""Tight per-query A/B timer for optimization rounds: warm-min over
N reps (the bench's adjudication statistic) with a /proc/stat steal
bracket per query, so a theft-inflated reading is visibly flagged
instead of silently adopted.

Usage: python scripts/ab_time.py <query> [query ...] [--reps=5]
Prints one JSON line per query: {"name":..., "best":..., "reps":[...],
"steal_pct":...}
"""

from __future__ import annotations

import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import bench  # steal counter helpers
from linz_bde_uploader_spark.cache import release_caches
from linz_bde_uploader_spark.plans.analytics_suite import ANALYTICS_QUERIES
from linz_bde_uploader_spark.plans.engine_suite import ENGINE_QUERIES
from linz_bde_uploader_spark.plans.pipeline_suite import PIPELINE_QUERIES
from linz_bde_uploader_spark.session import get_spark


def main() -> None:
    reps = 5
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab")
    allq = {**ENGINE_QUERIES, **PIPELINE_QUERIES, **ANALYTICS_QUERIES}
    allq["cdc_stats"][0](spark, sf_dir).collect()  # JVM warm
    for name in names:
        fn = allq[name][0]
        times = []
        s0 = bench._steal_counters()
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            times.append(round(time.perf_counter() - t0, 3))
            release_caches()
        steal = bench._steal_delta(s0, bench._steal_counters())
        print(json.dumps({"name": name, "best": min(times[1:] or times),
                          "reps": times, "steal_pct": steal}))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
