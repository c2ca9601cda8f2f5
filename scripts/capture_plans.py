"""Capture .explain('formatted') output for declared queries into
plans/<tag>/<query>_<suffix>.txt (guide §1: plan evidence for every
query touched in an optimization round).

Queries that execute eagerly inside their builder (collect-and-
recreate entries: docs_dedup_ingest, sim_ivf_index_query,
text_bpe_merges, ...) return a tiny createDataFrame whose plan is a
LocalTableScan — for those the interesting plans are internal, and
the round doc points at the operator-level evidence instead.

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
e.g.   python scripts/capture_plans.py r19 before dedup_clusters
With no query list, captures every declared query.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from linz_bde_uploader_spark.cache import release_caches
from linz_bde_uploader_spark.plans.analytics_suite import ANALYTICS_QUERIES
from linz_bde_uploader_spark.plans.engine_suite import ENGINE_QUERIES
from linz_bde_uploader_spark.plans.pipeline_suite import PIPELINE_QUERIES
from linz_bde_uploader_spark.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans")
    allq = {**ENGINE_QUERIES, **PIPELINE_QUERIES, **ANALYTICS_QUERIES}
    for name in (names or list(allq)):
        fn = allq[name][0]
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            text = f"ERROR capturing plan: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"# {name}: {len(text)} bytes", file=sys.stderr)
        release_caches()


if __name__ == "__main__":
    main()
