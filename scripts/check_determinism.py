"""Run every ``queries()`` entry TWICE on the same session and
compare the order-insensitive value hashes. The driver's correctness
gate hashes exact values, so any run-to-run nondeterminism — window
ties without a total order, rand() anywhere, non-deterministic ids,
iteration-order-dependent floats — shows up as an intermittent red
row even when the oracle logic is right. This catches it locally.

Usage: python scripts/check_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# executor Python workers unpickle the package's UDFs (multimodal
# decode) — they need the repo root too, regardless of caller cwd
os.environ["PYTHONPATH"] = _ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

import __spark_entry__ as entrymod
from linz_bde_uploader_spark.session import get_spark

import check_oracle  # noqa: E402 (sibling import for table_hash)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)]
    check_oracle.EXACT = True  # full precision: that's what the driver sees

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("determinism-check")
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        hashes = []
        for _ in range(2):
            df = fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            hashes.append(check_oracle.table_hash(rows, df.columns))
            from linz_bde_uploader_spark.cache import release_caches
            release_caches()  # double-runs must not accumulate persists
        if hashes[0] != hashes[1]:
            failures.append(name)
            print(f"FLAKY {name}: value hash differs between runs")
        else:
            print(f"OK    {name}")
    print()
    if failures:
        print(f"{len(failures)} NONDETERMINISTIC: {failures}")
        sys.exit(1)
    print("all queries deterministic")


if __name__ == "__main__":
    main()
