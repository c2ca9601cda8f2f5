"""Run the benchmark once per seed and report each metric's median and
quartile spread (the distance between the first and third quartile as
a share of the median), the steadiness measure the bounds in
BENCHMARK.json are set against.

    python3 perfbench/spread.py --workload cdc_many_small --seeds 1-10 [--trace 0]

Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    p.add_argument("--trace", default="0")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    ok = True
    start = time.perf_counter()
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", args.trace], capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        ok &= proc.returncode == 0 and result.get("correct", False)
        print(f"seed {seed}: exit {proc.returncode}, "
              f"{time.perf_counter() - t0:.1f} s, "
              f"correct {result.get('correct')}", flush=True)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    print(f"{len(args.seeds)} runs in {time.perf_counter() - start:.0f} s")
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = (spans.quartile_spread(vals)
                  if len(vals) > 1 and med else float("nan"))
        bound = bounds.get(name)
        flag = "" if bound is None or spread < bound / 3 else \
            "  above a third of the bound"
        print(f"{name:40s} median {med:14.6g}  spread {spread:7.4f}"
              f"  bound {bound}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
