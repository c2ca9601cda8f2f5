"""Merge-on-read cost of the table store's delta-segment chains,
against chain length and against segment size.

Chain sweep: one keyed table of ``--rows`` rows takes ``--loads``
consecutive level-5 loads, each changing ``--changed`` of its rows
(mostly updates, some inserts and deletes), with nothing restored
between them, and with the store's fold bound lifted, so the chain
grows by one segment per load. At every chain length ``k`` (segments
on the base) it times, as medians over ``--reps`` repeats of the
sequence:

- ``read_s``: one full read of the current version (every column
  hashed and summed): what the next load, a view refresh and
  ``compact`` pay on top of their own work;
- ``seg_load_s``: the next level-5 load written as a delta segment,
  run the way the driver runs it (read, ``merge_tagged``, observed
  write, verdict);
- ``fold_load_s``: the same load written as a full snapshot instead,
  on a copy of the store: what the load that folds a ``k``-segment
  chain costs.

From those it derives ``amortized_s``: the mean load cost over one
fold cycle when the bound folds the chain once it holds ``k``
segments (``k`` segment loads, then one folding load), against
``fold_load_s`` at ``k = 0``, the cost of every load when each writes
a full snapshot.

Size sweep (``--fractions``): one segment rewriting a fraction ``f``
of the table's keys, its read and next load timed against the same
state as a snapshot.

Usage: python scripts/chain_read_cost.py [--rows N] [--changed F]
           [--loads N] [--reps N] [--fractions F,F,...]
Prints one JSON line per measurement, then a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402

from linz_bde_uploader_spark.operators import merge as M  # noqa: E402
from linz_bde_uploader_spark.session import get_spark  # noqa: E402
from linz_bde_uploader_spark.sources import store as S  # noqa: E402

SCHEMA = "id long, a int, b string, c double, d string"


def _rows(ids, salt):
    return [(i, (i * 7 + salt) % 1000, f"name-{i}-{salt}", i * 0.5 + salt,
             f"{salt}" * 8) for i in ids]


def _base(spark, store, n):
    df = (spark.range(n)
          .select(F.col("id"),
                  (F.col("id") * 7 % 1000).cast("int").alias("a"),
                  F.concat(F.lit("name-"), F.col("id"), F.lit("-0"))
                  .alias("b"),
                  (F.col("id") * 0.5).alias("c"),
                  F.lit("0" * 8).alias("d")))
    store.write("t", df, key="id", rows=n)


def _change(rng, live, next_id, n, salt):
    """A level-5 load: the staged rows and the change keys of ``n``
    changed keys, 80% updates, 10% inserts, 10% deletes."""
    upd = rng.sample(sorted(live), max(1, n * 8 // 10))
    dels = rng.sample(sorted(live - set(upd)), max(1, n // 10))
    ins = list(range(next_id, next_id + max(1, n // 10)))
    return _rows(upd + ins, salt), upd + ins + dels, set(ins), set(dels)


def _load(spark, store, staged, keys, onto):
    """One level-5 load as the driver writes it; returns seconds."""
    t0 = time.perf_counter()
    cur = store.read(spark, "t")
    stg = spark.createDataFrame(staged, SCHEMA)
    chg = spark.createDataFrame([(k,) for k in keys], "key long")
    observed = M.MergeObservation()
    store.write("t", M.merge_tagged(cur, stg, chg, "id"), key="id",
                clustered=observed.apply,
                verdict=lambda new: observed.result()[1], onto=onto)
    return time.perf_counter() - t0


def _read(spark, store):
    t0 = time.perf_counter()
    df = store.read(spark, "t")
    df.select(F.sum(F.xxhash64(*df.columns) % 1000)).collect()
    return time.perf_counter() - t0


def _fold_load(spark, store, root, staged, keys):
    """The load written as a full snapshot, on a copy of the store."""
    copy = os.path.join(root, "fold")
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(store.root, copy)
    return _load(spark, S.TableStore(copy), staged, keys, None)


def chain_sweep(spark, root, rows, changed, loads, rep):
    rng = random.Random(rep)
    store = S.TableStore(os.path.join(root, f"chain{rep}"))
    _base(spark, store, rows)
    live, next_id = set(range(rows)), rows
    out = []
    for k in range(loads + 1):
        assert len(store._chain("t", store.current_version("t"))) == k + 1
        staged, keys, ins, dels = _change(
            rng, live, next_id, max(1, int(rows * changed)), k + 1)
        read_s = _read(spark, store)
        fold_s = _fold_load(spark, store, root, staged, keys)
        seg_s = _load(spark, store, staged, keys,
                      store.current_version("t"))
        out.append({"k": k, "read_s": read_s, "seg_load_s": seg_s,
                    "fold_load_s": fold_s})
        live = (live | ins) - dels
        next_id += len(ins)
    shutil.rmtree(store.root, ignore_errors=True)
    return out


def size_sweep(spark, root, rows, fraction, rep):
    rng = random.Random(1000 + rep)
    store = S.TableStore(os.path.join(root, f"size{rep}"))
    _base(spark, store, rows)
    n = max(1, int(rows * fraction))
    ids = rng.sample(range(rows), n)
    _load(spark, store, _rows(ids, 1), ids, store.current_version("t"))
    assert len(store._chain("t", store.current_version("t"))) == 2
    seg_read = _read(spark, store)
    staged, keys, _i, _d = _change(rng, set(range(rows)), rows,
                                   max(1, rows // 50), 2)
    fold_s = _fold_load(spark, store, root, staged, keys)
    seg_s = _load(spark, store, staged, keys, store.current_version("t"))
    snap = S.TableStore(os.path.join(root, "fold"))  # the folded state
    snap_read = _read(spark, snap)
    shutil.rmtree(store.root, ignore_errors=True)
    return {"read_s": seg_read, "snapshot_read_s": snap_read,
            "seg_load_s": seg_s, "fold_load_s": fold_s}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--changed", type=float, default=0.02)
    ap.add_argument("--loads", type=int, default=12)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--fractions", default="")
    args = ap.parse_args()
    # lift the fold bound: every load lands a segment
    S.MAX_SEGMENTS, S.FOLD_RATIO = sys.maxsize, float("inf")
    spark = get_spark("chain-read-cost")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="chain-cost-")
    try:
        chain_sweep(spark, root, 200, 0.05, 2, -1)  # JVM warm-up
        runs = [chain_sweep(spark, root, args.rows, args.changed,
                            args.loads, rep) for rep in range(args.reps)]
        med = []
        for k in range(args.loads + 1):
            m = {f: statistics.median(r[k][f] for r in runs)
                 for f in ("read_s", "seg_load_s", "fold_load_s")}
            med.append(m)
            print(json.dumps({"sweep": "chain", "rows": args.rows, "k": k,
                              **{f: round(v, 4) for f, v in m.items()}}))
        amortized = {}
        for k in range(1, args.loads + 1):
            cycle = (sum(med[j]["seg_load_s"] for j in range(k))
                     + med[k]["fold_load_s"])
            amortized[k] = cycle / (k + 1)
        best = min(amortized, key=amortized.get) if amortized else None
        for f in [float(x) for x in args.fractions.split(",") if x]:
            runs = [size_sweep(spark, root, args.rows, f, rep)
                    for rep in range(args.reps)]
            print(json.dumps({"sweep": "size", "rows": args.rows,
                              "fraction": f, **{
                                  k: round(statistics.median(
                                      r[k] for r in runs), 4)
                                  for k in runs[0]}}))
        print(json.dumps({
            "summary": True, "rows": args.rows, "changed": args.changed,
            "snapshot_load_s": round(med[0]["fold_load_s"], 4),
            "amortized_s": {k: round(v, 4) for k, v in amortized.items()},
            "best_k": best}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
