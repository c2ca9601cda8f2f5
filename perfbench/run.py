"""Product-path upload benchmark.

Drives generated BDE repositories through ``BdeUploader.apply_updates``
configured as ``cli.py`` configures a conf-driven run (dataset
transaction, default TableStore buckets, one table at a time) on Spark
``local[nproc]``. One process, one client, closed loop: each upload job
starts after the previous one ends, as the ledger's single-job gate
requires.

    python3 perfbench/run.py --workload cdc_many_small --seed 1 --seconds 15 --trace 0

Run it from the repository root. A run generates its inputs from the
seed, starts Spark, runs the workload's set-up job and snapshots the
store and ledger, SETUP_REPS times. A round restores the snapshot,
clears Spark's cache and runs the round's upload jobs. The first round
warms the process up; set-up time is the session start, the median
set-up pass and that round. Timed rounds then repeat until
``--seconds`` have passed and at least MIN_ROUNDS have run,
checking every load's statistics against the pure-Python model in
``gen.py``; after the last round it also checks the final contents.
``--trace 1`` alternates untraced and traced rounds, starting and
ending untraced, and then times the isolated cleanse and merge probes.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The process exits 1 when any
load fails or any output differs from the model, and 2 when the
package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen     # noqa: E402
import spans   # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OK_STATUS = ("loaded", "warning")
PROBE_REPS = 3
SETUP_REPS = 3
MIN_ROUNDS = 3       # a run measures at least this many untraced rounds


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Bench:
    """One benchmark process: a Spark session, a workload and its
    checked upload jobs."""

    def __init__(self, spark, wl: gen.Workload, work: str):
        from linz_bde_uploader_spark.config import load_conf

        self.spark = spark
        self.wl = wl
        self.store = os.path.join(work, "store")
        self.control = os.path.join(work, "control")
        self.snap = os.path.join(work, "snapshot")
        self.conf = load_conf(gen.UPLOAD_CONF)
        with open(wl.tables_conf) as fh:
            self.tables_text = fh.read()
        # table loads as (round, table, dataset); round 0 is the set-up
        self.round_no = 0
        self.attempted: set = set()
        self.failed: set = set()
        self.errors: list[str] = []

    def uploader(self):
        """A BdeUploader set up the way cli.py sets up a conf-driven
        run."""
        from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
        from linz_bde_uploader_spark.config import upload_config_from_conf
        from linz_bde_uploader_spark.control.ledger import Ledger
        from linz_bde_uploader_spark.driver import BdeUploader
        from linz_bde_uploader_spark.sources.repository import BdeRepository
        from linz_bde_uploader_spark.sources.store import TableStore

        cfg = upload_config_from_conf(self.conf)
        cfg.override_locks = False
        cfg.parallel_tables = 1
        return BdeUploader(self.spark, BdeRepository(self.wl.repo),
                           TableStore(self.store), Ledger(self.control),
                           parse_tables_conf(self.tables_text), cfg)

    # ------------------------------------------------------------ jobs
    def run_job(self, job: gen.Job) -> dict:
        """Run one upload job and check every load it made. Returns
        its wall time, ledger durations and store growth."""
        from linz_bde_uploader_spark.control.ledger import Ledger

        n_stats = len(Ledger(self.control).stats_rows())
        before = du(self.store)[0]
        t0 = time.perf_counter()
        try:
            results = self.uploader().apply_updates(**job.kwargs)
        except Exception as e:   # a raising job fails every planned load
            results = None
            self.errors.append(f"{job.kwargs}: {type(e).__name__}: {e}"[:500])
        wall = time.perf_counter() - t0
        rows = Ledger(self.control).stats_rows()[n_stats:]
        got = {(r.table, r.dataset): r for r in results or []}
        ledger = {(s["table_name"], s["dataset"]): s for s in rows}
        for key in set(job.stats) | set(got):
            r, s, want = got.get(key), ledger.get(key), job.stats.get(key)
            self.attempted.add((self.round_no, *key))
            if (r is None or r.status not in OK_STATUS or s is None
                    or (s["ninsert"], s["nupdate"], s["nnullupdate"],
                        s["ndelete"]) != want):
                self.failed.add((self.round_no, *key))
                self.errors.append(
                    f"load {key}: status={getattr(r, 'status', None)} "
                    f"message={getattr(r, 'message', '')!r} "
                    f"ledger={s} expected={want}"[:500])
        if results is None:
            return {"wall": wall, "durations": {}, "bytes": 0}
        return {"wall": wall,
                "durations": {f"{s['table_name']}@{s['dataset']}":
                              s["duration"] for s in rows},
                "bytes": du(self.store)[0] - before}

    def check_contents(self, expected: dict, jobs) -> None:
        """Compare the digest of every base table and view with the
        model; a mismatch fails each of the base table's loads in
        ``jobs`` (the current round's)."""
        from pyspark.sql import functions as F

        from linz_bde_uploader_spark.sources.store import TableStore

        store = TableStore(self.store)
        for name, want in expected.items():
            try:
                df = store.read(self.spark, name)
                text = F.concat_ws("\x1f", *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
                    for c in sorted(df.columns)])
                h = F.conv(F.substring(F.md5(text), 1, 15), 16, 10) \
                    .cast("decimal(38,0)")
                r = df.agg(F.count(F.lit(1)).alias("n"),
                           F.sum(h).alias("s")).first()
                got = (r["n"], int(r["s"] or 0))
            except Exception as e:
                got = repr(e)[:200]
            if got != want:
                base = name.split("__")[0]
                self.failed.update((self.round_no, t, d) for j in jobs
                                   for (t, d) in j.stats if t == base)
                self.errors.append(f"contents of {name}: got {got}, "
                                   f"expected {want}")

    # ---------------------------------------------------------- rounds
    def reset(self, snapshot: bool) -> None:
        from linz_bde_uploader_spark.operators.dedup import release_caches

        for d in (self.store, self.control):
            shutil.rmtree(d, ignore_errors=True)
        if snapshot:
            shutil.copytree(os.path.join(self.snap, "store"), self.store)
            shutil.copytree(os.path.join(self.snap, "control"), self.control)
        release_caches()
        self.spark.catalog.clearCache()

    def set_up(self) -> float:
        """Untimed set-up of the workload: the set-up job, if any, into an
        empty store and ledger, then the snapshot every round restores.
        Runs SETUP_REPS times and returns the median wall time of a
        pass; the contents are checked after the last."""
        walls = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.reset(snapshot=False)
            if self.wl.setup is not None:
                self.run_job(self.wl.setup)
            shutil.rmtree(self.snap, ignore_errors=True)
            os.makedirs(self.store, exist_ok=True)
            os.makedirs(self.control, exist_ok=True)
            shutil.copytree(self.store, os.path.join(self.snap, "store"))
            shutil.copytree(self.control, os.path.join(self.snap, "control"))
            walls.append(time.perf_counter() - t0)
        if self.wl.setup is not None:
            self.check_contents(self.wl.setup_final, [self.wl.setup])
        return spans.median(walls)

    def round(self, tracer: spans.Tracer | None = None) -> dict:
        self.reset(snapshot=True)
        self.round_no += 1
        since = 0
        if tracer is not None:
            since = spans.last_job_id(self.spark)
            tracer.run += 1
            tracer.install()
        out = []
        try:
            for job in self.wl.jobs:
                out.append(self.run_job(job))
                if tracer is not None:
                    jobs, since = spans.harvest_jobs(self.spark, since)
                    tracer.attribute(jobs)
        finally:
            if tracer is not None:
                tracer.uninstall()
        rec = {"upload_s": sum(o["wall"] for o in out),
               "walls": [o["wall"] for o in out],
               "durations": {k: d for o in out
                             for k, d in o["durations"].items()},
               "bytes": sum(o["bytes"] for o in out)}
        if tracer is not None:
            rec["layers"] = self.layer_record(tracer)
        return rec

    # --------------------------------------------------------- tracing
    def layer_record(self, tracer: spans.Tracer) -> dict:
        """Per-layer numbers of the tracer's current round, taken
        before the next restore removes its store versions."""
        import pyarrow.parquet as pq

        run = [s for s in tracer.spans if s.run == tracer.run]
        ids = {s.id for s in run}
        jobs = [j for j in tracer.jobs if j.span in ids]
        table = spans.layer_table(run, jobs)
        by_id = {s.id: s for s in run}

        def under(s, prefix):
            while s.parent is not None:
                s = by_id[s.parent]
                if s.name.startswith(prefix):
                    return True
            return False

        written_bytes = written_files = written_rows = 0
        view_writes = 0
        for s in run:
            if s.name != "store.write" or s.attrs.get("result") is None:
                continue
            vdir = os.path.join(self.store, s.attrs["table"],
                                f"v={s.attrs['result']}")
            b, f = du(vdir)
            written_bytes += b
            written_files += f
            written_rows += sum(
                pq.ParquetFile(os.path.join(vdir, n)).metadata.num_rows
                for n in os.listdir(vdir) if n.endswith(".parquet"))
            view_writes += under(s, "view_refresh")
        crs_paths = [s.attrs["path"] for s in run if s.name == "crs.read_crs"]
        roots = [(s.start, s.end) for s in run if s.name == spans.ROOT]
        changed = sum(c.get(a, 0) for j in self.wl.jobs
                      for c in j.actions.values() for a in "IUDX")
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return {
            "table": table,
            "wall": spans.wall(run),
            "crs_rows": sum(self.wl.input_files.get(p, 0) for p in crs_paths),
            "crs_bytes": sum(os.path.getsize(p) for p in crs_paths),
            "store_bytes": written_bytes, "store_files": written_files,
            "store_rows": written_rows, "rows_changed": changed,
            "view_writes": view_writes,
            "ledger_bytes": os.path.getsize(
                os.path.join(self.control, "ledger.json")),
            "cache_left": cm.numCachedEntries(),
            "spark": {
                "jobs": len(jobs),
                "stages": sum(j.stages for j in jobs),
                "tasks": sum(j.tasks for j in jobs),
                "task_cpu_s": sum(j.task_cpu_s for j in jobs),
                "shuffle_write_bytes": sum(j.shuffle_write_bytes
                                           for j in jobs),
                "spill_bytes": sum(j.spill_bytes for j in jobs),
                "outside_jobs_s": spans.wall(run) - spans.intersect_length(
                    roots, [(j.start, j.end) for j in jobs]),
            },
        }

    def probes(self) -> dict:
        """Isolated cleanse and merge timings on the workload's own
        inputs, each materialized with a noop write: the read+cleanse
        of the changed file, and the classify and full-diff plans over
        cached before/after frames."""
        from linz_bde_uploader_spark.operators import merge as M
        from linz_bde_uploader_spark.sources.crs import parse_header, read_crs

        cleanse = self.uploader().config.cleanse
        since = spans.last_job_id(self.spark)

        def timed(make):
            nonlocal since
            walls, cpus = [], []
            for _ in range(PROBE_REPS):
                t0 = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                jobs, since = spans.harvest_jobs(self.spark, since)
                cpus.append(sum(j.task_cpu_s for j in jobs))
            return spans.median(walls), spans.median(cpus)

        def read(path):
            return read_crs(self.spark, path, header=parse_header(path),
                            cleanse=cleanse)

        spec, before, after, named = self.wl.probe
        out = dict(zip(("materialize_s", "materialize_cpu_s"),
                       timed(lambda: read(after))))
        cur, stg = read(before).cache(), read(after).cache()
        try:
            cur.count()
            stg.count()
            chg = self.spark.createDataFrame([(k,) for k in named],
                                             "key long")
            out["classify_s"] = timed(lambda: M.classify_actions(
                cur, stg, M.fix_key_swaps(stg, cur, chg, spec.key,
                                          spec.unique),
                spec.key, cur.columns, unique_cols=spec.unique))[0]
            out["full_diff_s"] = timed(lambda: M.full_diff(
                cur, stg, spec.key, cur.columns))[0]
        finally:
            cur.unpersist()
            stg.unpersist()
        return out


# ------------------------------------------------------------ metrics

def e2e_metrics(rounds: list[dict], wl: gen.Workload, setup_s: float,
                attempted: int, failed: int) -> dict:
    """End-to-end metrics of the timed rounds. A time is the fastest
    round's, and a table load's duration its fastest over the rounds:
    every round repeats the same work from the same snapshot, round
    times still fall over the first rounds after the warm-up, and other
    tenants of a shared host only ever add time."""
    rows = sum(j.input_rows for j in wl.jobs)
    in_bytes = sum(j.input_bytes for j in wl.jobs)
    upload_s = min(r["upload_s"] for r in rounds)
    loads: dict[str, float] = {}
    for r in rounds:
        for k, d in r["durations"].items():
            loads[k] = min(d, loads.get(k, d))
    return {
        "upload_s": (upload_s, "s"),
        "rows_per_s": (rows / upload_s, "rows/s"),
        "table_p50_s": (spans.median(loads.values()), "s"),
        "store_bytes_per_input_byte": (
            spans.median(r["bytes"] / in_bytes for r in rounds), "ratio"),
        "loads_ok_frac": (1 - failed / attempted if attempted else 0.0,
                          "ratio"),
        "setup_s": (setup_s, "s"),
    }


LAYER_CALLS = [
    "upload", "driver", "repository", "crs.parse_header", "crs.read_crs",
    "merge.prepare_change_table", "merge.fix_key_swaps",
    "merge.classify_actions", "merge.apply_actions", "merge.merge_stats",
    "merge.full_diff", "view_refresh.seed", "view_refresh.refresh",
    "store.write", "store.read", "store.commit_dataset", "ledger",
    "cache.release",
]


def layer_metrics(traced: list[dict], untraced: list[dict], probe: dict,
                  wl: gen.Workload) -> dict:
    """Per-layer metrics: the median over traced rounds of each
    round's value."""

    def med(fn):
        return spans.median(fn(r["layers"]) for r in traced)

    def val(name, key):
        return med(lambda L: L["table"].get(name, {}).get(key, 0))

    compared = sum(j.compared for j in wl.jobs)
    useful = sum(c.get(a, 0) for j in wl.jobs if j.compared
                 for c in j.actions.values() for a in "IUDX")
    m = {
        "driver.self_s": (val("driver", "self_s"), "s"),
        "driver.jobs_per_table": (
            med(lambda L: L["table"].get("driver", {}).get("jobs", 0)
                / max(1, L["table"].get("driver", {}).get("calls", 0))),
            "count"),
        "driver.outside_jobs_s": (val("driver", "outside_jobs_s"), "s"),
        "repository.self_s": (val("repository", "self_s"), "s"),
        "crs.parse_header.self_s": (val("crs.parse_header", "self_s"), "s"),
        "crs.read_crs.self_s": (val("crs.read_crs", "self_s"), "s"),
        "crs.read_crs.jobs": (val("crs.read_crs", "jobs"), "count"),
        "crs.rows_read": (med(lambda L: L["crs_rows"]), "rows"),
        "crs.bytes_read": (med(lambda L: L["crs_bytes"]), "bytes"),
        "crs.materialize_s": (probe["materialize_s"], "s"),
        "crs.materialize_task_cpu_s": (probe["materialize_cpu_s"], "s"),
        "merge.merge_stats.self_s": (val("merge.merge_stats", "self_s"), "s"),
        "merge.merge_stats.jobs": (val("merge.merge_stats", "jobs"), "count"),
        "merge.classify_s": (probe["classify_s"], "s"),
        "merge.full_diff_s": (probe["full_diff_s"], "s"),
        "merge.useful_ratio": (useful / compared if compared else 0.0,
                               "ratio"),
        "view_refresh.seed.self_s": (val("view_refresh.seed", "self_s"), "s"),
        "view_refresh.refresh.self_s": (
            val("view_refresh.refresh", "self_s"), "s"),
        "view_refresh.jobs": (val("view_refresh.seed", "jobs")
                              + val("view_refresh.refresh", "jobs"), "count"),
        "view_refresh.view_writes": (med(lambda L: L["view_writes"]),
                                     "count"),
        "store.write.self_s": (val("store.write", "self_s"), "s"),
        "store.write.jobs": (val("store.write", "jobs"), "count"),
        "store.write.task_cpu_s": (val("store.write", "task_cpu_s"), "s"),
        "store.read.self_s": (val("store.read", "self_s"), "s"),
        "store.commit_dataset.self_s": (
            val("store.commit_dataset", "self_s"), "s"),
        "store.bytes_written": (med(lambda L: L["store_bytes"]), "bytes"),
        "store.files_written": (med(lambda L: L["store_files"]), "count"),
        "store.rows_written_per_row_changed": (
            med(lambda L: L["store_rows"] / max(1, L["rows_changed"])),
            "ratio"),
        "ledger.self_s": (val("ledger", "self_s"), "s"),
        "ledger.bytes": (med(lambda L: L["ledger_bytes"]), "bytes"),
        "cache.release.self_s": (val("cache.release", "self_s"), "s"),
        "cache.left_after_run": (med(lambda L: L["cache_left"]), "count"),
        "unattributed.self_s": (val(spans.UNATTRIBUTED, "self_s"), "s"),
        "tracing.overhead_s": (
            min(r["upload_s"] for r in traced)
            - min(r["upload_s"] for r in untraced), "s"),
    }
    for k, unit in (("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("task_cpu_s", "s"),
                    ("shuffle_write_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("outside_jobs_s", "s")):
        m[f"spark.{k}"] = (med(lambda L: L["spark"][k]), unit)
    for name in LAYER_CALLS:
        key = spans.UNATTRIBUTED if name == spans.ROOT else name
        m[f"{name}.calls"] = (val(key, "calls"), "count")
    return m


# --------------------------------------------------------------- main

def provenance(spark, cleanse, seed: int, steal) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from etl_scale_soak import cleanse_path_taken

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "steal_pct": steal,
        "cleanse_rules": len(cleanse.char_map),
        "cleanse_path": cleanse_path_taken(spark, cleanse),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM it launched, then wait until the
    JVM and every process under it (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = []
    if proc is not None:
        kids, todo = _children(), [proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo += kids.get(pid, [])
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()          # the gateway JVM exits at end of input
    proc.wait(timeout)
    deadline = time.monotonic() + timeout
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench
        from linz_bde_uploader_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", nproc)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # keep every file the run writes inside the checkout: Spark's
    # scratch, Python's and the JVM's temporary files, no JVM perf data
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData"]))
    os.chdir(work)   # spark-warehouse and derby files land here
    spark = None
    try:
        steal = bench._steal_probe(0.5)
        wl = gen.build(args.workload, args.seed, os.path.join(work, "repo"))
        phases = {"generated": time.perf_counter() - started}

        # set-up time: what a process pays before its uploads run warm:
        # the session start, the median set-up pass and one warm-up
        # round. A first round after a small warm-up still ran ~30%
        # slower than later ones (the JIT warms on data volume), so the
        # warm-up is the workload's own first round
        t0 = time.perf_counter()
        spark = get_spark("linz-bde-uploader")
        session_s = time.perf_counter() - t0
        b = Bench(spark, wl, os.path.join(work, "run"))
        prep_s = b.set_up()
        warmup_s = b.round()["upload_s"]
        setup_s = session_s + prep_s + warmup_s
        info = provenance(spark, b.uploader().config.cleanse, args.seed,
                          steal)
        info.update(session_s=session_s, prep_s=prep_s, warmup_s=warmup_s,
                    phases=phases)
        phases["set_up"] = time.perf_counter() - started

        untraced, traced = [], []
        tracer = spans.Tracer() if args.trace else None
        t_end = time.perf_counter() + args.seconds
        while True:
            if tracer is not None and len(untraced) > len(traced):
                traced.append(b.round(tracer))
                continue
            untraced.append(b.round())
            if (time.perf_counter() >= t_end
                    and len(untraced) >= MIN_ROUNDS):
                break
        phases["measured"] = time.perf_counter() - started
        b.check_contents(wl.final, wl.jobs)
        probe = b.probes() if tracer is not None else None
        phases["checked"] = time.perf_counter() - started
        info["jvm_gc_s"] = sum(
            e.totalGCTime() for e in spark._jvm.scala.jdk.javaapi
            .CollectionConverters.asJava(spark.sparkContext._jsc.sc()
                                         .statusStore().executorList(True))
        ) / 1e3
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    phases["stopped"] = time.perf_counter() - started

    if tracer is None:
        metrics = e2e_metrics(untraced, wl, setup_s, len(b.attempted),
                              len(b.failed))
    else:
        metrics = layer_metrics(traced, untraced, probe, wl)
    record = {"workload": args.workload, "trace": args.trace,
              "provenance": info, "errors": b.errors,
              "rounds": [{k: v for k, v in r.items() if k != "layers"}
                         for r in untraced + traced]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if tracer is not None:
        record["layers"] = [r["layers"] for r in traced]
        with open(os.path.join(WORK, "results", stem + ".spans.json"),
                  "w") as fh:
            json.dump({"spans": [vars(s) for s in tracer.spans],
                       "jobs": [vars(j) for j in tracer.jobs]}, fh,
                      default=str)
        print_layer_table(args.workload, traced[-1]["layers"])
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("# provenance " + json.dumps(info))
    for e in b.errors:
        print(f"# error {e}", file=sys.stderr)
    correct = not b.failed
    print(json.dumps({
        "correct": correct, "attempted": len(b.attempted),
        "failed": len(b.failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def print_layer_table(workload: str, layers: dict) -> None:
    """The traced round's layer table on stderr: self times plus the
    unattributed line add up to the traced wall."""
    rows = sorted(layers["table"].items(), key=lambda kv: -kv[1]["self_s"])
    total = sum(r["self_s"] for _, r in rows)
    out = [f"# layer table ({workload}); traced wall {layers['wall']:.3f} s",
           f"# {'layer':<28}{'calls':>6}{'self_s':>9}{'jobs':>6}"
           f"{'task_cpu_s':>11}{'outside_jobs_s':>15}"]
    for name, r in rows:
        out.append(f"# {name:<28}{r['calls']:>6}{r['self_s']:>9.3f}"
                   f"{r['jobs']:>6}{r['task_cpu_s']:>11.3f}"
                   f"{r['outside_jobs_s']:>15.3f}")
    out.append(f"# {'sum of self times':<34}{total:>9.3f}")
    print("\n".join(out), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
