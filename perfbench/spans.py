"""In-memory span tracing for the upload benchmark.

Spans are recorded from the benchmark's side: ``Tracer.install`` wraps
the public functions of each package layer (the names the driver calls
them by) and every call becomes a span with a name, start, end, parent
and run id. Nothing inside the package changes; ``uninstall`` puts the
originals back.

A span's self time is its wall minus the part of its interval covered
by child spans. Spark jobs are attributed to the innermost span whose
interval holds the job's submission time; a span's ``outside_jobs_s``
is the part of its self time that no attributed job's interval covers.
The root span of each timed upload job is named ``upload``; its self
time is the unattributed line of the layer table, so the table's self
times add up to the traced wall.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import time
from dataclasses import dataclass, field

ROOT = "upload"
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class JobRec:
    """One Spark job with the totals of its stages."""

    id: int
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    span: int | None = None


# ---------------------------------------------------- interval algebra

def union(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of (start, end) intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def subtract(base: tuple[float, float], holes) -> list[tuple[float, float]]:
    """Parts of interval ``base`` not covered by ``holes``."""
    s0, e0 = base
    out, cur = [], s0
    for s, e in union(holes):
        s, e = max(s, s0), min(e, e0)
        if e <= s:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < e0:
        out.append((cur, e0))
    return out


def intersect_length(a, b) -> float:
    """Total length of the intersection of two interval sets."""
    a, b = union(a), union(b)
    i = j = 0
    total = 0.0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if e > s:
            total += e - s
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return total


# ------------------------------------------------------------ tracing

class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.jobs: list[JobRec] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.run = 0

    # spans
    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, parent, self.run, time.time(),
                    attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")

    def call(self, name: str, fn, args, kwargs, attrs=None):
        # a layer calling itself (Ledger methods call Ledger.table)
        # stays one span
        if self._stack and self._stack[-1].name == name:
            return fn(*args, **kwargs)
        span = self.begin(name, **(attrs or {}))
        try:
            result = fn(*args, **kwargs)
            span.attrs["result"] = result if isinstance(
                result, (int, str)) else None
            return result
        finally:
            self.end(span)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it as a span.
        ``attrs_of(args, kwargs)`` may name span attributes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else None
            return tracer.call(name, original, args, kwargs, attrs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def install(self) -> None:
        """Wrap each package layer's public functions under the
        package's module names."""
        from linz_bde_uploader_spark import driver
        from linz_bde_uploader_spark.control.ledger import Ledger
        from linz_bde_uploader_spark.operators import merge
        from linz_bde_uploader_spark.sources.repository import (
            BdeRepository, Dataset,
        )
        from linz_bde_uploader_spark.sources.store import TableStore

        def table_arg(args, kwargs):
            return {"table": args[1] if len(args) > 1 else kwargs.get("table")}

        def path_arg(args, kwargs):
            return {"path": args[1] if len(args) > 1 else kwargs.get("path")}

        U = driver.BdeUploader
        self.wrap(U, "apply_updates", ROOT)
        for m in ("upload_table_level0", "upload_table_level5"):
            self.wrap(U, m, "driver",
                      lambda a, k: {"table": a[3].name if len(a) > 3
                                    else k["table"].name})
        for m in ("datasets", "select", "latest"):
            self.wrap(BdeRepository, m, "repository")
        for m in ("files", "missing_files", "has_files"):
            self.wrap(Dataset, m, "repository")
        self.wrap(driver, "parse_header", "crs.parse_header",
                  lambda a, k: {"path": a[0]})
        self.wrap(driver, "read_crs", "crs.read_crs", path_arg)
        for fn in ("prepare_change_table", "fix_key_swaps",
                   "classify_actions", "apply_actions", "merge_stats",
                   "full_diff"):
            self.wrap(merge, fn, f"merge.{fn}")
        self.wrap(driver, "seed_views", "view_refresh.seed")
        self.wrap(driver, "refresh_views", "view_refresh.refresh")
        self.wrap(TableStore, "write", "store.write", table_arg)
        self.wrap(TableStore, "read", "store.read")
        self.wrap(TableStore, "commit_dataset", "store.commit_dataset")
        for m in ("create_job", "finish_job", "heartbeat", "acquire_lock",
                  "release_lock", "record_dataset_loaded", "table",
                  "any_active"):
            self.wrap(Ledger, m, "ledger")
        self.wrap(driver, "release_caches", "cache.release")

    # spark jobs
    def attribute(self, jobs: list[JobRec]) -> None:
        """Give each job the innermost span of the current run whose
        interval holds its submission time."""
        spans = [s for s in self.spans if s.run == self.run]
        depth = {}
        for s in spans:
            depth[s.id] = depth.get(s.parent, -1) + 1
        for j in jobs:
            best = None
            for s in spans:
                if s.start <= j.start <= s.end and (
                        best is None or depth[s.id] > depth[best.id]):
                    best = s
            j.span = best.id if best else None
        self.jobs.extend(jobs)


def last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None),
               default=-1)


def harvest_jobs(spark, since_id: int) -> tuple[list[JobRec], int]:
    """Jobs with id > ``since_id`` from the driver's AppStatusStore
    (kept with the UI disabled), after the listener bus drains.
    Returns the jobs and the highest job id seen."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out, top = [], since_id
    for jd in conv.asJava(store.jobsList(None)):
        jid = jd.jobId()
        if jid <= since_id or jd.completionTime().isEmpty():
            continue
        top = max(top, jid)
        rec = JobRec(jid, jd.submissionTime().get().getTime() / 1e3,
                     jd.completionTime().get().getTime() / 1e3)
        for sid in conv.asJava(jd.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:   # a skipped stage never ran an attempt
                continue
            rec.stages += 1
            rec.tasks += st.numCompleteTasks()
            rec.task_cpu_s += st.executorCpuTime() / 1e9
            rec.shuffle_write_bytes += st.shuffleWriteBytes()
            rec.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.append(rec)
    return out, top


# ------------------------------------------------------------ analysis

def layer_table(spans: list[Span], jobs: list[JobRec]) -> dict:
    """Per span name: calls, self_s, jobs, task CPU and outside-jobs
    time. The root spans' self time is reported as ``unattributed``;
    the self times of all rows add up to the traced wall."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    by_span: dict[int | None, list[JobRec]] = {}
    for j in jobs:
        by_span.setdefault(j.span, []).append(j)
    rows: dict[str, dict] = {}
    for s in spans:
        name = UNATTRIBUTED if s.name == ROOT else s.name
        own = subtract((s.start, s.end),
                       [(c.start, c.end) for c in kids.get(s.id, [])])
        mine = by_span.get(s.id, [])
        r = rows.setdefault(name, {"calls": 0, "self_s": 0.0, "jobs": 0,
                                   "task_cpu_s": 0.0, "outside_jobs_s": 0.0})
        r["calls"] += 1
        self_s = length(own)
        r["self_s"] += self_s
        r["jobs"] += len(mine)
        r["task_cpu_s"] += sum(j.task_cpu_s for j in mine)
        r["outside_jobs_s"] += self_s - intersect_length(
            own, [(j.start, j.end) for j in mine])
    return rows


def wall(spans: list[Span]) -> float:
    return sum(s.end - s.start for s in spans if s.name == ROOT)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def quartile_spread(values) -> float:
    """Distance between the first and third quartile as a share of
    the median (statistics.quantiles' default method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
