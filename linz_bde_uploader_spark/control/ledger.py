"""Control ledger: job / per-table watermark / stats bookkeeping.

Re-expresses bde_control.upload, upload_table, upload_stats
(sql/01-bde_control_tables.sql:43-217) as small JSON-backed metadata —
exactly the role of a streaming commit log. The data path never touches
these; they are driver-side metadata (tiny), so file-backed JSON with
atomic rename is the Spark-idiomatic equivalent of the reference's
PostgreSQL control schema.

Concurrency (C1-C5): single-writer discipline via an advisory lock
file per table (`upl_id_lock`,
sql/01-bde_control_tables.sql:120-128; claim/steal
sql/02-bde_control_functions.sql.in:539-760), heartbeat + TTL expiry
(lock_expiry_hours, conf/linz_bde_uploader.conf:124).

Writes: every mutating method runs inside ``Ledger.batch()``, which
takes the cross-process flock, reloads the state and saves it once on
exit. ``batch()`` is re-entrant per thread, so calls nested in an
outer ``with ledger.batch():`` share that one flock, reload and save
— the JSON analog of running them in one PostgreSQL transaction
(the reference's dataset transaction, lib/LINZ/BdeDatabase.pm:476-492).
A block that raises saves nothing and drops its in-memory changes.
Each save is durable before it returns: the temp file is fsync'd
before the rename over ``ledger.json`` and the directory after it, so
a power loss leaves the old or the new ledger, never a torn one.
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Job status codes (sql/01-bde_control_tables.sql:63-70)
STATUS_ACTIVE = "A"
STATUS_COMPLETED = "C"
STATUS_ERROR = "E"
STATUS_UNFINISHED = "U"


@dataclass
class UploadJob:
    id: int
    schema_name: str
    status: str = STATUS_ACTIVE
    start_time: float = 0.0
    end_time: float = 0.0
    options: dict = field(default_factory=dict)  # X4 per-job K/V (_options)


@dataclass
class TableState:
    """bde_control.upload_table row (sql/01-bde_control_tables.sql:83-174)."""

    table_name: str
    key_column: str | None = None
    last_upload_dataset: str = ""     # L5 watermark
    last_level0_dataset: str = ""     # L0 watermark
    last_upload_type: str = ""        # '0' or '5'
    last_upload_details: str = ""     # carries file END time for continuity check
    last_upload_time: float = 0.0
    upl_id_lock: int | None = None    # advisory lock owner
    row_tol_error: float | None = None
    row_tol_warning: float | None = None


@dataclass
class UploadStats:
    """bde_control.upload_stats row (sql/01-bde_control_tables.sql:177-217)."""

    upl_id: int
    table_name: str
    dataset: str
    ninsert: int = 0
    nupdate: int = 0
    nnullupdate: int = 0
    ndelete: int = 0
    duration: float = 0.0


class Ledger:
    def __init__(self, root: str, lock_expiry_hours: float = 3.0):
        self.root = root
        self.lock_expiry_hours = lock_expiry_hours
        os.makedirs(root, exist_ok=True)
        self._path = os.path.join(root, "ledger.json")
        self._state = self._load()
        self._local = threading.local()  # per-thread batch depth

    def _load(self) -> dict:
        from linz_bde_uploader_spark.control.migrations import (
            LEDGER_PATCHES, LEDGER_SCHEMA_VERSION, migrate_ledger_state,
        )

        if os.path.exists(self._path):
            with open(self._path) as fh:
                state = json.load(fh)
            # upgrade-on-open (the reference applies sql/99-patches.sql
            # the same way: idempotent, sequential, recorded by name)
            migrate_ledger_state(state)
            return state
        # fresh ledgers are born current: every patch pre-recorded
        return {"jobs": [], "tables": {}, "stats": [], "next_job_id": 1,
                "schema_version": LEDGER_SCHEMA_VERSION,
                "applied_patches": [n for n, _ in LEDGER_PATCHES]}

    def _save(self) -> None:
        tmp = self._path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._state, fh, indent=1, default=str)
            # content durable before the rename, the rename durable
            # before returning (TableStore.write's pointer discipline)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._path)  # atomic commit
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    @contextmanager
    def batch(self):
        """Cross-process read-modify-write: OS file lock + state
        reload, so two concurrent drivers can't both pass the job gate
        or clobber each other's stats (the reference gets this from
        PostgreSQL row locks; a JSON file needs flock). Re-entrant per
        thread: an inner ``batch()`` joins the outer one, and only the
        outermost exit saves. Another thread's batch waits on the
        flock."""
        depth = getattr(self._local, "depth", 0)
        self._local.depth = depth + 1
        try:
            if depth:
                yield
                return
            with open(os.path.join(self.root, ".ledger.lock"), "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                self._state = self._load()
                try:
                    yield
                except BaseException:
                    self._state = self._load()  # drop unsaved changes
                    raise
                self._save()
        finally:
            self._local.depth = depth

    # --- jobs (C1) ---
    def create_job(self, allow_concurrent: bool = False) -> UploadJob:
        """bde_CreateUpload (sql/02-bde_control_functions.sql.in:270-302):
        refuse when another job is active unless allowed."""
        with self.batch():
            if not allow_concurrent and self.any_active():
                raise RuntimeError("another upload job is already active")
            jid = self._state["next_job_id"]
            self._state["next_job_id"] = jid + 1
            job = UploadJob(id=jid, schema_name=f"bde_upload_{jid}",
                            start_time=time.time(), end_time=time.time())
            self._state["jobs"].append(asdict(job))
        return job

    def finish_job(self, job_id: int, ok: bool = True) -> None:
        """bde_FinishUpload: status C/E + release locks
        (sql/02-bde_control_functions.sql.in:308-410)."""
        with self.batch():
            for j in self._state["jobs"]:
                if j["id"] == job_id:
                    j["status"] = STATUS_COMPLETED if ok else STATUS_ERROR
                    j["end_time"] = time.time()
            for t in self._state["tables"].values():
                if t.get("upl_id_lock") == job_id:
                    t["upl_id_lock"] = None

    def any_active(self) -> bool:
        """A6: bde_anyUploadIsActive (:136-159), with zombie expiry —
        a job whose heartbeat is older than lock_expiry_hours is dead
        (C3, :165-213)."""
        cutoff = time.time() - self.lock_expiry_hours * 3600
        return any(j["status"] == STATUS_ACTIVE and j["end_time"] > cutoff
                   for j in self._state["jobs"])

    def heartbeat(self, job_id: int) -> None:
        with self.batch():
            for j in self._state["jobs"]:
                if j["id"] == job_id:
                    j["end_time"] = time.time()

    def remove_zombies(self) -> list[int]:
        """C3: expire jobs with stale heartbeats, freeing their locks."""
        cutoff = time.time() - self.lock_expiry_hours * 3600
        dead = []
        with self.batch():
            for j in self._state["jobs"]:
                if j["status"] == STATUS_ACTIVE and j["end_time"] <= cutoff:
                    j["status"] = STATUS_ERROR
                    dead.append(j["id"])
            for t in self._state["tables"].values():
                if t.get("upl_id_lock") in dead:
                    t["upl_id_lock"] = None
        return dead

    def purge_old_jobs(self, older_than_days: float = 14.0) -> int:
        """bde_RemoveOldJobData (:216-246): drop finished jobs (and
        their stats) older than N days, keeping each table's
        last-upload reference."""
        cutoff = time.time() - older_than_days * 86400
        with self.batch():
            keep_ids = {t.get("last_upload_id")
                        for t in self._state["tables"].values()}
            before = len(self._state["jobs"])
            self._state["jobs"] = [
                j for j in self._state["jobs"]
                if j["status"] == STATUS_ACTIVE or j["end_time"] > cutoff
                or j["id"] in keep_ids
            ]
            alive = {j["id"] for j in self._state["jobs"]}
            self._state["stats"] = [s for s in self._state["stats"]
                                    if s["upl_id"] in alive]
        return before - len(self._state["jobs"])

    # --- per-table state (watermarks + locks) ---
    def table(self, name: str) -> dict:
        t = self._state["tables"].setdefault(name, asdict(TableState(table_name=name)))
        return t

    def acquire_lock(self, name: str, job_id: int, steal: bool = False) -> bool:
        """C2: advisory per-table lock claim/steal
        (sql/02-bde_control_functions.sql.in:539-644)."""
        with self.batch():
            t = self.table(name)
            holder = t.get("upl_id_lock")
            if holder is not None and holder != job_id and not steal:
                return False
            t["upl_id_lock"] = job_id
        return True

    def release_lock(self, name: str, job_id: int) -> None:
        with self.batch():
            t = self.table(name)
            if t.get("upl_id_lock") == job_id:
                t["upl_id_lock"] = None

    def record_dataset_loaded(self, job_id: int, table_name: str, dataset: str,
                              level: str, stats: "object", duration: float = 0.0,
                              details: str = "") -> None:
        """C6: _bde_RecordDatasetLoaded
        (sql/02-bde_control_functions.sql.in:975-1071) — update
        watermarks + append stats row."""
        with self.batch():
            t = self.table(table_name)
            t["last_upload_dataset"] = dataset
            t["last_upload_type"] = level
            t["last_upload_time"] = time.time()
            t["last_upload_id"] = job_id
            t["last_upload_details"] = details
            if level == "0":
                t["last_level0_dataset"] = dataset
            self._state["stats"].append(asdict(UploadStats(
                upl_id=job_id, table_name=table_name, dataset=dataset,
                ninsert=getattr(stats, "ninsert", 0),
                nupdate=getattr(stats, "nupdate", 0),
                nnullupdate=getattr(stats, "nnullupdate", 0),
                ndelete=getattr(stats, "ndelete", 0), duration=duration,
            )))

    def tables_affected(self, job_id: int, tables: list[str], test: str = "loaded") -> bool:
        """X2 predicate evaluator: bde_TablesAffected
        (sql/02-bde_control_functions.sql.in:2722-2836).
        test ∈ {'loaded','affected'}: loaded = stats row exists for the
        job; affected = any nonzero change count."""
        rows = [s for s in self._state["stats"] if s["upl_id"] == job_id]
        by_table: dict[str, bool] = {}
        for s in rows:
            changed = (s["ninsert"] + s["nupdate"] + s["ndelete"]) > 0
            by_table[s["table_name"]] = by_table.get(s["table_name"], False) or \
                (changed if test == "affected" else True)
        return all(by_table.get(t, False) for t in tables)

    def stats_rows(self) -> list[dict]:
        return list(self._state["stats"])
