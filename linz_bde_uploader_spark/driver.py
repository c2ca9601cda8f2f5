"""Upload orchestration: the Spark re-expression of
``LINZ::BdeUpload::ApplyUpdates`` (lib/LINZ/BdeUpload.pm:559-610) and
its three entry points:

- EP1 ``-full``              level-0 snapshot replace
- EP2 ``-incremental``       level-5 CDC merge
- EP3 ``-full-incremental``  level-0 applied as a full-table diff
- ``-rebuild``               latest L0 + all subsequent L5

The reference runs one table at a time through PostgreSQL; here each
table load is a Spark job (cluster-parallel within the load), and the
driver sequences datasets/tables exactly like the reference
(lib/LINZ/BdeUpload.pm:729,787). Dataset atomicity (C4) comes from the
store's snapshot-pointer commit: nothing is visible until the pointer
flips, and a failed dataset simply never commits.
"""

from __future__ import annotations

import logging
import subprocess
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.catalog.tables import TableDef, validate_key
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.operators import merge as M
from linz_bde_uploader_spark.operators.dedup import release_caches
from linz_bde_uploader_spark.operators.view_refresh import (
    ViewSpec, refresh_views, seed_views,
)
from linz_bde_uploader_spark.sources.crs import (
    CleanseConfig, parse_header, read_crs,
)
from linz_bde_uploader_spark.sources.repository import BdeRepository, Dataset
from linz_bde_uploader_spark.sources.store import TableStore

log = logging.getLogger("linz_bde_uploader_spark")


def _gated(table: TableDef) -> bool:
    """Whether ``check_tolerance`` reads the row counts of ``table``'s
    loads (it returns "ok" for a table with no row_tol)."""
    return table.row_tol_error is not None or table.row_tol_warning is not None


def _changed_tables(changes) -> set[str]:
    """Lower-cased table names the level-5 change table names: one
    scan per dataset decides every table's no-changes early exit, the
    set form of ``prepare_change_table``'s ``lower(tablename)`` filter."""
    return {r[0] for r in
            changes.select(F.lower(F.col("tablename"))).distinct().collect()}


@dataclass
class UploadConfig:
    """Knobs mirroring conf/linz_bde_uploader.conf."""

    cleanse: CleanseConfig = field(default_factory=CleanseConfig)
    # start-time continuity (conf:133-134; lib/LINZ/BdeUpload.pm:1070-1100)
    level5_starttime_warn_tolerance: float = 0.5   # hours
    level5_starttime_fail_tolerance: float = 0.0   # 0 = disabled
    # event hooks (X3, conf:151-192); each a list of shell commands
    # with {id} {dataset} {level} substitution
    hooks: dict[str, list[str]] = field(default_factory=dict)
    enable_hooks: bool = False
    # X2 SQL hook blocks (conf:49-83): keys connect / dataset_start /
    # dataset_end / upload_complete, each a ';'-split statement list
    # with the conditional DSL of db_upload_complete_sql. Runs through
    # the uploader's sql_runner (default spark.sql) only when enabled:
    # a reference conf's blocks are PostgreSQL-dialect (SET
    # client_encoding ...), so a migrating user opts in after porting
    # them to Spark SQL.
    sql_hooks: dict[str, str] = field(default_factory=dict)
    enable_sql_hooks: bool = False
    # per-level runtime budgets in hours; 0 = unlimited (C5, conf:148-149)
    max_level0_runtime_hours: float = 0.0
    max_level5_runtime_hours: float = 0.0
    require_all_dataset_files: bool = True  # S3 completeness gate
    # -override-locks: bypass the single-job gate and steal table
    # locks (C1/C2; t/linz_bde_uploader.t:908-992)
    override_locks: bool = False
    # -keep-files (bin/linz_bde_uploader.pl:93): retain per-run
    # staged working data for debugging. The reference always
    # materializes temp .unl files and unlinks them unless kept
    # (lib/LINZ/BdeUpload.pm:1167); the Spark flow streams the
    # cleansed frames straight into the merge, so the debug snapshot
    # under <store>/scratch/ is written ONLY when this flag is set —
    # no write amplification on the normal path.
    keep_files: bool = False
    # maintained views (IVM): table name -> ViewSpec. The reference
    # keeps derived state consistent with the merge inside the same
    # dataset scope (bde_postupload_* functions,
    # sql/02-bde_control_functions.sql.in:2595-2676; dataset
    # transaction lib/LINZ/BdeDatabase.pm:455-510); here every
    # registered table's <table>__agg/__minmax/__join views refresh
    # O(changes) per dataset BEFORE the base write, behind the
    # dataset-stamp replay guard shared with the streaming path
    # (operators/view_refresh.py) — a crash anywhere replays to the
    # same state on the next run.
    views: dict[str, ViewSpec] = field(default_factory=dict)
    # C4 dataset transaction (conf use_dataset_transaction, the
    # reference DEFAULT — conf/linz_bde_uploader.conf:89-92,
    # lib/LINZ/BdeDatabase.pm:476-492): all of a dataset's table
    # writes (bases AND maintained views) become visible together
    # through the store's staged-pointer commit, and any table error
    # rolls the whole dataset back — no ledger watermark advances, no
    # partial dataset is ever readable. Off by default on THIS
    # dataclass (per-table commits, the reference's
    # use_table_transaction mode); conf-driven runs default it ON —
    # upload_config_from_conf mirrors the reference accessor's
    # default-1 even when the conf omits the key.
    use_dataset_transaction: bool = False
    # intra-dataset table parallelism. The reference is strictly
    # sequential per table (lib/LINZ/BdeUpload.pm:729,787) because one
    # PostgreSQL does all the work; on Spark each table load is an
    # independent job, so N driver threads keep the cluster busy while
    # small tables' planning overhead overlaps big tables' execution.
    # Ledger ops stay correct: every mutation is serialized by the
    # flock in Ledger._exclusive. 1 = reference-faithful sequential.
    parallel_tables: int = 1


@dataclass
class TableResult:
    table: str
    dataset: str
    level: str
    status: str               # loaded | skipped | warning | error
    stats: M.MergeStats | None = None
    message: str = ""


class BdeUploader:
    """One upload job over a repository + table registry."""

    def __init__(self, spark: SparkSession, repo: BdeRepository,
                 store: TableStore, ledger: Ledger, tables: list[TableDef],
                 config: UploadConfig | None = None,
                 post_upload_functions: list | None = None,
                 post_level0_functions: list | None = None):
        self.spark = spark
        self.repo = repo
        self.store = store
        self.ledger = ledger
        self.tables = tables
        self.config = config or UploadConfig()
        # X1 plugin registry: callables run after uploads / L0 uploads,
        # in name order (reference discovers bde_postupload_* functions
        # by catalog scan, sql/02-bde_control_functions.sql.in:2595-2643)
        self.post_upload_functions = sorted(
            post_upload_functions or [], key=lambda f: getattr(f, "__name__", ""))
        self.post_level0_functions = sorted(
            post_level0_functions or [], key=lambda f: getattr(f, "__name__", ""))
        self.results: list[TableResult] = []
        # deferred ledger records for the dataset-transaction mode:
        # watermarks/stats must not advance for a dataset that rolls
        # back, so records buffer here and flush after commit
        self._pending_records: list[tuple] | None = None
        import threading as _threading
        self._pending_lock = _threading.Lock()
        # tables.conf view= declarations register maintained views
        # unless the caller already supplied a ViewSpec
        # programmatically (explicit config wins — it can carry join
        # views, which conf cannot express). Merged per-instance: the
        # caller's UploadConfig is never mutated, so two uploaders
        # sharing one config cannot leak registrations into each other
        self._views: dict[str, ViewSpec] = dict(self.config.views)
        for t in self.tables:
            if (t.view_group_cols and t.view_value_col
                    and t.name not in self._views):
                self._views[t.name] = ViewSpec(
                    group_cols=t.view_group_cols,
                    value_col=t.view_value_col,
                    minmax=t.view_minmax,
                    hll_key=t.view_hll_key,
                    cms_key=t.view_cms_key,
                    topk=t.view_topk,
                    distinct_col=t.view_distinct_col)
        self._start = time.time()
        # X2 SQL hook executor — replaceable for JDBC targets / tests
        self.sql_runner = lambda sql: self.spark.sql(sql)

    # ----------------------------------------------------------- hooks
    def _run_hooks(self, event: str, dataset: str = "", level: str = "",
                   job_id: int = 0) -> None:
        """X3 shell event hooks with placeholder substitution
        (lib/LINZ/BdeUpload.pm:1102-1144)."""
        if not self.config.enable_hooks:
            return
        import os as _os
        for cmd in self.config.hooks.get(event, []):
            # both placeholder spellings: {{id}} is the reference conf
            # syntax (conf/linz_bde_uploader.conf:155-161), {id} the
            # original repo spelling — substitute both, plus {{pid}}
            final = cmd
            for token, value in (("id", str(job_id)), ("dataset", dataset),
                                 ("level", level), ("pid", str(_os.getpid()))):
                final = final.replace("{{%s}}" % token, value) \
                             .replace("{%s}" % token, value)
            try:
                subprocess.run(final, shell=True, timeout=60, check=False)
            except Exception as e:  # hooks never fail the upload
                log.warning("hook %s failed: %s", event, e)

    def _run_sql_hooks(self, event: str, job_id: int,
                       level0_ran: bool = True) -> None:
        """X2 hook SQL blocks (lib/LINZ/BdeDatabase.pm:571-636):
        ';'-split statements, `{id}` substitution, conditional DSL
        evaluated against the stats ledger."""
        if not self.config.enable_sql_hooks:
            return
        block = self.config.sql_hooks.get(event, "")
        if not block.strip():
            return
        from linz_bde_uploader_spark.control.hooks import run_hook_block
        try:
            run_hook_block(block, self.sql_runner, self.ledger, job_id,
                           level0_ran=level0_ran)
        except Exception as e:  # parity: log, don't kill the upload
            log.error("sql hook %s failed: %s", event, e)

    def _keep_scratch(self, ds: Dataset, table: TableDef, stg, level: str) -> None:
        """-keep-files: snapshot the cleansed staging frame under
        <store>/scratch/<dataset>_L<level>_<table> for debugging
        (analog of the reference's retained .unl working files,
        lib/LINZ/BdeUpload.pm:1146-1176)."""
        if not self.config.keep_files:
            return
        import os
        path = os.path.join(self.store.root, "scratch",
                            f"{ds.name}_L{level}_{table.name}")
        stg.write.mode("overwrite").parquet(path)
        log.info("kept working files: %s", path)

    def _record_loaded(self, job, table_name: str, dataset: str,
                       level: str, stats, duration: float,
                       details: str) -> None:
        """Ledger watermark+stats recording, deferred inside a
        dataset-transaction scope (flushed only after the store
        commit, dropped on rollback)."""
        if self._pending_records is not None:
            with self._pending_lock:
                self._pending_records.append(
                    (job.id, table_name, dataset, level, stats,
                     duration, details))
            return
        self.ledger.record_dataset_loaded(
            job.id, table_name, dataset, level, stats,
            duration=duration, details=details)

    def _budget_exceeded(self, level: str) -> bool:
        """C5: per-level wall-clock budgets checked between steps."""
        budget = (self.config.max_level0_runtime_hours if level == "0"
                  else self.config.max_level5_runtime_hours)
        return budget > 0 and (time.time() - self._start) > budget * 3600

    # ------------------------------------------------------- selection
    def level0_updates(self, before: str | None = None,
                       rebuild: bool = False) -> list[tuple[Dataset, list[TableDef]]]:
        """EP1 planning: the LATEST complete L0 dataset; tables whose
        last_level0_dataset watermark is older — or ALL level-0
        tables under ``rebuild``, which ignores the watermark exactly
        as the reference does (`$rebuild || $lastl0 lt $dataset`,
        lib/LINZ/BdeUpload.pm:644-648)."""
        ds = self.repo.latest(0, before=before)
        if ds is None:
            return []
        todo = []
        for t in self.tables:
            if "0" not in t.levels or t.l5_change_table:
                continue
            if not rebuild and \
                    self.ledger.table(t.name)["last_level0_dataset"] >= ds.name:
                continue
            todo.append(t)
        return [(ds, todo)] if todo else []

    def level5_updates(self, before: str | None = None,
                       rebuild_from: dict[str, str] | None = None
                       ) -> list[tuple[Dataset, list[TableDef]]]:
        """EP2 planning: all datasets after each table's
        last_upload_dataset watermark, in order; l5_is_full tables take
        only the newest (lib/LINZ/BdeUpload.pm:653-707).

        ``rebuild_from`` (table -> dataset name) is the rebuild
        branch: a table being re-seeded from a level-0 dataset in the
        SAME run replays every level-5 dataset after that L0, not
        after its (already-current) ledger watermark — the reference
        takes `$lastl5` from the planned L0 update when rebuilding
        (lib/LINZ/BdeUpload.pm:670-676)."""
        plan: list[tuple[Dataset, list[TableDef]]] = []
        datasets = self.repo.select(5, before=before)
        if not datasets:
            return []
        latest = datasets[-1].name
        # per-table replay-from point, resolved once; a table with NO
        # previous upload cannot take increments — log and skip it,
        # exactly the reference (lib/LINZ/BdeUpload.pm:678-683)
        marks: dict[str, str] = {}
        for t in self.tables:
            if "5" not in t.levels or t.l5_change_table:
                continue
            wm = (rebuild_from or {}).get(t.name)
            if wm is None:
                wm = self.ledger.table(t.name)["last_upload_dataset"]
            if wm == "":
                log.error("Cannot load incremental updates to %s as "
                          "there is no previous upload", t.name)
                continue
            marks[t.name] = wm
        for ds in datasets:
            todo = []
            for t in self.tables:
                if t.name not in marks:
                    continue
                if marks[t.name] >= ds.name:
                    continue
                if t.l5_is_full and ds.name != latest:
                    continue
                todo.append(t)
            if todo:
                plan.append((ds, todo))
        return plan

    # --------------------------------------------------------- loading
    def _change_table_def(self) -> TableDef | None:
        for t in self.tables:
            if t.l5_change_table:
                return t
        return None

    def _stored_rows(self, table: TableDef) -> int:
        """Row count of the table's current store version for the
        tolerance gate: the pointer's ``rows`` when the writer
        recorded one, else one count of the stored data (a version
        written by an ungated load or an older release)."""
        if not self.store.exists(table.name):
            return 0
        rows = self.store.row_count(table.name)
        if rows is None:
            rows = self.store.read(self.spark, table.name).count()
        return rows

    def _load_file(self, path: str, table: TableDef):
        """S4+S5+P1: parse header, project valid columns, read+cleanse."""
        header = parse_header(path)
        if table.column_overrides:
            file_cols = [c for c, _ in table.column_overrides]
        else:
            file_cols = header.field_names
        target_cols = file_cols  # target schema == file schema v0;
        # P1 column intersection still validates overrides vs header
        valid = M.select_valid_columns(header.field_names, target_cols)
        df = read_crs(self.spark, path, header=header, valid_columns=valid,
                      cleanse=self.config.cleanse)
        return header, df

    def _check_start_continuity(self, table: TableDef, header) -> str | None:
        """§2.8 level-5 gap detector: file START must be close to the
        previously recorded END (lib/LINZ/BdeUpload.pm:1070-1100)."""
        prev_end = self.ledger.table(table.name).get("last_upload_details") or ""
        if not prev_end or not header.start_time:
            return None
        from datetime import datetime
        fmt = "%Y-%m-%d %H:%M:%S"
        try:
            gap_h = abs((datetime.strptime(header.start_time, fmt)
                         - datetime.strptime(prev_end, fmt)).total_seconds()) / 3600
        except ValueError:
            return None
        fail = self.config.level5_starttime_fail_tolerance
        warn = self.config.level5_starttime_warn_tolerance
        if fail > 0 and gap_h > fail:
            return "fail"
        if warn > 0 and gap_h > warn:
            return "warn"
        return None

    def upload_table_level0(self, job, ds: Dataset, table: TableDef,
                            incremental: bool = False) -> TableResult:
        """EP1 (or EP3 when incremental=True) per-table load."""
        t0 = time.time()
        files = ds.files()
        header = None
        stg = None
        for tag in table.files:
            header, part = self._load_file(files[tag], table)
            stg = part if stg is None else stg.unionByName(part, allowMissingColumns=True)
        self._keep_scratch(ds, table, stg, "0")
        if table.key:
            validate_key(table, {c.name: c.type_name for c in header.columns})

        # the staged FULL snapshot feeds several executions below —
        # the row count / diff action counts, the applied-result
        # materialization, every view-group seed, and the store
        # write — and its parse plus ~300-rule cleanse is the L0
        # path's dominant per-pass cost (each pass re-read and
        # re-cleansed the file: measured 4 passes inside the f30
        # l0_sec before this persist). Persist it once (tracked;
        # the apply_updates loop releases per dataset). The spill
        # trade at 100 TB is one transient table-sized copy on
        # executor disk vs re-parsing the table per consumer.
        from pyspark import StorageLevel

        from linz_bde_uploader_spark.operators.dedup import _track

        stg = _track(stg.persist(StorageLevel.MEMORY_AND_DISK))

        # counts run only for the tolerance gate (an ungated table's
        # check_tolerance is "ok" whatever the counts); a count that
        # does run is recorded as the new pointer's ``rows``
        gated = _gated(table)
        prev_count = self._stored_rows(table) if gated else 0
        new_count = None
        if incremental and self.store.exists(table.name):
            cur = self.store.read(self.spark, table.name)
            diff = M.full_diff(cur, stg, table.key, cur.columns)
            counts = {r["action"]: r["n"] for r in
                      diff.groupBy("action").agg(F.count("*").alias("n")).collect()}
            stats = M.MergeStats(ninsert=counts.get("I", 0),
                                 nupdate=counts.get("U", 0),
                                 ndelete=counts.get("D", 0))
            # the applied result is itself consumed up to three times
            # (tolerance count, view seeds, store write): persist it
            # too, or each consumer re-runs the full-outer diff join
            new = _track(M.apply_actions(cur, stg, diff, table.key)
                         .persist(StorageLevel.MEMORY_AND_DISK))
            if gated:
                new_count = new.count()
        else:
            # EP1, or EP3 into an empty store: n inserts, no deletes
            new_count = stg.count()
            stats = M.MergeStats(ninsert=new_count)
            new = M.level0_replace(stg)  # identity: reads stg's cache

        tol = M.check_tolerance(new_count, prev_count,
                                table.row_tol_error, table.row_tol_warning)
        if tol == "error" and prev_count > 0:
            return TableResult(table.name, ds.name, "0", "error", stats,
                               f"tolerance: {new_count} < error floor of {prev_count}")
        spec = self._views.get(table.name)
        if spec is not None:
            # snapshot semantics: L0 replaces the base wholesale, so
            # views re-seed by direct recompute of the new state —
            # FORCED past the stamp guard, because a replaced base
            # invalidates any standing view even one stamped later
            # (operator-forced re-load); the recompute is idempotent
            # so crash replays stay safe without the guard
            seed_views(self.store, table.name, new, ds.name, spec,
                       table.key, force=True)
        self.store.write(table.name, new, key=table.key, dataset=ds.name,
                         rows=new_count)
        self._record_loaded(job, table.name, ds.name, "0", stats,
                            time.time() - t0, header.end_time or "")
        return TableResult(table.name, ds.name, "0",
                           "warning" if tol == "warning" else "loaded", stats)

    def upload_table_level5(self, job, ds: Dataset, table: TableDef,
                            changes, changed_tables: set[str]) -> TableResult:
        """EP2 per-table CDC merge (bde_ApplyLevel5Update,
        sql/02-bde_control_functions.sql.in:1576-1818).
        ``changed_tables`` is ``_changed_tables(changes)``, computed
        once per dataset."""
        t0 = time.time()
        files = ds.files()
        header = None
        stg = None
        for tag in table.files:
            header, part = self._load_file(files[tag], table)
            stg = part if stg is None else stg.unionByName(part, allowMissingColumns=True)
        self._keep_scratch(ds, table, stg, "5")

        cont = self._check_start_continuity(table, header)
        if cont == "fail":
            return TableResult(table.name, ds.name, "5", "error",
                               message="start-time continuity gap exceeds fail tolerance")

        cur = self.store.read(self.spark, table.name)
        # early-exit if this table has no changed keys (reference :1713)
        if table.name.lower() not in changed_tables:
            self._record_loaded(job, table.name, ds.name, "5",
                                M.MergeStats(), time.time() - t0,
                                header.end_time or "")
            return TableResult(table.name, ds.name, "5", "loaded", M.MergeStats())

        chg = M.prepare_change_table(changes, table.name)
        chg = M.fix_key_swaps(stg, cur, chg, table.key, table.unique_cols)
        spec = self._views.get(table.name)
        # carry the view group columns through classify (free — the
        # classify join holds both rows) so every partial-refresh
        # view derives its touched groups O(changes) from the actions
        # frame instead of re-scanning the base by key
        carry = (sorted(set(spec.group_cols))
                 if spec is not None and spec.group_cols else None)
        actions = M.classify_actions(cur, stg, chg, table.key, cur.columns,
                                     unique_cols=table.unique_cols,
                                     carry_cols=carry)
        actions = actions.cache()
        try:
            stats = M.merge_stats(actions)
            merged = M.apply_actions(cur, stg, actions, table.key)
            prev_count = new_count = None
            if _gated(table):
                prev_count = self._stored_rows(table)
                new_count = merged.count()
            tol = M.check_tolerance(new_count, prev_count,
                                    table.row_tol_error, table.row_tol_warning)
            if tol == "error" and prev_count > 0:
                return TableResult(table.name, ds.name, "5", "error", stats,
                                   f"tolerance: {new_count} < error floor of {prev_count}")
            if spec is not None:
                # maintained views refresh O(changes) BEFORE the base
                # write, behind the dataset-stamp replay guard shared
                # with streaming_cdc_upload (operators/view_refresh.py):
                # a crash between a view write and the base write
                # replays this dataset on the next run (the ledger
                # watermark advances only after the base write below),
                # the stamp skips the already-applied view delta, and
                # the base write completes — derived state never
                # double-counts and never goes stale, the reference's
                # same-transaction consistency contract met by recovery
                # instead (sql/02-bde_control_functions.sql.in:2595-2676)
                refresh_views(self.spark, self.store, table.name, cur, stg,
                              actions, merged, ds.name, spec, table.key)
            self.store.write(table.name, merged, key=table.key,
                             dataset=ds.name, rows=new_count)
        finally:
            # every exit path, a failed refresh or store write included
            actions.unpersist()
        self._record_loaded(job, table.name, ds.name, "5", stats,
                            time.time() - t0, header.end_time or "")
        return TableResult(table.name, ds.name, "5",
                           "warning" if tol == "warning" else "loaded", stats)

    # ------------------------------------------------------------ runs
    def _dataset_available(self, ds: Dataset, tables: list[TableDef]) -> list[str]:
        tags = []
        for t in tables:
            tags.extend(t.files)
        chg = self._change_table_def()
        if chg and ds.level == 5:
            tags.extend(chg.files)
        return ds.missing_files(tags)

    def apply_updates(self, level0: bool = False, level5: bool = False,
                      full_incremental: bool = False, rebuild: bool = False,
                      before: str | None = None, dry_run: bool = False,
                      job=None) -> list[TableResult]:
        """ApplyUpdates: plan + run (lib/LINZ/BdeUpload.pm:559-610).
        -rebuild = latest L0 + all subsequent L5 (:671-675)."""
        owns_job = job is None
        if owns_job:
            job = self.ledger.create_job(
                allow_concurrent=self.config.override_locks)
        self.results = []  # each run reports its own results
        failed_tables: set[str] = set()
        # job-level X3 hooks (start_event_hooks, conf:168-170) and the
        # X2 connect SQL block (db_connect_sql, conf:49-52)
        self._run_hooks("start", job_id=job.id)
        self._run_sql_hooks("connect", job.id)
        level0_ran = level0 or full_incremental or rebuild
        try:
            plan: list[tuple[Dataset, list[TableDef], str]] = []
            l0_planned: dict[str, str] = {}
            if level0 or full_incremental or rebuild:
                for ds, tabs in self.level0_updates(before=before,
                                                    rebuild=rebuild):
                    plan.append((ds, tabs, "0"))
                    for t in tabs:
                        l0_planned[t.name] = ds.name
            if level5 or rebuild:
                for ds, tabs in self.level5_updates(
                        before=before,
                        rebuild_from=l0_planned if rebuild else None):
                    plan.append((ds, tabs, "5"))
            if dry_run:
                for ds, tabs, lvl in plan:
                    for t in tabs:
                        self.results.append(TableResult(
                            t.name, ds.name, lvl, "skipped", message="dry-run"))
                return self.results
            if not plan:
                log.info("No dataset updates")
                return self.results

            for ds, tabs, lvl in plan:
                if self._budget_exceeded(lvl):
                    log.warning("runtime budget exceeded; stopping before %s", ds.name)
                    break
                missing = self._dataset_available(ds, tabs)
                if missing and self.config.require_all_dataset_files:
                    for t in tabs:
                        self.results.append(TableResult(
                            t.name, ds.name, lvl, "skipped",
                            message=f"dataset incomplete: missing {missing}"))
                        # an unapplied dataset must also block LATER
                        # datasets for its tables, or the watermark
                        # leapfrogs the gap (reference stops the level
                        # loop outright, lib/LINZ/BdeUpload.pm:703)
                        failed_tables.add(t.name)
                    continue
                self._run_hooks("start_dataset", ds.name, lvl, job.id)
                self._run_sql_hooks("dataset_start", job.id,
                                    level0_ran=level0_ran)
                try:
                    changes = changed = None
                    if lvl == "5":
                        chg_def = self._change_table_def()
                        if chg_def is None:
                            raise RuntimeError("no l5_change_table configured")
                        _, changes = self._load_file(ds.files()[chg_def.files[0]], chg_def)
                        changed = _changed_tables(changes)
                    runnable = []
                    for t in tabs:
                        if t.name in failed_tables:
                            # a failed increment must not be skipped over:
                            # later datasets would merge onto a base missing
                            # it and the watermark would advance past it
                            # forever (reference bypasses the table for the
                            # rest of the run, lib/LINZ/BdeUpload.pm:762-770)
                            self.results.append(TableResult(
                                t.name, ds.name, lvl, "skipped",
                                message="earlier dataset failed for this table"))
                            continue
                        runnable.append(t)

                    def run_one(t, _ds=ds, _lvl=lvl, _chg=changes,
                                _changed=changed):
                        if not self.ledger.acquire_lock(
                                t.name, job.id,
                                steal=self.config.override_locks):
                            return TableResult(
                                t.name, _ds.name, _lvl, "skipped",
                                message="locked")
                        try:
                            if _lvl == "0":
                                return self.upload_table_level0(
                                    job, _ds, t, incremental=full_incremental)
                            return self.upload_table_level5(
                                job, _ds, t, _chg, _changed)
                        finally:
                            self.ledger.release_lock(t.name, job.id)

                    nthreads = max(1, int(self.config.parallel_tables))
                    use_tx = self.config.use_dataset_transaction
                    if use_tx:
                        # C4 dataset transaction: stage every store write
                        # (bases + views) and defer ledger records; see
                        # UploadConfig.use_dataset_transaction
                        self.store.begin_dataset_commit()
                        self._pending_records = []
                    try:
                        if nthreads > 1 and len(runnable) > 1:
                            # tables are independent (separate store dirs;
                            # ledger mutations serialized by flock); Spark
                            # accepts concurrent actions from driver threads
                            from concurrent.futures import ThreadPoolExecutor
                            with ThreadPoolExecutor(max_workers=nthreads) as ex:
                                batch = list(ex.map(run_one, runnable))
                        else:
                            batch = [run_one(t) for t in runnable]
                    except BaseException:
                        if use_tx:
                            self.store.abort_dataset()
                            self._pending_records = None
                        raise
                    ds_rolled_back = False
                    if use_tx:
                        pending, self._pending_records = \
                            self._pending_records, None
                        if any(r.status == "error" for r in batch):
                            ds_rolled_back = True
                            # dataset ROLLBACK: no table of this dataset
                            # becomes visible, no watermark advances, and
                            # every table is bypassed for the rest of the
                            # run (its state did not move — later datasets
                            # must not merge over the gap)
                            self.store.abort_dataset()
                            batch = [
                                r if r.status in ("error", "skipped")
                                else TableResult(r.table, r.dataset, r.level,
                                                 "rolled_back", r.stats,
                                                 "dataset rolled back: a "
                                                 "sibling table errored")
                                for r in batch]
                            for r in batch:
                                failed_tables.add(r.table)
                        else:
                            self.store.commit_dataset()
                            for rec in pending:
                                self.ledger.record_dataset_loaded(
                                    rec[0], rec[1], rec[2], rec[3], rec[4],
                                    duration=rec[5], details=rec[6])
                    for r in batch:
                        if (r.status == "error"
                                or (r.status == "skipped"
                                    and r.message == "locked")):
                            failed_tables.add(r.table)  # leapfrog hazard
                        self.results.append(r)
                        self.ledger.heartbeat(job.id)
                finally:
                    # the dataset's staged reads are fully consumed once
                    # its store writes are committed (or rolled back):
                    # release the engine's tracked persists — the L0
                    # staged-snapshot persist and the gz single-pass line
                    # caches (sources/crs.py), plus the touched-group
                    # relations (operators/merge.py) — so a many-dataset
                    # run's cache footprint stays bounded at one dataset,
                    # not the whole history. finally: the abort/exception
                    # path must release too — a long-lived session that
                    # catches the error and continues would otherwise
                    # accumulate one leaked table-sized cache per failed
                    # dataset (same leak class untrack() closes for the
                    # gz error-budget raise in read_crs).
                    release_caches()
                if ds_rolled_back:
                    # a rolled-back dataset applied NOTHING: its
                    # post-level0 functions, finish_dataset hooks, and
                    # dataset_end SQL must not fire against unchanged
                    # state — the reference's in-transaction
                    # maintenance rolls back with the data
                    # (sql/02-bde_control_functions.sql.in:2595-2676)
                    continue
                if lvl == "0":
                    for fn in self.post_level0_functions:
                        fn(job)
                self._run_hooks("finish_dataset", ds.name, lvl, job.id)
                self._run_sql_hooks("dataset_end", job.id,
                                    level0_ran=level0_ran)
            for fn in self.post_upload_functions:
                fn(job)
            # db_upload_complete_sql (conf:64-66) with the conditional
            # DSL evaluated against this job's stats
            self._run_sql_hooks("upload_complete", job.id,
                                level0_ran=level0_ran)
            # finish/error job hooks (conf:173-175,191-192): error
            # fires when the job fails at any stage, else finish
            if any(r.status == "error" for r in self.results):
                self._run_hooks("error", job_id=job.id)
            else:
                self._run_hooks("finish", job_id=job.id)
            return self.results
        except Exception:
            self._run_hooks("error", job_id=job.id)
            if owns_job:
                self.ledger.finish_job(job.id, ok=False)
                owns_job = False
            raise
        finally:
            if owns_job:
                ok = not any(r.status == "error" for r in self.results)
                self.ledger.finish_job(job.id, ok=ok)
