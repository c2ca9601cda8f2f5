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

Every table load (EP1, EP3 and level 5) is one store write
(``BdeUploader._write_load``) of one plan whose rows carry their action
(``merge.merge_tagged``, or the staged snapshot as all inserts): the
I/U/0/D stats and the new row count are observed in the write, and
its verdict runs after the data lands and before the pointer is staged
or flipped — the row-count tolerance gate, then the table's maintained
views, written from the new version. A load merged onto the version it
read (level 5, and EP3 onto an existing table) names that version, so
the store lands only its changed rows as a delta segment that reads
merge on read (sources/store.py); EP1 and first loads write full
snapshots. Every keyed load's pointer records its row count.

A load runs no Spark job besides its own write. Each staged file's
malformed-row check (``sources.crs.RowCheck``) is observed in the
action that consumes the file, the way bde_copy counts a file's
columns in the pass that loads it (lib/LINZ/BdeUpload.pm:1146-1201):
a table's staged files in its store write, whose verdict reads the
checks before anything else, and the level-5 change file in the
dataset's one scan of its table names. The two exits that write
nothing (a level-5 table with no changed keys, a failed start-time
continuity check) probe their files instead. A malformed file raises
``CrsReadError`` with its pointer neither staged nor flipped; the
``v=<n>`` it wrote is an orphan, as after a tolerance rejection.
"""

from __future__ import annotations

import logging
import subprocess
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist, release_caches
from linz_bde_uploader_spark.catalog.tables import TableDef, validate_key
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.operators import merge as M
from linz_bde_uploader_spark.operators.view_refresh import (
    ViewSpec, refresh_views, seed_views,
)
from linz_bde_uploader_spark.sources.crs import (
    CleanseConfig, RowCheck, parse_header, read_crs,
)
from linz_bde_uploader_spark.sources.repository import BdeRepository, Dataset
from linz_bde_uploader_spark.sources.store import TableStore

log = logging.getLogger("linz_bde_uploader_spark")


def _gated(table: TableDef) -> bool:
    """Whether ``check_tolerance`` reads the row counts of ``table``'s
    loads (it returns "ok" for a table with no row_tol)."""
    return table.row_tol_error is not None or table.row_tol_warning is not None


def _tolerance(table: TableDef, new_count: int | None,
               prev_count: int | None) -> tuple[str, str | None]:
    """``(verdict, error message)`` of the A7 row-count gate; the
    message is None unless the load must not commit (an ``error``
    verdict against a non-empty previous version)."""
    tol = M.check_tolerance(new_count, prev_count,
                            table.row_tol_error, table.row_tol_warning)
    if tol == "error" and prev_count > 0:
        return tol, f"tolerance: {new_count} < error floor of {prev_count}"
    return tol, None


class _Rejected(Exception):
    """A tolerance ``error`` raised by the store write's verdict hook:
    the table's pointer is neither staged nor flipped."""


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
    # O(changes) per dataset inside the base write's verdict, before
    # the base pointer flips, behind the dataset-stamp replay guard
    # shared with the streaming path (operators/view_refresh.py) — a
    # crash anywhere replays to the same state on the next run.
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
    # flock in Ledger.batch. 1 = reference-faithful sequential.
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
        # back, so records buffer here and flush after commit, in the
        # dataset's one closing ledger write
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

    def _stage(self, ds: Dataset, table: TableDef, level: str):
        """``(header, stg, checks)``: the union of ``table``'s files in
        ``ds`` (header of the last file) and each file's malformed-row
        check, which the action consuming ``stg`` fills (see
        ``_load_file``). With -keep-files the cleansed
        staging frame is also snapshot under
        <store>/scratch/<dataset>_L<level>_<table> for debugging
        (analog of the reference's retained .unl working files,
        lib/LINZ/BdeUpload.pm:1146-1176)."""
        files = ds.files()
        header = stg = None
        checks = []
        for tag in table.files:
            header, part, check = self._load_file(files[tag], table)
            checks.append(check)
            stg = part if stg is None else stg.unionByName(
                part, allowMissingColumns=True)
        if self.config.keep_files:
            import os
            path = os.path.join(self.store.root, "scratch",
                                f"{ds.name}_L{level}_{table.name}")
            stg.write.mode("overwrite").parquet(path)
            log.info("kept working files: %s", path)
        return header, stg, checks

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
        tolerance gate: the pointer's ``rows``, which every load
        records, else one count of the stored data (a version written
        by an older release)."""
        if not self.store.exists(table.name):
            return 0
        rows = self.store.row_count(table.name)
        if rows is None:
            rows = self.store.read(self.spark, table.name).count()
        return rows

    def _load_file(self, path: str, table: TableDef):
        """S4+S5+P1: parse header, project valid columns, read+cleanse.
        Returns ``(header, frame, check)``: ``check`` is the file's
        malformed-row check, deferred to the action that consumes
        ``frame`` (``RowCheck.verify`` once it has run,
        ``RowCheck.probe`` if none will)."""
        header = parse_header(path)
        if table.column_overrides:
            file_cols = [c for c, _ in table.column_overrides]
        else:
            file_cols = header.field_names
        target_cols = file_cols  # target schema == file schema v0;
        # P1 column intersection still validates overrides vs header
        valid = M.select_valid_columns(header.field_names, target_cols)
        check = RowCheck()
        df = read_crs(self.spark, path, header=header, valid_columns=valid,
                      cleanse=self.config.cleanse, check=check)
        return header, df, check

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
        """EP1 (or EP3 when incremental=True) per-table load: EP1, and
        EP3 into an empty store, write the staged snapshot as all
        inserts; EP3 writes ``merge_tagged``'s full form, the diff
        against the stored version applied."""
        t0 = time.time()
        header, stg, checks = self._stage(ds, table, "0")
        if table.key:
            validate_key(table, {c.name: c.type_name for c in header.columns})
        prev_count = self._stored_rows(table) if _gated(table) else None
        onto = self.store.current_version(table.name) if incremental \
            else None
        if onto is not None:
            tagged = M.merge_tagged(self.store.read(self.spark, table.name),
                                    stg, None, table.key)
        else:
            tagged = stg.withColumn(M.ACTION_COL, F.lit(M.ACTION_INSERT))
        spec = self._views.get(table.name)
        views = None
        if spec is not None:
            # snapshot semantics: L0 replaces the base wholesale, so
            # views re-seed by direct recompute of the new state, past
            # the stamp guard (see seed_views)
            def views(new):
                seed_views(self.store, table.name, new, ds.name, spec,
                           table.key)
        return self._write_load(job, ds, table, "0", header, t0, tagged,
                                onto, prev_count, views, checks)

    def upload_table_level5(self, job, ds: Dataset, table: TableDef,
                            changes, changed_tables: set[str]) -> TableResult:
        """EP2 per-table CDC merge (bde_ApplyLevel5Update,
        sql/02-bde_control_functions.sql.in:1576-1818).
        ``changed_tables`` is ``_changed_tables(changes)``, computed
        once per dataset."""
        t0 = time.time()
        header, stg, checks = self._stage(ds, table, "5")

        cont = self._check_start_continuity(table, header)
        if cont == "fail":
            # no write consumes the staged files: probe them here
            for check in checks:
                check.probe()
            return TableResult(table.name, ds.name, "5", "error",
                               message="start-time continuity gap exceeds fail tolerance")

        # early-exit if this table has no changed keys (reference :1713)
        if table.name.lower() not in changed_tables:
            for check in checks:
                check.probe()
            self._record_loaded(job, table.name, ds.name, "5",
                                M.MergeStats(), time.time() - t0,
                                header.end_time or "")
            return TableResult(table.name, ds.name, "5", "loaded", M.MergeStats())

        onto = self.store.current_version(table.name)
        cur = self.store.read(self.spark, table.name)
        chg = M.prepare_change_table(changes, table.name)
        chg = M.fix_key_swaps(stg, cur, chg, table.key, table.unique_cols)
        prev_count = self._stored_rows(table) if _gated(table) else None
        spec = self._views.get(table.name)
        views = None
        if spec is not None:
            # the view refresh reads the changed keys' actions several
            # times, so they are persisted; the apply_updates loop
            # releases them with the dataset's other persists
            actions = persist(M.classify_actions(
                cur, stg, chg, table.key, cur.columns,
                unique_cols=table.unique_cols, carry_cols=spec.carry_cols))

            def views(merged):
                refresh_views(self.spark, self.store, table.name, cur, stg,
                              actions, merged, ds.name, spec, table.key)
        return self._write_load(
            job, ds, table, "5", header, t0,
            M.merge_tagged(cur, stg, chg, table.key, table.unique_cols),
            onto, prev_count, views, checks)

    def _write_load(self, job, ds: Dataset, table: TableDef, level: str,
                    header, t0: float, tagged, onto: int | None,
                    prev_count: int | None, views,
                    checks: list[RowCheck]) -> TableResult:
        """Every table load's one store write. ``tagged`` is the new
        state with each row's action in ``ACTION_COL``, merged onto
        store version ``onto`` (None for EP1 and a first load). The
        store writes it as a delta segment of the tagged rows when it
        can extend ``onto``'s chain, else as the full new state (D
        rows and the tag dropped); either way the write observes the
        action counts and the new state's row count, which the pointer
        records. The verdict runs before the pointer is staged or
        flipped, in three steps: the input checks first (``checks``,
        the staged files' malformed-row checks, which the write just
        filled: a malformed file raises ``CrsReadError``), then the
        tolerance gate (``prev_count`` is the gate's previous row
        count, None for an ungated table), then ``views``, if given,
        with the written version as the new state (built only then:
        a load with no views never plans the read of its own write).

        So views are written after the gate passes and before the base
        pointer flips. A crash between the two replays the dataset on
        the next run (the ledger watermark advances only after the
        base write) and the views' dataset stamps skip the
        already-applied delta (operators/view_refresh.py): the
        reference's same-transaction consistency contract
        (sql/02-bde_control_functions.sql.in:2595-2676) met by
        recovery."""
        observed = M.MergeObservation()
        outcome = {}

        def verdict(written):
            for check in checks:
                check.verify()
            stats, rows = observed.result()
            outcome["stats"] = stats
            outcome["tol"], error = _tolerance(table, rows, prev_count)
            if error:
                raise _Rejected(error)
            if views is not None:
                views(written())
            return rows

        try:
            self.store.write(table.name, tagged, key=table.key,
                             dataset=ds.name, clustered=observed.apply,
                             verdict=verdict, onto=onto)
        except _Rejected as e:
            return TableResult(table.name, ds.name, level, "error",
                               outcome["stats"], str(e))
        self._record_loaded(job, table.name, ds.name, level,
                            outcome["stats"], time.time() - t0,
                            header.end_time or "")
        return TableResult(table.name, ds.name, level,
                           "warning" if outcome["tol"] == "warning"
                           else "loaded", outcome["stats"])

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
                # the dataset's ledger traffic is two writes whatever
                # its table count: one claims every runnable table's
                # lock, one (in the finally) flushes the committed
                # records, releases the locks and heartbeats — the
                # reference runs them in one dataset transaction
                # (lib/LINZ/BdeDatabase.pm:476-492)
                runnable: list[TableDef] = []
                claimed: set[str] = set()
                pending: list[tuple] = []
                try:
                    changes = changed = None
                    if lvl == "5":
                        chg_def = self._change_table_def()
                        if chg_def is None:
                            raise RuntimeError("no l5_change_table configured")
                        _, changes, check = self._load_file(
                            ds.files()[chg_def.files[0]], chg_def)
                        changed = _changed_tables(changes)
                        # that scan consumed the change file
                        check.verify()
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
                    if runnable:
                        with self.ledger.batch():
                            claimed = {
                                t.name for t in runnable
                                if self.ledger.acquire_lock(
                                    t.name, job.id,
                                    steal=self.config.override_locks)}

                    def run_one(t, _ds=ds, _lvl=lvl, _chg=changes,
                                _changed=changed):
                        if t.name not in claimed:
                            return TableResult(
                                t.name, _ds.name, _lvl, "skipped",
                                message="locked")
                        if _lvl == "0":
                            return self.upload_table_level0(
                                job, _ds, t, incremental=full_incremental)
                        return self.upload_table_level5(
                            job, _ds, t, _chg, _changed)

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
                        records, self._pending_records = \
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
                            pending = records
                    for r in batch:
                        if (r.status == "error"
                                or (r.status == "skipped"
                                    and r.message == "locked")):
                            failed_tables.add(r.table)  # leapfrog hazard
                        self.results.append(r)
                finally:
                    # every exit path, a failed load included: a
                    # dataset's persists are consumed once its store
                    # writes commit or roll back, and its claimed locks
                    # are released (a caller-owned job never reaches
                    # finish_job's release). Only a committed dataset's
                    # records land, before the post-level0 functions
                    # and dataset_end SQL below read the ledger.
                    release_caches()
                    if runnable:
                        with self.ledger.batch():
                            for rec in pending:
                                self.ledger.record_dataset_loaded(
                                    rec[0], rec[1], rec[2], rec[3], rec[4],
                                    duration=rec[5], details=rec[6])
                            for name in claimed:
                                self.ledger.release_lock(name, job.id)
                            self.ledger.heartbeat(job.id)
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
