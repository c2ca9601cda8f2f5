"""Keyed table store: Parquet snapshot directories with an atomic
current-version pointer.

Re-expresses the reference's "atomic replace with revision semantics"
(C4/C8: per-dataset transactions, table_version revisions —
sql/02-bde_control_functions.sql.in:2880-2991) without PostgreSQL
transactions: each write lands in a new ``v=<n>`` directory; a tiny
``_CURRENT`` pointer file is renamed into place only after the write
succeeds. Readers resolve the pointer first, so they always see a
complete snapshot; old versions remain as revisions until vacuumed.

Scale design: data files are written hash-clustered by the merge key
(``repartition(key)`` + sorted within partitions) with no fixed file
count: AQE coalesces the shuffle, so the number of files follows the
data — one file for a small table, not one per bucket. ``n_buckets``
applies only with ``use_catalog_buckets=True``, where each version is
additionally registered as a BUCKETED catalog table
(``bucketBy(n, key).sortBy(key)``), which is what lets Catalyst
actually elide the shuffle (and sort) when two store tables join on
the key — plain parquet directories carry no bucketing metadata, so
without the catalog the files are clustered but the join still
exchanges. On a real cluster the catalog is the metastore; locally it
is the session catalog.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableStore:
    def __init__(self, root: str, n_buckets: int = 32,
                 use_catalog_buckets: bool = False):
        self.root = root
        self.n_buckets = n_buckets
        self.use_catalog_buckets = use_catalog_buckets
        # session-catalog names must not collide across stores/tests
        self._prefix = "bde_" + hashlib.md5(
            os.path.abspath(root).encode()).hexdigest()[:8]
        os.makedirs(root, exist_ok=True)
        # C4 dataset-transaction staging (see begin_dataset_commit):
        # None = normal per-write pointer flips
        self._staged: list[tuple[str, dict]] | None = None
        self._staged_lock = threading.Lock()
        # upgrade-on-open: backfill layouts written by earlier releases
        # (idempotent via the _SCHEMA stamp — control/migrations.py)
        from linz_bde_uploader_spark.control.migrations import migrate_store
        migrate_store(root)
        # crash recovery: a standing commit manifest means a dataset
        # commit was interrupted BETWEEN the manifest fsync and the
        # last pointer flip — every listed data directory is complete
        # AND durable (commit_dataset fsyncs the staged data trees
        # before the manifest is written), so the correct recovery
        # is ROLL-FORWARD: re-apply every flip, then retire the
        # manifest. Idempotent: re-flipping an already-flipped
        # pointer rewrites the same content.
        manifest = self._manifest_path()
        if os.path.exists(manifest):
            try:
                with open(manifest) as fh:
                    staged = [(e["table"], e["pointer"])
                              for e in json.load(fh)]
            except (ValueError, KeyError, TypeError):
                # torn manifest (empty / truncated / wrong-shaped
                # JSON): the crash predates the fsync barrier in
                # commit_dataset, so NO flip was applied — the
                # dataset was never committed; retire the debris (the
                # un-advanced ledger watermarks replay it)
                staged = None
            if staged is not None:
                # same durability discipline as commit_dataset: flips
                # fsync'd before the manifest retires, or a second
                # crash could persist the unlink while losing a rename
                self._flip_all(staged)
                self._fsync_table_dirs(staged)
            import contextlib
            with contextlib.suppress(FileNotFoundError):
                os.remove(manifest)

    # ---------------------------------- C4 dataset-transaction scope
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_DATASET_COMMIT")

    def _flip_all(self, staged: list[tuple[str, dict]]) -> None:
        for table, payload in staged:
            tmp = self._pointer(table) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(payload, fh)
                # pointer CONTENT must be durable before the rename:
                # without this, a dir fsync can persist the dirent
                # while the data blocks are lost — a torn _CURRENT
                # that bricks every later open (and, once the
                # manifest has retired, nothing rolls it forward)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, self._pointer(table))

    def _fsync_table_dirs(self, staged: list[tuple[str, dict]]) -> None:
        for table, _p in staged:
            tfd = os.open(self._tdir(table), os.O_RDONLY)
            try:
                os.fsync(tfd)
            finally:
                os.close(tfd)

    def _fsync_tree(self, path: str) -> None:
        """Make a staged ``v=<n>`` data directory durable: fsync
        every file, then every directory bottom-up. Spark's local
        parquet writer goes through Hadoop's RawLocalFileSystem,
        which never fsyncs — without this walk the commit manifest
        could be durable while the data blocks it vouches for are
        not, and the roll-forward recovery would flip pointers onto
        incomplete files after a power failure. O(files) opens on
        the driver; file count per version follows the data (AQE
        sizes the keyed write's partitions), so this is a small cost
        per staged table, not O(rows)."""
        for dirpath, _dirnames, filenames in os.walk(path,
                                                     topdown=False):
            for fn in filenames:
                fd = os.open(os.path.join(dirpath, fn), os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
            dfd = os.open(dirpath, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)

    def begin_dataset_commit(self) -> None:
        """Open a dataset-transaction scope (the reference's
        ``use_dataset_transaction``, conf/linz_bde_uploader.conf:89-92;
        lib/LINZ/BdeDatabase.pm:476-492): subsequent ``write`` calls
        land their DATA normally but STAGE their pointer flips;
        ``commit_dataset`` makes every staged table visible together,
        ``abort_dataset`` discards them all (dataset rollback). The
        all-or-nothing property is a roll-forward manifest: the commit
        first durably records every pending flip in one file, then
        applies them — a crash mid-commit replays the manifest on the
        next store open, so no COMPLETED state ever exposes a partial
        dataset. This is CRASH atomicity, not read isolation: the
        flips themselves are applied sequentially, so a concurrent
        reader on the same root (another TableStore instance or
        process) polling mid-commit can transiently observe some
        tables flipped and others not. (This is weaker than the
        reference, whose dataset transaction is a real PostgreSQL
        transaction — all tables become visible atomically at
        COMMIT.) Under the single-committer contract below this
        window only matters to out-of-band readers polling the same
        root. Readers that need a consistent multi-table cut during
        a commit should pin versions explicitly
        (``read(..., version=...)`` over ``current_version`` taken
        once), or read between jobs — which the ledger's C1 job gate
        already guarantees for driver-managed work.
        Aborted/orphaned ``v=<n>`` data directories are harmless: the
        pointer never names them and the table's next write reuses the
        version number (mode=overwrite).

        SINGLE-COMMITTER CONTRACT: the scope is per TableStore
        INSTANCE and the manifest per store ROOT — one open scope per
        instance (a nested begin raises) and one committing writer
        per root at a time, which is the system's normal shape (the
        ledger's C1 job gate serializes driver jobs; the reference
        likewise funnels a job through one database session).
        Concurrent writers that must not participate in a scope
        should use their own TableStore instance on the root —
        instances are cheap and share nothing but the directory."""
        with self._staged_lock:
            if self._staged is not None:
                raise RuntimeError("dataset commit scope already open")
            self._staged = []

    def commit_dataset(self) -> None:
        with self._staged_lock:
            staged, self._staged = self._staged, None
        if staged is None:
            raise RuntimeError("no dataset commit scope open")
        if not staged:
            return
        # durability barrier ZERO: the data the manifest will vouch
        # for must hit disk before the manifest does — recovery
        # assumes "every listed data directory is complete AND
        # durable" and rolls pointers forward onto it. Spark's local
        # parquet writes are not fsync'd, so walk each staged
        # version directory here.
        for table, payload in staged:
            self._fsync_tree(os.path.join(self._tdir(table),
                                          f"v={payload['version']}"))
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump([{"table": t, "pointer": p} for t, p in staged],
                      fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path())  # the WAL record
        # fsync the directory so the rename itself is durable BEFORE
        # any flip: this is the barrier the recovery path relies on —
        # an unreadable manifest can only mean "crash before this
        # point", i.e. zero flips applied
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        self._flip_all(staged)
        # second barrier: the flips must be durable before the
        # manifest retires, or a crash could lose pointer renames
        # with no manifest left to roll them forward (pointers live
        # in per-table dirs; fsync each so the renames persist)
        self._fsync_table_dirs(staged)
        import contextlib
        with contextlib.suppress(FileNotFoundError):
            # tolerate a concurrent store open having rolled the
            # manifest forward already (flips are idempotent)
            os.remove(self._manifest_path())

    def abort_dataset(self) -> None:
        with self._staged_lock:
            if self._staged is None:
                raise RuntimeError("no dataset commit scope open")
            self._staged = None

    def dataset_scope(self, enabled: bool = True):
        """Context-manager form of the C4 scope: begin on enter,
        abort on exception, commit on clean exit; a no-op when
        ``enabled`` is False so callers can thread a config flag
        through without duplicating the begin/abort/commit
        boilerplate."""
        import contextlib

        @contextlib.contextmanager
        def _scope():
            if not enabled:
                yield
                return
            self.begin_dataset_commit()
            try:
                yield
            except BaseException:
                self.abort_dataset()
                raise
            self.commit_dataset()

        return _scope()

    def _staged_version(self, table: str) -> int | None:
        """Newest version staged for ``table`` in the open scope, so a
        second staged write to the same table (rare) stacks instead of
        colliding."""
        if self._staged is None:
            return None
        vs = [p["version"] for t, p in self._staged if t == table]
        return max(vs) if vs else None

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CURRENT")

    def _catalog_name(self, table: str, version: int) -> str:
        return f"{self._prefix}_{table}_v{version}"

    def current_version(self, table: str) -> int | None:
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)["version"]

    def versions(self, table: str) -> list[int]:
        d = self._tdir(table)
        if not os.path.isdir(d):
            return []
        return sorted(int(n[2:]) for n in os.listdir(d) if n.startswith("v="))

    def write(self, table: str, df: DataFrame, key: str | None = None,
              dataset: str | None = None,
              rows: int | None = None,
              meta: dict | None = None) -> int:
        """Write a new snapshot version and atomically commit the
        pointer. ``dataset`` is recorded as the revision comment
        (C8: ver_create_revision with the dataset timestamp).
        ``rows`` optionally records the table's row count in the
        pointer — driver-side metadata the index services use for
        size-triggered maintenance without re-counting (see
        ``row_count``); callers pass it only when they already know
        the number (no extra job is ever launched here). ``meta`` is
        an arbitrary JSON-able dict of frozen table identity (e.g. an
        index's banding parameters) readable via ``table_meta`` with
        no Spark job — the analog of the reference persisting a
        table's key columns in its control ledger rather than
        re-deriving them per upload
        (sql/01-bde_control_tables.sql:100-140)."""
        with self._staged_lock:
            base_v = max(self.current_version(table) or 0,
                         self._staged_version(table) or 0)
        new_v = base_v + 1
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        vdir = os.path.join(tdir, f"v={new_v}")
        bucketed = key is not None and key in df.columns
        if bucketed and self.use_catalog_buckets:
            name = self._catalog_name(table, new_v)
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {name}")
            (df.repartition(self.n_buckets, F.col(key))
               .write.mode("overwrite").format("parquet")
               .bucketBy(self.n_buckets, key).sortBy(key)
               .option("path", vdir).saveAsTable(name))
        elif bucketed:
            # hash-cluster by merge key for co-located future merges;
            # no partition count, so AQE sizes the files from the data
            (df.repartition(F.col(key))
               .sortWithinPartitions(key)
               .write.mode("overwrite").parquet(vdir))
        else:
            df.write.mode("overwrite").parquet(vdir)
        payload = {"version": new_v, "key": key, "dataset": dataset,
                   "rows": rows, "meta": meta,
                   "catalog": bucketed and self.use_catalog_buckets}
        with self._staged_lock:
            if self._staged is not None:
                # dataset-transaction scope: data is on disk but the
                # pointer flip waits for commit_dataset — readers keep
                # seeing the pre-dataset snapshot until then
                self._staged.append((table, payload))
                return new_v
        # Same durability barriers as the dataset-commit path: the
        # v=N data tree must be durable before any pointer names it
        # (Spark's local parquet writer never fsyncs), and the
        # pointer content must be durable before the rename — else a
        # power failure can leave a torn _CURRENT or a pointer
        # vouching for lost data blocks.
        self._fsync_tree(vdir)
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._pointer(table))  # atomic commit
        return new_v

    def row_count(self, table: str) -> int | None:
        """The ``rows`` metadata of the current version, if the writer
        recorded one (None otherwise — absence means "unknown", never
        zero). Lets size-triggered maintenance (index auto-compact)
        compare delta growth against the base from pointer metadata
        alone, with no counting job per ingest."""
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh).get("rows")

    def table_meta(self, table: str) -> dict | None:
        """The ``meta`` dict of the current version, if the writer
        recorded one (None otherwise). Pointer-file read only — no
        Spark job; maintenance paths use this to recover a table's
        frozen identity (index banding parameters) instead of
        trusting the caller to re-supply it correctly."""
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh).get("meta")

    def read(self, spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} has no committed version")
        name = self._catalog_name(table, v)
        if self.use_catalog_buckets and spark.catalog.tableExists(name):
            return spark.table(name)
        return spark.read.parquet(os.path.join(self._tdir(table), f"v={v}"))

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def current_dataset(self, table: str) -> str | None:
        """The ``dataset`` revision comment of the current version
        (C8 lineage) — None when the table is absent or the version
        predates dataset stamping. Streaming view maintenance uses
        this as its replay guard: a view whose stamp already equals
        the incoming dataset has incorporated that delta."""
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh).get("dataset")

    def compact(self, spark: SparkSession, table: str,
                key: str | None = None) -> int:
        """Rewrite the current version into a fresh, well-sized one —
        the small-files maintenance pass. Streaming ``foreachBatch``
        sinks and incremental appends accrete one-file-per-trigger
        parquet directories; at scale that means listing millions of
        footers per read. Compaction is just a read + ``write`` (the
        store's normal repartition/bucket path), committed through the
        same atomic pointer — readers never see a partial rewrite, and
        the old layout remains a revision until vacuumed. The
        pointer's ``dataset`` revision comment (C8 lineage) is carried
        from the current version — maintenance must not erase which
        dataset a table's contents came from. Returns the new version
        number."""
        df = self.read(spark, table)
        with open(self._pointer(table)) as fh:
            meta = json.load(fh)
        meta_key = key if key is not None else meta.get("key")
        return self.write(table, df, key=meta_key,
                          dataset=meta.get("dataset"),
                          rows=meta.get("rows"),  # rewrite, same rows
                          meta=meta.get("meta"))  # identity carried

    def vacuum(self, table: str, keep: int = 2,
               spark: SparkSession | None = None) -> list[int]:
        """C7: drop old revisions (the reference's VACUUM ANALYSE /
        -maintain-database analog). Pass ``spark`` to also drop the
        catalog entries of bucketed versions."""
        cur = self.current_version(table)
        dropped = []
        for v in self.versions(table):
            if cur is not None and v <= cur - keep:
                shutil.rmtree(os.path.join(self._tdir(table), f"v={v}"))
                if spark is not None:
                    spark.sql(
                        f"DROP TABLE IF EXISTS {self._catalog_name(table, v)}")
                dropped.append(v)
        return dropped
