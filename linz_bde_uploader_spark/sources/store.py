"""Keyed table store: Parquet version directories — full snapshots,
or a snapshot base plus delta segments — with an atomic
current-version pointer.

Re-expresses the reference's "atomic replace with revision semantics"
(C4/C8: per-dataset transactions, table_version revisions —
sql/02-bde_control_functions.sql.in:2880-2991) without PostgreSQL
transactions: each write lands in a new ``v=<n>`` directory; a tiny
``_CURRENT`` pointer file is renamed into place only after the write
succeeds. Readers resolve the pointer first, so they always see a
complete version; old versions remain as revisions until vacuumed.

A keyed load merged onto the version it read (``write(onto=...)``)
lands only its changed rows, as a delta segment: the reference's
row-change revisions (``table_version._ver_apply_changes``,
``ver_create_revision``). The segment holds every row the load
tagged, each with its action in ``_action``: I, U, X and null-update
(0) rows, and a key tombstone per D row, so it holds every new row of
each key it names. A ``_CHAIN`` record inside the segment's own
directory, and nothing else, names the chain ``[base, seg1, ...]``,
the key and the base schema; the pointer names only the version.
``read`` folds the chain in order: the state anti-joined with a
segment's keys, unioned with its non-tombstone rows. A chain folds
back into a full snapshot once it would pass a fixed bound
(``MAX_SEGMENTS`` segments, or segment rows over ``FOLD_RATIO`` of the
table's rows); every write that names no version it merged onto (EP1,
views, the index services, ``compact``, streaming) is a full
snapshot.

Scale design: snapshot files are written hash-clustered by the merge
key (``repartition(key)`` + sorted within partitions) with no fixed
file count: AQE coalesces the shuffle, so the number of files follows
the data — one file for a small table, not one per bucket. A segment
is written as its plan produces it, with no repartition. ``n_buckets``
applies only with ``use_catalog_buckets=True``, where each version is
additionally registered as a BUCKETED catalog table
(``bucketBy(n, key).sortBy(key)``), which is what lets Catalyst
actually elide the shuffle (and sort) when two store tables join on
the key — plain parquet directories carry no bucketing metadata, so
without the catalog the files are clustered but the join still
exchanges. On a real cluster the catalog is the metastore; locally it
is the session catalog. A catalog store writes snapshots only: a
merged read has no bucketing to offer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linz_bde_uploader_spark.operators.merge import ACTION_COL, ACTION_DELETE

# The fold bound: a load merged onto a chain that already holds
# MAX_SEGMENTS segments, or whose segments already hold more than
# FOLD_RATIO of the table's rows, writes a full snapshot instead of
# another segment. A segment's size is known only once it has landed,
# so the row bound reads the chain as recorded. scripts/
# chain_read_cost.py sets MAX_SEGMENTS: with 2% level-5 loads on 2k
# and 200k rows (4 cores), each segment adds a roughly fixed 0.1 s to
# every read, so the mean load cost over a fold cycle is lowest at 1-2
# segments and reaches the cost of writing every load as a snapshot at
# 6-8. The same script found a segment's read cost flat in its size up
# to the whole table at those sizes; FOLD_RATIO (dedup_index's
# auto_compact_ratio) bounds the rows a read scans, and the shuffle an
# anti join past the broadcast threshold costs, at scale.
MAX_SEGMENTS = 2
FOLD_RATIO = 0.25
# the record a segment write leaves in its own v=<n> directory (Spark
# skips files whose names start with "_"), so an explicit read of that
# version resolves its chain
CHAIN_RECORD = "_CHAIN"
_SEG_KEY = "_seg_key"


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: the schema
    Spark gives a parquet file it writes (file sources store every
    column as optional), so a read under it matches inference."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_nullable(f.dataType), True,
                          f.metadata) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType), True)
    return dt


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

    def _latest_payload(self, table: str) -> dict | None:
        """The pointer ``table``'s next write follows: the newest one
        staged for it in the open scope, else the committed one. So a
        second staged write to the same table (rare) stacks on, and
        extends the chain of, the first instead of colliding. Call
        with ``_staged_lock`` held."""
        staged = [p for t, p in self._staged or [] if t == table]
        return staged[-1] if staged else self._payload(table)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CURRENT")

    def _catalog_name(self, table: str, version: int) -> str:
        return f"{self._prefix}_{table}_v{version}"

    def _payload(self, table: str) -> dict | None:
        """The current pointer's payload, None when the table has no
        committed version."""
        p = self._pointer(table)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def current_version(self, table: str) -> int | None:
        payload = self._payload(table)
        return None if payload is None else payload["version"]

    def versions(self, table: str) -> list[int]:
        d = self._tdir(table)
        if not os.path.isdir(d):
            return []
        return sorted(int(n[2:]) for n in os.listdir(d) if n.startswith("v="))

    def write(self, table: str, df: DataFrame, key: str | None = None,
              dataset: str | None = None,
              rows: int | None = None,
              meta: dict | None = None,
              clustered: Callable[..., DataFrame] | None = None,
              verdict: Callable[[Callable[[], DataFrame]], int | None]
              | None = None,
              onto: int | None = None) -> int:
        """Write a new version and atomically commit the pointer.
        ``dataset`` is recorded as the revision comment (C8:
        ver_create_revision with the dataset timestamp). ``rows``
        optionally records the table's row count in the pointer —
        driver-side metadata the index services and the fold bound use
        without re-counting (see ``row_count``); callers pass it only
        when they already know the number (no extra job is ever
        launched here). ``meta`` is an arbitrary JSON-able dict of
        frozen table identity (e.g. an index's banding parameters)
        readable via ``table_meta`` with no Spark job — the analog of
        the reference persisting a table's key columns in its control
        ledger rather than re-deriving them per upload
        (sql/01-bde_control_tables.sql:100-140).

        ``onto`` names the version ``df`` was merged onto, and makes
        ``df`` a tagged frame: the table's columns plus each row's
        action in ``_action``. When ``onto`` is the version this write
        follows (the committed one, or the newest staged in the open
        scope), the frame is keyed with the base's schema and the
        chain is within the fold bound (``MAX_SEGMENTS``,
        ``FOLD_RATIO`` of the pointer's ``rows``), the write lands a
        delta segment and its ``CHAIN_RECORD``: ``clustered(frame,
        segment=True)`` must keep every tagged row with its tag (a D
        row is a key tombstone, every other row one of its key's new
        rows). Every other write — no ``onto``, a stale ``onto``, a
        catalog store, a pointer without ``rows`` or ``schema`` — is a
        full snapshot of ``clustered(frame)``, which must then be the
        new state without the tag; a full snapshot folds any chain.

        ``clustered`` maps the frame to the frame the files receive.
        For a snapshot it runs after the ``repartition(key)``, and a
        segment has no exchange of its own, so an ``Observation`` it
        places sits in the write job's result stage, whose accumulator
        updates Spark applies once per partition even when a stage is
        retried. ``verdict`` runs after the data lands and before the
        pointer is staged or flipped. It receives a zero-argument
        callable that returns the written version as ``read`` would
        (no inference job), so a verdict that never reads it pays
        neither the chain-record read nor the fold plan; its return
        value is the pointer's ``rows`` (in place of ``rows``), and an
        exception it raises propagates with the pointer untouched —
        the new ``v=<n>`` directory is then an orphan that the table's
        next write overwrites (it reuses the version number). Writes the
        verdict makes to other tables (a base table's maintained
        views) are staged or flipped before this table's pointer.

        A snapshot's pointer also records the schema of the written
        files (a segment's chain record records its base's), so
        ``read`` of the current version skips parquet schema inference
        (a Spark job per read)."""
        spark = df.sparkSession
        with self._staged_lock:
            prev = self._latest_payload(table)
        new_v = (prev["version"] if prev else 0) + 1
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        vdir = os.path.join(tdir, f"v={new_v}")
        bucketed = key is not None and key in df.columns
        if clustered is None:
            def clustered(d, segment=False):
                return d
        record = self._segment_chain(table, prev, df, key, onto)
        schema = None
        if record is not None:
            counted = Observation()
            (clustered(df, segment=True)
             .observe(counted, F.count(F.lit(1)).alias("n"))
             .write.mode("overwrite").parquet(vdir))
            with open(os.path.join(vdir, CHAIN_RECORD), "w") as fh:
                json.dump({**record, "chain": record["chain"] + [new_v],
                           "chain_rows": (record["chain_rows"]
                                          + counted.get["n"])}, fh)
        else:
            if bucketed and self.use_catalog_buckets:
                name = self._catalog_name(table, new_v)
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                out = clustered(df.repartition(self.n_buckets, F.col(key)))
                (out.write.mode("overwrite").format("parquet")
                   .bucketBy(self.n_buckets, key).sortBy(key)
                   .option("path", vdir).saveAsTable(name))
            elif bucketed:
                # hash-cluster by merge key for co-located future
                # merges; no partition count, so AQE sizes the files
                # from the data
                out = (clustered(df.repartition(F.col(key)))
                       .sortWithinPartitions(key))
                out.write.mode("overwrite").parquet(vdir)
            else:
                out = clustered(df)
                out.write.mode("overwrite").parquet(vdir)
            schema = _as_nullable(out.schema).jsonValue()
        payload = {"version": new_v, "key": key, "dataset": dataset,
                   "rows": rows, "meta": meta,
                   "catalog": bucketed and self.use_catalog_buckets}
        if schema is not None:
            payload["schema"] = schema
        if verdict is not None:
            payload["rows"] = verdict(
                lambda: self._resolve(spark, table, new_v, schema))
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

    def _segment_chain(self, table: str, prev: dict | None,
                       df: DataFrame, key: str | None, onto: int | None
                       ) -> dict | None:
        """The chain record of version ``onto`` (a snapshot's is its
        one-version chain) when a write of ``df`` merged onto it
        extends that chain with a delta segment, None when the write
        must be a full snapshot (see ``write``)."""
        if (onto is None or prev is None or onto != prev["version"]
                or key is None or self.use_catalog_buckets
                or prev.get("rows") is None or prev.get("key") != key):
            return None
        record = self._chain_record(table, onto) or {
            "key": key, "schema": prev.get("schema"), "chain": [onto],
            "chain_rows": 0}
        if (record["schema"] is None
                or len(record["chain"]) > MAX_SEGMENTS
                or record["chain_rows"] > FOLD_RATIO * prev["rows"]):
            return None
        fields = _as_nullable(df.schema).fields
        base = T.StructType.fromJson(record["schema"]).fields
        if ([(f.name, f.dataType) for f in fields]
                != [(f.name, f.dataType) for f in base]
                + [(ACTION_COL, T.StringType())]):
            return None
        return record

    def row_count(self, table: str) -> int | None:
        """The ``rows`` metadata of the current version, if the writer
        recorded one (None otherwise — absence means "unknown", never
        zero). Lets size-triggered maintenance (index auto-compact)
        compare delta growth against the base from pointer metadata
        alone, with no counting job per ingest."""
        payload = self._payload(table)
        return None if payload is None else payload.get("rows")

    def table_meta(self, table: str) -> dict | None:
        """The ``meta`` dict of the current version, if the writer
        recorded one (None otherwise). Pointer-file read only — no
        Spark job; maintenance paths use this to recover a table's
        frozen identity (index banding parameters) instead of
        trusting the caller to re-supply it correctly."""
        payload = self._payload(table)
        return None if payload is None else payload.get("meta")

    def read(self, spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
        """The table at ``version``, the current one by default. A
        current snapshot reads under the schema its pointer recorded,
        and a segment version under its chain record's, which starts
        no Spark job; an explicit snapshot ``version`` and a pointer
        written before pointers carried a schema infer it from the
        parquet footers.

        A segment version's chain ``[base, seg1, ...]`` is folded in
        order: for each segment, the state so far anti-joined
        (null-safe) with the segment's keys, unioned with its rows
        that are not D tombstones, in the base's column order — the
        same rows as the full snapshot the load would otherwise have
        written. The anti join carries no broadcast hint: Spark
        broadcasts a segment under its size threshold and sort-merges
        a larger one."""
        if version is None:
            payload = self._payload(table)
            if payload is None:
                raise FileNotFoundError(
                    f"table {table} has no committed version")
            return self._resolve(spark, table, payload["version"],
                                 payload.get("schema"))
        return self._resolve(spark, table, version)

    def _chain_record(self, table: str, version: int) -> dict | None:
        """The ``CHAIN_RECORD`` (``key``, base ``schema``, ``chain``,
        ``chain_rows``) a segment write left in ``version``'s
        directory, None for a snapshot version."""
        path = os.path.join(self._tdir(table), f"v={version}",
                            CHAIN_RECORD)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def _chain(self, table: str, version: int) -> list[int]:
        """The versions a read of ``version`` folds, base first: its
        chain record's chain, ``[version]`` for a snapshot."""
        return (self._chain_record(table, version)
                or {"chain": [version]})["chain"]

    def _resolve(self, spark: SparkSession, table: str, version: int,
                 schema: dict | None = None) -> DataFrame:
        """``version`` of ``table``: a snapshot's directory, under
        ``schema`` (its pointer's) when given, or a segment version's
        chain folded under its chain record's schema (see ``read``)."""
        record = self._chain_record(table, version)
        if record is None:
            return self._read(spark, table, version, schema and
                              T.StructType.fromJson(schema))
        schema = T.StructType.fromJson(record["schema"])
        segment = T.StructType(
            schema.fields + [T.StructField(ACTION_COL, T.StringType())])
        key = record["key"]
        on = F.expr(f"`{key}` <=> {_SEG_KEY}")
        upsert = F.expr(f"NOT ({ACTION_COL} <=> '{ACTION_DELETE}')")
        base, *segments = record["chain"]
        state = self._read(spark, table, base, schema)
        for v in segments:
            seg = self._read(spark, table, v, segment)
            keys = seg.select(F.col(key).alias(_SEG_KEY))
            state = (state.join(keys, on, "left_anti")
                     .union(seg.filter(upsert).select(*schema.names)))
        return state

    def _read(self, spark: SparkSession, table: str, version: int,
              schema: T.StructType | None) -> DataFrame:
        """``version``'s directory of ``table``, under ``schema`` when
        given."""
        name = self._catalog_name(table, version)
        if self.use_catalog_buckets and spark.catalog.tableExists(name):
            return spark.table(name)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(os.path.join(self._tdir(table), f"v={version}"))

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def current_dataset(self, table: str) -> str | None:
        """The ``dataset`` revision comment of the current version
        (C8 lineage) — None when the table is absent or the version
        predates dataset stamping. Streaming view maintenance uses
        this as its replay guard: a view whose stamp already equals
        the incoming dataset has incorporated that delta."""
        payload = self._payload(table)
        return None if payload is None else payload.get("dataset")

    def compact(self, spark: SparkSession, table: str,
                key: str | None = None) -> int:
        """Rewrite the current version into a fresh, well-sized one —
        the small-files maintenance pass. Streaming ``foreachBatch``
        sinks and incremental appends accrete one-file-per-trigger
        parquet directories; at scale that means listing millions of
        footers per read. Compaction is just a read + ``write`` (the
        store's normal repartition/bucket path), committed through the
        same atomic pointer — readers never see a partial rewrite, and
        the old layout remains a revision until vacuumed. It is also
        the explicit fold: the new version is a full snapshot, with no
        chain record. The pointer's ``dataset`` revision comment (C8
        lineage) is carried from the current version — maintenance
        must not erase which dataset a table's contents came from.
        Returns the new version number."""
        df = self.read(spark, table)
        meta = self._payload(table)
        meta_key = key if key is not None else meta.get("key")
        return self.write(table, df, key=meta_key,
                          dataset=meta.get("dataset"),
                          rows=meta.get("rows"),  # rewrite, same rows
                          meta=meta.get("meta"))  # identity carried

    def vacuum(self, table: str, keep: int = 2,
               spark: SparkSession | None = None) -> list[int]:
        """C7: drop old revisions (the reference's VACUUM ANALYSE /
        -maintain-database analog): every version at or below the
        current one minus ``keep`` that no newer version's chain names
        (a kept segment needs its base and earlier segments). Nothing
        above the current version is touched: it may be a write
        another instance has staged or is landing, and an orphan there
        (a rejected, aborted or crashed load) is overwritten by the
        table's next write. Pass ``spark`` to also drop the catalog
        entries of bucketed versions."""
        cur = self.current_version(table)
        if cur is None:
            return []
        versions = self.versions(table)
        named = set()
        for v in versions:
            if v > cur - keep:
                named.update(self._chain(table, v))
        dropped = []
        for v in versions:
            if v <= cur - keep and v not in named:
                shutil.rmtree(os.path.join(self._tdir(table), f"v={v}"))
                if spark is not None:
                    spark.sql(
                        f"DROP TABLE IF EXISTS {self._catalog_name(table, v)}")
                dropped.append(v)
        return dropped
