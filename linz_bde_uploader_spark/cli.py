"""CLI mirroring ``bin/linz_bde_uploader.pl``
(/root/reference/bin/linz_bde_uploader.pl:78-102):

  -full / -incremental / -full-incremental / -rebuild / -before <ts>
  -dry-run / -purge / -remove-zombie / -override-locks / -tables ...

Usage:
  python -m linz_bde_uploader_spark.cli \\
      --repository /path/bde_repository --store /path/store \\
      --control /path/control --tables-conf tables.conf -full
"""

from __future__ import annotations

import argparse
import logging
import sys

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.driver import BdeUploader, UploadConfig
from linz_bde_uploader_spark.session import get_spark
from linz_bde_uploader_spark.sources.repository import BdeRepository
from linz_bde_uploader_spark.sources.store import TableStore


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="linz-bde-uploader-spark")
    # either the explicit four paths OR a layered reference conf via
    # -config-path (-c) / -config-extension (-x)
    # (bin/linz_bde_uploader.pl:80-81); conf keys used: bde_repository,
    # bde_tables_config, spark_store_path, spark_control_path (the two
    # spark_* keys replace the reference's db_connection/db_schema —
    # the only lines a migrating user adds to their existing conf)
    p.add_argument("--repository", default=None)
    p.add_argument("--store", default=None)
    p.add_argument("--control", default=None)
    p.add_argument("--tables-conf", default=None)
    p.add_argument("-config-path", "--config-path", "-c", dest="config_path",
                   default=None, metavar="CFGPATH")
    p.add_argument("-config-extension", "--config-extension", "-x",
                   dest="config_extension", default=None, metavar="EXT")
    p.add_argument("-keep-files", "--keep-files", dest="keep_files",
                   action="store_true",
                   help="retain staged working data under <store>/scratch "
                        "(bin/linz_bde_uploader.pl:93)")
    # reference flags (bin/linz_bde_uploader.pl:78-102); single-dash
    # aliases kept for parity
    p.add_argument("-full", "--full", action="store_true",
                   help="apply latest level-0 snapshot")
    p.add_argument("-incremental", "--incremental", action="store_true",
                   help="apply pending level-5 CDC datasets")
    p.add_argument("-full-incremental", "--full-incremental",
                   dest="full_incremental", action="store_true",
                   help="apply level 0 as a keyed table diff")
    p.add_argument("-rebuild", "--rebuild", action="store_true",
                   help="latest level 0 plus all subsequent level 5")
    p.add_argument("-before", "--before", metavar="YYYYMMDDhhmmss")
    p.add_argument("-dry-run", "--dry-run", dest="dry_run", action="store_true")
    p.add_argument("-purge", "--purge", action="store_true",
                   help="purge finished jobs older than 14 days")
    p.add_argument("-remove-zombie", "--remove-zombie", dest="remove_zombie",
                   action="store_true")
    p.add_argument("-override-locks", "--override-locks", dest="override_locks",
                   action="store_true")
    p.add_argument("-tables", "--tables", nargs="*", default=None,
                   help="restrict to these tables (P3 subset filter)")
    p.add_argument("-exclude-tables", "--exclude-tables", nargs="*", default=None)
    p.add_argument("-parallel-tables", "--parallel-tables",
                   dest="parallel_tables", type=int, default=1,
                   help="tables loaded concurrently within a dataset "
                        "(extension; 1 = reference-faithful sequential)")
    p.add_argument("-enable-hooks", "--enable-hooks", dest="enable_hooks",
                   action="store_true")
    p.add_argument("-skip-postupload-tasks", "--skip-postupload-tasks",
                   dest="skip_postupload", action="store_true",
                   help="skip X1 post-upload/post-level0 functions")
    p.add_argument("-full-timeout", "--full-timeout", dest="full_timeout",
                   type=float, default=0.0, metavar="HOURS",
                   help="level-0 runtime budget (0 = unlimited)")
    p.add_argument("-inc-timeout", "--inc-timeout", dest="inc_timeout",
                   type=float, default=0.0, metavar="HOURS",
                   help="level-5 runtime budget (0 = unlimited)")
    p.add_argument("-maintain-database", "--maintain-database",
                   dest="maintain_db", action="store_true",
                   help="vacuum old store revisions after the run (C7)")
    p.add_argument("-listing-file", "--listing-file", dest="listing_file",
                   default=None, help="also log to this file")
    p.add_argument("-log-level", "--log-level", dest="log_level",
                   default=None, choices=["debug", "info", "warning", "error"])
    p.add_argument("-verbose", "--verbose", action="store_true")
    p.add_argument("-version", "--version", action="version",
                   version="%(prog)s 1.0 (capabilities of linz-bde-uploader 2.11.1)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    level = (getattr(logging, args.log_level.upper()) if args.log_level
             else logging.INFO if args.verbose else logging.WARNING)
    handlers = [logging.StreamHandler()]
    if args.listing_file:
        handlers.append(logging.FileHandler(args.listing_file))
    logging.basicConfig(level=level, handlers=handlers,
                        format="%(asctime)s %(levelname)s %(message)s")
    # mutual exclusion (bin/linz_bde_uploader.pl:123-128)
    if args.full_incremental and args.rebuild:
        print("Cannot use -full-incremental and -rebuild together",
              file=sys.stderr)
        return 2
    if not any([args.full, args.incremental, args.full_incremental,
                args.rebuild, args.purge, args.remove_zombie, args.dry_run]):
        print("Nothing to do: pass -full, -incremental, -full-incremental, "
              "-rebuild, -purge or -remove-zombie", file=sys.stderr)
        return 2

    conf: dict[str, str] = {}
    conf_upload_cfg = None
    log_handlers: list[logging.Handler] = []
    if args.config_path:
        from linz_bde_uploader_spark.config import (
            ConfigError, conf_table_lists, load_conf, tables_conf_path,
            upload_config_from_conf,
        )
        try:
            conf = load_conf(args.config_path,
                             extension=args.config_extension)
        except ConfigError as e:
            print(e, file=sys.stderr)
            return 1
        args.repository = args.repository or conf.get("bde_repository")
        args.store = args.store or conf.get("spark_store_path")
        args.control = args.control or conf.get("spark_control_path")
        args.tables_conf = args.tables_conf or tables_conf_path(
            conf, args.config_path)
        conf_upload_cfg = upload_config_from_conf(
            conf, enable_hooks=args.enable_hooks,
            keep_files=args.keep_files)
        if conf.get("log_settings") is not None and not args.dry_run:
            # log_settings block (bin/linz_bde_uploader.pl:184-213);
            # dry runs stay on the basic stderr config like the
            # reference (bin:176 "turn off config logging if dry run")
            from linz_bde_uploader_spark.control.logconf import (
                apply_log_settings,
            )
            log_handlers = apply_log_settings(conf["log_settings"])
    missing = [n for n, v in (("--repository", args.repository),
                              ("--store", args.store),
                              ("--control", args.control),
                              ("--tables-conf", args.tables_conf))
               if not v]
    if missing:
        print("missing " + ", ".join(missing)
              + " (pass them or provide -config-path)", file=sys.stderr)
        return 2

    try:
        with open(args.tables_conf) as fh:
            tables = parse_tables_conf(fh.read())
    except OSError as e:
        print(f"Cannot open tables configuration: {e}", file=sys.stderr)
        return 1
    # P3 table subset/exclusion filters (lib/LINZ/BdeUpload.pm:385-405);
    # CLI lists override the conf's include/exclude_tables heredocs
    inc, exc = (None, None)
    if conf:
        inc, exc = conf_table_lists(conf)
    if args.tables or inc:
        keep = {t.lower() for t in (args.tables or inc)}
        tables = [t for t in tables if t.name in keep or t.l5_change_table]
    if args.exclude_tables or exc:
        drop = {t.lower() for t in (args.exclude_tables or exc)}
        tables = [t for t in tables if t.name not in drop]

    ledger = Ledger(args.control)

    def clean_scratch() -> None:
        # reference _clean_scratch_dirs (lib/LINZ/BdeUpload.pm:490-505):
        # both maintenance entry points drop retained working files of
        # non-active jobs unless -keep-files; the Spark analog is the
        # single <store>/scratch tree the -keep-files snapshots go to
        import os
        import shutil

        if args.keep_files or ledger.any_active():
            return
        shutil.rmtree(os.path.join(args.store, "scratch"),
                      ignore_errors=True)

    if args.remove_zombie:
        # RemoveZombiedJobs = expired-lock release + scratch cleanup
        # (lib/LINZ/BdeUpload.pm:508-518)
        dead = ledger.remove_zombies()
        print(f"removed {len(dead)} zombie job(s)")
        clean_scratch()
    if args.purge:
        # PurgeOldJobs = expired-lock release + old-job removal +
        # scratch cleanup (lib/LINZ/BdeUpload.pm:520-532)
        ledger.remove_zombies()
        n = ledger.purge_old_jobs()
        print(f"purged {n} old job(s)")
        clean_scratch()
    if not any([args.full, args.incremental, args.full_incremental,
                args.rebuild, args.dry_run]):
        return 0

    spark = get_spark("linz-bde-uploader")
    store = TableStore(args.store)
    if conf_upload_cfg is not None:
        # conf-derived knobs; explicit CLI flags still win
        cfg = conf_upload_cfg
        cfg.override_locks = args.override_locks
        cfg.parallel_tables = args.parallel_tables
        if args.full_timeout:
            cfg.max_level0_runtime_hours = args.full_timeout
        if args.inc_timeout:
            cfg.max_level5_runtime_hours = args.inc_timeout
    else:
        cfg = UploadConfig(enable_hooks=args.enable_hooks,
                           max_level0_runtime_hours=args.full_timeout,
                           max_level5_runtime_hours=args.inc_timeout,
                           override_locks=args.override_locks,
                           keep_files=args.keep_files,
                           parallel_tables=args.parallel_tables)
    uploader = BdeUploader(
        spark, BdeRepository(args.repository), store, ledger, tables, cfg)
    if args.skip_postupload:
        uploader.post_upload_functions = []
        uploader.post_level0_functions = []
    try:
        results = uploader.apply_updates(
            level0=args.full, level5=args.incremental or args.rebuild,
            full_incremental=args.full_incremental, rebuild=args.rebuild,
            before=args.before, dry_run=args.dry_run)
    except RuntimeError as e:
        # single-job gate (C1): refuse cleanly, like the reference
        print(f"Upload not started: {e}", file=sys.stderr)
        _close_log(log_handlers)
        return 1
    if args.maintain_db:
        # the reference's VACUUM ANALYSE pass: compact the current
        # snapshot (small-files rewrite, and the fold of a delta
        # chain), then drop old revisions. It runs after
        # apply_updates has returned, outside the ledger's job gate,
        # so it assumes no other writer on the store: compact writes
        # the table's next version like any load would
        # (TableStore.begin_dataset_commit's single-committer
        # contract); vacuum itself never touches a version above the
        # current one.
        for t in tables:
            if not t.l5_change_table and store.exists(t.name):
                store.compact(spark, t.name)
                store.vacuum(t.name, spark=spark)
    if not results:
        print("No dataset updates")  # idempotent re-run message (t:713-725)
    for r in results:
        s = r.stats
        detail = (f" I={s.ninsert} U={s.nupdate} 0={s.nnullupdate} D={s.ndelete}"
                  if s else "")
        msg = f" ({r.message})" if r.message else ""
        print(f"{r.status:8s} {r.table} dataset={r.dataset} level={r.level}{detail}{msg}")
    _close_log(log_handlers)
    return 1 if any(r.status == "error" for r in results) else 0


def _close_log(handlers: list[logging.Handler]) -> None:
    """Detach log_settings handlers, flushing any buffered
    error-email (the reference's Log::Dispatch buffered=1 semantics:
    one message per job, at job end)."""
    if not handlers:
        return
    from linz_bde_uploader_spark.control.logconf import close_log_handlers
    close_log_handlers(logging.getLogger("linz_bde_uploader_spark"), handlers)


if __name__ == "__main__":
    sys.exit(main())
