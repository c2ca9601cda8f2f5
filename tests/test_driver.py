"""End-to-end driver tests: full upload lifecycle through BdeUploader
and the CLI, reproducing the reference e2e scenarios
(t/linz_bde_uploader.t golden states)."""

import pytest

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.driver import BdeUploader, UploadConfig
from linz_bde_uploader_spark.sources.repository import BdeRepository
from linz_bde_uploader_spark.sources.store import TableStore
from tests.fixtures import write_repository

TABLES_CONF = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
"""


@pytest.fixture()
def env(spark, tmp_path):
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    up = BdeUploader(spark, repo, store, ledger, tables)
    return up, store, ledger


def test_full_then_incremental(spark, env):
    up, store, ledger = env
    r0 = up.apply_updates(level0=True)
    assert [x.status for x in r0] == ["loaded"]
    assert (r0[0].stats.ninsert, r0[0].stats.ndelete) == (3, 0)
    assert store.read(spark, "crs_parcel_bndry").count() == 3

    r5 = up.apply_updates(level5=True)
    r = r5[-1]
    assert r.status == "loaded" and r.level == "5"
    s = r.stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    rows = {x.audit_id: x.sequence for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}

    # idempotent re-run: watermarks advance -> nothing to do
    up2 = BdeUploader(spark, up.repo, store, ledger, up.tables)
    assert up2.apply_updates(level0=True, level5=True) == []

    # job ledger closed cleanly
    assert not ledger.any_active()
    assert len(ledger.stats_rows()) == 2


def test_rebuild_runs_l0_then_l5(spark, env):
    up, store, ledger = env
    results = up.apply_updates(rebuild=True)
    assert [r.level for r in results] == ["0", "5"]
    assert store.read(spark, "crs_parcel_bndry").count() == 5


def test_before_filter_excludes_new_datasets(spark, env):
    """-before excludes datasets not strictly older (S2)."""
    up, store, ledger = env
    assert up.apply_updates(level0=True, before="20160601000000") == []
    r = up.apply_updates(level0=True, before="20160601000001")
    assert len(r) == 1


def test_dry_run_changes_nothing(spark, env):
    up, store, ledger = env
    r = up.apply_updates(level0=True, level5=True, dry_run=True)
    assert all(x.status == "skipped" for x in r)
    assert not store.exists("crs_parcel_bndry")


def test_incomplete_dataset_skipped(spark, env, tmp_path):
    import os
    up, store, ledger = env
    os.remove(os.path.join(up.repo.root, "level_0", "20160601000000", "pab1.crs"))
    r = up.apply_updates(level0=True)
    # dataset has no pab1 -> file listing misses the tag entirely
    assert r == [] or all(x.status == "skipped" for x in r)


def test_hooks_fire(spark, env, tmp_path):
    up, store, ledger = env
    marker = tmp_path / "hook.log"
    up.config.enable_hooks = True
    up.config.hooks = {
        "start_dataset": [f"echo start {{dataset}} level={{level}} >> {marker}"],
        "finish_dataset": [f"echo finish {{dataset}} >> {marker}"],
    }
    up.apply_updates(level0=True)
    content = marker.read_text()
    assert "start 20160601000000 level=0" in content
    assert "finish 20160601000000" in content


def test_post_functions_run_in_name_order(spark, env):
    up, store, ledger = env
    calls = []

    def b_second(job):
        calls.append("b")

    def a_first(job):
        calls.append("a")

    up.post_level0_functions = sorted([b_second, a_first], key=lambda f: f.__name__)
    up.apply_updates(level0=True)
    assert calls == ["a", "b"]


def test_tolerance_error_aborts_table(spark, env, tmp_path):
    """A 5->0 row collapse breaches row_tol=0.20 -> error, no commit."""
    import os
    from tests.fixtures import PAB1_L5, XAUD, write_crs
    up, store, ledger = env
    up.apply_updates(rebuild=True)
    v_before = store.current_version("crs_parcel_bndry")
    # craft a later L5 dataset deleting ALL rows (0 < ceil(5*0.2))
    newds = os.path.join(up.repo.root, "level_5", "20160602000000")
    l5 = PAB1_L5[:PAB1_L5.index("{CRS-DATA}") + len("{CRS-DATA}") + 1]
    xa_head = XAUD[:XAUD.index("{CRS-DATA}") + len("{CRS-DATA}") + 1]
    xa = xa_head + "".join(
        f"{i}|crs_parcel_bndry|{k}|D|2016-06-02 00:00:00|\n"
        for i, k in enumerate([100, 80401148, 80401149, 300, 400]))
    write_crs(os.path.join(newds, "pab1.crs"), l5)
    write_crs(os.path.join(newds, "xaud.crs"), xa)
    r = up.apply_updates(level5=True)
    assert r[-1].status == "error"
    assert store.current_version("crs_parcel_bndry") == v_before  # no commit


def test_full_incremental_applies_diff(spark, env):
    """EP3: a second level-0 snapshot applied with -full-incremental
    computes and applies the full-table diff (J5) instead of
    delete+insert — stats count only actual changes."""
    from tests.fixtures import PAB1_L0, write_crs
    import os

    up, store, ledger = env
    up.apply_updates(level0=True)

    # new complete snapshot: seq 1->10 on 80401148, 80401150 deleted,
    # 80401151 inserted
    v2 = (PAB1_L0
          .replace("4457328|1|29694591|Y|80401148|",
                   "4457328|10|29694591|Y|80401148|")
          .replace("4457326|3|11960041|Y|80401150|\n",
                   "9999999|4|11111111|N|80401151|\n"))
    write_crs(os.path.join(up.repo.root, "level_0", "20160701000000",
                           "pab1.crs"), v2)
    results = up.apply_updates(full_incremental=True)
    r = [x for x in results if x.table == "crs_parcel_bndry"][0]
    assert r.status == "loaded"
    assert (r.stats.ninsert, r.stats.nupdate, r.stats.ndelete) == (1, 1, 1)
    rows = {x.audit_id: x.sequence
            for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {80401148: 10, 80401149: 2, 80401151: 4}


def test_failed_table_bypassed_in_later_datasets(spark, env, tmp_path):
    """A table that errors on one level-5 dataset must NOT merge later
    datasets on top of the gap (reference $tablestate bypass,
    lib/LINZ/BdeUpload.pm:762-770)."""
    from tests.fixtures import PAB1_L5, XAUD, write_crs
    import os

    up, store, ledger = env
    up.apply_updates(level0=True)
    # second L5 dataset after the fixture's first one
    d2 = os.path.join(up.repo.root, "level_5", "20160602000000")
    write_crs(os.path.join(d2, "pab1.crs"), PAB1_L5)
    write_crs(os.path.join(d2, "xaud.crs"), XAUD)
    # make the FIRST L5 dataset fail its tolerance check
    for t in up.tables:
        if t.name == "crs_parcel_bndry":
            t.row_tol_error = 3.0  # requires 9 rows; merge yields 5
    results = up.apply_updates(level5=True)
    by_ds = {(r.dataset): r.status for r in results if r.table == "crs_parcel_bndry"}
    assert by_ds["20160601171200"] == "error"
    assert by_ds["20160602000000"] == "skipped"
    # watermark stays at the level-0 baseline — neither failed nor
    # skipped level-5 dataset advanced it
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] == "20160601000000"


def test_incomplete_dataset_blocks_later_datasets(spark, env):
    """An incomplete (mid-sync) level-5 dataset must block LATER
    datasets for its tables, or the watermark leapfrogs the gap and
    the increment is lost forever."""
    from tests.fixtures import PAB1_L5, XAUD, write_crs
    import os

    up, store, ledger = env
    up.apply_updates(level0=True)
    # dataset A is incomplete (xaud only); dataset B is complete
    da = os.path.join(up.repo.root, "level_5", "20160601100000")
    write_crs(os.path.join(da, "xaud.crs"), XAUD)
    results = up.apply_updates(level5=True)
    by_ds = {r.dataset: (r.status, r.message)
             for r in results if r.table == "crs_parcel_bndry"}
    assert by_ds["20160601100000"][0] == "skipped"
    assert "incomplete" in by_ds["20160601100000"][1]
    # the COMPLETE later dataset is also skipped for this table
    assert by_ds["20160601171200"][0] == "skipped"
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] == "20160601000000"


def test_runtime_budget_stops_before_dataset(spark, env):
    """C5: an exhausted per-level runtime budget stops the run before
    the next dataset — nothing is loaded."""
    up, store, ledger = env
    up.config.max_level0_runtime_hours = 1e-9  # effectively elapsed
    up._start -= 1.0  # pretend the run started a second ago
    results = up.apply_updates(level0=True)
    assert results == []
    assert not store.exists("crs_parcel_bndry")


def test_cli_end_to_end(tmp_path, spark):
    """Drive the real CLI module (in-process main())."""
    from linz_bde_uploader_spark import cli
    repo_root = write_repository(str(tmp_path / "repo"))
    conf = tmp_path / "tables.conf"
    conf.write_text(TABLES_CONF)
    common = ["--repository", repo_root, "--store", str(tmp_path / "store"),
              "--control", str(tmp_path / "ctl"), "--tables-conf", str(conf)]
    assert cli.main(common + ["-rebuild", "-dry-run"]) == 0
    assert cli.main(common + ["-rebuild"]) == 0
    assert cli.main(common + ["-incremental"]) == 0  # idempotent
    assert cli.main(common + ["-full-incremental", "-rebuild"]) == 2
    assert cli.main(common + ["-purge", "-remove-zombie"]) == 0

    # -maintain-database vacuums old revisions down to the keep window
    from linz_bde_uploader_spark.sources.store import TableStore
    store = TableStore(str(tmp_path / "store"))
    assert cli.main(common + ["-full", "-maintain-database",
                              "-skip-postupload-tasks"]) == 0
    assert len(store.versions("crs_parcel_bndry")) <= 2

    # C1 single-job gate through the CLI: a stuck active job refuses
    # the next run cleanly; -override-locks proceeds
    Ledger(str(tmp_path / "ctl")).create_job(allow_concurrent=True)
    assert cli.main(common + ["-incremental"]) == 1
    assert cli.main(common + ["-incremental", "-override-locks"]) == 0


def test_parallel_tables_same_final_state(spark, tmp_path):
    """parallel_tables=2 must produce exactly the sequential outcome:
    same golden post-L0/post-L5 rows per table, same per-table stats,
    all locks released. Two tables fed by the same file tag exercise
    concurrent load+merge against one ledger."""
    conf = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
TABLE crs_parcel_bndry2 key=audit_id row_tol=0.20,0.95 files pab1
"""
    from linz_bde_uploader_spark.operators.merge import MergeStats

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(conf)
    # the change table lists crs_parcel_bndry; mirror the entries for
    # the clone so its L5 merge sees the same key set
    up = BdeUploader(spark, repo, store, ledger, tables,
                     config=UploadConfig(parallel_tables=2))

    r0 = up.apply_updates(level0=True)
    assert [x.status for x in r0] == ["loaded", "loaded"]
    for t in ("crs_parcel_bndry", "crs_parcel_bndry2"):
        assert store.read(spark, t).count() == 3

    r5 = up.apply_updates(level5=True)
    loaded = [r for r in r5 if r.level == "5"]
    assert [x.status for x in loaded] == ["loaded", "loaded"]
    golden = {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}
    rows1 = {x.audit_id: x.sequence
             for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows1 == golden
    s = loaded[0].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    # no lock left behind, job closed
    assert not ledger.any_active()


def _direct_agg(df):
    from pyspark.sql import functions as F
    vv = F.col("sequence").cast("decimal(12,2)")
    return {r["reversed"]: (r["n"], r["n_vals"], r["total"]) for r in
            df.groupBy("reversed").agg(
                F.count("*").alias("n"), F.count(vv).alias("n_vals"),
                F.sum(vv).cast("decimal(38,2)").alias("total"))
            .collect()}


def _direct_mm(df):
    from pyspark.sql import functions as F
    vv = F.col("sequence").cast("decimal(12,2)")
    return {r["reversed"]: (r["n"], r["vmin"], r["vmax"]) for r in
            df.groupBy("reversed").agg(
                F.count("*").alias("n"), F.min(vv).alias("vmin"),
                F.max(vv).alias("vmax")).collect()}


def _stored(spark, store, table):
    rows = store.read(spark, table).collect()
    if table.endswith("__minmax"):
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"]) for r in rows}
    return {r["reversed"]: (r["n"], r["n_vals"], r["total"]) for r in rows}


def test_batch_driver_maintains_views(spark, tmp_path):
    """The batch CLI analog of test_streaming_cdc_maintained_view:
    with a ViewSpec registered for the table, a full L0+L5 run leaves
    <table>__agg and <table>__minmax equal to direct aggregates of
    the stored base at every step — the reference's derived-state
    consistency contract (bde_postupload_* inside the dataset scope,
    sql/02-bde_control_functions.sql.in:2595-2676) met by the shared
    operators/view_refresh.py discipline."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence", minmax=True)})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)

    up.apply_updates(level0=True)
    base = store.read(spark, "crs_parcel_bndry")
    assert _stored(spark, store, "crs_parcel_bndry__agg") == _direct_agg(base)
    assert _stored(spark, store, "crs_parcel_bndry__minmax") == _direct_mm(base)
    assert store.current_dataset("crs_parcel_bndry__agg") == "20160601000000"

    r5 = up.apply_updates(level5=True)
    assert r5[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert _stored(spark, store, "crs_parcel_bndry__agg") == _direct_agg(base)
    assert _stored(spark, store, "crs_parcel_bndry__minmax") == _direct_mm(base)
    # the L5 refresh was incremental (old view + delta), stamped with
    # the dataset it incorporated
    assert store.current_dataset("crs_parcel_bndry__agg") == "20160601171200"


def test_batch_driver_view_crash_replay(spark, tmp_path):
    """Crash window between the view write and the base write: the
    ledger watermark has not advanced, so the next CLI run replans the
    dataset; the view's dataset stamp skips the already-applied delta
    (ordered guard — no double-count) and the base write completes.
    Derived state converges to the direct aggregate."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    up.apply_updates(level0=True)

    orig_write = store.write

    def crashing_write(table, df, **kwargs):
        if table == "crs_parcel_bndry" and kwargs.get("dataset") == \
                "20160601171200":
            raise RuntimeError("injected crash after view write")
        return orig_write(table, df, **kwargs)

    store.write = crashing_write
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            up.apply_updates(level5=True)
    finally:
        store.write = orig_write

    # crash window on disk: view stamped with the L5 dataset, base
    # still pre-merge, watermark not advanced
    assert store.current_dataset("crs_parcel_bndry__agg") == "20160601171200"
    assert store.read(spark, "crs_parcel_bndry").count() == 3
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] < \
        "20160601171200"

    # the re-run: stamp guard skips the view delta, base write lands
    up2 = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    r = up2.apply_updates(level5=True)
    assert r[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert _stored(spark, store, "crs_parcel_bndry__agg") == _direct_agg(base)


def test_batch_driver_view_crash_two_datasets(spark, tmp_path):
    """Two sequential L5 datasets with a crash in the SECOND's window
    between view write and base write: d1 applies fully (base +
    views + watermark), d2's view lands STAMPED AHEAD of the base.
    The re-run replans only d2 (d1's watermark committed), the
    ordered stamp guard skips d2's already-applied view delta, and
    the base write completes — final state: base holds both merges,
    view equals its direct aggregate, no double-count. This is the
    batch twin of the streaming multi-dataset replay argument in
    operators/view_refresh.py."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo"),
                                          second_l5=True))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    up.apply_updates(level0=True)

    d2 = "20160601180000"
    orig_write = store.write

    def crashing_write(table, df, **kwargs):
        if table == "crs_parcel_bndry" and kwargs.get("dataset") == d2:
            raise RuntimeError("injected crash in second dataset")
        return orig_write(table, df, **kwargs)

    store.write = crashing_write
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            up.apply_updates(level5=True)
    finally:
        store.write = orig_write

    # d1 fully applied; d2's view ahead of the base
    rows = {x.audit_id: x.sequence
            for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 300: 4, 400: 5, 80401148: 10, 80401149: 20}
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] == \
        "20160601171200"
    assert store.current_dataset("crs_parcel_bndry__agg") == d2

    up2 = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    r = up2.apply_updates(level5=True)
    assert [x.dataset for x in r] == [d2]  # only d2 replans
    assert r[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    rows = {x.audit_id: x.sequence for x in base.collect()}
    assert rows == {100: 3, 300: 40, 500: 6, 80401148: 10,
                    80401149: 20}
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)


def test_tables_conf_view_attribute(spark, tmp_path):
    """tables.conf `view=` declaration (our extension, like unique=):
    the registry alone — no programmatic ViewSpec — makes the driver
    maintain <table>__agg/__minmax, so the capability is reachable
    from the CLI conf surface."""
    conf = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id view=reversed:sequence:minmax files pab1
"""
    tables = parse_tables_conf(conf)
    t = [x for x in tables if x.name == "crs_parcel_bndry"][0]
    assert t.view_group_cols == ["reversed"]
    assert t.view_value_col == "sequence"
    assert t.view_minmax is True

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    up = BdeUploader(spark, repo, store, ledger, tables)
    up.apply_updates(level0=True)
    up.apply_updates(level5=True)
    base = store.read(spark, "crs_parcel_bndry")
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)
    assert _stored(spark, store, "crs_parcel_bndry__minmax") == \
        _direct_mm(base)


def test_l0_reseed_overrides_stale_future_stamped_view(spark, tmp_path):
    """Forced L0 seeding: a leftover view stamped LATER than every
    incoming dataset (operator-forced re-load over stale derived
    state — dataset order says nothing about validity when the base
    snapshot is replaced) must be overwritten by the L0 direct
    recompute, and the subsequent L5 refresh must converge the view
    to the merged state's direct aggregate. A stamp-guarded seed
    would skip both writes and publish the garbage forever."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    # plant garbage derived state stamped in the far future
    garbage = spark.createDataFrame(
        [("Z", 999, 999, 999.0)],
        "reversed string, n long, n_vals long, total double") \
        .withColumn("total", F.col("total").cast("decimal(38,2)"))
    store.write("crs_parcel_bndry__agg", garbage,
                dataset="99999999999999")

    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    up.apply_updates(level0=True)
    base = store.read(spark, "crs_parcel_bndry")
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)  # garbage gone after the forced L0 seed

    up.apply_updates(level5=True)
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)


def test_rebuild_ignores_watermarks(spark, env):
    """Reference parity (lib/LINZ/BdeUpload.pm:644-648,670-676):
    -rebuild replays the latest L0 and every subsequent L5 even when
    the ledger watermarks are already current — the whole point of a
    rebuild. The replayed merge re-derives the same golden state."""
    up, store, ledger = env
    up.apply_updates(level0=True)
    up.apply_updates(level5=True)
    assert up.apply_updates(level0=True, level5=True) == []  # current

    up2 = BdeUploader(spark, up.repo, store, ledger, up.tables)
    results = up2.apply_updates(rebuild=True)
    assert [r.level for r in results] == ["0", "5"]
    # the L0 replay legitimately shrinks 5 -> 3 rows, so the row
    # tolerance reports a warning (the gate working as configured);
    # the L5 replay restores the full state cleanly
    assert results[0].status == "warning"
    assert results[1].status == "loaded"
    rows = {x.audit_id: x.sequence
            for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 300: 4, 400: 5, 80401148: 10,
                    80401149: 20}
    # the L5 replay re-classified against the re-seeded L0 base
    s = results[-1].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)


def test_rebuild_reseeds_maintained_views(spark, tmp_path):
    """rebuild + views: the forced L0 seed resets the view to the L0
    dataset stamp, so the replayed L5 refresh applies (d0 < d1) and
    the view converges — a stamp-guarded seed would leave the view
    frozen at its pre-rebuild state."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    up.apply_updates(level0=True)
    up.apply_updates(level5=True)

    up2 = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    results = up2.apply_updates(rebuild=True)
    assert [r.level for r in results] == ["0", "5"]
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)
    assert store.current_dataset("crs_parcel_bndry__agg") == \
        "20160601171200"


def test_level5_without_previous_upload_skipped(spark, env, caplog):
    """Reference parity (lib/LINZ/BdeUpload.pm:678-683): a table with
    no previous upload cannot take level-5 increments — the planner
    logs an error and skips it instead of crashing mid-run on a
    missing store table."""
    import logging

    up, store, ledger = env
    with caplog.at_level(logging.ERROR, logger="linz_bde_uploader_spark"):
        results = up.apply_updates(level5=True)
    assert results == []
    assert any("no previous upload" in r.message for r in caplog.records)


def test_purge_cleans_scratch(tmp_path, spark):
    """Reference parity (PurgeOldJobs/_clean_scratch_dirs,
    lib/LINZ/BdeUpload.pm:490-532): the maintenance entry points drop
    retained working files when no job is active — unless -keep-files
    asks to preserve them."""
    from linz_bde_uploader_spark import cli
    repo_root = write_repository(str(tmp_path / "repo"))
    conf = tmp_path / "tables.conf"
    conf.write_text(TABLES_CONF)
    common = ["--repository", repo_root, "--store", str(tmp_path / "store"),
              "--control", str(tmp_path / "ctl"), "--tables-conf", str(conf)]
    assert cli.main(common + ["-full", "-keep-files"]) == 0
    scratch = tmp_path / "store" / "scratch"
    assert scratch.exists()
    assert cli.main(common + ["-purge", "-keep-files"]) == 0
    assert scratch.exists()          # -keep-files preserves
    assert cli.main(common + ["-purge"]) == 0
    assert not scratch.exists()      # cleaned once keep-files drops


def test_dataset_transaction_rolls_back_on_table_error(spark, tmp_path):
    """C4 with use_dataset_transaction (the reference conf default,
    conf/linz_bde_uploader.conf:89-92): an erroring table rolls the
    WHOLE dataset back — sibling tables' writes never become visible,
    no watermark advances, and every table of the dataset is bypassed
    for the rest of the run."""
    import os

    from tests.fixtures import PAB1_L5, XAUD, write_crs

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(use_dataset_transaction=True)
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    r0 = up.apply_updates(level0=True)
    assert [x.status for x in r0] == ["loaded"]
    assert store.read(spark, "crs_parcel_bndry").count() == 3
    assert ledger.table("crs_parcel_bndry")["last_level0_dataset"] == \
        "20160601000000"

    # second L5 dataset exists so the bypass after rollback is visible
    d2 = os.path.join(repo.root, "level_5", "20160602000000")
    write_crs(os.path.join(d2, "pab1.crs"), PAB1_L5)
    write_crs(os.path.join(d2, "xaud.crs"), XAUD)
    # make the first L5 dataset fail its tolerance check
    for t in up.tables:
        if t.name == "crs_parcel_bndry":
            t.row_tol_error = 3.0  # needs 9 rows; merge yields 5
    v_before = store.current_version("crs_parcel_bndry")
    results = up.apply_updates(level5=True)
    by_ds = {r.dataset: r.status for r in results
             if r.table == "crs_parcel_bndry"}
    assert by_ds["20160601171200"] == "error"
    assert by_ds["20160602000000"] == "skipped"
    # rollback: base version unchanged, watermark unchanged
    assert store.current_version("crs_parcel_bndry") == v_before
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] == \
        "20160601000000"


def test_dataset_transaction_success_commits_all(spark, tmp_path):
    """Happy-path dataset transaction: base + maintained view flip
    together at commit, ledger records flush after, and the final
    state equals the per-table-commit mode's golden state."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF)
    cfg = UploadConfig(use_dataset_transaction=True,
                       views={"crs_parcel_bndry": ViewSpec(
                           group_cols=["reversed"],
                           value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger, tables, config=cfg)
    up.apply_updates(level0=True)
    r5 = up.apply_updates(level5=True)
    assert r5[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    rows = {x.audit_id: x.sequence for x in base.collect()}
    assert rows == {100: 3, 300: 4, 400: 5, 80401148: 10,
                    80401149: 20}
    assert _stored(spark, store, "crs_parcel_bndry__agg") == \
        _direct_agg(base)
    assert ledger.table("crs_parcel_bndry")["last_upload_dataset"] == \
        "20160601171200"


def test_dataset_commit_crash_rolls_forward(spark, tmp_path):
    """Crash INSIDE commit_dataset — manifest durably written, pointer
    flips not yet applied: the next store open replays the manifest
    (roll-forward), so readers see the complete dataset, never a
    partial one."""
    import json as _json
    import os

    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(2, "y")], "k long, v string")
    store.write("t_a", a, key="k")  # v1 visible
    store.begin_dataset_commit()
    store.write("t_a", a.withColumn("v", a.v), key="k", dataset="d2")
    store.write("t_b", b, key="k", dataset="d2")
    # simulate the crash: durably record the manifest but die before
    # any pointer flip (reach into the staged list the way
    # commit_dataset does, then abandon the store object)
    staged = store._staged
    with open(store._manifest_path() + ".tmp", "w") as fh:
        _json.dump([{"table": t, "pointer": p} for t, p in staged], fh)
    os.replace(store._manifest_path() + ".tmp", store._manifest_path())
    assert store.current_version("t_a") == 1   # flips not applied
    assert store.current_version("t_b") is None

    # recovery on next open: roll-forward applies every flip
    store2 = TableStore(str(tmp_path / "store"), n_buckets=2)
    assert not os.path.exists(store2._manifest_path())
    assert store2.current_version("t_a") == 2
    assert store2.current_version("t_b") == 1
    assert store2.current_dataset("t_a") == "d2"
    assert store2.read(spark, "t_b").count() == 1


def test_dataset_commit_fsyncs_data_before_manifest(
        spark, tmp_path, monkeypatch):
    """Power-loss durability ordering (ADVICE r12): the staged v=N
    parquet DATA must be fsync'd before the commit manifest is — the
    roll-forward recovery flips pointers onto whatever the manifest
    lists, so a manifest that becomes durable ahead of its data could
    commit pointers to lost blocks. Recorded via a tracing os.fsync
    (fd resolved through /proc/self/fd): every staged data file
    appears in the fsync log strictly before the manifest."""
    import os

    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    a = spark.createDataFrame([(1, "x")], "k long, v string")
    synced: list[str] = []
    real_fsync = os.fsync

    def tracing_fsync(fd):
        try:
            synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        except OSError:
            synced.append("?")
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", tracing_fsync)
    store.begin_dataset_commit()
    store.write("t_a", a, key="k", dataset="d1")
    store.commit_dataset()

    manifest_at = next(i for i, p in enumerate(synced)
                       if p.endswith("_DATASET_COMMIT.tmp"))
    data_files = [i for i, p in enumerate(synced)
                  if f"{os.sep}t_a{os.sep}v=1{os.sep}" in p
                  and p.endswith(".parquet")]
    assert data_files, "no staged parquet file was fsync'd"
    assert max(data_files) < manifest_at, \
        "data fsync must precede the manifest fsync"
    # and the commit still lands
    assert store.current_version("t_a") == 1


def test_view_attr_malformed_raises():
    with pytest.raises(ValueError, match="view="):
        parse_tables_conf(
            "TABLE t key=id view=region files pab1")


def test_conf_defaults_dataset_transaction_on():
    """Reference parity: $cfg->use_dataset_transaction(1) — a conf
    that OMITS the key gets dataset transactions, matching the
    reference default; an explicit 0 disables."""
    from linz_bde_uploader_spark.config import upload_config_from_conf
    assert upload_config_from_conf({}).use_dataset_transaction is True
    assert upload_config_from_conf(
        {"use_dataset_transaction": "0"}).use_dataset_transaction is False


def test_torn_dataset_manifest_is_retired(spark, tmp_path):
    """A zero-length/garbage _DATASET_COMMIT (crash before the fsync
    barrier — no flip was applied) must not brick the store: the next
    open retires it and proceeds with the pre-dataset state."""
    import os

    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    a = spark.createDataFrame([(1, "x")], "k long, v string")
    store.write("t_a", a, key="k")
    with open(store._manifest_path(), "w") as fh:
        fh.write("")  # torn: rename durability lost
    store2 = TableStore(str(tmp_path / "store"), n_buckets=2)
    assert not os.path.exists(store2._manifest_path())
    assert store2.current_version("t_a") == 1
    assert store2.read(spark, "t_a").count() == 1


def test_batch_driver_maintains_hll_view(spark, tmp_path):
    """The sketch-view member, conf-declared end-to-end: a tables.conf
    `view=...:hll=<col>` registers a <table>__hll register view the
    CLI driver seeds at L0 (direct recompute) and refreshes O(changes)
    at L5 (operators/sketches.maintain_hll). After every step the
    stored registers equal a from-scratch register build over the
    stored base — pure-integer comparison, no estimate involved."""
    from linz_bde_uploader_spark.operators.sketches import hll_registers
    from pyspark.sql import functions as F

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(
        "TABLE l5_change_table l5_change_table files xaud\n"
        "TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 "
        "view=reversed:sequence:minmax:hll=audit_id files pab1")
    up = BdeUploader(spark, repo, store, ledger, tables)

    def regs(df):
        return {(r["reversed"], r.idx): r.m for r in
                hll_registers(df, ["reversed"],
                              F.col("audit_id").cast("string"))
                .collect()}

    def stored():
        return {(r["reversed"], r.idx): r.m for r in
                store.read(spark, "crs_parcel_bndry__hll").collect()}

    up.apply_updates(level0=True)
    assert stored() == regs(store.read(spark, "crs_parcel_bndry"))
    r5 = up.apply_updates(level5=True)
    assert r5[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert stored() == regs(base)
    # the refresh was stamped with the dataset it incorporated
    assert store.current_dataset("crs_parcel_bndry__hll") == \
        "20160601171200"


def test_view_attr_hll_flag_parses_and_rejects_garbage():
    t = parse_tables_conf(
        "TABLE t key=id view=g:v:hll=user files x")[0]
    assert t.view_hll_key == "user" and t.view_minmax is False
    t2 = parse_tables_conf(
        "TABLE t key=id view=g:v:minmax:hll=user files x")[0]
    assert t2.view_hll_key == "user" and t2.view_minmax is True
    with pytest.raises(ValueError, match="view="):
        parse_tables_conf("TABLE t key=id view=g:v:bogus files x")
    with pytest.raises(ValueError, match="view="):
        parse_tables_conf("TABLE t key=id view=g:v:hll= files x")


def test_view_attr_cms_flag_parses_and_rejects_garbage():
    t = parse_tables_conf(
        "TABLE t key=id view=g:v:cms=tok files x")[0]
    assert t.view_cms_key == "tok" and t.view_hll_key is None
    t2 = parse_tables_conf(
        "TABLE t key=id view=g:v:minmax:hll=user:cms=tok files x")[0]
    assert (t2.view_cms_key == "tok" and t2.view_hll_key == "user"
            and t2.view_minmax is True)
    with pytest.raises(ValueError, match="view="):
        parse_tables_conf("TABLE t key=id view=g:v:cms= files x")


def test_batch_driver_maintains_cms_view(spark, tmp_path):
    """The eighth IVM member, conf-declared end-to-end (mirror of
    test_batch_driver_maintains_hll_view): a tables.conf
    `view=...:cms=<col>` registers a <table>__cms counter view the
    CLI driver seeds at L0 (direct cms_build) and refreshes
    O(changes) at L5 (operators/sketches.maintain_cms — linear
    sketch, deletes subtract, no recompute branch). After every step
    the stored counters equal a from-scratch sketch of the stored
    base — pure-integer comparison."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.sketches import cms_build

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(
        "TABLE l5_change_table l5_change_table files xaud\n"
        "TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 "
        "view=reversed:sequence:cms=audit_id files pab1")
    up = BdeUploader(spark, repo, store, ledger, tables)

    def sketch(df):
        return {(r.row, r.idx): r.c for r in
                cms_build(df.select(F.col("audit_id").cast("string")
                                    .alias("tok"))).collect()}

    def stored():
        return {(r.row, r.idx): r.c for r in
                store.read(spark, "crs_parcel_bndry__cms").collect()}

    up.apply_updates(level0=True)
    assert stored() == sketch(store.read(spark, "crs_parcel_bndry"))
    r5 = up.apply_updates(level5=True)
    assert r5[-1].status == "loaded"
    base = store.read(spark, "crs_parcel_bndry")
    assert base.count() == 5
    assert stored() == sketch(base)
    # the refresh was stamped with the dataset it incorporated
    assert store.current_dataset("crs_parcel_bndry__cms") == \
        "20160601171200"


def test_tables_conf_topk_distinct_views(spark, tmp_path):
    """r14 conf symmetry: `topk=` and `distinct=` in the view=
    declaration register the third and fourth IVM members from the
    conf surface alone. After a full L0+L5 run, __topk equals the
    direct leaderboard and __distinct the direct count-distinct of
    the merged base — seed (L0) and refresh (L5) agree on the shared
    topk_view/distinct_view shapes."""
    from linz_bde_uploader_spark.operators import merge as M

    conf = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id view=reversed:sequence:topk=2:distinct=lin_id files pab1
"""
    tables = parse_tables_conf(conf)
    t = [x for x in tables if x.name == "crs_parcel_bndry"][0]
    assert t.view_topk == 2 and t.view_distinct_col == "lin_id"

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    up = BdeUploader(spark, repo, store, ledger, tables)

    def check():
        base = store.read(spark, "crs_parcel_bndry")
        tk = {(r["reversed"], r["rank"], r["audit_id"])
              for r in store.read(spark, "crs_parcel_bndry__topk")
              .collect()}
        direct_tk = {(r["reversed"], r["rank"], r["audit_id"])
                     for r in M.topk_view(base, ["reversed"],
                                          "audit_id", "sequence", 2)
                     .collect()}
        assert tk == direct_tk, (tk, direct_tk)
        dc = {r["reversed"]: (r["n"], r["n_distinct"])
              for r in store.read(spark, "crs_parcel_bndry__distinct")
              .collect()}
        direct_dc = {r["reversed"]: (r["n"], r["n_distinct"])
                     for r in M.distinct_view(base, ["reversed"],
                                              "lin_id").collect()}
        assert dc == direct_dc, (dc, direct_dc)

    up.apply_updates(level0=True)
    check()
    up.apply_updates(level5=True)
    check()


def test_viewspec_topk_distinct_validation():
    """Misdeclared sketch/leaderboard specs fail at registration."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    with pytest.raises(ValueError):
        ViewSpec(group_cols=["g"], topk=3)          # no value_col
    with pytest.raises(ValueError):
        ViewSpec(group_cols=["g"], value_col="v", topk=0)
    with pytest.raises(ValueError):
        ViewSpec(distinct_col="c")                  # no group_cols
    with pytest.raises(ValueError):
        parse_tables_conf(
            "TABLE t key=id view=g:v:topk=x files f")
    with pytest.raises(ValueError):
        parse_tables_conf(
            "TABLE t key=id view=g:v:distinct= files f")


def test_exception_path_releases_tracked_caches(spark, env):
    """r17 advice: release_caches() must run on the exception/abort
    path too, not only after a committed dataset. The L0 staged
    snapshot is persisted (tracked) BEFORE the store write; a write
    that raises mid-dataset used to leak that table-sized cache into
    a long-lived session that catches the error and continues — the
    same leak class untrack() closes for the gz error-budget raise
    in read_crs."""
    from linz_bde_uploader_spark.operators.dedup import (
        _PERSISTED,
        release_caches,
    )

    up, store, ledger = env
    # start from a clean tracker (r18 advice): a persist leaked by an
    # earlier test would otherwise fail this test spuriously, and a
    # before/after length equality could not tell "released this
    # dataset's caches" from "released everything including theirs"
    release_caches()
    assert len(_PERSISTED) == 0

    def boom(*a, **k):
        raise RuntimeError("disk full")

    store.write = boom
    with pytest.raises(RuntimeError, match="disk full"):
        up.apply_updates(level0=True)
    # the staged-snapshot persist was tracked and then released by
    # the per-dataset finally — nothing outlives the failed dataset
    assert len(_PERSISTED) == 0


@pytest.mark.parametrize("failing", ["store.write", "refresh_views"])
def test_failed_level5_releases_actions_cache(spark, tmp_path,
                                              monkeypatch, failing):
    """The L5 classified-actions cache is released on every exit path:
    a view refresh or store write that raises must not leave it in the
    CacheManager of a long-lived session that catches the error and
    continues."""
    from linz_bde_uploader_spark import driver as D
    from linz_bde_uploader_spark.operators.dedup import release_caches
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence")})
    up = BdeUploader(spark, repo, store, ledger,
                     parse_tables_conf(TABLES_CONF), config=cfg)
    up.apply_updates(level0=True)
    release_caches()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()

    def boom(*a, **k):
        raise RuntimeError("disk full")

    if failing == "store.write":
        monkeypatch.setattr(store, "write", boom)
    else:
        monkeypatch.setattr(D, "refresh_views", boom)
    with pytest.raises(RuntimeError, match="disk full"):
        up.apply_updates(level5=True)
    assert cache_manager.isEmpty()


def test_gated_table_records_pointer_rows(spark, env):
    """A gated table's load records its counted rows in the store
    pointer, equal to the stored row count, after EP1, EP2 and EP3."""
    import os

    from tests.fixtures import PAB1_L0, write_crs

    up, store, ledger = env

    def assert_rows(n):
        assert store.row_count("crs_parcel_bndry") == n
        assert store.read(spark, "crs_parcel_bndry").count() == n

    up.apply_updates(level0=True)                       # EP1
    assert_rows(3)
    up.apply_updates(level5=True)                       # EP2
    assert_rows(5)
    write_crs(os.path.join(up.repo.root, "level_0", "20160701000000",
                           "pab1.crs"), PAB1_L0)
    r = up.apply_updates(full_incremental=True)         # EP3
    assert r[-1].status == "warning"  # 3 < ceil(5 * 0.95); still written
    assert (r[-1].stats.ninsert, r[-1].stats.ndelete) == (1, 3)
    assert_rows(3)


def test_gated_prev_count_without_pointer_rows(spark, env):
    """A store written before pointers carried ``rows`` (or by an
    ungated load) still gives the gate the exact previous count: the
    driver counts the stored version once, and the gate decides as
    before."""
    import json

    up, store, ledger = env
    up.apply_updates(level0=True)
    pointer = store._pointer("crs_parcel_bndry")
    with open(pointer) as fh:
        payload = json.load(fh)
    payload.pop("rows")
    with open(pointer, "w") as fh:
        json.dump(payload, fh)
    assert store.row_count("crs_parcel_bndry") is None

    for t in up.tables:
        if t.name == "crs_parcel_bndry":
            t.row_tol_error = 3.0  # needs ceil(3 * 3.0) = 9; merge yields 5
    r = up.apply_updates(level5=True)
    assert r[-1].status == "error"
    assert r[-1].message == "tolerance: 5 < error floor of 3"
    assert store.row_count("crs_parcel_bndry") is None  # no commit

    for t in up.tables:
        if t.name == "crs_parcel_bndry":
            t.row_tol_error = 0.20
    r = up.apply_updates(level5=True)
    assert r[-1].status == "loaded"
    assert store.row_count("crs_parcel_bndry") == 5


def test_ungated_level5_runs_no_count(spark, tmp_path, monkeypatch):
    """A table with no row_tol never reads a row count, so its L5 load
    runs no ``DataFrame.count`` and its pointer records no ``rows``."""
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf("""
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id files pab1
""")
    up = BdeUploader(spark, repo, store, ledger, tables)
    up.apply_updates(level0=True)

    counted = []
    DataFrame = type(spark.range(1))  # the concrete class, not its ABC
    real_count = DataFrame.count

    def tracing_count(self):
        counted.append(self)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", tracing_count)
    r = up.apply_updates(level5=True)
    monkeypatch.undo()
    assert counted == []
    assert r[-1].status == "loaded"
    s = r[-1].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    assert store.row_count("crs_parcel_bndry") is None
    rows = {x.audit_id: x.sequence
            for x in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}


def test_small_keyed_write_is_one_file(spark, tmp_path):
    """A keyed write is sized by the data, not by ``n_buckets``: a
    2,000-row table lands as one parquet file."""
    import os

    store = TableStore(str(tmp_path / "store"))
    df = spark.range(2000).selectExpr("id", "cast(id * 7 as string) AS v")
    v = store.write("t", df, key="id")
    vdir = os.path.join(store.root, "t", f"v={v}")
    files = [n for n in os.listdir(vdir) if n.endswith(".parquet")]
    assert len(files) == 1
    assert store.read(spark, "t").count() == 2000


def test_level5_early_exit_uses_one_change_scan(spark, tmp_path,
                                                monkeypatch):
    """The change table is scanned once per level-5 dataset: a table
    it does not name exits early with no changes, and a mixed-case
    ``tablename`` still names its table."""
    import os

    from linz_bde_uploader_spark import driver as D
    from tests.fixtures import XAUD, write_crs

    root = write_repository(str(tmp_path / "repo"))
    xaud = os.path.join(root, "level_5", "20160601171200", "xaud.crs")
    write_crs(xaud, XAUD.replace("|crs_parcel_bndry|",
                                 "|CRS_Parcel_Bndry|"))
    repo = BdeRepository(root)
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    ledger = Ledger(str(tmp_path / "ctl"))
    tables = parse_tables_conf(TABLES_CONF + """
TABLE crs_other key=audit_id files pab1
""")
    up = BdeUploader(spark, repo, store, ledger, tables)
    up.apply_updates(level0=True)
    v_other = store.current_version("crs_other")

    scans = []
    real_scan = D._changed_tables

    def tracing_scan(changes):
        scans.append(changes)
        return real_scan(changes)

    monkeypatch.setattr(D, "_changed_tables", tracing_scan)
    by_table = {r.table: r for r in up.apply_updates(level5=True)}
    assert len(scans) == 1
    s = by_table["crs_parcel_bndry"].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    other = by_table["crs_other"]
    assert other.status == "loaded"
    assert other.stats == D.M.MergeStats()
    assert store.current_version("crs_other") == v_other
    assert ledger.table("crs_other")["last_upload_dataset"] == \
        "20160601171200"
