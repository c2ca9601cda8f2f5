"""A staged file's malformed-row check rides the action that consumes
it: the table's store write (whose verdict reads the check before the
tolerance gate and the views) or the dataset's change scan. A
malformed file must still stop the load as the eager probe did: the
same ``CrsReadError``, no pointer flipped, no ledger watermark
advanced and no view written, under per-table commits and under the
dataset transaction."""

import os

import pytest

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.driver import BdeUploader, UploadConfig
from linz_bde_uploader_spark.operators.view_refresh import ViewSpec
from linz_bde_uploader_spark.sources.crs import CleanseConfig, CrsReadError
from linz_bde_uploader_spark.sources.repository import BdeRepository
from linz_bde_uploader_spark.sources.store import TableStore
from tests.fixtures import PAB1_L0, PAB1_L5, XAUD, write_crs, write_repository

TABLES_CONF = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
"""
# lin_id is unique, and the golden level-5 re-key 80401150 -> 100
# keeps lin_id 11960041: a key swap that ``fix_key_swaps`` repairs
UNIQUE_CONF = TABLES_CONF.replace("files pab1", "unique=lin_id files pab1")
BASE = "crs_parcel_bndry"
TABLES = [BASE, f"{BASE}__agg", f"{BASE}__minmax"]
BAD_ROW = "1|2|3|\n"          # three fields where the header has five
LEVEL0 = ("level_0", "20160701000000")
LEVEL5 = ("level_5", "20160602000000")


def _uploader(spark, tmp_path, use_tx, conf=TABLES_CONF, **cfg):
    """An uploader with maintained views over the golden repository,
    loaded through its level-0 and level-5 datasets."""
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    up = BdeUploader(spark, repo, store, Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf(conf),
                     config=UploadConfig(
                         use_dataset_transaction=use_tx,
                         views={BASE: ViewSpec(
                             group_cols=["reversed"], value_col="sequence",
                             minmax=True)},
                         **cfg))
    up.apply_updates(rebuild=True)
    return up, store


def _state(spark, up, store):
    """Every pointer and its rows, the views' version lists (the
    rejected base write leaves an orphan ``v=<n>``, so the base's
    versions are not compared) and the base's ledger watermarks."""
    out = {}
    for t in TABLES:
        with open(store._pointer(t)) as fh:
            out[t] = (fh.read(),
                      sorted(map(tuple, store.read(spark, t).collect()),
                             key=repr),
                      t != BASE and store.versions(t))
    row = up.ledger.table(BASE)
    out["ledger"] = {k: row[k] for k in ("last_level0_dataset",
                                         "last_upload_dataset",
                                         "last_upload_details")}
    return out


def _write(up, where, name, content):
    write_crs(os.path.join(up.repo.root, *where, name), content)


def _stage_bad(up, case):
    """Write the dataset that ``case`` loads with one malformed file,
    and return the ``apply_updates`` arguments that load it."""
    if case in ("ep1", "ep3"):
        _write(up, LEVEL0, "pab1.crs", PAB1_L0 + BAD_ROW)
        return ({"level0": True} if case == "ep1"
                else {"full_incremental": True})
    if case == "level5":
        _write(up, LEVEL5, "pab1.crs", PAB1_L5 + BAD_ROW)
        _write(up, LEVEL5, "xaud.crs", XAUD)
    else:  # the change file
        _write(up, LEVEL5, "pab1.crs", PAB1_L5)
        _write(up, LEVEL5, "xaud.crs", XAUD + BAD_ROW)
    return {"level5": True}


@pytest.mark.parametrize("use_tx", [False, True])
@pytest.mark.parametrize("case", ["ep1", "ep3", "level5", "change"])
def test_malformed_file_stops_the_load(spark, tmp_path, case, use_tx):
    """A malformed staged file (EP1, EP3, level 5) or change file
    raises ``CrsReadError`` at ``max_errors=0`` and leaves every
    pointer, every view and the ledger watermarks as they were."""
    up, store = _uploader(spark, tmp_path, use_tx)
    before = _state(spark, up, store)
    kwargs = _stage_bad(up, case)
    with pytest.raises(CrsReadError, match=r"max_errors=0; sample="):
        up.apply_updates(**kwargs)
    assert _state(spark, up, store) == before


@pytest.mark.parametrize("use_tx", [False, True])
@pytest.mark.parametrize("case", ["level5", "change"])
def test_malformed_file_stops_a_unique_table_load(spark, tmp_path, case,
                                                  use_tx):
    """A ``unique=`` table with views reads its level-5 staged file in
    the key-swap repair, in the write's classify join and in the
    views' persisted actions. The golden load (one swap) passes the
    check, and a malformed file still stops the next load with
    nothing changed."""
    up, store = _uploader(spark, tmp_path, use_tx, conf=UNIQUE_CONF)
    rows = {r.audit_id: r.sequence for r in store.read(spark, BASE).collect()}
    assert rows == {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}
    before = _state(spark, up, store)
    kwargs = _stage_bad(up, case)
    with pytest.raises(CrsReadError, match=r"max_errors=0; sample="):
        up.apply_updates(**kwargs)
    assert _state(spark, up, store) == before


def test_level5_without_changed_keys_probes_its_file(spark, tmp_path):
    """A level-5 table the change file does not name exits without a
    write, so its malformed staged file is probed there."""
    up, store = _uploader(spark, tmp_path, False)
    before = _state(spark, up, store)
    head = XAUD[:XAUD.index("{CRS-DATA}") + len("{CRS-DATA}") + 1]
    _write(up, LEVEL5, "pab1.crs", PAB1_L5 + BAD_ROW)
    _write(up, LEVEL5, "xaud.crs",
           head + "1|crs_other_table|7|I|2016-06-02 00:00:00|\n")
    with pytest.raises(CrsReadError, match="max_errors=0"):
        up.apply_updates(level5=True)
    assert _state(spark, up, store) == before


def test_level5_continuity_failure_probes_its_file(spark, tmp_path):
    """A level-5 file that fails the start-time continuity check
    returns before any write; a malformed one still raises
    ``CrsReadError``, as when the check ran while staging."""
    up, store = _uploader(spark, tmp_path, False,
                          level5_starttime_fail_tolerance=1.0)
    before = _state(spark, up, store)
    late = PAB1_L5.replace("START\t 2016-06-01 17:12:25",
                           "START\t 2016-06-05 00:00:00")
    assert late != PAB1_L5
    _write(up, LEVEL5, "pab1.crs", late)
    _write(up, LEVEL5, "xaud.crs", XAUD)
    r = up.apply_updates(level5=True)
    assert r[-1].status == "error" and "continuity" in r[-1].message
    _write(up, LEVEL5, "pab1.crs", late + BAD_ROW)
    with pytest.raises(CrsReadError, match="max_errors=0"):
        up.apply_updates(level5=True)
    assert _state(spark, up, store) == before


def test_error_budget_of_one_tolerates_one_bad_row(spark, tmp_path):
    """``max_errors=1`` keeps the eager count: one malformed row in
    the level-5 file is dropped and the load gives the golden F2
    state and stats."""
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    write_crs(os.path.join(repo.root, "level_5", "20160601171200",
                           "pab1.crs"), PAB1_L5 + BAD_ROW)
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    up = BdeUploader(spark, repo, store, Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf(TABLES_CONF),
                     config=UploadConfig(
                         cleanse=CleanseConfig(max_errors=1)))
    r = up.apply_updates(rebuild=True)
    assert [x.status for x in r] == ["loaded", "loaded"]
    s = r[-1].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    rows = {x.audit_id: x.sequence for x in store.read(spark, BASE).collect()}
    assert rows == {100: 3, 80401149: 20, 80401148: 10, 300: 4, 400: 5}
