"""Delta segments in the table store (sources/store.py): a load merged
onto the version it read lands only its changed rows, reads fold the
chain ``[base, seg1, ...]``, a fixed bound folds the chain back into a
full snapshot, revisions and ``vacuum`` follow chains, and a failure
anywhere before the pointer moves leaves the old state readable."""

import json
import os
import uuid

import pytest
from pyspark.sql import DataFrameWriter

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.driver import BdeUploader, UploadConfig
from linz_bde_uploader_spark.operators import merge as M
from linz_bde_uploader_spark.sources import store as S
from linz_bde_uploader_spark.sources.repository import BdeRepository
from linz_bde_uploader_spark.sources.store import TableStore
from tests.fixtures import PAB1_L0, write_crs, write_repository

TABLES_CONF = """
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
"""
BASE = "crs_parcel_bndry"
L5_ROWS = {100: 3, 300: 4, 400: 5, 80401148: 10, 80401149: 20}


def _jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn started)``, by job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _current_chain(store, table="t"):
    """The chain the table's current version reads, base first."""
    return store._chain(table, store.current_version(table))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _sequences(spark, store, version=None):
    return {r.audit_id: r.sequence
            for r in store.read(spark, BASE, version).collect()}


def _uploader(spark, tmp_path, use_tx=False):
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    up = BdeUploader(spark, repo, store, Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf(TABLES_CONF),
                     config=UploadConfig(use_dataset_transaction=use_tx))
    return up, store


def _load(store, table, tagged, onto):
    """One observed keyed load of ``tagged`` merged onto ``onto``, the
    way the driver writes it: the pointer records the new row count."""
    observed = M.MergeObservation()
    return store.write(table, tagged, key="id", clustered=observed.apply,
                       verdict=lambda new: observed.result()[1],
                       onto=onto)


def _upsert(spark, store, table, rows):
    """Merge ``rows`` (id, v) onto ``table``'s current version as a
    level-5 load naming every one of their keys."""
    onto = store.current_version(table)
    cur = store.read(spark, table)
    stg = spark.createDataFrame(rows, "id long, v string")
    chg = spark.createDataFrame([(r[0],) for r in rows], "key long")
    return _load(store, table, M.merge_tagged(cur, stg, chg, "id"), onto)


def _base(spark, store, n, table="t"):
    store.write(table, spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id long, v string"),
        key="id", rows=n)


def test_level5_and_ep3_write_segments(spark, tmp_path):
    """EP1 writes a full snapshot; level 5 lands a segment of its
    changed rows (D as a key tombstone, untouched rows left out), the
    folded read is the golden state in the pointer's column order, and
    the next load (EP3), past the fold bound, writes a snapshot."""
    up, store = _uploader(spark, tmp_path)
    up.apply_updates(level0=True)
    assert _current_chain(store, BASE) == [1]
    columns = store.read(spark, BASE).columns

    r = up.apply_updates(level5=True)
    s = r[-1].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (3, 2, 0, 1)
    # the pointer names only the version; the chain is in its record
    payload = store._payload(BASE)
    assert set(payload) == {"version", "key", "dataset", "rows", "meta",
                            "catalog"}
    assert payload["rows"] == 5
    record = store._chain_record(BASE, 2)
    assert (record["key"], record["chain"]) == ("audit_id", [1, 2])
    seg = spark.read.parquet(os.path.join(store.root, BASE, "v=2"))
    assert sorted(r[M.ACTION_COL] for r in seg.collect()) == \
        ["D", "I", "I", "I", "U", "U"]
    assert record["chain_rows"] == 6
    assert store.read(spark, BASE).columns == columns
    assert _sequences(spark, store) == L5_ROWS

    # 6 segment rows > FOLD_RATIO of 5: the next load folds the chain
    write_crs(os.path.join(up.repo.root, "level_0", "20160701000000",
                           "pab1.crs"), PAB1_L0)
    r = up.apply_updates(full_incremental=True)
    assert (r[-1].stats.ninsert, r[-1].stats.ndelete) == (1, 3)
    assert _current_chain(store, BASE) == [3]
    assert store.row_count(BASE) == 3
    assert _sequences(spark, store) == {80401148: 1, 80401149: 2,
                                        80401150: 3}


def test_ep3_onto_stored_table_writes_segment(spark, tmp_path):
    """EP3 onto a stored table lands a segment of its diff: the one
    changed row, tagged U."""
    up, store = _uploader(spark, tmp_path)
    up.apply_updates(level0=True)
    write_crs(os.path.join(up.repo.root, "level_0", "20160701000000",
                           "pab1.crs"),
              PAB1_L0.replace("|3|11960041|", "|7|11960041|"))
    r = up.apply_updates(full_incremental=True)
    s = r[-1].stats
    assert (s.ninsert, s.nupdate, s.nnullupdate, s.ndelete) == (0, 1, 0, 0)
    record = store._chain_record(BASE, store.current_version(BASE))
    assert (record["chain"], record["chain_rows"], store.row_count(BASE)) \
        == ([1, 2], 1, 3)
    seg = spark.read.parquet(os.path.join(store.root, BASE, "v=2"))
    assert [(r.audit_id, r[M.ACTION_COL]) for r in seg.collect()] == \
        [(80401150, "U")]
    assert _sequences(spark, store) == {80401148: 1, 80401149: 2,
                                        80401150: 7}


def test_fold_bound_segment_count(spark, tmp_path):
    """A load onto a chain that already holds MAX_SEGMENTS segments
    writes a full snapshot, folding the chain."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 40)
    for i in range(S.MAX_SEGMENTS):
        _upsert(spark, store, "t", [(i, f"w{i}")])
    chain = _current_chain(store)
    assert len(chain) == S.MAX_SEGMENTS + 1
    v = _upsert(spark, store, "t", [(39, "last")])
    assert _current_chain(store) == [v]
    assert store.row_count("t") == 40
    want = {i: f"v{i}" for i in range(40)}
    want.update({i: f"w{i}" for i in range(S.MAX_SEGMENTS)})
    want[39] = "last"
    assert dict(store.read(spark, "t").collect()) == want


def test_fold_bound_segment_rows(spark, tmp_path):
    """A load onto a chain whose segments already hold more than
    FOLD_RATIO of the pointer's rows writes a full snapshot; at the
    ratio itself it still lands a segment."""
    n = 40
    limit = int(S.FOLD_RATIO * n)
    for rows, chain in ((limit, [1, 2, 3]), (limit + 1, [3])):
        store = TableStore(str(tmp_path / f"store{rows}"))
        _base(spark, store, n)
        _upsert(spark, store, "t", [(i, "a") for i in range(rows)])
        assert store._chain_record("t", 2)["chain_rows"] == rows
        _upsert(spark, store, "t", [(n - 1, "z")])
        assert _current_chain(store) == chain
        assert dict(store.read(spark, "t").collect()) == {
            **{i: f"v{i}" for i in range(n)},
            **{i: "a" for i in range(rows)}, n - 1: "z"}


def test_snapshot_writes_stay_snapshots(spark, tmp_path):
    """A write that names no version, or a stale one, is a full
    snapshot, and so is a load onto a pointer without ``rows``."""
    store = TableStore(str(tmp_path / "store"))
    store.write("t", spark.createDataFrame([(1, "a")], "id long, v string"),
                key="id")                                  # no rows
    _upsert(spark, store, "t", [(2, "b")])
    assert _current_chain(store) == [2]
    _upsert(spark, store, "t", [(3, "c")])
    assert _current_chain(store) == [2, 3]
    cur = store.read(spark, "t")
    stg = spark.createDataFrame([(4, "d")], "id long, v string")
    tagged = M.merge_tagged(cur, stg, spark.createDataFrame(
        [(4,)], "key long"), "id")
    _load(store, "t", tagged, onto=2)                      # stale onto
    assert _current_chain(store) == [4]
    assert dict(store.read(spark, "t").collect()) == {
        1: "a", 2: "b", 3: "c", 4: "d"}


def test_read_version_resolves_its_own_chain(spark, tmp_path):
    """``read(version=v)`` of a segment version folds v's own chain,
    from the record the write left in its directory, with no job."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 8)
    _upsert(spark, store, "t", [(0, "a")])
    _upsert(spark, store, "t", [(1, "b"), (9, "new")])
    assert _current_chain(store) == [1, 2, 3]
    df, jobs = _jobs(spark, lambda: store.read(spark, "t", version=2))
    assert jobs == []
    assert dict(df.collect()) == {**{i: f"v{i}" for i in range(8)},
                                  0: "a"}
    assert dict(store.read(spark, "t", version=1).collect()) == \
        {i: f"v{i}" for i in range(8)}
    assert len(store.read(spark, "t").collect()) == 9


def test_vacuum_keeps_every_version_a_kept_chain_names(spark, tmp_path):
    """``vacuum`` drops no base or segment a kept version's chain
    names; once ``compact`` has folded the chain they go."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 8)
    _upsert(spark, store, "t", [(0, "a")])
    _upsert(spark, store, "t", [(1, "b")])
    assert store.vacuum("t", keep=1) == []
    want = _rows(store.read(spark, "t"))
    assert store.compact(spark, "t") == 4
    assert _current_chain(store) == [4]
    assert store.vacuum("t", keep=2) == []     # v3 kept, chain [1, 2, 3]
    assert store.vacuum("t", keep=1) == [1, 2, 3]
    assert _rows(store.read(spark, "t")) == want


def test_vacuum_leaves_versions_above_current(spark, tmp_path):
    """``vacuum`` touches nothing above the current version: neither a
    version the open scope stages nor the orphan a rejected load
    leaves, which may as well be a write another instance is landing.
    The table's next write reuses the orphan's version number."""
    store = TableStore(str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    store.write("t", df, key="id")
    store.write("t", df, key="id")

    def reject(new):
        raise ValueError("rejected")

    with pytest.raises(ValueError):
        store.write("t", df, key="id", verdict=reject)
    assert store.versions("t") == [1, 2, 3]
    assert store.vacuum("t", keep=1) == [1]
    assert store.versions("t") == [2, 3]

    store.begin_dataset_commit()
    assert store.write("t", spark.createDataFrame(
        [(1, "b")], "id long, v string"), key="id") == 3
    assert store.vacuum("t", keep=1) == []
    store.commit_dataset()
    assert store.current_version("t") == 3
    assert store.read(spark, "t").collect()[0].v == "b"


def test_segment_past_broadcast_threshold_sort_merges(spark, tmp_path):
    """A segment larger than the broadcast threshold folds through a
    sort-merge anti join, with no broadcast, and reads the same rows:
    one segment may be as large as its table."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 400)
    _upsert(spark, store, "t", [(i, f"w{i}") for i in range(0, 400, 5)])
    assert _current_chain(store) == [1, 2]
    want = {i: f"w{i}" if i % 5 == 0 else f"v{i}" for i in range(400)}
    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        df = store.read(spark, "t")
        assert dict(df.collect()) == want
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(conf, prev)
    assert "SortMergeJoin" in plan and "Broadcast" not in plan


def test_cli_maintain_leaves_chain_free_pointer(spark, tmp_path):
    """``-maintain-database`` (compact + vacuum) after a level-5 load
    leaves the table's current version a snapshot with no chain, with
    the same rows."""
    from linz_bde_uploader_spark import cli

    repo_root = write_repository(str(tmp_path / "repo"))
    conf = tmp_path / "tables.conf"
    conf.write_text(TABLES_CONF)
    common = ["--repository", repo_root, "--store", str(tmp_path / "store"),
              "--control", str(tmp_path / "ctl"), "--tables-conf", str(conf)]
    assert cli.main(common + ["-full"]) == 0
    assert cli.main(common + ["-incremental"]) == 0
    store = TableStore(str(tmp_path / "store"))
    assert _current_chain(store, BASE) == [1, 2]
    assert cli.main(common + ["-incremental", "-maintain-database"]) == 0
    assert _current_chain(store, BASE) == [3]
    assert store.row_count(BASE) == 5
    assert _sequences(spark, store) == L5_ROWS
    assert store.versions(BASE) == [1, 2, 3]   # v2 is kept, with its base


@pytest.mark.parametrize("use_tx", [False, True])
def test_crash_after_segment_lands(spark, tmp_path, use_tx):
    """A failure after the segment lands and before the pointer is
    staged or flipped leaves the old state readable, and the next load
    succeeds — under per-table commits and under the dataset
    transaction."""
    up, store = _uploader(spark, tmp_path, use_tx)
    up.apply_updates(level0=True)
    before = _sequences(spark, store)
    pointer = store._payload(BASE)
    real_write = store.write

    def crashing_write(table, df, **kwargs):
        verdict = kwargs["verdict"]

        def crash(written):
            verdict(written)
            raise RuntimeError("injected crash after the segment")
        kwargs["verdict"] = crash
        return real_write(table, df, **kwargs)

    store.write = crashing_write
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            up.apply_updates(level5=True)
    finally:
        store.write = real_write
    assert os.path.exists(os.path.join(store.root, BASE, "v=2",
                                       S.CHAIN_RECORD))
    assert store._payload(BASE) == pointer
    assert _sequences(spark, store) == before

    up2 = BdeUploader(spark, up.repo, store, up.ledger, up.tables,
                      config=up.config)
    r = up2.apply_updates(level5=True)
    assert r[-1].status == "loaded"
    assert _current_chain(store, BASE) == [1, 2]
    assert _sequences(spark, store) == L5_ROWS


def test_dataset_manifest_with_chain_rolls_forward(spark, tmp_path):
    """A ``_DATASET_COMMIT`` manifest whose pointer names a segment rolls
    forward on the next open to the folded state."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 4)
    store.begin_dataset_commit()
    _upsert(spark, store, "t", [(0, "a"), (7, "new")])
    staged = store._staged
    assert "chain" not in staged[0][1]
    assert store._chain("t", staged[0][1]["version"]) == [1, 2]
    with open(store._manifest_path(), "w") as fh:
        json.dump([{"table": t, "pointer": p} for t, p in staged], fh)
    assert store.current_version("t") == 1

    store2 = TableStore(str(tmp_path / "store"))
    assert not os.path.exists(store2._manifest_path())
    assert _current_chain(store2) == [1, 2]
    assert dict(store2.read(spark, "t").collect()) == {
        0: "a", 1: "v1", 2: "v2", 3: "v3", 7: "new"}


def test_second_staged_write_extends_staged_chain(spark, tmp_path):
    """Two loads of one table in one scope: the second is merged onto
    the first's staged version and extends its chain, not the
    committed one; the commit publishes both."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 8)
    store.begin_dataset_commit()
    _upsert(spark, store, "t", [(0, "a")])
    staged = store.read(spark, "t", version=2)
    stg = spark.createDataFrame([(1, "b")], "id long, v string")
    _load(store, "t", M.merge_tagged(
        staged, stg, spark.createDataFrame([(1,)], "key long"), "id"),
        onto=2)
    assert [store._chain("t", p["version"]) for _, p in store._staged] \
        == [[1, 2], [1, 2, 3]]
    assert store.current_version("t") == 1
    store.commit_dataset()
    assert _current_chain(store) == [1, 2, 3]
    assert dict(store.read(spark, "t").collect()) == {
        **{i: f"v{i}" for i in range(8)}, 0: "a", 1: "b"}


def test_segment_write_observes_in_result_stage(spark, tmp_path,
                                                monkeypatch):
    """The segment write's plan has every ``CollectMetrics`` (the
    merge observation and the segment's row count) above the last
    exchange, so their metrics come from the result stage."""
    store = TableStore(str(tmp_path / "store"))
    _base(spark, store, 8)
    written = []
    real_parquet = DataFrameWriter.parquet

    def capture(self, path, *a, **k):
        written.append(self._df)
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    _upsert(spark, store, "t", [(0, "a"), (9, "b")])
    monkeypatch.undo()
    assert _current_chain(store) == [1, 2]
    plan = (written[-1]._jdf.queryExecution().executedPlan().toString()
            .splitlines())
    metrics = [i for i, line in enumerate(plan) if "CollectMetrics" in line]
    exchanges = [i for i, line in enumerate(plan) if "Exchange" in line]
    assert len(metrics) == 2 and exchanges

    def depth(i):
        return len(plan[i]) - len(plan[i].lstrip(" :+-"))

    # the lines under the innermost CollectMetrics are its subtree
    end = next((i for i in range(metrics[-1] + 1, len(plan))
                if depth(i) <= depth(metrics[-1])), len(plan))
    assert all(metrics[-1] < i < end for i in exchanges)


@pytest.mark.parametrize("use_tx", [False, True])
def test_rejected_segment_leaves_views_unchanged(spark, tmp_path, use_tx):
    """A gated table with maintained views whose EP3 segment fails the
    tolerance gate writes no view: every view's pointer, contents,
    versions and dataset stamp stay as they were, and the base reads
    its old state — under per-table commits and under the dataset
    transaction."""
    from linz_bde_uploader_spark.operators.view_refresh import ViewSpec

    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    up = BdeUploader(spark, repo, store, Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf(TABLES_CONF.replace(
                         "row_tol=0.20,0.95", "row_tol=0.95")),
                     config=UploadConfig(
                         use_dataset_transaction=use_tx,
                         views={BASE: ViewSpec(
                             group_cols=["reversed"], value_col="sequence",
                             minmax=True)}))
    up.apply_updates(level0=True)
    tables = [BASE, f"{BASE}__agg", f"{BASE}__minmax"]

    def state():
        out = {}
        for t in tables:
            with open(store._pointer(t)) as fh:
                out[t] = (fh.read(), _rows(store.read(spark, t)),
                          t != BASE and store.versions(t),
                          store.current_dataset(t))
        return out

    before = state()
    write_crs(os.path.join(repo.root, "level_0", "20160701000000",
                           "pab1.crs"),
              PAB1_L0.replace("4457326|3|11960041|Y|80401150|\n", ""))
    r = up.apply_updates(full_incremental=True)
    assert r[-1].status == "error"
    assert r[-1].message == "tolerance: 2 < error floor of 3"
    assert os.path.exists(os.path.join(store.root, BASE, "v=2",
                                       S.CHAIN_RECORD))
    assert state() == before


def test_segment_read_equals_snapshot_with_null_keys(spark, tmp_path):
    """A NULL key (which nothing rejects yet) reads the same through a
    segment as through the snapshot the load would otherwise write:
    EP3's full form tags both sides' NULL-key rows D, and the
    null-safe anti-join drops the stored one; a level-5 segment, which
    never holds a NULL key, keeps it."""
    schema = "id long, v string"
    store = TableStore(str(tmp_path / "store"))
    cur = spark.createDataFrame([(1, "a"), (None, "n"), (2, "b")], schema)
    stg = spark.createDataFrame([(1, "a"), (None, "m"), (3, "c")], schema)
    chg = spark.createDataFrame([(2,), (4,)], "key long")
    for changes in (None, chg):
        store.write("t", cur, key="id", rows=3)
        onto = store.current_version("t")
        tagged = M.merge_tagged(store.read(spark, "t"), stg, changes, "id")
        _load(store, "t", tagged, onto)
        assert _current_chain(store) == [onto, onto + 1]
        want = _rows(M.MergeObservation().apply(
            M.merge_tagged(cur, stg, changes, "id")))
        assert _rows(store.read(spark, "t")) == want
    assert (None, "n") in want
