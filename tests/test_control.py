"""Repository walker, catalog, ledger, and table store tests."""

import time

import pytest

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf, validate_key
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.sources.repository import BdeRepository, dataset_timestamp
from linz_bde_uploader_spark.sources.store import TableStore
from tests.fixtures import write_repository


def test_repository_walk(tmp_path):
    root = write_repository(str(tmp_path / "repo"))
    repo = BdeRepository(root)
    l0 = repo.datasets(0)
    l5 = repo.datasets(5)
    assert [d.name for d in l0] == ["20160601000000"]
    assert [d.name for d in l5] == ["20160601171200"]
    assert set(l5[0].files()) == {"pab1", "xaud"}
    assert l5[0].has_files(["pab1", "xaud"])
    assert l5[0].missing_files(["pab1", "nope"]) == ["nope"]
    # S2 watermark pruning
    assert repo.select(5, after="20160601171200") == []
    assert [d.name for d in repo.select(5, after="20160601000000")] == ["20160601171200"]
    assert repo.select(0, before="20160601000000") == []
    assert repo.latest(0).name == "20160601000000"


def test_dataset_timestamp():
    assert dataset_timestamp("20160601171225") == "2016-06-01 17:12:25"
    with pytest.raises(ValueError):
        dataset_timestamp("not-a-dataset")


def test_tables_conf():
    text = """
# comment
TABLE crs_parcel_bndry key=audit_id row_tol=0.20,0.95 files pab1
TABLE cbe_title_parcel_association l5_is_full key=id files tpa1
TABLE l5_change_table l5_change_table files xaud
TABLE custom level0 key=id
    COLUMN id integer
    files cust
"""
    tables = parse_tables_conf(text)
    t = tables[0]
    assert (t.name, t.key, t.files) == ("crs_parcel_bndry", "audit_id", ["pab1"])
    assert (t.row_tol_error, t.row_tol_warning) == (0.20, 0.95)
    assert tables[1].l5_is_full
    assert tables[2].l5_change_table
    assert tables[3].levels == {"0"}
    assert tables[3].column_overrides == [("id", "integer")]
    assert tables[3].files == ["cust"]


def test_store_catalog_buckets_elide_merge_shuffle(spark, tmp_path):
    """With use_catalog_buckets, two store versions bucketed on the
    same key join WITHOUT an exchange on either side — the physical
    property the CDC merge relies on at 100 TB. The plain-parquet mode
    (no bucket metadata) must still shuffle."""
    from pyspark.sql import functions as F

    def join_plan(store):
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val"))
        store.write("t", df, key="k")
        store.write("t", df.withColumn("val", F.col("val") + 1), key="k")
        cur = store.read(spark, "t", version=1)
        stg = store.read(spark, "t", version=2)
        joined = cur.alias("a").join(stg.alias("b"),
                                     F.col("a.k") == F.col("b.k"))
        jvm = spark._jvm
        return joined._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = TableStore(str(tmp_path / "s1"), n_buckets=4,
                              use_catalog_buckets=True)
        assert "Exchange hashpartitioning" not in join_plan(bucketed)

        plain = TableStore(str(tmp_path / "s2"), n_buckets=4)
        assert "Exchange hashpartitioning" in join_plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_reference_tables_conf_parses():
    """Parity with the production registry: the parser must accept the
    reference's real conf/tables.conf (100 TABLE entries — the ~91
    bde targets plus the change table and cbe_* extras), every data
    table keyed with the standard 0.20/0.95 tolerances."""
    import os

    path = "/root/reference/conf/tables.conf"
    if not os.path.exists(path):
        pytest.skip("reference checkout not available")
    tables = parse_tables_conf(open(path).read())
    assert len(tables) == 100
    by_name = {t.name: t for t in tables}
    assert by_name["l5_change_table"].l5_change_table
    assert by_name["l5_change_table"].files == ["xaud"]
    pab = by_name["crs_parcel_bndry"]
    assert (pab.key, pab.files) == ("audit_id", ["pab1"])
    assert (pab.row_tol_error, pab.row_tol_warning) == (0.20, 0.95)
    keyed = [t for t in tables if t.key]
    assert len(keyed) == 99  # everything but the change table


def test_attrs_after_files_token():
    """Attribute tokens after the files list must parse as attributes,
    not become phantom file tags (which would make every dataset look
    incomplete)."""
    t = parse_tables_conf(
        "TABLE crs_parcel_bndry key=audit_id files pab1 unique=lin_id")[0]
    assert t.files == ["pab1"]
    assert t.unique_cols == ["lin_id"]


def test_validate_key():
    t = parse_tables_conf("TABLE t key=audit_id files f")[0]
    validate_key(t, {"audit_id": "integer", "x": "varchar"})
    with pytest.raises(ValueError):
        validate_key(t, {"x": "varchar"})
    with pytest.raises(ValueError):
        validate_key(t, {"audit_id": "varchar"})


def test_ledger_job_lifecycle(tmp_path):
    led = Ledger(str(tmp_path / "ctl"))
    job = led.create_job()
    assert led.any_active()
    with pytest.raises(RuntimeError):
        led.create_job()  # single-job gate (C1)
    led.create_job(allow_concurrent=True)
    led.finish_job(job.id, ok=True)
    # locks (C2)
    j2 = Ledger(str(tmp_path / "ctl")).create_job(allow_concurrent=True)
    led2 = Ledger(str(tmp_path / "ctl"))
    assert led2.acquire_lock("t1", j2.id)
    assert not led2.acquire_lock("t1", 999)
    assert led2.acquire_lock("t1", 999, steal=True)  # -override-locks
    led2.release_lock("t1", 999)


def test_ledger_watermarks_and_stats(tmp_path):
    led = Ledger(str(tmp_path / "ctl"))
    job = led.create_job()

    class S:
        ninsert, nupdate, nnullupdate, ndelete = 3, 2, 0, 1

    led.record_dataset_loaded(job.id, "crs_parcel_bndry", "20160601171200", "5", S())
    t = led.table("crs_parcel_bndry")
    assert t["last_upload_dataset"] == "20160601171200"
    assert t["last_level0_dataset"] == ""  # only level 0 moves that watermark
    led.record_dataset_loaded(job.id, "crs_parcel_bndry", "20160602000000", "0", S())
    assert led.table("crs_parcel_bndry")["last_level0_dataset"] == "20160602000000"
    # X2 predicate evaluator
    assert led.tables_affected(job.id, ["crs_parcel_bndry"], "loaded")
    assert led.tables_affected(job.id, ["crs_parcel_bndry"], "affected")
    assert not led.tables_affected(job.id, ["other"], "loaded")


def test_ledger_gate_across_instances(tmp_path):
    """C1 across processes: a second Ledger instance (stale in-memory
    view) must still see the first's active job — the job gate
    re-reads state under the file lock."""
    root = str(tmp_path / "ctl")
    l1, l2 = Ledger(root), Ledger(root)
    l1.create_job()
    with pytest.raises(RuntimeError):
        l2.create_job()


def test_ledger_zombies(tmp_path):
    led = Ledger(str(tmp_path / "ctl"), lock_expiry_hours=0.0)
    job = led.create_job()
    led.acquire_lock("t1", job.id)
    time.sleep(0.01)
    assert not led.any_active()  # heartbeat expired
    dead = led.remove_zombies()
    assert dead == [job.id]
    assert led.table("t1")["upl_id_lock"] is None


def test_ledger_save_fsyncs_before_replace(tmp_path, monkeypatch):
    """Power-loss durability of the ledger: the new ``ledger.json``
    content is fsync'd before the rename over the old file, and the
    control directory after it — else a crash can leave a torn
    ledger that every later run fails to parse. Recorded via a
    tracing os.fsync/os.replace (fd resolved through /proc/self/fd),
    as in test_dataset_commit_fsyncs_data_before_manifest."""
    import os

    root = str(tmp_path / "ctl")
    led = Ledger(root)
    events: list[tuple[str, str]] = []
    real_fsync, real_replace = os.fsync, os.replace

    def tracing_fsync(fd):
        try:
            events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        except OSError:
            events.append(("fsync", "?"))
        real_fsync(fd)

    def tracing_replace(src, dst):
        events.append(("replace", str(dst)))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", tracing_fsync)
    monkeypatch.setattr(os, "replace", tracing_replace)
    led.create_job()

    ledger_json = os.path.join(root, "ledger.json")
    replaced = events.index(("replace", ledger_json))
    assert ("fsync", ledger_json + ".tmp") in events[:replaced], events
    assert ("fsync", os.path.realpath(root)) in events[replaced + 1:], \
        events
    assert Ledger(root).any_active()


def test_ledger_batch_saves_once(tmp_path, monkeypatch):
    """Calls nested in ``Ledger.batch()`` share one flock, reload and
    save at the outermost exit; a block that raises saves nothing and
    leaves no unsaved change in memory."""
    root = str(tmp_path / "ctl")
    led = Ledger(root)
    job = led.create_job()
    saves = []
    real_save = Ledger._save

    def counting_save(self):
        saves.append(1)
        real_save(self)

    monkeypatch.setattr(Ledger, "_save", counting_save)

    class S:
        ninsert, nupdate, nnullupdate, ndelete = 1, 0, 0, 0

    with led.batch():
        assert led.acquire_lock("t1", job.id)
        assert led.acquire_lock("t2", job.id)
        led.record_dataset_loaded(job.id, "t1", "20160601171200", "5", S())
        with led.batch():
            led.release_lock("t2", job.id)
        led.heartbeat(job.id)
        assert saves == []
    assert saves == [1]
    other = Ledger(root)
    assert other.table("t1")["upl_id_lock"] == job.id
    assert other.table("t2")["upl_id_lock"] is None
    assert other.table("t1")["last_upload_dataset"] == "20160601171200"

    with pytest.raises(RuntimeError, match="boom"):
        with led.batch():
            led.release_lock("t1", job.id)
            raise RuntimeError("boom")
    assert saves == [1]
    assert led.table("t1")["upl_id_lock"] == job.id
    assert Ledger(root).table("t1")["upl_id_lock"] == job.id


def test_ledger_batch_threads_no_lost_update(tmp_path):
    """``batch()`` nests per thread, not per ledger: threads sharing
    one Ledger each take the flock for their own outermost batch, so
    no thread's record joins (and is lost with) another's save."""
    import sys
    import threading

    root = str(tmp_path / "ctl")
    led = Ledger(root)
    job = led.create_job()

    class S:
        ninsert, nupdate, nnullupdate, ndelete = 1, 0, 0, 0

    def work(i):
        for n in range(3):
            with led.batch():
                led.record_dataset_loaded(job.id, f"t{i}", f"d{n}", "5", S())
                with led.batch():
                    led.record_dataset_loaded(job.id, f"u{i}", f"d{n}", "5",
                                              S())
                led.heartbeat(job.id)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    rows = Ledger(root).stats_rows()
    assert len(rows) == 8 * 3 * 2
    assert {(r["table_name"], r["dataset"]) for r in rows} == {
        (f"{p}{i}", f"d{n}") for p in "tu" for i in range(8)
        for n in range(3)}


def test_store_versioned_snapshots(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    v1 = store.write("t", df1, key="k", dataset="20160601000000")
    assert v1 == 1 and store.current_version("t") == 1
    df2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], ["k", "v"])
    v2 = store.write("t", df2, key="k")
    assert v2 == 2
    assert store.read(spark, "t").count() == 3
    assert store.read(spark, "t", version=1).count() == 2  # revision intact (C8)
    v3 = store.write("t", df1, key="k")
    assert store.vacuum("t", keep=2) == [1]
    assert store.read(spark, "t", version=v3).count() == 2


# ------------------------------------------------------ S8 publication


def test_publication_schema_publish_parity(spark, tmp_path):
    """Analog of bin/linz-bde-uploader-schema-publish.pl:57-94:
    create-if-missing, idempotent ADD TABLE of newly-appearing
    control tables, refusal when the control area is uninitialized."""
    import os

    from linz_bde_uploader_spark.control.publication import (
        ControlPublication, PublicationError,
    )
    from linz_bde_uploader_spark.operators.merge import MergeStats

    pub = ControlPublication(str(tmp_path / "pub"))
    missing = Ledger(str(tmp_path / "no_ledger_here"))
    if os.path.exists(os.path.join(missing.root, "ledger.json")):
        os.remove(os.path.join(missing.root, "ledger.json"))
    with pytest.raises(PublicationError, match="does not exist"):
        pub.publish(spark, missing)

    ledger = Ledger(str(tmp_path / "ctl"))
    job = ledger.create_job()
    ledger.finish_job(job.id)
    out1 = pub.publish(spark, ledger)
    assert out1["publication"] == "all_bde_control"
    assert "jobs" in out1["tables"] and "jobs" in out1["added"]
    assert out1["n_publish"] == 1
    # snapshot is queryable and matches the ledger
    jobs = pub.read(spark, "jobs")
    assert jobs.count() == 1

    # re-publish: idempotent, nothing newly added
    out2 = pub.publish(spark, ledger)
    assert out2["added"] == [] and out2["n_publish"] == 2

    # a control table that gains rows later flows into the refresh;
    # membership only ever grows (ALTER PUBLICATION ADD TABLE loop)
    job2 = ledger.create_job()
    ledger.record_dataset_loaded(job2.id, "crs_parcel_bndry",
                                 "20160601000000", "0",
                                 MergeStats(ninsert=3), duration=0.5)
    ledger.finish_job(job2.id)
    out3 = pub.publish(spark, ledger)
    assert set(out3["tables"]) >= {"jobs", "tables", "stats"}
    stats = pub.read(spark, "stats")
    assert stats.filter("table_name = 'crs_parcel_bndry'").count() == 1
    assert pub.read(spark, "jobs").count() == 2


def test_publish_cli(spark, tmp_path, capsys):
    """The schema-publish CLI analog: ready-message on success, error
    + exit 1 against an uninitialized control area."""
    from linz_bde_uploader_spark import publish

    ledger = Ledger(str(tmp_path / "ctl"))
    job = ledger.create_job()
    ledger.finish_job(job.id)
    rc = publish.main(["--control", str(tmp_path / "ctl"),
                       "--out", str(tmp_path / "pub")])
    assert rc == 0
    outerr = capsys.readouterr()
    assert 'Publication "all_bde_control" ready' in outerr.out
    import os
    os.remove(str(tmp_path / "ctl" / "ledger.json"))
    rc = publish.main(["--control", str(tmp_path / "ctl"),
                       "--out", str(tmp_path / "pub")])
    assert rc == 1


_CONTENDER = r"""
import json, sys, time
from linz_bde_uploader_spark.control.ledger import Ledger

root, expiry_h = sys.argv[1], float(sys.argv[2])
led = Ledger(root, lock_expiry_hours=expiry_h)
j2 = led.create_job(allow_concurrent=True)
out = {"job2": j2.id,
       "first_acquire": led.acquire_lock("tbl", j2.id)}
holder = led._load()["tables"]["tbl"]["upl_id_lock"]
out["holder"] = holder

def holder_alive():
    j = [x for x in led._load()["jobs"] if x["id"] == holder][0]
    return j["status"] == "A" and j["end_time"] > time.time() - expiry_h * 3600

deadline = time.time() + 30
out["acquired"] = False
while time.time() < deadline:
    if not holder_alive():
        # holder's heartbeat went stale: its lock row is still held
        # (nobody swept it) -> this is a genuine steal, then the
        # zombie sweep retires the dead job
        out["holder_at_takeover"] = led._load()["tables"]["tbl"]["upl_id_lock"]
        out["acquired"] = led.acquire_lock("tbl", j2.id, steal=True)
        out["success_time"] = time.time()
        led.remove_zombies()
        break
    time.sleep(0.05)

class S:
    ninsert, nupdate, nnullupdate, ndelete = 1, 0, 0, 0

if out["acquired"]:
    led.record_dataset_loaded(j2.id, "tbl", "20990101000000", "5", S())
    led.release_lock("tbl", j2.id)
    led.finish_job(j2.id, ok=True)
print(json.dumps(out))
"""


def test_two_process_lock_contention_steal_after_expiry(spark, tmp_path):
    """Reference lock scenarios (t/linz_bde_uploader.t:908-992) across
    REAL processes: a second uploader in its own OS process is refused
    the table lock while the holder heartbeats, takes it over only
    after the holder's heartbeat expires (zombie expiry + steal), and
    the store's version pointer stays consistent through the whole
    episode."""
    import json as _json
    import os
    import subprocess
    import sys

    root = str(tmp_path / "ctl")
    expiry_h = 1.0 / 3600  # heartbeats go stale after 1 s
    led = Ledger(root, lock_expiry_hours=expiry_h)
    job1 = led.create_job()
    assert led.acquire_lock("tbl", job1.id)

    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    df1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    store.write("tbl", df1)
    assert store.current_version("tbl") == 1

    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))) + os.pathsep + env.get("PYTHONPATH", "")
    # the store write above can outlast the 1 s expiry — refresh the
    # holder's heartbeat so the contender starts against a LIVE holder
    led.heartbeat(job1.id)
    proc = subprocess.Popen(
        [sys.executable, "-c", _CONTENDER, root, str(expiry_h)],
        stdout=subprocess.PIPE, env=env, text=True)

    # keep job1 alive: while heartbeats continue the contender's
    # steal+zombie loop must NOT win the lock
    for _ in range(8):
        time.sleep(0.25)
        led.heartbeat(job1.id)
    last_hb = time.time()
    stdout, _ = proc.communicate(timeout=60)  # stop heartbeating; let it expire
    out = _json.loads(stdout.strip().splitlines()[-1])

    assert out["first_acquire"] is False  # blocked while holder lived
    assert out["acquired"] is True
    # the takeover cannot predate the heartbeat going stale
    assert out["success_time"] >= last_hb + 0.9, out
    # and it was a real steal: job1 still held the lock row when the
    # contender took over (no sweep had freed it)
    assert out["holder"] == job1.id
    assert out["holder_at_takeover"] == job1.id

    # post-episode ledger is consistent: job1 expired to E by the
    # contender's zombie sweep, job2 completed, lock free, watermark
    # advanced by the contender
    led2 = Ledger(root)
    jobs = {j["id"]: j["status"] for j in led2._state["jobs"]}
    assert jobs[job1.id] == "E"
    assert jobs[out["job2"]] == "C"
    assert led2.table("tbl")["upl_id_lock"] is None
    assert led2.table("tbl")["last_upload_dataset"] == "20990101000000"
    assert not led2.any_active()

    # version pointer survived the contention and still advances
    assert store.current_version("tbl") == 1
    store.write("tbl", spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert store.current_version("tbl") == 2
    assert store.read(spark, "tbl").count() == 1


_JOB_STORM = r"""
import json, sys
from linz_bde_uploader_spark.control.ledger import Ledger

led = Ledger(sys.argv[1])
ids = [led.create_job(allow_concurrent=True).id for _ in range(50)]
print(json.dumps(ids))
"""


def test_two_process_job_ids_no_lost_updates(tmp_path):
    """Two OS processes hammering create_job concurrently: the flock'd
    read-modify-write must serialize — 100 jobs, 100 distinct ids, no
    lost update on next_job_id (the reference gets this from
    PostgreSQL row locks; the JSON ledger gets it from flock)."""
    import json as _json
    import os
    import subprocess
    import sys

    root = str(tmp_path / "ctl")
    Ledger(root)  # init the file
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))) + os.pathsep + env.get("PYTHONPATH", "")
    procs = [subprocess.Popen([sys.executable, "-c", _JOB_STORM, root],
                              stdout=subprocess.PIPE, env=env, text=True)
             for _ in range(2)]
    ids = []
    for p in procs:
        stdout, _ = p.communicate(timeout=120)
        ids += _json.loads(stdout.strip().splitlines()[-1])
    assert len(ids) == 100
    assert len(set(ids)) == 100  # no id ever handed out twice
    led = Ledger(root)
    assert led._state["next_job_id"] == 101
    assert len(led._state["jobs"]) == 100
