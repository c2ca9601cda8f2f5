"""The table store's pointer records the schema of the files it wrote,
so ``TableStore.read`` of the current version starts no Spark job
(parquet schema inference is one job per read) and still returns the
schema inference would give."""

import json
import os
import uuid

from pyspark.sql import types as T

from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
from linz_bde_uploader_spark.control.ledger import Ledger
from linz_bde_uploader_spark.driver import BdeUploader, UploadConfig
from linz_bde_uploader_spark.operators.view_refresh import ViewSpec
from linz_bde_uploader_spark.sources.repository import BdeRepository
from linz_bde_uploader_spark.sources.store import TableStore
from tests.fixtures import write_repository


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


def _assert_pointer_schema(spark, store, table):
    """The recorded schema (a snapshot pointer's, or a segment's chain
    record's, which the pointer does not repeat) is the one inference
    gives the chain's base directory, each delta segment of the chain
    holds that schema plus ``_action string``, and the current read
    starts no job and returns the base schema."""
    payload = store._payload(table)
    record = store._chain_record(table, payload["version"])
    base, *segments = store._chain(table, payload["version"])

    def inferred(v):
        return spark.read.parquet(
            os.path.join(store.root, table, f"v={v}")).schema

    assert record is None or "schema" not in payload, table
    schema = T.StructType.fromJson((record or payload)["schema"])
    assert schema == inferred(base), table
    for v in segments:
        assert inferred(v) == T.StructType(
            schema.fields + [T.StructField("_action", T.StringType())]), \
            (table, v)
    df, jobs = _jobs(spark, lambda: store.read(spark, table))
    assert jobs == [], table
    assert df.schema == schema, table


def _stored_tables(store):
    return sorted(t for t in os.listdir(store.root)
                  if os.path.isfile(os.path.join(store.root, t, "_CURRENT")))


def test_current_read_starts_no_job(spark, tmp_path):
    """The current version reads with no job; a pointer without a
    schema (an older release's) and an explicit ``version=`` infer
    it — one job each, the same rows either way."""
    store = TableStore(str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a", [1.5]), (2, None, None)],
                               "id long, v string, xs array<double>")
    store.write("t", df, key="id")
    fast, jobs = _jobs(spark, lambda: store.read(spark, "t"))
    assert jobs == []
    _, jobs = _jobs(spark, lambda: store.read(spark, "t", version=1))
    assert jobs != []  # the probe does see inference jobs

    pointer = store._pointer("t")
    with open(pointer) as fh:
        payload = json.load(fh)
    payload.pop("schema")
    with open(pointer, "w") as fh:
        json.dump(payload, fh)
    old, jobs = _jobs(spark, lambda: store.read(spark, "t"))
    assert jobs != []
    assert old.schema == fast.schema
    assert sorted(old.collect()) == sorted(fast.collect())


def test_pointer_schema_of_driver_loads(spark, tmp_path):
    """Level-0, level-5 (with and without a maintained view) and view
    writes each record the schema inference gives their files; the
    level-5 loads land delta segments, whose chains read with no job."""
    repo = BdeRepository(write_repository(str(tmp_path / "repo")))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    cfg = UploadConfig(views={"crs_parcel_bndry": ViewSpec(
        group_cols=["reversed"], value_col="sequence", minmax=True)})
    up = BdeUploader(spark, repo, store, Ledger(str(tmp_path / "ctl")),
                     parse_tables_conf("""
TABLE l5_change_table l5_change_table files xaud
TABLE crs_parcel_bndry key=audit_id files pab1
TABLE crs_parcel_bndry2 key=audit_id row_tol=0.20,0.95 files pab1
"""), config=cfg)
    for level in ("level0", "level5"):
        r = up.apply_updates(**{level: True})
        assert {x.status for x in r} == {"loaded"}
        tables = _stored_tables(store)
        assert {"crs_parcel_bndry", "crs_parcel_bndry2",
                "crs_parcel_bndry__agg",
                "crs_parcel_bndry__minmax"} <= set(tables)
        for t in tables:
            _assert_pointer_schema(spark, store, t)
    assert store._chain("crs_parcel_bndry", 2) == [1, 2]
    assert store.current_version("crs_parcel_bndry") == 2


def test_pointer_schema_of_dedup_index(spark, tmp_path):
    """The dedup index's array-typed signature tables read back under
    their pointer schema exactly as inference reads them."""
    from linz_bde_uploader_spark.operators import dedup_index as DI

    store = TableStore(str(tmp_path / "store"), n_buckets=4)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river"),
         (2, "an unrelated note on shuffle partitions and broadcast joins")],
        "doc_id long, text string")
    DI.dedup_index_build(spark, store, docs, "idx")
    tables = _stored_tables(store)
    assert "idx__sigs" in tables
    for t in tables:
        _assert_pointer_schema(spark, store, t)


def test_pointer_schema_of_catalog_bucketed_write(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"), n_buckets=2,
                       use_catalog_buckets=True)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)],
                               "id int, v string")
    store.write("t", df, key="id")
    _assert_pointer_schema(spark, store, "t")
    # a fresh catalog (another session) reads the files directly
    for t in spark.catalog.listTables():
        if t.name.startswith(store._prefix):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    _assert_pointer_schema(spark, store, "t")


def test_compact_keeps_pointer_schema(spark, tmp_path):
    store = TableStore(str(tmp_path / "store"))
    df = spark.createDataFrame([(i, f"v{i}", {"k": i}) for i in range(5)],
                               "id long, v string, m map<string,int>")
    store.write("t", df, key="id", dataset="20160601000000", rows=5)
    before = store._payload("t")
    store.compact(spark, "t")
    after = store._payload("t")
    assert after["version"] == before["version"] + 1
    assert after["schema"] == before["schema"]
    assert (after["rows"], after["dataset"]) == (5, "20160601000000")
    _assert_pointer_schema(spark, store, "t")
