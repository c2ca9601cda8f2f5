"""Cross-version index layout compatibility (reference analog:
t/test-upgrades.bash:6-63 replays pre-upgrade schemas through the
new code; here the r7 on-disk ANN index layout is replayed through
the current operators).

The r7 layout is pinned BY HAND, not by calling old code: three
store tables only — ``<name>__centroids``, ``<name>__vectors``
(key='cell'), and an optional live ``<name>__delta`` stamped
``dataset='base_v<N>'`` for the base version it extends — and NO
``<name>__tombstones`` table (tombstones arrived in r8). The current
read/append/compact/delete paths must open that layout unchanged: a
refactor that starts assuming the tombstone table exists, or changes
the delta's stamp format so old deltas read as stale, breaks an
in-place upgrade of a live index and fails here."""

import pytest
from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators import ann_index as AI
from linz_bde_uploader_spark.operators import similarity as S
from linz_bde_uploader_spark.plans.tables import load_table
from linz_bde_uploader_spark.sources.store import TableStore

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").limit(60).cache()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _write_r7_layout(spark, store, base, delta=None):
    """Materialize exactly the tables (and only the tables) the r7
    code wrote: centroids, cell-bucketed inverted lists, and — when
    ``delta`` is given — a live delta stamped for the current base
    version. Returns the frozen centroids."""
    cents = S.seed_centroids(base, 8)
    b = base.select(F.col("vec_id"),
                    F.col("embedding").cast("array<double>").alias("v"))
    inv = S.ivf_assign(b, cents, "vec_id", "v", nprobe=1) \
        .select("vec_id", "cell", "v")
    store.write("ann__centroids", cents)
    store.write("ann__vectors", inv, key="cell")
    if delta is not None:
        d = delta.select(
            F.col("vec_id"),
            F.col("embedding").cast("array<double>").alias("v"))
        dinv = S.ivf_assign(d, cents, "vec_id", "v", nprobe=1) \
            .select("vec_id", "cell", "v")
        stamp = f"base_v{store.current_version('ann__vectors')}"
        store.write("ann__delta", dinv, key="cell", dataset=stamp)
    assert not store.exists("ann__tombstones")
    return cents


def test_r7_layout_reads_and_queries(spark, tmp_path, emb):
    """A pre-tombstone index (base + live delta, no tombstone table)
    must answer queries identically to the direct operator over the
    full corpus."""
    store = TableStore(str(tmp_path / "store"), n_buckets=4)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    cents = _write_r7_layout(spark, store, half_a, delta=half_b)
    queries = emb.filter(F.col("vec_id") < 10)
    got = AI.ivf_index_query(spark, store, "ann", queries,
                             k=3, nprobe=2)
    want = S.ivf_topk(emb, queries, k=3, centroids=cents, nprobe=2)
    assert _rows(got) == _rows(want)


def test_r7_layout_append_stays_idempotent(spark, tmp_path, emb):
    """The cell-scoped (r8) membership check must still see rows that
    an r7-written delta holds — a replayed batch adds nothing."""
    store = TableStore(str(tmp_path / "store"), n_buckets=4)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    _write_r7_layout(spark, store, half_a, delta=half_b)
    # every id in the old delta is already a member
    assert AI.ivf_index_append(spark, store, half_b, "ann") == 0
    # and the old base too
    assert AI.ivf_index_append(spark, store, half_a, "ann") == 0


def test_r7_layout_compact_folds_old_delta(spark, tmp_path, emb):
    """Compacting an r7-written delta folds it into the base and
    leaves a pure-base index (no tombstone table springs into
    existence as a side effect)."""
    store = TableStore(str(tmp_path / "store"), n_buckets=4)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    _write_r7_layout(spark, store, half_a, delta=half_b)
    assert AI.ivf_index_compact(spark, store, "ann") == half_b.count()
    base = store.read(spark, "ann__vectors")
    assert base.count() == emb.count()
    live = AI._live_delta(spark, store, "ann")
    assert live is None or live.count() == 0
    assert not store.exists("ann__tombstones")
    # second compact: nothing to do
    assert AI.ivf_index_compact(spark, store, "ann") == 0


def test_r7_layout_upgrades_in_place_via_delete(spark, tmp_path, emb):
    """The first delete against an old-layout index introduces the
    tombstone table cleanly; queries hide the row immediately and the
    next compact purges it physically — full r8 semantics on an r7
    index with no migration step."""
    store = TableStore(str(tmp_path / "store"), n_buckets=4)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    _write_r7_layout(spark, store, half_a, delta=half_b)
    victim = spark.createDataFrame([(0,)], "vec_id bigint")
    assert AI.ivf_index_delete(spark, store, victim, "ann") == 1
    assert store.exists("ann__tombstones")
    queries = emb.filter(F.col("vec_id") < 10)
    got = AI.ivf_index_query(spark, store, "ann", queries,
                             k=3, nprobe=2)
    assert not any(r["neighbor_id"] == 0 for r in got.collect())
    AI.ivf_index_compact(spark, store, "ann")
    assert store.read(spark, "ann__vectors") \
        .filter(F.col("vec_id") == 0).count() == 0
    assert store.read(spark, "ann__tombstones").count() == 0


def _write_v1_dedup_layout(spark, store, corpus, name="dd",
                           num_perm=16, bands=4, shingle_words=3):
    """Materialize exactly what a pre-r20 dedup_index_build wrote:
    content/bands/sigs tables whose band keys are the DOUBLE-md5
    layout-1 form, and a meta stamp WITHOUT key_layout. Pinned by
    hand (the r7-ANN-fixture discipline) so a refactor of the live
    write path cannot silently re-pin the fixture to itself."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.dedup import (
        _minhash_wide, lsh_bands_from_wide, sig_array_from_wide)

    d = corpus.select(F.col("doc_id").alias("id"), "text")
    content = (d.groupBy(F.md5("text").alias("content_hash"))
               .agg(F.min("id").alias("canonical_id")))
    store.write(f"{name}__content", content, key="content_hash",
                rows=content.count(),
                meta={"num_perm": num_perm, "bands": bands,
                      "shingle_words": shingle_words})
    wide = _minhash_wide(d, "text", "id", num_perm, shingle_words)
    v1_bkey = F.md5(F.concat_ws(":", F.col("band"),
                                F.col("band_hash")))
    bands_df = (lsh_bands_from_wide(wide, num_perm, bands)
                .select("id", v1_bkey.alias("bkey"))
                .groupBy("bkey").agg(F.min("id").alias("min_id")))
    store.write(f"{name}__bands", bands_df, key="bkey")
    store.write(f"{name}__sigs", sig_array_from_wide(wide, num_perm),
                key="id")


def test_v1_dedup_index_layout_ingests_and_compacts(spark, tmp_path):
    """(r20) A dedup index built before key_layout stamping stores
    double-md5 band keys; the current ingest/compact must keep
    computing THAT key form against it (meta absent => layout 1), or
    every membership join goes silently empty and near-dups are
    admitted. A fresh r20 build of the same corpus must classify the
    same batch identically under its layout-2 keys."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import dedup_index as DI
    from linz_bde_uploader_spark.plans.tables import load_table

    docs = (load_table(spark, SF_DIR, "documents")
            .select("doc_id", "text").limit(80).cache())
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    old = TableStore(str(tmp_path / "v1"), n_buckets=4)
    _write_v1_dedup_layout(spark, old, corpus)
    assert DI._key_layout(old, "dd") == 1
    v_old = DI.dedup_index_ingest(spark, old, batch, "dd")
    got_old = {(r["id"], r["verdict"], r["dup_of"])
               for r in v_old.collect()}
    v_old.unpersist()
    # the delta the ingest appended must carry layout-1 keys (md5
    # hex, no ':') — mixed-layout tables would corrupt the index
    if old.exists("dd__bands_delta"):
        for r in old.read(spark, "dd__bands_delta").collect():
            assert ":" not in r["bkey"] and len(r["bkey"]) == 32

    new = TableStore(str(tmp_path / "v2"), n_buckets=4)
    DI.dedup_index_build(spark, new, corpus, "dd")
    assert DI._key_layout(new, "dd") == 2
    for r in new.read(spark, "dd__bands").limit(20).collect():
        assert ":" in r["bkey"]  # layout-2 keys: "band:digest"
    v_new = DI.dedup_index_ingest(spark, new, batch, "dd")
    got_new = {(r["id"], r["verdict"], r["dup_of"])
               for r in v_new.collect()}
    v_new.unpersist()
    assert got_old == got_new and got_old

    # v1 compact (with a tombstone, exercising the band-minima
    # rebuild) must rebuild layout-1 keys and stay layout 1
    victim = spark.createDataFrame(
        [(int(corpus.agg(F.min("doc_id")).first()[0]),)],
        "doc_id bigint")
    DI.dedup_index_delete(spark, old, victim, "dd")
    DI.dedup_index_compact(spark, old, "dd")
    assert DI._key_layout(old, "dd") == 1
    for r in old.read(spark, "dd__bands").limit(20).collect():
        assert ":" not in r["bkey"] and len(r["bkey"]) == 32
    docs.unpersist()


def test_v1_dedup_index_rebuild_crash_keeps_v1_layout(spark, tmp_path,
                                                      monkeypatch):
    """A rebuild over a v1 dedup index that fails at the band write
    must leave the v1 index whole: the layout-2 content stamp may not
    land without the layout-2 bands, or every later ingest computes
    band keys that match nothing and admits the near-dups. The later
    ingest must classify the batch exactly as an untouched copy of the
    v1 fixture does, finding the near-copies of stored docs."""
    import shutil

    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import dedup_index as DI
    from linz_bde_uploader_spark.plans.tables import load_table

    docs = (load_table(spark, SF_DIR, "documents")
            .select("doc_id", "text").limit(80).cache())
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # near-copies of stored docs: only the band join against the
    # stored index can find them (a batch-internal pair would not
    # tell a broken index from a sound one)
    batch = (corpus.filter(F.col("doc_id") < 20)
             .select((F.col("doc_id") + 1000).alias("doc_id"),
                     F.concat("text", F.lit(" plus one more word"))
                     .alias("text")))

    crashed = TableStore(str(tmp_path / "crashed"), n_buckets=4)
    _write_v1_dedup_layout(spark, crashed, corpus)
    shutil.copytree(str(tmp_path / "crashed"), str(tmp_path / "intact"))
    intact = TableStore(str(tmp_path / "intact"), n_buckets=4)

    write = crashed.write

    def crash_at_bands(table, df, **kw):
        if table == "dd__bands":
            raise OSError("injected crash at the band write")
        return write(table, df, **kw)

    monkeypatch.setattr(crashed, "write", crash_at_bands)
    with pytest.raises(OSError, match="injected crash"):
        DI.dedup_index_build(spark, crashed, corpus, "dd")
    monkeypatch.undo()
    assert DI._key_layout(crashed, "dd") == 1

    def verdicts(store):
        v = DI.dedup_index_ingest(spark, store, batch, "dd")
        got = {(r["id"], r["verdict"], r["dup_of"]) for r in v.collect()}
        v.unpersist()
        return got

    got, want = verdicts(crashed), verdicts(intact)
    assert got == want
    assert any(verdict == "near_dup" and of < 1000
               for _id, verdict, of in want)
    docs.unpersist()
