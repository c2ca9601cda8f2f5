"""Streaming + multimodal operator tests."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linz_bde_uploader_spark.operators import multimodal as MM
from linz_bde_uploader_spark.operators.view_refresh import ViewSpec
from linz_bde_uploader_spark.plans.tables import load_table
from linz_bde_uploader_spark.streaming import events as STR
from tests.fixtures import write_repository

# heavy module: excluded from the inner-loop run (pytest.ini, -m "not slow")
pytestmark = pytest.mark.slow

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ streaming

FILES_SCHEMA = T.StructType([
    T.StructField("table", T.StringType()),
    T.StructField("dataset", T.StringType()),
    T.StructField("start_ts", T.DoubleType()),
    T.StructField("end_ts", T.DoubleType()),
])


def test_continuity_check_stateful(spark, tmp_path):
    """Per-table state (last END) survives across micro-batch runs via
    the checkpoint; gaps beyond the tolerance are flagged."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    h = 3600.0

    def drain(rows):
        spark.createDataFrame(rows, FILES_SCHEMA).write.mode("append").parquet(src)
        stream = spark.readStream.schema(FILES_SCHEMA).parquet(src)
        checked = STR.continuity_check(stream, warn_hours=0.5, fail_hours=2.0)
        STR.run_available_now(checked, ckpt, out)
        return {(r.table, r.dataset): (round(r.gap_hours, 3), r.status)
                for r in spark.read.parquet(out).collect()}

    # batch 1: first file ok; contiguous follow-up ok; 1h gap -> warning
    got = drain([
        ("t1", "d1", 0.0, 10 * h),
        ("t1", "d2", 10 * h, 20 * h),
        ("t1", "d3", 21 * h, 30 * h),
    ])
    assert got == {("t1", "d1"): (0.0, "ok"), ("t1", "d2"): (0.0, "ok"),
                   ("t1", "d3"): (1.0, "warning")}

    # batch 2 (new run, same checkpoint): state remembers END=30h,
    # a 3h jump exceeds fail_hours=2
    got = drain([("t1", "d4", 33 * h, 40 * h)])
    assert got[("t1", "d4")] == (3.0, "fail")
    # a different table starts with fresh state -> first file is ok
    got = drain([("t2", "d5", 99 * h, 100 * h)])
    assert got[("t2", "d5")] == (0.0, "ok")


def test_stream_repository_available_now(spark, tmp_path):
    """Drain a repository as a file stream; datasets tagged from path."""
    root = write_repository(str(tmp_path / "repo"))
    schema = T.StructType([
        T.StructField("pri_id", T.IntegerType()),
        T.StructField("sequence", T.IntegerType()),
        T.StructField("lin_id", T.IntegerType()),
        T.StructField("reversed", T.StringType()),
        T.StructField("audit_id", T.IntegerType()),
    ])
    lines = STR.stream_repository(spark, root, 0, schema, file_tag="pab1")
    parsed = STR.parse_crs_stream(lines, schema)
    out = str(tmp_path / "out")
    STR.run_available_now(parsed, str(tmp_path / "ckpt"), out)
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.dataset for r in got.select("dataset").collect()} == {"20160601000000"}
    # second drain with same checkpoint: no new datasets -> no new rows
    lines2 = STR.stream_repository(spark, root, 0, schema, file_tag="pab1")
    STR.run_available_now(STR.parse_crs_stream(lines2, schema),
                          str(tmp_path / "ckpt"), out)
    assert spark.read.parquet(out).count() == 3


def test_streaming_cdc_upload(spark, tmp_path):
    """EP2 as a stream: seed the store from the level-0 dataset, then
    drain level_5 with foreachBatch CDC merge -> the golden 5-row
    post-merge state. A second drain with the same checkpoint sees no
    new datasets and leaves the store untouched."""
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()

    ckpt = str(tmp_path / "ckpt")
    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt)
    rows = {r.audit_id: r.sequence
            for r in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 300: 4, 400: 5, 80401148: 10, 80401149: 20}
    v = store.current_version("crs_parcel_bndry")

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt)
    assert store.current_version("crs_parcel_bndry") == v


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    """Streaming windowed agg over the events table (as a stream)
    equals the batch answer."""
    ev = load_table(spark, SF_DIR, "events")
    batch = {(r.window_start, r.event_type, r.n) for r in
             STR.windowed_counts(ev).collect()}
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = str(tmp_path / "win_out")
    STR.run_available_now(STR.windowed_counts(stream), str(tmp_path / "ckpt2"), out)
    streamed = {(r.window_start, r.event_type, r.n) for r in
                spark.read.parquet(out).collect()}
    # append mode only emits windows finalized by the watermark: the
    # trailing <= 2h+1window of data stays in state when the stream
    # drains — everything emitted must match batch, and only the tail
    # may be missing.
    assert streamed <= batch
    missing = batch - streamed
    cutoff = max(w for (w, _, _) in batch)
    assert all(w >= "2024-01-30 21:00:00" for (w, _, _) in missing), missing
    assert len(streamed) > 0.9 * len(batch)
    assert cutoff >= "2024-01-30 23:00:00"


def test_streaming_sessionize(spark, tmp_path):
    """Native session_window sessionization: session count per user
    matches the batch lag-based sessionizer."""
    from linz_bde_uploader_spark.plans.pipeline_suite import q_events_sessionize
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "ev_src2")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = str(tmp_path / "sess_out")
    STR.run_available_now(STR.sessionize(stream), str(tmp_path / "ckpt3"), out)
    got = spark.read.parquet(out)
    stream_counts = {r.user_id: r.n for r in
                     got.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    batch_counts = {r.user_id: r.n_sessions for r in
                    q_events_sessionize(spark, SF_DIR).collect()}
    # append mode: each user's final (non-watermark-expired) session
    # stays in state at drain time -> batch count may exceed the
    # streamed count by at most 1 per user.
    assert set(batch_counts) >= set(stream_counts)
    for uid, bn in batch_counts.items():
        sn = stream_counts.get(uid, 0)
        assert sn <= bn <= sn + 1, (uid, sn, bn)
    assert sum(stream_counts.values()) >= 0.5 * sum(batch_counts.values())


# ----------------------------------------------------------- multimodal

@pytest.fixture(scope="module")
def media(spark):
    return MM.synthetic_media(spark, n=30).cache()


def test_extract_features(media):
    feats = MM.extract_features(media).collect()
    assert len(feats) == 30
    r = feats[0]
    assert len(r.features) == MM.FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in r.features)
    assert r.payload_bytes > 0 and len(r.payload_sha256) == 64
    # deterministic across runs
    again = MM.extract_features(media).collect()
    assert {(x.media_id, tuple(x.features)) for x in feats} == \
           {(x.media_id, tuple(x.features)) for x in again}


def test_bmp_roundtrip_and_variants():
    """The pure-Python codecs invert each other exactly, including
    the fiddly BMP bits: BGR order, bottom-up rows, row padding
    (w=17 -> 51-byte rows padded to 52)."""
    import numpy as np

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(px)), px)
    # PPM decode: header with comment line
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(range(12))
    got = MM.decode_ppm(ppm)
    assert got.shape == (2, 2, 3) and got[0, 0, 0] == 0 and got[1, 1, 2] == 11
    samples = (rng.randint(-1000, 1000, 512)).astype(np.int16)
    back, rate = MM.decode_wav(MM.encode_wav(samples, 22050))
    assert rate == 22050 and np.array_equal(back, samples)
    frames = [MM.encode_bmp(px), MM.encode_bmp(px[::-1])]
    assert MM.decode_fvid(MM.encode_fvid(frames)) == frames


def test_resize_images(media):
    """Real nearest-neighbor resize: output is a decodable 8x8 BMP;
    resizing the gradient test pattern keeps the (0,0) pixel exact."""
    out = MM.resize_images(media, width=8, height=8).collect()
    assert len(out) == 10  # kind == image only
    for r in out:
        px = MM.decode_bmp(bytes(r.payload))
        assert px.shape == (8, 8, 3)
        assert r.meta.width == 8 and r.meta.height == 8
        base = r.media_id % 90
        # synthetic pixel(0,0) = (base, 0, 0); nearest-neighbor keeps it
        assert tuple(px[0, 0]) == (base, 0, 0)


def test_sample_frames(media):
    frames = MM.sample_frames(media, every_n=5).collect()
    assert frames, "video rows must yield frames"
    by_media = {}
    for fr in frames:
        by_media.setdefault(fr.media_id, []).append(fr.frame_index)
        # every emitted frame is itself a decodable image whose base
        # channel encodes (media base + frame index)
        px = MM.decode_bmp(bytes(fr.frame_payload))
        assert px[0, 0, 0] == fr.media_id % 90 + fr.frame_index
    for idxs in by_media.values():
        assert idxs == sorted(idxs)
        assert all(i % 5 == 0 for i in idxs)


def test_media_stats(media):
    rows = {r.kind: r for r in MM.media_stats(media).collect()}
    assert set(rows) == {"image", "audio", "video"}
    assert all(r.total_bytes > 0 for r in rows.values())


DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("text", T.StringType()),
])


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics across micro-batches:
    in-window duplicates are dropped (even across batches via the
    state store); once the watermark passes first_seen + delay the
    digest is evicted and the content passes through again."""
    import datetime as dt

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def t(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm)

    def drain(rows):
        spark.createDataFrame(rows, DOCS_SCHEMA).write.mode("append").parquet(src)
        stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src)
        deduped = STR.stream_dedup(stream, watermark="1 hour")
        STR.run_available_now(deduped, ckpt, out)
        return sorted(r.doc_id for r in spark.read.parquet(out).collect())

    # batch 1: A, B, then A again 10 min later -> exactly one copy of
    # each content survives. Which A-copy wins is processing-order
    # (not event-time) dependent, so assert on content, not id.
    got = drain([
        (1, t(10, 0), "doc A"),
        (2, t(10, 5), "doc B"),
        (3, t(10, 10), "doc A"),
    ])
    assert len(got) == 2 and 2 in got and (got[0] in (1, 3) or got[1] in (1, 3))

    # batch 2: A re-arrives at 13:00. Watermark so far = 10:10 - 1h =
    # 09:10, which has NOT passed A's eviction time (first_seen + 1h),
    # so the digest is still in state -> dropped, nothing new.
    assert drain([(4, t(13, 0), "doc A")]) == got

    # batch 3: watermark advanced to 13:00 - 1h = 12:00, past A's
    # eviction time -> A was evicted; the same content passes through.
    assert drain([(5, t(13, 30), "doc A")]) == got + [5]


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join equals the batch
    interval_join (inner mode) on the drained portion: views in the
    30 min before each purchase, per user."""
    from linz_bde_uploader_spark.operators.rangejoin import interval_join

    ev = load_table(spark, SF_DIR, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select(F.col("user_id").alias("v_user"),
                F.col("ts").alias("view_ts"),
                F.col("event_id").alias("view_id"))

    batch = interval_join(
        purchases, views.withColumnRenamed("v_user", "user_id"),
        left_ts="ts", right_ts="view_ts",
        lower_s=-1800.0, upper_s=0.0, key="user_id", how="inner")
    batch_pairs = {(r.event_id, r.view_id) for r in
                   batch.select("event_id", "view_id").collect()}

    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    purchases.write.parquet(psrc)
    views.withColumnRenamed("v_user", "user_id").write.parquet(vsrc)
    ps = spark.readStream.schema(
        purchases.schema).parquet(psrc)
    vs = spark.readStream.schema(
        views.withColumnRenamed("v_user", "user_id").schema).parquet(vsrc)
    joined = STR.stream_interval_join(
        ps, vs, left_ts="ts", right_ts="view_ts", key="user_id",
        lookback_s=1800, lookahead_s=0, watermark="1 hour")
    out = str(tmp_path / "out")
    STR.run_available_now(joined, str(tmp_path / "ckpt"), out)
    streamed_pairs = {(r.event_id, r.view_id) for r in
                      spark.read.parquet(out)
                      .select("event_id", "view_id").collect()}
    # inner stream-stream join with availableNow drains everything:
    # results must match batch exactly
    assert streamed_pairs == batch_pairs
    assert len(batch_pairs) > 0


PAB1_L5B = """\
HEDR\t 2.0.0
SOFTWARE cbe_b30 V1.0.1
SCHEMA\t V1.0
USER\t crs_bde
START\t 2016-06-01 17:40:00
END\t 2016-06-02 17:40:00
SQL\t SELECT * FROM crs_parcel_bndry
TABLE\tcrs_parcel_bndry
COLUMN\t pri_id                         integer NULL
COLUMN\t sequence                       integer NULL
COLUMN\t lin_id                         integer NULL
COLUMN\t reversed                       char NULL
COLUMN\t audit_id                       integer NOT NULL
DESC
SIZE          100
{CRS-DATA}
4457330|40|29694600|N|300|
"""

XAUD_B = """\
HEDR\t 2.0.0
SOFTWARE cbe_b30 V1.0.1
SCHEMA\t V1.0
USER\t crs_bde
START\t 2016-06-02 17:40:00
END\t 2016-06-02 17:40:00
SQL\t SELECT * FROM cbe_data
TABLE\tcbe_data
COLUMN\t id                             integer NOT NULL
COLUMN\t tablename                      varchar NOT NULL
COLUMN\t tablekeyvalue                  integer NOT NULL
COLUMN\t action                         char NOT NULL
COLUMN\t timestamp                      datetime NOT NULL
DESC
SIZE          120
{CRS-DATA}
1|crs_parcel_bndry|300|U|2016-06-02 17:40:00|
2|crs_parcel_bndry|400|D|2016-06-02 17:40:00|
"""


def test_streaming_cdc_upload_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once resume: a dataset that arrives AFTER a drain is
    picked up by the next run on the same checkpoint and applied
    incrementally — the already-processed dataset is not re-merged."""
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt)
    v1 = store.current_version("crs_parcel_bndry")

    # a new dataset lands after the first drain
    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt)
    rows = {r.audit_id: r.sequence
            for r in store.read(spark, "crs_parcel_bndry").collect()}
    assert rows == {100: 3, 300: 40, 80401148: 10, 80401149: 20}
    # exactly one more version: dataset 1 was not re-applied
    assert store.current_version("crs_parcel_bndry") == v1 + 1


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join: a static dimension enriches the event
    stream without state (the dimension broadcasts per micro-batch;
    no watermark needed on the static side)."""
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value")
    dim = spark.createDataFrame(
        [(i, "gold" if i % 3 == 0 else "basic") for i in range(200)],
        "user_id long, tier string")
    batch_gold = ev.join(dim, "user_id").filter(F.col("tier") == "gold")
    expected = batch_gold.count()

    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    enriched = stream.join(dim, "user_id").filter(F.col("tier") == "gold")
    out = str(tmp_path / "out")
    STR.run_available_now(enriched, str(tmp_path / "ckpt"), out)
    got = spark.read.parquet(out).count()
    assert got == expected > 0


def test_stream_corpus_prep_matches_batch_chain(spark, tmp_path):
    """Streaming corpus ingestion == the batch prep chain on the same
    input: low-quality docs dropped, in-window exact duplicates
    dropped, benchmark-contaminated docs dropped, identical chunk
    set. Duplicate copies share a doc_id so survivor identity is
    deterministic."""
    import datetime as dt

    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.operators.text_analysis import quality_score
    from linz_bde_uploader_spark.streaming.events import stream_corpus_prep

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(40)
    bench = base.filter("doc_id % 10 = 0")            # contaminates 1 in 10
    corpus = base.filter("doc_id % 10 != 0")
    ts = F.lit(dt.datetime(2024, 1, 1, 12, 0, 0)).cast("timestamp")
    dup = corpus.limit(5)                              # exact duplicate wave
    src_df = corpus.unionAll(dup).withColumn("ts", ts)
    src = str(tmp_path / "src")
    src_df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(src_df.schema).parquet(src)
    out = str(tmp_path / "chunks")
    q = stream_corpus_prep(stream, bench, out, str(tmp_path / "ckpt"),
                           min_quality=0.0)
    q.awaitTermination()

    # batch expectation: dedup (same-id copies collapse), decontam, chunk
    kept = corpus.withColumn("quality", quality_score(F.col("text"))) \
        .dropDuplicates(["doc_id"])
    bsh = D._shingle_hashes(bench, "text", "doc_id", 8).select("h").distinct()
    dsh = D._shingle_hashes(kept, "text", "doc_id", 8)
    bad = dsh.join(bsh, "h").select(F.col("id").alias("doc_id")).distinct()
    kept = kept.join(bad, "doc_id", "left_anti")
    nt = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    expected = (kept.withColumn("_nt", nt)
                .withColumn("start", F.explode(
                    F.sequence(F.lit(0), F.col("_nt") - 1, F.lit(24))))
                .select("doc_id", "start"))

    got = spark.read.parquet(out)
    assert {(r.doc_id, r.start) for r in got.select("doc_id", "start").collect()} \
        == {(r.doc_id, r.start) for r in expected.collect()}
    # contaminated and duplicate rows really gone
    assert got.filter("doc_id % 10 = 0").count() == 0
    assert got.groupBy("doc_id", "start").count().filter("count > 1").count() == 0


def test_stream_lsh_dedup_incremental_index(spark, tmp_path):
    """Near-dedup across RESTARTS: batch 2 runs in a fresh query but
    its near-dups of batch-1 docs are dropped via the persistent band
    index; novel docs pass and extend the index."""
    import linz_bde_uploader_spark.streaming.events as STR

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    batch1 = base.filter(F.col("doc_id") < 20)
    batch1.coalesce(1).write.mode("append").parquet(src)
    q = STR.stream_lsh_dedup(
        spark.readStream.schema(batch1.schema).parquet(src), idx, out, ckpt)
    q.awaitTermination()
    kept1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept1  # survivors exist and the index was created
    n_idx1 = spark.read.parquet(idx).count()
    assert n_idx1 == 4 * len(kept1)  # bands rows per surviving doc

    # batch 2: one exact near-dup of a batch-1 survivor (new id) + one
    # clearly novel doc
    dup_src = min(kept1)
    batch2 = (
        base.filter(F.col("doc_id") == dup_src)
        .withColumn("doc_id", F.lit(900000).cast("long"))
        .unionByName(spark.createDataFrame(
            [(900001, "entirely novel zebra quantum " * 8)],
            ["doc_id", "text"]))
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    q = STR.stream_lsh_dedup(
        spark.readStream.schema(batch1.schema).parquet(src), idx, out, ckpt)
    q.awaitTermination()
    kept2 = {r.doc_id for r in spark.read.parquet(out).collect()} - kept1
    assert 900000 not in kept2  # all-band collision with history
    assert 900001 in kept2      # novel doc survives
    assert spark.read.parquet(idx).count() == n_idx1 + 4


def test_stream_lsh_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch redelivery after BOTH writes succeeded (crash
    before the checkpoint commit): the replayed batch must not probe
    its own just-written index rows. Pre-fix, the whole-root index
    read matched every survivor against itself, classified the entire
    batch as historical dups, and mode('overwrite') replaced the
    previously written survivors with an empty set. Simulated by
    deleting the checkpoint's commit marker so Structured Streaming
    redelivers batch 0 with the same batch_id into the same
    directories."""
    import os

    import linz_bde_uploader_spark.streaming.events as STR

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    batch1 = base.filter(F.col("doc_id") < 20)
    batch1.coalesce(1).write.mode("append").parquet(src)
    q = STR.stream_lsh_dedup(
        spark.readStream.schema(batch1.schema).parquet(src), idx, out, ckpt)
    q.awaitTermination()
    kept1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    n_idx1 = spark.read.parquet(idx).count()
    assert kept1

    # crash window: both parquet writes landed, commit marker did not
    # (drop the local-FS checksum twin too or the replay's commit
    # rename trips over the stale .crc)
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q = STR.stream_lsh_dedup(
        spark.readStream.schema(batch1.schema).parquet(src), idx, out, ckpt)
    q.awaitTermination()
    # replay recomputed the identical kept set — not an empty overwrite
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == kept1
    assert spark.read.parquet(idx).count() == n_idx1


def test_compact_lsh_index_preserves_dedup(spark, tmp_path):
    """Index compaction folds the per-batch directories into one
    consolidated dir: fewer directories, identical (band, band_hash)
    probe behavior — a near-dup of pre-compaction history is still
    dropped afterward, and repeated compaction converges instead of
    accreting consolidated dirs."""
    import os

    import linz_bde_uploader_spark.streaming.events as STR

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    # two separate runs -> at least two batch=N dirs in the index
    for lo, hi, ck in ((0, 10, "ck1"), (10, 20, "ck2")):
        batch = base.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        batch.coalesce(1).write.mode("append").parquet(src)
        q = STR.stream_lsh_dedup(
            spark.readStream.schema(batch.schema).parquet(src), idx, out,
            str(tmp_path / ck))
        q.awaitTermination()
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    dirs_before = sorted(os.listdir(idx))
    # two distinct checkpoints -> two query tags, no overwrite of the
    # first run's history by the second run's batch 0
    assert len([d for d in dirs_before if d.startswith("batch=")]) >= 2
    rows_before = spark.read.parquet(idx).select(
        "band", "band_hash").distinct().count()

    # both runs are complete -> no replay risk -> keep_last=0
    n = STR.compact_lsh_index(spark, idx, keep_last=0)
    assert n >= 2
    dirs_after = [d for d in os.listdir(idx) if d.startswith("batch=")]
    assert dirs_after == ["batch=c1"]
    assert spark.read.parquet(idx).select(
        "band", "band_hash").distinct().count() == rows_before
    # idempotent: nothing left to fold
    assert STR.compact_lsh_index(spark, idx, keep_last=0) == 0

    # a near-dup of pre-compaction history is still dropped
    dup_src = min(kept)
    b3 = (base.filter(F.col("doc_id") == dup_src)
          .withColumn("doc_id", F.lit(900100).cast("long")))
    b3.coalesce(1).write.mode("append").parquet(src)
    q = STR.stream_lsh_dedup(
        spark.readStream.schema(b3.schema).parquet(src), idx, out,
        str(tmp_path / "ck3"))
    q.awaitTermination()
    kept3 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 900100 not in kept3


def test_audio_spectral_features_sine_closed_form(spark):
    """A pure sine at a known frequency concentrates rfft power in
    one band: dominant_band and spectral centroid must match the
    closed form, and the band energies sum to ~1."""
    import numpy as np

    rate, n = 8000, 2048
    rows = []
    for i, f_hz in enumerate([500.0, 1500.0, 3500.0]):
        t = np.arange(n) / rate
        s = (10000 * np.sin(2 * np.pi * f_hz * t)).astype(np.int16)
        rows.append((i, "audio", bytearray(MM.encode_wav(s, rate)),
                     (None, None, rate, None, "audio/wav")))
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           MM.audio_spectral_features(media, n_bands=8).collect()}
    nyq = rate / 2  # 4000 Hz -> 8 bands of 500 Hz
    for i, f_hz in enumerate([500.0, 1500.0, 3500.0]):
        r = got[i]
        assert r.sample_rate == rate and r.n_samples == n
        assert abs(sum(r.band_energy) - 1.0) < 1e-9
        assert r.dominant_band == int(f_hz / nyq * 8)
        assert abs(r.spectral_centroid_hz - f_hz) < 25.0  # leakage slack
        assert max(r.band_energy) > 0.95  # energy concentrated


def test_video_motion_stats_closed_form(spark):
    """Motion energy over hand-built frame sequences: a static pair
    (duplicate frames) scores zero with one static transition; a
    sequence whose second frame adds +10 to every pixel scores
    exactly 10."""
    import numpy as np

    f0 = np.zeros((4, 4, 3), dtype=np.uint8)
    f1 = np.full((4, 4, 3), 10, dtype=np.uint8)
    static = MM.encode_fvid([MM.encode_bmp(f0), MM.encode_bmp(f0)])
    moving = MM.encode_fvid([MM.encode_bmp(f0), MM.encode_bmp(f1),
                             MM.encode_bmp(f1)])
    media = spark.createDataFrame(
        [(0, "video", bytearray(static), (4, 4, None, 2, "video/x-fvid")),
         (1, "video", bytearray(moving), (4, 4, None, 3, "video/x-fvid"))],
        MM.MEDIA_SCHEMA)
    got = {r.media_id: r for r in MM.video_motion_stats(media).collect()}
    assert got[0].n_frames == 2
    assert got[0].mean_motion == 0.0 and got[0].max_motion == 0.0
    assert got[0].static_transitions == 1
    assert got[1].n_frames == 3
    assert got[1].max_motion == 10.0 and abs(got[1].mean_motion - 5.0) < 1e-12
    assert got[1].static_transitions == 1  # f1 -> f1


def test_extract_features_streaming_matches_batch(spark, tmp_path):
    """The multimodal extractors compose with Structured Streaming
    unchanged: mapInPandas feature extraction over a readStream of
    the same media parquet yields exactly the batch feature set —
    payload bytes stay inside the scan partition in both modes."""
    media = MM.synthetic_media(spark, n=20)
    src = str(tmp_path / "media_src")
    media.write.parquet(src)
    batch = {(r.media_id, tuple(r.features))
             for r in MM.extract_features(spark.read.parquet(src)).collect()}
    stream = spark.readStream.schema(media.schema).parquet(src)
    out = str(tmp_path / "feat_out")
    STR.run_available_now(MM.extract_features(stream),
                          str(tmp_path / "feat_ckpt"), out)
    streamed = {(r.media_id, tuple(r.features))
                for r in spark.read.parquet(out).collect()}
    assert streamed == batch


def test_stream_corpus_prep_model_gate_matches_batch(spark, tmp_path):
    """With a trained margin gate plugged in, the streaming chain
    keeps exactly the docs the same weights keep offline (score via
    the same score_margin plan), composed after decontamination."""
    import datetime as dt

    from linz_bde_uploader_spark.operators import classifier as C
    from linz_bde_uploader_spark.streaming.events import stream_corpus_prep

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(30)
    bench = base.limit(0)  # no contamination — isolate the model gate
    ts = F.lit(dt.datetime(2024, 1, 1, 12, 0, 0)).cast("timestamp")
    src_df = base.withColumn("ts", ts)
    src = str(tmp_path / "src")
    src_df.coalesce(1).write.parquet(src)

    nf = 64
    # deterministic synthetic weights: enough spread that the gate
    # actually splits the corpus
    weights = [((i * 37) % 21 - 10) / 10.0 for i in range(nf)]
    wdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], ["feat", "w"])
    feats = C.hashed_features(base, n_features=nf)
    margins = {r["id"]: r["margin"]
               for r in C.score_margin(feats, wdf).collect()}
    med = sorted(margins.values())[len(margins) // 2]
    expect_keep = {i for i, m in margins.items() if m >= med}
    assert 0 < len(expect_keep) < base.count()

    stream = spark.readStream.schema(src_df.schema).parquet(src)
    out = str(tmp_path / "chunks")
    q = stream_corpus_prep(stream, bench, out, str(tmp_path / "ckpt"),
                           min_quality=0.0, model_weights=weights,
                           min_margin=med)
    q.awaitTermination()
    got = {r["doc_id"] for r in
           spark.read.parquet(out).select("doc_id").distinct().collect()}
    assert got == expect_keep


def test_prepare_training_corpus_model_gate(spark, tmp_path):
    """The batch chain's optional 3b stage drops exactly the
    below-margin docs and the run ledger's n_kept reflects it."""
    from linz_bde_uploader_spark.operators import classifier as C
    from linz_bde_uploader_spark.operators.corpus import (
        prepare_training_corpus,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(30)
    bench = base.limit(0)
    nf = 64
    weights = [((i * 37) % 21 - 10) / 10.0 for i in range(nf)]
    wdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], ["feat", "w"])
    margins = {r["id"]: r["margin"] for r in
               C.score_margin(C.hashed_features(base, n_features=nf),
                              wdf).collect()}
    med = sorted(margins.values())[len(margins) // 2]
    expect_keep = {i for i, m in margins.items() if m >= med}

    out = str(tmp_path / "corpus")
    stats = prepare_training_corpus(
        base, bench, out, min_quality=0.0, model_weights=weights,
        min_margin=med)
    got = {r["doc_id"] for r in
           spark.read.parquet(out).select("doc_id").distinct().collect()}
    assert got == expect_keep
    assert stats["n_kept"] == len(expect_keep)


def test_image_ahash_collapses_brightness_not_reflection(spark):
    """synthetic_images plants (i, i+16) as brightness-shifted copies
    — aHash must give them IDENTICAL fingerprints (exact, by the
    cross-multiplication cancellation) — while reflected variants of
    the same geometry must not all collapse together."""
    from linz_bde_uploader_spark.operators import multimodal as MM

    ah = {r["media_id"]: r["ahash"]
          for r in MM.image_ahash(MM.synthetic_images(spark, n=24)).collect()}
    assert len(ah) == 24
    for i in range(8):
        assert ah[i] == ah[i + 16], f"brightness pair ({i},{i+16}) split"
    # same geometry (i%4), four orientations i, i+4, i+8, i+12:
    # mirroring must change the fingerprint for at least the x flip
    for i in range(4):
        variants = {ah[i], ah[i + 4], ah[i + 8], ah[i + 12]}
        assert len(variants) >= 2, f"orientations of geometry {i} collapsed"


def test_streaming_cdc_maintained_view(spark, tmp_path):
    """Continuously-maintained aggregate view alongside the streaming
    CDC merge: after every drain the stored <table>__agg must equal a
    direct aggregate over the stored base table. The second drain
    exercises the truly-incremental path (old state = the STORED
    view, delta from changed keys only)."""
    from decimal import Decimal

    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {r["reversed"]: (r["n"], r["total"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("sequence").cast("decimal(12,2)"))
                     .cast("decimal(38,2)").alias("total")).collect()}

    def stored_view():
        v = store.read(spark, "crs_parcel_bndry__agg")
        return {r["reversed"]: (r["n"], r["total"]) for r in v.collect()}

    def direct_mm():
        t = store.read(spark, "crs_parcel_bndry")
        vv = F.col("sequence").cast("decimal(12,2)")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"), F.min(vv).alias("vmin"),
                     F.max(vv).alias("vmax")).collect()}

    def stored_mm():
        v = store.read(spark, "crs_parcel_bndry__minmax")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"])
                for r in v.collect()}

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence",
                                            minmax=True))
    assert stored_view() == direct()
    assert stored_mm() == direct_mm()
    assert isinstance(next(iter(stored_view().values()))[1], Decimal)

    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)
    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence",
                                            minmax=True))
    assert stored_view() == direct()
    assert stored_mm() == direct_mm()


def test_streaming_cdc_join_view(spark, tmp_path):
    """Continuously-maintained JOIN view alongside the streaming CDC
    merge (the delta-join IVM member in its streaming form): after
    every drain the stored <table>__join must equal a direct
    fact-dimension join over the stored base table. The second drain
    exercises the truly-incremental path — old state = the STORED
    view, refresh = stored view minus the batch's D/U/X keys plus
    the changes-bounded staged delta joined to the dimension, never
    a re-join of the base."""
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")
    dim = spark.createDataFrame([("Y", "reversed"), ("N", "forward")],
                                "rev_code string, label string")
    vj = {"dim": dim, "fact_col": "reversed", "dim_col": "rev_code",
          "fact_cols": ["sequence"], "dim_cols": ["label"]}

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {r["audit_id"]: (r["sequence"], r["label"]) for r in
                t.join(dim, t["reversed"] == dim["rev_code"])
                .select(t["audit_id"], t["sequence"],
                        dim["label"]).collect()}

    def stored():
        v = store.read(spark, "crs_parcel_bndry__join")
        return {r["audit_id"]: (r["sequence"], r["label"])
                for r in v.collect()}

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(join=vj))
    assert stored() == direct()

    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)
    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(join=vj))
    got = stored()
    assert got == direct()
    # golden F2 end-state enriched: re-key + updates + appends all
    # flowed through the delta (audit_id -> (sequence, label))
    assert got[80401148] == (10, "reversed")
    assert got[80401149] == (20, "forward")


def test_streaming_view_replay_guard_crash_window(spark, tmp_path):
    """The at-least-once crash window the dataset-stamp guard exists
    for: the batch refreshes __agg/__minmax, then CRASHES before the
    base-table write (injected via a store.write that raises for the
    base table on the L5 dataset). The restarted stream replays the
    dataset from the uncommitted checkpoint; the stamp guard must
    skip the already-applied view deltas (no double-apply) while the
    base merge proceeds, leaving every view equal to a direct
    aggregate over the merged base."""
    from decimal import Decimal

    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    dim = spark.createDataFrame([("Y", "reversed"), ("N", "forward")],
                                "rev_code string, label string")
    vj = {"dim": dim, "fact_col": "reversed", "dim_col": "rev_code",
          "fact_cols": ["sequence"], "dim_cols": ["label"]}

    def run():
        STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                                 "audit_id", schema, "pab1", ckpt,
                                 views=ViewSpec(group_cols=["reversed"],
                                                value_col="sequence",
                                                minmax=True,
                                                join=vj))

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {r["reversed"]: (r["n"], r["total"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("sequence").cast("decimal(12,2)"))
                     .cast("decimal(38,2)").alias("total")).collect()}

    def direct_join():
        t = store.read(spark, "crs_parcel_bndry")
        return sorted((r["audit_id"], r["sequence"], r["label"]) for r in
                      t.join(dim, t["reversed"] == dim["rev_code"])
                      .select(t["audit_id"], t["sequence"],
                              dim["label"]).collect())

    def stored_join():
        v = store.read(spark, "crs_parcel_bndry__join")
        return sorted((r["audit_id"], r["sequence"], r["label"])
                      for r in v.collect())

    def stored_view():
        v = store.read(spark, "crs_parcel_bndry__agg")
        return {r["reversed"]: (r["n"], r["total"]) for r in v.collect()}

    def direct_mm():
        t = store.read(spark, "crs_parcel_bndry")
        vv = F.col("sequence").cast("decimal(12,2)")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"), F.min(vv).alias("vmin"),
                     F.max(vv).alias("vmax")).collect()}

    def stored_mm():
        v = store.read(spark, "crs_parcel_bndry__minmax")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"])
                for r in v.collect()}

    run()  # bootstrap drain (L0 seed views)
    assert stored_view() == direct()

    ds2 = "20160602000000"
    d = os.path.join(root, "level_5", ds2)
    write_crs(os.path.join(d, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(d, "xaud.crs"), XAUD_B)

    pre_merge = direct()  # base state the crashed batch leaves behind
    orig_write = store.write

    def crashing_write(table, df, key=None, dataset=None):
        if table == "crs_parcel_bndry" and dataset == ds2:
            raise RuntimeError("injected crash before base write")
        return orig_write(table, df, key=key, dataset=dataset)

    store.write = crashing_write
    try:
        with pytest.raises(Exception):
            run()
    finally:
        store.write = orig_write

    # crash window on disk: views refreshed + stamped, base pre-merge
    assert store.current_dataset("crs_parcel_bndry__agg") == ds2
    assert direct() == pre_merge
    assert stored_view() != pre_merge  # the delta really was applied

    run()  # restart: same checkpoint replays the uncommitted dataset
    assert direct() != pre_merge  # base merged on replay
    assert stored_view() == direct()  # guard skipped the double-apply
    assert stored_mm() == direct_mm()
    # join view: a double-applied delta would DUPLICATE inserted keys
    # (I keys are not in the removal set), so set equality here proves
    # the guard, not just idempotence
    assert stored_join() == direct_join()
    assert isinstance(next(iter(stored_view().values()))[1], Decimal)

    run()  # fully-committed re-drain is a no-op for base and views
    assert stored_view() == direct()
    assert stored_mm() == direct_mm()
    assert stored_join() == direct_join()


PAB1_L5C = PAB1_L5B.replace("4457330|40|29694600|N|300|",
                            "4457330|50|29694600|N|300|") \
    .replace("START\t 2016-06-01 17:40:00", "START\t 2016-06-02 17:40:00") \
    .replace("END\t 2016-06-02 17:40:00", "END\t 2016-06-03 17:40:00")

XAUD_C = """\
HEDR\t 2.0.0
SOFTWARE cbe_b30 V1.0.1
SCHEMA\t V1.0
USER\t crs_bde
START\t 2016-06-03 17:40:00
END\t 2016-06-03 17:40:00
SQL\t SELECT * FROM cbe_data
TABLE\tcbe_data
COLUMN\t id                             integer NOT NULL
COLUMN\t tablename                      varchar NOT NULL
COLUMN\t tablekeyvalue                  integer NOT NULL
COLUMN\t action                         char NOT NULL
COLUMN\t timestamp                      datetime NOT NULL
DESC
SIZE          60
{CRS-DATA}
1|crs_parcel_bndry|300|U|2016-06-03 17:40:00|
"""


def test_streaming_view_replay_guard_multi_dataset_crash(spark, tmp_path):
    """The ORDERED replay guard's reason to exist: one micro-batch
    carries TWO datasets [d2, d3]; d2 applies fully (views + base),
    d3's views apply, then the batch crashes before d3's base write.
    The restarted stream replays BOTH datasets. d2's replay derives
    an all-'0' no-op delta — harmless arithmetically — but an
    equality guard ("stamp != d2 -> write") would re-stamp the views
    back to d2, so d3's guard would then pass and d3's delta would
    silently double-count. The ordered guard (skip when stamp >= ds)
    leaves d3's stamp standing through d2's replay; after recovery
    every view must equal a direct aggregate of the merged base."""
    from decimal import Decimal

    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    dim = spark.createDataFrame([("Y", "reversed"), ("N", "forward")],
                                "rev_code string, label string")
    vj = {"dim": dim, "fact_col": "reversed", "dim_col": "rev_code",
          "fact_cols": ["sequence"], "dim_cols": ["label"]}

    def run():
        STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                                 "audit_id", schema, "pab1", ckpt,
                                 views=ViewSpec(group_cols=["reversed"],
                                                value_col="sequence",
                                                minmax=True,
                                                join=vj))

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {r["reversed"]: (r["n"], r["total"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("sequence").cast("decimal(12,2)"))
                     .cast("decimal(38,2)").alias("total")).collect()}

    def direct_join():
        t = store.read(spark, "crs_parcel_bndry")
        return sorted((r["audit_id"], r["sequence"], r["label"]) for r in
                      t.join(dim, t["reversed"] == dim["rev_code"])
                      .select(t["audit_id"], t["sequence"],
                              dim["label"]).collect())

    def stored_join():
        v = store.read(spark, "crs_parcel_bndry__join")
        return sorted((r["audit_id"], r["sequence"], r["label"])
                      for r in v.collect())

    def stored_view():
        v = store.read(spark, "crs_parcel_bndry__agg")
        return {r["reversed"]: (r["n"], r["total"]) for r in v.collect()}

    def direct_mm():
        t = store.read(spark, "crs_parcel_bndry")
        vv = F.col("sequence").cast("decimal(12,2)")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"), F.min(vv).alias("vmin"),
                     F.max(vv).alias("vmax")).collect()}

    def stored_mm():
        v = store.read(spark, "crs_parcel_bndry__minmax")
        return {r["reversed"]: (r["n"], r["vmin"], r["vmax"])
                for r in v.collect()}

    run()  # drain the repository's built-in L5 dataset, seed views
    assert stored_view() == direct()

    ds2, ds3 = "20160602000000", "20160603000000"
    for ds, pab, xaud in ((ds2, PAB1_L5B, XAUD_B), (ds3, PAB1_L5C, XAUD_C)):
        d = os.path.join(root, "level_5", ds)
        write_crs(os.path.join(d, "pab1.crs"), pab)
        write_crs(os.path.join(d, "xaud.crs"), xaud)

    orig_write = store.write

    def crashing_write(table, df, key=None, dataset=None):
        if table == "crs_parcel_bndry" and dataset == ds3:
            raise RuntimeError("injected crash before d3 base write")
        return orig_write(table, df, key=key, dataset=dataset)

    store.write = crashing_write
    try:
        with pytest.raises(Exception):
            run()
    finally:
        store.write = orig_write

    # crash window on disk: d2 fully applied, d3 views stamped ahead
    # of the base
    assert store.current_dataset("crs_parcel_bndry") == ds2
    assert store.current_dataset("crs_parcel_bndry__agg") == ds3
    assert stored_view() != direct()  # d3's view delta really applied

    run()  # restart replays [d2, d3]; d2's no-op must not regress the
    # stamp, d3's views must not double-apply, d3's base must merge
    assert store.current_dataset("crs_parcel_bndry") == ds3
    assert stored_view() == direct()
    assert stored_mm() == direct_mm()
    assert stored_join() == direct_join()
    assert isinstance(next(iter(stored_view().values()))[1], Decimal)

    run()  # fully-committed re-drain stays a no-op
    assert stored_view() == direct()
    assert stored_mm() == direct_mm()
    assert stored_join() == direct_join()


def test_stream_drift_monitor(spark, tmp_path):
    """Streaming drift monitor: the first drain freezes the per-source
    reference histogram with drift 0; a same-distribution batch keeps
    drift 0; a fully shifted batch scores 1000; and a replayed drain
    with a fresh checkpoint recomputes byte-identical state
    (overwrite semantics — at-least-once safe with no guard)."""
    from linz_bde_uploader_spark.sources.store import TableStore

    src = str(tmp_path / "src")
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    rows = lambda lo, n_chars, n=20: [
        (i + lo, "t", "en", "web", n_chars) for i in range(n)]

    def drain(ckpt):
        STR.stream_drift_monitor(
            spark, src, store, "drift", str(tmp_path / ckpt), schema,
            max_files_per_trigger=1)

    def state():
        return {r["source"]: (r["n_ref"], r["n_batch"],
                              r["drift_permille"])
                for r in store.read(spark, "drift__state").collect()}

    spark.createDataFrame(rows(0, 150), schema) \
        .coalesce(1).write.mode("overwrite").parquet(src)
    drain("c1")
    assert state() == {"web": (20, 20, 0)}

    # same distribution -> drift 0
    spark.createDataFrame(rows(100, 150), schema) \
        .coalesce(1).write.mode("append").parquet(src)
    drain("c1")
    assert state() == {"web": (20, 20, 0)}

    # shifted 3 buckets -> full drift
    spark.createDataFrame(rows(200, 450), schema) \
        .coalesce(1).write.mode("append").parquet(src)
    drain("c1")
    assert state()["web"] == (20, 20, 1000)

    # replay everything (fresh checkpoint, one file per batch): the
    # last-processed batch determines the state; overwrite semantics
    # mean the rerun converges to A state computed the same way
    drain("c2")
    s = state()
    assert s["web"][0] == 20 and s["web"][2] in (0, 1000)


def test_streaming_cdc_dataset_transaction_same_state(spark, tmp_path):
    """use_dataset_transaction=True on the streaming upload: the view
    and base flips commit TOGETHER through the store's C4 scope (the
    batch driver's mode) and the final state — base golden rows and
    view == direct aggregate — is identical to the guard-only mode
    after both the bootstrap-ish first drain and the incremental
    second drain."""
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file),
                key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {r["reversed"]: (r["n"], r["total"]) for r in
                t.groupBy("reversed")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("sequence").cast("decimal(12,2)"))
                     .cast("decimal(38,2)").alias("total")).collect()}

    def stored_view():
        v = store.read(spark, "crs_parcel_bndry__agg")
        return {r["reversed"]: (r["n"], r["total"]) for r in v.collect()}

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence"),
                             use_dataset_transaction=True)
    assert stored_view() == direct()
    # base and view carry the SAME dataset stamp — they flipped
    # together in one commit
    assert store.current_dataset("crs_parcel_bndry") == \
        store.current_dataset("crs_parcel_bndry__agg")

    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)
    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence"),
                             use_dataset_transaction=True)
    assert stored_view() == direct()
    assert store.current_dataset("crs_parcel_bndry") == "20160602000000"


def test_streaming_cdc_hll_view(spark, tmp_path):
    """Continuously-maintained distinct-count SKETCH view alongside
    the streaming CDC merge (maintain_hll in its streaming form):
    after every drain the stored <table>__hll register table must
    equal a from-scratch register build over the stored base. The
    second drain exercises the incremental path — insert-only groups
    max-merge the delta, groups losing rows recompute."""
    from linz_bde_uploader_spark.operators.sketches import hll_registers
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    def direct():
        t = store.read(spark, "crs_parcel_bndry")
        return {(r["reversed"], r.idx): r.m for r in
                hll_registers(t, ["reversed"],
                              F.col("audit_id").cast("string")).collect()}

    def stored():
        return {(r["reversed"], r.idx): r.m for r in
                store.read(spark, "crs_parcel_bndry__hll").collect()}

    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence",
                                            hll_key="audit_id"))
    assert stored() == direct() and stored()

    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)
    STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                             "audit_id", schema, "pab1", ckpt,
                             views=ViewSpec(group_cols=["reversed"],
                                            value_col="sequence",
                                            hll_key="audit_id"))
    assert stored() == direct()
    assert store.current_dataset("crs_parcel_bndry__hll") == \
        "20160602000000"


def test_stream_hll_counts(spark, tmp_path):
    """Streaming windowed distinct-count sketch: after each drain the
    stored register table equals a from-scratch register build over
    ALL events seen so far, and the per-hour estimates track exact
    distinct users. Replay idempotency needs no stamp guard —
    re-draining the same files from a FRESH checkpoint (full
    redelivery) leaves the registers bit-identical, because register
    max-merge is idempotent."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.sketches import (
        hll_estimate, hll_registers)
    from linz_bde_uploader_spark.plans.tables import load_table
    from linz_bde_uploader_spark.sources.store import TableStore

    ev = load_table(spark, "/root/testdata/sf0.001", "events") \
        .filter("user_id IS NOT NULL AND ts IS NOT NULL")
    src = str(tmp_path / "src")
    c1 = ev.filter("event_id % 2 = 0")
    c2 = ev.filter("event_id % 2 = 1")
    c1.write.mode("append").parquet(src)
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    schema = ev.schema

    def direct(df):
        keyed = df.select(
            F.date_format(F.date_trunc("hour",
                                       F.col("ts").cast("timestamp")),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("user_id").cast("string").alias("key"))
        return {(r.hour, r.idx): r.m for r in
                hll_registers(keyed, ["hour"], F.col("key")).collect()}

    def stored():
        return {(r.hour, r.idx): r.m for r in
                store.read(spark, "ev_hll").collect()}

    STR.stream_hll_counts(spark, src, store, "ev_hll",
                          str(tmp_path / "ck"), schema)
    assert stored() == direct(c1)

    c2.write.mode("append").parquet(src)
    STR.stream_hll_counts(spark, src, store, "ev_hll",
                          str(tmp_path / "ck"), schema)
    assert stored() == direct(ev)

    # full redelivery from a fresh checkpoint: registers unchanged
    STR.stream_hll_counts(spark, src, store, "ev_hll",
                          str(tmp_path / "ck2"), schema)
    assert stored() == direct(ev)

    # the estimates the dashboard reads track exact distinct users
    est = {r.hour: r.hll_est_micro / 1e6 for r in
           hll_estimate(store.read(spark, "ev_hll"),
                        ["hour"]).collect()}
    exact = {r.hour: r.nd for r in
             ev.select(F.date_format(
                 F.date_trunc("hour", F.col("ts").cast("timestamp")),
                 "yyyy-MM-dd HH:mm:ss").alias("hour"), "user_id")
             .groupBy("hour")
             .agg(F.countDistinct("user_id").alias("nd")).collect()}
    assert set(est) == set(exact)
    for h, nd in exact.items():
        assert abs(est[h] - nd) <= max(2.0, 0.26 * nd), (h, est[h], nd)


def test_stream_cms_counts_guarded_against_redelivery(spark, tmp_path):
    """The additive-sketch stream needs what the max-merge stream
    does not: a replay guard. After each drain the stored counters
    equal a from-scratch CMS over all events seen; a full redelivery
    (fresh checkpoint, batch ids restart at values already folded)
    is SKIPPED by the batch-id guard — without it the counters would
    double."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.sketches import cms_build
    from linz_bde_uploader_spark.plans.tables import load_table
    from linz_bde_uploader_spark.sources.store import TableStore

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    c1 = ev.filter("event_id % 2 = 0")
    c2 = ev.filter("event_id % 2 = 1")
    c1.write.mode("append").parquet(src)
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    schema = ev.schema

    def direct(df):
        return {(r.row, r.idx): r.c for r in
                cms_build(df.select(F.col("event_type").alias("tok")))
                .collect()}

    def stored():
        return {(r.row, r.idx): r.c for r in
                store.read(spark, "ev_cms").collect()}

    r1 = STR.stream_cms_counts(spark, src, store, "ev_cms",
                               str(tmp_path / "ck"), schema)
    assert stored() == direct(c1)
    assert store.table_meta("ev_cms")["last_batch_id"] == 0
    assert r1 == {"folded_batches": 1, "skipped_batches": 0}

    c2.write.mode("append").parquet(src)
    r2 = STR.stream_cms_counts(spark, src, store, "ev_cms",
                               str(tmp_path / "ck"), schema)
    assert stored() == direct(ev)
    assert r2 == {"folded_batches": 1, "skipped_batches": 0}

    # full redelivery from a fresh checkpoint: batch id 0 <= stored
    # last id -> skipped; counters unchanged (no double-count) and
    # the drain REPORTS the skip (guard observability, r14 advice)
    r3 = STR.stream_cms_counts(spark, src, store, "ev_cms",
                               str(tmp_path / "ck2"), schema)
    assert stored() == direct(ev)
    assert r3["skipped_batches"] >= 1 and r3["folded_batches"] == 0


def test_streaming_cdc_topk_distinct_views(spark, tmp_path):
    """r14 streaming symmetry: view_topk/view_distinct_col maintain
    the leaderboard and count-distinct views alongside the streaming
    CDC merge. After every drain both stored views equal from-scratch
    recomputes of the stored base (the second drain exercises the
    touched-group incremental path)."""
    from linz_bde_uploader_spark.operators.merge import (
        distinct_view, topk_view,
    )
    from linz_bde_uploader_spark.sources.crs import parse_header, read_crs
    from linz_bde_uploader_spark.sources.store import TableStore
    from tests.fixtures import write_crs

    root = write_repository(str(tmp_path / "repo"))
    store = TableStore(str(tmp_path / "store"), n_buckets=2)
    l0_file = os.path.join(root, "level_0", "20160601000000", "pab1.crs")
    store.write("crs_parcel_bndry", read_crs(spark, l0_file), key="audit_id")
    schema = parse_header(l0_file).schema()
    ckpt = str(tmp_path / "ckpt")

    def run():
        STR.streaming_cdc_upload(spark, root, store, "crs_parcel_bndry",
                                 "audit_id", schema, "pab1", ckpt,
                                 views=ViewSpec(group_cols=["reversed"],
                                                value_col="sequence",
                                                topk=2,
                                                distinct_col="lin_id"))

    def check():
        base = store.read(spark, "crs_parcel_bndry")
        tk = {(r["reversed"], r["rank"], r["audit_id"]) for r in
              store.read(spark, "crs_parcel_bndry__topk").collect()}
        want_tk = {(r["reversed"], r["rank"], r["audit_id"]) for r in
                   topk_view(base, ["reversed"], "audit_id",
                             "sequence", 2).collect()}
        assert tk == want_tk and tk, (tk, want_tk)
        dc = {r["reversed"]: (r["n"], r["n_distinct"]) for r in
              store.read(spark, "crs_parcel_bndry__distinct").collect()}
        want_dc = {r["reversed"]: (r["n"], r["n_distinct"]) for r in
                   distinct_view(base, ["reversed"],
                                 "lin_id").collect()}
        assert dc == want_dc, (dc, want_dc)

    run()
    check()
    ds2 = os.path.join(root, "level_5", "20160602000000")
    write_crs(os.path.join(ds2, "pab1.crs"), PAB1_L5B)
    write_crs(os.path.join(ds2, "xaud.crs"), XAUD_B)
    run()
    check()
    assert store.current_dataset("crs_parcel_bndry__topk") == \
        "20160602000000"
    assert store.current_dataset("crs_parcel_bndry__distinct") == \
        "20160602000000"
