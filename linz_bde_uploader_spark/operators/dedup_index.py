"""Persistent, incrementally-maintained dedup index over the versioned
TableStore — dedup-on-ingest: classify every document of an incoming
batch against the ALREADY-INGESTED corpus (exact content dup, MinHash
near-dup, or new) and admit only the new ones, without ever rescanning
the corpus. The dedup-family analog of operators/ann_index.py: the
same build / append-delta / compact / delete service shape,
applied to the (content-hash, LSH-band, minhash-signature) rows
`lsh_band_hashes` + `sig_array_from_wide` document as "the persistable
near-dup index".

Reference analog: the reference maintains derived per-table artifacts
incrementally per dataset rather than rebuilding them per upload
(sql/02-bde_control_functions.sql.in table-maintenance blocks), and
its tolerance checks exist so uploads never silently lose rows
(sql/02-bde_control_functions.sql.in:2006-2085); this applies both
contracts to corpus deduplication — incremental maintenance, and
never-suppress-without-evidence.

Scale design:
- The index stores ONLY hashes, aggregated to their decision form:
  one (content_hash, canonical_id) row per distinct content, one
  (bkey, min_id) row per distinct band bucket, and one per-doc
  minhash signature (num_perm ints — O(admitted docs), not corpus
  bytes); text never enters the index. Storing bucket minima instead
  of per-doc band rows is the boilerplate-skew guard: a verdict only
  ever needs the SMALLEST candidate id, and min is an algebraic
  aggregate, so a million-doc boilerplate bucket is one index row and
  the membership join's output is bounded by |batch| x bands no
  matter how hot the bucket — the index-side analog of the
  `max_bucket_size` star-edge cap the batch dedup family uses
  (which AQE cannot provide: the blow-up is join OUTPUT, invisible
  to input-bytes skew detection).
- VERIFY BEFORE SUPPRESS: a band collision alone never drops a doc.
  Each near-dup candidate pair (batch doc, bucket-min sharer) is
  verified by estimated Jaccard — the fraction of equal minhash
  signature positions, the hashes-only stand-in for
  `verify_pairs_jaccard`'s exact shingle-set Jaccard (whose sets an
  index cannot store) — and only pairs at or above ``near_threshold``
  suppress. The verification join touches |batch| x bands candidate
  rows against the id-clustered signature table, so only the
  candidate side shuffles. Two documented approximations: (a) the
  candidate per bucket is its min id, so a true near-dup whose
  bucket anchor fails verification is admitted (bounded by banding
  recall; the batch pipeline's full verify sweep remains the
  periodic backstop); (b) a candidate whose signature is missing —
  only possible inside the bands-committed/sigs-lost crash window —
  suppresses WITHOUT verification, keeping the crash contract
  conservative (never admit into a suspect window).
- Both tables are stored keyed (``content_hash`` / ``bkey`` /
  signature ``id``), so the store hash-clusters them (and registers
  bucketed catalog tables under ``use_catalog_buckets=True``):
  membership checks are equi-joins in which only the BATCH side
  shuffles — the corpus-sized index never moves per ingest.
- Ingest appends are LSM-shaped: new docs' rows land in small
  ``__*_delta`` tables stamped with the base version they extend
  (the ann_index crash-consistency discipline: a compact that crashed
  between its base fold and nothing else leaves the delta stamped for
  an OLDER base, and stale deltas are ignored everywhere);
  ``dedup_index_compact`` folds them into the bases in one O(index)
  rewrite — called explicitly, or automatically when the content
  delta outgrows ``auto_compact_ratio`` x base (tracked via pointer
  row-count metadata, no counting job), so a long-lived streaming
  ingest cannot accrete an unbounded delta chain.
- Takedown (right-to-be-forgotten / dedup-loser eviction) mirrors
  `ann_index.ivf_index_delete`: ids land in a tombstone table that
  ingest anti-joins (takedown-sized — AQE broadcasts it), so a
  deleted doc stops suppressing immediately; the next compact purges
  its content/signature rows physically and REBUILDS the band bucket
  minima from the surviving signatures (band keys are derivable from
  signatures, so buckets the dead doc anchored re-aggregate to the
  smallest living sharer). Deletes win until that purge: a
  tombstoned id arriving in a batch is ignored (purge, then re-add —
  the ann_index contract). Until purge, buckets anchored by a dead
  doc cannot vouch for their living non-min members (minima-only
  storage) — near-copies of those members may be admitted in the
  interim; the purge heals the anchors.
- Ingest is idempotent in STATE under at-least-once delivery: a
  replayed batch's docs find their own content hashes already in the
  index, classify as exact dups, and append nothing — the index never
  holds duplicate rows. (Verdicts are at-least-once: the replay
  reports exact_dup where the first delivery said new. Exactly-once
  verdict reporting belongs to the caller's ledger, as with the
  streaming views' dataset stamps.)
- Batch semantics are keep-first: a doc is suppressed by ANY
  smaller-id sharer in the same batch, whether or not that sharer
  itself survived — the standard batched approximation of sequential
  ingest (exact dups are sequential-exact this way; near-dup chains
  can over-suppress relative to one-doc-at-a-time ingest, which is
  precisely the ordering dependency batching exists to avoid).
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist, release
from linz_bde_uploader_spark.operators.dedup import (
    _minhash_wide, lsh_bands_from_wide, sig_array_from_wide)


def _tables(name: str) -> tuple[str, str, str, str, str, str]:
    return (f"{name}__content", f"{name}__bands", f"{name}__sigs",
            f"{name}__content_delta", f"{name}__bands_delta",
            f"{name}__sigs_delta")


def _tomb_table(name: str) -> str:
    return f"{name}__tombstones"


def _bkey(layout: int = 1) -> F.Column:
    # one join column folding (band, band_hash): a single-key
    # equi-join matches the store's single-column hash clustering.
    # layout 2 (r20, guide §1.2): drop the outer md5 — band_hash is
    # ALREADY an md5 digest of the band's minhash values, so hashing
    # it again bought nothing but a second md5 per (doc x band) row
    # on every build/ingest/compact. "band:digest" is injective on
    # (band, band_hash) (band is an integer, no ':' inside), so
    # bucket grouping — and therefore every verdict — is unchanged.
    # layout 1 (the pre-r20 double-md5 key) remains the READ/WRITE
    # path for indexes built before key_layout stamping: the key
    # function must match the stored rows or membership joins go
    # silently empty, which is why the layout is frozen at build
    # (meta "key_layout") exactly like the banding parameters.
    if layout >= 2:
        return F.concat_ws(":", F.col("band"), F.col("band_hash"))
    return F.md5(F.concat_ws(":", F.col("band"), F.col("band_hash")))


def _band_rows_from_wide(wide: DataFrame, num_perm: int,
                         bands: int, layout: int = 1) -> DataFrame:
    return (lsh_bands_from_wide(wide, num_perm, bands)
            .select("id", _bkey(layout).alias("bkey")))


def _band_rows_from_sigs(sigs: DataFrame, num_perm: int,
                         bands: int, layout: int = 1) -> DataFrame:
    # the purge path's rebuild primitive: band keys recomputed from
    # stored signatures, bit-for-bit the build-path keys (same
    # pipeline over the same minhash values, same frozen layout)
    return (lsh_bands_from_wide(sigs, num_perm, bands, sig_col="sig")
            .select("id", _bkey(layout).alias("bkey")))


def _key_layout(store, name: str) -> int:
    """The frozen bkey layout of an existing index: stamped in the
    content pointer's meta at build time (2 for r20+ builds); 1 —
    the historical double-md5 key — for any index that predates the
    stamp. Never migrated in place: compact's bands-then-sigs-then-
    content write order means a mid-migration crash would leave new-
    layout band rows under an old-layout meta stamp, and every later
    ingest would compute keys that match nothing."""
    meta = _index_params(store, name) or {}
    return meta.get("key_layout", 1)


def _base_stamp(store, base_table: str) -> str:
    return f"base_v{store.current_version(base_table)}"


def _live_delta(spark: SparkSession, store, base_table: str,
                delta_table: str) -> DataFrame | None:
    if not store.exists(delta_table):
        return None
    if store.current_dataset(delta_table) != _base_stamp(store,
                                                         base_table):
        return None  # stale: already folded in by a compact
    return store.read(spark, delta_table)


def _with_delta(spark: SparkSession, store, base_table: str,
                delta_table: str) -> DataFrame:
    base = store.read(spark, base_table)
    delta = _live_delta(spark, store, base_table, delta_table)
    return base if delta is None else base.unionByName(delta)


def _index_params(store, name: str) -> dict | None:
    """The banding identity persisted at build time in the content
    table's pointer (no Spark job). None for indexes written before
    meta stamping — callers then fall back to their own arguments,
    the pre-r11 behavior."""
    return store.table_meta(_tables(name)[0])


def _check_params(store, name: str, num_perm: int, bands: int,
                  shingle_words: int) -> None:
    """Frozen-banding enforcement: the (num_perm, bands,
    shingle_words) trio is part of the index identity (as ann_index
    freezes its centroids); an ingest or compact run with different
    values would write band keys that never match the stored ones —
    silent, permanent corruption. Raise instead."""
    meta = _index_params(store, name)
    if meta is None:
        return
    got = {"num_perm": num_perm, "bands": bands,
           "shingle_words": shingle_words}
    want = {k: meta[k] for k in got if k in meta}
    if got != {**got, **want}:
        raise ValueError(
            f"dedup index {name!r} was built with {want}; "
            f"got {got} — banding parameters are frozen at build")


def live_content_delta_rows(store, name: str) -> int:
    """Pointer-only row count of the LIVE content-delta chain: 0 when
    the delta is absent or staled by a compact (same stamp check as
    ``_live_delta``, without launching a read). The single source of
    truth for 'how much un-folded delta is standing' — the bench's
    bounded-chain soak uses this instead of re-implementing the stamp
    rule (a drifted copy is exactly how the r10/r11 stale-pointer
    false-negative happened)."""
    content_t = _tables(name)[0]
    cd_t = _tables(name)[3]
    if not store.exists(cd_t):
        return 0
    if store.current_dataset(cd_t) != _base_stamp(store, content_t):
        return 0  # stale: already folded by a compact
    return store.row_count(cd_t) or 0


def _tombstones(spark: SparkSession, store,
                name: str) -> DataFrame | None:
    t = _tomb_table(name)
    if not store.exists(t):
        return None
    if store.row_count(t) == 0:  # purged-and-cleared; None = unknown
        return None
    return store.read(spark, t)


def dedup_index_build(spark: SparkSession, store, docs: DataFrame,
                      name: str, num_perm: int = 16, bands: int = 4,
                      shingle_words: int = 3, id_col: str = "doc_id",
                      text_col: str = "text") -> None:
    """Materialize the index for an existing corpus: the distinct
    content map (content_hash -> canonical smallest id), the LSH
    band-bucket minima, and the per-doc minhash signatures. The
    (num_perm, bands, shingle_words) parameters are part of the index
    identity — persisted in the content pointer's ``meta`` so ingest
    can ENFORCE it and compact can RECOVER it (frozen banding,
    exactly as ann_index freezes its centroids; callers passing
    mismatched values get a ValueError, not silent corruption).
    The three tables commit together in one dataset scope, so a build
    that fails part-way leaves the previous index (or none) in place;
    it therefore opens its own scope and must not run inside another.
    An empty ``docs`` frame creates a valid empty index — the
    streaming bootstrap path, so a first batch classifies through the
    same ingest pipeline as every later one."""
    content_t, bands_t, sigs_t, _cd, _bd, _sd = _tables(name)
    d = docs.select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("text"))
    # the three pointers flip together (the store's dataset scope):
    # a rebuild over an older index that fails part-way must not
    # leave the layout-2 stamp above the old layout's band rows
    with store.dataset_scope():
        content = persist(d.groupBy(F.md5("text").alias("content_hash"))
                          .agg(F.min("id").alias("canonical_id")),
                          StorageLevel.MEMORY_AND_DISK)
        try:
            # row count recorded in the pointer: the auto-compact
            # trigger's denominator, maintained arithmetically thereafter
            n_content = content.count()
            store.write(content_t, content, key="content_hash",
                        rows=n_content,
                        meta={"num_perm": num_perm, "bands": bands,
                              "shingle_words": shingle_words,
                              # frozen at build like the banding trio;
                              # pre-r20 indexes (no stamp) read/write
                              # layout-1 keys forever — see _key_layout
                              "key_layout": 2})
        finally:
            release(content)
        # one minhash aggregate feeds both band minima and signatures
        wide = persist(_minhash_wide(d, "text", "id", num_perm,
                                     shingle_words),
                       StorageLevel.MEMORY_AND_DISK)
        try:
            store.write(bands_t,
                        _band_rows_from_wide(wide, num_perm, bands,
                                             layout=2)
                        .groupBy("bkey").agg(F.min("id").alias("min_id")),
                        key="bkey")
            store.write(sigs_t, sig_array_from_wide(wide, num_perm),
                        key="id")
        finally:
            release(wide)


def dedup_index_ingest(spark: SparkSession, store, batch: DataFrame,
                       name: str, num_perm: int | None = None,
                       bands: int | None = None,
                       shingle_words: int | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       near_threshold: float = 0.5,
                       auto_compact_ratio: float | None = 0.25,
                       auto_compact_min_rows: int = 1_000_000
                       ) -> DataFrame:
    """Classify a batch against the index and admit the new docs.

    Returns (id, verdict, dup_of): ``exact_dup`` (same content hash as
    a stored doc or a smaller-id batch doc), ``near_dup`` (shares an
    LSH band bucket with one AND the estimated Jaccard between their
    minhash signatures is >= ``near_threshold`` — band collisions
    alone never suppress), or ``new``. ``dup_of`` is the smallest
    such sharer (stored canonical ids and batch ids compete on plain
    id order — deterministic), NULL for new docs. New docs' content
    rows, signatures, and bucket-min updates are appended to the
    delta tables; dup docs append NOTHING, which is the whole point —
    the corpus stays deduplicated at ingest instead of via periodic
    full-corpus sweeps. Batch docs whose id is tombstoned are ignored
    entirely (no verdict row): deletes win until the purge-compact,
    per the ann_index delete contract.

    The returned frame is PERSISTED (and already materialized — the
    appends derive from it): the caller frees it with
    ``cache.release()`` when done. Returning it unpersisted would make
    every downstream action re-run the classification joins against
    a batch frame that a foreachBatch caller no longer owns.

    Only the batch shuffles: the membership and verification joins
    hit the stored tables on their clustering keys, and the appended
    delta is O(|new docs|). When the content delta's row count
    (pointer metadata, no counting job) exceeds
    ``auto_compact_ratio`` x base rows AND ``auto_compact_min_rows``,
    the ingest triggers ``dedup_index_compact`` itself — the
    delta-chain bound a long-lived streaming ingest needs.

    Banding parameters are None-sentinel: absent arguments resolve
    from the identity persisted at build time (``_index_params``) —
    the same rule as ``dedup_index_compact`` — falling back to the
    historical defaults (16/4/3) only for an index that predates
    meta stamping. Explicit values are validated against the
    persisted identity (ValueError on mismatch). Only EXPLICIT
    values are forwarded to the auto-compact path: a pre-meta index
    must never have literal defaults stamped as its frozen identity
    by a maintenance pass the caller never parameterized."""
    content_t, bands_t, sigs_t, cd_t, bd_t, sd_t = _tables(name)
    # raw caller values (possibly None) — what auto-compact may stamp
    asserted = (num_perm, bands, shingle_words)
    meta = _index_params(store, name) or {}
    num_perm = num_perm if num_perm is not None else meta.get(
        "num_perm", 16)
    bands = bands if bands is not None else meta.get("bands", 4)
    shingle_words = (shingle_words if shingle_words is not None
                     else meta.get("shingle_words", 3))
    _check_params(store, name, num_perm, bands, shingle_words)
    layout = _key_layout(store, name)  # frozen at build
    min_matches = int(math.ceil(near_threshold * num_perm))
    b = batch.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("text"))
    tombs = _tombstones(spark, store, name)
    if tombs is not None:
        b = b.join(tombs, "id", "left_anti")
    b = persist(b)
    wide = None
    verdicts = None
    try:
        bc = b.select("id", F.md5("text").alias("content_hash"))
        # one minhash aggregate per batch: band rows and signatures
        # both derive map-side from the persisted wide matrix
        wide = persist(_minhash_wide(b, "text", "id", num_perm,
                                     shingle_words),
                       StorageLevel.MEMORY_AND_DISK)
        bh = _band_rows_from_wide(wide, num_perm, bands, layout)
        bsigs = sig_array_from_wide(wide, num_perm)

        stored_content = _with_delta(spark, store, content_t, cd_t)
        exact_stored = (bc.join(stored_content, "content_hash")
                        .select("id",
                                F.col("canonical_id").alias("_cand")))
        batch_min = bc.groupBy("content_hash").agg(
            F.min("id").alias("_bmin"))
        exact_batch = (bc.join(batch_min, "content_hash")
                       .filter(F.col("id") > F.col("_bmin"))
                       .select("id", F.col("_bmin").alias("_cand")))
        exact_cand = exact_stored.unionByName(exact_batch)
        if tombs is not None:
            # a deleted doc's content row must stop vouching NOW,
            # not at purge time: a fresh copy of removed content is
            # new content again
            exact_cand = exact_cand.join(
                tombs.select(F.col("id").alias("_cand")),
                "_cand", "left_anti")
        exact = (exact_cand.groupBy("id")
                 .agg(F.min("_cand").alias("exact_of")))

        # stored side is per-bucket minima (one row per distinct
        # bucket), and the intra-batch side pre-aggregates to its own
        # bucket minima — both joins' outputs are bounded by
        # |batch| x bands even when a boilerplate bucket holds
        # millions of corpus docs
        stored_bands = _with_delta(spark, store, bands_t, bd_t)
        near_stored = (bh.join(stored_bands, "bkey")
                       .select("id", F.col("min_id").alias("_cand")))
        bucket_min = bh.groupBy("bkey").agg(F.min("id").alias("_bbm"))
        near_batch = (bh.join(bucket_min, "bkey")
                      .filter(F.col("_bbm") < F.col("id"))
                      .select("id", F.col("_bbm").alias("_cand")))
        cand = near_stored.unionByName(near_batch)
        if tombs is not None:
            cand = cand.join(tombs.select(F.col("id").alias("_cand")),
                             "_cand", "left_anti")
        cand = cand.distinct()

        # verify-before-suppress: estimated Jaccard = matching
        # signature positions / num_perm, computed only over the
        # |batch| x bands candidate pairs (the id-clustered signature
        # table never moves — candidate side shuffles). A missing
        # candidate signature (bands-committed/sigs-lost crash
        # window) suppresses unverified — fail conservative.
        stored_sigs = _with_delta(spark, store, sigs_t, sd_t)
        cand_sig = (
            cand
            .join(bsigs.select("id", F.col("sig").alias("_my_sig")),
                  "id", "left")
            .join(bsigs.select(F.col("id").alias("_cand"),
                               F.col("sig").alias("_cb")),
                  "_cand", "left")
            .join(stored_sigs.select(F.col("id").alias("_cand"),
                                     F.col("sig").alias("_cs")),
                  "_cand", "left")
            .withColumn("_cand_sig", F.coalesce("_cb", "_cs")))
        matches = F.size(F.filter(
            F.zip_with("_my_sig", "_cand_sig",
                       lambda x, y: x == y),
            lambda v: v))
        verified = cand_sig.filter(
            F.col("_cand_sig").isNull()
            | (matches >= F.lit(min_matches)))
        near = (verified.groupBy("id")
                .agg(F.min("_cand").alias("near_of")))

        verdicts = persist(
            b.select("id")
            .join(exact, "id", "left").join(near, "id", "left")
            .select(
                "id",
                F.when(F.col("exact_of").isNotNull(),
                       F.lit("exact_dup"))
                .when(F.col("near_of").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("new")).alias("verdict"),
                F.coalesce("exact_of", "near_of").alias("dup_of")))
        # one aggregate both MATERIALIZES the persisted verdicts and
        # yields n_new — the former count() + filtered-count() pair
        # scanned the verdict relation twice for the same information
        # (two actions, two passes over every batch at scale)
        n_new = {r["verdict"]: r["n"] for r in
                 verdicts.groupBy("verdict").agg(F.count("*").alias("n"))
                 .collect()}.get("new", 0)

        new_ids = verdicts.filter(F.col("verdict") == "new") \
            .select("id")
        if n_new:
            # BANDS delta commits FIRST, then SIGS, then CONTENT —
            # the crash-window ordering that fails CONSERVATIVE. A
            # crash after bands alone leaves band minima present and
            # sigs/content absent: every future copy of the crashed
            # docs band-matches a candidate whose signature is
            # missing, and missing-sig suppresses unverified — only
            # the verdict label degrades (exact copies report
            # near_dup). A crash after bands+sigs additionally lets
            # those suppressions verify normally. The reverse order
            # would leave content present and bands absent, and
            # future NEAR-copies would be ADMITTED — permanent corpus
            # contamination, since the replay's docs classify as dups
            # and append nothing (no self-heal). Pinned by
            # test_crash_between_delta_writes_is_conservative and
            # test_crash_before_sigs_write_is_conservative.
            new_bands = (bh.join(new_ids, "id", "left_semi")
                         .groupBy("bkey")
                         .agg(F.min("id").alias("min_id")))
            live_b = _live_delta(spark, store, bands_t, bd_t)
            merged_b = (new_bands if live_b is None
                        else live_b.unionByName(new_bands)
                        .groupBy("bkey")
                        .agg(F.min("min_id").alias("min_id")))
            store.write(bd_t, merged_b, key="bkey",
                        dataset=_base_stamp(store, bands_t))

            new_sigs = bsigs.join(new_ids, "id", "left_semi")
            live_s = _live_delta(spark, store, sigs_t, sd_t)
            store.write(sd_t,
                        new_sigs if live_s is None
                        else live_s.unionByName(new_sigs),
                        key="id", dataset=_base_stamp(store, sigs_t))

            new_content = (bc.join(new_ids, "id", "left_semi")
                           .select("content_hash",
                                   F.col("id").alias("canonical_id")))
            live_c = _live_delta(spark, store, content_t, cd_t)
            # exact arithmetic: admitted docs have pairwise-distinct
            # content (keep-first collapsed batch copies; stored
            # copies were never admitted), so the delta grows by
            # exactly n_new rows
            prev_rows = (store.row_count(cd_t)
                         if live_c is not None else 0)
            delta_rows = (prev_rows + n_new
                          if prev_rows is not None else None)
            store.write(cd_t,
                        new_content if live_c is None
                        else live_c.unionByName(new_content),
                        key="content_hash",
                        dataset=_base_stamp(store, content_t),
                        rows=delta_rows)
            _maybe_auto_compact(spark, store, name,
                                auto_compact_ratio,
                                auto_compact_min_rows,
                                num_perm=asserted[0],
                                bands=asserted[1],
                                shingle_words=asserted[2])
        return verdicts  # persisted + materialized; caller releases
    except BaseException:
        release(verdicts)
        raise
    finally:
        release(wide, b)


def _maybe_auto_compact(spark: SparkSession, store, name: str,
                        ratio: float | None, min_rows: int,
                        num_perm: int | None = None,
                        bands: int | None = None,
                        shingle_words: int | None = None) -> bool:
    """Size trigger: compact when the content delta's recorded row
    count reaches both floors. Pointer metadata only — no job; if
    either count is unknown (never recorded), the trigger stays off
    and explicit compaction remains the operator's tool. Only the
    ingest caller's EXPLICIT banding parameters are threaded through
    to the compact (None for the rest): when the index carries
    persisted meta they were already validated by ``_check_params``
    at ingest start (so they equal the persisted truth), and when
    the index PREDATES meta stamping they are the caller's asserted
    truth — the auto-triggered purge-rebuild then runs under the
    ingest's own band keys and the compact STAMPS them so the
    identity is learned and enforced thereafter. A default-argument
    ingest on a pre-meta index forwards all-None: the compact runs
    under the historical defaults, unenforced and UNSTAMPED — an
    identity the caller never asserted must not get frozen by a
    maintenance pass (a later compact with the true parameters would
    then raise, making the index unrecoverable)."""
    if ratio is None:
        return False
    content_t = _tables(name)[0]
    cd_t = _tables(name)[3]
    delta_rows = store.row_count(cd_t)
    base_rows = store.row_count(content_t)
    if delta_rows is None or base_rows is None:
        return False
    if delta_rows < min_rows or delta_rows < ratio * max(base_rows, 1):
        return False
    dedup_index_compact(spark, store, name, num_perm=num_perm,
                        bands=bands, shingle_words=shingle_words)
    return True


def stream_dedup_ingest(spark: SparkSession, src_dir: str, store,
                        name: str, checkpoint: str, schema,
                        num_perm: int | None = None,
                        bands: int | None = None,
                        shingle_words: int | None = None,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        near_threshold: float = 0.5,
                        auto_compact_ratio: float | None = 0.25,
                        auto_compact_min_rows: int = 1_000_000
                        ) -> None:
    """Continuously-deduplicating ingest: a file-source stream of
    document batches drains into ``dedup_index_ingest`` via
    foreachBatch (``availableNow`` trigger — the drain-what's-there
    contract shared with the CDC upload and ANN index streams). The
    first batch bootstraps by creating an EMPTY index and ingesting
    against it, so batch one gets the same classification surface as
    every later batch — intra-batch exact AND verified-near dups are
    suppressed and contribute no index rows (building the index
    directly from the raw first batch would have admitted its
    near-dups wholesale). foreachBatch is at-least-once; the ingest's
    state idempotency is the replay guard — a redelivered batch's
    docs classify exact_dup against their own earlier append and add
    nothing. What to DO with the verdicts (route admitted docs to the
    corpus sink, quarantine dups, count per source) is the caller's
    foreachBatch concern; this stream maintains the index itself."""
    stream = spark.readStream.schema(schema).parquet(src_dir)
    content_t = _tables(name)[0]

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        if not store.exists(content_t):
            # the bootstrap build defines the index identity, so it
            # needs concrete values: caller's explicit args, else
            # the defaults. build stamps meta, so the ingest below
            # resolves the same values even when forwarded None.
            dedup_index_build(spark, store, batch.limit(0), name,
                              num_perm=(num_perm if num_perm
                                        is not None else 16),
                              bands=bands if bands is not None else 4,
                              shingle_words=(shingle_words
                                             if shingle_words
                                             is not None else 3),
                              id_col=id_col, text_col=text_col)
        release(dedup_index_ingest(
            spark, store, batch, name, num_perm=num_perm,
            bands=bands, shingle_words=shingle_words, id_col=id_col,
            text_col=text_col, near_threshold=near_threshold,
            auto_compact_ratio=auto_compact_ratio,
            auto_compact_min_rows=auto_compact_min_rows))

    q = (stream.writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def dedup_index_compact(spark: SparkSession, store, name: str,
                        num_perm: int | None = None,
                        bands: int | None = None,
                        shingle_words: int | None = None) -> int:
    """Fold the deltas into the bases — and purge any standing
    tombstones physically — in one O(index) rewrite per table that
    restores pure-base reads. The base writes bump the base versions,
    which automatically STALES the deltas (their stamps name the old
    base) — a crash between folds leaves stale deltas, ignored
    everywhere, exactly the ann_index compact contract. Write order
    is bands, then sigs, then content (the ingest's conservative
    ordering), and tombstones clear LAST: any crash inside the
    purge leaves the tombstone anti-joins standing, so a dead doc
    never resurfaces through a half-finished purge. With tombstones,
    band bucket minima are REBUILT from the surviving signatures
    (band keys are derivable from signatures), re-anchoring buckets
    the dead docs had anchored — which is why the banding parameters
    default to the identity persisted at build time
    (``_index_params``): a rebuild under different banding would
    corrupt every bucket key silently. Explicit values are honored
    only when they match the persisted identity (ValueError
    otherwise). For an index that PREDATES meta stamping, explicit
    values are the caller's asserted truth AND are stamped onto the
    content pointer by this rewrite — the identity is learned once
    and enforced thereafter (the migration path for pre-meta
    indexes; without explicit values such an index compacts under
    the historical defaults, unenforced, as before). Returns the
    number of delta rows folded."""
    content_t, bands_t, sigs_t, cd_t, bd_t, sd_t = _tables(name)
    meta = _index_params(store, name) or {}
    explicit = {k: v for k, v in (("num_perm", num_perm),
                                  ("bands", bands),
                                  ("shingle_words", shingle_words))
                if v is not None}
    if meta:
        clash = {k: v for k, v in explicit.items()
                 if k in meta and meta[k] != v}
        if clash:
            raise ValueError(
                f"dedup index {name!r} was built with "
                f"{ {k: meta[k] for k in clash} }; compact called "
                f"with {clash} — banding parameters are frozen at "
                f"build")
    elif explicit:
        # pre-meta index + explicit caller truth: learn the identity
        # on this rewrite (stamped below on the content pointer)
        meta = explicit
    if num_perm is None:
        num_perm = meta.get("num_perm", 16)
    if bands is None:
        bands = meta.get("bands", 4)
    learn = bool(explicit) and _index_params(store, name) is None
    tombs = _tombstones(spark, store, name)
    folded = 0

    live_c = _live_delta(spark, store, content_t, cd_t)
    live_b = _live_delta(spark, store, bands_t, bd_t)
    live_s = _live_delta(spark, store, sigs_t, sd_t)
    if live_c is None and live_b is None and live_s is None \
            and tombs is None and not learn:
        return 0
    for lv in (live_c, live_b, live_s):
        if lv is not None:
            folded += lv.count()

    content = store.read(spark, content_t)
    if live_c is not None:
        content = content.unionByName(live_c)
    sigs = store.read(spark, sigs_t)
    if live_s is not None:
        sigs = sigs.unionByName(live_s)

    if tombs is None:
        if live_b is not None:
            store.write(bands_t,
                        store.read(spark, bands_t).unionByName(live_b)
                        .groupBy("bkey").agg(F.min("min_id")
                                             .alias("min_id")),
                        key="bkey")
        if live_s is not None:
            store.write(sigs_t, sigs, key="id")
        if live_c is not None or learn:
            # `learn` forces the content rewrite even with no delta:
            # the pointer commit is what stamps the learned identity
            base_rows = store.row_count(content_t)
            delta_rows = (store.row_count(cd_t)
                          if live_c is not None else 0)
            rows = (base_rows + delta_rows
                    if base_rows is not None and delta_rows is not None
                    else None)
            store.write(content_t, content, key="content_hash",
                        rows=rows, meta=meta or None)
        return folded

    # purge path: drop tombstoned docs' rows and rebuild the bucket
    # minima from what survives
    sigs = persist(sigs.join(tombs, "id", "left_anti"),
                   StorageLevel.MEMORY_AND_DISK)
    try:
        store.write(bands_t,
                    _band_rows_from_sigs(sigs, num_perm, bands,
                                         _key_layout(store, name))
                    .groupBy("bkey").agg(F.min("id").alias("min_id")),
                    key="bkey")
        store.write(sigs_t, sigs, key="id")
        content = persist(content.join(
            tombs.select(F.col("id").alias("canonical_id")),
            "canonical_id", "left_anti"))
        try:
            n = content.count()  # O(index), once per purge-compact
            store.write(content_t, content, key="content_hash", rows=n,
                        meta=meta or None)
        finally:
            release(content)
        store.write(_tomb_table(name), tombs.limit(0), rows=0)
    finally:
        release(sigs)
    return folded


def dedup_index_delete(spark: SparkSession, store, ids: DataFrame,
                       name: str, id_col: str = "doc_id") -> int:
    """Logical takedown — right-to-be-forgotten for the dedup index
    (the path ann_index.ivf_index_delete provides for vectors, and
    the reference's ledger purge provides for jobs,
    sql/02-bde_control_functions.sql.in:165-236): ids land in a
    small tombstone table that ingest anti-joins on both the exact
    and near candidate sides (tombstones are takedown-sized, AQE
    broadcasts them), so a removed doc stops suppressing — and stops
    being a ``dup_of`` target — immediately; the next
    ``dedup_index_compact`` purges its content/signature rows
    physically, rebuilds the band minima it anchored, and clears the
    tombstones. Deletes WIN until that compaction: a tombstoned id
    arriving in an ingest batch is ignored while the tombstone
    stands (purge, then re-add). Idempotent: the tombstone set is a
    distinct union. Returns the total tombstone count after the
    write."""
    t = _tomb_table(name)
    new = ids.select(F.col(id_col).alias("id")).distinct()
    if store.exists(t):
        new = store.read(spark, t).unionByName(new).distinct()
    n = new.count()
    store.write(t, new, rows=n)
    return n
