"""Deduplication operators for large-scale training-data pipelines.

Four families, all pure DataFrame ops (no Python UDFs), each designed
for the 100 TB path:

- exact:     one shuffle on content hash (map-side partial agg).
- minhash:   shingle explode -> per-(doc,perm) min -> band buckets ->
             bucket self-join. The self-join key is (band, band_hash),
             so only real candidate pairs shuffle — never the corpus
             cross-product. Boilerplate buckets (many near-identical
             docs on one band key) blow up quadratically in the join
             OUTPUT, which AQE's skew splitting cannot see (it reads
             input bytes; proven in tests/test_skew_soak.py) — capped
             BY DEFAULT at DEFAULT_MAX_BUCKET_SIZE (over-sized
             buckets emit linear star edges); exact all-pairs output
             is explicit opt-in via max_bucket_size=None.
- simhash:   bit-vote aggregation, one shuffle on (doc, bit) then one
             on doc; hamming-near pairs via banded prefix buckets.
- jaccard:   exact n-gram overlap via shingle inverted index
             (explode + self-join on shingle + count ratio). Quadratic
             in bucket size — the exact verifier behind minhash-LSH,
             not the first pass, at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linz_bde_uploader_spark.functions.hashing import (
    MINHASH_PRIME, hash32, hash64s, minhash_perm,
)

# Default densification guard for the LSH-bucket self-join family
# (lsh_candidate_pairs here, similarity.embedding_near_pairs).
# Three rounds of scale soaks (SCALE_SOAK.json r14 uncapped rows,
# density_cap_soak 16.8x/89.9x output blow-up at 10x data, the
# 20.5x near-pairs wall) proved the uncapped all-pairs form is a
# quadratic scale-killer on densifying corpora, while the capped
# twins hold ~1x wall with identical connected-components output
# (a star spans a clique's component exactly). 40 is the proven
# value from the oracle-green capped headline entries; uncapped
# exact all-pairs is opt-in with an explicit max_bucket_size=None.
DEFAULT_MAX_BUCKET_SIZE = 40

# relations persisted by the cache_shingles/cache_sets fast paths; a
# long-lived session (bench reps, check_determinism double-runs, the
# full-pipeline entry) re-invokes these operators and would otherwise
# accumulate cached relations until LRU eviction
_PERSISTED: list[DataFrame] = []


def _track(df: DataFrame) -> DataFrame:
    _PERSISTED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every relation this module persisted. Call between
    runs in long-lived sessions (the bench/oracle harnesses do); a
    single pipeline invocation does not need it — the caches are
    bounded at one row per doc and die with the session."""
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release


def untrack(df: DataFrame) -> None:
    """Unpersist ONE tracked relation immediately. For failure paths
    that persisted something they will never consume (e.g. a gz read
    whose error budget failed): raising with the cache live would
    leak a full cached copy per failure into a long-lived session
    until the next engine-wide ``release_caches()``."""
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        _PERSISTED.remove(df)
    except ValueError:
        pass  # already released engine-wide


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with
    the canonical (minimum) id and the copy count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def _shingle_hashes(docs: DataFrame, text_col: str, id_col: str,
                    shingle_words: int, distinct: bool = True,
                    portable: bool = True,
                    hash_bits: int = 32) -> DataFrame:
    """(id, h) pairs: 32-bit word-shingle hashes per document.

    ``portable=True`` (default) hashes with md5-derived 32-bit values
    that DuckDB reproduces bit-for-bit — the differential-testing
    contract. ``portable=False`` swaps in xxhash64 masked to 32 bits:
    same collision behavior, no cryptographic digest in the hot path —
    the setting a production 100 TB run uses (the hash only needs to
    be deterministic within one engine there).

    Built WITHOUT higher-order-function lambdas: HOFs (transform/
    aggregate) evaluate interpreted (no whole-stage codegen) and
    measured ~50x slower per shingle than this arrays_zip + explode +
    top-level md5 pipeline, which stays fully codegen'd. Shingles are
    formed by zipping k shifted slices of the token array — a pure
    map-side expression, no shuffle.

    ``distinct=False`` skips the per-doc dedup shuffle for consumers
    that are insensitive to duplicate shingles (min-aggregation).

    ``hash_bits=64`` emits full signed-64-bit hashes (portable:
    hash64s; fast path: raw xxhash64) for consumers that need all 64
    bit positions (SimHash)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    length = F.greatest(n - (shingle_words - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, length)
                            for j in range(shingle_words)])
    shingle = F.concat_ws(" ", *[F.col("z")[str(j)]
                                 for j in range(shingle_words)])
    if hash_bits == 64:
        hexpr = hash64s(shingle) if portable else F.xxhash64(shingle)
    else:
        hexpr = (hash32(shingle) if portable else
                 F.xxhash64(shingle).bitwiseAND(F.lit((1 << 32) - 1)))
    out = (
        docs.select(F.col(id_col).alias("id"), F.explode(zipped).alias("z"))
        .select("id", hexpr.alias("h"))
    )
    return out.dropDuplicates(["id", "h"]) if distinct else out


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 16,
                       shingle_words: int = 3) -> DataFrame:
    """MinHash signature matrix: (id, perm, minhash).

    Long-form view over the wide signature matrix (one shuffle; see
    _minhash_wide).
    """
    wide = _minhash_wide(docs, text_col, id_col, num_perm, shingle_words)
    pairs = F.array(*[
        F.struct(F.lit(i).alias("perm"), F.col(f"m{i}").alias("minhash"))
        for i in range(num_perm)
    ])
    return wide.select("id", F.explode(pairs).alias("p")) \
               .select("id", "p.perm", "p.minhash")


def _minhash_wide(docs: DataFrame, text_col: str, id_col: str,
                  num_perm: int, shingle_words: int,
                  portable: bool = True) -> DataFrame:
    """Wide signature matrix: (id, m0..m{num_perm-1}) in ONE shuffle.

    Each permutation is its own aggregate column min((a_i*h+b_i)%P),
    so the shingle stream is never multiplied by num_perm through a
    shuffle — partial (map-side) mins collapse it to one row per doc
    per partition before exchange."""
    # duplicate shingles can't change a min -> distinct=False saves
    # the dedup shuffle; partial mins collapse everything map-side
    sh = _shingle_hashes(docs, text_col, id_col, shingle_words,
                         distinct=False, portable=portable)
    aggs = [F.min(minhash_perm(F.col("h"), F.lit(i))).alias(f"m{i}")
            for i in range(num_perm)]
    return sh.groupBy("id").agg(*aggs)


def lsh_band_hashes(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", num_perm: int = 16,
                    bands: int = 4, shingle_words: int = 3,
                    portable: bool = True) -> DataFrame:
    """(id, band, band_hash) — a doc set's LSH index rows: band b's
    hash = md5 of its minhashes in permutation order, computed
    straight from the wide signature columns with no extra shuffle
    (xxhash64 when portable=False, same banding semantics). This IS
    the persistable near-dup index: docs sharing any (band,
    band_hash) are near-dup candidates, so matching new docs against
    stored rows is one equi-join."""
    wide = _minhash_wide(docs, text_col, id_col, num_perm, shingle_words,
                         portable=portable)
    return lsh_bands_from_wide(wide, num_perm, bands, portable=portable)


def lsh_bands_from_wide(wide: DataFrame, num_perm: int, bands: int,
                        portable: bool = True,
                        sig_col: str | None = None) -> DataFrame:
    """Band rows (id, band, band_hash) derived from an already-built
    signature source — either the wide matrix (id, m0..m{n-1}) or,
    with ``sig_col``, an array<bigint> signature column (the stored
    form a persistent dedup index keeps per doc). Pure map-side
    expressions, no shuffle — callers that consume both the band rows
    and the signatures pay the minhash aggregate once."""
    rows_per_band = num_perm // bands

    def _m(i: int) -> F.Column:
        if sig_col is not None:
            return F.element_at(F.col(sig_col), i + 1)
        return F.col(f"m{i}")

    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            (F.md5 if portable else F.xxhash64)(F.concat_ws(",", *[
                _m(b * rows_per_band + r)
                for r in range(rows_per_band)
            ])).cast("string").alias("band_hash"))
        for b in range(bands)
    ])
    return wide.select("id", F.explode(band_structs).alias("bh")) \
               .select("id", "bh.band", "bh.band_hash")


def sig_array_from_wide(wide: DataFrame, num_perm: int) -> DataFrame:
    """(id, sig array<bigint>) — the per-doc minhash signature in its
    storable form. Estimated Jaccard between two docs = fraction of
    equal positions, the verify-before-suppress primitive a
    hashes-only persistent index uses in place of exact shingle-set
    Jaccard (verify_pairs_jaccard), whose sets it cannot store."""
    return wide.select(
        "id", F.array(*[F.col(f"m{i}")
                        for i in range(num_perm)]).alias("sig"))


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_perm: int = 16,
                        bands: int = 4, shingle_words: int = 3,
                        portable: bool = True,
                        max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                        cache_index: bool = False) -> DataFrame:
    """MinHash-LSH near-dup candidates: (id_a, id_b) with id_a < id_b.

    Signatures are banded (num_perm/bands rows per band); docs sharing
    any band hash become candidates. The join is on (band, band_hash),
    so the pair count is bounded by real similarity, not corpus size —
    but "real similarity" itself explodes on BOILERPLATE: a bucket of
    B near-identical docs (shared legal footer, templated pages) emits
    B(B-1)/2 pairs, and a 1M-doc bucket means ~5e11 pairs. AQE's
    skew-join splitting does NOT rescue this: skew detection reads the
    join's INPUT partition bytes, and a quadratic blow-up's input is
    tiny (measured in tests/test_skew_soak.py — the hot bucket never
    crosses any byte threshold).

    ``max_bucket_size`` is the engine-level guard: buckets larger than
    the cap emit STAR edges — (bucket-min id, member) — instead of all
    pairs, linear in bucket size. For downstream connected-components
    clustering a bucket is a clique, and a star spans a clique's
    component exactly, so cluster output is unchanged; pairwise
    verification sees each member against the bucket's canonical doc
    rather than every sibling (the trade documented for capped
    near-dedup). The guard is ON BY DEFAULT
    (``DEFAULT_MAX_BUCKET_SIZE``): the uncapped form is a measured
    quadratic scale-killer on boilerplate corpora (r14/r16 soaks,
    16.8-22x wall at 10x data) and a default-path caller at 100 TB
    must not inherit it. Exact all-pairs semantics are explicit
    opt-in with ``max_bucket_size=None``.

    ``cache_index`` persists the (id, band, band_hash) relation: the
    capped plan consumes it in three branches (both self-join sides +
    the star filter) and Catalyst re-executes the signature aggregate
    per branch otherwise. One row per (doc, band) — far smaller than
    the corpus; callers in long-lived sessions release it via
    ``release_caches()``.
    """
    band_hashes = lsh_band_hashes(docs, text_col, id_col, num_perm,
                                  bands, shingle_words, portable)
    if cache_index:
        from pyspark import StorageLevel
        band_hashes = _track(
            band_hashes.persist(StorageLevel.MEMORY_AND_DISK))
    if max_bucket_size is None:
        a = band_hashes.alias("a")
        b = band_hashes.alias("b")
        return (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    # bucket stats reuse the band-hash exchange (same grouping key);
    # the join back is co-partitioned — no extra shuffle of the index
    stats = band_hashes.groupBy("band", "band_hash").agg(
        F.count("*").alias("_n"), F.min("id").alias("_hub"))
    bhs = band_hashes.join(stats, ["band", "band_hash"])
    small = bhs.filter(F.col("_n") <= max_bucket_size)
    a, b = small.alias("a"), small.alias("b")
    all_pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    star = (
        bhs.filter((F.col("_n") > max_bucket_size)
                   & (F.col("id") != F.col("_hub")))
        .select(F.col("_hub").alias("id_a"), F.col("id").alias("id_b"))
    )
    return all_pairs.unionByName(star).distinct()


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, shingle_words: int = 1,
            portable: bool = True) -> DataFrame:
    """SimHash fingerprint per document: (id, simhash).

    Classic bit-vote construction: each distinct token/shingle hash
    votes +1/-1 on every bit; bit j of the fingerprint is 1 iff the
    vote sum is >= 0. Two shuffles: (id, bit) vote agg, then id
    reassembly — both with map-side partial aggregation.

    Default 64 bits: with 16-bit band segments the near-pair bucket
    join gets 2^16 distinct values per band instead of the 2^8 a
    32-bit fingerprint allows — the difference between O(n²/256) and
    O(n²/65536) candidate blow-up on a large corpus. Bit 63 lives in
    the sign bit (two's complement); shifts are arithmetic in both
    engines and every extraction masks, so the sign never leaks.
    """
    sh = _shingle_hashes(docs, text_col, id_col, shingle_words,
                         portable=portable,
                         hash_bits=64 if bits > 32 else 32)
    # one vote-sum aggregate per PAIR of bits -> single shuffle with
    # map-side partial sums (the naive bit-explode multiplies the
    # token stream by `bits` through the exchange). Bits j and
    # j+bits/2 share one packed 64-bit counter — (h>>j) masked to
    # positions 0 and bits/2 adds both votes with one branch-free
    # shift+mask+add — so the per-row aggregate does bits/2 update
    # ops and carries bits/2+1 aggregation-buffer longs instead of
    # bits (r20, guide §1.2 per-task work / §2.3 narrower partial-agg
    # rows through the exchange; quiet A/B: dedup_simhash vote stage
    # ~0.8x). Exact while n = count(*) < 2^31: the low (bit-j) field
    # alone would stay carry-free up to 2^32, but the high field
    # lives in a SIGNED long — n * 2^32 must stay below 2^63, and
    # the unpack's arithmetic `>> 32` reads a wrapped sign bit as a
    # negative count — so a doc would need >= 2.1e9 DISTINCT
    # shingles (tens of GB of text), beyond any real document. The
    # unpacked per-bit counts (low = s & (2^32-1), high = s >> 32) are
    # bit-identical to the old one-column-per-bit sums, pinned by
    # tests/test_suite.py::test_simhash_packed_votes_bit_identical.
    # The shared count(*) completes the threshold: the ±1 vote sum
    # equals 2*ones - n, so "votes >= 0" is "2*ones >= n" —
    # bit-identical to the CASE-WHEN ±1 form (r9 A/B note retained:
    # branchless sums beat 64 conditional ones in codegen ~20%).
    # pairing requires an even split with a >=32-bit low field (a
    # 16-bit field would overflow at 65536 shingles — a perfectly
    # ordinary document); bits != 64 callers keep per-bit sums
    if bits == 64:
        half = bits // 2
        pair_mask = (1 << half) | 1
        aggs = [F.sum(F.expr(f"(h >> {j}) & {pair_mask}")).alias(f"p{j}")
                for j in range(half)]
        low_mask = (1 << half) - 1

        def _ones(j: int) -> F.Column:
            if j < half:
                return F.expr(f"p{j} & {low_mask}")
            return F.expr(f"p{j - half} >> {half}")
    else:
        aggs = [F.sum(F.expr(f"(h >> {j}) & 1")).alias(f"v{j}")
                for j in range(bits)]

        def _ones(j: int) -> F.Column:
            return F.col(f"v{j}")

    votes = sh.groupBy("id").agg(F.count("*").alias("_n"), *aggs)

    fp = None
    for j in range(bits):
        # bit 63 of a signed bigint is -2^63, not 1<<63 (overflow);
        # OR-ing distinct bit values never overflows
        bitval = -(1 << 63) if j == 63 else (1 << j)
        term = F.when(2 * _ones(j) >= F.col("_n"),
                      F.lit(bitval).cast("bigint")) \
                .otherwise(F.lit(0).cast("bigint"))
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select("id", fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 64,
                       bands: int = 4, max_hamming: int = 3,
                       portable: bool = True,
                       collapse_identical: bool = False,
                       cache_fp: bool = False) -> DataFrame:
    """Hamming-near SimHash pairs via banded buckets: split the
    fingerprint into ``bands`` segments; any pair within
    ``max_hamming < bands`` distance must agree on >=1 full segment
    (pigeonhole), so bucket-join on segments then verify exactly with
    bit_count(xor). At the 64-bit default each band segment is 16
    bits -> 65,536 bucket values per band, which keeps the bucket
    self-join sparse at corpus scale.

    ``collapse_identical`` is the boilerplate guard (same class of
    100 TB failure as LSH's ``max_bucket_size``): B docs with the
    IDENTICAL fingerprint — exact copies, templated pages — would
    emit B(B-1)/2 hamming-0 pairs through every band's bucket join,
    and AQE cannot split output-side blow-up. Collapsed mode runs the
    quadratic banded join over DISTINCT fingerprints only (one
    representative = min id per fingerprint) and emits linear star
    edges (rep -> member, hamming 0) for the identical groups. The
    candidate graph's connected components are unchanged: an
    identical-fingerprint group is a clique spanned exactly by its
    star, and any cross-group near-pair is represented by its
    rep-to-rep edge.

    ``cache_fp`` persists the (id, simhash) relation: collapsed mode
    consumes it in the group aggregate AND the star join, and the
    64-column vote aggregate behind it is the plan's most expensive
    stage — without the persist Catalyst executes it once per branch.
    One 16-byte row per doc; released via ``release_caches()``."""
    seg_bits = bits // bands
    sh = simhash(docs, text_col, id_col, bits, portable=portable)
    if cache_fp:
        from pyspark import StorageLevel
        sh = _track(sh.persist(StorageLevel.MEMORY_AND_DISK))
    star = None
    if collapse_identical:
        groups = sh.groupBy("simhash").agg(F.min("id").alias("rep"))
        star = (
            sh.join(groups, "simhash")
            .filter(F.col("id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"),
                    F.lit(0).cast("integer").alias("hamming"))
        )
        sh = groups.select(F.col("rep").alias("id"), "simhash")
    segs = sh.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("seg"),
                     F.shiftright(F.col("simhash"), i * seg_bits)
                     .bitwiseAND(F.lit((1 << seg_bits) - 1)).alias("segval"))
            for i in range(bands)
        ])).alias("s"),
    ).select("id", "simhash", "s.seg", "s.segval")
    a, b = segs.alias("a"), segs.alias("b")
    pairs = (
        a.join(b, (F.col("a.seg") == F.col("b.seg"))
               & (F.col("a.segval") == F.col("b.segval"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .distinct()
    )
    near = pairs.filter(F.col("hamming") <= max_hamming)
    return near if star is None else near.unionByName(star)


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    para_words: int = 8) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet/Gopher-style pass that
    removes boilerplate repeated ACROSS documents, which doc-level
    dedup cannot see): split each doc into word-aligned segments of
    ``para_words`` words, keep only the globally FIRST occurrence of
    each distinct segment (ordered by (doc id, position)), and
    reassemble. Returns (doc_id, n_paras, n_kept, text_dedup) for
    every input doc — fully-duplicated docs survive with n_kept = 0
    and empty text.

    First-occurrence is an aggregate ``min(struct(id, pos))`` per
    segment plus a join back — NOT a window over the segment
    partition: a boilerplate segment repeated across millions of docs
    would buffer all its rows in one window task, while the aggregate
    collapses map-side. Reassembly sorts each doc's surviving
    segments by position inside one array aggregate."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("w"))
    paras = toks.select(
        "id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0),
                       F.greatest(F.size("w") - 1, F.lit(0)),
                       F.lit(para_words)),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, para_words)),
        )).alias("pos", "para"))
    first = paras.groupBy("para").agg(
        F.min(F.struct("id", "pos")).alias("first"))
    kept = (
        paras.join(first, "para")
        .filter((F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos")))
        .groupBy("id")
        .agg(F.count("*").alias("n_kept"),
             F.concat_ws(" ", F.transform(
                 F.array_sort(F.collect_list(F.struct("pos", "para"))),
                 lambda s: s["para"])).alias("text_dedup"))
    )
    totals = paras.groupBy("id").agg(F.count("*").alias("n_paras"))
    return (
        totals.join(kept, "id", "left")
        .select(F.col("id").alias(id_col), "n_paras",
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("text_dedup", F.lit("")).alias("text_dedup"))
    )


def verify_pairs_jaccard(docs: DataFrame, pairs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         shingle_words: int = 3, threshold: float = 0.5,
                         portable: bool = True,
                         cache_sets: bool = True) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE pairs — the verify step
    between any candidate generator (MinHash-LSH, SimHash bands,
    prefix filter) and downstream clustering: LSH bands admit false
    positives by design, and clustering over unverified candidates
    glues unrelated docs into one component.

    Cost shape at scale: the shingle-set aggregate is one shuffle of
    the corpus, the pair join touches only |candidates| rows — never
    the all-pairs blow-up the candidate stage exists to avoid.

    The shingle stream arrives NON-distinct (r19): ``collect_set``
    dedups inside the one aggregate anyway, and the distinct size is
    ``size(hs)`` — the former ``distinct=True`` + ``count(*)`` form
    paid a second full exchange of the corpus-sized shingle stream
    for information the set already carries."""
    from pyspark import StorageLevel

    sh = _shingle_hashes(docs, text_col, id_col, shingle_words,
                         distinct=False, portable=portable)
    sets = (sh.groupBy("id").agg(F.collect_set("h").alias("hs"))
            .select("id", "hs", F.size("hs").alias("n")))
    if cache_sets:
        # both join sides consume the aggregate and Catalyst does not
        # reuse the exchange between them (the prefix-Jaccard lesson);
        # bounded at one row per doc, so MEMORY_AND_DISK is safe
        sets = _track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    return (
        pairs.join(sa, pairs["id_a"] == F.col("sa.id"))
        .join(sb, pairs["id_b"] == F.col("sb.id"))
        .select("id_a", "id_b",
                (inter.cast("double")
                 / (F.col("sa.n") + F.col("sb.n") - inter).cast("double")
                 ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (id, cluster_id) where cluster_id = min id in the component — the
    step that turns pairwise candidates (LSH/SimHash/Jaccard output)
    into dedup groups with one canonical survivor each.

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; converges in
    O(graph diameter) rounds (dup clusters are tiny — diameter is
    single digits). ``localCheckpoint`` truncates the growing lineage
    so round N's plan doesn't replay rounds 1..N-1. The driver loop
    only checks a scalar per round — the data never leaves the
    cluster.

    Two r19 shuffle cuts, exact at any scale:
    - ROUND 1 IS AN AGGREGATE, not a join: with identity labels,
      a neighbor's label IS its id, so min(self, neighbors) is one
      groupBy over the symmetric edge list — the edges-with-labels
      join (and the separate distinct-nodes init shuffle it fed)
      only becomes necessary from round 2 on. Pair-shaped dup
      clusters (the overwhelming case) therefore converge with ONE
      joined round instead of two.
    - Each remaining round is union + ONE aggregate (own labels
      unioned with neighbor labels, min per node) instead of
      join -> aggregate -> join-back: one exchange fewer per round,
      and the convergence flag falls out of the same aggregate
      (old label = the own-branch min) rather than a join back to
      the previous labels.
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.distinct().localCheckpoint()
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_nmin"))
        .select("id", F.least(F.col("id"), F.col("_nmin")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter - 1):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(edges["src"].alias("id"), F.col("label"),
                    F.lit(False).alias("own"))
        )
        new_labels = (
            labels.withColumn("own", F.lit(True)).unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"),
                 F.min(F.when(F.col("own"), F.col("label"))).alias("_old"))
            .select("id", "label",
                    (F.col("label") < F.col("_old")).alias("chg"))
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def jaccard_pairs_prefix(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", shingle_words: int = 3,
                         threshold: float = 0.5,
                         cache_shingles: bool = False) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via prefix filtering
    (the PPJoin/AllPairs candidate pruning of Bayardo et al., WWW'07 —
    public algorithm): order each doc's shingles by a global total
    order (document frequency asc, hash), index only the first
    n - ceil(t*n) + 1 of them; any pair with Jaccard >= t MUST share
    an indexed prefix shingle, so the candidate join touches a small
    fraction of the inverted index. Candidates are then verified
    exactly with array_intersect on the full (distinct) shingle sets.

    Same results as ``jaccard_pairs``; at corpus scale the prefix
    index replaces the full-index self-join — the pair blow-up on
    frequent shingles (the skew that hurts most at 100 TB) is capped
    because frequent shingles sort LAST and rarely enter a prefix.

    ``cache_shingles`` persists BOTH shared intermediates: the raw
    shingle stream (consumed by the frequency count and the set
    aggregate) and, more importantly, the per-doc sorted-array
    relation ``sets`` itself — it has THREE consumers (prefix explode
    + both verify sides), and Catalyst does not reuse the exchange
    across them (they canonicalize differently after pruning), so
    without the persist the heaviest aggregate in the plan executes
    three times (measured ~3x wall-clock at sf0.1). MEMORY_AND_DISK:
    one row per doc (sorted hash array), far smaller than the corpus,
    and spilling beats recomputing at scale.

    Physical shape: ONE per-doc aggregate builds the (df, h)-sorted
    shingle array; the prefix is an array slice of it (no windows —
    the earlier two-window formulation paid an extra sort+exchange
    over the doc key and a second groupBy for the verify sets), and
    the verify step reuses the same array relation on both sides of
    the candidate join.
    """
    from pyspark import StorageLevel

    sh = _shingle_hashes(docs, text_col, id_col, shingle_words)
    if cache_shingles:
        sh = _track(sh.cache())
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    sets = (
        sh.join(freq, "h")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("arr"),
             F.count("*").alias("n"))
        .withColumn("hs", F.transform("arr", lambda s: s["h"]))
    )
    if cache_shingles:
        sets = _track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    prefix_len = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1) \
        .cast("int")
    prefix = sets.select(
        "id", F.explode(F.slice(F.transform("arr", lambda s: s["h"]),
                                F.lit(1), prefix_len)).alias("h"))
    cand = (
        prefix.alias("a").join(prefix.alias("b"),
                               (F.col("a.h") == F.col("b.h"))
                               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    return (
        cand.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b",
                (inter.cast("double")
                 / (F.col("sa.n") + F.col("sb.n") - inter).cast("double")
                 ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_words: int = 3,
                  threshold: float = 0.5,
                  cache_shingles: bool = False,
                  portable: bool = True) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold:
    (id_a, id_b, jaccard). Inverted-index self-join on shingle hash;
    |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|. See
    ``jaccard_pairs_prefix`` for the prefix-filtered scale path.

    ``cache_shingles`` persists the shingle stream, which three
    consumers share (both self-join sides + the size aggregate) —
    measured 2x at sf0.1. At true corpus scale prefer recompute (the
    stream can exceed cluster memory) or persist to disk explicitly."""
    sh = _shingle_hashes(docs, text_col, id_col, shingle_words,
                         portable=portable)
    if cache_shingles:
        sh = _track(sh.cache())
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    if cache_shingles:
        # both denominator joins (sa/sb) broadcast this aggregate and
        # Catalyst builds it per branch; one row per doc, so the
        # persist is bounded and saves a full pass over the (cached)
        # shingle stream (r19 A/B)
        from pyspark import StorageLevel
        sizes = _track(sizes.persist(StorageLevel.MEMORY_AND_DISK))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a", "id_b",
            (F.col("n_inter").cast("double")
             / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")).cast("double")
             ).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def bloom_bitmap(keys: DataFrame, key_col: str = "h",
                 n_bits: int = 1 << 16, n_hashes: int = 3) -> DataFrame:
    """Bloom filter over a key relation, packed as 32-bit words:
    (word BIGINT, bits BIGINT) with word = position DIV 32.

    Built with one explode (``n_hashes`` rows per key) and one
    ``bit_or`` aggregate — map-side partial combine collapses each
    partition to at most ``n_bits/32`` rows before the shuffle, so
    the exchange is O(partitions x words), independent of key count.
    The result is kilobytes for millions of keys: it broadcasts where
    the exact key set cannot, which is the point — a contamination /
    blocklist probe at 100 TB becomes a broadcast-bitmap scan instead
    of a shuffle join against the key relation. No false negatives;
    false-positive rate ~ (1-exp(-kn/m))^k, the standard bound.

    Probe positions use the portable md5-derived 32-bit hash with a
    per-probe salt prefix, so any ANSI engine reproduces the filter
    bit-for-bit (the differential-testing contract; reference analog:
    the reference has no sketch structures — this extends the
    pipeline surface). Words are 32-bit so the set bit (1 << pos%32)
    stays positive in a signed 64-bit lane on every engine."""
    probes = F.array(*[
        F.pmod(hash32(F.concat(F.lit(f"b{i}:"),
                               F.col(key_col).cast("string"))),
               F.lit(n_bits))
        for i in range(n_hashes)])
    pos = keys.select(F.explode(probes).alias("pos"))
    return (
        pos.select(
            F.expr("pos DIV 32").alias("word"),
            # shiftleft via expr: the Python wrapper takes only a
            # literal bit count, the SQL function takes a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            .alias("b"))
        .groupBy("word").agg(F.bit_or("b").alias("bits"))
    )


def bloom_probe(items: DataFrame, bloom: DataFrame, key_col: str = "h",
                n_bits: int = 1 << 16, n_hashes: int = 3) -> DataFrame:
    """Rows of ``items`` whose ``key_col`` hits ALL ``n_hashes``
    positions of ``bloom`` (possible false positives, never false
    negatives). ``items`` may carry any extra columns; they pass
    through.

    Plan shape: one broadcast LEFT join per probe on the word index
    (the bitmap is <= n_bits/32 rows — always broadcastable by
    construction), then a conjunction filter. All n_hashes joins are
    map-side broadcast hash joins inside one codegen stage: the probe
    adds ZERO shuffles to the items relation (the earlier explode +
    count-hits formulation re-aggregated every probed row on the
    items' grain — a corpus-sized shuffle the join form doesn't
    need). A probe whose word is absent or whose bit is unset is a
    miss; a key survives iff every probe hits.

    The probe's temp columns use a ``__bloom_`` prefix and are
    asserted absent from ``items`` up front — a silent name collision
    would shadow a user column and produce wrong survivors."""
    cols = [c for c in items.columns]
    clash = [c for c in cols if c.startswith("__bloom_")]
    if clash:
        raise ValueError(
            f"bloom_probe: items columns collide with probe temps: {clash}")
    out = items
    keep = None
    for i in range(n_hashes):
        pos = F.pmod(hash32(F.concat(F.lit(f"b{i}:"),
                                     F.col(key_col).cast("string"))),
                     F.lit(n_bits))
        out = (
            out.withColumn(f"__bloom_p{i}", pos)
            .withColumn(f"__bloom_w{i}", F.expr(f"__bloom_p{i} DIV 32"))
            .join(F.broadcast(bloom.select(
                      F.col("word").alias(f"__bloom_w{i}"),
                      F.col("bits").alias(f"__bloom_b{i}"))),
                  f"__bloom_w{i}", "left"))
        hit = F.expr(f"shiftright(COALESCE(__bloom_b{i}, CAST(0 AS BIGINT)),"
                     f" CAST(__bloom_p{i} % 32 AS INT)) % 2 = 1")
        keep = hit if keep is None else (keep & hit)
    return out.filter(keep).select(*cols)
