"""Skew soak: hot-key inputs at test scale, asserting the PLAN SHAPE
that prevents stragglers at 100 TB — work spread across shuffle
partitions instead of concentrating in one task.

Partition row volume is the local-mode proxy for task wall-time (the
UI/task-metric API is disabled in the session): a task's time is
~proportional to its input+output volume for these join shapes, so
the straggler rule of thumb — no task > 4x the median — maps to
max/median rows per non-empty partition.

Fixtures follow the soak spec: one key holding >= 30% of all fact
rows (salted join), and a boilerplate shingle block shared by 10% of
documents (MinHash LSH).
"""

from __future__ import annotations

import contextlib

import pytest

from pyspark.sql import functions as F

from linz_bde_uploader_spark.operators.dedup import (
    lsh_band_hashes, lsh_candidate_pairs,
)
from linz_bde_uploader_spark.operators.skew import salted_join

# heavy module: excluded from the inner-loop run (pytest.ini, -m "not slow")
pytestmark = pytest.mark.slow


@contextlib.contextmanager
def set_confs(spark, conf: dict):
    old = {}
    for k in conf:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _partition_rows(df) -> list[int]:
    rows = (df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").count().collect())
    return sorted(r["count"] for r in rows)


def _max_over_median(counts: list[int]) -> float:
    nonempty = [c for c in counts if c > 0]
    med = nonempty[len(nonempty) // 2]
    return max(nonempty) / med


HOT_KEY = 7
N_FACT = 60_000


def _hot_fact(spark):
    # 50% of rows on one key (>= the 30% soak bar), rest uniform
    return spark.range(N_FACT).select(
        F.when(F.col("id") % 2 == 0, HOT_KEY)
        .otherwise(F.pmod(F.col("id"), 1000) + 1000).alias("k"),
        F.col("id").alias("fact_id"))


def _dim(spark):
    return spark.range(2200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("d"), "id").alias("dim_val"))


def test_salted_join_soak_no_straggler_partition(spark):
    """With AQE off (raw hash partitioning, nothing rescues skew at
    runtime) the plain shuffle join concentrates the hot key's half
    of the data in one partition; the salted rewrite spreads it to
    within 4x of the median — same rows, no straggler."""
    with set_confs(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "32",
    }):
        fact, dim = _hot_fact(spark), _dim(spark)
        plain = fact.join(dim, "k")
        plain_counts = _partition_rows(plain)
        # fixture sanity: unsalted DOES concentrate >= 30% in one task
        assert max(plain_counts) >= 0.3 * N_FACT
        salted = salted_join(fact, dim, "k", n_salts=64)
        assert salted.count() == plain.count()
        ratio = _max_over_median(_partition_rows(salted))
        assert ratio <= 4.0, f"straggler partition: max/median {ratio:.2f}"


def test_salted_join_left_outer_soak_preserves_rows(spark):
    """left_outer under the same hot-key fixture, with a dim that
    covers only part of the fact keys — the delicate property is row
    preservation (operators/skew.py: every skewed row carries exactly
    ONE salt, so an unmatched row appears exactly once with nulls,
    never n_salts times and never zero times), on top of the same
    no-straggler spread bound as inner."""
    with set_confs(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "32",
    }):
        fact = _hot_fact(spark)
        dim = _dim(spark).filter(F.col("k") < 1500)  # 1500..1999 unmatched
        plain = fact.join(dim, "k", "left_outer")
        salted = salted_join(fact, dim, "k", n_salts=64, how="left_outer")
        # dim keys unique -> left_outer preserves exactly the fact rows
        assert salted.count() == plain.count() == N_FACT
        assert (salted.filter(F.col("dim_val").isNull()).count()
                == plain.filter(F.col("dim_val").isNull()).count() > 0)
        ratio = _max_over_median(_partition_rows(salted))
        assert ratio <= 4.0, f"straggler partition: max/median {ratio:.2f}"


def _soak_docs(spark, n_docs: int = 2000, pct_boiler: float = 0.10):
    """10% of docs are an identical boilerplate block; the rest are
    unique 12-word texts (no cross-doc shingle collisions)."""
    boiler = "terms of service apply to all content on this site inc"
    n_b = int(n_docs * pct_boiler)
    rows = [(i, boiler if i < n_b else
             f"unique doc {i} alpha {i * 7} beta {i * 13} gamma "
             f"{i * 31} delta {i * 57} epsilon end")
            for i in range(n_docs)]
    return spark.createDataFrame(rows, ["doc_id", "text"]), n_b


def test_lsh_boilerplate_candidates_bounded(spark):
    """The candidate blow-up on a boilerplate bucket is bounded by the
    real duplicate group — C(n_boiler, 2) pairs, never corpus^2."""
    docs, n_b = _soak_docs(spark)
    pairs = lsh_candidate_pairs(docs, num_perm=16, bands=4,
                                max_bucket_size=None)
    n = pairs.count()
    exact = n_b * (n_b - 1) // 2
    assert exact <= n <= int(exact * 1.05), (n, exact)


def test_lsh_hot_bucket_aqe_cannot_split_output_blowup(spark):
    """Documents the finding that motivates the bucket cap: AQE's
    skew-join splitting reads the join's INPUT partition bytes, and a
    boilerplate bucket's quadratic OUTPUT blow-up comes from a tiny
    input (200 band rows ~ 10KB) — so even with the skew thresholds
    forced far below the hot bucket's input size, one task still
    computes an entire C(200,2) bucket. AQE is the wrong tool here;
    the mitigation is ``max_bucket_size`` (next test)."""
    docs, n_b = _soak_docs(spark)
    bh = lsh_band_hashes(docs, num_perm=16, bands=4)
    a, b = bh.alias("a"), bh.alias("b")
    joined = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    bucket_pairs = n_b * (n_b - 1) // 2  # one band's hot-bucket output
    with set_confs(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }):
        max_rows = max(_partition_rows(joined))
    assert max_rows >= bucket_pairs, \
        f"expected an unsplit hot bucket; max partition {max_rows}"


def test_lsh_bucket_cap_linearizes_boilerplate(spark):
    """``max_bucket_size`` is the guard AQE cannot be: the hot bucket
    emits star edges (hub -> member, linear) instead of all pairs
    (quadratic), no task computes a quadratic bucket, and the
    connected-components clusters are IDENTICAL — a bucket is a
    clique, and a star spans a clique's component exactly."""
    from linz_bde_uploader_spark.operators.dedup import (
        duplicate_clusters, lsh_candidate_pairs,
    )

    docs, n_b = _soak_docs(spark)
    capped = lsh_candidate_pairs(docs, num_perm=16, bands=4,
                                 max_bucket_size=16)
    n_capped = capped.count()
    assert n_capped == n_b - 1, (n_capped, n_b - 1)  # linear, not C(n,2)
    # no task carries more than the star's row count
    assert max(_partition_rows(capped)) <= n_b
    uncapped = lsh_candidate_pairs(docs, num_perm=16, bands=4,
                                   max_bucket_size=None)
    c_capped = {(r["id"], r["cluster_id"])
                for r in duplicate_clusters(capped).collect()}
    c_uncapped = {(r["id"], r["cluster_id"])
                  for r in duplicate_clusters(uncapped).collect()}
    assert c_capped == c_uncapped


def test_embedding_collapse_linearizes_identical_vectors(spark):
    """collapse_identical on embedding_near_pairs: an exact-copy
    vector group (10% of the corpus) emits n-1 star edges at cosine
    1.0 instead of C(n,2) bucket-join pairs; components unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.dedup import duplicate_clusters
    from linz_bde_uploader_spark.operators.similarity import (
        embedding_near_pairs,
    )

    rng = np.random.RandomState(7)
    shared = [float(x) for x in rng.randn(64)]
    rows = [(i, shared if i % 10 == 0 else
             [float(x) for x in rng.randn(64)]) for i in range(500)]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    n_b = 50
    collapsed = embedding_near_pairs(emb, threshold=0.4,
                                     collapse_identical=True,
                                     max_bucket_size=None)
    full = embedding_near_pairs(emb, threshold=0.4, max_bucket_size=None)
    n_c, n_f = collapsed.count(), full.count()
    quad = n_b * (n_b - 1) // 2
    assert n_f >= quad
    assert n_c <= n_f - quad + n_b
    assert collapsed.filter(F.col("cosine_sim") == 1.0).count() >= n_b - 1
    c_a = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(collapsed.select("id_a", "id_b")).collect()}
    c_b = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(full.select("id_a", "id_b")).collect()}
    assert c_a == c_b


def test_capped_candidates_through_survivorship_pipeline(spark):
    """The production composition: capped LSH candidates -> exact
    Jaccard verify -> components must produce the SAME drop list as
    the all-pairs path on the boilerplate corpus. The star's
    member-vs-hub verification is sufficient because boilerplate
    members are near-identical to the hub (Jaccard 1.0 here), so
    every star edge survives verification and the clusters match."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.dedup import (
        duplicate_clusters, lsh_candidate_pairs, verify_pairs_jaccard,
    )

    docs, _ = _soak_docs(spark)

    def drop_list(pairs):
        verified = verify_pairs_jaccard(docs, pairs, shingle_words=3,
                                        threshold=0.5)
        clusters = duplicate_clusters(verified.select("id_a", "id_b"))
        return {(r["id"], r["cluster_id"]) for r in
                clusters.filter(F.col("id") != F.col("cluster_id")).collect()}

    capped = drop_list(lsh_candidate_pairs(docs, num_perm=16, bands=4,
                                           max_bucket_size=16))
    full = drop_list(lsh_candidate_pairs(docs, num_perm=16, bands=4,
                                         max_bucket_size=None))
    assert capped == full and capped


def test_simhash_collapse_linearizes_identical_fingerprints(spark):
    """collapse_identical: the boilerplate docs' identical fingerprint
    group emits n-1 star edges instead of C(n,2) hamming-0 pairs, and
    the candidate graph's connected components are unchanged."""
    from linz_bde_uploader_spark.operators.dedup import (
        duplicate_clusters, simhash_near_pairs,
    )

    docs, n_b = _soak_docs(spark)
    collapsed = simhash_near_pairs(docs, bits=64, bands=4, max_hamming=3,
                                   collapse_identical=True)
    full = simhash_near_pairs(docs, bits=64, bands=4, max_hamming=3)
    n_collapsed, n_full = collapsed.count(), full.count()
    # the full form pays the quadratic group; the collapsed form is
    # linear in it (plus whatever cross-fingerprint near-pairs exist)
    quad = n_b * (n_b - 1) // 2
    assert n_full >= quad
    assert n_collapsed <= n_full - quad + n_b
    c_a = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(collapsed.select("id_a", "id_b")).collect()}
    c_b = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(full.select("id_a", "id_b")).collect()}
    assert c_a == c_b


def test_grouped_topk_equals_single_window(spark):
    """Two-phase grouped_topk returns exactly the rows of the
    one-window form on a skewed fixture (one group holding 90% of
    rows, duplicate order values broken by the unique id), for
    several k and salt counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.functions.hashing import hash32
    from linz_bde_uploader_spark.operators.topk import grouped_topk

    rows = [(i, "hot" if i % 10 else f"g{i % 7}", (i * 37) % 50)
            for i in range(5000)]
    df = spark.createDataFrame(rows, ["id", "grp", "score"])
    order = [F.col("score").desc(), F.col("id")]
    w = Window.partitionBy("grp").orderBy(*order)
    for k in (1, 5, 40):
        for n_salts in (2, 32):
            got = {tuple(r) for r in grouped_topk(
                df, ["grp"], order, k, hash32(F.col("id").cast("string")),
                n_salts=n_salts).select("grp", "rank", "id").collect()}
            want = {tuple(r) for r in
                    df.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("grp", "rank", "id").collect()}
            assert got == want, (k, n_salts)


def test_embedding_cap_bounds_densified_bucket(spark):
    """max_bucket_size on embedding_near_pairs: a DENSIFIED region —
    near- but not-identical vectors, the case collapse_identical
    cannot touch (measured superlinear in the r14 scale soak: 90x
    output pairs at 10x data) — emits linear star edges instead of
    C(n,2) bucket-join pairs; components of the dense region are
    unchanged because its members are mutually near the hub."""
    import numpy as np
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators.dedup import duplicate_clusters
    from linz_bde_uploader_spark.operators.similarity import (
        embedding_near_pairs,
    )

    rng = np.random.RandomState(11)
    hub = rng.randn(64)
    rows = []
    for i in range(500):
        if i % 10 == 0:  # dense region: 50 distinct near-duplicates
            v = hub + 0.01 * rng.randn(64)
        else:
            v = rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    n_dense = 50
    capped = embedding_near_pairs(emb, threshold=0.4,
                                  max_bucket_size=30)
    full = embedding_near_pairs(emb, threshold=0.4, max_bucket_size=None)
    n_c, n_f = capped.count(), full.count()
    quad = n_dense * (n_dense - 1) // 2
    assert n_f >= quad  # the uncapped join really is quadratic here
    assert n_c <= n_f - quad + n_dense  # cap removed the blow-up
    # all 50 dense members are distinct vectors — identical-collapse
    # would have changed nothing
    assert emb.select("embedding").distinct().count() == 500
    # star edges are REAL thresholded pairs (hub-vs-member cosine),
    # so the capped output is a subset of the exact pair set — the
    # cap drops non-hub-adjacent pairs in over-cap buckets (the
    # documented trade), it never invents pairs
    p_c = {(r.id_a, r.id_b) for r in capped.select("id_a", "id_b").collect()}
    p_f = {(r.id_a, r.id_b) for r in full.select("id_a", "id_b").collect()}
    assert p_c <= p_f
    # and the dense region's drop list is unchanged: its members are
    # mutually near the hub, so the star spans exactly its component
    c_a = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(capped.select("id_a", "id_b")).collect()
           if r["id"] % 10 == 0}
    c_b = {(r["id"], r["cluster_id"]) for r in
           duplicate_clusters(full.select("id_a", "id_b")).collect()
           if r["id"] % 10 == 0}
    assert c_a == c_b and len(c_a) == n_dense
    # cap composes with a huge bound: results identical to uncapped
    loose = embedding_near_pairs(emb, threshold=0.4,
                                 max_bucket_size=10_000)
    assert sorted(map(tuple, loose.collect())) \
        == sorted(map(tuple, full.collect()))
    # cache_buckets is a pure plan knob: identical results
    from linz_bde_uploader_spark.cache import release_caches
    cached = embedding_near_pairs(emb, threshold=0.4,
                                  max_bucket_size=30,
                                  cache_buckets=True)
    assert sorted(map(tuple, cached.collect())) \
        == sorted(map(tuple, capped.collect()))
    release_caches()
    # unsupported combination fails loudly
    import pytest
    with pytest.raises(ValueError, match="n_probes"):
        embedding_near_pairs(emb, threshold=0.4, n_probes=2,
                             max_bucket_size=8)


def test_densification_cap_is_default_on(spark):
    """r16 verdict: the operator DEFAULT must be the bounded form —
    a default-path caller at 100 TB must not inherit the measured
    quadratic blow-up (density_cap_soak 16.8-22x wall at 10x data).
    Exact all-pairs is explicit opt-in (max_bucket_size=None); the
    two queries() A/B controls opt out by argument. Multi-probe —
    the one mode the cap cannot compose with — resolves the default
    to uncapped instead of raising; only an EXPLICIT cap plus
    n_probes > 1 is an error (pinned above)."""
    from linz_bde_uploader_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_SIZE, lsh_candidate_pairs,
    )
    from linz_bde_uploader_spark.operators.similarity import (
        embedding_near_pairs,
    )

    # text LSH: 200-doc boilerplate bucket >> the 40 default
    docs, n_b = _soak_docs(spark)
    assert n_b > DEFAULT_MAX_BUCKET_SIZE
    default_pairs = lsh_candidate_pairs(docs, num_perm=16, bands=4)
    explicit = lsh_candidate_pairs(
        docs, num_perm=16, bands=4,
        max_bucket_size=DEFAULT_MAX_BUCKET_SIZE)
    assert default_pairs.count() == n_b - 1  # star edges, not C(n,2)
    assert sorted(map(tuple, default_pairs.collect())) \
        == sorted(map(tuple, explicit.collect()))

    # embedding buckets: 50 near-identical vectors >> the 40 default
    import numpy as np

    rng = np.random.RandomState(5)
    hub = rng.randn(64)
    rows = []
    for i in range(300):
        if i % 6 == 0:  # 50 dense members (distinct, mutually near)
            v = hub + 0.01 * rng.randn(64)
        else:
            v = rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    n_default = embedding_near_pairs(emb, threshold=0.4).count()
    n_full = embedding_near_pairs(emb, threshold=0.4,
                                  max_bucket_size=None).count()
    quad = 50 * 49 // 2
    assert n_full >= quad  # opt-out really is the all-pairs form
    assert n_default <= n_full - quad + 50  # default removed the blow-up
    # default + multiprobe: no raise, resolves to the uncapped form —
    # but NOT silently (r17 advice): the recall knob dropping the
    # densification guard warns, so a default-path caller sees the
    # word "uncapped" before the quadratic join runs
    import warnings

    import pytest
    with pytest.warns(RuntimeWarning, match="UNCAPPED"):
        probed_default = embedding_near_pairs(emb, threshold=0.9,
                                              n_probes=2)
    probed_uncapped = embedding_near_pairs(emb, threshold=0.9,
                                           n_probes=2,
                                           max_bucket_size=None)
    assert sorted(map(tuple, probed_default.collect())) \
        == sorted(map(tuple, probed_uncapped.collect()))
    # the warning belongs to the DEFAULT resolution only: explicit
    # opt-out (the acknowledged form) and the capped default path
    # stay warning-free
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        embedding_near_pairs(emb, threshold=0.9, n_probes=2,
                             max_bucket_size=None)
        embedding_near_pairs(emb, threshold=0.4)
