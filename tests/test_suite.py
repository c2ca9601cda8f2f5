"""Differential tests: Spark suite vs DuckDB oracle at sf0.001 (fast
subset; scripts/check_oracle.py covers all queries at sf0.01)."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from linz_bde_uploader_spark.cache import release_caches
from linz_bde_uploader_spark.plans.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"

FAST_QUERIES = [
    "cdc_classify", "cdc_stats", "full_diff", "keyswap_repair",
    "tolerance_check", "event_duration", "q1_pricing_summary",
    "dedup_exact", "dedup_simhash", "text_token_stats", "text_lang_id",
    "sim_cosine_topk", "events_sessionize",
    "q4_order_priority", "q13_customer_distribution", "q15_top_supplier",
    "q22_no_order_customers", "events_rollup", "events_lag_delta",
    "text_unigram_logprob", "text_char_entropy", "docs_source_rebalance",
    "emb_outliers", "multimodal_features", "text_redact_pii",
    "docs_pack_sequences", "dedup_near_survivors",
    "docs_bloom_decontam", "docs_dup_spans", "events_window_agg",
    "docs_quality_margin", "docs_split_leakage_safe", "sim_recall_report",
    "q11_important_parts", "cdc_incremental_agg", "cdc_minmax_refresh",
    "docs_quality_deciles", "docs_dedup_report", "docs_epoch_plan",
    "sim_kmeans_centroids", "orders_salted_join", "emb_near_dedup", "text_paragraph_dedup",
    # new in r7
    "events_json_k_hist", "multimodal_audio_bands",
    "multimodal_motion_stats", "text_bpe_merges", "sim_knn_graph",
    "docs_datasheet", "events_cube", "events_except_intersect",
    "sim_ivf_index_query", "docs_drift_report",
    # new in r8
    "cdc_topk_refresh", "docs_shard_manifest",
    # new in r9
    "cdc_distinct_refresh", "docs_cross_source_overlap",
    "cdc_join_refresh", "docs_filter_funnel", "events_transition_matrix",
    "docs_dedup_ingest", "cdc_manifest_refresh",
    # rotated out of the driver top-50 in r12 (compensating coverage)
    "text_term_freq", "text_tfidf", "emb_quantize",
    # new in r12
    "dedup_best_survivors",
    # new in r13
    "events_hll_distinct", "events_kmv_distinct", "text_bigram_logprob",
    "cdc_hll_refresh", "docs_weighted_sample", "events_hll_overlap",
    "docs_sampled_percentiles", "events_window_hll",
    "events_kmv_jaccard", "text_cms_freq", "text_cms_heavy_hitters",
    "cdc_cms_refresh", "events_hll_rollup",
    # rotated out of the driver top-50 in r13 (compensating coverage;
    # dedup_simhash and q1_pricing_summary, also rotated out, were
    # already listed above)
    "dedup_clusters", "dedup_jaccard",
    # rotated out of the driver top-50 in r14 (compensating coverage)
    "events_sliding_agg", "events_value_winsorize", "q18_large_orders",
    "q3_shipping_priority", "q5_local_supplier", "q6_forecast_revenue",
    # rotated out of the driver top-50 in r15 (compensating coverage)
    "emb_norm_stats",
    # new in r15
    "emb_near_dedup_capped",
    # rotated out of the driver top-50 in r16 (compensating coverage;
    # text_redact_pii, also rotated out, was already listed above)
    "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_survivors",
    "docs_stratified_sample", "docs_topk_quality",
    "dedup_jaccard_prefix",
    # re-shaped in r16 (brand-filtered per-part average)
    "q17_small_quantity",
    # rotated out of the driver top-50 in r17 (compensating coverage;
    # dedup_exact, text_token_stats and sim_cosine_topk, also rotated
    # out, were already listed above)
    "active_jobs", "q8_market_share", "events_retention",
    # rotated out of the driver top-50 in r18 (compensating coverage;
    # tolerance_check and cdc_stats, also rotated out, were already
    # listed above)
    "string_agg_owners", "union_lock_candidates", "latest_dataset",
    "dataset_continuity",
    # rotated out of the driver top-50 in r19 (compensating coverage;
    # multimodal_audio_bands and events_rollup, also rotated out,
    # were already listed above)
    "multimodal_ahash_groups", "docs_hash_sample",
    "docs_budget_sample", "sim_lsh_topk",
    # stale r6 analytics/events cohort NOT rotated into the r19
    # driver gate (r18 verdict order #2: compensating coverage for
    # the eight that stayed below the 50-slot cutoff)
    "q7_volume_shipping", "q10_returned_items", "q12_ship_latency",
    "q14_promo_revenue", "q20_dominant_supplier",
    "events_running_total", "events_funnel", "events_pivot",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(rows, cols):
    import scripts.check_oracle as co
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(co.norm_value(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # start clean: an entry an earlier query left with the same plan
    # would absorb this query's persist and hide it from the count
    release_caches()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache_manager.numCachedEntries()
    sdf = qs[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    # every persist the query made is registered: the harnesses'
    # between-reps release leaves the CacheManager as it found it
    release_caches()
    assert cache_manager.numCachedEntries() == n_cached
    cur = duck.execute(oracles[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _norm(srows, sdf.columns) == _norm(drows, dcols)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "sum_qty" in df.columns


def test_dedup_finds_planted_duplicates(spark):
    """The augmented corpus plants exact dups (doc_id%50==0 -> +10000);
    exact, minhash-LSH and jaccard must all recover them."""
    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.plans.pipeline_suite import _dup_corpus
    base = _dup_corpus(spark, SF_DIR)
    planted = {(i, i + 10000) for (i,) in
               base.filter("doc_id < 10000 AND doc_id % 50 = 0")
               .select("doc_id").collect()}
    exact = D.exact_duplicates(base).filter("n_copies > 1")
    assert exact.count() == len(planted)
    lsh = {(r.id_a, r.id_b) for r in
           D.lsh_candidate_pairs(base, num_perm=16, bands=4,
                                 max_bucket_size=None).collect()}
    assert planted <= lsh
    jac = {(r.id_a, r.id_b) for r in
           D.jaccard_pairs(base, threshold=0.99).collect()}
    assert planted <= jac


def test_simhash64_near_pairs_match_brute_force(spark):
    """64-bit SimHash near-pairs must equal brute-force all-pairs
    hamming<=3 (banding with max_hamming < bands is pigeonhole-
    complete, and the bit_count verify is exact), and the
    fingerprints must genuinely populate the high 32 bits — the
    point of the 64-bit upgrade is 16-bit band segments (65,536
    bucket values per band instead of 256)."""
    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.plans.pipeline_suite import _dup_corpus
    base = _dup_corpus(spark, SF_DIR)
    fps = {r.id: r.simhash for r in D.simhash(base, bits=64).collect()}
    assert any((h >> 32) & 0xFFFFFFFF not in (0, 0xFFFFFFFF)
               for h in fps.values())
    ids = sorted(fps)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if ham <= 3:
                brute.add((a, b, ham))
    got = {(r.id_a, r.id_b, r.hamming) for r in
           D.simhash_near_pairs(base, bits=64, bands=4,
                                max_hamming=3).collect()}
    assert brute and got == brute  # planted exact dups are hamming-0


def test_simhash_packed_votes_bit_identical(spark):
    """(r20) The paired-bit packed vote aggregate (bits j and j+32
    share one 64-bit counter, low/high fields unpacked post-agg) must
    produce fingerprints bit-identical to the one-sum-per-bit form it
    replaced — same vote counts, same >= threshold, same OR-fold.
    Recomputed here inline the old way over the same shingle stream."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.plans.pipeline_suite import _dup_corpus
    base = _dup_corpus(spark, SF_DIR)
    got = {r.id: r.simhash for r in D.simhash(base, bits=64).collect()}
    sh = D._shingle_hashes(base, "text", "doc_id", 1, portable=True,
                           hash_bits=64)
    aggs = [F.sum(F.expr(f"(h >> {j}) & 1")).alias(f"v{j}")
            for j in range(64)]
    votes = sh.groupBy("id").agg(F.count("*").alias("_n"), *aggs)
    fp = None
    for j in range(64):
        bitval = -(1 << 63) if j == 63 else (1 << j)
        term = F.when(2 * F.col(f"v{j}") >= F.col("_n"),
                      F.lit(bitval).cast("bigint")) \
                .otherwise(F.lit(0).cast("bigint"))
        fp = term if fp is None else fp.bitwiseOR(term)
    want = {r.id: r.simhash for r in
            votes.select("id", fp.cast("bigint").alias("simhash"))
            .collect()}
    assert got == want and len(got) > 0


def test_simhash_packed_votes_exact_below_2_31(spark):
    """The packed vote sum is exact while a document has n < 2^31
    shingles. Evaluated on literal sums, not 2^31 rows: the per-row
    packed votes of hashes with bit 0, bit 32 or both set, summed n
    times, unpack to each bit's count at n = 2^31 - 1; at n = 2^31 the
    high field's sum passes 2^63, and the wrapped sum a signed long
    would hold unpacks to a negative count, so the bound is tight."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import dedup as D

    def unpack(s):
        r = spark.range(1).select(F.lit(s).cast("bigint").alias("p0")) \
            .select(F.expr(D._unpacked_ones(0)).alias("lo"),
                    F.expr(D._unpacked_ones(32)).alias("hi")).first()
        return r.lo, r.hi

    votes = spark.createDataFrame([(1,), (1 << 32,), (-1,)], "h long") \
        .select(F.expr(D._packed_vote(0)).alias("v")).collect()
    low, high, both = (r.v for r in votes)
    assert (low, high, both) == (1, 1 << 32, (1 << 32) | 1)
    n = (1 << 31) - 1
    for lo, hi in ((n, 0), (0, n), (n, n), (n - 1, n), (n, 1)):
        s = (lo - min(lo, hi)) * low + (hi - min(lo, hi)) * high \
            + min(lo, hi) * both
        assert s < 1 << 63
        assert unpack(s) == (lo, hi)
    s = (n + 1) * both
    assert s >= 1 << 63
    assert unpack(s - (1 << 64)) == (n + 1, -(n + 1))


def test_jaccard_prefix_filter_is_exact(spark):
    """The PPJoin-style prefix-filtered Jaccard must return EXACTLY
    the inverted-index results — prefix filtering prunes candidates,
    never answers."""
    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.plans.pipeline_suite import _dup_corpus
    corpus = _dup_corpus(spark, SF_DIR)
    full = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
            D.jaccard_pairs(corpus, shingle_words=3, threshold=0.3).collect()}
    pref = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
            D.jaccard_pairs_prefix(corpus, shingle_words=3,
                                   threshold=0.3).collect()}
    assert full and pref == full


def test_duplicate_clusters_known_graph(spark):
    """Min-label propagation over a path (1-2-3-4), a separate pair
    (10-11), and a pair bridged later (20-21, 21-3 links it to the
    path's component)."""
    from linz_bde_uploader_spark.operators.dedup import duplicate_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 3)],
        ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 20: 1, 21: 1, 10: 10, 11: 10}


def test_lsh_topk_recall(spark):
    """LSH-bucketed ANN should recover a decent fraction of the exact
    top-3 (sanity check on the bucketing, not a hard guarantee)."""
    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=3).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              S.lsh_bucketed_topk(emb, q, k=3, n_planes=2).collect()}
    assert len(exact & approx) / len(exact) >= 0.2


def test_ivf_topk_full_probe_is_exact(spark):
    """IVF with nprobe == n_centroids scans every inverted list, so it
    must reproduce the exact brute-force top-k; a partial probe
    (nprobe=2) should still keep reasonable recall."""
    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=3).collect()}
    full = {(r.query_id, r.neighbor_id) for r in
            S.ivf_topk(emb, q, k=3, n_centroids=4, nprobe=4).collect()}
    assert full == exact
    partial = {(r.query_id, r.neighbor_id) for r in
               S.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=2).collect()}
    assert len(exact & partial) / len(exact) >= 0.2


def test_kmeans_fit_matches_numpy_reference(spark):
    """Two Lloyd iterations of the DataFrame k-means must reproduce a
    straightforward numpy implementation of the same algorithm (seeded
    centroids = lowest vec_ids, cosine argmax with centroid-id
    tie-break, plain per-cluster means)."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    k, iters = 4, 2
    got = {r.cent_id: np.array(r.cv) for r in
           S.kmeans_fit(emb, n_centroids=k, iters=iters).collect()}

    rows = sorted((r.vec_id, np.array(r.embedding, dtype="float64"))
                  for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    X = np.stack([v for _, v in rows])
    cents = {i: X[ids == i][0] for i in range(k)}
    for _ in range(iters):
        cids = sorted(cents)
        C = np.stack([cents[c] for c in cids])
        sims = (X @ C.T) / (np.linalg.norm(X, axis=1, keepdims=True)
                            * np.linalg.norm(C, axis=1))
        assign = np.argmax(sims, axis=1)  # argmax takes first max -> lowest cent id
        cents = {cids[c]: X[assign == c].mean(axis=0)
                 for c in range(len(cids)) if (assign == c).any()}

    assert set(got) == set(cents)
    for c, v in cents.items():
        assert np.allclose(got[c], v, atol=1e-9), c


def test_kmeans_parallel_parity_with_spark_ml(spark):
    """k-means|| seeding + Lloyd (init='parallel') must land within
    25% of pyspark.ml's KMeans (cosine distance, its own k-means||
    init) on mean cosine-distance-to-nearest-centroid, over four
    well-separated direction blobs — the seed-quality bar for the
    production IVF path. The deterministic min-id seeding stays as
    the oracle path; this proves the scalable seeding is competitive
    with the reference library implementation."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import similarity as S

    rng = np.random.RandomState(0)
    dim, per = 16, 60
    rows = []
    for c in range(4):
        base = np.zeros(dim)
        base[c * 4:(c + 1) * 4] = 1.0
        for i in range(per):
            v = base + 0.15 * rng.randn(dim)
            rows.append((c * per + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")

    def mean_cos_dist(cent_df):
        c = F.broadcast(cent_df.select(F.col("cv").alias("_cv")))
        return (
            emb.crossJoin(c)
            .withColumn("_d", 1 - S.cosine(F.col("embedding"), F.col("_cv")))
            .groupBy("vec_id").agg(F.min("_d").alias("d"))
            .agg(F.avg("d")).collect()[0][0]
        )

    ours = S.kmeans_fit(emb, n_centroids=4, iters=3, init="parallel")
    cost_ours = mean_cos_dist(ours)

    feat = emb.select("vec_id", array_to_vector("embedding").alias("features"))
    model = KMeans(k=4, seed=1, distanceMeasure="cosine", maxIter=3) \
        .fit(feat)
    ml_cent = spark.createDataFrame(
        [([float(x) for x in c],) for c in model.clusterCenters()],
        "cv ARRAY<DOUBLE>")
    cost_ml = mean_cos_dist(ml_cent)
    assert cost_ours <= cost_ml * 1.25 + 1e-6, (cost_ours, cost_ml)


def test_kmeans_parallel_seeds_degenerate_returns_distinct(spark):
    """Fewer distinct directions than k: the greedy reclustering's
    score vector goes all-zero once every direction is covered —
    pre-fix np.argmax(0-vector) returned index 0 forever and the
    seed set contained duplicate centroids. Now chosen indices are
    masked and the loop breaks early, returning fewer but DISTINCT
    centers."""
    from linz_bde_uploader_spark.operators import similarity as S

    # 40 vectors but only 2 distinct directions
    rows = [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    got = S.kmeans_parallel_seeds(emb, n_centroids=4).collect()
    cvs = [tuple(r["cv"]) for r in got]
    assert len(cvs) == len(set(cvs))  # no duplicate centroids
    assert 1 <= len(cvs) <= 2  # cannot exceed distinct directions
    dirs = {tuple(1.0 if x > 0.5 else 0.0 for x in cv) for cv in cvs}
    assert dirs <= {(1.0, 0.0), (0.0, 1.0)}


def test_ivf_topk_with_trained_centroids(spark):
    """ivf_topk accepts kmeans_fit output; full probe over trained
    cells is still exact (partition completeness doesn't depend on
    centroid quality)."""
    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    cent = S.kmeans_fit(emb, n_centroids=4, iters=1)
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=3).collect()}
    full = {(r.query_id, r.neighbor_id) for r in
            S.ivf_topk(emb, q, k=3, nprobe=4, centroids=cent).collect()}
    assert full == exact


def test_fast_hash_path_equivalent(spark):
    """portable=False (xxhash64) must produce the same jaccard pairs
    and the same LSH candidates as the md5 oracle path — only the
    hash function changes, not the semantics."""
    from linz_bde_uploader_spark.operators import dedup as D
    from linz_bde_uploader_spark.plans.pipeline_suite import _dup_corpus
    base = _dup_corpus(spark, SF_DIR)
    slow = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
            D.jaccard_pairs(base, threshold=0.3).collect()}
    fast = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in
            D.jaccard_pairs(base, threshold=0.3, portable=False).collect()}
    assert slow == fast
    lsh_slow = {(r.id_a, r.id_b) for r in
                D.lsh_candidate_pairs(base, num_perm=16, bands=4,
                                      max_bucket_size=None).collect()}
    lsh_fast = {(r.id_a, r.id_b) for r in
                D.lsh_candidate_pairs(base, num_perm=16, bands=4,
                                      portable=False,
                                      max_bucket_size=None).collect()}
    # banding hashes differ, but both must recover the planted dups
    planted = {(i, i + 10000) for (i,) in
               base.filter("doc_id < 10000 AND doc_id % 50 = 0")
               .select("doc_id").collect()}
    assert planted <= lsh_slow and planted <= lsh_fast


def test_lsh_multiprobe_recall_vs_cost(spark):
    """Multi-probe LSH recall knob on a planted-neighbor fixture:
    each query has one near-identical planted neighbor (tiny noise),
    many of which land across a hyperplane boundary. n_probes=1 is
    the plain single-bucket probe and misses the boundary-crossers;
    n_probes=4 probes the smallest-margin flips and must recover
    strictly more planted neighbors at <= 4x probe cost, with
    n_probes=2^n_planes recovering them all (it scores every
    bucket)."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    dim, n_q = 16, 60
    corpus_rows, query_rows = [], []
    for i in range(n_q):
        v = rng.randn(dim)
        # planted neighbor: high cosine to the query, but the noise is
        # enough to flip small-margin hyperplane signs
        nb = v + 0.10 * rng.randn(dim)
        query_rows.append((i, [float(x) for x in v]))
        corpus_rows.append((1000 + i, [float(x) for x in nb]))
        # chaff: unrelated vectors
        for j in range(3):
            corpus_rows.append((2000 + 3 * i + j,
                                [float(x) for x in rng.randn(dim)]))
    corpus = spark.createDataFrame(corpus_rows,
                                   "vec_id INT, embedding ARRAY<DOUBLE>")
    queries = spark.createDataFrame(query_rows,
                                    "vec_id INT, embedding ARRAY<DOUBLE>")

    def recall_and_cost(n_probes):
        got = S.lsh_bucketed_topk(corpus, queries, k=1, n_planes=4,
                                  dim=dim, n_probes=n_probes).collect()
        hits = sum(1 for r in got
                   if r["neighbor_id"] == 1000 + r["query_id"])
        return hits / n_q

    r1 = recall_and_cost(1)
    r4 = recall_and_cost(4)
    r_all = recall_and_cost(16)
    assert r1 < 1.0         # fixture really plants boundary-crossers
    assert r4 > r1          # probing weakest flips recovers some
    assert r_all == 1.0     # probing every bucket recovers all
    assert r4 >= 0.8        # the knob is worth turning


def test_multiprobe_bucket_list_deterministic_and_distinct(spark):
    """The probe list starts with the vector's own bucket, contains no
    duplicates, and is a fixed function of the vector."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import similarity as S

    df = spark.range(50).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(*[F.hash(F.col("id") + i).cast("double") % 100
                  for i in range(8)]).alias("embedding"))
    probes = df.select(
        "vec_id",
        S.hyperplane_bucket(F.col("embedding"), 4, 8).alias("own"),
        S.multiprobe_buckets(F.col("embedding"), 4, 8, 4).alias("pl"))
    rows = probes.collect()
    again = {r["vec_id"]: r["pl"] for r in probes.collect()}
    for r in rows:
        assert r["pl"][0] == r["own"]
        assert len(set(r["pl"])) == len(r["pl"]) == 4
        assert all(0 <= b < 16 for b in r["pl"])
        assert again[r["vec_id"]] == r["pl"]


def test_pq_encode_and_adc_match_numpy(spark):
    """PQ plumbing exactness: (a) a vector that IS a codeword source
    encodes to its own code in every subspace (zero distance beats
    every other codeword); (b) the ADC distance of each (query, doc)
    pair equals a straightforward numpy recomputation — sum over
    subspaces of squared L2 between the query slice and the codeword
    of the doc's assigned code; (c) PQ top-3 keeps sane recall vs the
    exact scan (seed codebooks are crude — this is a sanity bar, not
    a quality claim)."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    m, n_codes, dim = 4, 8, 64
    d = dim // m
    cb = S.pq_seed_codebooks(emb, m, n_codes, dim=dim)
    codes = S.pq_encode(emb, cb, m, dim=dim)

    # (a) codeword sources self-encode
    own = {(r["id"], r["sub"]): r["code"] for r in
           codes.filter(f"id < {n_codes}").collect()}
    for (i, s), c in own.items():
        assert c == i, (i, s, c)

    # (b) ADC == numpy recomputation
    X = {r["vec_id"]: np.array(r["embedding"], dtype=float)
         for r in emb.collect()}
    CW = {(r["sub"], r["code_id"]): np.array(r["cw"], dtype=float)
          for r in cb.collect()}
    CODE = {(r["id"], r["sub"]): r["code"] for r in codes.collect()}
    q = emb.filter("vec_id < 3")
    got = S.pq_adc_topk(emb, q, k=3, m=m, n_codes=n_codes, dim=dim).collect()
    for r in got:
        expect = sum(
            round(float(np.sum((X[r["query_id"]][s * d:(s + 1) * d]
                                - CW[(s, CODE[(r["neighbor_id"], s)])]) ** 2)),
                  9)
            for s in range(m))
        assert abs(r["adc_dist"] - round(expect, 6)) < 1e-9, r

    # (c) recall sanity vs exact
    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id)
             for r in S.cosine_topk(emb, q, k=3).collect()}
    pq = {(r.query_id, r.neighbor_id)
          for r in S.pq_adc_topk(emb, q, k=3, m=m, n_codes=n_codes,
                                 dim=dim).collect()}
    assert len(exact & pq) / len(exact) >= 0.2


def test_semantic_dedup_matches_naive_member_level_rule(spark):
    """semantic_dedup's distinct-vector formulation must equal the
    naive member-level rule — b dropped iff some a < b in the same
    cell has cos(a,b) >= tau — computed directly in numpy over every
    member pair, on a corpus with planted identical copies (every 7th
    vector = vec 0's embedding) so the identical-group shortcut is
    actually load-bearing."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings").filter("vec_id < 80")
    v0 = F.broadcast(emb.filter(F.col("vec_id") == 0)
                     .select(F.col("embedding").alias("_v0")))
    corpus = emb.crossJoin(v0).select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 0, F.col("_v0"))
         .otherwise(F.col("embedding")).alias("embedding"))
    tau, k = 0.5, 8
    got = {r["vec_id"]: (r["cell"], r["kept"])
           for r in S.semantic_dedup(corpus, threshold=tau,
                                     n_centroids=k).collect()}

    X = {r["vec_id"]: np.array(r["embedding"], dtype=float)
         for r in corpus.collect()}
    C = np.stack([X[i] for i in range(k)])

    def cell_of(v):
        sims = (C @ v) / (np.linalg.norm(C, axis=1) * np.linalg.norm(v))
        return int(np.argmax(sims))  # first max -> lowest cent_id

    cells = {i: cell_of(v) for i, v in X.items()}
    ids = sorted(X)
    for b in ids:
        dropped = any(
            a < b and cells[a] == cells[b]
            and round(float(X[a] @ X[b]
                            / (np.linalg.norm(X[a]) * np.linalg.norm(X[b]))),
                      6) >= tau
            for a in ids)
        assert got[b] == (cells[b], not dropped), (b, got[b])

    # the planted copy group: only vec 0 survives of the %7 family
    fam = [i for i in ids if i % 7 == 0]
    assert got[0][1] is True
    assert all(got[i][1] is False for i in fam if i != 0)


def test_pq_with_kmeans_trained_codebooks(spark):
    """The production PQ path: per-subspace codebooks TRAINED with the
    DataFrame k-means (kmeans_fit on each 16-dim slice) slot into
    pq_adc_topk via codebooks= without changing index mechanics, and
    trained codebooks must not lose recall vs the crude seed
    codebooks on the same corpus."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    m, n_codes, dim = 4, 8, 64
    d = dim // m
    trained = None
    for s in range(m):
        sl = emb.select("vec_id",
                        F.slice(S._as_double(F.col("embedding")),
                                s * d + 1, d).alias("embedding"))
        cents = S.kmeans_fit(sl, n_centroids=n_codes, iters=2)
        part = cents.select(F.lit(s).alias("sub"),
                            F.col("cent_id").cast("int").alias("code_id"),
                            F.col("cv").alias("cw"))
        trained = part if trained is None else trained.unionByName(part)

    q = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id)
             for r in S.cosine_topk(emb, q, k=3).collect()}

    def recall(cb):
        pq = {(r.query_id, r.neighbor_id)
              for r in S.pq_adc_topk(emb, q, k=3, m=m, n_codes=n_codes,
                                     dim=dim, codebooks=cb).collect()}
        return len(exact & pq) / len(exact)

    r_seed = recall(None)
    r_trained = recall(trained)
    assert r_trained >= r_seed - 1e-9, (r_trained, r_seed)


def test_bpe_train_matches_reference_implementation(spark):
    """bpe_train's merge list must equal a pure-Python reference BPE
    (word-frequency table, greedy left-to-right merge application,
    (freq desc, pair) tie-break) on the same corpus — including runs
    like 'aaaa' where consumed-separator regex bugs would diverge —
    and bpe_apply must re-tokenize exactly as the reference does."""
    import collections

    from linz_bde_uploader_spark.operators import text_analysis as TA

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "aaaa aaa aa aaaa",
        "wide wider wide widest",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 ["doc_id", "text"])

    def ref_bpe(texts, n_merges):
        freqs = collections.Counter(
            w for t in texts for w in t.split() if w)
        words = {w: list(w) for w in freqs}
        merges = []
        for _ in range(n_merges):
            counts = collections.Counter()
            for w, toks in words.items():
                for i in range(len(toks) - 1):
                    counts[(toks[i], toks[i + 1])] += freqs[w]
            if not counts:
                break
            best = min(counts, key=lambda p: (-counts[p], p))
            merges.append(best)
            a, b = best
            for w, toks in words.items():
                out, i = [], 0
                while i < len(toks):
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                words[w] = out
        return merges, words

    n = 8
    expect_merges, ref_words = ref_bpe(texts, n)
    got_merges = TA.bpe_train(docs, n_merges=n)
    assert got_merges == expect_merges

    toked = {r["doc_id"]: r["bpe_tokens"]
             for r in TA.bpe_apply(docs, got_merges).collect()}
    for i, t in enumerate(texts):
        expect = [tok for w in t.split() for tok in ref_words[w]]
        assert toked[i] == expect, (i, toked[i], expect)


def test_ivfpq_subset_of_full_pq_and_scale_shape(spark):
    """IVF-PQ must agree with plain PQ wherever it looked: every
    (query, neighbor) it returns scores the identical ADC distance as
    the full PQ scan, its neighbors all live in the query's probed
    cells, and full probing (nprobe = n_centroids) reproduces the
    plain PQ ranking exactly."""
    from pyspark.sql import functions as F

    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    full = {(r.query_id, r.neighbor_id): r.adc_dist
            for r in S.pq_adc_topk(emb, q, k=3, m=4, n_codes=8,
                                   dim=64).collect()}
    part = S.ivfpq_topk(emb, q, k=3, n_centroids=8, nprobe=2,
                        m=4, n_codes=8, dim=64).collect()
    # probed-cell containment
    c = emb.select(F.col("vec_id").alias("id"),
                   S._as_double(F.col("embedding")).alias("v"))
    cents = S.seed_centroids(emb, 8)
    cells = {r["id"]: r["cell"]
             for r in S.ivf_assign(c, cents, "id", "v").collect()}
    probed = {}
    for r in S.ivf_assign(c.filter("id < 5"), cents, "id", "v",
                          nprobe=2).collect():
        probed.setdefault(r["id"], set()).add(r["cell"])
    for r in part:
        assert cells[r.neighbor_id] in probed[r.query_id]
        if (r.query_id, r.neighbor_id) in full:
            assert r.adc_dist == full[(r.query_id, r.neighbor_id)]
    # full probe == plain PQ
    allprobe = {(r.query_id, r.neighbor_id, r.rank, r.adc_dist)
                for r in S.ivfpq_topk(emb, q, k=3, n_centroids=8,
                                      nprobe=8, m=4, n_codes=8,
                                      dim=64).collect()}
    plain = {(r.query_id, r.neighbor_id, r.rank, r.adc_dist)
             for r in S.pq_adc_topk(emb, q, k=3, m=4, n_codes=8,
                                    dim=64).collect()}
    assert allprobe == plain


def test_check_oracle_value_diff_names_the_diverging_cell():
    """The gate's forensics: on a hash mismatch, value_diff reports
    the exact (row, column, spark, duck) cells after aligning both
    result sets on their sorted normalized-row order — including
    column reordering, rowcount mismatches, and float representation
    differences (the class of red that burned rounds 4 and 5)."""
    import scripts.check_oracle as co

    # column order differs; one float cell diverges in the last digit
    d = co.value_diff(
        [(1, "x", 0.123456), (2, "y", 9.0)], ["id", "name", "v"],
        [(0.123457, 1, "x"), (9.0, 2, "y")], ["v", "id", "name"])
    assert d == [{"row": 0, "column": "v",
                  "spark": "0.123456", "duck": "0.123457"}]

    # identical values, any order -> no diffs
    assert co.value_diff([(2, "b"), (1, "a")], ["id", "s"],
                         [(1, "a"), (2, "b")], ["id", "s"]) == []

    # rowcount mismatch surfaces as a '*' sentinel row
    d = co.value_diff([(1,)], ["id"], [(1,), (2,)], ["id"])
    assert d[-1]["column"] == "*"


def test_embedding_near_pairs_multiprobe_recall(spark):
    """One-sided multi-probe for corpus near-pairs: planted near-dup
    pairs (tiny noise) sometimes straddle a hyperplane; n_probes=1
    misses those, larger n_probes recovers strictly more without
    emitting duplicates or losing same-bucket pairs."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    dim = 16
    rows = []
    for i in range(60):
        v = rng.randn(dim)
        rows.append((2 * i, [float(x) for x in v]))
        nb = v + 0.08 * rng.randn(dim)
        rows.append((2 * i + 1, [float(x) for x in nb]))
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")

    def planted_recall(n_probes):
        # explicit uncapped on BOTH sides: the recall-monotonicity
        # claim is about probing over the exact all-pairs form (the
        # docstring's "recall knobs belong to the uncapped verifier");
        # leaving the default would compare capped (n_probes=1) vs
        # uncapped (n_probes>1) and trip the r18 RuntimeWarning
        pairs = S.embedding_near_pairs(emb, threshold=0.9, n_planes=4,
                                       dim=dim, n_probes=n_probes,
                                       max_bucket_size=None)
        got = [(r.id_a, r.id_b) for r in pairs.collect()]
        assert len(got) == len(set(got))  # no duplicate pairs
        hits = sum(1 for a, b in got if b == a + 1 and a % 2 == 0)
        return hits / 60, set(got)

    r1, p1 = planted_recall(1)
    r4, p4 = planted_recall(4)
    assert r1 < 1.0      # fixture plants boundary-crossers
    assert r4 > r1       # probing recovers some
    assert p1 <= p4      # monotone: never loses a same-bucket pair


def test_pca_fast_gram_matches_exact_decimal(spark):
    """The single-pass mapInPandas Gram strategy (the 100 TB path)
    and the portable exploded-DECIMAL strategy (the oracle path)
    recover the same covariance to float tolerance."""
    from linz_bde_uploader_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def cov_map(df):
        out = {}
        for r in df.collect():
            n = r["n"]
            out[(r["i"], r["j"])] = (
                float(r["s_ij"]) - float(r["s_i"]) * float(r["s_j"]) / n) / n
        return out

    fast = cov_map(S.pca_covariance(emb, exact=False))
    exact = cov_map(S.pca_covariance(emb, exact=True))
    assert set(fast) == set(exact)
    for k, v in exact.items():
        assert abs(fast[k] - v) < 1e-9


def test_pca_fit_project_matches_numpy(spark):
    """pca_fit + pca_project against a full NumPy PCA on the
    collected table: same principal subspace, same projections (sign
    canonicalized on both sides), and projecting onto all d axes
    preserves total variance."""
    import numpy as np

    from linz_bde_uploader_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in emb.select("embedding").collect()])
    mu = X.mean(axis=0)
    C = (X - mu).T @ (X - mu) / X.shape[0]
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:4]
    ref = []
    for k in order:
        vec = V[:, k]
        if vec[np.argmax(np.abs(vec))] < 0:
            vec = -vec
        ref.append(vec)

    comps, mean = S.pca_fit(emb, n_components=4)
    assert np.allclose(mean, mu, atol=1e-9)
    for got, want in zip(comps, ref):
        assert np.allclose(got, want, atol=1e-6)

    proj = {r["vec_id"]: np.asarray(r["pca"])
            for r in S.pca_project(emb, comps, mean)
            .select("vec_id", "pca").collect()}
    want_proj = (X - mu) @ np.asarray(ref).T
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    for vid, wp in zip(ids, want_proj):
        assert np.allclose(proj[vid], wp, atol=1e-6)


def test_bpe_merges_sql_oracle_greedy_islands(spark):
    """SQL_BPE_MERGES (the DuckDB twin of q_text_bpe_merges) must
    reproduce bpe_train's merge table on a corpus full of a==b runs
    — the case where greedy left-to-right consumption differs from
    naive non-overlapping replace, and where the oracle's
    gaps-and-islands selection has to match the lookahead regex
    exactly."""
    import duckdb
    import pandas as pd

    from linz_bde_uploader_spark.operators import text_analysis as TA
    from linz_bde_uploader_spark.plans.pipeline_suite import SQL_BPE_MERGES

    texts = [
        "aaaa aaaaa aa aaaa aaaaaa",
        "abab ababab abababab",
        "low lower lowest aaa",
        "xxxx yyyy xxxx aaaa aaaa",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 ["doc_id", "text"])
    got = TA.bpe_train(docs, n_merges=8)

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    exp = [(r[1], r[2]) for r in
           sorted(con.execute(SQL_BPE_MERGES).fetchall())]
    assert got == exp, (got, exp)


def test_pca_fit_empty_table_raises(spark):
    """pca_fit on an empty embedding table must fail loudly with a
    descriptive error, not an IndexError from the collected cells."""
    from pyspark.sql import types as T

    from linz_bde_uploader_spark.operators import similarity as S

    empty = spark.createDataFrame(
        [], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding",
                          T.ArrayType(T.DoubleType()))]))
    with pytest.raises(ValueError, match="no embeddings"):
        S.pca_fit(empty)


def test_bloom_probe_rejects_colliding_columns(spark):
    """bloom_probe must refuse an items relation that already carries
    a __bloom_-prefixed column instead of silently shadowing it."""
    from linz_bde_uploader_spark.operators import dedup as D

    from pyspark.sql import functions as F

    keys = spark.createDataFrame([(1,), (2,)], ["h"])
    bloom = D.bloom_bitmap(keys)
    items = keys.withColumn("__bloom_p0", F.lit(0))
    with pytest.raises(ValueError, match="__bloom_"):
        D.bloom_probe(items, bloom)


def test_knn_graph_collapse_identical_star_semantics(spark):
    """knn_graph's identical-vector guard: planted exact-copy groups
    must emit linear star edges (member -> rep, rank 0, sim 1.0)
    instead of quadratic mutual top-k rows; the rep-only subgraph
    must equal a plain knn_graph over the distinct vectors; and with
    no duplicates present, collapsed == plain exactly."""
    from linz_bde_uploader_spark.operators import similarity as S
    from linz_bde_uploader_spark.plans.tables import load_table

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    emb = load_table(spark, sf, "embeddings").limit(40).cache()
    plain = {tuple(r) for r in S.knn_graph(emb, k=2).collect()}
    collapsed = {tuple(r)
                 for r in S.knn_graph(emb, k=2,
                                      collapse_identical=True).collect()}
    assert plain == collapsed  # no duplicate vectors in the fixture

    # plant 3 exact copies of every vector (fresh ids)
    from pyspark.sql import functions as F
    reps = spark.range(3).select(F.col("id").alias("_r"))
    dup = (emb.crossJoin(reps)
           .select((F.col("vec_id") * 10 + F.col("_r")).alias("vec_id"),
                   "embedding"))
    g = S.knn_graph(dup, k=2, collapse_identical=True)
    rows = g.collect()
    stars = [r for r in rows if r["rank"] == 0]
    ranked = [r for r in rows if r["rank"] > 0]
    n_vec = emb.count()
    assert len(stars) == 2 * n_vec  # 2 non-rep members per group
    assert all(r["cosine_sim"] == 1.0 for r in stars)
    assert all(r["neighbor_id"] % 10 == 0 for r in stars)  # rep = min id
    # ranked subgraph spans representatives only
    rep_ids = {r["vec_id"] for r in ranked} | {r["neighbor_id"]
                                               for r in ranked}
    assert all(i % 10 == 0 for i in rep_ids)
    # and equals the plain graph over the distinct vectors
    base = {(r["vec_id"] * 10, r["neighbor_id"] * 10, r["rank"],
             r["cosine_sim"]) for r in S.knn_graph(emb, k=2).collect()}
    assert {tuple(r) for r in ranked} == base
    emb.unpersist()


def test_coverage_doc_counts():
    """COVERAGE.md's headline claim ("N of the M declared queries
    carry a DuckDB oracle") must match the tree — the r13 verdict
    caught the count drifting one commit behind `len(_ALL)` twice,
    so the number is now parsed out of the document and compared to
    the live registry instead of being trusted."""
    import re

    declared = len(entrymod._ALL)
    oracled = len(entrymod.oracle_sql())
    doc = open(os.path.join(os.path.dirname(__file__), "..",
                            "COVERAGE.md")).read()
    m = re.search(r"\((\d+) of the (\d+) declared", doc)
    assert m, "COVERAGE.md headline count sentence not found"
    assert int(m.group(1)) == oracled, (
        f"COVERAGE.md says {m.group(1)} oracled; tree has {oracled}")
    assert int(m.group(2)) == declared, (
        f"COVERAGE.md says {m.group(2)} declared; tree has {declared}")
