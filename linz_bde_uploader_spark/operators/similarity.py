"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``    — brute-force exact top-k: broadcast the (small)
  query set against the (huge) corpus; dot products via zip_with +
  aggregate (JVM-side, codegen), per-query top-k via the salted
  two-phase rank. The corpus is scanned once, partition-parallel;
  nothing ever collects.
- ``lsh_bucketed_topk`` — scale path #1: random-hyperplane sign
  buckets prune the corpus before scoring; ``n_probes`` turns the
  multi-probe recall knob. Touches ~n_probes/2^planes of the corpus
  per query.
- ``ivf_topk`` / ``kmeans_fit`` — scale path #2: inverted centroid
  cells, partition-pruned probes, trainable codebook.
- ``pq_adc_topk`` — scale path #3: product-quantization codes +
  broadcast LUT; the scan never reads embeddings at query time.
- ``embedding_near_pairs`` — corpus-vs-corpus near-duplicate pairs
  above a cosine threshold, bucketed the same way, with
  ``collapse_identical`` guarding the exact-copy blow-up and
  ``max_bucket_size`` bounding output under DENSIFICATION (near- but
  not-identical dense regions — star edges per over-cap bucket;
  capped by default, exact all-pairs is opt-in via ``None``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from linz_bde_uploader_spark.cache import persist
from linz_bde_uploader_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE

class CapDefault:
    """Sentinel type distinguishing "caller didn't choose a cap"
    (resolved to DEFAULT_MAX_BUCKET_SIZE, or to uncapped under
    n_probes > 1 where the cap cannot compose) from an explicit
    max_bucket_size=None opt-out into exact all-pairs semantics.
    A real class (not a bare ``object()``) so the parameter can be
    HONESTLY annotated ``int | None | CapDefault`` and
    help()/inspect show a named singleton instead of an opaque
    object — the r17 signature said ``int | None`` while defaulting
    to the sentinel, a type fib flagged in round-17 review. PUBLIC
    (r18 advice): callers who forward the default — wrappers that
    thread max_bucket_size through their own signature — need a
    legal spelling for both the type and the ``CAP_DEFAULT`` value;
    a leading-underscore name gave type-checking callers neither."""

    def __repr__(self) -> str:  # shown by help()/inspect.signature
        return f"<cap default: {DEFAULT_MAX_BUCKET_SIZE}>"


CAP_DEFAULT = CapDefault()


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (pure codegen)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_pre(a: Column, b: Column, an: Column, bn: Column) -> Column:
    """``cosine`` with the operand norms precomputed as columns —
    bit-identical to :func:`cosine` (same fold order, same division;
    the norms are merely materialized earlier). In a bucket/cell join
    the norms are per-ROW while the similarity is per-PAIR, so hoisting
    them out of the pair expression cuts the per-pair array work from
    three O(dim) folds to one."""
    return _dot(a, b) / (an * bn)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, sim) relation via
    the salted two-phase ``grouped_topk``. query_id is LOW-CARDINALITY
    by construction in every caller (the query side broadcasts), so
    the textbook single window over (query_id) would funnel each
    query's entire candidate set — the whole corpus for the exact
    path — into one task. Phase 1 ranks within (query_id, salt) in
    parallel; phase 2 ranks the <= k*n_salts survivors. Exact under
    the same total order (sim desc, unique neighbor_id); salt is a
    deterministic hash of neighbor_id so reruns and differential
    tests see the identical split."""
    from linz_bde_uploader_spark.operators.topk import grouped_topk

    ranked = grouped_topk(
        scored, ["query_id"],
        [F.col("sim").desc(), F.col("neighbor_id")], k,
        salt_expr=F.xxhash64(F.col("neighbor_id")), n_salts=32)
    return ranked.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"),
        F.round(F.col("sim"), 6).alias("cosine_sim"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for each query vector:
    (query_id, neighbor_id, rank, cosine_sim).

    Scale shape: queries broadcast (BroadcastNestedLoopJoin over a few
    rows), corpus partition-parallel, per-query top-k via the salted
    two-phase rank (_rank_topk) — no single task ever holds a whole
    query's candidate set. Self-matches excluded.
    """
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   _as_double(F.col(vec_col)).alias("qv"))
                    .withColumn("_qn", _norm(F.col("qv"))))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("cv")) \
              .withColumn("_cn", _norm(F.col("cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine_pre(F.col("qv"), F.col("cv"),
                            F.col("_qn"), F.col("_cn")).alias("sim"))
    )
    return _rank_topk(scored, k)


def _plane_dot(vec: Column, p: int, dim: int) -> Column:
    signs = F.array(*[
        F.lit(1.0 if _parity(p * dim + d) else -1.0) for d in range(dim)
    ])
    return F.aggregate(F.zip_with(vec, signs, lambda x, s: x * s),
                       F.lit(0.0), lambda acc, v: acc + v)


def hyperplane_bucket(vec: Column, n_planes: int = 4, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot products with
    n_planes deterministic pseudo-random hyperplanes. Plane p's
    component for dimension d is +1/-1 from a portable parity of
    (p*dim + d), so the same buckets are computable in plain SQL."""
    b = F.lit(0)
    for p in range(n_planes):
        dp = _plane_dot(vec, p, dim)
        b = b + F.when(dp >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return b


def multiprobe_buckets(vec: Column, n_planes: int = 4, dim: int = 64,
                       n_probes: int = 1) -> Column:
    """Multi-probe bucket list (array<int>, length
    ``min(n_probes, 2^n_planes)``): the vector's own hyperplane
    bucket first, then perturbed buckets in the standard probing
    order — every non-empty SUBSET of planes ranked by the summed
    |margin| of the flipped planes (Lv et al., VLDB 2007 — public
    algorithm; multi-bit perturbations, not just single flips, so
    ``n_probes = 2^n_planes`` provably scores every bucket). A true
    near neighbor most plausibly sits across the planes the vector is
    closest to, so low-margin subsets are probed first. Recall rises
    with ``n_probes`` at probe cost n_probes/2^n_planes of the
    corpus, with no second index. The subset enumeration is static
    (2^n_planes bounded small — this is a bucket-count knob, not a
    data knob); ties break on the flip mask so the sequence is
    deterministic."""
    dps = [_plane_dot(vec, p, dim) for p in range(n_planes)]
    b = F.lit(0)
    for p, dp in enumerate(dps):
        b = b + F.when(dp >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    margins = [F.abs(dp) for dp in dps]
    subsets = []
    for mask in range(1, 1 << n_planes):
        cost = None
        for p in range(n_planes):
            if mask & (1 << p):
                cost = margins[p] if cost is None else cost + margins[p]
        subsets.append(F.struct(cost.alias("m"), F.lit(mask).alias("k")))
    order = F.array_sort(F.array(*subsets))
    flips = F.transform(
        F.slice(order, 1, max(0, min(n_probes - 1, (1 << n_planes) - 1))),
        lambda s: s["k"].bitwiseXOR(b))
    return F.concat(F.array(b), flips)


def _parity(n: int) -> bool:
    # deterministic pseudo-random sign: parity of bits of n*2654435761 mod 2^32
    return bin((n * 2654435761) & 0xFFFFFFFF).count("1") % 2 == 0


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 4, dim: int = 64,
                      n_probes: int = 1) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane bucket(s). At 100 TB the bucket join replaces the cross
    join — each query touches ~n_probes*|corpus|/2^n_planes rows.

    ``n_probes`` > 1 is the recall knob: the query also probes the
    buckets across its smallest-margin hyperplane SUBSETS (multi-probe
    LSH with multi-bit perturbations — n_probes = 2^n_planes scores
    every bucket). Only the (tiny, broadcast) query side explodes —
    the corpus is still indexed into exactly one bucket per vector."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("cv")) \
              .withColumn("bucket", hyperplane_bucket(F.col("cv"), n_planes, dim)) \
              .withColumn("_cn", _norm(F.col("cv")))
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("_qn", _norm(F.col("qv")))
        .withColumn("bucket", F.explode(multiprobe_buckets(
            F.col("qv"), n_planes, dim, n_probes))))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine_pre(F.col("qv"), F.col("cv"),
                            F.col("_qn"), F.col("_cn")).alias("sim"))
        # a (query, neighbor) pair can only repeat if two probes hit
        # the same bucket, which the distinct probe list precludes
    )
    return _rank_topk(scored, k)


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "id", vec_col: str = "v",
               nprobe: int = 1, sim_round: int | None = None) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine:
    (id, v, cell, cell_rank). Centroids are broadcast — assignment is a
    map-side pass over the corpus, no shuffle of the vectors.

    ``sim_round`` quantizes the cosine before the argmax ranking —
    the cross-engine determinism knob for differential testing: a
    last-ulp cosine difference between engines would otherwise flip a
    cell membership (and, in k-means, every downstream mean).

    The argmax is a per-row ARRAY expression, not a window: the
    centroid table collapses to a one-row broadcast array, each
    vector scores it in place, and sort_array(desc)+slice keeps the
    nprobe best. The earlier per-id window formulation was NOT
    shuffle-free — Window.partitionBy(id) re-exchanged n_centroids
    exploded copies of every vector (8x the corpus, each row carrying
    the full embedding) just to rank 8 candidate rows that were
    already co-located on the row that generated them. Ordering
    semantics are bit-identical: struct(csim, -cent_id) descending =
    (csim DESC, cent_id ASC) with the same NaN-first / NULL-last
    placement as the window's DESC order."""
    # centroid norms ride in the broadcast array (struct field order
    # keeps cent_id first, so the sort is unchanged) and the vector's
    # own norm is hoisted to a per-row column — the argmax transform
    # then folds ONE dot per centroid instead of three (cosine's two
    # norm folds were per-(vector, centroid) work).
    cent_arr = F.broadcast(centroids.agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("cent_id"), F.col("cv"),
                     _norm(F.col("cv")).alias("cn")))).alias("_cents")))

    def scored(c):
        sim = _cosine_pre(F.col(vec_col), c["cv"], F.col("_vn"), c["cn"])
        if sim_round is not None:
            sim = F.round(sim, sim_round)
        return F.struct(sim.alias("csim"),
                        (-c["cent_id"]).alias("_nck"),
                        c["cent_id"].alias("cent_id"))

    top = F.slice(F.sort_array(F.transform(F.col("_cents"), scored),
                               asc=False), 1, nprobe)
    return (
        vectors.withColumn("_vn", _norm(F.col(vec_col)))
        .crossJoin(cent_arr)
        .select(F.col(id_col), F.col(vec_col),
                F.posexplode(top).alias("_pos", "_s"))
        .select(F.col(id_col), F.col(vec_col),
                F.col("_s.cent_id").alias("cell"),
                (F.col("_pos") + 1).alias("cell_rank"))
    )


def seed_centroids(corpus: DataFrame, n_centroids: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic centroid set: the corpus vectors with the lowest
    ids. Production IVF trains centroids with k-means
    (pyspark.ml.clustering.KMeans fit on a sample); deterministic seeds
    keep the index reproducible and the oracle SQL-expressible —
    the *index structure* (assign/probe/rerank) is identical either way."""
    return corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), _as_double(F.col(vec_col)).alias("cv"))


def kmeans_parallel_seeds(corpus: DataFrame, n_centroids: int = 8,
                          oversample: int | None = None, rounds: int = 3,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Scalable k-means|| seeding (Bahmani et al., VLDB 2012 — the
    public algorithm pyspark.ml's KMeans also initializes with):
    instead of k sequential k-means++ passes over the corpus, run
    ``rounds`` passes that each sample ~``oversample`` points with
    probability proportional to their distance to the current
    candidate set, then recluster the O(rounds * oversample) weighted
    candidates to k centers driver-side. Returns (cent_id, cv).

    Scale shape: every pass is one map-side scoring of the corpus
    against the BROADCAST candidate set plus one scalar aggregate —
    no corpus shuffle at all; only the tiny candidate set (tens of
    rows) ever reaches the driver, exactly like the production
    implementations. Sampling uses a deterministic per-(id, round)
    hash instead of an RNG, so the seeds — and everything trained
    from them — are reproducible run-to-run.

    Distance is cosine (1 - cos), matching the spherical assignment
    in ``kmeans_fit``/``ivf_assign``. The final driver-side
    reclustering is deterministic greedy weighted farthest-point
    (k-means++ with argmax selection) over the candidates.
    """
    import numpy as np

    from linz_bde_uploader_spark.functions.hashing import hash32

    if oversample is None:
        oversample = 2 * n_centroids
    vecs = corpus.select(F.col(id_col).alias("id"),
                         _as_double(F.col(vec_col)).alias("v"))
    first = vecs.orderBy("id").limit(1) \
        .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    cand = first
    for rnd in range(rounds):
        c = F.broadcast(cand.select(F.col("cid"), F.col("cv").alias("_cv")))
        scored = (
            vecs.crossJoin(c)
            .withColumn("_d", F.lit(1.0) - cosine(F.col("v"), F.col("_cv")))
            .groupBy("id").agg(F.min("_d").alias("d"),
                               F.first("v").alias("v"))
        )
        total = F.broadcast(scored.agg(F.sum("d").alias("_total")))
        u = (F.pmod(hash32(F.concat_ws(":", F.col("id").cast("string"),
                                       F.lit(str(rnd)))),
                    F.lit(1_000_000)) / F.lit(1_000_000.0))
        # try_divide: when the candidate set already covers every
        # point exactly (_total = 0) there is nothing left worth
        # sampling — the NULL probability makes the filter false
        # instead of raising DIVIDE_BY_ZERO under ANSI mode
        picked = (
            scored.crossJoin(total)
            .filter(u < F.least(F.lit(1.0),
                                F.try_divide(
                                    F.lit(float(oversample)) * F.col("d"),
                                    F.col("_total"))))
            .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
        )
        cand = cand.unionByName(picked).dropDuplicates(["cid"])
    # weight candidates by how many corpus points they are nearest to
    weights = (
        ivf_assign(vecs, cand.select(F.col("cid").alias("cent_id"),
                                     "cv"), "id", "v", nprobe=1)
        .groupBy("cell").agg(F.count("*").alias("w"))
    )
    rows = (cand.join(weights, cand["cid"] == weights["cell"], "left")
            .select("cid", "cv", F.coalesce("w", F.lit(0)).alias("w"))
            .orderBy("cid").collect())  # tens of rows by construction
    cvs = np.array([r["cv"] for r in rows])
    ws = np.array([float(r["w"]) for r in rows])
    norms = np.linalg.norm(cvs, axis=1)
    unit = cvs / np.where(norms == 0, 1, norms)[:, None]
    chosen = [0]
    d = 1.0 - unit @ unit[0]
    for _ in range(min(n_centroids, len(rows)) - 1):
        score = ws * d
        # mask already-chosen candidates: without this, an all-zero
        # score row (fewer distinct directions than k, or all
        # remaining weights zero) makes argmax return index 0 forever
        # and the result silently contains duplicate centroids
        score[chosen] = -np.inf
        if not np.isfinite(score.max()) or score.max() <= 0.0:
            break  # degenerate input: return fewer, distinct centers
        nxt = int(np.argmax(score))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - unit @ unit[nxt])
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in cvs[c]]) for i, c in enumerate(chosen)],
        "cent_id INT, cv ARRAY<DOUBLE>")


def kmeans_fit(corpus: DataFrame, n_centroids: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               portable: bool = False,
               init: str = "min_id") -> DataFrame:
    """Spherical-style k-means (Lloyd iterations, cosine assignment)
    as pure DataFrame ops — the centroid-training step for a real IVF
    index, replacing ``seed_centroids`` when reproducible-but-seeded
    isn't enough. Returns (cent_id, cv).

    Per iteration: assignment is a map-side pass (centroids
    broadcast, no corpus shuffle — ivf_assign); the mean recompute
    shuffles (cell, dim, x) triples, which partial aggregation
    collapses to cells x dim rows per partition before exchange —
    shuffle volume is O(partitions * cells * dim), independent of
    corpus size. The driver loop holds only DataFrames; nothing
    collects. Cells that lose all members drop out (standard Lloyd
    degeneracy; callers wanting k exact cells re-seed).

    ``portable=True`` computes each per-dimension mean as an exact
    DECIMAL sum divided in double space and rounds it through a
    DECIMAL(18,6) cast — the repo's cross-engine bit-stability
    convention — and quantizes the assignment cosine to 9 dp before
    the argmax, so a last-ulp dot-product difference between engines
    cannot flip a cell membership. A plain double ``avg`` is
    order-dependent under shuffled partial aggregation, so two runs
    (or two engines) can disagree in the last ulp, and the divergence
    compounds through the next iteration's assignments. Production
    runs keep the default (exact means, one engine); the
    differential-testing oracle uses portable.

    ``init`` picks the seeding: ``min_id`` (deterministic lowest-id
    vectors — reproducible and SQL-expressible, the oracle path) or
    ``parallel`` (k-means|| — the production path when seed quality
    matters; see kmeans_parallel_seeds)."""
    if init == "parallel":
        cent = kmeans_parallel_seeds(corpus, n_centroids,
                                     id_col=id_col, vec_col=vec_col)
    else:
        cent = seed_centroids(corpus, n_centroids, id_col, vec_col)
    vecs = corpus.select(F.col(id_col).alias("id"),
                         _as_double(F.col(vec_col)).alias("v"))
    if portable:
        mean_expr = (F.sum(F.col("x").cast("decimal(27,12)"))
                     .cast("double") / F.count("*")) \
            .cast("decimal(18,6)").cast("double")
    else:
        mean_expr = F.avg("x")
    for _ in range(iters):
        assigned = ivf_assign(vecs, cent, "id", "v", nprobe=1,
                              sim_round=9 if portable else None)
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(mean_expr.alias("m"))
        )
        cent = (
            means.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(F.col("cell").alias("cent_id"),
                    F.transform("pm", lambda s: s["m"]).alias("cv"))
        )
    return cent


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 8, nprobe: int = 2,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second ANN scale path
    beside LSH. Corpus vectors are bucketed into centroid cells
    (the inverted lists); each query scores only the cells of its
    ``nprobe`` nearest centroids.

    Scale shape: at 100 TB the corpus is *stored* partitioned by cell
    (store.write(..., key='cell')), so a probe is a partition-pruned
    scan of nprobe/n_centroids of the data; the centroid table
    (thousands of rows at most) broadcasts everywhere. Recall is tuned
    by nprobe without touching the index.
    """
    if centroids is None:
        centroids = seed_centroids(corpus, n_centroids, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    inv = ivf_assign(c, centroids, "neighbor_id", "cv", nprobe=1) \
        .select("neighbor_id", F.col("cv"), "cell") \
        .withColumn("_cn", _norm(F.col("cv")))
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    probes = F.broadcast(ivf_assign(q, centroids, "query_id", "qv", nprobe=nprobe)
                         .select("query_id", F.col("qv"), "cell")
                         .withColumn("_qn", _norm(F.col("qv"))))
    scored = (
        probes.join(inv, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine_pre(F.col("qv"), F.col("cv"),
                            F.col("_qn"), F.col("_cn")).alias("sim"))
        # each corpus vector lives in exactly one cell (nprobe=1 on the
        # inverted lists) so (query, neighbor) pairs are already unique
    )
    return _rank_topk(scored, k)


def embedding_near_pairs(corpus: DataFrame, threshold: float = 0.4,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         n_planes: int = 4, dim: int = 64,
                         collapse_identical: bool = False,
                         n_probes: int = 1,
                         max_bucket_size: int | None | CapDefault
                         = CAP_DEFAULT,
                         cache_buckets: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, cosine_sim >=
    threshold), pruned by shared hyperplane bucket.

    ``collapse_identical`` completes the repo's boilerplate-guard
    family (LSH ``max_bucket_size``, SimHash ``collapse_identical``):
    B exact-copy embeddings — re-crawled pages, template docs — share
    a bucket and emit B(B-1)/2 cosine-1.0 pairs through the self-join,
    a quadratic output blow-up AQE's input-byte skew detection cannot
    split. Collapsed mode dedups identical vectors first (one
    representative = min id per distinct vector), scores the bucket
    join over distinct vectors only, and emits linear star edges
    (rep -> member, cosine 1.0) for the identical groups. Component
    structure downstream is unchanged: an identical-vector group is a
    clique spanned exactly by its star; cross-group near-pairs keep
    their rep-to-rep edge.

    ``max_bucket_size`` is the DENSIFICATION guard — the failure mode
    ``collapse_identical`` cannot bound (measured in
    SCALE_SOAK.json r14: 10x vectors in a fixed embedding space grew
    output pairs 73-90x, wall 20-23x, with zero identical vectors).
    A genuinely dense region — boilerplate embeddings, near-duplicate
    web templates — puts B NEAR-identical (not identical) vectors in
    one hyperplane bucket and the self-join emits B(B-1)/2 pairs; AQE
    cannot split it because the blow-up is in join OUTPUT, not input
    bytes. Buckets over the cap emit STAR edges instead — (bucket-min
    id, member, cosine(hub, member)) — linear in bucket size, same
    pattern as ``dedup.lsh_candidate_pairs(max_bucket_size=)``. The
    threshold still applies to star edges, so no pair below threshold
    is ever emitted. The guard is ON BY DEFAULT
    (``DEFAULT_MAX_BUCKET_SIZE``) — the uncapped all-pairs form is
    the measured quadratic scale-killer above and exact semantics are
    explicit opt-in via ``max_bucket_size=None``; under
    ``n_probes > 1`` (where the cap cannot compose) the default
    resolves to uncapped WITH a ``RuntimeWarning`` — the recall knob
    must not silently drop the guard. Downstream trade: connected-components clustering
    of a dense region (members mutually near, which is what made the
    bucket dense) is unchanged — the star spans the region's
    component through the hub; pairwise consumers see each member
    scored against the bucket's canonical vector instead of every
    sibling. Composes with ``collapse_identical`` (collapse first,
    cap the distinct-vector bucket that remains); unsupported with
    ``n_probes > 1`` (probe replication makes per-bucket output
    accounting ambiguous — a capped run is a first-pass candidate
    generator, recall knobs belong to the uncapped verifier).

    ``cache_buckets`` persists the (id, v, bucket, stats) relation
    the capped plan consumes in three branches (the small-bucket
    self-join sides, the hub rows, the members) — without it
    Catalyst re-runs the corpus scan + bucket aggregate per branch.
    One row per vector; callers in long-lived sessions release via
    ``cache.release_caches()``. Same knob, same reason, as
    ``lsh_candidate_pairs(cache_index=)``."""
    if isinstance(max_bucket_size, CapDefault):
        # default-on guard (r16 verdict): an un-opinionated caller at
        # corpus scale must get the bounded form. Multi-probe is the
        # one mode the cap cannot compose with (per-bucket output
        # accounting is ambiguous under probe replication), so the
        # DEFAULT resolves to uncapped there — only an EXPLICIT cap
        # plus n_probes > 1 is a contradiction worth raising on. The
        # silent part of that resolution is a trap (r17 advice): a
        # default-path caller who merely turned up the recall knob
        # would lose the densification guard without ever seeing the
        # word "uncapped" — so the resolution WARNS, loudly, that
        # exact all-pairs semantics are now in play and how to opt
        # back into a bound (n_probes=1 + max_bucket_size=N).
        if n_probes > 1:
            import warnings
            warnings.warn(
                "embedding_near_pairs: n_probes > 1 cannot compose "
                "with the densification bucket cap, so the default "
                "max_bucket_size resolves to UNCAPPED exact all-pairs "
                "— a dense bucket emits O(B^2) pairs (measured "
                "16.8-89.9x wall at 10x data, SCALE_SOAK "
                "density_cap_soak). Pass max_bucket_size=None to "
                "acknowledge, or use n_probes=1 with a cap for the "
                "bounded first-pass form.",
                RuntimeWarning, stacklevel=2)
            max_bucket_size = None
        else:
            max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    elif max_bucket_size is not None and n_probes > 1:
        raise ValueError(
            "max_bucket_size composes with the single-probe bucket "
            "join only (n_probes must be 1)")
    c = corpus.select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    star = None
    if collapse_identical:
        groups = c.groupBy("v").agg(F.min("id").alias("rep"))
        star = (
            c.join(groups, "v")
            .filter(F.col("id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"),
                    F.lit(1.0).alias("cosine_sim"))
        )
        c = groups.select(F.col("rep").alias("id"), "v")
    c = c.withColumn("bucket", hyperplane_bucket(F.col("v"), n_planes, dim)) \
         .withColumn("_nrm", _norm(F.col("v")))
    # n_probes > 1: one-sided multi-probe — the LEFT side also probes
    # its smallest-margin perturbed buckets, recovering near-pairs
    # that straddle a hyperplane (a recall knob, not exhaustive: the
    # pair is found when the perturbation is probed from the a side).
    # Cost is an n_probes-way replication of one side's index rows;
    # the b side stays single-bucket, so a pair can match at most
    # once (the probe list is duplicate-free).
    if max_bucket_size is not None:
        # bucket stats reuse the bucket exchange (same grouping key);
        # the join back is co-partitioned — the pattern proven for
        # text LSH in dedup.lsh_candidate_pairs / tests/test_skew_soak
        stats = c.groupBy("bucket").agg(
            F.count("*").alias("_n"), F.min("id").alias("_hub"))
        cb = c.join(stats, "bucket")
        if cache_buckets:
            cb = persist(cb, StorageLevel.MEMORY_AND_DISK)
        small = cb.filter(F.col("_n") <= max_bucket_size)
        a, b = small.alias("a"), small.alias("b")
        all_pairs = (
            a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.round(_cosine_pre(F.col("a.v"), F.col("b.v"),
                                        F.col("a._nrm"), F.col("b._nrm")),
                            6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))
        hubs = (cb.filter((F.col("_n") > max_bucket_size)
                          & (F.col("id") == F.col("_hub")))
                .select("bucket", F.col("v").alias("_hv"),
                        F.col("_nrm").alias("_hn")))
        over = (  # hub = bucket-min id, so id_a < id_b by construction
            cb.filter((F.col("_n") > max_bucket_size)
                      & (F.col("id") != F.col("_hub")))
            .join(hubs, "bucket")
            .select(F.col("_hub").alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.round(_cosine_pre(F.col("_hv"), F.col("v"),
                                        F.col("_hn"), F.col("_nrm")),
                            6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))
        near = all_pairs.unionByName(over)
        return near if star is None else near.unionByName(star)
    if n_probes > 1:
        ap = c.withColumn("pbucket", F.explode(multiprobe_buckets(
            F.col("v"), n_planes, dim, n_probes)))
        a, b = ap.alias("a"), c.alias("b")
        join_on = (F.col("a.pbucket") == F.col("b.bucket")) \
            & (F.col("a.id") < F.col("b.id"))
    else:
        a, b = c.alias("a"), c.alias("b")
        join_on = (F.col("a.bucket") == F.col("b.bucket")) \
            & (F.col("a.id") < F.col("b.id"))
    near = (
        a.join(b, join_on)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.round(_cosine_pre(F.col("a.v"), F.col("b.v"),
                                    F.col("a._nrm"), F.col("b._nrm")),
                        6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
    return near if star is None else near.unionByName(star)


# ---------------------------------------------------------------- PQ


def pq_seed_codebooks(corpus: DataFrame, m: int = 4, n_codes: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      dim: int = 64) -> DataFrame:
    """Deterministic product-quantization codebooks: subspace s's
    codewords are the s-th slices of the ``n_codes`` lowest-id corpus
    vectors — the PQ analog of ``seed_centroids`` (production trains
    them with k-means per subspace; the index mechanics — encode /
    LUT / ADC scan — are identical either way and that is what the
    oracle checks). Returns (sub, code_id, cw) with |cw| = dim/m."""
    d = dim // m
    base = corpus.filter(F.col(id_col) < n_codes).select(
        F.col(id_col).cast("int").alias("code_id"),
        _as_double(F.col(vec_col)).alias("v"))
    subs = base.select(
        "code_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("v", s * d + 1, d).alias("cw"))
            for s in range(m)])).alias("e"))
    return subs.select(F.col("e.sub").alias("sub"), "code_id",
                       F.col("e.cw").alias("cw"))


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two equal-length array<double> columns
    (pure codegen, same sequential fold both engines reproduce)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def pq_encode(corpus: DataFrame, codebooks: DataFrame, m: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = 64,
              carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Encode each vector as (id, sub, code): per subspace, the
    codeword minimizing squared L2 (quantized to 9 dp before the
    argmin, code_id tiebreak — the repo's cross-engine argmin
    convention). Codebooks BROADCAST (m * n_codes rows); encoding is
    a map-side pass over the corpus — no shuffle of the vectors. At
    100 TB the stored index is m single-byte codes per vector, a
    ~256x compression of a 64-dim float corpus."""
    d = dim // m
    # One broadcast row per subspace holding its whole codebook as an
    # array: the argmin is then a per-row expression (sort_array asc
    # on struct(d2, code_id) = min(struct(d2, code_id)) — identical
    # tie-break and NaN/NULL order), so the former groupBy(id, sub)
    # exchange over the scored (id, sub, code) relation disappears —
    # encoding is purely map-side, as the docstring always claimed.
    cb = F.broadcast(codebooks.groupBy("sub").agg(
        F.collect_list(F.struct(F.col("code_id"),
                                F.col("cw").alias("_cw"))).alias("_cbs")))
    carries = [F.col(cc) for cc in carry_cols]
    sliced = corpus.select(
        F.col(id_col).alias("id"), *carries,
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice(_as_double(F.col(vec_col)),
                             s * d + 1, d).alias("sv"))
            for s in range(m)])).alias("e")
    ).select("id", *carries, F.col("e.sub").alias("sub"),
             F.col("e.sv").alias("sv"))
    best = F.element_at(F.sort_array(F.transform(
        F.col("_cbs"),
        lambda c: F.struct(
            F.round(_sq_l2(F.col("sv"), c["_cw"]), 9).alias("d2"),
            c["code_id"].alias("code_id")))), 1)
    return (sliced.join(cb, "sub")
            .select("id", *carries, "sub", best["code_id"].alias("code")))


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                m: int = 4, n_codes: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding",
                dim: int = 64,
                codebooks: DataFrame | None = None) -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou et al., TPAMI 2011 —
    public algorithm): encode the corpus once (m small codes per
    vector), then score each query against the CODES, not the
    vectors — the query-to-codeword LUT (|queries| * m * n_codes
    rows) broadcasts, and the scan reduces each doc to the sum of m
    LUT lookups.

    Scale shape: the corpus-side relation after encoding is (id, sub,
    code) — m ints per doc; the LUT join is a broadcast hash join and
    the per-doc sum a partial aggregate, so the scan never touches
    the original embeddings and shuffles only (id, partial) pairs.
    Returns (query_id, neighbor_id, rank, adc_dist) ranked ascending
    by the 6-dp ADC distance (doc_id tiebreak) through the salted
    two-phase grouped_topk."""
    from linz_bde_uploader_spark.operators.topk import grouped_topk

    if codebooks is None:
        codebooks = pq_seed_codebooks(corpus, m, n_codes, id_col,
                                      vec_col, dim)
    d = dim // m
    codes = pq_encode(corpus, codebooks, m, id_col, vec_col, dim)
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    qsub = q.select(
        "query_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("qv", s * d + 1, d).alias("qs"))
            for s in range(m)])).alias("e")
    ).select("query_id", F.col("e.sub").alias("sub"),
             F.col("e.qs").alias("qs"))
    lut = F.broadcast(
        qsub.join(codebooks.withColumnRenamed("code_id", "code"), "sub")
        .select("query_id", "sub", "code",
                F.round(_sq_l2(F.col("qs"), F.col("cw")), 9).alias("pd")))
    scored = (
        codes.join(lut, ["sub", "code"])
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        # 9-dp partials sum as exact DECIMAL: the m-term fold is
        # order-independent across engines and retries (repo
        # convention for every cross-engine float aggregate)
        .agg(F.round(F.sum(F.col("pd").cast("decimal(20,9)"))
                     .cast("double"), 6).alias("adc"))
    )
    ranked = grouped_topk(
        scored, ["query_id"],
        [F.col("adc").asc(), F.col("neighbor_id")], k,
        salt_expr=F.xxhash64("neighbor_id"), n_salts=32)
    return ranked.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("adc").alias("adc_dist"))


# ------------------------------------------------------ semantic dedup


def semantic_dedup(corpus: DataFrame, threshold: float = 0.92,
                   n_centroids: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style cluster-scoped near-dedup (Abbas et al., 2023 —
    public algorithm): assign every vector to a centroid cell
    (broadcast, map-side), find cosine >= threshold pairs ONLY within
    a cell, and keep the minimum id of every near-duplicate
    neighborhood. Returns (vec_id, cell, kept).

    Drop rule (exact, deterministic): doc b is dropped iff some doc
    a < b in the same cell has cos(a, b) >= threshold. Computed
    WITHOUT pairing identical copies quadratically: vectors group by
    exact value (rep = group min id; identical copies share a cell by
    determinism of the assignment), the pair join runs over DISTINCT
    vectors only, and membership falls out arithmetically —
    b survives iff b IS its group's rep and no near-neighbor group's
    rep is smaller (a neighbor group's smallest member IS its rep, so
    comparing reps decides "exists a < b" exactly). A million-copy
    boilerplate embedding therefore costs one group row, not 5e11
    pairs — the same guard family as collapse_identical.

    At 100 TB the cell assignment is the only corpus-wide pass
    (centroids broadcast); the pair join is bounded by distinct
    vectors per cell, tuned by n_centroids exactly as SemDeDup tunes
    its k-means k."""
    if centroids is None:
        centroids = seed_centroids(corpus, n_centroids, id_col, vec_col)
    vecs = corpus.select(F.col(id_col).alias("id"),
                         _as_double(F.col(vec_col)).alias("v"))
    # groups feeds the assignment AND the membership join; asgn feeds
    # both self-join sides plus the near aggregate. Without persists
    # the plan audit shows the corpus-wide groupBy replicated per
    # branch (40 exchanges at sf0.01) — a recompute that grows with
    # the corpus, while both persisted relations are one row per
    # DISTINCT vector. Costs ~0.2 s of materialization at sf0.1;
    # scale-safety over micro-bench, same trade as dedup_survivors.
    # Harnesses release via cache.release_caches().
    groups = persist(vecs.groupBy("v").agg(F.min("id").alias("rep")),
                     StorageLevel.MEMORY_AND_DISK)
    asgn = persist(
        ivf_assign(groups.select(F.col("rep").alias("id"), "v"),
                   centroids, "id", "v", nprobe=1)
        .select(F.col("id").alias("rep"), F.col("v"), F.col("cell"))
        .withColumn("_nrm", _norm(F.col("v"))),
        StorageLevel.MEMORY_AND_DISK)
    a, b = asgn.alias("a"), asgn.alias("b")
    near = (
        a.join(b, (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.rep") != F.col("b.rep")))
        .filter(F.round(_cosine_pre(F.col("a.v"), F.col("b.v"),
                                    F.col("a._nrm"), F.col("b._nrm")), 6)
                >= threshold)
        .groupBy(F.col("b.rep").alias("rep"))
        .agg(F.min(F.col("a.rep")).alias("nmin"))
    )
    members = vecs.join(groups, "v").join(
        asgn.select("rep", "cell"), "rep").join(near, "rep", "left")
    return members.select(
        F.col("id").alias(id_col), "cell",
        ((F.col("id") == F.col("rep"))
         & (F.col("nmin").isNull() | (F.col("nmin") > F.col("id"))))
        .alias("kept"))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
               n_centroids: int = 8, nprobe: int = 2,
               m: int = 4, n_codes: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64) -> DataFrame:
    """IVF-PQ: the canonical production ANN composition (coarse
    inverted-file quantizer + product-quantized residual scan — the
    FAISS IVFPQ structure, Jégou et al. TPAMI 2011). Queries probe
    their ``nprobe`` nearest centroid cells and ADC-score ONLY those
    cells' PQ codes: at 100 TB the scan reads
    nprobe/n_centroids of an already ~256x-compressed code table,
    with centroids, codebooks, probes, and the query LUT all
    broadcast — no corpus shuffle anywhere in the query path.

    Returns (query_id, neighbor_id, rank, adc_dist) ascending by the
    6-dp ADC distance through the salted two-phase rank."""
    from linz_bde_uploader_spark.operators.topk import grouped_topk

    cents = seed_centroids(corpus, n_centroids, id_col, vec_col)
    codebooks = pq_seed_codebooks(corpus, m, n_codes, id_col,
                                  vec_col, dim)
    d = dim // m
    c = corpus.select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    # cell assignment and PQ encoding fused into ONE corpus pass:
    # ivf_assign is map-side (broadcast centroid array), so its
    # output carries (id, v, cell) straight into the encoder and the
    # former codes-join-inv corpus self-join (two scans plus an
    # id-keyed shuffle of both derived relations) disappears.
    assigned = ivf_assign(c, cents, "id", "v", nprobe=1) \
        .select("id", "v", "cell")
    codes = pq_encode(assigned, codebooks, m, id_col="id",
                      vec_col="v", dim=dim, carry_cols=("cell",))
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    probes = F.broadcast(
        ivf_assign(q, cents, "query_id", "qv", nprobe=nprobe)
        .select("query_id", "cell"))
    qsub = q.select(
        "query_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("qv", s * d + 1, d).alias("qs"))
            for s in range(m)])).alias("e")
    ).select("query_id", F.col("e.sub").alias("sub"),
             F.col("e.qs").alias("qs"))
    lut = F.broadcast(
        qsub.join(codebooks.withColumnRenamed("code_id", "code"), "sub")
        .select("query_id", "sub", "code",
                F.round(_sq_l2(F.col("qs"), F.col("cw")), 9).alias("pd")))
    scored = (
        codes.join(probes, "cell")
        .join(lut, ["query_id", "sub", "code"])
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.round(F.sum(F.col("pd").cast("decimal(20,9)"))
                     .cast("double"), 6).alias("adc"))
    )
    ranked = grouped_topk(
        scored, ["query_id"],
        [F.col("adc").asc(), F.col("neighbor_id")], k,
        salt_expr=F.xxhash64("neighbor_id"), n_salts=32)
    return ranked.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("adc").alias("adc_dist"))


def pca_covariance(emb: DataFrame, vec_col: str = "embedding",
                   exact: bool = False) -> DataFrame:
    """Upper-triangle covariance moments of an embedding column:
    (i, j, n BIGINT, s_ij, s_i, s_j DECIMAL) with i <= j, population
    covariance recoverable as (s_ij - s_i*s_j/n)/n.

    Two physical strategies, same results:

    - ``exact=False`` (default, the 100 TB path): one Arrow-batched
      ``mapInPandas`` pass emits each partition's partial Gram matrix
      (d x d values per batch — X^T X is computed vectorized in
      NumPy), so the shuffle carries O(partitions x d^2) rows no
      matter how many vectors there are; per-dimension sums ride the
      same pass. This is the classic single-pass moment aggregate:
      nothing quadratic in n anywhere.
    - ``exact=True``: pure-expression posexplode + self-join on
      vec_id with DECIMAL(28,12) per-row products — O(n x d^2) rows
      through the shuffle, but every arithmetic step is portable
      ANSI SQL, which is what the differential-testing oracle needs.
      Sums are DECIMAL so they are order-independent and
      engine-identical.

    d is assumed driver-friendly (d^2 cells collect for the eigen
    step) — true for every embedding model in practice."""
    v = F.col(vec_col).cast("array<double>")
    if exact:
        dims = emb.select("vec_id", F.posexplode(v).alias("i", "x"))
        a, b = dims.alias("a"), dims.alias("b")
        prods = (
            a.join(b, (F.col("a.vec_id") == F.col("b.vec_id"))
                   & (F.col("a.i") <= F.col("b.i")))
            .select(F.col("a.i").alias("i"), F.col("b.i").alias("j"),
                    (F.col("a.x") * F.col("b.x"))
                    .cast("decimal(28,12)").alias("p")))
        sij = prods.groupBy("i", "j").agg(F.sum("p").alias("s_ij"))
    else:
        import numpy as np
        import pandas as pd

        def gram(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["_v"].to_numpy())
                C = X.T @ X
                iu = np.triu_indices(C.shape[0])
                yield pd.DataFrame(
                    {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"),
                     "p": C[iu]})

        sij = (emb.select(v.alias("_v"))
               .mapInPandas(gram, "i int, j int, p double")
               .groupBy("i", "j")
               .agg(F.sum(F.col("p").cast("decimal(28,12)")).alias("s_ij")))
    dims = emb.select(F.posexplode(v).alias("i", "x"))
    sums = dims.groupBy("i").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).alias("s"))
    nrow = emb.agg(F.count("*").alias("n"))
    return (
        sij.join(F.broadcast(sums.select(F.col("i"), F.col("s").alias("s_i"))),
                 "i")
        .join(F.broadcast(sums.select(F.col("i").alias("j"),
                                      F.col("s").alias("s_j"))), "j")
        .join(F.broadcast(nrow))
        .select("i", "j", F.col("n").cast("long").alias("n"),
                "s_ij", "s_i", "s_j")
    )


def pca_fit(emb: DataFrame, vec_col: str = "embedding",
            n_components: int = 8, exact: bool = False):
    """Top-r principal axes from the distributed covariance: collects
    the d x d moment cells (d^2 scalars — KBs), assembles the
    covariance matrix, and runs a driver-side ``numpy.linalg.eigh``
    (O(d^3), microseconds for any real embedding width; the same
    driver-sided final reduction k-means|| and the sketch mergers
    use). Eigenvector signs are canonicalized (largest-|component|
    positive) so results are reproducible run-to-run. Returns
    (components: list[list[float]] of length n_components, mean:
    list[float])."""
    import numpy as np

    cells = pca_covariance(emb, vec_col, exact=exact).collect()
    if not cells or not cells[0]["n"]:
        raise ValueError(
            "pca_fit: no embeddings to fit (pca_covariance returned "
            "no moment cells / zero rows)")
    d = max(r["j"] for r in cells) + 1
    n = cells[0]["n"]
    C = np.zeros((d, d))
    mu = np.zeros(d)
    for r in cells:
        cov = (float(r["s_ij"])
               - float(r["s_i"]) * float(r["s_j"]) / n) / n
        C[r["i"], r["j"]] = cov
        C[r["j"], r["i"]] = cov
        if r["i"] == r["j"]:
            mu[r["i"]] = float(r["s_i"]) / n
    w, V = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:n_components]
    comps = []
    for k in order:
        vec = V[:, k]
        if vec[np.argmax(np.abs(vec))] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
    return comps, [float(x) for x in mu]


def pca_project(emb: DataFrame, components, mean,
                vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project embeddings onto fitted principal axes: the components
    and mean enter the plan as broadcast literals and the projection
    is a pure zip_with/aggregate expression per row — map-side only,
    no shuffle, no Python in the hot path. Appends ``out_col`` as
    array<double> of length len(components)."""
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(v, F.array(*[F.lit(m) for m in mean]),
                          lambda x, m: x - m)
    proj = F.array(*[
        F.aggregate(
            F.zip_with(centered, F.array(*[F.lit(c) for c in comp]),
                       lambda x, c: x * c),
            F.lit(0.0), lambda acc, x: acc + x)
        for comp in components])
    return emb.withColumn(out_col, proj)


def knn_graph(corpus: DataFrame, k: int = 3, id_col: str = "vec_id",
              vec_col: str = "embedding", n_planes: int = 4,
              dim: int = 64, n_probes: int = 1,
              collapse_identical: bool = False) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus —
    every vector is a query (the structure SemDeDup neighborhoods,
    graph-based curation, and label-propagation curation consume),
    as opposed to the broadcast-query rankers where the query panel
    is small. Returns (vec_id, neighbor_id, rank, cosine_sim).

    Scale shape: each vector indexes into exactly ONE hyperplane
    bucket; candidate pairs come from a bucket EQUI-join of the
    corpus against itself (never a cross join), so the work is
    sum-over-buckets |bucket|^2 — bounded by choosing n_planes so
    2^n_planes tracks corpus size (the same bucket-count-as-knob
    doctrine as the LSH dedup family). ``n_probes`` > 1 raises
    recall by probing each vector's smallest-margin perturbed
    buckets (only the probe SIDE explodes; the index side stays one
    bucket per vector). The per-vector top-k runs as a plain window
    over vec_id — the HIGH-cardinality group case where one window
    is already embarrassingly parallel and the salted two-phase
    rank would only add its fixed extra stage (grouped_topk is for
    LOW-cardinality groups; see operators/topk.py)."""
    base = corpus.select(F.col(id_col).alias("id"),
                         _as_double(F.col(vec_col)).alias("v"))
    star = None
    if collapse_identical:
        # guard-family member: B exact-copy vectors would contribute
        # B x (bucket peers) scored rows AND appear as each other's
        # sim-1.0 top-k, a blow-up AQE cannot split. Collapse to one
        # representative per distinct vector, build the graph over
        # reps only, and emit linear star edges (member <-> rep at
        # rank 0, sim 1.0) so group membership stays explicit.
        groups = base.groupBy("v").agg(F.min("id").alias("rep"))
        star = (
            base.join(groups, "v")
            .filter(F.col("id") != F.col("rep"))
            .select(F.col("id").alias("vec_id"),
                    F.col("rep").alias("neighbor_id"),
                    F.lit(0).cast("bigint").alias("rank"),
                    F.lit(1.0).alias("cosine_sim")))
        base = groups.select(F.col("rep").alias("id"), "v")
    c = base.select(F.col("id").alias("neighbor_id"),
                    F.col("v").alias("cv")) \
            .withColumn("bucket",
                        hyperplane_bucket(F.col("cv"), n_planes, dim)) \
            .withColumn("_cn", _norm(F.col("cv")))
    q = base.select(F.col("id").alias("vec_id"),
                    F.col("v").alias("qv")) \
            .withColumn("_qn", _norm(F.col("qv"))) \
            .withColumn("bucket", F.explode(multiprobe_buckets(
                F.col("qv"), n_planes, dim, n_probes)))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id",
                _cosine_pre(F.col("qv"), F.col("cv"),
                            F.col("_qn"), F.col("_cn")).alias("sim")))
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(),
                                             "neighbor_id")
    ranked = (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select("vec_id", "neighbor_id",
                      F.col("rank").cast("bigint").alias("rank"),
                      F.round(F.col("sim"), 6).alias("cosine_sim")))
    return ranked if star is None else ranked.unionByName(star)
