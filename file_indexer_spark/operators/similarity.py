"""Similarity search over the ``embeddings`` table
(``vec_id BIGINT, embedding FLOAT[64], label INT``).

Two operators, the baseline and the scale path:

  sim1 brute-force cosine top-k — exact. The query set is broadcast;
       per-(query, candidate) cosine is map-side expression work over
       the corpus scan; only (query x corpus) score rows shuffle into
       the per-query top-k. The reference engine has no vector ops —
       this extends SURVEY.md §2 for the LLM-pipeline pillar.

  sim2 IVF (inverted-file) ANN — the 100 TB shape. A deterministic
       centroid subset partitions the corpus (build: broadcast
       centroids, argmax-cosine assignment, one narrow table); a query
       probes only its ``nprobe`` nearest centroid lists, turning
       full-corpus scans into ~nprobe/n_centroids of the data. Recall
       is traded for that pruning; tests assert it against sim1.

Determinism (the oracle hash-matches bit-for-bit): float32 values cast
to double, dot products accumulated in a strict left-to-right fold —
Spark ``aggregate(zip_with(...))`` and DuckDB ``list_reduce`` produce
the identical IEEE sum — ties in top-k ranking broken by vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from file_indexer_spark.landing import land_tables

TOP_K = 10
N_QUERIES = 10  # vec_id < 10 are the benchmark query vectors
NPROBE = 3
EMB_DIM = 64  # embeddings table schema: FLOAT[64]
KMEANS_K = 16
KMEANS_MAX_ITER = 8


def _dot(a: str, b: str) -> str:
    """Strict left-to-right double fold => same IEEE result in both
    engines (measured: the HOF fold beats a 64-term unrolled
    ``a[0]*b[0] + ...`` sum ~3x on Spark 4.1, so this IS the fast path;
    the real scoring-throughput lever is partition parallelism, handled
    at the call sites with an explicit repartition before the join)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "0D, (acc, v) -> acc + v)"
    )


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.expr(f"sqrt({_dot(vec, vec)})"))


def _spread(df: DataFrame) -> DataFrame:
    """Spread the corpus side of a broadcast-joined scoring pass across
    all cores. The embeddings parquet arrives as few (often 1) input
    splits, and a broadcast join never reshuffles the probe side — so
    without this every pair score runs in one task. Round-robin
    repartition costs one narrow shuffle of the (small) corpus and buys
    full-cluster parallelism for the O(corpus x queries) scoring work.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _cosine(a_vec: str, a_norm: str, b_vec: str, b_norm: str) -> F.Column:
    return F.expr(f"({_dot(a_vec, b_vec)}) / ({a_norm} * {b_norm})")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = TOP_K,
) -> DataFrame:
    """sim1: exact top-k nearest neighbors by cosine similarity.

    ``queries`` defaults to the vec_id < N_QUERIES slice of the corpus.
    Self-matches are excluded. Output: (query_id, neighbor_id, rank,
    cosine) with rank 1..k per query.
    """
    corpus = _with_norm(_spread(embeddings)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
    )
    if queries is None:
        queries = embeddings.filter(F.col("vec_id") < N_QUERIES)
    q = _with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        corpus.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("q_emb", "q_norm", "n_emb", "n_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _centroids(embeddings: DataFrame, n_centroids: int | None = None) -> DataFrame:
    """Deterministic centroid set.

    ``n_centroids=None`` (default): one representative vector per label
    (the min vec_id) — a replayable stand-in for k-means "training"
    that both engines compute identically.

    ``n_centroids=k``: k hash-sampled seed vectors — rank the corpus by
    ``(md5(vec_id), vec_id)`` and take the first k. The md5 order is a
    content-stable pseudo-random permutation both engines replicate
    (DuckDB: ``ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT k``), so
    oracles stay exact while k becomes a REAL knob: scale it ~sqrt(n)
    with the corpus and IVF list sizes stay ~sqrt(n), keeping
    within-list pair work (dd5/sd1/sim5) and per-probe scan cost (sim2)
    ~linear in n instead of quadratic. On real data, swap in
    ``pyspark.ml.clustering.KMeans`` on a sample; the build/search
    path is unchanged (nearest-centroid assignment + nprobe search).
    """
    if n_centroids is not None:
        seeds = (
            embeddings.select(
                "vec_id",
                F.md5(F.col("vec_id").cast("string").cast("binary")).alias("h"),
            )
            .orderBy("h", "vec_id")
            .limit(int(n_centroids))
            .select("vec_id")
        )
        return embeddings.join(seeds, "vec_id")
    reps = embeddings.groupBy("label").agg(F.min("vec_id").alias("vec_id")).select("vec_id")
    return embeddings.join(reps, "vec_id")


# flat assignment is n x k dots; past this k the two-level coarse
# quantizer (n x 2*sqrt(k)) wins despite its extra joins
_HIER_THRESHOLD = 128


def _hier_scored(vecs: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """Two-level assignment scoring: route via ~sqrt(k) coarse
    centroids, then score only the routed cell's fine centroids.
    Returns the same (vec_id, v_emb, v_norm, centroid_id, cosine)
    shape as the flat cross-join scoring, restricted to each vector's
    coarse cell. Coarse centroids are the first sqrt(k) fine centroids
    in the seed order (already a hash-random subset, deterministic)."""
    import math

    m = max(int(math.isqrt(k)), 1)
    # the seed list is md5-ordered; reuse its order for the coarse
    # subset so the whole hierarchy is content-stable
    coarse = cents.withColumn(
        "h", F.md5(F.col("centroid_id").cast("string").cast("binary"))
    ).orderBy("h", "centroid_id").limit(m).select(
        F.col("centroid_id").alias("coarse_id"),
        F.col("c_emb").alias("g_emb"),
        F.col("c_norm").alias("g_norm"),
    )
    # fine centroid -> coarse cell (k x m dots, all broadcast-side)
    fine_routed = (
        cents.join(F.broadcast(coarse))
        .withColumn("g_cos", _cosine("c_emb", "c_norm", "g_emb", "g_norm"))
        .groupBy("centroid_id", "c_emb", "c_norm")
        .agg(F.expr("max_by(coarse_id, struct(g_cos, -coarse_id))").alias("coarse_id"))
    )
    # vector -> coarse cell (n x m dots)
    v_routed = (
        vecs.join(F.broadcast(coarse))
        .withColumn("g_cos", _cosine("v_emb", "v_norm", "g_emb", "g_norm"))
        .groupBy("vec_id", "v_emb", "v_norm")
        .agg(F.expr("max_by(coarse_id, struct(g_cos, -coarse_id))").alias("coarse_id"))
    )
    # score each vector against its cell's fine centroids only
    # (n x ~sqrt(k) dots). The fine table is k rows — broadcastable up
    # to k ~ 1e5; past that, drop the hint and let AQE shuffle both
    # sides on coarse_id (the vector side is grouped rows, not raw
    # pairs, so that shuffle is O(n) narrow rows).
    return v_routed.join(F.broadcast(fine_routed), "coarse_id").withColumn(
        "cosine", _cosine("v_emb", "v_norm", "c_emb", "c_norm")
    )


def kmeans_centroid_frame(
    embeddings: DataFrame, k: int = KMEANS_K, max_iter: int = KMEANS_MAX_ITER
) -> DataFrame:
    """Lloyd-REFINED centroid set for the IVF family (the sim8 →
    sim2/sim5/sim6 feed, round-7): fit ``pyspark.ml`` k-means and
    return its centers as a ``(centroid_id, embedding)`` frame that
    drops into :func:`ivf_assignments` / :func:`ivf_topk` via their
    ``centroids=`` parameter — same assignment machinery, better lists
    (lower within-list SSE than the one-shot hash-sampled seeds;
    sim8_bounds gates that inequality at the driver).

    The centers are a k x dim driver-side constant (the model already
    holds them) — rebuilding a DataFrame from them is metadata work,
    and the downstream broadcast is identical to the seed path's.
    Not oracle-replicable (kmeans|| init), so queries built on it are
    measured in pytest/PERFORMANCE.md rather than hash-gated; the
    hash-gated sim2/sim5/sim6 registrations keep the deterministic
    hash seeds."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _spread(embeddings).select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=int(k), maxIter=int(max_iter), seed=20240813, featuresCol="features"
    ).fit(vecs)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return embeddings.sparkSession.createDataFrame(
        rows, "centroid_id long, embedding array<double>"
    )


def seed_centroid_frame(
    embeddings: DataFrame, n_centroids: int | None = None
) -> DataFrame:
    """The deterministic hash-seed centroid set as an EXPLICIT
    ``(centroid_id, embedding)`` frame (round 13) — what an index build
    stores as its FROZEN quantizer so later appends/refreshes assign
    against the same centroids regardless of corpus growth (the sim12
    contract; :func:`knn_join_refresh`'s dirty-list diff needs it:
    corpus-derived seeds drift under a batch — a 10% ingest displaces
    ~10% of the md5-ranked seed set — marking most lists dirty even
    when arrivals cluster). Same rows as the implicit seed set
    :func:`_centroids` derives, reusable via every IVF consumer's
    ``centroids=`` parameter."""
    return _centroids(embeddings, n_centroids).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )


def _centroid_frame(
    embeddings: DataFrame,
    n_centroids: int | None,
    centroids: DataFrame | None,
) -> DataFrame:
    """The (centroid_id, c_emb, c_norm) side every IVF consumer builds:
    an explicit refined set when given, else the deterministic
    hash-sampled seeds (the oracle-replicable default)."""
    if centroids is not None:
        return _with_norm(centroids).select(
            "centroid_id",
            F.col("embedding").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
    return _with_norm(_centroids(embeddings, n_centroids)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )


def ivf_assignments(
    embeddings: DataFrame,
    n_assign: int = 1,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
    hier: bool | None = None,
) -> DataFrame:
    """IVF build: assign every vector to its nearest centroid
    (argmax cosine, ties to the smaller centroid id). Centroids are
    broadcast; assignment is one map-side scored pass + a per-vector
    argmax — the narrow (vec_id, centroid_id) table is the index.

    ``n_assign > 1`` = MULTI-ASSIGNMENT: each vector lands in its top-n
    centroid lists, the standard recall mitigation for near-dup pairs
    split across neighboring lists (cost multiplies candidate volume by
    ≤ n²). Emits up to n rows per vec_id.

    ``n_centroids`` passes through to :func:`_centroids` — scale it
    with the corpus to keep list sizes bounded (n/L for all-pairs
    dedup, ~sqrt(n) for the query path).

    With many centroids the flat assignment itself becomes the
    quadratic term (n × k dot products when k ∝ n), so past
    ``_HIER_THRESHOLD`` centroids assignment goes TWO-LEVEL (the
    IVF coarse-quantizer shape): vectors route through ~sqrt(k)
    coarse centroids, then score only the fine centroids of their
    coarse cell — n × 2·sqrt(k) dots instead of n × k. Measured on
    the 10× near-dup sweep: dd5 11.3× → ~linear. The trade is the
    usual IVF one: a vector whose true nearest fine centroid routes
    to a different coarse cell is assigned to the best fine centroid
    within its own cell.

    ``centroids`` overrides the seed set with an explicit
    ``(centroid_id, embedding)`` frame — e.g. the Lloyd-refined
    centers from :func:`kmeans_centroid_frame`. The assignment plan is
    unchanged (broadcast + argmax; two-level past the threshold, with
    k read from the frame's row count — metadata-sized).

    ``hier`` pins the routing regime explicitly: ``False`` forces the
    flat scoring pass, ``True`` the two-level route, ``None`` (default)
    infers from the effective centroid count. Incremental consumers
    that must reproduce a STORED index's assignments (sim12's
    frozen-quantizer append) pass the regime the index was built with
    instead of re-inferring — the two regimes can assign a borderline
    vector differently, so count-based inference is not a stable
    contract across build and append.
    """
    cents = _centroid_frame(embeddings, n_centroids, centroids)
    vecs = _with_norm(_spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("v_emb"), F.col("norm").alias("v_norm")
    )
    if hier is None:
        # count() on an explicit frame is a (tiny) job — only pay it
        # when the caller did not pin the regime (round 13, §5)
        k_eff = centroids.count() if centroids is not None else n_centroids
        use_hier = k_eff is not None and k_eff > _HIER_THRESHOLD
    else:
        k_eff = n_centroids
        use_hier = hier
    if use_hier:
        scored = _hier_scored(vecs, cents, k_eff if k_eff is not None else cents.count())
    else:
        scored = vecs.join(F.broadcast(cents)).withColumn(
            "cosine", _cosine("v_emb", "v_norm", "c_emb", "c_norm")
        )
    if n_assign > 1:
        # top-n via sorted collect over the tiny per-vector centroid
        # list (|centroids| structs) — still one hash agg, no window
        # sort of the scored stream.
        return (
            scored.groupBy("vec_id")
            .agg(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct((-F.col("cosine")).alias("neg"), F.col("centroid_id"))
                        )
                    ),
                    1,
                    int(n_assign),
                ).alias("top")
            )
            .select("vec_id", F.explode(F.col("top.centroid_id")).alias("centroid_id"))
        )
    # argmax via max_by: a hash aggregate with map-side partials — one
    # narrow shuffle of (vec_id, best) pairs, vs. a window's full sort
    # of every (vec_id, centroid) scored row. Ties break to the
    # smaller centroid_id (max of -centroid_id).
    return scored.groupBy("vec_id").agg(
        F.expr("max_by(centroid_id, struct(cosine, -centroid_id))").alias("centroid_id")
    )


def _ivf_scored_candidates(
    embeddings: DataFrame,
    nprobe: int,
    n_centroids: int | None,
    centroids: DataFrame | None,
) -> DataFrame:
    """Shared IVF probe stage: assign the corpus to centroid lists, rank
    each query's centroids, and exact-score the candidates in the
    query's ``nprobe`` nearest lists. Emits (query_id, neighbor_id,
    cosine) for every candidate — the top-k (sim2) and range (sim14)
    consumers differ only in how they cut this stream."""
    assign = ivf_assignments(embeddings, n_centroids=n_centroids, centroids=centroids)
    corpus = _with_norm(_spread(embeddings)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")

    queries = embeddings.filter(F.col("vec_id") < N_QUERIES)
    cents = _centroid_frame(embeddings, n_centroids, centroids)
    q = _with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("c_cosine"), "centroid_id")
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("c_cosine", _cosine("q_emb", "q_norm", "c_emb", "c_norm"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "centroid_id")
    )
    # broadcast the tiny probe set (n_queries x nprobe rows) so the
    # corpus keeps its partitioning instead of reshuffling onto the
    # low-cardinality centroid key (<= n_centroids busy tasks)
    return (
        corpus.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("q_emb", "q_norm", "n_emb", "n_norm"))
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """sim2: IVF ANN — each query searches only its ``nprobe`` nearest
    centroid lists. Same output contract as sim1 (ranks may differ where
    the true neighbor lives in an unprobed list — that's the trade).
    ``centroids`` swaps in a refined list-building set (see
    :func:`kmeans_centroid_frame`); build and probe use the SAME set."""
    scored = _ivf_scored_candidates(embeddings, nprobe, n_centroids, centroids)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


RANGE_COSINE = 0.30  # sim14 default radius (cosine floor)


def ivf_range_search(
    embeddings: DataFrame,
    threshold: float = RANGE_COSINE,
    nprobe: int = NPROBE,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """sim14: RADIUS search — every neighbor with cosine >= threshold,
    not a fixed top-k (FAISS ``range_search``; the retrieval shape for
    "give me everything semantically close enough", where neighborhood
    sizes are wildly uneven and a global k either truncates dense
    queries or pads sparse ones).

    Same probe plan as sim2 (:func:`_ivf_scored_candidates`): corpus
    keeps its partitioning, the n_queries × nprobe probe set is
    broadcast, and the threshold cuts the scored stream map-side — no
    window, no per-query sort, so the output stage is strictly cheaper
    than top-k. Neighbors in unprobed lists are the usual IVF trade;
    the oracle replicates the probed-list restriction exactly, so the
    gate hash-matches bit-for-bit.
    """
    scored = _ivf_scored_candidates(embeddings, nprobe, n_centroids, centroids)
    return (
        scored.filter(F.col("cosine") >= threshold)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "neighbor_id")
    )


def brp_lsh_neighbors(
    embeddings: DataFrame,
    k: int = TOP_K,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """sim3: MLlib BucketedRandomProjectionLSH ANN (euclidean).

    The ``pyspark.ml``-native scale path: random-projection bucketing
    with OR-amplification across ``num_hash_tables`` tables, then
    ``approxSimilarityJoin`` between the query slice and the corpus —
    only same-bucket pairs are scored, the LSH analogue of sim2's IVF
    probing. Ranked per query by euclidean distance (ties → vec_id).

    LSH hash seeds aren't replicable in an external SQL engine →
    rows-only driver check; pytest asserts recall against sim1's exact
    top-k instead.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = _spread(embeddings).select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=20240813,
    )
    model = lsh.fit(vecs)
    queries = vecs.filter(F.col("vec_id") < N_QUERIES)
    joined = model.approxSimilarityJoin(queries, vecs, float("inf"), distCol="distance")
    pairs = joined.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.round("distance", 6).alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "distance")
        .orderBy("query_id", "rank")
    )


NEARDUP_COSINE = 0.4
NEARDUP_SALTS = 8  # sub-buckets per centroid list for the pair join
SEMDEDUP_COSINE = NEARDUP_COSINE


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = NEARDUP_COSINE,
    n_assign: int = 1,
    n_centroids: int | None = None,
) -> DataFrame:
    """dd5: embedding-cosine near-duplicate pairs, IVF-bucketed.

    Candidates are pairs assigned to the SAME centroid list (never
    all-pairs: with k centroids the pair space shrinks ~k-fold; scale k
    with the corpus). Verification is the exact cosine. Pairs split
    across neighboring lists are the recall trade — ``n_assign=2``
    (top-2 multi-assignment) recovers them at ≤ 4× candidate cost; a
    pair sharing several lists is de-duplicated post-verify, so each
    (vec_a, vec_b) is emitted once regardless of n_assign.

    The within-bucket self-join is SALTED: side B carries salt
    ``vec_id % S``; side A is replicated S times, once per target salt.
    The join key becomes (centroid, salt) — cardinality k x S instead
    of k — so a skewed/giant centroid list spreads its O(n^2) pair
    scoring over S tasks instead of hot-spotting one. Each pair is
    produced exactly once (A meets B only at B's salt).

    ``n_centroids`` ~sqrt(corpus) keeps within-list pair work ~linear
    in the corpus (see :func:`_centroids`).
    """
    assign = ivf_assignments(embeddings, n_assign=n_assign, n_centroids=n_centroids)
    vecs = _with_norm(_spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("emb"), F.col("norm").alias("nrm")
    ).join(assign, "vec_id")
    s = NEARDUP_SALTS
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    # explicit numbered repartition on the join key: AQE honors it, so
    # the compute-heavy scoring stage keeps full parallelism instead of
    # being coalesced down to match its (tiny) shuffle byte size
    a = (
        vecs.withColumn("salt", F.explode(F.expr(f"sequence(0L, {s - 1}L)")))
        .repartition(par, "centroid_id", "salt")
        .alias("a")
    )
    b = vecs.withColumn("salt", F.col("vec_id") % s).alias("b")
    cos = _cosine("a.emb", "a.nrm", "b.emb", "b.nrm")
    out = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
    if n_assign > 1:
        # a pair sharing several centroid lists verifies identically in
        # each — one small distinct on the (already-thresholded) pair
        # list removes the double emission. Kept off the n_assign=1
        # plan, which stays shuffle-for-shuffle identical to round 3.
        out = out.distinct()
    return out.orderBy("vec_a", "vec_b")


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_COSINE,
    n_assign: int = 1,
    n_centroids: int | None = None,
) -> DataFrame:
    """sd1: SemDeDup-style embedding-cluster deduplication accounting.

    The semantic analogue of exact dedup: cluster the corpus (IVF
    nearest-centroid assignment), find within-cluster near-duplicate
    pairs (cosine >= threshold, via :func:`embedding_neardup_pairs` —
    salted, never all-pairs), and keep one representative per
    near-duplicate neighborhood using the min-id rule: a vector is
    DROPPED iff some neighbor has a smaller vec_id. Emits the
    per-cluster retention table a pipeline reviews before committing
    the threshold.

    Scale shape: inherits dd5's bucketed pair generation (pair space
    shrinks ~k-fold with k centroids; salting spreads giant clusters);
    the drop set is one distinct projection of the pair list; the
    rollup is a tiny per-centroid aggregate. SemDeDup (Abbas et al.,
    2023) is exactly this shape at 100 TB — k-means buckets, pairwise
    cosine only within buckets.
    """
    # fates roll up under the PRIMARY assignment (one row per vector)
    # even when pair generation multi-assigns for recall
    assign = ivf_assignments(embeddings, n_centroids=n_centroids)
    # pairs emit vec_a < vec_b, so every vec_b has a smaller-id neighbor
    dropped = (
        embedding_neardup_pairs(embeddings, threshold, n_assign=n_assign, n_centroids=n_centroids)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    fates = assign.join(dropped, "vec_id", "left").select(
        "centroid_id", F.coalesce("is_dropped", F.lit(False)).alias("is_dropped")
    )
    return (
        fates.groupBy("centroid_id")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum(F.col("is_dropped").cast("long")).cast("long").alias("n_dropped"),
            (F.count("*") - F.sum(F.col("is_dropped").cast("long"))).cast("long").alias("n_kept"),
            F.round(
                (F.count("*") - F.sum(F.col("is_dropped").cast("long"))).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("centroid_id")
    )


KNN_K = 5
KNN_ASSIGN = 2  # top-2 multi-assignment (measured: graph recall 0.24 → 0.59)


def knn_join(
    embeddings: DataFrame,
    k: int = KNN_K,
    n_assign: int = KNN_ASSIGN,
    n_centroids: int | None = None,
    ordered: bool = True,
    centroids: DataFrame | None = None,
    hier: bool | None = None,
) -> DataFrame:
    """sim5: approximate k-NN GRAPH — top-k neighbors for EVERY corpus
    vector (not just a query slice): the build step for SemDeDup-style
    clustering, diversity sampling, and graph-based label propagation.

    An exact k-NN join is inherently O(n²); the scale shape is dd5's:
    candidates are restricted to pairs sharing an IVF centroid list, and
    the within-list scoring join is SALTED (side B carries
    ``vec_id % S``, side A replicated per salt) so a giant list spreads
    its quadratic work across S tasks instead of hot-spotting one. Each
    ordered (query, candidate) pair is produced exactly once, then one
    window per query vector takes the top-k. Vectors alone in their
    list emit no rows (no neighbors under the IVF constraint — the
    documented recall trade, same as sim2's unprobed lists).

    Default ``n_assign=2`` multi-assignment: each vector joins its
    top-2 centroid lists, recovering the cross-list neighbors a single
    assignment misses (measured graph recall vs exact brute-force
    k-NN on the synthetic corpus: 0.24 single-assign → 0.59 top-2 —
    the same uplift dd5 measured for pair recall). A pair met in
    several shared lists scores identically each time and is
    de-duplicated before ranking.

    The oracle replicates the centroid assignment and within-list
    ranking exactly (same deterministic centroids, same IEEE fold), so
    this approximate operator still hash-matches bit-for-bit.

    ``n_centroids`` ~sqrt(corpus) keeps within-list pair work ~linear
    in the corpus (see :func:`_centroids`).

    ``ordered=False`` skips the final presentation sort — the graph
    family (dd20–dd23) consumes these edges through joins/aggregates
    that destroy ordering anyway, and the global sort costs a range
    exchange plus its sampling pass per gate (round-12 optimization,
    guide §2.4; the registered sim5 output keeps the sort).

    Round-12 optimization (guide §4.1 "fewer per-row ops"): each side's
    float embedding is cast to array<double> ONCE map-side before the
    pair join; the per-pair fold then multiplies doubles directly
    instead of re-casting 2 x 64 elements per scored pair. float →
    double widening is exact, so the arithmetic (and the oracle hash)
    is bit-identical.

    ``centroids`` / ``hier`` pass through to :func:`ivf_assignments`
    (round 13): a serving path maintaining a STORED graph pins the
    index's frozen quantizer frame and its routing regime so list
    membership depends only on each vector, never on corpus
    composition — the sim12 contract, required for
    :func:`knn_join_refresh` to see few dirty lists under a batch.
    Defaults leave every existing caller's plan unchanged (the
    registered sim5 uses the deterministic corpus-derived seeds).
    """
    assign = ivf_assignments(
        embeddings,
        n_assign=n_assign,
        n_centroids=n_centroids,
        centroids=centroids,
        hier=hier,
    )
    vecs = (
        _with_norm(_spread(embeddings))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.col("norm").alias("nrm"),
        )
        .join(assign, "vec_id")
    )
    s = NEARDUP_SALTS
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    a = (
        vecs.withColumn("salt", F.explode(F.expr(f"sequence(0L, {s - 1}L)")))
        .repartition(par, "centroid_id", "salt")
        .alias("a")
    )
    b = vecs.withColumn("salt", F.col("vec_id") % s).alias("b")
    cos = F.expr(
        "aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        " / (a.nrm * b.nrm)"
    )
    # score each unordered pair ONCE (a < b): cosine is bit-symmetric
    # (zip_with multiplies the same element pairs in the same fold
    # order), so the reverse direction is a projection, not a second
    # 64-dim dot product — measured 2x on the scoring stage.
    half = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        # a pair sharing several centroid lists (multi-assignment)
        # scores identically in each — dedup before ranking/mirroring
        .distinct()
    )
    pairs = half.unionByName(
        half.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    out = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )
    return out.orderBy("vec_id", "rank") if ordered else out


def _knn_topk_tail(half: DataFrame, k: int) -> DataFrame:
    """knn_join's ranking tail over an UNORDERED half-pair stream
    (vec_id < neighbor_id, cosine): mirror both directions, window
    top-k per vector — identical rows to knn_join's own tail."""
    pairs = half.unionByName(
        half.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def knn_join_two_sets(
    embeddings: DataFrame,
    base_embeddings: DataFrame,
    k: int = KNN_K,
    n_assign: int = KNN_ASSIGN,
    n_centroids: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Round-13 optimization (guide §2.3/§5): ``(knn_join(base),
    knn_join(union))`` computed with ONE within-list scoring pass
    instead of two.

    The incremental graph gates (dd23's batch-ingest refresh) build the
    kNN graph TWICE per gate — once over the pre-ingest base corpus to
    materialize the stored edge/label tables, once over the union to
    refresh — and the 64-dim pair scoring join dominates both. The two
    candidate-pair sets overlap almost entirely (a pair leaves/enters
    only where the batch changed list membership or a label's
    representative), and a pair's cosine is the same deterministic fold
    in both, so scoring each pair once and TAGGING which side(s) it
    belongs to halves the dominant stage.

    Exactness: a pair (a, b) is a base candidate iff some centroid list
    contains both under the BASE assignment, and a union candidate iff
    some list contains both under the UNION assignment. Each side's
    assignment is computed exactly as :func:`knn_join` computes it
    (same centroid rule over that side's corpus); the pair join runs
    over the union of the two assignment row-sets and keeps per-pair
    flags ``max(a.in_X and b.in_X)`` across shared lists — precisely
    the exists-a-shared-list predicate each standalone knn_join
    evaluates. Cosines are the identical widened-double fold, and the
    ranking tail is knn_join's verbatim, so both returned frames are
    row-for-row equal to their standalone counterparts (pinned by
    ``tests/test_llm_ops.py::test_knn_join_two_sets_matches_standalone``
    and by dd23's full-hash oracle).

    Returns ``(base_knn, union_knn)``, both unordered (the graph family
    consumes edges through joins/aggregates that destroy order).
    """
    assign_u = ivf_assignments(
        embeddings, n_assign=n_assign, n_centroids=n_centroids
    ).withColumn("in_u", F.lit(1))
    assign_b = ivf_assignments(
        base_embeddings, n_assign=n_assign, n_centroids=n_centroids
    ).withColumn("in_b", F.lit(1))
    tagged = (
        assign_u.join(assign_b, ["vec_id", "centroid_id"], "full_outer")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce("in_u", F.lit(0)).alias("in_u"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
    )
    vecs = (
        _with_norm(_spread(embeddings))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.col("norm").alias("nrm"),
        )
        .join(tagged, "vec_id")
    )
    s = NEARDUP_SALTS
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    a = (
        vecs.withColumn("salt", F.explode(F.expr(f"sequence(0L, {s - 1}L)")))
        .repartition(par, "centroid_id", "salt")
        .alias("a")
    )
    b = vecs.withColumn("salt", F.col("vec_id") % s).alias("b")
    cos = F.expr(
        "aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        " / (a.nrm * b.nrm)"
    )
    half = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
            (F.col("a.in_b") * F.col("b.in_b")).alias("both_b"),
            (F.col("a.in_u") * F.col("b.in_u")).alias("both_u"),
        )
        # the group-by replaces knn_join's `.distinct()`: a pair met in
        # several shared lists (multi-assignment) scores identically in
        # each; max-ing the flags keeps "co-listed on that side in ANY
        # shared list"
        .groupBy("vec_id", "neighbor_id", "cosine")
        .agg(F.max("both_b").alias("in_b"), F.max("both_u").alias("in_u"))
        # both ranking tails consume this one scored frame — cut it, or
        # each side replays the pair join (guide §5)
        .localCheckpoint(eager=False)
    )
    base_knn = _knn_topk_tail(
        half.filter(F.col("in_b") == 1).select("vec_id", "neighbor_id", "cosine"), k
    )
    union_knn = _knn_topk_tail(
        half.filter(F.col("in_u") == 1).select("vec_id", "neighbor_id", "cosine"), k
    )
    return base_knn, union_knn


def knn_join_refresh(
    embeddings: DataFrame,
    base_embeddings: DataFrame,
    stored_knn: DataFrame,
    k: int = KNN_K,
    n_assign: int = KNN_ASSIGN,
    n_centroids: int | None = None,
    centroids: DataFrame | None = None,
    hier: bool | None = None,
    stored_assignments: DataFrame | None = None,
) -> DataFrame:
    """Round-13 (VERDICT r12 item 4): INCREMENTAL maintenance of the
    kNN graph under a batch ingest — re-score only the IVF lists the
    batch changed, reuse the stored top-k edges everywhere else.
    Returns exactly ``knn_join(embeddings, ordered=False)``'s rows
    (same ``centroids``/``hier``/``n_centroids`` arguments on both).

    Inputs: the union corpus, the pre-ingest base slice (base ⊆ union,
    additions only), and the STORED base kNN edge table
    (``knn_join(base)``'s rows under the same quantizer arguments, any
    order).

    Quantizer regime (the part that decides whether the reuse PAYS):
    with corpus-derived seeds (``n_centroids=k``, the default
    hash-sampled set) a 10% ingest displaces ~10% of the md5-ranked
    seed set, so assignments drift corpus-wide and most lists go dirty
    — exactness holds (the diff sees every drifted row) but the
    machinery degrades to a full re-score plus overhead
    (BENCH_INCREMENTAL's ``seed_drift`` row measures it). A serving
    path therefore passes the index's FROZEN quantizer
    (``centroids=`` the stored :func:`seed_centroid_frame`, ``hier``
    pinned to the build regime — the sim12 contract): membership then
    depends only on each vector, dirty lists = exactly the lists the
    batch landed in, and untouched vectors' stored edges pass through
    without any re-scoring.

    ``stored_assignments`` is the serving FAST PATH on top of that
    contract: the (vec_id, centroid_id) table IS the IVF index, so a
    real index stores it — pass it (with the frozen ``centroids``,
    required) and the refresh computes assignments only for the BATCH
    (union \\ base, one anti-join): under a frozen quantizer an old
    vector's assignment is immutable, so the union's assignment table
    is exactly ``stored ∪ assign(batch)`` and the dirty lists are
    directly the batch's own lists — no full-corpus assignment pass,
    no membership diff. Cost then tracks ``batch × n_assign`` lists of
    work. Batch-size physics, measured (BENCH_INCREMENTAL
    ``knn_incremental_realistic``): with L lists a batch of b vectors
    dirties ~min(b·n_assign, L) of them, so the reuse pays when
    ``b·n_assign ≪ L`` (the steady-state small-ingest regime the
    operator exists for) and degrades toward from-scratch-plus-
    overhead as b·n_assign approaches L (the 10% worst-case row).
    Measured with ``bench.py``'s ``knn_incremental_realistic`` code on
    a 4-vCPU VM at ``local[4]`` (n = 50k, 1,000 lists, frozen quantizer
    plus stored assignments, best of 2 reps, 2 rounds): a 0.2% batch
    took 20.9 / 11.6 s incrementally against 132.5 / 93.3 s from
    scratch, and a 10% batch 47.8 / 44.6 s against 68.5 / 68.9 s.
    ``hier`` must be passed with ``stored_assignments``, and a base
    vec_id missing from ``embeddings`` fails the returned frame's job
    (additions only): both would otherwise return wrong rows silently.

    Exactness argument: a vector's top-k depends only on its candidate
    set — the members of the lists it is assigned to (and their
    embeddings, which are per-vec_id immutable). Both sides'
    assignments are recomputed exactly (cheap broadcast map-side
    passes); a list is DIRTY iff its (vec_id, centroid_id) membership
    differs between base and union (computed as one union + one
    side-count aggregate — the dd23 edge-diff shape; this covers
    centroid-set drift too, since a drifted representative changes
    membership rows on both sides). A vector is TOUCHED iff it has a
    union assignment row in a dirty list — this includes every vector
    whose own assignment changed (the lists it left/joined are dirty
    by construction). An untouched vector therefore has the identical
    candidate set and identical cosines as in the base build, so its
    stored rows ARE its union rows; every touched vector's full
    candidate pair set has >= 1 touched endpoint (itself), so scoring
    pairs with a touched endpoint and ranking only touched vectors
    reconstructs their rows exactly. Pinned by
    ``tests/test_llm_ops.py::test_knn_join_refresh_matches_scratch``.

    Scale shape: the re-score join's A side is the TOUCHED membership
    only; on a corpus where a batch lands in few lists the pair work
    tracks the touched lists, not the corpus. Honest boundary (the
    dd21/dd23 caveat): on the dense synthetic gate fixture a 10% batch
    touches EVERY list, so touched == corpus and this degrades to the
    from-scratch join plus a metadata-sized diff — the win appears
    exactly when the graph shatters (BENCH_INCREMENTAL measures both
    regimes).
    """
    if stored_assignments is not None:
        if centroids is None:
            raise ValueError(
                "stored_assignments requires the index's frozen "
                "centroids= frame — corpus-derived seeds drift, which "
                "would invalidate the stored rows"
            )
        if hier is None:
            raise ValueError(
                "stored_assignments requires hier= pinned to the build's "
                "routing regime — inferring it from centroids.count() "
                "could route the batch differently from the stored rows"
            )
        batch = embeddings.join(
            base_embeddings.select("vec_id"), "vec_id", "left_anti"
        )
        assign_new = ivf_assignments(
            batch, n_assign=n_assign, centroids=centroids, hier=hier
        )
        assign_u = stored_assignments.select("vec_id", "centroid_id").unionByName(
            assign_new.select("vec_id", "centroid_id")
        )
        dirty = assign_new.select("centroid_id").distinct()
    else:
        assign_u = ivf_assignments(
            embeddings,
            n_assign=n_assign,
            n_centroids=n_centroids,
            centroids=centroids,
            hier=hier,
        )
        assign_b = ivf_assignments(
            base_embeddings,
            n_assign=n_assign,
            n_centroids=n_centroids,
            centroids=centroids,
            hier=hier,
        )
        dirty = (
            assign_u.select("vec_id", "centroid_id", F.lit(1).alias("side"))
            .unionByName(
                assign_b.select("vec_id", "centroid_id", F.lit(-1).alias("side"))
            )
            .groupBy("vec_id", "centroid_id")
            .agg(F.sum("side").alias("imbalance"))
            .filter(F.col("imbalance") != 0)
            .select("centroid_id")
            .distinct()
        )
    touched = (
        assign_u.join(F.broadcast(dirty), "centroid_id", "left_semi")
        .select("vec_id")
        .distinct()
        # three consumers across SEPARATE materialization points (the
        # A-side semi-join, the B-side flag, the passthrough anti-join)
        .localCheckpoint(eager=False)
    )
    vecs = (
        _with_norm(_spread(embeddings))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            F.col("norm").alias("nrm"),
        )
        .join(assign_u, "vec_id")
    )
    s = NEARDUP_SALTS
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    a = (
        vecs.join(touched, "vec_id", "left_semi")
        .withColumn("salt", F.explode(F.expr(f"sequence(0L, {s - 1}L)")))
        .repartition(par, "centroid_id", "salt")
        .alias("a")
    )
    b = (
        vecs.join(
            F.broadcast(touched.withColumn("t", F.lit(1))), "vec_id", "left"
        )
        .withColumn("salt", F.col("vec_id") % s)
        .alias("b")
    )
    cos = F.expr(
        "aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        " / (a.nrm * b.nrm)"
    )
    # pair orientation: touched-touched pairs score once (a < b);
    # a touched vector also needs its pairs with LARGER-id untouched
    # co-members — allowed only when b is untouched, so nothing scores
    # twice. On the all-touched fixture this reduces to exactly the
    # from-scratch a < b pair set.
    half = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (
                (F.col("a.vec_id") < F.col("b.vec_id"))
                | (
                    (F.col("a.vec_id") > F.col("b.vec_id"))
                    & F.col("b.t").isNull()
                )
            ),
        )
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_id"),
            F.greatest("a.vec_id", "b.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .distinct()
    )
    rescored = _knn_topk_tail(half, k).join(touched, "vec_id", "left_semi")
    untouched = stored_knn.select(
        "vec_id", "neighbor_id", "rank", "cosine"
    ).join(touched, "vec_id", "left_anti")
    # additions only: a base vector missing from the union fails the
    # refresh's own job instead of passing its stale rows through
    removed = base_embeddings.select("vec_id").join(
        embeddings.select("vec_id"), "vec_id", "left_anti"
    )
    guard = removed.select(
        *(
            F.raise_error(
                F.concat(
                    F.lit("knn_join_refresh: base vec_id "),
                    F.col("vec_id").cast("string"),
                    F.lit(" is missing from embeddings (base must be a subset)"),
                )
            )
            .cast(f.dataType)
            .alias(f.name)
            for f in untouched.schema.fields
        )
    )
    return untouched.unionByName(rescored).unionByName(guard)


QUANT_BITS_MAX = 127  # int8 symmetric range


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """sim7: symmetric int8 scalar quantization of the embedding
    column — the storage form a 100 TB vector corpus actually ships
    (4x smaller than float32, and the form IVF/PQ engines scan).

    Per vector: ``scale = 127 / max(|v_i|)``, ``q_i = round(v_i *
    scale)`` (ties away from zero in both engines). Entirely map-side
    expression work — no UDF, no shuffle before the final presentation
    sort. The per-vector max is order-free and every element op is a
    pure function of that one double, so Spark and DuckDB produce
    bit-identical int arrays; ``max_abs_err`` (the dequantization
    error bound, rounded 6dp) rides along as the audit column.

    A degenerate all-zero vector keeps scale NULL and an all-zero
    ``q`` (nothing to scale); real corpora never hit it, but the rule
    is pinned so both engines agree.
    """
    max_abs = F.expr(
        "array_max(transform(embedding, x -> abs(cast(x as double))))"
    )
    out = (
        _spread(embeddings)
        .withColumn("max_abs", max_abs)
        .withColumn(
            "scale",
            F.when(F.col("max_abs") > 0, F.lit(float(QUANT_BITS_MAX)) / F.col("max_abs")),
        )
        .withColumn(
            "q",
            F.expr(
                "transform(embedding, x -> CAST(round(CASE WHEN scale IS NULL THEN 0.0D "
                "ELSE cast(x as double) * scale END) AS INT))"
            ),
        )
        .withColumn(
            "max_abs_err",
            F.round(
                F.expr(
                    "CASE WHEN scale IS NULL THEN 0.0D ELSE "
                    "array_max(zip_with(embedding, q, "
                    "(x, qi) -> abs(cast(x as double) - cast(qi as double) / scale))) END"
                ),
                6,
            ),
        )
    )
    return out.select(
        "vec_id", "q", F.round("scale", 6).alias("scale"), "max_abs_err"
    ).orderBy("vec_id")


PQ_SUBSPACES = 8   # M: 64-dim vectors -> 8 subspaces of 8 dims
PQ_CODEWORDS = 16  # K': codewords per subspace (4-bit codes)


def pq_encode(
    embeddings: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """sim9: PRODUCT QUANTIZATION — the compression step below sim7's
    int8 (a 64-dim float32 vector becomes M=8 4-bit codes: 4 bytes,
    64× smaller), and the storage form IVF-PQ engines actually scan at
    100 TB. Each vector is split into M contiguous subvectors; per
    subspace, the codebook is the corresponding slice of K'
    deterministic md5-hash-sampled seed vectors (the :func:`_centroids`
    order, so both engines build the identical codebook without
    training), and the code is the argmin squared-L2 codeword (ties to
    the smaller code index). Output: ``pq_code`` ('-'-joined codes in
    subspace order) + ``recon_sse`` (the summed per-subspace min d² —
    the reconstruction-error audit, like sim7's max_abs_err).

    Determinism: codeword index = rank in (md5(vec_id), vec_id) order;
    every d² is the strict left-to-right IEEE fold over the slice, so
    argmin ties and values match DuckDB bit-for-bit — a quantizer with
    a full hash gate.

    Scale shape: ONE broadcast join of the corpus against the M×K'
    (=128-row) codebook — M·K' slice-d² evaluations per vector,
    map-side — then two hash aggregations (per (vec, subspace) argmin,
    per-vec assembly). No shuffle carries anything wider than
    (vec_id, m, code, d2). Swap the seed codebook for per-subspace
    k-means (the :func:`kmeans_centroid_frame` pattern) on real data;
    encoding is unchanged.
    """
    best = _pq_best(embeddings, n_subspaces, n_codewords)
    # recon_sse: strict m-ordered left-to-right fold (NOT SUM, whose
    # accumulation order floats with partitioning) — the same
    # determinism discipline as adc_dist, so the hash gate never
    # depends on round() masking ULP reordering.
    return (
        best.groupBy("vec_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(m, code))), s -> cast(s.code as string))"),
                "-",
            ).alias("pq_code"),
            F.round(
                F.expr(
                    "aggregate(transform(array_sort(collect_list(struct(m, d2))), "
                    "s -> s.d2), 0D, (acc, v) -> acc + v)"
                ),
                6,
            ).alias("recon_sse"),
        )
        .orderBy("vec_id")
    )


def _pq_codebook(embeddings: DataFrame, n_subspaces: int, n_codewords: int) -> DataFrame:
    """(m, code, c_emb) — the K' md5-sampled seed vectors exploded per
    subspace; code index = rank in the deterministic seed order."""
    h = F.md5(F.col("vec_id").cast("string").cast("binary"))
    w = Window.orderBy("h", "vec_id")
    seeds = (
        embeddings.select("vec_id", "embedding", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(int(n_codewords))
        .withColumn("code", F.row_number().over(w) - 1)
        .select("code", F.col("embedding").alias("c_emb"))
    )
    return seeds.withColumn("m", F.explode(F.expr(f"sequence(0, {n_subspaces - 1})")))


def _pq_slice_d2(vec_col: str, n_subspaces: int) -> F.Column:
    dim_per = EMB_DIM // n_subspaces
    return F.expr(
        f"aggregate(zip_with(slice({vec_col}, m * {dim_per} + 1, {dim_per}), "
        f"slice(c_emb, m * {dim_per} + 1, {dim_per}), "
        "(x, y) -> (cast(x as double) - cast(y as double)) "
        "* (cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
    )


def _pq_best(
    embeddings: DataFrame,
    n_subspaces: int,
    n_codewords: int,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, m, code, d2): each vector's argmin codeword per
    subspace — one broadcast join + map-side slice-d2 + one argmin agg.
    ``codebook`` overrides the corpus-derived seed codebook (the frozen
    quantizer of sim12's index append)."""
    if codebook is None:
        codebook = _pq_codebook(embeddings, n_subspaces, n_codewords)
    scored = (
        _spread(embeddings)
        .select("vec_id", "embedding")
        .join(F.broadcast(codebook))
        .withColumn("d2", _pq_slice_d2("embedding", n_subspaces))
    )
    return scored.groupBy("vec_id", "m").agg(
        F.expr("min_by(code, struct(d2, code))").alias("code"),
        F.min("d2").alias("d2"),
    )


def _pq_codes(
    embeddings: DataFrame,
    n_subspaces: int,
    n_codewords: int,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, codes): the per-vector PQ code array in subspace order —
    the compressed corpus an ADC scan reads."""
    return (
        _pq_best(embeddings, n_subspaces, n_codewords, codebook=codebook)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code))), s -> s.code)"
            ).alias("codes")
        )
    )


def ivfpq_encode_batch(
    index: dict[str, DataFrame],
    new_vectors: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """The batch-only encode leg of :func:`ivfpq_append`: the
    (vec_id, codes, centroid_id) rows for ``new_vectors`` under the
    index's FROZEN quantizer — the stored centroids, codebook, and
    assignment regime (``meta.hier_assign``). This is the row set a
    streaming ingest appends per micro-batch (sim13): the stored coded
    corpus is never read, so per-batch cost is two broadcast passes
    over the batch alone."""
    cents = index["centroids"].select(
        "centroid_id", F.col("c_emb").alias("embedding")
    )
    hier: bool | None = None
    if "meta" in index:
        hier = bool(index["meta"].select("hier_assign").first()["hier_assign"])
    assign = ivf_assignments(new_vectors, centroids=cents, hier=hier)
    return _pq_codes(
        new_vectors, n_subspaces, n_codewords, codebook=index["codebook"]
    ).join(assign, "vec_id")


def ivfpq_append(
    index: dict[str, DataFrame],
    new_vectors: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> dict[str, DataFrame]:
    """sim12: ADD a vector batch to a stored IVF-PQ index with a FROZEN
    quantizer (FAISS ``add()`` semantics): new vectors are assigned to
    the STORED centroids and coded against the STORED codebook — the
    index definition never drifts with ingest, so stored codes stay
    comparable and nothing is re-encoded. Returns the merged index
    (centroids/codebook unchanged, codes = stored ∪ new batch).

    Scale shape: per-batch work is one broadcast assignment pass + one
    broadcast codebook encode over the BATCH only; the stored coded
    corpus is untouched (an append-only parquet write at scale).

    The assignment REGIME comes from the index's stored ``meta`` row
    (``hier_assign``), never from the centroid count: a label-rep
    index (``n_centroids=None``) was built with the flat pass
    regardless of how many label-reps exist, and replaying the stored
    regime is what keeps appended assignments consistent with stored
    ones. Indexes persisted before ``meta`` existed fall back to the
    count-based inference they were built under.
    """
    new_codes = ivfpq_encode_batch(index, new_vectors, n_subspaces, n_codewords)
    merged = {
        "codes": index["codes"].unionByName(new_codes),
        "centroids": index["centroids"],
        "codebook": index["codebook"],
    }
    if "meta" in index:
        merged["meta"] = index["meta"]
    return merged


def ivfpq_upsert(
    index: dict[str, DataFrame],
    upserts: DataFrame,
    delete_ids: DataFrame | None = None,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> dict[str, DataFrame]:
    """sim17: READ-FREE index maintenance for UPDATE and DELETE — the
    dense-retrieval analogue of the lexical t17b (the reference's
    write path is update-heavy by design: ``UPDATE files SET
    checksum…``, file_indexer/indexer.py:424-448; a vector index that
    only adds is the first leg a real user hits).

    Unlike t17b's anti-join rewrite, the stored coded corpus here is
    NEVER read or rewritten at upsert time — the FAISS/Lucene segment
    discipline instead:

      * ``tombstones`` — (vec_id) rows masking stored codes: every
        deleted id plus every upserted id (its stored code row is
        superseded).  Appended, never merged, at upsert time.
      * ``delta`` — the batch's fresh codes under the FROZEN quantizer
        (:func:`ivfpq_encode_batch` — stored centroids, stored
        codebook, stored assignment regime).  Per-batch cost is two
        broadcast passes over the BATCH alone.

    The serve path (:func:`ivfpq_topk_from_index`) applies the mask as
    a broadcast anti-join on the code scan — at 100 TB a bloom-sized
    id set filtered map-side — and unions the delta; so upsert cost is
    O(batch) and serve cost is unchanged until fragmentation is folded
    away by :func:`ivfpq_compact` (the w10 discipline, t18's dense
    twin).

    Composes over repeated calls: a later batch's ids supersede an
    earlier delta's rows the same way they supersede stored ones.
    Contract: ``delete_ids`` is disjoint from ``upserts``'s ids (an id
    in both would be masked AND re-added — reject at the call site).
    Upserting the same batch twice is idempotent.
    """
    touched = upserts.select("vec_id")
    if delete_ids is not None:
        touched = touched.unionByName(delete_ids.select("vec_id"))
    touched = touched.distinct()
    new_codes = ivfpq_encode_batch(index, upserts, n_subspaces, n_codewords)
    delta = index.get("delta")
    if delta is not None:
        delta = delta.join(
            F.broadcast(touched), "vec_id", "left_anti"
        ).unionByName(new_codes)
    else:
        delta = new_codes
    tombstones = index.get("tombstones")
    if tombstones is not None:
        tombstones = tombstones.unionByName(touched).distinct()
    else:
        tombstones = touched
    out = {k: v for k, v in index.items()}
    out["tombstones"] = tombstones
    out["delta"] = delta
    return out


def ivfpq_effective_codes(index: dict[str, DataFrame]) -> DataFrame:
    """The logical coded corpus of a (possibly edited) IVF-PQ index:
    stored codes minus the tombstone mask, plus the delta segment.
    For a never-edited index this is exactly ``index["codes"]`` — the
    serve plan is unchanged unless edits exist."""
    codes = index["codes"]
    if "tombstones" in index:
        codes = codes.join(F.broadcast(index["tombstones"]), "vec_id", "left_anti")
    if "delta" in index:
        codes = codes.unionByName(index["delta"].select(*codes.columns))
    return codes


# list-range partition count for the clustered codes layout; at 100 TB
# this scales with the list count (each range partition should hold a
# few row groups per inverted list so probe reads prune tightly)
IVFPQ_CODES_RANGE_PARTITIONS = 8


def write_ivfpq_index(
    spark, index: dict[str, DataFrame], workdir: str
) -> dict[str, DataFrame]:
    """Materialize the index tables to parquet with codes CLUSTERED BY
    LIST (``repartitionByRange("centroid_id")`` + sort-within) — the
    layout every serve-path docstring in this module assumes: a probe
    touching nprobe lists reads only those row groups.  Shared by the
    sim11 build landing and sim18 compaction — one layout discipline,
    one writer.  Maintenance keys (``tombstones``/``delta``) are
    written as-is when present so an edited index round-trips.

    The tables are independent (no shared checkpoint in any lineage),
    so they land in one overlapped :func:`land_tables` call — the
    broadcast-sized centroid/codebook/meta writes back-fill the cores
    the clustered code write leaves idle in its tail."""
    tables = dict(index)
    if "codes" in tables:
        tables["codes"] = tables["codes"].repartitionByRange(
            IVFPQ_CODES_RANGE_PARTITIONS, "centroid_id"
        ).sortWithinPartitions("centroid_id", "vec_id")
    return land_tables(spark, tables, workdir)


def ivfpq_compact(
    spark, index: dict[str, DataFrame], workdir: str
) -> dict[str, DataFrame]:
    """sim18: dense-index COMPACTION — fold the tombstone mask and the
    delta segment into the stored codes and rewrite list-clustered
    (t18's discipline on the dense leg).  After N upserts the serve
    scan carries an N-batch union plus an anti-join; compaction
    restores the single clustered code table — one logical pass over
    the codes, NO re-encoding (the quantizer is frozen, so codes are
    already final).  Contents are untouched: the served ranking is
    bit-identical before and after (the gate hashes both against the
    same frozen-quantizer oracle)."""
    folded = {
        k: v for k, v in index.items() if k not in ("tombstones", "delta")
    }
    folded["codes"] = ivfpq_effective_codes(index)
    return write_ivfpq_index(spark, folded, workdir)


# the standard RRF smoothing constant (Cormack et al., the value
# every production hybrid-search stack defaults to)
RRF_K = 60


def rrf_fuse(
    dense: DataFrame,
    lexical: DataFrame,
    k: int = RRF_K,
    topk: int = TOP_K,
) -> DataFrame:
    """sim19: RECIPROCAL RANK FUSION — the modern hybrid-retrieval
    primitive: fuse the dense ANN ranking (sim10's per-query
    (query_id, neighbor_id, rank)) with the lexical BM25 ranking
    (t15's (doc_id, rank), one fixed text query shared by every
    dense query) into one candidate list per query, scored
    ``sum(1 / (k + rank))`` over the legs that ranked the doc.

    Exactness: each fused score is ONE two-term IEEE addition of two
    divisions with integer operands — identical left-to-right
    arithmetic in both engines, so the composed operator hash-gates
    even though both inputs are float rankings.

    Scale shape: both inputs are already top-k truncated —
    queries × k rows, corpus-independent.  The lexical list replicates
    per query via a bounded broadcast cross (n_queries × k rows); the
    leg merge is a FULL OUTER equi-join on (query_id, doc_id); one
    per-query window ranks the fused candidates.  Nothing here ever
    touches the corpus — fusion is pure result-set algebra, which is
    exactly why hybrid search stays cheap at 100 TB: each leg prunes
    with its own index and only the top-k lists meet.
    """
    d = dense.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_dense"),
    )
    lx = lexical.select("doc_id", F.col("rank").alias("r_lex"))
    lex_per_q = d.select("query_id").distinct().join(F.broadcast(lx))
    cand = d.join(lex_per_q, ["query_id", "doc_id"], "full_outer")
    score = F.coalesce(
        F.expr(f"1.0D / CAST({k} + r_dense AS DOUBLE)"), F.lit(0.0)
    ) + F.coalesce(F.expr(f"1.0D / CAST({k} + r_lex AS DOUBLE)"), F.lit(0.0))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        cand.select("query_id", "doc_id", score.alias("rrf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.round("rrf", 6).alias("rrf_score"),
        )
        .orderBy("query_id", "rank")
    )


def _pq_query_tables(
    embeddings: DataFrame, n_subspaces: int, n_codewords: int
) -> DataFrame:
    """(query_id, tab): per-query ADC lookup table — M x K' slice-d²s
    against the codebook, flattened in (m, code) order so a candidate's
    distance is ``tab[m * K' + codes[m]]`` summed over m."""
    return (
        embeddings.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .join(F.broadcast(_pq_codebook(embeddings, n_subspaces, n_codewords)))
        .withColumn("qd2", _pq_slice_d2("q_emb", n_subspaces))
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code, qd2))), s -> s.qd2)"
            ).alias("tab")
        )
    )


def _adc_dist(n_subspaces: int, n_codewords: int) -> F.Column:
    """Strict left-to-right fold over subspace order — never a SQL SUM,
    whose accumulation order floats with partitioning."""
    return F.expr(
        f"aggregate(sequence(0, {n_subspaces - 1}), 0D, "
        f"(acc, m) -> acc + tab[m * {n_codewords} + codes[m]])"
    )


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
    n_centroids: int | None = None,
) -> DataFrame:
    """sim10: IVF-PQ — the actual 100 TB ANN serving shape (Jégou et
    al., the FAISS ``IVFx,PQy`` index): sim2's inverted-list pruning
    composed with sim9's product-quantized codes and the ADC scan of
    :func:`pq_adc_topk`. Each query probes only its ``nprobe`` nearest
    centroid lists and scans COMPRESSED 4-byte codes there — candidate
    volume falls by n_lists/nprobe and the scan reads 64× fewer bytes
    than the float corpus, which is why this pair of tricks is the one
    that survives at 100 TB.

    Determinism: the IVF side is sim2's exactly-replicable assignment
    (label-rep centroids, IEEE-fold cosines, smaller-id ties); the PQ
    side is sim9's md5-seeded codebook; adc_dist is the strict
    m-ordered fold; ties rank by neighbor_id — so the full composed
    index hash-gates bit-for-bit against DuckDB.

    Scale shape: the corpus never reshuffles — codes join the
    (vec_id → centroid_id) assignment on vec_id (both sides partitioned
    by vec_id; at scale the codes table is WRITTEN clustered by list,
    making this a metadata join), then the tiny probe set
    (queries × nprobe rows, with each query's 128-double ADC table)
    broadcasts onto it. Map-side lookups, one per-query top-k window.
    """
    index = ivfpq_index_tables(
        embeddings, n_subspaces, n_codewords, n_centroids=n_centroids
    )
    queries = embeddings.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_from_index(
        index, queries, k=k, nprobe=nprobe,
        n_subspaces=n_subspaces, n_codewords=n_codewords,
    )


def ivfpq_index_tables(
    embeddings: DataFrame,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
    n_centroids: int | None = None,
) -> dict[str, DataFrame]:
    """The materializable IVF-PQ index behind sim10/sim11: the coded
    corpus (vec_id, codes, centroid_id) — 4 bytes of payload per
    vector, written clustered by list at scale — plus the centroid
    frame and the M×K' codebook (both broadcast-sized). Build once per
    corpus snapshot; every query batch reads ONLY these narrow tables
    (sim11 gates the parquet round-trip) — the raw float corpus is
    never touched at serving time.

    ``meta`` records the build configuration (``n_centroids``,
    ``hier_assign``) as a one-row table so maintenance operations
    (:func:`ivfpq_append`) replay the STORED assignment regime instead
    of inferring one from the centroid-frame row count — an index
    built with the label-rep default (``n_centroids=None``) always
    assigned FLAT even when label-reps outnumber ``_HIER_THRESHOLD``,
    and an append that re-inferred two-level routing from the count
    would break the append==rebuild equivalence."""
    assign = ivf_assignments(embeddings, n_centroids=n_centroids)
    hier_assign = n_centroids is not None and n_centroids > _HIER_THRESHOLD
    meta = embeddings.sparkSession.createDataFrame(
        [(n_centroids, hier_assign, int(n_subspaces), int(n_codewords))],
        "n_centroids long, hier_assign boolean, n_subspaces long, n_codewords long",
    )
    return {
        "codes": _pq_codes(embeddings, n_subspaces, n_codewords).join(
            assign, "vec_id"
        ),
        "centroids": _centroid_frame(embeddings, n_centroids, None),
        "codebook": _pq_codebook(embeddings, n_subspaces, n_codewords),
        "meta": meta,
    }


def ivfpq_topk_from_index(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """The serving phase of IVF-PQ, decoupled from index construction:
    ``queries`` is a (query_id, embedding) batch; ``index`` is
    :func:`ivfpq_index_tables` (live frames or parquet re-reads —
    sim11). Per batch: nprobe centroid ranking + one ADC table against
    the broadcast codebook per query, then map-side code lookups over
    only the probed lists and one per-query top-k window."""
    q = _with_norm(queries.select(F.col("query_id").alias("vec_id"), "embedding")).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("c_cosine"), "centroid_id")
    probes = (
        q.join(F.broadcast(index["centroids"]))
        .withColumn("c_cosine", _cosine("q_emb", "q_norm", "c_emb", "c_norm"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    q_tabs = (
        q.select("query_id", "q_emb")
        .join(F.broadcast(index["codebook"]))
        .withColumn("qd2", _pq_slice_d2("q_emb", n_subspaces))
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code, qd2))), s -> s.qd2)"
            ).alias("tab")
        )
    )
    probe_tabs = probes.join(q_tabs, "query_id")
    scored = (
        _spread(ivfpq_effective_codes(index))
        .join(F.broadcast(probe_tabs), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_dist", _adc_dist(n_subspaces, n_codewords))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("adc_dist", 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    k: int = TOP_K,
    n_subspaces: int = PQ_SUBSPACES,
    n_codewords: int = PQ_CODEWORDS,
) -> DataFrame:
    """sim10: ASYMMETRIC DISTANCE COMPUTATION top-k over the PQ codes —
    the search half of IVF-PQ (Jégou et al.), composing sim9. Each
    query precomputes a (M × K') distance TABLE against the codebook
    (here 128 doubles); a candidate's approximate distance is then M
    table lookups summed — 8 adds per candidate instead of a 64-dim
    dot product. That asymmetry (raw query vs coded corpus) is what
    lets a 100 TB engine scan compressed codes at memory bandwidth.

    Determinism: the per-candidate sum is a strict left-to-right fold
    over subspace order on BOTH engines (never a SQL SUM, whose
    accumulation order floats), the table is built with the same slice
    fold as the encoder, and ties rank by neighbor_id — so an
    approximate-search operator hash-gates bit-for-bit.

    Scale shape: corpus codes (one narrow array row per vector) join
    the BROADCAST query tables (queries × 128 doubles); the scan is
    map-side lookups + one per-query top-k window. Compose with sim2's
    probing to scan only nprobe lists; this operator is the full-scan
    ADC baseline, exactly as sim1 is to sim2."""
    codes = _pq_codes(embeddings, n_subspaces, n_codewords)
    q_tab = _pq_query_tables(embeddings, n_subspaces, n_codewords)
    scored = (
        _spread(codes)
        .join(F.broadcast(q_tab))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_dist", _adc_dist(n_subspaces, n_codewords))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("adc_dist", 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


def kmeans_clusters(
    embeddings: DataFrame, k: int = KMEANS_K, max_iter: int = KMEANS_MAX_ITER
) -> DataFrame:
    """sim8: REAL iterative Lloyd k-means over the embedding corpus via
    ``pyspark.ml.clustering.KMeans`` — the multi-round refinement pass
    the one-shot IVF seeding (``_centroids``) deliberately skips, and
    the second true ITERATIVE algorithm in the repo beside dd7's
    connected components.

    Per-cluster summary out (cluster id, size, mean intra-cluster
    cosine-ish distance via the model's cost column is NOT exposed —
    sizes + per-cluster vec_id extrema keep the output deterministic
    ENOUGH to gate rows+schema at the driver), full per-vector
    assignment available via ``transform``. kmeans|| init with a fixed
    seed is deterministic for a fixed partitioning but NOT replicable
    in an external SQL engine → rows-only driver check; pytest pins
    the invariants that matter instead: exactly k non-empty clusters
    on a spread corpus, every vector assigned once, and total
    within-cluster SSE at or below the one-shot IVF seeding's SSE
    after the same assignment rule (Lloyd only improves the
    objective).

    100 TB shape: each iteration is one broadcast of k centroids + a
    map-side assignment + a k-row partial-agg shuffle — the same
    per-round cost as sim6's assignment, ×max_iter rounds.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = _spread(embeddings).select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(
        k=int(k), maxIter=int(max_iter), seed=20240813, featuresCol="features"
    ).fit(vecs)
    assigned = model.transform(vecs)
    return (
        assigned.groupBy(F.col("prediction").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
        .orderBy("cluster_id")
    )


def recall_eval(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """sim15: the recall@k evaluation harness — per benchmark query,
    how many of the exact top-k (sim1) the IVF search (sim2) returned.
    "Measure, don't guess": this is the number that justifies every
    nprobe/centroid-count decision the ANN family documents, computed
    as a first-class gated operator instead of a pytest-only assert
    (sim2's recall floor pins a scalar; this exposes the per-query
    distribution a tuning loop actually reads).

    Scale shape: both legs are the measured operators themselves; the
    comparison join runs over two bounded result sets (n_queries × k
    rows each — metadata-sized at ANY corpus scale), so the harness
    adds nothing to the search cost. Recall's division is one exact
    IEEE double op per query row.
    """
    exact = cosine_topk(embeddings, k=k).select("query_id", "neighbor_id")
    approx = (
        ivf_topk(embeddings, k=k)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_matched"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_matched",
            F.round(F.col("n_matched") / F.col("n_exact"), 4).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


PROTO_QUOTA = 8  # kept members per IVF cluster in the prototype sample


def prototype_sample(embeddings: DataFrame, quota: int = PROTO_QUOTA) -> DataFrame:
    """sp11: COVERAGE-PRESERVING subsampling in embedding space — keep
    the ``quota`` most PROTOTYPICAL members of every IVF cluster (the
    members nearest their centroid). Where sp2 caps by source and sp5
    stratifies by a label column, this stratifies by the geometry of
    the data itself: rare modes keep representation (every cluster
    keeps members) while dense modes shed their bulk — the
    cluster-balanced selection step embedding-curation pipelines run
    after SemDeDup-style pruning.

    Scale shape: centroids broadcast (sim2's deterministic label-rep
    set — swap in kmeans_centroid_frame on real data); assignment is
    the map-side scored pass + per-vector argmax; the prototype rank
    is ONE window per centroid partition over the narrow assignment
    stream. Both windows carry (id, cosine) rows only — the embedding
    arrays never shuffle. Determinism: the cosine is the strict
    left-to-right fold both engines replicate; ties break on vec_id.
    """
    cents = _centroid_frame(embeddings, None, None)
    vecs = _with_norm(_spread(embeddings)).select(
        "vec_id", F.col("embedding").alias("v_emb"), F.col("norm").alias("v_norm")
    )
    scored = vecs.join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        _cosine("v_emb", "v_norm", "c_emb", "c_norm").alias("cosine"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "centroid_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "cosine")
    )
    w_proto = Window.partitionBy("centroid_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        assigned.withColumn("proto_rank", F.row_number().over(w_proto))
        .filter(F.col("proto_rank") <= quota)
        .select(
            "centroid_id",
            "vec_id",
            F.col("proto_rank").cast("integer").alias("proto_rank"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("centroid_id", "proto_rank")
    )


# sim16: MMR re-ranking parameters. LAMBDA trades relevance against
# diversity; CANDIDATES bounds the per-query working set the greedy
# pass touches (the serving contract: re-rank NEVER sees the corpus).
MMR_LAMBDA = 0.7
MMR_CANDIDATES = 20
MMR_SELECT = 5


def mmr_rerank(
    embeddings: DataFrame,
    lam: float = MMR_LAMBDA,
    n_candidates: int = MMR_CANDIDATES,
    n_select: int = MMR_SELECT,
) -> DataFrame:
    """sim16: Maximal Marginal Relevance — greedy diversified top-k
    over a BOUNDED candidate set: pick argmax of
    ``lam * rel(c) - (1 - lam) * max_sim(c, selected)``, ``n_select``
    times. The de-duplicating re-rank every retrieval pipeline runs
    between ANN and the consumer (near-identical neighbors waste
    context slots).

    Scale shape: candidates come from the sim1/sim2 path (broadcast
    queries, corpus scanned once); candidate PAIRWISE sims are
    O(queries x k^2) — corpus-independent; the greedy recurrence runs
    per query in one Arrow batch (``applyInPandas`` grouped on
    query_id, bounded k^2 rows per group), parallel ACROSS queries.
    The corpus is never joined against itself and the greedy never
    leaves the executor.

    Determinism: rel and pairwise sims are the strict left-to-right
    ``_dot`` folds (bit-identical across engines); the greedy compares
    doubles with a (mmr DESC, candidate ASC) tie-break, exactly as the
    oracle's unrolled per-step ``row_number`` does.
    """
    import pandas as pd

    corpus = _with_norm(_spread(embeddings)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("norm").alias("n_norm"),
    )
    q = _with_norm(embeddings.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        corpus.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rel", _cosine("q_emb", "q_norm", "n_emb", "n_norm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "neighbor_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_candidates)
        .select("query_id", "neighbor_id", "rel", "n_emb", "n_norm")
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("cand_a"),
        F.col("rel").alias("rel_a"),
        F.col("n_emb").alias("emb_a"),
        F.col("n_norm").alias("norm_a"),
    )
    b = cand.select(
        "query_id",
        F.col("neighbor_id").alias("cand_b"),
        F.col("n_emb").alias("emb_b"),
        F.col("n_norm").alias("norm_b"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("cand_a") != F.col("cand_b"))
        .select(
            "query_id",
            "cand_a",
            "rel_a",
            "cand_b",
            _cosine("emb_a", "norm_a", "emb_b", "norm_b").alias("sim"),
        )
    )
    # Seed every candidate with a self-row (sim NULL, never read by the
    # greedy: max_sim only consults ALREADY-SELECTED neighbors, which can
    # never include the candidate itself).  Without it a query with exactly
    # ONE candidate has an empty pairwise join, the applyInPandas group
    # never exists, and the query silently emits no rows while the oracle's
    # sel1 CTE still emits rank 1 (ADVICE r10).
    pairs = pairs.unionByName(
        cand.select(
            "query_id",
            F.col("neighbor_id").alias("cand_a"),
            F.col("rel").alias("rel_a"),
            F.col("neighbor_id").alias("cand_b"),
            F.lit(None).cast("double").alias("sim"),
        )
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sim = {}
        for ca, ra, cb, s in zip(
            pdf["cand_a"], pdf["rel_a"], pdf["cand_b"], pdf["sim"]
        ):
            rel[int(ca)] = float(ra)
            if int(ca) != int(cb):  # self-seed rows carry no sim
                sim[(int(ca), int(cb))] = float(s)
        selected: list[int] = []
        out_rows = []
        cands = sorted(rel)
        for step in range(1, min(n_select, len(cands)) + 1):
            best_c, best_mmr = None, None
            for c in cands:
                if c in selected:
                    continue
                ms = max((sim[(c, s)] for s in selected), default=0.0)
                mmr = lam * rel[c] - (1.0 - lam) * ms
                if best_c is None or mmr > best_mmr or (
                    mmr == best_mmr and c < best_c
                ):
                    best_c, best_mmr = c, mmr
            selected.append(best_c)
            out_rows.append((qid, best_c, step, best_mmr))
        return pd.DataFrame(
            out_rows, columns=["query_id", "neighbor_id", "rank", "mmr"]
        )

    picked = pairs.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, neighbor_id long, rank int, mmr double"
    )
    return picked.select(
        "query_id", "neighbor_id", "rank", F.round("mmr", 6).alias("mmr")
    ).orderBy("query_id", "rank")
