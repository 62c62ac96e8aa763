"""Vector similarity (sim): exact and approximate top-k, IVF and IVF-PQ
indexes and their write paths."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir, land_tables
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.operators import text as tx
from file_indexer_spark.queries.shared import (
    _DUCK_DOT,
    _DUCK_NORMS,
    _DUCK_SLICE_D2,
    _EDIT_ADD,
    _EDIT_BASE,
    _EDIT_DELETE,
    _EDIT_UPDATE,
    _SIM17_ORACLE,
    _SIM5_KNN_CTES,
    _SPARK_EDIT_VEC,
    _T15_ORACLE,
)
from file_indexer_spark.registry_core import ORACLES, _land_arrivals, register
from file_indexer_spark.tables import load_table


@register(
    "sim1_cosine_topk",
    f"""
    WITH c AS ({_DUCK_NORMS}),
    q AS (SELECT * FROM c WHERE vec_id < {sim.N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} / (q.norm * c.norm)
                   AS cosine
        FROM q, c
        WHERE c.vec_id != q.vec_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
               cosine
        FROM scored)
    SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM ranked WHERE rank <= {sim.TOP_K}
    ORDER BY query_id, rank
    """,
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim2_ivf_ann",
    f"""
    WITH c AS ({_DUCK_NORMS}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    probes AS (
        SELECT query_id, q_emb, q_norm, centroid_id FROM (
            SELECT q.query_id, q.q_emb, q.q_norm, cents.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                        {_DUCK_DOT.format(a="q.q_emb", b="cents.c_emb")}
                        / (q.q_norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM q, cents) t
        WHERE rn <= {sim.NPROBE}),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="p.q_emb", b="c.embedding")} / (p.q_norm * c.norm)
                   AS cosine
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN c ON c.vec_id = a.vec_id
        WHERE c.vec_id != p.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
               cosine
        FROM scored)
    SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM ranked WHERE rank <= {sim.TOP_K}
    ORDER BY query_id, rank
    """,
)
def sim2_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivf_topk(load_table(spark, sf_dir, "embeddings"))


# rows-only check (no oracle): MLlib LSH hash seeds aren't replicable
# in DuckDB; pytest asserts recall against sim1's exact top-k.
@register("sim3_brp_lsh_ann")
def sim3_brp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.brp_lsh_neighbors(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim3_bounds",
    """
    -- sim3's recall contract vs exact sim1 top-k: recall >= 0.5 and
    -- exactly N_QUERIES*TOP_K emitted pairs. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def sim3_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM3-BOUNDS: BRP-LSH neighbor recall vs sim1's exact cosine
    top-k (metrics differ — euclidean bucketing vs cosine ranking — so
    the pinned floor is the majority-overlap 0.5 the pytest gate has
    carried since round 2), plus the exact output-cardinality check."""
    from file_indexer_spark.operators import bounds as bd
    from file_indexer_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    probe = sim.brp_lsh_neighbors(emb).select("query_id", "neighbor_id")
    n_expected = float(sim.N_QUERIES * sim.TOP_K)
    n_probe = probe.agg(F.count("*").cast("double").alias("n_probe"))
    return bd.recall_floor(
        sim.cosine_topk(emb).select("query_id", "neighbor_id"),
        probe,
        keys=["query_id", "neighbor_id"],
        floor=0.5,
        min_base=int(n_expected),
        metric="recall_vs_exact_topk",
        extra_checks=[
            (
                n_probe,
                (
                    F.col("n_probe") != n_expected,
                    F.lit("global"),
                    "approx_pair_count",
                    F.col("n_probe"),
                    F.lit(n_expected),
                    F.lit(n_expected),
                ),
            )
        ],
    )


@register(
    "sim4_filtered_ann",
    f"""
    -- Attribute-filtered vector search: the same exact cosine top-k as
    -- sim1 but the CORPUS is restricted by a metadata predicate
    -- (even labels) while the query set stays fixed — the "filtered
    -- ANN" shape every vector store exposes. The filter composes with
    -- the scan (predicate pushdown), not with post-ranking.
    WITH c0 AS ({_DUCK_NORMS}),
    c AS (SELECT c0.* FROM c0 JOIN embeddings e ON e.vec_id = c0.vec_id
          WHERE e.label % 2 = 0),
    q AS (SELECT * FROM c0 WHERE vec_id < {sim.N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.embedding", b="c.embedding")} / (q.norm * c.norm)
                   AS cosine
        FROM q, c
        WHERE c.vec_id != q.vec_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
               cosine
        FROM scored)
    SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM ranked WHERE rank <= {sim.TOP_K}
    ORDER BY query_id, rank
    """,
)
def sim4_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(
        emb.filter(F.col("label") % 2 == 0),
        queries=emb.filter(F.col("vec_id") < sim.N_QUERIES),
    )


@register(
    "sim5_knn_join",
    f"""
    -- k-NN graph under the IVF constraint: neighbors share a centroid
    -- list (top-2 multi-assignment; shared-list pairs deduped). The
    -- assignment/ranking replicate operators/similarity.py exactly
    -- (deterministic centroids, IEEE left-to-right fold).
    WITH {_SIM5_KNN_CTES}
    SELECT vec_id, neighbor_id, rank, cosine
    FROM knn ORDER BY vec_id, rank
    """,
)
def sim5_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph for every vector: IVF-bucketed + salted scoring join
    (dd5's shape), one top-k window per query vector."""
    return sim.knn_join(load_table(spark, sf_dir, "embeddings"))


_SIM6_K = 160  # > _HIER_THRESHOLD => exercises the two-level path
_SIM6_M = 12  # isqrt(160): coarse centroid count the implementation derives


@register(
    "sim6_hier_ivf_assign",
    f"""
    -- Two-level (coarse-quantizer) IVF assignment: k hash-sampled seed
    -- centroids, sqrt(k) coarse routers; every vector routes to its
    -- nearest coarse cell, then argmax-assigns among that cell's fine
    -- centroids. Deterministic end-to-end (md5 seed order, IEEE fold
    -- dots, smaller-id tie-breaks) => full hash gate on the 100 TB
    -- assignment path.
    WITH c AS ({_DUCK_NORMS}),
    seeds AS (SELECT vec_id FROM embeddings
              ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_SIM6_K}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c JOIN seeds ON c.vec_id = seeds.vec_id),
    coarse AS (SELECT centroid_id AS coarse_id, c_emb AS g_emb, c_norm AS g_norm
               FROM cents ORDER BY md5(centroid_id::VARCHAR), centroid_id LIMIT {_SIM6_M}),
    fine_routed AS (
        SELECT centroid_id, c_emb, c_norm, coarse_id FROM (
            SELECT f.centroid_id, f.c_emb, f.c_norm, g.coarse_id,
                   row_number() OVER (PARTITION BY f.centroid_id ORDER BY
                        {_DUCK_DOT.format(a="f.c_emb", b="g.g_emb")}
                        / (f.c_norm * g.g_norm) DESC, g.coarse_id) AS rn
            FROM cents f, coarse g) t WHERE rn = 1),
    v_routed AS (
        SELECT vec_id, embedding, norm, coarse_id FROM (
            SELECT v.vec_id, v.embedding, v.norm, g.coarse_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="g.g_emb")}
                        / (v.norm * g.g_norm) DESC, g.coarse_id) AS rn
            FROM c v, coarse g) t WHERE rn = 1),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, f.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="f.c_emb")}
                        / (v.norm * f.c_norm) DESC, f.centroid_id) AS rn
            FROM v_routed v JOIN fine_routed f ON f.coarse_id = v.coarse_id) t
        WHERE rn = 1)
    SELECT vec_id, centroid_id FROM assign ORDER BY vec_id
    """,
)
def sim6_hier_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM6: the parameterized-k IVF build through the two-level coarse
    quantizer (n x 2*sqrt(k) dots instead of n x k — the assignment
    shape that stays linear when k scales with the corpus; see
    similarity.py _hier_scored and BENCH_SCALE_NEARDUP.json)."""
    return (
        sim.ivf_assignments(
            load_table(spark, sf_dir, "embeddings"), n_centroids=_SIM6_K
        )
        .orderBy("vec_id")
    )


@register(
    "sim7_quantize",
    """
    -- Symmetric int8 scalar quantization: scale = 127/max|v|, ties
    -- away from zero in both engines, per-vector error audit.
    WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS max_abs
        FROM embeddings),
    s AS (
        SELECT vec_id, embedding,
               CASE WHEN max_abs > 0 THEN 127.0 / max_abs END AS scale
        FROM m),
    qv AS (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                   x -> CAST(round(CASE WHEN scale IS NULL THEN 0.0
                                        ELSE x::DOUBLE * scale END) AS INTEGER)) AS q
        FROM s)
    SELECT vec_id, to_json(q) AS q, round(scale, 6) AS scale,
           round(CASE WHEN scale IS NULL THEN 0.0 ELSE
                 list_max(list_transform(range(1, len(embedding) + 1),
                     i -> abs(embedding[i]::DOUBLE - q[i]::DOUBLE / scale))) END,
                 6) AS max_abs_err
    FROM qv ORDER BY vec_id
    """,
)
def sim7_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM7: int8 embedding storage form (4x smaller than float32) —
    all map-side expression work, bit-identical across engines because
    every element op is a pure function of one order-free per-vector
    max.

    The raw ``array<int>`` form stays available via
    ``sim.quantize_embeddings``; the gate-registered variant serializes
    ``q`` to one compact JSON string per vector (``[1,2,3]`` in both
    engines) so the driver's canonicalizer can sort/hash it — the same
    a12 pattern (CORRECTNESS_r05 recorded sim7's raw-array row as a
    canonicalizer TypeError, exactly a12's round-1 failure)."""
    return sim.quantize_embeddings(
        load_table(spark, sf_dir, "embeddings")
    ).withColumn("q", F.to_json("q"))


@register("sim8_kmeans_ml")
def sim8_kmeans_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM8: multi-iteration Lloyd k-means (pyspark.ml) — the iterative
    refinement the one-shot IVF seeding skips. kmeans|| init is not
    replicable in an external SQL engine → rows-only driver check;
    pytest pins k non-empty clusters, total assignment, and
    SSE <= the one-shot IVF seeding's SSE."""
    return sim.kmeans_clusters(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim8_bounds",
    """
    -- sim8's Lloyd invariants: exactly k non-empty clusters, total
    -- assignment, SSE <= one-shot IVF seeding's SSE (iterating only
    -- improves the objective). Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def sim8_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM8-BOUNDS: the kmeans|| invariants as a violation set, with
    both SSEs (Lloyd centers vs one-shot hash seeds) computed
    DISTRIBUTED — k centroids broadcast, per-vector min squared
    distance, one sum — so the gate itself is 100 TB-shaped."""
    from file_indexer_spark.operators import bounds as bd

    return bd.kmeans_bounds(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim9_pq_encode",
    f"""
    -- Product quantization: M=8 subspaces x K'=16 md5-sampled
    -- codewords; per subspace the argmin slice-L2 codeword (ties to
    -- the smaller code), '-'-joined codes + summed min d2. Same IEEE
    -- fold, same md5 seed order => bit-exact across engines.
    WITH seeds AS (
        SELECT embedding AS c_emb,
               row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                   AS code
        FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {sim.PQ_CODEWORDS}),
    pairs AS (
        SELECT v.vec_id, m.m, s.code,
               list_reduce(list_transform(range(8 * m.m + 1, 8 * m.m + 9),
                   i -> (v.embedding[i]::DOUBLE - s.c_emb[i]::DOUBLE)
                      * (v.embedding[i]::DOUBLE - s.c_emb[i]::DOUBLE)),
                   (x, y) -> x + y) AS d2
        FROM embeddings v, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s),
    best AS (
        SELECT vec_id, m, code, d2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM pairs)
    SELECT vec_id,
           string_agg(code::VARCHAR, '-' ORDER BY m) AS pq_code,
           round(list_reduce(list(d2 ORDER BY m), (x, y) -> x + y), 6)
               AS recon_sse
    FROM best WHERE rn = 1
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def sim9_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM9: product quantization — the 64x-compression storage form an
    IVF-PQ index scans at 100 TB (below sim7's 4x int8). One broadcast
    join against the 128-row codebook, map-side slice-L2, two narrow
    hash aggs; deterministic codebook => full hash gate on a quantizer."""
    return sim.pq_encode(load_table(spark, sf_dir, "embeddings"))


def _ivfpq_oracle(quantizer_filter: str) -> str:
    """The IVF-PQ ADC search oracle, parameterized by WHICH vectors
    define the quantizer (centroid label-reps + codebook seeds):
    ``TRUE`` = the whole corpus (sim10/sim11); a slice predicate = the
    frozen-quantizer index-append semantics (sim12). The searched
    corpus and the query set are always the full table."""
    return f"""
    -- IVF-PQ ADC search: sim2's inverted-list probing composed with
    -- sim9's product-quantized codes. Candidates come only from each
    -- query's nprobe nearest centroid lists; their distances are M
    -- table lookups into the query's precomputed (m, code)-ordered ADC
    -- table, summed by the strict m-ordered fold. Every stage is the
    -- already-hash-gated sim2/sim9 arithmetic => full hash gate on the
    -- composed index. Quantizer source: {quantizer_filter}.
    WITH c AS ({_DUCK_NORMS}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings
                    WHERE {quantizer_filter} GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1),
    seeds AS (
        SELECT embedding AS c_emb,
               row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                   AS code
        FROM embeddings WHERE {quantizer_filter}
        ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {sim.PQ_CODEWORDS}),
    best AS (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM (
            SELECT v.vec_id, m.m, s.code,
                   {_DUCK_SLICE_D2.format(m="m.m", v="v.embedding", c="s.c_emb")} AS d2
            FROM embeddings v, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s)),
    codes AS (
        SELECT vec_id, list(code ORDER BY m) AS codes
        FROM best WHERE rn = 1 GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                        {_DUCK_DOT.format(a="q.q_emb", b="cents.c_emb")}
                        / (q.q_norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM q, cents) t
        WHERE rn <= {sim.NPROBE}),
    qtab AS (
        SELECT query_id, list(qd2 ORDER BY m, code) AS tab FROM (
            SELECT q.query_id, m.m, s.code,
                   {_DUCK_SLICE_D2.format(m="m.m", v="q.q_emb", c="s.c_emb")} AS qd2
            FROM q, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s)
        GROUP BY query_id),
    scored AS (
        SELECT p.query_id, cd.vec_id AS neighbor_id,
               list_reduce(list_transform(range(0, {sim.PQ_SUBSPACES}),
                   m -> t.tab[m * {sim.PQ_CODEWORDS} + cd.codes[m + 1] + 1]),
                   (x, y) -> x + y) AS adc_dist
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN codes cd ON cd.vec_id = a.vec_id
        JOIN qtab t ON t.query_id = p.query_id
        WHERE cd.vec_id != p.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank,
               adc_dist
        FROM scored)
    SELECT query_id, neighbor_id, rank, round(adc_dist, 6) AS adc_dist
    FROM ranked WHERE rank <= {sim.TOP_K}
    ORDER BY query_id, rank
    """


@register("sim10_ivfpq_topk", _ivfpq_oracle("TRUE"))
def sim10_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM10: IVF-PQ — inverted-list pruning (sim2) over product-
    quantized codes (sim9) scanned by asymmetric distance computation:
    the FAISS-shaped index a 100 TB vector corpus actually serves.
    Corpus codes never reshuffle; probes + ADC tables broadcast."""
    return sim.ivfpq_topk(load_table(spark, sf_dir, "embeddings"))


# sim11 shares sim10's oracle verbatim: serving from the parquet
# round-trip of the index tables must produce the IDENTICAL ranking
# (the hash gate proves the build/serve split is lossless).
@register("sim11_ivfpq_materialized", ORACLES["sim10_ivfpq_topk"])
def sim11_ivfpq_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM11: sim10 via the build-once/serve-many pattern — materialize
    the IVF-PQ index (coded corpus + centroids + codebook) to parquet,
    then answer the query batch from the re-reads only. At 100 TB the
    serving path reads 4-byte codes clustered by list; the raw float
    corpus is never touched after the build."""
    emb = load_table(spark, sf_dir, "embeddings")
    base, _ = gate_workdir("fis_sim11")
    # round-13: the four index tables share no checkpoint — land them
    # as overlapped driver-thread jobs (guide §2.6)
    mats = land_tables(spark, sim.ivfpq_index_tables(emb), base)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_topk_from_index(mats, queries)


# sim12's oracle is the same composed search with the quantizer frozen
# to the BASE slice: centroid label-reps and codebook seeds come from
# the pre-ingest corpus only, while the searched codes and queries span
# the full table — exactly the FAISS add() contract the Spark side
# implements via ivfpq_append.
@register("sim12_ivfpq_append", _ivfpq_oracle("vec_id % 10 != 7"))
def sim12_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM12: index MAINTENANCE — add an embedding batch (the
    doc-split rule: vec_id % 10 == 7) to the materialized base IVF-PQ
    index with a FROZEN quantizer: new vectors assign to the stored
    centroids and encode against the stored codebook; nothing already
    indexed is touched. The search then runs over the merged index.
    Completes the incremental family: dd12/dd13 maintain the dedup
    index, sim12 the ANN index."""
    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    base = emb.filter(F.col("vec_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_sim12")
    # round-13: overlapped independent-table landing (guide §2.6)
    mats = land_tables(spark, sim.ivfpq_index_tables(base), workdir)
    merged = sim.ivfpq_append(mats, new)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_topk_from_index(merged, queries)


# sim13's oracle is sim12's family: the composed IVF-PQ search with the
# quantizer CTEs filtered to the BOOTSTRAP arrival slice (the first
# micro-batch trains the quantizer, then it is FROZEN — FAISS
# train()-then-add() run from a stream). The searched codes and the
# query set span the full table; the filter computes the same 80%
# vec_id cut the Spark gate lands as arrival 1.
@register(
    "sim13_streaming_ann_ingest",
    _ivfpq_oracle("vec_id <= (SELECT MAX(vec_id) * 8 // 10 FROM embeddings)"),
)
def sim13_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM13: streaming ANN index INGESTION — the st13 of the ANN
    family. Embeddings arrive chronologically in three micro-batches
    (a large bootstrap drop + two ingest batches); the first batch
    trains and freezes the quantizer, each later batch broadcast-
    encodes only itself (sim12's encode leg) and appends its coded
    rows. The gate drains the stream, then answers the query batch
    from the stored index alone — hash-checked against the composed
    DuckDB search with the quantizer frozen to the bootstrap slice,
    proving stream-ingest == bootstrap-build + one big add()."""
    import os

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.streaming import ann as sann

    base, _ = gate_workdir("fis_sim13")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    emb = load_table(spark, sf_dir, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0]
    c1, c2 = int(hi * 8 // 10), int(hi * 9 // 10)
    cols = ["vec_id", "embedding", "label"]
    _land_arrivals(
        src,
        [
            emb.filter(F.col("vec_id") <= c1).select(*cols),
            emb.filter((F.col("vec_id") > c1) & (F.col("vec_id") <= c2)).select(*cols),
            emb.filter(F.col("vec_id") > c2).select(*cols),
        ],
    )
    stream = sann.read_embeddings_stream(spark, src, max_files_per_trigger=1)
    sann.ingest_ann_stream(spark, stream, state, ckpt)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sann.search(spark, state, queries)


@register(
    "sim14_range_search",
    f"""
    -- IVF RADIUS search: sim2's probed-list restriction with a cosine
    -- floor instead of a per-query top-k — the oracle replicates the
    -- nprobe pruning exactly, so the hash gate is bit-for-bit.
    WITH c AS ({_DUCK_NORMS}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    probes AS (
        SELECT query_id, q_emb, q_norm, centroid_id FROM (
            SELECT q.query_id, q.q_emb, q.q_norm, cents.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                        {_DUCK_DOT.format(a="q.q_emb", b="cents.c_emb")}
                        / (q.q_norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM q, cents) t
        WHERE rn <= {sim.NPROBE}),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="p.q_emb", b="c.embedding")} / (p.q_norm * c.norm)
                   AS cosine
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN c ON c.vec_id = a.vec_id
        WHERE c.vec_id != p.query_id)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
    FROM scored WHERE cosine >= {sim.RANGE_COSINE}::DOUBLE
    ORDER BY query_id, neighbor_id
    """,
)
def sim14_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM14: radius (range) search — all neighbors with cosine >=
    threshold over the probed IVF lists. Same probe plan as sim2; the
    threshold cut replaces the per-query window, so the output stage is
    map-side (FAISS range_search semantics)."""
    return sim.ivf_range_search(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim15_recall_eval",
    f"""
    -- sim15: per-query recall@k of the IVF search against the exact
    -- top-k — sim1's and sim2's oracle bodies composed verbatim, so
    -- the harness is gated by the same replicas as its two legs.
    WITH c AS ({_DUCK_NORMS}),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    ex_scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="q.q_emb", b="c.embedding")} / (q.q_norm * c.norm)
                   AS cosine
        FROM q, c WHERE c.vec_id != q.query_id),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
            FROM ex_scored) t
        WHERE rank <= {sim.TOP_K}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1),
    probes AS (
        SELECT query_id, q_emb, q_norm, centroid_id FROM (
            SELECT q.query_id, q.q_emb, q.q_norm, cents.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                        {_DUCK_DOT.format(a="q.q_emb", b="cents.c_emb")}
                        / (q.q_norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM q, cents) t
        WHERE rn <= {sim.NPROBE}),
    iv_scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="p.q_emb", b="c.embedding")} / (p.q_norm * c.norm)
                   AS cosine
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN c ON c.vec_id = a.vec_id
        WHERE c.vec_id != p.query_id),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
            FROM iv_scored) t
        WHERE rank <= {sim.TOP_K})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def sim15_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM15: recall@k of sim2 vs sim1 per benchmark query — the
    metadata-sized comparison join over the two bounded result sets."""
    return sim.recall_eval(load_table(spark, sf_dir, "embeddings"))


# The greedy recurrence unrolled: one CTE pair (stepK, selK) per pick.
# Constants are rendered from the operator module so Spark and SQL
# compute the SAME float literals (1.0 - 0.7 is 0.30000000000000004 in
# both engines when written identically).
_MMR_EXPR = f"{sim.MMR_LAMBDA} * t.rel - (1.0 - {sim.MMR_LAMBDA}) * t.maxsim"


def _mmr_step(prev: str, k: int) -> str:
    return f"""
    step{k} AS (
        SELECT query_id, cand, {k} AS rank, mmr FROM (
            SELECT t.query_id, t.cand, {_MMR_EXPR} AS mmr,
                   row_number() OVER (PARTITION BY t.query_id
                       ORDER BY ({_MMR_EXPR}) DESC, t.cand) AS rn
            FROM (
                SELECT p.query_id, p.cand_a AS cand, p.rel_a AS rel,
                       MAX(p.sim) AS maxsim
                FROM pairsim p
                JOIN {prev} s ON s.query_id = p.query_id AND s.cand = p.cand_b
                WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                                  WHERE s2.query_id = p.query_id
                                    AND s2.cand = p.cand_a)
                GROUP BY p.query_id, p.cand_a, p.rel_a) t)
        WHERE rn = 1),
    sel{k} AS (SELECT query_id, cand, rank, mmr FROM {prev}
               UNION ALL
               SELECT query_id, cand, rank, mmr FROM step{k})"""


_MMR_STEPS = ",".join(
    _mmr_step(f"sel{k - 1}", k) for k in range(2, sim.MMR_SELECT + 1)
)
_SIM16_SQL = f"""
    -- MMR diversified top-{sim.MMR_SELECT} over the top-{sim.MMR_CANDIDATES}
    -- cosine candidates: greedy argmax of lam*rel - (1-lam)*max_sim_to_
    -- selected, unrolled one CTE per pick; (mmr DESC, cand) tie-break.
    WITH c AS ({_DUCK_NORMS}),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS cand,
               {_DUCK_DOT.format(a="q.q_emb", b="c.embedding")}
                   / (q.q_norm * c.norm) AS rel,
               c.embedding AS emb, c.norm AS nrm
        FROM q, c WHERE c.vec_id != q.query_id),
    cand AS (
        SELECT query_id, cand, rel, emb, nrm FROM (
            SELECT query_id, cand, rel, emb, nrm,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY rel DESC, cand) AS rn
            FROM scored) WHERE rn <= {sim.MMR_CANDIDATES}),
    pairsim AS (
        SELECT a.query_id, a.cand AS cand_a, a.rel AS rel_a, b.cand AS cand_b,
               {_DUCK_DOT.format(a="a.emb", b="b.emb")} / (a.nrm * b.nrm) AS sim
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.cand != b.cand),
    sel1 AS (
        SELECT query_id, cand, 1 AS rank,
               {sim.MMR_LAMBDA} * rel - (1.0 - {sim.MMR_LAMBDA}) * 0.0 AS mmr
        FROM (SELECT query_id, cand, rel,
                     row_number() OVER (PARTITION BY query_id
                          ORDER BY rel DESC, cand) AS rn
              FROM cand) WHERE rn = 1),
    {_MMR_STEPS}
    SELECT query_id, cand AS neighbor_id, CAST(rank AS INTEGER) AS rank,
           ROUND(mmr, 6) AS mmr
    FROM sel{sim.MMR_SELECT}
    ORDER BY query_id, rank
    """


@register("sim16_mmr_rerank", _SIM16_SQL)
def sim16_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM16: MMR diversified re-rank — sim1 candidates (broadcast
    queries, one corpus scan), O(queries x k^2) pairwise sims, greedy
    pick per query inside one Arrow batch, parallel across queries."""
    return sim.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


def _edit_batches(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The upsert batch (adds + re-embedded updates) and the delete-id
    set of the shared edit script."""
    adds = emb.filter(F.expr(_EDIT_ADD)).select("vec_id", "embedding")
    updates = (
        emb.filter(F.expr(_EDIT_UPDATE))
        .select("vec_id", F.expr(_SPARK_EDIT_VEC).alias("embedding"))
    )
    dels = emb.filter(F.expr(_EDIT_DELETE)).select("vec_id")
    return adds.unionByName(updates), dels


def _sim17_edited_index(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[dict[str, DataFrame], DataFrame, str]:
    """Shared gate plumbing: materialize the base index (list-clustered
    parquet, the sim11 landing via the shared writer), apply ONE upsert
    call carrying the whole edit script, and return (edited index,
    query batch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_EDIT_BASE))
    workdir, _ = gate_workdir(tag)
    mats = sim.write_ivfpq_index(
        spark, sim.ivfpq_index_tables(base), os.path.join(workdir, "base")
    )
    batch, dels = _edit_batches(emb)
    edited = sim.ivfpq_upsert(mats, batch, dels)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return edited, queries, workdir


@register("sim17_ivfpq_upsert", _SIM17_ORACLE)
def sim17_ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM17: dense-index UPDATE/DELETE — t17b's read-modify-write
    contract on the vector leg, via the tombstone-segment discipline
    (stored codes are immutable; a mask plus a frozen-quantizer delta
    supersede them).  One upsert call adds, re-embeds, and deletes;
    the search must see exactly the post-edit corpus — a surviving
    stored code, a lost add, or a double-served update each break the
    hash."""
    edited, queries, _ = _sim17_edited_index(spark, sf_dir, "fis_sim17")
    return sim.ivfpq_topk_from_index(edited, queries)


# sim18 shares sim17's oracle verbatim: compaction is a pure layout
# fold (tombstones and delta disappear INTO the code table), so the
# served ranking must be bit-identical before and after.
@register("sim18_ivfpq_compaction", _SIM17_ORACLE)
def sim18_ivfpq_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM18: dense-index COMPACTION — after sim17's edits the serve
    scan carries a tombstone anti-join plus a delta union; folding
    them back into ONE list-clustered parquet code table (t18's w10
    discipline on the dense leg) restores the bare sim11 serve shape.
    Serving from the compacted re-reads must reproduce sim17's ranking
    exactly."""
    edited, queries, workdir = _sim17_edited_index(spark, sf_dir, "fis_sim18")
    compacted = sim.ivfpq_compact(
        spark, edited, os.path.join(workdir, "compact")
    )
    return sim.ivfpq_topk_from_index(compacted, queries)


# The fused oracle composes the two legs' ALREADY-HASH-GATED oracles
# verbatim as derived tables (sim10's ADC ranking, t15's BM25 top-k),
# then applies the RRF formula: one two-term IEEE addition of two
# integer-operand divisions per candidate — identical left-to-right
# arithmetic in both engines, so the composition hash-gates.
def _sim19_oracle() -> str:
    return f"""
    -- sim19: Reciprocal Rank Fusion of the dense and lexical legs.
    WITH dense AS (
        SELECT query_id, neighbor_id AS doc_id, rank
        FROM ({ORACLES["sim10_ivfpq_topk"]})),
    lex AS (
        SELECT doc_id, rank FROM ({_T15_ORACLE})),
    qs AS (SELECT DISTINCT query_id FROM dense),
    lexq AS (SELECT qs.query_id, lex.doc_id, lex.rank AS r_lex
             FROM qs CROSS JOIN lex),
    cand AS (
        SELECT COALESCE(d.query_id, x.query_id) AS query_id,
               COALESCE(d.doc_id, x.doc_id) AS doc_id,
               d.rank AS r_dense, x.r_lex
        FROM dense d FULL OUTER JOIN lexq x
          ON d.query_id = x.query_id AND d.doc_id = x.doc_id),
    scored AS (
        SELECT query_id, doc_id,
               COALESCE(CAST(1.0 AS DOUBLE)
                        / CAST({sim.RRF_K} + r_dense AS DOUBLE), 0)
               + COALESCE(CAST(1.0 AS DOUBLE)
                          / CAST({sim.RRF_K} + r_lex AS DOUBLE), 0) AS rrf
        FROM cand),
    franked AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank,
               rrf
        FROM scored)
    SELECT query_id, doc_id, rank, ROUND(rrf, 6) AS rrf_score
    FROM franked WHERE rank <= {sim.TOP_K}
    ORDER BY query_id, rank
    """


@register("sim19_hybrid_rrf", _sim19_oracle())
def sim19_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM19: HYBRID retrieval — Reciprocal Rank Fusion of the dense
    leg (sim10's IVF-PQ ADC ranking per query vector) and the lexical
    leg (t15's BM25 top-k for the fixed text query) over the shared
    document id space.  Fusion is pure result-set algebra over two
    already-truncated top-k lists — each leg prunes with its own
    index, only queries x k rows ever meet."""
    return sim.rrf_fuse(
        sim.ivfpq_topk(load_table(spark, sf_dir, "embeddings")),
        tx.bm25_topk(load_table(spark, sf_dir, "documents")),
    )
