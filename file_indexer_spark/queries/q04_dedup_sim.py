"""Registered queries — dedup dd1-dd4 + similarity sim1-sim6 (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
from file_indexer_spark.operators import curation as cu  # noqa: F401
from file_indexer_spark.operators import dedup as dd  # noqa: F401
from file_indexer_spark.operators import duplicates as dup  # noqa: F401
from file_indexer_spark.operators import events as ev  # noqa: F401
from file_indexer_spark.operators import inference as inf  # noqa: F401
from file_indexer_spark.operators import multimodal as mm  # noqa: F401
from file_indexer_spark.operators import relational as rel  # noqa: F401
from file_indexer_spark.operators import sampling as sp  # noqa: F401
from file_indexer_spark.operators import search as srch  # noqa: F401
from file_indexer_spark.operators import similarity as sim  # noqa: F401
from file_indexer_spark.operators import stats as st  # noqa: F401
from file_indexer_spark.operators import text as tx  # noqa: F401
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _events,
    _files,
    _land_arrivals,
    _table,
    register,
)
from file_indexer_spark.session import tune_session  # noqa: F401
from file_indexer_spark.tables import (  # noqa: F401
    events_df,
    files_df,
    load_table,
    with_files_cte,
)


# ------------------------------------------------------ LLM pillar: dedup

from file_indexer_spark.functions import hashing as H  # noqa: E402
from file_indexer_spark.operators import dedup as dd  # noqa: E402

@register(
    "dd1_exact_dedup",
    """
    SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id,
           array_to_string(list_transform(list_sort(list(doc_id)), x -> x::VARCHAR), ',')
               AS doc_ids
    FROM (SELECT doc_id, md5(text) AS content_hash FROM documents) t
    GROUP BY content_hash
    HAVING COUNT(*) > 1
    ORDER BY content_hash
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(_table(spark, sf_dir, "documents"))


@register(
    "dd2_ngram_jaccard",
    f"""
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
    expl AS (SELECT doc_id, unnest(shingles) AS h FROM sets),
    dfreq AS (SELECT h, COUNT(*) AS df FROM expl GROUP BY h),
    kept AS (SELECT e.doc_id, e.h, d.df FROM expl e JOIN dfreq d USING (h)
             WHERE d.df <= {dd.MAX_DF}),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    pair_gen AS (SELECT doc_id, h FROM kept WHERE df >= 2),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_shingles
        FROM pair_gen a JOIN pair_gen b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, common_shingles, sa.set_size AS n_a, sb.set_size AS n_b,
           round(CAST(common_shingles AS DOUBLE)
                 / CAST(sa.set_size + sb.set_size - common_shingles AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(common_shingles AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - common_shingles AS DOUBLE)
          >= {dd.JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dd2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(_table(spark, sf_dir, "documents"))


@register(
    "dd3_minhash_lsh",
    f"""
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
    sigs AS (SELECT doc_id, shingles, {H.duck_minhash_sig("shingles")} AS sig FROM sets),
    bands AS (SELECT doc_id, j AS band, {H.duck_band_hash("sig", "j")} AS digest
              FROM sigs, range(0, {H.LSH_BANDS}) t(j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id),
    verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(sa.shingles, sb.shingles)) AS inter,
               len(sa.shingles) AS na, len(sb.shingles) AS nb
        FROM cand
        JOIN sets sa ON sa.doc_id = doc_a
        JOIN sets sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
    FROM verified
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {dd.JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dd3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(_table(spark, sf_dir, "documents"))


@register(
    "dd4_simhash",
    f"""
    WITH fp AS (SELECT doc_id, {H.duck_simhash(H.duck_shingle_hashes())} AS simhash
                FROM documents),
    bands AS (SELECT doc_id, simhash, j AS band,
                     (simhash >> (j * {H.SIMHASH_BAND_WIDTH}))
                     & {(1 << H.SIMHASH_BAND_WIDTH) - 1} AS band_value
              FROM fp, range(0, {H.SIMHASH_BANDS}) t(j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sh_a, b.simhash AS sh_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_value = b.band_value
              AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {H.HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(_table(spark, sf_dir, "documents"))


# ------------------------------------------------- LLM pillar: similarity

from file_indexer_spark.operators import similarity as sim  # noqa: E402

# DuckDB rendition of the strict left-to-right double fold used by
# operators/similarity.py — list_reduce folds (p1+p2)+p3..., Spark's
# aggregate folds (0.0+p1)+p2...: identical IEEE sums.
_DUCK_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)
_DUCK_NORMS = f"""
    SELECT vec_id, embedding,
           sqrt({_DUCK_DOT.format(a="embedding", b="embedding")}) AS norm
    FROM embeddings
"""


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
    return sim.cosine_topk(_table(spark, sf_dir, "embeddings"))


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
    return sim.ivf_topk(_table(spark, sf_dir, "embeddings"))


# rows-only check (no oracle): MLlib LSH hash seeds aren't replicable
# in DuckDB; pytest asserts recall against sim1's exact top-k.
@register("sim3_brp_lsh_ann")
def sim3_brp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.brp_lsh_neighbors(_table(spark, sf_dir, "embeddings"))


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
            _table(spark, sf_dir, "embeddings"), n_centroids=_SIM6_K
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
        _table(spark, sf_dir, "embeddings")
    ).withColumn("q", F.to_json("q"))


