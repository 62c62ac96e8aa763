"""Registered queries — dedup materialization (dd7) + sampling/splits (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
from file_indexer_spark.landing import gate_workdir, land_tables
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
from file_indexer_spark.queries.q02_text import _STOP_SQL  # noqa: F401
from file_indexer_spark.queries.q04_dedup_sim import _DUCK_DOT, _DUCK_NORMS  # noqa: F401

# ----------------------------------------- LLM pillar: dedup materialization

_DD7_PAIRS_CTES = f"""
    sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
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
        JOIN sets sb ON sb.doc_id = doc_b),
    pairs AS (
        SELECT doc_a, doc_b FROM verified
        WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
              >= {dd.JACCARD_THRESHOLD})
"""


@register(
    "dd7_dedup_clusters",
    f"""
    -- Connected components over the dd3 near-dup pair graph, computed
    -- exactly by a recursive transitive closure; cluster label = min
    -- reachable doc_id, canonical = the label holder (the doc a
    -- training pipeline keeps).
    WITH RECURSIVE
    {_DD7_PAIRS_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        WHERE e.dst <> r.src
    ),
    labels AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           d.doc_id = coalesce(l.cluster_id, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dd7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD7: near-dup pairs → cluster assignment + canonical selection
    (alternating large-star/small-star contraction over the pair
    subgraph, O(log n) rounds; the oracle recomputes components exactly
    via a recursive CTE)."""
    docs = _table(spark, sf_dir, "documents")
    return dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))


@register(
    "dd12_incremental_lsh",
    f"""
    -- dd12: incremental near-dup detection. The new batch (the
    -- deterministic doc_id % 10 = 7 slice) probes a MATERIALIZED
    -- corpus band index instead of re-signing the corpus; per-doc
    -- signatures are corpus-independent, so the result must equal
    -- dd3's FULL-corpus pairs restricted to >= 1 new side — which is
    -- exactly what this oracle computes.
    WITH
    {_DD7_PAIRS_CTES}
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6)
               AS jaccard,
           CASE WHEN doc_a % 10 = 7 AND doc_b % 10 = 7 THEN 'new_new'
                ELSE 'new_base' END AS pair_class
    FROM verified
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
          >= {dd.JACCARD_THRESHOLD}
      AND (doc_a % 10 = 7 OR doc_b % 10 = 7)
    ORDER BY doc_a, doc_b
    """,
)
def dd12_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD12: probe a new document batch against the materialized corpus
    LSH index (parquet round-trip of the band + shingle-set tables —
    the x2 compute-once pattern applied to dd3). Work is
    O(batch x matched buckets), never O(corpus)."""
    docs = _table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd12")
    return dd.incremental_lsh_pairs(dd.write_lsh_index(spark, base, workdir), new)


# dd13 shares dd7's oracle verbatim: the incremental refresh must equal
# the from-scratch recompute on the full corpus (see the exactness
# argument in incremental_cluster_refresh's docstring).
@register("dd13_incremental_clusters", ORACLES["dd7_dedup_clusters"])
def dd13_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD13: the full incremental dedup maintenance loop — materialize
    the base corpus's LSH index AND dd7 assignment once, then for the
    ingest batch: probe the index (dd12) and refresh only the touched
    clusters. Output is the whole corpus's assignment table, provably
    identical to dd7 recomputed from scratch."""
    docs = _table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd13")
    mats = dd.write_lsh_index(spark, base, workdir)
    # round-12 optimization: the base pair list (and hence the stored
    # assignment) derives from the just-materialized band/shingle
    # tables instead of re-running the signing machinery over the
    # corpus text a second time — row-for-row the same pairs
    assignments = dd.dedup_clusters(base, dd.lsh_pairs_from_tables(mats))
    mats |= land_tables(spark, {"assignments": assignments}, workdir)
    new_pairs = dd.incremental_lsh_pairs(mats, new)
    return dd.incremental_cluster_refresh(mats["assignments"], new_pairs, new)


# ----------------------------------------- LLM pillar: sampling / splits

from file_indexer_spark.operators import sampling as sp  # noqa: E402


@register(
    "sp1_hash_split",
    f"""
    -- Content-stable train/val/test assignment: first hex byte of
    -- md5(doc_id) → [00,10) test, [10,20) val, rest train. Pure
    -- function of the key — identical in any engine (no RNG).
    WITH tagged AS (
        SELECT CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.TEST_UPPER}' THEN 'test'
                    WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.VAL_UPPER}' THEN 'val'
                    ELSE 'train' END AS split,
               len(string_split(text, ' ')) AS n_tokens,
               source
        FROM documents)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def sp1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.hash_split(_table(spark, sf_dir, "documents"))


@register(
    "sp2_source_cap",
    """
    -- Cap every source at 20 docs: keep the md5-ordered prefix (a
    -- deterministic unbiased sample), the guard against one crawl
    -- source dominating the training mixture.
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        FROM documents) WHERE rk <= 20
    ORDER BY doc_id
    """,
)
def sp2_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.source_cap_sample(_table(spark, sf_dir, "documents"), cap=20).orderBy("doc_id")


@register(
    "sp3_sequence_packing",
    f"""
    -- Concat-and-chunk packing plan: 16 independent token streams
    -- (first hex char of md5(doc_id)), each concatenated in doc_id
    -- order and cut into {sp.PACK_BUDGET}-token sequences. Window
    -- cumsum is the whole computation.
    WITH d AS (
        SELECT doc_id,
               substring(md5(doc_id::VARCHAR), 1, 1) AS packer,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, packer, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY packer ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM d)
    SELECT doc_id, packer, n_tokens,
           CAST((cum - n_tokens) // {sp.PACK_BUDGET} AS BIGINT) AS seq_first,
           CAST((cum - 1) // {sp.PACK_BUDGET} AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % {sp.PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
)
def sp3_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP3: the physical layout for GPT-style packed pretraining
    sequences — which fixed-budget sequences each document spans, per
    content-stable packer stream."""
    return sp.sequence_pack(_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "st4_streaming_dedup",
    """
    -- Final pass-through set of a dedup-at-ingestion stream: exactly
    -- one row per distinct content hash, regardless of how many
    -- arrivals carried the same text.
    SELECT DISTINCT md5(text) AS content_hash
    FROM documents
    ORDER BY content_hash
    """,
)
def st4_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4: stateful streaming exact-dedup run as a REAL stream — two
    overlapping arrivals (two-thirds of the corpus, then all of it), so
    the dedup state must filter re-arrivals across micro-batches; the
    oracle is the batch distinct-hash set."""
    import os

    from file_indexer_spark.streaming import dedup as sd

    tune_session(spark)
    base, tag = gate_workdir("fis_st4")
    src = os.path.join(base, "src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _land_arrivals(
        src,
        [docs.filter(F.col("doc_id") % 3 != 0), docs],
    )
    stream = sd.read_docs_stream(spark, src, max_files_per_trigger=1)
    sink = f"st4_sink_{tag}"
    sd.run_to_memory_sink(sd.dedup_stream(stream), sink)
    return spark.table(sink).orderBy("content_hash")


@register(
    "e6_retention_cohorts",
    """
    WITH weeks AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        FROM events),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id)
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) / 7 AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS active_users
    FROM weeks w JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def e6_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: weekly cohort retention over the events stream."""
    return ev.retention_cohorts(events_df(spark, sf_dir))


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
    emb = _table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(
        emb.filter(F.col("label") % 2 == 0),
        queries=emb.filter(F.col("vec_id") < sim.N_QUERIES),
    )


@register(
    "t5_quality_retention",
    f"""
    -- t2's quality filter materialized: per-source doc/token retention
    -- after dropping low-quality docs — the filter-impact review table.
    WITH m AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords
        FROM documents),
    flagged AS (
        SELECT doc_id, source, n_tokens,
               (0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0)) < 0.5 AS low_quality
        FROM m)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (NOT low_quality) AS BIGINT) AS n_kept,
           round(CAST(COUNT(*) FILTER (NOT low_quality) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS doc_retention,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN NOT low_quality THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def t5_quality_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_retention(_table(spark, sf_dir, "documents"))


@register(
    "w2_two_phase_roundtrip",
    """
    -- Two-phase indexing end-to-end: after phase 1 (metadata only) and
    -- phase 2 (hash ONLY sizes holding >1 file), exactly the
    -- duplicate-size files carry checksums — the reference's ~95%
    -- I/O-avoidance contract, recomputed independently by the oracle.
    WITH docs AS (
        SELECT doc_id, text, octet_length(encode(text)) AS fs FROM documents),
    sizes AS (SELECT fs, COUNT(*) AS n FROM docs GROUP BY fs)
    SELECT 'doc_' || CAST(d.doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(d.fs AS BIGINT) AS file_size,
           CASE WHEN s.n > 1 AND d.fs > 0 THEN sha256(d.text) END AS checksum
    FROM docs d JOIN sizes s ON s.fs = d.fs
    ORDER BY filename
    """,
)
def w2_two_phase_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the D2 two-phase pipeline under the gate — phase 1 indexes
    metadata with hashing off, phase 2's A7 work selection hashes only
    duplicate-size candidates; the oracle recomputes which files must
    (and must not) have checksums straight from the size histogram."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import two_phase_index

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w2")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    two_phase_index(spark, table, tree)
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


# ======================================================================
# Corpus-curation extension (SURVEY.md §2.9a, round 3): decontamination,
# PII scrubbing, repetition filtering, chunking, mixture resampling, and
# SemDeDup-style embedding-cluster dedup — the curation passes between
# raw ingestion and packing in a training-data pipeline.

