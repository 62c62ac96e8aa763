"""Registered queries — round 12c: the DENSE index gets the update
and compaction legs the lexical index got in 12a (t17b/t18) — sim17
upsert/delete with the FAISS/Lucene tombstone-segment discipline,
sim18 compaction folding the mask back into one list-clustered code
table.  With these, BOTH retrieval legs carry the full maintenance
lifecycle: build → serve → append → upsert/delete → compact →
streaming ingest.

Reference parity: the reference's write path is update-heavy by
design (``UPDATE files SET checksum…``,
file_indexer/indexer.py:424-448) and deletes stale rows on every
cleanup pass (``cleanup_deleted_files``,
file_indexer/indexer.py:1028 with its ``DELETE FROM files`` at
:1436); sim17/sim18 extend that contract to the vector index the
LLM pipeline serves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.operators import text as tx
from file_indexer_spark.queries.q04_dedup_sim import _DUCK_DOT, _DUCK_NORMS
from file_indexer_spark.queries.q10_pq_crossmodal import _DUCK_SLICE_D2
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _table,
    register,
)

# ------------------------------------------------------- sim17/sim18

# The edit script both gates apply to the embeddings table.  All three
# slices live in the BASE corpus contract: the index is built on
# vec_id % 10 != 7 (sim12's base), then one upsert call
#   * ADDS    vec_id % 10 == 7 (never indexed),
#   * UPDATES vec_id % 10 == 3 (indexed; every element becomes
#     float32(1.0 - x) — a deterministic, oracle-replicable edit), and
#   * DELETES vec_id % 10 == 5.
# The quantizer stays FROZEN on the pre-edit base (stored centroids /
# codebook / regime); the search must see exactly the post-edit corpus.
_EDIT_BASE = "vec_id % 10 != 7"
_EDIT_ADD = "vec_id % 10 = 7"
_EDIT_UPDATE = "vec_id % 10 = 3"
_EDIT_DELETE = "vec_id % 10 = 5"
# float32 round-trip on both engines: exact IEEE double subtraction,
# then round-to-nearest-even down to the column's FLOAT element type —
# bit-identical in Spark and DuckDB.
_SPARK_EDIT_VEC = "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
_DUCK_EDIT_VEC = (
    "list_transform(embedding, x -> "
    "CAST(CAST(1.0 AS DOUBLE) - x::DOUBLE AS FLOAT))"
)


def _ivfpq_edit_oracle() -> str:
    """The frozen-quantizer IVF-PQ search oracle over the EDITED
    corpus: quantizer CTEs (centroid label-reps + codebook seeds) read
    the pre-edit base slice of the ORIGINAL embeddings — exactly what
    the stored index froze — while assignment and codes run over the
    post-edit corpus (deletes absent, updates re-embedded, adds
    present).  Queries stay the full original probe batch.  Everything
    else is the already-hash-gated sim10/sim12 arithmetic."""
    return f"""
    -- sim17/sim18: frozen-quantizer ADC search over the edited corpus.
    -- A surviving stored code for an updated/deleted id, a lost add,
    -- or a double-served update would each change the ranking => the
    -- hash gate proves tombstone+delta (and its compaction) lossless.
    WITH c AS ({_DUCK_NORMS}),
    corpus AS (
        SELECT vec_id,
               CASE WHEN {_EDIT_UPDATE} THEN {_DUCK_EDIT_VEC}
                    ELSE embedding END AS embedding
        FROM embeddings WHERE NOT ({_EDIT_DELETE})),
    cv AS (
        SELECT vec_id, embedding,
               sqrt({_DUCK_DOT.format(a="embedding", b="embedding")}) AS norm
        FROM corpus),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings
                    WHERE {_EDIT_BASE} GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM cv v, cents) t
        WHERE rn = 1),
    seeds AS (
        SELECT embedding AS c_emb,
               row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                   AS code
        FROM embeddings WHERE {_EDIT_BASE}
        ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {sim.PQ_CODEWORDS}),
    best AS (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM (
            SELECT v.vec_id, m.m, s.code,
                   {_DUCK_SLICE_D2.format(m="m.m", v="v.embedding", c="s.c_emb")} AS d2
            FROM corpus v, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s)),
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
    emb = _table(spark, sf_dir, "embeddings")
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


@register("sim17_ivfpq_upsert", _ivfpq_edit_oracle())
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
@register("sim18_ivfpq_compaction", ORACLES["sim17_ivfpq_upsert"])
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


# --------------------------------------------------------------- t20

def _t20_oracle() -> str:
    """Positional phrase search: zip-unnest tokenization (term +
    1-based position), each phrase term's leg normalized to a 0-based
    occurrence START (p - 1 - i), adjacency = equi-joins on
    (doc_id, start).  All-integer arithmetic."""
    terms = tx.PHRASE_TERMS
    ctes = ",\n    ".join(
        f"t{i} AS (SELECT doc_id, p - 1 - {i} AS start "
        f"FROM toks WHERE term = '{t}')"
        for i, t in enumerate(terms)
    )
    joins = " ".join(
        f"JOIN t{i} USING (doc_id, start)" for i in range(1, len(terms))
    )
    return f"""
    -- t20: phrase occurrences = positions where every phrase term
    -- sits at start + i. Counting and first_pos pin the POSITIONS,
    -- not just membership.
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS term,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
        FROM documents),
    {ctes}
    SELECT t0.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(start) AS BIGINT) AS first_pos
    FROM t0 {joins}
    GROUP BY t0.doc_id
    ORDER BY n_occurrences DESC, doc_id
    """


@register("t20_phrase_search", _t20_oracle())
def t20_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20: positional phrase search over the documents table — the
    lexical capability the bag-of-words BM25 family cannot express.
    Per-term legs filter to ONE phrase term before any shuffle;
    adjacency is a chain of (doc_id, start) equi-joins."""
    return tx.phrase_search(_table(spark, sf_dir, "documents"))


# t21 shares t20's oracle verbatim: serving from the parquet
# round-trip of the positional postings must produce the IDENTICAL
# result (the hash gate proves the build/serve split is lossless).
@register("t21_phrase_materialized", ORACLES["t20_phrase_search"])
def t21_phrase_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21: t20 via the build-once/serve-many pattern — materialize
    the positional postings term-clustered to parquet, then answer the
    phrase query from the re-reads only.  At 100 TB the serve path
    reads O(postings of the phrase terms) row-group-pruned; the corpus
    text is tokenized exactly once per snapshot."""
    base, _ = gate_workdir("fis_t21")
    mats = tx.write_positional_index(
        spark,
        tx.positional_index_tables(_table(spark, sf_dir, "documents")),
        base,
    )
    return tx.phrase_search_from_index(mats)


# -------------------------------------------------------------- sim19

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
        SELECT doc_id, rank FROM ({ORACLES["t15_bm25_topk"]})),
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
        sim.ivfpq_topk(_table(spark, sf_dir, "embeddings")),
        tx.bm25_topk(_table(spark, sf_dir, "documents")),
    )


# -------------------------------------------------------------- st19

# st19 shares sim17's oracle VERBATIM: the CDC stream lands exactly
# sim17's edit script (arrival 1 bootstraps the base corpus and
# freezes the quantizer on it — the sim13 contract and the oracle's
# quantizer slice; arrival 2 upserts the adds + re-embeds; arrival 3
# deletes), and the mask-folded serve must land exactly where the
# one-call batch upsert lands. A stale masked row surviving a replay,
# a tombstone over-masking its own batch's upsert, or a lost delete
# each hash-mismatch.


@register("st19_cdc_dense_ingest", ORACLES["sim17_ivfpq_upsert"])
def st19_cdc_dense_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19: streaming CDC APPLY onto the dense index — (vec_id, op,
    embedding) change rows arrive in micro-batches; each batch encodes
    its upserts against the frozen quantizer (O(batch)) and lands one
    delta-code dir plus one tombstone set; last write wins by batch
    order. Serving mask-folds the live dirs through sim11's unchanged
    path — mid-ingest or after drain."""
    from file_indexer_spark.registry_core import _land_arrivals
    from file_indexer_spark.session import tune_session
    from file_indexer_spark.streaming import ann as sann

    tune_session(spark)
    emb = _table(spark, sf_dir, "embeddings")
    base, _ = gate_workdir("fis_st19")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    up = F.lit("upsert").alias("op")
    a1 = emb.filter(F.expr(_EDIT_BASE)).select("vec_id", up, "embedding", "label")
    a2 = (
        emb.filter(F.expr(_EDIT_ADD))
        .select("vec_id", up, "embedding", "label")
        .unionByName(
            emb.filter(F.expr(_EDIT_UPDATE)).select(
                "vec_id", up, F.expr(_SPARK_EDIT_VEC).alias("embedding"), "label"
            )
        )
    )
    a3 = emb.filter(F.expr(_EDIT_DELETE)).select(
        "vec_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
    )
    _land_arrivals(src, [a1, a2, a3])
    sann.ingest_cdc_stream(
        spark,
        sann.read_cdc_stream(spark, src, max_files_per_trigger=1),
        state,
        os.path.join(base, "ckpt"),
    )
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sann.search_cdc(spark, state, queries)


# -------------------------------------------------------------- inf3

from file_indexer_spark.operators import inference as inf  # noqa: E402
from file_indexer_spark.queries.q14_round10 import _INF2_SCORE_E6  # noqa: E402


@register(
    "inf3_roc_auc",
    f"""
    -- Exact ROC-AUC (Mann-Whitney with midrank ties) of inf1's
    -- classifier vs the label-parity ground truth. Doubled midranks
    -- keep every intermediate an exact BIGINT; micro-unit scores
    -- bound the rank table at 1e6+1 keys regardless of corpus size.
    WITH scored AS (
        SELECT {_INF2_SCORE_E6} AS s,
               CAST(label % 2 = 0 AS BIGINT) AS pos
        FROM embeddings),
    by_s AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS np
        FROM scored GROUP BY s),
    cum AS (
        SELECT np, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS below
        FROM by_s),
    agg AS (
        SELECT CAST(SUM(np * (2 * below + n + 1)) AS BIGINT) AS two_rank_sum,
               CAST(SUM(np) AS BIGINT) AS n_pos,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM cum)
    SELECT n_pos,
           CAST(n_total - n_pos AS BIGINT) AS n_neg,
           CAST(two_rank_sum - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(2 * n_pos * (n_total - n_pos) AS BIGINT) AS auc_den,
           ROUND(CAST(two_rank_sum - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * (n_total - n_pos) AS DOUBLE), 6) AS auc
    FROM agg
    """,
)
def inf3_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INF3: exact ROC-AUC of the quality classifier — the ranking-
    quality number beside inf2's calibration table.  Midrank rank
    statistic in exact integer arithmetic; the rank pass is bounded
    by the micro-unit score domain, never the corpus."""
    return inf.roc_auc(_table(spark, sf_dir, "embeddings"))


# t22/t23 share t20's oracle verbatim (the t17b/t18 discipline on the
# phrase leg): the upsert must land exactly the true corpus's phrase
# result, and compaction is a pure layout rewrite.


@register("t22_phrase_upsert", ORACLES["t20_phrase_search"])
def t22_phrase_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22: positional-index UPSERT — a mixed insert+update batch
    (doc_id % 10 == 3: new docs; % 10 == 7: REPLACES a stale indexed
    version whose extra tokens would shift every later position)
    applied read-modify-write: one broadcast anti-join displaces the
    stale postings, the batch tokenizes itself, and the phrase query
    over the merged index must equal t20 from scratch over the true
    corpus — a surviving stale position row breaks the hash."""
    docs = _table(spark, sf_dir, "documents")
    slot = F.col("doc_id") % 10
    stale = docs.filter(slot != 3).withColumn(
        "text",
        F.when(
            slot == 7, F.concat(F.lit("stalemark stalemark "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    batch = docs.filter(slot.isin(3, 7))
    workdir, _ = gate_workdir("fis_t22")
    mats = tx.write_positional_index(
        spark, tx.positional_index_tables(stale), workdir
    )
    return tx.phrase_search_from_index(tx.positional_upsert(mats, batch))


@register("t23_phrase_compaction", ORACLES["t20_phrase_search"])
def t23_phrase_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23: positional-index COMPACTION — three appends land their
    postings as separate file sets (every term's positional rows
    spread further; the serve legs' row-group pruning degrades), then
    the shared term-clustered writer rewrites the index in one pass
    and the phrase query serves from the compacted layout."""
    docs = _table(spark, sf_dir, "documents")
    slot = F.col("doc_id") % 10
    workdir, _ = gate_workdir("fis_t23")
    mats = tx.write_positional_index(
        spark,
        tx.positional_index_tables(docs.filter(~slot.isin(7, 8, 9))),
        os.path.join(workdir, "base"),
    )
    posts = [mats["postings"]]
    for s in (7, 8, 9):
        p = os.path.join(workdir, f"gen{s}")
        tx.positional_index_tables(docs.filter(slot == s))[
            "postings"
        ].write.parquet(p)
        posts.append(spark.read.parquet(p))
    frag = posts[0]
    for x in posts[1:]:
        frag = frag.unionByName(x)
    compacted = tx.write_positional_index(
        spark, {"postings": frag}, os.path.join(workdir, "compact")
    )
    return tx.phrase_search_from_index(compacted)
