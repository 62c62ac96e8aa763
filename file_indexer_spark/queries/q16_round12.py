"""Registered queries — round 12: the lexical index grows its write
path (t17b read-modify-write upsert, t18 compaction), the constraint
gate gets its streaming twin (st18), and the personalized walk gets
the dd19 incremental-refresh treatment (dd21).

t17b closes the one contract gap the r11 verdict ranked first: t17's
append requires disjoint doc_ids, but the reference's write path is
update-heavy by design (``UPDATE files SET checksum…``,
file_indexer/indexer.py:424-448) — an index that only appends is the
leg a real user hits first.  t18 applies the w10 compaction
discipline to the postings t17 fragments.  Both hash against t15's
oracle verbatim: the upsert provably converges to the full-corpus
index, and compaction is a pure layout rewrite.

Reference parity: the raw-SQL passthrough surface
(file_indexer_go/db/database.go:269-317) accepts arbitrary analytic
SQL; these are the declarative DataFrame renditions with exact DuckDB
twins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.landing import gate_workdir, land_tables
from file_indexer_spark.operators import text as tx
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _land_arrivals,
    _table,
    register,
)
from file_indexer_spark.session import tune_session

# ------------------------------------------------------------- t17b

# t17b hashes against t15's oracle verbatim over the TRUE corpus: the
# base index is poisoned with stale text for the update slice, so only
# a complete read-modify-write (displace stale postings AND doc
# lengths AND their scalar counts, then append) can converge to the
# full-corpus index — a partial displacement hash-mismatches.


@register("t17b_bm25_upsert", ORACLES["t15_bm25_topk"])
def t17b_bm25_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17B: lexical index UPSERT — a mixed insert+update batch
    (doc_id % 10 == 3: new docs; % 10 == 7: REPLACES a stale indexed
    version) applied read-modify-write: anti-join the batch ids out of
    the stored postings/doclen, subtract the displaced counts from the
    corpus scalars (read off the stored doclen — the corpus text is
    never re-touched), then run the exact disjoint append.  Serves the
    query over the merged index; equality with t15's from-scratch pass
    over the true corpus proves the displacement is complete."""
    tune_session(spark)
    docs = _table(spark, sf_dir, "documents")
    slot = F.col("doc_id") % 10
    # the stored index: the %3 slice absent (pure inserts later), the
    # %7 slice present but STALE (extra tokens shift its dl and tf)
    stale = docs.filter(slot != 3).withColumn(
        "text",
        F.when(
            slot == 7, F.concat(F.col("text"), F.lit(" stalemark stalemark"))
        ).otherwise(F.col("text")),
    )
    batch = docs.filter(slot.isin(3, 7))
    workdir, _ = gate_workdir("fis_t17b")
    mats = tx.write_bm25_index(spark, tx.bm25_index_tables(stale), workdir)
    merged = tx.bm25_upsert(mats, batch)
    return tx.bm25_topk_from_index(merged)


# ------------------------------------------------------------- t18

# t18 hashes against t15's oracle verbatim too: compaction is a pure
# layout rewrite, so the ranking served from the compacted index must
# be bit-identical to the fragmented one (and to from-scratch t15).


@register("t18_bm25_compaction", ORACLES["t15_bm25_topk"])
def t18_bm25_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18: lexical index COMPACTION — three appends land their
    postings as separate file sets (each one fragments every term's
    posting list further; the serve plan's row-group pruning degrades
    toward a full scan), then ``bm25_compact`` rewrites the index
    term-clustered in one pass and the query is served from the
    compacted layout.  The w10 discipline applied to the retrieval
    index; BENCH_INCREMENTAL's lexical_index block measures the serve
    economics (flat after compaction vs degrading uncompacted)."""
    tune_session(spark)
    docs = _table(spark, sf_dir, "documents")
    slot = F.col("doc_id") % 10
    base = docs.filter(~slot.isin(7, 8, 9))
    workdir, _ = gate_workdir("fis_t18")
    mats = tx.write_bm25_index(
        spark, tx.bm25_index_tables(base), os.path.join(workdir, "base")
    )
    # land each append the way a steady-state writer does: ONLY the
    # batch's file set is written, sitting beside the older ones
    # (fragmented) — the round-12 optimization fixed the previous shape
    # here, which rewrote the FULL union per generation (three
    # corpus-sized writes standing in for three batch-sized ones; same
    # rows served, ~3x the write volume — OPTIMIZATION_r12.md)
    paths = {
        name: [os.path.join(workdir, "base", name)]
        for name in ("postings", "doclen")
    }
    for i in (7, 8, 9):
        batch_tables = tx.bm25_index_tables(docs.filter(slot == i))
        for name in ("postings", "doclen"):
            p = os.path.join(workdir, f"gen{i}", name)
            batch_tables[name].write.mode("overwrite").parquet(p)
            paths[name].append(p)
        # the scalars fold is incremental (stored + batch counts) and
        # one row — land the merged row per generation as before
        merged_scalars = mats["scalars"].join(
            F.broadcast(
                batch_tables["scalars"].select(
                    F.col("n_docs").alias("b_docs"),
                    F.col("tot_tokens").alias("b_tokens"),
                )
            )
        ).select(
            (F.col("n_docs") + F.col("b_docs")).cast("long").alias("n_docs"),
            (F.col("tot_tokens") + F.col("b_tokens")).cast("long").alias("tot_tokens"),
        )
        sp = os.path.join(workdir, f"gen{i}", "scalars")
        merged_scalars.write.mode("overwrite").parquet(sp)
        mats = {
            "postings": spark.read.parquet(*paths["postings"]),
            "doclen": spark.read.parquet(*paths["doclen"]),
            "scalars": spark.read.parquet(sp),
        }
    compacted = tx.bm25_compact(spark, mats, os.path.join(workdir, "compact"))
    return tx.bm25_topk_from_index(compacted)


# ------------------------------------------------------------- dd21

# dd21 shares dd20's oracle VERBATIM: the refresh starts from a stored
# rank table walked with the OLD seed set (vec_id < PPR_SEED_MAX_OLD),
# applies the seed edit by re-walking ONLY the affected weakly-
# connected components, and must land exactly where dd20 lands from
# scratch with the new seeds — a stale passthrough row or an
# under-closed component set hash-mismatches.

from file_indexer_spark.operators import graph as gr  # noqa: E402


@register("dd21_ppr_refresh", ORACLES["dd20_personalized_pagerank"])
def dd21_ppr_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD21: incremental personalized-PageRank refresh under a
    SEED-SET EDIT (anchor set grows PPR_SEED_MAX_OLD -> PPR_SEED_MAX)
    — the dd19 affected-components pattern on the personalized walk.
    The stored rank table (materialized to parquet, the compute-once
    discipline) passes through untouched outside the components that
    contain an edited seed; only those components re-walk, with the
    shared Kiveris star-contraction labeling bounding the re-walk to
    O(affected members)."""
    from file_indexer_spark.operators import similarity as sim

    tune_session(spark)
    emb = _table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id")
    knn = sim.knn_join(emb, ordered=False).localCheckpoint(eager=False)
    workdir, _ = gate_workdir("fis_dd21")
    stored = land_tables(
        spark,
        {"ranks": gr.personalized_pagerank(knn, corpus, seed_max=gr.PPR_SEED_MAX_OLD)},
        workdir,
    )
    return gr.personalized_pagerank_refresh(knn, corpus, stored["ranks"])


# ------------------------------------------------------------- st18

# st18 shares w19's oracle VERBATIM (the ct6->st16 / e20->st17 shared-
# oracle pattern): the one-shot batch classification and the streamed
# classify-arbitrate-route must land the exact same final state,
# because the duplicate-key arbitration is a TOTAL order independent
# of arrival split — the gate feeds the same corrupted rows in three
# micro-batches with the PK violators arriving LAST (cross-batch).


@register("st18_streaming_quarantine", ORACLES["w19_constraint_quarantine"])
def st18_streaming_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18: w19's validate-and-quarantine gate AT INGESTION — a
    foreachBatch stage in front of the MERGE: each micro-batch is
    classified with the shared ``classify_files`` (all four NOT NULL
    reasons + within-batch duplicate_key), then the batch's surviving
    rows arbitrate against the stored table per PK in the shared total
    order (``arbitrate_incoming``): the incoming winner upserts (the
    MERGE evicts the displaced stored row), and displaced/losing rows
    land in the quarantine parquet — every input row in exactly one
    sink at stream end, and the final state provably equals the batch
    classification regardless of how the feed was split.  Summary
    recomputed from the ROUND-TRIPPED sinks (the w6 discipline)."""
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.queries.q15_round11 import (
        _w19_corrupted_base,
        _w19_dup_rows,
    )
    from file_indexer_spark.streaming import quality as sq
    from file_indexer_spark.tables import files_df

    tune_session(spark)
    workdir, _ = gate_workdir("fis_st18")
    base = files_df(spark, sf_dir)
    corrupted = _w19_corrupted_base(base)
    # split the corrupted base in two by a path hash (filename may be
    # NULL), and land the PK violators as their own LAST batch so the
    # duplicate keys genuinely span micro-batches
    h2 = F.substring(F.md5(F.col("path")), 2, 1)
    src = os.path.join(workdir, "src")
    _land_arrivals(
        src,
        [
            corrupted.filter(h2 < "8"),
            corrupted.filter(h2 >= "8"),
            _w19_dup_rows(base),
        ],
    )
    state = os.path.join(workdir, "state")
    sq.ingest_quarantine_stream(
        spark,
        sq.read_files_stream(spark, src),
        state,
        os.path.join(workdir, "ckpt"),
    )
    table = FilesTable(spark, os.path.join(state, "db"))
    qdir = os.path.join(state, "quarantine")

    back = table.read().select(
        F.lit("accepted").alias("status"), "file_size"
    ).unionByName(
        spark.read.parquet(qdir).select(
            F.col("reason").alias("status"), "file_size"
        )
    )
    return (
        back.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("file_size").cast("long").alias("total_size"),
        )
        .orderBy("status")
    )


# ------------------------------------------------------------- dd22

from file_indexer_spark.queries.q08_round4plus import _SIM5_KNN_CTES  # noqa: E402


def _lp_round(i: int) -> str:
    return f"""
    votes{i} AS (
        SELECT e.dst AS vec_id, p.lbl,
               CAST(SUM(e.w_e6) AS BIGINT) AS wsum
        FROM ew e JOIN lp{i} p ON p.vec_id = e.src
        GROUP BY e.dst, p.lbl),
    best{i} AS (
        SELECT vec_id, lbl FROM (
            SELECT vec_id, lbl,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY wsum DESC, lbl ASC) AS rn
            FROM votes{i}) WHERE rn = 1),
    lp{i + 1} AS (
        SELECT p.vec_id, COALESCE(b.lbl, p.lbl) AS lbl
        FROM lp{i} p LEFT JOIN best{i} b ON b.vec_id = p.vec_id)"""


_LP_ROUNDS = ",".join(_lp_round(i) for i in range(gr.LP_ITERATIONS))


@register(
    "dd22_label_propagation",
    f"""
    -- Weighted label propagation over sim5's kNN graph: every vertex
    -- starts as its own label; each synchronous round adopts the
    -- label with the largest incoming positive-weight sum (BIGINT
    -- micro-units), ties broken by MIN label, no-inflow vertices keep
    -- their label; {gr.LP_ITERATIONS} unrolled rounds; isolated
    -- corpus vectors are singleton communities.
    WITH {_SIM5_KNN_CTES},
    ew AS (
        SELECT vec_id AS src, neighbor_id AS dst,
               CAST(ROUND(cosine * 1000000) AS BIGINT) AS w_e6
        FROM knn
        WHERE CAST(ROUND(cosine * 1000000) AS BIGINT) > 0),
    nodes AS (
        SELECT DISTINCT vec_id FROM (
            SELECT src AS vec_id FROM ew UNION SELECT dst FROM ew) t),
    lp0 AS (SELECT vec_id, vec_id AS lbl FROM nodes),
    {_LP_ROUNDS}
    SELECT e.vec_id,
           CAST(COALESCE(l.lbl, e.vec_id) AS BIGINT) AS community
    FROM embeddings e
    LEFT JOIN lp{gr.LP_ITERATIONS} l USING (vec_id)
    ORDER BY e.vec_id
    """,
)
def dd22_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD22: weighted community detection over sim5's kNN graph — the
    grouping primitive completing the graph family (dd18 global
    centrality, dd20 seed proximity, dd22 unsupervised communities).
    Synchronous min-tie-break majority voting on BIGINT weight sums,
    fixed unrolled rounds; per-round localCheckpoint; one
    edges-partitioned join + one (dst, label) aggregate per round."""
    from file_indexer_spark.operators import similarity as sim

    tune_session(spark)
    emb = _table(spark, sf_dir, "embeddings")
    return gr.label_propagation(sim.knn_join(emb, ordered=False), emb.select("vec_id"))
