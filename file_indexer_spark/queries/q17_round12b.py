"""Registered queries — round 12b: the lexical index gets its
streaming ingest twin (t19 — dense ANN had sim13, near-dup had st13,
the write path had w8/st18; BM25 was the one retrieval leg ingested
only in batch), label propagation gets the dd19/dd21 incremental
treatment (dd23), and decontamination gains its surgical output (ct7
— the span list, where ct1 makes the drop-whole-doc decision).

Reference parity: the reference maintains its queryable state
incrementally at ingestion (two-phase loop,
file_indexer/indexer.py:376-470) and its analytics accept arbitrary
SQL (file_indexer_go/db/database.go:269-317); these extend both
contracts to the LLM-pipeline tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.landing import gate_workdir, land_tables
from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import graph as gr
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _land_arrivals,
    _table,
    register,
)
from file_indexer_spark.session import tune_session

# ------------------------------------------------------------- t19

# t19 hashes against t15's oracle verbatim (the t16/t17/t17b/t18
# discipline): BM25 statistics are pure counts, so the union of
# per-micro-batch index tables over disjoint-id arrivals IS the
# full-corpus index — bm25_append's argument applied inductively over
# the stream.


@register("t19_streaming_lexical_ingest", ORACLES["t15_bm25_topk"])
def t19_streaming_lexical_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19: streaming LEXICAL index ingestion — documents arrive in
    three micro-batches; each one tokenizes and aggregates ITSELF only
    and lands its postings term-clustered as a committed version dir
    (foreachBatch replay overwrites its own version — at-least-once
    safe). The gate drains the stream and serves the query from the
    stored state alone; equality with t15's from-scratch pass over the
    whole corpus proves stream-ingest == one batch build."""
    from file_indexer_spark.streaming import lexical as slex

    tune_session(spark)
    docs = _table(spark, sf_dir, "documents")
    base, _ = gate_workdir("fis_t19")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    slot = F.col("doc_id") % 10
    cols = ["doc_id", "text"]
    _land_arrivals(
        src,
        [
            docs.filter(slot <= 6).select(*cols),
            docs.filter(slot.isin(7, 8)).select(*cols),
            docs.filter(slot == 9).select(*cols),
        ],
    )
    stream = slex.read_docs_stream(spark, src, max_files_per_trigger=1)
    slex.ingest_lexical_stream(spark, stream, state, os.path.join(base, "ckpt"))
    return slex.search(spark, state)


# ------------------------------------------------------------- dd23

# dd23 shares dd22's oracle VERBATIM: the refresh starts from a stored
# community table propagated over the BASE corpus graph (vec_id % 10
# != 7 — the dd12/drift batch convention), folds in the batch by
# re-propagating ONLY the union-graph components containing a changed
# edge endpoint, and must land exactly where dd22 lands from scratch
# on the full corpus — a stale passthrough row or an under-closed
# component set hash-mismatches.


@register("dd23_lp_refresh", ORACLES["dd22_label_propagation"])
def dd23_lp_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD23: incremental community refresh under a BATCH INGEST — the
    dd19/dd21 affected-components pattern on label propagation,
    completing the incremental leg of the graph family. The stored
    community table and the base edge table (the compute-once
    discipline) pass through untouched outside the union-graph
    components whose edge set the batch changed (new vectors' links
    plus displaced top-k rows of existing vectors); only those
    components re-propagate."""
    from file_indexer_spark.operators import similarity as sim

    tune_session(spark)
    emb = _table(spark, sf_dir, "embeddings")
    base_emb = emb.filter(F.col("vec_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd23")
    # round-13 optimization (guide §2.3/§5): the gate builds the kNN
    # graph twice (base for the stored tables, union for the refresh);
    # knn_join_two_sets scores the shared within-list pairs ONCE and
    # tags side membership — row-for-row equal to the two standalone
    # knn_join calls (see its docstring), pinned by the gate's
    # full-hash oracle
    knn_base, knn_union = sim.knn_join_two_sets(emb, base_emb)
    knn_base = knn_base.localCheckpoint(eager=False)
    knn_union = knn_union.localCheckpoint(eager=False)
    # edges and labels share knn_base's checkpoint: one landing each
    stored = land_tables(spark, {"edges": gr.lp_edges(knn_base)}, workdir)
    stored |= land_tables(
        spark, {"labels": gr.label_propagation(knn_base, base_emb.select("vec_id"))}, workdir
    )
    return gr.label_propagation_refresh(
        knn_union, emb.select("vec_id"), stored["edges"], stored["labels"]
    )


# ------------------------------------------------------------- ct7

_N = H.SHINGLE_N

# the dd9 gram CTEs pointed at the ct1 benchmark split: candidate
# grams keep positions, benchmark grams collapse to a DISTINCT set
_CT7_CTES = f"""grams AS (
        SELECT doc_id, n_tokens, u.p AS p, u.h AS h FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - {_N - 1}, 1) + 1),
                       i -> {{'p': i, 'h': {H.duck_hash60(f"array_to_string(string_split(text, ' ')[i:i+{_N - 1}], ' ')")}}})) AS u
            FROM documents
            WHERE substring(md5(doc_id::VARCHAR), 1, 1) <> '{cu.BENCH_HEX}')),
    bench AS (
        SELECT DISTINCT h FROM (
            SELECT unnest({H.duck_shingle_hashes()}) AS h FROM documents
            WHERE substring(md5(doc_id::VARCHAR), 1, 1) = '{cu.BENCH_HEX}') t),
    marked AS (
        SELECT g.doc_id, g.n_tokens, g.p FROM grams g JOIN bench b ON g.h = b.h),
    flagged AS (
        SELECT doc_id, n_tokens, p,
               CASE WHEN p > coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), -10) + {_N}
                    THEN 1 ELSE 0 END AS new_island
        FROM marked),
    islands AS (
        SELECT doc_id, n_tokens, p,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)"""


@register(
    "ct7_contamination_spans",
    f"""
    -- Benchmark-contamination extents: gaps-and-islands over positions
    -- of candidate-doc word {_N}-grams that occur anywhere in the
    -- benchmark set (ct1's membership rule verbatim). span_end clamped
    -- to the doc's token count (sub-gram-width docs use the whole-doc
    -- fallback gram).
    WITH {_CT7_CTES}
    SELECT doc_id,
           CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(LEAST(MAX(p) + {_N - 1}, MAX(n_tokens)) AS BIGINT) AS span_end,
           CAST(LEAST(MAX(p) + {_N - 1}, MAX(n_tokens)) - MIN(p) + 1 AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
)
def ct7_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CT7: decontamination EXTENTS — the exact token ranges of each
    candidate document covered by benchmark-set n-grams (ct1 drops
    whole docs over an overlap threshold; ct7 is the surgical strip
    list for the collisions below it). The benchmark gram set
    broadcasts; the only shuffle is the per-doc gaps-and-islands
    window over MATCHED gram occurrences."""
    return cu.contamination_spans(_table(spark, sf_dir, "documents"))
