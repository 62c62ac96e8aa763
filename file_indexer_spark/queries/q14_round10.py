"""Registered queries — round 10: graph centrality over the dedup
graph (dd18) with incremental component-local maintenance (dd19),
ranked retrieval (t15), diversified ANN serving (sim16), multi-touch
attribution (e19), exact sketch-then-verify heavy hitters (e20),
distribution-drift monitoring (ct6) with a streaming rendition (st16),
and source-interleaved curriculum ordering (sp13).

Each fills a pattern gap the earlier 192 queries don't cover: an
ITERATIVE vertex program with an unrolled exact oracle (dd18) and its
affected-components-only refresh sharing that oracle verbatim (dd19),
BM25 — the lexical ranking every retrieval-augmented pipeline runs
beside the sim-family's dense ANN (t15), greedy submodular re-ranking
(sim16), value ALLOCATION across a time-window join rather than
selection from it (e19), frequency queries over unbounded key domains
without an O(distinct keys) shuffle (e20), two-sample distribution
comparison for corpus monitoring (ct6/st16), and fair round-robin
interleaving for training order (sp13).

Reference parity: the raw-SQL passthrough surface
(file_indexer_go/db/database.go:269-317) accepts arbitrary analytic
SQL; these are the declarative DataFrame renditions with exact DuckDB
twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import graph as gr
from file_indexer_spark.queries.q06_ddmat_sampling import _DD7_PAIRS_CTES
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _table,
    register,
)
from file_indexer_spark.session import tune_session

# ------------------------------------------------------------- dd18

# The oracle unrolls the fixed iteration count verbatim — one CTE per
# round, every update in BIGINT integer division, so the recursive
# computation is exact and engine-agnostic (no float accumulation).


def _pagerank_round(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT n.doc_id,
               CAST({gr.BASE_E6} + (({gr.DAMPING_E2} *
                    COALESCE(CAST(SUM(p.rank_e6 // ed.deg) AS BIGINT), 0))
                    // 100) AS BIGINT) AS rank_e6
        FROM nodes n
        LEFT JOIN ed ON ed.dst = n.doc_id
        LEFT JOIN {prev} p ON p.doc_id = ed.src
        GROUP BY n.doc_id)"""


_PR_ROUNDS = ",".join(
    _pagerank_round(f"r{i}", f"r{i + 1}") for i in range(gr.ITERATIONS)
)

_DD18_SQL = f"""
    -- Fixed-point PageRank centrality over the dd3 near-dup graph:
    -- rank'(v) = base + (85 * sum(rank(u) // deg(u))) // 100, all
    -- BIGINT micro-units, {gr.ITERATIONS} unrolled rounds. Documents
    -- outside the pair subgraph hold the teleport base from round 1.
    WITH
    {_DD7_PAIRS_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    degs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
             FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN degs d USING (src)),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    r0 AS (SELECT doc_id, CAST({gr.R0_E6} AS BIGINT) AS rank_e6 FROM nodes),
    {_PR_ROUNDS}
    SELECT d.doc_id,
           CAST(COALESCE(dg.deg, 0) AS BIGINT) AS deg,
           CAST(COALESCE(rf.rank_e6, {gr.BASE_E6}) AS BIGINT) AS rank_e6
    FROM documents d
    LEFT JOIN r{gr.ITERATIONS} rf ON rf.doc_id = d.doc_id
    LEFT JOIN degs dg ON dg.src = d.doc_id
    ORDER BY d.doc_id
    """


@register("dd18_pagerank_centrality", _DD18_SQL)
def dd18_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD18: PageRank centrality over the near-dup pair graph — the
    canonical-document signal (keep the most CENTRAL member of a dup
    neighborhood, not an arbitrary min-id). Iteration state is
    O(pair subgraph); corpus-wide rows join in once at the end."""
    tune_session(spark)
    docs = _table(spark, sf_dir, "documents")
    return gr.pagerank(docs, dd.minhash_lsh_pairs(docs))


# -------------------------------------------------------------- e19

from file_indexer_spark.operators import events as ev  # noqa: E402
from file_indexer_spark.registry_core import _events  # noqa: E402
from file_indexer_spark.streaming.joins import (  # noqa: E402
    ATTRIBUTION_GAP_MINUTES as _E19_GAP_MIN,
)


@register(
    "e19_linear_attribution",
    f"""
    -- Linear multi-touch attribution: each purchase's value (e6
    -- fixed-point) split equally across the user's views inside the
    -- {_E19_GAP_MIN}-minute window before it, rolled up per view.
    -- Integer DIV on nonnegative amounts — exact on both engines;
    -- remainder micro-units deliberately dropped.
    WITH pairs AS (
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.user_id,
               CAST(ROUND(p.value * 1000000) AS BIGINT) AS value_e6
        FROM events p
        JOIN events v
          ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL {_E19_GAP_MIN} MINUTE
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'),
    shares AS (
        SELECT view_id, user_id,
               value_e6 // COUNT(*) OVER (PARTITION BY purchase_id)
                   AS share_e6
        FROM pairs)
    SELECT view_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(share_e6) AS BIGINT) AS attributed_e6
    FROM shares GROUP BY view_id, user_id ORDER BY view_id
    """,
)
def e19_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: value ALLOCATION over the e15 pair set — pair join (one
    user_id shuffle per side), per-purchase touch count as a window,
    per-view hash-aggregate rollup."""
    tune_session(spark)
    return ev.linear_attribution(_events(spark, sf_dir))


# -------------------------------------------------------------- t15

from file_indexer_spark.operators import text as tx  # noqa: E402

_T15_TERMS = ", ".join(f"'{t}'" for t in tx.BM25_QUERY_TERMS)


@register(
    "t15_bm25_topk",
    f"""
    -- BM25 top-{tx.BM25_TOP_K} for the fixed query ({_T15_TERMS}):
    -- Lucene-form idf ln(1 + (N-df+0.5)/(df+0.5)), k1={tx.BM25_K1},
    -- b={tx.BM25_B}. The score expression is the IDENTICAL text the
    -- Spark side evaluates — same operation order, exact integer
    -- inputs, 6-decimal output rounding (the sim1 float contract).
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    scalars AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(dl) AS BIGINT) AS tot_tokens FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks WHERE term IN ({_T15_TERMS})
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
              FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               SUM(ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5))
                   * (CAST(tf AS DOUBLE) * {tx.BM25_K1 + 1})
                   / (CAST(tf AS DOUBLE) + {tx.BM25_K1}
                      * ({1 - tx.BM25_B} + ({tx.BM25_B} * CAST(dl AS DOUBLE)
                         * CAST(n_docs AS DOUBLE))
                         / CAST(tot_tokens AS DOUBLE)))) AS score
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN scalars
        GROUP BY tf.doc_id)
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank,
           ROUND(score, 6) AS score
    FROM scored
    ORDER BY score DESC, doc_id LIMIT {tx.BM25_TOP_K}
    """,
)
def t15_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15: BM25 ranked retrieval — two map-side-combined aggregates
    over the token stream (tf filtered to the query terms BEFORE the
    shuffle), broadcast df/scalars, TakeOrderedAndProject top-k."""
    tune_session(spark)
    return tx.bm25_topk(_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- ct6

from file_indexer_spark.operators import curation as cu  # noqa: E402

_CT6_NBINS = cu.DRIFT_MAX_BIN + 1
_CT6_PA = (
    f"((CAST(base_n AS DOUBLE) + 0.5) / (CAST(base_total AS DOUBLE)"
    f" + {0.5 * _CT6_NBINS}))"
)
_CT6_PB = (
    f"((CAST(batch_n AS DOUBLE) + 0.5) / (CAST(batch_total AS DOUBLE)"
    f" + {0.5 * _CT6_NBINS}))"
)


@register(
    "ct6_distribution_drift",
    f"""
    -- Two-sample drift between the dd12 batch slice (doc_id % 10 = 7)
    -- and the base corpus over the doc-length histogram. L1 distance
    -- as an exact integer (common denominator cleared); PSI with +0.5
    -- smoothing as the rounded-double companion.
    WITH binned AS (
        SELECT CAST(LEAST(n_chars // {cu.DRIFT_BIN_CHARS},
                          {cu.DRIFT_MAX_BIN}) AS INTEGER) AS bin,
               doc_id % {cu.DRIFT_BATCH_MOD} = {cu.DRIFT_BATCH_REM} AS is_batch
        FROM documents),
    hist AS (
        SELECT bin,
               CAST(SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS base_n,
               CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT)
                   AS batch_n
        FROM binned GROUP BY bin),
    totals AS (
        SELECT bin, base_n, batch_n,
               CAST(SUM(base_n) OVER () AS BIGINT) AS base_total,
               CAST(SUM(batch_n) OVER () AS BIGINT) AS batch_total
        FROM hist),
    enriched AS (
        SELECT bin, base_n, batch_n,
               CAST(ABS(base_n * batch_total - batch_n * base_total)
                    AS BIGINT) AS l1_num,
               ({_CT6_PA} - {_CT6_PB}) * ln({_CT6_PA} / {_CT6_PB}) AS psi_raw
        FROM totals)
    SELECT bin, base_n, batch_n, l1_num,
           ROUND(psi_raw, 6) AS psi_bin,
           CAST(SUM(l1_num) OVER () AS BIGINT) AS l1_num_total,
           ROUND(SUM(psi_raw) OVER (), 6) AS psi_total
    FROM enriched ORDER BY bin
    """,
)
def ct6_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CT6: corpus-vs-batch length-profile drift — one map-side bin
    expression, one hash aggregate (2 x #bins output), arithmetic over
    the tiny histogram. The corpus is scanned exactly once."""
    tune_session(spark)
    return cu.distribution_drift(_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- sim16

from file_indexer_spark.operators import similarity as sim  # noqa: E402
from file_indexer_spark.queries.q04_dedup_sim import (  # noqa: E402
    _DUCK_DOT,
    _DUCK_NORMS,
)

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
    tune_session(spark)
    return sim.mmr_rerank(_table(spark, sf_dir, "embeddings"))


# -------------------------------------------------------------- sp13

from file_indexer_spark.operators import sampling as sp  # noqa: E402


@register(
    "sp13_source_interleave",
    """
    -- Fair round-robin source interleaving: round r reads the r-th
    -- doc (by the content-stable md5 order) of every source that
    -- still has one, in source order — every n_sources-wide window
    -- of the read order contains each live source exactly once.
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                    PARTITION BY source
                    ORDER BY md5('13:' || CAST(doc_id AS VARCHAR)), doc_id)
                    AS BIGINT) AS round
        FROM documents)
    SELECT doc_id, source, round,
           CAST(row_number() OVER (PARTITION BY round ORDER BY source)
                AS BIGINT) AS slot
    FROM ranked
    ORDER BY round, slot
    """,
)
def sp13_source_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP13: source-clump-free epoch order — per-source ranks (one
    shuffle on source), O(sources)-wide round windows; (round, slot)
    is the global read order with no corpus-wide row_number."""
    tune_session(spark)
    return sp.source_interleave(_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- st16

from file_indexer_spark.landing import gate_workdir, land_tables  # noqa: E402
from file_indexer_spark.registry_core import _land_arrivals  # noqa: E402


@register("st16_streaming_drift", ORACLES["ct6_distribution_drift"])
def st16_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16: ct6's drift monitor AT INGESTION — the length histogram
    is O(bins) streaming state folded incrementally across document
    arrivals (update mode re-emits touched bins only); the drift
    arithmetic runs over the drained final state. Shares ct6's oracle
    VERBATIM, so the hash gate proves the stream-maintained histogram
    equals the batch recompute."""
    import os

    from file_indexer_spark.streaming import curation as scu
    from file_indexer_spark.streaming.windows import (
        last_emission,
        run_update_mode_to_parquet,
    )

    tune_session(spark)
    base, _ = gate_workdir("fis_st16")
    src, out = os.path.join(base, "src"), os.path.join(base, "log")
    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    _land_arrivals(
        src,
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)],
    )
    stream = scu.read_drift_docs_stream(spark, src, max_files_per_trigger=1)
    run_update_mode_to_parquet(scu.drift_histogram_stream(stream), out)
    hist = last_emission(spark, out, ["bin"])
    return cu.drift_from_histogram(hist)


# -------------------------------------------------------------- dd19


@register("dd19_incremental_pagerank", _DD18_SQL)
def dd19_incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD19: the full incremental CENTRALITY maintenance loop —
    materialize the base corpus's LSH index, dd7 assignment, dd3 pair
    list, and dd18 rank table once; then for the ingest batch: probe
    the index (dd12), refresh the touched clusters (dd13), and re-run
    the vertex program over the AFFECTED COMPONENTS only. Output is
    the whole corpus's rank table, provably identical to dd18
    recomputed from scratch — gated by dd18's oracle VERBATIM."""
    docs = _table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd19")

    # compute-once discipline INSIDE the build too: materialize the
    # index tables first, then derive the pair list from the RE-READ
    # bands/shingle sets (round-12 optimization: the dd3 signing
    # machinery runs ONCE — previously the pair list re-signed the
    # corpus a second time for rows the stored tables already
    # determine), and assignment/ranks from the re-read pairs
    mats = dd.write_lsh_index(spark, base, workdir)
    mats |= land_tables(spark, {"pairs": dd.lsh_pairs_from_tables(mats)}, workdir)
    # round-13 (guide §2.6): assignment and rank builds both read ONLY
    # the just-landed pairs parquet — independent multi-round programs,
    # so each is built on its own landing thread instead of serializing
    # two iteration tails
    pairs = mats["pairs"]
    mats |= land_tables(
        spark,
        {
            "assignments": lambda: dd.dedup_clusters(base, pairs),
            "ranks": lambda: gr.pagerank(base, pairs),
        },
        workdir,
    )
    # round-13 (guide §5): the dd12 probe feeds BOTH the cluster
    # refresh and the rank refresh; each cuts its new_pairs argument
    # internally, but those are two separate checkpoints of the SAME
    # uncut lineage — the band probe + Jaccard verify previously ran
    # twice. One gate-level cut makes the interior cuts cheap
    # re-materializations of already-cached blocks.
    new_pairs = dd.incremental_lsh_pairs(mats, new).localCheckpoint(eager=False)
    union_assign = dd.incremental_cluster_refresh(
        mats["assignments"], new_pairs, new
    )
    return gr.pagerank_refresh(
        mats["ranks"], mats["pairs"], union_assign, new_pairs, new
    )


# -------------------------------------------------------------- e20


@register(
    "e20_heavy_hitters",
    f"""
    -- Exact frequency heavy hitters (> 1/{ev.HH_T} of all events).
    -- The oracle is the naive global groupBy; the Spark side reaches
    -- the identical answer through a map-side Misra-Gries candidate
    -- pass + exact verify of the bounded candidate set (the sketch
    -- buys the plan shape, not an approximation).
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    counts AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           ROUND(CAST(n_events AS DOUBLE) / n, 6) AS frequency
    FROM counts, tot
    WHERE n_events > n // {ev.HH_T}
    ORDER BY n_events DESC, user_id
    """,
)
def e20_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20: two-pass heavy hitters — pass 1 is a shuffle-free
    Misra-Gries summary per partition (Arrow batch stream, <= C keys
    out per partition), pass 2 an exact count of the broadcast
    candidate set. The aggregate's exchange is O(candidates), never
    O(distinct users) — the 100 TB plan shape for frequency queries
    over unbounded key domains."""
    tune_session(spark)
    return ev.heavy_hitters(_events(spark, sf_dir))


# -------------------------------------------------------------- inf2

from file_indexer_spark.operators import inference as inf  # noqa: E402

_INF2_SCORE_E6 = f"""CAST(ROUND(1.0 / (1.0 + exp(-(
                   list_reduce(
                       list_transform(range(1, {inf.DIM} + 1),
                           i -> (embedding[i]::DOUBLE)
                                * (((i * 37) % 29 - 14)::DOUBLE / 29.0)),
                       (x, y) -> x + y)
                   + {inf.BIAS}))) * 1000000) AS BIGINT)"""


@register(
    "inf2_calibration_bins",
    f"""
    -- Reliability diagram over inf1's scores: decile bins, mean
    -- confidence vs observed positive rate (label-parity ground
    -- truth), |gap| per bin. Integer micro-unit scores, integer
    -- bins, single rounded divisions — no float accumulation.
    WITH scored AS (
        SELECT {_INF2_SCORE_E6} AS s_e6,
               label % 2 = 0 AS is_pos
        FROM embeddings),
    binned AS (
        SELECT CAST(LEAST(s_e6 // 100000, {inf.CALIB_BINS - 1}) AS INTEGER)
                   AS bin,
               s_e6, is_pos
        FROM scored)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(s_e6) AS DOUBLE) / COUNT(*) / 1000000, 6)
               AS mean_confidence,
           ROUND(CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS pos_rate,
           ROUND(ABS(CAST(SUM(s_e6) AS DOUBLE) / COUNT(*) / 1000000
                     - CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*)), 6) AS calib_gap
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def inf2_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INF2: the classifier-calibration eval — one codegen scoring
    expression over the scan (inf1's shared _score_e6), one hash
    aggregate onto <= 10 bins. Scan-bound like inf1."""
    tune_session(spark)
    return inf.calibration_bins(_table(spark, sf_dir, "embeddings"))


# -------------------------------------------------------------- mx3

_MX3_EPOCH_W = " ".join(
    f"WHEN {e} THEN " + {
        0: "n",
        1: "sqrt(n) * sqrt(sqrt(n))",
        2: "sqrt(n)",
        3: "sqrt(sqrt(n))",
    }[e]
    for e, _ in cu.ANNEAL_ALPHAS
)
_MX3_ALPHA = " ".join(f"WHEN {e} THEN {a}" for e, a in cu.ANNEAL_ALPHAS)


@register(
    "mx3_annealed_mixture",
    f"""
    -- Curriculum mixture annealing: alpha walks 1.0 -> 0.25 across
    -- epochs (quarter powers only, so every weight is composed
    -- sqrt()s — correctly rounded in both engines); per-epoch
    -- normalization over DECIMAL(20,9) (exact, order-independent).
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM documents GROUP BY source),
    ep AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(epoch)),
    tagged AS (
        SELECT CAST(epoch AS INTEGER) AS epoch,
               CAST(CASE epoch {_MX3_ALPHA} END AS DOUBLE) AS alpha,
               source, n_docs,
               CAST(ROUND(CASE epoch {_MX3_EPOCH_W} END, 9)
                    AS DECIMAL(20,9)) AS w
        FROM counts, ep)
    SELECT epoch, alpha, source, n_docs,
           ROUND(CAST(w AS DOUBLE)
                 / CAST(SUM(w) OVER (PARTITION BY epoch) AS DOUBLE), 6)
               AS temp_weight,
           CAST(FLOOR(ROUND(CAST(w AS DOUBLE)
                 / CAST(SUM(w) OVER (PARTITION BY epoch) AS DOUBLE), 6)
                 * {cu.MIX_BUDGET}) AS BIGINT) AS target_docs
    FROM tagged ORDER BY epoch, source
    """,
)
def mx3_annealed_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MX3: the epoch x source sampling plan — one per-source corpus
    aggregate, then O(sources x epochs) window arithmetic."""
    tune_session(spark)
    return cu.annealed_mixture(_table(spark, sf_dir, "documents"))


# -------------------------------------------------------------- e21

_E21_HL_US = ev.DECAY_HALF_LIFE_DAYS * 86_400_000_000


@register(
    "e21_decayed_engagement",
    f"""
    -- Recency-weighted engagement: each event weighs 2^(-q/4) where
    -- q is its age in whole QUARTER half-lives (anchored on the
    -- corpus max event time). The weight decomposes into an exact
    -- power of two times a sqrt-composed fractional factor — both
    -- IEEE-correctly-rounded, hence bit-identical across engines
    -- (pow() is not; mx3's precedent) — then QUANTIZES to integer
    -- micro-units per row, so the per-user sums are exact integers.
    WITH anchor AS (SELECT MAX(ts) AS anchor_ts FROM events),
    quarters AS (
        SELECT user_id,
               ((epoch_us(anchor_ts) - epoch_us(ts)) * 4) // {_E21_HL_US}
                   AS q_qhl,
               CAST(ROUND(value * 100) AS BIGINT) AS value_e2
        FROM events, anchor),
    weighted AS (
        SELECT user_id, value_e2,
               CASE WHEN q_qhl // 4 >= 21 THEN CAST(0 AS BIGINT)
               ELSE CAST(ROUND(
                   (CASE q_qhl % 4 WHEN 0 THEN CAST(1.0 AS DOUBLE)
                         WHEN 1 THEN sqrt(sqrt(0.5))
                         WHEN 2 THEN sqrt(0.5)
                         ELSE sqrt(0.5) * sqrt(sqrt(0.5)) END)
                   / CAST((CAST(1 AS BIGINT) << CAST(q_qhl // 4 AS INTEGER))
                          AS DOUBLE)
                   * 1000000) AS BIGINT) END AS w_e6
        FROM quarters),
    scored AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(w_e6) AS BIGINT) AS decayed_count_e6,
               CAST(SUM(w_e6 * value_e2) AS BIGINT) AS decayed_value_e8
        FROM weighted GROUP BY user_id)
    SELECT CAST(row_number() OVER (ORDER BY decayed_value_e8 DESC, user_id)
               AS INTEGER) AS rank,
           user_id, n_events, decayed_count_e6, decayed_value_e8
    FROM scored
    ORDER BY decayed_value_e8 DESC, user_id LIMIT 20
    """,
)
def e21_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: the recency-weighted counterpart of e4's top-users — one
    1-row anchor broadcast, map-side weight expression, one user-key
    hash aggregate, TakeOrderedAndProject top-k. Scan-bound."""
    tune_session(spark)
    return ev.decayed_engagement(_events(spark, sf_dir))
