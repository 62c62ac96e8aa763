"""Registered queries — round 9 (cont. 2): the remaining TPC-H plan
shapes expressible over the trimmed test schemas — promo revenue share
(h12/Q14), small-quantity correlated-average revenue (h13/Q17),
disjunctive band revenue (h14/Q19), waiting-supplier quantifier
self-joins (h15/Q21), and national market share (h16/Q8).

Each exercises a Catalyst shape no earlier h-query pins: a
conditional-aggregate ratio over a fact⋈dim join (h12), a correlated
scalar subquery decorrelated to a window (h13), a cross-table
disjunction with hand-stated single-table relaxations (h14), dual
EXISTS/NOT-EXISTS quantifiers collapsed to per-order counts (h15),
and a six-table dimensional star with a per-group share (h16).
Reference parity: the raw-SQL passthrough surface
(file_indexer_go/db/database.go:269-317) accepts arbitrary analytic
SQL of these shapes; the DataFrame renditions are the declarative
equivalents Catalyst can reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.operators import relational as rel
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _table,
    register,
)
from file_indexer_spark.session import tune_session

# The module's fixed-point line-revenue fragment (relational.py
# _revenue_e4 rendered in SQL) — shared by the oracles below.
_REV_E4 = (
    "CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))"
)


@register(
    "h12_promo_revenue_share",
    f"""
    -- TPC-H Q14 shape: one month's promo-type revenue share. Exact
    -- BIGINT sums; the share is one double division of two exact
    -- integers, bit-identical between engines.
    WITH j AS (
        SELECT {_REV_E4} AS rev, p.p_type
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00')
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
               AS promo_revenue_e4,
           CAST(SUM(rev) AS BIGINT) AS total_revenue_e4,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                              AS DOUBLE)
                       / CAST(SUM(rev) AS DOUBLE), 4) AS promo_share_pct
    FROM j
    """,
)
def h12_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: shipdate range pushed to the fact scan, part joined
    declaratively (AQE broadcast at small SF), map-side CASE, one-row
    aggregate."""
    tune_session(spark)
    return rel.promo_revenue_share(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "part")
    )


@register(
    "h13_small_qty_revenue",
    """
    -- TPC-H Q17 shape: the correlated 20%%-of-average quantity test,
    -- decorrelated to a per-part window; exact integer
    -- cross-multiplication (qty*5*n < sum) avoids the float average.
    WITH lines AS (
        SELECT l.l_partkey,
               CAST(ROUND(l.l_quantity * 100) AS BIGINT) AS qty_e2,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS price_e2
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#4' AND p.p_size <= 10),
    flagged AS (
        SELECT qty_e2, price_e2,
               SUM(qty_e2) OVER (PARTITION BY l_partkey) AS sum_qty_e2,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n_lines_part
        FROM lines)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(SUM(price_e2) AS BIGINT) AS revenue_e2
    FROM flagged
    WHERE qty_e2 * 5 * n_lines_part < sum_qty_e2
    """,
)
def h13_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: brand+size predicates pushed to the part scan; ONE
    shuffle of the qualifying slice onto l_partkey; window + threshold
    partition-local (no join-back, no second lineitem scan)."""
    tune_session(spark)
    return rel.small_quantity_revenue(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "part")
    )


@register(
    "h14_disjunctive_revenue",
    f"""
    -- TPC-H Q19 shape: OR-of-ANDs across both join sides; the oracle
    -- states the raw disjunction (DuckDB infers its own pushdowns).
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 5 AND 15)
       OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def h14_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the implied single-table relaxations are stated as
    explicit filters so both scans prune before the join; the exact
    disjunction runs map-side on the joined slice."""
    tune_session(spark)
    return rel.disjunctive_band_revenue(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "part")
    )


@register(
    "h15_waiting_suppliers",
    """
    -- TPC-H Q21 shape: EXISTS(co-supplier) and NOT EXISTS(other late
    -- supplier) collapsed to per-order counts over a (orderkey,
    -- suppkey) pre-aggregate; late = shipped > 60 days after order.
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS max_shipdate
        FROM lineitem GROUP BY l_orderkey, l_suppkey),
    flagged AS (
        SELECT p.l_orderkey, p.l_suppkey,
               CASE WHEN p.max_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM per_os p JOIN orders o ON p.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'),
    counted AS (
        SELECT l_suppkey, is_late,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
               SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM flagged),
    waiting AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM counted
        WHERE is_late = 1 AND n_suppliers >= 2 AND n_late = 1
        GROUP BY l_suppkey)
    SELECT s.s_name, w.numwait
    FROM waiting w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def h15_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: three fact-side shuffles on the SAME key (orderkey)
    replace two self-joins of the fact table; nation filter applies at
    the tiny dim join after counting."""
    tune_session(spark)
    return rel.waiting_suppliers(
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "nation"),
    )


@register(
    "h16_market_share",
    f"""
    -- TPC-H Q8 shape: NATION_3's share of ASIA's ECONOMY-part market
    -- by order year. Exact BIGINT sums; one double division per year.
    WITH j AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
               {_REV_E4} AS rev, n2.n_name AS supplier_nation
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o ON l.l_orderkey = o.o_orderkey
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey)
    SELECT o_year,
           CAST(SUM(CASE WHEN supplier_nation = 'NATION_3' THEN rev ELSE 0 END)
                AS BIGINT) AS nation_revenue_e4,
           CAST(SUM(rev) AS BIGINT) AS total_revenue_e4,
           ROUND(100.0 * CAST(SUM(CASE WHEN supplier_nation = 'NATION_3'
                                       THEN rev ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share_pct
    FROM j GROUP BY o_year ORDER BY o_year
    """,
)
def h16_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: every dim narrows before the single fact pass;
    nation⋈region force-broadcast (bounded forever), the growing dims
    left to AQE."""
    tune_session(spark)
    return rel.national_market_share(
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "nation"),
        _table(spark, sf_dir, "region"),
        _table(spark, sf_dir, "part"),
    )


@register(
    "t14_bigram_surprisal",
    """
    -- Bigram-LM surprisal (the CCNet/KenLM perplexity-filter shape),
    -- rendered EXACT: probabilities floored to k/2^20 quanta, surprise
    -- measured in whole bits via bin()-length — no transcendental, no
    -- float accumulation, so the hash gate is bit-for-bit.
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM bg),
    scored AS (
        SELECT bg.doc_id,
               CAST(20 - (length(bin(GREATEST(1, CAST(
                    ((c12.c12 + 1) * 1048576) // (c1.c1 + v.v)
                    AS BIGINT)))) - 1) AS BIGINT) AS surprise_bits
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(surprise_bits) AS BIGINT) AS nll_bits,
           ROUND(CAST(SUM(surprise_bits) AS DOUBLE) / COUNT(*), 6) AS mean_bits
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def t14_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: per-doc bigram surprisal over the corpus's own LM — two
    count aggregates (map-side combine, O(distinct bigrams) / O(vocab)
    outputs), scoring joins that reuse the aggregation keys'
    partitioning, one broadcast scalar; integer bits until one final
    exact division."""
    from file_indexer_spark.operators import text as tx

    tune_session(spark)
    return tx.bigram_surprisal(_table(spark, sf_dir, "documents"))


from file_indexer_spark.queries.q02_text import _STOP_SQL  # noqa: E402
from file_indexer_spark.queries.q06_ddmat_sampling import _DD7_PAIRS_CTES  # noqa: E402

# t2's UNROUNDED composite over the per-doc token signals (the shared
# quality definition every curation consumer replicates verbatim).
_QUALITY_CTE = f"""
    qsig AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
                   AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords
        FROM documents),
    q AS (
        SELECT doc_id,
               0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0) AS q
        FROM qsig)
"""


@register(
    "dd15_quality_keeper",
    f"""
    -- dd15: quality-aware canonical selection — per multi-doc near-dup
    -- cluster keep the highest-t2-quality member (tie-break doc_id);
    -- 'upgraded' marks where that differs from dd7's min-id keeper.
    -- Clusters recomputed exactly via dd7's recursive closure; the
    -- composite is t2's verbatim (exact-rounded IEEE arithmetic).
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
    ),
    assign AS (
        SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    {_QUALITY_CTE},
    ranked AS (
        SELECT a.cluster_id, a.doc_id, q.q,
               row_number() OVER (PARTITION BY a.cluster_id
                                  ORDER BY q.q DESC, a.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY a.cluster_id) AS n_docs
        FROM assign a JOIN q ON q.doc_id = a.doc_id)
    SELECT cluster_id, doc_id AS keeper_doc_id, round(q, 6) AS keeper_quality,
           CAST(n_docs AS BIGINT) AS n_docs,
           doc_id <> cluster_id AS upgraded
    FROM ranked WHERE rn = 1 AND n_docs >= 2
    ORDER BY cluster_id
    """,
)
def dd15_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD15: dd7's components re-kept by t2 quality — one extra
    cluster_id shuffle beyond the dd3→dd7 machinery; map-side
    composite via the shared signal definition."""
    from file_indexer_spark.operators import dedup as dd

    docs = _table(spark, sf_dir, "documents")
    return dd.quality_keeper(docs, dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs)))


from file_indexer_spark.operators import similarity as sim  # noqa: E402
from file_indexer_spark.queries.q04_dedup_sim import _DUCK_DOT, _DUCK_NORMS  # noqa: E402


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
    tune_session(spark)
    return sim.recall_eval(_table(spark, sf_dir, "embeddings"))


from file_indexer_spark.operators import sampling as sp  # noqa: E402


@register(
    "dd16_split_contamination",
    f"""
    -- dd16: near-dup pairs straddling sp1's per-doc hash split — the
    -- eval-contamination count a leakage audit reports. Pairs are
    -- dd3's (recomputed exactly); the split is sp1's md5 rule.
    WITH
    {_DD7_PAIRS_CTES},
    tags AS (
        SELECT doc_id,
               CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.TEST_UPPER}' THEN 'test'
                    WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.VAL_UPPER}' THEN 'val'
                    ELSE 'train' END AS split
        FROM documents)
    SELECT least(ta.split, tb.split) AS split_lo,
           greatest(ta.split, tb.split) AS split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
    FROM pairs p
    JOIN tags ta ON ta.doc_id = p.doc_a
    JOIN tags tb ON tb.doc_id = p.doc_b
    WHERE ta.split <> tb.split
    GROUP BY split_lo, split_hi
    ORDER BY split_lo, split_hi
    """,
)
def dd16_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD16: the leakage audit — dd3 pairs tagged with sp1's split on
    both sides, cross-split pairs rolled up to <=3 classes."""
    from file_indexer_spark.operators import dedup as dd

    docs = _table(spark, sf_dir, "documents")
    return dd.split_contamination(docs, dd.minhash_lsh_pairs(docs))


@register(
    "sp10_leakage_safe_split",
    f"""
    -- sp10: sp1's accounting under the CLUSTER-level hash split —
    -- near-dup groups move as units, so no cross-split near-copy can
    -- exist. Clusters recomputed exactly via dd7's recursive closure.
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
    ),
    assign AS (
        SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    tagged AS (
        SELECT CASE WHEN substring(md5(a.cluster_id::VARCHAR), 1, 2) < '{sp.TEST_UPPER}' THEN 'test'
                    WHEN substring(md5(a.cluster_id::VARCHAR), 1, 2) < '{sp.VAL_UPPER}' THEN 'val'
                    ELSE 'train' END AS split,
               len(string_split(d.text, ' ')) AS n_tokens,
               d.source
        FROM documents d JOIN assign a ON a.doc_id = d.doc_id)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def sp10_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP10: sp1's drop-in replacement with the split keyed on dd7's
    cluster label — leak-free by construction (dd16 == 0 over it,
    pytest-pinned)."""
    from file_indexer_spark.operators import dedup as dd

    docs = _table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))
    return sp.leakage_safe_split(docs, clusters)


@register(
    "sp11_prototype_sample",
    f"""
    -- sp11: cluster-balanced prototype selection — per IVF cluster
    -- keep the {sim.PROTO_QUOTA} members nearest the centroid. The
    -- assignment replicates sim2's exactly; the prototype rank is a
    -- second window over the assigned stream.
    WITH c AS ({_DUCK_NORMS}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assigned AS (
        SELECT vec_id, centroid_id, cosine FROM (
            SELECT v.vec_id, cents.centroid_id,
                   {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                       / (v.norm * cents.c_norm) AS cosine,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1)
    SELECT centroid_id, vec_id,
           CAST(row_number() OVER (PARTITION BY centroid_id
                ORDER BY cosine DESC, vec_id) AS INTEGER) AS proto_rank,
           round(cosine, 6) AS cosine
    FROM assigned
    QUALIFY proto_rank <= {sim.PROTO_QUOTA}
    ORDER BY centroid_id, proto_rank
    """,
)
def sp11_prototype_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP11: geometry-stratified subsample — broadcast centroids,
    map-side scoring, two narrow windows; embeddings never shuffle."""
    tune_session(spark)
    return sim.prototype_sample(_table(spark, sf_dir, "embeddings"))


from file_indexer_spark.functions import hashing as H  # noqa: E402


@register(
    "dd17_minhash_calibration",
    f"""
    -- dd17: sketch calibration — per LSH candidate pair, the
    -- signature-estimated Jaccard vs the exact one, ALL-INTEGER
    -- (matches x {1_000_000 // H.NUM_PERM} and (inter*1e6) // union),
    -- so the gate is bit-for-bit. Candidates are NOT threshold-
    -- filtered: calibration needs the sub-threshold population.
    WITH
    {{pairs_ctes}},
    calib AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_filter(range(1, {H.NUM_PERM} + 1),
                    i -> sa.sig[i] = sb.sig[i])) AS INTEGER) AS sig_matches,
               CAST(len(list_intersect(ssa.shingles, ssb.shingles)) AS BIGINT)
                   AS inter,
               CAST(len(ssa.shingles) AS BIGINT) + CAST(len(ssb.shingles) AS BIGINT)
                   - CAST(len(list_intersect(ssa.shingles, ssb.shingles)) AS BIGINT)
                   AS uni
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        JOIN sets ssa ON ssa.doc_id = c.doc_a
        JOIN sets ssb ON ssb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, sig_matches,
           CAST(sig_matches AS BIGINT) * {1_000_000 // H.NUM_PERM} AS est_e6,
           (inter * 1000000) // uni AS exact_e6,
           abs(CAST(sig_matches AS BIGINT) * {1_000_000 // H.NUM_PERM}
               - (inter * 1000000) // uni) AS abs_err_e6
    FROM calib ORDER BY doc_a, doc_b
    """.format(pairs_ctes=_DD7_PAIRS_CTES),
)
def dd17_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD17: the sketch-calibration harness — dd3's machinery plus a
    map-side 32-element signature comparison per candidate pair."""
    from file_indexer_spark.operators import dedup as dd

    return dd.minhash_calibration(_table(spark, sf_dir, "documents"))


@register(
    "e18_deadline_funnel",
    """
    -- e18: the attribution-window funnel — view, then click within
    -- 48 h of the FIRST view, then purchase within 7 d of the MATCHED
    -- click. Greedy-first matching: a pure function of the event set.
    WITH per_user AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view,
               list(ts) FILTER (WHERE event_type = 'click') AS clicks,
               list(ts) FILTER (WHERE event_type = 'purchase') AS purchases
        FROM events GROUP BY user_id),
    staged AS (
        SELECT user_id, t_view, purchases,
               list_min(list_filter(clicks,
                    c -> c > t_view AND c <= t_view + INTERVAL 2880 MINUTE))
                   AS t_click
        FROM per_user),
    staged2 AS (
        SELECT user_id, t_view, t_click,
               list_min(list_filter(purchases,
                    p -> p > t_click AND p <= t_click + INTERVAL 10080 MINUTE))
                   AS t_purchase
        FROM staged)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_viewed,
           CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clicked_within,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchased_within
    FROM staged2
    """,
)
def e18_deadline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18: one user-key shuffle collecting per-stage timestamp lists;
    the greedy deadline match is a map-side array_min/filter cascade."""
    from file_indexer_spark.operators import events as evo
    from file_indexer_spark.registry_core import _events

    tune_session(spark)
    return evo.deadline_funnel(_events(spark, sf_dir))


from file_indexer_spark.registry_core import _land_arrivals  # noqa: E402
from file_indexer_spark.landing import gate_workdir  # noqa: E402
from file_indexer_spark.tables import events_df  # noqa: E402


# st15 shares e18's oracle VERBATIM: after draining a chronological
# two-arrival stream through the stateful funnel, the changelog's
# final per-user stage rows must aggregate to the batch operator's
# funnel counts — including stages whose qualifying event arrives in
# a LATER micro-batch than its anchor, which per-batch computation
# would miss.
@register("st15_streaming_funnel", ORACLES["e18_deadline_funnel"])
def st15_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15: e18 as a continuous stateful stream (applyInPandasWithState,
    O(users) state, update-mode changelog). The gate reduces the
    changelog to its final state per user and aggregates to e18's
    single-row funnel, hash-matched against e18's own DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, _ = gate_workdir("fis_st15")
    src = os.path.join(base, "src")
    out = os.path.join(base, "changelog")
    ev2 = events_df(spark, sf_dir)
    bounds = ev2.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    _land_arrivals(
        src,
        [ev2.filter(F.col("ts") <= F.lit(mid)), ev2.filter(F.col("ts") > F.lit(mid))],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(ss.funnel_stream(stream), out)
    final = sw.last_emission(spark, out, ["user_id"])
    return final.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_viewed"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_within"),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_purchased_within"),
    )


@register(
    "pp2_neardup_split_pipeline",
    f"""
    -- pp2: the near-dup-aware training-prep pass — dd7 components,
    -- dd15's quality-keeper rule, sp10's cluster-level hash split —
    -- per-split doc/token accounting. Every stage replicates the rule
    -- its standalone gate pins.
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
    ),
    assign AS (
        SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    {_QUALITY_CTE},
    toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                 AS n_tokens FROM documents),
    ranked AS (
        SELECT a.cluster_id, a.doc_id, t.n_tokens,
               CASE WHEN row_number() OVER (PARTITION BY a.cluster_id
                        ORDER BY q.q DESC, a.doc_id) = 1
                    THEN 1 ELSE 0 END AS is_kept,
               CASE WHEN substring(md5(a.cluster_id::VARCHAR), 1, 2) < '{sp.TEST_UPPER}' THEN 'test'
                    WHEN substring(md5(a.cluster_id::VARCHAR), 1, 2) < '{sp.VAL_UPPER}' THEN 'val'
                    ELSE 'train' END AS split
        FROM assign a
        JOIN q ON q.doc_id = a.doc_id
        JOIN toks t ON t.doc_id = a.doc_id)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
           CAST(SUM(is_kept) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw,
           CAST(SUM(is_kept * n_tokens) AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(is_kept) AS DOUBLE) / COUNT(*), 6) AS doc_retention
    FROM ranked GROUP BY split ORDER BY split
    """,
)
def pp2_neardup_split_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PP2: dd7 machinery + ONE cluster_id window (keeper rank; the
    split tag shares the key) + a 3-row rollup."""
    from file_indexer_spark.operators import curation as ct
    from file_indexer_spark.operators import dedup as dd

    docs = _table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))
    return ct.neardup_split_pipeline(docs, clusters)


@register(
    "sp12_bin_packing",
    f"""
    -- sp12: next-fit no-straddle packing. The sequential fill/reset
    -- recurrence is replicated EXACTLY by a recursive CTE advancing
    -- each packer's frontier one document per step.
    WITH RECURSIVE d AS (
        SELECT doc_id,
               substring(md5(doc_id::VARCHAR), 1, 1) AS packer,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY substring(md5(doc_id::VARCHAR), 1, 1)
                                  ORDER BY doc_id) AS rn
        FROM documents),
    packed(packer, rn, doc_id, n_tokens, bin_id, fill) AS (
        SELECT packer, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.packer, d.rn, d.doc_id, d.n_tokens,
               CASE WHEN p.fill + d.n_tokens <= {sp.PACK_BUDGET}
                    THEN p.bin_id ELSE p.bin_id + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {sp.PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM packed p JOIN d ON d.packer = p.packer AND d.rn = p.rn + 1)
    SELECT doc_id, packer, n_tokens, bin_id
    FROM packed ORDER BY packer, doc_id
    """,
)
def sp12_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP12: one hash-shard shuffle + a partition-local sequential
    pass per packer (Arrow applyInPandas; two-integer state)."""
    tune_session(spark)
    return sp.bin_packing(_table(spark, sf_dir, "documents"))
