"""Registered queries — round-4/5/6 additions (incl. m7/m8, w6-w8, st5-st7) (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
from file_indexer_spark.landing import gate_workdir
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
from file_indexer_spark.queries.q06_ddmat_sampling import _DD7_PAIRS_CTES  # noqa: F401

# ------------------------------------------------- round-4 additions


@register(
    "sp5_stratified_sample",
    f"""
    -- Rate-based stratified sampling by lang: rate = min(1, target/n),
    -- keep iff first 4 hex digits of md5(doc_id:strat:lang) fall under
    -- floor(rate * 65536). floor() is explicit on both sides: Spark's
    -- double->long cast truncates, DuckDB's rounds.
    WITH strata AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               least(1.0, {float(sp.STRATUM_TARGET)} / COUNT(*)) AS rate
        FROM documents GROUP BY lang),
    tagged AS (
        SELECT d.lang, s.n_docs, s.rate,
               ('0x' || substring(
                    md5(d.doc_id::VARCHAR || ':{sp.STRAT_SALT}:' || d.lang), 1, 4))::BIGINT
                 < CAST(floor(s.rate * 65536) AS BIGINT) AS keep
        FROM documents d JOIN strata s USING (lang))
    SELECT lang, n_docs,
           round(rate, 6) AS target_rate,
           SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           round(SUM(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / n_docs, 6)
               AS achieved_rate
    FROM tagged GROUP BY lang, n_docs, rate ORDER BY lang
    """,
)
def sp5_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling accounting: tiny per-lang rate agg broadcast
    back onto a map-side md5-threshold filter — no corpus window."""
    return sp.stratified_sample(_table(spark, sf_dir, "documents"))


@register(
    "dd8_duplicate_spans",
    f"""
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
    expl AS (SELECT doc_id, unnest(shingles) AS h FROM sets),
    dfreq AS (SELECT h, COUNT(*) AS df FROM expl GROUP BY h),
    per_doc AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM expl e JOIN dfreq d USING (h) GROUP BY e.doc_id)
    SELECT doc_id, n_shingles, n_shared,
           round(CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
               AS shared_fraction,
           (CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE))
               >= {dd.DUP_SPAN_FLAG} AS flagged
    FROM per_doc ORDER BY doc_id
    """,
)
def dd8_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span fraction: shingle df via one COUNT window
    on the shingle hash, one agg back on doc_id — no pair generation."""
    return dd.duplicate_spans(_table(spark, sf_dir, "documents"))


@register(
    "ct5_quality_rank_filter",
    f"""
    -- Rank-based per-source quality filter: keep top 75% by rounded
    -- t2 composite score (doc_id tie-break => integer-deterministic
    -- membership; no knife-edge float cutoff comparisons).
    WITH m AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords
        FROM documents),
    scored AS (
        SELECT doc_id, source,
               round(0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                     + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                     + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0), 6) AS quality_score
        FROM m),
    ranked AS (
        SELECT source, quality_score,
               COUNT(*) OVER (PARTITION BY source) AS n_docs,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id) AS rn
        FROM scored)
    SELECT source,
           CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           MIN(quality_score) AS cutoff_score
    FROM ranked
    WHERE rn <= CAST(ceil(n_docs * {cu.KEEP_FRACTION}) AS BIGINT)
    GROUP BY source ORDER BY source
    """,
)
def ct5_quality_rank_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-75% quality retention: map-side t2 score, one
    shared window shuffle on source, tiny rollup."""
    return cu.quality_rank_filter(_table(spark, sf_dir, "documents"))


@register(
    "mx2_temperature_mixture",
    f"""
    -- alpha-sampling mixture weights: weight ∝ n_docs^0.5, normalized
    -- over DECIMAL(20,9) (exact, order-free sum), divided as doubles
    -- once per source.
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source),
    tagged AS (
        SELECT source, n_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 9) AS DECIMAL(20,9)) AS w
        FROM counts)
    SELECT source, n_docs,
           round(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
               AS base_share,
           round(CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE), 6) AS temp_weight,
           CAST(floor(round(CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE), 6)
                      * {cu.MIX_BUDGET}) AS BIGINT) AS target_docs
    FROM tagged ORDER BY source
    """,
)
def mx2_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture weights: one tiny per-source agg + an
    O(sources) window — nothing corpus-sized after the first shuffle."""
    return cu.temperature_mixture(_table(spark, sf_dir, "documents"))


@register(
    "t10_distinctive_terms",
    f"""
    WITH words AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM words GROUP BY lang, word),
    df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    nl AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs FROM tf),
    scored AS (
        SELECT t.lang, t.word, t.tf, d.df,
               CAST(t.tf * (nl.n_langs - d.df + 1) AS BIGINT) AS score
        FROM tf t JOIN df d USING (word) CROSS JOIN nl),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY score DESC, word) AS rank
        FROM scored)
    SELECT lang, CAST(rank AS BIGINT) AS rank, word, tf, df, score
    FROM ranked WHERE rank <= {tx.TERMS_TOP_K} ORDER BY lang, rank
    """,
)
def t10_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang distinctive vocabulary: word-count shuffle, then all
    further aggs run over the O(vocab) rollup; integer idf surrogate
    (ln() is not bit-identical across engines)."""
    return tx.distinctive_terms(_table(spark, sf_dir, "documents"))


@register(
    "h6_revenue_forecast",
    """
    -- TPC-H Q6 shape: single fact scan, every predicate pushed to the
    -- parquet reader, zero joins, fixed-point BIGINT revenue.
    WITH l AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 4 AND 8
          AND l_quantity < 24)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(price_e2 * disc_pct) AS BIGINT) AS revenue_e4
    FROM l
    """,
)
def h6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure pushdown scan + one-row global agg."""
    tune_session(spark)
    return rel.revenue_forecast(_table(spark, sf_dir, "lineitem"))


@register(
    "h7_large_volume_customers",
    """
    -- TPC-H Q18 shape: HAVING on the big per-order quantity aggregate,
    -- then joins against orders/customer, top-100 by order value. The
    -- engine's rewrite keeps the HAVING pass's sum instead of
    -- re-joining lineitem (one fact shuffle, not two).
    WITH q AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS o_totalprice, q.total_qty
    FROM q
    JOIN orders o ON o.o_orderkey = q.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def h7_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume customers — HAVING-pruned per-order
    quantity agg (one lineitem shuffle), joins shrink to the qualifying
    orders, TakeOrderedAndProject top-100."""
    tune_session(spark)
    return rel.large_volume_customers(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"),
    )


@register(
    "h8_order_count_distribution",
    """
    -- TPC-H Q13 shape: orders-per-customer distribution INCLUDING the
    -- zero bucket (left outer join + double aggregation). The
    -- order-side exclusion rides the join condition, exactly like the
    -- engine's pre-join filter.
    WITH per_customer AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority NOT LIKE '%URGENT%'
        GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_customer GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def h8_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the left-outer count-distribution shape — unmatched
    customers MUST surface as the zero bucket; second agg is O(max
    count) rows."""
    tune_session(spark)
    return rel.order_count_distribution(
        _table(spark, sf_dir, "customer"), _table(spark, sf_dir, "orders")
    )


@register(
    "h9_idle_rich_customers",
    """
    -- TPC-H Q22 shape: above-average balances with no orders — scalar
    -- subquery + anti-join + segment rollup. The boundary is integer
    -- cross-multiplication (cents * n_pos > total_pos_cents), so no
    -- engine's float-avg accumulation order can flip a member.
    WITH cents AS (
        SELECT c_custkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer),
    s AS (
        SELECT CAST(SUM(bal_cents) AS BIGINT) AS total_pos_cents,
               COUNT(*) AS n_pos
        FROM cents WHERE bal_cents > 0),
    cand AS (
        SELECT c.c_mktsegment, c.bal_cents
        FROM cents c, s
        WHERE c.bal_cents * s.n_pos > s.total_pos_cents
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey))
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
    FROM cand GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def h9_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: scalar-aggregate broadcast + LEFT ANTI join; the
    qualifying boundary is exact integer arithmetic on cents."""
    tune_session(spark)
    return rel.idle_rich_customers(
        _table(spark, sf_dir, "customer"), _table(spark, sf_dir, "orders")
    )


@register(
    "h10_nation_trade_volume",
    """
    -- TPC-H Q7 shape: supplier-nation x customer-nation trade volume
    -- by order year — the widest join tree in the pack; fixed-point
    -- BIGINT revenue, O(nations^2 x years) output.
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev) AS BIGINT) AS revenue_e4
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS l_year,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name) t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def h10_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: one pass over lineitem; nation force-broadcast (25
    rows forever), supplier/customer joins left to AQE; pair filter and
    year extraction map-side."""
    tune_session(spark)
    return rel.nation_trade_volume(
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "nation"),
    )


# sim5's kNN-graph CTE chain, shared with dd20's personalized-PageRank
# oracle (the _DD7_PAIRS_CTES pattern): ends in a `knn` CTE with the
# exact columns/rounding the sim5 gate emits.
_SIM5_KNN_CTES = f"""c AS ({_DUCK_NORMS}),
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
        WHERE rn <= {sim.KNN_ASSIGN}),
    vecs AS (SELECT c.vec_id, c.embedding AS emb, c.norm AS nrm, a.centroid_id
             FROM c JOIN assign a ON a.vec_id = c.vec_id),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="a.emb", b="b.emb")} / (a.nrm * b.nrm) AS cosine
        FROM vecs a JOIN vecs b
          ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id),
    ranked AS (
        SELECT vec_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs),
    knn AS (
        SELECT vec_id, neighbor_id, rank, round(cosine, 6) AS cosine
        FROM ranked WHERE rank <= {sim.KNN_K})"""


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
    return sim.knn_join(_table(spark, sf_dir, "embeddings"))


@register(
    "e13_daily_uniques",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def e13_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day distinct users: two-phase distinct agg (shuffle =
    one row per distinct (day, user) pair — e13a is the sketch path)."""
    return ev.daily_uniques(_events(spark, sf_dir))


@register("e13a_daily_uniques_approx")
def e13a_daily_uniques_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13a: HLL++ sketch variant — the 100 TB distinct-count path
    (fixed-size mergeable sketch per group instead of a row per
    distinct pair). Rows-only driver check; relative error vs exact
    e13 pinned in pytest."""
    return ev.daily_uniques_approx(_events(spark, sf_dir))


@register("st6_streaming_uniques")
def st6_streaming_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: streaming per-day distinct users via HLL sketches — e13a as
    a REAL stream (two file arrivals -> two micro-batches; per-window
    state is one mergeable sketch, so the final estimate equals the
    batch approx bit-for-bit — pinned in tests). Rows-only driver
    check: sketch internals have no SQL rendition."""
    import os

    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, tag = gate_workdir("fis_st6")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sink = f"st6_sink_{tag}"
    sw.run_to_memory_sink(sw.windowed_uniques(stream), sink)
    return spark.table(sink).orderBy("day")


@register(
    "w6_sharded_export",
    f"""
    WITH tagged AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % {sp.N_SHARDS} AS BIGINT) AS shard,
               len(string_split(text, ' ')) AS n_tokens,
               source
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged
    GROUP BY shard
    ORDER BY shard
    """,
)
def w6_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: the sharded-export WRITE gate — physically materialize sp4's
    layout (parquet partitioned by the content-stable shard key), read
    the partitioned directory back, and recompute the balance report
    from the READ-BACK rows. The oracle is sp4's (the source table is
    unchanged), so a row lost in the write, a shard routed wrong, or a
    partition-column type drift (partition values come back via
    directory-name inference) all hash-mismatch."""
    tune_session(spark)
    base, _ = gate_workdir("fis_w6")
    sp.export_sharded(_table(spark, sf_dir, "documents"), base)

    back = spark.read.parquet(base)
    return (
        back.select(
            F.col("shard").cast("long").alias("shard"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            "source",
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("shard")
    )


@register(
    "w7_time_travel",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w7_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: time-travel gate — commit the files derivation as generation
    1 of a history-keeping FilesTable, MUTATE the live table (upsert a
    changed checksum + delete a row = generations 2 and 3), then return
    ``read_at(1)``. The oracle is the plain files derivation, so any
    leakage of later generations into the snapshot — or any loss in the
    generation-log roundtrip — hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w7")

    t = FilesTable(spark, os.path.join(base, "db"), keep_history=True)
    original = files_df(spark, sf_dir)
    t.overwrite(original)
    one_key = original.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    return t.read_at(1).orderBy("path", "filename")


@register(
    "w7b_vacuum_history",
    with_files_cte(
        """
    SELECT CAST(4 AS INTEGER) AS generation, path, filename,
           CASE WHEN file_size % 4 = 1 THEN 'G4'
                WHEN file_size % 4 = 0 THEN 'G2'
                ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at
    FROM files WHERE file_size % 4 = 1 OR file_size % 5 <> 0
    UNION ALL
    SELECT CAST(5 AS INTEGER), path, filename,
           CASE WHEN file_size % 4 = 1 THEN 'G4'
                WHEN file_size % 4 = 2 THEN 'G5'
                WHEN file_size % 4 = 0 THEN 'G2'
                ELSE checksum END,
           modification_datetime, file_size, indexed_at
    FROM files WHERE file_size % 4 IN (1, 2) OR file_size % 5 <> 0
    ORDER BY generation, path, filename
    """
    ),
)
def w7b_vacuum_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7b: time travel under REAL history depth — five generations of
    bucketed partial mutations (overwrite; upsert size%4==0 → 'G2';
    delete size%5==0; upsert size%4==1 → 'G4', which also REINSERTS
    previously-deleted keys; upsert size%4==2 → 'G5'), then
    ``vacuum(retain_generations=2)``, then BOTH retained snapshots
    (generations 4 and 5) read back and union-tagged. The oracle
    replays the generation algebra on the files derivation, so a
    vacuum that drops a still-referenced bucket file, or a manifest
    log that mis-replays partial upserts/deletes/reinserts,
    hash-mismatches. Vacuumed-generation unreadability (read_at(3)
    raising) is pinned in tests/test_indexer_write.py."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w7b")

    t = FilesTable(spark, os.path.join(base, "db"), keep_history=True)
    original = files_df(spark, sf_dir)
    t.overwrite(original)                                                # gen 1
    t.upsert(
        original.filter(F.col("file_size") % 4 == 0).withColumn(
            "checksum", F.lit("G2")
        )
    )                                                                    # gen 2
    t.delete(
        original.filter(F.col("file_size") % 5 == 0).select("path", "filename")
    )                                                                    # gen 3
    t.upsert(
        original.filter(F.col("file_size") % 4 == 1).withColumn(
            "checksum", F.lit("G4")
        )
    )                                                                    # gen 4
    t.upsert(
        original.filter(F.col("file_size") % 4 == 2).withColumn(
            "checksum", F.lit("G5")
        )
    )                                                                    # gen 5
    t.vacuum(retain_generations=2)
    g4 = t.read_at(4).withColumn("generation", F.lit(4).cast("int"))
    g5 = t.read_at(5).withColumn("generation", F.lit(5).cast("int"))
    return g4.unionByName(g5).orderBy("generation", "path", "filename")


@register(
    "w8_streaming_ingest",
    with_files_cte(
        """
    SELECT path, filename,
           CASE WHEN file_size % 2 = 0 THEN 'S2'
                WHEN file_size % 3 = 0 THEN 'S1'
                ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at
    FROM files ORDER BY path, filename
    """
    ),
)
def w8_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: streaming CDC ingestion — a file-source STREAM of change
    batches upserted into the manifest-committed FilesTable via
    ``foreachBatch`` (the Structured Streaming sink pattern for tables
    the engine owns). Two overlapping change arrivals land in pinned
    order (maxFilesPerTrigger=1, mtime-ordered file source), so
    last-writer-wins applies deterministically: size%3==0 → 'S1', then
    size%2==0 → 'S2' (the overlap, e.g. size%6==0, must end at 'S2').
    The oracle replays that CASE algebra on the files derivation, so a
    dropped batch, re-ordered application, or non-atomic upsert
    hash-mismatches. Scale shape: each micro-batch costs one bucketed
    partial upsert (only touched pk_buckets rewrite — two_phase.py's
    merge path), state none."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w8")
    src = os.path.join(base, "src")

    original = files_df(spark, sf_dir)
    t = FilesTable(spark, os.path.join(base, "db"), buckets=8)
    t.overwrite(original)

    _land_arrivals(
        src,
        [
            original.filter(F.col("file_size") % 3 == 0).withColumn(
                "checksum", F.lit("S1")
            ),
            original.filter(F.col("file_size") % 2 == 0).withColumn(
                "checksum", F.lit("S2")
            ),
        ],
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(original.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    query = (
        stream.writeStream.foreachBatch(lambda batch, _id: t.upsert(batch))
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    query.awaitTermination()
    return t.read().orderBy("path", "filename")


# shared by dd9 (the extent list) and dd10 (the strip pass applying it)
_DD9_CTES = f"""grams AS (
        SELECT doc_id, n_tokens, u.p AS p, u.h AS h FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   unnest(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                       i -> {{'p': i, 'h': {H.duck_hash60("array_to_string(string_split(text, ' ')[i:i+2], ' ')")}}})) AS u
            FROM documents)),
    marked AS (
        SELECT doc_id, n_tokens, p FROM (
            SELECT doc_id, n_tokens, p, COUNT(*) OVER (PARTITION BY h) AS occ FROM grams)
        WHERE occ >= 2),
    flagged AS (
        SELECT doc_id, n_tokens, p,
               CASE WHEN p > coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), -10) + 3
                    THEN 1 ELSE 0 END AS new_island
        FROM marked),
    islands AS (
        SELECT doc_id, n_tokens, p,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)"""


@register(
    "dd9_duplicate_span_extents",
    f"""
    -- Exact-substring dedup extents: gaps-and-islands over positions
    -- of word 3-grams occurring >= 2 times corpus-wide.
    -- span_end clamped to the doc's token count (sub-gram-width docs
    -- use a whole-doc fallback gram whose raw end exceeds the doc)
    WITH {_DD9_CTES}
    SELECT doc_id,
           CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(LEAST(MAX(p) + 2, MAX(n_tokens)) AS BIGINT) AS span_end,
           CAST(LEAST(MAX(p) + 2, MAX(n_tokens)) - MIN(p) + 1 AS BIGINT) AS span_tokens
    FROM islands GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
)
def dd9_duplicate_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup extents (the strip-pass instruction list):
    COUNT window on the gram hash marks duplicated positions, one
    gaps-and-islands window per doc merges them into token intervals."""
    return dd.duplicate_span_extents(_table(spark, sf_dir, "documents"))


@register(
    "dd10_strip_spans",
    f"""
    -- The strip pass APPLYING dd9's extents: remove every token inside
    -- a duplicated-span extent, rejoin the survivors, account.
    WITH {_DD9_CTES},
    spansagg AS (
        SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS spans FROM (
            SELECT doc_id,
                   CAST(MIN(p) AS BIGINT) AS span_start,
                   CAST(LEAST(MAX(p) + 2, MAX(n_tokens)) AS BIGINT) AS span_end
            FROM islands GROUP BY doc_id, island)
        GROUP BY doc_id),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    stripped AS (
        SELECT d.doc_id, d.words,
               list_filter(
                   list_transform(range(1, len(d.words) + 1),
                                  i -> {{'p': i, 'w': d.words[i]}}),
                   s -> sp.spans IS NULL OR
                        len(list_filter(sp.spans,
                                        x -> s.p >= x.s AND s.p <= x.e)) = 0) AS kept
        FROM w d LEFT JOIN spansagg sp USING (doc_id))
    SELECT doc_id,
           -- a fully-stripped doc is the empty string, not NULL
           COALESCE(array_to_string(list_transform(kept, z -> z.w), ' '), '')
               AS stripped_text,
           CAST(len(words) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after,
           CAST(len(words) - len(kept) AS BIGINT) AS n_removed
    FROM stripped ORDER BY doc_id
    """,
)
def dd10_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD10: Lee et al.-style ExactSubstr strip — dd9's extent list
    applied to the corpus (every duplicated-span token removed,
    originals included, per the paper's semantics) with per-doc
    before/after accounting."""
    return dd.strip_duplicated_spans(_table(spark, sf_dir, "documents"))


# shared by pp1 (batch) and st7 (the same funnel as a stream): both
# emit the identical per-source review table, so one oracle gates both
_PP1_SQL = f"""
    -- End-to-end curation funnel: dd1 keeper rule -> t2 quality
    -- composite >= 0.5 -> ct1 decontamination, per-source accounting.
    WITH m AS (
        SELECT doc_id, source, md5(text) AS content_hash,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords,
               substring(md5(doc_id::VARCHAR), 1, 1) = '{cu.BENCH_HEX}' AS is_bench
        FROM documents),
    keeper AS (
        SELECT *, (doc_id = MIN(doc_id) OVER (PARTITION BY content_hash)) AS keep_dedup
        FROM m),
    sets AS (
        SELECT doc_id, {H.duck_shingle_hashes()} AS shingles,
               substring(md5(doc_id::VARCHAR), 1, 1) = '{cu.BENCH_HEX}' AS is_bench
        FROM documents),
    bench AS (SELECT DISTINCT unnest(shingles) AS h FROM sets WHERE is_bench),
    cand AS (SELECT doc_id, unnest(shingles) AS h FROM sets WHERE NOT is_bench),
    overlap AS (
        SELECT c.doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
        FROM cand c LEFT JOIN (SELECT h, h AS hit FROM bench) b USING (h)
        GROUP BY c.doc_id),
    cont AS (
        SELECT doc_id, (CAST(n_ov AS DOUBLE) / CAST(n_sh AS DOUBLE))
                       >= {cu.CONTAMINATION_THRESHOLD} AS contaminated
        FROM overlap),
    staged AS (
        SELECT k.source, k.n_tokens,
               CASE WHEN k.keep_dedup THEN 1 ELSE 0 END AS keep_dedup,
               CASE WHEN k.keep_dedup AND
                         (0.5 * (CAST(k.n_distinct_tokens AS DOUBLE) / CAST(k.n_tokens AS DOUBLE))
                          + 0.3 * (1.0 - CAST(k.n_stopwords AS DOUBLE) / CAST(k.n_tokens AS DOUBLE))
                          + 0.2 * least(CAST(k.n_tokens AS DOUBLE) / 300.0, 1.0)) >= 0.5
                    THEN 1 ELSE 0 END AS keep_quality,
               CASE WHEN k.keep_dedup AND
                         (0.5 * (CAST(k.n_distinct_tokens AS DOUBLE) / CAST(k.n_tokens AS DOUBLE))
                          + 0.3 * (1.0 - CAST(k.n_stopwords AS DOUBLE) / CAST(k.n_tokens AS DOUBLE))
                          + 0.2 * least(CAST(k.n_tokens AS DOUBLE) / 300.0, 1.0)) >= 0.5
                         AND NOT k.is_bench
                         AND NOT coalesce(c.contaminated, FALSE)
                    THEN 1 ELSE 0 END AS keep_final
        FROM keeper k LEFT JOIN cont c ON c.doc_id = k.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(keep_dedup) AS BIGINT) AS n_after_dedup,
           CAST(SUM(keep_quality) AS BIGINT) AS n_after_quality,
           CAST(SUM(keep_final) AS BIGINT) AS n_final,
           CAST(SUM(n_tokens * keep_final) AS BIGINT) AS tokens_final,
           round(CAST(SUM(keep_final) AS DOUBLE) / COUNT(*), 6) AS retention
    FROM staged GROUP BY source ORDER BY source
    """


@register("pp1_curation_pipeline", _PP1_SQL)
def pp1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation funnel (dd1 -> t2 -> ct1) with per-source
    accounting — every stage reuses its standalone operator's exact
    deterministic rule, so the whole funnel hash-matches."""
    return cu.curation_pipeline(_table(spark, sf_dir, "documents"))


@register("st7_streaming_curation", _PP1_SQL)
def st7_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: pp1's funnel applied AT INGESTION as a real stream — dd1
    keeper via streaming ``dropDuplicates`` state, t2 quality map-side,
    ct1 decontamination against a static benchmark broadcast — then
    per-source accounting over the decision sink. The stream reproduces
    the batch table exactly, so the FULL pp1 oracle hash-gates it.

    Arrival order: each content hash's keeper (min doc_id) lands in
    batch 1, re-arrivals in batch 2 — the deterministic rendition of an
    ingestion log's "first copy arrives first" contract, under which
    streaming first-seen == the batch min-doc_id rule (the general
    ordering caveat is documented in streaming/curation.py)."""
    import os

    from pyspark.sql.window import Window

    from file_indexer_spark.streaming import curation as sc

    tune_session(spark)
    base, tag = gate_workdir("fis_st7")
    src = os.path.join(base, "src")
    docs = _table(spark, sf_dir, "documents")
    ranked = docs.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id")),
    )
    cols = ["doc_id", "source", "text"]
    _land_arrivals(
        src,
        [
            ranked.filter("rk = 1").select(*cols),
            ranked.filter("rk > 1").select(*cols),
        ],
    )
    bench = sc.bench_shingle_set(docs)
    stream = sc.read_source_docs_stream(spark, src, max_files_per_trigger=1)
    sink = f"st7_sink_{tag}"
    sc.run_to_memory_sink(sc.curation_stream(stream, bench), sink)
    return sc.curation_accounting(docs, spark.table(sink))


@register(
    "t11_token_rarity",
    f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS tf FROM words GROUP BY word),
    ranked AS (
        SELECT word, CAST(dense_rank() OVER (ORDER BY tf DESC, word) AS BIGINT) AS rank
        FROM vocab)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(CAST(SUM(r.rank) AS DOUBLE) / COUNT(*), 6) AS mean_token_rank,
           CAST(MAX(r.rank) AS BIGINT) AS max_rank,
           CAST(SUM(CASE WHEN r.rank > {tx.RARE_RANK} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare_tokens,
           round(CAST(SUM(CASE WHEN r.rank > {tx.RARE_RANK} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_fraction
    FROM words w JOIN ranked r USING (word)
    GROUP BY w.doc_id ORDER BY w.doc_id
    """,
)
def t11_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal: integer frequency ranks (no libm),
    vocab-only window, rank table broadcast back onto the token stream."""
    return tx.token_rarity(_table(spark, sf_dir, "documents"))


@register(
    "t12_doc_top_terms",
    """
    -- Per-document TF-IDF keyword extraction: integer idf surrogate
    -- (1000*n_docs) // df so no float division can flip a rank;
    -- ties break on word ascending.
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
           FROM words GROUP BY doc_id, word),
    dfx AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.word, t.tf, d.df,
               CAST(t.tf * ((1000 * n.n_docs) // d.df) AS BIGINT) AS score
        FROM tf t JOIN dfx d USING (word), nd n),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, word) AS rank
        FROM scored)
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, tf, df, score
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def t12_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: per-doc top-3 characteristic terms — one word-count
    shuffle, df over the O(vocab) rollup, integer-exact scores."""
    return tx.doc_top_terms(_table(spark, sf_dir, "documents"))


@register(
    "h11_top_revenue_suppliers",
    """
    -- TPC-H Q15 shape: maximum-revenue supplier(s) over a quarter,
    -- ties kept; fixed-point BIGINT revenue.
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
                   AS revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey),
    mx AS (SELECT MAX(revenue_e4) AS max_rev FROM rev)
    SELECT s.s_suppkey, s.s_name, r.revenue_e4
    FROM rev r, mx
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.revenue_e4 = mx.max_rev
    ORDER BY s.s_suppkey
    """,
)
def h11_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: one lineitem shuffle (date pushed), scalar-max
    broadcast, equality join-back keeps ties."""
    tune_session(spark)
    return rel.top_revenue_suppliers(
        _table(spark, sf_dir, "lineitem"), _table(spark, sf_dir, "supplier")
    )


# shared by m7 (frame energy) and m7b (silence spans): recompute every
# int16 sample from the doc_id derivation — sample i = (text byte
# (i mod L) - 96) x (1 on quiet frames, 64 on loud), energy = exact
# integer sum of squares per 160-sample frame.
_M7_SAMPLE = (
    "(ascii(substr(text, CAST(i % L + 1 AS BIGINT), 1)) - 96) * "
    "(CASE WHEN ((i // 160) + doc_id) % 3 = 0 THEN 1 ELSE 64 END)"
)

_M7_CTES = f"""base AS (
        SELECT doc_id, text, length(text) AS L, 4 + doc_id % 4 AS nf
        FROM documents
        WHERE doc_id % 9 <> 0 AND doc_id % 13 <> 0 AND doc_id % 7 <> 0),
    frames AS (
        SELECT doc_id, u.f AS frame_idx, u.energy, u.peak FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, nf), f -> {{
                       'f': CAST(f AS INTEGER),
                       'energy': CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT),
                       'peak': CAST(list_max(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> abs({_M7_SAMPLE}))) AS INTEGER)}})) AS u
            FROM base))"""


@register(
    "m7_audio_frame_energy",
    f"""
    -- Per-frame audio energy/peak from DECODED PCM16 samples: integer
    -- sum of squares per 160-sample frame (exact in BIGINT), peak
    -- |sample|; three decode-error classes propagate as rows.
    WITH {_M7_CTES}
    SELECT doc_id AS media_id, frame_idx, energy, peak,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM frames
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL,
           CASE WHEN doc_id % 9 = 0 THEN 'null content'
                WHEN doc_id % 13 = 0 THEN 'not PCM1'
                ELSE 'truncated payload' END
    FROM documents WHERE doc_id % 9 = 0 OR doc_id % 13 = 0 OR doc_id % 7 = 0
    ORDER BY media_id, frame_idx
    """,
)
def m7_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: the audio-modality analog of m2b/m6 — a REAL container
    format (magic + u32 count + int16 LE samples) decoded by a spec
    parser, vectorized frame analysis (energy, peak) where the blobs
    sit, errors as data. Integer-exact, so the oracle recomputes every
    frame from the derivation."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.audio_frame_energy(media).orderBy("media_id", "frame_idx")


from file_indexer_spark.operators.multimodal import (  # noqa: E402
    SILENCE_PEAK as _m7_thr,
)


@register(
    "m7b_silence_spans",
    f"""
    -- Contiguous silent-frame extents (peak < {_m7_thr}): gaps-and-islands
    -- over each clip's quiet frames.
    WITH {_M7_CTES},
    quiet AS (
        SELECT doc_id, frame_idx FROM frames WHERE peak < {_m7_thr}),
    flagged AS (
        SELECT doc_id, frame_idx,
               CASE WHEN frame_idx > coalesce(lag(frame_idx) OVER
                        (PARTITION BY doc_id ORDER BY frame_idx), -10) + 1
                    THEN 1 ELSE 0 END AS new_island
        FROM quiet),
    islands AS (
        SELECT doc_id, frame_idx,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)
    SELECT doc_id AS media_id,
           CAST(MIN(frame_idx) AS BIGINT) AS span_start,
           CAST(MAX(frame_idx) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM islands GROUP BY doc_id, island
    ORDER BY media_id, span_start
    """,
)
def m7b_silence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7b: silence/trim extents per clip — the dd9 gaps-and-islands
    shape applied to the audio modality; one narrow shuffle of the
    quiet-frame subset."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.pcm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.silence_spans(media)


@register(
    "sp7_zorder_layout",
    """
    -- Z-order (Morton) layout report: 8-bit interleave of
    -- (user_id, day), fixed-width curve-prefix shards (z >> 4: 4x4
    -- key tiles), per-shard tile extents. Pure integer bit algebra in
    -- both engines.
    WITH keyed AS (
        SELECT event_id,
               user_id & 255 AS xk,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) & 255 AS yk
        FROM events),
    curved AS (
        SELECT xk, yk,
               CAST(list_sum(list_transform(range(0, 8), i ->
                   (((xk >> i) & 1) << (2 * i))
                 + (((yk >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
        FROM keyed)
    SELECT z >> 4 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(xk) AS BIGINT) AS user_min,
           CAST(MAX(xk) AS BIGINT) AS user_max,
           CAST(MIN(yk) AS BIGINT) AS day_min,
           CAST(MAX(yk) AS BIGINT) AS day_max
    FROM curved GROUP BY shard ORDER BY shard
    """,
)
def sp7_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP7: the multi-dimensional clustering step — Morton-curve value
    + fixed-prefix shard tiles proving both predicate dimensions stay
    bounded per shard (the parquet min/max pruning layout for combined
    user+time predicates; physical write = repartitionByRange(z)).

    The oracle pins the DEFAULTS (bits=8 → `& 255`, n_shards=4096 →
    `z >> 4`); zorder_layout itself validates n_shards is a power of
    two that fits the curve, so a non-default call raises rather than
    silently diverging from this SQL."""
    from file_indexer_spark.operators import sampling as sp

    return sp.zorder_layout(_events(spark, sf_dir))


@register("sim8_kmeans_ml")
def sim8_kmeans_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM8: multi-iteration Lloyd k-means (pyspark.ml) — the iterative
    refinement the one-shot IVF seeding skips. kmeans|| init is not
    replicable in an external SQL engine → rows-only driver check;
    pytest pins k non-empty clusters, total assignment, and
    SSE <= the one-shot IVF seeding's SSE."""
    return sim.kmeans_clusters(_table(spark, sf_dir, "embeddings"))


@register(
    "dd11_cluster_consolidation",
    f"""
    -- SemDeDup consolidation report: per multi-doc near-dup cluster,
    -- size + kept canonical + chars saved by dropping the rest (A13's
    -- wasted-space accounting on dd7's components).
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
    assigned AS (
        SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               d.n_chars
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_saved
    FROM assigned GROUP BY cluster_id HAVING COUNT(*) >= 2
    ORDER BY cluster_id
    """,
)
def dd11_cluster_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD11: dd7's components rolled into the dedup-win report — one
    join with the pruned (doc_id, n_chars) projection + one cluster_id
    agg; the curation number ('chars_saved') a training pipeline
    quotes after consolidating near-duplicates."""
    docs = _table(spark, sf_dir, "documents")
    return dd.cluster_consolidation(
        docs, dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))
    )


@register(
    "m8_video_shot_cuts",
    """
    -- Shot-boundary detection from DECODED video frames: per
    -- consecutive-frame pair the integer SAD (sum of absolute pixel
    -- diffs) and the cut flag; scenes change every 3 frames in the
    -- fixture so intra-scene SAD is exactly 0. The oracle recomputes
    -- every pixel from the doc_id derivation.
    WITH base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    sads AS (
        SELECT doc_id, u.f AS frame_idx, u.sad FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, nf), f -> {
                       'f': CAST(f AS INTEGER),
                       'sad': CAST(list_sum(list_transform(range(0, w * h), p ->
                           abs(ascii(substr(text,
                                   CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                             - ascii(substr(text,
                                   CAST((((f - 1) // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                           ))) AS BIGINT)})) AS u
            FROM base))
    SELECT doc_id AS media_id, frame_idx, sad, sad >= 1 AS is_cut,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM sads
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL,
           CASE WHEN doc_id % 17 = 0 THEN 'null content' ELSE 'not VID1' END
    FROM documents WHERE doc_id % 17 = 0 OR doc_id % 19 = 0
    ORDER BY media_id, frame_idx
    """,
)
def m8_video_shot_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: the VIDEO-modality temporal operator — a codec-free
    container (magic + frame count/geometry + grayscale rasters)
    decoded where the blobs sit, vectorized inter-frame SAD, cut flags
    at scene changes; errors as rows. Completes the modality set
    (image m2b/m5/m6*, audio m7*, video m3 sampling + this temporal
    structure pass) with every one hash-gated."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.video_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.video_shot_boundaries(media).orderBy("media_id", "frame_idx")


@register(
    "m8b_video_keyframes",
    """
    -- Keyframe extraction: the first frame of every shot (frame 0 +
    -- each SAD-detected cut), md5-fingerprinted raster. The oracle
    -- recomputes BOTH the cut set and every fingerprint byte from the
    -- derivation (ASCII corpus: chr() concatenation's UTF-8 equals
    -- the raster bytes).
    WITH base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    sads AS (
        SELECT doc_id, u.f AS frame_idx, u.sad FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, nf), f -> {
                       'f': CAST(f AS INTEGER),
                       'sad': CAST(list_sum(list_transform(range(0, w * h), p ->
                           abs(ascii(substr(text,
                                   CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                             - ascii(substr(text,
                                   CAST((((f - 1) // 3) * 31 + p) % L + 1 AS BIGINT), 1))
                           ))) AS BIGINT)})) AS u
            FROM base)),
    keys AS (
        SELECT doc_id, 0 AS frame_idx FROM base
        UNION ALL
        SELECT doc_id, frame_idx FROM sads WHERE sad >= 1),
    numbered AS (
        SELECT doc_id, frame_idx,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY frame_idx) - 1 AS INTEGER)
                   AS scene_idx
        FROM keys)
    SELECT n.doc_id AS media_id, n.scene_idx,
           CAST(n.frame_idx AS INTEGER) AS frame_idx,
           md5(array_to_string(list_transform(range(0, b.w * b.h), p ->
               chr(ascii(substr(b.text,
                   CAST(((n.frame_idx // 3) * 31 + p) % b.L + 1 AS BIGINT),
                   1)))), '')) AS frame_md5
    FROM numbered n JOIN base b ON n.doc_id = b.doc_id
    ORDER BY media_id, scene_idx
    """,
)
def m8b_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8b: one representative frame per shot — m8's cut table driving
    the m3-style sampler, fingerprints hash-gated bit-for-bit."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.video_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.video_keyframes(media)


