"""Registered queries — curation + relational star joins + round-3 adds (mechanical split of registry.py, round 8).

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
from file_indexer_spark.queries.q04_dedup_sim import _DUCK_DOT, _DUCK_NORMS  # noqa: F401

from file_indexer_spark.operators import curation as cu  # noqa: E402


@register(
    "ct1_contamination",
    f"""
    WITH sets AS (
        SELECT doc_id,
               substring(md5(doc_id::VARCHAR), 1, 1) = '{cu.BENCH_HEX}' AS is_bench,
               {H.duck_shingle_hashes()} AS shingles
        FROM documents),
    bench AS (
        SELECT DISTINCT h FROM (
            SELECT unnest(shingles) AS h FROM sets WHERE is_bench) t),
    cand AS (
        SELECT doc_id, unnest(shingles) AS h FROM sets WHERE NOT is_bench)
    SELECT c.doc_id,
           COUNT(*)::BIGINT AS n_shingles,
           COUNT(b.h)::BIGINT AS n_overlap,
           round(COUNT(b.h)::DOUBLE / COUNT(*), 6) AS overlap_frac,
           COUNT(b.h)::DOUBLE / COUNT(*) >= {cu.CONTAMINATION_THRESHOLD} AS contaminated
    FROM cand c LEFT JOIN bench b ON c.h = b.h
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def ct1_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.benchmark_contamination(_table(spark, sf_dir, "documents"))


@register(
    "ct2_pii_scrub",
    f"""
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN len(regexp_extract_all(text, '{cu.EMAIL_PAT}')) > 0
                    THEN 1 ELSE 0 END)::BIGINT AS docs_with_email,
           SUM(CASE WHEN len(regexp_extract_all(text, '{cu.IPV4_PAT}')) > 0
                    THEN 1 ELSE 0 END)::BIGINT AS docs_with_ip,
           SUM(CASE WHEN len(regexp_extract_all(text, '{cu.BLOCKED_PAT}')) > 0
                    THEN 1 ELSE 0 END)::BIGINT AS docs_with_blocked,
           SUM(len(regexp_extract_all(text, '{cu.BLOCKED_PAT}')))::BIGINT
               AS total_blocked_hits,
           SUM(length(text) - length(regexp_replace(text, '{cu.BLOCKED_PAT}', '', 'g')))::BIGINT
               AS total_redacted_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def ct2_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.pii_scrub(_table(spark, sf_dir, "documents"))


@register(
    "ct3_repetition_stats",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS w FROM words),
    topw AS (
        SELECT doc_id, SUM(c)::BIGINT AS n_tokens, MAX(c)::BIGINT AS top_word_count
        FROM (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w) t
        GROUP BY doc_id),
    bg_list AS (
        SELECT doc_id,
               CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(ws)),
                                        i -> array_to_string(ws[i:i+1], ' '))
               END AS gs
        FROM words),
    bgs AS (SELECT doc_id, unnest(gs) AS g FROM bg_list),
    bg AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
               COUNT(DISTINCT g)::BIGINT AS n_distinct_bigrams
        FROM bgs GROUP BY doc_id)
    SELECT t.doc_id, n_tokens, top_word_count,
           round(top_word_count::DOUBLE / n_tokens, 6) AS top_word_frac,
           n_bigrams, n_distinct_bigrams,
           round(n_distinct_bigrams::DOUBLE / n_bigrams, 6) AS distinct_bigram_frac,
           (top_word_count::DOUBLE / n_tokens > {cu.TOP_WORD_FRAC_MAX}
            OR n_distinct_bigrams::DOUBLE / n_bigrams < {cu.DISTINCT_BIGRAM_FRAC_MIN})
               AS repetitive
    FROM topw t JOIN bg USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def ct3_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.repetition_stats(_table(spark, sf_dir, "documents"))


@register(
    "ch1_token_chunking",
    f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    st AS (
        SELECT doc_id, ws, unnest(range(0, len(ws), {cu.CHUNK_STRIDE})) AS start_token
        FROM words),
    ch AS (
        SELECT doc_id, start_token,
               ws[start_token + 1 : start_token + {cu.CHUNK_SIZE}] AS chunk
        FROM st)
    SELECT doc_id,
           (start_token // {cu.CHUNK_STRIDE})::BIGINT AS chunk_idx,
           start_token::BIGINT AS start_token,
           len(chunk)::BIGINT AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM ch
    ORDER BY doc_id, chunk_idx
    """,
)
def ch1_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.token_chunking(_table(spark, sf_dir, "documents"))


@register(
    "mx1_mixture_resample",
    f"""
    WITH tagged AS (
        SELECT source,
               (CAST(substring(source, 4) AS INT) % 4 + 1)::DOUBLE / 4.0 AS target_rate,
               ('0x' || substring(
                    md5(doc_id::VARCHAR || ':{cu.MIX_SALT}:' || source), 1, 4))::BIGINT
                 < CAST((CAST(substring(source, 4) AS INT) % 4 + 1)::DOUBLE / 4.0 * 65536
                        AS BIGINT) AS keep
        FROM documents)
    SELECT source, target_rate,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           round(SUM(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS achieved_rate
    FROM tagged
    GROUP BY source, target_rate
    ORDER BY source
    """,
)
def mx1_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.mixture_resample(_table(spark, sf_dir, "documents"))


@register(
    "sd1_semantic_dedup",
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
    vecs AS (SELECT c.vec_id, c.embedding AS emb, c.norm AS nrm, a.centroid_id
             FROM c JOIN assign a ON a.vec_id = c.vec_id),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_DUCK_DOT.format(a="a.emb", b="b.emb")} / (a.nrm * b.nrm) AS cosine
        FROM vecs a JOIN vecs b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
    dropped AS (
        SELECT DISTINCT vec_b AS vec_id FROM pairs
        WHERE cosine >= {sim.SEMDEDUP_COSINE})
    SELECT a.centroid_id,
           COUNT(*)::BIGINT AS n_vectors,
           COUNT(d.vec_id)::BIGINT AS n_dropped,
           (COUNT(*) - COUNT(d.vec_id))::BIGINT AS n_kept,
           round((COUNT(*) - COUNT(d.vec_id))::DOUBLE / COUNT(*), 6) AS retention
    FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    GROUP BY a.centroid_id
    ORDER BY a.centroid_id
    """,
)
def sd1_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.semantic_dedup(_table(spark, sf_dir, "embeddings"))


# ----------------------------------------- relational star joins (round 3)

from file_indexer_spark.operators import relational as rel  # noqa: E402

_REV_E4_SQL = """CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)"""


@register(
    "h1_regional_revenue",
    f"""
    SELECT n_name, {_REV_E4_SQL} AS revenue_e4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_e4 DESC, n_name
    """,
)
def h1_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape, DataFrame-native: bounded nation x region dim is
    force-broadcast; customer/supplier joins are left to AQE (they
    scale with the corpus); date predicates push into the fact scans."""
    tune_session(spark)
    return rel.regional_revenue(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "supplier"),
        _table(spark, sf_dir, "nation"),
        _table(spark, sf_dir, "region"),
    )


@register(
    "h2_returned_top_customers",
    f"""
    WITH per_customer AS (
        SELECT o_custkey, {_REV_E4_SQL} AS revenue_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY o_custkey
        ORDER BY revenue_e4 DESC, o_custkey
        LIMIT 20
    )
    SELECT c_custkey, c_name, revenue_e4,
           round(c_acctbal, 2) AS acctbal, n_name AS nation
    FROM per_customer
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue_e4 DESC, c_custkey
    """,
)
def h2_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: per-customer aggregate BEFORE the detail join,
    so the join input is one row per customer, not per lineitem."""
    tune_session(spark)
    return rel.returned_top_customers(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"),
        _table(spark, sf_dir, "nation"),
    )


@register(
    "h3_late_order_priorities",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def h3_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS rewritten as per-order max(l_shipdate)
    pre-aggregation + equi join (commit d930a12; the LeftSemi form
    hash-built the fact side — test_plans.py pins LeftSemi OUT of the
    plan)."""
    tune_session(spark)
    return rel.order_priority_counts(
        _table(spark, sf_dir, "orders"), _table(spark, sf_dir, "lineitem")
    )


@register(
    "h4_pricing_summary",
    """
    WITH l AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity * 100) AS BIGINT) AS qty_e2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_e2,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty_e2) AS BIGINT) AS sum_qty_e2,
           CAST(SUM(price_e2) AS BIGINT) AS sum_base_price_e2,
           CAST(SUM(price_e2 * (100 - disc_pct)) AS BIGINT) AS sum_disc_price_e4,
           CAST(SUM(price_e2 * (100 - disc_pct) * (100 + tax_pct)) AS BIGINT)
               AS sum_charge_e6,
           round(CAST(SUM(qty_e2) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_qty,
           round(CAST(SUM(price_e2) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price,
           COUNT(*) AS count_order
    FROM l
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def h4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one lineitem scan, one 6-group hash agg, every
    measure fixed-point BIGINT so partial-agg order can't drift."""
    tune_session(spark)
    return rel.pricing_summary(_table(spark, sf_dir, "lineitem"))


@register(
    "h5_shipping_priority",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS revenue_e4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_e4 DESC, o_orderdate, o_orderkey
    LIMIT 10
    """,
)
def h5_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer → orders → lineitem,
    join strategy left to AQE (customer grows with SF — no forced
    broadcast); top-10 is TakeOrderedAndProject over O(orders) rows."""
    tune_session(spark)
    return rel.shipping_priority(
        _table(spark, sf_dir, "customer"),
        _table(spark, sf_dir, "orders"),
        _table(spark, sf_dir, "lineitem"),
    )


# ------------------------------------------------ events round-3 additions


@register(
    "e7_asof_last_view",
    """
    SELECT p.event_id, p.user_id, p.ts AS probe_ts, v.ts AS last_match_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
)
def e7_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (purchase -> latest at-or-before view per user).
    Spark side is the union-and-window formulation (no join, one
    shuffle on user_id); the oracle is DuckDB's native ASOF LEFT JOIN,
    a genuine cross-engine semantics check."""
    return ev.asof_last_match(_events(spark, sf_dir))


@register(
    "e8_rolling_daily_value",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS day_events,
               round(SUM(value), 4) AS day_value
        FROM events GROUP BY 1, 2
    ),
    indexed AS (
        SELECT *, CAST(day - DATE '{ev.ROLLING_EPOCH}' AS INTEGER) AS day_idx
        FROM daily
    )
    SELECT event_type, day, day_events, day_value,
           CAST(SUM(day_events) OVER w AS BIGINT) AS trail_events,
           round(SUM(day_value) OVER w, 4) AS trail_value
    FROM indexed
    WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, day
    """,
)
def e8_rolling_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.rolling_daily_value(_events(spark, sf_dir))


# --------------------------------------------------- text round-3 addition


@register(
    "t6_length_percentiles",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(AVG(CAST(n_chars AS DOUBLE)), 4) AS mean_chars,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def t6_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile profile per source (Spark percentile() has the
    same linear-interpolation semantics as DuckDB quantile_cont)."""
    return tx.length_percentiles(_table(spark, sf_dir, "documents"))


@register("t6a_length_percentiles_approx")
def t6a_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6a: single-pass percentile_approx sketch variant — the 100 TB
    execution path for t6. No SQL oracle (sketch output is
    implementation-defined → rows-only driver check); pytest pins each
    approx percentile inside the exact distribution's neighborhood."""
    return tx.length_percentiles_approx(_table(spark, sf_dir, "documents"))


@register(
    "e9_preceding_window_counts",
    """
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               epoch_us(ts) AS eus,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_match
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    win AS (
        SELECT *,
               SUM(is_match) OVER (PARTITION BY user_id ORDER BY eus
                   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS v
        FROM tagged
    )
    SELECT event_id, user_id, ts AS probe_ts,
           COALESCE(CAST(v AS BIGINT), 0) AS n_matches
    FROM win WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def e9_preceding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-join semantics (matches within a trailing hour of each
    probe) as a RANGE window over epoch-microseconds — no theta-join,
    no nested loop; one shuffle on user_id."""
    return ev.preceding_window_counts(_events(spark, sf_dir))


@register(
    "w3_cleanup_roundtrip",
    """
    -- Cleanup end-to-end: after deleting one whole subdirectory and
    -- every 7th file of the other, exactly the untouched files remain
    -- indexed. The oracle recomputes the survivor set from documents.
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text)) AS BIGINT) AS file_size
    FROM documents
    WHERE doc_id % 2 = 0 AND doc_id % 7 != 0
    ORDER BY filename
    """,
)
def w3_cleanup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: the D3/D4 cleanup pipeline under the gate, PROBE mode — no
    rescan; executors stat() DISTINCT directories first (one probe per
    dir; files under a missing dir are stale with zero per-file
    syscalls — the reference's directory-first optimization,
    indexer.py:1129-1205), then stat() only files in surviving dirs.

    Fixture: docs land in sub0 (even doc_id) / sub1 (odd); sub1 is
    rmtree'd wholesale and every 7th file of sub0 unlinked. The
    driver-side collect writes the fixture tree; the cleanup itself is
    the production path.
    """
    import os
    import shutil

    from file_indexer_spark.indexer.cleanup import probe_deleted_files
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w3")
    tree = os.path.join(base, "tree")
    for sub in ("sub0", "sub1"):
        os.makedirs(os.path.join(tree, sub))
    for r in docs:
        sub = "sub0" if r["doc_id"] % 2 == 0 else "sub1"
        with open(
            os.path.join(tree, sub, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8"
        ) as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=-1)  # metadata-only

    shutil.rmtree(os.path.join(tree, "sub1"))
    for r in docs:
        if r["doc_id"] % 2 == 0 and r["doc_id"] % 7 == 0:
            os.unlink(os.path.join(tree, "sub0", f"doc_{r['doc_id']}.txt"))

    stale = probe_deleted_files(table)
    table.delete(stale)
    return table.read().select("filename", "file_size").orderBy("filename")


_E10_SQL = """
    -- Sliding windows: each event belongs to the 4 hour-long windows
    -- whose 15-min-aligned starts cover it. time_bucket boundaries
    -- coincide with Spark's epoch-aligned windows (both origins sit on
    -- a 15-minute grid).
    WITH exploded AS (
        SELECT e.*,
               time_bucket(INTERVAL '15 minutes', ts)
                   - k * INTERVAL '15 minutes' AS window_start
        FROM events e, (SELECT UNNEST(generate_series(0, 3)) AS k) ks
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM exploded
    WHERE ts < window_start + INTERVAL '1 hour'
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
"""


@register("e10_sliding_counts", _E10_SQL)
def e10_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (1 h window, 15 min slide): the
    overlap explode is map-side; partial agg bounds the shuffle at
    O(types x windows)."""
    return ev.sliding_counts(_events(spark, sf_dir))


@register("st5_streaming_sliding", _E10_SQL)
def st5_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: the same sliding windows as a REAL stream (two file
    arrivals -> two micro-batches, availableNow, complete-mode memory
    sink) — one windowing semantics for batch and stream, both checked
    against the same DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, tag = gate_workdir("fis_st5")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sink = f"st5_sink_{tag}"
    sw.run_to_memory_sink(
        sw.windowed_counts(stream, slide_duration="15 minutes"), sink
    )
    return spark.table(sink).orderBy("window_start", "event_type")


@register(
    "w4_json_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w4_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (S11): whole-index JSON export/import under the gate — the
    distributed analogue of the Go engine's JSON storage mode
    (file_indexer_go/indexer/indexer.go:294-338). The table roundtrips
    parquet -> newline-JSON -> parquet with a lossless microsecond
    timestamp format; the oracle is the plain files derivation, so any
    serialization drift (precision, timezone, nulls) hash-mismatches.
    """
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w4")

    src = FilesTable(spark, os.path.join(base, "src_db"))
    src.overwrite(files_df(spark, sf_dir))
    src.export_json(os.path.join(base, "dump.json"))

    dst = FilesTable(spark, os.path.join(base, "dst_db"))
    dst.import_json(os.path.join(base, "dump.json"))
    return dst.read().orderBy("path", "filename")


@register(
    "t7_rollup_token_totals",
    """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
    FROM documents
    GROUP BY ROLLUP (source, lang)
    ORDER BY gid, source NULLS FIRST, lang NULLS FIRST
    """,
)
def t7_rollup_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain totals in one scan (ROLLUP -> Expand + single hash
    agg); grouping_id disambiguates subtotal rows."""
    return tx.rollup_token_totals(_table(spark, sf_dir, "documents"))


@register(
    "t8_lang_pivot",
    f"""
    SELECT source,
           {", ".join(
               f"CAST(SUM(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{lang}"
               for lang in tx.LANGS
           )}
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def t8_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a PINNED value list (no discovery scan, stable
    schema) — compiles to conditional aggregates in one hash agg."""
    return tx.lang_pivot(_table(spark, sf_dir, "documents"))


@register(
    "e11_event_transitions",
    """
    WITH seq AS (
        SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           round(CAST(n_transitions AS DOUBLE)
                 / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS transition_p
    FROM c
    ORDER BY prev_type, next_type
    """,
)
def e11_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user sequence: one
    lag window on user_id, then an O(types^2) agg; normalization
    windows over the matrix, not the stream."""
    return ev.event_transitions(_events(spark, sf_dir))


from file_indexer_spark.operators import inference as inf  # noqa: E402

@register(
    "inf1_classifier_scores",
    f"""
    WITH scored AS (
        SELECT label,
               CAST(ROUND(1.0 / (1.0 + exp(-(
                   list_reduce(
                       list_transform(range(1, {inf.DIM} + 1),
                           i -> (embedding[i]::DOUBLE)
                                * (((i * 37) % 29 - 14)::DOUBLE / 29.0)),
                       (x, y) -> x + y)
                   + {inf.BIAS}))) * 1000000) AS BIGINT) AS s_e6
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(s_e6) AS DOUBLE) / COUNT(*) / 1000000, 6) AS mean_score,
           CAST(SUM(CASE WHEN s_e6 >= {inf.KEEP_THRESHOLD_E6} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM scored
    GROUP BY label
    ORDER BY label
    """,
)
def inf1_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-filter pass: sigmoid(w.x+b) as ONE codegen expression
    over the scan (no UDF, no shuffle before the O(labels) rollup);
    per-row scores snap to integer micro-units before aggregation so
    results can't drift with partial-agg order."""
    return inf.classifier_scores(_table(spark, sf_dir, "embeddings"))


@register(
    "sp4_shard_assignment",
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
def sp4_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable export sharding: md5-prefix mod N as a pure key
    function (retry/re-run/growth-stable), with the per-shard balance
    report. Zero shuffles before the O(shards) agg."""
    return sp.shard_assignment(_table(spark, sf_dir, "documents"))


@register(
    "sp6_epoch_shuffle",
    f"""
    -- Deterministic epoch shuffle: md5(seed:doc_id) routes each doc to
    -- an epoch shard; within-shard key order is the read order. No
    -- global row_number — n_shards independent ranks.
    WITH keyed AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5('0:' || doc_id::VARCHAR) AS order_key
        FROM documents),
    sharded AS (
        SELECT doc_id, n_tokens, order_key,
               CAST(CAST('0x' || substr(order_key, 1, 8) AS BIGINT)
                    % {sp.EPOCH_SHARDS} AS BIGINT) AS epoch_shard
        FROM keyed)
    SELECT doc_id, epoch_shard,
           CAST(row_number() OVER (PARTITION BY epoch_shard
                ORDER BY order_key, doc_id) AS BIGINT) AS shard_pos,
           n_tokens
    FROM sharded ORDER BY epoch_shard, shard_pos
    """,
)
def sp6_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP6: the epoch's full read plan — content-stable pseudo-random
    training order, reshuffled by seed, replayed identically across
    retries; sharded so no global single-partition sort exists."""
    return sp.epoch_shuffle(_table(spark, sf_dir, "documents"), seed=0)


@register(
    "w5_incremental_update",
    """
    -- Incremental re-index (D1): after appending one byte to every
    -- 5th document's file and re-running update_index, exactly the
    -- touched files carry new sizes/checksums; untouched rows keep
    -- their phase-1 values (mtime+size change detection skips them).
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text))
                + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS file_size,
           CASE WHEN doc_id % 5 = 0 THEN sha256(text || 'X')
                ELSE sha256(text) END AS checksum
    FROM documents
    ORDER BY filename
    """,
)
def w5_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: the D1 incremental pipeline under the gate — index a tree,
    mutate a deterministic subset (append one byte), re-run
    update_index. The oracle recomputes both populations independently,
    so a missed change (stale size/checksum) hash-mismatches; the
    no-spurious-rehash half of D1 (reuse counters) is pinned by
    tests/test_indexer_write.py, since an unnecessary rehash of
    unchanged content reproduces the same digest."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w5")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=0)  # 0 = no size cap

    for r in docs:
        if r["doc_id"] % 5 == 0:
            with open(
                os.path.join(tree, f"doc_{r['doc_id']}.txt"), "a", encoding="utf-8"
            ) as fh:
                fh.write("X")

    update_index(spark, table, tree, max_checksum_size=0)
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


@register(
    "e12_gap_percentiles",
    """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_us, 0.5), 4) AS p50_us,
           round(quantile_cont(gap_us, 0.9), 4) AS p90_us,
           round(quantile_cont(gap_us, 0.99), 4) AS p99_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e12_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap percentiles per event type: one lag window on
    user_id, then an exact percentile agg on the tiny type key."""
    return ev.gap_percentiles(_events(spark, sf_dir))


@register("e12a_gap_percentiles_approx")
def e12a_gap_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12a: single-pass percentile_approx sketch variant — the 100 TB
    execution path for e12. Rows-only driver check; tolerance vs e12
    pinned in pytest."""
    return ev.gap_percentiles_approx(_events(spark, sf_dir))


@register(
    "ct4_boilerplate_ngrams",
    f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(string_split(text, ' '))
                                     - {cu.BOILERPLATE_N - 1}, 0) + 1),
                   i -> array_to_string(
                       string_split(text, ' ')[i:i + {cu.BOILERPLATE_N - 1}],
                       ' '))) AS gram
        FROM documents
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM grams
    GROUP BY gram
    ORDER BY doc_freq DESC, n_occurrences DESC, gram
    LIMIT {cu.BOILERPLATE_TOP_K}
    """,
)
def ct4_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: map-side n-gram Generate -> one hash agg on
    gram (occurrences + doc frequency) -> top-k. No joins, no skew."""
    return cu.boilerplate_ngrams(_table(spark, sf_dir, "documents"))


@register(
    "t9_cube_token_totals",
    """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
    FROM documents
    GROUP BY CUBE (source, lang)
    ORDER BY gid, source NULLS FIRST, lang NULLS FIRST
    """,
)
def t9_cube_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (source, lang): all four grains from one Expand +
    single hash agg, incl. the per-lang grain ROLLUP can't emit."""
    return tx.cube_token_totals(_table(spark, sf_dir, "documents"))


