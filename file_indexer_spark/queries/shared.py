"""Oracle fragments and feed builders that more than one domain module uses.

Imports no query module, so the domain modules load in any order."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import events as ev
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.operators import text as tx
from file_indexer_spark.streaming.joins import ATTRIBUTION_GAP_MINUTES as sj_gap_minutes
from file_indexer_spark.tables import FILES_CTE


_STOP_SQL = ", ".join(f"'{w}'" for w in tx.STOPWORDS)


# e14/st8 share one oracle: the native session_window API's split rule
# (gap >= threshold starts a new session — vs e1's strict >), no
# distinct-type count (streaming aggregations reject exact distincts).
_E14_ORACLE = f"""
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= {ev.SESSION_GAP_MINUTES} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM sessions GROUP BY user_id, seq
    ORDER BY user_id, session_start
    """


# e15/st9 share one oracle: the interval-join pair set is identical
# whether computed as a batch self-join or a watermarked stream-stream
# join (inner joins emit pairs, never windows, so no flush sentinel).
_E15_ORACLE = f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL {sj_gap_minutes} MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    ORDER BY purchase_id, view_id
    """


# e15b/st10 share the LEFT OUTER oracle: unattributed purchases emit
# with NULL view columns.
_E15B_ORACLE = f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL {sj_gap_minutes} MINUTE
    ORDER BY purchase_id, view_id
    """


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
# dd7's oracle; dd13 and st13 must land exactly on it too.
_DD7_ORACLE = f"""
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
    """
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
_PQ_DIM = sim.EMB_DIM // sim.PQ_SUBSPACES


# per-(row, subspace) slice-L2 against codebook column c_emb, 1-based
# DuckDB slicing, strict left-to-right fold (the sim9 oracle's shape)
_DUCK_SLICE_D2 = (
    f"list_reduce(list_transform(range({_PQ_DIM} * {{m}} + 1, "
    f"{_PQ_DIM} * {{m}} + {_PQ_DIM + 1}), "
    "i -> ({v}[i]::DOUBLE - {c}[i]::DOUBLE)"
    " * ({v}[i]::DOUBLE - {c}[i]::DOUBLE)), (x, y) -> x + y)"
)
# e17's oracle, shared with its streaming rendition st14.
_E17_ORACLE = f"""
    -- Burst collapse (telemetry debounce): chained events within the
    -- gap reduce to their first occurrence + suppression accounting.
    WITH ordered AS (
        SELECT user_id, event_type, event_id, ts,
               epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id)
                   AS prev_us
        FROM events),
    flagged AS (
        SELECT *, CASE WHEN prev_us IS NULL
                         OR us - prev_us > {ev.DEBOUNCE_GAP_S}::BIGINT * 1000000
                       THEN 1 ELSE 0 END AS new_burst
        FROM ordered),
    bursts AS (
        SELECT *, SUM(new_burst) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS burst_seq
        FROM flagged),
    agg AS (
        SELECT user_id, event_type, CAST(burst_seq AS BIGINT) AS burst_seq,
               min(struct_pack(us := us, event_id := event_id, ts := ts)) AS kept,
               CAST(COUNT(*) - 1 AS BIGINT) AS n_suppressed,
               CAST(max(us) - min(us) AS BIGINT) AS span_us
        FROM bursts GROUP BY 1, 2, 3)
    SELECT user_id, event_type, burst_seq,
           kept.event_id AS kept_event_id, kept.ts AS kept_ts,
           n_suppressed, span_us
    FROM agg ORDER BY user_id, event_type, burst_seq
    """


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
# e18's oracle, shared with its streaming rendition st15.
_E18_ORACLE = """
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
    """
_T15_TERMS = ", ".join(f"'{t}'" for t in tx.BM25_QUERY_TERMS)
# t15's oracle: the t16-t19 index paths must reproduce it, and sim19
# fuses it with sim10's ranking.
_T15_ORACLE = f"""
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
    """
_CT6_NBINS = cu.DRIFT_MAX_BIN + 1
_CT6_PA = (
    f"((CAST(base_n AS DOUBLE) + 0.5) / (CAST(base_total AS DOUBLE)"
    f" + {0.5 * _CT6_NBINS}))"
)
_CT6_PB = (
    f"((CAST(batch_n AS DOUBLE) + 0.5) / (CAST(batch_total AS DOUBLE)"
    f" + {0.5 * _CT6_NBINS}))"
)
# ct6's oracle, shared with its streaming rendition st16.
_CT6_ORACLE = f"""
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
    """
# e20's oracle, shared with its streaming rendition st17.
_E20_ORACLE = f"""
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
    """


def _w19_h() -> F.Column:
    return F.substring(F.md5(F.col("filename")), 1, 1)


def _w19_corrupted_base(base: DataFrame) -> DataFrame:
    """The deterministically corrupted feed shared by w19 and st18:
    md5-slice rules '0' -> negative size, '1' -> NULL key, '3' -> NULL
    file_size, '4' -> NULL modification_datetime (every NOT NULL
    column of the reference DDL exercised)."""
    h = _w19_h()
    return base.select(
        "path",
        F.when(h == "1", F.lit(None).cast("string"))
        .otherwise(F.col("filename"))
        .alias("filename"),
        "checksum",
        F.when(h == "4", F.lit(None).cast("timestamp"))
        .otherwise(F.col("modification_datetime"))
        .alias("modification_datetime"),
        F.when(h == "0", -(F.col("file_size") + 1))
        .when(h == "3", F.lit(None))
        .otherwise(F.col("file_size"))
        .cast("long")
        .alias("file_size"),
        "indexed_at",
    )


def _w19_dup_rows(base: DataFrame) -> DataFrame:
    """Slice '2' duplicated with size+7 — the PK-constraint violators
    (always LOSE the total-order arbitration against their clean
    originals, whichever batch they arrive in)."""
    return base.filter(_w19_h() == "2").select(
        "path",
        "filename",
        "checksum",
        "modification_datetime",
        (F.col("file_size") + 7).cast("long").alias("file_size"),
        "indexed_at",
    )


# w19's oracle, shared with its streaming rendition st18.
_W19_ORACLE = f"""
    -- Writer-side constraint enforcement: a deterministically
    -- corrupted feed (md5-slice rules: '0' -> negative size,
    -- '1' -> NULL key, '2' -> duplicated PK with size+7,
    -- '3' -> NULL file_size, '4' -> NULL modification_datetime —
    -- every NOT NULL column of the reference DDL is exercised) is
    -- classified row-exactly-once into accepted / null_key /
    -- null_size / null_mtime / negative_size / duplicate_key; among
    -- row-level-clean rows of a PK group the FIRST in (file_size,
    -- checksum NULLS FIRST, mtime) order is kept. The Spark side
    -- recomputes this summary from the ROUND-TRIPPED table +
    -- quarantine parquet, so a lost or misrouted row hash-mismatches
    -- (the w6 discipline).
    WITH {FILES_CTE},
    dirty AS (
        SELECT path,
               CASE WHEN substr(md5(filename), 1, 1) = '1' THEN NULL
                    ELSE filename END AS filename,
               checksum,
               CASE WHEN substr(md5(filename), 1, 1) = '4' THEN NULL
                    ELSE modification_datetime END AS modification_datetime,
               CASE WHEN substr(md5(filename), 1, 1) = '0'
                    THEN -(file_size + 1)
                    WHEN substr(md5(filename), 1, 1) = '3' THEN NULL
                    ELSE file_size END AS file_size,
               indexed_at
        FROM files
        UNION ALL
        SELECT path, filename, checksum, modification_datetime,
               file_size + 7 AS file_size, indexed_at
        FROM files WHERE substr(md5(filename), 1, 1) = '2'),
    flagged AS (
        SELECT *,
               CASE WHEN path IS NULL OR filename IS NULL THEN 'null_key'
                    WHEN file_size IS NULL THEN 'null_size'
                    WHEN modification_datetime IS NULL THEN 'null_mtime'
                    WHEN file_size < 0 THEN 'negative_size' END AS row_reason
        FROM dirty),
    seqd AS (
        SELECT *,
               SUM(CASE WHEN row_reason IS NULL THEN 1 ELSE 0 END) OVER (
                   PARTITION BY path, filename
                   ORDER BY file_size ASC,
                            checksum ASC NULLS FIRST,
                            modification_datetime ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged),
    classified AS (
        SELECT *,
               COALESCE(row_reason,
                        CASE WHEN seq > 1 THEN 'duplicate_key' END) AS reason
        FROM seqd)
    SELECT COALESCE(reason, 'accepted') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(file_size) AS BIGINT) AS total_size
    FROM classified
    GROUP BY 1 ORDER BY 1
    """


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


# sim17's oracle, shared by the compaction (sim18) and the CDC stream
# (st19).
_SIM17_ORACLE = _ivfpq_edit_oracle()
