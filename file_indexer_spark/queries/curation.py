"""Corpus curation (ct, pp, inf): contamination, PII, repetition, drift,
the review funnels and inference-side scoring."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import inference as inf
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.queries.shared import (
    _CT6_ORACLE,
    _DD7_PAIRS_CTES,
    _PP1_SQL,
    _QUALITY_CTE,
    _STOP_SQL,
)
from file_indexer_spark.registry_core import register
from file_indexer_spark.tables import load_table


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
    return cu.benchmark_contamination(load_table(spark, sf_dir, "documents"))


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
    return cu.pii_scrub(load_table(spark, sf_dir, "documents"))


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
    return cu.repetition_stats(load_table(spark, sf_dir, "documents"))


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
    return cu.boilerplate_ngrams(load_table(spark, sf_dir, "documents"))


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
    return cu.quality_rank_filter(load_table(spark, sf_dir, "documents"))


@register("ct6_distribution_drift", _CT6_ORACLE)
def ct6_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CT6: corpus-vs-batch length-profile drift — one map-side bin
    expression, one hash aggregate (2 x #bins output), arithmetic over
    the tiny histogram. The corpus is scanned exactly once."""
    return cu.distribution_drift(load_table(spark, sf_dir, "documents"))


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
    return cu.contamination_spans(load_table(spark, sf_dir, "documents"))


@register("pp1_curation_pipeline", _PP1_SQL)
def pp1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation funnel (dd1 -> t2 -> ct1) with per-source
    accounting — every stage reuses its standalone operator's exact
    deterministic rule, so the whole funnel hash-matches."""
    return cu.curation_pipeline(load_table(spark, sf_dir, "documents"))


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

    docs = load_table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))
    return ct.neardup_split_pipeline(docs, clusters)


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
    return inf.classifier_scores(load_table(spark, sf_dir, "embeddings"))


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
    return inf.calibration_bins(load_table(spark, sf_dir, "embeddings"))


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
    return inf.roc_auc(load_table(spark, sf_dir, "embeddings"))
