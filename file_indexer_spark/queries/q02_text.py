"""Registered queries — text pillar (t1-t4) (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
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


# ------------------------------------------------------- LLM pillar: text

_STOP_SQL = ", ".join(f"'{w}'" for w in tx.STOPWORDS)

@register(
    "t1_token_stats",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           round(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_doc_tokens
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(_table(spark, sf_dir, "documents"))


@register(
    "t2_quality_scores",
    f"""
    WITH m AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_regex_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
               CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT)
                   AS total_token_chars,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords
        FROM documents
    )
    SELECT doc_id, lang, n_tokens, n_regex_tokens, n_distinct_tokens,
           round(CAST(total_token_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
           round(CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
           round(0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0), 6) AS quality_score,
           (0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                 + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0)) < 0.5 AS low_quality
    FROM m
    ORDER BY doc_id
    """,
)
def t2_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_scores(_table(spark, sf_dir, "documents"))


@register(
    "t3_language_confusion",
    """
    WITH words AS (
        SELECT doc_id, lang AS actual_lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    counts AS (
        SELECT actual_lang AS profile_lang, word, COUNT(*) AS profile_count
        FROM words GROUP BY 1, 2
    ),
    profile AS (
        SELECT profile_lang, word, profile_count FROM (
            SELECT *, row_number() OVER (PARTITION BY profile_lang
                        ORDER BY profile_count DESC, word) AS prof_rn
            FROM counts) t
        WHERE prof_rn <= 1000
    ),
    scores AS (
        SELECT w.doc_id, w.actual_lang, p.profile_lang,
               CAST(SUM(p.profile_count) AS BIGINT) AS score
        FROM words w JOIN profile p USING (word)
        GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT doc_id, actual_lang, profile_lang AS predicted_lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang) AS rn
        FROM scores
    )
    SELECT actual_lang, predicted_lang, COUNT(*) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def t3_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.language_confusion(_table(spark, sf_dir, "documents"))


@register(
    "t4_fingerprints",
    """
    WITH s AS (
        SELECT doc_id, md5(text) AS content_hash,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 3, 1) + 1),
                   i -> ('0x' || substring(md5(array_to_string(
                            string_split(text, ' ')[i:i+3], ' ')), 1, 15))::BIGINT
               )) AS hashes
        FROM documents
    )
    SELECT doc_id, content_hash,
           CAST(len(hashes) AS INTEGER) AS n_shingles,
           list_min(hashes) AS min_shingle_hash,
           md5(array_to_string(list_transform(list_sort(hashes)[1:5], h -> h::VARCHAR), '-'))
               AS fingerprint
    FROM s
    ORDER BY doc_id
    """,
)
def t4_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprints(_table(spark, sf_dir, "documents"))


