"""Text pipeline (t, ch): tokenization, quality signals, lexical (BM25)
indexes and chunking over the documents table."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.operators import text as tx
from file_indexer_spark.queries.shared import _STOP_SQL, _T15_ORACLE
from file_indexer_spark.registry_core import ORACLES, _land_arrivals, register
from file_indexer_spark.tables import load_table


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
    return tx.token_stats(load_table(spark, sf_dir, "documents"))


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
    return tx.quality_scores(load_table(spark, sf_dir, "documents"))


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
    return tx.language_confusion(load_table(spark, sf_dir, "documents"))


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
    return tx.fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "t5_quality_retention",
    f"""
    -- t2's quality filter materialized: per-source doc/token retention
    -- after dropping low-quality docs — the filter-impact review table.
    WITH m AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                   AS n_stopwords
        FROM documents),
    flagged AS (
        SELECT doc_id, source, n_tokens,
               (0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0)) < 0.5 AS low_quality
        FROM m)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (NOT low_quality) AS BIGINT) AS n_kept,
           round(CAST(COUNT(*) FILTER (NOT low_quality) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS doc_retention,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN NOT low_quality THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def t5_quality_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_retention(load_table(spark, sf_dir, "documents"))


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
    return tx.length_percentiles(load_table(spark, sf_dir, "documents"))


@register("t6a_length_percentiles_approx")
def t6a_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6a: single-pass percentile_approx sketch variant — the 100 TB
    execution path for t6. No SQL oracle (sketch output is
    implementation-defined → rows-only driver check); pytest pins each
    approx percentile inside the exact distribution's neighborhood."""
    return tx.length_percentiles_approx(load_table(spark, sf_dir, "documents"))


@register(
    "t6a_bounds",
    """
    -- t6a's rank-tolerance contract: expected-empty violation set
    -- (every percentile_approx value between the exact p+/-0.02
    -- percentiles; non-sketch columns exact). Computed in Spark;
    -- the contract is "no rows".
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def t6a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6a-BOUNDS: the percentile_approx sketch vs its exact twin t6 —
    rank tolerance ±0.02 per group, exact equality on n_docs/mean/max;
    one key-aligned join over t6a's own plan + an O(groups) explode."""
    from file_indexer_spark.operators import bounds as bd

    docs = load_table(spark, sf_dir, "documents")
    return bd.percentile_bounds(
        docs,
        tx.length_percentiles(docs),
        tx.length_percentiles_approx(docs),
        key="source",
        val="n_chars",
        pcols=[("p50_chars", 0.5), ("p90_chars", 0.9), ("p99_chars", 0.99)],
    )


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
    return tx.rollup_token_totals(load_table(spark, sf_dir, "documents"))


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
    return tx.lang_pivot(load_table(spark, sf_dir, "documents"))


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
    return tx.cube_token_totals(load_table(spark, sf_dir, "documents"))


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
    return tx.distinctive_terms(load_table(spark, sf_dir, "documents"))


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
    return tx.token_rarity(load_table(spark, sf_dir, "documents"))


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
    return tx.doc_top_terms(load_table(spark, sf_dir, "documents"))


@register(
    "t13_vocab_coverage",
    f"""
    -- Head-vocabulary coverage: corpus top-{tx.VOCAB_TOP_K} vocabulary
    -- (count desc, word asc — deterministic tie-break), then per-doc
    -- in-vocab token share and OOV rate.
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    counts AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY word),
    vocab AS (
        SELECT word FROM (
            SELECT word, row_number() OVER (ORDER BY tf DESC, word) AS rnk
            FROM counts) t
        WHERE rnk <= {tx.VOCAB_TOP_K}),
    per_doc AS (
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS in_vocab_tokens
        FROM words w LEFT JOIN vocab v USING (word)
        GROUP BY w.doc_id)
    SELECT doc_id, n_tokens, in_vocab_tokens,
           round(1.0::DOUBLE - CAST(in_vocab_tokens AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
    FROM per_doc ORDER BY doc_id
    """,
)
def t13_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: per-doc head-vocabulary coverage / OOV quality signal. One
    O(vocab) word-count shuffle builds the head list; the scoring pass
    inlines it as a literal and stays entirely map-side."""
    return tx.vocab_coverage(load_table(spark, sf_dir, "documents"))


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

    return tx.bigram_surprisal(load_table(spark, sf_dir, "documents"))


@register("t15_bm25_topk", _T15_ORACLE)
def t15_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15: BM25 ranked retrieval — two map-side-combined aggregates
    over the token stream (tf filtered to the query terms BEFORE the
    shuffle), broadcast df/scalars, TakeOrderedAndProject top-k."""
    return tx.bm25_topk(load_table(spark, sf_dir, "documents"))


# t16 shares t15's oracle verbatim: serving from the parquet
# round-trip of the index tables must produce the IDENTICAL ranking
# (the hash gate proves the build/serve split is lossless).
def _write_bm25_index(
    spark: SparkSession, docs: DataFrame, workdir: str
) -> dict[str, DataFrame]:
    """Materialize the BM25 index tables term-clustered (the shared
    :func:`operators.text.write_bm25_index` layout discipline)."""
    return tx.write_bm25_index(spark, tx.bm25_index_tables(docs), workdir)


@register("t16_bm25_materialized", _T15_ORACLE)
def t16_bm25_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16: t15 via the build-once/serve-many pattern — materialize
    the full inverted index (postings clustered by term, doc lengths,
    corpus scalars) to parquet, then answer the query from the
    re-reads only. At 100 TB the serve path reads O(query-term
    postings); the corpus text is never touched after the build."""
    docs = load_table(spark, sf_dir, "documents")
    workdir, _ = gate_workdir("fis_t16")
    mats = _write_bm25_index(spark, docs, workdir)
    return tx.bm25_topk_from_index(mats)


# t17's merge is exact (BM25 stats are pure counts), so it hashes
# against t15's full-corpus oracle verbatim too — the gate proves the
# incremental composition is lossless, not merely close.
@register("t17_bm25_append", _T15_ORACLE)
def t17_bm25_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17: lexical index MAINTENANCE — tokenize and aggregate only
    the arriving batch (the dd12 convention: doc_id % 10 == 7), union
    its postings/doclen into the stored base index and absorb its
    counts into the corpus scalars, then serve the query over the
    merged index. Completes the incremental family: dd12/dd13 the
    dedup index, sim12 the ANN index, t17 the lexical index."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 7)
    new = docs.filter(F.col("doc_id") % 10 == 7)
    workdir, _ = gate_workdir("fis_t17")
    mats = _write_bm25_index(spark, base, workdir)
    merged = tx.bm25_append(mats, new)
    return tx.bm25_topk_from_index(merged)


# t17b hashes against t15's oracle verbatim over the TRUE corpus: the
# base index is poisoned with stale text for the update slice, so only
# a complete read-modify-write (displace stale postings AND doc
# lengths AND their scalar counts, then append) can converge to the
# full-corpus index — a partial displacement hash-mismatches.
@register("t17b_bm25_upsert", _T15_ORACLE)
def t17b_bm25_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17B: lexical index UPSERT — a mixed insert+update batch
    (doc_id % 10 == 3: new docs; % 10 == 7: REPLACES a stale indexed
    version) applied read-modify-write: anti-join the batch ids out of
    the stored postings/doclen, subtract the displaced counts from the
    corpus scalars (read off the stored doclen — the corpus text is
    never re-touched), then run the exact disjoint append.  Serves the
    query over the merged index; equality with t15's from-scratch pass
    over the true corpus proves the displacement is complete."""
    docs = load_table(spark, sf_dir, "documents")
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


# t18 hashes against t15's oracle verbatim too: compaction is a pure
# layout rewrite, so the ranking served from the compacted index must
# be bit-identical to the fragmented one (and to from-scratch t15).
@register("t18_bm25_compaction", _T15_ORACLE)
def t18_bm25_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18: lexical index COMPACTION — three appends land their
    postings as separate file sets (each one fragments every term's
    posting list further; the serve plan's row-group pruning degrades
    toward a full scan), then ``bm25_compact`` rewrites the index
    term-clustered in one pass and the query is served from the
    compacted layout.  The w10 discipline applied to the retrieval
    index; BENCH_INCREMENTAL's lexical_index block measures the serve
    economics (flat after compaction vs degrading uncompacted)."""
    docs = load_table(spark, sf_dir, "documents")
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


# t19 hashes against t15's oracle verbatim (the t16/t17/t17b/t18
# discipline): BM25 statistics are pure counts, so the union of
# per-micro-batch index tables over disjoint-id arrivals IS the
# full-corpus index — bm25_append's argument applied inductively over
# the stream.
@register("t19_streaming_lexical_ingest", _T15_ORACLE)
def t19_streaming_lexical_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19: streaming LEXICAL index ingestion — documents arrive in
    three micro-batches; each one tokenizes and aggregates ITSELF only
    and lands its postings term-clustered as a committed version dir
    (foreachBatch replay overwrites its own version — at-least-once
    safe). The gate drains the stream and serves the query from the
    stored state alone; equality with t15's from-scratch pass over the
    whole corpus proves stream-ingest == one batch build."""
    from file_indexer_spark.streaming import lexical as slex

    docs = load_table(spark, sf_dir, "documents")
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
    return tx.phrase_search(load_table(spark, sf_dir, "documents"))


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
        tx.positional_index_tables(load_table(spark, sf_dir, "documents")),
        base,
    )
    return tx.phrase_search_from_index(mats)


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
    docs = load_table(spark, sf_dir, "documents")
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
    docs = load_table(spark, sf_dir, "documents")
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
    return cu.token_chunking(load_table(spark, sf_dir, "documents"))
