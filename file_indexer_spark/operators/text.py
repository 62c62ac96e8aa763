"""Text-analysis operators over the ``documents`` table.

The LLM-data-pipeline pillar: token counting, quality scoring,
language identification, and document fingerprinting — the text
preprocessing a large-scale training-data pipeline runs before dedup
and filtering. The reference has no text operators (its corpus is file
metadata); these extend SURVEY.md §2 as first-class components over the
driver's ``documents(doc_id, text, lang, source, n_chars)`` table.

Every operator is a pure Catalyst expression program (split / lambda
higher-order functions / window aggregation) — no Python UDFs, so the
whole plan stays inside whole-stage codegen and scales linearly with
the corpus: per-document expressions are map-side only; the only
shuffles are the final aggregations on low-cardinality keys.

Determinism: token math is integer-only where possible; every emitted
double is computed by an identical expression tree in the DuckDB oracle
and rounded, so results hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.landing import land_tables

# Closed-class marker words used for the stopword-ratio quality signal.
# (The synthetic corpus vocabulary contains 'the' and 'a'.)
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

# Per-language profile size for language ID — bounds the broadcast.
PROFILE_TOP_K = 1000

def _tokens():
    # built lazily: Column construction requires an active SparkContext
    return F.split(F.col("text"), " ")


def quality_signal_columns() -> dict:
    """The token signals t2's composite consumes — THE single
    definition every quality consumer (t2 here, ct5/pp1 in curation,
    st7 in streaming) projects, so a rule change cannot silently
    diverge one of them."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return {
        "n_tokens": F.size(_tokens()),
        "n_distinct_tokens": F.expr("size(array_distinct(split(text, ' ')))"),
        "n_stopwords": F.expr(
            f"size(filter(split(text, ' '), t -> t in ({stop_list})))"
        ),
    }


def quality_composite() -> F.Column:
    """t2's composite score (UNROUNDED) over the
    :func:`quality_signal_columns` projections: 0.5*TTR +
    0.3*(1 - stopword_ratio) + 0.2*length_credit(300)."""
    ttr = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens").cast("double")
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_tokens").cast("double")
    length_credit = F.least(F.col("n_tokens").cast("double") / 300.0, F.lit(1.0))
    return 0.5 * ttr + 0.3 * (1.0 - stop_ratio) + 0.2 * length_credit


def token_stats(docs: DataFrame) -> DataFrame:
    """t1: corpus token/char statistics per (source, lang).

    Map-side per-doc expressions + one hash aggregation on a ~100-key
    grouping — at 100 TB the shuffle carries only partial aggregates.
    """
    per_doc = docs.select(
        "source",
        "lang",
        F.size(_tokens()).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_doc_tokens"),
        )
        .orderBy("source", "lang")
    )


def quality_scores(docs: DataFrame, min_score: float = 0.5) -> DataFrame:
    """t2: per-document quality signals + a composite score.

    Signals (all JVM-side lambda expressions over the token array):
      * type-token ratio (vocabulary diversity),
      * stopword ratio,
      * mean token length,
      * length credit (saturating at 300 tokens).
    ``low_quality`` flags docs under ``min_score`` — the filter a
    training-data pipeline applies before ingestion.
    """
    sig = quality_signal_columns()
    d = docs.select(
        "doc_id",
        "lang",
        sig["n_tokens"].alias("n_tokens"),
        # BPE-ish subword proxy: alnum runs, ignoring whitespace/punct —
        # a second tokenizer path (regex, not split)
        F.expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").alias("n_regex_tokens"),
        sig["n_distinct_tokens"].alias("n_distinct_tokens"),
        F.expr("aggregate(split(text, ' '), 0L, (acc, t) -> acc + length(t))").alias(
            "total_token_chars"
        ),
        sig["n_stopwords"].alias("n_stopwords"),
    )
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_tokens").cast("double")
    score = quality_composite()
    return (
        d.withColumn("avg_token_len", F.round(F.col("total_token_chars").cast("double") / F.col("n_tokens").cast("double"), 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality_score", F.round(score, 6))
        .withColumn("low_quality", score < F.lit(min_score))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_regex_tokens",
            "n_distinct_tokens",
            "avg_token_len",
            "stopword_ratio",
            "quality_score",
            "low_quality",
        )
        .orderBy("doc_id")
    )


def language_confusion(docs: DataFrame) -> DataFrame:
    """t3: n-gram (bag-of-words) language identification, evaluated as
    a confusion matrix against the labeled ``lang`` column.

    Classic profile-based language ID: build per-language word-frequency
    profiles from the corpus, score each document against every profile
    (sum of profile counts over the doc's token instances — integer
    arithmetic, fully deterministic), predict the argmax (ties broken by
    language code). Scale shape: the profile is BOUNDED to the top
    PROFILE_TOP_K words per language (natural-text vocabularies are
    unbounded — an unbounded forced broadcast is the r1 J3 bug class),
    so the broadcast is at most #langs × K rows; the doc-side explode is
    map-local; the score aggregation shuffles on (doc_id, lang) then
    reduces to the confusion matrix.
    """
    # tokenize once, checkpoint, then explode: ``words`` feeds both the
    # profile build and the scoring join, and exploding a materialized
    # array avoids re-running split inside the generator loop
    tokenized = docs.select(
        "doc_id", F.col("lang").alias("actual_lang"), _tokens().alias("tokens")
    ).localCheckpoint(eager=False)
    words = tokenized.select("doc_id", "actual_lang", F.explode("tokens").alias("word"))
    counts = (
        words.groupBy(F.col("actual_lang").alias("profile_lang"), "word")
        .agg(F.count("*").alias("profile_count"))
    )
    top_w = Window.partitionBy("profile_lang").orderBy(
        F.desc("profile_count"), "word"
    )
    profile = (
        counts.withColumn("prof_rn", F.row_number().over(top_w))
        .filter(F.col("prof_rn") <= PROFILE_TOP_K)
        .drop("prof_rn")
    )
    scores = (
        words.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "actual_lang", "profile_lang")
        .agg(F.sum("profile_count").cast("long").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "profile_lang")
    predicted = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual_lang", F.col("profile_lang").alias("predicted_lang"))
    )
    return (
        predicted.groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


def fingerprints(docs: DataFrame, k: int = 5) -> DataFrame:
    """t4: per-document fingerprints — exact content hash plus a k-min
    sketch of word 4-gram hashes (winnowing-style selection: the k
    smallest shingle hashes form a robust near-dup fingerprint).

    Shape: hash the 4-gram shingles once, explode, and compute all the
    sketch statistics in ONE codegen'd aggregation (count / min / k-min
    via sorted collect) — the nested-lambda formulation re-evaluates the
    shingle array per output column, interpreted, ~3x slower.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    # split hoisted out of the lambda + checkpoint before explode (a
    # Generate fused with an expensive child projection re-evaluates it
    # inside the generator loop) — see dedup._shingle_sets
    arrays = (
        docs.repartition(par, "doc_id")
        .select("doc_id", F.split("text", " ").alias("words"))
        .select("doc_id", F.expr(H.spark_shingle_hashes_from_words(n=4)).alias("shingles"))
        .localCheckpoint(eager=False)
    )
    exploded = arrays.select("doc_id", F.explode("shingles").alias("h"))
    sketch = exploded.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_shingles"),
        F.min("h").alias("min_shingle_hash"),
        F.md5(
            F.expr(
                f"array_join(transform(slice(array_sort(collect_list(h)), 1, {k}), "
                "x -> cast(x as string)), '-')"
            )
        ).alias("fingerprint"),
    )
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .join(sketch, "doc_id")
        .select("doc_id", "content_hash", "n_shingles", "min_shingle_hash", "fingerprint")
        .orderBy("doc_id")
    )


def quality_retention(docs: DataFrame) -> DataFrame:
    """t5: the quality FILTER materialized — per-source doc/token
    retention after dropping ``low_quality`` docs. The table a pipeline
    reviews before committing a filter threshold (which sources lose
    how much data).

    Shape: t2's per-doc score program (pure map-side expressions) +
    one join on doc_id + one tiny agg on source.
    """
    scored = quality_scores(docs).select("doc_id", "low_quality", "n_tokens")
    kept = ~F.col("low_quality")
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
            F.round(
                F.sum(kept.cast("long")).cast("double") / F.count("*").cast("double"), 6
            ).alias("doc_retention"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias("kept_tokens"),
        )
        .orderBy("source")
    )


def length_percentiles(docs: DataFrame) -> DataFrame:
    """t6: exact length distribution per source — median/p90/p99 of
    document length plus mean, the profile a pipeline inspects before
    choosing truncation and chunk budgets.

    Uses EXACT percentile (linear interpolation, the quantile_cont
    semantics DuckDB uses) rather than percentile_approx: the per-group
    sort is bounded by the largest single source, and the output is
    deterministic so it can be oracle-gated. At 100 TB, swap in
    percentile_approx(1e-4 accuracy) for a single-pass sketch — the
    query shape (one hash agg on source) is unchanged.
    """
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("mean_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("source")
    )


def length_percentiles_approx(docs: DataFrame, accuracy: int = 10000) -> DataFrame:
    """t6a: the 100 TB execution path for t6 — same plan shape (one
    hash agg on source) with ``percentile_approx`` (Greenwald-Khanna
    sketch, single pass, mergeable partials) replacing the exact
    per-group percentile sort. ``accuracy=10000`` bounds rank error at
    1/accuracy = 1e-4 of the group size.

    No SQL oracle (the sketch is implementation-defined); the driver
    records a rows-only check and the pytest tolerance test pins each
    approx percentile within the observed spread of the exact one
    (tests/test_llm_ops.py)."""
    pcts = F.percentile_approx(
        "n_chars", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(accuracy)
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("mean_chars"),
            pcts.alias("pcts"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .select(
            "source",
            "n_docs",
            "mean_chars",
            F.col("pcts")[0].cast("double").alias("p50_chars"),
            F.col("pcts")[1].cast("double").alias("p90_chars"),
            F.col("pcts")[2].cast("double").alias("p99_chars"),
            "max_chars",
        )
        .orderBy("source")
    )


LANGS = ("de", "en", "es", "fr", "zh")


def rollup_token_totals(docs: DataFrame) -> DataFrame:
    """t7: doc/char totals at every grain of (source, lang) at once —
    per pair, per source, and grand total — via ROLLUP.

    One Expand (3 grouping sets) + one hash agg: the multi-grain report
    costs a single scan instead of three queries. ``grouping_id``
    disambiguates subtotal rows from real NULL keys.
    """
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy(F.col("gid"), F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first())
    )


def lang_pivot(docs: DataFrame) -> DataFrame:
    """t8: per-source doc counts pivoted to one column per language.

    The pivot value list is PINNED (not discovered) — at scale a
    discovery pass over the corpus is a full extra scan, and a stable
    output schema is what downstream reports need anyway. Pivot with
    pinned values is a single hash agg with conditional-count
    expressions; no shuffle beyond the agg itself.
    """
    return (
        docs.groupBy("source")
        .pivot("lang", list(LANGS))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(LANGS))
        .select(
            "source", *[F.col(lang).cast("long").alias(f"n_{lang}") for lang in LANGS]
        )
        .orderBy("source")
    )


def cube_token_totals(docs: DataFrame) -> DataFrame:
    """t9: doc/char totals over the full (source, lang) CUBE — all four
    grains (pair, per-source, per-lang, grand total) in one Expand +
    one hash agg. The per-lang grain is the one ROLLUP (t7) cannot
    produce; grouping_id disambiguates subtotal rows from real NULLs.
    """
    return (
        docs.cube("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy(F.col("gid"), F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first())
    )


# --------------------------------------------- t10 distinctive terms

TERMS_TOP_K = 10


def distinctive_terms(docs: DataFrame, k: int = TERMS_TOP_K) -> DataFrame:
    """t10: per-language top-k distinctive vocabulary — term frequency
    weighted by an INTEGER idf surrogate ``(n_langs - df + 1)`` where
    df = number of languages the word appears in. Words shared by every
    language score their raw tf; words unique to one language score
    ``tf * n_langs``. The corpus-profiling table a curation pass reads
    to sanity-check language labels (a "distinctive" English term
    showing up under zh flags mislabeled docs).

    The idf surrogate is deliberately integer, not ``ln(n/df)`` —
    transcendental libm results are not guaranteed identical across
    engines, and a 1-ulp difference can flip a rank; integer scores
    hash-match everywhere and preserve the tf-idf ordering semantics
    for fixed n_langs.

    Scale shape: explode words map-side; one hash agg on (lang, word)
    with map-side partials (the classic word-count shuffle); language
    df is a second agg over the ALREADY-AGGREGATED (lang, word) rollup
    — O(vocab) rows, not O(corpus); n_langs rides along as
    countDistinct over the same rollup via a size-1 broadcast cross
    join. Final top-k per lang is one window over O(vocab) rows.
    """
    from pyspark.sql.window import Window

    words = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("lang", "word").agg(F.count("*").cast("long").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n_langs = tf.select(F.countDistinct("lang").cast("long").alias("n_langs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_langs))
        .withColumn("score", (F.col("tf") * (F.col("n_langs") - F.col("df") + 1)).cast("long"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", F.col("rank").cast("long").alias("rank"), "word", "tf", "df", "score")
        .orderBy("lang", "rank")
    )


# ------------------------------------------------ t11 token rarity

RARE_RANK = 16  # ranks past this (by corpus frequency) count as rare


def token_rarity(docs: DataFrame, rare_rank: int = RARE_RANK) -> DataFrame:
    """t11: per-document token-rarity profile — every token is ranked
    by global corpus frequency (dense_rank, most frequent = 1), and
    each document gets its mean token rank and rare-token fraction.
    The integer-rank stand-in for unigram-LM surprisal: high mean rank
    = unusual vocabulary (jargon, misspellings, noise), near-zero rare
    fraction = all-stopword boilerplate. Deterministic across engines
    (integer ranks; ties broken by word — no ln() / float logprobs).

    Scale shape: one word-count shuffle to the O(vocab) rollup; the
    rank window sorts ONLY the vocab (fine to millions of rows on one
    task; range-partition the sort if vocab outgrows that); the rank
    table joins back to the exploded token stream on word (AQE
    broadcasts the vocab side), then one per-doc agg.
    """
    from pyspark.sql.window import Window

    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").alias("tf"))
    ranked = vocab.withColumn(
        "rank",
        F.dense_rank().over(Window.orderBy(F.desc("tf"), "word")).cast("long"),
    ).select("word", "rank")
    frac = F.sum((F.col("rank") > rare_rank).cast("long")).cast("double") / F.count("*").cast("double")
    return (
        words.join(ranked, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum("rank").cast("double") / F.count("*").cast("double"), 6).alias(
                "mean_token_rank"
            ),
            F.max("rank").cast("long").alias("max_rank"),
            F.sum((F.col("rank") > rare_rank).cast("long")).cast("long").alias("n_rare_tokens"),
            F.round(frac, 6).alias("rare_fraction"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ t12 per-doc top terms

DOC_TERMS_TOP_K = 3


def doc_top_terms(docs: DataFrame, k: int = DOC_TERMS_TOP_K) -> DataFrame:
    """t12: per-DOCUMENT top-k characteristic terms — classic TF-IDF
    keyword extraction with tf × an INTEGER idf surrogate
    ``(1000·n_docs) DIV df`` (integer division — both engines truncate
    identically; a float ``ln(n/df)`` or even float division could
    flip a rank at a representability boundary). Deterministic
    tie-break: word ascending.

    Scale shape: explode words map-side → ONE word-count shuffle on
    (doc_id, word); document frequency is a second agg over the
    already-aggregated rollup (O(vocab) rows, not O(corpus)); n_docs
    rides along as a size-1 broadcast; the top-k window partitions by
    doc_id over the per-doc term rows. The df join is declarative —
    AQE broadcasts the O(vocab) side at small SF and shuffles at
    large.
    """
    from pyspark.sql.window import Window

    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # localCheckpoint: tf feeds BOTH the score join and the df rollup —
    # without it the plan duplicates the corpus explode+agg per branch
    # (two full passes over the token stream at 100 TB).
    tf = (
        words.groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.expr("(1000 * n_docs) DIV df")).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", F.col("rank").cast("long").alias("rank"),
            "word", "tf", "df", "score",
        )
        .orderBy("doc_id", "rank")
    )


# ----------------------------------------------------------------- t13
VOCAB_TOP_K = 16  # corpus head-vocabulary size for coverage scoring


def vocab_coverage(docs: DataFrame, top_k: int = VOCAB_TOP_K) -> DataFrame:
    """t13: per-document head-vocabulary coverage / OOV rate — the
    quality signal that flags boilerplate-heavy or junk docs whose
    tokens fall outside the corpus's own top-``top_k`` vocabulary.

    Two passes, shaped for 100 TB:
      1. the corpus vocabulary: ONE word-count shuffle whose result is
         O(vocab); the total-order rank (count desc, word asc — a
         deterministic tie-break) runs a single-partition window over
         that metadata-sized rollup only (t10's discipline);
      2. scoring: the top-k head is collected (bounded: top_k rows) and
         inlined as a literal IN-list, so the per-doc pass is a pure
         map-side projection over ``split(text)`` — zero joins, zero
         shuffles, no exploded token stream ever moves (t1's stopword
         idiom, with the list corpus-derived instead of fixed).

    The OOV ratio divides two per-row integers (IEEE double division of
    identical operands is exact-rounded, hence engine-stable).
    """
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").cast("long").alias("tf"))
    w = Window.orderBy(F.desc("tf"), "word")
    head = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("word")
        .collect()
    )
    vocab_list = ", ".join(f"'{r['word']}'" for r in head)
    return (
        docs.select(
            "doc_id",
            F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
            F.expr(f"size(filter(split(text, ' '), t -> t in ({vocab_list})))")
            .cast("long")
            .alias("in_vocab_tokens"),
        )
        .withColumn(
            "oov_rate",
            F.round(
                F.lit(1.0) - F.col("in_vocab_tokens") / F.col("n_tokens"), 6
            ),
        )
        .orderBy("doc_id")
    )


SURPRISAL_SHIFT = 20  # probability quantum: p is floored to k / 2^20


def bigram_surprisal(docs: DataFrame, shift: int = SURPRISAL_SHIFT) -> DataFrame:
    """t14: per-document bigram language-model surprisal — the CCNet /
    KenLM-style "perplexity filter" that flags incoherent or
    boilerplate text by how poorly the corpus's own bigram statistics
    predict it (low mean surprisal = repetitive/templated, high =
    noise or vocabulary the corpus has never seen).

    Determinism (the reason this is NOT a float log-prob sum): each
    bigram's add-one probability ``(C12 + 1) / (C1 + V)`` is floored
    to an exact BIGINT quantum ``p_q = (C12+1) * 2^shift // (C1+V)``,
    and its surprise is the INTEGER bit count ``shift - floor(log2(
    p_q))`` computed as ``length(bin(p_q)) - 1`` — no transcendental
    ever runs, so there is no libm last-ulp drift for a float sum to
    amplify; per-doc totals are associative BIGINT sums, and the one
    final division (mean bits per bigram) is a single exact-rounded
    IEEE double op on identical operands in both engines.

    Scale shape for 100 TB (round-12 optimization, guide §2.3/§2.4 —
    measured 6.3 s → see OPTIMIZATION_r12.md):
      * the exploded bigram stream is consumed by EXACTLY ONE hash
        aggregate — per-(doc, bigram) occurrence counts, map-side
        partial combine — and is never re-scanned: the previous shape
        re-derived the tokenize+explode subtree four times (c12, c1,
        V, and the scoring re-join each re-ran the dominant map cost);
      * the model tables all derive from that pre-aggregation's
        O(distinct (doc, bigram)) output: ``c12`` is a second-level
        sum, ``c1`` a third-level sum over c12, and V (distinct
        continuations) a one-row broadcast scalar off c12 — each
        shuffles model-sized rows, never the token stream;
      * scoring joins the per-doc distinct-bigram table (not the raw
        stream) against the counts ON THE AGGREGATION KEYS and weights
        each surprise by its occurrence count — per-doc totals are
        identical to per-occurrence summation, occurrence for
        occurrence;
      * overflow headroom: (C12+1) * 2^20 stays under BIGINT for up to
        ~8.8e12 occurrences of a single bigram — beyond that, raise
        the model's count dtype to DECIMAL(38,0), same plan. The
        product is computed via ``try_multiply`` with an explicit
        ``raise_error`` on NULL, so exceeding the headroom is a loud
        job failure on Spark exactly as it is on DuckDB (which
        promotes/errors), never a silent non-ANSI wraparound.

    Docs with fewer than two tokens have no bigram evidence and drop
    out (the oracle mirrors this); emitting them with NULL surprisal
    is a presentation choice the gate avoids.
    """
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(0, size(split(text, ' ')) - 2), "
                "  i -> struct(split(text, ' ')[i] AS w1, split(text, ' ')[i + 1] AS w2)) "
                "ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    # ONE aggregate over the exploded stream; everything downstream is
    # model-sized. Checkpointed because two consumers read it (the c12
    # derivation and the scoring join) — without the cut each would
    # re-run the tokenize+explode map stage.
    dbg = (
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    c12 = dbg.groupBy("w1", "w2").agg(F.sum("cnt").cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    v = c12.select(F.count_distinct("w2").cast("long").alias("v"))
    surprise = F.expr(
        f"CAST({shift} - (length(bin(greatest(1L, "
        f"ifnull(try_multiply(c12 + 1, {1 << shift}L), "
        f"CAST(raise_error('t14: bigram count overflow past BIGINT headroom; "
        f"raise count dtype to DECIMAL(38,0)') AS BIGINT)) "
        f"DIV (c1 + v)))) - 1) AS BIGINT)"
    )
    scored = (
        dbg.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .join(F.broadcast(v))
        .select("doc_id", "cnt", surprise.alias("surprise_bits"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("surprise_bits")).cast("long").alias("nll_bits"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_bits",
            F.round(F.col("nll_bits") / F.col("n_bigrams"), 6).alias("mean_bits"),
        )
        .orderBy("doc_id")
    )


# BM25 parameters (Robertson/Sparck Jones defaults) and the fixed
# benchmark query. The idf is the Lucene-style ln(1 + (N-df+0.5)/(df+0.5))
# form, which stays positive when a term appears in more than half the
# corpus — true for EVERY term of this synthetic vocabulary, and common
# for real stopword-adjacent query terms.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_TOP_K = 10


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """t15: BM25 ranked retrieval — the lexical scorer every
    retrieval-augmented pipeline runs beside dense ANN (sim1), and the
    missing rank-quality counterpart to t12's raw TF-IDF weights.

    Scale shape for 100 TB:
      * the token stream is consumed by TWO hash aggregates with
        map-side combine: per-doc length (O(docs) output) and per
        (doc, term) tf FILTERED TO THE QUERY TERMS before the shuffle
        (O(docs x |q|) worst case, usually far sparser);
      * df and the corpus scalars (N, total tokens) are broadcast
        one-row/|q|-row sides — no full-corpus join anywhere;
      * scoring is a map-side double expression; the final top-k is
        TakeOrderedAndProject (per-partition heads, no global sort).

    Determinism: the score expression is the IDENTICAL SQL text on
    both engines (same operation order), inputs are exact integers,
    and the output rounds to 6 decimals with a (score, doc_id)
    tie-break — the sim1 float-contract.
    """
    toks = _bm25_tokens(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    scalars = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_tokens"),
    )
    tf = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return _bm25_rank(tf, dl, scalars, k)


def _bm25_tokens(docs: DataFrame) -> DataFrame:
    """THE single tokenizer for the BM25 family (t15/t16/t17) — build
    and serve paths must agree token-for-token."""
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )


def _bm25_rank(tf: DataFrame, dl: DataFrame, scalars: DataFrame, k: int) -> DataFrame:
    """The shared BM25 scoring back half: df from the (already
    query-filtered) tf table, the Lucene-idf score expression, and the
    TakeOrderedAndProject top-k. Identical SQL text to the oracle —
    same operation order, exact integer inputs."""
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").cast("long").alias("df"))
    score_term = (
        f"ln(1 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
        f" * (CAST(tf AS DOUBLE) * {BM25_K1 + 1}) / (CAST(tf AS DOUBLE)"
        f" + {BM25_K1} * ({1 - BM25_B} + ({BM25_B} * CAST(dl AS DOUBLE)"
        f" * CAST(n_docs AS DOUBLE)) / CAST(tot_tokens AS DOUBLE)))"
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(scalars))
        .select("doc_id", F.expr(score_term).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.row_number().over(w).cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    ).orderBy("rank")


def bm25_index_tables(docs: DataFrame) -> dict[str, DataFrame]:
    """t16 build phase: the FULL inverted-index tables a lexical
    serving tier stores once per corpus snapshot —

      * ``postings`` (doc_id, term, tf) over the ENTIRE vocabulary
        (t15 filters to one query's terms before its shuffle; the
        stored index pays the full tokenize/aggregate cost ONCE and
        then serves ARBITRARY queries from narrow re-reads),
      * ``doclen`` (doc_id, dl),
      * ``scalars`` (n_docs, tot_tokens) — one row.

    The caller writes these to parquet; cluster postings by term
    (``repartitionByRange("term")`` + sort-within) so a query's IN
    predicate prunes row groups at serve time — the 100 TB read is
    O(postings of the query terms), never the corpus.
    """
    toks = _bm25_tokens(docs)
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # coalesce: an EMPTY corpus (e.g. a degenerate stream micro-batch)
    # aggregates sum(dl) to NULL — the t17 empty-append rule applies to
    # the build leg too
    scalars = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tot_tokens"),
    )
    return {"postings": postings, "doclen": dl, "scalars": scalars}


def bm25_topk_from_index(
    mats: dict[str, DataFrame],
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """t16 serve phase: answer a BM25 query from the stored index
    tables only — the term filter lands on the clustered postings
    parquet (row-group pruning), df/scalars broadcast, and the raw
    corpus text is never touched.  Produces the IDENTICAL ranking to
    t15's from-scratch pass (hash-gated against the same oracle)."""
    tf = mats["postings"].filter(F.col("term").isin(*terms))
    return _bm25_rank(tf, mats["doclen"], mats["scalars"], k)


def bm25_append(
    mats: dict[str, DataFrame], new_docs: DataFrame
) -> dict[str, DataFrame]:
    """t17 index MAINTENANCE: add a document batch to the stored
    index WITHOUT re-tokenizing the corpus.  BM25's statistics are
    pure counts — postings and doc lengths of disjoint doc sets union,
    and the corpus scalars add — so the merged index is EXACTLY the
    full-corpus index (unlike sim12's frozen-quantizer append, no
    approximation is involved; the oracle is t15's verbatim over the
    union corpus).  Cost: tokenize/aggregate the BATCH only.

    Contract: ``new_docs`` doc_ids are disjoint from the indexed set
    (the dd12/sim12 arrival convention); overlapping ids would need a
    read-modify-write of the touched postings instead.
    """
    toks = _bm25_tokens(new_docs)
    new_dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    new_postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    # coalesce: an EMPTY batch aggregates sum(dl) to NULL, which would
    # silently NULL the merged scalars (and every downstream score);
    # an empty append must be a no-op instead
    batch_scalars = new_dl.agg(
        F.count("*").cast("long").alias("b_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("b_tokens"),
    )
    # 1-row x 1-row cross: the stored scalars absorb the batch counts
    # incrementally — no corpus re-aggregation.
    merged_scalars = mats["scalars"].join(F.broadcast(batch_scalars)).select(
        (F.col("n_docs") + F.col("b_docs")).cast("long").alias("n_docs"),
        (F.col("tot_tokens") + F.col("b_tokens")).cast("long").alias("tot_tokens"),
    )
    return {
        "postings": mats["postings"].unionByName(new_postings),
        "doclen": mats["doclen"].unionByName(new_dl),
        "scalars": merged_scalars,
    }


# term-range partition count for the clustered postings layout; at
# 100 TB this scales with the vocabulary (each range partition should
# hold a few row groups per term so the IN predicate prunes tightly)
BM25_POSTINGS_RANGE_PARTITIONS = 8


def write_bm25_index(
    spark, mats: dict[str, DataFrame], workdir: str
) -> dict[str, DataFrame]:
    """Materialize the index tables to parquet with postings CLUSTERED
    BY TERM (``repartitionByRange`` + sort-within-partitions), so a
    query's IN predicate prunes row groups at serve time.  Shared by
    the t16 build, the t17 append landing, and t18 compaction — one
    layout discipline, one writer.

    The tables are independent (postings/doclen/scalars share no
    checkpoint), so they land in one overlapped :func:`land_tables`
    call: each job's task tail back-fills the cores the others free
    instead of serializing three wall-clocks."""
    return land_tables(spark, _term_clustered(mats, "term", "doc_id"), workdir)


def _term_clustered(mats: dict[str, DataFrame], *sort_keys: str) -> dict[str, DataFrame]:
    """``mats`` with its postings range-partitioned by term and sorted
    within partitions by ``sort_keys``."""
    out = dict(mats)
    if "postings" in out:
        out["postings"] = out["postings"].repartitionByRange(
            BM25_POSTINGS_RANGE_PARTITIONS, "term"
        ).sortWithinPartitions(*sort_keys)
    return out


def bm25_compact(
    spark, mats: dict[str, DataFrame], workdir: str
) -> dict[str, DataFrame]:
    """t18: lexical-index COMPACTION — the w10 discipline applied to
    the postings table.  Each :func:`bm25_append` unions the batch's
    postings alongside the stored files, so after N appends a term's
    postings spread over N file sets and the serve plan's row-group
    pruning degrades toward a full scan.  Compaction rewrites the
    index term-clustered (one logical pass, no tokenization — the
    postings are already counts), restoring the O(query-term postings)
    serve read.  Contents are untouched: compaction is a pure layout
    rewrite, so the served ranking is bit-identical before and after
    (the gate hashes it against t15's oracle verbatim)."""
    return write_bm25_index(spark, mats, workdir)


# the t20 gate phrase: adjacent in ~7% of synthetic docs, with some
# docs carrying two occurrences (so n_occurrences > 1 is exercised)
PHRASE_TERMS = ("table", "part")


def phrase_search(
    docs: DataFrame, phrase: tuple[str, ...] = PHRASE_TERMS
) -> DataFrame:
    """t20: POSITIONAL phrase search — documents where the query terms
    appear consecutively, with occurrence counts and the first match
    position (0-based).  The capability BM25's bag-of-words family
    (t15–t19) cannot express: "table part" as a phrase, not two
    independent terms.

    Plan shape: one positional tokenize (``posexplode`` over the
    family's shared split — token-for-token the t15 tokenizer, with
    positions), then per-term legs each filtered to ONE phrase term
    BEFORE any shuffle and normalized to the occurrence's START
    position (``pos - i``); adjacency is a chain of (doc_id, start)
    EQUI-joins — no windows, no inequality conditions.  All-integer
    arithmetic => full hash gate.

    100 TB shape: each leg reads O(postings of one query term) — from
    a term-clustered positional postings table this is the same
    row-group-pruned read as t16's serve; the adjacency joins key on
    (doc_id, start), so every stage after the leg filters is bounded
    by the RAREST term's postings.  Phrase hits are rarer still, so
    the per-doc aggregate is tiny.  Never O(corpus).
    """
    return _phrase_match(_positional_tokens(docs), phrase)


def _positional_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, p, term): the t15 tokenizer with 0-based positions —
    the single positional tokenize shared by t20's inline pass and
    t21's index build."""
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("p", "term")
    )


def _phrase_match(toks: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """The shared phrase back half over any (doc_id, p, term) source:
    term-filtered legs normalized to the occurrence start, the
    adjacency equi-join chain, and the per-doc rollup."""
    legs = [
        toks.filter(F.col("term") == t).select(
            "doc_id", (F.col("p") - i).cast("long").alias("start")
        )
        for i, t in enumerate(phrase)
    ]
    m = legs[0]
    for leg in legs[1:]:
        m = m.join(leg, ["doc_id", "start"])
    return (
        m.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("start").cast("long").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), "doc_id")
    )


def positional_index_tables(docs: DataFrame) -> dict[str, DataFrame]:
    """t21 build phase: the positional postings table a phrase-serving
    tier stores once per corpus snapshot — (doc_id, p, term) over the
    ENTIRE vocabulary (t20 filters to one phrase's terms before its
    joins; the stored index pays the tokenize cost ONCE and serves
    ARBITRARY phrases from narrow term-pruned re-reads).  Written
    term-clustered via :func:`write_positional_index` so each leg's
    equality predicate prunes row groups at serve time."""
    return {"postings": _positional_tokens(docs)}


def write_positional_index(
    spark, mats: dict[str, DataFrame], workdir: str
) -> dict[str, DataFrame]:
    """Materialize the positional postings term-clustered (the
    write_bm25_index layout discipline — same range-partition count,
    same serve-time row-group pruning argument)."""
    return land_tables(spark, _term_clustered(mats, "term", "doc_id", "p"), workdir)


def positional_upsert(
    mats: dict[str, DataFrame], batch_docs: DataFrame
) -> dict[str, DataFrame]:
    """t22: READ-MODIFY-WRITE maintenance for the positional index —
    t17b's contract on the phrase leg, and the SIMPLEST fold in the
    maintenance family because positions carry no corpus-level
    statistics (no scalars to shrink, no quantizer to freeze): one
    broadcast anti-join displaces the batch ids' stored postings, one
    positional tokenize of the BATCH alone appends the new rows.
    Mixed insert+update batches take one code path; re-upserting the
    same batch is idempotent.  At 100 TB the anti-join is one pass
    over the stored postings; a production table amortizes it with
    tombstones folded at compaction (:func:`write_positional_index`
    — t23's rewrite)."""
    ids = batch_docs.select("doc_id").distinct()
    kept = mats["postings"].join(F.broadcast(ids), "doc_id", "left_anti")
    return {"postings": kept.unionByName(_positional_tokens(batch_docs))}


def phrase_search_from_index(
    mats: dict[str, DataFrame], phrase: tuple[str, ...] = PHRASE_TERMS
) -> DataFrame:
    """t21 serve phase: answer a phrase query from the stored
    positional postings only — each leg's term filter lands on the
    clustered parquet (row-group pruning), the corpus text is never
    touched, and the ranking is IDENTICAL to t20's inline pass
    (hash-gated against the same oracle)."""
    return _phrase_match(mats["postings"], phrase)


def bm25_upsert(
    mats: dict[str, DataFrame], batch_docs: DataFrame
) -> dict[str, DataFrame]:
    """t17b: READ-MODIFY-WRITE index maintenance — the batch may
    UPDATE documents already in the index (the reference's write path
    is update-heavy by design: ``UPDATE files SET checksum…``,
    file_indexer/indexer.py:424-448; an append-only lexical index is
    the first leg a real user hits).

    Three exact steps, never touching the corpus text:
      1. anti-join the batch's doc_ids out of the stored postings and
         doc lengths (the batch id set is small — a broadcast
         anti-join, one pass over the stored tables);
      2. subtract the displaced docs' counts from the corpus scalars,
         reading them off the STORED doclen (pure counts subtract as
         exactly as they add);
      3. run the disjoint-id append (:func:`bm25_append`) — its
         contract now holds by construction.

    Ids in the batch absent from the index degrade to plain inserts,
    so one code path serves mixed insert+update batches.  Upserting
    the same batch twice is idempotent.  At 100 TB the anti-join
    rewrite is one pass over the postings; a production table
    amortizes it with delete tombstones folded at compaction
    (:func:`bm25_compact` — the w10 discipline).
    """
    ids = batch_docs.select("doc_id").distinct()
    removed_scalars = (
        mats["doclen"]
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .agg(
            F.count("*").cast("long").alias("r_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("r_tokens"),
        )
    )
    shrunk_scalars = mats["scalars"].join(F.broadcast(removed_scalars)).select(
        (F.col("n_docs") - F.col("r_docs")).cast("long").alias("n_docs"),
        (F.col("tot_tokens") - F.col("r_tokens")).cast("long").alias("tot_tokens"),
    )
    shrunk = {
        "postings": mats["postings"].join(F.broadcast(ids), "doc_id", "left_anti"),
        "doclen": mats["doclen"].join(F.broadcast(ids), "doc_id", "left_anti"),
        "scalars": shrunk_scalars,
    }
    return bm25_append(shrunk, batch_docs)
