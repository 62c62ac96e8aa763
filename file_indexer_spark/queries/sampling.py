"""Sampling and mixtures (sp, mx): splits, stratified and weighted samples,
epoch shuffles and mixture schedules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.queries.shared import (
    _DD7_PAIRS_CTES,
    _DUCK_DOT,
    _DUCK_NORMS,
    _STOP_SQL,
)
from file_indexer_spark.registry_core import register
from file_indexer_spark.tables import events_df, load_table


@register(
    "sp1_hash_split",
    f"""
    -- Content-stable train/val/test assignment: first hex byte of
    -- md5(doc_id) → [00,10) test, [10,20) val, rest train. Pure
    -- function of the key — identical in any engine (no RNG).
    WITH tagged AS (
        SELECT CASE WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.TEST_UPPER}' THEN 'test'
                    WHEN substring(md5(doc_id::VARCHAR), 1, 2) < '{sp.VAL_UPPER}' THEN 'val'
                    ELSE 'train' END AS split,
               len(string_split(text, ' ')) AS n_tokens,
               source
        FROM documents)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def sp1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.hash_split(load_table(spark, sf_dir, "documents"))


@register(
    "sp2_source_cap",
    """
    -- Cap every source at 20 docs: keep the md5-ordered prefix (a
    -- deterministic unbiased sample), the guard against one crawl
    -- source dominating the training mixture.
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        FROM documents) WHERE rk <= 20
    ORDER BY doc_id
    """,
)
def sp2_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.source_cap_sample(load_table(spark, sf_dir, "documents"), cap=20).orderBy("doc_id")


@register(
    "sp3_sequence_packing",
    f"""
    -- Concat-and-chunk packing plan: 16 independent token streams
    -- (first hex char of md5(doc_id)), each concatenated in doc_id
    -- order and cut into {sp.PACK_BUDGET}-token sequences. Window
    -- cumsum is the whole computation.
    WITH d AS (
        SELECT doc_id,
               substring(md5(doc_id::VARCHAR), 1, 1) AS packer,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, packer, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY packer ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM d)
    SELECT doc_id, packer, n_tokens,
           CAST((cum - n_tokens) // {sp.PACK_BUDGET} AS BIGINT) AS seq_first,
           CAST((cum - 1) // {sp.PACK_BUDGET} AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % {sp.PACK_BUDGET} AS BIGINT) AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
)
def sp3_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP3: the physical layout for GPT-style packed pretraining
    sequences — which fixed-budget sequences each document spans, per
    content-stable packer stream."""
    return sp.sequence_pack(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


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
    return sp.shard_assignment(load_table(spark, sf_dir, "documents"))


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
    return sp.stratified_sample(load_table(spark, sf_dir, "documents"))


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
    return sp.epoch_shuffle(load_table(spark, sf_dir, "documents"), seed=0)


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

    return sp.zorder_layout(events_df(spark, sf_dir))


@register(
    "sp8_weighted_repeat",
    f"""
    -- Deterministic fractional upsampling: floor(w) copies per doc
    -- plus one md5-selected extra for frac(w) of each source's docs
    -- (sp5's hex-threshold idiom). range(1, 1) is the empty list, so
    -- downsampled-and-missed docs vanish exactly like posexplode over
    -- an empty array.
    WITH tagged AS (
        SELECT doc_id, source,
               -- TRY_CAST: Spark's non-ANSI cast nulls a malformed
               -- suffix (the doc then emits nothing); strict CAST
               -- would error the oracle instead of matching that
               0.25::DOUBLE + (TRY_CAST(substring(source, 4, 10) AS BIGINT) % 8)::DOUBLE
                   * 0.45::DOUBLE AS w,
               ('0x' || substring(
                    md5(doc_id::VARCHAR || ':{sp.REPEAT_SALT}'), 1, 4))::BIGINT
                   AS bucket
        FROM documents),
    counted AS (
        SELECT doc_id, source, round(w, 6) AS weight,
               CAST(floor(w) + CASE WHEN bucket <
                        CAST(floor((w - floor(w)) * 65536) AS BIGINT)
                    THEN 1 ELSE 0 END AS INTEGER) AS n_copies
        FROM tagged)
    SELECT doc_id, source, weight, n_copies,
           CAST(unnest(range(1, CAST(n_copies AS BIGINT) + 1)) AS BIGINT) AS copy
    FROM counted
    ORDER BY doc_id, copy
    """,
)
def sp8_weighted_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP8: materialize non-integer mixture weights as physical row
    repeats — pure map-side array_repeat/posexplode generation, zero
    shuffles (the output sort is the gate's determinism contract)."""
    return sp.weighted_repeat(load_table(spark, sf_dir, "documents"))


_SP9_SCORE = """
    0.5 * (CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE))
    + 0.3 * (1.0 - CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
    + 0.2 * least(CAST(n_tokens AS DOUBLE) / 300.0, 1.0)
"""


@register(
    "sp9_budget_select",
    f"""
    -- Exact take-while under a global token budget: the oracle runs
    -- the NAIVE global cumsum the distributed decomposition must
    -- reproduce bit-for-bit.
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
                   AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ({_STOP_SQL}))) AS INTEGER) AS n_stopwords
        FROM documents),
    scored AS (
        SELECT doc_id, n_tokens,
               CAST(floor(round({_SP9_SCORE}, 6) * 1000) AS BIGINT) AS q_milli
        FROM m),
    ranked AS (
        SELECT *, SUM(n_tokens) OVER (ORDER BY q_milli DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
        FROM scored)
    SELECT doc_id, q_milli, n_tokens
    FROM ranked WHERE cum <= {sp.BUDGET_TOKENS}
    ORDER BY q_milli DESC, doc_id
    """,
)
def sp9_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP9: best-docs-under-a-token-budget selection. Exact take-while
    by (quality desc, doc_id) without a corpus-order window: per-score
    rollup + metadata-sized running total + broadcast semi-join for
    fully-kept groups; only the ONE boundary group runs a doc-level
    cumsum."""
    return sp.budget_select(load_table(spark, sf_dir, "documents"))


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

    docs = load_table(spark, sf_dir, "documents")
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
    return sim.prototype_sample(load_table(spark, sf_dir, "embeddings"))


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
    return sp.bin_packing(load_table(spark, sf_dir, "documents"))


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
    return sp.source_interleave(load_table(spark, sf_dir, "documents"))


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
    return cu.mixture_resample(load_table(spark, sf_dir, "documents"))


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
    return cu.temperature_mixture(load_table(spark, sf_dir, "documents"))


_MX3_ALPHA = " ".join(f"WHEN {e} THEN {a}" for e, a in cu.ANNEAL_ALPHAS)
_MX3_EPOCH_W = " ".join(
    f"WHEN {e} THEN " + {
        0: "n",
        1: "sqrt(n) * sqrt(sqrt(n))",
        2: "sqrt(n)",
        3: "sqrt(sqrt(n))",
    }[e]
    for e, _ in cu.ANNEAL_ALPHAS
)


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
    return cu.annealed_mixture(load_table(spark, sf_dir, "documents"))
