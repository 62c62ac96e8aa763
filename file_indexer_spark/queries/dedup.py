"""Near-duplicate detection (dd, sd): MinHash/LSH pairs, clusters, graph
refreshes and semantic dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.landing import gate_workdir, land_tables
from file_indexer_spark.operators import dedup as dd
from file_indexer_spark.operators import graph as gr
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.queries.shared import (
    _DD7_ORACLE,
    _DD7_PAIRS_CTES,
    _DUCK_DOT,
    _DUCK_NORMS,
    _QUALITY_CTE,
    _SIM5_KNN_CTES,
)
from file_indexer_spark.registry_core import ORACLES, register
from file_indexer_spark.tables import load_table


@register(
    "dd1_exact_dedup",
    """
    SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id,
           array_to_string(list_transform(list_sort(list(doc_id)), x -> x::VARCHAR), ',')
               AS doc_ids
    FROM (SELECT doc_id, md5(text) AS content_hash FROM documents) t
    GROUP BY content_hash
    HAVING COUNT(*) > 1
    ORDER BY content_hash
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(load_table(spark, sf_dir, "documents"))


@register(
    "dd2_ngram_jaccard",
    f"""
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
    expl AS (SELECT doc_id, unnest(shingles) AS h FROM sets),
    dfreq AS (SELECT h, COUNT(*) AS df FROM expl GROUP BY h),
    kept AS (SELECT e.doc_id, e.h, d.df FROM expl e JOIN dfreq d USING (h)
             WHERE d.df <= {dd.MAX_DF}),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    pair_gen AS (SELECT doc_id, h FROM kept WHERE df >= 2),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_shingles
        FROM pair_gen a JOIN pair_gen b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, common_shingles, sa.set_size AS n_a, sb.set_size AS n_b,
           round(CAST(common_shingles AS DOUBLE)
                 / CAST(sa.set_size + sb.set_size - common_shingles AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(common_shingles AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - common_shingles AS DOUBLE)
          >= {dd.JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dd2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dd3_minhash_lsh",
    f"""
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
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
        JOIN sets sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
    FROM verified
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {dd.JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dd3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dd4_simhash",
    f"""
    WITH fp AS (SELECT doc_id, {H.duck_simhash(H.duck_shingle_hashes())} AS simhash
                FROM documents),
    bands AS (SELECT doc_id, simhash, j AS band,
                     (simhash >> (j * {H.SIMHASH_BAND_WIDTH}))
                     & {(1 << H.SIMHASH_BAND_WIDTH) - 1} AS band_value
              FROM fp, range(0, {H.SIMHASH_BANDS}) t(j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sh_a, b.simhash AS sh_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.band_value = b.band_value
              AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {H.HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
)
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dd5_embedding_neardup",
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
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, round(cosine, 6) AS cosine
    FROM pairs WHERE cosine >= {sim.NEARDUP_COSINE}
    ORDER BY vec_a, vec_b
    """,
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


# rows-only check (no oracle): MLlib MinHashLSH internals aren't
# replicable in DuckDB; pytest asserts pair parity against dd3.
@register("dd6_minhash_lsh_ml")
def dd6_minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_ml_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dd6_bounds",
    """
    -- dd6's recall contract vs the deterministic expression-LSH twin
    -- dd3: recall >= 0.9 over >= 20 base pairs. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def dd6_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD6-BOUNDS: MLlib MinHashLSH pair recall vs dd3 (both verify
    candidates with the same exact Jaccard, so disagreement beyond the
    floor means the ML path lost planted near-dups). Pair sets reduce
    to one stats row on the executors — nothing collects."""
    from file_indexer_spark.operators import bounds as bd
    from file_indexer_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    return bd.recall_floor(
        dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b"),
        dd.minhash_lsh_ml_pairs(docs).select("doc_a", "doc_b"),
        keys=["doc_a", "doc_b"],
        floor=0.9,
        min_base=20,
        metric="recall_vs_dd3",
    )


@register("dd7_dedup_clusters", _DD7_ORACLE)
def dd7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD7: near-dup pairs → cluster assignment + canonical selection
    (alternating large-star/small-star contraction over the pair
    subgraph, O(log n) rounds; the oracle recomputes components exactly
    via a recursive CTE)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))


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
    return dd.duplicate_spans(load_table(spark, sf_dir, "documents"))


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
    return dd.duplicate_span_extents(load_table(spark, sf_dir, "documents"))


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
    return dd.strip_duplicated_spans(load_table(spark, sf_dir, "documents"))


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
    docs = load_table(spark, sf_dir, "documents")
    return dd.cluster_consolidation(
        docs, dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs))
    )


@register(
    "dd12_incremental_lsh",
    f"""
    -- dd12: incremental near-dup detection. The new batch (the
    -- deterministic doc_id % 10 = 7 slice) probes a MATERIALIZED
    -- corpus band index instead of re-signing the corpus; per-doc
    -- signatures are corpus-independent, so the result must equal
    -- dd3's FULL-corpus pairs restricted to >= 1 new side — which is
    -- exactly what this oracle computes.
    WITH
    {_DD7_PAIRS_CTES}
    SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6)
               AS jaccard,
           CASE WHEN doc_a % 10 = 7 AND doc_b % 10 = 7 THEN 'new_new'
                ELSE 'new_base' END AS pair_class
    FROM verified
    WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
          >= {dd.JACCARD_THRESHOLD}
      AND (doc_a % 10 = 7 OR doc_b % 10 = 7)
    ORDER BY doc_a, doc_b
    """,
)
def dd12_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD12: probe a new document batch against the materialized corpus
    LSH index (parquet round-trip of the band + shingle-set tables —
    the x2 compute-once pattern applied to dd3). Work is
    O(batch x matched buckets), never O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd12")
    return dd.incremental_lsh_pairs(dd.write_lsh_index(spark, base, workdir), new)


# dd13 shares dd7's oracle verbatim: the incremental refresh must equal
# the from-scratch recompute on the full corpus (see the exactness
# argument in incremental_cluster_refresh's docstring).
@register("dd13_incremental_clusters", _DD7_ORACLE)
def dd13_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD13: the full incremental dedup maintenance loop — materialize
    the base corpus's LSH index AND dd7 assignment once, then for the
    ingest batch: probe the index (dd12) and refresh only the touched
    clusters. Output is the whole corpus's assignment table, provably
    identical to dd7 recomputed from scratch."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    base = docs.filter(F.col("doc_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd13")
    mats = dd.write_lsh_index(spark, base, workdir)
    # round-12 optimization: the base pair list (and hence the stored
    # assignment) derives from the just-materialized band/shingle
    # tables instead of re-running the signing machinery over the
    # corpus text a second time — row-for-row the same pairs
    assignments = dd.dedup_clusters(base, dd.lsh_pairs_from_tables(mats))
    mats |= land_tables(spark, {"assignments": assignments}, workdir)
    new_pairs = dd.incremental_lsh_pairs(mats, new)
    return dd.incremental_cluster_refresh(mats["assignments"], new_pairs, new)


@register(
    "dd14_containment_pairs",
    f"""
    -- Directed near-containment: |A∩B| / |A| >= t flags A as contained
    -- in B (the subset-duplication rule symmetric Jaccard misses).
    -- Same df-pruned inverted-index overlap as dd2; each unordered
    -- overlap row fans into its <= 2 qualifying directions.
    WITH sets AS (SELECT doc_id, {H.duck_shingle_hashes()} AS shingles FROM documents),
    expl AS (SELECT doc_id, unnest(shingles) AS h FROM sets),
    dfreq AS (SELECT h, COUNT(*) AS df FROM expl GROUP BY h),
    kept AS (SELECT e.doc_id, e.h, d.df FROM expl e JOIN dfreq d USING (h)
             WHERE d.df <= {dd.MAX_DF}),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
    pair_gen AS (SELECT doc_id, h FROM kept WHERE df >= 2),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common_shingles
        FROM pair_gen a JOIN pair_gen b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    overlap AS (
        SELECT doc_a, doc_b, common_shingles,
               sa.set_size AS n_a, sb.set_size AS n_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b),
    directed AS (
        SELECT doc_a AS contained, doc_b AS container, common_shingles,
               n_a AS n_contained, n_b AS n_container FROM overlap
        UNION ALL
        SELECT doc_b, doc_a, common_shingles, n_b, n_a FROM overlap)
    SELECT contained, container, common_shingles,
           CAST(n_contained AS BIGINT) AS n_contained,
           CAST(n_container AS BIGINT) AS n_container,
           round(CAST(common_shingles AS DOUBLE) / CAST(n_contained AS DOUBLE), 6)
               AS containment
    FROM directed
    WHERE CAST(common_shingles AS DOUBLE) / CAST(n_contained AS DOUBLE)
          >= {dd.CONTAIN_THRESHOLD}
    ORDER BY contained, container
    """,
)
def dd14_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD14: directed near-containment dedup (quote/wrapper-page rule).
    dd2's single posting-list shuffle; the direction fan-out is a
    map-side 2-element explode."""
    return dd.containment_pairs(load_table(spark, sf_dir, "documents"))


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

    docs = load_table(spark, sf_dir, "documents")
    return dd.quality_keeper(docs, dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs)))


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

    docs = load_table(spark, sf_dir, "documents")
    return dd.split_contamination(docs, dd.minhash_lsh_pairs(docs))


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

    return dd.minhash_calibration(load_table(spark, sf_dir, "documents"))


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
    docs = load_table(spark, sf_dir, "documents")
    return gr.pagerank(docs, dd.minhash_lsh_pairs(docs))


@register("dd19_incremental_pagerank", _DD18_SQL)
def dd19_incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD19: the full incremental CENTRALITY maintenance loop —
    materialize the base corpus's LSH index, dd7 assignment, dd3 pair
    list, and dd18 rank table once; then for the ingest batch: probe
    the index (dd12), refresh the touched clusters (dd13), and re-run
    the vertex program over the AFFECTED COMPONENTS only. Output is
    the whole corpus's rank table, provably identical to dd18
    recomputed from scratch — gated by dd18's oracle VERBATIM."""
    docs = load_table(spark, sf_dir, "documents")
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


def _ppr_round(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT n.vec_id,
               CAST((CASE WHEN n.vec_id < {gr.PPR_SEED_MAX}
                          THEN {gr.BASE_E6} ELSE 0 END)
                    + (({gr.DAMPING_E2} *
                        COALESCE(CAST(SUM((p.rank_e6 * ew.w_e6) // ew.w_tot)
                                      AS BIGINT), 0)) // 100) AS BIGINT)
                   AS rank_e6
        FROM nodes n
        LEFT JOIN ew ON ew.dst = n.vec_id
        LEFT JOIN {prev} p ON p.vec_id = ew.src
        GROUP BY n.vec_id)"""


_PPR_ROUNDS = ",".join(
    _ppr_round(f"p{i}", f"p{i + 1}") for i in range(gr.ITERATIONS)
)


@register(
    "dd20_personalized_pagerank",
    f"""
    -- Weighted personalized PageRank over sim5's kNN graph: teleport
    -- mass only to the seed slice (vec_id < {gr.PPR_SEED_MAX}), inflow
    -- proportional to positive cosine micro-unit weights, all BIGINT
    -- integer arithmetic, {gr.ITERATIONS} unrolled rounds; vectors
    -- unreached by the walk hold rank 0.
    WITH {_SIM5_KNN_CTES},
    ew1 AS (
        SELECT vec_id AS src, neighbor_id AS dst,
               CAST(ROUND(cosine * 1000000) AS BIGINT) AS w_e6
        FROM knn
        WHERE CAST(ROUND(cosine * 1000000) AS BIGINT) > 0),
    wt AS (SELECT src, CAST(SUM(w_e6) AS BIGINT) AS w_tot
           FROM ew1 GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w_e6, w.w_tot
           FROM ew1 e JOIN wt w USING (src)),
    nodes AS (
        SELECT DISTINCT vec_id FROM (
            SELECT src AS vec_id FROM ew
            UNION SELECT dst FROM ew
            UNION SELECT vec_id FROM embeddings
                  WHERE vec_id < {gr.PPR_SEED_MAX}) t),
    p0 AS (
        SELECT vec_id,
               CAST(CASE WHEN vec_id < {gr.PPR_SEED_MAX}
                         THEN {gr.R0_E6} ELSE 0 END AS BIGINT) AS rank_e6
        FROM nodes),
    {_PPR_ROUNDS}
    SELECT e.vec_id, COALESCE(p.rank_e6, 0) AS rank_e6
    FROM embeddings e
    LEFT JOIN p{gr.ITERATIONS} p USING (vec_id)
    ORDER BY e.vec_id
    """,
)
def dd20_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD20: random-walk-with-restart proximity to the anchor slice
    over sim5's weighted kNN graph — seed expansion by graph proximity.
    Iteration state is O(kNN subgraph + seeds); the corpus joins in
    once at the end; per-round localCheckpoint (dd18's contract)."""
    from file_indexer_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    return gr.personalized_pagerank(sim.knn_join(emb, ordered=False), emb.select("vec_id"))


# dd21 shares dd20's oracle VERBATIM: the refresh starts from a stored
# rank table walked with the OLD seed set (vec_id < PPR_SEED_MAX_OLD),
# applies the seed edit by re-walking ONLY the affected weakly-
# connected components, and must land exactly where dd20 lands from
# scratch with the new seeds — a stale passthrough row or an
# under-closed component set hash-mismatches.
@register("dd21_ppr_refresh", ORACLES["dd20_personalized_pagerank"])
def dd21_ppr_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD21: incremental personalized-PageRank refresh under a
    SEED-SET EDIT (anchor set grows PPR_SEED_MAX_OLD -> PPR_SEED_MAX)
    — the dd19 affected-components pattern on the personalized walk.
    The stored rank table (materialized to parquet, the compute-once
    discipline) passes through untouched outside the components that
    contain an edited seed; only those components re-walk, with the
    shared Kiveris star-contraction labeling bounding the re-walk to
    O(affected members)."""
    from file_indexer_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id")
    knn = sim.knn_join(emb, ordered=False).localCheckpoint(eager=False)
    workdir, _ = gate_workdir("fis_dd21")
    stored = land_tables(
        spark,
        {"ranks": gr.personalized_pagerank(knn, corpus, seed_max=gr.PPR_SEED_MAX_OLD)},
        workdir,
    )
    return gr.personalized_pagerank_refresh(knn, corpus, stored["ranks"])


def _lp_round(i: int) -> str:
    return f"""
    votes{i} AS (
        SELECT e.dst AS vec_id, p.lbl,
               CAST(SUM(e.w_e6) AS BIGINT) AS wsum
        FROM ew e JOIN lp{i} p ON p.vec_id = e.src
        GROUP BY e.dst, p.lbl),
    best{i} AS (
        SELECT vec_id, lbl FROM (
            SELECT vec_id, lbl,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY wsum DESC, lbl ASC) AS rn
            FROM votes{i}) WHERE rn = 1),
    lp{i + 1} AS (
        SELECT p.vec_id, COALESCE(b.lbl, p.lbl) AS lbl
        FROM lp{i} p LEFT JOIN best{i} b ON b.vec_id = p.vec_id)"""


_LP_ROUNDS = ",".join(_lp_round(i) for i in range(gr.LP_ITERATIONS))


@register(
    "dd22_label_propagation",
    f"""
    -- Weighted label propagation over sim5's kNN graph: every vertex
    -- starts as its own label; each synchronous round adopts the
    -- label with the largest incoming positive-weight sum (BIGINT
    -- micro-units), ties broken by MIN label, no-inflow vertices keep
    -- their label; {gr.LP_ITERATIONS} unrolled rounds; isolated
    -- corpus vectors are singleton communities.
    WITH {_SIM5_KNN_CTES},
    ew AS (
        SELECT vec_id AS src, neighbor_id AS dst,
               CAST(ROUND(cosine * 1000000) AS BIGINT) AS w_e6
        FROM knn
        WHERE CAST(ROUND(cosine * 1000000) AS BIGINT) > 0),
    nodes AS (
        SELECT DISTINCT vec_id FROM (
            SELECT src AS vec_id FROM ew UNION SELECT dst FROM ew) t),
    lp0 AS (SELECT vec_id, vec_id AS lbl FROM nodes),
    {_LP_ROUNDS}
    SELECT e.vec_id,
           CAST(COALESCE(l.lbl, e.vec_id) AS BIGINT) AS community
    FROM embeddings e
    LEFT JOIN lp{gr.LP_ITERATIONS} l USING (vec_id)
    ORDER BY e.vec_id
    """,
)
def dd22_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD22: weighted community detection over sim5's kNN graph — the
    grouping primitive completing the graph family (dd18 global
    centrality, dd20 seed proximity, dd22 unsupervised communities).
    Synchronous min-tie-break majority voting on BIGINT weight sums,
    fixed unrolled rounds; per-round localCheckpoint; one
    edges-partitioned join + one (dst, label) aggregate per round."""
    from file_indexer_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    return gr.label_propagation(sim.knn_join(emb, ordered=False), emb.select("vec_id"))


# dd23 shares dd22's oracle VERBATIM: the refresh starts from a stored
# community table propagated over the BASE corpus graph (vec_id % 10
# != 7 — the dd12/drift batch convention), folds in the batch by
# re-propagating ONLY the union-graph components containing a changed
# edge endpoint, and must land exactly where dd22 lands from scratch
# on the full corpus — a stale passthrough row or an under-closed
# component set hash-mismatches.
@register("dd23_lp_refresh", ORACLES["dd22_label_propagation"])
def dd23_lp_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD23: incremental community refresh under a BATCH INGEST — the
    dd19/dd21 affected-components pattern on label propagation,
    completing the incremental leg of the graph family. The stored
    community table and the base edge table (the compute-once
    discipline) pass through untouched outside the union-graph
    components whose edge set the batch changed (new vectors' links
    plus displaced top-k rows of existing vectors); only those
    components re-propagate."""
    from file_indexer_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    base_emb = emb.filter(F.col("vec_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_dd23")
    # round-13 optimization (guide §2.3/§5): the gate builds the kNN
    # graph twice (base for the stored tables, union for the refresh);
    # knn_join_two_sets scores the shared within-list pairs ONCE and
    # tags side membership — row-for-row equal to the two standalone
    # knn_join calls (see its docstring), pinned by the gate's
    # full-hash oracle
    knn_base, knn_union = sim.knn_join_two_sets(emb, base_emb)
    knn_base = knn_base.localCheckpoint(eager=False)
    knn_union = knn_union.localCheckpoint(eager=False)
    # edges and labels share knn_base's checkpoint: one landing each
    stored = land_tables(spark, {"edges": gr.lp_edges(knn_base)}, workdir)
    stored |= land_tables(
        spark, {"labels": gr.label_propagation(knn_base, base_emb.select("vec_id"))}, workdir
    )
    return gr.label_propagation_refresh(
        knn_union, emb.select("vec_id"), stored["edges"], stored["labels"]
    )


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
    return sim.semantic_dedup(load_table(spark, sf_dir, "embeddings"))
