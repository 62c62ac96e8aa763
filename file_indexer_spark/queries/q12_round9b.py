"""Registered queries — round 9 (cont.): IVF radius search (sim14),
deterministic fractional upsampling (sp8), head-vocabulary coverage
scoring (t13), the FilesTable change feed (w14), directed containment
dedup (dd14), event debounce (e17) and its streaming rendition (st14),
the zero-copy snapshot clone (w13), and CDF-driven materialized-view
maintenance (w15).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.operators import text as tx
from file_indexer_spark.queries.q04_dedup_sim import _DUCK_DOT, _DUCK_NORMS
from file_indexer_spark.registry_core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _files,
    _table,
    register,
)
from file_indexer_spark.session import tune_session  # noqa: F401


@register(
    "sim14_range_search",
    f"""
    -- IVF RADIUS search: sim2's probed-list restriction with a cosine
    -- floor instead of a per-query top-k — the oracle replicates the
    -- nprobe pruning exactly, so the hash gate is bit-for-bit.
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
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
          FROM c WHERE vec_id < {sim.N_QUERIES}),
    probes AS (
        SELECT query_id, q_emb, q_norm, centroid_id FROM (
            SELECT q.query_id, q.q_emb, q.q_norm, cents.centroid_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                        {_DUCK_DOT.format(a="q.q_emb", b="cents.c_emb")}
                        / (q.q_norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM q, cents) t
        WHERE rn <= {sim.NPROBE}),
    scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               {_DUCK_DOT.format(a="p.q_emb", b="c.embedding")} / (p.q_norm * c.norm)
                   AS cosine
        FROM probes p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN c ON c.vec_id = a.vec_id
        WHERE c.vec_id != p.query_id)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine
    FROM scored WHERE cosine >= {sim.RANGE_COSINE}::DOUBLE
    ORDER BY query_id, neighbor_id
    """,
)
def sim14_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM14: radius (range) search — all neighbors with cosine >=
    threshold over the probed IVF lists. Same probe plan as sim2; the
    threshold cut replaces the per-query window, so the output stage is
    map-side (FAISS range_search semantics)."""
    return sim.ivf_range_search(_table(spark, sf_dir, "embeddings"))


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
    return sp.weighted_repeat(_table(spark, sf_dir, "documents"))


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
    return tx.vocab_coverage(_table(spark, sf_dir, "documents"))


from file_indexer_spark.tables import files_df, with_files_cte  # noqa: E402


@register(
    "w14_change_feed",
    with_files_cte(
        """
    , upd AS (SELECT * FROM files WHERE file_size % 7 = 3),
    del AS (SELECT * FROM files WHERE file_size % 7 = 5),
    ins AS (SELECT path, filename || '.cdf' AS filename, 'NEW' AS checksum,
                   modification_datetime, file_size, indexed_at
            FROM files WHERE file_size % 7 = 1)
    SELECT * FROM (
        SELECT 'insert' AS change_type, path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM ins
        UNION ALL
        SELECT 'delete', path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM del
        UNION ALL
        SELECT 'update_preimage', path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM upd
        UNION ALL
        SELECT 'update_postimage', path, filename, 'CDF2',
               modification_datetime, file_size, indexed_at FROM upd)
    ORDER BY path, filename, change_type
    """
    ),
)
def w14_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: CHANGE DATA FEED gate — commit the files derivation as
    generation 1 of a bucketed history-keeping FilesTable, apply one
    mixed MERGE batch (value updates + brand-new PKs + NO-OP rewrites
    of unchanged rows) and one delete batch, then return
    ``changes(1, 3)``. The oracle derives the expected feed from the
    files CTE alone, so a missed insert, a phantom row from a no-op
    rewrite, a wrong pre/post image, or a delete surfacing new-side
    values all hash-mismatch. The diff itself reads only the buckets
    whose manifest entries moved (pytest-pinned via inputFiles)."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w14")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    upd = orig.filter(F.col("file_size") % 7 == 3).withColumn(
        "checksum", F.lit("CDF2")
    )
    noop = orig.filter(F.col("file_size") % 7 == 6)
    ins = (
        orig.filter(F.col("file_size") % 7 == 1)
        .withColumn("filename", F.concat(F.col("filename"), F.lit(".cdf")))
        .withColumn("checksum", F.lit("NEW"))
    )
    t.upsert(upd.unionByName(noop).unionByName(ins))
    t.delete(orig.filter(F.col("file_size") % 7 == 5).select("path", "filename"))
    return t.changes(1, 3)


from file_indexer_spark.functions import hashing as H  # noqa: E402
from file_indexer_spark.operators import dedup as dd  # noqa: E402
from file_indexer_spark.operators import events as ev  # noqa: E402


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
    return dd.containment_pairs(_table(spark, sf_dir, "documents"))


@register(
    "e17_event_debounce",
    f"""
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
    """,
)
def e17_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17: per-(user, type) burst collapse — e1's gaps-and-islands
    program with a first-event reduction; one shuffle, no joins."""
    return ev.debounce_events(_table(spark, sf_dir, "events"))


@register(
    "w13_zero_copy_clone",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w13_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: zero-copy snapshot clone gate — commit the files derivation
    to a bucketed source table, hardlink-CLONE it, then MUTATE the
    source (upsert + delete, whose no-history commits inline-GC the
    replaced dirs — the hostile case for a shallow clone). The gate
    returns the CLONE's read; the oracle is the unmutated files
    derivation, so any leakage of source mutations into the clone, any
    shared-file rewrite, or any GC reclaiming a hardlinked inode
    hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w13")

    t = FilesTable(spark, os.path.join(base, "src"), buckets=16)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    clone = t.clone_to(os.path.join(base, "clone"))
    one_key = orig.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    return clone.read().orderBy("path", "filename")


from file_indexer_spark.registry_core import _events, _land_arrivals  # noqa: E402
from file_indexer_spark.tables import events_df  # noqa: E402, F811


# st14 shares e17's oracle VERBATIM: after draining a chronological
# two-arrival stream through the stateful debounce, the changelog's
# final state must equal the batch operator over the whole corpus —
# including bursts that SPAN the arrival boundary, which greedy
# per-batch dedup would split or re-key.
@register("st14_streaming_debounce", ORACLES["e17_event_debounce"])
def st14_streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14: e17 as a continuous stateful stream (applyInPandasWithState,
    O(user×type keys) state, update-mode changelog). The gate reduces
    the changelog to its final state (last emission per burst) and
    hash-matches e17's own DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, _ = gate_workdir("fis_st14")
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
    sw.run_update_mode_to_parquet(ss.debounce_stream(stream), out)
    return (
        sw.last_emission(spark, out, ["user_id", "event_type", "burst_seq"])
        .select(
            "user_id", "event_type", "burst_seq", "kept_event_id",
            "kept_ts", "n_suppressed", "span_us",
        )
        .orderBy("user_id", "event_type", "burst_seq")
    )


from file_indexer_spark.operators import stats as st_ops  # noqa: E402


@register(
    "w15_cdf_view_maintenance",
    with_files_cte(
        """
    , mutated AS (
        SELECT file_size FROM files WHERE file_size % 7 NOT IN (3, 5)
        UNION ALL
        SELECT file_size + 100000 FROM files WHERE file_size % 7 = 3
        UNION ALL
        SELECT file_size + 7777 FROM files WHERE file_size % 7 = 1)
    SELECT size_range, sort_order, COUNT(*) AS count,
           CAST(SUM(file_size) AS BIGINT) AS total_size
    FROM (
        SELECT file_size,
               CASE WHEN file_size = 0 THEN '0 bytes'
                    WHEN file_size < 1024 THEN '< 1KB'
                    WHEN file_size < 1048576 THEN '1KB - 1MB'
                    WHEN file_size < 1073741824 THEN '1MB - 1GB'
                    ELSE '> 1GB' END AS size_range,
               CASE WHEN file_size = 0 THEN 1
                    WHEN file_size < 1024 THEN 2
                    WHEN file_size < 1048576 THEN 3
                    WHEN file_size < 1073741824 THEN 4
                    ELSE 5 END AS sort_order
        FROM mutated
    ) sub
    GROUP BY size_range, sort_order
    ORDER BY sort_order
    """
    ),
)
def w15_cdf_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: CDF-driven MATERIALIZED-VIEW maintenance — the composition
    the change feed exists for. The a9 size histogram is computed once
    at generation 1, the table then takes a mixed MERGE (band-moving
    size updates + inserts + NO-OP rewrites) and a delete, and the view
    is refreshed FROM ``changes(1, 3)`` alone — never rescanning the
    table. The oracle recomputes the histogram over the mutated set
    from scratch in SQL, so a missed delta, a wrong sign, a no-op row
    leaking into the feed, or a band that failed to empty all
    hash-mismatch."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w15")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    upd = orig.filter(F.col("file_size") % 7 == 3).withColumn(
        "file_size", F.col("file_size") + 100000
    )
    noop = orig.filter(F.col("file_size") % 7 == 6)
    ins = (
        orig.filter(F.col("file_size") % 7 == 1)
        .withColumn("filename", F.concat(F.col("filename"), F.lit(".cdf")))
        .withColumn("file_size", F.col("file_size") + 7777)
    )
    t.upsert(upd.unionByName(noop).unionByName(ins))
    t.delete(orig.filter(F.col("file_size") % 7 == 5).select("path", "filename"))
    view_at_1 = st_ops.size_histogram(t.read_at(1))
    return st_ops.incremental_histogram_refresh(view_at_1, t.changes(1, 3))


from file_indexer_spark.queries.q02_text import _STOP_SQL  # noqa: E402

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
    return sp.budget_select(_table(spark, sf_dir, "documents"))


@register(
    "w16_restore",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w16_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: RESTORE gate — commit the files derivation, mutate the live
    table (upsert + delete), then ``restore(1)`` and return the LIVE
    read. The oracle is the unmutated derivation, so a restore that
    missed the mutations, replayed the wrong generation, or moved any
    data (the commit is metadata-only: it re-references generation 1's
    immutable dirs verbatim) hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w16")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    one_key = orig.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    t.restore(1)
    return t.read().orderBy("path", "filename")


@register(
    "w17_orc_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w17_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: ORC source/sink — the files table roundtrips parquet -> ORC
    -> DataFrame (Spark's second built-in columnar format; the engine
    answer for lakes standardized on ORC/Hive). The oracle is the plain
    files derivation, so any type mapping or timestamp-precision drift
    through the ORC writer/reader hash-mismatches."""
    tune_session(spark)
    base, _ = gate_workdir("fis_w17")
    files = files_df(spark, sf_dir)
    files.write.mode("overwrite").orc(base)
    back = spark.read.schema(files.schema).orc(base)
    return back.orderBy("path", "filename")


@register(
    "w18_csv_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w18_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: CSV source/sink — the files table roundtrips parquet -> CSV
    -> DataFrame with the lossless settings CSV needs spelled out:
    microsecond NTZ timestamp format on BOTH sides, and an explicit
    nullValue sentinel distinct from emptyValue so NULL checksums
    survive (CSV's classic silent-corruption trap: by default an empty
    field reads back as null OR "" depending on writer/reader pairing).
    The oracle is the plain files derivation."""
    tune_session(spark)
    base, _ = gate_workdir("fis_w18")
    files = files_df(spark, sf_dir)
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    (
        files.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("nullValue", "\\N")
        .csv(base)
    )
    back = (
        spark.read.schema(files.schema)
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("nullValue", "\\N")
        .csv(base)
    )
    return back.orderBy("path", "filename")
