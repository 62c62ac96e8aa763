"""Registered queries — PQ family (sim9/sim10), w10, x1, st12 (mechanical split of registry.py, round 8).

Definitions are verbatim from the original registry; shared DuckDB SQL
fragments are imported from the part that defines them (parts load in
order via the registry facade)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from file_indexer_spark.functions import hashing as H  # noqa: F401
from file_indexer_spark.landing import gate_workdir, land_tables
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
from file_indexer_spark.queries.q05_media_write_stream import _M6C_CTES  # noqa: F401
from file_indexer_spark.queries.q06_ddmat_sampling import _DD7_PAIRS_CTES  # noqa: F401
from file_indexer_spark.queries.q08_round4plus import _M7_CTES, _M7_SAMPLE  # noqa: F401

_PQ_DIM = sim.EMB_DIM // sim.PQ_SUBSPACES
# per-(row, subspace) slice-L2 against codebook column c_emb, 1-based
# DuckDB slicing, strict left-to-right fold (the sim9 oracle's shape)
_DUCK_SLICE_D2 = (
    f"list_reduce(list_transform(range({_PQ_DIM} * {{m}} + 1, "
    f"{_PQ_DIM} * {{m}} + {_PQ_DIM + 1}), "
    "i -> ({v}[i]::DOUBLE - {c}[i]::DOUBLE)"
    " * ({v}[i]::DOUBLE - {c}[i]::DOUBLE)), (x, y) -> x + y)"
)


def _ivfpq_oracle(quantizer_filter: str) -> str:
    """The IVF-PQ ADC search oracle, parameterized by WHICH vectors
    define the quantizer (centroid label-reps + codebook seeds):
    ``TRUE`` = the whole corpus (sim10/sim11); a slice predicate = the
    frozen-quantizer index-append semantics (sim12). The searched
    corpus and the query set are always the full table."""
    return f"""
    -- IVF-PQ ADC search: sim2's inverted-list probing composed with
    -- sim9's product-quantized codes. Candidates come only from each
    -- query's nprobe nearest centroid lists; their distances are M
    -- table lookups into the query's precomputed (m, code)-ordered ADC
    -- table, summed by the strict m-ordered fold. Every stage is the
    -- already-hash-gated sim2/sim9 arithmetic => full hash gate on the
    -- composed index. Quantizer source: {quantizer_filter}.
    WITH c AS ({_DUCK_NORMS}),
    cents AS (SELECT c.vec_id AS centroid_id, c.embedding AS c_emb, c.norm AS c_norm
              FROM c
              JOIN (SELECT MIN(vec_id) AS vec_id FROM embeddings
                    WHERE {quantizer_filter} GROUP BY label) reps
                ON c.vec_id = reps.vec_id),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, cents.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                        {_DUCK_DOT.format(a="v.embedding", b="cents.c_emb")}
                        / (v.norm * cents.c_norm) DESC, cents.centroid_id) AS rn
            FROM c v, cents) t
        WHERE rn = 1),
    seeds AS (
        SELECT embedding AS c_emb,
               row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1
                   AS code
        FROM embeddings WHERE {quantizer_filter}
        ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {sim.PQ_CODEWORDS}),
    best AS (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM (
            SELECT v.vec_id, m.m, s.code,
                   {_DUCK_SLICE_D2.format(m="m.m", v="v.embedding", c="s.c_emb")} AS d2
            FROM embeddings v, range(0, {sim.PQ_SUBSPACES}) m(m), seeds s)),
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


@register("sim10_ivfpq_topk", _ivfpq_oracle("TRUE"))
def sim10_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM10: IVF-PQ — inverted-list pruning (sim2) over product-
    quantized codes (sim9) scanned by asymmetric distance computation:
    the FAISS-shaped index a 100 TB vector corpus actually serves.
    Corpus codes never reshuffle; probes + ADC tables broadcast."""
    return sim.ivfpq_topk(_table(spark, sf_dir, "embeddings"))


@register(
    "w10_compaction_roundtrip",
    with_files_cte(
        """
    -- OPTIMIZE gate: after fragmented commits + compact(1), content is
    -- byte-identical to the mutation algebra AND every live data dir
    -- holds exactly one parquet file (the engine measures the real
    -- max; the oracle pins the literal 1 — a compaction that skips a
    -- dir or loses a row hash-mismatches).
    SELECT path, filename,
           CASE WHEN file_size % 3 = 0 THEN 'C2' ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at,
           CAST(1 AS BIGINT) AS max_files_per_dir
    FROM files ORDER BY path, filename
    """
    ),
)
def w10_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: the small-file maintenance gate — fragment a bucketed table
    (16-task staging writes), mutate it, OPTIMIZE to one file per
    bucket dir, and hash-gate BOTH the surviving content and the
    physical file-count contract. The fixture asserts it actually
    fragmented first (a pre-compacted table would make the gate
    vacuous — the h9 lesson)."""
    import glob
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    tune_session(spark)
    base, _ = gate_workdir("fis_w10")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=8)
    original = files_df(spark, sf_dir)
    t.overwrite(original.repartition(16))
    t.upsert(
        original.filter(F.col("file_size") % 3 == 0)
        .withColumn("checksum", F.lit("C2"))
        .repartition(16)
    )

    def files_per_dir() -> list[int]:
        m = t._load_manifest()
        return [
            len(glob.glob(os.path.join(t.location, rel, "*.parquet")))
            for rel in m["entries"].values()
        ]

    if max(files_per_dir()) <= 1:
        raise RuntimeError("w10 fixture failed to fragment — gate would be vacuous")
    t.compact(files_per_bucket=1)
    audit = max(files_per_dir())
    return (
        t.read()
        .withColumn("max_files_per_dir", F.lit(audit).cast("long"))
        .orderBy("path", "filename")
    )


# ------------------------------------- cross-modal duplicates (round 8)

from file_indexer_spark.operators import crossmodal as xm  # noqa: E402


@register(
    "x1_cross_modal_dup_assets",
    f"""
    -- x1: duplicate-asset groups across ALL modalities in one J2-shaped
    -- table with A13 wasted-unit accounting per group. Each branch is
    -- the already-hash-gated derivation of its modality's fingerprint
    -- (dd7 components / m6c ahash64 / m7c envelope / m8b frame md5s),
    -- grouped and unioned; all accounting integer-exact.
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
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    text_groups AS (
        SELECT 'text' AS modality, cluster_id::VARCHAR AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               cluster_id AS canonical_asset_id,
               'chars' AS unit,
               CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)
                    AS BIGINT) AS wasted_units
        FROM assigned GROUP BY cluster_id HAVING COUNT(*) >= 2),
    {_M6C_CTES},
    image_groups AS (
        SELECT 'image' AS modality, ahash64 AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(media_id) AS canonical_asset_id,
               'pixels' AS unit,
               CAST(SUM(width * height)
                    - min_by(width * height, media_id) AS BIGINT)
                   AS wasted_units
        FROM fp GROUP BY ahash64 HAVING COUNT(*) >= 2),
    a_base AS (
        SELECT doc_id, text, length(text) AS L, 4 + doc_id % 4 AS nf
        FROM documents
        WHERE doc_id % 9 <> 0 AND doc_id % 13 <> 0 AND doc_id % 7 <> 0),
    a_env AS (
        SELECT doc_id, nf,
               array_to_string(list_transform(energies, E ->
                   CAST((CASE WHEN E = 0 THEN 0
                              ELSE length(bin(E)) END) AS VARCHAR)), '-')
                   AS envelope
        FROM (
            SELECT doc_id, nf,
                   list_transform(range(0, nf), f ->
                       CAST(list_sum(list_transform(
                           range(160 * f, 160 * f + 160),
                           i -> CAST(({_M7_SAMPLE}) AS BIGINT)
                                * CAST(({_M7_SAMPLE}) AS BIGINT))) AS BIGINT)
                   ) AS energies
            FROM a_base) t),
    audio_groups AS (
        SELECT 'audio' AS modality, envelope AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(doc_id) AS canonical_asset_id,
               'samples' AS unit,
               CAST(SUM(nf * 160) - min_by(nf * 160, doc_id) AS BIGINT)
                   AS wasted_units
        FROM a_env GROUP BY envelope HAVING COUNT(*) >= 2),
    v_base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
               6 + doc_id % 5 AS nf
        FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0),
    v_fp AS (
        SELECT doc_id, nf * w * h AS n_pixels,
               printf('%dx%d:', w, h) || array_to_string(
                   list_transform(range(0, nf), f ->
                       md5(array_to_string(list_transform(range(0, w * h), p ->
                           chr(ascii(substr(text,
                               CAST(((f // 3) * 31 + p) % L + 1 AS BIGINT),
                               1)))), ''))), '-') AS fingerprint
        FROM v_base),
    video_groups AS (
        SELECT 'video' AS modality, fingerprint AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               MIN(doc_id) AS canonical_asset_id,
               'pixels' AS unit,
               CAST(SUM(n_pixels) - min_by(n_pixels, doc_id) AS BIGINT)
                   AS wasted_units
        FROM v_fp GROUP BY fingerprint HAVING COUNT(*) >= 2)
    SELECT * FROM text_groups
    UNION ALL SELECT * FROM image_groups
    UNION ALL SELECT * FROM audio_groups
    UNION ALL SELECT * FROM video_groups
    ORDER BY modality, group_key
    """,
)
def x1_cross_modal_dup_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: the cross-modal duplicate-asset report — dd7 text
    components, m6d image groups, m7c audio groups, and whole-video
    fingerprint groups in ONE table with wasted-unit accounting (A13
    corpus-wide). Each branch keeps its own 100 TB shape; the union
    adds no cross-modality shuffle."""
    return xm.duplicate_assets(_table(spark, sf_dir, "documents"))


# sim11 shares sim10's oracle verbatim: serving from the parquet
# round-trip of the index tables must produce the IDENTICAL ranking
# (the hash gate proves the build/serve split is lossless).
@register("sim11_ivfpq_materialized", ORACLES["sim10_ivfpq_topk"])
def sim11_ivfpq_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM11: sim10 via the build-once/serve-many pattern — materialize
    the IVF-PQ index (coded corpus + centroids + codebook) to parquet,
    then answer the query batch from the re-reads only. At 100 TB the
    serving path reads 4-byte codes clustered by list; the raw float
    corpus is never touched after the build."""
    emb = _table(spark, sf_dir, "embeddings")
    base, _ = gate_workdir("fis_sim11")
    # round-13: the four index tables share no checkpoint — land them
    # as overlapped driver-thread jobs (guide §2.6)
    mats = land_tables(spark, sim.ivfpq_index_tables(emb), base)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_topk_from_index(mats, queries)


# sim12's oracle is the same composed search with the quantizer frozen
# to the BASE slice: centroid label-reps and codebook seeds come from
# the pre-ingest corpus only, while the searched codes and queries span
# the full table — exactly the FAISS add() contract the Spark side
# implements via ivfpq_append.
@register("sim12_ivfpq_append", _ivfpq_oracle("vec_id % 10 != 7"))
def sim12_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM12: index MAINTENANCE — add an embedding batch (the
    doc-split rule: vec_id % 10 == 7) to the materialized base IVF-PQ
    index with a FROZEN quantizer: new vectors assign to the stored
    centroids and encode against the stored codebook; nothing already
    indexed is touched. The search then runs over the merged index.
    Completes the incremental family: dd12/dd13 maintain the dedup
    index, sim12 the ANN index."""
    emb = _table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    base = emb.filter(F.col("vec_id") % 10 != 7)
    workdir, _ = gate_workdir("fis_sim12")
    # round-13: overlapped independent-table landing (guide §2.6)
    mats = land_tables(spark, sim.ivfpq_index_tables(base), workdir)
    merged = sim.ivfpq_append(mats, new)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivfpq_topk_from_index(merged, queries)


# x2 shares x1's oracle verbatim: the materialized path must produce
# the IDENTICAL report (the hash gate proves the decode/report split is
# lossless through a parquet round-trip).
@register("x2_dup_assets_materialized", ORACLES["x1_cross_modal_dup_assets"])
def x2_dup_assets_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: x1 via the compute-once pattern — materialize each
    modality's narrow fingerprint/member table to parquet (at 100 TB:
    decode every blob exactly once per corpus snapshot), then run the
    report phase over the parquet re-reads only. The report never
    touches a blob; incremental re-runs and per-modality audits reuse
    the same tables."""
    docs = _table(spark, sf_dir, "documents")
    base, _ = gate_workdir("fis_x2")
    # round-13: the four modality member tables are independent decode
    # lineages (the text branch's internal checkpoints are private to
    # it) — land them as overlapped driver-thread jobs (guide §2.6)
    mats = land_tables(spark, xm.fingerprint_tables(docs), base)
    return xm.duplicate_assets_from_tables(mats)


@register(
    "st12_late_data_accounting",
    """
    -- st12: the late-data DROP contract. Three arrivals (two
    -- chronological halves split at the floor-second midpoint + a
    -- straggler replay of event_id%5==0): Spark's watermark commits
    -- one planned batch BEHIND the data (the wm enforced in batch N
    -- is computed from batches 0..N-2 — measured, then gated here,
    -- not assumed), so the replay batch's enforcement watermark is
    -- max(first-half ts) - 4h; a replayed row is DROPPED iff its
    -- hour-window end <= that, and DOUBLE-COUNTED otherwise.
    -- n_events pins the kept set (the STREAM's actual final state —
    -- a drop-rule drift re-counts a window and hash-fails),
    -- dropped_late_rows the per-window drop count, and dropped_total
    -- the corpus-wide A13-style number. Spark's own
    -- numRowsDroppedByWatermark metric proved to UNDERCOUNT at
    -- sf0.01 (355 of 984; final state said 984), so it is a sanity
    -- ceiling in the engine, not a gated column.
    WITH mid AS (
        SELECT min(ts) + to_seconds(
                   ((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000) // 2
               ) AS m
        FROM events),
    wm AS (
        SELECT max(ts) - INTERVAL 4 HOUR AS w
        FROM events WHERE ts <= (SELECT m FROM mid)),
    base AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP)
                   AS window_end,
               event_id
        FROM events),
    kept AS (
        SELECT window_start, window_end,
               CAST(COUNT(*) + SUM(CASE WHEN event_id % 5 = 0
                                        AND window_end > (SELECT w FROM wm)
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_events
        FROM base GROUP BY 1, 2),
    drops AS (
        SELECT window_start, CAST(COUNT(*) AS BIGINT) AS dropped
        FROM base
        WHERE event_id % 5 = 0 AND window_end <= (SELECT w FROM wm)
        GROUP BY 1)
    SELECT k.window_start, k.window_end, k.n_events,
           COALESCE(d.dropped, 0) AS dropped_late_rows,
           CAST((SELECT COUNT(*) FROM base
                 WHERE event_id % 5 = 0
                   AND window_end <= (SELECT w FROM wm)) AS BIGINT)
               AS dropped_total
    FROM kept k LEFT JOIN drops d USING (window_start)
    ORDER BY k.window_start
    """,
)
def st12_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12: late-data accounting — the last unobserved streaming
    contract. A replay of already-seen rows arrives AFTER the
    watermark advanced; the gate hash-pins (a) the final per-window
    state (kept replays double-count, dropped ones don't), (b) the
    per-window batch derivation of the dropped set, and (c) Spark's
    own engine-observed drop total, all against one DuckDB derivation.
    State stays O(open windows); the changelog is O(windows x
    batches)."""
    import os

    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, _ = gate_workdir("fis_st12")
    src = os.path.join(base, "src")
    out = os.path.join(base, "changelog")
    ev2 = events_df(spark, sf_dir)
    bounds = ev2.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    delta = bounds["hi"] - bounds["lo"]
    half_s = (delta.days * 86400 + delta.seconds) // 2  # floor-second mid
    mid = bounds["lo"] + __import__("datetime").timedelta(seconds=half_s)
    stragglers = ev2.filter(F.col("event_id") % 5 == 0)
    first_half = ev2.filter(F.col("ts") <= F.lit(mid))
    _land_arrivals(
        src,
        [
            first_half,
            ev2.filter(F.col("ts") > F.lit(mid)),
            stragglers,
        ],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    q = sw.run_update_mode_to_parquet(sw.windowed_total_counts(stream), out)
    observed = sw.dropped_by_watermark_total(q)

    final = sw.last_emission(spark, out, ["window_start", "window_end"])
    # enforcement watermark for the replay batch: max ts of BATCH 0
    # minus the delay (Spark's one-planned-batch watermark lag)
    max_first = first_half.agg(F.max("ts")).first()[0]
    wm = max_first - __import__("datetime").timedelta(hours=4)
    dropped = (
        stragglers.select(
            F.date_trunc("hour", "ts").alias("window_start"),
            (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias(
                "window_end"
            ),
        )
        .filter(F.col("window_end") <= F.lit(wm))
        .groupBy("window_start")
        .agg(F.count("*").cast("long").alias("dropped_late_rows"))
    )
    total = dropped.agg(F.sum("dropped_late_rows")).first()[0] or 0
    # Spark's numRowsDroppedByWatermark UNDERCOUNTS (pre-shuffle
    # filtering isn't metered), so it can't be the gated number — but
    # an observed count EXCEEDING the derivation would mean the drop
    # rule drifted, and that must fail loudly rather than hash-pass.
    if observed > total:
        raise RuntimeError(
            f"st12: engine reported {observed} watermark-dropped rows, "
            f"derivation predicts {total} — drop semantics drifted"
        )
    return (
        final.join(dropped, ["window_start"], "left")
        .select(
            "window_start",
            "window_end",
            F.col("n_events").cast("long").alias("n_events"),
            F.coalesce("dropped_late_rows", F.lit(0)).cast("long").alias(
                "dropped_late_rows"
            ),
            F.lit(int(total)).cast("long").alias("dropped_total"),
        )
        .orderBy("window_start")
    )
