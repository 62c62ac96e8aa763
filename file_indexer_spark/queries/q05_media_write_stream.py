"""Registered queries — multimodal intro, raw SQL, write path, st1-st3, m2-m6 (mechanical split of registry.py, round 8).

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


# ------------------------------------------------ LLM pillar: multimodal

from file_indexer_spark.operators import multimodal as mm  # noqa: E402

@register(
    "m1_binary_metadata",
    """
    SELECT source, COUNT(*) AS n_blobs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS distinct_digests
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def m1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.binary_metadata(_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------- S12 raw SQL

from file_indexer_spark.sql import register_views, run_sql  # noqa: E402

_S12_SQL = """
    SELECT path, COUNT(*) AS n_files,
           CAST(SUM(file_size) AS BIGINT) AS total_size,
           COUNT(checksum) AS with_checksum
    FROM files
    GROUP BY path
    ORDER BY path
"""


@register("s12_raw_sql", with_files_cte(_S12_SQL))
def s12_raw_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL passthrough: the SAME SQL text a user would type runs via
    spark.sql over the registered views (reference database.go:269-317)."""
    tune_session(spark)
    register_views(spark, sf_dir)
    return run_sql(spark, _S12_SQL)


# Ad-hoc ANALYTICS through the same passthrough: TPC-H-shaped queries
# over the driver's lineitem/orders/customer tables. The SQL text is
# dialect-neutral (identical string runs in Spark and the DuckDB
# oracle). Money math is exact-integer (cents / basis points) so
# aggregate hashes match bit-for-bit regardless of either engine's
# float summation order — the PLANS are the point: q1 is a pure
# partial-agg pipeline (shuffle carries 6 groups); q3 joins the dim
# tables with filters pushed into all three scans, and at scale the
# filtered customer side broadcasts.

_S12B_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@register("s12b_tpch_pricing", _S12B_SQL)
def s12b_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape via raw SQL: scan-filter-aggregate on the fact
    table; partial aggregation means the shuffle carries 6 group rows
    per mapper regardless of corpus size."""
    tune_session(spark)
    register_views(spark, sf_dir)
    return run_sql(spark, _S12B_SQL)


_S12C_SQL = """
    SELECT o_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_e4 DESC, o_orderkey
    LIMIT 10
"""


@register("s12c_tpch_top_orders", _S12C_SQL)
def s12c_tpch_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape via raw SQL: selective dim filter (1/5 of
    customers) joins fact tables; Catalyst pushes all three predicates
    into the scans and AQE picks broadcast for the filtered customer
    side; top-10 is TakeOrdered, not a full sort."""
    tune_session(spark)
    register_views(spark, sf_dir)
    return run_sql(spark, _S12C_SQL)


# ------------------------------------------- W1: write-path round-trip

@register(
    "w1_index_roundtrip",
    """
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text)) AS BIGINT) AS file_size,
           sha256(text) AS checksum
    FROM documents
    ORDER BY filename
    """,
)
def w1_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end write path under the correctness gate: materialize
    every document as a real file, run the full distributed pipeline
    (BFS scan -> stat -> mapInPandas sha256 -> merge into a FilesTable),
    and emit (filename, file_size, checksum) — which the DuckDB oracle
    recomputes independently as octet_length/sha256 of the same text.

    The driver-side collect is bounded test plumbing (it writes the
    fixture tree); the indexing itself is the production path.
    """
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w1")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=0)  # 0 = no size cap
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


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
    return sim.embedding_neardup_pairs(_table(spark, sf_dir, "embeddings"))


# rows-only check (no oracle): MLlib MinHashLSH internals aren't
# replicable in DuckDB; pytest asserts pair parity against dd3.
@register("dd6_minhash_lsh_ml")
def dd6_minhash_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_ml_pairs(_table(spark, sf_dir, "documents"))


# ------------------------------------------------- ST1/ST2/ST3 streaming


@register(
    "st1_streaming_windows",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
    """,
)
def st1_streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1: watermarked tumbling windows run as a REAL stream (two file
    arrivals -> two micro-batches), drained with availableNow into a
    complete-mode memory sink. Complete mode never evicts, so the final
    state equals the batch aggregation — the DuckDB oracle is the plain
    windowed aggregate. (Append-mode eviction semantics are pinned by
    tests/test_streaming.py.)"""
    import os

    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, tag = gate_workdir("fis_st1")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sink = f"st1_sink_{tag}"
    sw.run_to_memory_sink(sw.windowed_counts(stream), sink)
    return spark.table(sink).orderBy("window_start", "event_type")


@register(
    "st2_streaming_index",
    """
    SELECT '/stream' AS path,
           'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id)
                + CASE WHEN doc_id % 3 = 0 THEN INTERVAL 1 HOUR
                       ELSE INTERVAL 0 SECOND END AS TIMESTAMP)
               AS modification_datetime,
           CAST(octet_length(encode(text)) AS BIGINT) AS file_size
    FROM documents
    ORDER BY filename
    """,
)
def st2_streaming_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: continuous index maintenance — scan snapshots stream in as
    micro-batches and foreachBatch applies the SAME merge as batch
    update_index. Arrival 1 carries half the corpus at stale mtimes;
    arrival 2 the full corpus at fresh mtimes, so the merge exercises
    insert + update + unchanged-reuse across batches. The oracle is the
    expected FINAL table state, computed independently from documents.
    """
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.streaming import incremental as inc

    tune_session(spark)
    base, _ = gate_workdir("fis_st2")
    src = os.path.join(base, "src")

    scan = load_table(spark, sf_dir, "documents").select(
        F.lit("/stream").alias("path"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "filename"
        ),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id)"
        ).alias("modification_datetime"),
        F.octet_length("text").cast("long").alias("file_size"),
        F.col("doc_id"),
    )
    fresh = scan.withColumn(
        "modification_datetime",
        F.expr(
            "modification_datetime"
            " + if(doc_id % 3 = 0, make_interval(0,0,0,0,1,0,0), make_interval(0,0,0,0,0,0,0))"
        ),
    )
    _land_arrivals(
        src,
        [
            scan.filter(F.col("doc_id") % 2 == 0).drop("doc_id"),
            fresh.drop("doc_id"),
        ],
    )

    table = FilesTable(spark, os.path.join(base, "files_db"))
    inc.stream_index(
        spark,
        inc.read_scan_stream(spark, src, max_files_per_trigger=1),
        table,
        checkpoint_dir=os.path.join(base, "ckpt"),
        max_checksum_size=-1,  # metadata-only: scanned paths aren't real files
    )
    return (
        table.read()
        .select("path", "filename", "modification_datetime", "file_size")
        .orderBy("filename")
    )


@register(
    "st3_stateful_sessions",
    f"""
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {ev.SESSION_GAP_MINUTES} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def st3_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: custom stateful operator — applyInPandasWithState keeps one
    state row per user and emits updated session rows per micro-batch.
    Two chronological arrivals split mid-stream, so sessions spanning
    the split are carried across batches by state. The last emit per
    (user, session) — the max-n_events row, since a session's count
    only grows — must equal the batch gaps-and-islands sessionizer (e1
    minus its n_event_types column, which streaming state doesn't keep).
    """
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    tune_session(spark)
    base, tag = gate_workdir("fis_st3")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    mid = ev2.agg(F.max("event_id")).first()[0] // 2
    # event_id order == ts order in the driver's events testdata, so an
    # event_id split gives chronological arrivals (state semantics need
    # in-order delivery; out-of-order handling is the watermark's job)
    _land_arrivals(
        src, [ev2.filter(F.col("event_id") <= mid), ev2.filter(F.col("event_id") > mid)]
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sink = f"st3_sink_{tag}"
    q = (
        ss.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# ---------------------------------------------------------- M2/M3/M4

@register(
    "m2_media_decode",
    """
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(4 + doc_id % 13 AS INTEGER) END AS width,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(3 + doc_id % 7 AS INTEGER) END AS height,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 4 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS payload_bytes,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'truncated header'
                ELSE NULL END AS decode_error
    FROM documents
    ORDER BY media_id
    """,
)
def m2_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: binary → typed metadata through the real mapInPandas decode
    stage (Arrow batches, error column instead of task failure). The
    blob corpus is derived deterministically from documents, so the
    DuckDB oracle recomputes every decoded field — including both error
    classes — straight from doc_id/text without touching binaries."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.decode_media(media).orderBy("media_id")


@register(
    "m2b_ppm_decode",
    """
    -- real-codec gate: the engine decodes spec-valid binary PPM (P6)
    -- blobs with a pure-Python parser; the oracle recomputes every
    -- field from the deterministic doc_id derivation.
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 8 AS INTEGER) END AS width,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(1 + doc_id % 5 AS INTEGER) END AS height,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST(3 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
                ELSE CAST((1 + doc_id % 8) * (1 + doc_id % 5) * 3 AS BIGINT)
           END AS payload_bytes,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'not a PPM'
                WHEN doc_id % 5 = 0 THEN 'truncated payload'
                ELSE NULL END AS decode_error
    FROM documents
    ORDER BY media_id
    """,
)
def m2b_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2b: REAL image decode — binary PPM (P6) blobs parsed by the
    pure-Python spec decoder (``multimodal._decode_ppm``) through the
    same mapInPandas/DECODED_SCHEMA contract as m2. Three error classes
    (null blob, wrong magic, truncated raster) are data, not failures."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.decode_image_real(media).orderBy("media_id")


# shared by m6 (per-image aHash) and m6b (the duplicate groups over it)
_M6_CTES = """base AS (
        SELECT doc_id, text, length(text) AS L,
               1 + doc_id % 8 AS w, 1 + doc_id % 5 AS h
        FROM documents),
    valid AS (
        SELECT doc_id, w, h, w * h AS n,
               list_transform(range(0, w * h), i ->
                   ascii(substr(text, CAST(((3 * i) % L) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST(((3 * i + 1) % L) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST(((3 * i + 2) % L) + 1 AS BIGINT), 1))
               ) AS grays
        FROM base
        WHERE doc_id % 11 <> 0 AND doc_id % 7 <> 0 AND doc_id % 5 <> 0),
    tot AS (SELECT *, list_sum(grays) AS total FROM valid),
    hashed AS (
        SELECT doc_id, w, h, n,
               list_sum(list_transform(range(0, least(n, 63)), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * n >= total
                        THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)) AS ahash
        FROM tot)"""


@register(
    "m6_image_ahash",
    f"""
    -- Perceptual average-hash from DECODED PPM pixels: grayscale =
    -- integer r+g+b per pixel, bit i set iff gray_i * n >= total
    -- (integer-exact "above mean"), LSB-first in raster order. The
    -- oracle recomputes every bit from the fixture derivation
    -- (raster byte j = text byte j mod len — ASCII-asserted corpus).
    WITH {_M6_CTES}
    SELECT doc_id AS media_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(n AS INTEGER) AS n_pixels, CAST(ahash AS BIGINT) AS ahash,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM hashed
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL,
           CASE WHEN doc_id % 11 = 0 THEN 'null content'
                WHEN doc_id % 7 = 0 THEN 'not a PPM'
                ELSE 'truncated payload' END
    FROM documents WHERE doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0
    ORDER BY media_id
    """,
)
def m6_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 (gate-legacy fingerprint — the API default is the canonical
    ahash64, see m6c): codec-free perceptual image fingerprinting over
    the REAL decoded PPM corpus at native resolution. Integer-exact
    bits, so the approximate-perception operator is still hash-gated."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.image_ahash_legacy63(media).orderBy("media_id")


@register(
    "m6b_image_dup_groups",
    f"""
    -- Perceptual duplicate groups: images sharing (w, h, ahash) — the
    -- reference's checksum duplicate-groups shape (J2) on image
    -- content; min media_id is the canonical keeper.
    WITH {_M6_CTES}
    SELECT CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(ahash AS BIGINT) AS ahash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(doc_id) AS canonical_media_id
    FROM hashed GROUP BY w, h, ahash HAVING COUNT(*) >= 2
    ORDER BY width, height, ahash
    """,
)
def m6b_image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6b (gate-legacy grouping — the API default groups on ahash64,
    see m6d): image duplicate groups over the native-resolution aHash
    fingerprints — one hash-shuffle on the (w, h, ahash) key, J2's
    groups shape on perceptual image content."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.image_duplicate_groups_legacy63(media)


# shared by m6c (canonical per-image hash) and m6d (the resolution-
# invariant duplicate groups over it).  The oracle recomputes the 8x8
# lattice hash ONCE per document from base geometry: a pixel-replicated
# upscale samples the identical source pixels (((a*s)//8)//s == a//8),
# so both the base row and the scaled-copy row carry the same 64 bits.
_M6C_CTES = """base AS (
        SELECT doc_id, text, length(text) AS L,
               4 + doc_id % 5 AS w0, 4 + doc_id % 3 AS h0,
               2 + doc_id % 2 AS s
        FROM documents),
    pix AS (  -- lattice source-pixel index per grid cell (ty*8+tx)
        SELECT doc_id, text, L, w0, h0, s,
               list_transform(range(0, 64), i ->
                   ((i // 8) * h0 // 8) * w0 + ((i % 8) * w0 // 8)) AS pidx
        FROM base),
    g AS (
        -- greatest(L, 1) mirrors the engine's empty-text guard
        -- (raw or b'\\x00'): substr past an empty text is '' and
        -- ascii('') = 0, exactly the tiled zero byte
        SELECT doc_id, w0, h0, s,
               list_transform(pidx, p ->
                   ascii(substr(text, CAST((3 * p) % greatest(L, 1) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST((3 * p + 1) % greatest(L, 1) + 1 AS BIGINT), 1))
                 + ascii(substr(text, CAST((3 * p + 2) % greatest(L, 1) + 1 AS BIGINT), 1))
               ) AS grays
        FROM pix),
    tot AS (SELECT *, list_sum(grays) AS total FROM g),
    hashed AS (  -- two 32-bit words dodge the signed-BIGINT bit-63 cap
        SELECT doc_id, w0, h0, s,
               CAST(list_sum(list_transform(range(0, 32), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * 64 >= total
                        THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS lo,
               CAST(list_sum(list_transform(range(32, 64), i ->
                   CASE WHEN grays[CAST(i + 1 AS BIGINT)] * 64 >= total
                        THEN (1::BIGINT << CAST(i - 32 AS INTEGER)) ELSE 0 END))
                    AS BIGINT) AS hi
        FROM tot),
    fp AS (
        SELECT doc_id * 2 AS media_id, CAST(w0 AS INTEGER) AS width,
               CAST(h0 AS INTEGER) AS height,
               printf('%08x%08x', hi, lo) AS ahash64
        FROM hashed
        UNION ALL
        SELECT doc_id * 2 + 1, CAST(w0 * s AS INTEGER),
               CAST(h0 * s AS INTEGER), printf('%08x%08x', hi, lo)
        FROM hashed)"""


@register(
    "m6c_image_ahash_canonical",
    f"""
    -- Canonical 8x8 aHash: nearest-neighbor lattice pooling (m5's
    -- resize rule) + integer above-mean bits, full 64 bits as a hex
    -- string.  Resolution-invariant BY FLOOR-DIV IDENTITY, so the
    -- oracle computes one hash per doc and both the base and the
    -- pixel-replicated scaled copy carry it.
    WITH {_M6C_CTES}
    SELECT media_id, width, height, ahash64,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM fp ORDER BY media_id
    """,
)
def m6c_image_ahash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6c: canonical resolution-invariant perceptual hash — the m5
    fixed-grid pooling composed into m6, 64 full bits as hex (clears
    the 63-pixel signed-long cap the round-5 verdict flagged). Gated on
    the mixed-resolution fixture where every doc ships a base image AND
    a 2x/3x pixel-replicated copy: the pair MUST collide, and does,
    bit-exactly in both engines."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_multires_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.image_ahash_canonical(media).orderBy("media_id")


@register(
    "m6d_image_dup_groups_canonical",
    f"""
    -- Resolution-invariant duplicate groups: key is ahash64 ALONE
    -- (scaled copies land in one group — the fix for m6b's
    -- same-resolution-only grouping).
    WITH {_M6C_CTES}
    SELECT ahash64, CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(media_id) AS canonical_media_id
    FROM fp GROUP BY ahash64 HAVING COUNT(*) >= 2
    ORDER BY ahash64
    """,
)
def m6d_image_dup_groups_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6d: m6b's grouping re-gated on the canonical fingerprint —
    every base/scaled pair groups together across resolutions; one
    hash-shuffle on the 16-char key."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.ppm_multires_media_from_docs(_table(spark, sf_dir, "documents"))
    return mm.image_duplicate_groups_canonical(media)


@register(
    "m3_frame_sampling",
    """
    -- documents.text is pure ASCII in the driver's testdata (asserted:
    -- octet_length(encode(text)) == length(text) at every sf), so
    -- VARCHAR slicing/md5 here equals the engine's byte slicing/md5.
    WITH blobs AS (
        SELECT doc_id AS media_id, text AS payload
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 7 <> 0
    ),
    nums AS (  -- bounded frame-index domain (DuckDB's generate_series
               -- can't take lateral column args); 4096 frames covers
               -- 128 KB payloads, far above any documents row
        SELECT CAST(range AS BIGINT) AS i FROM range(0, 4096, 2)
    ),
    frames AS (
        SELECT b.media_id, CAST(n.i AS INTEGER) AS frame_index,
               substring(b.payload, CAST(1 + n.i * 32 AS BIGINT), 32) AS frame
        FROM blobs b JOIN nums n ON n.i < length(b.payload) // 32
    )
    SELECT media_id, frame_index,
           md5(frame) AS frame_md5,
           CAST(length(frame) AS BIGINT) AS frame_len
    FROM frames
    ORDER BY media_id, frame_index
    """,
)
def m3_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: 1→N frame explosion (every 2nd 32-byte frame of each payload)
    through the mapInPandas sampling stage — partition-local, no shuffle.
    Frames are compared by md5+length so the oracle diff never ships raw
    binaries through the canonicalizer."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(_table(spark, sf_dir, "documents"))
    frames = mm.sample_frames(media, frame_size=32, every_k=2)
    return frames.select(
        "media_id",
        "frame_index",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").cast("long").alias("frame_len"),
    ).orderBy("media_id", "frame_index")


@register(
    "m4_media_features",
    """
    -- The featurizer's cross-engine-checkable contract: exact null
    -- classes (null/truncated blobs -> null vector), fixed dimension,
    -- and unit L2 norm (sum of squares rounds to 1.0 at 4 dp for any
    -- non-degenerate float32 unit vector). The chunk-mean VALUES are
    -- pinned by tests/test_multimodal.py and by flowing the embeddings
    -- through the similarity operators.
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(64 AS INTEGER) END AS dim,
           CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN NULL
                ELSE CAST(1.0 AS DOUBLE) END AS sq_norm
    FROM documents
    ORDER BY media_id
    """,
)
def m4_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(_table(spark, sf_dir, "documents"))
    feats = mm.extract_features(media)
    return feats.select(
        "media_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x), 4).alias(
            "sq_norm"
        ),
    ).orderBy("media_id")


@register(
    "m5_media_resize",
    """
    -- Nearest-neighbor 2x2 resize of the FAKE_MEDIA_FORMAT corpus,
    -- hash-checked at the pixel level: the oracle re-derives each
    -- sampled pixel straight from documents.text (pure ASCII, so
    -- VARCHAR slicing == byte slicing) and md5s the same 4-pixel
    -- payload the engine re-encodes.
    WITH m AS (
        SELECT doc_id AS media_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 7  AS h,
               1 + doc_id % 4  AS c,
               text AS t,
               CASE WHEN doc_id % 11 = 0 OR doc_id % 7 = 0 THEN 'undecodable'
                    WHEN length(text) <
                         (4 + doc_id % 13) * (3 + doc_id % 7) * (1 + doc_id % 4)
                         THEN 'payload/geometry mismatch'
                    ELSE NULL END AS resize_error
        FROM documents
    )
    SELECT media_id,
           resize_error,
           CASE WHEN resize_error IS NULL THEN md5(
                    substring(t, ((0 * w + 0) * c) + 1, c)
                 || substring(t, ((0 * w + (w // 2)) * c) + 1, c)
                 || substring(t, (((h // 2) * w + 0) * c) + 1, c)
                 || substring(t, (((h // 2) * w + (w // 2)) * c) + 1, c))
           END AS pixels_md5,
           CASE WHEN resize_error IS NULL THEN CAST(12 + 4 * c AS BIGINT)
           END AS blob_len
    FROM m
    ORDER BY media_id
    """,
)
def m5_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: resize stage gate — blobs through the partition-local
    mapInPandas nearest-neighbor downsample, compared by md5 of the
    re-encoded pixel payload (bytes 13.. of the output blob) so the
    pixel-sampling arithmetic itself is oracle-checked, not just the
    error taxonomy."""
    from file_indexer_spark.operators import multimodal as mm

    media = mm.fake_media_from_docs(_table(spark, sf_dir, "documents"))
    resized = mm.resize_media(media, target_width=2, target_height=2)
    return resized.select(
        "media_id",
        "resize_error",
        F.md5(F.expr("substring(content, 13)")).alias("pixels_md5"),
        F.octet_length("content").cast("long").alias("blob_len"),
    ).orderBy("media_id")


