"""Streaming gates (st): each drains a file-source stream into a sink and
hashes against the batch oracle of the operator it streams."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import curation as cu
from file_indexer_spark.operators import events as ev
from file_indexer_spark.operators import similarity as sim
from file_indexer_spark.queries.shared import (
    _CT6_ORACLE,
    _DD7_ORACLE,
    _E10_SQL,
    _E14_ORACLE,
    _E15B_ORACLE,
    _E15_ORACLE,
    _E17_ORACLE,
    _E18_ORACLE,
    _E20_ORACLE,
    _EDIT_ADD,
    _EDIT_BASE,
    _EDIT_DELETE,
    _EDIT_UPDATE,
    _PP1_SQL,
    _SIM17_ORACLE,
    _SPARK_EDIT_VEC,
    _W19_ORACLE,
)
from file_indexer_spark.registry_core import QUERIES, _land_arrivals, register
from file_indexer_spark.tables import events_df, files_df, load_table


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

    base, tag = gate_workdir("fis_st1")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    drained = sw.run_to_memory_sink(sw.windowed_counts(stream), f"st1_sink_{tag}")
    return drained.orderBy("window_start", "event_type")


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
    from file_indexer_spark.streaming.util import run_to_memory_sink

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
    drained = run_to_memory_sink(
        ss.sessionize_stream(stream), f"st3_sink_{tag}", output_mode="update"
    )
    return (
        drained
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@register(
    "st4_streaming_dedup",
    """
    -- Final pass-through set of a dedup-at-ingestion stream: exactly
    -- one row per distinct content hash, regardless of how many
    -- arrivals carried the same text.
    SELECT DISTINCT md5(text) AS content_hash
    FROM documents
    ORDER BY content_hash
    """,
)
def st4_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4: stateful streaming exact-dedup run as a REAL stream — two
    overlapping arrivals (two-thirds of the corpus, then all of it), so
    the dedup state must filter re-arrivals across micro-batches; the
    oracle is the batch distinct-hash set."""
    import os

    from file_indexer_spark.streaming import dedup as sd

    base, tag = gate_workdir("fis_st4")
    src = os.path.join(base, "src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _land_arrivals(
        src,
        [docs.filter(F.col("doc_id") % 3 != 0), docs],
    )
    stream = sd.read_docs_stream(spark, src, max_files_per_trigger=1)
    drained = sd.run_to_memory_sink(sd.dedup_stream(stream), f"st4_sink_{tag}")
    return drained.orderBy("content_hash")


@register("st5_streaming_sliding", _E10_SQL)
def st5_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: the same sliding windows as a REAL stream (two file
    arrivals -> two micro-batches, availableNow, complete-mode memory
    sink) — one windowing semantics for batch and stream, both checked
    against the same DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import windows as sw

    base, tag = gate_workdir("fis_st5")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    drained = sw.run_to_memory_sink(
        sw.windowed_counts(stream, slide_duration="15 minutes"), f"st5_sink_{tag}"
    )
    return drained.orderBy("window_start", "event_type")


@register("st6_streaming_uniques")
def st6_streaming_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: streaming per-day distinct users via HLL sketches — e13a as
    a REAL stream (two file arrivals -> two micro-batches; per-window
    state is one mergeable sketch, so the final estimate equals the
    batch approx bit-for-bit — pinned in tests). Rows-only driver
    check: sketch internals have no SQL rendition."""
    import os

    from file_indexer_spark.streaming import windows as sw

    base, tag = gate_workdir("fis_st6")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    _land_arrivals(
        src,
        [ev2.filter(F.col("event_id") % 2 == 0), ev2.filter(F.col("event_id") % 2 == 1)],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    drained = sw.run_to_memory_sink(sw.windowed_uniques(stream), f"st6_sink_{tag}")
    return drained.orderBy("day")


@register(
    "st6_bounds",
    """
    -- st6's bit-identical twin contract: the streaming HLL merge must
    -- equal the batch sketch e13a EXACTLY (register merges are
    -- lossless). Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def st6_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6-BOUNDS: the real-stream HLL rollup (two micro-batches,
    availableNow) diffed against the batch e13a sketch column by
    column — sketch-merge losslessness as a driver-checkable gate."""
    from file_indexer_spark.operators import bounds as bd

    stream = QUERIES["st6_streaming_uniques"](spark, sf_dir)
    batch = ev.daily_uniques_approx(events_df(spark, sf_dir))
    return bd.twin_mismatch(stream, batch, key="day")


@register("st7_streaming_curation", _PP1_SQL)
def st7_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST7: pp1's funnel applied AT INGESTION as a real stream — dd1
    keeper via streaming ``dropDuplicates`` state, t2 quality map-side,
    ct1 decontamination against a static benchmark broadcast — then
    per-source accounting over the decision sink. The stream reproduces
    the batch table exactly, so the FULL pp1 oracle hash-gates it.

    Arrival order: each content hash's keeper (min doc_id) lands in
    batch 1, re-arrivals in batch 2 — the deterministic rendition of an
    ingestion log's "first copy arrives first" contract, under which
    streaming first-seen == the batch min-doc_id rule (the general
    ordering caveat is documented in streaming/curation.py)."""
    import os

    from pyspark.sql.window import Window

    from file_indexer_spark.streaming import curation as sc

    base, tag = gate_workdir("fis_st7")
    src = os.path.join(base, "src")
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id")),
    )
    cols = ["doc_id", "source", "text"]
    _land_arrivals(
        src,
        [
            ranked.filter("rk = 1").select(*cols),
            ranked.filter("rk > 1").select(*cols),
        ],
    )
    bench = sc.bench_shingle_set(docs)
    stream = sc.read_source_docs_stream(spark, src, max_files_per_trigger=1)
    drained = sc.run_to_memory_sink(sc.curation_stream(stream, bench), f"st7_sink_{tag}")
    return sc.curation_accounting(docs, drained)


@register("st8_session_window_stream", _E14_ORACLE)
def st8_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST8: e14 as a REAL watermarked stream — the engine's built-in
    stateful session windows (state = open sessions, merged and closed
    as the watermark advances; append mode emits a session exactly once
    when it can no longer grow). Two chronological arrivals split the
    events mid-stream; two far-future sentinel arrivals then push the
    watermark past every real session so append mode flushes them all
    (eviction lands one micro-batch behind the watermark — the same
    measured lag the bounded-dedup test pins). The sentinel user is
    filtered from the result, which the FULL e14 oracle then
    hash-gates."""
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    base, tag = gate_workdir("fis_st8")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    mid = ev2.agg(F.max("event_id")).first()[0] // 2
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def sentinel(days: int) -> DataFrame:
        return ev2.agg(F.max("ts").alias("mx")).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.expr(f"mx + INTERVAL {days} DAYS").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )

    _land_arrivals(
        src,
        [
            ev2.filter(F.col("event_id") <= mid).select(*cols),
            ev2.filter(F.col("event_id") > mid).select(*cols),
            sentinel(30),
            sentinel(31),
        ],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    from file_indexer_spark.streaming.util import run_to_memory_sink

    drained = run_to_memory_sink(ss.session_window_sessions(stream), f"st8_sink_{tag}")
    return (
        drained
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


@register("st9_interval_join_stream", _E15_ORACLE)
def st9_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST9: e15 as a REAL watermarked STREAM-STREAM join — two-sided
    join state (the one stateful-operator class st1-st8 don't cover),
    bounded by the watermark pair + time-range predicate. Two
    chronological arrivals split the events mid-stream, so pairs
    straddling the split must match across micro-batches out of
    retained state; the identical e15 oracle then hash-gates the
    drained sink."""
    import os

    from file_indexer_spark.streaming import joins as sjoins
    from file_indexer_spark.streaming import windows as sw
    from file_indexer_spark.streaming.util import run_to_memory_sink

    base, tag = gate_workdir("fis_st9")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    mid = ev2.agg(F.max("event_id")).first()[0] // 2
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    _land_arrivals(
        src,
        [
            ev2.filter(F.col("event_id") <= mid).select(*cols),
            ev2.filter(F.col("event_id") > mid).select(*cols),
        ],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    drained = run_to_memory_sink(sjoins.view_purchase_pairs(stream), f"st9_sink_{tag}")
    return drained.orderBy("purchase_id", "view_id")


@register("st10_interval_join_outer_stream", _E15B_ORACLE)
def st10_interval_join_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10: e15b as a watermarked STREAM-STREAM OUTER join — the
    delayed-null semantics st9's inner join doesn't exercise: an
    unmatched purchase may only emit its NULL row once the VIEW-side
    watermark proves no late view can still attribute it, so outer
    results trail the watermark like append-mode finalization. Two
    far-future sentinel arrivals carry BOTH event types (the join's
    effective watermark is the min of the two sides'), the sentinel
    user is filtered, and the batch LEFT JOIN oracle hash-gates the
    drained sink."""
    import os

    from file_indexer_spark.streaming import joins as sjoins
    from file_indexer_spark.streaming import windows as sw
    from file_indexer_spark.streaming.util import run_to_memory_sink

    base, tag = gate_workdir("fis_st10")
    src = os.path.join(base, "src")
    ev2 = events_df(spark, sf_dir)
    mid = ev2.agg(F.max("event_id")).first()[0] // 2
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def sentinel(days: int) -> DataFrame:
        base_row = ev2.agg(F.max("ts").alias("mx"))
        out = None
        for off, etype in ((0, "view"), (1, "purchase")):
            row = base_row.select(
                F.lit(-1 - off).cast("long").alias("event_id"),
                F.expr(f"mx + INTERVAL {days} DAYS").alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
            out = row if out is None else out.unionByName(row)
        return out

    _land_arrivals(
        src,
        [
            ev2.filter(F.col("event_id") <= mid).select(*cols),
            ev2.filter(F.col("event_id") > mid).select(*cols),
            sentinel(30),
            sentinel(31),
        ],
    )
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    drained = run_to_memory_sink(
        sjoins.view_purchase_pairs_outer(stream), f"st10_sink_{tag}"
    )
    return (
        drained
        .filter(F.col("user_id") >= 0)
        .orderBy("purchase_id", "view_id")
    )


@register(
    "st11_update_mode_counts",
    """
    -- st11: the update-mode output class — final state of the
    -- changelog (last emission per key) equals the batch windowed
    -- aggregate. Same rollup as st1's oracle.
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
def st11_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST11: UPDATE-mode streaming aggregation (the one output-mode
    class st1-st10 left unexercised at the driver): watermarked hourly
    counts drained via foreachBatch, each micro-batch emitting only the
    keys whose aggregate CHANGED — an upsert changelog. The gate
    reduces the changelog to its final state (last emission per key)
    and hash-matches the batch oracle.

    Arrivals are CHRONOLOGICAL halves (the st8 pattern) — update mode
    honors the watermark, so a time-interleaved split would legally
    drop the second batch's late rows; splitting on the midpoint
    timestamp keeps every arrival ahead of the watermark, making
    stream-equals-batch exact. The boundary hour spans both arrivals
    and re-emits with a grown count (intermediate re-emission is pinned
    in tests/test_streaming.py on a controlled fixture)."""
    import os

    from file_indexer_spark.streaming import windows as sw

    base, _ = gate_workdir("fis_st11")
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
    sw.run_update_mode_to_parquet(sw.windowed_counts(stream), out)
    return sw.last_emission(
        spark, out, ["window_start", "window_end", "event_type"]
    ).orderBy("window_start", "event_type")


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


# st13 shares dd7's oracle VERBATIM: after draining a 3-arrival
# chronological stream through the foreachBatch near-dup ingest, the
# stored assignment state must equal dd7 recomputed from scratch over
# the whole corpus — the hash gate proves the probe→refresh ingest loop
# is lossless across micro-batches (including cross-batch pairs and
# late cluster merges, which greedy drop-on-arrival gets wrong).
@register("st13_streaming_neardup_ingest", _DD7_ORACLE)
def st13_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13: near-dup dedup AT INGESTION — the streaming rendition of
    the dd12/dd13 incremental family. Documents arrive chronologically
    in three micro-batches (a large base drop + two ingest batches);
    each batch probes the materialized LSH band index, refreshes only
    the touched clusters, appends its signatures, and logs keep/drop
    decisions. The gate returns the final stored assignment."""
    import os

    from file_indexer_spark.streaming import neardup as snd

    base, _ = gate_workdir("fis_st13")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    c1, c2 = int(hi * 8 // 10), int(hi * 9 // 10)
    cols = ["doc_id", "text"]
    _land_arrivals(
        src,
        [
            docs.filter(F.col("doc_id") <= c1).select(*cols),
            docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)).select(*cols),
            docs.filter(F.col("doc_id") > c2).select(*cols),
        ],
    )
    stream = snd.read_docs_stream(spark, src, max_files_per_trigger=1)
    snd.ingest_neardup_stream(spark, stream, state, ckpt)
    return (
        snd.final_assignments(spark, state)
        .select("doc_id", "cluster_id", "is_canonical")
        .orderBy("doc_id")
    )


# st14 shares e17's oracle VERBATIM: after draining a chronological
# two-arrival stream through the stateful debounce, the changelog's
# final state must equal the batch operator over the whole corpus —
# including bursts that SPAN the arrival boundary, which greedy
# per-batch dedup would split or re-key.
@register("st14_streaming_debounce", _E17_ORACLE)
def st14_streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST14: e17 as a continuous stateful stream (applyInPandasWithState,
    O(user×type keys) state, update-mode changelog). The gate reduces
    the changelog to its final state (last emission per burst) and
    hash-matches e17's own DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

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


# st15 shares e18's oracle VERBATIM: after draining a chronological
# two-arrival stream through the stateful funnel, the changelog's
# final per-user stage rows must aggregate to the batch operator's
# funnel counts — including stages whose qualifying event arrives in
# a LATER micro-batch than its anchor, which per-batch computation
# would miss.
@register("st15_streaming_funnel", _E18_ORACLE)
def st15_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15: e18 as a continuous stateful stream (applyInPandasWithState,
    O(users) state, update-mode changelog). The gate reduces the
    changelog to its final state per user and aggregates to e18's
    single-row funnel, hash-matched against e18's own DuckDB oracle."""
    import os

    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming import windows as sw

    base, _ = gate_workdir("fis_st15")
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
    sw.run_update_mode_to_parquet(ss.funnel_stream(stream), out)
    final = sw.last_emission(spark, out, ["user_id"])
    return final.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_viewed"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_clicked_within"),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_purchased_within"),
    )


@register("st16_streaming_drift", _CT6_ORACLE)
def st16_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16: ct6's drift monitor AT INGESTION — the length histogram
    is O(bins) streaming state folded incrementally across document
    arrivals (update mode re-emits touched bins only); the drift
    arithmetic runs over the drained final state. Shares ct6's oracle
    VERBATIM, so the hash gate proves the stream-maintained histogram
    equals the batch recompute."""
    import os

    from file_indexer_spark.streaming import curation as scu
    from file_indexer_spark.streaming.windows import (
        last_emission,
        run_update_mode_to_parquet,
    )

    base, _ = gate_workdir("fis_st16")
    src, out = os.path.join(base, "src"), os.path.join(base, "log")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    _land_arrivals(
        src,
        [docs.filter(F.col("doc_id") <= mid), docs.filter(F.col("doc_id") > mid)],
    )
    stream = scu.read_drift_docs_stream(spark, src, max_files_per_trigger=1)
    run_update_mode_to_parquet(scu.drift_histogram_stream(stream), out)
    hist = last_emission(spark, out, ["bin"])
    return cu.drift_from_histogram(hist)


# st17 shares e20's oracle verbatim (the ct6→st16 pattern): the
# stream-maintained MG candidate supersets + the shared exact verify
# must equal the batch two-pass, which equals the naive groupBy.
@register("st17_streaming_heavy_hitters", _E20_ORACLE)
def st17_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17: e20's frequent-user sketch AT INGESTION — per-salt-group
    Misra-Gries summaries folded across micro-batches with O(groups x
    capacity) state (the shared ``mg_merge``), candidates re-emitted
    per trigger in update mode; the drain's final candidate set feeds
    the shared exact verify over the landed corpus. MG's superset
    bound holds under any merge order, so no arrival contract is
    needed and the result equals batch e20 exactly."""
    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.streaming import frequency as sfq
    from file_indexer_spark.streaming.windows import (
        read_events_stream,
        run_update_mode_to_parquet,
    )
    from file_indexer_spark.tables import events_df

    base, _ = gate_workdir("fis_st17")
    src, out = os.path.join(base, "src"), os.path.join(base, "log")
    events = events_df(spark, sf_dir)
    mid = events.agg(F.max("event_id")).first()[0] // 2
    _land_arrivals(
        src,
        [
            events.filter(F.col("event_id") <= mid),
            events.filter(F.col("event_id") > mid),
        ],
    )
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    run_update_mode_to_parquet(sfq.heavy_hitter_candidates_stream(stream), out)
    candidates = sfq.final_candidates(spark.read.parquet(out))
    return ev.heavy_hitters_verify(events, candidates, events.count())


# st18 shares w19's oracle VERBATIM (the ct6->st16 / e20->st17 shared-
# oracle pattern): the one-shot batch classification and the streamed
# classify-arbitrate-route must land the exact same final state,
# because the duplicate-key arbitration is a TOTAL order independent
# of arrival split — the gate feeds the same corrupted rows in three
# micro-batches with the PK violators arriving LAST (cross-batch).
@register("st18_streaming_quarantine", _W19_ORACLE)
def st18_streaming_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18: w19's validate-and-quarantine gate AT INGESTION — a
    foreachBatch stage in front of the MERGE: each micro-batch is
    classified with the shared ``classify_files`` (all four NOT NULL
    reasons + within-batch duplicate_key), then the batch's surviving
    rows arbitrate against the stored table per PK in the shared total
    order (``arbitrate_incoming``): the incoming winner upserts (the
    MERGE evicts the displaced stored row), and displaced/losing rows
    land in the quarantine parquet — every input row in exactly one
    sink at stream end, and the final state provably equals the batch
    classification regardless of how the feed was split.  Summary
    recomputed from the ROUND-TRIPPED sinks (the w6 discipline)."""
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.queries.shared import (
        _w19_corrupted_base,
        _w19_dup_rows,
    )
    from file_indexer_spark.streaming import quality as sq
    from file_indexer_spark.tables import files_df

    workdir, _ = gate_workdir("fis_st18")
    base = files_df(spark, sf_dir)
    corrupted = _w19_corrupted_base(base)
    # split the corrupted base in two by a path hash (filename may be
    # NULL), and land the PK violators as their own LAST batch so the
    # duplicate keys genuinely span micro-batches
    h2 = F.substring(F.md5(F.col("path")), 2, 1)
    src = os.path.join(workdir, "src")
    _land_arrivals(
        src,
        [
            corrupted.filter(h2 < "8"),
            corrupted.filter(h2 >= "8"),
            _w19_dup_rows(base),
        ],
    )
    state = os.path.join(workdir, "state")
    sq.ingest_quarantine_stream(
        spark,
        sq.read_files_stream(spark, src),
        state,
        os.path.join(workdir, "ckpt"),
    )
    table = FilesTable(spark, os.path.join(state, "db"))
    qdir = os.path.join(state, "quarantine")

    back = table.read().select(
        F.lit("accepted").alias("status"), "file_size"
    ).unionByName(
        spark.read.parquet(qdir).select(
            F.col("reason").alias("status"), "file_size"
        )
    )
    return (
        back.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("file_size").cast("long").alias("total_size"),
        )
        .orderBy("status")
    )


# st19 shares sim17's oracle VERBATIM: the CDC stream lands exactly
# sim17's edit script (arrival 1 bootstraps the base corpus and
# freezes the quantizer on it — the sim13 contract and the oracle's
# quantizer slice; arrival 2 upserts the adds + re-embeds; arrival 3
# deletes), and the mask-folded serve must land exactly where the
# one-call batch upsert lands. A stale masked row surviving a replay,
# a tombstone over-masking its own batch's upsert, or a lost delete
# each hash-mismatch.
@register("st19_cdc_dense_ingest", _SIM17_ORACLE)
def st19_cdc_dense_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19: streaming CDC APPLY onto the dense index — (vec_id, op,
    embedding) change rows arrive in micro-batches; each batch encodes
    its upserts against the frozen quantizer (O(batch)) and lands one
    delta-code dir plus one tombstone set; last write wins by batch
    order. Serving mask-folds the live dirs through sim11's unchanged
    path — mid-ingest or after drain."""
    from file_indexer_spark.registry_core import _land_arrivals
    from file_indexer_spark.streaming import ann as sann

    emb = load_table(spark, sf_dir, "embeddings")
    base, _ = gate_workdir("fis_st19")
    src = os.path.join(base, "src")
    state = os.path.join(base, "state")
    up = F.lit("upsert").alias("op")
    a1 = emb.filter(F.expr(_EDIT_BASE)).select("vec_id", up, "embedding", "label")
    a2 = (
        emb.filter(F.expr(_EDIT_ADD))
        .select("vec_id", up, "embedding", "label")
        .unionByName(
            emb.filter(F.expr(_EDIT_UPDATE)).select(
                "vec_id", up, F.expr(_SPARK_EDIT_VEC).alias("embedding"), "label"
            )
        )
    )
    a3 = emb.filter(F.expr(_EDIT_DELETE)).select(
        "vec_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(None).cast("int").alias("label"),
    )
    _land_arrivals(src, [a1, a2, a3])
    sann.ingest_cdc_stream(
        spark,
        sann.read_cdc_stream(spark, src, max_files_per_trigger=1),
        state,
        os.path.join(base, "ckpt"),
    )
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sann.search_cdc(spark, state, queries)
