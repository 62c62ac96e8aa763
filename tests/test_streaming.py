"""Structured Streaming: windowed aggregation agrees with the batch
operator; foreachBatch incremental indexing matches a batch update_index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_indexer_spark.indexer.files_table import FilesTable
from file_indexer_spark.streaming import incremental as inc
from file_indexer_spark.streaming import windows as sw
from file_indexer_spark.tables import events_df


@pytest.fixture()
def events_dir(spark, sf_smoke, tmp_path):
    """Events written as two parquet 'arrivals' (two micro-batches)."""
    src = str(tmp_path / "events_src")
    ev = events_df(spark, sf_smoke)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    return src


def test_windowed_counts_matches_batch(spark, sf_smoke, events_dir):
    stream = sw.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    drained = sw.run_to_memory_sink(sw.windowed_counts(stream), "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in drained.collect()
    }
    batch = sw.windowed_counts(events_df(spark, sf_smoke))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_index_matches_batch_merge(spark, tmp_path):
    scans = str(tmp_path / "scans")
    os.makedirs(scans)
    rows1 = [("/a", "f1", "2024-01-01 00:00:00", 10), ("/a", "f2", "2024-01-01 00:00:00", 20)]
    rows2 = [
        ("/a", "f2", "2024-02-01 00:00:00", 25),  # changed
        ("/b", "f3", "2024-01-15 00:00:00", 30),  # new
    ]
    mk = lambda rows: spark.createDataFrame(
        [(p, f, m, s) for p, f, m, s in rows], "path string, filename string, mtime string, file_size long"
    ).select(
        "path", "filename", F.col("mtime").cast("timestamp").alias("modification_datetime"), "file_size"
    )
    mk(rows1).coalesce(1).write.mode("append").parquet(scans)
    mk(rows2).coalesce(1).write.mode("append").parquet(scans)

    table = FilesTable(spark, str(tmp_path / "files_tbl"))
    inc.stream_index(
        spark,
        inc.read_scan_stream(spark, scans),
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_checksum_size=-1,  # metadata-only: scanned paths don't exist on disk
    )
    got = {(r["path"], r["filename"]): r["file_size"] for r in table.read().collect()}
    assert got == {("/a", "f1"): 10, ("/a", "f2"): 25, ("/b", "f3"): 30}


def test_stateful_sessionization_matches_batch(spark, sf_smoke, tmp_path):
    """applyInPandasWithState sessionizer: last emitted row per session
    equals the batch gaps-and-islands sessionizer."""
    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.streaming import sessions as ss

    src = str(tmp_path / "events_chrono")
    all_events = events_df(spark, sf_smoke)
    median = all_events.approxQuantile("event_id", [0.5], 0.0)[0]
    # two chronological arrivals (event_id order == ts order in testdata)
    all_events.filter(F.col("event_id") <= median).coalesce(1).write.mode("append").parquet(src)
    all_events.filter(F.col("event_id") > median).coalesce(1).write.mode("append").parquet(src)

    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    out = ss.sessionize_stream(stream)
    query = (
        out.writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    emitted = spark.sql("SELECT * FROM stateful_sessions").collect()
    # a session may be emitted in several batches; n_events only grows,
    # so the max-n_events row per key is the final state
    final = {}
    for r in emitted:
        key = (r["user_id"], r["session_seq"])
        if key not in final or r["n_events"] > final[key]["n_events"]:
            final[key] = r
    got = {
        k: (v["session_start"], v["session_end"], v["n_events"], v["total_value"])
        for k, v in final.items()
    }
    want = {
        (r["user_id"], r["session_seq"]): (
            r["session_start"], r["session_end"], r["n_events"], r["total_value"],
        )
        for r in ev.sessionize(all_events).collect()
    }
    assert got == want


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Watermark semantics: once the watermark passes a window's end,
    the window finalizes (emits in append mode), its state is evicted,
    and later-arriving events for it are DROPPED — the state-bounding
    contract that makes streaming aggregation viable at scale.

    Mechanics this pins down (measured, not assumed): eviction runs
    during the batch AFTER the watermark advances, so the late arrival
    must come two micro-batches after the event that moved the
    watermark past its window.
    """
    import time as _time
    from datetime import datetime

    src = str(tmp_path / "late_src")
    batches = [
        [
            (1, datetime(2024, 5, 1, 10, 0), 1, "view", 1.0, "{}"),
            (2, datetime(2024, 5, 1, 10, 30), 1, "view", 1.0, "{}"),
            # advances max event time to 14:00 => watermark 12:00 (2h delay)
            (3, datetime(2024, 5, 1, 14, 0), 2, "view", 1.0, "{}"),
        ],
        # any batch at wm 12:00 evicts+emits the closed [10:00,11:00) window
        [(4, datetime(2024, 5, 1, 14, 30), 2, "view", 1.0, "{}")],
        [
            # 10:15 is below the watermark and its window state is gone -> dropped
            (5, datetime(2024, 5, 1, 10, 15), 3, "view", 1.0, "{}"),
            (6, datetime(2024, 5, 1, 13, 0), 3, "view", 1.0, "{}"),
        ],
    ]
    for rows in batches:
        spark.createDataFrame(rows, sw.EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)  # file-source orders micro-batches by mod time

    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    q = (
        sw.windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.sql("SELECT * FROM late_counts").collect()
    }
    # the 10:00 window finalized with 2 events; the late 10:15 arrival
    # never appears; 13:00/14:00/14:30 windows are still open (unemitted)
    assert got == {10: 2}
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_streaming_dedup_filters_rearrivals_across_batches(spark, tmp_path):
    """A hash seen in batch 1 must NOT re-emit when batch 2 re-delivers
    it; duplicates inside one batch collapse too."""
    from file_indexer_spark.streaming import dedup as sd

    src = str(tmp_path / "docs_src")
    b1 = spark.createDataFrame([(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string")
    b2 = spark.createDataFrame([(4, "aaa"), (5, "ccc")], "doc_id long, text string")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = sd.read_docs_stream(spark, src, max_files_per_trigger=1)
    assert stream.isStreaming
    drained = sd.run_to_memory_sink(sd.dedup_stream(stream), "st4_test_sink")
    rows = [r["content_hash"] for r in drained.collect()]
    assert len(rows) == 3 and len(set(rows)) == 3  # aaa, bbb, ccc — each once


def test_memory_sink_gates_leave_no_view(spark, sf_smoke):
    """A memory-sink gate drops its per-call sink view once it holds the
    drained rows: three st4 calls leave no ``st4_sink_*`` table in the
    catalog, and each returned frame still collects the same rows."""
    from file_indexer_spark import registry

    st4 = registry.QUERIES["st4_streaming_dedup"]
    frames = [st4(spark, sf_smoke) for _ in range(3)]
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("st4_sink_")]
    assert left == [], left
    rows = [sorted(tuple(r) for r in f.collect()) for f in frames]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_streaming_uniques_equal_batch_sketch(spark, sf_smoke):
    """st6's merged HLL sketches must produce the IDENTICAL estimate as
    the batch approx_count_distinct over the same rows (register merge
    is lossless), and the exact event counts must match batch e13."""
    from file_indexer_spark import registry
    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.tables import events_df

    stream_rows = {
        r["day"]: (r["n_events"], r["n_users_approx"])
        for r in registry.QUERIES["st6_streaming_uniques"](spark, sf_smoke).collect()
    }
    batch_rows = {
        r["day"]: (r["n_events"], r["n_users_approx"])
        for r in ev.daily_uniques_approx(events_df(spark, sf_smoke)).collect()
    }
    assert stream_rows == batch_rows


def test_streaming_curation_matches_batch_pipeline(spark, tmp_path):
    """st7: the streaming curation funnel (dd1 keeper -> t2 quality ->
    ct1 decontamination with a static benchmark broadcast) accounted
    per source must equal the batch curation_pipeline (pp1) on the same
    corpus. Files arrive in doc_id order with every duplicate pair
    split across micro-batches, so streaming first-seen == batch
    min-doc_id."""
    from file_indexer_spark.operators.curation import curation_pipeline
    from file_indexer_spark.streaming import curation as sc

    # controlled corpus: cross-source exact dups, quality spread
    # (degenerate repetition => low TTR fails t2), and whatever docs the
    # md5 rule marks as benchmark members
    rows = []
    for i in range(40):
        src = ["web", "books", "code"][i % 3]
        if i % 7 == 1 and i > 1:
            text = rows[i - 7][2]  # duplicate of an EARLIER doc (cross-batch)
        elif i % 5 == 4:
            text = "spam " * 30 + "spam"  # degenerate: fails quality
        else:
            text = " ".join(f"tok{i}_{j} common the and of" for j in range(12))
        rows.append((i, src, text.strip() if isinstance(text, str) else text))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    src_dir = str(tmp_path / "docs_stream")
    for start in range(0, 40, 5):  # 8 ordered files; dup pairs are 7 apart
        docs.filter((F.col("doc_id") >= start) & (F.col("doc_id") < start + 5)) \
            .coalesce(1).write.mode("append").parquet(src_dir)

    bench = sc.bench_shingle_set(docs)
    stream = sc.read_source_docs_stream(spark, src_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    drained = sc.run_to_memory_sink(sc.curation_stream(stream, bench), "st7_sink")
    got = sc.curation_accounting(docs, drained).collect()
    want = curation_pipeline(docs).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # the funnel actually funnels on this corpus
    want_by_src = {r["source"]: r for r in want}
    assert sum(r["n_raw"] for r in want) == 40
    assert any(r["n_after_dedup"] < r["n_raw"] for r in want)
    assert any(r["n_after_quality"] < r["n_after_dedup"] for r in want)


def test_stream_stream_interval_join_matches_across_batches(spark, tmp_path):
    """st9: a view landing in batch 1 must pair with a purchase landing
    in batch 2 out of retained join state; views outside the window (too
    old, or after the purchase) never pair; per-user isolation holds."""
    import datetime as dt

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import joins as sjoins
    from file_indexer_spark.streaming import windows as sw

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mk = lambda rows: spark.createDataFrame(rows, sw.EVENTS_STREAM_SCHEMA)
    b1 = mk([
        (1, t0, 7, "view", 1.0, None),                                  # pairs (40 min before)
        (2, t0 - dt.timedelta(hours=2), 7, "view", 1.0, None),          # too old
        (3, t0 + dt.timedelta(minutes=10), 8, "view", 1.0, None),       # other user
    ])
    b2 = mk([
        (4, t0 + dt.timedelta(minutes=40), 7, "purchase", 9.0, None),   # joins view 1
        (5, t0 + dt.timedelta(minutes=50), 7, "view", 1.0, None),       # AFTER purchase 4
        (6, t0 + dt.timedelta(minutes=55), 8, "purchase", 5.0, None),   # joins view 3
    ])
    src = str(tmp_path / "st9_src")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sjoins_df = sjoins.view_purchase_pairs(stream)
    from file_indexer_spark.streaming.util import run_to_memory_sink

    drained = run_to_memory_sink(sjoins_df, "st9t_sink")
    got = {(r["purchase_id"], r["view_id"]) for r in drained.collect()}
    assert got == {(4, 1), (6, 3)}, got


def test_stream_stream_outer_join_delays_nulls_until_watermark(spark, tmp_path):
    """st10: an unmatched purchase emits its NULL row only after the
    view-side watermark closes its window — before that the engine must
    hold it (a late view could still attribute it). With a final
    watermark-advancing arrival, both the matched pair and the
    unmatched NULL row are present exactly once."""
    import datetime as dt

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import joins as sjoins
    from file_indexer_spark.streaming import windows as sw

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    mk = lambda rows: spark.createDataFrame(rows, sw.EVENTS_STREAM_SCHEMA)
    b1 = mk([
        (1, t0, 7, "view", 1.0, None),
        (2, t0 + dt.timedelta(minutes=30), 7, "purchase", 9.0, None),  # matched
        (3, t0 + dt.timedelta(minutes=30), 8, "purchase", 5.0, None),  # never matched
    ])
    # sentinels of BOTH types push both watermarks far past t0
    far = t0 + dt.timedelta(days=30)
    b2 = mk([(-1, far, -1, "view", 0.0, None), (-2, far, -1, "purchase", 0.0, None)])
    b3 = mk([(-3, far + dt.timedelta(days=1), -1, "view", 0.0, None),
             (-4, far + dt.timedelta(days=1), -1, "purchase", 0.0, None)])
    src = str(tmp_path / "st10_src")
    _land_arrivals(src, [b1, b2, b3])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    from file_indexer_spark.streaming.util import run_to_memory_sink

    drained = run_to_memory_sink(sjoins.view_purchase_pairs_outer(stream), "st10t_sink")
    got = {
        (r["purchase_id"], r["view_id"])
        for r in drained.filter("user_id >= 0").collect()
    }
    assert got == {(2, 1), (3, None)}, got


def test_update_mode_reemits_grown_aggregates(spark, tmp_path):
    """st11's defining behavior: a window spanning micro-batches is
    emitted MORE THAN ONCE with strictly increasing counts (update mode
    re-emits amended rows per batch — the low-latency contract append
    mode can't provide), and the changelog's last emission per key
    equals the batch aggregate."""
    import datetime as dt

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)

    b1 = mk([
        (1, t0 + dt.timedelta(minutes=5), 7, "view", 1.0, None),
        (2, t0 + dt.timedelta(minutes=10), 8, "view", 2.0, None),
    ])
    b2 = mk([
        (3, t0 + dt.timedelta(minutes=20), 9, "view", 3.0, None),
        (4, t0 + dt.timedelta(minutes=50), 7, "click", 4.0, None),
    ])
    src, out = str(tmp_path / "st11_src"), str(tmp_path / "st11_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(sw.windowed_counts(stream), out)

    log = spark.read.parquet(out)
    views = (
        log.filter(F.col("event_type") == "view")
        .orderBy("batch_id")
        .collect()
    )
    # the 10:00 view window grew across batches: emitted twice, counts up
    assert [r["n_events"] for r in views] == [2, 3]
    assert [r["total_value"] for r in views] == [3.0, 6.0]
    assert views[0]["batch_id"] < views[1]["batch_id"]

    final = sw.last_emission(
        spark, out, ["window_start", "window_end", "event_type"]
    )
    got = {(r["event_type"], r["n_events"], r["total_value"]) for r in final.collect()}
    assert got == {("view", 3, 6.0), ("click", 1, 4.0)}


def test_update_mode_drop_rule_and_accounting(spark, tmp_path):
    """st12's drop rule on a controlled fixture (measured semantics):
    the watermark ENFORCED in batch N derives from batches 0..N-2, the
    drop predicate is window_end <= watermark, a dropped replay never
    re-counts its window, and a kept replay double-counts. On this
    single-partition fixture Spark's numRowsDroppedByWatermark metric
    is exact too (it undercounts on multi-partition corpora — why st12
    gates the derived accounting instead)."""
    from datetime import datetime

    from file_indexer_spark.registry import _land_arrivals

    src = str(tmp_path / "st12_src")
    out = str(tmp_path / "st12_log")
    mk = lambda rows: spark.createDataFrame(rows, sw.EVENTS_STREAM_SCHEMA)
    # batch 0: max ts 12:30 => enforcement wm for batch 2 = 10:30
    b0 = mk([(1, datetime(2024, 5, 1, 12, 30), 1, "view", 1.0, "{}")])
    b1 = mk([(2, datetime(2024, 5, 1, 9, 0), 1, "view", 1.0, "{}")])  # not yet enforced
    b2 = mk([
        (3, datetime(2024, 5, 1, 9, 30), 1, "view", 1.0, "{}"),   # end 10:00 <= 10:30: DROP
        (4, datetime(2024, 5, 1, 10, 0, 1), 1, "view", 1.0, "{}"),  # end 11:00 > 10:30: KEEP
    ])
    _land_arrivals(src, [b0, b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    q = sw.run_update_mode_to_parquet(
        sw.windowed_total_counts(stream, watermark_delay="2 hours"), out
    )
    fin = {
        r["window_start"].hour: r["n_events"]
        for r in sw.last_emission(spark, out, ["window_start", "window_end"]).collect()
    }
    # 09:00 window holds ONLY the batch-1 row (the 09:30 replay-era row
    # dropped); 10:00 window holds the kept batch-2 row
    assert fin == {9: 1, 10: 1, 12: 1}
    assert sw.dropped_by_watermark_total(q) == 1


def _nd_doc(prefix: str, head: list[str] | None = None, tail: list[str] | None = None) -> str:
    """A 40-word doc of unique tokens; optionally replace the first / last
    4 words. 38 word-3-gram shingles; replacing one 4-word end changes 4
    of them => pruned-set Jaccard 34/42 ~ 0.8095 (>= 0.8 pairs), while
    replacing BOTH ends leaves 30 shared => 30/46 ~ 0.652 (< 0.8)."""
    words = [f"{prefix}{i}" for i in range(40)]
    if head:
        words[:4] = head
    if tail:
        words[-4:] = tail
    return " ".join(words)


def test_streaming_neardup_ingest_matches_batch_dd7(spark, tmp_path):
    """st13: the foreachBatch near-dup ingest must reproduce dd7 from
    scratch across micro-batches — including a LATE CLUSTER MERGE: A
    (batch 1) and B (batch 2) are not near-dups of each other, then C
    (batch 3) pairs with BOTH; the refresh must fold A, B, C into one
    cluster and demote B, which greedy drop-on-arrival cannot do."""
    from file_indexer_spark.operators import dedup as dd
    from file_indexer_spark.registry_core import _land_arrivals
    from file_indexer_spark.streaming import neardup as snd

    a = _nd_doc("w")                                            # doc 1
    b = _nd_doc("w", head=["bh0", "bh1", "bh2", "bh3"],
                tail=["ct0", "ct1", "ct2", "ct3"])              # doc 2
    c = _nd_doc("w", tail=["ct0", "ct1", "ct2", "ct3"])         # doc 4
    noise = _nd_doc("z")                                        # doc 3
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, a), (3, noise)], schema)
    b2 = spark.createDataFrame([(2, b)], schema)
    b3 = spark.createDataFrame([(4, c)], schema)
    all_docs = b1.unionByName(b2).unionByName(b3)

    # the fixture's whole point: A~C and B~C pair, A~B does not
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(all_docs).collect()
    }
    assert pairs == {(1, 4), (2, 4)}

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    _land_arrivals(src, [b1, b2, b3])
    stream = snd.read_docs_stream(spark, src, max_files_per_trigger=1)
    snd.ingest_neardup_stream(spark, stream, state, str(tmp_path / "ckpt"))

    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in snd.final_assignments(spark, state).collect()
    }
    want = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dd.dedup_clusters(
            all_docs, dd.minhash_lsh_pairs(all_docs)
        ).collect()
    }
    assert got == want
    # the late merge happened: B was accepted at ingestion (no pair with
    # A existed yet) but is non-canonical in the final state
    assert got[2] == (1, False) and got[4] == (1, False) and got[1] == (1, True)
    dec = {
        r["doc_id"]: (r["batch_id"], r["accepted"])
        for r in snd.ingest_decisions(spark, state).collect()
    }
    assert dec[1] == (0, True) and dec[3] == (0, True)
    assert dec[2] == (1, True)   # accepted at ingestion...
    assert dec[4] == (2, False)  # ...C dropped (near-dups 1 and 2)


def test_streaming_neardup_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-folding an already-committed
    micro-batch version must be a no-op (no duplicate decisions, no
    duplicate index rows)."""
    from file_indexer_spark.streaming import neardup as snd

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, _nd_doc("w")), (3, _nd_doc("z"))], schema)
    b2 = spark.createDataFrame([(2, _nd_doc("w"))], schema)  # identical text to doc 1
    state = str(tmp_path / "state")
    snd.ingest_batch(spark, b1, state, 0)
    snd.ingest_batch(spark, b2, state, 1)
    before = sorted(
        (r["batch_id"], r["doc_id"]) for r in snd.ingest_decisions(spark, state).collect()
    )
    n_bands = spark.read.parquet(f"{state}/bands").count()
    snd.ingest_batch(spark, b2, state, 1)  # replay
    after = sorted(
        (r["batch_id"], r["doc_id"]) for r in snd.ingest_decisions(spark, state).collect()
    )
    assert after == before
    assert spark.read.parquet(f"{state}/bands").count() == n_bands
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in snd.final_assignments(spark, state).collect()
    }
    assert got == {1: (1, True), 2: (1, False), 3: (3, True)}


def test_streaming_ann_ingest_matches_frozen_quantizer_build(spark, sf_smoke, tmp_path):
    """sim13: draining an embedding stream through the foreachBatch ANN
    ingest must equal one bootstrap build plus one big frozen-quantizer
    add() (sim12's contract) — and the quantizer tables must be
    byte-stable across later batches."""
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.registry_core import _land_arrivals
    from file_indexer_spark.streaming import ann as sann
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    hi = emb.agg(F.max("vec_id")).first()[0]
    c1, c2 = int(hi * 8 // 10), int(hi * 9 // 10)
    cols = ["vec_id", "embedding", "label"]
    b1 = emb.filter(F.col("vec_id") <= c1).select(*cols)
    b2 = emb.filter((F.col("vec_id") > c1) & (F.col("vec_id") <= c2)).select(*cols)
    b3 = emb.filter(F.col("vec_id") > c2).select(*cols)

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    _land_arrivals(src, [b1, b2, b3])
    stream = sann.read_embeddings_stream(spark, src, max_files_per_trigger=1)
    sann.ingest_ann_stream(spark, stream, state, str(tmp_path / "ckpt"))

    # quantizer tables froze at bootstrap: identical to a direct build
    # on the first arrival slice
    boot = sim.ivfpq_index_tables(b1)
    for name in ("centroids", "codebook"):
        want = sorted(map(tuple, boot[name].collect()))
        got = sorted(map(tuple, spark.read.parquet(f"{state}/{name}").collect()))
        assert got == want, name

    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [tuple(r) for r in sann.search(spark, state, queries).collect()]
    want = [
        tuple(r)
        for r in sim.ivfpq_topk_from_index(
            sim.ivfpq_append(boot, b2.unionByName(b3)), queries
        ).collect()
    ]
    assert got == want and len(got) == sim.N_QUERIES * sim.TOP_K


def test_streaming_ann_ingest_batch_replay_is_idempotent(spark, sf_smoke, tmp_path):
    """foreachBatch is at-least-once: re-folding an already-committed
    micro-batch version must not duplicate coded rows, and the batch's
    own rows encode against the STORED quantizer (never retrain)."""
    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.streaming import ann as sann
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 10 != 7)
    b2 = emb.filter(F.col("vec_id") % 10 == 7)
    state = str(tmp_path / "state")
    sann.ingest_batch(spark, b1, state, 0)
    sann.ingest_batch(spark, b2, state, 1)
    index = sann.load_index(spark, state)
    n_codes = index["codes"].count()
    assert n_codes == emb.count()
    sann.ingest_batch(spark, b2, state, 1)  # replay
    assert sann.load_index(spark, state)["codes"].count() == n_codes
    # appended rows match a direct encode against the frozen tables
    direct = {
        r["vec_id"]: (tuple(r["codes"]), r["centroid_id"])
        for r in sim.ivfpq_encode_batch(index, b2).collect()
    }
    stored = {
        r["vec_id"]: (tuple(r["codes"]), r["centroid_id"])
        for r in spark.read.parquet(f"{state}/codes/v1").collect()
    }
    assert stored == direct


def test_streaming_crossmodal_ingest_matches_batch_report(spark, sf_smoke, tmp_path):
    """x4: draining a document/media stream through the foreachBatch
    cross-modal ingest must reproduce x1's report computed from scratch
    over everything ingested — media decoded batch-locally, text
    clusters refreshed through the stored LSH index."""
    from file_indexer_spark.operators import crossmodal as xm
    from file_indexer_spark.registry_core import _land_arrivals
    from file_indexer_spark.streaming import crossmodal as sxm
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    c1, c2 = int(hi * 8 // 10), int(hi * 9 // 10)
    cols = ["doc_id", "text", "n_chars"]
    b1 = docs.filter(F.col("doc_id") <= c1).select(*cols)
    b2 = docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)).select(*cols)
    b3 = docs.filter(F.col("doc_id") > c2).select(*cols)

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    _land_arrivals(src, [b1, b2, b3])
    stream = sxm.read_docs_stream(spark, src, max_files_per_trigger=1)
    sxm.ingest_crossmodal_stream(spark, stream, state, str(tmp_path / "ckpt"))

    got = [tuple(r) for r in sxm.duplicate_assets_report(spark, state).collect()]
    want = [
        tuple(r) for r in xm.duplicate_assets(docs.select(*cols)).collect()
    ]
    assert got == want and len(got) > 0


def test_streaming_crossmodal_ingest_batch_replay_is_idempotent(
    spark, sf_smoke, tmp_path
):
    """Re-folding an already-committed micro-batch version is a no-op:
    per-version dirs overwrite themselves, so at-least-once delivery
    cannot duplicate member or index rows."""
    from file_indexer_spark.streaming import crossmodal as sxm
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "n_chars"
    )
    b1 = docs.filter(F.col("doc_id") % 10 != 7)
    b2 = docs.filter(F.col("doc_id") % 10 == 7)
    state = str(tmp_path / "state")
    sxm.ingest_batch(spark, b1, state, 0)
    sxm.ingest_batch(spark, b2, state, 1)
    tables = sxm.stored_member_tables(spark, state)
    counts = {name: df.count() for name, df in tables.items()}
    before = sorted(map(tuple, sxm.duplicate_assets_report(spark, state).collect()))
    sxm.ingest_batch(spark, b2, state, 1)  # replay
    tables2 = sxm.stored_member_tables(spark, state)
    assert {n: df.count() for n, df in tables2.items()} == counts
    after = sorted(map(tuple, sxm.duplicate_assets_report(spark, state).collect()))
    assert after == before


def test_ann_state_compaction_preserves_serving(spark, sf_smoke, tmp_path):
    """sim13 maintenance: compacting the per-batch code dirs into one
    must not change search results, must drop the superseded dirs, and
    a replay of a compacted-away batch stays a no-op."""
    import os

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.streaming import ann as sann
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 10 != 7)
    b2 = emb.filter(F.col("vec_id") % 10 == 7)
    state = str(tmp_path / "state")
    sann.ingest_batch(spark, b1, state, 0)
    sann.ingest_batch(spark, b2, state, 1)
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = [tuple(r) for r in sann.search(spark, state, queries).collect()]
    wm = sann.compact_state(spark, state)
    assert wm == 1
    names = sorted(os.listdir(os.path.join(state, "codes")))
    assert names == ["c1"]
    after = [tuple(r) for r in sann.search(spark, state, queries).collect()]
    assert after == before
    n = sann.load_index(spark, state)["codes"].count()
    sann.ingest_batch(spark, b2, state, 1)  # replay of a compacted batch
    assert sann.load_index(spark, state)["codes"].count() == n
    # a genuinely new batch still folds on top of the compacted base
    sann.ingest_batch(spark, b2.limit(0), state, 2)  # empty: writes v2
    assert sann.load_index(spark, state)["codes"].count() == n


def test_crossmodal_state_compaction_preserves_report(spark, sf_smoke, tmp_path):
    """x4 maintenance: compacting the append tables + vacuuming old
    text versions must not change the report, and replays stay no-ops."""
    import os

    from file_indexer_spark.streaming import crossmodal as sxm
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "text", "n_chars"
    )
    b1 = docs.filter(F.col("doc_id") % 10 != 7)
    b2 = docs.filter(F.col("doc_id") % 10 == 7)
    state = str(tmp_path / "state")
    sxm.ingest_batch(spark, b1, state, 0)
    sxm.ingest_batch(spark, b2, state, 1)
    before = sorted(map(tuple, sxm.duplicate_assets_report(spark, state).collect()))
    wm = sxm.compact_state(spark, state)
    assert wm == 1
    assert sorted(os.listdir(os.path.join(state, "image_members"))) == ["c1"]
    assert sorted(os.listdir(os.path.join(state, "text_members"))) == ["v1"]
    after = sorted(map(tuple, sxm.duplicate_assets_report(spark, state).collect()))
    assert after == before
    sxm.ingest_batch(spark, b2, state, 1)  # replay of a vacuumed-past batch
    again = sorted(map(tuple, sxm.duplicate_assets_report(spark, state).collect()))
    assert again == before


def test_streaming_debounce_burst_spans_batches(spark, tmp_path):
    """st14's defining behavior: a burst whose events SPAN micro-batches
    keeps the FIRST batch's kept event and re-emits with grown
    suppression/span (greedy per-batch dedup would re-key it); a
    super-gap event in the second batch starts a fresh burst; and the
    changelog's final state equals the batch e17 operator."""
    import datetime as dt

    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)

    # batch 1: burst of two (30 min apart); batch 2 continues the SAME
    # burst 40 min later, then a 2h silence starts burst 2
    b1 = mk([
        (1, t0, 7, "click", 1.0, None),
        (2, t0 + dt.timedelta(minutes=30), 7, "click", 1.0, None),
    ])
    b2 = mk([
        (3, t0 + dt.timedelta(minutes=70), 7, "click", 1.0, None),
        (4, t0 + dt.timedelta(minutes=70) + dt.timedelta(hours=2), 7, "click", 1.0, None),
    ])
    src, out = str(tmp_path / "st14_src"), str(tmp_path / "st14_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(ss.debounce_stream(stream), out)

    log = spark.read.parquet(out)
    burst1 = log.filter(F.col("burst_seq") == 1).orderBy("batch_id").collect()
    # burst 1 re-emitted amended: suppression 1 -> 2, kept event stable
    assert [r["n_suppressed"] for r in burst1] == [1, 2]
    assert {r["kept_event_id"] for r in burst1} == {1}
    assert burst1[-1]["span_us"] == 70 * 60 * 1_000_000

    final = sw.last_emission(spark, out, ["user_id", "event_type", "burst_seq"])
    got = {
        (r["burst_seq"], r["kept_event_id"], r["n_suppressed"], r["span_us"])
        for r in final.collect()
    }
    batch = ev.debounce_events(
        mk([]).unionByName(b1).unionByName(b2).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
    )
    expect = {
        (r["burst_seq"], r["kept_event_id"], r["n_suppressed"], r["span_us"])
        for r in batch.collect()
    }
    assert got == expect == {(1, 1, 2, 4200 * 1_000_000), (2, 4, 0, 0)}


def test_streaming_funnel_stage_spans_batches(spark, tmp_path):
    """st15's defining behavior: a click that qualifies against batch
    1's view but ARRIVES in batch 2 still converts (per-batch funnel
    computation would miss it); a click outside the 48 h window never
    converts; and the changelog's final state equals batch e18."""
    import datetime as dt

    from file_indexer_spark.operators import events as ev
    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)

    # user 7: view in batch 1, click +1h in batch 2 (in-window),
    #         purchase +1h after the click in batch 2 -> full convert
    # user 8: view in batch 1, click +50h in batch 2 (out of window)
    b1 = mk([
        (1, t0, 7, "view", 1.0, None),
        (2, t0, 8, "view", 1.0, None),
    ])
    b2 = mk([
        (3, t0 + dt.timedelta(hours=1), 7, "click", 1.0, None),
        (4, t0 + dt.timedelta(hours=2), 7, "purchase", 1.0, None),
        (5, t0 + dt.timedelta(hours=50), 8, "click", 1.0, None),
    ])
    src, out = str(tmp_path / "st15_src"), str(tmp_path / "st15_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(ss.funnel_stream(stream), out)

    final = {r["user_id"]: r for r in sw.last_emission(spark, out, ["user_id"]).collect()}
    assert final[7]["t_click"] is not None and final[7]["t_purchase"] is not None
    assert final[8]["t_click"] is None

    batch = ev.deadline_funnel(
        mk([]).unionByName(b1).unionByName(b2).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
    ).collect()[0]
    assert batch["n_users"] == 2
    assert batch["n_clicked_within"] == 1
    assert batch["n_purchased_within"] == 1


def test_streaming_funnel_rejects_out_of_order_batches(spark, tmp_path):
    """st15 enforces its chronological-arrival contract: an event
    landing in a later micro-batch with a timestamp BEFORE the user's
    consumed high-water mark fails the query loudly instead of being
    silently ignored (where batch e18 would have counted it)."""
    import datetime as dt

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)

    b1 = mk([(1, t0 + dt.timedelta(hours=2), 7, "click", 1.0, None)])
    b2 = mk([(2, t0, 7, "view", 1.0, None)])  # older than the hwm
    src, out = str(tmp_path / "st15_ooo_src"), str(tmp_path / "st15_ooo_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    with pytest.raises(Exception, match="chronological-arrival contract"):
        sw.run_update_mode_to_parquet(ss.funnel_stream(stream), out)


def test_streaming_funnel_tolerates_unsorted_rows_within_batch(spark, tmp_path):
    """st15's contract is CROSS-batch only: a micro-batch wholly newer
    than the stored high-water mark but internally UNSORTED (Spark
    gives no intra-group row order) must fold in event-time order and
    not raise (ADVICE r10).  The reversed-order rows still convert."""
    import datetime as dt

    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import sessions as ss
    from file_indexer_spark.streaming.windows import EVENTS_STREAM_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)

    b1 = mk([(1, t0, 7, "view", 1.0, None)])
    # batch 2: rows in REVERSE event-time order, both newer than b1's hwm
    b2 = mk([
        (3, t0 + dt.timedelta(hours=2), 7, "purchase", 1.0, None),
        (2, t0 + dt.timedelta(hours=1), 7, "click", 1.0, None),
    ])
    src, out = str(tmp_path / "st15_rev_src"), str(tmp_path / "st15_rev_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(ss.funnel_stream(stream), out)
    final = {r["user_id"]: r for r in sw.last_emission(spark, out, ["user_id"]).collect()}
    assert final[7]["t_click"] is not None
    assert final[7]["t_purchase"] is not None


def test_streaming_heavy_hitters_exact_across_eviction(spark, tmp_path):
    """st17: a heavy hitter whose early events are decremented OUT of
    the Misra-Gries state by a flood of light users still lands in the
    final candidate set once its later events arrive (the MG bound
    covers the whole stream prefix, state persists across batches),
    and the shared exact verify equals the naive global count."""
    import datetime as dt

    from file_indexer_spark.operators import events as evo
    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import frequency as sfq
    from file_indexer_spark.streaming.windows import (
        EVENTS_STREAM_SCHEMA,
        run_update_mode_to_parquet,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(i, t0, u, "view", 1.0, None) for i, u in rows],
            EVENTS_STREAM_SCHEMA,
        )

    # all user_ids are multiples of N_GROUPS -> ONE salt group, so the
    # capacity-4 sketch is under real pressure
    H = 800
    b1 = mk([(i, 8 * (i + 1)) for i in range(9)] + [(9, H)])  # 9 lights + H once
    b2 = mk([(100 + j, H) for j in range(9)] + [(200, 880), (201, 888)])
    src, out = str(tmp_path / "st17_src"), str(tmp_path / "st17_log")
    _land_arrivals(src, [b1, b2])
    stream = sw.read_events_stream(spark, src, max_files_per_trigger=1)
    run_update_mode_to_parquet(
        sfq.heavy_hitter_candidates_stream(stream, t=4, capacity=4), out
    )
    log = spark.read.parquet(out)
    # batch 1: ten all-count-1 keys overflow capacity 4 -> everything
    # (H included) decrements to zero; the trigger emits NO candidates,
    # only the NULL-user sentinel that makes the empty seq observable
    assert log.filter("seq = 1 AND user_id IS NOT NULL").count() == 0
    assert log.filter("seq = 1 AND user_id IS NULL").count() == 1
    cands = sfq.final_candidates(log)
    assert H in {r["user_id"] for r in cands.collect()}
    # exact verify over the landed corpus: threshold = 21 // 4 = 5
    events = spark.read.parquet(src)
    out_rows = evo.heavy_hitters_verify(events, cands, events.count(), t=4).collect()
    assert [(r["user_id"], r["n_events"]) for r in out_rows] == [(H, 10)]


def test_streaming_drift_folds_across_batches(spark, tmp_path):
    """st16: per-bin counters accumulate across micro-batches — a bin
    fed from both arrivals ends at the batch-computed total, and the
    drift arithmetic over the drained state equals ct6 on the union."""
    from file_indexer_spark.operators import curation as cu
    from file_indexer_spark.registry import _land_arrivals
    from file_indexer_spark.streaming import curation as scu

    b1 = spark.createDataFrame(
        [(0, 60), (1, 60), (7, 110)], "doc_id long, n_chars long"
    )
    b2 = spark.createDataFrame(
        [(2, 60), (17, 110), (3, 110)], "doc_id long, n_chars long"
    )
    src, out = str(tmp_path / "st16_src"), str(tmp_path / "st16_log")
    _land_arrivals(src, [b1, b2])
    stream = scu.read_drift_docs_stream(spark, src, max_files_per_trigger=1)
    sw.run_update_mode_to_parquet(scu.drift_histogram_stream(stream), out)
    hist = sw.last_emission(spark, out, ["bin"])
    got = {
        (r["bin"], r["base_n"], r["batch_n"], r["l1_num"])
        for r in cu.drift_from_histogram(hist).collect()
    }
    want = {
        (r["bin"], r["base_n"], r["batch_n"], r["l1_num"])
        for r in cu.distribution_drift(b1.unionByName(b2)).collect()
    }
    assert got == want
    # bin 1 (chars 60): 3 base docs, 0 batch; bin 2 (110): 1 base, 2 batch
    assert (1, 3, 0, 6) in got


def test_streaming_quarantine_cross_batch_duplicate_key(spark, tmp_path):
    """st18: the SAME PK arriving clean in two micro-batches lands in
    the table exactly once — whichever arrival order: the later LOSER
    goes straight to quarantine, and a later WINNER upserts while the
    displaced stored row moves to quarantine (row-exactly-once holds
    across batches)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.quality import (
        REASON_DUPLICATE_KEY,
        arbitrate_incoming,
        classify_files,
        split_valid,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "path string, filename string, checksum string, "
        "modification_datetime timestamp, file_size long, indexed_at timestamp"
    )
    # PK /x/a: batch-1 row wins (size 3 < 9)   -> batch-2 row quarantined
    # PK /x/b: batch-2 row wins (size 1 < 5)   -> batch-1 row DISPLACED
    b1 = spark.createDataFrame(
        [("/x", "a", "c1", t0, 3, t0), ("/x", "b", "c2", t0, 5, t0)], schema
    )
    b2 = spark.createDataFrame(
        [("/x", "a", "c3", t0, 9, t0), ("/x", "b", "c4", t0, 1, t0)], schema
    )
    table = FilesTable(spark, str(tmp_path / "db"))
    table.overwrite(b1.limit(0))
    qdir = str(tmp_path / "quarantine")
    for batch in (b1, b2):
        accepted, quarantined = split_valid(classify_files(batch))
        stored = table.read().join(
            accepted.select("path", "filename").distinct(),
            ["path", "filename"],
            "left_semi",
        )
        winners, displaced, losers = arbitrate_incoming(stored, accepted)
        dup = F.lit(REASON_DUPLICATE_KEY)
        quarantined.unionByName(
            displaced.withColumn("reason", dup)
        ).unionByName(losers.withColumn("reason", dup)).write.mode(
            "append"
        ).parquet(qdir)
        table.upsert(winners)
    final = {(r["filename"], r["file_size"]) for r in table.read().collect()}
    assert final == {("a", 3), ("b", 1)}
    q = {
        (r["filename"], r["file_size"], r["reason"])
        for r in spark.read.parquet(qdir).collect()
    }
    assert q == {
        ("a", 9, "duplicate_key"),
        ("b", 5, "duplicate_key"),
    }
    # exactly once: table rows + quarantine rows == input rows
    assert table.read().count() + spark.read.parquet(qdir).count() == 4


def test_streaming_lexical_ingest_replay_is_idempotent(spark, sf_smoke, tmp_path):
    """t19: a replayed micro-batch (foreachBatch at-least-once) whose
    version is already committed must not double-count its postings or
    its scalar deltas."""
    from file_indexer_spark.streaming import lexical as slex
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 10 != 7)
    b2 = docs.filter(F.col("doc_id") % 10 == 7)
    state = str(tmp_path / "state")
    slex.ingest_batch(spark, b1, state, 0)
    slex.ingest_batch(spark, b2, state, 1)
    mats = slex.load_lexical_index(spark, state)
    n_postings = mats["postings"].count()
    scalars = mats["scalars"].first()
    slex.ingest_batch(spark, b2, state, 1)  # replay
    slex.ingest_batch(spark, b2, state, 0)  # stale replay below watermark
    mats2 = slex.load_lexical_index(spark, state)
    assert mats2["postings"].count() == n_postings
    assert tuple(mats2["scalars"].first()) == tuple(scalars)


def test_lexical_state_compaction_preserves_serving(spark, sf_smoke, tmp_path):
    """t19 maintenance: compacting the per-batch version dirs into one
    term-clustered dir must not change the served ranking, must drop
    the superseded dirs, and a replay of a compacted-away batch stays
    a no-op."""
    import os

    from file_indexer_spark.streaming import lexical as slex
    from file_indexer_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 10 != 7)
    b2 = docs.filter(F.col("doc_id") % 10 == 7)
    state = str(tmp_path / "state")
    slex.ingest_batch(spark, b1, state, 0)
    slex.ingest_batch(spark, b2, state, 1)
    before = [tuple(r) for r in slex.search(spark, state).collect()]
    wm = slex.compact_lexical_state(spark, state)
    assert wm == 1
    assert sorted(os.listdir(state)) == ["c1"]
    after = [tuple(r) for r in slex.search(spark, state).collect()]
    assert after == before
    n = slex.load_lexical_index(spark, state)["postings"].count()
    slex.ingest_batch(spark, b2, state, 1)  # replay of a compacted batch
    assert slex.load_lexical_index(spark, state)["postings"].count() == n
    # a second compaction with nothing new is a watermark no-op
    assert slex.compact_lexical_state(spark, state) == 1


def test_cdc_dense_ingest_last_write_wins_and_compacts(spark, sf_smoke, tmp_path):
    """st19: the drained CDC state equals the one-call batch upsert
    (last write wins: re-embedded ids serve their NEW codes, deleted
    ids vanish), replays are no-ops, and compaction folds the mask
    away without changing the served ranking."""
    import os

    from file_indexer_spark.operators import similarity as sim
    from file_indexer_spark.streaming import ann as sann
    from file_indexer_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    edit_vec = "transform(embedding, x -> CAST(1.0D - CAST(x AS DOUBLE) AS FLOAT))"
    adds = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id", "embedding")
    updates = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.expr(edit_vec).alias("embedding")
    )
    dels = emb.filter(F.col("vec_id") % 10 == 5).select("vec_id")
    state = str(tmp_path / "state")

    up = F.lit("upsert").alias("op")
    sann.ingest_cdc_batch(
        spark, base.select("vec_id", up, "embedding", "label"), state, 0
    )
    sann.ingest_cdc_batch(
        spark,
        adds.withColumn("op", F.lit("upsert"))
        .withColumn("label", F.lit(None).cast("int"))
        .unionByName(
            updates.withColumn("op", F.lit("upsert")).withColumn(
                "label", F.lit(None).cast("int")
            )
        )
        .select("vec_id", "op", "embedding", "label"),
        state,
        1,
    )
    sann.ingest_cdc_batch(
        spark,
        dels.select(
            "vec_id",
            F.lit("delete").alias("op"),
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("int").alias("label"),
        ),
        state,
        2,
    )
    queries = emb.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = [tuple(r) for r in sann.search_cdc(spark, state, queries).collect()]

    # reference: the batch-path upsert over the same base index
    bmats = sim.write_ivfpq_index(
        spark, sim.ivfpq_index_tables(base), str(tmp_path / "bidx")
    )
    edited = sim.ivfpq_upsert(bmats, adds.unionByName(updates), dels)
    assert served == [
        tuple(r) for r in sim.ivfpq_topk_from_index(edited, queries).collect()
    ]

    # replays (current and stale versions) are no-ops
    n_codes = sann.load_cdc_index(spark, state)["codes"].count()
    sann.ingest_cdc_batch(
        spark, base.select("vec_id", up, "embedding", "label"), state, 2
    )
    sann.ingest_cdc_batch(
        spark, base.select("vec_id", up, "embedding", "label"), state, 0
    )
    assert sann.load_cdc_index(spark, state)["codes"].count() == n_codes

    # compaction: same ranking, mask and version dirs folded away
    wm = sann.compact_cdc_state(spark, state)
    assert wm == 2
    assert sorted(os.listdir(os.path.join(state, "codes"))) == ["c2"]
    assert sann._live_tomb_paths(state) == []
    assert served == [
        tuple(r) for r in sann.search_cdc(spark, state, queries).collect()
    ]
    # deleted ids are physically gone after the fold
    gone = {r["vec_id"] for r in dels.collect()}
    left = {
        r["vec_id"]
        for r in sann.load_cdc_index(spark, state)["codes"].collect()
    }
    assert not gone & left
