"""Registered queries — events pillar (e1-e5, e14/e15, st8-st10) (mechanical split of registry.py, round 8).

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


# ----------------------------------------------------- LLM pillar: events

@register(
    "e1_sessionization",
    _E1_ORACLE := f"""
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
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           round(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def e1_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.sessionize(_events(spark, sf_dir))


# e14/st8 share one oracle: the native session_window API's split rule
# (gap >= threshold starts a new session — vs e1's strict >), no
# distinct-type count (streaming aggregations reject exact distincts).
_E14_ORACLE = f"""
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= {ev.SESSION_GAP_MINUTES} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(SUM(value), 4) AS total_value
    FROM sessions GROUP BY user_id, seq
    ORDER BY user_id, session_start
    """


@register("e14_session_window", _E14_ORACLE)
def e14_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14: sessionization via the NATIVE ``F.session_window``
    aggregation — the one-definition-for-batch-and-stream rendition of
    e1 (same operator object runs st8's watermarked stream)."""
    from file_indexer_spark.streaming import sessions as ss

    return ss.session_window_sessions(_events(spark, sf_dir)).orderBy(
        "user_id", "session_start"
    )


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

    tune_session(spark)
    base, tag = gate_workdir("fis_st8")
    src = os.path.join(base, "src")
    ev2 = _events(spark, sf_dir)
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
    sink = f"st8_sink_{tag}"
    from file_indexer_spark.streaming.util import run_to_memory_sink

    run_to_memory_sink(ss.session_window_sessions(stream), sink, output_mode="append")
    return (
        spark.table(sink)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


# e15/st9 share one oracle: the interval-join pair set is identical
# whether computed as a batch self-join or a watermarked stream-stream
# join (inner joins emit pairs, never windows, so no flush sentinel).
from file_indexer_spark.streaming.joins import (  # noqa: E402
    ATTRIBUTION_GAP_MINUTES as sj_gap_minutes,
)

_E15_ORACLE = f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL {sj_gap_minutes} MINUTE
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    ORDER BY purchase_id, view_id
    """


@register("e15_interval_join", _E15_ORACLE)
def e15_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: per-user view→purchase attribution — ALL views inside the
    hour before each purchase (the interval-JOIN shape; e7 is the
    as-of LAST-view variant). Batch plan: filtered self-join with a
    range predicate; both sides shuffle once on user_id."""
    from file_indexer_spark.streaming import joins as sjoins

    return sjoins.view_purchase_pairs(_events(spark, sf_dir)).orderBy(
        "purchase_id", "view_id"
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

    tune_session(spark)
    base, tag = gate_workdir("fis_st9")
    src = os.path.join(base, "src")
    ev2 = _events(spark, sf_dir)
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
    sink = f"st9_sink_{tag}"
    run_to_memory_sink(sjoins.view_purchase_pairs(stream), sink)
    return spark.table(sink).orderBy("purchase_id", "view_id")


# e15b/st10 share the LEFT OUTER oracle: unattributed purchases emit
# with NULL view columns.
_E15B_ORACLE = f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL {sj_gap_minutes} MINUTE
    ORDER BY purchase_id, view_id
    """


@register("e15b_interval_join_outer", _E15B_ORACLE)
def e15b_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15b: the LEFT OUTER attribution — every purchase emits, NULL
    view columns when nothing preceded it in the window (the
    unattributed-conversion report)."""
    from file_indexer_spark.streaming import joins as sjoins

    return sjoins.view_purchase_pairs_outer(_events(spark, sf_dir)).orderBy(
        "purchase_id", "view_id"
    )


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

    tune_session(spark)
    base, tag = gate_workdir("fis_st10")
    src = os.path.join(base, "src")
    ev2 = _events(spark, sf_dir)
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
    sink = f"st10_sink_{tag}"
    run_to_memory_sink(sjoins.view_purchase_pairs_outer(stream), sink)
    return (
        spark.table(sink)
        .filter(F.col("user_id") >= 0)
        .orderBy("purchase_id", "view_id")
    )


@register("e1b_sessionization_skew", _E1_ORACLE)
def e1b_sessionization_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 skew-safe variant: day-bucketed pre-sessionize + boundary
    fragment merge (``events.sessionize_skew_safe``) — the giant-user
    path. Same semantics, same oracle as e1. Prefer e1c when the
    consumer does not need per-user session ordinals: the ordinal is
    what forces this form's second full-volume pass."""
    return ev.sessionize_skew_safe(_events(spark, sf_dir))


@register(
    "e1c_session_stats",
    f"""
    -- e1's sessions and stats WITHOUT the per-user ordinal: the
    -- session key is (user_id, session_start). Dropping session_seq
    -- is the contract change that lets the skew-safe engine path skip
    -- the full-volume fragment renumbering pass (only midnight-edge
    -- fragments ever merge across day buckets).
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
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           round(SUM(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, seq
    ORDER BY user_id, session_start
    """,
)
def e1c_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1c: skew-safe per-session stats with the ordinal-free contract
    — interior day-bucket fragments ARE sessions (emitted with no
    second pass), only midnight-edge fragments take the merge window.
    The e1b 100x tail's structural fix (see events.py docstring and
    PERFORMANCE.md round-6 section)."""
    return ev.session_stats_skew_safe(_events(spark, sf_dir))


@register(
    "e2_tumbling_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           round(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def e2_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.tumbling_counts(_events(spark, sf_dir))


@register(
    "e3_funnel",
    """
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase IS NOT NULL AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
    FROM per_user
    """,
)
def e3_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.funnel(_events(spark, sf_dir))


@register(
    "e4_top_users",
    """
    WITH totals AS (
        SELECT user_id, COUNT(*) AS n_events, round(SUM(value), 4) AS total_value
        FROM events GROUP BY user_id
    )
    SELECT CAST(row_number() OVER (ORDER BY total_value DESC, user_id) AS INTEGER) AS rank,
           user_id, n_events, total_value
    FROM totals
    ORDER BY total_value DESC, user_id
    LIMIT 20
    """,
)
def e4_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.top_users(_events(spark, sf_dir))


@register(
    "e5_props_stats",
    """
    WITH parsed AS (
        SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           round(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE), 6) AS avg_k
    FROM parsed
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e5_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.props_stats(_events(spark, sf_dir))


