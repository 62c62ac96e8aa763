"""Event-log analytics (e): sessionization, funnels, windows and joins over
the events table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.operators import events as ev
from file_indexer_spark.queries.shared import (
    _E10_SQL,
    _E14_ORACLE,
    _E15B_ORACLE,
    _E15_ORACLE,
    _E17_ORACLE,
    _E18_ORACLE,
    _E20_ORACLE,
)
from file_indexer_spark.registry_core import register
from file_indexer_spark.streaming.joins import ATTRIBUTION_GAP_MINUTES as _E19_GAP_MIN
from file_indexer_spark.tables import events_df, load_table


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
    return ev.sessionize(events_df(spark, sf_dir))


@register("e1b_sessionization_skew", _E1_ORACLE)
def e1b_sessionization_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 skew-safe variant: day-bucketed pre-sessionize + boundary
    fragment merge (``events.sessionize_skew_safe``) — the giant-user
    path. Same semantics, same oracle as e1. Prefer e1c when the
    consumer does not need per-user session ordinals: the ordinal is
    what forces this form's second full-volume pass."""
    return ev.sessionize_skew_safe(events_df(spark, sf_dir))


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
    return ev.session_stats_skew_safe(events_df(spark, sf_dir))


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
    return ev.tumbling_counts(events_df(spark, sf_dir))


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
    return ev.funnel(events_df(spark, sf_dir))


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
    return ev.top_users(events_df(spark, sf_dir))


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
    return ev.props_stats(events_df(spark, sf_dir))


@register(
    "e6_retention_cohorts",
    """
    WITH weeks AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        FROM events),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id)
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) / 7 AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS active_users
    FROM weeks w JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def e6_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: weekly cohort retention over the events stream."""
    return ev.retention_cohorts(events_df(spark, sf_dir))


@register(
    "e7_asof_last_view",
    """
    SELECT p.event_id, p.user_id, p.ts AS probe_ts, v.ts AS last_match_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
)
def e7_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (purchase -> latest at-or-before view per user).
    Spark side is the union-and-window formulation (no join, one
    shuffle on user_id); the oracle is DuckDB's native ASOF LEFT JOIN,
    a genuine cross-engine semantics check."""
    return ev.asof_last_match(events_df(spark, sf_dir))


@register(
    "e8_rolling_daily_value",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS day_events,
               round(SUM(value), 4) AS day_value
        FROM events GROUP BY 1, 2
    ),
    indexed AS (
        SELECT *, CAST(day - DATE '{ev.ROLLING_EPOCH}' AS INTEGER) AS day_idx
        FROM daily
    )
    SELECT event_type, day, day_events, day_value,
           CAST(SUM(day_events) OVER w AS BIGINT) AS trail_events,
           round(SUM(day_value) OVER w, 4) AS trail_value
    FROM indexed
    WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, day
    """,
)
def e8_rolling_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.rolling_daily_value(events_df(spark, sf_dir))


@register(
    "e9_preceding_window_counts",
    """
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               epoch_us(ts) AS eus,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_match
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    win AS (
        SELECT *,
               SUM(is_match) OVER (PARTITION BY user_id ORDER BY eus
                   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS v
        FROM tagged
    )
    SELECT event_id, user_id, ts AS probe_ts,
           COALESCE(CAST(v AS BIGINT), 0) AS n_matches
    FROM win WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def e9_preceding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-join semantics (matches within a trailing hour of each
    probe) as a RANGE window over epoch-microseconds — no theta-join,
    no nested loop; one shuffle on user_id."""
    return ev.preceding_window_counts(events_df(spark, sf_dir))


@register("e10_sliding_counts", _E10_SQL)
def e10_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (1 h window, 15 min slide): the
    overlap explode is map-side; partial agg bounds the shuffle at
    O(types x windows)."""
    return ev.sliding_counts(events_df(spark, sf_dir))


@register(
    "e11_event_transitions",
    """
    WITH seq AS (
        SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           round(CAST(n_transitions AS DOUBLE)
                 / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE),
                 6) AS transition_p
    FROM c
    ORDER BY prev_type, next_type
    """,
)
def e11_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user sequence: one
    lag window on user_id, then an O(types^2) agg; normalization
    windows over the matrix, not the stream."""
    return ev.event_transitions(events_df(spark, sf_dir))


@register(
    "e12_gap_percentiles",
    """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_us, 0.5), 4) AS p50_us,
           round(quantile_cont(gap_us, 0.9), 4) AS p90_us,
           round(quantile_cont(gap_us, 0.99), 4) AS p99_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e12_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap percentiles per event type: one lag window on
    user_id, then an exact percentile agg on the tiny type key."""
    return ev.gap_percentiles(events_df(spark, sf_dir))


@register("e12a_gap_percentiles_approx")
def e12a_gap_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12a: single-pass percentile_approx sketch variant — the 100 TB
    execution path for e12. Rows-only driver check; tolerance vs e12
    pinned in pytest."""
    return ev.gap_percentiles_approx(events_df(spark, sf_dir))


@register(
    "e12a_bounds",
    """
    -- e12a's rank-tolerance contract (see t6a_bounds): expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def e12a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12a-BOUNDS: inter-arrival gap percentile sketch vs exact e12 —
    rank tolerance ±0.02 per event type, n_gaps exact."""
    from file_indexer_spark.operators import bounds as bd

    events = events_df(spark, sf_dir)
    gaps = ev._event_gaps(events)
    return bd.percentile_bounds(
        gaps,
        ev.gap_percentiles(events),
        ev.gap_percentiles_approx(events),
        key="event_type",
        val="gap_us",
        pcols=[("p50_us", 0.5), ("p90_us", 0.9), ("p99_us", 0.99)],
    )


@register(
    "e13_daily_uniques",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def e13_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day distinct users: two-phase distinct agg (shuffle =
    one row per distinct (day, user) pair — e13a is the sketch path)."""
    return ev.daily_uniques(events_df(spark, sf_dir))


@register("e13a_daily_uniques_approx")
def e13a_daily_uniques_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13a: HLL++ sketch variant — the 100 TB distinct-count path
    (fixed-size mergeable sketch per group instead of a row per
    distinct pair). Rows-only driver check; relative error vs exact
    e13 pinned in pytest."""
    return ev.daily_uniques_approx(events_df(spark, sf_dir))


@register(
    "e13a_bounds",
    """
    -- e13a's HLL++ error contract: |approx - exact| <= max(0.2*exact, 2)
    -- per day (4 sigma at rsd=0.05), n_events exact. Expected empty.
    SELECT CAST(NULL AS VARCHAR) AS scope, CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS lo,
           CAST(NULL AS DOUBLE) AS hi
    WHERE FALSE
    """,
)
def e13a_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13a-BOUNDS: the distinct-count sketch vs exact e13 per day."""
    from file_indexer_spark.operators import bounds as bd

    events = events_df(spark, sf_dir)
    return bd.hll_bounds(ev.daily_uniques(events), ev.daily_uniques_approx(events))


@register("e14_session_window", _E14_ORACLE)
def e14_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14: sessionization via the NATIVE ``F.session_window``
    aggregation — the one-definition-for-batch-and-stream rendition of
    e1 (same operator object runs st8's watermarked stream)."""
    from file_indexer_spark.streaming import sessions as ss

    return ss.session_window_sessions(events_df(spark, sf_dir)).orderBy(
        "user_id", "session_start"
    )


@register("e15_interval_join", _E15_ORACLE)
def e15_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: per-user view→purchase attribution — ALL views inside the
    hour before each purchase (the interval-JOIN shape; e7 is the
    as-of LAST-view variant). Batch plan: filtered self-join with a
    range predicate; both sides shuffle once on user_id."""
    from file_indexer_spark.streaming import joins as sjoins

    return sjoins.view_purchase_pairs(events_df(spark, sf_dir)).orderBy(
        "purchase_id", "view_id"
    )


@register("e15b_interval_join_outer", _E15B_ORACLE)
def e15b_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15b: the LEFT OUTER attribution — every purchase emits, NULL
    view columns when nothing preceded it in the window (the
    unattributed-conversion report)."""
    from file_indexer_spark.streaming import joins as sjoins

    return sjoins.view_purchase_pairs_outer(events_df(spark, sf_dir)).orderBy(
        "purchase_id", "view_id"
    )


@register("e17_event_debounce", _E17_ORACLE)
def e17_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17: per-(user, type) burst collapse — e1's gaps-and-islands
    program with a first-event reduction; one shuffle, no joins."""
    return ev.debounce_events(load_table(spark, sf_dir, "events"))


@register("e18_deadline_funnel", _E18_ORACLE)
def e18_deadline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18: one user-key shuffle collecting per-stage timestamp lists;
    the greedy deadline match is a map-side array_min/filter cascade."""
    from file_indexer_spark.operators import events as evo

    return evo.deadline_funnel(events_df(spark, sf_dir))


@register(
    "e19_linear_attribution",
    f"""
    -- Linear multi-touch attribution: each purchase's value (e6
    -- fixed-point) split equally across the user's views inside the
    -- {_E19_GAP_MIN}-minute window before it, rolled up per view.
    -- Integer DIV on nonnegative amounts — exact on both engines;
    -- remainder micro-units deliberately dropped.
    WITH pairs AS (
        SELECT p.event_id AS purchase_id, v.event_id AS view_id,
               p.user_id,
               CAST(ROUND(p.value * 1000000) AS BIGINT) AS value_e6
        FROM events p
        JOIN events v
          ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL {_E19_GAP_MIN} MINUTE
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'),
    shares AS (
        SELECT view_id, user_id,
               value_e6 // COUNT(*) OVER (PARTITION BY purchase_id)
                   AS share_e6
        FROM pairs)
    SELECT view_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(share_e6) AS BIGINT) AS attributed_e6
    FROM shares GROUP BY view_id, user_id ORDER BY view_id
    """,
)
def e19_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: value ALLOCATION over the e15 pair set — pair join (one
    user_id shuffle per side), per-purchase touch count as a window,
    per-view hash-aggregate rollup."""
    return ev.linear_attribution(events_df(spark, sf_dir))


@register("e20_heavy_hitters", _E20_ORACLE)
def e20_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20: two-pass heavy hitters — pass 1 is a shuffle-free
    Misra-Gries summary per partition (Arrow batch stream, <= C keys
    out per partition), pass 2 an exact count of the broadcast
    candidate set. The aggregate's exchange is O(candidates), never
    O(distinct users) — the 100 TB plan shape for frequency queries
    over unbounded key domains."""
    return ev.heavy_hitters(events_df(spark, sf_dir))


_E21_HL_US = ev.DECAY_HALF_LIFE_DAYS * 86_400_000_000


@register(
    "e21_decayed_engagement",
    f"""
    -- Recency-weighted engagement: each event weighs 2^(-q/4) where
    -- q is its age in whole QUARTER half-lives (anchored on the
    -- corpus max event time). The weight decomposes into an exact
    -- power of two times a sqrt-composed fractional factor — both
    -- IEEE-correctly-rounded, hence bit-identical across engines
    -- (pow() is not; mx3's precedent) — then QUANTIZES to integer
    -- micro-units per row, so the per-user sums are exact integers.
    WITH anchor AS (SELECT MAX(ts) AS anchor_ts FROM events),
    quarters AS (
        SELECT user_id,
               ((epoch_us(anchor_ts) - epoch_us(ts)) * 4) // {_E21_HL_US}
                   AS q_qhl,
               CAST(ROUND(value * 100) AS BIGINT) AS value_e2
        FROM events, anchor),
    weighted AS (
        SELECT user_id, value_e2,
               CASE WHEN q_qhl // 4 >= 21 THEN CAST(0 AS BIGINT)
               ELSE CAST(ROUND(
                   (CASE q_qhl % 4 WHEN 0 THEN CAST(1.0 AS DOUBLE)
                         WHEN 1 THEN sqrt(sqrt(0.5))
                         WHEN 2 THEN sqrt(0.5)
                         ELSE sqrt(0.5) * sqrt(sqrt(0.5)) END)
                   / CAST((CAST(1 AS BIGINT) << CAST(q_qhl // 4 AS INTEGER))
                          AS DOUBLE)
                   * 1000000) AS BIGINT) END AS w_e6
        FROM quarters),
    scored AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(w_e6) AS BIGINT) AS decayed_count_e6,
               CAST(SUM(w_e6 * value_e2) AS BIGINT) AS decayed_value_e8
        FROM weighted GROUP BY user_id)
    SELECT CAST(row_number() OVER (ORDER BY decayed_value_e8 DESC, user_id)
               AS INTEGER) AS rank,
           user_id, n_events, decayed_count_e6, decayed_value_e8
    FROM scored
    ORDER BY decayed_value_e8 DESC, user_id LIMIT 20
    """,
)
def e21_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21: the recency-weighted counterpart of e4's top-users — one
    1-row anchor broadcast, map-side weight expression, one user-key
    hash aggregate, TakeOrderedAndProject top-k. Scan-bound."""
    return ev.decayed_engagement(events_df(spark, sf_dir))
