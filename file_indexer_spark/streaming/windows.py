"""Watermarked windowed aggregation over a streaming ``events`` source.

The streaming rendition of ``operators.events.tumbling_counts``: read
event files as they land, aggregate per (1-hour tumbling window,
event_type) with a watermark bounding both state size and late-data
acceptance. State shape at scale: one row per open (window, type) —
the watermark lets Spark drop windows older than the threshold, so
state is O(active windows), not O(stream length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: every new file in ``source_dir`` becomes a
    micro-batch (schema must be declared for streaming reads)."""
    reader = spark.readStream.format(fmt).schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(source_dir)


def windowed_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding/hopping)
    window counts with late-data tolerance. Works on both a
    streaming DataFrame (stateful, watermark-bounded) and a batch one
    (degenerates to a plain groupBy) — the tests pin both to the same
    answer as the batch operator.

    Sliding state scale: window/slide overlapping rows per event (4 for
    1h/15min) — state is O(active windows x keys x overlap); the
    watermark still evicts closed windows.
    """
    win = (
        F.window("ts", window_duration, slide_duration)
        if slide_duration
        else F.window("ts", window_duration)
    )
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def windowed_total_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "4 hours",
) -> DataFrame:
    """Window-only rollup (no event_type key) — the st12 late-data
    accounting gate's aggregation: one state row per open window."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
        )
    )


def dropped_by_watermark_total(query) -> int:
    """ENGINE-OBSERVED late-row count: the sum of
    ``numRowsDroppedByWatermark`` over a finished query's progress —
    Spark's own accounting of input rows it refused as older than the
    watermark. st12 emits this next to the batch-derived count so the
    oracle pins Spark's ACTUAL drop behavior (enforcement watermark =
    max event time through the micro-batch before last, minus delay;
    drop rule window_end <= watermark — both verified empirically and
    gated, not assumed)."""
    total = 0
    for p in query.recentProgress:
        for so in p["stateOperators"] or []:
            total += int(so.get("numRowsDroppedByWatermark", 0))
    return total


def run_to_memory_sink(stream_df: DataFrame, table_name: str) -> DataFrame:
    """Drain everything currently available into an in-memory table,
    stop, and return its rows (complete mode: windowed aggs re-emit
    full state)."""
    from file_indexer_spark.streaming.util import run_to_memory_sink as _run

    return _run(stream_df, table_name, output_mode="complete")


def run_update_mode_to_parquet(stream_df: DataFrame, out_dir: str):
    """st11: drain a stateful aggregation in UPDATE mode, landing each
    micro-batch's emission (only the keys whose aggregate CHANGED that
    batch) as parquet tagged with the batch id.

    Update mode is the third output-mode class (st1-st10 cover append +
    complete/foreachBatch): state is still watermark-evicted like
    append, but a key re-emits an AMENDED row every batch it grows
    instead of waiting to close — the low-latency dashboard contract.
    The union of emissions is an upsert CHANGELOG; the batch-equivalent
    final state is the last emission per key (:func:`last_emission`).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(out_dir)

    query = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def last_emission(spark: SparkSession, out_dir: str, keys: list[str]) -> DataFrame:
    """Reduce an update-mode changelog to its final state: the
    highest-batch emission per key (one window over the small changelog
    — each key appears once per micro-batch it changed in, so the
    changelog is O(keys x batches), not O(events))."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy(*keys).orderBy(F.desc("batch_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch_id")
    )


def windowed_uniques(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark_delay: str = "2 days",
    rsd: float = 0.05,
) -> DataFrame:
    """st6: streaming distinct-user counts per tumbling window via
    HyperLogLog++ sketches — the streaming rendition of e13a.

    Exact COUNT(DISTINCT) is not supported in streaming aggregations
    (state would be one row per distinct key, unbounded); the HLL
    sketch IS the streaming-native answer: per-window state is one
    fixed-size mergeable sketch, micro-batches merge registers
    losslessly, so the final estimate is bit-identical to running
    ``approx_count_distinct`` over the same rows in batch (the test
    pins stream == batch). Watermark evicts closed windows, keeping
    state O(open windows).
    """
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.approx_count_distinct("user_id", rsd).cast("long").alias("n_users_approx"),
        )
        .select(
            F.col("win.start").alias("day"),
            "n_events",
            "n_users_approx",
        )
    )
