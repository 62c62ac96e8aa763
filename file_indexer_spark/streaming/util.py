"""Shared streaming test/drain plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def run_to_memory_sink(
    stream_df: DataFrame, table_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain everything currently available into an in-memory table,
    stop, and return the drained rows — the deterministic harness every
    streaming gate uses (ONE definition; the per-module helpers
    delegate here so sink behavior can't drift between gates). The
    sink's temp view is dropped before returning: the returned frame
    still holds the sink's rows, and no drain leaves a view behind in
    the session catalog. ``table_name`` must be unique among drains
    running at the same time."""
    query = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = stream_df.sparkSession
    rows = spark.table(table_name)
    spark.catalog.dropTempView(table_name)
    return rows
