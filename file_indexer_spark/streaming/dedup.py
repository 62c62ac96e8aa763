"""Streaming exact dedup — dedup-at-ingestion for a document stream.

The training-pipeline shape: documents arrive continuously (crawl
drops, upload batches); only first-seen content may pass downstream.
``dropDuplicates`` on the content hash is Spark's stateful streaming
dedup operator — state holds one entry per distinct hash and filters
re-arrivals across micro-batches exactly.

Scale notes:
  * state size is O(distinct content hashes) — 16 bytes of key plus
    row overhead per distinct doc, partitioned by hash across the
    cluster (uniform, skew-free);
  * for unbounded streams, bound state with
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` (dedup
    window = watermark horizon) — unbounded exact dedup and infinite
    retention can't coexist;
  * only the hash enters state, never document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_docs_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src)
    )


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Distinct-content pass-through: one output row per content hash,
    first arrival wins, re-arrivals (within and across micro-batches)
    are filtered by the dedup state store."""
    return stream.select(F.md5(F.encode("text", "utf-8")).alias("content_hash")).dropDuplicates(
        ["content_hash"]
    )


def run_to_memory_sink(stream_df: DataFrame, table_name: str) -> DataFrame:
    from file_indexer_spark.streaming.util import run_to_memory_sink as _run

    return _run(stream_df, table_name, output_mode="append")
