"""Streaming curation funnel — pp1's dd1 → t2 → ct1 pass at ingestion.

The batch funnel (``operators.curation.curation_pipeline``) reviews a
finished corpus; this is the same policy applied WHILE documents land:

  * dd1 keeper — ``dropDuplicates`` on the content hash: state holds
    one entry per distinct hash, first-seen content passes, re-arrivals
    (within and across micro-batches) are dropped. First-seen equals
    the batch min-doc_id rule whenever delivery follows doc_id order —
    the contract an ingestion log (Kafka offsets, chronological file
    drops) naturally provides.
  * t2 quality — pure map-side expressions, the IDENTICAL score
    expression tree as the batch operator.
  * ct1 decontamination — the benchmark's distinct shingle-hash set is
    STATIC relative to the stream (eval sets change by release, not by
    micro-batch), so it rides along as a broadcast literal and each
    document scores itself map-side: no stream-static join, no second
    stateful aggregation. Eval sets are ~10^6-10^7 shingles — tens of
    MB, comfortably broadcastable; for sets past literal-expression
    comfort, swap in the exploded stream-static join + per-doc
    aggregation variant and roll up per source downstream.

The streaming query therefore has EXACTLY ONE stateful operator (the
dedup state store) and emits append-mode per-document decisions;
:func:`curation_accounting` rolls the sink plus the raw stream's
per-source counts into the same table the batch pp1 emits — the st7
pytest gate pins the two equal.

State at scale: O(distinct hashes) for dedup (bound it with
``dropDuplicatesWithinWatermark`` on unbounded streams); everything
else stateless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from file_indexer_spark.functions import hashing as H
from file_indexer_spark.operators.curation import BENCH_HEX, CONTAMINATION_THRESHOLD

DOCS_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_source_docs_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(DOCS_SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src)
    )


def bench_shingle_set(docs: DataFrame) -> list[int]:
    """The static benchmark shingle-hash set (ct1's ``bench`` side):
    distinct word-3-gram hashes of the benchmark slice. Computed once,
    batch, before the stream starts — the decontamination reference the
    stream broadcasts."""
    rows = (
        docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == BENCH_HEX
        )
        .select(F.split("text", " ").alias("words"))
        .select(F.explode(F.expr(H.spark_shingle_hashes_from_words())).alias("h"))
        .distinct()
        .collect()
    )
    return sorted(r["h"] for r in rows)


def curation_stream(stream: DataFrame, bench_shingles: list[int]) -> DataFrame:
    """Per-document curation decisions for FIRST-SEEN content (append
    mode). Emits (doc_id, source, n_tokens, keep_quality, keep_final):
    every emitted row already passed the dd1 keeper; the quality and
    decontamination verdicts use the batch operators' exact expression
    trees, so the downstream accounting reproduces pp1 bit-for-bit.
    """
    from file_indexer_spark.operators.curation import QUALITY_THRESHOLD
    from file_indexer_spark.operators.text import quality_composite, quality_signal_columns

    sig = quality_signal_columns()
    base = stream.select(
        "doc_id",
        "source",
        F.md5("text").alias("content_hash"),
        sig["n_tokens"].alias("n_tokens"),
        sig["n_distinct_tokens"].alias("n_distinct_tokens"),
        sig["n_stopwords"].alias("n_stopwords"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == BENCH_HEX
        ).alias("is_bench"),
        F.split("text", " ").alias("words"),
    ).withColumn("shingles", F.expr(H.spark_shingle_hashes_from_words()))
    deduped = base.dropDuplicates(["content_hash"])

    quality_ok = quality_composite() >= F.lit(QUALITY_THRESHOLD)

    bench_arr = (
        F.array(*(F.lit(int(h)).cast("long") for h in bench_shingles))
        if bench_shingles
        else F.expr("CAST(array() AS ARRAY<BIGINT>)")
    )
    n_overlap = F.size(F.filter("shingles", lambda s: F.array_contains(bench_arr, s)))
    overlap_frac = n_overlap.cast("double") / F.size("shingles").cast("double")
    contaminated = overlap_frac >= F.lit(CONTAMINATION_THRESHOLD)

    return deduped.select(
        "doc_id",
        "source",
        "n_tokens",
        quality_ok.cast("long").alias("keep_quality"),
        (quality_ok & ~F.col("is_bench") & ~contaminated).cast("long").alias("keep_final"),
    )


def run_to_memory_sink(stream_df: DataFrame, table_name: str) -> DataFrame:
    from file_indexer_spark.streaming.util import run_to_memory_sink as _run

    return _run(stream_df, table_name, output_mode="append")


def curation_accounting(raw_docs: DataFrame, decisions: DataFrame) -> DataFrame:
    """pp1's per-source review table from the stream's outputs:
    ``n_raw`` counts every ingested document (the stream's input side —
    dedup losers included), the funnel stages come from the decision
    sink. Emits the identical schema/ordering as the batch
    ``curation_pipeline``."""
    raw = raw_docs.groupBy("source").agg(F.count("*").cast("long").alias("n_raw"))
    kept = decisions.groupBy("source").agg(
        F.count("*").cast("long").alias("n_after_dedup"),
        F.sum("keep_quality").cast("long").alias("n_after_quality"),
        F.sum("keep_final").cast("long").alias("n_final"),
        F.sum(F.col("n_tokens") * F.col("keep_final")).cast("long").alias("tokens_final"),
    )
    return (
        raw.join(kept, "source", "left")
        .select(
            "source",
            "n_raw",
            *(
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_after_dedup", "n_after_quality", "n_final", "tokens_final")
            ),
            F.round(
                F.coalesce(F.col("n_final"), F.lit(0)).cast("double")
                / F.col("n_raw").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("source")
    )


# ---- st16: the drift monitor AT INGESTION ------------------------------

DRIFT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_drift_docs_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(DRIFT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src)
    )


def drift_histogram_stream(stream: DataFrame) -> DataFrame:
    """st16: ct6's length histogram maintained as STREAMING STATE —
    the per-(bin) base/batch counters grow incrementally as document
    batches land, so the drift monitor reads O(bins) state instead of
    rescanning the corpus per snapshot. State is O(bins) forever (the
    bin domain is fixed); update mode re-emits only the bins a
    micro-batch touched. The binning projection is
    ``curation.drift_bin_columns`` — THE shared definition, so stream
    and batch cannot diverge; the drift arithmetic runs over the
    drained final state via ``curation.drift_from_histogram``.
    """
    from file_indexer_spark.operators import curation as cu

    cols = cu.drift_bin_columns()
    binned = stream.select(
        cols["bin"].alias("bin"), cols["is_batch"].alias("is_batch")
    )
    return binned.groupBy("bin").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("base_n"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("batch_n"),
    )
