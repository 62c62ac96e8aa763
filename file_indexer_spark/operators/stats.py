"""Analytics surface (reference A1-A11): stats, histogram, extension
top-k, modification timeline, two-phase work selection.

Everything here is one pass over ``files`` with hash aggregation —
partial (map-side) + final agg in Spark, so at 100 TB each executor
pre-aggregates its partitions and only tiny grouped states shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_indexer_spark.functions.files_fns import (
    extension_expr,
    size_band_expr,
    size_band_order_expr,
)
from file_indexer_spark.tables import FIXED_NOW


def database_stats(files: DataFrame) -> DataFrame:
    """The 13-field DatabaseStats row (reference database.py:395-457,
    models.py:113-127; also indexer.py get_stats :847-913).

    One aggregate per ``checksum`` (the NULL-checksum files are one more
    group) gives every field but ``unique_directories``: the totals and
    extremes roll up from the groups, ``unique_checksums`` counts the
    non-NULL keys and the duplicate pair (A8) counts the groups of more
    than one file. The distinct-``path`` count is the second one-row
    frame, cross-joined. Two ``COUNT(DISTINCT)`` in one aggregate would
    plan an Expand, which discards the input's partitioning and so adds
    a shuffle even over a one-partition snapshot; this plan has none
    there, and runs as two jobs (the cross join broadcasts one row).
    """
    per_checksum = files.groupBy("checksum").agg(
        F.count("*").alias("n"),
        F.sum("file_size").alias("size"),
        F.count("file_size").alias("sized"),
        F.max("file_size").alias("largest"),
        F.min("file_size").alias("smallest"),
        F.max("modification_datetime").alias("newest"),
        F.min("modification_datetime").alias("oldest"),
    )
    hashed = F.col("checksum").isNotNull()
    duplicated = hashed & (F.col("n") > 1)
    total = F.coalesce(F.sum("n"), F.lit(0))
    with_checksum = F.coalesce(F.sum(F.when(hashed, F.col("n"))), F.lit(0))
    basic = per_checksum.agg(
        total.alias("total_files"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("total_size"),
        with_checksum.alias("files_with_checksums"),
        (total - with_checksum).alias("files_without_checksums"),
        # NULL exactly when no file has a size, so never 0 / 0
        (F.sum("size") / F.sum("sized")).alias("average_file_size"),
        F.max("largest").alias("largest_file_size"),
        F.min("smallest").alias("smallest_file_size"),
        F.max("newest").alias("most_recent_modification"),
        F.min("oldest").alias("oldest_modification"),
        F.count("checksum").alias("unique_checksums"),
        F.count(F.when(duplicated, 1)).alias("duplicate_groups"),
        F.coalesce(F.sum(F.when(duplicated, F.col("n"))), F.lit(0)).alias("duplicate_files"),
    )
    directories = files.agg(F.countDistinct("path").alias("unique_directories"))
    return basic.crossJoin(directories).select(
        "total_files",
        "total_size",
        "files_with_checksums",
        "files_without_checksums",
        "average_file_size",
        "largest_file_size",
        "smallest_file_size",
        "most_recent_modification",
        "oldest_modification",
        "unique_directories",
        "unique_checksums",
        "duplicate_groups",
        "duplicate_files",
    )


def size_histogram(files: DataFrame) -> DataFrame:
    """A9 size distribution (reference database.py:465-491)."""
    return (
        files.select(
            size_band_expr().alias("size_range"),
            size_band_order_expr().alias("sort_order"),
            "file_size",
        )
        .groupBy("size_range", "sort_order")
        .agg(
            F.count("*").alias("count"),
            F.sum("file_size").cast("long").alias("total_size"),
        )
        .orderBy("sort_order")
    )


def extension_stats(files: DataFrame, top_k: int = 20) -> DataFrame:
    """A10 extension top-k (reference database.py:494-514).

    Reference orders by count DESC LIMIT 20 — not a total order; we
    tie-break on extension so pages are deterministic. TakeOrdered
    (top-k) physical plan: no full sort at scale.
    """
    return (
        files.select(extension_expr().alias("extension"), "file_size")
        .groupBy("extension")
        .agg(
            F.count("*").alias("count"),
            F.sum("file_size").cast("long").alias("total_size"),
            F.avg("file_size").alias("average_size"),
        )
        .orderBy(F.desc("count"), "extension")
        .limit(top_k)
    )


def modification_timeline(files: DataFrame, now: str = FIXED_NOW) -> DataFrame:
    """A11 monthly timeline, last 12 months (reference database.py:517-526).

    The reference uses CURRENT_DATE; we take ``now`` as a parameter so
    tests and the oracle diff are deterministic (SURVEY §7 risk note).
    """
    cutoff = F.add_months(F.to_date(F.lit(now)), -12)
    return (
        files.filter(F.col("modification_datetime") >= cutoff.cast("timestamp"))
        .select(F.date_trunc("month", "modification_datetime").alias("month"), "file_size")
        .groupBy("month")
        .agg(
            F.count("*").alias("count"),
            F.sum("file_size").cast("long").alias("total_size"),
        )
        .orderBy("month")
    )


def phase2_work_selection(files: DataFrame, skip_empty_files: bool = True) -> DataFrame:
    """A7 two-phase work selection (reference indexer.py:1489-1510;
    semantics locked by tests/test_script_checksum_validation.py:80-115):
    sizes with >1 file where >= 1 file still lacks a checksum — only
    those files can possibly be duplicates, so only they get hashed
    (the reference's core optimization: ~95% fewer checksums,
    README.md:209-213)."""
    base = files
    if skip_empty_files:
        base = base.filter(F.col("file_size") > 0)
    return (
        base.groupBy("file_size")
        .agg(
            F.count("*").alias("file_count"),
            F.sum(F.when(F.col("checksum").isNull(), 1).otherwise(0)).cast("long").alias("files_without_checksum"),
        )
        .filter((F.col("file_count") > 1) & (F.col("files_without_checksum") > 0))
        .orderBy("file_size")
    )


def phase2_files_to_hash(files: DataFrame, skip_empty_files: bool = True) -> DataFrame:
    """The phase-2 file set itself: NULL-checksum files whose size is in
    the A7 selection (reference indexer.py:1534-1541) — a semi-join on
    file_size, then the NULL filter. At scale the A7 side is small
    (distinct sizes), so it broadcasts."""
    sizes = phase2_work_selection(files, skip_empty_files).select("file_size")
    return (
        files.join(F.broadcast(sizes), "file_size", "left_semi")
        .filter(F.col("checksum").isNull())
        .select("path", "filename", "file_size")
        .orderBy("path", "filename")
    )


def incremental_histogram_refresh(old_hist: DataFrame, feed: DataFrame) -> DataFrame:
    """w15: maintain the A9 size histogram as a MATERIALIZED VIEW from
    a w14 change feed — the lakehouse CDF pattern: refresh cost is
    O(feed), never O(table).

    Each feed row contributes a signed delta: insert/update_postimage
    add (+1, +file_size) to its band, delete/update_preimage subtract —
    an update that moves a row across bands therefore lands as a
    (-1 old band, +1 new band) pair, and a no-op rewrite contributes
    nothing because the feed provably omits it. The banded deltas are
    map-side expressions over the batch-sized feed; the merge with the
    stored view is one hash agg over O(bands) rows. Bands emptied by
    deletions drop out (count > 0), matching a from-scratch recompute.
    """
    sign = (
        F.when(F.col("change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    deltas = feed.select(
        size_band_expr().alias("size_range"),
        size_band_order_expr().alias("sort_order"),
        sign.alias("d_count"),
        (sign * F.col("file_size")).alias("d_size"),
    ).groupBy("size_range", "sort_order").agg(
        F.sum("d_count").alias("count"),
        F.sum("d_size").cast("long").alias("total_size"),
    )
    return (
        old_hist.unionByName(deltas)
        .groupBy("size_range", "sort_order")
        .agg(
            F.sum("count").cast("long").alias("count"),
            F.sum("total_size").cast("long").alias("total_size"),
        )
        .filter(F.col("count") > 0)
        .orderBy("sort_order")
    )
