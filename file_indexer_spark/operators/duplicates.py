"""Duplicate detection (reference J1/J2/J3, A8, A12, A13, D5).

The reference's core product: files sharing a checksum. Its J1 is a
self equi-join with a rowid inequality (file_indexer/indexer.py:757-764)
— DuckDB-specific and quadratic-ish in group size. The idiomatic Spark
formulation is a window count over ``checksum`` (one shuffle, no
self-join, no rowid), which produces the identical row set; the grouped
variants (J2/J3) aggregate first and join the small group page back
with a broadcast hash join.

Scale notes (100 TB): the window/groupBy shuffles on ``checksum`` —
a high-cardinality, uniformly distributed hash, so no skew. The
group-page join broadcasts (pages are <= 1000 groups by API contract,
reference models.py:83-88). No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_files(files: DataFrame) -> DataFrame:
    """Every file whose checksum is shared by >= 1 other file.

    Reference J1 (indexer.py:757-764) without the self-join: window
    count per checksum, filter > 1. Output ordered by
    (checksum, path, filename) like the reference.
    """
    w = Window.partitionBy("checksum")
    return (
        files.filter(F.col("checksum").isNotNull())
        .withColumn("group_count", F.count("*").over(w))
        .filter(F.col("group_count") > 1)
        .drop("group_count")
        .orderBy("checksum", "path", "filename")
    )


def scope_to_pattern(
    files: DataFrame,
    filename_pattern: str | None = None,
    path_pattern: str | None = None,
    min_file_size: int | None = None,
    max_file_size: int | None = None,
) -> DataFrame:
    """J3 scoping (database.py:225-292): find the checksums of files
    MATCHING the pattern (and size bounds), then return ALL copies of
    those checksums — even copies that don't match. No pattern => plain
    non-null-checksum scope within the size bounds. Shared by the
    grouped query and the serving layer.

    The reference's IN-subquery is a window flag per checksum here: it
    needs only a clustering on ``checksum``, which the grouping on
    (checksum, file_size) that follows reuses, and which a
    one-partition input already has — so no join and no broadcast."""
    base = files.filter(F.col("checksum").isNotNull())
    match = F.lit(True)
    if min_file_size is not None:
        match &= F.col("file_size") >= min_file_size
    if max_file_size is not None:
        match &= F.col("file_size") <= max_file_size
    if filename_pattern is None and path_pattern is None:
        return base.filter(match)
    if filename_pattern is not None:
        match &= F.col("filename").like(filename_pattern)
    if path_pattern is not None:
        match &= F.col("path").like(path_pattern)
    return (
        base.withColumn("_scoped", F.bool_or(match).over(Window.partitionBy("checksum")))
        .filter("_scoped")
        .drop("_scoped")
    )


def duplicate_groups(
    files: DataFrame,
    min_group_size: int = 2,
    min_file_size: int | None = None,
    max_file_size: int | None = None,
    filename_pattern: str | None = None,
    path_pattern: str | None = None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """Paginated duplicate groups with member rows (reference J2/J3,
    database.py:180-345).

    Pattern-scoped variant (J3): find checksums of files MATCHING the
    pattern, then report ALL copies of those checksums (even copies not
    matching the pattern) — a left-semi join against the distinct
    target checksums (database.py:225-292's IN-subquery).

    Group page order: (file_count DESC, file_size DESC, checksum) —
    the reference orders by (COUNT DESC, file_size DESC) only
    (database.py:325); we add ``checksum`` as the tie-break so
    LIMIT pages are deterministic. Final row order:
    (file_count DESC, checksum, path, filename) (database.py:338).
    """
    scope = scope_to_pattern(files, filename_pattern, path_pattern, min_file_size, max_file_size)

    groups = (
        scope.groupBy("checksum", "file_size")
        .agg(F.count("*").alias("file_count"))
        .filter(F.col("file_count") >= min_group_size)
    )
    # Sort + broadcast ONLY when paginating: a page is <= 1000 groups by
    # API contract (reference models.py:83-88) so the broadcast is tiny;
    # the unpaginated path (J3) can be millions of groups at 100 TB —
    # no forced sort (the join discards order) and join strategy left
    # to AQE / autoBroadcastJoinThreshold.
    if limit is not None or offset:
        groups = groups.orderBy(F.desc("file_count"), F.desc("file_size"), "checksum")
        if offset:
            groups = groups.offset(offset)
        if limit is not None:
            groups = groups.limit(limit)
        groups = F.broadcast(groups)

    return (
        scope.join(groups.select("checksum", "file_size", "file_count"), ["checksum", "file_size"])
        .select(
            "checksum",
            "file_size",
            "file_count",
            "path",
            "filename",
            "modification_datetime",
            "indexed_at",
        )
        .orderBy(F.desc("file_count"), "checksum", "path", "filename")
    )


def group_duplicates(files: DataFrame, min_group_size: int = 2) -> DataFrame:
    """DuplicateGroup rows with a nested files array (reference A12:
    Python dict-of-lists assembly at database.py:347-379 →
    ``collect_list(struct(...))``, sorted for determinism) plus the
    wasted_space metric (A13, database.py:357-359:
    file_size * (file_count - 1)), unordered: the aggregate half of
    :func:`duplicate_groups_nested`."""
    return (
        files.filter(F.col("checksum").isNotNull())
        .groupBy("checksum", "file_size")
        .agg(
            F.count("*").alias("file_count"),
            F.sort_array(F.collect_list(F.struct("path", "filename"))).alias("files"),
        )
        .filter(F.col("file_count") >= min_group_size)
        .withColumn("wasted_space", F.col("file_size") * (F.col("file_count") - 1))
    )


def group_order() -> list:
    """The ordering half: largest groups first, then the biggest files,
    ``checksum`` as the tie-break (a total order, so pages are stable)."""
    return [F.desc("file_count"), F.desc("file_size"), "checksum"]


def duplicate_groups_nested(files: DataFrame, min_group_size: int = 2) -> DataFrame:
    """:func:`group_duplicates` ordered by :func:`group_order`."""
    return group_duplicates(files, min_group_size).orderBy(*group_order())


def duplicates_report(files: DataFrame) -> DataFrame:
    """D5 find-duplicates report (indexer.py:796-837): every duplicate
    row labeled ORIGINAL (first by path, filename within its checksum
    group) or DUPLICATE, with per-row wasted_space accounting — the
    reference marks the first row it streams per group (indexer.py:822-826);
    with our deterministic order that is row_number() == 1."""
    w = Window.partitionBy("checksum")
    wo = w.orderBy("path", "filename")
    return (
        files.filter(F.col("checksum").isNotNull())
        .withColumn("file_count", F.count("*").over(w))
        .filter(F.col("file_count") > 1)
        .withColumn(
            "role",
            F.when(F.row_number().over(wo) == 1, F.lit("ORIGINAL")).otherwise(F.lit("DUPLICATE")),
        )
        .withColumn("wasted_space", F.when(F.col("role") == "DUPLICATE", F.col("file_size")).otherwise(F.lit(0)))
        .select("checksum", "path", "filename", "file_size", "file_count", "role", "wasted_space")
        .orderBy("checksum", "path", "filename")
    )


def duplicate_stats(files: DataFrame) -> DataFrame:
    """A8 (database.py:419-431): #groups and #files-in-groups, one row."""
    per_group = (
        files.filter(F.col("checksum").isNotNull())
        .groupBy("checksum")
        .agg(F.count("*").alias("file_count"))
        .filter(F.col("file_count") > 1)
    )
    return per_group.agg(
        F.coalesce(F.count("*"), F.lit(0)).alias("duplicate_groups"),
        F.coalesce(F.sum("file_count"), F.lit(0)).cast("long").alias("duplicate_files"),
    )


def total_wasted_space(files: DataFrame) -> DataFrame:
    """Sum of per-group wasted space (reference routers.py:132-133)."""
    return (
        files.filter(F.col("checksum").isNotNull())
        .groupBy("checksum", "file_size")
        .agg(F.count("*").alias("file_count"))
        .filter(F.col("file_count") > 1)
        .agg(
            F.coalesce(F.sum(F.col("file_size") * (F.col("file_count") - 1)), F.lit(0))
            .cast("long")
            .alias("total_wasted_space")
        )
    )
