"""Multi-dimensional file search (reference P1/P2/P3/P5/P7, O1/O2).

Mirrors the reference's dynamic conjunctive filter builders
(file_indexer/indexer.py:697-749 and
api_backend/file_indexer_api/database.py:56-108) as chained DataFrame
filters. Every predicate is a Catalyst expression, so LIKE /
range / null-state filters push down into the parquet scan and
column pruning applies — at 100 TB the scan only reads the
row groups whose min/max stats can match.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def search_matches(
    files: DataFrame,
    filename_pattern: str | None = None,
    path_pattern: str | None = None,
    checksum: str | None = None,
    has_checksum: bool | None = None,
    min_file_size: int | None = None,
    max_file_size: int | None = None,
    modified_after: datetime | str | None = None,
    modified_before: datetime | str | None = None,
) -> DataFrame:
    """All search dimensions of the reference, AND-combined, unordered:
    the predicate half of :func:`search_files`, for callers that count
    the matches in the same pass that orders and pages them."""
    out = files
    if filename_pattern is not None:
        out = out.filter(F.col("filename").like(filename_pattern))
    if path_pattern is not None:
        out = out.filter(F.col("path").like(path_pattern))
    if checksum is not None:
        out = out.filter(F.col("checksum") == checksum)
    if has_checksum is True:
        out = out.filter(F.col("checksum").isNotNull())
    elif has_checksum is False:
        out = out.filter(F.col("checksum").isNull())
    if min_file_size is not None:
        out = out.filter(F.col("file_size") >= min_file_size)
    if max_file_size is not None:
        out = out.filter(F.col("file_size") <= max_file_size)
    if modified_after is not None:
        out = out.filter(F.col("modification_datetime") >= F.lit(modified_after))
    if modified_before is not None:
        out = out.filter(F.col("modification_datetime") <= F.lit(modified_before))
    return out


def search_order(order_by_recency: bool = False) -> list:
    """The ordering half: ``path, filename`` (reference indexer.py:737)
    or, for the API's recency-ranked page, ``modification_datetime DESC,
    path, filename`` (database.py:118-128) — both total orders, so
    LIMIT/OFFSET pages are deterministic."""
    keys = ["path", "filename"]
    return [F.desc("modification_datetime"), *keys] if order_by_recency else keys


def search_files(
    files: DataFrame,
    filename_pattern: str | None = None,
    path_pattern: str | None = None,
    checksum: str | None = None,
    has_checksum: bool | None = None,
    min_file_size: int | None = None,
    max_file_size: int | None = None,
    modified_after: datetime | str | None = None,
    modified_before: datetime | str | None = None,
    order_by_recency: bool = False,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """:func:`search_matches` ordered by :func:`search_order`, then
    sliced to ``offset``/``limit``."""
    out = search_matches(
        files,
        filename_pattern,
        path_pattern,
        checksum,
        has_checksum,
        min_file_size,
        max_file_size,
        modified_after,
        modified_before,
    ).orderBy(*search_order(order_by_recency))
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def point_lookup(files: DataFrame, path: str, filename: str) -> DataFrame:
    """PK point lookup (reference P5, indexer.py:618-625)."""
    return files.filter((F.col("path") == path) & (F.col("filename") == filename))


def keyset_page(
    files: DataFrame,
    after_path: str | None = None,
    after_filename: str | None = None,
    limit: int = 10_000,
) -> DataFrame:
    """P7: keyset (cursor) pagination over the (path, filename) PK.

    Reference file_indexer/indexer.py:1083-1101 —
    ``WHERE (path > ?) OR (path = ? AND filename > ?) ORDER BY path,
    filename LIMIT ?``. The composite predicate is a plain Catalyst
    filter, so parquet row groups entirely below the cursor are pruned
    by min/max stats; the sort+limit compiles to TakeOrderedAndProject
    (per-partition top-N, no full sort).
    """
    out = files
    if after_path is not None:
        cursor = F.col("path") > after_path
        if after_filename is not None:
            cursor = cursor | (
                (F.col("path") == after_path) & (F.col("filename") > after_filename)
            )
        out = out.filter(cursor)
    return out.orderBy("path", "filename").limit(limit)


def keyset_directory_page(
    files: DataFrame,
    after_path: str | None = None,
    limit: int = 10_000,
) -> DataFrame:
    """P7 directory variant: cursor-paged DISTINCT directories.

    Reference file_indexer/indexer.py:1329-1361 — ``SELECT DISTINCT
    path FROM files WHERE path > ? ORDER BY path LIMIT ?`` (the page
    source for empty-directory cleanup, D4). The distinct's shuffle
    carries only the paths above the cursor (filter pushes below the
    aggregate); sort+limit is TakeOrderedAndProject.
    """
    out = files.select("path")
    if after_path is not None:
        out = out.filter(F.col("path") > after_path)
    return out.distinct().orderBy("path").limit(limit)


def batch_probe(files: DataFrame, keys: DataFrame) -> DataFrame:
    """Batch PK probe (reference P6, indexer.py:228-266: row-value IN).

    The reference builds a 1000-pair ``(path, filename) IN ((?,?),...)``
    literal per batch to avoid N+1 point queries. In Spark the batch IS
    a DataFrame; a broadcast hash join is the native bulk probe and
    scales past any literal-size limit.
    """
    return files.join(F.broadcast(keys.select("path", "filename")), ["path", "filename"], "inner")
