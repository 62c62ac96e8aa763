"""Cleanup: deletion detection (reference D3/D4, indexer.py:1028-1420).

The reference pages through the DB in 10k keysets and probes the
filesystem per directory (directory-first optimization: one exists()
per dir, skip subdirs of deleted dirs — README.md:227-241 claims up to
90% fewer FS calls). In Spark the idiomatic shape is a fresh scan +
LEFT ANTI join — the scan is embarrassingly parallel and the anti-join
replaces every probe. A probe-mode is kept for the case where a rescan
is more expensive than targeted stat() calls (sparse deletions on slow
storage): each task stats each distinct path it holds once, before any
file under it — the same directory-first trick.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.indexer.files_table import PK, FilesTable
from file_indexer_spark.indexer.scan import scan_directory

if TYPE_CHECKING:  # pandas runs on the executors; the driver skips its import
    import pandas as pd


def cleanup_deleted_files(
    spark: SparkSession,
    table: FilesTable,
    root: str,
    recursive: bool = True,
    scanned: DataFrame | None = None,
) -> int:
    """D3 via rescan + anti-join; returns #rows deleted."""
    scanned = scanned if scanned is not None else scan_directory(spark, root, recursive)
    root = os.path.abspath(root)
    in_scope = table.read().filter(
        (F.col("path") == root) | F.col("path").startswith(root + os.sep)
        if recursive
        else (F.col("path") == root)
    )
    stale = in_scope.join(scanned.select(*PK), PK, "left_anti").select(*PK).cache()
    try:
        n = stale.count()
        if n:
            table.delete(stale)
        return n
    finally:
        stale.unpersist()


def probe_deleted_files(table: FilesTable) -> DataFrame:
    """Probe-mode D3: no rescan — executors stat() each indexed entry,
    directory-first. Each task checks each distinct path it holds once
    (the reference's _check_directory_existence, indexer.py:926-947);
    files under a missing dir are stale without any per-file syscall,
    and only files in surviving dirs are stat()ed. On a bucketed table
    a path's rows share one bucket dir, so as a rule they meet in one
    task.

    Each stale row carries ``in_vanished_dir``: true for a row whose
    directory is gone, false for a missing file in a surviving
    directory. Every row under a vanished directory is already here,
    so a later :func:`cleanup_empty_directories` pass finds none.

    One pass over the table's rows, with no join: the result keeps the
    read's partitioning and size, so over a table of one split its
    count and the delete that follows plan no exchange.

    The result is materialized here (eager local checkpoint), so the
    caller's count and delete see the same rows and neither re-runs
    the stat passes."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dir_exists: dict[str, bool] = {}
        for pdf in batches:
            gone, stale = [], []
            for p, f in zip(pdf["path"], pdf["filename"]):
                if p not in dir_exists:
                    dir_exists[p] = os.path.isdir(p)
                gone.append(not dir_exists[p])
                stale.append(gone[-1] or not os.path.lexists(os.path.join(p, f)))
            out = pdf[["path", "filename"]].copy()
            out["in_vanished_dir"] = gone
            yield out.loc[stale]

    return (
        table.read()
        .select(*PK)
        .mapInPandas(probe, schema="path string, filename string, in_vanished_dir boolean")
        .localCheckpoint(eager=True)
    )


def cleanup_empty_directories(spark: SparkSession, table: FilesTable) -> int:
    """D4 (indexer.py:1293-1420): drop all rows whose directory no
    longer exists. Probes DISTINCT paths only; returns #rows deleted."""
    files = table.read()
    dirs = files.select("path").distinct()

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = [not os.path.isdir(p) for p in pdf["path"]]
            yield pdf[keep]

    dead = dirs.mapInPandas(probe, schema="path string").cache()
    try:
        n_rows = files.join(dead, "path", "left_semi").count()
        if n_rows:
            table.delete_paths(dead)
        return n_rows
    finally:
        dead.unpersist()
