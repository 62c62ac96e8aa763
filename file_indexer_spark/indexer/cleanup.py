"""Cleanup: deletion detection (reference D3/D4, indexer.py:1028-1420).

The reference pages through the DB in 10k keysets and probes the
filesystem per directory (directory-first optimization: one exists()
per dir, skip subdirs of deleted dirs — README.md:227-241 claims up to
90% fewer FS calls). In Spark the idiomatic shape is a fresh scan +
LEFT ANTI join — the scan is embarrassingly parallel and the anti-join
replaces every probe. A probe-mode is kept for the case where a rescan
is more expensive than targeted stat() calls (sparse deletions on slow
storage): it deduplicates to DISTINCT paths first — the same
directory-first trick, expressed relationally.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.indexer.files_table import PK, FilesTable
from file_indexer_spark.indexer.scan import scan_directory


def find_stale_files(table: FilesTable, fresh_scan: DataFrame) -> DataFrame:
    """Rows indexed under the scanned roots that no longer exist on disk."""
    return table.read().join(fresh_scan.select(*PK), PK, "left_anti")


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
    directory-first. Phase 1 checks each DISTINCT path once (the
    reference's _check_directory_existence, indexer.py:926-947); files
    under missing dirs are stale without any per-file syscall. Phase 2
    stats only files in surviving dirs.

    The result is materialized here (eager local checkpoint), so the
    caller's count and delete see the same rows and neither re-runs
    the stat passes."""
    files = table.read()
    dirs = files.select("path").distinct()

    def probe_dirs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"path": pdf["path"], "dir_exists": [os.path.isdir(p) for p in pdf["path"]]}
            )

    dir_state = dirs.mapInPandas(probe_dirs, schema="path string, dir_exists boolean")

    def probe_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            exists = [
                os.path.lexists(os.path.join(p, f)) for p, f in zip(pdf["path"], pdf["filename"])
            ]
            out = pdf[["path", "filename"]].copy()
            out["file_exists"] = exists
            yield out

    with_dir = files.select(*PK).join(dir_state, "path", "inner")
    in_dead_dir = with_dir.filter(~F.col("dir_exists")).select(*PK)
    survivors = with_dir.filter(F.col("dir_exists")).select(*PK)
    missing_files = (
        survivors.mapInPandas(probe_files, schema="path string, filename string, file_exists boolean")
        .filter(~F.col("file_exists"))
        .select(*PK)
    )
    return in_dead_dir.unionByName(missing_files).localCheckpoint(eager=True)


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
