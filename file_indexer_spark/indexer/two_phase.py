"""Incremental + two-phase indexing (reference D1/D2/D7).

``update_index`` = the reference's ``update_database``
(indexer.py:450-600): scan ⟗ stored on the PK, with mtime+size change
detection deciding keep / re-checksum (indexer.py:294-309). One
distributed join replaces the reference's 1000-row batch loop and
row-value-IN probes.

``two_phase_index`` = the reference's flagship optimization
(indexer.py:1646-1691): phase 1 indexes metadata with hashing off;
phase 2 hashes ONLY files whose size collides with another file and
where the group still lacks a checksum (the A7 work selection,
indexer.py:1489-1510) — at 100 TB this is what turns "hash everything"
into "hash the ~5% that could possibly be duplicates"
(README.md:209-213).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.indexer.checksum import (
    DEFAULT_MAX_CHECKSUM_SIZE,
    add_checksums,
    checksum_eligible_expr,
    hashing_off,
)
from file_indexer_spark.indexer.files_table import PK, FilesTable
from file_indexer_spark.indexer.scan import scan_with_counters
from file_indexer_spark.operators.stats import phase2_work_selection


@dataclass
class IndexStats:
    """Session counters (reference D7, indexer.py:79-87) — derived from
    the merge plan's labels instead of mutable in-memory counters."""

    files_inserted: int = 0
    files_updated: int = 0
    files_unchanged: int = 0
    checksums_calculated: int = 0
    checksums_reused: int = 0
    extra: dict = field(default_factory=dict)


def _classified_merge(scanned: DataFrame, stored: DataFrame) -> DataFrame:
    """Full-outer join scan vs stored, labeling each file's fate."""
    s = scanned.select(
        F.col("path"),
        F.col("filename"),
        F.col("modification_datetime").alias("new_mtime"),
        F.col("file_size").alias("new_size"),
    )
    t = stored.select(
        "path",
        "filename",
        F.col("checksum").alias("old_checksum"),
        F.col("modification_datetime").alias("old_mtime"),
        F.col("file_size").alias("old_size"),
        F.col("indexed_at").alias("old_indexed_at"),
    )
    joined = s.join(t, PK, "full_outer")
    return joined.withColumn(
        "fate",
        F.when(F.col("new_mtime").isNull(), F.lit("missing"))  # in DB, not on disk
        .when(F.col("old_mtime").isNull(), F.lit("insert"))
        .when(
            (F.col("new_mtime") == F.col("old_mtime")) & (F.col("new_size") == F.col("old_size")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("update")),
    )


def update_index(
    spark: SparkSession,
    table: FilesTable,
    root: str,
    recursive: bool = True,
    max_checksum_size: int | None = DEFAULT_MAX_CHECKSUM_SIZE,
    skip_empty_files: bool = True,
    algorithm: str = "sha256",
    scanned: DataFrame | None = None,
) -> IndexStats:
    """Incremental index of ``root`` into ``table`` (reference D1).

    Unchanged files keep their stored checksum (reuse counter); new and
    changed files are hashed iff eligible. Rows for files that vanished
    are left in place — deletion is cleanup's job (D3), as in the
    reference.
    """
    scan_counters: dict[str, int] = {}
    if scanned is None:
        scanned, scan_counters = scan_with_counters(spark, root, recursive)
    merged = _classified_merge(scanned, table.read()).cache()
    hashed = None
    try:
        # one pass: fate counts + reuse (reference indexer.py:~303 only
        # counts a reuse when the stored checksum was actually non-NULL)
        counts = {
            r["fate"]: (r["n"], r["with_checksum"])
            for r in merged.groupBy("fate")
            .agg(F.count("*").alias("n"), F.count("old_checksum").alias("with_checksum"))
            .collect()
        }

        changed = merged.filter(F.col("fate").isin("insert", "update")).select(
            "path",
            "filename",
            F.col("new_mtime").alias("modification_datetime"),
            F.col("new_size").alias("file_size"),
        )
        n_hashed = n_hash_errors = 0
        if hashing_off(max_checksum_size):  # phase 1: no hashing job
            upserts = changed.withColumn("checksum", F.lit(None).cast("string"))
        else:
            eligible = checksum_eligible_expr(max_checksum_size, skip_empty_files)
            no_hash = changed.filter(~eligible).withColumn("checksum", F.lit(None).cast("string"))
            # cache: the counts and upsert() both consume it — without the
            # cache every changed file would be opened and hashed twice
            # (and could even hash differently between the two executions)
            hashed = add_checksums(changed.filter(eligible), algorithm).cache()
            # every hashed row was eligible, so a NULL checksum means the
            # executor could not read the file (reference D6 counts
            # permission errors without failing the run, indexer.py:343-351)
            got = hashed.agg(F.count("*").alias("n"), F.count("checksum").alias("ok")).first()
            n_hashed, n_hash_errors = got["n"], got["n"] - got["ok"]
            upserts = hashed.unionByName(no_hash.select(hashed.columns))
        table.upsert(upserts.withColumn("indexed_at", F.current_timestamp()))

        return IndexStats(
            files_inserted=counts.get("insert", (0, 0))[0],
            files_updated=counts.get("update", (0, 0))[0],
            files_unchanged=counts.get("unchanged", (0, 0))[0],
            checksums_calculated=n_hashed - n_hash_errors,
            checksums_reused=counts.get("unchanged", (0, 0))[1],
            extra={
                "missing_from_disk": counts.get("missing", (0, 0))[0],
                "hash_errors": n_hash_errors,
                **scan_counters,
            },
        )
    finally:
        merged.unpersist()
        if hashed is not None:
            hashed.unpersist()


def phase2_checksums(
    spark: SparkSession,
    table: FilesTable,
    max_checksum_size: int = DEFAULT_MAX_CHECKSUM_SIZE,
    skip_empty_files: bool = True,
    algorithm: str = "sha256",
) -> int:
    """Phase 2: hash only the A7-selected files and merge the new
    checksums back (reference indexer.py:1478-1580). Returns #hashed."""
    stored = table.read()
    sizes = phase2_work_selection(stored, skip_empty_files).select("file_size")
    eligible = checksum_eligible_expr(max_checksum_size, skip_empty_files)
    candidates = (
        stored.join(F.broadcast(sizes), "file_size", "left_semi")
        .filter(F.col("checksum").isNull() & eligible)
        .select("path", "filename", "modification_datetime", "file_size")
    )
    hashed = add_checksums(candidates, algorithm).cache()
    try:
        n = hashed.count()
        if n:
            updates = hashed.withColumn("indexed_at", F.current_timestamp()).select(
                "path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at"
            )
            table.upsert(updates)
        return n
    finally:
        hashed.unpersist()


def two_phase_index(
    spark: SparkSession,
    table: FilesTable,
    root: str,
    recursive: bool = True,
    max_checksum_size: int = DEFAULT_MAX_CHECKSUM_SIZE,
    skip_empty_files: bool = True,
    algorithm: str = "sha256",
) -> IndexStats:
    """Phase 1 (metadata only, hashing forced off) + phase 2 (hash the
    duplicate-size candidates only) — reference indexer.py:1646-1691."""
    stats = update_index(
        spark,
        table,
        root,
        recursive,
        max_checksum_size=-1,  # phase 1: never hash (reference :1452-1476)
        skip_empty_files=skip_empty_files,
        algorithm=algorithm,
    )
    stats.checksums_calculated = phase2_checksums(
        spark, table, max_checksum_size, skip_empty_files, algorithm
    )
    return stats
