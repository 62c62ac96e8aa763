"""Write path (w): index, schema-evolution, format and constraint round-trips
that land a table and read it back."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.landing import gate_workdir
from file_indexer_spark.operators import relational as rel
from file_indexer_spark.operators import sampling as sp
from file_indexer_spark.operators import stats as st_ops
from file_indexer_spark.queries.shared import (
    _W19_ORACLE,
    _w19_corrupted_base,
    _w19_dup_rows,
)
from file_indexer_spark.registry_core import _land_arrivals, register
from file_indexer_spark.tables import files_df, load_table, with_files_cte


@register(
    "w1_index_roundtrip",
    """
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text)) AS BIGINT) AS file_size,
           sha256(text) AS checksum
    FROM documents
    ORDER BY filename
    """,
)
def w1_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end write path under the correctness gate: materialize
    every document as a real file, run the full distributed pipeline
    (BFS scan -> stat -> mapInPandas sha256 -> merge into a FilesTable),
    and emit (filename, file_size, checksum) — which the DuckDB oracle
    recomputes independently as octet_length/sha256 of the same text.

    The driver-side collect is bounded test plumbing (it writes the
    fixture tree); the indexing itself is the production path.
    """
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w1")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=0)  # 0 = no size cap
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


@register(
    "w2_two_phase_roundtrip",
    """
    -- Two-phase indexing end-to-end: after phase 1 (metadata only) and
    -- phase 2 (hash ONLY sizes holding >1 file), exactly the
    -- duplicate-size files carry checksums — the reference's ~95%
    -- I/O-avoidance contract, recomputed independently by the oracle.
    WITH docs AS (
        SELECT doc_id, text, octet_length(encode(text)) AS fs FROM documents),
    sizes AS (SELECT fs, COUNT(*) AS n FROM docs GROUP BY fs)
    SELECT 'doc_' || CAST(d.doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(d.fs AS BIGINT) AS file_size,
           CASE WHEN s.n > 1 AND d.fs > 0 THEN sha256(d.text) END AS checksum
    FROM docs d JOIN sizes s ON s.fs = d.fs
    ORDER BY filename
    """,
)
def w2_two_phase_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the D2 two-phase pipeline under the gate — phase 1 indexes
    metadata with hashing off, phase 2's A7 work selection hashes only
    duplicate-size candidates; the oracle recomputes which files must
    (and must not) have checksums straight from the size histogram."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import two_phase_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w2")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    two_phase_index(spark, table, tree)
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


@register(
    "w3_cleanup_roundtrip",
    """
    -- Cleanup end-to-end: after deleting one whole subdirectory and
    -- every 7th file of the other, exactly the untouched files remain
    -- indexed. The oracle recomputes the survivor set from documents.
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text)) AS BIGINT) AS file_size
    FROM documents
    WHERE doc_id % 2 = 0 AND doc_id % 7 != 0
    ORDER BY filename
    """,
)
def w3_cleanup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: the D3/D4 cleanup pipeline under the gate, PROBE mode — no
    rescan; executors stat() DISTINCT directories first (one probe per
    dir; files under a missing dir are stale with zero per-file
    syscalls — the reference's directory-first optimization,
    indexer.py:1129-1205), then stat() only files in surviving dirs.

    Fixture: docs land in sub0 (even doc_id) / sub1 (odd); sub1 is
    rmtree'd wholesale and every 7th file of sub0 unlinked. The
    driver-side collect writes the fixture tree; the cleanup itself is
    the production path.
    """
    import os
    import shutil

    from file_indexer_spark.indexer.cleanup import probe_deleted_files
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w3")
    tree = os.path.join(base, "tree")
    for sub in ("sub0", "sub1"):
        os.makedirs(os.path.join(tree, sub))
    for r in docs:
        sub = "sub0" if r["doc_id"] % 2 == 0 else "sub1"
        with open(
            os.path.join(tree, sub, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8"
        ) as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=-1)  # metadata-only

    shutil.rmtree(os.path.join(tree, "sub1"))
    for r in docs:
        if r["doc_id"] % 2 == 0 and r["doc_id"] % 7 == 0:
            os.unlink(os.path.join(tree, "sub0", f"doc_{r['doc_id']}.txt"))

    stale = probe_deleted_files(table)
    table.delete(stale)
    return table.read().select("filename", "file_size").orderBy("filename")


@register(
    "w4_json_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w4_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (S11): whole-index JSON export/import under the gate — the
    distributed analogue of the Go engine's JSON storage mode
    (file_indexer_go/indexer/indexer.go:294-338). The table roundtrips
    parquet -> newline-JSON -> parquet with a lossless microsecond
    timestamp format; the oracle is the plain files derivation, so any
    serialization drift (precision, timezone, nulls) hash-mismatches.
    """
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w4")

    src = FilesTable(spark, os.path.join(base, "src_db"))
    src.overwrite(files_df(spark, sf_dir))
    src.export_json(os.path.join(base, "dump.json"))

    dst = FilesTable(spark, os.path.join(base, "dst_db"))
    dst.import_json(os.path.join(base, "dump.json"))
    return dst.read().orderBy("path", "filename")


@register(
    "w5_incremental_update",
    """
    -- Incremental re-index (D1): after appending one byte to every
    -- 5th document's file and re-running update_index, exactly the
    -- touched files carry new sizes/checksums; untouched rows keep
    -- their phase-1 values (mtime+size change detection skips them).
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
           CAST(octet_length(encode(text))
                + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS file_size,
           CASE WHEN doc_id % 5 = 0 THEN sha256(text || 'X')
                ELSE sha256(text) END AS checksum
    FROM documents
    ORDER BY filename
    """,
)
def w5_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: the D1 incremental pipeline under the gate — index a tree,
    mutate a deterministic subset (append one byte), re-run
    update_index. The oracle recomputes both populations independently,
    so a missed change (stale size/checksum) hash-mismatches; the
    no-spurious-rehash half of D1 (reuse counters) is pinned by
    tests/test_indexer_write.py, since an unnecessary rehash of
    unchanged content reproduces the same digest."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    base, _ = gate_workdir("fis_w5")
    tree = os.path.join(base, "tree")
    os.makedirs(tree)
    for r in docs:
        with open(os.path.join(tree, f"doc_{r['doc_id']}.txt"), "w", encoding="utf-8") as fh:
            fh.write(r["text"])

    table = FilesTable(spark, os.path.join(base, "files_db"))
    update_index(spark, table, tree, max_checksum_size=0)  # 0 = no size cap

    for r in docs:
        if r["doc_id"] % 5 == 0:
            with open(
                os.path.join(tree, f"doc_{r['doc_id']}.txt"), "a", encoding="utf-8"
            ) as fh:
                fh.write("X")

    update_index(spark, table, tree, max_checksum_size=0)
    return table.read().select("filename", "file_size", "checksum").orderBy("filename")


@register(
    "w6_sharded_export",
    f"""
    WITH tagged AS (
        SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % {sp.N_SHARDS} AS BIGINT) AS shard,
               len(string_split(text, ' ')) AS n_tokens,
               source
        FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM tagged
    GROUP BY shard
    ORDER BY shard
    """,
)
def w6_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: the sharded-export WRITE gate — physically materialize sp4's
    layout (parquet partitioned by the content-stable shard key), read
    the partitioned directory back, and recompute the balance report
    from the READ-BACK rows. The oracle is sp4's (the source table is
    unchanged), so a row lost in the write, a shard routed wrong, or a
    partition-column type drift (partition values come back via
    directory-name inference) all hash-mismatch."""
    base, _ = gate_workdir("fis_w6")
    sp.export_sharded(load_table(spark, sf_dir, "documents"), base)

    back = spark.read.parquet(base)
    return (
        back.select(
            F.col("shard").cast("long").alias("shard"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            "source",
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("shard")
    )


@register(
    "w7_time_travel",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w7_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: time-travel gate — commit the files derivation as generation
    1 of a history-keeping FilesTable, MUTATE the live table (upsert a
    changed checksum + delete a row = generations 2 and 3), then return
    ``read_at(1)``. The oracle is the plain files derivation, so any
    leakage of later generations into the snapshot — or any loss in the
    generation-log roundtrip — hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w7")

    t = FilesTable(spark, os.path.join(base, "db"), keep_history=True)
    original = files_df(spark, sf_dir)
    t.overwrite(original)
    one_key = original.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    return t.read_at(1).orderBy("path", "filename")


@register(
    "w7b_vacuum_history",
    with_files_cte(
        """
    SELECT CAST(4 AS INTEGER) AS generation, path, filename,
           CASE WHEN file_size % 4 = 1 THEN 'G4'
                WHEN file_size % 4 = 0 THEN 'G2'
                ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at
    FROM files WHERE file_size % 4 = 1 OR file_size % 5 <> 0
    UNION ALL
    SELECT CAST(5 AS INTEGER), path, filename,
           CASE WHEN file_size % 4 = 1 THEN 'G4'
                WHEN file_size % 4 = 2 THEN 'G5'
                WHEN file_size % 4 = 0 THEN 'G2'
                ELSE checksum END,
           modification_datetime, file_size, indexed_at
    FROM files WHERE file_size % 4 IN (1, 2) OR file_size % 5 <> 0
    ORDER BY generation, path, filename
    """
    ),
)
def w7b_vacuum_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7b: time travel under REAL history depth — five generations of
    bucketed partial mutations (overwrite; upsert size%4==0 → 'G2';
    delete size%5==0; upsert size%4==1 → 'G4', which also REINSERTS
    previously-deleted keys; upsert size%4==2 → 'G5'), then
    ``vacuum(retain_generations=2)``, then BOTH retained snapshots
    (generations 4 and 5) read back and union-tagged. The oracle
    replays the generation algebra on the files derivation, so a
    vacuum that drops a still-referenced bucket file, or a manifest
    log that mis-replays partial upserts/deletes/reinserts,
    hash-mismatches. Vacuumed-generation unreadability (read_at(3)
    raising) is pinned in tests/test_indexer_write.py."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w7b")

    t = FilesTable(spark, os.path.join(base, "db"), keep_history=True)
    original = files_df(spark, sf_dir)
    t.overwrite(original)                                                # gen 1
    t.upsert(
        original.filter(F.col("file_size") % 4 == 0).withColumn(
            "checksum", F.lit("G2")
        )
    )                                                                    # gen 2
    t.delete(
        original.filter(F.col("file_size") % 5 == 0).select("path", "filename")
    )                                                                    # gen 3
    t.upsert(
        original.filter(F.col("file_size") % 4 == 1).withColumn(
            "checksum", F.lit("G4")
        )
    )                                                                    # gen 4
    t.upsert(
        original.filter(F.col("file_size") % 4 == 2).withColumn(
            "checksum", F.lit("G5")
        )
    )                                                                    # gen 5
    t.vacuum(retain_generations=2)
    g4 = t.read_at(4).withColumn("generation", F.lit(4).cast("int"))
    g5 = t.read_at(5).withColumn("generation", F.lit(5).cast("int"))
    return g4.unionByName(g5).orderBy("generation", "path", "filename")


@register(
    "w8_streaming_ingest",
    with_files_cte(
        """
    SELECT path, filename,
           CASE WHEN file_size % 2 = 0 THEN 'S2'
                WHEN file_size % 3 = 0 THEN 'S1'
                ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at
    FROM files ORDER BY path, filename
    """
    ),
)
def w8_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: streaming CDC ingestion — a file-source STREAM of change
    batches upserted into the manifest-committed FilesTable via
    ``foreachBatch`` (the Structured Streaming sink pattern for tables
    the engine owns). Two overlapping change arrivals land in pinned
    order (maxFilesPerTrigger=1, mtime-ordered file source), so
    last-writer-wins applies deterministically: size%3==0 → 'S1', then
    size%2==0 → 'S2' (the overlap, e.g. size%6==0, must end at 'S2').
    The oracle replays that CASE algebra on the files derivation, so a
    dropped batch, re-ordered application, or non-atomic upsert
    hash-mismatches. Scale shape: each micro-batch costs one bucketed
    partial upsert (only touched pk_buckets rewrite — two_phase.py's
    merge path), state none."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w8")
    src = os.path.join(base, "src")

    original = files_df(spark, sf_dir)
    t = FilesTable(spark, os.path.join(base, "db"), buckets=8)
    t.overwrite(original)

    _land_arrivals(
        src,
        [
            original.filter(F.col("file_size") % 3 == 0).withColumn(
                "checksum", F.lit("S1")
            ),
            original.filter(F.col("file_size") % 2 == 0).withColumn(
                "checksum", F.lit("S2")
            ),
        ],
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(original.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    query = (
        stream.writeStream.foreachBatch(lambda batch, _id: t.upsert(batch))
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    query.awaitTermination()
    return t.read().orderBy("path", "filename")


@register(
    "w10_compaction_roundtrip",
    with_files_cte(
        """
    -- OPTIMIZE gate: after fragmented commits + compact(1), content is
    -- byte-identical to the mutation algebra AND every live data dir
    -- holds exactly one parquet file (the engine measures the real
    -- max; the oracle pins the literal 1 — a compaction that skips a
    -- dir or loses a row hash-mismatches).
    SELECT path, filename,
           CASE WHEN file_size % 3 = 0 THEN 'C2' ELSE checksum END AS checksum,
           modification_datetime, file_size, indexed_at,
           CAST(1 AS BIGINT) AS max_files_per_dir
    FROM files ORDER BY path, filename
    """
    ),
)
def w10_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: the small-file maintenance gate — fragment a bucketed table
    (16-task staging writes), mutate it, OPTIMIZE to one file per
    bucket dir, and hash-gate BOTH the surviving content and the
    physical file-count contract. The fixture asserts it actually
    fragmented first (a pre-compacted table would make the gate
    vacuous — the h9 lesson)."""
    import glob
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w10")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=8)
    original = files_df(spark, sf_dir)
    t.overwrite(original.repartition(16))
    t.upsert(
        original.filter(F.col("file_size") % 3 == 0)
        .withColumn("checksum", F.lit("C2"))
        .repartition(16)
    )

    def files_per_dir() -> list[int]:
        m = t._load_manifest()
        return [
            len(glob.glob(os.path.join(t.location, rel, "*.parquet")))
            for rel in m["entries"].values()
        ]

    if max(files_per_dir()) <= 1:
        raise RuntimeError("w10 fixture failed to fragment — gate would be vacuous")
    t.compact(files_per_bucket=1)
    audit = max(files_per_dir())
    return (
        t.read()
        .withColumn("max_files_per_dir", F.lit(audit).cast("long"))
        .orderBy("path", "filename")
    )


@register(
    "w11_schema_evolution",
    with_files_cte(
        """
    -- w11: ADD COLUMN as a metadata-only commit. After evolving the
    -- schema and upserting ONLY the file_size%3==0 slice with the new
    -- column set, the table must hold every original row (untouched
    -- rows null-fill the new column — their immutable data dirs were
    -- never rewritten), and the pre-evolution generation must still
    -- present its original 6-column contract (pinned as an audit
    -- column; a schema-evolution that rewrote history would change it).
    SELECT path, filename, checksum, modification_datetime, file_size,
           indexed_at,
           CASE WHEN file_size % 3 = 0 THEN 'bulk' END AS category,
           CAST(6 AS BIGINT) AS pre_evolution_ncols
    FROM files ORDER BY path, filename
    """
    ),
)
def w11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: FilesTable schema evolution (Delta-parity maintenance) —
    the schema is a per-generation manifest property: add_column
    commits a new generation without touching a data dir, old dirs
    read through the evolved schema (absent columns null-fill),
    read_at() replays pre-evolution generations under their own column
    set, and pre-evolution writers keep working (conform null-fills)."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w11")
    t = FilesTable(spark, os.path.join(base, "db"), buckets=8, keep_history=True)
    original = files_df(spark, sf_dir)
    t.overwrite(original)                                   # gen 1
    t.add_column("category", "string")                      # gen 2
    t.upsert(                                               # gen 3
        original.filter(F.col("file_size") % 3 == 0).withColumn(
            "category", F.lit("bulk")
        )
    )
    pre_cols = len(t.read_at(1).columns)
    return (
        t.read()
        .withColumn("pre_evolution_ncols", F.lit(pre_cols).cast("long"))
        .orderBy("path", "filename")
    )


@register(
    "w12_pruned_point_lookup",
    with_files_cte(
        """
    -- w12: manifest-pruned key probe — the Spark answer to the
    -- reference's embedded point query. The probe set is the 5
    -- smallest PKs; the engine hashes them to their buckets and opens
    -- ONLY those data dirs. `pruned` audits the PHYSICAL read (from
    -- inputFiles(): distinct data dirs opened <= 5 probe keys, out of
    -- 16 populated buckets) — a full-scan engine reads 16 dirs and
    -- hash-fails.
    , probe AS (
        SELECT path, filename FROM files ORDER BY path, filename LIMIT 5)
    SELECT f.path, f.filename, f.checksum, f.modification_datetime,
           f.file_size, f.indexed_at, TRUE AS pruned
    FROM files f JOIN probe USING (path, filename)
    ORDER BY f.path, f.filename
    """
    ),
)
def w12_pruned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: pruned point/batch reads over the bucketed FilesTable —
    `read_for_keys` hashes the probe keys to their PK buckets and opens
    only those dirs (the write path's manifest pruning, exposed to
    reads). At 100 TB / 4096 buckets a point lookup opens one dir
    instead of scanning the fact table."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w12")
    t = FilesTable(spark, os.path.join(base, "db"), buckets=16)
    original = files_df(spark, sf_dir)
    t.overwrite(original)
    # non-vacuity: more populated buckets than probe keys, so a
    # full-scan engine would open MORE dirs than the pruned bound
    # (sf fixtures carry ~20 distinct paths — most but not all of the
    # 16 buckets populate)
    m = t._load_manifest()
    if len(m["entries"]) <= 5:
        raise RuntimeError("w12 fixture under-populated — gate would be vacuous")
    probe = original.orderBy("path", "filename").limit(5).select("path", "filename")
    out = t.read_for_keys(probe)
    n_dirs = len({os.path.dirname(f) for f in out.inputFiles()})
    return (
        out.withColumn("pruned", F.lit(n_dirs <= 5))
        .orderBy("path", "filename")
    )


@register(
    "w13_zero_copy_clone",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w13_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: zero-copy snapshot clone gate — commit the files derivation
    to a bucketed source table, hardlink-CLONE it, then MUTATE the
    source (upsert + delete, whose no-history commits inline-GC the
    replaced dirs — the hostile case for a shallow clone). The gate
    returns the CLONE's read; the oracle is the unmutated files
    derivation, so any leakage of source mutations into the clone, any
    shared-file rewrite, or any GC reclaiming a hardlinked inode
    hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w13")

    t = FilesTable(spark, os.path.join(base, "src"), buckets=16)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    clone = t.clone_to(os.path.join(base, "clone"))
    one_key = orig.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    return clone.read().orderBy("path", "filename")


@register(
    "w14_change_feed",
    with_files_cte(
        """
    , upd AS (SELECT * FROM files WHERE file_size % 7 = 3),
    del AS (SELECT * FROM files WHERE file_size % 7 = 5),
    ins AS (SELECT path, filename || '.cdf' AS filename, 'NEW' AS checksum,
                   modification_datetime, file_size, indexed_at
            FROM files WHERE file_size % 7 = 1)
    SELECT * FROM (
        SELECT 'insert' AS change_type, path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM ins
        UNION ALL
        SELECT 'delete', path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM del
        UNION ALL
        SELECT 'update_preimage', path, filename, checksum,
               modification_datetime, file_size, indexed_at FROM upd
        UNION ALL
        SELECT 'update_postimage', path, filename, 'CDF2',
               modification_datetime, file_size, indexed_at FROM upd)
    ORDER BY path, filename, change_type
    """
    ),
)
def w14_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: CHANGE DATA FEED gate — commit the files derivation as
    generation 1 of a bucketed history-keeping FilesTable, apply one
    mixed MERGE batch (value updates + brand-new PKs + NO-OP rewrites
    of unchanged rows) and one delete batch, then return
    ``changes(1, 3)``. The oracle derives the expected feed from the
    files CTE alone, so a missed insert, a phantom row from a no-op
    rewrite, a wrong pre/post image, or a delete surfacing new-side
    values all hash-mismatch. The diff itself reads only the buckets
    whose manifest entries moved (pytest-pinned via inputFiles)."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w14")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    upd = orig.filter(F.col("file_size") % 7 == 3).withColumn(
        "checksum", F.lit("CDF2")
    )
    noop = orig.filter(F.col("file_size") % 7 == 6)
    ins = (
        orig.filter(F.col("file_size") % 7 == 1)
        .withColumn("filename", F.concat(F.col("filename"), F.lit(".cdf")))
        .withColumn("checksum", F.lit("NEW"))
    )
    t.upsert(upd.unionByName(noop).unionByName(ins))
    t.delete(orig.filter(F.col("file_size") % 7 == 5).select("path", "filename"))
    return t.changes(1, 3)


@register(
    "w15_cdf_view_maintenance",
    with_files_cte(
        """
    , mutated AS (
        SELECT file_size FROM files WHERE file_size % 7 NOT IN (3, 5)
        UNION ALL
        SELECT file_size + 100000 FROM files WHERE file_size % 7 = 3
        UNION ALL
        SELECT file_size + 7777 FROM files WHERE file_size % 7 = 1)
    SELECT size_range, sort_order, COUNT(*) AS count,
           CAST(SUM(file_size) AS BIGINT) AS total_size
    FROM (
        SELECT file_size,
               CASE WHEN file_size = 0 THEN '0 bytes'
                    WHEN file_size < 1024 THEN '< 1KB'
                    WHEN file_size < 1048576 THEN '1KB - 1MB'
                    WHEN file_size < 1073741824 THEN '1MB - 1GB'
                    ELSE '> 1GB' END AS size_range,
               CASE WHEN file_size = 0 THEN 1
                    WHEN file_size < 1024 THEN 2
                    WHEN file_size < 1048576 THEN 3
                    WHEN file_size < 1073741824 THEN 4
                    ELSE 5 END AS sort_order
        FROM mutated
    ) sub
    GROUP BY size_range, sort_order
    ORDER BY sort_order
    """
    ),
)
def w15_cdf_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: CDF-driven MATERIALIZED-VIEW maintenance — the composition
    the change feed exists for. The a9 size histogram is computed once
    at generation 1, the table then takes a mixed MERGE (band-moving
    size updates + inserts + NO-OP rewrites) and a delete, and the view
    is refreshed FROM ``changes(1, 3)`` alone — never rescanning the
    table. The oracle recomputes the histogram over the mutated set
    from scratch in SQL, so a missed delta, a wrong sign, a no-op row
    leaking into the feed, or a band that failed to empty all
    hash-mismatch."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w15")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    upd = orig.filter(F.col("file_size") % 7 == 3).withColumn(
        "file_size", F.col("file_size") + 100000
    )
    noop = orig.filter(F.col("file_size") % 7 == 6)
    ins = (
        orig.filter(F.col("file_size") % 7 == 1)
        .withColumn("filename", F.concat(F.col("filename"), F.lit(".cdf")))
        .withColumn("file_size", F.col("file_size") + 7777)
    )
    t.upsert(upd.unionByName(noop).unionByName(ins))
    t.delete(orig.filter(F.col("file_size") % 7 == 5).select("path", "filename"))
    view_at_1 = st_ops.size_histogram(t.read_at(1))
    return st_ops.incremental_histogram_refresh(view_at_1, t.changes(1, 3))


@register(
    "w16_restore",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w16_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: RESTORE gate — commit the files derivation, mutate the live
    table (upsert + delete), then ``restore(1)`` and return the LIVE
    read. The oracle is the unmutated derivation, so a restore that
    missed the mutations, replayed the wrong generation, or moved any
    data (the commit is metadata-only: it re-references generation 1's
    immutable dirs verbatim) hash-mismatches."""
    import os

    from file_indexer_spark.indexer.files_table import FilesTable

    base, _ = gate_workdir("fis_w16")

    t = FilesTable(spark, os.path.join(base, "db"), buckets=16, keep_history=True)
    orig = files_df(spark, sf_dir)
    t.overwrite(orig)
    one_key = orig.orderBy("path", "filename").limit(1)
    t.upsert(one_key.withColumn("checksum", F.lit("MUTATED")))
    t.delete(one_key.select("path", "filename"))
    t.restore(1)
    return t.read().orderBy("path", "filename")


@register(
    "w17_orc_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w17_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: ORC source/sink — the files table roundtrips parquet -> ORC
    -> DataFrame (Spark's second built-in columnar format; the engine
    answer for lakes standardized on ORC/Hive). The oracle is the plain
    files derivation, so any type mapping or timestamp-precision drift
    through the ORC writer/reader hash-mismatches."""
    base, _ = gate_workdir("fis_w17")
    files = files_df(spark, sf_dir)
    files.write.mode("overwrite").orc(base)
    back = spark.read.schema(files.schema).orc(base)
    return back.orderBy("path", "filename")


@register(
    "w18_csv_roundtrip",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def w18_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: CSV source/sink — the files table roundtrips parquet -> CSV
    -> DataFrame with the lossless settings CSV needs spelled out:
    microsecond NTZ timestamp format on BOTH sides, and an explicit
    nullValue sentinel distinct from emptyValue so NULL checksums
    survive (CSV's classic silent-corruption trap: by default an empty
    field reads back as null OR "" depending on writer/reader pairing).
    The oracle is the plain files derivation."""
    base, _ = gate_workdir("fis_w18")
    files = files_df(spark, sf_dir)
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    (
        files.write.mode("overwrite")
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("nullValue", "\\N")
        .csv(base)
    )
    back = (
        spark.read.schema(files.schema)
        .option("header", "true")
        .option("timestampNTZFormat", fmt)
        .option("nullValue", "\\N")
        .csv(base)
    )
    return back.orderBy("path", "filename")


@register("w19_constraint_quarantine", _W19_ORACLE)
def w19_constraint_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19: the validate-and-quarantine WRITE gate — the reference's
    declared constraints (files DDL NOT NULLs + PK,
    file_indexer/indexer.py:91-101) enforced the way a distributed
    writer must: classify-and-route, never reject-the-batch, never
    silently drop. Accepted rows commit through the FilesTable,
    violations land in a quarantine parquet with their reason; the
    summary is recomputed from the round-tripped SINKS."""
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.quality import classify_files, split_valid

    workdir, _ = gate_workdir("fis_w19")

    base = files_df(spark, sf_dir)
    dirty = _w19_corrupted_base(base).unionByName(_w19_dup_rows(base))
    accepted, quarantined = split_valid(classify_files(dirty))
    table = FilesTable(spark, os.path.join(workdir, "db"))
    table.overwrite(accepted)
    qdir = os.path.join(workdir, "quarantine")
    quarantined.write.mode("overwrite").parquet(qdir)

    back = table.read().select(
        F.lit("accepted").alias("status"), "file_size"
    ).unionByName(
        spark.read.parquet(qdir).select(
            F.col("reason").alias("status"), "file_size"
        )
    )
    return (
        back.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("file_size").cast("long").alias("total_size"),
        )
        .orderBy("status")
    )
