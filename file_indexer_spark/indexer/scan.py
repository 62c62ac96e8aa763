"""Distributed filesystem scan (reference S1-S4, D6/D7 accounting).

The reference walks the tree with a single-process generator
(file_indexer/indexer.py:184-220) and stats files in batches of 1000
(:281-289). Here the walk is distributed in rounds: each executor task
lists and stats every entry of its seed directories, then walks on
depth-first into the subdirectories it found until it has listed
``WALK_BUDGET`` entries, and hands the ones it has not visited on as
``kind='dir'`` rows. Those rows seed the next round, which lists all of
them, spread over enough tasks that none gets more than ``WALK_BUDGET``
seeds and the cores stay busy. Every round therefore lists the whole
frontier, so a tree needs at most one round per level however wide it
is, and usually far fewer. The driver never holds the directory list;
it only reads each round's count per kind, which is also where the
skip and error counters come from.

Filter semantics (reference _should_process_file, indexer.py:112-156):
skip symlinks and non-regular files; empty files are INDEXED but not
checksummed (that's checksum eligibility, not scan filtering). Skips
and errors are not silently dropped: every entry carries a ``kind``
(file / symlink / special / error), so the counters the reference keeps
in-memory (indexer.py:79-87, 343-351) fall out of the rounds' counts.

For 100 TB / billions of files the same shape holds: wide trees fan
out to more tasks in the next round, and file entries never reach the
driver.
"""

from __future__ import annotations

import itertools
import os
from collections import Counter
from collections.abc import Iterator
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# raw scan rows: regular files plus skip/error records (D6/D7)
RAW_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("filename", T.StringType(), True),
        T.StructField("modification_datetime", T.TimestampType(), True),
        T.StructField("file_size", T.LongType(), True),
        T.StructField("kind", T.StringType(), False),
    ]
)

KIND_FILE = "file"
KIND_SYMLINK = "symlink"
KIND_SPECIAL = "special"
KIND_ERROR = "error"
KIND_DIR = "dir"  # a directory left for the next round

# entries a task lists before handing subdirectories on: ~50 ms of
# listing at ~6 us per entry, about what one more round costs
# (PERFORMANCE.md "Write path")
WALK_BUDGET = 8192
MAX_ROUNDS = 1000  # mount-loop backstop; reaching it with work left raises
ROWS_PER_BATCH = 10_000


def _list_dir(d: str, subdirs: list[str]):
    """Rows for the entries of ``d`` that are not directories, tagging
    skips and errors instead of dropping them (reference
    indexer.py:343-351 counts permission errors; :112-156 skips
    symlinks/special files); its subdirectories go to ``subdirs``.
    Symlinked dirs are not descended, as in the reference."""
    try:
        entries = os.scandir(d)
    except OSError:
        yield (d, None, None, None, KIND_ERROR)
        return
    with entries:
        for entry in entries:
            try:
                if entry.is_symlink():
                    yield (d, entry.name, None, None, KIND_SYMLINK)
                    continue
                if entry.is_dir(follow_symlinks=False):
                    subdirs.append(entry.path)
                    continue
                if not entry.is_file(follow_symlinks=False):
                    yield (d, entry.name, None, None, KIND_SPECIAL)
                    continue
                st = entry.stat(follow_symlinks=False)
            except OSError:
                yield (d, entry.name, None, None, KIND_ERROR)
                continue
            yield (
                d,
                entry.name,
                datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(tzinfo=None),
                int(st.st_size),
                KIND_FILE,
            )


def _walk(seeds: list[str], budget: int, recursive: bool):
    """Executor task: list every seed, each followed by a depth-first
    walk of its subtree while fewer than ``budget`` entries have been
    listed; the subdirectories found but not listed are yielded as
    KIND_DIR rows."""
    listed = 0
    for seed in seeds:
        stack = [seed]
        while stack:
            subdirs: list[str] = []
            for row in _list_dir(stack.pop(), subdirs):
                listed += 1
                yield row
            listed += 1 + len(subdirs)  # the listing itself: empty dirs cost too
            if recursive:
                stack.extend(subdirs)
            if listed >= budget:
                for d in stack:
                    yield (d, None, None, None, KIND_DIR)
                break


def scan_raw(
    spark: SparkSession,
    root: str,
    recursive: bool = True,
    parallelism: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """(all scan records including skips/errors, their count per kind).

    Runs the walk rounds eagerly; each round is materialized once by
    the job that counts its kinds. localCheckpoint (not cache): the
    stored partitions are released when the DataFrame is
    garbage-collected, so repeated incremental runs in one session
    don't pin executor storage."""
    import pandas as pd  # noqa: F401  (executor-side type only)

    budget = WALK_BUDGET  # captured: executors never read the global
    width = parallelism or spark.sparkContext.defaultParallelism
    cols = RAW_SCAN_SCHEMA.fieldNames()

    def walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rows = _walk([p for pdf in batches for p in pdf["path"]], budget, recursive)
        while chunk := list(itertools.islice(rows, ROWS_PER_BATCH)):
            yield pd.DataFrame(chunk, columns=cols)

    # round 1 runs on the root's single partition (createDataFrame of a
    # local list would spread it over defaultParallelism, mostly empty)
    frontier = spark.range(1, numPartitions=1).select(F.lit(os.path.abspath(root)).alias("path"))
    rounds, counts = [], Counter()
    for _ in range(MAX_ROUNDS):
        done = frontier.mapInPandas(walk, schema=RAW_SCAN_SCHEMA).localCheckpoint(eager=False)
        rounds.append(done)
        counts.update({r["kind"]: r["count"] for r in done.groupBy("kind").count().collect()})
        pending = counts.pop(KIND_DIR, 0)
        if not pending:
            break
        # every pending dir is listed next round: at most ``budget``
        # seeds per task, and at least one task per core while there
        # are dirs for it (mapInPandas is narrow, so without the
        # shuffle the next round would stay in this round's partitions)
        frontier = (
            done.filter(F.col("kind") == KIND_DIR)
            .select("path")
            .repartition(max(min(width, pending), -(-pending // budget)))
        )
    else:
        raise RuntimeError(
            f"scan of {root!r} stopped after {MAX_ROUNDS} rounds with "
            f"{pending} directories not listed"
        )
    raw = reduce(DataFrame.unionByName, rounds).filter(F.col("kind") != KIND_DIR)
    if len(rounds) == 1:
        # one task's output: say so, so the merge with a table of one
        # split plans no exchange (the scan's size estimate is not its
        # output's, so the table's split rule cannot size it)
        raw = raw.coalesce(1)
    return raw, dict(counts)


def scan_directory(
    spark: SparkSession,
    root: str,
    recursive: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """Scan a tree into a (path, filename, modification_datetime,
    file_size) DataFrame of regular files. mtimes are naive-UTC,
    matching the engine's UTC session timezone (SURVEY §7)."""
    return scan_with_counters(spark, root, recursive, parallelism)[0]


def scan_with_counters(
    spark: SparkSession,
    root: str,
    recursive: bool = True,
    parallelism: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """(files DataFrame, skip/error counters) — D7's session counters
    taken from the walk rounds' kind counts instead of mutable
    in-memory state; no extra job."""
    raw, counts = scan_raw(spark, root, recursive, parallelism)
    files = raw.filter(F.col("kind") == KIND_FILE).drop("kind")
    counters = {
        "symlinks_skipped": counts.get(KIND_SYMLINK, 0),
        "special_files_skipped": counts.get(KIND_SPECIAL, 0),
        "scan_errors": counts.get(KIND_ERROR, 0),
        "files_found": counts.get(KIND_FILE, 0),
    }
    return files, counters
