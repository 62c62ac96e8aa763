"""Executor-side content hashing (reference S13/S14, D6).

The reference streams each file in 64 KB chunks through hashlib on a
ProcessPoolExecutor (indexer.py:16-48, 355-409). Spark's executor
parallelism replaces the pool; ``mapInPandas`` gives Arrow-batched
rows per task, and the per-file try/except replaces the reference's
pool-failure fallback ladder (task retries handle worker death).

Checksum eligibility (reference _should_calculate_checksum,
indexer.py:158-175): never when max_checksum_size < 0; never for
empty files when skip_empty_files; never above the size cap. A NULL
checksum is the load-bearing "not computed" marker.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHUNK_SIZE = 64 * 1024  # reference indexer.py:38
DEFAULT_MAX_CHECKSUM_SIZE = 100 * 1024 * 1024  # reference cli.py:69-70


def hashing_off(max_checksum_size: int | None) -> bool:
    """Negative => never hash (reference :1452-1476 phase 1)."""
    return max_checksum_size is not None and max_checksum_size < 0


def checksum_eligible_expr(
    max_checksum_size: int = DEFAULT_MAX_CHECKSUM_SIZE,
    skip_empty_files: bool = True,
    file_size: Column | str = "file_size",
) -> Column:
    col = F.col(file_size) if isinstance(file_size, str) else file_size
    if hashing_off(max_checksum_size):
        return F.lit(False)
    expr = F.lit(True)
    if skip_empty_files:
        expr = expr & (col > 0)
    # 0 or None => no size cap (reference cli.py:69-70 "0 for no limit";
    # _should_calculate_checksum only caps when max > 0)
    if max_checksum_size:
        expr = expr & (col <= max_checksum_size)
    return expr


def _hash_file(full_path: str, algorithm: str) -> str | None:
    try:
        h = hashlib.new(algorithm)
        with open(full_path, "rb") as fh:
            while True:
                chunk = fh.read(CHUNK_SIZE)
                if not chunk:
                    break
                h.update(chunk)
        return h.hexdigest()
    except OSError:
        return None  # permission/IO errors -> NULL checksum, job continues (D6)


def add_checksums(files: DataFrame, algorithm: str = "sha256") -> DataFrame:
    """Compute ``checksum`` for every row of (path, filename, ...) by
    reading path/filename from the executor's filesystem.

    Arrow-batched (mapInPandas): one Python hop per batch, hashing I/O
    runs fully parallel across executor tasks. Input partitioning is
    preserved — repartition upstream if hash work is skewed by size.
    """
    # build a NEW StructType: StructType.add mutates in place, and
    # df.schema is cached on the DataFrame — mutating it corrupts the
    # input's own column resolution (mapInPandas resolves self.columns)
    if "checksum" not in files.columns:
        schema = T.StructType(
            list(files.schema.fields) + [T.StructField("checksum", T.StringType(), True)]
        )
    else:
        schema = files.schema
    out_cols = [f.name for f in schema.fields]

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            full = pdf["path"].str.cat(pdf["filename"], sep=os.sep)
            pdf = pdf.copy()
            pdf["checksum"] = [_hash_file(p, algorithm) for p in full]
            yield pdf[out_cols]

    return files.mapInPandas(hash_batches, schema=schema)
