"""Where registry gates put their files, and how they land tables.

Gates that write (the write-path gates, the streaming drains, the
compute-once index builds) take a scratch directory from
:func:`gate_workdir` and land the tables they materialize with
:func:`land_tables`.

Every call gets a fresh ``tempfile.mkdtemp`` under one root per
process, so two runs of one gate, back to back or at once, never
delete each other's files: a DataFrame a gate returned keeps reading
after the same gate runs again. The root lives under ``TMPDIR`` and is
removed when the interpreter exits.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.parallel import run_parallel


@functools.cache
def _root() -> str:
    root = tempfile.mkdtemp(prefix="fis_gates_")
    atexit.register(shutil.rmtree, root, True)
    return root


def gate_workdir(prefix: str) -> tuple[str, str]:
    """A new, empty directory for one gate call, plus a tag unique to
    the call (memory-sink query names embed it)."""
    path = tempfile.mkdtemp(prefix=f"{prefix}_", dir=_root())
    return path, os.path.basename(path)[len(prefix) + 1 :]


def land_tables(
    spark: SparkSession,
    tables: dict[str, DataFrame | Callable[[], DataFrame]],
    workdir: str,
) -> dict[str, DataFrame]:
    """Write each table as parquet to ``<workdir>/<name>`` and return
    the re-reads under the same names.

    The writes run as overlapped Spark jobs (:func:`run_parallel`). A
    value may be a zero-argument callable that builds the frame; it is
    then built on its write's thread, so eager builds (iteration loops)
    overlap too. Any layout (range partitioning, sorting) belongs to
    the frame itself.

    Frames that share an UNMATERIALIZED ``localCheckpoint`` must not
    go into one call: concurrent first actions would compute the
    checkpoint twice. Land such frames one call each, in order."""

    def land(name: str, table) -> tuple[str, DataFrame]:
        df = table() if callable(table) else table
        path = os.path.join(workdir, name)
        df.write.mode("overwrite").parquet(path)
        return name, spark.read.parquet(path)

    return dict(run_parallel([lambda item=item: land(*item) for item in tables.items()]))
