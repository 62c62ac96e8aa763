"""Where registry gates put their files, and how they land tables.

Gates that write (the write-path gates, the streaming drains, the
compute-once index builds) take a scratch directory from
:func:`gate_workdir` and land the tables they materialize with
:func:`land_tables`.

Every call gets a fresh ``tempfile.mkdtemp`` under one root per
process, so two runs of one gate, back to back or at once, never
delete each other's files: a DataFrame a gate returned keeps reading
after the same gate runs again. The root lives under ``TMPDIR`` and is
removed when the interpreter exits. A killed process cannot do that,
so its process holds an ``flock`` on ``<root>/.owner`` for its life,
and the next root made under the same ``TMPDIR`` first removes every
sibling root whose lock it can take. Unlike a pid, a lock is not
fooled by pid reuse.
"""

from __future__ import annotations

import atexit
import fcntl
import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from file_indexer_spark.parallel import run_parallel


_PREFIX = "fis_gates_"
_owner_locks: list[int] = []  # held open: closing the fd would drop the lock


@functools.cache
def _root() -> str:
    _remove_dead_roots(tempfile.gettempdir())
    while True:
        root = tempfile.mkdtemp(prefix=_PREFIX)
        try:
            fd = os.open(os.path.join(root, ".owner"), os.O_CREAT | os.O_WRONLY, 0o600)
        except FileNotFoundError:  # another process's sweep took it before the lock
            continue
        fcntl.flock(fd, fcntl.LOCK_EX)
        if os.fstat(fd).st_nlink:
            break
        os.close(fd)  # locked only after a sweep had unlinked it
    _owner_locks.append(fd)
    atexit.register(shutil.rmtree, root, True)
    return root


def _remove_dead_roots(parent: str) -> None:
    """Remove each gate root in ``parent`` whose owner lock can be taken:
    its process died without its at-exit cleanup. A root with no
    ``.owner`` file is left alone: it may be one still being made."""
    for name in os.listdir(parent):
        if not name.startswith(_PREFIX):
            continue
        root = os.path.join(parent, name)
        try:
            fd = os.open(os.path.join(root, ".owner"), os.O_RDONLY)
        except OSError:
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            shutil.rmtree(root, ignore_errors=True)
        except OSError:
            pass  # its owner is alive
        finally:
            os.close(fd)


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
