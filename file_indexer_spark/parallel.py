"""Overlap independent Spark actions from driver threads (guide §2.6).

Spark's scheduler runs several jobs at once inside one application;
actions are only sequential because driver code calls them
sequentially. The caller is ``landing.land_tables``: a gate that lands
several INDEPENDENT tables (e.g. an index's postings + doclen +
scalars) would otherwise pay the sum of the writes' wall-clocks;
submitting them from a small thread pool lets each job's tail
back-fill the executors freed by the others. FIFO scheduling (the
default) gives exactly the back-fill behaviour we want.

Safety rule: thunks must not share an UNMATERIALIZED
``localCheckpoint`` frame — concurrent first actions on one would
compute it twice (Spark does not coordinate concurrent materialization
of the same lazy checkpoint). Parquet-read-backed or fully independent
frames only.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

T = TypeVar("T")

# 2-3 jobs in flight is plenty: enough to fill the tail, not so many
# that they fight for executors (guide §2.6).
MAX_CONCURRENT_JOBS = 3


def run_parallel(thunks: list[Callable[[], T]], max_workers: int = MAX_CONCURRENT_JOBS) -> list[T]:
    """Run the thunks as concurrent Spark jobs; results in input order.

    Degenerate sizes stay on the caller's thread (no pool overhead for
    the 0/1-thunk case)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
