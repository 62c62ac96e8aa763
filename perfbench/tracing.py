"""Spans around the engine's public calls, each with the Spark counters
of the jobs it ran.

A span records name, start, end, parent and the trace id of the op it
belongs to. While a span is open its own Spark job group is set, so on
exit ``statusTracker().getJobIdsForGroup`` yields exactly the jobs the
span ran itself (a child span sets its own group), and the status
store's ``lastStageAttempt`` gives their stage metrics. The counters
are read as soon as a span closes, because the status store keeps a
bounded number of stages. Spans stay in memory until the run writes
them out.

Tracing is off unless the run asks for it; a disabled tracer opens no
job groups and reads nothing.
"""

from __future__ import annotations

import functools
import itertools
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

COUNTERS = ("jobs", "stages", "tasks", "task_failures", "run_s", "cpu_s", "gc_s",
            "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self.bookkeeping_s = 0.0  # time spent reading counters: the overhead
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a span; yields a dict the caller may add attributes to."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": self.trace_id, "attrs": dict(attrs),
               "group": f"perfbench-{os.getpid()}-{sid}"}
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            t0 = time.perf_counter()
            rec.update(self._counters(rec["group"]))
            self.bookkeeping_s += time.perf_counter() - t0
            self.spans.append(rec)

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # events of the span's jobs
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                if stage in self._seen_stages:
                    continue  # a stage reused from an earlier job ran there
                try:
                    sd = store.lastStageAttempt(stage)
                except Py4JError:
                    continue  # evicted or never submitted
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(stage)
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_failures"] += sd.numFailedTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_b"] += sd.outputBytes()
        return out

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` run inside a span; ``on_result(attrs, result)`` may
        record attributes of the result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, result)
                return result

        return traced


@contextmanager
def instrument_engine(tracer: Tracer):
    """Wrap the engine's indexer entry points in spans for the duration.

    Names are replaced where their callers look them up: ``two_phase``
    resolves ``scan_with_counters``, ``update_index`` and
    ``phase2_checksums`` through its module globals, and every writer
    calls ``FilesTable.upsert/delete/delete_paths`` on the class."""
    from file_indexer_spark.indexer import two_phase
    from file_indexer_spark.indexer.files_table import FilesTable

    def scan_attrs(attrs, result):
        attrs.update(result[1])

    def phase1_attrs(attrs, stats):
        attrs.update(inserted=stats.files_inserted, updated=stats.files_updated,
                     unchanged=stats.files_unchanged)

    def phase2_attrs(attrs, n):
        attrs["hashed"] = n

    patches = [
        (two_phase, "scan_with_counters", "scan", scan_attrs),
        (two_phase, "update_index", "phase1", phase1_attrs),
        (two_phase, "phase2_checksums", "phase2", phase2_attrs),
        (FilesTable, "upsert", "files_table.upsert", None),
        (FilesTable, "delete", "files_table.delete", None),
        (FilesTable, "delete_paths", "files_table.delete_paths", None),
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in patches]
    if tracer.enabled:
        for owner, attr, name, on_result in patches:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name, on_result))
    try:
        yield
    finally:
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)


# -- roll-up ---------------------------------------------------------------

def with_self_times(spans: list[dict]) -> list[dict]:
    """Add ``wall_s`` and ``self_s`` (wall minus the time its children
    cover; children of one span run one after another)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = s["wall_s"] - child_time.get(s["id"], 0.0)
    return spans


def op_totals(spans: list[dict], names: tuple[str, ...] | None = None) -> dict:
    """Self time and counters summed over the spans of one op whose name
    is in ``names`` (all spans when None), plus their wall and count."""
    out = dict.fromkeys(COUNTERS, 0)
    out.update(self_s=0.0, wall_s=0.0, calls=0)
    for s in spans:
        if names is None or s["name"] in names:
            out["calls"] += 1
            out["self_s"] += s["self_s"]
            out["wall_s"] += s["wall_s"]
            for c in COUNTERS:
                out[c] += s[c]
    return out


def median_of(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def by_trace(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        if s["trace"] is not None:
            out.setdefault(s["trace"], []).append(s)
    return out
