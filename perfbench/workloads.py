"""The benchmark's workloads. Each one generates its inputs from the
seed (untimed), sets up (timed as ``setup_s``), runs timed ops through
the engine's public API and checks every op's output outside the
timed region.

* ``index``: the paper's path in one op, as a command-line user runs
  it: cold two-phase index of a fresh tree into an empty table, the
  duplicates + stats report, one churn round on disk, re-index, and the
  cleanup the CLI ``cleanup`` command makes.
* ``catalog_serve``: a closed loop, one client, over a ``files``
  snapshot served through ``FileIndexService``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from contextlib import contextmanager

import checks
import fixtures
from tracing import Tracer, instrument_engine

INDEX_SPEC = fixtures.TreeSpec(files=3000, fanout=(3, 4, 5, 6), min_size=1024,
                               max_size=256 * 1024)
SERVE_ROWS = 120_000
# requests per type in one deck of 40: 50% / 25% / 15% / 10%
SERVE_MIX = (("search", 20), ("duplicates", 10), ("stats", 6), ("visualization", 4))
SERVE_CHECKS_PER_TYPE = 2
CLK_TCK = os.sysconf("SC_CLK_TCK")


class Op:
    """Outcome of one timed op: wall and CPU time, named phase times,
    problems."""

    def __init__(self, kind: str):
        self.kind = kind
        self.wall_s = 0.0
        self.cpu_s = 0.0  # host CPU time spent in the timed phases
        self.steal_s = 0.0  # CPU time the hypervisor took from the host meanwhile
        self.phases: dict[str, float] = {}
        self.problems: list[str] = []
        self.info: dict = {}

    @contextmanager
    def timed(self, phase: str):
        """Time one phase: wall clock plus the host's busy and stolen
        CPU time from /proc/stat."""
        busy0, steal0 = host_cpu()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            busy1, steal1 = host_cpu()
            self.phases[phase] = self.phases.get(phase, 0.0) + wall
            self.wall_s += wall
            self.cpu_s += busy1 - busy0
            self.steal_s += steal1 - steal0


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU seconds of all the host's CPUs since boot:
    user + nice + system + irq + softirq, and steal."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return (user + nice + system + irq + softirq) / CLK_TCK, steal / CLK_TCK


class IndexWorkload:
    name = "index"
    batch = 1  # ops are measured in whole batches

    def __init__(self, workdir: str, seed: int, scale: float = 1.0):
        self.workdir = workdir
        self.seed = seed
        self.spec = fixtures.TreeSpec(**{**INDEX_SPEC.__dict__,
                                         "files": max(40, int(INDEX_SPEC.files * scale))})
        self.tree: fixtures.Tree | None = None
        self.rounds = 0

    def generate(self) -> dict:
        self.tree = fixtures.make_tree(os.path.join(self.workdir, "tree"), self.seed, self.spec)
        return {"files": len(self.tree.files), "bytes": self.tree.total_bytes(),
                "dirs": len(self.tree.dirs()), "manifest": self.tree.manifest_hash()}

    def setup(self, spark, tracer: Tracer) -> None:
        pass  # a command-line user's index starts from an empty table

    def op(self, spark, tracer: Tracer) -> Op:
        from file_indexer_spark.indexer import cleanup, two_phase
        from file_indexer_spark.indexer.files_table import FilesTable
        from file_indexer_spark.operators.duplicates import duplicate_groups_nested
        from file_indexer_spark.operators.stats import database_stats

        tree = self.tree
        op = Op("index")
        self.rounds += 1
        table = FilesTable(spark, os.path.join(self.workdir, f"table{self.rounds}"))
        tree.reset_model()
        n_files = len(tree.files)
        with instrument_engine(tracer):
            with op.timed("index_s"), tracer.span("index.cold"):
                cold = two_phase.two_phase_index(spark, table, tree.root)
            with op.timed("report_s"), tracer.span("report"):
                with tracer.span("operators.duplicates"):
                    groups = duplicate_groups_nested(table.read()).collect()
                with tracer.span("operators.stats"):
                    stats = database_stats(table.read()).collect()[0].asDict()

            # outside the timed region: the model, the checks, the churn
            newly, attempted = tree.settle_checksums()
            eligible = sum(1 for e in tree.files.values() if e.size > 0)
            op.info["cold"] = {"files": n_files, "bytes": tree.total_bytes(),
                               "hashed": len(newly),
                               "mb_hashed": sum(tree.files[k].size for k in newly) / 2**20,
                               "eligible": eligible}
            if cold.files_inserted != n_files or cold.checksums_calculated != attempted:
                op.problems.append(
                    f"cold index stats: {cold.files_inserted} inserted, "
                    f"{cold.checksums_calculated} hashed; expected {n_files}, {attempted}")
            op.problems += checks.check_table(tree, _table_rows(table))
            op.problems += checks.check_report(tree, groups, stats)
            before = dict(tree.files)
            churn = tree.churn(self.rounds)
            changed = [k for k, e in tree.files.items() if before.get(k) is not e]
            changed_eligible = sum(1 for k in changed if tree.files[k].size > 0)

            with op.timed("reindex_s"), tracer.span("index.reindex"):
                re = two_phase.two_phase_index(spark, table, tree.root)
            with op.timed("cleanup_s"), tracer.span("cleanup") as attrs:
                # the CLI ``cleanup`` command's calls
                stale = cleanup.probe_deleted_files(table)
                n_stale = stale.count()
                if n_stale:
                    table.delete(stale)
                n_dirs = cleanup.cleanup_empty_directories(spark, table)
                attrs.update(rows_deleted=n_stale + n_dirs)

        newly, attempted = tree.settle_checksums()
        rows = list(tree.files) + list(tree.stale)  # the table's rows at cleanup
        op.info["reindex"] = {
            **churn, "hashed": len(newly), "eligible": changed_eligible,
            "mb_hashed": sum(tree.files[k].size for k in newly) / 2**20,
            # rows whose content the round changed: written, deleted, or
            # given a checksum without being modified
            "rows_changed": len(changed) + churn["deleted"] + sum(
                1 for k in newly if before.get(k) is tree.files[k]),
            "dirs_probed": len({d for d, _ in rows}),
            "files_probed": sum(1 for d, _ in rows if os.path.isdir(d)),
            "rows": len(rows),
        }
        expect = (churn["added"], churn["modified"], churn["deleted"], attempted)
        got = (re.files_inserted, re.files_updated, re.extra.get("missing_from_disk"),
               re.checksums_calculated)
        if got != expect:
            op.problems.append(f"re-index stats {got} != {expect}")
        if n_stale + n_dirs != churn["deleted"]:
            op.problems.append(f"cleanup removed {n_stale}+{n_dirs} rows, "
                               f"expected {churn['deleted']}")
        tree.stale.clear()
        op.problems += checks.check_table(tree, _table_rows(table))
        live = checks.parquet_files(table.read())
        op.info.update(live_files=len(live), table_rows=len(tree.files),
                       table_bytes=sum(os.path.getsize(p) for p in live))
        return op

    def named_metrics(self, ops: list[Op]) -> dict:
        """The workload's own end-to-end figures, medians over ops."""
        med = _median
        files = med(o.info["cold"]["files"] for o in ops)
        index_s = med(o.phases["index_s"] for o in ops)
        return {
            "index_files_per_s": ("1/s", files / index_s),
            "index_mb_per_s": ("MB/s", med(o.info["cold"]["bytes"] for o in ops) / 2**20 / index_s),
            "index_s": ("s", index_s),
            "index_report_s": ("s", med(o.phases["report_s"] for o in ops)),
            "reindex_s": ("s", med(o.phases["reindex_s"] for o in ops)),
            "cleanup_s": ("s", med(o.phases["cleanup_s"] for o in ops)),
        }

    def work_per_s(self, ops: list[Op]) -> float:
        return self.named_metrics(ops)["index_files_per_s"][1]

    def op_ms(self, ops: list[Op]) -> float:
        return _median(o.wall_s for o in ops) * 1e3


def _table_rows(table):
    return [tuple(r) for r in table.read().select(
        "path", "filename", "checksum", "modification_datetime", "file_size").collect()]


def _median(values) -> float:
    return float(statistics.median(list(values)))


# -- serving ---------------------------------------------------------------

class ServeWorkload:
    name = "catalog_serve"
    batch = sum(n for _, n in SERVE_MIX)  # one shuffled deck: every run sees the exact mix

    def __init__(self, workdir: str, seed: int, scale: float = 1.0):
        self.workdir = workdir
        self.seed = seed
        self.rows = max(2000, int(SERVE_ROWS * scale))
        self.rng = random.Random(f"{seed}:requests")
        self.src = os.path.join(workdir, "catalog.parquet")
        self.service = None
        self.snapshot_files: list[str] = []
        self.deck: list[str] = []
        self._sample_left = {kind: SERVE_CHECKS_PER_TYPE for kind, _ in SERVE_MIX}

    def generate(self) -> dict:
        frame = fixtures.catalog_frame(self.seed, self.rows)
        frame.to_parquet(self.src, index=False, coerce_timestamps="us")
        return {"rows": len(frame), "dirs": int(frame["path"].nunique())}

    def setup(self, spark, tracer: Tracer) -> None:
        from file_indexer_spark.indexer.files_table import FilesTable
        from file_indexer_spark.serving import FileIndexService

        table = FilesTable(spark, os.path.join(self.workdir, "table"))
        with tracer.span("serve.table_write"):
            table.overwrite(spark.read.parquet(self.src))
        with tracer.span("serve.cache_fill"):
            snapshot = table.read()
            self.snapshot_files = checks.parquet_files(snapshot)  # before caching hides them
            self.service = FileIndexService(snapshot, source_path=table.location)
            self.service.files.count()
        for kind, _ in SERVE_MIX:  # warm-up: one request of each type
            self._call(kind, self._request(kind), tracer)

    def _request(self, kind: str):
        from file_indexer_spark.serving import DuplicatesRequest, SearchRequest

        rng = self.rng
        if kind == "search":
            pattern = rng.choice((
                ("filename", f"%.{rng.choice(('txt', 'jpg', 'log', 'csv', 'tar.gz'))}"),
                ("filename", f"f00{rng.randrange(10)}%"),
                ("path", f"/data/p{rng.randrange(20):02d}/%"),
                ("path", f"%/q0{rng.randrange(5)}%"),
                (None, None)))
            size = rng.choice((None, None, (1024, None), (None, 10**6), (10**4, 10**8)))
            return SearchRequest(
                filename_pattern=pattern[1] if pattern[0] == "filename" else None,
                path_pattern=pattern[1] if pattern[0] == "path" else None,
                has_checksum=rng.choice((None, True, False)),
                min_file_size=size[0] if size else None,
                max_file_size=size[1] if size else None,
                limit=100, offset=rng.randrange(0, 1001))
        if kind == "duplicates":
            return DuplicatesRequest(
                min_group_size=rng.choice((2, 2, 3)),
                path_pattern=rng.choice((None, None, f"/data/p{rng.randrange(20):02d}/%")),
                min_file_size=rng.choice((None, None, 10**5)),
                limit=50, offset=rng.randrange(0, 201))
        return None

    def _call(self, kind: str, req, tracer: Tracer):
        svc = self.service
        with tracer.span(f"serve.{kind}"):
            if kind == "search":
                return svc.search(req)
            if kind == "duplicates":
                return svc.duplicates(req)
            if kind == "stats":
                return svc.stats()
            return svc.visualization()

    def op(self, spark, tracer: Tracer) -> Op:
        if not self.deck:
            self.deck = [kind for kind, n in SERVE_MIX for _ in range(n)]
            self.rng.shuffle(self.deck)
        kind = self.deck.pop()
        req = self._request(kind)
        op = Op(kind)
        with op.timed(kind):
            resp = self._call(kind, req, tracer)
        # the seeded sample: the first requests of each type, checked at the end
        if self._sample_left[kind] > 0:
            self._sample_left[kind] -= 1
            op.info["check"] = (req, resp)
        return op

    def verify(self, ops: list[Op]) -> None:
        """Check the sampled responses against DuckDB; problems are
        charged to the op that produced them."""
        oracle = checks.ServeOracle(self.snapshot_files)
        try:
            for o in ops:
                if "check" not in o.info:
                    continue
                req, resp = o.info.pop("check")
                if o.kind == "search":
                    o.problems += oracle.check_search(req, resp)
                elif o.kind == "duplicates":
                    o.problems += oracle.check_duplicates(req, resp)
                elif o.kind == "stats":
                    o.problems += oracle.check_stats(resp)
                else:
                    o.problems += oracle.check_visualization(resp)
        finally:
            oracle.close()

    def named_metrics(self, ops: list[Op]) -> dict:
        lat = sorted(o.wall_s for o in ops)
        pct, tail = tail_percentile(lat)
        busy = sum(lat)
        out = {
            "serve_p50_ms": ("ms", _median(lat) * 1e3),
            "serve_rps": ("1/s", len(lat) / busy),
        }
        if tail is not None:
            out["serve_tail_ms"] = ("ms", tail * 1e3)
            out["serve_tail_percentile"] = ("%", pct)
        out["serve_samples"] = ("count", len(lat))
        return out

    def work_per_s(self, ops: list[Op]) -> float:
        return len(ops) / sum(o.wall_s for o in ops)

    def op_ms(self, ops: list[Op]) -> float:
        """Mix-weighted median latency: sum over request types of the
        type's share of the mix times its median latency."""
        mix = [(kind, n) for kind, n in SERVE_MIX if any(o.kind == kind for o in ops)]
        total = sum(n for _, n in mix)
        return sum(n / total * _median(o.wall_s for o in ops if o.kind == kind)
                   for kind, n in mix) * 1e3


def tail_percentile(sorted_values: list[float]) -> tuple[float | None, float | None]:
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    above it, and its value (nearest rank)."""
    n = len(sorted_values)
    best = (None, None)
    for pct in (50, 75, 90, 95, 99, 99.9):
        rank = math.ceil(n * pct / 100)  # nearest rank, 1-based
        if rank >= 1 and n - rank >= 10:
            best = (pct, sorted_values[rank - 1])
    return best


WORKLOADS = {w.name: w for w in (IndexWorkload, ServeWorkload)}
