#!/usr/bin/env python3
"""Benchmark of file_indexer_spark, run from the root of a checkout:

    python3 perfbench/run.py --workload index --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, sets up, runs timed ops
in whole batches until their busy time reaches ``--seconds``, checks every
op's output, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine calls run inside spans and the metrics are the per-layer
ones. The line before it carries the workload's own named figures,
and a JSON file with every span and the roll-up is written under
``.perfbench/out/``.

The run is isolated from anything else on the host: ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and the JVM's temp dir point into a fresh
directory under ``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# name -> unit; the end-to-end set is printed untraced, the per-layer set traced
END_TO_END = {
    "op_cpu_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "scan.jobs": "count", "scan.tasks": "count", "scan.entries": "count",
    "scan.cpu_util": "ratio", "scan.wall_share": "ratio",
    "phase1.jobs": "count", "phase1.shuffle_mb": "MB", "phase1.self_share": "ratio",
    "phase2.jobs": "count", "phase2.self_share": "ratio",
    "checksum.files_hashed": "count", "checksum.mb_hashed": "MB",
    "checksum.hash_share": "ratio",
    "files_table.upserts": "count", "files_table.deletes": "count",
    "files_table.write_amp": "ratio", "files_table.live_files": "count",
    "files_table.wall_share": "ratio",
    "cleanup.dirs_probed": "count", "cleanup.files_probed": "count",
    "cleanup.rows_deleted": "count", "cleanup.stat_share": "ratio",
    "cleanup.self_share": "ratio",
    **{f"serve.{t}.{c}": "count" for t in ("search", "duplicates", "stats", "visualization")
       for c in ("jobs", "tasks")},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.executor_cpu_s": "s", "spark.gc_share": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.cpu_util": "ratio",
    "host.cpu_canary_s": "s", "host.steal_share": "ratio",
    "trace.overhead_share": "ratio",
}
MB = 2**20


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-test runs at toy size)")
    return p.parse_args(argv)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def isolate(workdir: str) -> dict:
    """Point every temp/scratch location of this process, the JVM and
    the Python workers into ``workdir``, and size the driver for the
    host: local[nproc], driver heap a quarter of memory (1-4 GiB)."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = host_cpus()
    heap_gb = max(1, min(4, host_mem_bytes() // 4 // 2**30))
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "mem_gb": round(host_mem_bytes() / 2**30, 1),
            "driver_memory": env["SPARK_DRIVER_MEMORY"]}


def cpu_canary() -> float:
    """Median of three runs of a fixed pure-Python loop: host speed."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


# -- per-layer roll-up -----------------------------------------------------

# span names that make up each layer's figures in the ``index`` op
INDEX_LAYERS = {
    "scan": ("scan",),
    "phase1": ("phase1",),
    "phase2": ("phase2",),
    "upsert": ("files_table.upsert",),
    "delete": ("files_table.delete", "files_table.delete_paths"),
    "cleanup": ("cleanup",),
    "duplicates": ("operators.duplicates",),
    "stats": ("operators.stats",),
}
SERVE_TYPES = ("search", "duplicates", "stats", "visualization")


def _share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def _index_op_layers(op, spans, cores: int) -> dict:
    """Per-layer figures of one traced ``index`` op."""
    from tracing import op_totals

    t = {layer: op_totals(spans, names) for layer, names in INDEX_LAYERS.items()}
    cold, re = op.info["cold"], op.info["reindex"]
    table_w = t["upsert"]["wall_s"] + t["delete"]["wall_s"]
    table_out = t["upsert"]["output_b"] + t["delete"]["output_b"]
    row_bytes = _share(op.info["table_bytes"], op.info["table_rows"])
    entries = sum(v for s in spans if s["name"] == "scan" for k, v in s["attrs"].items()
                  if k in ("files_found", "symlinks_skipped", "special_files_skipped",
                           "scan_errors"))
    return {
        "scan.jobs": t["scan"]["jobs"],
        "scan.tasks": t["scan"]["tasks"],
        "scan.entries": entries,
        "scan.cpu_util": _share(t["scan"]["cpu_s"], t["scan"]["wall_s"] * cores),
        "scan.wall_share": _share(t["scan"]["wall_s"], op.wall_s),
        "phase1.jobs": t["phase1"]["jobs"],
        "phase1.shuffle_mb": t["phase1"]["shuffle_write_b"] / MB,
        "phase1.self_share": _share(t["phase1"]["self_s"], op.wall_s),
        "phase2.jobs": t["phase2"]["jobs"],
        "phase2.self_share": _share(t["phase2"]["self_s"], op.wall_s),
        "checksum.files_hashed": cold["hashed"] + re["hashed"],
        "checksum.mb_hashed": cold["mb_hashed"] + re["mb_hashed"],
        "checksum.hash_share": _share(cold["hashed"] + re["hashed"],
                                      cold["eligible"] + re["eligible"]),
        "files_table.upserts": t["upsert"]["calls"],
        "files_table.deletes": t["delete"]["calls"],
        "files_table.write_amp": _share(table_out,
                                        (cold["files"] + re["rows_changed"]) * row_bytes),
        "files_table.live_files": op.info["live_files"],
        "files_table.wall_share": _share(table_w, op.wall_s),
        "cleanup.dirs_probed": re["dirs_probed"],
        "cleanup.files_probed": re["files_probed"],
        "cleanup.rows_deleted": sum(s["attrs"].get("rows_deleted", 0) for s in spans),
        "cleanup.stat_share": _share(re["files_probed"], re["rows"]),
        "cleanup.self_share": _share(t["cleanup"]["self_s"], op.wall_s),
        # times of layers that run on this workload only (detail line)
        "scan.wall_s": t["scan"]["wall_s"],
        "phase1.self_s": t["phase1"]["self_s"],
        "phase2.self_s": t["phase2"]["self_s"],
        "checksum.cpu_s": t["phase2"]["cpu_s"],
        "files_table.upsert_s": t["upsert"]["wall_s"],
        "files_table.delete_s": t["delete"]["wall_s"],
        "cleanup.probe_s": t["cleanup"]["self_s"],
        "operators.duplicates_s": t["duplicates"]["wall_s"],
        "operators.stats_s": t["stats"]["wall_s"],
    }


def layer_metrics(tracer, ops, traced_ops, setup: dict, cores: int):
    """(per-layer metrics, extra figures): medians over the traced ops of
    each op's figures. Layers that do not run on the workload read 0."""
    from tracing import by_trace, median_of, op_totals, with_self_times

    with_self_times(tracer.spans)
    traces = by_trace(tracer.spans)
    per_op = []
    for op in traced_ops:
        spans = traces.get(op.info["trace"], [])
        tot = op_totals(spans)
        fig = {
            "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"], "spark.task_failures": tot["task_failures"],
            "spark.executor_cpu_s": tot["cpu_s"], "spark.gc_s": tot["gc_s"],
            "spark.gc_share": _share(tot["gc_s"], tot["run_s"]),
            "spark.shuffle_write_mb": tot["shuffle_write_b"] / MB,
            "spark.spill_mb": tot["spill_b"] / MB,
            "spark.cpu_util": _share(tot["cpu_s"], op.wall_s * cores),
            "trace.overhead_share": _share(op.info["bookkeeping_s"], op.wall_s),
        }
        if op.kind == "index":
            fig.update(_index_op_layers(op, spans, cores))
        elif op.kind in SERVE_TYPES:
            fig[f"serve.{op.kind}.jobs"] = tot["jobs"]
            fig[f"serve.{op.kind}.tasks"] = tot["tasks"]
            fig[f"serve.{op.kind}.p50_ms"] = op.wall_s * 1e3
        per_op.append(fig)

    keys = {k for fig in per_op for k in fig}
    merged = {k: median_of(fig[k] for fig in per_op if k in fig) for k in keys}
    merged["session.start_s"] = setup["session_s"]
    merged["host.cpu_canary_s"] = setup["cpu_canary_s"]
    merged["host.steal_share"] = steal_share(ops)
    metrics = {k: float(merged.get(k, 0.0)) for k in PER_LAYER}
    extra = {k: v for k, v in merged.items() if k not in PER_LAYER}
    fill = [s for s in tracer.spans if s["name"] == "serve.cache_fill"]
    if fill:
        extra["serve.cache_fill_s"] = fill[0]["wall_s"]
    untraced = [o.wall_s for o in ops if o not in traced_ops]
    if untraced:
        extra["trace.overhead_ms"] = (median_of(o.wall_s for o in traced_ops)
                                      - median_of(untraced)) * 1e3
    extra["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return metrics, extra


# -- main ------------------------------------------------------------------

def measure(workload, spark, tracer, seconds: float, trace: bool):
    """Closed loop: run whole batches of ops until the busy time reaches
    ``seconds``. A traced run of a workload with many short ops traces
    every other op, so the untraced ones measure the overhead."""
    from workloads import Op

    ops, traced = [], []
    busy = 0.0
    alternate = workload.batch > 1

    def more() -> bool:
        return len(ops) % workload.batch != 0 or busy < seconds

    while more():
        tracer.enabled = trace and (not alternate or len(ops) % 2 == 0)
        tracer.trace_id = f"op{len(ops)}"
        before = tracer.bookkeeping_s
        t_op = time.perf_counter()
        try:
            op = workload.op(spark, tracer)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            op = Op("error")
            op.wall_s = time.perf_counter() - t_op
            op.problems.append(traceback.format_exc(limit=3))
        op.info["trace"] = tracer.trace_id
        op.info["bookkeeping_s"] = tracer.bookkeeping_s - before
        ops.append(op)
        if tracer.enabled:
            traced.append(op)
        busy += op.wall_s
    tracer.enabled = False
    if hasattr(workload, "verify"):
        workload.verify([o for o in ops if o.kind != "error"])
    return ops, traced


def steal_share(ops) -> float:
    """Share of the host's CPU time the hypervisor took during the ops."""
    steal = sum(o.steal_s for o in ops)
    return _share(steal, steal + sum(o.cpu_s for o in ops))


def count_failed(ops) -> int:
    """Ops that raised or whose output failed a check."""
    return sum(1 for o in ops if o.problems)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("file_indexer_spark") is None:
        print(f"file_indexer_spark not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=STATE)
    spark = None
    try:
        host = isolate(workdir)
        from file_indexer_spark.session import get_spark
        from tracing import Tracer

        canary = cpu_canary()
        workload = WORKLOADS[args.workload](os.path.join(workdir, "data"), args.seed, args.scale)
        os.makedirs(workload.workdir)
        t0 = time.perf_counter()
        fixture = workload.generate()
        fixture_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=host["cpus"],
                          shuffle_partitions=host["cpus"])
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        workload.setup(spark, tracer)
        setup_s = time.perf_counter() - t0

        ops, traced = measure(workload, spark, tracer, args.seconds, bool(args.trace))
        rss = peak_rss_mb(spark)

        failed = count_failed(ops)
        good = [o for o in ops if not o.problems] or ops
        named = workload.named_metrics(good)
        wall = {"op_ms": workload.op_ms(good), "work_per_s": workload.work_per_s(good)}
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {**host, "spark": spark.version, "python": sys.version.split()[0],
                     "cpu_canary_s": canary, "steal_share": steal_share(ops)},
            "wall": wall,
            "fixture": fixture, "fixture_s": fixture_s, "session_s": session_s,
            "named": {k: {"value": v, "unit": u} for k, (u, v) in named.items()},
            "failed_ops_share": failed / len(ops),
            "ops": [{"kind": o.kind, "wall_s": o.wall_s, "cpu_s": o.cpu_s, "steal_s": o.steal_s,
                     "phases": o.phases, "problems": o.problems[:5]} for o in ops[:50]],
        }
        if args.trace:
            metrics, extra = layer_metrics(
                tracer, ops, traced,
                {"session_s": session_s, "cpu_canary_s": canary}, host["cpus"])
            units = PER_LAYER
            detail["per_layer_extra"] = extra
        else:
            metrics = {
                "op_cpu_ms": sum(o.cpu_s for o in good) / len(good) * 1e3,
                "setup_s": setup_s,
                "peak_rss_mb": rss,
            }
            units = END_TO_END
        detail["metrics"] = metrics
        out_dir = os.path.join(STATE, "out")
        os.makedirs(out_dir, exist_ok=True)
        out_file = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out_file, "w") as fh:
            json.dump({**detail, "spans": [{k: v for k, v in s.items() if k != "group"}
                                           for s in tracer.spans]}, fh, default=str)
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> int:
    return run(parse_args())


if __name__ == "__main__":
    sys.exit(main())
