"""Time a subset of registered queries through the bench's exact
methodology (noop sink, warm-up pass, min-of-N) — for optimization-round
before/after isolation without paying the full-suite run.

Usage:
    python scripts/bench_subset.py [-n REPS] query [query ...]

Prints one JSON line {"queries": {name: sec}, "compiles": {name: n},
"sf": ..., "reps": N}. Methodology mirrors bench.py: each query fully
executes via the noop sink; a warm-up pass precedes measurement; GC
between reps (the localCheckpoint reaper); min of reps reported.
"compiles" counts the classes Janino compiled over a query's measured
reps: after the warm-up a query whose plan shapes repeat and stay
cached compiles none, so a rise shows a plan-shape or caching change.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import _reap, run_query_safe  # noqa: E402
from file_indexer_spark import registry  # noqa: E402
from file_indexer_spark.session import codegen_compiles, get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    if args and args[0] == "-n":
        if len(args) < 2:
            sys.exit("usage: bench_subset.py [-n REPS] query [query ...]")
        reps = int(args[1])
        args = args[2:]
    unknown = [n for n in args if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"unknown queries (not in registry): {unknown}")
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else -1.0
    spark = get_spark("file_indexer_spark_bench_subset")
    errors: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup {name}")
        run_query_safe(registry.QUERIES[name], spark, sf_dir, errors, name)
        _reap(spark)
    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in names:
        if name in errors:
            continue
        best = None
        compiled = codegen_compiles(spark)
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"measure {name}")
            t = run_query_safe(registry.QUERIES[name], spark, sf_dir, errors, name)
            if t is not None and (best is None or t < best):
                best = t
            _reap(spark)
        if best is not None and name not in errors:
            # a query that succeeded in warm-up but failed mid-measurement
            # belongs in errors ONLY — recording its earlier best too would
            # make the JSON ambiguous
            timings[name] = round(best, 4)
            compiles[name] = codegen_compiles(spark) - compiled
    out = {"queries": timings, "compiles": compiles, "sf": sf, "reps": reps}
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
