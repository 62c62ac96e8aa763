"""Capture .explain("formatted") for a set of registered queries into
plans/<round>/<query>_<tag>.txt (tag = before|after; round from
$SPARK_GRAFT_PLANS_ROUND, default r13).

Usage:
    python scripts/capture_plans.py <tag> [query ...]

With no query names, captures bench.py's headline set.
Gate functions that materialize intermediates during CONSTRUCTION
(dd12/dd13/x2/...) execute those writes here too — the captured plan is
the plan of the RETURNED DataFrame, which is what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import HEADLINE  # noqa: E402
from file_indexer_spark import registry  # noqa: E402
from file_indexer_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13")
    out_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("file_indexer_spark_plans")
    for name in names:
        fn = registry.QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not registered")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR constructing {name}: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
