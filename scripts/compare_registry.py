"""Compare the query registry of this checkout with another checkout.

    python scripts/compare_registry.py <other-checkout> [--exempt name,...]

Checks, and prints one line per check:
  * the registered name sets are identical;
  * every ORACLES string has the same sha256;
  * every registered function's AST (decorators dropped) is identical
    after normalizing the session tuning that ``register`` owns:
    ``tune_session`` calls and imports are dropped, the tuning loaders
    ``_files/_table/_events`` map to ``files_df/load_table/events_df``,
    and ``from file_indexer_spark.queries.<module> import`` names no
    module (shared helpers may live in another module).
Names passed with ``--exempt`` are reported, not compared. Exits 1 on
any difference.
"""

from __future__ import annotations

import argparse
import ast
import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LOADERS = {"_files": "files_df", "_table": "load_table", "_events": "events_df"}

_DUMP = """
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from file_indexer_spark import registry
print(json.dumps({
    "names": sorted(registry.QUERIES),
    "oracles": {k: hashlib.sha256(v.encode()).hexdigest()
                for k, v in registry.ORACLES.items()},
}))
"""


def registry_digest(checkout: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, checkout],
        check=True, capture_output=True, text=True, cwd=checkout,
    )
    return json.loads(out.stdout)


class _Normalize(ast.NodeTransformer):
    def visit_Expr(self, node):
        call = node.value
        if (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
                and call.func.id == "tune_session"):
            return None
        return self.generic_visit(node)

    def visit_Name(self, node):
        if node.id in _LOADERS:
            node.id = _LOADERS[node.id]
        return node

    def visit_ImportFrom(self, node):
        if {a.name for a in node.names} <= {"tune_session", *_LOADERS}:
            return None
        if node.module and node.module.startswith("file_indexer_spark.queries"):
            node.module = "file_indexer_spark.queries"
        return node


def registered_functions(checkout: str) -> dict[str, str]:
    found = {}
    for path in glob.glob(os.path.join(checkout, "file_indexer_spark/queries/*.py")):
        for node in ast.parse(open(path).read()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for dec in node.decorator_list:
                if (isinstance(dec, ast.Call) and getattr(dec.func, "id", "") == "register"):
                    node.decorator_list = []
                    found[dec.args[0].value] = ast.dump(_Normalize().visit(node))
    return found


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("other")
    ap.add_argument("--exempt", default="")
    args = ap.parse_args()
    exempt = {n for n in args.exempt.split(",") if n}

    ok = True
    mine, theirs = registry_digest(REPO), registry_digest(args.other)
    same_names = mine["names"] == theirs["names"]
    ok &= same_names
    print(f"registered names: {len(mine['names'])} vs {len(theirs['names'])}, "
          f"{'identical' if same_names else 'DIFFERENT'}")
    bad = sorted(k for k in set(mine["oracles"]) | set(theirs["oracles"])
                 if mine["oracles"].get(k) != theirs["oracles"].get(k))
    ok &= not bad
    print(f"oracle sha256: {len(mine['oracles'])} vs {len(theirs['oracles'])}, "
          f"{len(bad)} differ {bad}")
    fa, fb = registered_functions(REPO), registered_functions(args.other)
    unknown = sorted(exempt - set(fa))
    ok &= not unknown
    if unknown:
        print(f"exempt names not registered: {unknown}")
    diff = sorted(n for n in set(fa) | set(fb) if n not in exempt and fa.get(n) != fb.get(n))
    ok &= not diff
    print(f"function ASTs: {len(fa) - len(exempt & set(fa))} compared, "
          f"{len(diff)} differ {diff}; exempt {sorted(exempt)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
