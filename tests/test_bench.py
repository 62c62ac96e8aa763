"""bench.py's query lists and its script-facing names, checked without a
Spark session: a name that drops out of the sweep would shrink the
totals and read as a speed-up."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest

import bench
from file_indexer_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benched_names_are_registered_and_listed_once():
    names = bench.HEADLINE + bench.LLM_EXTENSION
    assert bench.benched_names() == names
    assert [n for n in names + bench.SCALING_HEAVIES if n not in registry.QUERIES] == []
    assert len(set(names)) == len(names)
    assert set(bench.SCALING_HEAVIES) <= set(names)  # timed by the sweep


@pytest.mark.parametrize(
    "attr, extra",
    [
        ("HEADLINE", "no_such_query"),  # not registered
        ("LLM_EXTENSION", "d5_duplicates_report"),  # listed twice
        ("SCALING_HEAVIES", "no_such_heavy"),  # not registered
    ],
)
def test_benched_names_raise_instead_of_skipping(monkeypatch, attr, extra):
    monkeypatch.setattr(bench, attr, getattr(bench, attr) + [extra])
    with pytest.raises(ValueError, match=extra):
        bench.benched_names()


def test_script_imports_from_bench_exist():
    imported = set()
    for script in ("bench_subset.py", "capture_plans.py"):
        tree = ast.parse(open(os.path.join(REPO, "scripts", script)).read())
        imported |= {
            alias.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.module == "bench"
            for alias in node.names
        }
    assert {"_reap", "run_query_safe", "HEADLINE"} <= imported
    assert [n for n in imported if not hasattr(bench, n)] == []


@pytest.mark.parametrize("flag", sorted(bench.REMOVED_MODES))
def test_removed_modes_fail_and_name_the_commit(flag):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), flag],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "df1108a" in proc.stderr and bench.REMOVED_MODES[flag] in proc.stderr
    assert proc.stdout == ""
