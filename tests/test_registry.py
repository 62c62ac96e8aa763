"""Registry contracts: the query modules stand alone, and every
registered query tunes the session it is handed."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_DIR = os.path.join(REPO, "file_indexer_spark", "queries")
SHARED = "file_indexer_spark.queries.shared"


def _imported_modules(node: ast.AST) -> list[str]:
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if isinstance(node, ast.ImportFrom) and node.module:
        if node.module == "file_indexer_spark.queries":
            return [f"{node.module}.{a.name}" for a in node.names]
        return [node.module]
    return []


def test_query_modules_stand_alone():
    """Spark-free: a domain module imports no other query module except
    ``shared``, ``shared`` imports none, no module tunes the session
    itself (``register`` does, once per call), and no module keeps an
    unused import behind a ``noqa: F401`` waiver."""
    problems = []
    for path in sorted(glob.glob(os.path.join(QUERY_DIR, "*.py"))):
        mod = os.path.basename(path)[:-3]
        src = open(path).read()
        if "noqa: F401" in src:
            problems.append(f"{mod}: carries a 'noqa: F401' import")
        for node in ast.walk(ast.parse(src)):
            for target in _imported_modules(node):
                if target.startswith("file_indexer_spark.queries.") and (
                    mod == "shared" or target != SHARED
                ):
                    problems.append(f"{mod}: imports {target}")
            if isinstance(node, ast.Call):
                fn = node.func
                called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
                if called == "tune_session":
                    problems.append(f"{mod}:{node.lineno}: calls tune_session")
    assert problems == [], problems


def test_registered_query_tunes_an_untuned_session(spark, sf_smoke):
    """A registered query must not depend on another query having tuned
    the session first: e6 (which reads events_df directly) still matches
    its oracle on a session left at America/New_York, where an untuned
    run puts every cohort week at 05:00 UTC instead of midnight."""
    from file_indexer_spark import registry
    from tests.oracle import compare

    name = "e6_retention_cohorts"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = registry.QUERIES[name](spark, sf_smoke)
        problems = compare(df, registry.ORACLES[name], sf_smoke)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert not problems, problems
