"""Generated-code reuse: a repeated engine call compiles (almost) no new
classes.

Spark compiles each whole-stage and expression class with Janino and
keeps it in a static LRU cache (``spark.sql.codegen.cache.maxEntries``).
``get_spark`` sizes that cache above the engine's working set; with
Spark's default of 100 entries a warm index pass plus the catalog
requests evicts every class before it is used again, and each repeat
compiles them all anew.
"""

from __future__ import annotations

import pytest

from file_indexer_spark import session
from file_indexer_spark.indexer.files_table import FilesTable
from file_indexer_spark.indexer.two_phase import two_phase_index
from file_indexer_spark.serving import DuplicatesRequest, FileIndexService

from conftest import TEST_CPUS


def test_repeated_index_and_serve_reuse_generated_code(spark, tmp_path):
    root = tmp_path / "tree"
    for d in range(4):
        sub = root / f"d{d}"
        sub.mkdir(parents=True)
        for f in range(5):
            (sub / f"f{f}.txt").write_text("same" if f < 2 else f"{d}-{f}" * (f + 1))
    table = FilesTable(spark, str(tmp_path / "files_db"))
    two_phase_index(spark, table, str(root))  # the cold pass has its own plan shapes

    def warm_sequence():
        two_phase_index(spark, table, str(root))
        service = FileIndexService(table.read())
        service.stats()
        service.visualization()
        service.duplicates(DuplicatesRequest())
        service.files.unpersist()

    warm_sequence()
    warm_sequence()
    before = session.codegen_compiles(spark)
    warm_sequence()
    # what a repeat may still compile: the index pass inlines its run's
    # timestamp (one class for the planning-time check, one for the tasks),
    # and AQE may number the codegen stages of two independent query
    # stages in either order. With a 100-entry cache it compiles ~120.
    assert session.codegen_compiles(spark) - before <= 10


def test_get_spark_warns_when_codegen_cache_not_applied(spark, monkeypatch):
    """An already-running JVM keeps its codegen cache size; get_spark
    says so instead of running with the wrong one."""
    same = {"app_name": "file_indexer_spark_tests", "shuffle_partitions": TEST_CPUS, "cpus": TEST_CPUS}
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(session.CODEGEN_CACHE_ENTRIES)
    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", session.CODEGEN_CACHE_ENTRIES + 1)
    with pytest.warns(UserWarning, match="codegen.cache.maxEntries"):
        assert session.get_spark(**same) is spark
