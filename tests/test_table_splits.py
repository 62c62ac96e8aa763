"""The table layer's split rule (``files_table.one_split``): a files
table that fits one split reads as one partition, so the paper's report
over it plans no exchange; a table that spans several splits keeps the
partitions its scan plans. Over such a table and a tree whose walk ends
in one round, the whole index op plans no exchange."""

from __future__ import annotations

import ast
import datetime as dt
import os
import shutil

import pytest

import file_indexer_spark
from file_indexer_spark.indexer.cleanup import probe_deleted_files
from file_indexer_spark.indexer.files_table import FilesTable
from file_indexer_spark.indexer.two_phase import two_phase_index
from file_indexer_spark.operators.duplicates import duplicate_groups_nested
from file_indexer_spark.operators.stats import database_stats
from tests import plan_inspect as pi
from tests.test_serving import _jobs


def _rows(start: int, n: int, checksum_every: int = 3):
    t = dt.datetime(2024, 1, 1)
    return [
        (f"/d{i % 7}", f"f{i}.txt", f"c{i % 5}" if i % checksum_every == 0 else None,
         t + dt.timedelta(minutes=i), 100 + i % 4, t)
        for i in range(start, start + n)
    ]


@pytest.fixture()
def table(spark, tmp_path):
    """A table written over three commits that holds several parquet files."""
    schema = ("path string, filename string, checksum string, "
              "modification_datetime timestamp, file_size bigint, indexed_at timestamp")
    table = FilesTable(spark, str(tmp_path / "files_db"))
    table.overwrite(spark.createDataFrame(_rows(0, 60), schema).repartition(3))
    table.delete(spark.createDataFrame(_rows(0, 5), schema))
    table.upsert(spark.createDataFrame(_rows(40, 40, 2), schema).repartition(2))
    assert len(table.read().inputFiles()) > 1
    return table


def test_a_table_of_one_split_reads_as_one_partition_and_reports_without_exchanges(
        spark, table):
    files = table.read()
    assert files.count() == 75
    assert files.rdd.getNumPartitions() == 1
    sc = spark.sparkContext
    for name, report, most in (("stats", database_stats, 2),
                               ("duplicates", duplicate_groups_nested, 1)):
        df = report(table.read())
        assert pi.count_exchanges(df) == 0, pi.simple_plan(df)
        assert _jobs(sc, f"split-{name}", df.collect) <= most, name


def test_a_table_of_several_splits_keeps_its_partitions(spark, table):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        files = table.read()
        scan = spark.read.parquet(*files.inputFiles())
        assert scan.rdd.getNumPartitions() > 1
        assert files.rdd.getNumPartitions() == scan.rdd.getNumPartitions()
        assert files.count() == 75
    finally:
        spark.conf.set(key, old)


def test_an_index_op_over_one_split_runs_every_job_as_one_stage(spark, tmp_path):
    """Cold index, report, re-index and probe cleanup, as the CLI runs
    them: no job has a second stage, so none reads a shuffle. (The new
    file shares its size with hashed files, so the re-index has work
    for phase 2; a phase 2 with no candidates counts them over an empty
    relation, which still plans an exchange of zero rows.)"""
    root = tmp_path / "tree"
    for d in range(3):
        (root / f"d{d}").mkdir(parents=True)
        for f in range(4):
            (root / f"d{d}" / f"f{f}.txt").write_text("same" if f < 2 else f"{d}-{f}" * (f + 1))
    table = FilesTable(spark, str(tmp_path / "files_db"))

    def op():
        assert two_phase_index(spark, table, str(root)).files_inserted == 12
        duplicate_groups_nested(table.read()).collect()
        database_stats(table.read()).collect()
        shutil.rmtree(root / "d1")
        (root / "d0" / "f3.txt").unlink()
        (root / "d2" / "new.txt").write_text("same")
        assert two_phase_index(spark, table, str(root)).files_inserted == 1
        stale = probe_deleted_files(table)
        assert stale.filter("in_vanished_dir").count() == 4
        assert stale.count() == 5
        table.delete(stale)

    sc = spark.sparkContext
    group = "split-index-op"
    sc.setJobGroup(group, "index op stage guard")
    try:
        op()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    assert [j for j in jobs if len(tracker.getJobInfo(j).stageIds) > 1] == []
    assert table.read().count() == 8


def test_the_split_size_is_read_in_one_function():
    """One helper owns the split rule; a second reader of the conf is a
    second rule that can drift from it."""
    root = os.path.dirname(file_indexer_spark.__file__)
    owners = []
    for folder, _, names in os.walk(root):
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(folder, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            owners += _owners(tree, "filesMaxPartitionBytes", os.path.relpath(path, root))
    assert len(set(owners)) <= 1, owners


def _owners(tree: ast.AST, word: str, where: str) -> list[str]:
    """The innermost function (or the module) around each mention of ``word``."""
    found = []

    def visit(node: ast.AST, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = f"{where}:{node.name}"
        if (isinstance(node, ast.Attribute) and node.attr == word) or (
                isinstance(node, ast.Name) and node.id == word) or (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
                and word in node.value):
            found.append(owner)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(tree, where)
    return found
