"""Self-test of the benchmark at toy size.

    python3 -m pytest perfbench/tests -q

Checks that every metric BENCHMARK.json names is printed with its unit,
that one seed always yields the same inputs, and that planted wrong
outputs (a wrong checksum, a leftover row for a deleted file, a wrong
serving total) are caught and counted as failed ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TOY = fixtures.TreeSpec(files=60, fanout=(2, 2, 2), min_size=1024, max_size=8192)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_metrics_printed():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload,trace", [("index", 1), ("catalog_serve", 0)])
def test_toy_run_prints_every_metric_with_its_unit(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_same_seed_same_inputs(tmp_path):
    a = fixtures.make_tree(str(tmp_path / "a"), 5, TOY)
    b = fixtures.make_tree(str(tmp_path / "b"), 5, TOY)
    c = fixtures.make_tree(str(tmp_path / "c"), 6, TOY)
    assert a.manifest_hash() == b.manifest_hash() != c.manifest_hash()
    a.churn(1)
    b.churn(1)
    assert a.manifest_hash() == b.manifest_hash()
    assert fixtures.catalog_frame(5, 500).equals(fixtures.catalog_frame(5, 500))


def test_model_matches_phase_two_selection(tmp_path):
    tree = fixtures.make_tree(str(tmp_path / "t"), 3, TOY)
    newly, attempted = tree.settle_checksums()
    sizes = [e.size for e in tree.files.values() if e.size > 0]
    shared = {s for s in sizes if sizes.count(s) > 1}
    assert {k for k, e in tree.files.items() if e.size in shared} == set(newly)
    assert attempted == len(newly)


@pytest.fixture(scope="module")
def spark():
    import shutil
    import tempfile

    os.makedirs(run.STATE, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="selftest-", dir=run.STATE)
    run.isolate(workdir)
    from file_indexer_spark.session import get_spark

    session = get_spark("perfbench-selftest", cpus=2, shuffle_partitions=2)
    yield session
    run.stop_spark(session)
    shutil.rmtree(workdir, ignore_errors=True)


def _index_op(spark, tmp_path, seed):
    from tracing import Tracer

    wl = workloads.IndexWorkload(str(tmp_path), seed, scale=0.02)
    wl.generate()
    return wl, wl.op(spark, Tracer(spark, enabled=False))


def test_clean_index_op_passes(spark, tmp_path):
    _, op = _index_op(spark, tmp_path, 1)
    assert op.problems == []
    assert run.count_failed([op]) == 0


def test_planted_wrong_checksum_is_a_failed_op(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from file_indexer_spark.indexer import two_phase

    real = two_phase.add_checksums

    def wrong(files, algorithm="sha256"):
        out = real(files, algorithm)
        first = F.col("filename") == F.lit(sorted(n for _, n in tree.files)[0])
        return out.withColumn("checksum", F.when(first, F.lit("0" * 64))
                              .otherwise(F.col("checksum")))

    wl = workloads.IndexWorkload(str(tmp_path), 2, scale=0.02)
    wl.generate()
    tree = wl.tree
    monkeypatch.setattr(two_phase, "add_checksums", wrong)
    from tracing import Tracer

    op = wl.op(spark, Tracer(spark, enabled=False))
    assert any("checksum" in p for p in op.problems), op.problems
    assert run.count_failed([op]) == 1


def test_planted_leftover_deleted_row_is_a_failed_op(spark, tmp_path, monkeypatch):
    from file_indexer_spark.indexer import cleanup

    real = cleanup.probe_deleted_files

    def keeps_one(table):  # a cleanup that forgets one deleted file
        stale = real(table)
        keep = stale.orderBy("path", "filename").limit(1)
        return stale.join(keep, ["path", "filename"], "left_anti")

    monkeypatch.setattr(cleanup, "probe_deleted_files", keeps_one)
    monkeypatch.setattr(cleanup, "cleanup_empty_directories", lambda spark, table: 0)
    _, op = _index_op(spark, tmp_path, 3)
    assert any("not on disk" in p for p in op.problems), op.problems
    assert run.count_failed([op]) == 1


def test_planted_wrong_serving_total_is_caught(tmp_path):
    from file_indexer_spark.serving import Page, SearchRequest

    src = str(tmp_path / "c.parquet")
    fixtures.catalog_frame(4, 300).to_parquet(src, index=False, coerce_timestamps="us")
    oracle = checks.ServeOracle([src])
    try:
        req = SearchRequest(filename_pattern="%.txt", limit=5, offset=3)
        rows = oracle._query("SELECT * FROM files WHERE filename LIKE '%.txt' "
                             "ORDER BY path, filename LIMIT 5 OFFSET 3")
        total = oracle._query("SELECT COUNT(*) AS n FROM files WHERE filename LIKE '%.txt'")[0]["n"]

        class Row(dict):
            def asDict(self):
                return dict(self)

        good = Page([Row(r) for r in rows], total, 5, 3, 3 + len(rows) < total)
        assert oracle.check_search(req, good) == []
        bad = Page(good.rows, total + 1, 5, 3, good.has_more)
        assert oracle.check_search(req, bad)
    finally:
        oracle.close()
