"""CLI + serving-layer tests (reference tests/test_cli.py semantics for
parse_size/format_size; api_backend pagination math for has_more)."""

from __future__ import annotations

import pytest

from file_indexer_spark.cli import format_size, main, parse_size
from file_indexer_spark.serving import paginate
from file_indexer_spark.tables import files_df


# ---------------------------------------------------------- parse_size

@pytest.mark.parametrize(
    "text,expected",
    [
        ("0", 0),
        ("123", 123),
        ("1B", 1),
        ("1KB", 1024),
        ("100MB", 100 * 1024**2),
        ("2GB", 2 * 1024**3),
        ("1TB", 1024**4),
        ("1.5KB", 1536),
        ("100mb", 100 * 1024**2),
        (" 10 KB ", 10240),
        ("-1", -1),
    ],
)
def test_parse_size(text, expected):
    assert parse_size(text) == expected


@pytest.mark.parametrize("bad", ["", "abc", "10XB", "MB", "1..2KB"])
def test_parse_size_rejects(bad):
    with pytest.raises(ValueError):
        parse_size(bad)


@pytest.mark.parametrize(
    "num,expected",
    [
        (0, "0.0 B"),
        (512, "512.0 B"),
        (1024, "1.0 KB"),
        (1536, "1.5 KB"),
        (1024**2, "1.0 MB"),
        (5 * 1024**3, "5.0 GB"),
        (1024**5, "1.0 PB"),
    ],
)
def test_format_size(num, expected):
    assert format_size(num) == expected


# ------------------------------------------------------------ commands

@pytest.fixture()
def tree(tmp_path):
    root = tmp_path / "tree"
    (root / "sub").mkdir(parents=True)
    (root / "a.txt").write_text("hello world")
    (root / "b.txt").write_text("hello world")  # duplicate content
    (root / "c.bin").write_text("unique content")
    (root / "sub" / "d.txt").write_text("deep file")
    (root / "empty.txt").write_text("")
    return root


def test_cli_index_search_duplicates_stats(spark, tree, tmp_path, capsys):
    db = str(tmp_path / "db")
    assert main(["index", str(tree), "--db", db, "--two-phase"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "5 new" in out
    # two-phase: only the duplicate-size group (a.txt/b.txt) gets hashed
    assert "2 checksums calculated" in out

    assert main(["search", "--db", db, "--filename", "%.txt"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "4 file(s)" in out

    # exact --checksum search (reference cli.py:99 --search-checksum):
    # a.txt/b.txt share content, so their checksum matches exactly 2 rows
    import hashlib

    digest = hashlib.sha256(b"hello world").hexdigest()
    assert main(["search", "--db", db, "--checksum", digest], spark=spark) == 0
    out = capsys.readouterr().out
    assert "2 file(s)" in out
    assert "a.txt" in out and "b.txt" in out
    assert main(["search", "--db", db, "--checksum", "no-such"], spark=spark) == 0
    assert "0 file(s)" in capsys.readouterr().out
    # contradictory checksum dimensions are rejected, not silently empty
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["search", "--db", db, "--checksum", "x", "--no-checksum"], spark=spark)
    capsys.readouterr()

    assert main(["duplicates", "--db", db], spark=spark) == 0
    out = capsys.readouterr().out
    assert "1 duplicate group(s)" in out
    assert "a.txt" in out and "b.txt" in out

    assert main(["stats", "--db", db], spark=spark) == 0
    out = capsys.readouterr().out
    assert "total_files: 5" in out

    # raw SQL over the indexed table
    assert main(["sql", "--db", db, "SELECT COUNT(*) AS n FROM files"], spark=spark) == 0
    assert "5" in capsys.readouterr().out


def test_cli_cleanup_removes_deleted(spark, tree, tmp_path, capsys, monkeypatch):
    """One probe finds the deleted file and the rows of the vanished
    directory; the CLI counts both from it and runs no second
    directory pass."""
    import shutil

    from file_indexer_spark.indexer import cleanup

    def second_pass(*args, **kwargs):
        raise AssertionError("cleanup_empty_directories ran")

    monkeypatch.setattr(cleanup, "cleanup_empty_directories", second_pass)
    db = str(tmp_path / "db")
    main(["index", str(tree), "--db", db], spark=spark)
    capsys.readouterr()
    shutil.rmtree(tree / "sub")
    (tree / "c.bin").unlink()
    assert main(["cleanup", "--db", db], spark=spark) == 0
    assert "removed 2 stale file row(s), 1 of them in vanished directories" in (
        capsys.readouterr().out)
    main(["stats", "--db", db], spark=spark)
    assert "total_files: 3" in capsys.readouterr().out


# ---------------------------------------------------------- O6 / S11

def test_paginate_has_more(spark, sf_smoke):
    files = files_df(spark, sf_smoke)
    total = files.count()
    first = paginate(files, ["path", "filename"], limit=10)
    assert first.total_count == total
    assert len(first.rows) == 10
    assert first.has_more
    last = paginate(files, ["path", "filename"], limit=10, offset=total - 5)
    assert len(last.rows) == 5
    assert not last.has_more
    # pages are disjoint and ordered
    second = paginate(files, ["path", "filename"], limit=10, offset=10)
    k = lambda r: (r["path"], r["filename"])
    assert {k(r) for r in first.rows}.isdisjoint({k(r) for r in second.rows})


def test_json_round_trip(spark, tree, tmp_path):
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import update_index

    db = FilesTable(spark, str(tmp_path / "db"))
    update_index(spark, db, str(tree))
    before = {tuple(r) for r in db.read().collect()}

    dest = str(tmp_path / "export.json")
    db.export_json(dest)
    db2 = FilesTable(spark, str(tmp_path / "db2"))
    db2.import_json(dest)
    after = {tuple(r) for r in db2.read().collect()}
    assert before == after and len(before) == 5


def test_index_metadata_roundtrip(spark, tree, tmp_path, capsys):
    from file_indexer_spark.indexer.metadata import IndexMetadata

    db = str(tmp_path / "db")
    main(["index", str(tree), "--db", db], spark=spark)
    capsys.readouterr()
    meta = IndexMetadata(spark, db + "_meta").read_all()
    assert meta["root_path"] == str(tree)
    assert "indexed" in meta
    # set/get update semantics
    m = IndexMetadata(spark, str(tmp_path / "meta2"))
    m.set("a", "1")
    m.set("b", "2")
    m.set("a", "3")
    assert m.read_all() == {"a": "3", "b": "2"}
    assert m.get("missing") is None


def test_index_metadata_write_never_hides_old_contents(spark, tmp_path, monkeypatch):
    """A reader in the middle of a metadata write sees the old contents,
    never an empty store: the swap is one atomic replace."""
    from file_indexer_spark.indexer import metadata

    m = metadata.IndexMetadata(spark, str(tmp_path / "meta"))
    m.set_many({"a": "1", "b": "2"})
    seen = []
    for name in ("rename", "replace"):
        real = getattr(metadata.os, name)

        def spy(src, dst, _real=real):
            seen.append(m.read_all())
            return _real(src, dst)

        monkeypatch.setattr(metadata.os, name, spy)
    m.set("a", "3")
    monkeypatch.undo()
    assert seen and all(s == {"a": "1", "b": "2"} for s in seen), seen
    assert m.read_all() == {"a": "3", "b": "2"}


def test_service_contracts(spark, sf_smoke):
    """API-service layer (reference api_backend/tests/test_api.py
    :196-260 pagination math, :288-316 validation bounds)."""
    import pytest as _pytest

    from file_indexer_spark.serving import (
        DuplicatesRequest,
        FileIndexService,
        SearchRequest,
    )

    svc = FileIndexService(files_df(spark, sf_smoke).cache())

    page = svc.search(SearchRequest(filename_pattern="%.en", limit=5))
    assert len(page.rows) == 5 and page.has_more
    assert all(r["filename"].endswith(".en") for r in page.rows)

    resp = svc.duplicates(DuplicatesRequest(min_group_size=2, limit=3))
    assert resp.total_groups >= len(resp.groups)
    assert resp.has_more == (3 < resp.total_groups)
    assert resp.total_wasted_space == sum(
        g["wasted_space"] for g in svc.duplicates(DuplicatesRequest(limit=1000)).groups
    )

    # pattern-scoped duplicates return ALL copies of matched checksums
    scoped = svc.duplicates(DuplicatesRequest(filename_pattern="%.fr", limit=1000))
    assert scoped.total_groups <= resp.total_groups

    # size-bounded duplicates (models.py:69-74): every surviving group's
    # file_size honors the bounds, and totals describe the bounded set
    all_groups = svc.duplicates(DuplicatesRequest(limit=1000)).groups
    sizes = sorted(g["file_size"] for g in all_groups)
    cut = max(sizes[len(sizes) // 2], 1)
    bounded = svc.duplicates(DuplicatesRequest(min_file_size=cut, limit=1000))
    assert bounded.total_groups == sum(1 for s in sizes if s >= cut)
    assert all(g["file_size"] >= cut for g in bounded.groups)
    assert bounded.total_wasted_space == sum(
        g["wasted_space"] for g in all_groups if g["file_size"] >= cut
    )
    upper = svc.duplicates(DuplicatesRequest(max_file_size=cut - 1, limit=1000))
    assert upper.total_groups == resp.total_groups - bounded.total_groups

    st = svc.stats()
    assert st["total_files"] == 500

    # search limit parity: the reference allows up to 10,000
    # (models.py:45-47)
    big = svc.search(SearchRequest(limit=10000))
    assert big.total_count == 500 and not big.has_more

    for bad in (
        lambda: SearchRequest(limit=0),
        lambda: SearchRequest(limit=10001),
        lambda: SearchRequest(offset=-1),
        lambda: DuplicatesRequest(min_group_size=1),
        lambda: DuplicatesRequest(min_file_size=-1),
        lambda: DuplicatesRequest(max_file_size=-5),
        lambda: DuplicatesRequest(limit=1001),
    ):
        with _pytest.raises(ValueError):
            bad()

    from file_indexer_spark.serving import create_app

    with _pytest.raises(NotImplementedError):
        create_app(files_df(spark, sf_smoke))
    svc.close()


def test_service_visualization_and_health(spark, sf_smoke):
    """Reference parity: /visualization (routers.py:204, the a9/a10/a11
    chart tables in one response) and /health (routers.py:36-57)."""
    from file_indexer_spark.serving import FileIndexService

    svc = FileIndexService(files_df(spark, sf_smoke).cache())

    viz = svc.visualization()
    assert set(viz) == {"size_distribution", "extension_stats", "modification_timeline"}
    assert viz["size_distribution"], "smoke corpus spans several size bands"
    for band in viz["size_distribution"]:
        assert {"size_range", "count", "total_size"} <= set(band)
    assert 0 < len(viz["extension_stats"]) <= 20
    assert all(isinstance(m["month"], (str, type(None))) for m in viz["modification_timeline"])

    h = svc.health()
    assert h["status"] == "healthy" and h["database_connected"]
    assert h["total_files"] == 500
    # full HealthCheck contract (reference models.py:155-159): all five
    # fields present; database_path is None for an in-memory snapshot
    assert set(h) == {
        "status", "database_connected", "database_path", "total_files", "api_version",
    }
    assert h["api_version"] == "0.1.0"
    assert h["database_path"] is None

    svc2 = FileIndexService(files_df(spark, sf_smoke), source_path="/data/files")
    assert svc2.health()["database_path"] == "/data/files"
    svc2.close()
    svc.close()


def test_cli_and_files_table_import_without_pandas():
    """pandas runs on the executors only: importing the CLI or the files
    table (every command does) must not pay for its import."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; import file_indexer_spark.cli, file_indexer_spark.indexer.files_table; "
            "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pandas'))")
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, check=True,
                         capture_output=True, text=True, timeout=120).stdout
    assert out.strip() == "[]"
