"""Keyset pagination (P7) — reference file_indexer/indexer.py:1078-1109
and :1329-1361 semantics."""

from __future__ import annotations

from file_indexer_spark.operators import search as srch
from file_indexer_spark.session import tune_session
from file_indexer_spark.tables import files_df


def _files(spark, sf_smoke):
    tune_session(spark)
    return files_df(spark, sf_smoke)


def _walk(next_page, page_size: int) -> list:
    """Rows of every page, each page fetched from the cursor row the
    previous one ended on (None for the first), until a short page."""
    rows, cursor = [], None
    while True:
        page = next_page(cursor).collect()
        assert len(page) <= page_size
        rows.extend(page)
        if len(page) < page_size:
            return rows
        cursor = page[-1]


def test_keyset_pages_cover_table_exactly_once(spark, sf_smoke):
    files = _files(spark, sf_smoke).cache()
    total = files.count()
    rows = _walk(
        lambda c: srch.keyset_page(
            files, c and c["path"], c and c["filename"], limit=37
        ),
        37,
    )
    seen = [(r["path"], r["filename"]) for r in rows]
    assert len(seen) == total
    assert len(set(seen)) == total  # no duplicates across pages
    assert seen == sorted(seen)  # global (path, filename) order


def test_keyset_page_matches_offset_page(spark, sf_smoke):
    files = _files(spark, sf_smoke).cache()
    ordered = files.orderBy("path", "filename").collect()
    cursor = ordered[9]
    page = srch.keyset_page(
        files, after_path=cursor["path"], after_filename=cursor["filename"], limit=5
    ).collect()
    expect = [(r["path"], r["filename"]) for r in ordered[10:15]]
    assert [(r["path"], r["filename"]) for r in page] == expect


def test_keyset_directory_pages_cover_dirs_exactly_once(spark, sf_smoke):
    """Directory keyset variant (reference indexer.py:1329-1361):
    DISTINCT paths, cursor-paged by path > ?, global order, no repeats."""
    files = _files(spark, sf_smoke).cache()
    expect = sorted(r["path"] for r in files.select("path").distinct().collect())
    rows = _walk(lambda c: srch.keyset_directory_page(files, c and c["path"], limit=7), 7)
    assert [r["path"] for r in rows] == expect
    # a single mid-table page matches the slice of the full ordering
    cursor = expect[4]
    page = [r["path"] for r in srch.keyset_directory_page(files, cursor, limit=3).collect()]
    assert page == expect[5:8]
