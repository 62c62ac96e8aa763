"""Route-layer parity for the serving surface (reference
api_backend/file_indexer_api/routers.py): the full GET /search/ param
set, POST /search/ and POST /duplicates/ request bodies. The mapping
helpers are framework-free and tested end-to-end here; the fastapi
wiring itself is exercised only when fastapi is installed (TestClient
block at the bottom, import-gated like create_app)."""

from __future__ import annotations

import copy
import datetime as dt
import threading

import pytest
from pyspark.sql import functions as F

from file_indexer_spark import serving as sv
from file_indexer_spark.session import tune_session
from file_indexer_spark.tables import files_df


@pytest.fixture(scope="module")
def svc(spark, sf_smoke):
    tune_session(spark)
    return sv.FileIndexService(files_df(spark, sf_smoke))


def test_get_param_surface_forwards_all_filters(svc):
    """GET /search/ must forward checksum/has_checksum/size bounds
    (reference routers.py:85-119), not just patterns+paging."""
    # pick a real checksum from the corpus
    some = svc.search(sv.SearchRequest(has_checksum=True, limit=1)).rows[0]
    req = sv.search_request_from_query(checksum=some["checksum"], limit=10)
    page = svc.search(req)
    assert page.total_count >= 1
    assert all(r["checksum"] == some["checksum"] for r in page.rows)

    req = sv.search_request_from_query(has_checksum=False, limit=5)
    assert all(r["checksum"] is None for r in svc.search(req).rows)

    req = sv.search_request_from_query(min_size=100, max_size=200, limit=2000)
    sizes = [r["file_size"] for r in svc.search(req).rows]
    assert sizes and all(100 <= s <= 200 for s in sizes)

    # GET parity: no modification-bound params exist on the GET surface
    assert req.modified_after is None and req.modified_before is None


def test_post_search_body_full_model(svc):
    """POST /search/ accepts the full SearchRequest model, including
    the reference field names (min_size/max_size) and ISO datetime
    strings for the modification bounds."""
    body = {
        "filename_pattern": "doc_%",
        "min_size": 50,
        "max_size": 5000,
        "modified_after": "2023-01-01T00:00:00",
        "limit": 25,
        "offset": 0,
    }
    req = sv.search_request_from_body(body)
    assert req.min_file_size == 50 and req.max_file_size == 5000
    assert isinstance(req.modified_after, dt.datetime)
    page = svc.search(req)
    out = sv.search_response_dict(page)
    assert set(out) == {"files", "total_count", "has_more"}
    assert len(out["files"]) <= 25
    for f in out["files"]:
        assert 50 <= f["file_size"] <= 5000
        assert f["modification_datetime"] >= dt.datetime(2023, 1, 1)

    with pytest.raises(ValueError):
        sv.search_request_from_body({"limit": 0})
    # unknown body fields are DROPPED (reference pydantic models ignore
    # extras — a stray key must not surface as a 500/TypeError)
    req = sv.search_request_from_body({"no_such_field": 1, "limit": 7})
    assert req.limit == 7


def test_post_duplicates_body_and_response_shape(svc):
    body = {"min_group_size": 2, "limit": 5, "offset": 0}
    resp = svc.duplicates(sv.duplicates_request_from_body(body))
    out = sv.duplicates_response_dict(resp)
    # reference DuplicatesResponse parity (models.py:103-110)
    assert set(out) == {
        "duplicate_groups", "total_groups", "total_duplicate_files",
        "total_wasted_space", "has_more",
    }
    assert len(out["duplicate_groups"]) <= 5
    for g in out["duplicate_groups"]:
        # recursive serialization: nested files must be plain dicts
        assert isinstance(g["files"], list)
        assert all(isinstance(f, dict) for f in g["files"])
        assert g["file_count"] >= 2
    # routers.py:132 — sum of the page groups' file counts
    assert out["total_duplicate_files"] == sum(
        g["file_count"] for g in out["duplicate_groups"]
    )

    with pytest.raises(ValueError):
        sv.duplicates_request_from_body({"min_group_size": 1})
    assert sv.duplicates_request_from_body({"bogus": True}).min_group_size == 2


def _answer(fn, seconds=300):
    """``fn()`` on a daemon thread: a request whose observation is never
    filled fails here instead of hanging the suite."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except Exception as exc:  # noqa: BLE001 - re-raised below
            out["error"] = exc

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), "request did not return"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _keys(rows):
    return [(r["path"], r["filename"]) for r in rows]


def test_observed_total_counts_rows_of_an_already_sorted_input(spark, sf_smoke, svc):
    """An input already ordered on the page keys lets the top-K stop
    after offset+limit rows; the observed total must still count all."""
    for files in (svc.files, files_df(spark, sf_smoke).repartition(3)):
        ordered = files.orderBy("path", "filename")
        expected = _keys(ordered.collect())
        total = len(expected)
        assert 11 + 7 < total
        page = _answer(lambda: sv.paginate(ordered, ["path", "filename"], limit=7, offset=11))
        assert page.total_count == total == ordered.count()
        assert page.has_more
        assert _keys(page.rows) == expected[11:18]


def test_observed_duplicate_totals_do_not_depend_on_the_page(svc):
    for scope in ({}, {"filename_pattern": "%.fr"}):
        whole = svc.duplicates(sv.DuplicatesRequest(limit=1000, **scope))
        assert whole.total_groups == len(whole.groups) >= 4
        assert whole.total_wasted_space == sum(g["wasted_space"] for g in whole.groups)
        for offset in (1, whole.total_groups - 2):
            page = _answer(lambda: svc.duplicates(sv.DuplicatesRequest(limit=3, offset=offset, **scope)))
            assert (page.total_groups, page.total_wasted_space) == (
                whole.total_groups, whole.total_wasted_space)
            assert page.groups == whole.groups[offset:offset + 3]
            assert page.has_more == (offset + 3 < whole.total_groups)


def test_empty_pages_report_totals_and_return(svc):
    """Zero matches, contradictory size bounds and an offset past the
    end: the observation is still filled, with 0 or the true total."""
    total = svc.files.count()
    groups = svc.duplicates(sv.DuplicatesRequest(limit=1000)).total_groups
    searches = (
        (sv.SearchRequest(filename_pattern="no-such-file%"), 0),
        (sv.SearchRequest(min_file_size=10, max_file_size=5), 0),
        (sv.SearchRequest(offset=total + 10), total),
    )
    for req, want in searches:
        page = _answer(lambda: svc.search(req))
        assert (page.rows, page.total_count, page.has_more) == ([], want, False), req
    duplicates = (
        (sv.DuplicatesRequest(path_pattern="/no-such-dir/%"), 0),
        (sv.DuplicatesRequest(min_file_size=10, max_file_size=5), 0),
        (sv.DuplicatesRequest(offset=groups + 10), groups),
    )
    for req, want in duplicates:
        resp = _answer(lambda: svc.duplicates(req))
        assert (resp.groups, resp.total_groups, resp.has_more) == ([], want, False), req
        if want == 0:
            assert resp.total_wasted_space == 0
    with pytest.raises(ValueError):
        sv.paginate(svc.files, ["path"], limit=0)


def test_page_end_past_int32_is_refused(svc):
    """Spark holds offset + limit in a 32-bit int: a page ending past
    2**31 - 1 is a ValueError, not an AnalysisException or a Py4JError."""
    for offset in (2**31 - 50, 2**31):
        with pytest.raises(ValueError, match="offset \\+ limit"):
            svc.search(sv.SearchRequest(offset=offset, limit=100))
        with pytest.raises(ValueError, match="offset \\+ limit"):
            svc.duplicates(sv.DuplicatesRequest(offset=offset, limit=100))


def test_empty_snapshot(spark, sf_smoke):
    """Every request over an empty catalog answers with zero totals; the
    stats row rolls its per-checksum groups up to 0, not NULL."""
    empty = sv.FileIndexService(files_df(spark, sf_smoke).limit(0))
    try:
        page = _answer(lambda: empty.search(sv.SearchRequest()))
        assert (page.rows, page.total_count, page.has_more) == ([], 0, False)
        resp = _answer(lambda: empty.duplicates(sv.DuplicatesRequest(filename_pattern="%")))
        assert (resp.groups, resp.total_groups, resp.total_wasted_space) == ([], 0, 0)
        stats = empty.stats()
        assert {k: v for k, v in stats.items() if v is not None} == {
            "total_files": 0, "total_size": 0, "files_with_checksums": 0,
            "files_without_checksums": 0, "unique_directories": 0, "unique_checksums": 0,
            "duplicate_groups": 0, "duplicate_files": 0,
        }
        assert empty.visualization() == {
            "size_distribution": [], "extension_stats": [], "modification_timeline": []}
    finally:
        empty.close()


def test_each_request_is_one_job(spark, svc):
    """Over the one-partition snapshot no request plans an exchange, so
    search, duplicates and visualization are one job each and stats two
    (its cross join broadcasts a one-row side). Before the snapshot was
    coalesced they took 3, 8, 10 and 6."""
    sc = spark.sparkContext
    svc.files.count()  # the cache is filled once, not by a request
    requests = (
        ("search", lambda: svc.search(sv.SearchRequest(filename_pattern="doc_%", offset=3, limit=5)), 1),
        ("duplicates", lambda: svc.duplicates(sv.DuplicatesRequest(offset=1, limit=5)), 1),
        ("scoped-duplicates",
         lambda: svc.duplicates(sv.DuplicatesRequest(path_pattern="/src1%", min_file_size=100)), 1),
        ("visualization", svc.visualization, 1),
        ("stats", svc.stats, 2),
    )
    for name, call, most in requests:
        assert _jobs(sc, name, call) <= most, name


def _jobs(sc, name, call) -> int:
    """How many Spark jobs ``call()`` submits from this thread."""
    group = f"serve-job-guard-{name}"
    sc.setJobGroup(group, f"{name} job-count guard")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _crafted_files(spark):
    """A one-partition snapshot with NULL checksums, groups of 1-4 rows,
    a size-0 group, a checksum at two sizes with one row each, and
    checksum "x": two rows at size 100 and one at size 200, where that
    singleton-size row is the only match of ``%.zz`` and of ``/only/%``."""
    t = dt.datetime(2024, 1, 1)
    rows = [("/p1", "n1.txt", None, 10), ("/p2", "n2.txt", None, 10), ("/p1", "n3.log", None, 0),
            ("/p1", "a1.txt", "a", 50)]
    for checksum, n, size in (("b", 2, 70), ("c", 3, 300), ("d", 4, 20), ("e", 2, 0)):
        rows += [(f"/p{1 + i % 2}", f"f{checksum}{i}.txt", checksum, size) for i in range(n)]
    rows += [("/p1", "y1.log", "y", 5), ("/p2", "y2.log", "y", 6),
             ("/p1", "x1.txt", "x", 100), ("/p2", "x2.txt", "x", 100), ("/only", "x3.zz", "x", 200)]
    return spark.createDataFrame(
        [(p, f, c, t + dt.timedelta(days=i), s, t) for i, (p, f, c, s) in enumerate(rows)],
        "path string, filename string, checksum string, modification_datetime timestamp, "
        "file_size bigint, indexed_at timestamp").coalesce(1)


def _reference_duplicates(files, req):
    """The answer over the whole snapshot, without the service."""
    from file_indexer_spark.operators.duplicates import group_duplicates, group_order, scope_to_pattern

    scope = scope_to_pattern(files, req.filename_pattern, req.path_pattern,
                             req.min_file_size, req.max_file_size)
    page, obs = sv.observed_page(
        group_duplicates(scope, req.min_group_size), group_order(), req.limit, req.offset,
        total_groups=F.count(F.lit(1)),
        total_wasted_space=F.coalesce(F.sum("wasted_space"), F.lit(0)))
    rows = page.collect()
    return rows, obs.get["total_groups"], obs.get["total_wasted_space"]


def test_duplicates_from_the_duplicated_rows_equal_the_whole_snapshot(spark):
    """The service answers ``duplicates`` from its cached frame of the
    rows whose checksum is shared; every request of the grid must equal
    the same operators over the whole snapshot."""
    files = _crafted_files(spark)
    svc = sv.FileIndexService(files)
    try:
        patterns = ((None, None), ("%.zz", None), (None, "/only/%"), ("f%", "/p2"),
                    ("nomatch%", None))
        bounds = ((None, None), (150, None), (0, 0), (10, 5))
        seen = set()
        for filename, path in patterns:
            for low, high in bounds:
                # with limit 3 these pages cut every group order, and
                # offset 50 is past the end
                for size, offsets in ((2, (0, 3)), (3, (1, 50))):
                    for offset in offsets:
                        req = sv.DuplicatesRequest(
                            min_group_size=size, filename_pattern=filename, path_pattern=path,
                            min_file_size=low, max_file_size=high, limit=3, offset=offset)
                        got = svc.duplicates(req)
                        rows, total, wasted = _reference_duplicates(svc.files, req)
                        assert (got.groups, got.total_groups, got.total_wasted_space) == (
                            rows, total, wasted), req
                        assert got.has_more == (offset + len(rows) < total), req
                        seen.update((g["checksum"], g["file_size"]) for g in rows)
        # the grid reaches every group, the size-0 one and the copies of
        # "x" that only their singleton-size sibling matches
        assert seen == {("b", 70), ("c", 300), ("d", 20), ("e", 0), ("x", 100)}
        scoped = svc.duplicates(sv.DuplicatesRequest(filename_pattern="%.zz", min_file_size=150))
        assert [(g["checksum"], g["file_size"], g["file_count"]) for g in scoped.groups] == [
            ("x", 100, 2)]
    finally:
        svc.close()


def test_derived_answers_cost_jobs_once(spark):
    """On a fresh service the first duplicates request fills the
    snapshot and the duplicated rows; every later one is one job. The
    first stats call is at most two jobs and the first visualization
    one; later stats and visualization calls run none."""
    sc = spark.sparkContext
    svc = sv.FileIndexService(_crafted_files(spark))
    try:
        # adaptive execution runs each unfilled cache a plan reads as a
        # stage of its own (TableCacheQueryStage), so this request also
        # runs the jobs that fill the snapshot and the frame
        assert _jobs(sc, "first-duplicates", lambda: svc.duplicates(sv.DuplicatesRequest())) <= 5
        for i, req in enumerate((sv.DuplicatesRequest(),
                                 sv.DuplicatesRequest(path_pattern="/p1%", offset=1))):
            assert _jobs(sc, f"next-duplicates-{i}", lambda: svc.duplicates(req)) == 1
        assert _jobs(sc, "first-stats", svc.stats) <= 2
        assert _jobs(sc, "first-visualization", svc.visualization) == 1
        for i, (name, call) in enumerate((("stats", svc.stats),
                                          ("visualization", svc.visualization)) * 2):
            assert _jobs(sc, f"later-{name}-{i}", call) == 0, name
    finally:
        svc.close()


def test_memoized_answers_are_copies_computed_once(spark):
    """Mutating a returned answer leaves the next one unchanged; two
    first ``stats`` calls at once run one computation; ``close`` drops
    both cached frames."""
    from pyspark import StorageLevel

    sc = spark.sparkContext
    svc = sv.FileIndexService(_crafted_files(spark))
    try:
        svc.files.count()  # the snapshot's own fill is not the computation counted
        barrier = threading.Barrier(2)
        counts = []

        def first_stats(name):
            barrier.wait()
            counts.append(_jobs(sc, f"racing-stats-{name}", svc.stats))

        threads = [threading.Thread(target=first_stats, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert sorted(counts)[0] == 0 and 1 <= sorted(counts)[1] <= 2, counts

        stats = svc.stats()
        want = dict(stats)
        stats["total_files"] = -1
        assert svc.stats() == want
        charts = svc.visualization()
        want = copy.deepcopy(charts)
        charts["extension_stats"][0]["count"] = -1
        charts["size_distribution"].clear()
        assert svc.visualization() == want

        svc.duplicates(sv.DuplicatesRequest())
        frames = (svc.files, svc._duplicated)
        assert all(f.storageLevel != StorageLevel.NONE for f in frames)
        cached = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    finally:
        svc.close()
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    assert len(cached - {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}) == 2


def test_service_over_a_frame_without_statistics(spark, sf_smoke, svc):
    """A frame built from rows reports Long.MaxValue bytes; the service
    must still construct, keep (not raise) its partition count, and
    answer every request type as the parquet-backed service does."""
    src = files_df(spark, sf_smoke)
    created = spark.createDataFrame(src.collect(), src.schema)
    assert created._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() == 2**63 - 1
    other = sv.FileIndexService(created)
    try:
        assert other.files.rdd.getNumPartitions() <= created.rdd.getNumPartitions()
        search = sv.SearchRequest(filename_pattern="doc_%", offset=3, limit=20)
        a, b = svc.search(search), other.search(search)
        assert (b.rows, b.total_count, b.has_more) == (a.rows, a.total_count, a.has_more)
        for dup in (sv.DuplicatesRequest(offset=2, limit=5),
                    sv.DuplicatesRequest(filename_pattern="%.fr", limit=50)):
            a, b = svc.duplicates(dup), other.duplicates(dup)
            assert (b.groups, b.total_groups, b.total_wasted_space, b.has_more) == (
                a.groups, a.total_groups, a.total_wasted_space, a.has_more)
        a, b = svc.stats(), other.stats()
        assert b == {**a, "average_file_size": pytest.approx(a["average_file_size"])}
        a, b = svc.visualization(), other.visualization()
        for row in a["extension_stats"]:
            row["average_size"] = pytest.approx(row["average_size"])
        assert b == a
    finally:
        other.close()


def test_routes_through_testclient(spark, sf_smoke):
    """Full wiring when fastapi is present (absent in this container —
    the block then skips, exactly like create_app's import gate)."""
    pytest.importorskip("fastapi")
    from fastapi.testclient import TestClient

    app = sv.create_app(files_df(spark, sf_smoke))
    client = TestClient(app)

    r = client.get("/search/", params={"has_checksum": "true", "limit": 3})
    assert r.status_code == 200 and len(r.json()["files"]) <= 3

    r = client.post("/search/", json={"min_size": 100, "limit": 3})
    assert r.status_code == 200
    assert all(f["file_size"] >= 100 for f in r.json()["files"])

    r = client.post("/duplicates/", json={"min_group_size": 2, "limit": 2})
    assert r.status_code == 200 and "total_wasted_space" in r.json()
