"""Serving-layer helpers: pagination contracts (reference O6,
api_backend/file_indexer_api/routers.py:74,132-134).

The API backend serves (page, total_count, has_more) triples; here the
same contract over any DataFrame, ordered by the caller's keys. The
page and its totals come from one action: the totals are observed
(``DataFrame.observe``) on the unordered rows the page is cut from, so
``total_count`` costs no job of its own, and the page itself is a
TakeOrderedAndProject — no full materialization.

``FileIndexService`` serves every request from its own cached copy of
the snapshot, sized by the table layer's split rule
(``files_table.one_split``): one partition when the snapshot fits
``spark.sql.files.maxPartitionBytes`` (128 MB by default). On one
partition the planner needs no exchange for any aggregate, so a search
or duplicates request is one Spark job.

A cached snapshot cannot change, so the service derives once what its
requests share. ``stats`` and ``visualization`` take no parameters:
each is computed on its first call (two jobs and one) and answered
from memory after that. ``duplicates`` reads a cached frame of the
*duplicated rows*: the rows whose non-NULL checksum at least two rows
share, found by a window count over ``checksum``, which plans no
exchange on a one-partition snapshot. The first ``duplicates`` request
fills it; adaptive execution runs each unfilled cache a plan reads as
a stage of its own, so that request takes a few jobs and every later
one takes one. The frame answers exactly as the whole snapshot would:
a group holds at least two rows of one checksum, and the frame keeps
every row of each checksum it keeps, so J3's per-checksum pattern flag
sees the same rows, including a copy at another size.
"""

from __future__ import annotations

import copy
import threading
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from file_indexer_spark.indexer.files_table import one_split
from file_indexer_spark.operators.duplicates import group_duplicates, group_order, scope_to_pattern
from file_indexer_spark.operators.search import search_matches, search_order
from file_indexer_spark.operators.stats import (
    database_stats,
    extension_stats,
    modification_timeline,
    size_histogram,
)

# ``coalesce`` to more partitions than a frame has keeps the ones it
# has; see ``observed_page`` for why the page query wants that no-op.
_KEEP_PARTITIONS = 2**31 - 1
# Spark holds a page's ``offset + limit`` in a 32-bit int.
_MAX_PAGE_END = 2**31 - 1


@dataclass
class Page:
    rows: list
    total_count: int
    limit: int
    offset: int
    has_more: bool


def observed_page(
    df: DataFrame, order_by: list, limit: int, offset: int = 0, **totals: Column
) -> tuple[DataFrame, Observation]:
    """The page query and the observation that holds ``totals``
    (aggregates over all of ``df``) once the page has been collected.

    The observation sits below the page's sort, and a no-op coalesce
    between them hides any ordering ``df`` already has: over an input
    sorted on the page keys the top-K would otherwise read only
    ``offset + limit`` rows and the totals would count just those."""
    if limit < 1 or offset < 0:
        raise ValueError("limit must be >= 1 and offset >= 0")
    if offset + limit > _MAX_PAGE_END:
        raise ValueError(f"offset + limit must be <= {_MAX_PAGE_END}")
    obs = Observation()
    page = (
        df.observe(obs, *(agg.alias(name) for name, agg in totals.items()))
        .coalesce(_KEEP_PARTITIONS)
        .orderBy(*order_by)
    )
    if offset:
        page = page.offset(offset)
    return page.limit(limit), obs


def paginate(df: DataFrame, order_by: list, limit: int, offset: int = 0) -> Page:
    """Stable page + has_more flag (offset + len(page) < total), one job."""
    page, obs = observed_page(df, order_by, limit, offset, total_count=F.count(F.lit(1)))
    rows = page.collect()
    total = obs.get["total_count"]
    return Page(
        rows=rows,
        total_count=total,
        limit=limit,
        offset=offset,
        has_more=offset + len(rows) < total,
    )


def _duplicated_rows(files: DataFrame) -> DataFrame:
    """The rows of ``files`` whose non-NULL checksum at least two rows share."""
    copies = F.count(F.lit(1)).over(Window.partitionBy("checksum"))
    return (
        files.filter(F.col("checksum").isNotNull())
        .withColumn("_copies", copies)
        .filter(F.col("_copies") > 1)
        .drop("_copies")
    )


# --------------------------------------------------------------------
# API-backend service contracts (reference api_backend/file_indexer_api:
# routers.py:121-184 duplicates, :28-118 search; models.py:61-100).
# Framework-free: the service layer returns plain dataclasses a FastAPI
# (or any) frontend can serialize 1:1; ``create_app`` wires it up when
# fastapi is installed (not shipped in this container).


@dataclass
class SearchRequest:
    """models.py:24-58 — validated query surface (limit 1..10000,
    models.py:45-47)."""

    filename_pattern: str | None = None
    path_pattern: str | None = None
    checksum: str | None = None
    has_checksum: bool | None = None
    min_file_size: int | None = None
    max_file_size: int | None = None
    modified_after: object | None = None
    modified_before: object | None = None
    limit: int = 100
    offset: int = 0

    def __post_init__(self):
        if not 1 <= self.limit <= 10000:
            raise ValueError("limit must be in 1..10000")
        if self.offset < 0:
            raise ValueError("offset must be >= 0")


@dataclass
class DuplicatesRequest:
    """models.py:61-88 — limit 1..1000, min_group_size >= 2, optional
    size bounds (models.py:69-74)."""

    min_group_size: int = 2
    min_file_size: int | None = None
    max_file_size: int | None = None
    filename_pattern: str | None = None
    path_pattern: str | None = None
    limit: int = 100
    offset: int = 0

    def __post_init__(self):
        if not 1 <= self.limit <= 1000:
            raise ValueError("limit must be in 1..1000")
        if self.min_group_size < 2:
            raise ValueError("min_group_size must be >= 2")
        if self.offset < 0:
            raise ValueError("offset must be >= 0")
        for bound in (self.min_file_size, self.max_file_size):
            if bound is not None and bound < 0:
                raise ValueError("file size bounds must be >= 0")


@dataclass
class DuplicatesResponse:
    """routers.py:121-145 — groups page + aggregate fields."""

    groups: list
    total_groups: int
    total_wasted_space: int
    limit: int
    offset: int
    has_more: bool


API_VERSION = "0.1.0"  # reference main.py:80, routers.py:46


class FileIndexService:
    """Read-side service over a ``files`` DataFrame: an immutable
    snapshot makes concurrent reads safe, the reference's
    read-only-connection trick for free.

    The service also keeps the state its requests share: the ``stats``
    and ``visualization`` answers, each computed at most once, and the
    cached duplicated-rows frame that ``duplicates`` reads (see the
    module docstring). ``close`` releases the cached frames."""

    def __init__(self, files: DataFrame, source_path: str | None = None):
        # The service keeps its own copy of the snapshot, sized by bytes
        # (see one_split) and cached, so that each request after the
        # first reads memory, not parquet, in a plan with no exchange.
        self.files = one_split(files).cache()
        self._duplicated = _duplicated_rows(self.files).cache()
        self._memo: dict = {}
        # one lock per answer: a first stats call never waits on a
        # first visualization call
        self._locks = {name: threading.Lock() for name in ("stats", "visualization")}
        # reference HealthCheck.database_path (models.py:158) — the
        # backing store's path; None is valid (in-memory snapshot)
        self.source_path = source_path

    def _memoized(self, name: str, compute):
        """``compute()``, run at most once per service; each caller gets
        its own copy, free to mutate."""
        with self._locks[name]:
            if name not in self._memo:
                self._memo[name] = compute()
        return copy.deepcopy(self._memo[name])

    def close(self) -> None:
        """Drop the cached frames (the duplicated rows first: they are
        read from the snapshot's cache)."""
        self._duplicated.unpersist()
        self.files.unpersist()

    def search(self, req: SearchRequest) -> Page:
        matches = search_matches(
            self.files,
            filename_pattern=req.filename_pattern,
            path_pattern=req.path_pattern,
            checksum=req.checksum,
            has_checksum=req.has_checksum,
            min_file_size=req.min_file_size,
            max_file_size=req.max_file_size,
            modified_after=req.modified_after,
            modified_before=req.modified_before,
        )
        return paginate(matches, search_order(), req.limit, req.offset)

    def duplicates(self, req: DuplicatesRequest) -> DuplicatesResponse:
        base = scope_to_pattern(
            self._duplicated,
            req.filename_pattern,
            req.path_pattern,
            req.min_file_size,
            req.max_file_size,
        )
        # both totals describe the SAME group set the page is cut from
        # (min_group_size respected), not all size-2 groups
        page, obs = observed_page(
            group_duplicates(base, req.min_group_size),
            group_order(),
            req.limit,
            req.offset,
            total_groups=F.count(F.lit(1)),
            total_wasted_space=F.coalesce(F.sum("wasted_space"), F.lit(0)),
        )
        rows = page.collect()
        totals = obs.get
        return DuplicatesResponse(
            groups=rows,
            total_groups=totals["total_groups"],
            total_wasted_space=totals["total_wasted_space"],
            limit=req.limit,
            offset=req.offset,
            has_more=req.offset + len(rows) < totals["total_groups"],
        )

    def stats(self) -> dict:
        return self._memoized("stats", lambda: database_stats(self.files).collect()[0].asDict())

    def visualization(self) -> dict:
        """The three chart tables the reference serves in one response
        (routers.py:204-215, database.py:459-550, models.py:147-152):
        size distribution bands, extension top-20, monthly timeline —
        the registered a9/a10/a11 operators, collected as one job."""
        return self._memoized("visualization", self._charts)

    def _charts(self) -> dict:
        rows = chart_rows(self.files).collect()
        out = {}
        for chart, (_, columns, order) in _CHARTS.items():
            out[chart] = sorted(
                ({c: r[c] for c in columns} for r in rows if r["chart"] == chart), key=order
            )
        for r in out["modification_timeline"]:
            r["month"] = r["month"].isoformat() if r["month"] else None
        return out

    def health(self) -> dict:
        """Health contract (reference routers.py:36-57, models.py:155-159):
        status + connectivity + file count. 'Connected' here means the
        snapshot is queryable — the count doubles as the probe."""
        try:
            n = int(self.files.count())
            return {
                "status": "healthy",
                "database_connected": True,
                "database_path": self.source_path,
                "total_files": n,
                "api_version": API_VERSION,
            }
        except Exception:  # noqa: BLE001 - any failure = unhealthy, never raise
            return {
                "status": "unhealthy",
                "database_connected": False,
                "database_path": self.source_path,
                "total_files": 0,
                "api_version": API_VERSION,
            }


# chart -> (its registered operator, its columns, the order the response
# lists its rows in: the operator's ORDER BY, NULLs first)
_CHARTS = {
    "size_distribution": (
        size_histogram,
        ("size_range", "sort_order", "count", "total_size"),
        lambda r: r["sort_order"],
    ),
    "extension_stats": (
        extension_stats,
        ("extension", "count", "total_size", "average_size"),
        lambda r: (-r["count"], r["extension"] is not None, r["extension"]),
    ),
    "modification_timeline": (
        modification_timeline,
        ("month", "count", "total_size"),
        lambda r: r["month"],
    ),
}


def chart_rows(files: DataFrame) -> DataFrame:
    """The a9/a10/a11 chart tables as tagged branches (``chart``) of one
    frame, so one action computes all three; a10 keeps its top-20 limit
    here, and the driver splits and orders the few rows."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        (op(files).withColumn("chart", F.lit(name)) for name, (op, _, _) in _CHARTS.items()),
    )


# ---- route-layer request/response mapping (framework-free, tested
# ---- without fastapi; create_app below is only the wiring)

def search_request_from_query(
    filename_pattern: str | None = None,
    path_pattern: str | None = None,
    checksum: str | None = None,
    has_checksum: bool | None = None,
    min_size: int | None = None,
    max_size: int | None = None,
    limit: int = 100,
    offset: int = 0,
) -> SearchRequest:
    """GET /search/ param surface (reference routers.py:85-119):
    min_size/max_size map onto the model's file-size bounds; the GET
    route passes no modification bounds (parity — the reference GET
    hardcodes modified_after=None, routers.py:112-113)."""
    return SearchRequest(
        filename_pattern=filename_pattern,
        path_pattern=path_pattern,
        checksum=checksum,
        has_checksum=has_checksum,
        min_file_size=min_size,
        max_file_size=max_size,
        limit=limit,
        offset=offset,
    )


def _known_fields(cls, data: dict) -> dict:
    """Drop unknown body keys — the reference's pydantic models ignore
    extras by default, so a stray field must not surface as a 500."""
    import dataclasses

    names = {f.name for f in dataclasses.fields(cls)}
    return {k: v for k, v in data.items() if k in names}


def search_request_from_body(body: dict) -> SearchRequest:
    """POST /search/ body → SearchRequest (reference routers.py:64-80
    accepts the full model). The reference model's min_size/max_size
    names are accepted as aliases; modified_after/before arrive as
    ISO-8601 strings; unknown fields are dropped (pydantic parity)."""
    import datetime as _dt

    data = dict(body)
    if "min_size" in data:
        data["min_file_size"] = data.pop("min_size")
    if "max_size" in data:
        data["max_file_size"] = data.pop("max_size")
    for key in ("modified_after", "modified_before"):
        if isinstance(data.get(key), str):
            data[key] = _dt.datetime.fromisoformat(data[key])
    return SearchRequest(**_known_fields(SearchRequest, data))


def duplicates_request_from_body(body: dict) -> DuplicatesRequest:
    """POST /duplicates/ body → DuplicatesRequest (routers.py:121-145);
    unknown fields are dropped (pydantic parity)."""
    return DuplicatesRequest(**_known_fields(DuplicatesRequest, dict(body)))


def search_response_dict(page: Page) -> dict:
    return {
        "files": [r.asDict() for r in page.rows],
        "total_count": page.total_count,
        "has_more": page.has_more,
    }


def duplicates_response_dict(resp: DuplicatesResponse) -> dict:
    """Reference DuplicatesResponse parity (models.py:103-110): the
    groups page under the ``duplicate_groups`` key plus
    ``total_duplicate_files`` — the sum of the page groups' file
    counts, exactly the reference's routers.py:132 arithmetic."""
    # recursive=True: each group carries a nested files array of Rows,
    # which a JSON layer cannot serialize un-flattened
    groups = [r.asDict(recursive=True) for r in resp.groups]
    return {
        "duplicate_groups": groups,
        "total_groups": resp.total_groups,
        "total_duplicate_files": sum(g["file_count"] for g in groups),
        "total_wasted_space": resp.total_wasted_space,
        "has_more": resp.has_more,
    }


def create_app(files: DataFrame):  # pragma: no cover - fastapi not shipped
    """FastAPI wiring (reference main.py:77-100) — import-gated; the
    service layer + mapping helpers above are the tested surface."""
    try:
        from fastapi import FastAPI
    except ImportError as exc:
        raise NotImplementedError(
            "fastapi is not installed in this environment; "
            "use FileIndexService directly"
        ) from exc
    app = FastAPI(title="file_indexer_spark")
    svc = FileIndexService(files)

    @app.get("/search/")
    def search(filename_pattern: str | None = None, path_pattern: str | None = None,
               checksum: str | None = None, has_checksum: bool | None = None,
               min_size: int | None = None, max_size: int | None = None,
               limit: int = 100, offset: int = 0):
        req = search_request_from_query(
            filename_pattern=filename_pattern, path_pattern=path_pattern,
            checksum=checksum, has_checksum=has_checksum,
            min_size=min_size, max_size=max_size, limit=limit, offset=offset)
        return search_response_dict(svc.search(req))

    @app.post("/search/")
    def search_post(body: dict):
        return search_response_dict(svc.search(search_request_from_body(body)))

    @app.get("/duplicates/")
    def duplicates(min_group_size: int = 2, limit: int = 100, offset: int = 0):
        resp = svc.duplicates(DuplicatesRequest(min_group_size=min_group_size,
                                                limit=limit, offset=offset))
        return duplicates_response_dict(resp)

    @app.post("/duplicates/")
    def duplicates_post(body: dict):
        resp = svc.duplicates(duplicates_request_from_body(body))
        return duplicates_response_dict(resp)

    @app.get("/stats/")
    def stats():
        return svc.stats()

    # reference serves visualization under the stats router prefix
    # (routers.py:188 prefix="/stats", :204 "/visualization") — register
    # the parity path plus the legacy root alias
    @app.get("/stats/visualization")
    @app.get("/visualization/")
    def visualization():
        return svc.visualization()

    @app.get("/health/")
    def health():
        return svc.health()

    return app
