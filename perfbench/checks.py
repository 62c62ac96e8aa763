"""Correctness checks, run outside the timed region.

Each check returns a list of problems (empty when the output is right);
a run counts an op as failed when any check on it reports one.

* index: the ``files`` table against the generator's manifest and the
  two-phase model, and the duplicates/stats report against groups and
  totals computed from the manifest;
* serve: sampled responses against DuckDB over the same parquet
  snapshot the service reads, using the registered DuckDB oracles for
  the stats and chart queries.
"""

from __future__ import annotations

import datetime as dt
import math
from urllib.parse import unquote, urlparse

from fixtures import Tree

UTC = dt.timezone.utc


def _epoch_micros(value: dt.datetime) -> int:
    if value.tzinfo is None:
        value = value.replace(tzinfo=UTC)
    delta = value - dt.datetime(1970, 1, 1, tzinfo=UTC)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


# -- index -----------------------------------------------------------------

def check_table(tree: Tree, rows) -> list[str]:
    """``rows``: (path, filename, checksum, modification_datetime,
    file_size) of the whole table. Rows, sizes and mtimes must equal the
    manifest; a checksum must be present exactly for the files the
    two-phase model hashed, and equal the sha256 of the content."""
    problems = []
    seen = set()
    for path, name, checksum, mtime, size in rows:
        key = (path, name)
        if key in seen:
            problems.append(f"duplicate row {path}/{name}")
            continue
        seen.add(key)
        e = tree.files.get(key)
        if e is None:
            problems.append(f"row for a file not on disk: {path}/{name}")
            continue
        if size != e.size or _epoch_micros(mtime) != e.mtime * 1_000_000:
            problems.append(f"{path}/{name}: size/mtime {size}/{mtime} != {e.size}/{e.mtime}")
        if e.hashed and checksum != e.sha256:
            problems.append(f"{path}/{name}: checksum {checksum} != {e.sha256}")
        if not e.hashed and checksum is not None:
            problems.append(f"{path}/{name}: checksum present but the file needs none")
    missing = len(tree.files.keys() - seen)
    if missing:
        problems.append(f"{missing} file(s) on disk have no row")
    return problems[:20]


def expected_groups(tree: Tree) -> dict[str, tuple[int, int, list]]:
    """checksum -> (file_size, file_count, sorted members) for every
    group of >= 2 hashed files with one content."""
    groups: dict[str, list] = {}
    for key, e in tree.files.items():
        if e.hashed:
            groups.setdefault(e.sha256, []).append((key, e.size))
    return {
        sha: (members[0][1], len(members), sorted(k for k, _ in members))
        for sha, members in groups.items()
        if len(members) >= 2
    }


def check_report(tree: Tree, groups, stats: dict) -> list[str]:
    """``groups``: collected ``duplicate_groups_nested`` rows; ``stats``:
    the ``database_stats`` row as a dict."""
    problems = []
    want = expected_groups(tree)
    got = {
        g["checksum"]: (g["file_size"], g["file_count"],
                        sorted((m["path"], m["filename"]) for m in g["files"]))
        for g in groups
    }
    if got != want:
        problems.append(f"duplicate groups differ: {len(got)} reported, {len(want)} expected")
    for g in groups:
        if g["wasted_space"] != g["file_size"] * (g["file_count"] - 1):
            problems.append(f"group {g['checksum']}: wasted_space {g['wasted_space']}")
            break
    hashed = [e for e in tree.files.values() if e.hashed]
    expect = {
        "total_files": len(tree.files),
        "total_size": tree.total_bytes(),
        "files_with_checksums": len(hashed),
        "unique_directories": len(tree.dirs()),
        "unique_checksums": len({e.sha256 for e in hashed}),
        "duplicate_groups": len(want),
        "duplicate_files": sum(c for _, c, _ in want.values()),
    }
    for k, v in expect.items():
        if stats.get(k) != v:
            problems.append(f"stats {k}: {stats.get(k)} != {v}")
    return problems


# -- serve -----------------------------------------------------------------

def _norm(value):
    if isinstance(value, dt.datetime):
        return _epoch_micros(value)
    if isinstance(value, float):
        return round(value, 6)
    return value


def _rows(records, cols) -> list[tuple]:
    return [tuple(_norm(r[c]) for c in cols) for r in records]


def _close(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class ServeOracle:
    """DuckDB over the parquet files of the served snapshot."""

    SEARCH_COLS = ("path", "filename", "checksum", "modification_datetime",
                   "file_size", "indexed_at")

    def __init__(self, parquet_files: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        files = ", ".join("'" + p.replace("'", "''") + "'" for p in parquet_files)
        self.con.execute(f"CREATE VIEW files AS SELECT * FROM read_parquet([{files}])")

    def close(self) -> None:
        self.con.close()

    def _query(self, sql: str, params=()) -> list[dict]:
        cur = self.con.execute(sql, list(params))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, row)) for row in cur.fetchall()]

    @staticmethod
    def _search_where(req) -> tuple[str, list]:
        clauses, params = ["TRUE"], []
        if req.filename_pattern is not None:
            clauses.append("filename LIKE ?")
            params.append(req.filename_pattern)
        if req.path_pattern is not None:
            clauses.append("path LIKE ?")
            params.append(req.path_pattern)
        if req.has_checksum is True:
            clauses.append("checksum IS NOT NULL")
        elif req.has_checksum is False:
            clauses.append("checksum IS NULL")
        if req.min_file_size is not None:
            clauses.append("file_size >= ?")
            params.append(req.min_file_size)
        if req.max_file_size is not None:
            clauses.append("file_size <= ?")
            params.append(req.max_file_size)
        return " AND ".join(clauses), params

    def check_search(self, req, page) -> list[str]:
        where, params = self._search_where(req)
        total = self._query(f"SELECT COUNT(*) AS n FROM files WHERE {where}", params)[0]["n"]
        want = self._query(
            f"SELECT * FROM files WHERE {where} ORDER BY path, filename "
            f"LIMIT {req.limit} OFFSET {req.offset}", params)
        got = [r.asDict() for r in page.rows]
        problems = []
        if page.total_count != total:
            problems.append(f"search total_count {page.total_count} != {total}")
        if _rows(got, self.SEARCH_COLS) != _rows(want, self.SEARCH_COLS):
            problems.append(f"search page differs ({len(got)} vs {len(want)} rows)")
        if page.has_more != (req.offset + len(want) < total):
            problems.append("search has_more differs")
        return problems

    def check_duplicates(self, req, resp) -> list[str]:
        base, params = "checksum IS NOT NULL", []
        if req.min_file_size is not None:
            base += " AND file_size >= ?"
            params.append(req.min_file_size)
        if req.max_file_size is not None:
            base += " AND file_size <= ?"
            params.append(req.max_file_size)
        scope = f"SELECT * FROM files WHERE {base}"
        if req.filename_pattern is not None or req.path_pattern is not None:
            match = base
            if req.filename_pattern is not None:
                match += " AND filename LIKE ?"
                params.append(req.filename_pattern)
            if req.path_pattern is not None:
                match += " AND path LIKE ?"
                params.append(req.path_pattern)
            scope = (f"SELECT * FROM files WHERE checksum IS NOT NULL AND checksum IN "
                     f"(SELECT checksum FROM files WHERE {match})")
        groups = (
            f"SELECT checksum, file_size, COUNT(*) AS file_count, "
            f"list_sort(list([path, filename])) AS members, "
            f"file_size * (COUNT(*) - 1) AS wasted_space "
            f"FROM ({scope}) GROUP BY checksum, file_size "
            f"HAVING COUNT(*) >= {req.min_group_size}"
        )
        agg = self._query(
            f"SELECT COUNT(*) AS n, CAST(COALESCE(SUM(wasted_space), 0) AS BIGINT) AS w "
            f"FROM ({groups})", params)[0]
        want = self._query(
            f"{groups} ORDER BY file_count DESC, file_size DESC, checksum "
            f"LIMIT {req.limit} OFFSET {req.offset}", params)
        problems = []
        if resp.total_groups != agg["n"] or resp.total_wasted_space != agg["w"]:
            problems.append(f"duplicates totals {resp.total_groups}/{resp.total_wasted_space} "
                            f"!= {agg['n']}/{agg['w']}")
        got = [(g["checksum"], g["file_size"], g["file_count"], g["wasted_space"],
                [[m["path"], m["filename"]] for m in g["files"]]) for g in resp.groups]
        exp = [(w["checksum"], w["file_size"], w["file_count"], w["wasted_space"],
                [list(m) for m in w["members"]]) for w in want]
        if got != exp:
            problems.append(f"duplicates page differs ({len(got)} vs {len(exp)} groups)")
        return problems

    def _oracle(self, name: str) -> list[dict]:
        """A registered oracle with its ``files`` CTE pointed at the snapshot."""
        from file_indexer_spark.registry import ORACLES
        from file_indexer_spark.tables import FILES_CTE

        sql = ORACLES[name]
        if FILES_CTE not in sql:
            raise ValueError(f"oracle {name} does not use the files CTE")
        return self._query(sql.replace(FILES_CTE, "files_snapshot AS (SELECT 1)"))

    def check_stats(self, got: dict) -> list[str]:
        want = self._oracle("a1_database_stats")[0]
        cols = sorted(want)
        if not _close(_rows([got], cols), _rows([want], cols)):
            return [f"stats differ: {got} vs {want}"]
        return []

    def check_visualization(self, got: dict) -> list[str]:
        problems = []
        parts = {
            "size_distribution": ("a9_size_histogram", ("size_range", "count", "total_size")),
            "extension_stats": ("a10_extension_stats",
                                ("extension", "count", "total_size", "average_size")),
            "modification_timeline": ("a11_modification_timeline",
                                      ("month", "count", "total_size")),
        }
        for key, (oracle, cols) in parts.items():
            want = self._oracle(oracle)
            rows = got[key]
            if key == "modification_timeline":
                rows = [{**r, "month": dt.datetime.fromisoformat(r["month"])} for r in rows]
            if not _close(_rows(rows, cols), _rows(want, cols)):
                problems.append(f"visualization {key} differs")
        return problems


def parquet_files(df) -> list[str]:
    """Local paths of the parquet files a DataFrame scans."""
    return [unquote(urlparse(p).path) for p in df.inputFiles()]
