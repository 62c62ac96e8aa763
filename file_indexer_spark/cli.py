"""Command-line entry point (reference file_indexer/cli.py:45-163,
__main__.py:5-8; size parsing cli.py:11-42, formatting utils.py:6-19).

``python -m file_indexer_spark <command>`` over a Parquet-backed files
table:

    index      <root> --db DIR [--two-phase] [--max-checksum-size SIZE]
    search     --db DIR [--filename PAT] [--path PAT] [--checksum HEX]
               [--has-checksum|--no-checksum]
    duplicates --db DIR [--min-group-size N]
    stats      --db DIR
    cleanup    --db DIR
    sql        --db DIR --sf-dir DIR "SELECT ..."
    warmup

Commands are thin wrappers over the engine modules; everything here is
argument plumbing and console formatting. ``warmup`` starts a session
and runs a tiny index and one request of each serving type; the first
session on a JDK + Spark install runs it in a child process whose JVM
dumps the driver's class-data-sharing archive (``session.get_spark``),
and running it by hand builds that archive ahead of time.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from pyspark.sql import SparkSession

_SIZE_UNITS = {"B": 1, "KB": 1024, "MB": 1024**2, "GB": 1024**3, "TB": 1024**4}


def parse_size(size_str: str) -> int:
    """'100MB' -> 104857600. Bare integers are bytes; units are the
    1024 ladder, case-insensitive, optional whitespace. Negative values
    pass through (they mean 'never checksum')."""
    s = size_str.strip().upper()
    m = re.fullmatch(r"(-?\d+(?:\.\d+)?)\s*([KMGT]?B)?", s)
    if not m:
        raise ValueError(f"invalid size: {size_str!r}")
    value = float(m.group(1))
    unit = m.group(2) or "B"
    return int(value * _SIZE_UNITS[unit])


def format_size(num_bytes: int) -> str:
    """Bytes -> human string on the 1024 ladder (B..PB), 1 decimal."""
    size = float(num_bytes)
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if abs(size) < 1024.0:
            return f"{size:.1f} {unit}"
        size /= 1024.0
    return f"{size:.1f} PB"


def _build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="file_indexer_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    def add_db(p: argparse.ArgumentParser) -> None:
        p.add_argument("--db", required=True, help="files-table directory (parquet)")

    p_index = sub.add_parser("index", help="scan a tree into the files table")
    p_index.add_argument("root")
    add_db(p_index)
    p_index.add_argument("--two-phase", action="store_true")
    p_index.add_argument("--max-checksum-size", default="100MB",
                         help="size cap for hashing; 0 = no limit; negative = never hash")
    p_index.add_argument("--no-skip-empty", action="store_true")
    p_index.add_argument("--algorithm", default="sha256")
    p_index.add_argument("--no-recursive", action="store_true")

    p_search = sub.add_parser("search", help="search the files table")
    add_db(p_search)
    p_search.add_argument("--filename")
    p_search.add_argument("--path")
    # one checksum dimension per query: an exact value contradicts
    # --no-checksum (and subsumes --has-checksum), so argparse rejects
    # the combinations instead of silently matching nothing
    checks = p_search.add_mutually_exclusive_group()
    checks.add_argument("--checksum",
                        help="exact checksum match (reference --search-checksum)")
    checks.add_argument("--has-checksum", action="store_true")
    checks.add_argument("--no-checksum", action="store_true")
    p_search.add_argument("--limit", type=int, default=100)

    p_dup = sub.add_parser("duplicates", help="report duplicate files")
    add_db(p_dup)
    p_dup.add_argument("--min-group-size", type=int, default=2)

    p_stats = sub.add_parser("stats", help="database statistics")
    add_db(p_stats)

    p_clean = sub.add_parser("cleanup", help="drop rows for deleted files/dirs")
    add_db(p_clean)

    p_sql = sub.add_parser("sql", help="raw SQL over the catalog views")
    add_db(p_sql)
    p_sql.add_argument("--sf-dir", default=None, help="test-table dir to register as views")
    p_sql.add_argument("query")

    p_warm = sub.add_parser("warmup", help="run a tiny index and one request of each serving type")
    # where the JVM dumps its classes at exit; passed by get_spark's archive build
    p_warm.add_argument("dump_archive", nargs="?", help=argparse.SUPPRESS)

    return parser


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = _build_parser().parse_args(argv)
    own_spark = spark is None
    if own_spark:
        from file_indexer_spark.session import get_spark, stop_jvm

        if args.command == "warmup":
            spark = get_spark("file_indexer_spark_warmup", shuffle_partitions=2, cpus=2,
                              dump_archive=args.dump_archive)
        else:
            spark = get_spark("file_indexer_spark_cli")
    try:
        return _dispatch(args, spark)
    finally:
        if own_spark and args.command == "warmup":
            stop_jvm(spark)  # a dumping JVM writes its archive on the way out
        elif own_spark:
            spark.stop()


def _warmup(spark: SparkSession) -> int:
    """Index a 12-file tree, report on it, probe it for cleanup and serve
    one search, duplicates, stats and visualization request from it."""
    import tempfile

    from file_indexer_spark.indexer.cleanup import probe_deleted_files
    from file_indexer_spark.indexer.files_table import FilesTable
    from file_indexer_spark.indexer.two_phase import two_phase_index
    from file_indexer_spark.operators.duplicates import duplicate_groups_nested
    from file_indexer_spark.operators.stats import database_stats
    from file_indexer_spark.serving import DuplicatesRequest, FileIndexService, SearchRequest

    with tempfile.TemporaryDirectory(prefix="fis-warmup-") as work:
        root = os.path.join(work, "tree")
        for d in range(3):
            os.makedirs(os.path.join(root, f"d{d}"))
            for f in range(4):
                with open(os.path.join(root, f"d{d}", f"f{f}.txt"), "w") as fh:
                    fh.write("same" if f < 2 else f"{d}-{f}" * (f + 1))
        table = FilesTable(spark, os.path.join(work, "files_db"))
        stats = two_phase_index(spark, table, root)
        duplicate_groups_nested(table.read()).collect()
        database_stats(table.read()).collect()
        probe_deleted_files(table).count()
        service = FileIndexService(table.read(), source_path=table.location)
        service.search(SearchRequest(filename_pattern="%.txt"))
        service.duplicates(DuplicatesRequest())
        service.stats()
        service.visualization()
        service.files.unpersist()
    print(f"warmup: {stats.files_inserted} files indexed, 4 requests served")
    return 0


def _dispatch(args: argparse.Namespace, spark: SparkSession) -> int:
    from file_indexer_spark.indexer.files_table import FilesTable

    if args.command == "warmup":
        return _warmup(spark)

    table = FilesTable(spark, args.db)

    if args.command == "index":
        from file_indexer_spark.indexer.two_phase import two_phase_index, update_index

        kwargs = dict(
            recursive=not args.no_recursive,
            max_checksum_size=parse_size(args.max_checksum_size),
            skip_empty_files=not args.no_skip_empty,
            algorithm=args.algorithm,
        )
        fn = two_phase_index if args.two_phase else update_index
        stats = fn(spark, table, args.root, **kwargs)
        # Go-parity index_metadata (database.go:47-50): root + timestamp
        import datetime as _dt

        from file_indexer_spark.indexer.metadata import (
            KEY_INDEXED_AT,
            KEY_ROOT_PATH,
            IndexMetadata,
        )

        IndexMetadata(spark, args.db + "_meta").set_many(
            {
                KEY_ROOT_PATH: os.path.abspath(args.root),
                KEY_INDEXED_AT: _dt.datetime.now(_dt.timezone.utc).isoformat(),
            }
        )
        print(
            f"indexed: {stats.files_inserted} new, {stats.files_updated} updated, "
            f"{stats.files_unchanged} unchanged, "
            f"{stats.checksums_calculated} checksums calculated, "
            f"{stats.checksums_reused} reused"
        )
        return 0

    if args.command == "search":
        from file_indexer_spark.operators.search import search_files

        has_checksum = True if args.has_checksum else (False if args.no_checksum else None)
        rows = search_files(
            table.read(),
            filename_pattern=args.filename,
            path_pattern=args.path,
            checksum=args.checksum,
            has_checksum=has_checksum,
            limit=args.limit,
        ).collect()
        for r in rows:
            mark = r["checksum"][:12] if r["checksum"] else "-"
            print(f"{r['path']}/{r['filename']}\t{format_size(r['file_size'])}\t{mark}")
        print(f"{len(rows)} file(s)")
        return 0

    if args.command == "duplicates":
        from file_indexer_spark.operators.duplicates import duplicate_groups_nested

        groups = duplicate_groups_nested(table.read(), args.min_group_size).collect()
        total_wasted = 0
        for g in groups:
            total_wasted += g["wasted_space"]
            members = ", ".join(f"{m['path']}/{m['filename']}" for m in g["files"])
            print(
                f"checksum {g['checksum'][:12]}  x{g['file_count']}  "
                f"{format_size(g['file_size'])} each  [{members}]"
            )
        print(f"{len(groups)} duplicate group(s), {format_size(total_wasted)} wasted")
        return 0

    if args.command == "stats":
        from file_indexer_spark.operators.stats import database_stats

        row = database_stats(table.read()).collect()[0]
        for k, v in row.asDict().items():
            if k in ("total_size", "average_file_size", "largest_file_size", "smallest_file_size"):
                v = format_size(int(v)) if v is not None else "-"
            print(f"{k}: {v}")
        return 0

    if args.command == "cleanup":
        from file_indexer_spark.indexer.cleanup import cleanup_empty_directories, probe_deleted_files

        stale = probe_deleted_files(table)
        n = stale.count()
        if n:
            table.delete(stale)
        n_dirs = cleanup_empty_directories(spark, table)
        print(f"removed {n} stale file row(s), {n_dirs} row(s) in vanished directories")
        return 0

    if args.command == "sql":
        from file_indexer_spark.sql import register_views, run_sql

        if args.sf_dir:
            register_views(spark, args.sf_dir, files=table.read() if table.exists() else None)
        elif table.exists():
            table.read().createOrReplaceTempView("files")
        run_sql(spark, args.query).show(100, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
