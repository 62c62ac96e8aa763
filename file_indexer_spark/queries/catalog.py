"""Files catalog: the reference indexer's search (s/p), duplicate (d/j) and
statistics (a) queries over the files table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_indexer_spark.operators import duplicates as dup
from file_indexer_spark.operators import search as srch
from file_indexer_spark.operators import stats as st
from file_indexer_spark.registry_core import register
from file_indexer_spark.sql import register_views, run_sql
from file_indexer_spark.tables import files_df, load_table, with_files_cte


@register(
    "a1_database_stats",
    with_files_cte(
        """
        , basic AS (
            SELECT COUNT(*) AS total_files,
                   CAST(COALESCE(SUM(file_size), 0) AS BIGINT) AS total_size,
                   COUNT(checksum) AS files_with_checksums,
                   COUNT(*) - COUNT(checksum) AS files_without_checksums,
                   AVG(file_size) AS average_file_size,
                   MAX(file_size) AS largest_file_size,
                   MIN(file_size) AS smallest_file_size,
                   MAX(modification_datetime) AS most_recent_modification,
                   MIN(modification_datetime) AS oldest_modification,
                   COUNT(DISTINCT path) AS unique_directories,
                   COUNT(DISTINCT checksum) AS unique_checksums
            FROM files
        ),
        dups AS (
            SELECT COALESCE(COUNT(*), 0) AS duplicate_groups,
                   CAST(COALESCE(SUM(n), 0) AS BIGINT) AS duplicate_files
            FROM (
                SELECT checksum, COUNT(*) AS n FROM files
                WHERE checksum IS NOT NULL GROUP BY checksum HAVING COUNT(*) > 1
            ) g
        )
        SELECT * FROM basic CROSS JOIN dups
        """
    ),
)
def a1_database_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.database_stats(files_df(spark, sf_dir))


@register(
    "a7_phase2_work_selection",
    with_files_cte(
        """
        SELECT file_size, COUNT(*) AS file_count,
               CAST(SUM(CASE WHEN checksum IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_without_checksum
        FROM files
        WHERE file_size > 0
        GROUP BY file_size
        HAVING COUNT(*) > 1 AND SUM(CASE WHEN checksum IS NULL THEN 1 ELSE 0 END) > 0
        ORDER BY file_size
        """
    ),
)
def a7_phase2_work_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.phase2_work_selection(files_df(spark, sf_dir))


@register(
    "a7b_phase2_files_to_hash",
    with_files_cte(
        """
        , sizes AS (
            SELECT file_size FROM files WHERE file_size > 0
            GROUP BY file_size
            HAVING COUNT(*) > 1 AND SUM(CASE WHEN checksum IS NULL THEN 1 ELSE 0 END) > 0
        )
        SELECT path, filename, file_size FROM files
        WHERE checksum IS NULL AND file_size IN (SELECT file_size FROM sizes)
        ORDER BY path, filename
        """
    ),
)
def a7b_phase2_files_to_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.phase2_files_to_hash(files_df(spark, sf_dir))


@register(
    "a8_duplicate_stats",
    with_files_cte(
        """
        SELECT COALESCE(COUNT(*), 0) AS duplicate_groups,
               CAST(COALESCE(SUM(file_count), 0) AS BIGINT) AS duplicate_files
        FROM (
            SELECT checksum, COUNT(*) AS file_count FROM files
            WHERE checksum IS NOT NULL GROUP BY checksum HAVING COUNT(*) > 1
        ) g
        """
    ),
)
def a8_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.duplicate_stats(files_df(spark, sf_dir))


@register(
    "a9_size_histogram",
    with_files_cte(
        """
        SELECT size_range, sort_order, COUNT(*) AS count,
               CAST(SUM(file_size) AS BIGINT) AS total_size
        FROM (
            SELECT file_size,
                   CASE WHEN file_size = 0 THEN '0 bytes'
                        WHEN file_size < 1024 THEN '< 1KB'
                        WHEN file_size < 1048576 THEN '1KB - 1MB'
                        WHEN file_size < 1073741824 THEN '1MB - 1GB'
                        ELSE '> 1GB' END AS size_range,
                   CASE WHEN file_size = 0 THEN 1
                        WHEN file_size < 1024 THEN 2
                        WHEN file_size < 1048576 THEN 3
                        WHEN file_size < 1073741824 THEN 4
                        ELSE 5 END AS sort_order
            FROM files
        ) sub
        GROUP BY size_range, sort_order
        ORDER BY sort_order
        """
    ),
)
def a9_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.size_histogram(files_df(spark, sf_dir))


@register(
    "a10_extension_stats",
    with_files_cte(
        """
        SELECT extension, COUNT(*) AS count,
               CAST(SUM(file_size) AS BIGINT) AS total_size,
               AVG(file_size) AS average_size
        FROM (
            SELECT CASE WHEN filename LIKE '%.%'
                        THEN LOWER(regexp_extract(filename, '\\.([^.]*)$', 1))
                        ELSE '(no extension)' END AS extension,
                   file_size
            FROM files
        ) e
        GROUP BY extension
        ORDER BY count DESC, extension
        LIMIT 20
        """
    ),
)
def a10_extension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.extension_stats(files_df(spark, sf_dir))


@register(
    "a11_modification_timeline",
    with_files_cte(
        """
        SELECT CAST(DATE_TRUNC('month', modification_datetime) AS TIMESTAMP) AS month,
               COUNT(*) AS count,
               CAST(SUM(file_size) AS BIGINT) AS total_size
        FROM files
        WHERE modification_datetime >=
              CAST(CAST(TIMESTAMP '2025-06-01 00:00:00' AS DATE) - INTERVAL 12 MONTH AS TIMESTAMP)
        GROUP BY 1
        ORDER BY month
        """
    ),
)
def a11_modification_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return st.modification_timeline(files_df(spark, sf_dir))


@register(
    "a12_duplicate_groups_nested",
    with_files_cte(
        """
        SELECT checksum, file_size, COUNT(*) AS file_count,
               to_json(list(struct_pack(path := path, filename := filename)
                            ORDER BY path, filename)) AS files,
               file_size * (COUNT(*) - 1) AS wasted_space
        FROM files
        WHERE checksum IS NOT NULL
        GROUP BY checksum, file_size
        HAVING COUNT(*) >= 2
        ORDER BY file_count DESC, file_size DESC, checksum
        """
    ),
)
def a12_duplicate_groups_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The nested ArrayType(Struct) result stays available via
    # dup.duplicate_groups_nested; the gate-registered variant serializes
    # the sorted array to one deterministic JSON string per group so the
    # driver's canonicalizer can hash it (both engines emit compact
    # [{"path":...,"filename":...}] with identical key order).
    return dup.duplicate_groups_nested(files_df(spark, sf_dir)).withColumn(
        "files", F.to_json("files")
    )


@register(
    "a13_total_wasted_space",
    with_files_cte(
        """
        SELECT CAST(COALESCE(SUM(file_size * (file_count - 1)), 0) AS BIGINT) AS total_wasted_space
        FROM (
            SELECT checksum, file_size, COUNT(*) AS file_count FROM files
            WHERE checksum IS NOT NULL GROUP BY checksum, file_size HAVING COUNT(*) > 1
        ) g
        """
    ),
)
def a13_total_wasted_space(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.total_wasted_space(files_df(spark, sf_dir))


@register(
    "d5_duplicates_report",
    with_files_cte(
        """
        SELECT checksum, path, filename, file_size, file_count,
               CASE WHEN rn = 1 THEN 'ORIGINAL' ELSE 'DUPLICATE' END AS role,
               CASE WHEN rn = 1 THEN 0 ELSE file_size END AS wasted_space
        FROM (
            SELECT *,
                   COUNT(*) OVER (PARTITION BY checksum) AS file_count,
                   ROW_NUMBER() OVER (PARTITION BY checksum ORDER BY path, filename) AS rn
            FROM files WHERE checksum IS NOT NULL
        ) t
        WHERE file_count > 1
        ORDER BY checksum, path, filename
        """
    ),
)
def d5_duplicates_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.duplicates_report(files_df(spark, sf_dir))


@register(
    "j1_duplicate_files",
    with_files_cte(
        """
        SELECT checksum, path, filename, file_size, modification_datetime, indexed_at
        FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY checksum) AS group_count
            FROM files WHERE checksum IS NOT NULL
        ) t
        WHERE group_count > 1
        ORDER BY checksum, path, filename
        """
    ),
)
def j1_duplicate_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.duplicate_files(files_df(spark, sf_dir)).select(
        "checksum", "path", "filename", "file_size", "modification_datetime", "indexed_at"
    )


@register(
    "j2_duplicate_groups",
    with_files_cte(
        """
        , duplicate_checksums AS (
            SELECT checksum, file_size, COUNT(*) AS file_count
            FROM files
            WHERE checksum IS NOT NULL
            GROUP BY checksum, file_size
            HAVING COUNT(*) >= 2
            ORDER BY file_count DESC, file_size DESC, checksum
            LIMIT 100
        )
        SELECT f.checksum, f.file_size, dc.file_count, f.path, f.filename,
               f.modification_datetime, f.indexed_at
        FROM files f
        JOIN duplicate_checksums dc
          ON f.checksum = dc.checksum AND f.file_size = dc.file_size
        ORDER BY dc.file_count DESC, f.checksum, f.path, f.filename
        """
    ),
)
def j2_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.duplicate_groups(files_df(spark, sf_dir), min_group_size=2, limit=100)


@register(
    "j3_duplicate_groups_pattern",
    with_files_cte(
        """
        , target AS (
            SELECT DISTINCT checksum FROM files
            WHERE checksum IS NOT NULL AND filename LIKE '%.fr'
        ),
        scope AS (
            SELECT f.* FROM files f WHERE f.checksum IN (SELECT checksum FROM target)
        ),
        groups AS (
            SELECT checksum, file_size, COUNT(*) AS file_count
            FROM scope GROUP BY checksum, file_size HAVING COUNT(*) >= 2
        )
        SELECT s.checksum, s.file_size, g.file_count, s.path, s.filename,
               s.modification_datetime, s.indexed_at
        FROM scope s
        JOIN groups g ON s.checksum = g.checksum AND s.file_size = g.file_size
        ORDER BY g.file_count DESC, s.checksum, s.path, s.filename
        """
    ),
)
def j3_duplicate_groups_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup.duplicate_groups(files_df(spark, sf_dir), min_group_size=2, filename_pattern="%.fr")


@register(
    "p1_search_multidim",
    with_files_cte(
        """
        SELECT * FROM files
        WHERE filename LIKE '%.en'
          AND checksum IS NOT NULL
          AND file_size >= 100 AND file_size <= 450
          AND modification_datetime >= TIMESTAMP '2024-03-01 00:00:00'
        ORDER BY path, filename
        """
    ),
)
def p1_search_multidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srch.search_files(
        files_df(spark, sf_dir),
        filename_pattern="%.en",
        has_checksum=True,
        min_file_size=100,
        max_file_size=450,
        modified_after="2024-03-01 00:00:00",
    )


@register(
    "p2_search_recency_page",
    with_files_cte(
        """
        SELECT * FROM files
        WHERE path LIKE '/src1%'
        ORDER BY modification_datetime DESC, path, filename
        LIMIT 50 OFFSET 10
        """
    ),
)
def p2_search_recency_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srch.search_files(
        files_df(spark, sf_dir), path_pattern="/src1%", order_by_recency=True, limit=50, offset=10
    )


@register(
    "p3_search_ilike",
    with_files_cte(
        """
        SELECT * FROM files
        WHERE filename ILIKE '%DOC_1%' OR path ILIKE '%SRC2%'
        ORDER BY filename, path
        """
    ),
)
def p3_search_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = files_df(spark, sf_dir)
    return files.filter(
        F.col("filename").ilike("%DOC_1%") | F.col("path").ilike("%SRC2%")
    ).orderBy("filename", "path")


@register(
    "p5_point_lookup",
    with_files_cte("SELECT * FROM files WHERE path = '/src0' AND filename LIKE 'doc_0.%'"),
)
def p5_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = files_df(spark, sf_dir)
    return files.filter((F.col("path") == "/src0") & (F.col("filename").like("doc_0.%")))


# P6: batch PK probe. The probe batch is derived from a fixed doc_id set
# (langs vary per scale factor, so literal keys would not be portable)
# plus one key that matches nothing — the inner probe must drop it.
PROBE_DOC_IDS = (0, 7, 42, 99, 123, 456)


@register(
    "p6_batch_probe",
    with_files_cte(
        f"""
        , probe_keys AS (
            SELECT '/' || source AS path,
                   'doc_' || CAST(doc_id AS VARCHAR) || '.' || lang AS filename
            FROM documents WHERE doc_id IN {PROBE_DOC_IDS}
            UNION ALL SELECT '/nowhere', 'doc_x.yy'
        )
        SELECT f.* FROM files f JOIN probe_keys USING (path, filename)
        ORDER BY path, filename
        """
    ),
)
def p6_batch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk point-lookup: reference builds a 1000-pair row-value IN list
    (indexer.py:228-266); here the batch is a DataFrame broadcast-joined
    against the fact table — no literal-size limit, same semantics."""
    files = files_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isin(*PROBE_DOC_IDS))
    keys = docs.select(
        F.concat(F.lit("/"), F.col("source")).alias("path"),
        F.concat(
            F.lit("doc_"), F.col("doc_id").cast("string"), F.lit("."), F.col("lang")
        ).alias("filename"),
    ).unionAll(
        files.sparkSession.createDataFrame(
            [("/nowhere", "doc_x.yy")], "path string, filename string"
        )
    )
    return srch.batch_probe(files, keys).orderBy("path", "filename")


@register(
    "p7_keyset_page",
    with_files_cte(
        """
        SELECT * FROM files
        WHERE path > '/src2' OR (path = '/src2' AND filename > 'doc_10.en')
        ORDER BY path, filename LIMIT 40
        """
    ),
)
def p7_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return srch.keyset_page(
        files_df(spark, sf_dir), after_path="/src2", after_filename="doc_10.en", limit=40
    )


@register(
    "p7b_directory_page",
    with_files_cte(
        """
        SELECT DISTINCT path FROM files
        WHERE path > '/src1'
        ORDER BY path LIMIT 40
        """
    ),
)
def p7b_directory_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 directory variant (reference indexer.py:1329-1361): cursor-
    paged DISTINCT directories — the page source for empty-directory
    cleanup."""
    return srch.keyset_directory_page(
        files_df(spark, sf_dir), after_path="/src1", limit=40
    )


@register(
    "s5_files_scan",
    with_files_cte("SELECT * FROM files ORDER BY path, filename"),
)
def s5_files_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return files_df(spark, sf_dir).orderBy("path", "filename")


_S12_SQL = """
    SELECT path, COUNT(*) AS n_files,
           CAST(SUM(file_size) AS BIGINT) AS total_size,
           COUNT(checksum) AS with_checksum
    FROM files
    GROUP BY path
    ORDER BY path
"""


@register("s12_raw_sql", with_files_cte(_S12_SQL))
def s12_raw_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL passthrough: the SAME SQL text a user would type runs via
    spark.sql over the registered views (reference database.go:269-317)."""
    register_views(spark, sf_dir)
    return run_sql(spark, _S12_SQL)


# Ad-hoc ANALYTICS through the same passthrough: TPC-H-shaped queries
# over the driver's lineitem/orders/customer tables. The SQL text is
# dialect-neutral (identical string runs in Spark and the DuckDB
# oracle). Money math is exact-integer (cents / basis points) so
# aggregate hashes match bit-for-bit regardless of either engine's
# float summation order — the PLANS are the point: q1 is a pure
# partial-agg pipeline (shuffle carries 6 groups); q3 joins the dim
# tables with filters pushed into all three scans, and at scale the
# filtered customer side broadcasts.

_S12B_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@register("s12b_tpch_pricing", _S12B_SQL)
def s12b_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape via raw SQL: scan-filter-aggregate on the fact
    table; partial aggregation means the shuffle carries 6 group rows
    per mapper regardless of corpus size."""
    register_views(spark, sf_dir)
    return run_sql(spark, _S12B_SQL)


_S12C_SQL = """
    SELECT o_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_e4 DESC, o_orderkey
    LIMIT 10
"""


@register("s12c_tpch_top_orders", _S12C_SQL)
def s12c_tpch_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape via raw SQL: selective dim filter (1/5 of
    customers) joins fact tables; Catalyst pushes all three predicates
    into the scans and AQE picks broadcast for the filtered customer
    side; top-10 is TakeOrdered, not a full sort."""
    register_views(spark, sf_dir)
    return run_sql(spark, _S12C_SQL)
