"""Test-table catalog and the canonical ``files`` derivation.

The driver materializes TPC-H-ish parquet tables (region nation customer
supplier part orders lineitem events documents embeddings) at
``/root/testdata/sf*/``. The reference engine's fact table is ``files``
(schema at reference ``file_indexer/indexer.py:91-101``):

    files(path STRING, filename STRING, checksum STRING NULL,
          modification_datetime TIMESTAMP, file_size BIGINT,
          indexed_at TIMESTAMP)  -- PK (path, filename)

To exercise every reference query shape against the driver's tables, we
derive a deterministic ``files`` table from ``documents`` — the SAME
derivation is expressed here as a DataFrame program (Spark) and as a
DuckDB CTE (oracle), so results hash-match:

  * path       = '/' || source                  (20 "directories")
  * filename   = 'doc_' || doc_id || '.' || lang (gives extensions)
  * checksum   = md5(n_chars || ':' || lang), NULL when n_chars > 500
                 (models the reference's "too large to checksum" NULL,
                 indexer.py:158-175, and yields real duplicate groups:
                 same (n_chars, lang) => same checksum)
  * file_size  = n_chars
  * modification_datetime = 2024-01-01 + (doc_id % 400) days
                 (spans >12 months for the timeline query)
  * indexed_at = constant 2025-06-01

Same-size-different-checksum rows exist (same n_chars, different lang),
which the two-phase work-selection query (A7) must hash but duplicate
detection must NOT report — the semantics the reference's regression
test locks down (tests/test_script_checksum_validation.py:80-115).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# NULL-checksum threshold: models max_checksum_size (reference cli.py:69-70).
CHECKSUM_SIZE_CAP = 500
# Fixed "now" so the 12-month timeline window (reference database.py:523)
# is deterministic for the oracle diff.
FIXED_NOW = "2025-06-01 00:00:00"
MTIME_EPOCH = "2024-01-01 00:00:00"
MTIME_SPAN_DAYS = 400


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` as a usable timestamp type.

    Handles both generations of the driver's events parquet: a
    TIMESTAMP(NANOS) column surfaces as nanosecond longs (via
    ``spark.sql.legacy.parquet.nanosAsLong``, set in ``tune_session``)
    and is truncated to microseconds exactly as DuckDB's TIMESTAMP_NS →
    TIMESTAMP cast does; a TIMESTAMP(MICROS)-without-timezone column
    loads directly as TIMESTAMP_NTZ, which every downstream operator
    accepts (interval arithmetic / timestampdiff, never unix_micros).
    """
    df = load_table(spark, sf_dir, "events")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def files_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical ``files`` fact table, derived from ``documents``.

    Only (doc_id, source, lang, n_chars) are touched — Catalyst prunes
    the wide ``text`` column out of the parquet scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("/"), F.col("source")).alias("path"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit("."), F.col("lang")).alias("filename"),
        F.when(F.col("n_chars") > CHECKSUM_SIZE_CAP, F.lit(None).cast("string"))
        .otherwise(F.md5(F.concat(F.col("n_chars").cast("string"), F.lit(":"), F.col("lang"))))
        .alias("checksum"),
        F.expr(
            f"timestamp'{MTIME_EPOCH}' + make_interval(0, 0, 0, cast(doc_id % {MTIME_SPAN_DAYS} as int), 0, 0, 0)"
        ).alias("modification_datetime"),
        F.col("n_chars").cast("long").alias("file_size"),
        F.expr(f"timestamp'{FIXED_NOW}'").alias("indexed_at"),
    )


# DuckDB rendition of the identical derivation, for oracle SQL.
FILES_CTE = f"""
files AS (
    SELECT
        '/' || source AS path,
        'doc_' || CAST(doc_id AS VARCHAR) || '.' || lang AS filename,
        CASE WHEN n_chars > {CHECKSUM_SIZE_CAP} THEN NULL
             ELSE md5(CAST(n_chars AS VARCHAR) || ':' || lang) END AS checksum,
        TIMESTAMP '{MTIME_EPOCH}' + CAST(doc_id % {MTIME_SPAN_DAYS} AS INTEGER) * INTERVAL 1 DAY
            AS modification_datetime,
        CAST(n_chars AS BIGINT) AS file_size,
        TIMESTAMP '{FIXED_NOW}' AS indexed_at
    FROM documents
)
"""


def with_files_cte(sql: str) -> str:
    """Prepend the canonical files CTE to a DuckDB query body."""
    return f"WITH {FILES_CTE} {sql}"
